package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract-consistency guards for the driver interface: misaligned
  * keys or duplicate/empty column names would silently zero the
  * driver's correctness report.
  */
class SparkEntrySpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** Output field names of every oracle-backed query, built once: a
    * query's construction runs eager work (kernels, loops, staging),
    * and both schema lints below read the same names.
    */
  private lazy val oracleFields: Map[String, Seq[String]] =
    SparkEntry.oracleSql.keySet.map(name =>
      name -> SparkEntry.queries(name)(spark, sf).schema.fieldNames.toSeq).toMap

  test("every oracle entry has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle SQL without a query: $missing")
  }

  test("entry() smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle-backed queries have unique, non-empty column names") {
    // analysis only (schema) — no jobs for the relational queries
    oracleFields.foreach { case (name, cols) =>
      assert(cols.forall(_.nonEmpty), s"$name has an empty column name")
      assert(cols.distinct.length == cols.length,
        s"$name has duplicate column names: ${cols.toSeq} (driver sorts by name before hashing)")
    }
  }

  test("oracle SQL never references columns Spark outputs under different names") {
    // heuristic: every alias in the SQL (AS x) must appear in the Spark schema
    val aliasRe = "(?i)\\bAS\\s+([a-z_][a-z0-9_]*)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val sparkCols = oracleFields(name).toSet
      val finalSelect = sql // aliases in subqueries may not surface; only check surfaced ones
      val aliased = aliasRe.findAllMatchIn(finalSelect).map(_.group(1).toLowerCase).toSet
      val surfaced = aliased.intersect(sparkCols.map(_.toLowerCase)) ++
        sparkCols.map(_.toLowerCase).diff(aliased)
      // every spark column must be either aliased in the SQL or a raw
      // source column name mentioned verbatim
      sparkCols.foreach { c =>
        assert(sql.toLowerCase.contains(c.toLowerCase),
          s"$name: Spark column '$c' never appears in its oracle SQL")
      }
    }
  }

  test("staged graph builds fail LOUDLY on a node-space collision") {
    import spark.implicits._
    // a fixture whose custkey crosses the 1e12 node-space offset would
    // silently fuse customer and supplier nodes — the staging guard
    // must reject it at build time, not alias it (round-11 ADVICE
    // class: the old 1e6/1e7 offsets collided from sf≈7 / sf≈2)
    val dir = tempDir("graft_collide_fixture").toString
    Seq((1L, 2000000000000L), (2L, 3L))
      .toDF("o_orderkey", "o_custkey")
      .write.parquet(s"$dir/orders.parquet")
    Seq((1L, 7L, 5.0, 11L), (2L, 8L, 3.0, 12L))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_pagerank")(spark, dir).collect()
    }
    assert(e.getMessage.contains("node spaces collide"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_pagerank_weighted")(spark, dir).collect()
    }
    assert(e2.getMessage.contains("node spaces collide"), e2.getMessage)
    // HITS guards on orderkey (its src space) via the staged table
    val dir2 = tempDir("graft_collide_fixture2").toString
    Seq((2000000000000L, 8L, 3.0, 12L))
      .toDF("l_orderkey", "l_suppkey", "l_quantity", "l_partkey")
      .write.parquet(s"$dir2/lineitem.parquet")
    val e3 = intercept[IllegalArgumentException] {
      SparkEntry.queries("q_graph_hits")(spark, dir2).collect()
    }
    assert(e3.getMessage.contains("node spaces collide"), e3.getMessage)
  }
}
