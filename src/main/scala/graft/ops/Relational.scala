package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf

/** Relational core of the engine: the set-based algorithms the reference
  * expresses via Snowflake SQL (MERGE, NOT-EXISTS-guarded insert, QUALIFY
  * dedup, unpivot/pivot), re-expressed as composable DataFrame transforms.
  *
  * Reference behaviors (cited file:line against
  * /root/reference/app/Auto-Magic Document AI.py = app,
  * /root/reference/database/setup_database.sql = setup):
  *  - MERGE upsert: app:188-194, app:548-554, app:920-926
  *  - NOT-EXISTS guarded insert: app:481-489, setup:129-142
  *  - QUALIFY ROW_NUMBER dedup-latest: app:717, app:735
  *  - dict->rows unpivot: app:531-538, app:868-875
  *  - dynamic conjunctive WHERE: app:662-674
  *
  * All operators are shuffle-aware: merges/dedups hash-partition on their
  * keys (one shuffle each), and the small side of every lookup join is
  * expected to be broadcast by Catalyst/AQE at real scale.
  */
object Relational {

  /** MERGE INTO target USING source ON keys: last-writer-wins upsert
    * (app:188-194). Set-based: any source cardinality, though the
    * reference only ever merges a single literal row. Equi-join on the
    * key columns only; source rows replace matching target rows wholesale.
    * A NULL key matches nothing: such target rows stay, such source rows
    * are inserted.
    *
    * Scale note: the anti-join shuffles both sides on the key columns
    * (or broadcasts the source when it is small); the union is
    * shuffle-free. A source that optimizes to a local relation of at
    * most one row — the reference's shape (J5) — needs neither the
    * dedup window nor the join: its key becomes a filter on the target,
    * and the merge is one shuffle-free scan plus the row.
    */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    source.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.length <= 1 =>
        val keep = l.data.headOption.fold(lit(true)) { row =>
          val values = keys.map { k =>
            val i = l.output.indexWhere(a => SQLConf.get.resolver(a.name, k))
            require(i >= 0, s"merge key $k missing from the source")
            Literal(row.get(i, l.output(i).dataType), l.output(i).dataType)
          }
          if (values.exists(_.value == null)) lit(true)
          else !coalesce(keys.zip(values).map { case (k, v) =>
            col(k) === ColumnBridge.column(v) }.reduce(_ && _), lit(false))
        }
        target.filter(keep).unionByName(source.select(target.columns.map(col): _*))
      case _ =>
        // Dedup source on keys (last-writer-wins needs one row per key; pick
        // deterministically by the remaining columns to keep tests stable).
        val ordCols = source.columns.filterNot(keys.contains).map(col)
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy((if (ordCols.nonEmpty) ordCols else Array(lit(1))).map(_.desc): _*)
        val dedupedSrc = source
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val aligned = dedupedSrc.select(target.columns.map(col): _*)
        target.join(dedupedSrc.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(aligned)
    }

  /** INSERT ... WHERE NOT EXISTS (app:481-489): append only the source
    * rows whose key is absent from the target. Idempotent.
    */
  def insertIfAbsent(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    target.unionByName(fresh.select(target.columns.map(col): _*))
  }

  /** QUALIFY ROW_NUMBER() OVER (PARTITION BY keys ORDER BY ord) = 1
    * (app:717): one row per key group, first by `ord`. Spark has no
    * QUALIFY; the canonical rewrite is window + filter. One shuffle on
    * `keys`; the sort is per-partition only.
    */
  def dedupFirst(df: DataFrame, keys: Seq[String], ord: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Snapshot diff (CDC between two table versions): one full-outer
    * join on the key, change classified with null-safe column
    * comparison — inserted (key only in `newDf`), deleted (only in
    * `oldDf`), updated (present in both, any non-key column differs
    * under `<=>`, so NULL transitions classify correctly). Unchanged
    * rows are dropped. Output: key columns + `change`.
    *
    * Scale shape: ONE hash exchange per side on the key (or zero with
    * both snapshots bucketed by the key — [[Bucketing]]); comparison
    * is codegen row-local. No row hashing, so no canonicalization/
    * collision semantics to reconcile across engines.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diff needs a key")
    require(oldDf.columns.sameElements(newDf.columns),
      "snapshots must share a schema")
    val compareCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    // presence markers ride the projections into the ONE full-outer
    // join (NULL values in compare columns can't signal presence, a
    // constant marker can) — no extra scans, no marker joins
    val o = oldDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"__o_$c")) :+
      lit(1).as("__in_old"): _*)
    val n = newDf.select(keyCols.map(col) ++
      compareCols.map(c => col(c).as(s"__n_$c")) :+
      lit(1).as("__in_new"): _*)
    val joined = o.join(n, keyCols, "full_outer")
    val allSame = compareCols.map(c => col(s"__o_$c") <=> col(s"__n_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    joined
      .withColumn("change",
        when(col("__in_old").isNull, "inserted")
          .when(col("__in_new").isNull, "deleted")
          .when(!allSame, "updated"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** SCD2 history build from a change log: per key, collapse
    * consecutive identical values (no-op changes compress away), then
    * derive each surviving version's validity interval —
    * `valid_from` = its change time, `valid_to` = the NEXT version's
    * change time (NULL while current). One key-partitioned window
    * pair on the same sort — a single exchange.
    */
  def scd2(changes: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol) +: tieBreak.map(col): _*)
    val compressed = changes
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      // keep each key's first row plus every genuine value change —
      // null-safe, so NULL-to-NULL is a no-op and NULL transitions
      // are real versions
      .filter(col("__rn") === 1 || !(col(valueCol) <=> col("__prev")))
      .drop("__prev", "__rn")
    compressed
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .drop(tsCol)
  }

  /** Dynamic conjunctive predicate builder (app:662-674). The reference
    * assembles `WHERE 1=1 AND ...` strings; the Column algebra needs no
    * `1=1` fallback or string surgery.
    */
  def conjunction(preds: Seq[Column]): Column =
    preds.reduceOption(_ && _).getOrElse(lit(true))

  /** Unpivot a MapType column into (key, value) rows — the dict->rows
    * flatten of app:531-538, expressed with the built-in explode
    * Generator (no custom UDTF).
    *
    * `explode_outer` + a null-key filter, because for a plain explode
    * InferFiltersFromGenerate pushes `size(m) > 0 AND isnotnull(m)`
    * below the projection with `m`'s defining expression substituted —
    * an AI UDF then runs three times per row. Map keys are never null,
    * so the filter drops exactly the rows a null or empty map padded in.
    */
  def unpivotMap(df: DataFrame, mapCol: String, keyName: String, valName: String): DataFrame =
    df.select(
      df.columns.filterNot(_ == mapCol).map(col) :+
        explode_outer(col(mapCol)).as(Seq(keyName, valName)): _*)
      .filter(col(keyName).isNotNull)

  /** Widen field rows into one row per id with a column per field name —
    * the dynamic-schema union of app:888-899 done set-based via pivot
    * (X3/X5). The pivot is the presentation edge; upstream state stays
    * MapType so 100 TB of drifting schemas never trigger DDL churn.
    */
  def widen(df: DataFrame, idCols: Seq[String], keyCol: String, valCol: String,
            knownKeys: Seq[String] = Nil): DataFrame = {
    val grouped = df.groupBy(idCols.map(col): _*)
    // explicit pivot values skip the extra distinct-values pass over the
    // input — at scale that pass would re-run everything upstream
    // (including AI extraction) a second time
    val pivoted = if (knownKeys.nonEmpty) grouped.pivot(keyCol, knownKeys)
                  else grouped.pivot(keyCol)
    pivoted.agg(first(col(valCol), ignoreNulls = true))
  }
}
