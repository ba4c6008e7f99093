package graft.tools

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.{Dedup, Similarity}

/** ScaleGen builds the sf1 bench inputs; the scale evidence in SCALE.md
  * rests on its two invariants, so they are pinned here on a tiny
  * source (sf0.001):
  *
  *  1. work preservation — row counts scale exactly by the factor, key
  *     spaces of different replicas are disjoint, join fan-out survives
  *     (every orders row still finds its customer);
  *  2. dedup-structure preservation — the per-replica token rename and
  *     Rademacher sign flip keep intra-replica Jaccard / cosine
  *     structure EXACTLY while creating no cross-replica near-dups.
  */
class ScaleGenSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"
  private lazy val dst = {
    val d = tempDir("graft_scalegen_").toString
    ScaleGen.scale(spark, src, d, factor = 3)
    d
  }

  private def cnt(dir: String, name: String): Long =
    spark.read.parquet(s"$dir/$name.parquet").count()

  test("fact tables scale by the factor; fixed dims copy verbatim") {
    for (t <- Seq("customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings"))
      assert(cnt(dst, t) == 3 * cnt(src, t), t)
    for (t <- Seq("region", "nation"))
      assert(cnt(dst, t) == cnt(src, t), t)
  }

  test("replica key spaces are disjoint and joins survive the shift") {
    val orders = spark.read.parquet(s"$dst/orders.parquet")
    val cust = spark.read.parquet(s"$dst/customer.parquet")
    // every order finds exactly its customer (fan-out preserved)
    val matched = orders.join(cust,
      orders("o_custkey") === cust("c_custkey"), "left_anti").count()
    assert(matched == 0, s"$matched orders lost their customer")
    // keys of replica i live in [i*OFF, (i+1)*OFF): the in-band offsets
    // must be exactly the source key set, and no key may exceed band 2
    val srcKeys = spark.read.parquet(s"$src/customer.parquet")
      .select("c_custkey").as[Long].collect().toSet
    val offsets = cust.select((col("c_custkey") % ScaleGen.KeyOffset))
      .as[Long].collect().toSet
    assert(offsets == srcKeys, "in-band offsets must equal the source key set")
    assert(cust.filter(col("c_custkey") >= 3 * ScaleGen.KeyOffset).count() == 0)
    assert(cust.select((col("c_custkey") / ScaleGen.KeyOffset).cast("int"))
      .distinct().count() == 3, "three disjoint replica key spaces")
  }

  test("events.ts type tracks the source fixture (loader-compatible)") {
    val srcType = spark.read.parquet(s"$src/events.parquet").schema("ts").dataType
    val dstType = spark.read.parquet(s"$dst/events.parquet").schema("ts").dataType
    assert(dstType == srcType, s"copy must pass ts through: $srcType -> $dstType")
    // and the engine's loader normalizes the copy to an instant timestamp
    val norm = graft.streaming.EventStreams.normalizeEventTs(
      spark.read.parquet(s"$dst/events.parquet"))
    assert(norm.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType, norm.schema("ts").dataType.toString)
  }

  test("documents: intra-replica Jaccard preserved exactly, cross-replica collapsed") {
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    // replica 1 of docs 0 and 1 vs originals: the rename is a pure
    // function of (token, replica), so J(doc0', doc1') == J(doc0, doc1)
    val ids = Seq(0L, 1L, ScaleGen.KeyOffset, ScaleGen.KeyOffset + 1)
    val sh = Dedup.shingleTable(
        docs.filter(col("doc_id").isin(ids: _*)), "text", "doc_id", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    def j(a: Set[String], b: Set[String]): Double =
      if ((a ++ b).isEmpty) 0.0 else a.intersect(b).size.toDouble / (a ++ b).size
    val intraSrc = j(sh(0L), sh(1L))
    val intraRep = j(sh(ScaleGen.KeyOffset), sh(ScaleGen.KeyOffset + 1L))
    assert(math.abs(intraSrc - intraRep) < 1e-12,
      s"intra-replica Jaccard must be preserved: $intraSrc vs $intraRep")
    // the same doc across replicas must NOT be a near-dup
    val cross = j(sh(0L), sh(ScaleGen.KeyOffset))
    assert(cross < 0.3, s"cross-replica Jaccard must collapse, got $cross")
  }

  test("embeddings: sign flip preserves intra-replica cosines exactly, kills cross") {
    val emb = spark.read.parquet(s"$dst/embeddings.parquet")
    val ids = Seq(0L, 1L, ScaleGen.KeyOffset, ScaleGen.KeyOffset + 1)
    val vecs = emb.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0 else d / n
    }
    val intraSrc = cos(vecs(0L), vecs(1L))
    val intraRep = cos(vecs(ScaleGen.KeyOffset), vecs(ScaleGen.KeyOffset + 1L))
    assert(math.abs(intraSrc - intraRep) < 1e-9,
      s"reflection must preserve cosines: $intraSrc vs $intraRep")
    // norms preserved exactly (orthogonal transform)
    assert(math.abs(
      math.sqrt(vecs(0L).map(x => x * x).sum) -
        math.sqrt(vecs(ScaleGen.KeyOffset).map(x => x * x).sum)) < 1e-9)
    // the same vector across replicas is no longer a near neighbor
    val cross = math.abs(cos(vecs(0L), vecs(ScaleGen.KeyOffset)))
    assert(cross < 0.9, s"cross-replica cosine should drop well below 1: $cross")
  }

  test("near-dup operators see identical structure per replica") {
    // run the actual MinHash near-dup pipeline per replica: the pair
    // sets must be the shift-image of each other and nothing may pair
    // across replicas
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    val pairs = Dedup.minhashNearDups(docs, "text", "doc_id",
        threshold = 0.5, shingleK = 3, numHashes = 16, bands = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val off = ScaleGen.KeyOffset
    def rep(p: (Long, Long)): (Long, Long) = (p._1 / off, p._2 / off)
    assert(pairs.forall(p => rep(p)._1 == rep(p)._2),
      s"cross-replica near-dup pairs must not exist: ${pairs.filter(p => rep(p)._1 != rep(p)._2).take(5)}")
    val r0 = pairs.filter(rep(_) == ((0L, 0L)))
    val r1 = pairs.filter(rep(_) == ((1L, 1L))).map(p => (p._1 - off, p._2 - off))
    val r2 = pairs.filter(rep(_) == ((2L, 2L))).map(p => (p._1 - 2 * off, p._2 - 2 * off))
    assert(r1 == r0 && r2 == r0,
      s"per-replica pair sets must be shift-images: r0=${r0.size} r1=${r1.size} r2=${r2.size}")
  }

  test("dup-heavy fixture: ~frac of docs carry a shared boilerplate template") {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val heavy = ScaleGen.withBoilerplate(docs, frac = 0.3,
      nTemplates = 3, tokensPerTemplate = 24)
    val n = docs.count()
    assert(heavy.count() == n, "no doc may be added or dropped")
    val hit = heavy.filter(col("text").startsWith("tmpl")).count()
    assert(hit >= (0.2 * n).toLong && hit <= (0.4 * n).toLong,
      s"expected ~30% boilerplate docs, got $hit/$n")
    // deterministic: two builds produce byte-identical text
    val again = ScaleGen.withBoilerplate(docs, frac = 0.3,
      nTemplates = 3, tokensPerTemplate = 24)
    assert(heavy.select("doc_id", "text").exceptAll(
      again.select("doc_id", "text")).count() == 0)
    // n_chars stays consistent with the mutated text
    assert(heavy.filter(length(col("text")).cast("long") =!= col("n_chars"))
      .count() == 0)
  }

  test("dup-heavy fixture: ExactSubstr removal cuts the boilerplate, only the boilerplate") {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val heavy = ScaleGen.withBoilerplate(docs, frac = 0.3,
      nTemplates = 3, tokensPerTemplate = 24)
    // docs whose ORIGINAL text has zero corpus-duplicated windows: on
    // those, span removal on the heavy corpus must cut exactly the
    // 24-token template (hit docs) or nothing (clean docs) — body
    // windows keep their corpus-wide multiplicity (content unchanged by
    // the prepend), and boundary windows mix synthetic template tokens
    // with the doc's own body, so they repeat only when two
    // same-template docs share their first body words — that covers at
    // most the k-1 = 7 leading body tokens beyond the template
    val cleanBase = Dedup.duplicateSpans(docs, "text", "doc_id", k = 8)
      .filter(col("n_dup_windows") === 0).select("doc_id")
      .as[Long].collect().toSet
    assert(cleanBase.size > 100, s"fixture sanity: ${cleanBase.size}")
    val hitIds = heavy.filter(col("text").startsWith("tmpl"))
      .select("doc_id").as[Long].collect().toSet
    val rm = Dedup.removeDuplicateSpans(heavy, "text", "doc_id", k = 8)
    assert(rm.count() == docs.count(), "removal must be total")
    val byId = rm.select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    for (id <- cleanBase) {
      val (text, removed) = byId(id)
      if (hitIds(id)) {
        assert(removed >= 24L && removed <= 31L,
          s"doc $id: expected the 24 template tokens (+<=7 boundary) cut, got $removed")
        assert(!text.contains("tmpl"), s"doc $id kept template tokens")
      } else assert(removed == 0L, s"doc $id: clean doc must be untouched, got $removed")
    }
  }

  test("dup-heavy fixture: dedup family stays equi-join-shaped (no cartesian/BNLJ)") {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val heavy = ScaleGen.withBoilerplate(docs, frac = 0.3,
      nTemplates = 3, tokensPerTemplate = 24)
    val frames = Seq(
      "duplicateSpans" -> Dedup.duplicateSpans(heavy, "text", "doc_id", k = 8),
      "removeDuplicateSpans" -> Dedup.removeDuplicateSpans(heavy, "text", "doc_id", k = 8),
      "minhashNearDups" -> Dedup.minhashNearDups(heavy, "text", "doc_id",
        threshold = 0.1, shingleK = 3, numHashes = 16, bands = 8))
    for ((name, df) <- frames) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name went cartesian:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name went BNLJ:\n$plan")
      assert(df.count() > 0, s"$name must complete on the dup-heavy corpus")
    }
    // 30% boilerplate means the shared-window side is NOT small: the
    // same-template near-dup pairs must actually surface through LSH
    val pairs = Dedup.minhashNearDups(heavy, "text", "doc_id",
      threshold = 0.1, shingleK = 3, numHashes = 16, bands = 8)
    val hitIds = heavy.filter(col("text").startsWith("tmpl"))
      .select(col("doc_id")).as[Long].collect().toSet
    val hitPairs = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .count(p => hitIds(p._1) && hitIds(p._2))
    assert(hitPairs > 0, "same-template docs must surface as near-dup pairs")
  }

  test("embedding near-dup pairs are shift-images per replica too") {
    val emb = spark.read.parquet(s"$dst/embeddings.parquet")
    val pairs = Similarity.exactNearDupPairs(emb, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val off = ScaleGen.KeyOffset
    val intra = pairs.filter(p => p._1 / off == p._2 / off)
    val r0 = intra.filter(_._1 < off)
    val r1 = intra.filter(p => p._1 >= off && p._1 < 2 * off)
      .map(p => (p._1 - off, p._2 - off))
    assert(r0 == r1, s"replica pair sets differ: ${r0.size} vs ${r1.size}")
  }
}
