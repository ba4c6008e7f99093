package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Phase-level profile of the containment dedup family (round-16
  * task 5 — q_dedup_containment 9.3 s / q_dedup_overlap 9.9 s /
  * q_dedup_drop_contained 10.3 s at sf10 were three of the top-12
  * absolutes with no profiler pass on record). Replays the entries'
  * exact corpora phase by phase and prints wall seconds + candidate
  * economics so the dominant term is data, not narrative. Run:
  *   SPARK_GRAFT_SF_DIR=.data/sf10full sbt "runMain graft.tools.ContainProfile"
  */
object ContainProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[containprofile] $name%-42s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def release(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the entry's planted-excerpt corpus, replicated exactly
    val toks = split(trim(col("text")), "\\s+")
    val excerpts = docs
      .filter(pmod(col("doc_id"), lit(11)) === 3 && size(toks) >= 16)
      .select((col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(toks, 5, 12), " ").as("text"))
    val corpus: DataFrame =
      docs.select(col("doc_id"), col("text")).unionByName(excerpts)

    // ---- q_dedup_containment, phase by phase (threshold 0.8, k=3,
    // winnow 5/4 — the entry's parameters) ----
    // phases mirror the ROUND-16 operator (hash-carried fp ids and
    // shingle sets); the old-vs-new A/B verdict is in SCALE.md
    val fps = t("P1 winnow fingerprints (scan+hash+pin)") {
      val x = Dedup.winnowFingerprints(corpus, "text", "doc_id", 5, 4)
        .select(col("doc_id"), xxhash64(col("__fp")).as("__fp"))
        .localCheckpoint()
      println(s"[containprofile]   fp rows = ${x.count()}")
      x
    }
    val cands = t("P2 candidate self-join + distinct") {
      val x = fps.select(col("__fp"), col("doc_id").as("id_a"))
        .join(fps.select(col("__fp"), col("doc_id").as("id_b")), Seq("__fp"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct().localCheckpoint()
      println(s"[containprofile]   candidate pairs = ${x.count()}")
      x
    }
    t("P3 hashed shingle sets alone (one scan)") {
      corpus.select(col("doc_id"),
          graft.functions.TextHashExpressions.sorted_token_hashes(
            Dedup.shingles(col("text"), 3)).as("__set"))
        .write.format("noop").mode("overwrite").save()
    }
    val nOut = t("P4 verify joins + merge intersect + filter") {
      val sets = corpus.select(col("doc_id"),
        graft.functions.TextHashExpressions.sorted_token_hashes(
          Dedup.shingles(col("text"), 3)).as("__set"))
      cands
        .join(sets.select(col("doc_id").as("id_a"),
          col("__set").as("__sa")), Seq("id_a"))
        .join(sets.select(col("doc_id").as("id_b"),
          col("__set").as("__sb")), Seq("id_b"))
        .withColumn("__inter",
          graft.functions.TextHashExpressions.sorted_intersect_size(
            col("__sa"), col("__sb")).cast("double"))
        .select(explode(array(
          struct(col("id_a").as("id_in"), col("id_b").as("id_of"),
            round(col("__inter") / size(col("__sa")), 4).as("containment")),
          struct(col("id_b").as("id_in"), col("id_a").as("id_of"),
            round(col("__inter") / size(col("__sb")), 4).as("containment"))))
          .as("__r"))
        .filter(col("__r.containment") >= 0.8)
        .count()
    }
    println(s"[containprofile]   output pairs = $nOut")
    release()
    t("E2E q_dedup_containment (entry shape)") {
      Dedup.containmentNearDups(corpus, "text", "doc_id", threshold = 0.8)
        .orderBy(col("id_in"), col("id_of"))
        .write.format("noop").mode("overwrite").save()
    }
    release()
    t("E2E q_dedup_drop_contained (entry shape)") {
      Dedup.dropContained(corpus, "text", "doc_id", threshold = 0.8)
        .select(col("doc_id")).orderBy(col("doc_id"))
        .write.format("noop").mode("overwrite").save()
    }
    release()

    // ---- q_dedup_overlap, phase by phase (split-page corpus, k=8) ----
    val base = docs
      .select(col("doc_id"), split(col("text"), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 24)
      .withColumn("h", floor(size(col("ws")) / 2).cast("int"))
    val p1 = base.select((col("doc_id") * 2).as("page_id"),
      array_join(slice(col("ws"), lit(1), col("h") + 8), " ").as("text"))
    val p2 = base.select((col("doc_id") * 2 + 1).as("page_id"),
      array_join(slice(col("ws"), col("h") + 1, size(col("ws"))), " ").as("text"))
    val pages = p1.unionAll(p2)
    t("O1 page-split corpus scan alone") {
      pages.write.format("noop").mode("overwrite").save()
    }
    t("O2 boundary-hash projection alone") {
      val tk = split(lower(trim(col("text"))), "\\s+")
      pages.select(col("page_id"), tk.as("__toks"))
        .filter(size(col("__toks")) >= 8)
        .select(col("page_id"),
          xxhash64(slice(col("__toks"), 1, 8)).as("__pre"),
          xxhash64(slice(col("__toks"), -8, 8)).as("__suf"))
        .write.format("noop").mode("overwrite").save()
    }
    release()
    t("E2E q_dedup_overlap (entry shape)") {
      Dedup.overlapPairs(pages, "text", "page_id", k = 8)
        .orderBy(col("id_a"), col("id_b"))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
