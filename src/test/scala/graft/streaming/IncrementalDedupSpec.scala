package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IncrementalDedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight again"
  private val nearDup = base.replace("green", "blue")
  private val other = "a completely different corpus row about distributed query engines and shuffle partitioning strategies"

  test("near-dups are dropped across batches and within a batch") {
    val dir = tempDir("graft_incdedup_").toString
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.5)

    // batch 1: base accepted; in-batch near-dup (id 2) dropped
    val b1 = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val kept1 = dedup.processBatch(b1, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 3L), s"in-batch near-dup must drop: ${kept1.toSeq}")

    // batch 2: exact dup of batch-1 row dropped, fresh row kept
    val fresh = "entirely new content discussing watermark semantics in stateful stream processing pipelines"
    val b2 = Seq((10L, base), (11L, fresh)).toDF("doc_id", "text")
    val kept2 = dedup.processBatch(b2, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(11L), s"cross-batch dup must drop: ${kept2.toSeq}")

    // batch 3: near-dup of batch-2 survivor also dropped
    val b3 = Seq((20L, fresh.replace("semantics", "rules"))).toDF("doc_id", "text")
    val kept3 = dedup.processBatch(b3, "text", "doc_id")
      .select("doc_id").as[Long].collect()
    assert(kept3.isEmpty, s"near-dup of accepted row must drop: ${kept3.toSeq}")
  }

  test("replaying a crashed batch keeps its survivors (no self-match drop)") {
    val dir = tempDir("graft_incdedup_rp_").toString
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.5)
    val b = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val first = dedup.processBatch(b, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(first.toSeq == Seq(1L, 2L))
    // foreachBatch replay after a crash between persist and commit:
    // the same rows arrive again with their signatures already stored —
    // they must NOT be dropped as duplicates of themselves
    val replay = dedup.processBatch(b, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(replay.toSeq == Seq(1L, 2L),
      s"replayed survivors must survive again: ${replay.toSeq}")
  }

  test("compactStore removes replay duplicates and preserves matching") {
    val dir = tempDir("graft_incdedup_cp_").toString
    // autoCompactSlack = 0: this test exercises the MANUAL compaction
    // path, so the automatic trigger must not fire mid-assert
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.5,
      autoCompactSlack = 0)
    val b = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    dedup.processBatch(b, "text", "doc_id")
    val clean = spark.read.parquet(s"$dir/signatures").count()
    // a crash replay re-appends the survivors' signatures...
    dedup.processBatch(b, "text", "doc_id")
    assert(spark.read.parquet(s"$dir/signatures").count() == 2 * clean)
    // ...and compaction restores exactly the pre-replay row count
    dedup.compactStore()
    assert(spark.read.parquet(s"$dir/signatures").count() == clean,
      "replayed batch must leave the compacted store row count unchanged")
    // the compacted store still matches: a near-dup of an accepted row drops
    val b2 = Seq((10L, nearDup)).toDF("doc_id", "text")
    val kept = dedup.processBatch(b2, "text", "doc_id")
      .select("doc_id").as[Long].collect()
    assert(kept.isEmpty, s"compacted store must still catch near-dups: ${kept.toSeq}")
    // compacting an already-clean store is a no-op
    dedup.compactStore()
    dedup.compactStore()
    assert(spark.read.parquet(s"$dir/signatures").count() == clean,
      "double compaction of a clean store must change nothing")
  }

  test("auto-compaction keeps a long replay run bounded with no explicit compact") {
    val dir = tempDir("graft_incdedup_ac_").toString
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.5) // default slack
    val b = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val bands = 8 // constructor default; a clean store = ids x bands rows
    val bound = (1.5 * 2 * bands).toLong
    // 6 crash-replays of the same batch: without compaction the store
    // would grow to 7x the clean size; the append-path trigger must
    // keep it at or under the slack bound the whole run — and every
    // replay's survivors must still come back (the localCheckpoint pin
    // means the rewrite cannot invalidate the returned frame)
    (1 to 6).foreach { i =>
      val kept = dedup.processBatch(b, "text", "doc_id")
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 2L), s"replay $i survivors: ${kept.toSeq}")
      val rows = spark.read.parquet(s"$dir/signatures").count()
      assert(rows <= bound, s"store must stay bounded after replay $i: $rows > $bound")
    }
    // matching still works on the auto-compacted store
    val kept2 = dedup.processBatch(
        Seq((10L, nearDup)).toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id").as[Long].collect()
    assert(kept2.isEmpty, s"auto-compacted store must still catch near-dups: ${kept2.toSeq}")
  }

  test("adversarial: empty and single-token docs flow through the store totally") {
    // empty/blank docs all shingle to the whole-text [""] shingle under
    // the short-doc rule, so they ARE mutual exact dups (J=1): the first
    // is accepted, later ones drop — deterministic, no crash, and real
    // docs are never affected
    val dir = tempDir("graft_incdedup_deg_").toString
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.7)
    val b1 = Seq((1L, ""), (2L, "solo"), (3L, base)).toDF("doc_id", "text")
    val kept1 = dedup.processBatch(b1, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 2L, 3L), s"batch 1: ${kept1.toSeq}")
    val b2 = Seq((10L, "   "), (11L, "solo"), (12L, "fresh unrelated content here"))
      .toDF("doc_id", "text")
    val kept2 = dedup.processBatch(b2, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(12L),
      s"blank ~ empty (J=1) and repeated single token must drop: ${kept2.toSeq}")
  }

  test("maxStoreBucket drops hot store buckets whole; doc-specific buckets still match") {
    // batch 1 stores a 10-doc boilerplate crowd (shared 25-token base +
    // one unique trailing token each: J ~ 0.85 < threshold 0.95, so ALL
    // are stored — the false-collision accumulation the cap targets;
    // their shared-minima buckets hold all 10 members) plus one
    // unrelated doc. batch 2 presents exact copies of crowd doc 1 and
    // of the unrelated doc (threshold 0.95 needs J=1 matches at these
    // doc lengths).
    val boiler = (1 to 25).map(i => s"b$i").mkString(" ")
    val crowd = (1L to 10L).map(i => (i, s"$boiler unique$i"))
    val lone = (50L, other)
    def run(cap: Int): (Seq[Long], Seq[Long]) = {
      val dir = tempDir("graft_incdedup_cap_").toString
      val dedup = new IncrementalDedup(spark, dir, threshold = 0.95,
        maxStoreBucket = cap)
      val k1 = dedup.processBatch((crowd :+ lone).toDF("doc_id", "text"),
        "text", "doc_id").count()
      assert(k1 == 11, s"crowd is below threshold, all stored (cap=$cap)")
      val b2 = Seq((100L, s"$boiler unique1"), (101L, other))
        .toDF("doc_id", "text")
      val k2 = dedup.processBatch(b2, "text", "doc_id")
        .select("doc_id").as[Long].collect().sorted.toSeq
      // doc 102 is the PURE template (no unique token): J vs any crowd
      // member = 23/24 ~ 0.958 >= 0.95, but every one of its band
      // minima is boiler-derived, so its only STORE buckets are the
      // size-10 crowd buckets — the cap's differential witness. Probed
      // in its OWN batch: in-batch pairs are not store-capped, so
      // co-batching it with doc 100 would dedup them against each
      // other and mask the store-side pruning under test.
      val k3 = dedup.processBatch(Seq((102L, boiler)).toDF("doc_id", "text"),
        "text", "doc_id").select("doc_id").as[Long].collect().sorted.toSeq
      (k2, k3)
    }
    // uncapped: all three J-match stored partners -> all dropped
    assert(run(Int.MaxValue) == ((Seq.empty, Seq.empty)),
      "uncapped drops all three")
    // capped at 5: the crowd's shared buckets (size 10) stop generating
    // candidates — doc 102 (reachable ONLY through them) is now KEPT,
    // proving the cap actually prunes store-side candidates — but the
    // exact copy still matches crowd doc 1 through the bucket keyed on
    // doc 1's own unique-token minima (size 1 <= cap): the
    // recall-preservation argument for capping THIS store is that a
    // true partner's doc-specific buckets are exactly the ones a false
    // crowd can't crowd out. The lone-doc copy is untouched.
    assert(run(5) == ((Seq.empty, Seq(102L))),
      "capped prunes hot-bucket candidates (102 kept) yet still drops " +
        "the true dup via the doc-specific bucket")
  }

  test("reopening a store with different hyperparameters fails fast") {
    val dir = tempDir("graft_incdedup_hp_").toString
    val dedup = new IncrementalDedup(spark, dir, threshold = 0.5)
    dedup.processBatch(Seq((1L, base)).toDF("doc_id", "text"), "text", "doc_id")
    // same params: reopens fine
    new IncrementalDedup(spark, dir, threshold = 0.5)
    // different banding: bucket values are incomparable -> must throw,
    // not silently lose every future match
    val e = intercept[IllegalArgumentException] {
      new IncrementalDedup(spark, dir, numHashes = 32, bands = 16)
    }
    assert(e.getMessage.contains("bucket format"))
  }
}
