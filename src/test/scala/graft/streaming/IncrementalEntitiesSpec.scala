package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IncrementalEntitiesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tmp() =
    tempDir("graft_ent_").toString

  private def resolveMap(st: IncrementalEntities): Map[Long, Long] =
    st.resolve().select("id", "entity_id")
      .as[(Long, Long)].collect().toMap

  test("a later batch's typo links to a record from an earlier batch") {
    val st = new IncrementalEntities(spark, tmp())
    st.indexBatch(Seq((1L, "acme corporation"), (2L, "globex inc"))
      .toDF("id", "name"), "id", "name")
    // batch 2: one-char typo of acme + an unrelated record
    st.indexBatch(Seq((10L, "acme corporatio"), (11L, "initech llc"))
      .toDF("id", "name"), "id", "name")
    val r = resolveMap(st)
    assert(r == Map(1L -> 1L, 2L -> 2L, 10L -> 1L, 11L -> 11L), r.toString)
  }

  test("within-batch matches resolve too; resolve equals one-shot batch result") {
    val all = Seq((5L, "stark industries"), (6L, "stark industrie"),
      (7L, "wayne enterprises"))
    val incr = new IncrementalEntities(spark, tmp())
    incr.indexBatch(Seq(all(0)).toDF("id", "name"), "id", "name")
    incr.indexBatch(Seq(all(1), all(2)).toDF("id", "name"), "id", "name")
    val oneShot = new IncrementalEntities(spark, tmp())
    oneShot.indexBatch(all.toDF("id", "name"), "id", "name")
    assert(resolveMap(incr) == resolveMap(oneShot))
    assert(resolveMap(incr) == Map(5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("crash replay of a batch changes nothing; compaction shrinks storage only") {
    val st = new IncrementalEntities(spark, tmp())
    val b1 = Seq((1L, "acme corporation"), (2L, "acme corporatio"))
    st.indexBatch(b1.toDF("id", "name"), "id", "name")
    val before = resolveMap(st)
    st.indexBatch(b1.toDF("id", "name"), "id", "name") // replayed batch
    assert(resolveMap(st) == before, "replay must not change resolution")
    val (recsBloated, edgesBloated) = st.storeStats()
    st.compactStore()
    val (recs, edges) = st.storeStats()
    assert(recs < recsBloated && edges <= edgesBloated)
    assert(resolveMap(st) == before, "compaction must not change resolution")
  }

  test("transitive chains across batches resolve to one entity") {
    // a-b at dist 1, b-c at dist 1, a-c at dist 2: the closure must
    // still unify all three even at maxDist=1
    val st = new IncrementalEntities(spark, tmp())
    st.indexBatch(Seq((1L, "abcdef")).toDF("id", "name"), "id", "name")
    st.indexBatch(Seq((2L, "abcdex")).toDF("id", "name"), "id", "name")
    st.indexBatch(Seq((3L, "abcdyx")).toDF("id", "name"), "id", "name")
    val r = resolveMap(st)
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), r.toString)
  }

  test("reopening with a different maxDist fails loudly") {
    val dir = tmp()
    val st = new IncrementalEntities(spark, dir, maxDist = 1)
    st.indexBatch(Seq((1L, "acme")).toDF("id", "name"), "id", "name")
    val e = intercept[IllegalArgumentException](
      new IncrementalEntities(spark, dir, maxDist = 2))
    assert(e.getMessage.contains("blocking format"))
    // same distance reopens fine and sees the data
    assert(resolveMap(new IncrementalEntities(spark, dir, maxDist = 1))
      == Map(1L -> 1L))
  }
}
