package graft.pipelines

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.Catalog

class PromptStoreSpec extends AnyFunSuite with SparkTestBase {

  private def freshCat(): Catalog = {
    val root = tempDir("graft_ps_test_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    cat
  }

  test("save canonicalizes, upserts, and get reads back") {
    val cat = freshCat()
    PromptStore.save(cat, "invoice", """["q", "What is this?"]""")
    assert(PromptStore.get(cat, "invoice") == Map("q" -> "What is this?"))
    // overwrite with a flat dict (MERGE on class_name)
    PromptStore.save(cat, "invoice", """{"total": "Total?"}""")
    assert(PromptStore.get(cat, "invoice") == Map("total" -> "Total?"))
    assert(PromptStore.list(cat).count() == 1)
  }

  test("delete removes only the named class") {
    val cat = freshCat()
    PromptStore.save(cat, "a", """{"x": "X?"}""")
    PromptStore.save(cat, "b", """{"y": "Y?"}""")
    PromptStore.delete(cat, "a")
    assert(PromptStore.list(cat).collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(PromptStore.get(cat, "a").isEmpty)
  }

  test("seedSampleClass inserts the invoice schema once and never overwrites") {
    val cat = freshCat()
    PromptStore.seedSampleClass(cat)
    val seeded = PromptStore.get(cat, "invoice")
    assert(seeded.keySet.contains("invoice_number") && seeded.size == 10,
      seeded.toString)
    // re-running is a no-op (WHERE NOT EXISTS, setup:129-143)
    PromptStore.seedSampleClass(cat)
    assert(PromptStore.list(cat).count() == 1)
    // a user-saved schema is never clobbered by the seed
    PromptStore.save(cat, "invoice", """{"total": "Total?"}""")
    PromptStore.seedSampleClass(cat)
    assert(PromptStore.get(cat, "invoice") == Map("total" -> "Total?"))
  }

  test("context probe returns a one-row frame (S4)") {
    val row = freshCat().context().collect()
    assert(row.length == 1 && row(0).length == 3)
  }

  test("get serves from cache until save/delete invalidates") {
    val cat = freshCat()
    PromptStore.save(cat, "c", """{"x": "X?"}""")
    assert(PromptStore.get(cat, "c") == Map("x" -> "X?"))
    // write behind the store's back: cached value still served
    cat.deleteWhere("CLASS_PROMPTS",
      org.apache.spark.sql.functions.col("class_name") === "c")
    assert(PromptStore.get(cat, "c") == Map("x" -> "X?"))
    // explicit delete invalidates and the miss is observed
    PromptStore.delete(cat, "c")
    assert(PromptStore.get(cat, "c").isEmpty)
  }

  test("Retry retries then succeeds / exhausts") {
    var calls = 0
    val got = graft.ai.Retry.withRetry(attempts = 3, delayMs = 1) {
      calls += 1
      if (calls < 3) sys.error("flaky")
      "ok"
    }
    assert(got == "ok" && calls == 3)
    intercept[RuntimeException] {
      graft.ai.Retry.withRetry(attempts = 2, delayMs = 1)(sys.error("always"))
    }
  }
}
