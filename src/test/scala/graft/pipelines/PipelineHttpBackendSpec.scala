package graft.pipelines

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ai.{AiFunctions, DeterministicLocalBackend, DocAiProtocolTestServer}
import graft.engine.Catalog

/** Backend-swap e2e: the FULL interactive pipeline (stage → classify →
  * prompt-gen → extract → OCR → persist ×4 tables → History read, the
  * q_pipeline_interactive shape) runs against a real HTTP Doc-AI
  * protocol server selected purely via config
  * (`spark.graft.ai.backend` → [[graft.ai.HttpDocAiBackend]]), and
  * must produce byte-identical persisted state to the deterministic
  * local run — proving a user swaps model backends without touching
  * any operator (SURVEY §2.9; the reference's remote Cortex posture).
  */
class PipelineHttpBackendSpec extends AnyFunSuite with SparkTestBase {

  private val docA = "Invoice INV-7 from Acme. The total is $250. Due on 2024-03-01."
  private val docB = "Contract between Foo and Bar. Effective date 2023-12-31. Term two years."

  private def stagedCat(): Catalog = {
    val root = tempDir("graft_pipe_http_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    cat.putFile("docs", "a.txt", docA.getBytes(StandardCharsets.UTF_8))
    cat.putFile("docs", "b.txt", docB.getBytes(StandardCharsets.UTF_8))
    cat
  }

  private def runInteractive(): Seq[String] = {
    val cat = stagedCat()
    Seq("a.txt", "b.txt").foreach(f => Pipelines.interactive(cat, "docs", f))
    val hist = HistoryQueries.documents(cat)
      .select("file_ref", "class_name", "fields_extracted", "has_ocr")
      .orderBy("file_ref").collect().map(_.toString).toSeq
    val extracted = cat.table("DOCUMENTS_PROCESSED")
      .select("file_url", "class_name", "extraction_result")
      .orderBy("file_url").collect().map(_.toString).toSeq
    hist ++ extracted
  }

  test("interactive pipeline through the HTTP backend == deterministic run") {
    // control run on the (default) deterministic backend
    val control = runInteractive()
    assert(control.nonEmpty)

    val (url, hits, stop) = DocAiProtocolTestServer.start()
    try {
      spark.conf.set("spark.graft.ai.backend", url)
      AiFunctions.configureFrom(spark)
      assert(AiFunctions.backend.isInstanceOf[graft.ai.HttpDocAiBackend])
      val viaHttp = runInteractive()
      assert(hits.get() > 0, "pipeline never reached the HTTP backend")
      assert(viaHttp == control,
        s"HTTP-backed pipeline diverged:\n$viaHttp\nvs\n$control")
    } finally {
      stop()
      spark.conf.set("spark.graft.ai.backend", "deterministic")
      AiFunctions.configureFrom(spark)
      assert(AiFunctions.backend eq DeterministicLocalBackend)
    }
  }

  test("configureFrom rejects a non-URL, non-deterministic value loudly") {
    spark.conf.set("spark.graft.ai.backend", "carrier-pigeon")
    try intercept[IllegalArgumentException](AiFunctions.configureFrom(spark))
    finally {
      spark.conf.set("spark.graft.ai.backend", "deterministic")
      AiFunctions.configureFrom(spark)
    }
  }
}
