package docbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.engine.Catalog
import graft.pipelines.{HistoryQueries, Pipelines}

/** One timed user-visible operation. `docLatencies` holds, per document
  * the operation processed, the seconds from the operation's start until
  * that document's result was visible.
  */
final case class Op(kind: String, name: String, start: Long, end: Long,
                    docLatencies: Seq[Double]) {
  def secs: Double = (end - start) / 1e9
  def docs: Int = docLatencies.size
}

/** Output checks: every operation and table check counts as attempted;
  * a mismatch, an error row or an exception counts as failed.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = ArrayBuffer[String]()
  def apply(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (notes.size < 20) notes += what
    }
  }
}

final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
                val tiny: Boolean, val checks: Checks) {
  def dir(name: String): String = work.resolve(name).toString
}

trait Workload {
  /** One set-up repetition into a fresh directory; returns its seconds. */
  def setup(rep: Int): Double
  /** Untimed warm-up, so JIT and first-use costs stay out of the figures. */
  def warm(): Unit
  /** One round of timed operations: a request (and every 10th round a
    * History view), one batch-and-stream pass, or one suite pass.
    */
  def round(): Seq[Op]
  /** Fewest timed rounds of a run; a traced run runs twice as many. */
  def minRounds: Int = 1
  /** End-of-run table checks. */
  def finish(): Unit = ()
  /** Seconds spent in `Catalog.putFile` by the last set-up. */
  def putSeconds: Double = 0.0
  /** Data files per pipeline table in the last warehouse the workload used. */
  def tableFiles: Map[String, Int] = Map.empty
  /** Documents the ops of a suite pass fed to AI functions (doc workloads: op docs). */
  def aiDocs(ops: Seq[Op]): Double = ops.map(_.docs).sum.toDouble
}

object Workload {
  val Tables = Seq("DOCUMENTS_PROCESSED", "DOCUMENTS_EXTRACTED_FIELDS", "DOCUMENT_OCR",
    "NEW_UPLOADS", "CLASS_PROMPTS")

  def dataFiles(cat: Catalog): Map[String, Int] = Tables.map { t =>
    val dir = Paths.get(cat.root, "tables", t)
    val n = if (!Files.isDirectory(dir)) 0 else {
      val s = Files.walk(dir)
      try s.iterator().asScala.count(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    t -> n
  }.toMap

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }
  }

  /** Stages `docs` into a fresh warehouse at `root`; returns it and the putFile nanos. */
  def stage(spark: SparkSession, root: String, docs: Seq[Docs.Doc]): (Catalog, Long) = {
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    val t0 = System.nanoTime()
    docs.foreach(d => cat.putFile("docs", d.name, d.bytes))
    val put = System.nanoTime() - t0
    cat.directory("docs").count()
    (cat, put)
  }
}

/** The paper's headline path: one closed-loop client sends interactive
  * requests for seeded documents; every 10th request is followed by one
  * History view. Tables grow as requests append.
  */
final class DocInteractive(ctx: Ctx) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val docs = Docs.generate(ctx.seed, if (ctx.tiny) 24 else 256)
  private val classes = docs.map(Docs.classOf)
  private val rng = Docs.rng(ctx.seed, "requests")
  private var cat: Catalog = _
  private var putNs = 0L
  private val requested = ArrayBuffer[Int]()

  override def putSeconds: Double = putNs / 1e9
  override def tableFiles: Map[String, Int] = dataFiles(cat)

  def setup(rep: Int): Double = {
    if (cat != null) deleteTree(cat.root)
    val t0 = System.nanoTime()
    val (c, put) = stage(spark, ctx.dir(s"interactive-$rep"), docs)
    cat = c
    putNs = put
    (System.nanoTime() - t0) / 1e9
  }

  /** One request, checked against the deterministic answers. */
  private def request(i: Int): Op = {
    val d = docs(i)
    val t0 = Trace.now()
    val rows = Trace.withReq(s"req-${requested.size}") {
      Pipelines.interactive(cat, "docs", d.name).collect()
    }
    val t1 = Trace.now()
    requested += i
    val cls = classes(i)
    val ok = rows.length == 1 && {
      val r = rows(0)
      r.getString(0) == s"@docs/${d.name}" && r.getString(1) == cls &&
        r.getMap[String, String](2).toMap == Docs.answers(d, Docs.promptsFor(cls)) &&
        r.getString(3) == Docs.summary(d)
    }
    ctx.checks(ok, s"interactive ${d.name}: ${rows.map(_.toString).mkString(";").take(300)}")
    Op("interactive", d.name, t0, t1, Seq((t1 - t0) / 1e9))
  }

  /** One History view: class summary, documents and fields, all
    * collected; one op per query.
    */
  private def view(): Seq[Op] = {
    val t0 = Trace.now()
    val summary = HistoryQueries.classSummary(cat).collect()
    val t1 = Trace.now()
    val documents = HistoryQueries.documents(cat).collect()
    val t2 = Trace.now()
    val fields = HistoryQueries.fields(cat).collect()
    val t3 = Trace.now()
    val distinct = requested.distinct
    ctx.checks(summary.map(_.getLong(1)).sum == distinct.size &&
      documents.length == distinct.size &&
      fields.length == requested.map(i => Docs.promptsFor(classes(i)).size).sum,
      s"history view after ${requested.size} requests")
    Seq(Op("history", "class_summary", t0, t1, Nil), Op("history", "documents", t1, t2, Nil),
      Op("history", "fields", t2, t3, Nil))
  }

  def warm(): Unit = {
    // one request per class, so prompt generation is not timed, then
    // more until request latency has settled (it falls for ~10 requests
    // while the JIT warms up)
    val perClass = classes.distinct.map(c => classes.indexOf(c))
    (perClass ++ docs.indices.filterNot(perClass.contains))
      .take(if (ctx.tiny) perClass.size else 10).foreach(request)
    view()
  }

  private var n = 0

  // every run has a History view; a traced run has a traced one
  override def minRounds: Int = 10

  def round(): Seq[Op] = {
    n += 1
    val r = request(rng.nextInt(docs.size))
    if (n % 10 == 0) r +: view() else Seq(r)
  }

  override def finish(): Unit = {
    val n = requested.size.toLong
    def count(t: String) = cat.table(t).count()
    ctx.checks(count("DOCUMENTS_PROCESSED") == n, "DOCUMENTS_PROCESSED rows != requests")
    ctx.checks(count("DOCUMENT_OCR") == n, "DOCUMENT_OCR rows != requests")
    ctx.checks(count("DOCUMENTS_EXTRACTED_FIELDS") ==
      requested.map(i => Docs.promptsFor(classes(i)).size).sum,
      "DOCUMENTS_EXTRACTED_FIELDS rows != fields of requests")
    ctx.checks(count("NEW_UPLOADS") == requested.distinct.size,
      "NEW_UPLOADS rows != distinct requested files")
  }
}

/** The set-based modes over one stage: batch SQL, collected, then a
  * stream drain of the same stage into fresh tables.
  */
final class DocBulk(ctx: Ctx) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val docs = Docs.generate(ctx.seed, if (ctx.tiny) 16 else 128)
  private val byName = docs.map(d => d.name -> d).toMap
  private val mapper = new ObjectMapper()
  private val expected = docs.map(d => d.name -> Docs.answers(d, Docs.bulkPrompts)).toMap
  private var putNs = 0L
  private var files = Map.empty[String, Int]
  private var pass = 0

  override def putSeconds: Double = putNs / 1e9
  override def tableFiles: Map[String, Int] = files

  def setup(rep: Int): Double = {
    val root = ctx.dir(s"bulk-setup-$rep")
    val t0 = System.nanoTime()
    putNs = stage(spark, root, docs)._2
    val s = (System.nanoTime() - t0) / 1e9
    deleteTree(root)
    s
  }

  private def batch(cat: Catalog, ds: Seq[Docs.Doc]): Op = {
    val t0 = Trace.now()
    val rows = Trace.withReq(s"batch-$pass") {
      Pipelines.batchSql(cat, "docs", Docs.bulkPrompts).collect()
    }
    val t1 = Trace.now()
    ctx.checks(rows.length == ds.size && rows.map(_.getAs[String]("relative_path")).toSet ==
      ds.map(_.name).toSet, s"batchSql returned ${rows.length} rows for ${ds.size} docs")
    rows.foreach { r =>
      val name = r.getAs[String]("relative_path")
      val got = Docs.bulkPrompts.keys.map(f => f -> r.getAs[String](f)).toMap
      ctx.checks(expected.get(name).contains(got), s"batchSql $name: $got")
    }
    Op("batch", "batchSql", t0, t1, Seq.fill(rows.length)((t1 - t0) / 1e9))
  }

  private def stream(cat: Catalog, ds: Seq[Docs.Doc]): Op = {
    val t0 = Trace.now()
    // the stream's jobs run on its own thread, which inherits this id
    val q = Trace.withReq(s"stream-$pass") {
      Pipelines.stream(cat, "docs", Docs.bulkPrompts, cat.root + "/checkpoint")
    }
    try q.processAllAvailable() finally q.stop()
    val t1 = Trace.now()
    // per micro-batch: commit time (trigger start + trigger duration) and rows
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val commit = Trace.ms(java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue())
      ((math.min(commit, t1) - t0) / 1e9, p.numInputRows)
    }
    val processed = cat.table("DOCUMENTS_PROCESSED")
      .select("file_ref", "class_name", "extraction_result").collect()
    ctx.checks(processed.map(_.getString(0)).sorted.toSeq == ds.map(_.name).sorted,
      s"stream DOCUMENTS_PROCESSED holds ${processed.length} rows for ${ds.size} docs")
    processed.foreach { r =>
      val name = r.getString(0)
      val resp = mapper.readTree(r.getString(2)).path("response")
      val got = Docs.bulkPrompts.keys.map(f => f -> resp.path(f).asText(null)).toMap
      ctx.checks(byName.get(name).exists(d => Docs.classOf(d) == r.getString(1)) &&
        expected.get(name).contains(got), s"stream $name: ${r.getString(2).take(200)}")
    }
    ctx.checks(cat.table("DOCUMENTS_EXTRACTED_FIELDS").count() ==
      ds.size.toLong * Docs.bulkPrompts.size,
      "stream DOCUMENTS_EXTRACTED_FIELDS rows != docs x fields")
    Op("stream", "stream", t0, t1, batches.flatMap { case (s, n) => Seq.fill(n.toInt)(s) })
  }

  private def once(ds: Seq[Docs.Doc]): Seq[Op] = {
    pass += 1
    val (cat, _) = stage(spark, ctx.dir(s"bulk-$pass"), ds)
    try {
      val ops = Seq(batch(cat, ds), stream(cat, ds))
      files = dataFiles(cat)
      ops
    } finally deleteTree(cat.root)
  }

  def warm(): Unit = once(docs.take(4))

  def round(): Seq[Op] = once(docs)
}

/** A fixed list of `SparkEntry.queries` entries on a fixed fixture and
  * the free in-JVM backend, each written to the `noop` sink. The seed
  * only picks the order the queries run in.
  */
final class OperatorSuite(ctx: Ctx, fixture: String,
                          expected: Map[String, (Long, String)],
                          record: Option[String]) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private val order = Docs.rng(ctx.seed, "query order").shuffle(OperatorSuite.Queries)

  // a fixed two passes: the pass count does not hinge on how close two
  // passes come to the run length; the first pass after the warm-up runs
  // slower, and in a traced run two of each kind keep that out of the
  // tracing-overhead estimate
  override def minRounds: Int = 2

  def setup(rep: Int): Double = {
    val t0 = System.nanoTime()
    // open every fixture table: list its files and read its schema
    OperatorSuite.Tables.foreach(t => spark.read.parquet(s"$fixture/$t.parquet").schema)
    (System.nanoTime() - t0) / 1e9
  }

  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** Row count and an order-independent hash of a query's result. */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f =>
      if (f.dataType.isInstanceOf[MapType]) to_json(col(f.name)) else col(f.name))
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def warm(): Unit = {
    val seen = order.map { q =>
      val got =
        try Some(digest(SparkEntry.queries(q)(spark, fixture)))
        catch { case e: Exception => ctx.checks(false, s"$q failed: $e"); None }
      got.foreach(g => ctx.checks(expected.get(q).contains(g), s"$q: got $g, expected ${expected.get(q)}"))
      release()
      q -> got
    }
    record.foreach { path =>
      val m = new ObjectMapper()
      val root = m.createObjectNode()
      seen.sortBy(_._1).foreach { case (q, g) =>
        g.foreach { case (rows, h) => root.putObject(q).put("rows", rows).put("hash", h) }
      }
      Files.writeString(Paths.get(path), m.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n")
    }
  }

  def round(): Seq[Op] =
    order.flatMap { q =>
      val t0 = Trace.now()
      val error =
        try {
          Trace.withReq(q) {
            SparkEntry.queries(q)(spark, fixture).write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Exception => Some(e) }
      val t1 = Trace.now()
      release()
      ctx.checks(error.isEmpty, s"$q failed: ${error.orNull}")
      if (error.isEmpty) Seq(Op("query", q, t0, t1, Nil)) else Nil
    }

  // a pass feeds the fixture's documents to AI functions
  override def aiDocs(ops: Seq[Op]): Double =
    OperatorSuite.FixtureDocs * ops.count(_.name == order.head).toDouble
}

object OperatorSuite {
  /** Fused single-task kernels (weighted PageRank, HITS, triangles, PCA
    * power iteration, IVF Lloyd), a serial-scan spread user (winnow) and
    * the wide AI extract on the free backend.
    */
  val Queries: Seq[String] = Seq("q_pagerank_weighted", "q_graph_hits", "q_graph_triangles",
    "q_emb_pca", "q_sim_ivf_topk", "q_dedup_winnow", "q_ai_extract_wide")

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Rows of the fixture's documents table (fixture.py N_DOCS). */
  val FixtureDocs = 500
}
