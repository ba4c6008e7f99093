package graft.engine

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class CatalogSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def freshCat(): Catalog = {
    val root = tempDir("graft_cat_test_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    cat
  }

  private val now = new java.sql.Timestamp(System.currentTimeMillis())

  /** CLASS_PROMPTS rows of `classes`, each with prompts "{}". */
  private def promptRows(classes: String*): Seq[Row] = classes.map(c => Row(c, "{}", now, now))

  test("ensureTables creates all five empty tables with canonical schemas") {
    val cat = freshCat()
    Catalog.schemas.foreach { case (name, schema) =>
      val t = cat.table(name)
      assert(t.count() == 0)
      assert(t.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    }
  }

  test("appendBatch stamps timestamp defaults and fills missing columns") {
    val cat = freshCat()
    cat.appendBatch("NEW_UPLOADS",
      Seq(("a.pdf", "stage/a.pdf", "stage", true)).toDF(
        "file_name", "file_ref", "stage_name", "processed"), "0")
    val row = cat.table("NEW_UPLOADS").collect()(0)
    assert(row.getAs[String]("file_name") == "a.pdf")
    assert(row.getAs[java.sql.Timestamp]("uploaded_at") != null)
  }

  test("merge persists an upsert (update + insert)") {
    val cat = freshCat()
    cat.appendRows("CLASS_PROMPTS", promptRows("invoice"))
    cat.merge("CLASS_PROMPTS",
      cat.table("CLASS_PROMPTS").limit(0) // empty with right schema
        .unionByName(Seq(("invoice", """{"a":"b"}"""), ("report", "{}"))
          .toDF("class_name", "prompts")
          .withColumn("created_at", current_timestamp())
          .withColumn("updated_at", current_timestamp())),
      Seq("class_name"))
    val rows = cat.table("CLASS_PROMPTS")
      .select("class_name", "prompts").as[(String, String)].collect().toMap
    assert(rows.keySet == Set("invoice", "report"))
    assert(rows("invoice") == """{"a":"b"}""")
  }

  test("deleteWhere removes matching rows only") {
    val cat = freshCat()
    cat.appendRows("CLASS_PROMPTS", promptRows("a", "b"))
    cat.deleteWhere("CLASS_PROMPTS", col("class_name") === "a")
    assert(cat.table("CLASS_PROMPTS").select("class_name")
      .as[String].collect().toSeq == Seq("b"))
  }

  test("putFile + directory scan lists staged files with content") {
    val cat = freshCat()
    cat.putFile("mystage", "x.txt", "hello".getBytes(StandardCharsets.UTF_8))
    cat.putFile("mystage", "sub/y.txt", "world".getBytes(StandardCharsets.UTF_8))
    val rows = cat.directory("mystage")
      .select("relative_path", "file_url", "length")
      .orderBy("relative_path")
      .as[(String, String, Long)].collect()
    assert(rows.map(_._1).toSeq == Seq("sub/y.txt", "x.txt"))
    assert(rows(1)._2 == "@mystage/x.txt")
    assert(rows(1)._3 == 5L)
    val content = cat.directory("mystage")
      .filter(col("relative_path") === "x.txt")
      .select(col("content").cast("string")).as[String].collect()(0)
    assert(content == "hello")
  }

  test("directory scan handles stage names containing regex metacharacters") {
    val cat = freshCat()
    cat.putFile("v1.2+x", "doc.txt", "hi".getBytes(StandardCharsets.UTF_8))
    val rows = cat.directory("v1.2+x")
      .select("relative_path", "file_url").as[(String, String)].collect()
    assert(rows.toSeq == Seq(("doc.txt", "@v1.2+x/doc.txt")))
    // stagedFile reads exactly the named file: Hadoop glob characters
    // name themselves, and neighbours a glob would match stay unread
    val names = Seq("a[1].txt", "b{x,y}.txt", "c*.txt", "d?.txt", "sub/a.txt",
      "sp ace.txt", "pct%20.txt")
    (names ++ Seq("a1.txt", "bx.txt", "cat.txt", "d1.txt", "sub/b.txt"))
      .foreach(n => cat.putFile("v1.2+x", n, n.getBytes(StandardCharsets.UTF_8)))
    for (n <- names) {
      val one = cat.stagedFile("v1.2+x", n)
      assert(one.inputFiles.length == 1, s"$n: ${one.inputFiles.toSeq}")
      assert(one.select(col("relative_path"), col("file_url"), col("content").cast("string"))
        .as[(String, String, String)].collect().toSeq == Seq((n, s"@v1.2+x/$n", n)))
    }
    // the same rows as the stage listing gives them
    val listed = cat.directory("v1.2+x").filter(col("relative_path").isin(names: _*))
      .select("relative_path", "file_url", "length").as[(String, String, Long)].collect()
    assert(listed.toSet == names.map(n => (n, s"@v1.2+x/$n", n.length.toLong)).toSet)
  }

  test("stagedFile: a missing file throws, a directory yields no row") {
    val cat = freshCat()
    cat.putFile("s", "sub/a.txt", "x".getBytes(StandardCharsets.UTF_8))
    val e = intercept[NoSuchElementException](cat.stagedFile("s", "nope.txt"))
    assert(e.getMessage.contains("nope.txt") && e.getMessage.contains("@s"), e.getMessage)
    intercept[NoSuchElementException](cat.stagedFile("s", "b[1].txt"))
    assert(cat.stagedFile("s", "sub").count() == 0)
  }

  test("putFile refuses a path Spark cannot read back and writes nothing") {
    val cat = freshCat()
    cat.putFile("s", "ok.txt", "x".getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalArgumentException](
      cat.putFile("s", "d/x:y.txt", "x".getBytes(StandardCharsets.UTF_8)))
    assert(e.getMessage.contains("d/x:y.txt"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cat.stageDir("s"), "d")))
    assert(cat.directory("s").select("relative_path").as[String].collect().toSeq ==
      Seq("ok.txt"))
  }

  test("a catalog write's Hadoop conf resolves file: to the in-process filesystem") {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val cat = freshCat()
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[InsertIntoHadoopFsRelationCommand]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit =
        qe.logical.foreach {
          case c: InsertIntoHadoopFsRelationCommand => writes.add(c)
          case _ =>
        }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      cat.appendBatch("CLASS_PROMPTS", Seq(("a", "{}")).toDF("class_name", "prompts"), "0")
      org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(!writes.isEmpty, "no write seen")
    writes.forEach { c =>
      val conf = spark.sessionState.newHadoopConfWithOptions(c.options)
      val fs = new org.apache.hadoop.fs.Path(cat.root).getFileSystem(conf)
      assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass)
      assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRawFileSystem
        .isInstanceOf[InProcessRawLocalFileSystem])
    }
    // a session-wide read still sees Hadoop's own cached filesystem
    val plain = new org.apache.hadoop.fs.Path(cat.root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!plain.isInstanceOf[InProcessLocalFileSystem])
  }

  test("listStages unions filesystem stages with NEW_UPLOADS references") {
    val cat = freshCat()
    cat.putFile("fs_stage", "a.txt", "x".getBytes(StandardCharsets.UTF_8))
    cat.appendRows("NEW_UPLOADS", Seq(Row("f", "ref_stage/f", "ref_stage", false, now)))
    assert(cat.listStages() == Seq("fs_stage", "ref_stage"))
  }

  test("fields table is written partitioned by class_name and prunes on read") {
    val cat = freshCat()
    cat.appendBatch("DOCUMENTS_EXTRACTED_FIELDS",
      Seq(("u1", "f1", "invoice", "total", "\"100\""),
          ("u2", "f2", "report", "title", "\"t\""))
        .toDF("file_url", "file_ref", "class_name", "field_name", "field_value"), "0")
    // physical layout: one dir per class
    val dirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(cat.root, "tables", "DOCUMENTS_EXTRACTED_FIELDS"))
      .iterator()
    var names = List.empty[String]
    while (dirs.hasNext) names ::= dirs.next().getFileName.toString
    assert(names.exists(_.startsWith("class_name=invoice")), names.toString)
    // read back: full schema, and a class filter becomes a PartitionFilter
    val t = cat.table("DOCUMENTS_EXTRACTED_FIELDS")
    assert(t.count() == 2)
    val plan = t.filter(col("class_name") === "invoice")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(class_name"), plan)
    assert(t.filter(col("class_name") === "invoice").count() == 1)
  }

  test("compact collapses many small append files into few") {
    val cat = freshCat()
    (1 to 8).foreach { i =>
      cat.appendBatch("DOCUMENT_OCR",
        Seq((s"f$i", s"f$i", "{}", "s")).toDF("file_name", "file_ref", "ocr", "summary"), s"$i")
    }
    def fileCount = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat.root, "tables", "DOCUMENT_OCR"))
      try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
    }
    assert(fileCount >= 8, "each append writes its own file(s)")
    cat.compact("DOCUMENT_OCR")
    assert(fileCount == 1, s"compaction should leave one file, got $fileCount")
    assert(cat.table("DOCUMENT_OCR").count() == 8)
  }

  test("dropTable removes the table directory") {
    val cat = freshCat()
    cat.dropTable("DOCUMENT_OCR")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.root, "tables", "DOCUMENT_OCR")))
  }

  test("dropStage removes the stage directory") {
    val cat = freshCat()
    cat.putFile("gone", "a.txt", "x".getBytes(StandardCharsets.UTF_8))
    assert(cat.listStages().contains("gone"))
    cat.dropStage("gone")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.root, "stages", "gone")))
    assert(!cat.listStages().contains("gone"))
  }

  test("listTables + introspect report S10 object counts") {
    val cat = freshCat()
    assert(cat.listTables() == Catalog.schemas.keys.toSeq.sorted)
    cat.putFile("s1", "a.txt", "x".getBytes(StandardCharsets.UTF_8))
    val counts = cat.introspect().as[(String, Long)].collect().toMap
    assert(counts("tables") == Catalog.schemas.size.toLong)
    assert(counts("stages") == 1L)
    cat.dropTable("DOCUMENT_OCR")
    assert(cat.listTables() == Catalog.schemas.keys.toSeq.filter(_ != "DOCUMENT_OCR").sorted)
  }

  test("overwrite never has a window with no table data (bak-swap + recover)") {
    val cat = freshCat()
    cat.appendRows("CLASS_PROMPTS", promptRows("a", "b"))
    // normal swap: data replaced, no .bak/.tmp residue
    cat.deleteWhere("CLASS_PROMPTS", col("class_name") === "a")
    assert(cat.table("CLASS_PROMPTS").select("class_name").as[String].collect().toSeq == Seq("b"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.root, "tables", ".bak_CLASS_PROMPTS")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cat.root, "tables", ".tmp_CLASS_PROMPTS")))
    // simulate a crash between live->bak and tmp->live: live dir gone,
    // fresh data stranded in .tmp_ — recover() must restore it
    val live = java.nio.file.Paths.get(cat.root, "tables", "CLASS_PROMPTS")
    val tmp = java.nio.file.Paths.get(cat.root, "tables", ".tmp_CLASS_PROMPTS")
    java.nio.file.Files.move(live, tmp)
    cat.recover("CLASS_PROMPTS")
    assert(cat.table("CLASS_PROMPTS").count() == 1)
    // simulate a crash where only .bak_ survived (tmp write incomplete
    // and discarded): recover() must restore the previous data
    val bak = java.nio.file.Paths.get(cat.root, "tables", ".bak_CLASS_PROMPTS")
    java.nio.file.Files.move(live, bak)
    cat.recover("CLASS_PROMPTS")
    assert(cat.table("CLASS_PROMPTS").count() == 1)
  }

  test("cluster rewrites the table range-partitioned and sorted within files") {
    val cat = freshCat()
    // append in shuffled id order across several files
    Seq(Seq(7, 2), Seq(9, 1), Seq(4, 8), Seq(3, 6)).zipWithIndex.foreach { case (ids, b) =>
      cat.appendBatch("DOCUMENT_OCR",
        ids.map(i => (f"f$i%02d", f"f$i%02d", "{}", "s"))
          .toDF("file_name", "file_ref", "ocr", "summary"), s"$b")
    }
    cat.cluster("DOCUMENT_OCR", Seq("file_name"), numFiles = 2)
    assert(cat.table("DOCUMENT_OCR").count() == 8)
    // every data file individually sorted on the cluster key, and the
    // key ranges of different files must not interleave (range layout)
    val files = {
      val s = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat.root, "tables", "DOCUMENT_OCR"))
      try {
        val it = s.filter(p => p.toString.endsWith(".parquet")).iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().toString
        b.result()
      } finally s.close()
    }
    assert(files.size == 2, files.toString)
    val perFile = files.map { f =>
      val names = spark.read.parquet(f).select("file_name").as[String].collect()
      assert(names.sameElements(names.sorted), s"$f not sorted: ${names.toSeq}")
      (names.min, names.max)
    }.sortBy(_._1)
    assert(perFile.sliding(2).forall {
      case Seq((_, maxA), (minB, _)) => maxA <= minB
      case _ => true
    }, s"file ranges interleave: $perFile")
  }

  test("appendBatch is idempotent under replay of the same token") {
    val cat = freshCat()
    val rows = Seq(("u1", "f1", "invoice", "{}"), ("u2", "f2", "report", "{}"))
      .toDF("file_url", "file_ref", "class_name", "extraction_result")
    cat.appendBatch("DOCUMENTS_PROCESSED", rows, "7")
    cat.appendBatch("DOCUMENTS_PROCESSED", rows, "7") // crash-replay
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 2)
    cat.appendBatch("DOCUMENTS_PROCESSED", rows, "8") // next batch appends
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 4)
    // partitioned table path: subdirs preserved, same idempotence
    val fields = Seq(("u1", "f1", "invoice", "total", "\"1\""))
      .toDF("file_url", "file_ref", "class_name", "field_name", "field_value")
    cat.appendBatch("DOCUMENTS_EXTRACTED_FIELDS", fields, "0")
    cat.appendBatch("DOCUMENTS_EXTRACTED_FIELDS", fields, "0")
    assert(cat.table("DOCUMENTS_EXTRACTED_FIELDS").count() == 1)
    assert(cat.table("DOCUMENTS_EXTRACTED_FIELDS")
      .filter(col("class_name") === "invoice").count() == 1)
    // every published data file keeps its Hadoop checksum
    for (name <- Seq("DOCUMENTS_PROCESSED", "DOCUMENTS_EXTRACTED_FIELDS")) {
      val dir = java.nio.file.Paths.get(tableDir(cat, name))
      val files = dataFiles(cat, name)
      assert(files.nonEmpty, name)
      files.map(dir.resolve).foreach { f =>
        assert(java.nio.file.Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
      }
    }
  }

  test("a failed appendBatch leaves the table unchanged and no leftover beside it") {
    val cat = freshCat()
    val name = "DOCUMENTS_PROCESSED"
    val rows = Seq(("u1", "f1", "invoice", "{}"))
      .toDF("file_url", "file_ref", "class_name", "extraction_result")
    cat.appendBatch(name, rows, "1")
    val before = dataFiles(cat, name)
    // the UDF reads a column of a range, so it throws in the write's
    // task, not while the optimizer folds a local relation
    val boom = udf((s: String) => if (s != null) throw new IllegalStateException("boom") else s)
    val failing = spark.range(1).select(lit("u2").as("file_url"), lit("f2").as("file_ref"),
      lit("invoice").as("class_name"), boom(col("id").cast("string")).as("extraction_result"))
    // a failed replay of the same token keeps the earlier attempt's files
    intercept[Exception](cat.appendBatch(name, failing, "1"))
    assert(dataFiles(cat, name) == before)
    assert(cat.table(name).select("file_url").as[String].collect().toSeq == Seq("u1"))
    def leftovers = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(cat.root, "tables"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".") && n.contains(name)).toSeq
      finally s.close()
    }
    cat.ensureTables()
    assert(leftovers.isEmpty, leftovers)
    assert(dataFiles(cat, name) == before)
    cat.dropTable(name)
    assert(leftovers.isEmpty, leftovers)
  }

  /** Data files of a table, relative to its directory, sorted. */
  private def dataFiles(cat: Catalog, name: String): Seq[String] = dataFilesIn(tableDir(cat, name))

  private def dataFilesIn(path: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(path)
    val s = java.nio.file.Files.walk(dir)
    try s.iterator().asScala.map(dir.relativize(_).toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally s.close()
  }

  private def tableDir(cat: Catalog, name: String) = s"${cat.root}/tables/$name"

  test("appendRows reads back as the same rows written by appendBatch") {
    val at = java.sql.Timestamp.valueOf("2024-03-01 12:34:56.789123")
    val rows = Map(
      "DOCUMENTS_EXTRACTED_FIELDS" -> Seq(
        Row("@s/a.txt", "a.txt", "invoice", "total", "\"250\"", null, at),
        Row("@s/a.txt", "a.txt", "invoice", "vendor", null, 0.5, at),
        Row("@s/b.txt", "b.txt", "report", "title", "\"t\"", null, at)),
      "DOCUMENT_OCR" -> Seq(Row("a.txt", "a.txt", """{"content":"x"}""", "Summary: x", at)))
    val (viaJob, viaDriver) = (freshCat(), freshCat())
    for ((name, rs) <- rows) {
      val df = spark.createDataFrame(rs.asJava, Catalog.schemas(name))
      viaJob.appendBatch(name, df, "0")
      viaDriver.appendRows(name, rs)
      val ddl = Catalog.schemas(name).fieldNames.map(col)
      assert(viaDriver.table(name).select(ddl: _*).collect().toSet == rs.toSet, name)
      assert(viaDriver.table(name).collect().toSet == viaJob.table(name).collect().toSet, name)
      val (job, driver) = (spark.read.parquet(tableDir(viaJob, name)),
        spark.read.parquet(tableDir(viaDriver, name)))
      assert(driver.schema == job.schema, name)
      assert(driver.schema(driver.schema.fieldIndex(
        Catalog.schemas(name).fieldNames.last)).dataType == TimestampType, name)
      assert(driver.collect().toSet == job.collect().toSet, name)
      // a plain job write's file names and partition directories, another uuid
      val plain = tempDir("graft_cat_plain_").resolve(name).toString
      Catalog.partitionSpec.get(name).fold(df.write)(df.write.partitionBy(_: _*)).parquet(plain)
      val names = Seq(plain, tableDir(viaDriver, name)).map(dir => dataFilesIn(dir)
        .map(_.replaceAll("part-[0-9]{5}-[0-9a-f-]{36}", "part-N-<uuid>")).distinct)
      assert(names(1) == names(0) && names(0).nonEmpty, names)
      def partitionDirs(cat: Catalog) =
        dataFiles(cat, name).map(f => f.take(math.max(0, f.lastIndexOf('/')))).distinct
      assert(partitionDirs(viaJob) == partitionDirs(viaDriver), name)
    }
  }

  test("appendRows places escaped and null class names where the job writer does") {
    val name = "DOCUMENTS_EXTRACTED_FIELDS"
    val classes = Seq("a/b", "x=y", "50%", "", null)
    val rows = classes.map(c => Row("u", "f", c, "k", "v", null, null))
    val (viaJob, viaDriver) = (freshCat(), freshCat())
    viaJob.appendBatch(name, spark.createDataFrame(rows.asJava, Catalog.schemas(name)), "0")
    rows.foreach(r => viaDriver.appendRows(name, Seq(r)))
    def dirs(cat: Catalog) = dataFiles(cat, name).map(_.takeWhile(_ != '/')).distinct
    assert(dirs(viaDriver) == dirs(viaJob), dirs(viaJob))
    assert(dirs(viaJob).contains("class_name=a%2Fb"), dirs(viaJob))
    val t = viaDriver.table(name)
    for (c <- Seq("a/b", "x=y", "50%")) {
      val one = t.filter(col("class_name") === c)
      val plan = one.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(class_name"), plan)
      val read = one.select(input_file_name()).as[String].collect().toSeq
        .map(f => java.nio.file.Paths.get(new java.net.URI(f)).getParent.getFileName.toString)
      assert(read == Seq("class_name=" + ExternalCatalogUtils.escapePathName(c)), c)
    }
    // the empty and the null class share the default partition
    assert(t.filter(col("class_name").isNull).count() == 2)
    assert(t.collect().toSet == viaJob.table(name).collect().toSet)
  }

  test("an appendRows file never published is invisible and recovery deletes it") {
    val cat = freshCat()
    val name = "DOCUMENT_OCR"
    cat.appendRows(name, Seq(Row("a.txt", "a.txt", "{}", "s", null)))
    val live = java.nio.file.Paths.get(tableDir(cat, name))
    val Seq(published) = dataFiles(cat, name)
    // a crash after the write, before the move: the written file waits
    // under its pending name, its checksum beside it
    val pending = StoreSwap.pendingPath(live, "0-" + published)
    java.nio.file.Files.createDirectories(pending.getParent)
    java.nio.file.Files.copy(live.resolve(published), pending)
    java.nio.file.Files.copy(live.resolve(s".$published.crc"),
      pending.resolveSibling(s".${pending.getFileName}.crc"))
    assert(cat.table(name).count() == 1)
    assert(cat.listTables() == Catalog.schemas.keys.toSeq.sorted)
    cat.ensureTables()
    assert(!java.nio.file.Files.exists(pending.getParent))
    assert(cat.table(name).count() == 1 && dataFiles(cat, name) == Seq(published))
  }
}
