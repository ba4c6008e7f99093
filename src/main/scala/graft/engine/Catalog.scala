package graft.engine

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Warehouse catalog: the reference's five relational tables
  * (setup_database.sql:46-90, runtime DDL app:38-78) as parquet-backed
  * directories under a warehouse root, plus the stage abstraction
  * (a directory of binary documents with a queryable listing —
  * setup:26-29, app:136-141).
  *
  * VARIANT columns are stored as JSON strings (SURVEY §7.3: DuckDB-oracle
  * comparability; the reference itself stringifies for display at
  * app:750). Timestamps use the canonical setup-DDL shape; the app's
  * reduced runtime DDL (no timestamps) is handled by schema probing in
  * HistoryQueries, not by try/except query rewriting (SURVEY §1.3).
  *
  * Two append entry points, one publish discipline: [[appendRows]]
  * for rows the driver holds and [[appendBatch]] for a distributed
  * frame with a replay token both write complete files beside the
  * table, under [[StoreSwap.pendingPath]], and make them visible with
  * [[StoreSwap.publish]]. Every other change to a table directory is a
  * [[StoreSwap.rewrite]] swap (merge, delete, compact, cluster).
  *
  * The table's JVM-wide lock ([[Catalog.locked]]) covers only the
  * publish step or a rewrite, so concurrent requests on one warehouse
  * serialize per table there: a merge reads no file a concurrent
  * rewrite or publish changes, and an append's write runs unlocked.
  */
final class Catalog(val spark: SparkSession, val root: String) {

  import Catalog._

  private def tablePath(name: String): String = s"$root/tables/$name"

  private def locked[A](name: String)(body: => A): A = Catalog.locked(Paths.get(tablePath(name)))(body)

  /** CREATE TABLE IF NOT EXISTS x5 (S6; app:38-78, setup:46-90).
    * Also the warehouse-open hook: finishes any overwrite swap a crash
    * interrupted (recover) before touching the directories.
    */
  def ensureTables(): Unit = {
    Files.createDirectories(Paths.get(s"$root/tables"))
    Files.createDirectories(Paths.get(s"$root/stages"))
    schemas.foreach { case (name, _) =>
      recover(name)
      createEmptyIfAbsent(name)
    }
  }

  /** An empty table is just its directory + _SUCCESS: table() reads
    * with an explicit schema, so no parquet footer needs to exist and
    * init costs zero Spark jobs.
    */
  private def createEmptyIfAbsent(name: String): Unit = {
    val dir = Paths.get(tablePath(name))
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      Files.createDirectories(dir)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    }
  }

  /** Table scan (S5). Always schema-applied so empty tables read fine. */
  def table(name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(tablePath(name))

  /** Append sink for rows the driver already holds (S7; write_pandas
    * app:523-546): Spark's parquet writer runs here, on the Hadoop conf
    * of [[writeOptions]], one file per partition value, each written
    * under [[StoreSwap.pendingPath]] and then published into the table
    * ([[StoreSwap.publish]]), with no Spark job. Format, partition
    * directories and file names are a job write's: tables with a
    * partition spec are written partitioned, so reads filtering on the
    * partition column prune whole directories. `rows` hold every column
    * of the table's schema in DDL order: the caller stamps the
    * timestamps (F12: parquet has no DEFAULT autofill). Files of
    * different partitions are published one by one.
    */
  def appendRows(name: String, rows: Seq[Row]): Unit = {
    val schema = schemas(name)
    val parts = partitionSpec.getOrElse(name, Nil).map(schema.fieldIndex)
    val data = schema.indices.filterNot(parts.contains)
    val dataSchema = StructType(data.map(schema.fields))
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(writeOptions))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    val factory = new ParquetFileFormat().prepareWrite(spark, job, writeOptions, dataSchema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    // Spark names a partitioned write's files `.c000`, others `-c000`
    val counter = if (parts.isEmpty) "-c000" else ".c000"
    val file = s"part-00000-${java.util.UUID.randomUUID()}$counter${factory.getFileExtension(context)}"
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dataSchema)
    val live = Paths.get(tablePath(name))
    val written = rows.groupBy(partitionDir(schema, parts, _)).toSeq.zipWithIndex.map {
      case ((dir, group), i) =>
        val pending = StoreSwap.pendingPath(live, s"$i-$file")
        val writer = factory.newInstance(pending.toString, dataSchema, context)
        try group.foreach(r =>
          writer.write(toCatalyst(Row.fromSeq(data.map(r.get))).asInstanceOf[InternalRow]))
        finally writer.close()
        pending -> live.resolve(dir).resolve(file)
    }
    locked(name)(written.foreach { case (pending, target) => StoreSwap.publish(pending, target) })
  }

  /** The partition directory of `row` (relative, `""` when unpartitioned)
    * as Spark's writer names it: escaped `col=value` segments, and an
    * empty or null value as the default partition.
    */
  private def partitionDir(schema: StructType, parts: Seq[Int], row: Row): String =
    parts.map { i =>
      val value = Option(row.get(i)).map(_.toString).filter(_.nonEmpty).orNull
      ExternalCatalogUtils.getPartitionPathString(schema(i).name, value)
    }.mkString("/")

  /** The one parquet writer of table data: partitioned per
    * [[partitionSpec]], with `file:` resolved to
    * [[InProcessLocalFileSystem]] for this write only
    * ([[Catalog.writeOptions]]).
    */
  private def write(name: String, df: DataFrame, mode: SaveMode, path: String): Unit = {
    val writer = df.write.mode(mode).options(writeOptions)
    partitionSpec.get(name).fold(writer)(cols => writer.partitionBy(cols: _*)).parquet(path)
  }

  /** Fill schema columns missing from `df`: timestamps get the F12
    * write-time default, everything else NULL; project to DDL order.
    */
  private def withDefaults(name: String, df: DataFrame): DataFrame = {
    val schema = schemas(name)
    val filled = schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else if (f.dataType.isInstanceOf[TimestampType] || f.name.endsWith("_at"))
        d.withColumn(f.name, current_timestamp())
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    filled.select(schema.fieldNames.map(col): _*)
  }

  /** Idempotent append of a distributed frame for streaming
    * foreachBatch (X2): replaying the same (table, token) after a crash
    * between append and checkpoint commit must not double-append. The
    * batch's job writes, outside the table lock, under
    * [[StoreSwap.pendingPath]]; then, under the lock, any files of an
    * earlier attempt of the SAME token are removed and the fresh ones
    * published ([[StoreSwap.publish]]) under token-stamped names in
    * their partition subdirectories (partitionSpec) — so the final
    * state after any number of replays is exactly one copy. Missing
    * columns are filled as [[withDefaults]] says.
    */
  def appendBatch(name: String, df: DataFrame, token: String): Unit = {
    // no '-' in tokens: replay cleanup matches files by the "-b<token>"
    // suffix, and a '-' inside one token could make it a suffix of
    // another token's files (e.g. "a-b1" vs "1"), deleting their data
    require(token.matches("[A-Za-z0-9_]+"), s"unsafe batch token: $token")
    val live = Paths.get(tablePath(name))
    val staged = StoreSwap.pendingPath(live, token)
    val suffix = s"-b$token.parquet"
    try {
      write(name, withDefaults(name, df), SaveMode.Overwrite, staged.toString)
      locked(name) {
        filesUnder(live, suffix).foreach(StoreSwap.unpublish)
        filesUnder(staged, ".parquet").zipWithIndex.foreach { case (file, i) =>
          val target = live.resolve(staged.relativize(file)).resolveSibling(f"part-$i%05d$suffix")
          StoreSwap.publish(file, target)
        }
      }
    } finally StoreSwap.deleteTree(staged)
  }

  /** MERGE upsert persisted (J5): anti-join + union, written to a temp
    * directory then atomically swapped in (SURVEY §7.4 risk 1 — no table
    * format offline, so single-writer directory swap).
    */
  def merge(name: String, source: DataFrame, keys: Seq[String]): Unit =
    locked(name)(overwrite(name, graft.ops.Relational.mergeInto(table(name), source, keys)))

  /** DELETE WHERE (app:198): rewrite without matching rows. */
  def deleteWhere(name: String, pred: org.apache.spark.sql.Column): Unit =
    locked(name)(overwrite(name, table(name).filter(!pred)))

  /** Rewrite a table through the store module's bak-swap: the new
    * data is staged complete at `.tmp_<name>`, then swapped in — a
    * crash at any instant leaves the old or the new table for
    * [[recover]] to restore, never nothing.
    */
  private def overwrite(name: String, df: DataFrame): Unit =
    StoreSwap.rewrite(Paths.get(tablePath(name)))(write(name, df, SaveMode.Overwrite, _))

  /** Crash recovery for an interrupted [[overwrite]] swap
    * ([[StoreSwap.recover]]): a complete `.tmp_` rolls forward, else
    * the `.bak_` rolls back; leftovers, unpublished appends included,
    * are dropped.
    */
  def recover(name: String): Unit = StoreSwap.recover(Paths.get(tablePath(name)))

  /** DROP TABLE (S9; cleanup:14-28). Also removes swap and append
    * remnants (.tmp_/.bak_/.append_), so a dropped table can never be
    * resurrected by [[recover]] on the next warehouse open.
    */
  def dropTable(name: String): Unit = StoreSwap.drop(Paths.get(tablePath(name)))

  /** DROP STAGE (cleanup:17-20): remove a stage directory and its files. */
  def dropStage(stage: String): Unit = StoreSwap.deleteTree(stageDir(stage))

  /** SHOW TABLES (S10; setup:148-161, cleanup:41-45): warehouse table
    * names present on disk (directory exists), sorted.
    */
  def listTables(): Seq[String] = {
    val d = Paths.get(s"$root/tables")
    if (!Files.exists(d)) Seq.empty
    else {
      val s = Files.list(d)
      try {
        val it = s.iterator()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (!n.startsWith(".")) b += n
        }
        b.result().sorted
      } finally s.close()
    }
  }

  /** INFORMATION_SCHEMA-style object counts (S10; setup:148-161's
    * verification query): one row per object kind, as a DataFrame so
    * it composes with the rest of the query surface.
    */
  def introspect(): DataFrame = {
    import spark.implicits._
    Seq(
      ("tables", listTables().size.toLong),
      ("stages", listStages().size.toLong))
      .toDF("object_kind", "n")
  }

  /** Compact a table's small files: streaming/per-document appends
    * leave one parquet file per micro-batch write, and scan-task count
    * (and NameNode/listing pressure at 100 TB) grows with file count,
    * not data size. Rewrites the table into ceil(bytes/targetBytes)
    * files via the same atomic temp-swap as merge. Run out-of-band
    * (single-writer, like merge).
    */
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024): Unit = locked(name) {
    val dir = Paths.get(tablePath(name))
    if (Files.exists(dir)) {
      val bytes = filesUnder(dir, ".parquet").map(Files.size).sum
      val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      overwrite(name, table(name).repartition(parts))
    }
  }

  /** Cluster a table's data layout by sort key (the sorted-rewrite half
    * of Z-ORDER): rows are range-partitioned across files and sorted
    * within them, so parquet row-group min/max statistics prune scans
    * that filter on the leading cluster column — at 100 TB a range
    * predicate then touches a handful of files instead of every one.
    * Same single-writer atomic bak-swap as merge/compact; run
    * out-of-band like compaction.
    */
  def cluster(name: String, cols: Seq[String], numFiles: Int = 0): Unit = {
    require(cols.nonEmpty, "cluster needs at least one sort column")
    val parts =
      if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    locked(name)(overwrite(name,
      table(name).repartitionByRange(parts, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)))
  }

  /** Session context probe (S4; app:90-96): who/where, as a one-row
    * frame like the reference's `SELECT CURRENT_ROLE(), CURRENT_DATABASE(),
    * CURRENT_SCHEMA()`.
    */
  def context(): DataFrame =
    spark.sql("SELECT current_user() AS current_role, " +
      "current_database() AS current_database, current_schema() AS current_schema")

  // ---- stages (S1-S3) ----

  def stageDir(stage: String): String = s"$root/stages/$stage"

  /** File ingest (S2; put_stream app:379, app:918). A path holding
    * `:` is refused before anything is written: Hadoop parses the
    * checksum sibling `.x:y.crc` as a URI with a scheme, so one such
    * file would fail every scan of its stage.
    */
  def putFile(stage: String, relativePath: String, bytes: Array[Byte]): Unit = {
    require(!relativePath.contains(':'),
      s"stage @$stage cannot hold '$relativePath': Spark cannot read back a path with ':'")
    val p = Paths.get(stageDir(stage), relativePath)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Directory-table scan (S1; app:136-141): list stage files as rows
    * (relative_path, file_url, size, content). Lists and reads the
    * whole stage, nested directories included — the batch-SQL shape.
    * Uses the binaryFile source so the same scan works on HDFS/S3 at
    * scale; content column is pruned away by Catalyst unless actually
    * referenced.
    */
  def directory(stage: String): DataFrame = stageRows(stage, stageDir(stage))

  /** The [[directory]] row of ONE staged file (`TO_FILE('@stage', path)`,
    * app:205-208), read by its path: an interactive request lists and
    * reads one file, however large the stage. Hadoop's glob characters
    * in the path are escaped, so `a[1].txt` or `b{x,y}.txt` name
    * themselves. A path that names a directory yields no row. Throws
    * NoSuchElementException when nothing exists at the path.
    */
  def stagedFile(stage: String, relativePath: String): DataFrame = {
    val rows =
      try stageRows(stage, globEscape(s"${stageDir(stage)}/$relativePath"))
      catch {
        case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          throw new NoSuchElementException(s"no file '$relativePath' in stage @$stage")
      }
    rows.filter(col("relative_path") === relativePath)
  }

  /** binaryFile rows under `path` in the stage's directory-table shape;
    * shared by [[directory]] and [[stagedFile]].
    */
  private def stageRows(stage: String, path: String): DataFrame = {
    val relative = regexp_replace(col("path"), Catalog.stagePathPrefix(stage), "")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true") // stages nest (FIXTURES A4)
      .load(path)
      .select(
        relative.as("relative_path"),
        concat(lit(s"@$stage/"), relative).as("file_url"),
        col("length"),
        col("content"))
  }

  /** Stage catalog listing (S3; app:108-133): registered stage dirs
    * unioned with distinct stage names referenced by NEW_UPLOADS.
    */
  def listStages(): Seq[String] = {
    val d = Paths.get(s"$root/stages")
    val fsStages =
      if (!Files.exists(d)) Seq.empty[String]
      else {
        val s = Files.list(d)
        try {
          val it = s.iterator()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().getFileName.toString
          b.result()
        } finally s.close()
      }
    val refStages = table("NEW_UPLOADS").select("stage_name").distinct()
      .collect().map(_.getString(0)).toSeq.filter(_ != null)
    (fsStages ++ refStages).distinct.sorted
  }
}

object Catalog {
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[Path, AnyRef]()

  /** `body` holding the JVM-wide lock of the table directory `live`
    * (reentrant: a merge rewrites under the lock it read under).
    */
  private def locked[A](live: Path)(body: => A): A =
    tableLocks.computeIfAbsent(live.toAbsolutePath.normalize, _ => new Object).synchronized(body)

  /** Files under `dir` whose names end with `suffix`, sorted; none when
    * `dir` is absent.
    */
  private def filesUnder(dir: Path, suffix: String): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toSeq.sortBy(_.toString)
      finally walk.close()
    }

  /** Regex matching everything up to and including a stage's directory
    * in a file path. Stage names are Pattern-quoted so regex
    * metacharacters in them ("v1.2", "a+b") match literally. Shared by
    * the batch directory scan and the streaming source.
    */
  def stagePathPrefix(stage: String): String =
    ".*/stages/" + java.util.regex.Pattern.quote(stage) + "/"

  /** `path` with Hadoop's glob characters escaped by a backslash, so a
    * load reads exactly the file it names.
    */
  private def globEscape(path: String): String =
    path.replaceAll("""([\\*?\[\]{}])""", """\\$1""")

  /** Write options of every catalog write: `file:` resolves to
    * [[InProcessLocalFileSystem]] in this write's Hadoop conf, on the
    * driver and in its tasks. The cache is bypassed because Hadoop's
    * FileSystem cache keys by scheme, not implementation.
    */
  private val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Fixed schema of Spark's binaryFile source — streaming file
    * sources require it explicitly.
    */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Partition layout per table (SURVEY §7.1 scale rule 7): the
    * normalized fields table is the big one — partitioning it by
    * class_name turns per-class history queries into partition-pruned
    * scans.
    */
  val partitionSpec: Map[String, Seq[String]] = Map(
    "DOCUMENTS_EXTRACTED_FIELDS" -> Seq("class_name"))

  /** Canonical DDL from setup:46-90; VARIANT -> JSON string. */
  val schemas: Map[String, StructType] = Map(
    "CLASS_PROMPTS" -> StructType(Seq(
      StructField("class_name", StringType),
      StructField("prompts", StringType),       // VARIANT (JSON)
      StructField("created_at", TimestampType),
      StructField("updated_at", TimestampType))),
    "DOCUMENTS_PROCESSED" -> StructType(Seq(
      StructField("file_url", StringType),
      StructField("file_ref", StringType),
      StructField("class_name", StringType),
      StructField("extraction_result", StringType), // VARIANT (JSON)
      StructField("processed_at", TimestampType))),
    "DOCUMENTS_EXTRACTED_FIELDS" -> StructType(Seq(
      StructField("file_url", StringType),
      StructField("file_ref", StringType),
      StructField("class_name", StringType),
      StructField("field_name", StringType),
      StructField("field_value", StringType),   // VARIANT (JSON)
      StructField("confidence", DoubleType),    // always NULL today (app:537)
      StructField("extracted_at", TimestampType))),
    "NEW_UPLOADS" -> StructType(Seq(
      StructField("file_name", StringType),
      StructField("file_ref", StringType),
      StructField("stage_name", StringType),
      StructField("processed", BooleanType),
      StructField("uploaded_at", TimestampType))),
    "DOCUMENT_OCR" -> StructType(Seq(
      StructField("file_name", StringType),
      StructField("file_ref", StringType),
      StructField("ocr", StringType),           // VARIANT (JSON)
      StructField("summary", StringType),
      StructField("processed_at", TimestampType))))
}
