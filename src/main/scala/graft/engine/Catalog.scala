package graft.engine

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
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
  */
final class Catalog(val spark: SparkSession, val root: String) {

  import Catalog._

  private def tablePath(name: String): String = s"$root/tables/$name"

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

  /** Schemas visible to this catalog instance: the 5 fixed pipeline
    * tables plus any [[declareEdgeTable]]-registered user tables.
    */
  private val extraSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private def schemaOf(name: String): StructType =
    Option(extraSchemas.get(name)).getOrElse(schemas(name))

  /** Table scan (S5). Always schema-applied so empty tables read fine. */
  def table(name: String): DataFrame =
    spark.read.schema(schemaOf(name)).parquet(tablePath(name))

  /** Append sink (S7; write_pandas app:523-546). Timestamp defaults
    * stamped at write time (F12: parquet has no DEFAULT autofill).
    * Tables with a partition spec are written partitioned so reads
    * filtering on the partition column prune whole directories — at
    * 100 TB, per-class queries on the fields table touch only their
    * class's partitions.
    */
  def append(name: String, df: DataFrame): Unit = {
    val shaped = withDefaults(name, df)
    // declared edge/fact tables pay their sizing aggregate at WRITE
    // time — the ingestion-side fact the rank loops consume as a
    // GraphSizing hint instead of re-scanning the stored table. The
    // aggregate reads back EXACTLY THE FILES THIS BATCH WROTE (data
    // files present after the append minus those present before):
    // stats are consistent with the stored rows even under a
    // non-deterministic batch lineage (sampling, current_timestamp
    // defaults), the write itself STREAMS — no localCheckpoint pin
    // holding a 100M-row initial load in executor memory, the exact
    // heap-bomb shape Graph.reliableEdgeThreshold exists to guard —
    // and a columnar re-read of the batch's own parquet is the cheap
    // side of that trade. The before/after file diff is sound because
    // appends are single-writer like every catalog mutation (the
    // overwrite bak-swap contract); a crash BETWEEN the data write
    // and the stats merge leaves stats one batch behind — the stored
    // rows, never the stats, are the source of truth, and
    // [[refreshSizing]] (or any rewrite) re-derives them exactly.
    val sized = edgeDecls.contains(name) || factDecls.contains(name)
    val before = if (sized) listDataFiles(name) else Set.empty[String]
    val writer = shaped.write.mode(SaveMode.Append)
    partitionSpec.get(name).fold(writer)(cols => writer.partitionBy(cols: _*))
      .parquet(tablePath(name))
    if (sized) {
      val fresh = (listDataFiles(name) -- before).toSeq.sorted
      // basePath restores partition columns dropped from partitioned
      // tables' data files; an empty batch writes no data files and
      // contributes empty-batch stats
      val batchDf =
        if (fresh.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[Row](), schemaOf(name))
        else spark.read.option("basePath", tablePath(name))
          .schema(schemaOf(name)).parquet(fresh: _*)
      edgeDecls.get(name).foreach { case (sc, dc) =>
        mergeSizing(name, batchSizing(batchDf, sc, dc))
      }
      factDecls.get(name).foreach(kc =>
        mergeFactSizing(name, factBatchStats(batchDf, kc)))
    }
  }

  /** Data files currently under `name`'s table dir (recursive — past
    * partition subdirectories), excluding markers and hidden/staging
    * entries: the before/after snapshot [[append]] diffs to read back
    * exactly one batch.
    */
  private def listDataFiles(name: String): Set[String] = {
    val dir = Paths.get(tablePath(name))
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try {
        val b = Set.newBuilder[String]
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          val fn = p.getFileName.toString
          if (Files.isRegularFile(p) && !fn.startsWith(".") &&
            !fn.startsWith("_")) b += p.toString
        }
        b.result()
      } finally s.close()
    }
  }

  /** Recompute a declared edge/fact table's sizing stats from the
    * stored rows — the repair hook for stats lost to a crash between
    * an append's data write and its stats merge (also turns the
    * accumulated fact `max_key_rows` lower bound exact).
    */
  def refreshSizing(name: String): Unit = {
    edgeDecls.get(name).foreach { case (sc, dc) =>
      writeSizing(name, sc, dc, batchSizing(table(name), sc, dc))
    }
    factDecls.get(name).foreach(kc =>
      writeFactSizing(name, kc, factBatchStats(table(name), kc)))
  }

  /** Fill schema columns missing from `df`: timestamps get the F12
    * write-time default, everything else NULL; project to DDL order.
    */
  private def withDefaults(name: String, df: DataFrame): DataFrame = {
    val schema = schemaOf(name)
    val filled = schema.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else if (f.dataType.isInstanceOf[TimestampType] || f.name.endsWith("_at"))
        d.withColumn(f.name, current_timestamp())
      else d.withColumn(f.name, lit(null).cast(f.dataType))
    }
    filled.select(schema.fieldNames.map(col): _*)
  }

  /** Idempotent append for streaming foreachBatch (X2): replaying the
    * same (table, token) after a crash between append and checkpoint
    * commit must not double-append. The batch is staged to a temp dir,
    * any files from a previous attempt of the SAME token are removed,
    * then the fresh files move in under token-stamped names — so the
    * final state after any number of replays is exactly one copy.
    * Partition subdirectories (partitionSpec) are preserved.
    */
  def appendBatch(name: String, df: DataFrame, token: String): Unit = {
    // no '-' in tokens: replay cleanup matches files by the "-b<token>"
    // suffix, and a '-' inside one token could make it a suffix of
    // another token's files (e.g. "a-b1" vs "1"), deleting their data
    require(token.matches("[A-Za-z0-9_]+"), s"unsafe batch token: $token")
    val tmp = s"$root/tables/.stage_${name}_$token"
    val writer = withDefaults(name, df).write.mode(SaveMode.Overwrite)
    partitionSpec.get(name).fold(writer)(cols => writer.partitionBy(cols: _*))
      .parquet(tmp)
    val tmpPath = Paths.get(tmp)
    val target = Paths.get(tablePath(name))
    Files.createDirectories(target)
    // clear leftovers of a prior attempt of this token (crash mid-move)
    val suffix = s"-b$token.parquet"
    val old = Files.walk(target)
    try old.filter(p => p.getFileName.toString.endsWith(suffix))
      .forEach(p => Files.delete(p))
    finally old.close()
    // move fresh files in, preserving partition subdirs, token-stamped
    val walk = Files.walk(tmpPath)
    val fresh =
      try {
        val it = walk.filter(p => p.getFileName.toString.endsWith(".parquet")).iterator()
        val b = Seq.newBuilder[java.nio.file.Path]
        while (it.hasNext) b += it.next()
        b.result().sortBy(_.toString)
      } finally walk.close()
    fresh.zipWithIndex.foreach { case (src, i) =>
      val rel = tmpPath.relativize(src)
      val destDir = if (rel.getParent == null) target else target.resolve(rel.getParent)
      Files.createDirectories(destDir)
      Files.move(src, destDir.resolve(f"part-$i%05d$suffix"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    if (!Files.exists(target.resolve("_SUCCESS")))
      Files.write(target.resolve("_SUCCESS"), Array.emptyByteArray)
    deleteRecursively(tmpPath)
  }

  /** MERGE upsert persisted (J5): anti-join + union, written to a temp
    * directory then atomically swapped in (SURVEY §7.4 risk 1 — no table
    * format offline, so single-writer directory swap).
    */
  def merge(name: String, source: DataFrame, keys: Seq[String]): Unit = {
    val merged = graft.ops.Relational.mergeInto(table(name), source, keys)
    overwrite(name, merged)
  }

  /** DELETE WHERE (app:198): rewrite without matching rows. */
  def deleteWhere(name: String, pred: org.apache.spark.sql.Column): Unit =
    overwrite(name, table(name).filter(!pred))

  private def overwrite(name: String, df: DataFrame): Unit = {
    val tmp = s"$root/tables/.tmp_$name"
    val writer = df.write.mode(SaveMode.Overwrite)
    partitionSpec.get(name).fold(writer)(cols => writer.partitionBy(cols: _*))
      .parquet(tmp)
    // re-point the table directory at the fresh data
    bakSwap(tmp, tablePath(name), s"$root/tables/.bak_$name")
    // a rewrite invalidates append-accumulated sizing stats — refresh
    // from the stored table (cluster/merge/deleteWhere all land here)
    refreshSizing(name)
  }

  /** Crash recovery for an interrupted [[overwrite]] swap: if the live
    * dir vanished mid-swap, restore whichever staged copy is COMPLETE
    * (.tmp_ only counts when its _SUCCESS marker exists — a crash
    * mid-parquet-write leaves a partial .tmp_ that must never become
    * the live table; else .bak_ = the previous data). Incomplete .tmp_
    * remnants are deleted either way so they cannot resurrect later.
    */
  def recover(name: String): Unit = {
    val target = Paths.get(tablePath(name))
    val tmp = Paths.get(s"$root/tables/.tmp_$name")
    val bak = Paths.get(s"$root/tables/.bak_$name")
    val tmpComplete = Files.exists(tmp.resolve("_SUCCESS"))
    if (!Files.exists(target)) {
      if (tmpComplete) Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
      else if (Files.exists(bak)) Files.move(bak, target, StandardCopyOption.ATOMIC_MOVE)
    }
    if (Files.exists(tmp) && !Files.exists(tmp.resolve("_SUCCESS")))
      deleteRecursively(tmp)
  }

  /** Single-writer bak-swap of the staged `tmp` dir in as `target`:
    * live -> .bak, tmp -> live, drop .bak. At no instant is the target
    * deleted without its replacement staged — a crash leaves either the
    * old live dir or the old data intact under .bak, never nothing.
    * recover() (called on open) finishes an interrupted table swap.
    */
  private def bakSwap(tmp: String, target: String, bak: String): Unit = {
    val (t, b) = (Paths.get(target), Paths.get(bak))
    deleteRecursively(b)
    if (Files.exists(t)) Files.move(t, b, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), t, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(b)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => Files.delete(x))
    }
  }

  /** DROP TABLE (S9; cleanup:14-28). Also removes swap remnants
    * (.tmp_/.bak_) so a dropped table can never be resurrected by
    * [[recover]] on the next warehouse open.
    */
  def dropTable(name: String): Unit = {
    deleteRecursively(Paths.get(tablePath(name)))
    deleteRecursively(Paths.get(s"$root/tables/.tmp_$name"))
    deleteRecursively(Paths.get(s"$root/tables/.bak_$name"))
  }

  /** DROP STAGE (cleanup:17-20): remove a stage directory and its files. */
  def dropStage(stage: String): Unit = deleteRecursively(Paths.get(stageDir(stage)))

  /** SHOW TABLES (S10; setup:148-161, cleanup:41-45): warehouse table
    * names present on disk (directory exists), sorted.
    */
  // ------------------------------------------------------------------
  // Declared edge tables: catalog-maintained GraphSizing stats
  // (SURVEY §7-adjacent: the round-13 rank loops consume (edge rows,
  // per-side HLL node counts) as sizing hints; this records those
  // facts at WRITE time — one aggregate per appended batch, HLL
  // sketches unioned incrementally — so a rank run on a stored edge
  // table never pays its own sizing scan.)
  // ------------------------------------------------------------------

  private val edgeDecls =
    new scala.collection.concurrent.TrieMap[String, (String, String)]()


  /** One-row batch statistics: (rows, src HLL sketch, dst HLL sketch). */
  private def batchSizing(df: DataFrame, srcCol: String,
                          dstCol: String): Row =
    df.agg(count(lit(1)).as("edge_rows"),
      hll_sketch_agg(col(srcCol)).as("src_sketch"),
      hll_sketch_agg(col(dstCol)).as("dst_sketch")).head()

  private def sizingSchema: StructType = StructType(Seq(
    StructField("src_col", StringType),
    StructField("dst_col", StringType),
    StructField("edge_rows", LongType),
    StructField("src_sketch", BinaryType),
    StructField("dst_sketch", BinaryType)))

  /** Bak-swap a one-row stats frame into `.{store}_{name}` — the same
    * crash posture as [[overwrite]]: the old delete-then-move left a
    * window with NO store on disk; now a crash at any instant leaves
    * either the live dir or a complete .bak for [[readStore]] to fall
    * back to. Shared by the edge and fact sizing stores.
    */
  private def swapInStore(store: String, name: String, row: Row,
                          schema: StructType): Unit = {
    val tmp = s"$root/tables/.tmp_${store}_$name"
    spark.createDataFrame(java.util.Collections.singletonList(row), schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    bakSwap(tmp, s"$root/tables/.${store}_$name",
      s"$root/tables/.bak_${store}_$name")
  }

  private def readStore(store: String, name: String,
                        schema: StructType): Option[Row] = {
    def complete(dir: String) =
      Files.exists(Paths.get(dir).resolve("_SUCCESS"))
    val live = s"$root/tables/.${store}_$name"
    val bak = s"$root/tables/.bak_${store}_$name"
    val pick =
      if (complete(live)) Some(live)
      else if (complete(bak)) Some(bak) // interrupted swap: old stats
      else None
    pick.flatMap(d =>
      spark.read.schema(schema).parquet(d).collect().headOption)
  }

  private def writeSizing(name: String, srcCol: String, dstCol: String,
                          stats: Row): Unit =
    swapInStore("sizing", name, Row(srcCol, dstCol, stats.getLong(0),
      if (stats.isNullAt(1)) null else stats.get(1),
      if (stats.isNullAt(2)) null else stats.get(2)), sizingSchema)

  private def readSizing(name: String): Option[Row] =
    readStore("sizing", name, sizingSchema)

  /** Declare `name` a stored edge table with the given schema: the
    * catalog creates it empty if absent and maintains (edge rows,
    * per-side HLL node-count sketches) across [[append]]s and
    * rewrites. Idempotent — re-opening a warehouse re-declares and
    * picks up the persisted stats. An empty-sketch store reads as
    * zero nodes; a batch append pays ONE extra aggregate over the
    * batch (the ingestion-time price the sizing doc describes).
    */
  def declareEdgeTable(name: String, srcCol: String, dstCol: String,
                       schema: StructType): Unit = {
    require(schema.fieldNames.contains(srcCol) &&
      schema.fieldNames.contains(dstCol),
      s"edge schema must carry $srcCol and $dstCol")
    extraSchemas.put(name, schema)
    edgeDecls.put(name, (srcCol, dstCol))
    recover(name)
    createEmptyIfAbsent(name)
    // first declaration: seed stats from whatever the table already
    // holds (one scan, the ingestion-time price; empty table → 0 rows
    // + null sketches). Re-declarations pick up the persisted store.
    if (readSizing(name).isEmpty)
      writeSizing(name, srcCol, dstCol,
        batchSizing(table(name), srcCol, dstCol))
  }

  /** Union `batch` statistics into the stored sizing row. */
  private def mergeSizing(name: String, batch: Row): Unit = {
    val (sc, dc) = edgeDecls(name)
    val prior = readSizing(name)
    val rows = prior.map(_.getLong(2)).getOrElse(0L) + batch.getLong(0)
    writeSizing(name, sc, dc, Row(rows,
      unionSketch(prior, 3, batch, 1), unionSketch(prior, 4, batch, 2)))
  }

  /** HLL union of the prior store's sketch (column `pi`) and the
    * batch's sketch (column `bi`); a null side leaves the other as is.
    */
  private def unionSketch(prior: Option[Row], pi: Int,
                          batch: Row, bi: Int): Any = {
    val b = if (batch.isNullAt(bi)) null else batch.get(bi)
    val p = prior.filter(!_.isNullAt(pi)).map(_.get(pi)).orNull
    (p, b) match {
      case (null, x) => x
      case (x, null) => x
      case (x, y) =>
        // two binary sketches → hll_union via one local-relation row
        spark.createDataFrame(
            java.util.Collections.singletonList(Row(x, y)),
            StructType(Seq(StructField("a", BinaryType),
              StructField("b", BinaryType))))
          .select(hll_union(col("a"), col("b"))).head().get(0)
    }
  }

  /** The catalog-recorded [[graft.ops.Graph.GraphSizing]] for a
    * declared edge table — what a rank loop passes as `sizingHint`
    * instead of scanning. None when the table was never declared or
    * has no stats yet.
    */
  def sizingHint(name: String): Option[graft.ops.Graph.GraphSizing] =
    readSizing(name).map { r =>
      graft.ops.Graph.GraphSizing(r.getLong(2),
        estimateSketch(r, 3), estimateSketch(r, 4))
    }

  private def estimateSketch(r: Row, i: Int): Long =
    if (r.isNullAt(i)) 0L
    else spark.createDataFrame(
        java.util.Collections.singletonList(Row(r.get(i))),
        StructType(Seq(StructField("s", BinaryType))))
      .select(hll_sketch_estimate(col("s"))).head().getLong(0)

  // ------------------------------------------------------------------
  // Fact-table sizing (the edge-table machinery generalized, round-15
  // task 8): a declared fact table maintains (rows, HLL key sketch,
  // hottest-key row count) across appends — the three numbers
  // [[graft.ops.Skew.adviseSalts]] turns into a measured salt
  // suggestion, so the ingestion side records what the join side
  // would otherwise re-scan 60M rows to learn.
  // ------------------------------------------------------------------

  private val factDecls =
    new scala.collection.concurrent.TrieMap[String, String]()

  private def factSchema: StructType = StructType(Seq(
    StructField("key_col", StringType),
    StructField("rows", LongType),
    StructField("key_sketch", BinaryType),
    StructField("max_key_rows", LongType)))

  /** One-row fact batch statistics: a per-key count aggregate feeding
    * (total rows, key sketch, max per-key count) — the two-level
    * shape is the ingestion price of knowing the hot-key mass.
    * NULL-key rows are excluded throughout: they can never match in
    * the equi-join [[graft.ops.Skew.saltedJoin]] performs, so counting
    * the null group would both inflate `rows` against the
    * null-ignoring key sketch and let a null-heavy table report the
    * null group as its hottest key — over-advising salt for a key
    * that carries no join work. `rows` therefore means
    * JOIN-PARTICIPATING rows, the quantity salt advice is about.
    */
  private def factBatchStats(df: DataFrame, keyCol: String): Row =
    df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__kn"))
      .agg(coalesce(sum(col("__kn")), lit(0L)).as("rows"),
        hll_sketch_agg(col(keyCol)).as("key_sketch"),
        coalesce(max(col("__kn")), lit(0L)).as("max_key_rows")).head()

  /** Declare `name` a stored fact table keyed by `keyCol`: creates it
    * empty if absent and maintains [[FactSizing]] across appends and
    * rewrites, crash-safe under the same bak-swap as the edge store.
    * `max_key_rows` accumulated over appends is a LOWER BOUND (a key
    * split across batches counts per batch); every rewrite — and
    * [[refreshSizing]] — recomputes it exactly from the stored rows.
    */
  def declareFactTable(name: String, keyCol: String,
                       schema: StructType): Unit = {
    require(schema.fieldNames.contains(keyCol),
      s"fact schema must carry $keyCol")
    extraSchemas.put(name, schema)
    factDecls.put(name, keyCol)
    recover(name)
    createEmptyIfAbsent(name)
    if (readStore("factsizing", name, factSchema).isEmpty)
      writeFactSizing(name, keyCol, factBatchStats(table(name), keyCol))
  }

  private def writeFactSizing(name: String, keyCol: String, stats: Row): Unit =
    swapInStore("factsizing", name, Row(keyCol, stats.getLong(0),
      if (stats.isNullAt(1)) null else stats.get(1),
      stats.getLong(2)), factSchema)

  private def mergeFactSizing(name: String, batch: Row): Unit = {
    val keyCol = factDecls(name)
    val prior = readStore("factsizing", name, factSchema)
    val rows = prior.map(_.getLong(1)).getOrElse(0L) + batch.getLong(0)
    val maxKey = math.max(prior.map(_.getLong(3)).getOrElse(0L),
      batch.getLong(2))
    writeFactSizing(name, keyCol,
      Row(rows, unionSketch(prior, 2, batch, 1), maxKey))
  }

  /** Recorded fact sizing: (rows, approx distinct keys, hottest-key
    * rows). None when never declared.
    */
  def factSizing(name: String): Option[Catalog.FactSizing] =
    readStore("factsizing", name, factSchema).map { r =>
      Catalog.FactSizing(r.getLong(1), estimateSketch(r, 2), r.getLong(3))
    }

  /** Measured salt suggestion for [[graft.ops.Skew.saltedJoin]] on a
    * declared fact table — [[graft.ops.Skew.adviseSalts]] over the
    * recorded sizing. None when the table was never declared.
    */
  def saltAdvice(name: String,
                 hotCellRows: Long = graft.ops.Skew.defaultHotCellRows): Option[Int] =
    factSizing(name).map(s =>
      graft.ops.Skew.adviseSalts(s.rows, s.keysApprox, s.maxKeyRows,
        hotCellRows))

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
  def compact(name: String, targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val dir = Paths.get(tablePath(name))
    if (!Files.exists(dir)) return
    val walk = Files.walk(dir)
    val bytes =
      try walk.filter(p => p.toString.endsWith(".parquet"))
        .mapToLong(p => Files.size(p)).sum()
      finally walk.close()
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    overwrite(name, table(name).repartition(parts))
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
    val df = table(name)
    val parts =
      if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    overwrite(name,
      df.repartitionByRange(parts, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*))
  }

  /** Z-order rewrite on two numeric dimensions (ops.ZOrder): row-group
    * stats prune selective filters on EITHER column, where [[cluster]]
    * prunes only its leading sort column.
    */
  def clusterZ(name: String, dimA: String, dimB: String, numFiles: Int = 0): Unit = {
    val parts =
      if (numFiles > 0) numFiles
      else spark.sessionState.conf.numShufflePartitions
    overwrite(name, graft.ops.ZOrder.cluster(table(name), dimA, dimB, parts))
  }

  /** CSV / JSON export sinks (S8; app:574-579, app:766-790): the
    * reference's download buttons, set-based. Headers on for CSV to
    * match the pandas to_csv shape.
    */
  def exportCsv(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(outDir)

  def exportJson(df: DataFrame, outDir: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(outDir)

  /** Session context probe (S4; app:90-96): who/where, as a one-row
    * frame like the reference's `SELECT CURRENT_ROLE(), CURRENT_DATABASE(),
    * CURRENT_SCHEMA()`.
    */
  def context(): DataFrame =
    spark.sql("SELECT current_user() AS current_role, " +
      "current_database() AS current_database, current_schema() AS current_schema")

  // ---- stages (S1-S3) ----

  def stageDir(stage: String): String = s"$root/stages/$stage"

  /** File ingest (S2; put_stream app:379, app:918). */
  def putFile(stage: String, relativePath: String, bytes: Array[Byte]): Unit = {
    val p = Paths.get(stageDir(stage), relativePath)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  /** Directory-table scan (S1; app:136-141): list stage files as rows
    * (relative_path, file_url, size, content). Uses the binaryFile
    * source so the same scan works on HDFS/S3 at scale; content column
    * is pruned away by Catalyst unless actually referenced.
    */
  def directory(stage: String): DataFrame = {
    val dir = stageDir(stage)
    val prefix = Catalog.stagePathPrefix(stage)
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true") // stages nest (FIXTURES A4)
      .load(dir)
      .select(
        regexp_replace(col("path"), prefix, "").as("relative_path"),
        concat(lit(s"@$stage/"),
          regexp_replace(col("path"), prefix, "")).as("file_url"),
        col("length"),
        col("content"))
  }

  /** Stage catalog listing (S3; app:108-133): registered stage dirs
    * unioned with distinct stage names referenced by NEW_UPLOADS.
    */
  // stage-list TTL memo (X7; app:108's 60 s stage-list cache)
  private val stageListCache = new TtlCache[String, Seq[String]](ttlMs = 60000)

  /** [[listStages]] behind a 60 s TTL memo — the metadata-read path UIs
    * poll (app:108).
    */
  def listStagesCached(): Seq[String] =
    stageListCache.getOrElseUpdate("stages")(listStages())

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
  /** Recorded fact-table sizing (see [[Catalog.factSizing]]): total
    * rows, HLL-approximate distinct key count, hottest-key row count
    * (a lower bound between rewrites — see declareFactTable).
    */
  final case class FactSizing(rows: Long, keysApprox: Long,
                              maxKeyRows: Long)

  /** Regex matching everything up to and including a stage's directory
    * in a file path. Stage names are Pattern-quoted so regex
    * metacharacters in them ("v1.2", "a+b") match literally. Shared by
    * the batch directory scan and the streaming source.
    */
  def stagePathPrefix(stage: String): String =
    ".*/stages/" + java.util.regex.Pattern.quote(stage) + "/"

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
