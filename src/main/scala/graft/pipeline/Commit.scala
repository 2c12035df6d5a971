package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Idempotent chunked commits + lineage — the engine's
  * Iceberg-semantics stand-in over Parquet and the [[TableLog]] commit
  * log (no Iceberg runtime jar exists in this environment, SURVEY.md
  * env facts).
  *
  * The input is deterministically split into `chunks` by
  * pmod(xxhash64(doc_id), chunks). Each chunk is extracted and written
  * to `out/data/chunk=<k>/`, then ONE log commit adds that directory
  * with its lineage record. A killed run resumes by skipping committed
  * chunks — the cache-hit anti-join semantics of the reference's Redis
  * memoization (reference app/utils/ocr_engine.py:123-135; SURVEY.md
  * J3) at commit granularity: input LEFT ANTI JOIN committed ON
  * chunk(doc_id).
  *
  * Each lineage record carries run id, source snapshot, chunk,
  * row/span/error counts, wall time (north rule: per-partition lineage
  * + metrics).
  */
object Commit {

  /** Per-chunk lineage record (north rule: source snapshot, partition
    * id, row counts, span-mismatch counters). `mismatchCount` is the
    * number of output docs whose span sequence differs from the
    * `expected` table passed to [[run]] — 0 when no expectation is
    * supplied (the production case; goldens exist in validation runs).
    */
  final case class ChunkManifest(
      runId: String,
      chunk: Int,
      sourceSnapshot: String,
      rowCount: Long,
      spanCount: Long,
      errorCount: Long,
      wallMillis: Long,
      mismatchCount: Long = 0L)

  final case class RunSummary(
      committed: Seq[ChunkManifest],
      skipped: Seq[Int])

  /** Chunks already committed (resume set), from the log. */
  def committedChunks(outDir: String): Map[Int, ChunkManifest] =
    chunksOf(TableLog.snapshot(outDir))

  private def chunksOf(s: TableLog.Snapshot): Map[Int, ChunkManifest] =
    s.live.collect { case e if e.path.startsWith("data/chunk=") =>
      val m = manifestOf(e.info); m.chunk -> m }.toMap

  private def lineage(m: ChunkManifest): Map[String, String] =
    m.productElementNames.zip(m.productIterator.map(_.toString)).toMap

  private def manifestOf(i: Map[String, String]): ChunkManifest =
    ChunkManifest(i("runId"), i("chunk").toInt, i("sourceSnapshot"),
      i("rowCount").toLong, i("spanCount").toLong, i("errorCount").toLong,
      i("wallMillis").toLong, i("mismatchCount").toLong)

  /** Stage the input partitioned by the chunk key — the
    * Iceberg-partitioned-table stand-in. Without this, every chunk
    * iteration re-scans the FULL docs and media tables and filters by
    * a hash predicate that cannot push down (k full scans — a
    * quadratic read bill at 100 TB with hundreds of chunks). Staged,
    * each iteration partition-prunes to exactly its slice; media is
    * co-partitioned by the chunk of the doc(s) referencing it, so a
    * chunk's payload bytes are read once, by that chunk only — the
    * storage co-partitioning design the media join relies on at scale.
    * One blob referenced from two chunks is duplicated across their
    * partitions (storage for read-locality, same trade Iceberg makes).
    *
    * INCREMENTAL invalidation (round 5; was all-or-nothing): staging
    * reuse is decided PER CHUNK, behind a per-chunk atomic sentinel
    * recording that chunk's content fingerprint — an order-independent
    * sum of per-row hashes plus row count, over the chunk's doc rows
    * and over its referenced media keys (two column-pruned aggregate
    * passes, collected as ≤ `chunks` rows). Appending one document
    * restages exactly the chunk it hashes into; every other chunk's
    * directories are untouched — the reference's per-document cache
    * semantics (ocr_engine.py:123-135) at chunk grain, matching the
    * granularity the chunk commits already resume at. Writes go
    * through dynamic partition overwrite so only dirty partitions are
    * replaced; chunks that vanished from the input are deleted.
    * Crash-safe: a dirty chunk's sentinel is removed BEFORE its
    * directories are rewritten and re-written (tmp + atomic rename)
    * only after, so a run killed mid-staging leaves the chunk dirty,
    * never half-trusted. Payload IMMUTABILITY BY REF is assumed (the
    * object-store/Iceberg contract): the media fingerprint covers the
    * chunk's ref SET, not payload bytes — re-hashing 100 TB of bytes
    * per staging call would defeat the point.
    *
    * Unchanged-input FAST PATH: an atomic `_input_snapshot` records
    * the input file set the sentinels were written under; when it
    * matches, even the fingerprint scan is skipped — the common
    * resume case costs a file listing, not a pass over the corpus.
    */
  def stageByChunk(
      spark: SparkSession,
      docs: DataFrame,
      media: DataFrame,
      outDir: String,
      chunks: Int): (DataFrame, DataFrame) = {
    val stagedRoot = Paths.get(outDir, s"_staged", s"chunks=$chunks")
    val sentDir = stagedRoot.resolve("_chunk_sentinels")
    Files.createDirectories(sentDir)
    // pre-round-5 whole-input sentinel: its presence marks a layout
    // without per-chunk fingerprints — drop it and let every chunk
    // re-fingerprint (their dirs are rewritten on mismatch anyway)
    Files.deleteIfExists(stagedRoot.resolve("_staged_complete"))
    // FAST PATH: if the input FILE SET (docs + media) is byte-for-byte
    // the set the sentinels were written under, the per-chunk
    // fingerprints cannot have changed — skip the content-hash scan
    // entirely. The common resume case (nothing changed) then costs a
    // file listing, not a pass over the corpus; any file-set change
    // falls through to the authoritative per-chunk content
    // fingerprints below. (Parquet writers never rewrite a file in
    // place under the same name, so the file set is a sound
    // unchanged-detector; the content hashes remain the decider
    // whenever it misses.)
    val inputSnap = snapshotId(docs) + "|" + snapshotId(media)
    val snapFile = stagedRoot.resolve("_input_snapshot")
    // in-memory frames have no input files — their snapshot degenerates
    // to a schema hash, which two different datasets share; only
    // file-backed inputs may take the fast path
    val unchangedFastPath =
      docs.inputFiles.nonEmpty && media.inputFiles.nonEmpty &&
      Files.exists(snapFile) && Files.readString(snapFile) == inputSnap
    val chunkOf = pmod(xxhash64(col("doc_id")), lit(chunks))
    if (!unchangedFastPath)
      stageByChunkSlow(docs, media, stagedRoot, sentDir,
        chunkOf, inputSnap, snapFile)
    // explicit schemas: an empty staged table (no media in the corpus)
    // reads back as an empty frame instead of failing schema inference
    Files.createDirectories(stagedRoot.resolve("docs"))
    Files.createDirectories(stagedRoot.resolve("media"))
    val chunkField = org.apache.spark.sql.types.StructField(
      "chunk", org.apache.spark.sql.types.LongType)
    (spark.read.schema(org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ chunkField))
        .parquet(s"$stagedRoot/docs"),
      spark.read.schema(org.apache.spark.sql.types.StructType(
        media.schema.fields :+ chunkField))
        .parquet(s"$stagedRoot/media"))
  }

  /** The invalidation/rewrite half of [[stageByChunk]], run only when
    * the input file set changed (or first staging): per-chunk content
    * fingerprints decide which chunk partitions to rewrite.
    */
  private def stageByChunkSlow(
      docs: DataFrame,
      media: DataFrame,
      stagedRoot: Path,
      sentDir: Path,
      chunkOf: org.apache.spark.sql.Column,
      inputSnap: String,
      snapFile: Path): Unit = {
    // per-chunk content fingerprints: docs rows + referenced media keys
    // bit_xor folds are order-independent and cannot overflow (ANSI
    // mode makes sum() throw). TWO xor folds travel with the count:
    // the plain fold cancels on even-multiplicity swaps ({A,A}→{C,C}
    // keeps xor AND count identical — advisor, round 5), so a second
    // fold over the DISTINCT row hashes (A^B vs C^B differ) closes the
    // pair-cancellation hole; a change fooling all three simultaneously
    // would need equal xor, equal distinct-xor, and equal count.
    val rowHash = xxhash64(to_json(struct(docs.columns.toIndexedSeq.map(col): _*)))
    val docSums = docs.select(chunkOf.as("chunk"), rowHash.as("h"))
      .groupBy(col("chunk"))
      .agg(expr("bit_xor(h)").as("hsum"),
        expr("bit_xor(DISTINCT h)").as("hsumd"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val refChunks = docs
      .select(chunkOf.as("chunk"),
        explode(col("spans.media_ref")).as("media_ref"))
      .filter(col("media_ref") =!= "")
      .distinct()
    val mediaSums = media.select(col("media_ref")).join(refChunks, Seq("media_ref"))
      .select(col("chunk"), xxhash64(col("media_ref")).as("h"))
      .groupBy(col("chunk"))
      .agg(expr("bit_xor(h)").as("hsum"),
        expr("bit_xor(DISTINCT h)").as("hsumd"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // fpv is an EXPLICIT format version (advisor, round 6): any change
    // to the fingerprint recipe or the snapshotId fields invalidates
    // every sentinel written by prior releases, and the first run
    // after an upgrade then pays a ONE-TIME full re-stage of all
    // chunks — intentional (stale reuse would be worse), but operators
    // should see a version bump in the sentinel rather than diagnose
    // the rewrite as staleness. Bump fpv whenever the recipe changes
    // (round 5 changed it silently: second DISTINCT fold + len/mtime
    // in snapshotId).
    def fingerprint(k: Long): String = {
      val (dh, dhd, dn) = docSums.getOrElse(k, (0L, 0L, 0L))
      val (mh, mhd, mn) = mediaSums.getOrElse(k, (0L, 0L, 0L))
      s"fpv=7 docs:$dh:$dhd:$dn media:$mh:$mhd:$mn layout=rowgroup4m"
    }
    def sentinelPath(k: Long) = sentDir.resolve(s"chunk-$k")
    val live = docSums.keySet
    val sentineled = TableLog.list(sentDir)
      .map(_.getFileName.toString)
      .collect { case s if s.matches("chunk-\\d+") => s.drop(6).toLong }
      .toSet
    def chunkDirs(k: Long) =
      Seq(stagedRoot.resolve(s"docs/chunk=$k"), stagedRoot.resolve(s"media/chunk=$k"))
    val dirty = live.filter { k =>
      !(Files.exists(sentinelPath(k)) &&
        Files.readString(sentinelPath(k)) == fingerprint(k))
    }.toSeq.sorted
    // the input changed: yesterday's snapshot no longer vouches for
    // the sentinels — remove it BEFORE rewriting so a crash mid-stage
    // cannot leave a stale fast-path marker
    Files.deleteIfExists(snapFile)
    // chunks staged before (sentinel or leftover dir) but gone from
    // the input: remove, or a pruned read would resurrect stale docs
    val dirIds = Seq("docs", "media").flatMap { t =>
      TableLog.list(stagedRoot.resolve(t)).map(_.getFileName.toString)
        .collect { case s if s.matches("chunk=\\d+") => s.drop(6).toLong }
    }.toSet
    ((sentineled ++ dirIds) -- live).foreach { k =>
      Files.deleteIfExists(sentinelPath(k))
      chunkDirs(k).foreach(TableLog.deleteRecursively)
    }
    if (dirty.nonEmpty) {
      // invalidate first (crash ⇒ still dirty), clear the partitions,
      // then rewrite ONLY the dirty partitions (dynamic overwrite)
      dirty.foreach { k =>
        Files.deleteIfExists(sentinelPath(k))
        chunkDirs(k).foreach(TableLog.deleteRecursively)
      }
      docs.withColumn("chunk", chunkOf)
        .filter(col("chunk").isin(dirty: _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk")
        .parquet(s"$stagedRoot/docs")
      // 4 MB row groups: scan-split = kernel-scheduling unit (see
      // CorpusGen.write / ExtractionPipeline session factory)
      media.join(refChunks.filter(col("chunk").isin(dirty: _*)),
          Seq("media_ref"), "inner")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("chunk")
        .option("parquet.block.size", s"${4 << 20}")
        .parquet(s"$stagedRoot/media")
      dirty.foreach(k => TableLog.replace(sentinelPath(k), fingerprint(k)))
    }
    // all sentinels now reflect THIS input — arm the fast path
    TableLog.replace(snapFile, inputSnap)
  }

  /** A4 — progress % (reference models.py ProcessingStatus.progress ∈
    * [0,100] + the polling endpoint): task-level progress from a
    * SparkListener. Attach around a run; `percent` is completed/total
    * tasks over all submitted stages — the Spark-native equivalent of
    * the reference's per-file progress callback.
    */
  final class TaskProgressListener
      extends org.apache.spark.scheduler.SparkListener {
    private val total = new java.util.concurrent.atomic.AtomicLong
    private val done = new java.util.concurrent.atomic.AtomicLong
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      total.addAndGet(s.stageInfo.numTasks.toLong)
    // only SUCCESSFUL task ends count (advisor, round 4): failed/killed
    // attempts re-run and would double-count; speculative duplicates
    // and stage resubmission can still nudge done past total, so
    // percent clamps to 100 rather than overshooting the poll surface.
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (t.reason == org.apache.spark.Success) done.incrementAndGet()
    def completedTasks: Long = done.get
    def totalTasks: Long = total.get
    def percent: Double =
      if (total.get == 0L) 0.0
      else math.min(100.0, done.get * 100.0 / total.get)
  }

  /** Chunk-granularity progress record, replaced atomically at
    * `out/progress.json` after every chunk commit — a resumable
    * run's poll surface (the reference polls task progress %,
    * main.py:311-317; here the unit is the chunk, the same grain the
    * lineage records use).
    */
  def writeProgress(outDir: String, runId: String, done: Int, total: Int): Unit = {
    val pct = if (total == 0) 100.0 else math.round(done * 1000.0 / total) / 10.0
    Files.createDirectories(Paths.get(outDir))
    TableLog.replace(Paths.get(outDir, "progress.json"),
      TableLog.toJson(Progress(runId, done, total, pct)))
  }

  private final case class Progress(
      runId: String, chunksDone: Int, chunksTotal: Int, percent: Double)

  def readProgress(outDir: String): Option[Double] =
    Some(Paths.get(outDir, "progress.json")).filter(Files.exists(_))
      .map(p => TableLog.fromJson[Progress](Files.readString(p)).percent)

  /** Handle to a bucketed staging layout (see [[stageBucketed]]). */
  final case class BucketedStage(
      tasksTable: String,
      mediaTable: String,
      inlineDir: String,
      buckets: Int)

  /** Order-independent content fingerprint of a media ref SET (bytes
    * immutable by ref — the object-store contract): xor of key hashes
    * + count. Shared by [[stageBucketed]] and [[stageMediaBucketed]]
    * so the two sentinel formats cannot drift apart.
    */
  private def mediaRefFingerprint(mediaClean: DataFrame): String = {
    val r = mediaClean.select(xxhash64(col("media_ref")).as("h"))
      .agg(expr("bit_xor(h)").as("hx"),
        expr("bit_xor(DISTINCT h)").as("hxd"),
        count(lit(1)).as("n")).head()
    def nz(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    // two xor folds + count (see stageByChunkSlow): the distinct fold
    // breaks the even-multiplicity cancellation of the plain fold
    s"xor:${nz(0)}:${nz(1)}:n:${r.getLong(2)} layout=rowgroup4m"
  }

  /** Write a (media_ref, bytes) frame as a bucketed+sorted parquet
    * table, one file per bucket, 4 MB row groups (scan-split =
    * kernel-scheduling unit).
    */
  private def writeBucketedMedia(
      spark: SparkSession, mediaClean: DataFrame,
      path: String, tbl: String, buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    mediaClean
      .repartition(buckets, col("media_ref"))
      .write.format("parquet")
      .bucketBy(buckets, "media_ref").sortBy("media_ref")
      .option("path", path)
      .option("parquet.block.size", s"${4 << 20}")
      .mode("overwrite").saveAsTable(tbl)
  }

  /** Recreate a catalog entry over EXISTING bucketed files — the
    * catalog is session state; a fresh session must re-register, never
    * rewrite, an intact (possibly 100-TB) staged table.
    */
  private def registerBucketedTable(
      spark: SparkSession, tbl: String, schemaDdl: String,
      path: String, buckets: Int): Unit =
    spark.sql(
      s"""CREATE TABLE $tbl ($schemaDdl) USING PARQUET
         |CLUSTERED BY (media_ref) SORTED BY (media_ref)
         |INTO $buckets BUCKETS
         |LOCATION '$path'""".stripMargin)

  /** Sentinel-guarded component freshness: fresh sentinel + live table
    * → no-op; fresh sentinel + lost table → `reRegister` over the
    * existing files; anything else → invalidate (crash mid-rewrite ⇒
    * still dirty), `rewrite`, re-arm the sentinel atomically.
    *
    * reRegister is gated on the data location still holding at least
    * one data file (advisor, round 5): a sentinel that survived while
    * the data subdir was removed must NOT register an empty table —
    * CREATE TABLE ... LOCATION over nothing would silently proceed
    * with every payload missing; such a component falls through to the
    * invalidate-and-rewrite branch instead.
    */
  private def freshComponent(
      root: Path, name: String, fingerprint: String, tableOk: Boolean,
      reRegister: Option[() => Unit] = None,
      dataDir: Option[Path] = None)(rewrite: () => Unit): Unit = {
    val sentinel = root.resolve(s"_${name}_complete")
    val sentinelFresh = Files.exists(sentinel) &&
      Files.readString(sentinel) == fingerprint
    def hasDataFiles = dataDir.forall(d => TableLog.list(d).exists { p =>
      val n = p.getFileName.toString
      !n.startsWith("_") && !n.startsWith(".")
    })
    if (sentinelFresh && tableOk) ()
    else if (sentinelFresh && reRegister.isDefined && hasDataFiles)
      reRegister.get.apply()
    else {
      Files.deleteIfExists(sentinel)
      rewrite()
      TableLog.replace(sentinel, fingerprint)
    }
  }

  /** Stage the input CO-BUCKETED BY `media_ref` — the storage layout
    * under which the media join needs neither a broadcast nor any
    * exchange (ExtractionPipeline.extractStaged). Three outputs:
    *
    *  - media-span task metadata (doc_id, offset, kind, media_ref —
    *    bytes-free), bucketed+sorted by media_ref;
    *  - payloads, bucketed+sorted by media_ref, 4 MB row groups;
    *  - inline tasks (text/html/empty-doc/ref-less), plain parquet —
    *    they never touch the join.
    *
    * Both bucketed writes repartition by the bucket key first so each
    * bucket lands in ONE file (write-side HashPartitioning matches the
    * bucket spec), letting the scan-side sort elide. Bucket metadata
    * lives in the session catalog (saveAsTable): this is the sandbox
    * stand-in for an Iceberg table whose partition spec carries
    * `bucket(N, media_ref)` durably — reuse across sessions restages
    * if the catalog entry is gone.
    *
    * Invalidation is PER COMPONENT (round 5; was one whole-input
    * sentinel): tasks, media, and inline each carry their own atomic
    * content-fingerprint sentinel (order-independent xor of row hashes
    * + count — [[stageByChunk]]'s scheme), so a change touching only
    * doc text rewrites the two small metadata components and REUSES
    * the bucketed payload table — the dominant bytes at 100 TB.
    * Payload immutability by ref is assumed, as in [[stageByChunk]].
    * Finer grain (appending a few refs into existing buckets) is
    * Iceberg's bucket-partitioned append; Spark's bucketed writer only
    * replaces tables wholesale, so the media fingerprint decides reuse
    * per TABLE, not per bucket.
    */
  def stageBucketed(
      spark: SparkSession,
      docs: DataFrame,
      media: DataFrame,
      outDir: String,
      buckets: Int): BucketedStage = {
    require(buckets > 0)
    val root = Paths.get(outDir, "_bucketed", s"buckets=$buckets")
    Files.createDirectories(root)
    // pre-round-5 whole-input sentinel → no component fingerprints:
    // drop it, every component re-fingerprints (and rewrites on miss)
    Files.deleteIfExists(root.resolve("_bucketed_complete"))
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$outDir|$buckets".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    val tasksTbl = s"graft_bucketed_tasks_$tag"
    val mediaTbl = s"graft_bucketed_media_$tag"
    // unchanged-input fast path (see stageByChunk): identical input
    // file set + live catalog tables ⇒ the component fingerprints
    // cannot have changed; skip the three fingerprint scans
    val inputSnap = snapshotId(docs) + "|" + snapshotId(media)
    val snapFile = root.resolve("_input_snapshot")
    // file-backed inputs only: in-memory frames degenerate to a
    // schema-hash snapshot (see stageByChunk)
    if (docs.inputFiles.nonEmpty && media.inputFiles.nonEmpty &&
        Files.exists(snapFile) && Files.readString(snapFile) == inputSnap &&
        spark.catalog.tableExists(tasksTbl) &&
        spark.catalog.tableExists(mediaTbl))
      return BucketedStage(tasksTbl, mediaTbl, s"$root/inline", buckets)
    Files.deleteIfExists(snapFile) // stale until every component is fresh
    val tasks = ExtractionPipeline.spanTasks(docs)
    val isMedia = ExtractionPipeline.isMediaSpan
    def fp(df: DataFrame): String = {
      val cols = struct(df.columns.toIndexedSeq.map(col): _*)
      val r = df.select(xxhash64(to_json(cols)).as("h"))
        .agg(expr("bit_xor(h)").as("hx"),
          expr("bit_xor(DISTINCT h)").as("hxd"),
          count(lit(1)).as("n")).head()
      def nz(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
      // two xor folds + count (see stageByChunkSlow): the distinct fold
      // breaks the even-multiplicity cancellation of the plain fold
      s"xor:${nz(0)}:${nz(1)}:n:${r.getLong(2)} layout=rowgroup4m"
    }
    val mediaClean = media.filter(col("media_ref") =!= lit(""))
      .select(col("media_ref"), col("bytes"))
    val mediaTasks = tasks.filter(isMedia)
      .select(col("doc_id"), col("offset"), col("kind"), col("media_ref"))
    val inlineTasks = tasks.filter(!isMedia)
    freshComponent(root, "tasks", fp(mediaTasks),
      spark.catalog.tableExists(tasksTbl),
      reRegister = Some(() => registerBucketedTable(spark, tasksTbl,
        "doc_id STRING, offset INT, kind STRING, media_ref STRING",
        s"$root/tasks", buckets)),
      dataDir = Some(root.resolve("tasks"))) { () =>
      spark.sql(s"DROP TABLE IF EXISTS $tasksTbl")
      mediaTasks
        .repartition(buckets, col("media_ref"))
        .write.format("parquet")
        .bucketBy(buckets, "media_ref").sortBy("media_ref")
        .option("path", s"$root/tasks")
        .mode("overwrite").saveAsTable(tasksTbl)
    }
    freshComponent(root, "media", mediaRefFingerprint(mediaClean),
      spark.catalog.tableExists(mediaTbl),
      reRegister = Some(() => registerBucketedTable(spark, mediaTbl,
        "media_ref STRING, bytes BINARY", s"$root/media", buckets)),
      dataDir = Some(root.resolve("media"))) { () =>
      writeBucketedMedia(spark, mediaClean, s"$root/media", mediaTbl, buckets)
    }
    freshComponent(root, "inline", fp(inlineTasks), tableOk = true) { () =>
      inlineTasks.write.mode("overwrite").parquet(s"$root/inline")
    }
    // every component fresh under THIS input — arm the fast path
    TableLog.replace(snapFile, inputSnap)
    BucketedStage(tasksTbl, mediaTbl, s"$root/inline", buckets)
  }

  /** Stage ONLY the media sidecar bucketed by `media_ref` — the
    * static side of the streaming no-broadcast join
    * (ExtractionPipeline.extractVsBucketedMedia): payloads land
    * bucketed+sorted once, every micro-batch joins against them
    * exchange-free on the payload side. Guarded by the same atomic
    * content-fingerprint sentinel as [[stageBucketed]]'s media
    * component (ref-set xor + count; payload immutability by ref).
    * Returns the catalog table name.
    */
  def stageMediaBucketed(
      spark: SparkSession,
      media: DataFrame,
      outDir: String,
      buckets: Int): String = {
    require(buckets > 0)
    val root = Paths.get(outDir, "_bucketed_media", s"buckets=$buckets")
    Files.createDirectories(root)
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$outDir|media|$buckets".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)
    val tbl = s"graft_bucketed_smedia_$tag"
    // unchanged-input fast path, file-backed inputs only (see
    // stageByChunk)
    val inputSnap = snapshotId(media)
    val snapFile = root.resolve("_input_snapshot")
    if (media.inputFiles.nonEmpty &&
        Files.exists(snapFile) && Files.readString(snapFile) == inputSnap &&
        spark.catalog.tableExists(tbl))
      return tbl
    Files.deleteIfExists(snapFile)
    val mediaClean = media.filter(col("media_ref") =!= lit(""))
      .select(col("media_ref"), col("bytes"))
    freshComponent(root, "media", mediaRefFingerprint(mediaClean),
      spark.catalog.tableExists(tbl),
      reRegister = Some(() => registerBucketedTable(spark, tbl,
        "media_ref STRING, bytes BINARY", s"$root/media", buckets)),
      dataDir = Some(root.resolve("media"))) { () =>
      writeBucketedMedia(spark, mediaClean, s"$root/media", tbl, buckets)
    }
    TableLog.replace(snapFile, inputSnap)
    tbl
  }

  /** Run the extraction chunk-by-chunk with idempotent commits.
    *
    * @param failAfterChunks test hook — throw after committing this many
    *        chunks (simulates a killed run for the resume test)
    * @param bucketedJoin route each chunk through the NO-BROADCAST
    *        co-bucketed join (stageBucketed + extractStaged) instead of
    *        the gated-broadcast `extract` — the 10^12-doc path, behind
    *        a flag so the default chunk loop keeps its single staging
    *        pass. Each chunk's pruned slice is bucket-staged under its
    *        own sentinel-guarded dir, so resume pays no re-staging for
    *        unchanged chunks.
    */
  def run(
      spark: SparkSession,
      docs: DataFrame,
      media: DataFrame,
      outDir: String,
      runId: String,
      chunks: Int = 4,
      partitions: Int = 32,
      failAfterChunks: Int = Int.MaxValue,
      expected: Option[DataFrame] = None,
      bucketedJoin: Boolean = false): RunSummary = {
    require(chunks > 0)
    val sourceSnapshot = snapshotId(docs)
    val already = committedChunks(outDir)
    val (stagedDocs, stagedMedia) =
      stageByChunk(spark, docs, media, outDir, chunks)
    val committed = scala.collection.mutable.ArrayBuffer.empty[ChunkManifest]
    var done = 0
    writeProgress(outDir, runId, already.size, chunks)
    (0 until chunks).foreach { k =>
      if (already.contains(k)) ()
      else {
        if (done >= failAfterChunks)
          throw new RuntimeException(s"injected failure before chunk $k")
        val t0 = System.nanoTime()
        // partition-pruned reads: chunk k touches only its own slice of
        // docs AND media (PlanSpec asserts the PartitionFilters)
        val chunkDocs = stagedDocs.filter(col("chunk") === lit(k)).drop("chunk")
        val chunkMedia = stagedMedia.filter(col("chunk") === lit(k)).drop("chunk")
        // chunk-scoped co-bucketed layout (own dir → own catalog
        // tables + sentinels): the media join is exchange-free and
        // broadcast-free at any chunk size. Reclaimed after the
        // chunk's commit (below) — a committed chunk never re-runs,
        // so its staging is dead weight; footprint stays one chunk.
        val stageOpt =
          if (bucketedJoin) Some(stageBucketed(spark, chunkDocs, chunkMedia,
            s"$outDir/_chunk_stage/chunk=$k", partitions))
          else None
        val out = stageOpt match {
          case Some(stage) =>
            ExtractionPipeline.extractStaged(spark, stage, partitions)
          case None =>
            ExtractionPipeline.extract(chunkDocs, chunkMedia, partitions)
        }
        out.write.mode("overwrite").parquet(s"$outDir/data/chunk=$k")
        // counts from the written files (what actually committed)
        val written = spark.read.parquet(s"$outDir/data/chunk=$k")
        val stats = written.select(
          count(lit(1)).as("rows"),
          coalesce(sum(size(col("spans"))), lit(0L)).as("spans"),
          coalesce(sum(size(filter(col("spans"), s => s("kind") === lit("error")))),
            lit(0L)).as("errors")).head()
        // span-mismatch counter (north rule lineage field): committed
        // docs whose span sequence differs from the expectation —
        // only the chunk's own rows join, so the check is pruned too
        val mismatches = expected.map { g =>
          written.select(col("doc_id"), col("spans").as("a"))
            .join(g.select(col("doc_id"), col("spans").as("b")),
              Seq("doc_id"), "left")
            .where(not(col("a") <=> col("b"))).count()
        }.getOrElse(0L)
        val m = ChunkManifest(runId, k, sourceSnapshot,
          stats.getLong(0), stats.getLong(1), stats.getLong(2),
          (System.nanoTime() - t0) / 1000000L, mismatches)
        // THE commit point; a concurrent run that committed chunk k
        // first wrote the same deterministic output, so losing is fine
        TableLog.commit(outDir)(s => Option.when(!chunksOf(s).contains(k))(
          TableLog.Record(Seq(TableLog.Entry(s"data/chunk=$k", lineage(m))))))
        // the chunk is committed — reclaim its bucketed staging
        // (catalog tables + dir); resume skips committed chunks, so
        // nothing will ever read it again (reviewer finding: the
        // per-chunk stages otherwise accumulate unboundedly)
        stageOpt.foreach { stage =>
          spark.sql(s"DROP TABLE IF EXISTS ${stage.tasksTable}")
          spark.sql(s"DROP TABLE IF EXISTS ${stage.mediaTable}")
          TableLog.deleteRecursively(Paths.get(s"$outDir/_chunk_stage/chunk=$k"))
        }
        committed += m
        done += 1
        writeProgress(outDir, runId, already.size + done, chunks)
      }
    }
    RunSummary(committed.toSeq, already.keys.toSeq.sorted)
  }

  /** Read the committed output table: the chunk directories of the
    * current snapshot only — a chunk written but never committed is
    * invisible.
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    readCommitted(spark, s"$outDir/data",
      TableLog.snapshot(outDir).paths.filter(_.startsWith("data/chunk="))
        .map(p => s"$outDir/$p"), "chunk", IntegerType)

  /** The committed partition dirs `dirs` of a doc table under `base`,
    * with partition column `part` as `partType`; with none committed, an
    * empty frame of the same schema (the data dir may hold only an
    * uncommitted partial, or not exist at all).
    */
  private[pipeline] def readCommitted(
      spark: SparkSession, base: String, dirs: Seq[String],
      part: String, partType: DataType): DataFrame =
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(
        Encoders.product[graft.model.Doc].schema.fields :+ StructField(part, partType)))
    else
      spark.read.option("basePath", base).parquet(dirs: _*)
        .withColumn(part, col(part).cast(partType))

  // -------------------------------------------------------------------
  // S12 — maintenance (temp-file GC twin, reference
  // app/utils/maintenance.py:13-58): vacuum orphaned data dirs from
  // aborted writes, compact the log into a checkpoint.
  // -------------------------------------------------------------------

  /** Delete `data/chunk=k` directories the snapshot does not hold —
    * leftovers of a write that died before its commit. Returns the
    * vacuumed chunk ids. Never touches committed chunks.
    */
  def vacuum(outDir: String): Seq[Int] = {
    val live = TableLog.snapshot(outDir).paths.toSet
    TableLog.deleteAll(outDir,
      TableLog.list(Paths.get(outDir, "data")).map(p => s"data/${p.getFileName}")
        .filter(p => p.matches("data/chunk=\\d+") && !live(p)))
      .map(_.stripPrefix("data/chunk=").toInt).sorted
  }

  /** Commit a checkpoint: the live chunks with their lineage, plus the
    * aggregate of all chunk lineage records in its info — the
    * Iceberg-snapshot stand-in a reader replays instead of N commits.
    */
  def compact(outDir: String): ChunkManifest =
    manifestOf(TableLog.commit(outDir) { s =>
      val all = chunksOf(s).values.toSeq.sortBy(_.chunk)
      require(all.nonEmpty, "nothing committed")
      val total = ChunkManifest(
        runId = all.map(_.runId).distinct.mkString("+"),
        chunk = -1,
        sourceSnapshot = all.map(_.sourceSnapshot).distinct.mkString("+"),
        rowCount = all.map(_.rowCount).sum,
        spanCount = all.map(_.spanCount).sum,
        errorCount = all.map(_.errorCount).sum,
        wallMillis = all.map(_.wallMillis).sum,
        mismatchCount = all.map(_.mismatchCount).sum)
      Some(TableLog.Record(s.live,
        info = lineage(total) + ("chunks" -> all.length.toString), checkpoint = true))
    }.get.info)

  /** Source snapshot id: stable fingerprint of the input's files/shape —
    * recorded in lineage so a chunk commit can be traced to its input.
    *
    * Each file contributes path + length + modificationTime (advisor,
    * round 5): the path set alone misses a file rewritten IN PLACE
    * under the same name (non-Spark tooling, object-store overwrite,
    * same-name compaction), and the `_input_snapshot` fast paths skip
    * the authoritative content fingerprints when the snapshot matches —
    * so the cheap path must itself detect in-place rewrites. Statuses
    * come from ONE listStatus per parent directory (not one RPC per
    * file — a 100-TB table has many thousands of files).
    */
  def snapshotId(docs: DataFrame): String = {
    val files = docs.inputFiles.sorted
    val h = java.security.MessageDigest.getInstance("MD5")
    if (files.isEmpty) h.update(docs.schema.catalogString.getBytes("UTF-8"))
    else {
      val conf = docs.sparkSession.sparkContext.hadoopConfiguration
      // keys normalized through Path.toString on BOTH sides: inputFiles
      // yields file:///x URIs, FileStatus.getPath file:/x — a raw-string
      // lookup would silently miss every file
      val statusByPath: Map[String, (Long, Long)] = files
        .map(f => new org.apache.hadoop.fs.Path(f))
        .groupBy(_.getParent)
        .flatMap { case (parent, _) =>
          try parent.getFileSystem(conf).listStatus(parent).toSeq
            .map(s => s.getPath.toString ->
              ((s.getLen, s.getModificationTime)))
          catch { case _: java.io.IOException => Nil }
        }
      files.foreach { f =>
        val key = new org.apache.hadoop.fs.Path(f).toString
        val (len, mtime) = statusByPath.getOrElse(key, (-1L, -1L))
        h.update(s"$f|$len|$mtime".getBytes("UTF-8"))
      }
    }
    h.digest().map("%02x".format(_)).mkString.take(16)
  }
}
