package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ops.SimilarityOps

/** Streaming ANN index maintenance: arriving embedding batches become
  * committed cell-partitioned deltas; queries see exactly the
  * committed union; restart is idempotent; compaction folds deltas
  * into the base without changing any answer.
  */
class StreamingIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stream → delta epochs: frozen-centroid growth ≡ rebuild, committed-only, restart-safe, compactable") {
    val root = Files.createTempDirectory("graft_sidx").toString
    val streamDir = s"$root/vecs"
    val indexDir = s"$root/index"
    val ckpt = s"$root/ckpt"
    Files.createDirectories(Paths.get(streamDir))

    val vrng = new scala.util.Random(37)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val all = (0 until 200).map(i => (i.toLong, randVec()))
    val (base, arriving) = all.splitAt(120)
    val twin = {
      val v = all.head._2.clone(); v(0) = v(0) + 1e-4f; (999L, v)
    }

    // base index: centroid sample (id % 16 == 0, first 8 → ids 0..112)
    // is identical over the base and over the final union, so the
    // frozen-centroid stream must reproduce a full rebuild exactly
    SimilarityOps.ivfBuild(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, centroidEvery = 16, maxCentroids = 8)

    // wave 1 arrives (40 vectors + the planted twin of vector 0)
    (arriving.take(40) :+ twin).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingIndex.run(spark, streamDir, indexDir, ckpt).awaitTermination()
    val idx1 = SimilarityOps.ivfLoad(indexDir)
    assert(idx1.deltas.size == 1, idx1.deltas.toString)
    val top1 = SimilarityOps.ivfQueryById(spark, idx1, 0L, k = 3, nprobe = 3)
      .select("vec_id").as[Long].collect()
    assert(top1.contains(999L), s"late twin invisible: ${top1.mkString(",")}")

    // wave 2 on the SAME checkpoint: only the new files are processed
    arriving.drop(40).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingIndex.run(spark, streamDir, indexDir, ckpt).awaitTermination()
    val idx2 = SimilarityOps.ivfLoad(indexDir)
    assert(idx2.deltas.size == 2, idx2.deltas.toString)

    // a crashed epoch: delta rows on disk, never committed —
    // invisible to load and to every query until its replay commits it
    (Seq((7777L, randVec()))).toDF("vec_id", "embedding")
      .withColumn("cell", lit(0))
      .write.partitionBy("cell")
      .parquet(SimilarityOps.ivfDeltaPath(indexDir, 999L))
    val idxCrash = SimilarityOps.ivfLoad(indexDir)
    assert(idxCrash.deltas.size == 2, idxCrash.deltas.toString)

    // stream-then-query ≡ rebuild-over-the-union, bit for bit
    val full = SimilarityOps.ivfBuild(
      (all :+ twin).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/full", centroidEvery = 16,
      maxCentroids = 8)
    assert(idx2.centroids == full.centroids)
    def cellsOf(idx: SimilarityOps.IvfIndex): Set[(Int, Long)] =
      idx.dataPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_))
        .select(col("cell").cast("int"), col("vec_id"))
        .as[(Int, Long)].collect().toSet
    assert(cellsOf(idx2) == cellsOf(full))
    def q(idx: SimilarityOps.IvfIndex): Seq[(Long, Double, Int)] =
      SimilarityOps.ivfQueryById(spark, idx, 0L, k = 5, nprobe = 3)
        .select("vec_id", "cos_sim", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    val streamed = q(idx2)
    assert(streamed == q(full), s"$streamed vs ${q(full)}")

    // the delta-union query still partition-prunes in EVERY branch
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      SimilarityOps.ivfQueryById(spark, idx2, 0L, k = 5, nprobe = 3)
        .explain("formatted")
    }
    val pfs = out.toString.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pfs.size >= 3 && pfs.forall(_.contains("cell")),
      pfs.mkString("\n"))

    // compaction folds committed deltas into a NEW base generation
    // (reader-safe, round 7); answers and the uncommitted crash dir
    // are untouched
    StreamingIndex.compact(spark, indexDir)
    val idx3 = SimilarityOps.ivfLoad(indexDir)
    assert(idx3.gen == 1, idx3.toString)
    assert(idx3.deltas.isEmpty, idx3.deltas.toString)
    assert(q(idx3) == streamed)
    assert(cellsOf(idx3) == cellsOf(full))
    assert(Files.isDirectory(
      Paths.get(SimilarityOps.ivfDeltaPath(indexDir, 999L))))
    // a handle loaded BEFORE the compaction keeps answering from the
    // old generation's intact files — compaction never pauses serving
    assert(q(idx2) == streamed)
    assert(cellsOf(idx2) == cellsOf(full))

    // a replayed compact finds nothing live to fold: no new
    // generation, row counts never grow
    val rowsBefore = cellsOf(idx3).size
    StreamingIndex.compact(spark, indexDir)
    val idx4 = SimilarityOps.ivfLoad(indexDir)
    assert(idx4.gen == 1, idx4.toString) // no new generation spawned
    assert(cellsOf(idx4).size == rowsBefore)
    assert(q(idx4) == streamed)

    // vacuum retires what only pre-compaction readers needed: the old
    // base generation and folded delta dirs; the current handle and
    // the uncommitted crash dir are untouched
    StreamingIndex.vacuum(indexDir)
    assert(!Files.isDirectory(
      Paths.get(SimilarityOps.ivfCellsPath(indexDir, 0))))
    assert(!Files.isDirectory(
      Paths.get(SimilarityOps.ivfDeltaPath(indexDir, 0L))))
    assert(Files.isDirectory(
      Paths.get(SimilarityOps.ivfDeltaPath(indexDir, 999L))))
    assert(q(SimilarityOps.ivfLoad(indexDir)) == streamed)

    // the last epoch SURVIVES compact + vacuum in the log (the replay
    // backstop): epoch 1 replayed after its delta was folded and
    // deleted — its checkpoint commit lost, as a crash after the log
    // commit leaves it — is skipped, never re-committed...
    assert(TableLog.snapshot(indexDir).lastEpoch == 1L)
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    // ...while NEW arrivals on the same checkpoint continue normally
    // (epoch 2 > the last epoch) — life goes on after compact + vacuum
    Seq((5555L, randVec())).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingIndex.run(spark, streamDir, indexDir, ckpt).awaitTermination()
    val idx5 = SimilarityOps.ivfLoad(indexDir)
    assert(idx5.deltas.size == 1, idx5.deltas.toString) // the epoch-2 delta
    assert(idx5.dataPaths.map(spark.read.parquet(_))
      .reduce(_.unionByName(_)).count() == 202L) // 201 compacted + 1 new
    assert(TableLog.snapshot(indexDir).lastEpoch == 2L)
  }

  test("compact is reader-safe with batch appends in the mix and idempotent under replay") {
    // the ivfAppend batch path and the streaming epoch path share the
    // delta layout; compact folds BOTH into one new generation, and
    // running it twice (the crash-replay shape) changes nothing.
    val root = Files.createTempDirectory("graft_sidx2").toString
    val indexDir = s"$root/index"
    val vrng = new scala.util.Random(41)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val all = (0 until 160).map(i => (i.toLong, randVec()))
    val (base, arriving) = all.splitAt(120)
    SimilarityOps.ivfBuild(base.toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, centroidEvery = 16, maxCentroids = 8)
    val grown = SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(indexDir),
      arriving.toDF("vec_id", "embedding"))
    assert(grown.deltas.size == 1)
    def q(idx: SimilarityOps.IvfIndex): Seq[(Long, Double, Int)] =
      SimilarityOps.ivfQueryById(spark, idx, 0L, k = 5, nprobe = 3)
        .select("vec_id", "cos_sim", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    val before = q(grown)
    val preHandle = SimilarityOps.ivfLoad(indexDir)
    StreamingIndex.compact(spark, indexDir)
    StreamingIndex.compact(spark, indexDir) // replay: must be a no-op
    val after = SimilarityOps.ivfLoad(indexDir)
    assert(after.gen == 1 && after.deltas.isEmpty, after.toString)
    assert(q(after) == before)
    assert(q(preHandle) == before) // pre-compaction reader unbroken
    def totalRows(idx: SimilarityOps.IvfIndex): Long =
      idx.dataPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_)).count()
    assert(totalRows(after) == 160L)
  }

  test("a delta committed DURING compaction stays a live delta — counted once, folded next time") {
    // the snapshot-vs-commit race: compact folds the deltas of its
    // snapshot, then a concurrent writer commits a new delta before
    // compact's checkpoint is published. The checkpoint loses the
    // version race and is rebuilt on the newer snapshot, so the late
    // delta must neither fold early (it would double-count — in the
    // base generation AND still live) nor vanish.
    val root = Files.createTempDirectory("graft_sidx3").toString
    val indexDir = s"$root/index"
    val vrng = new scala.util.Random(43)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val all = (0 until 200).map(i => (i.toLong, randVec()))
    SimilarityOps.ivfBuild(all.take(120).toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, centroidEvery = 16, maxCentroids = 8)
    SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(indexDir),
      all.slice(120, 160).toDF("vec_id", "embedding"))
    // the concurrent commit, interleaved exactly in the race window:
    // at compact's first publish step, after its fold was written
    var fired = false
    TableLog.onStep = (r, step) =>
      if (r == indexDir && step == "commit" && !fired) {
        fired = true
        SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(indexDir),
          all.drop(160).toDF("vec_id", "embedding"))
      }
    try StreamingIndex.compact(spark, indexDir)
    finally TableLog.onStep = (_, _) => ()
    assert(fired)
    val mid = SimilarityOps.ivfLoad(indexDir)
    def totalRows(idx: SimilarityOps.IvfIndex): Long =
      idx.dataPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_)).count()
    assert(mid.gen == 1, mid.toString)
    assert(mid.deltas.size == 1, mid.deltas.toString) // late delta LIVE
    assert(totalRows(mid) == 200L)                    // each row ONCE
    StreamingIndex.compact(spark, indexDir)           // folds the late one
    val after = SimilarityOps.ivfLoad(indexDir)
    assert(after.gen == 2 && after.deltas.isEmpty, after.toString)
    assert(totalRows(after) == 200L)
  }

  test("quantized index: streamed deltas carry the SQ8 columns; ivfQuerySQ answers survive compaction unchanged") {
    // assignCells derives code8/scale8/cnorm8 for EVERY writer, so a
    // quantize=true index streams, appends, and compacts with the SQ8
    // columns intact end to end — the quantized scoring pass keeps
    // working over base ∪ deltas and over the folded generation.
    val root = Files.createTempDirectory("graft_sidx4").toString
    val streamDir = s"$root/vecs"
    val indexDir = s"$root/index"
    Files.createDirectories(Paths.get(streamDir))
    val vrng = new scala.util.Random(47)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val all = (0 until 160).map(i => (i.toLong, randVec()))
    val twin = {
      val v = all.head._2.clone(); v(0) = v(0) + 1e-4f; (999L, v)
    }
    SimilarityOps.ivfBuild(all.take(120).toDF("vec_id", "embedding"),
      "vec_id", "embedding", indexDir, centroidEvery = 16,
      maxCentroids = 8, quantize = true)
    (all.drop(120) :+ twin).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(streamDir)
    StreamingIndex.run(spark, streamDir, indexDir, s"$root/ckpt")
      .awaitTermination()
    val idx = SimilarityOps.ivfLoad(indexDir)
    assert(idx.quantized && idx.deltas.size == 1, idx.toString)
    // the streamed delta holds the SQ8 columns
    val deltaCols = spark.read.parquet(idx.deltas.head).columns.toSet
    assert(Set("code8", "scale8", "cnorm8").subsetOf(deltaCols), deltaCols)
    val qvd = all.head._2.map(_.toDouble).toSeq
    def sq(i: SimilarityOps.IvfIndex): Seq[(Long, Double, Int)] =
      SimilarityOps.ivfQuerySQ(spark, i, qvd, k = 3, nprobe = 3,
        rerank = 4)
        .select(col("vec_id"), col("cos_sim"), col("rank"))
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    val before = sq(idx)
    assert(before.head._1 == 0L && before.exists(_._1 == 999L),
      before.mkString(", ")) // the STREAMED twin surfaces through SQ8
    StreamingIndex.compact(spark, indexDir)
    val folded = SimilarityOps.ivfLoad(indexDir)
    assert(folded.gen == 1 && folded.deltas.isEmpty && folded.quantized,
      folded.toString)
    assert(sq(folded) == before)
  }

  test("rebuild keeps the replay backstop; vacuum spares live files") {
    val root = Files.createTempDirectory("graft_sidx_r8").toString
    val indexDir = s"$root/index"
    val streamDir = s"$root/vecs"
    val ckpt = s"$root/ckpt"
    val vrng = new scala.util.Random(41)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val emb = (0 until 64).map(i => (i.toLong, randVec()))
      .toDF("vec_id", "embedding")
    SimilarityOps.ivfBuild(emb, "vec_id", "embedding", indexDir,
      centroidEvery = 16, maxCentroids = 4)
    // one streamed epoch (epoch 0, three vectors)
    (64 until 67).map(i => (i.toLong, randVec())).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(streamDir)
    StreamingIndex.run(spark, streamDir, indexDir, ckpt).awaitTermination()
    assert(TableLog.snapshot(indexDir).lastEpoch == 0L)
    // rebuild in place: the deltas go, the replay backstop SURVIVES
    SimilarityOps.ivfBuild(emb, "vec_id", "embedding", indexDir,
      centroidEvery = 16, maxCentroids = 4)
    val rebuilt = SimilarityOps.ivfLoad(indexDir)
    assert(rebuilt.gen == 1 && rebuilt.deltas.isEmpty, rebuilt.toString)
    assert(TableLog.snapshot(indexDir).lastEpoch == 0L)
    // epoch 0 replayed against the rebuilt index (its checkpoint
    // commit lost) is skipped: the index keeps exactly the 64 rows
    Seq("0", ".0.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    StreamingIndex.run(spark, streamDir, indexDir, ckpt).awaitTermination()
    assert(SimilarityOps.readCells(spark, SimilarityOps.ivfLoad(indexDir))
      .count() == 64L)

    // vacuum after an append + compaction: the pre-compaction handle
    // answers until vacuum; vacuum deletes the retired base, delta and
    // the pre-rebuild files, and the reloaded handle loses no rows
    SimilarityOps.ivfAppend(rebuilt,
      Seq((1000L, randVec())).toDF("vec_id", "embedding"))
    val before = SimilarityOps.ivfLoad(indexDir)
    val rowsBefore = SimilarityOps.readCells(spark, before).count()
    StreamingIndex.compact(spark, indexDir)
    assert(SimilarityOps.readCells(spark, before).count() == rowsBefore)
    StreamingIndex.vacuum(indexDir)
    (before.dataPaths ++ Seq(s"$indexDir/cells", s"$indexDir/centroids.json",
        SimilarityOps.ivfDeltaPath(indexDir, 0L)))
      .foreach(p => assert(!Files.exists(Paths.get(p)), p))
    val after = SimilarityOps.ivfLoad(indexDir)
    assert(after.gen == 2 && after.deltas.isEmpty, after.toString)
    assert(SimilarityOps.readCells(spark, after).count() == rowsBefore)
  }
}
