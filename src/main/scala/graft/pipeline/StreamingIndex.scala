package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.SimilarityOps

/** Streaming ANN index maintenance — the continuous-arrival
  * counterpart of [[SimilarityOps.ivfAppend]]: embedding batches
  * landing in a directory stream are assigned with the index's FROZEN
  * centroid matrix (the exact argmax the build used, so
  * stream-then-query ≡ rebuild-over-the-union) and committed as
  * per-epoch DELTA tables beside the base cells — the same
  * cell-partitioned layout, one [[TableLog]] commit per epoch as in
  * [[StreamingExtract]], so the at-least-once `foreachBatch` replay
  * after a crash skips an already-committed epoch and an epoch
  * written-but-not-committed stays invisible to every reader:
  * effectively-once index growth, resumable from the checkpoint.
  *
  * Queries need no refresh step: [[SimilarityOps.ivfLoad]] picks up
  * committed deltas, and every query reads base ∪ deltas with the
  * `cell` filter partition-pruning inside each root independently —
  * the probe cost stays ~nprobe/C of (base + deltas), never a rescan.
  * Delta-count growth is bounded by [[compact]], which folds deltas
  * into a NEW base generation in one checkpoint commit, with [[vacuum]]
  * deleting what the log retired the way [[Commit.vacuum]] retires
  * chunk files.
  */
object StreamingIndex {

  /** Start (or resume, given the same checkpoint) streaming index
    * maintenance over `vecsDir`. `Trigger.AvailableNow` drains what is
    * available then stops (the testable batch of streaming); pass
    * `continuous = true` for an unbounded query. The index must
    * already exist ([[SimilarityOps.ivfBuild]]); its centroid matrix
    * is loaded once and frozen for the life of the query — balance
    * drift under a shifting embedding distribution is observable via
    * [[SimilarityOps.ivfCellStats]] and fixed by a rebuild with
    * `refineIters > 0`. An epoch at or below the log's last epoch —
    * committed, folded by a compaction, or carried through a rebuild —
    * is a replay and is skipped.
    */
  def run(
      spark: SparkSession,
      vecsDir: String,
      indexDir: String,
      checkpointDir: String,
      continuous: Boolean = false,
      maxFilesPerTrigger: Int = 100): StreamingQuery = {
    val index = SimilarityOps.ivfLoad(indexDir)
    val schema = spark.read.parquet(vecsDir).schema
    val reader = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(vecsDir)
    reader.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        TableLog.commitEpoch(indexDir, epochId) {
          val delta = SimilarityOps.ivfDeltaPath(indexDir, epochId)
          SimilarityOps.assignCells(batch, index)
            .sortWithinPartitions(col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(delta)
          Seq(TableLog.Entry(delta.stripPrefix(s"$indexDir/")))
        }
      }
      .trigger(if (continuous) Trigger.ProcessingTime(0) else Trigger.AvailableNow())
      .start()
  }

  /** Fold every live delta (streaming epochs AND
    * [[SimilarityOps.ivfAppend]] batch deltas) into a NEW base
    * generation, so query plans return to a single pruned scan per
    * probe (many small deltas = many scan branches and small files —
    * the LSM compaction moment; parity with [[Commit.compact]]).
    *
    * The folded base is written to the next generation's directory,
    * which no reader resolves yet; the one commit point is a checkpoint
    * that adds it and removes the old base and the folded deltas. A
    * reader loads either side of that commit, never a mix, and handles
    * loaded before it keep answering from intact files until
    * [[vacuum]]. A delta committed while the fold runs makes the commit
    * lose its version race; the retry keeps that delta live for the
    * next compaction. A crash before the commit leaves the index as it
    * was; the retry overwrites the half-written directory.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    val index = SimilarityOps.indexAt(indexDir, TableLog.snapshot(indexDir))
    if (index.deltas.nonEmpty) {
      val gen = index.gen + 1
      // one read per root (a multi-root read trips partition-discovery's
      // conflicting-directory check: delta dirs aren't partition dirs);
      // a quantized index folds its SQ8 columns through unchanged
      val dataCols = Seq(col(index.idCol), col(index.vecCol)) ++
        (if (index.quantized)
          Seq(col("code8"), col("scale8"), col("cnorm8")) else Nil)
      SimilarityOps.readCells(spark, index)
        .select(dataCols :+ col("cell"): _*)
        .sortWithinPartitions(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(SimilarityOps.ivfCellsPath(indexDir, gen))
      val folded = index.dataPaths.map(_.stripPrefix(s"$indexDir/")).toSet
      val base = SimilarityOps.ivfCellsPath(indexDir, gen).stripPrefix(s"$indexDir/")
      TableLog.commit(indexDir)(s => Option.when(folded.subsetOf(s.paths.toSet))(
        TableLog.Record(s.live.filterNot(e => folded(e.path)) :+ TableLog.Entry(base),
          folded.toSeq.sorted, s.info + ("gen" -> gen.toString), checkpoint = true)))
    }
  }

  /** Delete what only pre-compaction (or pre-rebuild) readers could
    * still need: every path the log removed that the current snapshot
    * no longer holds. Run when no reader holds such a handle (parity
    * with [[Commit.vacuum]]); [[compact]] itself never blocks or breaks
    * readers. Uncommitted delta dirs (crash leftovers) are untouched.
    */
  def vacuum(indexDir: String): Unit = TableLog.vacuum(indexDir)
}
