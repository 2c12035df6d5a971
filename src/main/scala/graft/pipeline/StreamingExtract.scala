package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.DedupOps

/** §2.9 — Structured Streaming ingestion. The reference is batch with
  * polling, so streaming was out of parity scope; this is the
  * Spark-native continuous-arrival answer a production corpus needs:
  * doc files landing in a directory stream through the SAME extraction
  * dataflow (spanTasks → media join → kernel → reassemble) via
  * `foreachBatch`, against the static media sidecar (stream-static
  * join). Each micro-batch commits idempotently by epoch — parquet to
  * `out/data/epoch=<id>/`, then one [[TableLog]] commit exactly like
  * [[Commit]]'s — so the at-least-once `foreachBatch` replay after a
  * crash skips an already-committed epoch: effectively-once output,
  * resumable from the checkpoint (north rule: resumable with
  * per-partition lineage, extended to arrival time).
  */
object StreamingExtract {

  /** The guard's document fingerprint: SimHash over every span's
    * inline text AND media_ref. The refs matter — a media-only
    * document has NO inline text, and a text-blind fingerprint would
    * collapse every such doc to one hash (all dropped as "dups");
    * refs are also the honest dedup key for media spans, since the
    * sidecar is static and shared (two docs referencing the same
    * payload with the same text ARE duplicates).
    */
  def docFingerprint(spans: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    DedupOps.simhash64(array_join(
      transform(spans, sp => concat_ws(" ", sp("text"), sp("media_ref"))),
      " "))

  /** Start (or resume, given the same checkpoint) a streaming
    * extraction over `docsDir`. `Trigger.AvailableNow`: drain
    * everything currently available, then stop — the testable batch
    * of streaming; pass `continuous = true` for an unbounded query.
    *
    * `bucketedMediaBuckets = Some(n)` (round 5) stages the static
    * media sidecar ONCE as an n-bucket table
    * ([[Commit.stageMediaBucketed]], fingerprint-guarded — resumed
    * runs pay nothing) and routes every micro-batch through the
    * NO-BROADCAST join (ExtractionPipeline.extractVsBucketedMedia):
    * the stream-static join then moves only the batch's bytes-free
    * task metadata, never payloads, never a broadcast — the 10^12-doc
    * posture for a streaming deployment. Default keeps `extract`'s
    * gated broadcast.
    *
    * `dedupGuard = true` (round 6) drops near-duplicate documents ON
    * ARRIVAL, before they pay extraction: each batch doc's 64-bit
    * fingerprint ([[docFingerprint]] — SimHash over span texts AND
    * media_refs; [[DedupOps.simhash64]], the q25 machinery) is banded
    * ([[DedupOps.hashBands64]], the q32 machinery) and anti-joined
    * against the hashes of every COMMITTED epoch; a band collision
    * verified to hamming ≤ `guardMaxHamming` is a drop. Within one
    * batch, exact-fingerprint dups keep the minimum doc_id, and
    * (round 7) NEAR-dups inside the batch are closed too: survivors'
    * bands self-join (one join, bounded by the micro-batch size) and a
    * doc drops when ANY smaller-id batch member sits within the
    * hamming radius — the local-minima rule. It keeps the local minima
    * of the in-batch near graph, which can exceed one survivor per
    * connected component when a component has several local minima
    * (a, b, c with a~c and b~c but not a~b keeps a AND b: neither has
    * a smaller-id neighbour; advisor round 7 corrected the old chain
    * example, where c's smaller-id neighbour b drops c regardless of
    * b's own fate) — full-closure semantics stay with the
    * batch operators (q33) over the committed output; the guard's job
    * is stopping bursts of near-identical docs from all committing.
    * Accepted fingerprints persist to
    * `out/_hashes/epoch=<id>` under the SAME log commit as
    * the data, so replays neither lose nor double-count hashes, and a
    * crashed epoch's hashes are invisible (committed-epochs-only, like
    * [[readOutput]]). Defaults mirror the image family's pigeonhole
    * pairing: 8-bit bands guarantee every hamming ≤ 6 pair shares a
    * band (enforced: `guardMaxHamming < 64/guardBandBits`, otherwise
    * near-dups inside the radius could share no band and silently pass
    * the guard — advisor, round 6).
    */
  def run(
      spark: SparkSession,
      docsDir: String,
      media: DataFrame,
      outDir: String,
      checkpointDir: String,
      partitions: Int = 32,
      continuous: Boolean = false,
      maxFilesPerTrigger: Int = 100,
      bucketedMediaBuckets: Option[Int] = None,
      dedupGuard: Boolean = false,
      guardMaxHamming: Int = 6,
      guardBandBits: Int = 8): StreamingQuery = {
    if (dedupGuard)
      // pigeonhole contract: with 64/guardBandBits bands, every pair
      // within hamming < 64/guardBandBits shares a band; beyond it the
      // guard would silently miss in-radius near-dups (advisor, r6)
      require(guardMaxHamming < 64 / guardBandBits,
        s"guardMaxHamming=$guardMaxHamming breaks the pigeonhole " +
          s"guarantee of $guardBandBits-bit bands (need < " +
          s"${64 / guardBandBits})")
    // file stream needs an explicit schema; take it from the batch
    // reader of the same directory (cheap footer read)
    val schema = spark.read.parquet(docsDir).schema
    val reader = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
    // one-time static-side staging, BEFORE the stream starts
    val mediaTable = bucketedMediaBuckets.map(b =>
      Commit.stageMediaBucketed(spark, media, outDir, b))
    val q = reader.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        TableLog.commitEpoch(outDir, epochId) {
          val accepted =
            if (!dedupGuard) batch
            else {
              val withFp = batch.withColumn("_fp", docFingerprint(col("spans")))
              val seen = readCommittedHashes(spark, outDir)
              val batchBands = withFp.select(col("doc_id"), col("_fp"),
                explode(DedupOps.hashBands64(col("_fp"), guardBandBits)).as("bb"))
              val seenBands = seen.select(col("fp").as("_seen_fp"),
                explode(DedupOps.hashBands64(col("fp"), guardBandBits)).as("bb"))
              val dupIds = batchBands.join(seenBands, Seq("bb"))
                .filter(DedupOps.hamming64(col("_fp"), col("_seen_fp"))
                  <= guardMaxHamming)
                .select(col("doc_id")).distinct()
              // in-batch exact dups: one keeper (min doc_id) per fp
              val keepers = withFp.groupBy(col("_fp"))
                .agg(min(col("doc_id")).as("doc_id"))
              val survivors = withFp.join(dupIds, Seq("doc_id"), "left_anti")
                .join(keepers, Seq("_fp", "doc_id"), "left_semi")
              // in-batch NEAR-dup closure (round 7): band the
              // survivors against THEMSELVES — drop a doc when any
              // smaller-id survivor sits within the hamming radius
              // (hamming ≥ 1: exact dups were just reduced to one
              // keeper). One self-join bounded by the micro-batch.
              val sb = (a: String, b: String) => survivors
                .select(col("doc_id").as(a), col("_fp").as(b),
                  explode(DedupOps.hashBands64(col("_fp"), guardBandBits))
                    .as("bb"))
              val nearDrop = sb("did_a", "fp_a").join(sb("did_b", "fp_b"), Seq("bb"))
                .filter(col("did_b") < col("did_a") &&
                  DedupOps.hamming64(col("fp_a"), col("fp_b"))
                    .between(1, guardMaxHamming))
                .select(col("did_a").as("doc_id")).distinct()
              survivors.join(nearDrop, Seq("doc_id"), "left_anti")
            }
          val out = (mediaTable, bucketedMediaBuckets) match {
            case (Some(tbl), Some(b)) =>
              ExtractionPipeline.extractVsBucketedMedia(
                spark, accepted.drop("_fp"), tbl, b, partitions)
            case _ =>
              ExtractionPipeline.extract(accepted.drop("_fp"), media, partitions)
          }
          out.write.mode("overwrite").parquet(s"$outDir/data/epoch=$epochId")
          if (dedupGuard)
            accepted.select(col("_fp").as("fp")).distinct()
              .write.mode("overwrite")
              .parquet(s"$outDir/_hashes/epoch=$epochId")
          Seq(s"data/epoch=$epochId", s"_hashes/epoch=$epochId")
            .take(if (dedupGuard) 2 else 1).map(TableLog.Entry(_))
        }
      }
      .trigger(if (continuous) Trigger.ProcessingTime(0) else Trigger.AvailableNow())
      .start()
    q
  }

  /** The dedup guard's committed fingerprint table: the union of every
    * committed epoch's accepted SimHash values. Epochs committed with
    * the guard off simply have no hash dir. Distinct — the table is a
    * membership set, not a multiset.
    */
  def readCommittedHashes(spark: SparkSession, outDir: String): DataFrame = {
    val dirs = TableLog.snapshot(outDir).paths.filter(_.startsWith("_hashes/"))
      .map(p => s"$outDir/$p")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "fp", org.apache.spark.sql.types.LongType))))
    else spark.read.parquet(dirs: _*).select(col("fp")).distinct()
  }

  /** Read the committed streaming output — COMMITTED epochs only,
    * mirroring [[Commit.readOutput]]'s committed-only contract: an
    * epoch directory written but never committed (crash between the
    * parquet write and the log commit) is invisible to readers until
    * the replay overwrites and commits it (advisor, round 4). The
    * `epoch` column is a long on both the empty and the committed
    * branch.
    */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    Commit.readCommitted(spark, s"$outDir/data",
      TableLog.snapshot(outDir).paths.filter(_.startsWith("data/epoch="))
        .map(p => s"$outDir/$p"), "epoch",
      org.apache.spark.sql.types.LongType)
}
