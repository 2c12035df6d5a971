package perfbench

import java.nio.file.{Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.CorpusGen
import graft.pipeline.Commit
import Main.Cpus

/** `commit_resume`: a bucketed-join `Commit.run` over the media corpus
  * that fails after half its chunks, then the resumed run with the same
  * runId, per closed-loop pass. Each pass commits into a fresh output
  * directory, so staging runs in the killed leg and the resume skips the
  * committed chunks.
  */
final class CommitWorkload(args: Main.Args, r: Main.Report) extends Workload {
  import CommitWorkload.{Pass, outDir}
  private val params = CorpusGen.Params(Sizes.CommitDocs, args.seed)
  private val dir = args.work.resolve("corpus").toString

  private def pass(spark: SparkSession, docs: DataFrame, media: DataFrame, i: Int): Pass =
    CommitWorkload.pass(spark, docs, media, args.work, i)

  def run(): Unit = {
    var spark: SparkSession = null
    val sessionS = Main.secondsOf { spark = Main.session(Cpus) }
    val genS = Setup.generate(spark, dir, params)
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val warmS = Main.secondsOf(Seq(-1, -2, -3).foreach(pass(spark, docs, media, _)))
    Setup.report(r, sessionS, genS, warmS)

    val stats = new SparkStats
    val (untraced, noisy, traced, plain, wall) =
      if (!args.trace) {
        val (u, n) = Main.loop(args.seconds, Sizes.MinPasses)(pass(spark, docs, media, _))
        (u, n, Nil, Nil, 0.0)
      } else {
        val (u, t, p, w) = Main.alternate(spark, args.seconds, stats)(
          pass(spark, docs, media, _))(pass(spark, docs, media, _))
        (u, 0, t, p, w)
      }
    val passes = untraced ++ traced ++ plain
    def total(ps: Seq[Pass]) = Stats.median(ps.map(p => p.killedS + p.resumeS))
    r.e2e("pass_s") = (total(untraced), "s")
    r.e2e("noisy_passes") = (noisy.toDouble, "count")
    r.e2e("resume_s") = (Stats.median(untraced.map(_.resumeS)), "s")

    // correctness of the last resumed output, outside the timed regions
    val out = Commit.readOutput(spark, outDir(args.work))
    val golden = spark.read.parquet(s"$dir/golden_spans")
    val bad = Checks.goldenSpanMismatches(out.select("doc_id", "spans"), golden)
    r.check("golden spans after resume", Sizes.CommitDocs, bad)
    val dups = out.groupBy("doc_id").count().filter(col("count") > 1).count()
    r.check("unique doc_id after resume", Sizes.CommitDocs, dups)
    r.check("chunks skipped on resume", passes.size,
      passes.count(_.skipped != Sizes.CommitChunks / 2))
    r.e2e("docs_per_s") = ((Sizes.CommitDocs - bad) / total(untraced), "1/s")

    if (args.trace) {
      stats.metrics(traced.size, Cpus, wall).foreach { case (n, v, u) => r.layers(n) = (v, u) }
      val self = Trace.selfByName(traced.indices.map(_ + Main.TracedPass).toSet)
      def perPass(n: String) = self.get(n).map(_._1).getOrElse(0.0) / traced.size
      r.layers("trace.layer_coverage") = ((perPass("commit.killed") + perPass("commit.resumed")) *
        traced.size / Trace.wallByName(traced.indices.map(_ + Main.TracedPass).toSet)("pass"),
        "ratio")
      r.layers("trace.overhead_pct") =
        (100.0 * (total(traced) - total(plain)) / total(plain), "%")
      CommitWorkload.layers(spark, docs, media, args.work, r)
    }
    Main.stopSession(spark)
  }
}

object CommitWorkload {
  final case class Pass(killedS: Double, resumeS: Double, skipped: Int)

  /** Every pass commits here, after deleting the previous pass's output. */
  def outDir(work: Path): String = work.resolve("commit/out").toString

  private def commit(spark: SparkSession, docs: DataFrame, media: DataFrame,
      work: Path, i: Int, failAfter: Int): Commit.RunSummary =
    Commit.run(spark, docs, media, outDir(work), runId = s"run-$i",
      chunks = Sizes.CommitChunks, partitions = Cpus,
      failAfterChunks = failAfter, bucketedJoin = true)

  /** The killed leg, then the resumed leg, into a fresh output dir. */
  def pass(spark: SparkSession, docs: DataFrame, media: DataFrame, work: Path, i: Int): Pass = {
    Main.deleteTree(work.resolve("commit"))
    val killed = Host.timed("commit_killed", i)(Trace.span("commit.killed") {
      try {
        commit(spark, docs, media, work, i, Sizes.CommitChunks / 2)
        throw new IllegalStateException("the killed leg did not fail")
      } catch {
        case e: RuntimeException if e.getMessage.startsWith("injected failure") =>
      }
    })
    var summary: Commit.RunSummary = null
    val resumed = Host.timed("commit_resumed", i)(Trace.span("commit.resumed") {
      summary = commit(spark, docs, media, work, i, Int.MaxValue)
    })
    Pass(killed, resumed, summary.skipped.size)
  }

  /** The commit layer on its own: one warm and one traced pass, then the
    * two staging steps into a scratch directory.
    */
  def layers(spark: SparkSession, docs: DataFrame, media: DataFrame, work: Path,
      r: Main.Report): Unit = {
    Trace.enabled = false
    pass(spark, docs, media, work, -4)
    Trace.enabled = true
    Trace.pass = -4
    val p = pass(spark, docs, media, work, -4)
    val scratch = work.resolve("commit_layers")
    Trace.span("commit.stage_by_chunk")(Commit.stageByChunk(spark, docs, media,
      scratch.toString, Sizes.CommitChunks))
    Trace.span("commit.stage_bucketed")(Commit.stageBucketed(spark, docs, media,
      scratch.toString, Cpus))
    val self = Trace.selfByName(Set(-4))
    Seq("killed", "resumed", "stage_by_chunk", "stage_bucketed").foreach { n =>
      r.layers(s"commit.${n}_s") = (self(s"commit.$n")._1, "s")
    }
    val out = outDir(work)
    val chunkMs = Commit.committedChunks(out).values.map(_.wallMillis.toDouble).toSeq
    r.layers("commit.chunk_ms") = (Stats.median(chunkMs), "ms")
    val (inBytes, _) = Main.treeBytes(work.resolve("corpus/docs"))
    val (mediaBytes, _) = Main.treeBytes(work.resolve("corpus/media"))
    val (outBytes, files) = Main.treeBytes(Paths.get(out, "data"))
    r.layers("commit.write_amp") = (outBytes.toDouble / (inBytes + mediaBytes), "ratio")
    r.layers("commit.files_written") = (files.toDouble, "count")
    r.layers("commit.chunks_skipped") = (p.skipped.toDouble, "count")
  }
}
