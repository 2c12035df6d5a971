package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.ExtractionPipeline

/** Benchmark main for one workload. Closed loop, one client: each job
  * is submitted after the previous one finished. Writes one JSON result
  * file (every metric by name and unit, the checks, the host samples)
  * and, on traced runs, the spans.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> [--tables <dir> --gen-s <s>]
  */
object Main {
  val Cpus = 4

  final class Args(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Double = apply("seconds").toDouble
    val trace: Boolean = apply("trace") == "1"
    val work: Path = Paths.get(apply("work")).toAbsolutePath
  }

  /** Everything one run reports. */
  final class Report {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def check(what: String, attempted: Long, failed: Long): Unit = {
      this.attempted += attempted
      this.failed += failed
      checks += s"$what: ${attempted - failed}/$attempted ok"
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = new Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    Files.createDirectories(args.work)
    val report = new Report
    val workload: Workload = args.workload match {
      case "media_mix" => new CorpusWorkload(args, report, inline = false)
      case "inline_mix" => new CorpusWorkload(args, report, inline = true)
      case "commit_resume" => new CommitWorkload(args, report)
      case "ops_queries" => new OpsWorkload(args, report, full = false)
      case "ops_full" => new OpsWorkload(args, report, full = true)
      case "classes" => new ClassesWorkload(args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.run()
    report.e2e("peak_rss_mb") = (Host.peakRssMb, "MB")
    if (args.trace) {
      val h = Host.samples.toSeq
      report.layers("host.steal_pct") = (h.map(_.stealPct).sum / h.size.max(1), "%")
      report.layers("host.iowait_pct") = (h.map(_.iowaitPct).sum / h.size.max(1), "%")
      report.layers("host.gc_ms") = (h.map(_.gcMs.toDouble).sum / h.size.max(1), "ms")
      Trace.write(args.work.resolve("spans.jsonl"))
    }
    report.e2e("failed_share") =
      (report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    Json.writeReport(args.work.resolve("result.json"), args, report)
  }

  // -------------------------------------------------------------------
  // shared helpers
  // -------------------------------------------------------------------

  def session(cpus: Int): SparkSession = {
    val s = ExtractionPipeline.session(s"perfbench-$cpus", cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop: run passes until `seconds` have elapsed and at least
    * `minPasses` passes are done. A pass during which the host stole
    * more than `Sizes.NoisyStealPct` of CPU time is noisy: the loop goes
    * on, for at most `seconds / 2` more, until `minPasses` quiet passes are
    * done. Returns the quiet passes' results if there are `minPasses` of
    * them, else every pass's, and the number of noisy passes.
    */
  def loop[T](seconds: Double, minPasses: Int)(pass: Int => T): (Seq[T], Int) = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val all = mutable.ArrayBuffer.empty[T]
    val quiet = mutable.ArrayBuffer.empty[T]
    while (all.size < minPasses || elapsed < seconds ||
        (quiet.size < minPasses && elapsed < 1.5 * seconds)) {
      val i = all.size
      Trace.pass = i
      val res = pass(i)
      all += res
      if (Host.stealPct(i) <= Sizes.NoisyStealPct) quiet += res
    }
    (if (quiet.size >= minPasses) quiet.toSeq else all.toSeq, all.size - quiet.size)
  }

  /** A traced run alternates an untraced pass, a traced pass, and the
    * traced pass's plan with tracing off, so all three see the same
    * warm-up state; spans and the engine listener are on only during
    * traced passes. Returns the untraced passes, the traced passes, the
    * plain runs of the traced plan, and the wall seconds the traced
    * passes took.
    */
  def alternate[U, T](spark: SparkSession, seconds: Double, stats: SparkStats)(
      untraced: Int => U)(traced: Int => T): (Seq[U], Seq[T], Seq[T], Double) = {
    val u = mutable.ArrayBuffer.empty[U]
    val t = mutable.ArrayBuffer.empty[T]
    val plain = mutable.ArrayBuffer.empty[T]
    var tracedWall = 0.0
    val t0 = System.nanoTime()
    while (u.size < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      Trace.pass = u.size
      u += untraced(u.size)
      Trace.pass = PlainPass + plain.size
      plain += traced(PlainPass + plain.size)
      spark.sparkContext.addSparkListener(stats)
      Trace.enabled = true
      Trace.pass = TracedPass + t.size
      tracedWall += secondsOf(t += Trace.span("pass")(traced(TracedPass + t.size)))
      Trace.enabled = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(stats)
    }
    (u.toSeq, t.toSeq, plain.toSeq, tracedWall)
  }

  /** Pass ids of traced passes start here, and those of the traced
    * plan run with tracing off at `PlainPass`; warm-up passes and layer
    * probes have negative ids. */
  val TracedPass = 1000
  val PlainPass = 3000

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var bytes = 0L
        var files = 0L
        s.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).forEach { f => bytes += Files.size(f); files += 1 }
        (bytes, files)
      } finally s.close()
    }
}

/** Corpus and table sizes, and pass counts, for every workload. */
object Sizes {
  /** `media_mix` corpus bounds and raster content (see `MediaCorpus`):
    * 98 docs hold one 40-span whale (every 97th doc). */
  val MediaMinDocs = 98
  val MediaMaxDocs = 130
  val MediaRasterMpix = 26.0
  val InlineDocs = 2000
  /** Partitions of the extract plans: four per task thread, so the
    * spans spread evenly over the threads whatever the seed. */
  val Partitions = 16
  /** `commit_resume` commits a corpus of `media_mix`'s kinds. */
  val CommitDocs = 100
  val CommitChunks = 2
  /** Timed passes per run, at least; more while the window lasts. */
  val MinPasses = 3
  /** Warm-up passes of `media_mix` and `inline_mix`, and of
    * `ops_queries`, in set-up. */
  val CorpusWarmPasses = 6
  val OpsWarmPasses = 5
  /** A timed pass is noisy if the host stole more CPU time than this. */
  val NoisyStealPct = 5.0
  /** Passes of the local[1] leg of `media_mix`. */
  val ScalePasses = 2
  val GenReps = 3
  val ProbeTasks = 240
  val ProbeTexts = 400
  val AnnQueries = 100
}

trait Workload {
  def run(): Unit
}

/** A short run over a tiny corpus that loads the classes the workloads
  * use; the build records them in a class data archive.
  */
final class ClassesWorkload(args: Main.Args) extends Workload {
  def run(): Unit = {
    val spark = Main.session(Main.Cpus)
    val dir = args.work.resolve("corpus").toString
    graft.fixtures.CorpusGen.write(spark, dir, graft.fixtures.CorpusGen.Params(12, 1L))
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val out = ExtractionPipeline.extract(docs, media, Main.Cpus)
    Checks.goldenSpanMismatches(out, spark.read.parquet(s"$dir/golden_spans"))
    Main.noop(graft.pipeline.InvoiceExtract.fromSpans(out).toDF())
    graft.pipeline.Commit.run(spark, docs, media, args.work.resolve("commit").toString,
      "classes", chunks = 2, partitions = Main.Cpus, bucketedJoin = true)
    Main.stopSession(spark)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def metrics(m: collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")

  def writeReport(path: Path, args: Main.Args, r: Main.Report): Unit = {
    val host = Host.samples.map { s =>
      s"""{"label": ${str(s.label)}, "pass": ${s.pass}, "wall_s": ${num(s.wallS)}, """ +
        s""""cpu_s": ${num(s.cpuS)}, "steal_pct": ${num(s.stealPct)}, "iowait_pct": ${num(s.iowaitPct)}, """ +
        s""""gc_ms": ${s.gcMs}}"""
    }
    val body =
      s"""{"workload": ${str(args.workload)}, "seed": ${args.seed}, "trace": ${args.trace},
         |"attempted": ${r.attempted}, "failed": ${r.failed},
         |"checks": ${r.checks.map(str).mkString("[", ", ", "]")},
         |"end_to_end": ${metrics(r.e2e)},
         |"per_layer": ${metrics(r.layers)},
         |"host_samples": ${host.mkString("[", ",\n", "]")}}
         |""".stripMargin
    Files.write(path, body.getBytes("UTF-8"))
  }
}
