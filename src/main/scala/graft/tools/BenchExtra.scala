package graft.tools

import org.apache.spark.sql.DataFrame

/** Round-8 optimization harness (guide §1.4): per-query noop-sink
  * timing with the PLANNING cost split out from execution, plus
  * formatted-plan dumps. Separate main so graft.Bench (the frozen
  * driver-contract harness) stays untouched.
  *
  * Usage:
  *   sbt "runMain graft.tools.BenchExtra time [qname...]"
  *     one cold + N warm noop-sink runs per query; prints one JSON line
  *     {"name": {"plan_sec": .., "cold_sec": .., "warm_secs": [..]}}
  *   sbt "runMain graft.tools.BenchExtra plans <tag> [qname...]"
  *     writes .explain("formatted") to plans/r08/<qname>_<tag>.txt
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_EXTRA_WARM (default 2).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val warmRuns = sys.env.getOrElse("SPARK_GRAFT_EXTRA_WARM", "2").toInt
    val mode = args.headOption.getOrElse("time")
    val (tag, rest) =
      if (mode == "plans") (args.lift(1).getOrElse(""), args.drop(2))
      else ("", args.drop(1))
    // a missing tag, or a query name where the tag belongs, would
    // otherwise crash or swallow that query name
    if (mode == "plans" &&
        (tag.isEmpty || graft.SparkEntry.queries.contains(tag))) {
      System.err.println("usage: BenchExtra plans <tag> [qname...]")
      sys.exit(2)
    }
    val names =
      if (rest.nonEmpty) rest.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.pipeline.ExtractionPipeline.session("graft-bench-extra", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def build(name: String): DataFrame =
      graft.SparkEntry.queries(name)(spark, sfDir)

    mode match {
      case "plans" =>
        val dir = java.nio.file.Paths.get("plans/r08")
        java.nio.file.Files.createDirectories(dir)
        names.foreach { n =>
          val df = build(n)
          val out = new java.io.ByteArrayOutputStream()
          Console.withOut(new java.io.PrintStream(out)) {
            df.explain("formatted")
          }
          java.nio.file.Files.writeString(
            dir.resolve(s"${n}_$tag.txt"), out.toString)
          println(s"wrote ${n}_$tag.txt")
        }
      case _ =>
        val results = names.map { n =>
          spark.sparkContext.setJobDescription(s"bench-extra: $n")
          // planning cost: force analysis+optimization+physical planning
          val t0 = System.nanoTime()
          val df0 = build(n)
          df0.queryExecution.executedPlan // force planning
          val planSec = (System.nanoTime() - t0) / 1e9
          def runOnce(): Double = {
            val t = System.nanoTime()
            build(n).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t) / 1e9
          }
          val cold = runOnce()
          val warms = (1 to warmRuns).map(_ => runOnce())
          println(f"""  $n plan=$planSec%.3f cold=$cold%.3f warm=${warms.map(w => f"$w%.3f").mkString(",")}""")
          n -> (planSec, cold, warms)
        }
        val json = results.map { case (n, (p, c, ws)) =>
          f""""$n":{"plan_sec":$p%.3f,"cold_sec":$c%.3f,"warm_secs":${ws.map(w => f"$w%.3f").mkString("[", ",", "]")}}"""
        }.mkString("{", ",", "}")
        println("BENCHEXTRA " + json)
    }
    spark.stop()
  }
}
