package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkEntry
import graft.ops.{DedupOps, SimilarityOps}
import Main.{Cpus, noop}

/** `ops_queries`: the `OpsWorkload.Timed` subset of `SparkEntry.queries`
  * (`ops_full`: all of them) into a noop sink, then one IVF batch of
  * `Sizes.AnnQueries` queries at nprobe 4, per closed-loop pass, over
  * seeded tables generated before the JVM starts.
  */
final class OpsWorkload(args: Main.Args, r: Main.Report, full: Boolean) extends Workload {
  import OpsWorkload.Pass
  private val tables = args("tables")
  private val names =
    if (full) SparkEntry.queries.keys.toSeq.sorted else OpsWorkload.Timed

  def run(): Unit = {
    var spark: SparkSession = null
    val sessionS = Main.secondsOf { spark = Main.session(Cpus) }
    val emb = spark.read.parquet(s"$tables/embeddings.parquet")
    val nEmb = emb.count()
    val queries = emb.filter(col("vec_id") % (nEmb / Sizes.AnnQueries) === 0)
    var index: SimilarityOps.IvfIndex = null
    val buildS = Main.secondsOf {
      index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
        args.work.resolve("ivf").toString, centroidEvery = 32, maxCentroids = 64)
    }
    def ann(): DataFrame = SimilarityOps.ivfQueryBatch(spark, index, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)
    def pass(i: Int): Pass = {
      val qs = names.map { n =>
        n -> Host.timed(n, i)(Trace.span(s"ops.$n")(noop(SparkEntry.queries(n)(spark, tables))))
      }.toMap
      Pass(qs, Host.timed("ann_batch", i)(Trace.span("ann.ivf_batch")(noop(ann()))))
    }
    // `Sizes.OpsWarmPasses` warm-up passes, as pass times fall over the
    // first ones (`ops_full` keeps one and times one pass, to stay in a
    // run's time limit); the first writes every query's output for the
    // oracle comparison, the timed passes write to the noop sink
    val out = args.work.resolve("ops_out")
    val warmS = Main.secondsOf {
      names.foreach { n =>
        Host.timed(n, -1)(SparkEntry.queries(n)(spark, tables).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve(n).toString))
      }
      Host.timed("ann_batch", -1)(noop(ann()))
      if (!full) (2 to Sizes.OpsWarmPasses).foreach(i => pass(-i))
    }
    Files.writeString(out.resolve("oracle_sql.json"), SparkEntry.oracleSql
      .filter(q => names.contains(q._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}"))
    Setup.report(r, sessionS, args("gen-s").toDouble, buildS + warmS)

    val stats = new SparkStats
    val minPasses = if (full) 1 else Sizes.MinPasses
    val (untraced, noisy, traced, plain, wall) =
      if (!args.trace) {
        val (u, n) = Main.loop(args.seconds, minPasses)(pass)
        (u, n, Nil, Nil, 0.0)
      } else {
        val (u, t, p, w) = Main.alternate(spark, args.seconds, stats)(pass)(pass)
        (u, 0, t, p, w)
      }

    def total(p: Pass) = p.queryS.values.sum + p.annS
    val perQuery = names.map(n => Stats.median(untraced.map(_.queryS(n))))
    r.e2e("pass_s") = (Stats.median(untraced.map(total)), "s")
    r.e2e("noisy_passes") = (noisy.toDouble, "count")
    r.e2e("queries_s") = (Stats.median(untraced.map(_.queryS.values.sum)), "s")
    r.e2e("query_s_p50") = (Stats.quantile(perQuery, 0.5), "s")
    r.e2e("query_s_p75") = (Stats.quantile(perQuery, 0.75), "s")
    r.e2e("ann_batch_s") = (Stats.median(untraced.map(_.annS)), "s")
    r.e2e("ann_recall_at10") = (recallAt10(emb, queries, ann()), "ratio")

    if (args.trace) {
      stats.metrics(traced.size, Cpus, wall).foreach { case (n, v, u) => r.layers(n) = (v, u) }
      val tracedPasses = traced.indices.map(_ + Main.TracedPass).toSet
      val self = Trace.selfByName(tracedPasses)
      def perPass(n: String) = self.get(n).map(_._1).getOrElse(0.0) / traced.size
      names.foreach(n => r.layers(s"ops.${n}_s") = (perPass(s"ops.$n"), "s"))
      r.layers("ann.ivf_batch_s") = (perPass("ann.ivf_batch"), "s")
      r.layers("trace.layer_coverage") = (self.filter(_._1 != "pass").values.map(_._1).sum /
        Trace.wallByName(tracedPasses)("pass"), "ratio")
      r.layers("trace.overhead_pct") = (100.0 *
        (Stats.median(traced.map(total)) / Stats.median(plain.map(total)) - 1.0), "%")
      annAndDedupLayers(spark, emb, queries)
    }

    Main.stopSession(spark)
  }

  /** Share of the exact cosine top-10 that the IVF batch returns. */
  private def recallAt10(emb: DataFrame, queries: DataFrame, approx: DataFrame): Double = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val exact = emb.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        SimilarityOps.cosine(col("embedding"), col("qv")).as("cos"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      .select("query_id", "vec_id")
    val hits = exact.join(approx.select("query_id", "vec_id"), Seq("query_id", "vec_id")).count()
    hits.toDouble / exact.count()
  }

  /** The ANN and dedup layers on their own, once each, after the passes. */
  private def annAndDedupLayers(spark: SparkSession, emb: DataFrame, queries: DataFrame): Unit = {
    Trace.enabled = true
    Trace.pass = -1
    val idx = Trace.span("ann.ivf_build")(SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      args.work.resolve("ivf_probe").toString, centroidEvery = 32, maxCentroids = 64))
    val sq = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      args.work.resolve("ivf_sq8").toString, centroidEvery = 32, maxCentroids = 64,
      quantize = true)
    Trace.span("ann.sq8_batch")(noop(SimilarityOps.ivfQuerySQBatch(spark, sq, queries,
      "vec_id", "embedding", k = 10, nprobe = 4)))
    Trace.span("ann.lsh_batch")(noop(SimilarityOps.lshTopKBatch(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 10)))
    val docs = spark.read.parquet(s"$tables/documents.parquet").select("doc_id", "text")
    val planted = docs.unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
      col("text")))
    val pairs = Trace.span("dedup.minhash_pairs") {
      val p = DedupOps.minhashLshPairs(planted, "doc_id", "text", k = 32, bands = 8,
        thresholdX1M = 900000L, neutral = true).persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    Trace.span("dedup.cc")(noop(DedupOps.connectedComponents(pairs, "id_a", "id_b")))
    pairs.unpersist()
    val self = Trace.selfByName(Set(-1))
    Seq("ann.ivf_build", "ann.sq8_batch", "ann.lsh_batch", "dedup.minhash_pairs", "dedup.cc")
      .foreach(n => r.layers(s"${n}_s") = (self(n)._1, "s"))
    r.layers("ann.cells") = (idx.centroids.size.toDouble, "count")
  }
}

object OpsWorkload {
  final case class Pass(queryS: Map[String, Double], annS: Double)

  /** The queries the timed `ops_queries` workload runs: at least one per
    * operator module (invoice and validation expressions, TextOps,
    * DedupOps, SimilarityOps, MediaOps), chosen so a pass fits the run
    * window. `ops_full` runs all of `SparkEntry.queries`.
    */
  val Timed: Seq[String] = Seq(
    "q02_totals_quirk", "q08_warnings", "q18_dedup_exact", "q19_token_quality",
    "q22_ngram_jaccard", "q29_is_valid", "q34_image_dhash")
}
