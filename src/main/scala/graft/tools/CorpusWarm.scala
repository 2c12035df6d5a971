package graft.tools

import graft.fixtures.CorpusGen
import graft.pipeline.ExtractionPipeline

/** Generate (or reuse) the bench corpus at full machine width — the
  * scaling harness calls this once so neither measured configuration
  * pays generation cost.
  */
object CorpusWarm {
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "9000").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR",
      s"/tmp/graft_bench_corpus_$nDocs")
    val spark = ExtractionPipeline.session("graft-corpus-warm", 32)
    spark.sparkContext.setLogLevel("WARN")
    CorpusGen.ensure(spark, dir, CorpusGen.Params(nDocs = nDocs))
    // SPARK_GRAFT_STAGE_CHUNKS=n -> additionally lay the corpus out
    // co-partitioned by chunk (docs by hash(doc_id); media by the
    // doc_id embedded in media_ref) so chunked executors partition-
    // prune instead of scan-and-filter — the Iceberg-layout stand-in.
    sys.env.get("SPARK_GRAFT_STAGE_CHUNKS").map(_.toInt).foreach { n =>
      val staged = java.nio.file.Paths.get(dir, s"staged$n")
      // staged sentinel embeds the corpus sentinel (params + layout
      // version): a staged layout from an older corpus or an older
      // row-group layout is restaged, never silently reused
      val sentinel = staged.resolve("_staged_complete")
      val expected = s"chunks=$n " + CorpusGen.markerContent(
        CorpusGen.Params(nDocs = nDocs)) + "\n"
      val reusable = java.nio.file.Files.exists(sentinel) &&
        java.nio.file.Files.readString(sentinel) == expected
      if (!reusable) {
        graft.pipeline.TableLog.deleteRecursively(staged)
        import org.apache.spark.sql.functions._
        spark.read.parquet(s"$dir/docs")
          .withColumn("chunk", pmod(xxhash64(col("doc_id")), lit(n)))
          .write.mode("overwrite").partitionBy("chunk")
          .parquet(s"$staged/docs")
        spark.read.parquet(s"$dir/media")
          .withColumn("chunk", pmod(xxhash64(
            element_at(split(col("media_ref"), "/"), 2)), lit(n)))
          .write.mode("overwrite").partitionBy("chunk")
          // 4 MB row groups: scan-split = kernel-scheduling unit
          .option("parquet.block.size", s"${4 << 20}")
          .parquet(s"$staged/media")
        java.nio.file.Files.writeString(sentinel, expected)
      }
      println(s"staged chunks ready: $staged")
    }
    println(s"corpus ready: $dir")
    spark.stop()
  }
}
