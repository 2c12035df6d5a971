package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.CorpusGen

/** Physical-plan assertions (SURVEY.md §4): the scale behaviours the
  * engine relies on must be visible in `explain`, not assumed —
  * predicate pushdown to the parquet scan, column pruning, broadcast
  * of small join sides, AQE enablement.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_plan").toString
    CorpusGen.write(spark, d, CorpusGen.Params(nDocs = 60, kinds = Seq("text", "pdf")))
    d
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { df.explain("formatted") }
    out.toString
  }

  test("doc_id filters push down to the parquet scan") {
    val docs = spark.read.parquet(s"$dir/docs")
    val p = plan(docs.filter(col("doc_id") === "doc-000000001"))
    assert(p.contains("PushedFilters") &&
      p.contains("IsNotNull(doc_id)"), p.take(2000))
    assert(p.contains("EqualTo(doc_id,doc-000000001)"), p.take(2000))
  }

  test("column pruning reaches the scan (ReadSchema excludes spans)") {
    val docs = spark.read.parquet(s"$dir/docs")
    val p = plan(docs.select("doc_id"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("spans"), readSchema)
  }

  test("media join broadcasts the small task side (no bytes shuffle in the join)") {
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val p = plan(ExtractionPipeline.extract(docs, media, 8))
    // the tiny task side must broadcast; payload bytes must not flow
    // through a join-side exchange
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(3000))
  }

  test("payload bytes never cross a shuffle (no Exchange carries a bytes column)") {
    // Round-3 invariant: the kernel runs on media rows in their scan
    // partitions; the only shuffles in the extract job move text (the
    // inline salt and the reassembly groupBy). A bytes column inside
    // any Exchange's input is a regression to payload shuffling — the
    // measured scale-out bottleneck on shared DRAM (BENCH/BASELINE.md).
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val p = plan(ExtractionPipeline.extract(docs, media, 8))
    // formatted explain prints one detail block per node:
    //   (n) Exchange\nInput [k]: [col#1, ...]
    val blocks = p.split("\\(\\d+\\) ").toSeq
    val exchanges = blocks.filter(b =>
      b.startsWith("Exchange") || b.startsWith("BroadcastExchange"))
    assert(exchanges.nonEmpty, "expected at least the salt/reassembly exchanges")
    exchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("bytes#"),
        s"an Exchange carries payload bytes:\n$b\n--- full plan ---\n${p.take(4000)}")
    }
  }

  test("bucketed staged extract: media join has NO broadcast and NO exchange at all") {
    // The 10^12-doc regime: the broadcast in extract() cannot hold the
    // metadata side, so extractStaged joins the co-bucketed layout.
    // The plan must contain zero BroadcastExchange (nothing to outgrow
    // -> no driver OOM path) and, as everywhere, no Exchange carrying
    // payload bytes — the join itself must be a co-located zip.
    val outDir = Files.createTempDirectory("graft_bucketed_plan").toString
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val stage = Commit.stageBucketed(spark, docs, media, outDir, buckets = 4)
    val p = plan(ExtractionPipeline.extractStaged(spark, stage, 8))
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      s"staged extract must not depend on any broadcast:\n${p.take(4000)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(3000))
    val blocks = p.split("\\(\\d+\\) ").toSeq
    val exchanges = blocks.filter(_.startsWith("Exchange"))
    // the ONLY exchanges are the inline salt and the reassembly
    // groupBy — text movers; neither may carry bytes, and the join
    // sides must contribute none
    exchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("bytes#"),
        s"an Exchange carries payload bytes:\n$b")
    }
    // bucketed scan feeds the join directly: no exchange between the
    // parquet scans of the staged tables and the join node
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(joinIdx >= 0 || p.contains("ShuffledHashJoin"))
  }

  test("batch-vs-bucketed-media join (streaming shape): no broadcast, no payload exchange") {
    // The micro-batch task metadata repartitions to the media table's
    // bucket layout; the payload side must feed the join straight from
    // its bucketed scan — zero BroadcastExchange anywhere, and the only
    // exchanges move bytes-free metadata/text.
    val outDir = Files.createTempDirectory("graft_smedia_plan").toString
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val tbl = Commit.stageMediaBucketed(spark, media, outDir, buckets = 4)
    val p = plan(ExtractionPipeline.extractVsBucketedMedia(
      spark, docs, tbl, buckets = 4, partitions = 8))
    assert(!p.contains("BroadcastExchange") && !p.contains("BroadcastHashJoin"),
      s"streaming-shape join must not depend on any broadcast:\n${p.take(4000)}")
    assert(p.contains("ShuffledHashJoin"), p.take(3000))
    val blocks = p.split("\\(\\d+\\) ").toSeq
    blocks.filter(_.startsWith("Exchange")).foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("bytes#"),
        s"an Exchange carries payload bytes:\n$b")
    }
  }

  test("invoice chain: exactly one round-robin exchange after reassembly") {
    // The typed date-cascade map is CPU-bound with high per-row
    // variance; one deliberate round-robin spread earns its shuffle
    // (measured: removing it costs +24% at local[32]). More than one
    // would mean an accidental extra shuffle crept into the chain.
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val p = plan(InvoiceExtract.fromSpans(
      ExtractionPipeline.extract(docs, media, 8)).toDF())
    val rr = "roundrobinpartitioning".r.findAllIn(p.toLowerCase).length
    // formatted plans mention each node twice (tree header + detail)
    assert(rr > 0 && rr <= 2, s"expected exactly one round-robin exchange, plan:\n${p.take(4000)}")
  }

  test("AQE is active in the engine session") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val p = plan(spark.read.parquet(s"$dir/docs").groupBy("doc_id").count())
    assert(p.contains("AdaptiveSparkPlan"), p.take(500))
  }

  test("top-k similarity is a distributed TakeOrderedAndProject, never a global window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = plan(graft.ops.SimilarityOps.bruteForceTopK(
      emb, "vec_id", "embedding", queryId = 0L, k = 10))
    assert(brute.contains("TakeOrderedAndProject"), brute.take(3000))
    assert(!brute.contains("Window"), brute.take(3000))
    val lsh = plan(graft.ops.SimilarityOps.lshTopK(
      emb, "vec_id", "embedding", queryId = 0L, k = 10, bits = 8))
    assert(lsh.contains("TakeOrderedAndProject"), lsh.take(3000))
    assert(!lsh.contains("Window"), lsh.take(3000))
    // the materialized IVF index, queried as a batch of one: the scan
    // PARTITION-PRUNES to the nprobe probed cells (the round-5
    // full-corpus re-assignment scan is structurally impossible here),
    // the rank window is partitioned by query id, and a partial
    // WindowGroupLimit sits below that window's exchange — only k rows
    // per query and partition move, as in TakeOrderedAndProject
    val index = graft.ops.SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      Files.createTempDirectory("graft_plan_ivf").toString,
      centroidEvery = 64, maxCentroids = 64)
    val ivf = plan(graft.ops.SimilarityOps.ivfQueryById(
      spark, index, queryId = 0L, k = 10, nprobe = 4))
    val pf = ivf.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell")).getOrElse("")
    assert("cell#\\d+ IN \\(".r.findFirstIn(pf).isDefined,
      s"ivf query must partition-prune on cell, got: $pf\n${ivf.take(3000)}")
    assert(ivf.contains("windowspecdefinition(query_id"), ivf.take(3000))
    val exchange = ivf.split("\n\n").map(_.trim)
      .find(b => b.matches("(?s)\\(\\d+\\) Exchange\\b.*") &&
        b.contains("hashpartitioning(query_id"))
      .map(_.takeWhile(_ != ')').drop(1))
    assert(exchange.isDefined, s"no exchange on query_id:\n${ivf.take(3000)}")
    val tree = ivf.linesIterator.drop(1).takeWhile(_.trim.nonEmpty).toSeq
    val at = tree.indexWhere(_.endsWith(s"Exchange (${exchange.get})"))
    val depth = tree(at).indexWhere(_.isLetter)
    val below = tree.drop(at + 1).takeWhile(_.indexWhere(_.isLetter) > depth)
    assert(below.exists(_.contains("WindowGroupLimit")),
      s"no partial WindowGroupLimit below the exchange:\n${tree.mkString("\n")}")
  }

  test("no registered query plan contains a nested-loop or cartesian join") {
    // every all-pairs shape is a 100-TB scale-killer; candidate
    // generation must be bucketed (band join / signature probes) and
    // top-k ranking join-free (round-2 q27 was the last offender).
    // Sole sanctioned exception: q23's attach of THE single query
    // vector (a 1-row broadcast with no condition is a map-side
    // operation, not an all-pairs join) — asserted tight: exactly one
    // BNLJ, whose build side is the vec_id-filtered 1-row scan.
    val sf = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val p = plan(fn(spark, sf))
      assert(!p.contains("CartesianProduct"),
        s"$name plan contains a cartesian product:\n" + p.take(3000))
      // formatted plans list each node twice (tree + detail header);
      // count the "(n) BroadcastNestedLoopJoin" detail headers
      val bnlj = "\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).length
      if (name == "q23_cosine_topk") {
        assert(bnlj == 1 && p.contains("isnotnull(vec_id"),
          s"$name: expected exactly the 1-row query-vector broadcast:\n" +
            p.take(3000))
      } else {
        assert(bnlj == 0,
          s"$name plan contains an all-pairs join:\n" + p.take(3000))
      }
    }
  }

  test("unregistered ops (image near-dup, CC rounds) are also nested-loop/cartesian free") {
    // the suite-wide guard covers SparkEntry.queries; these operators
    // live outside the registry but must obey the same 100-TB rule
    val hashes = spark.range(64).selectExpr("cast(id as string) media_ref",
      "id * 1099511628211L dhash")
    val p1 = plan(graft.ops.MediaOps.imageNearDupPairs(hashes, maxHamming = 6))
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1.take(3000))
    val edges = spark.range(30).selectExpr("id id_a", "id + 1 id_b")
    // one propagation round's shape (the loop repeats it)
    val labels = graft.ops.DedupOps.connectedComponents(edges, "id_a", "id_b")
    assert(labels.count() == 31)
  }

  test("resume anti-join prunes committed chunks at the scan") {
    val docs = spark.read.parquet(s"$dir/docs")
    val chunkFilter = docs.filter(
      pmod(xxhash64(col("doc_id")), lit(4)) === lit(2))
    // the hash filter itself can't push down (function of a column),
    // but the scan must still prune columns and the filter must sit
    // directly above it (no shuffle before filtering)
    val p = plan(chunkFilter)
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("chunked commit reads are partition-pruned, one scan per chunk") {
    val outDir = Files.createTempDirectory("graft_prune").toString
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    val (stagedDocs, stagedMedia) =
      Commit.stageByChunk(spark, docs, media, outDir, chunks = 4)
    Seq(stagedDocs, stagedMedia).foreach { staged =>
      val p = plan(staged.filter(col("chunk") === lit(2)))
      val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("(chunk") && pf.contains("= 2)"), p.take(3000))
    }
    // pruning is real: the pruned read touches strictly fewer files
    val allFiles = stagedDocs.inputFiles.length
    val chunk2 = spark.read
      .parquet(s"$outDir/_staged/chunks=4/docs").filter(col("chunk") === 2)
    assert(chunk2.count() > 0)
    assert(chunk2.count() < docs.count())
    assert(allFiles > 1, "staging must produce per-chunk partitions")
  }
}
