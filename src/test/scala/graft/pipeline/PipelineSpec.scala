package graft.pipeline

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.fixtures.CorpusGen

/** End-to-end golden test: the BASELINE.json per-row invariant —
  * span-sequence equality (kind, text, media_ref, order) verified by
  * anti-join against goldens authored independently by CorpusGen.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_corpus").toString
    CorpusGen.write(spark, d, CorpusGen.Params(nDocs = 200))
    d
  }

  private def docs = spark.read.parquet(s"$dir/docs")
  private def media = spark.read.parquet(s"$dir/media")
  private def golden = spark.read.parquet(s"$dir/golden_spans")

  /** rows of `a` whose spans differ from `b`'s (same doc_id). */
  private def mismatches(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Long = {
    a.select(col("doc_id"), col("spans").as("a_spans"))
      .join(b.select(col("doc_id"), col("spans").as("b_spans")),
        Seq("doc_id"), "full_outer")
      .where(not(col("a_spans") <=> col("b_spans")))
      .count()
  }

  test("extraction output matches golden spans row-by-row (anti-join empty)") {
    val out = ExtractionPipeline.extract(docs, media, partitions = 8)
    assert(out.count() == golden.count())
    assert(mismatches(out, golden) == 0L)
  }

  test("no error spans on the fixture corpus") {
    val out = ExtractionPipeline.extract(docs, media, partitions = 8)
    val errs = out.select(explode(col("spans")).as("s"))
      .where(col("s.kind") === "error").count()
    assert(errs == 0L)
  }

  test("chunked commit resumes after a kill without duplicates") {
    val outDir = Files.createTempDirectory("graft_out").toString
    val runId = "run-test-1"
    // first run dies after 2 of 4 chunks
    intercept[RuntimeException] {
      Commit.run(spark, docs, media, outDir, runId, chunks = 4,
        partitions = 8, failAfterChunks = 2)
    }
    val partial = Commit.committedChunks(outDir)
    assert(partial.size == 2)
    // A4: the poll surface reflects the partial state (2 of 4 chunks)
    assert(Commit.readProgress(outDir).contains(50.0))
    // resume: only the remaining chunks run
    val summary = Commit.run(spark, docs, media, outDir, "run-test-2",
      chunks = 4, partitions = 8)
    assert(summary.skipped.toSet == partial.keySet)
    assert(summary.committed.map(_.chunk).toSet ==
      (0 until 4).toSet -- partial.keySet)
    // final output identical to the golden — no dups, no gaps
    val out = Commit.readOutput(spark, outDir)
    assert(out.count() == golden.count())
    assert(mismatches(out, golden) == 0L)
    // lineage counts match the data
    val all = Commit.committedChunks(outDir).values
    assert(all.map(_.rowCount).sum == golden.count())
    assert(all.map(_.errorCount).sum == 0L)
    // rerunning a completed output is a no-op (full idempotence)
    val again = Commit.run(spark, docs, media, outDir, "run-test-3",
      chunks = 4, partitions = 8)
    assert(again.committed.isEmpty && again.skipped.size == 4)
    assert(Commit.readProgress(outDir).contains(100.0))
  }

  test("chunked commit over the BUCKETED no-broadcast join resumes and matches goldens") {
    val outDir = Files.createTempDirectory("graft_out_bj").toString
    intercept[RuntimeException] {
      Commit.run(spark, docs, media, outDir, "run-bj-1", chunks = 4,
        partitions = 8, failAfterChunks = 2, bucketedJoin = true)
    }
    assert(Commit.committedChunks(outDir).size == 2)
    val summary = Commit.run(spark, docs, media, outDir, "run-bj-2",
      chunks = 4, partitions = 8, bucketedJoin = true)
    assert(summary.skipped.size == 2 && summary.committed.size == 2)
    val out = Commit.readOutput(spark, outDir)
    assert(out.count() == golden.count())
    assert(mismatches(out, golden) == 0L)
  }

  test("span-mismatch counters land in the lineage manifests (north-rule field)") {
    // clean expectation → zero everywhere; a corrupted expectation →
    // exactly the corrupted doc counts as a mismatch, in its chunk
    val cleanDir = Files.createTempDirectory("graft_mm0").toString
    val clean = Commit.run(spark, docs, media, cleanDir, "mm-0",
      chunks = 2, partitions = 8, expected = Some(golden))
    assert(clean.committed.map(_.mismatchCount).sum == 0L)
    val oneId = golden.select("doc_id").orderBy("doc_id")
      .limit(1).collect()(0).getString(0)
    val corrupted = golden.withColumn("spans",
      when(col("doc_id") === oneId,
        expr("array(named_struct('kind', 'text', 'text', 'WRONG', " +
          "'media_ref', '', 'offset', 0))"))
        .otherwise(col("spans")))
    val badDir = Files.createTempDirectory("graft_mm1").toString
    val bad = Commit.run(spark, docs, media, badDir, "mm-1",
      chunks = 2, partitions = 8, expected = Some(corrupted))
    assert(bad.committed.map(_.mismatchCount).sum == 1L)
    // the counter round-trips through the on-disk log and compact
    assert(Commit.committedChunks(badDir).values.map(_.mismatchCount).sum == 1L)
    assert(Commit.compact(badDir).mismatchCount == 1L)
  }

  test("task-level progress listener reaches 100% when the job completes") {
    val listener = new Commit.TaskProgressListener
    spark.sparkContext.addSparkListener(listener)
    try {
      ExtractionPipeline.extract(docs, media, partitions = 8).count()
      // listener events post asynchronously; poll until drained
      val deadline = System.currentTimeMillis + 30000
      while (System.currentTimeMillis < deadline &&
        (listener.totalTasks == 0 || listener.percent < 100.0))
        Thread.sleep(100)
      assert(listener.totalTasks > 0)
      assert(listener.percent == 100.0,
        s"${listener.completedTasks}/${listener.totalTasks}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("partial or stale staging is rebuilt, never trusted (per-chunk sentinels)") {
    val outDir = Files.createTempDirectory("graft_stage").toString
    val stagedRoot = java.nio.file.Paths.get(outDir, "_staged", "chunks=4")
    val sentDir = stagedRoot.resolve("_chunk_sentinels")
    // a run killed MID-staging: docs staged, media missing, no sentinels
    docs.withColumn("chunk", pmod(xxhash64(col("doc_id")), lit(4)))
      .write.mode("overwrite").partitionBy("chunk")
      .parquet(s"$stagedRoot/docs")
    assert(!Files.isDirectory(sentDir) ||
      !Files.list(sentDir).iterator().hasNext)
    val (sd, sm) = Commit.stageByChunk(spark, docs, media, outDir, chunks = 4)
    // restaged from scratch: per-chunk sentinels present, media complete
    assert(Files.list(sentDir).iterator().hasNext)
    assert(sd.count() == docs.count())
    assert(sm.count() > 0)
    // a CHANGED input under the same outDir also restages (per-chunk
    // fingerprints mismatch) and deletes chunks gone from the input
    val otherDir = Files.createTempDirectory("graft_stage_in2").toString
    CorpusGen.write(spark, otherDir,
      CorpusGen.Params(nDocs = 40, kinds = Seq("text")))
    val docs2 = spark.read.parquet(s"$otherDir/docs")
    val media2 = spark.read.parquet(s"$otherDir/media")
    val (sd2, sm2) = Commit.stageByChunk(spark, docs2, media2, outDir, chunks = 4)
    assert(sd2.count() == docs2.count(),
      "stale staging from the previous input was silently reused")
    assert(sm2.count() == 0) // text-only corpus: stale media partitions gone
  }

  test("staging invalidation is PER CHUNK: one appended doc restages only its chunk") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_stage_inc_in").toString
    CorpusGen.write(spark, inDir, CorpusGen.Params(nDocs = 30))
    val outDir = Files.createTempDirectory("graft_stage_inc").toString
    val stagedRoot = java.nio.file.Paths.get(outDir, "_staged", "chunks=4")
    // pinned frames: schema inference + file listing happen here, so
    // the fast-path job count below measures STAGING work only
    val d0 = spark.read.parquet(s"$inDir/docs")
    val m = spark.read.parquet(s"$inDir/media")
    Commit.stageByChunk(spark, d0, m, outDir, chunks = 4)
    // every staged file with its mtime, keyed by relative path
    def fileState(): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      Files.walk(stagedRoot).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.toString.contains("chunk="))
        .map(p => stagedRoot.relativize(p).toString ->
          Files.getLastModifiedTime(p))
        .toMap
    }
    // unchanged input → byte-identical staging (no file touched at
    // all) AND the fast path: zero Spark jobs — the resume case costs
    // a file listing, not a fingerprint pass over the corpus
    val s0 = fileState()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Commit.stageByChunk(spark, d0, m, outDir, chunks = 4)
      Thread.sleep(500) // listener bus is async
      assert(jobs.get == 0, s"unchanged-input staging ran ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(fileState() == s0, "unchanged input rewrote staged files")
    // append ONE doc (an extra parquet file in the same input dir)
    Seq(graft.model.Doc("zz-appended",
      Seq(graft.model.Span("text", "appended doc", "", 0))))
      .toDF().write.mode("append").parquet(s"$inDir/docs")
    val touched = spark.range(1)
      .select(pmod(xxhash64(lit("zz-appended")), lit(4))).head().getLong(0)
    val d = spark.read.parquet(s"$inDir/docs") // fresh: sees the append
    val (sd, _) = Commit.stageByChunk(spark, d, m, outDir, chunks = 4)
    val s1 = fileState()
    // untouched chunks: identical file sets and mtimes
    val untouchedBefore = s0.filter(!_._1.contains(s"chunk=$touched"))
    val untouchedAfter = s1.filter(!_._1.contains(s"chunk=$touched"))
    assert(untouchedAfter == untouchedBefore,
      "an append restaged chunks it did not touch")
    // the touched chunk WAS rewritten (fresh part files)
    assert(s1.keySet.filter(_.contains(s"docs/chunk=$touched")) !=
      s0.keySet.filter(_.contains(s"docs/chunk=$touched")),
      "the appended doc's chunk was not restaged")
    // and the staged view is complete + correct: extract over it is
    // golden-equal to extract over the raw input
    assert(sd.count() == d.count())
    val viaStaged = ExtractionPipeline.extract(sd.drop("chunk"), m, 8)
    val direct = ExtractionPipeline.extract(d, m, 8)
    assert(mismatches(viaStaged, direct) == 0L)
  }

  test("maintenance: vacuum removes orphans, compact snapshots the manifest") {
    val outDir = Files.createTempDirectory("graft_maint").toString
    Commit.run(spark, docs, media, outDir, "run-m", chunks = 2, partitions = 8)
    // plant an orphan chunk dir (a write that died pre-commit)
    val orphan = java.nio.file.Paths.get(outDir, "data", "chunk=9")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-zombie.parquet"), "not parquet")
    assert(Commit.vacuum(outDir) == Seq(9))
    assert(!Files.exists(orphan))
    // committed chunks untouched
    assert(Commit.readOutput(spark, outDir).count() == golden.count())
    val snap = Commit.compact(outDir)
    assert(snap.rowCount == golden.count())
    // the snapshot summary is the newest commit: a checkpoint restating
    // both chunks with the aggregate lineage
    val cp = TableLog.read(outDir, TableLog.snapshot(outDir).version)
    assert(cp.checkpoint && cp.add.map(_.path).sorted == Seq("data/chunk=0", "data/chunk=1"))
    assert(cp.info("rowCount") == golden.count().toString && cp.info("chunks") == "2")
    assert(Commit.committedChunks(outDir).values.map(_.rowCount).sum == golden.count())
  }

  test("readOutput reads committed chunks only: a valid uncommitted chunk dir stays invisible") {
    val outDir = Files.createTempDirectory("graft_uncommitted").toString
    Commit.run(spark, docs, media, outDir, "run-u", chunks = 2, partitions = 8)
    // a VALID parquet chunk no commit holds (a write that died before
    // its commit), with rows of its own
    Commit.readOutput(spark, outDir).drop("chunk").limit(3)
      .withColumn("doc_id", concat(lit("ghost-"), col("doc_id")))
      .write.parquet(s"$outDir/data/chunk=9")
    val out = Commit.readOutput(spark, outDir)
    assert(out.count() == golden.count())
    assert(out.filter(col("doc_id").startsWith("ghost-")).isEmpty)
    assert(mismatches(out, golden) == 0L)
  }

  test("zip bomb: an archive inflating past 100 MB is one error span; the partition survives") {
    import spark.implicits._
    val bomb = graft.kernel.ZipExplode.build(
      Seq("zeros.bin" -> new Array[Byte]((101 << 20) + 1)))
    val docsIn = Seq(
      graft.model.Doc("bomb", Seq(graft.model.Span("zip", "", "m/bomb", 0))),
      graft.model.Doc("plain", Seq(graft.model.Span("text", "still here", "", 0))))
    val d = spark.createDataset(docsIn).toDF().coalesce(1)
    val m = Seq(graft.model.MediaBlob("m/bomb", bomb)).toDF()
    val byId = ExtractionPipeline.extract(d, m, partitions = 1).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(byId.keySet == Set("bomb", "plain"))
    assert(byId("bomb").map(_.getString(0)) == Seq("error"), byId("bomb"))
    assert(byId("plain").map(_.getString(1)) == Seq("still here"))
    val errs = ExtractionPipeline.errors(ExtractionPipeline.extractSubs(d, m, 1))
      .select("error").as[String].collect()
    assert(errs.length == 1 && errs.head.contains("inflates past 104857600 bytes"),
      errs.mkString("; "))
  }

  test("NULL media_ref, empty spans, and missing media never vanish silently") {
    import spark.implicits._
    val weird = Seq(
      // NULL media_ref on a text span ≡ inline
      graft.model.Doc("w-null-ref", Seq(graft.model.Span("text", "hello", null, 0))),
      // empty spans array -> doc survives with empty output spans
      graft.model.Doc("w-empty", Nil),
      // media_ref pointing nowhere -> error span, not a dropped row
      graft.model.Doc("w-missing-media", Seq(graft.model.Span("pdf", "", "m/nope/0", 0))))
    val out = ExtractionPipeline.extract(
      spark.createDataset(weird).toDF(),
      spark.emptyDataset[graft.model.MediaBlob].toDF(), partitions = 2)
    assert(out.count() == 3)
    val byId = out.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(byId("w-null-ref").map(s => (s.getString(0), s.getString(1))) ==
      Seq(("text", "hello")))
    assert(byId("w-empty").isEmpty)
    assert(byId("w-missing-media").map(_.getString(0)) == Seq("error"))
  }

  test("one media_ref shared by two docs (and twice within one doc) extracts for each reference") {
    // CorpusGen always mints unique refs (m/<doc>/<i>), but arbitrary
    // input may alias a blob across documents or reference it twice in
    // one document. The media join must fan the payload out to every
    // referencing span, and the per-doc page counting must not bleed
    // across documents.
    import spark.implicits._
    val pdf = graft.kernel.PdfText.build(Seq(
      graft.kernel.PdfText.TextPageSpec(Seq("shared page one")),
      graft.kernel.PdfText.TextPageSpec(Seq("shared page two"))))
    val docs = Seq(
      graft.model.Doc("share-a", Seq(
        graft.model.Span("text", "intro-a", "", 0),
        graft.model.Span("pdf", "", "m/shared/0", 1))),
      graft.model.Doc("share-b", Seq(
        graft.model.Span("pdf", "", "m/shared/0", 0))),
      graft.model.Doc("share-twice", Seq(
        graft.model.Span("pdf", "", "m/shared/0", 0),
        graft.model.Span("pdf", "", "m/shared/0", 1))))
    val media = Seq(graft.model.MediaBlob("m/shared/0", pdf))
    val out = ExtractionPipeline.extract(
      spark.createDataset(docs).toDF(), spark.createDataset(media).toDF(),
      partitions = 2)
    val byId = out.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)).toMap
    def texts(id: String) = byId(id).map(_.getString(1))
    assert(texts("share-a") ==
      Seq("intro-a", "shared page one", "shared page two"))
    assert(texts("share-b") == Seq("shared page one", "shared page two"))
    // doubly-referenced: both spans expand, order by original offset
    assert(texts("share-twice") ==
      Seq("shared page one", "shared page two",
        "shared page one", "shared page two"))
    // provenance refs carry the page suffix per reference
    assert(byId("share-b").map(_.getString(2)) ==
      Seq("m/shared/0#page1", "m/shared/0#page2"))
  }

  test("bucketed staged extract matches the golden spans (no-broadcast path)") {
    val outDir = Files.createTempDirectory("graft_bucketed").toString
    val stage = Commit.stageBucketed(spark, docs, media, outDir, buckets = 8)
    val out = ExtractionPipeline.extractStaged(spark, stage, partitions = 8)
    assert(out.count() == golden.count())
    assert(mismatches(out, golden) == 0L)
    // staging is idempotent: a second call reuses the layout
    val again = Commit.stageBucketed(spark, docs, media, outDir, buckets = 8)
    assert(again == stage)
  }

  test("bucketed staging invalidates PER COMPONENT: inline-only change keeps the payload table") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("graft_bucketed_inc_in").toString
    CorpusGen.write(spark, inDir, CorpusGen.Params(nDocs = 30))
    def d = spark.read.parquet(s"$inDir/docs")
    def m = spark.read.parquet(s"$inDir/media")
    val outDir = Files.createTempDirectory("graft_bucketed_inc").toString
    val root = java.nio.file.Paths.get(outDir, "_bucketed", "buckets=4")
    Commit.stageBucketed(spark, d, m, outDir, buckets = 4)
    def fileState(sub: String): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      Files.walk(root.resolve(sub)).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.getLastModifiedTime(p))
        .toMap
    }
    val media0 = fileState("media"); val tasks0 = fileState("tasks")
    val inline0 = fileState("inline")
    // append one INLINE-ONLY doc: no new media refs, no new media spans
    Seq(graft.model.Doc("zz-inline",
      Seq(graft.model.Span("text", "appended inline", "", 0))))
      .toDF().write.mode("append").parquet(s"$inDir/docs")
    val stage = Commit.stageBucketed(spark, d, m, outDir, buckets = 4)
    // payload table AND media-task table untouched; inline rewritten
    assert(fileState("media") == media0,
      "an inline-only change rewrote the bucketed payload table")
    assert(fileState("tasks") == tasks0,
      "an inline-only change rewrote the media-task table")
    assert(fileState("inline") != inline0, "inline component not restaged")
    // and the staged view is complete: extractStaged sees the new doc
    val out = ExtractionPipeline.extractStaged(spark, stage, partitions = 8)
    assert(out.filter(col("doc_id") === "zz-inline").count() == 1L)
    assert(out.count() == d.count())
    // catalog loss (a fresh session's in-memory catalog is empty): the
    // staged FILES are intact, so staging must RE-REGISTER the tables
    // over them — never rewrite 100 TB because a session restarted
    val media1 = fileState("media"); val tasks1 = fileState("tasks")
    spark.sql(s"DROP TABLE ${stage.tasksTable}")
    spark.sql(s"DROP TABLE ${stage.mediaTable}")
    val stage2 = Commit.stageBucketed(spark, d, m, outDir, buckets = 4)
    assert(fileState("media") == media1 && fileState("tasks") == tasks1,
      "catalog loss triggered a data rewrite")
    val out2 = ExtractionPipeline.extractStaged(spark, stage2, partitions = 8)
    assert(out2.count() == d.count())
    // the re-registered tables still join exchange-free
    val p = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf) {
        ExtractionPipeline.extractStaged(spark, stage2, 8).explain("formatted")
      }
      buf.toString
    }
    assert(!p.contains("BroadcastExchange"), p.take(3000))
  }

  test("bucketed staged extract: missing payload and empty docs keep extract()'s semantics") {
    import spark.implicits._
    val weird = Seq(
      graft.model.Doc("bw-null-ref", Seq(graft.model.Span("text", "hello", null, 0))),
      graft.model.Doc("bw-empty", Nil),
      graft.model.Doc("bw-missing-media", Seq(graft.model.Span("pdf", "", "m/nope/0", 0))))
    val outDir = Files.createTempDirectory("graft_bucketed_w").toString
    val stage = Commit.stageBucketed(spark,
      spark.createDataset(weird).toDF(),
      spark.emptyDataset[graft.model.MediaBlob].toDF(), outDir, buckets = 4)
    val out = ExtractionPipeline.extractStaged(spark, stage, partitions = 2)
    assert(out.count() == 3)
    val byId = out.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(byId("bw-null-ref").map(s => (s.getString(0), s.getString(1))) ==
      Seq(("text", "hello")))
    assert(byId("bw-empty").isEmpty)
    assert(byId("bw-missing-media").map(_.getString(0)) == Seq("error"))
  }

  test("batch-vs-bucketed-media join (streaming shape) keeps extract()'s weird-input semantics") {
    import spark.implicits._
    val weird = Seq(
      graft.model.Doc("sw-null-ref", Seq(graft.model.Span("text", "hello", null, 0))),
      graft.model.Doc("sw-empty", Nil),
      graft.model.Doc("sw-missing-media", Seq(graft.model.Span("pdf", "", "m/nope/0", 0))))
    val outDir = Files.createTempDirectory("graft_smedia_w").toString
    val tbl = Commit.stageMediaBucketed(spark,
      spark.emptyDataset[graft.model.MediaBlob].toDF(), outDir, buckets = 4)
    val out = ExtractionPipeline.extractVsBucketedMedia(spark,
      spark.createDataset(weird).toDF(), tbl, buckets = 4, partitions = 2)
    assert(out.count() == 3)
    val byId = out.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(byId("sw-null-ref").map(s => (s.getString(0), s.getString(1))) ==
      Seq(("text", "hello")))
    assert(byId("sw-empty").isEmpty)
    assert(byId("sw-missing-media").map(_.getString(0)) == Seq("error"))
  }

  test("extract and extractStaged agree exactly on a randomized adversarial corpus") {
    // seeded random docs mixing every edge shape at once: null/empty
    // text, null/aliased/missing media_refs, unknown kinds, empty
    // docs, shared payloads — the two execution paths (gated-broadcast
    // vs co-bucketed) must be row-for-row identical on all of it.
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    val kinds = Seq("text", "html", "pdf", "png", "jpeg", "zip", "weird")
    val pdf = graft.kernel.PdfText.build(Seq(
      graft.kernel.PdfText.TextPageSpec(Seq("rand page"))))
    val refs = (0 until 12).map(i => s"m/rand/$i")
    val media = refs.take(8).map(r => graft.model.MediaBlob(r, pdf)) // 4 refs dangle
    val docs = (0 until 80).map { d =>
      val spans = (0 until rng.nextInt(6)).map { o =>
        val kind = kinds(rng.nextInt(kinds.length))
        val text = rng.nextInt(3) match {
          case 0 => null
          case 1 => ""
          case _ => s"inline text $d-$o with enough length to survive html min-block"
        }
        val ref = rng.nextInt(3) match {
          case 0 => null
          case 1 => ""
          case _ => refs(rng.nextInt(refs.length))
        }
        graft.model.Span(kind, text, ref, o)
      }
      graft.model.Doc(s"rand-$d", spans)
    }
    val docsDf = spark.createDataset(docs).toDF()
    val mediaDf = spark.createDataset(media).toDF()
    val a = ExtractionPipeline.extract(docsDf, mediaDf, partitions = 4)
    val outDir = Files.createTempDirectory("graft_rand_bucketed").toString
    val stage = Commit.stageBucketed(spark, docsDf, mediaDf, outDir, buckets = 4)
    val b = ExtractionPipeline.extractStaged(spark, stage, partitions = 4)
    assert(a.count() == 80 && b.count() == 80)
    assert(mismatches(a, b) == 0L)
  }

  test("inline span keeps its text when its media_ref aliases a payload row") {
    // Round-3 regression (advisor finding): ref-only routing sent ANY
    // span with a matching media_ref through the media join, erasing
    // inline text. Routing is now kind-gated — an inline text/html
    // span that (legally) carries a media_ref pointing at a real blob
    // must keep its inline text; the blob still extracts for the
    // media-kind span referencing it.
    import spark.implicits._
    val (gray, w, h) = graft.kernel.GlyphFont.render(Seq("HELLO"), scale = 2)
    val png = graft.kernel.GlyphFont.toPng(gray, w, h)
    val aliasDocs = Seq(
      graft.model.Doc("alias-1", Seq(
        graft.model.Span("text", "inline stays", "m/alias/0", 0),
        graft.model.Span("png", "", "m/alias/0", 1))),
      graft.model.Doc("alias-2", Seq(
        graft.model.Span("html",
          "<p>this inline html paragraph is kept</p><script>no</script>",
          "m/alias/0", 0))))
    val aliasMedia = Seq(graft.model.MediaBlob("m/alias/0", png))
    val out = ExtractionPipeline.extract(
      spark.createDataset(aliasDocs).toDF(),
      spark.createDataset(aliasMedia).toDF(), partitions = 2)
    val byId = out.collect().map(r => r.getString(0) ->
      r.getSeq[org.apache.spark.sql.Row](1)).toMap
    // span 0: inline text preserved (was "" before the fix);
    // span 1: the payload still extracts via the media branch
    assert(byId("alias-1").map(s => (s.getString(0), s.getString(1))) ==
      Seq(("text", "inline stays"), ("text", "HELLO")))
    assert(byId("alias-2").map(_.getString(1)) ==
      Seq("this inline html paragraph is kept"))
  }

  test("poison media payload yields an error span, not a crashed job") {
    import spark.implicits._
    val badDocs = Seq(
      graft.model.Doc("poison-1", Seq(graft.model.Span("pdf", "", "m/poison/0", 0))),
      graft.model.Doc("poison-2", Seq(graft.model.Span("text", "fine", "", 0))))
    val badMedia = Seq(graft.model.MediaBlob("m/poison/0",
      Array[Byte](1, 2, 3, 4, 5)))
    val out = ExtractionPipeline.extract(
      spark.createDataset(badDocs).toDF(), spark.createDataset(badMedia).toDF(),
      partitions = 2)
    assert(out.count() == 2)
    val kinds = out.where(col("doc_id") === "poison-1")
      .select(explode(col("spans")).as("s")).select(col("s.kind"))
      .as[String].collect().toSeq
    assert(kinds == Seq("error"))
  }

  test("errors() surfaces message-exact spans for each kernel error class") {
    import spark.implicits._
    val docs = Seq(
      graft.model.Doc("e-wav", Seq(graft.model.Span("wav", "", "", 0))),
      graft.model.Doc("e-miss", Seq(graft.model.Span("pdf", "", "m/gone.pdf", 0))),
      graft.model.Doc("e-img", Seq(
        graft.model.Span("png", "", "m/garbage.png", 0),
        graft.model.Span("text", "ok", "", 1))),
      graft.model.Doc("clean", Seq(graft.model.Span("text", "fine", "", 0))))
    // leading 0x00 defeats every magic → sniff Unknown → ext says png →
    // decoder rejects it deterministically
    val media = Seq(graft.model.MediaBlob("m/garbage.png",
      Array[Byte](0, 11, 22, 33, 44, 55)))
    val errs = ExtractionPipeline.errors(ExtractionPipeline.extractSubs(
        spark.createDataset(docs).toDF(), spark.createDataset(media).toDF(),
        partitions = 2))
      .select(col("doc_id"), col("error")).as[(String, String)]
      .collect().toMap
    assert(errs == Map(
      "e-wav" -> "unsupported span kind: wav",
      "e-miss" -> "missing media payload for m/gone.pdf",
      "e-img" -> "undecodable image: m/garbage.png"))
  }
}
