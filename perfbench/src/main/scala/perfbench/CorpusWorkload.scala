package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.fixtures.CorpusGen
import graft.kernel._
import graft.model.SpanTask
import graft.pipeline.{Commit, ExtractionPipeline, InvoiceExtract, SpanKernel}
import Main.{Cpus, noop}

/** `media_mix` (all six span kinds, OCR-heavy) and `inline_mix` (text
  * and html only, many more docs): extract → noop sink, then the
  * invoice chain extract → fromSpans → noop sink, per closed-loop pass.
  * Traced `media_mix` runs also run a local[1] leg of extract for the
  * scaling metric, and the commit layer.
  */
final class CorpusWorkload(args: Main.Args, r: Main.Report, inline: Boolean)
    extends Workload {

  private val dir = args.work.resolve("corpus").toString

  private def extract(docs: DataFrame, media: DataFrame): DataFrame =
    ExtractionPipeline.extract(docs, media, partitions = Sizes.Partitions)

  def run(): Unit = {
    var spark: SparkSession = null
    val sessionS = Main.secondsOf { spark = Main.session(Cpus) }
    var nDocs = Sizes.InlineDocs
    val sizeS = Main.secondsOf { if (!inline) nDocs = MediaCorpus.docs(spark, args.seed) }
    val params =
      if (inline) CorpusGen.Params(nDocs, args.seed, kinds = Seq("text", "html"))
      else CorpusGen.Params(nDocs, args.seed)
    val genS = sizeS + Setup.generate(spark, dir, params)
    r.e2e("corpus.docs") = (nDocs.toDouble, "count")
    val docs = spark.read.parquet(s"$dir/docs")
    val media = spark.read.parquet(s"$dir/media")
    // `Sizes.CorpusWarmPasses` warm-up passes: pass times fall fastest
    // over the first ones. The first is also the
    // correctness pass: its outputs are checked against the goldens,
    // outside the timed passes
    var out: DataFrame = null
    var badDocs = 0L
    var invRows = 0L
    val warmS = Main.secondsOf {
      out = extract(docs, media).persist(StorageLevel.MEMORY_AND_DISK)
      badDocs = Checks.goldenSpanMismatches(out, spark.read.parquet(s"$dir/golden_spans"))
      val inv = InvoiceExtract.fromSpans(out).toDF().persist(StorageLevel.MEMORY_AND_DISK)
      invRows = inv.count()
      val golden = spark.read.parquet(s"$dir/golden_invoices")
      r.check("golden spans", nDocs, badDocs)
      r.check("golden invoices", golden.count(), Checks.invoiceMismatches(golden, inv))
      inv.unpersist()
      (2 to Sizes.CorpusWarmPasses).foreach(i => untracedPass(docs, media, -i))
    }
    Setup.report(r, sessionS, genS, warmS)

    val (untraced, noisy, tracedExtract, plainExtract) =
      if (!args.trace) {
        val (u, n) = Main.loop(args.seconds, Sizes.MinPasses)(untracedPass(docs, media, _))
        (u, n, Nil, Nil)
      } else tracedRun(spark, docs, media)
    val extractS = Stats.median(untraced.map(_._1))
    val passS = Stats.median(untraced.map(p => p._1 + p._2))
    r.e2e("pass_s") = (passS, "s")
    r.e2e("noisy_passes") = (noisy.toDouble, "count")
    val docsPerS = (nDocs - badDocs) / extractS
    r.e2e("docs_per_s") = (docsPerS, "1/s")
    r.e2e("invoices_per_s") = (invRows / passS, "1/s")

    if (args.trace) {
      // tracing overhead: the traced plan with spans and listener on,
      // against the same plan with them off
      val tracedS = Stats.median(tracedExtract)
      val plainS = Stats.median(plainExtract)
      r.layers("trace.overhead_docs_per_s") = (nDocs / tracedS - nDocs / plainS, "1/s")
      r.layers("trace.overhead_pct") = (100.0 * (tracedS - plainS) / plainS, "%")
      val tracedPasses = Trace.all.filter(_.name == "pass").map(_.pass).toSet
      val self = Trace.selfByName(tracedPasses)
      def perPass(n: String) = self.get(n).map(_._1).getOrElse(0.0) / tracedPasses.size
      Seq("scan", "span_tasks", "subs", "reassemble", "staged").foreach { l =>
        r.layers(s"extract.${l}_s") = (perPass(s"extract.$l"), "s")
      }
      // share of the traced extract wall that its named layers' self
      // times cover; time no layer span covers shows as < 1
      r.layers("trace.layer_coverage") =
        ((perPass("extract.subs") + perPass("extract.reassemble")) * tracedPasses.size /
          Trace.wallByName(tracedPasses)("extract"), "ratio")
      r.layers("invoice.from_spans_s") = (perPass("invoice.from_spans"), "s")
      r.layers("invoice.rows") = (invRows.toDouble, "count")
      KernelProbe.run(spark, docs, media, out, r)
      if (!inline) CommitWorkload.layers(spark, docs, media, args.work, r)
    }
    out.unpersist()

    if (!inline && args.trace) {
      // the same corpus at local[1], on traced runs only so untraced runs
      // stay short; docs/s at local[4] / (4 x docs/s at local[1])
      Main.stopSession(spark)
      val one = Main.session(1)
      val d1 = one.read.parquet(s"$dir/docs")
      val m1 = one.read.parquet(s"$dir/media")
      val oneS = (2000 until 2000 + Sizes.ScalePasses).map { i =>
        Host.timed("extract_local1", i)(noop(extract(d1, m1)))
      }
      r.e2e("scale_eff_1to4") = (Stats.median(oneS) / (4.0 * extractS), "ratio")
      Main.stopSession(one)
    } else Main.stopSession(spark)
  }

  /** extract → noop sink, then fromSpans over the extract output →
    * noop sink. The extract output is persisted as the first sink
    * writes it, so the second reads it instead of extracting again.
    * Returns the two walls.
    */
  private def untracedPass(docs: DataFrame, media: DataFrame, i: Int): (Double, Double) = {
    val out = extract(docs, media).persist(StorageLevel.MEMORY_AND_DISK)
    val e = Host.timed("extract", i)(noop(out))
    val c = Host.timed("from_spans", i)(noop(InvoiceExtract.fromSpans(out).toDF()))
    out.unpersist(blocking = true)
    (e, c)
  }

  /** Untraced passes alternating with layer-by-layer traced passes;
    * returns the untraced passes, no noisy-pass count (every pass is
    * kept), and the layered extract wall of each traced pass and of
    * each run of the same plan with tracing off.
    */
  private def tracedRun(spark: SparkSession, docs: DataFrame, media: DataFrame)
      : (Seq[(Double, Double)], Int, Seq[Double], Seq[Double]) = {
    val stage = Commit.stageBucketed(spark, docs, media,
      args.work.resolve("staged").toString, Sizes.Partitions)
    val stats = new SparkStats
    val (untraced, traced, plain, wall) = Main.alternate(spark, args.seconds, stats)(
      untracedPass(docs, media, _)) { i =>
      var extractS = 0.0
      Host.timed("traced_pass", i) {
        Trace.span("extract.scan") { noop(docs); noop(media) }
        Trace.span("extract.span_tasks")(noop(ExtractionPipeline.spanTasks(docs)))
        Trace.span("extract.staged")(
          noop(ExtractionPipeline.extractStaged(spark, stage, Sizes.Partitions)))
        val t = System.nanoTime()
        val out = Trace.span("extract") {
          val subs = Trace.span("extract.subs") {
            val s = ExtractionPipeline.extractSubs(docs, media, Sizes.Partitions)
              .persist(StorageLevel.MEMORY_AND_DISK)
            s.count()
            s
          }
          val o = Trace.span("extract.reassemble") {
            val o = ExtractionPipeline.reassemble(subs).persist(StorageLevel.MEMORY_AND_DISK)
            o.count()
            o
          }
          subs.unpersist()
          o
        }
        extractS = (System.nanoTime() - t) / 1e9
        Trace.span("invoice.from_spans")(noop(InvoiceExtract.fromSpans(out).toDF()))
        out.unpersist()
      }
      extractS
    }
    stats.metrics(traced.size, Cpus, wall).foreach { case (n, v, u) => r.layers(n) = (v, u) }
    (untraced, 0, traced, plain)
  }
}

/** The size of the `media_mix` corpus for a seed. OCR of rasters
  * dominates a pass, and the raster content of a fixed number of docs
  * varies by seed, so the corpus takes the fewest docs whose rasters sum
  * to `Sizes.MediaRasterMpix` megapixels, and at least
  * `Sizes.MediaMinDocs`: every seed's corpus then carries about the same
  * kernel work, and one 40-span whale.
  */
object MediaCorpus {
  def rasterPixels(f: CorpusGen.DocFixture): Long = {
    def image(b: Array[Byte]): Long = {
      val g = ImageDecode.readGray(b)
      if (g == null) 0L else g._2.toLong * g._3
    }
    def pdf(b: Array[Byte]): Long = PdfText.extractPages(b).collect {
      case PdfText.ImagePage(_, w, h) => w.toLong * h
    }.sum
    val kinds = f.doc.spans.map(s => s.media_ref -> s.kind).toMap
    f.media.map { m =>
      kinds.get(m.media_ref) match {
        case Some("pdf") => pdf(m.bytes)
        case Some("zip") => ZipExplode.entries(m.bytes).map {
          case (n, b) => if (n.endsWith(".pdf")) pdf(b) else image(b)
        }.sum
        case _ => image(m.bytes)
      }
    }.sum
  }

  def docs(spark: SparkSession, seed: Long): Int = {
    import spark.implicits._
    val p = CorpusGen.Params(Sizes.MediaMaxDocs, seed)
    val pixels = spark.range(Sizes.MediaMaxDocs).as[Long]
      .map(i => rasterPixels(CorpusGen.genDoc(i.toInt, p))).collect()
    val target = (Sizes.MediaRasterMpix * 1e6).toLong
    val prefix = pixels.scanLeft(0L)(_ + _)
    val enough = prefix.indexWhere(_ >= target)
    if (enough < 0) Sizes.MediaMaxDocs else math.max(Sizes.MediaMinDocs, enough)
  }
}

/** Input generation, set up several times; returns the median seconds. */
object Setup {
  /** setup_s = session start + median input generation + the warm-up passes. */
  def report(r: Main.Report, sessionS: Double, genS: Double, warmS: Double): Unit = {
    r.e2e("setup_s") = (sessionS + genS + warmS, "s")
    r.e2e("setup.session_s") = (sessionS, "s")
    r.e2e("setup.generate_s") = (genS, "s")
    r.e2e("setup.warm_s") = (warmS, "s")
  }

  def generate(spark: SparkSession, dir: String, p: CorpusGen.Params): Double =
    Stats.median((0 until Sizes.GenReps).map { _ =>
      Main.secondsOf(CorpusGen.write(spark, dir, p))
    })
}

/** Single-thread kernel timings over a fixed sample of span tasks, and
  * the invoice field-extraction cost per text, from the benchmark's own
  * calls into `graft.kernel` and `SpanKernel`.
  */
object KernelProbe {
  def run(spark: SparkSession, docs: DataFrame, media: DataFrame,
      extracted: DataFrame, r: Main.Report): Unit = {
    import spark.implicits._
    val tasks = ExtractionPipeline.spanTasks(docs)
      .join(media.select(col("media_ref"), col("bytes")), Seq("media_ref"), "left")
      .select("doc_id", "offset", "kind", "text", "media_ref", "bytes")
      .orderBy("doc_id", "offset").limit(Sizes.ProbeTasks)
      .as[SpanTask].collect()
    Trace.enabled = true
    Trace.pass = -1
    var subs = 0L
    tasks.foreach { t =>
      subs += Trace.span(s"kernel.${t.kind}")(SpanKernel.process(t)).size
    }
    var pdfPages = 0
    def image(bytes: Array[Byte]): Unit = {
      val g = Trace.span("kernel.image_decode")(ImageDecode.readGray(bytes))
      if (g != null) Trace.span("kernel.ocr")(OcrStandin.ocrGray(g._1, g._2, g._3))
    }
    def pdf(bytes: Array[Byte]): Unit = {
      val pages = Trace.span("kernel.pdf_parse")(PdfText.extractPages(bytes))
      pdfPages += pages.size
      pages.foreach {
        case PdfText.ImagePage(g, w, h) => Trace.span("kernel.ocr")(OcrStandin.ocrGray(g, w, h))
        case _ =>
      }
    }
    tasks.foreach { t =>
      if (t.bytes != null) Trace.span("kernel.sniff")(MimeSniffer.sniff(t.bytes))
      t.kind match {
        case "html" => Trace.span("kernel.html_strip")(HtmlStrip.strip(t.text))
        case "png" | "jpeg" => image(t.bytes)
        case "pdf" => pdf(t.bytes)
        case "zip" =>
          Trace.span("kernel.zip_entries")(ZipExplode.entries(t.bytes)).foreach {
            case (name, b) => if (name.endsWith(".pdf")) pdf(b) else image(b)
          }
        case _ =>
      }
    }
    val texts = extracted
      .select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "text")
      .select(col("s.text")).limit(Sizes.ProbeTexts).as[String].collect()
    texts.zipWithIndex.foreach { case (text, i) =>
      Trace.span("invoice.field_extract")(InvoiceExtract.withEntityFallback(
        FieldExtract.entitiesFromText(text), InvoiceExtract.textTables(text),
        text, s"probe:$i"))
    }

    val self = Trace.selfByName(Set(-1))
    def per(n: String, scale: Double, denom: Int = 0): Option[Double] =
      self.get(n).map { case (s, c) => s * scale / (if (denom > 0) denom else c) }
    Seq("text", "html", "pdf", "png", "jpeg", "zip").foreach { k =>
      per(s"kernel.$k", 1e3).foreach(v => r.layers(s"kernel.${k}_ms_per_span") = (v, "ms"))
    }
    per("kernel.ocr", 1e3).foreach(v => r.layers("kernel.ocr_ms_per_raster") = (v, "ms"))
    per("kernel.image_decode", 1e3).foreach(v => r.layers("kernel.image_decode_ms") = (v, "ms"))
    per("kernel.pdf_parse", 1e3, pdfPages).foreach(v =>
      r.layers("kernel.pdf_parse_ms_per_page") = (v, "ms"))
    per("kernel.zip_entries", 1e3).foreach(v => r.layers("kernel.zip_entries_ms") = (v, "ms"))
    per("kernel.html_strip", 1e6).foreach(v => r.layers("kernel.html_strip_us") = (v, "us"))
    per("kernel.sniff", 1e6).foreach(v => r.layers("kernel.sniff_us") = (v, "us"))
    r.layers("kernel.subs_per_span") = (subs.toDouble / tasks.length.max(1), "ratio")
    per("invoice.field_extract", 1e6).foreach(v =>
      r.layers("invoice.field_extract_us_per_text") = (v, "us"))
  }
}

/** Output checks against the generator's goldens. */
object Checks {
  /** Full-outer anti-join on doc_id: docs whose span sequences (kind,
    * text, media_ref, order) differ, or that exist on one side only.
    */
  def goldenSpanMismatches(out: DataFrame, golden: DataFrame): Long =
    out.select(col("doc_id"), col("spans").as("a"))
      .join(golden.select(col("doc_id"), col("spans").as("b")), Seq("doc_id"), "full_outer")
      .where(not(col("a") <=> col("b")))
      .count()

  /** Golden invoice rows not reproduced field for field. */
  def invoiceMismatches(golden: DataFrame, extracted: DataFrame): Long = {
    def g(c: String) = col(s"g.$c")
    def e(c: String) = col(s"e.$c")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
    golden.as("g").join(extracted.as("e"), g("filename") === e("filename"), "left")
      .filter(e("filename").isNull ||
        Seq("invoice_number", "vendor_name", "street", "city", "state",
          "postal_code", "country", "pages").map(c => not(g(c) <=> e(c))).reduce(_ || _) ||
        not(g("invoice_date") <=> coalesce(e("invoice_date"), lit(""))) ||
        Seq("grand_total", "taxes", "final_total")
          .map(c => not(dec(g(c)) <=> dec(e(c)))).reduce(_ || _) ||
        not(transform(g("items"), it => struct(
          it.getField("_1").as("d"), it.getField("_2").as("q"),
          dec(it.getField("_3")).as("u"), dec(it.getField("_4")).as("t"))) <=>
          transform(e("items"), it => struct(
            it.getField("description").as("d"), it.getField("quantity").as("q"),
            dec(it.getField("unit_price")).as("u"), dec(it.getField("total")).as("t")))))
      .count()
  }
}
