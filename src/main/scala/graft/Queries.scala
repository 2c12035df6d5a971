package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.{InvoiceExprs => IE, ValidationExprs => VE}
import graft.ops.{DedupOps, MediaOps, SimilarityOps, TextOps}

/** The driver-contract operator queries (SURVEY.md §5.5): each entry is
  * one implemented operator exercised over the read-only
  * /root/testdata tables, with a DuckDB oracle twin in [[oracles]].
  *
  * Determinism rules for oracle parity (both engines must hash-match):
  *  - ratios/averages are integer-scaled (floor(a*K / b)) — no FP in
  *    comparable columns except round(x, 6) cosine;
  *  - money flows as integer cents or DECIMAL(18,2), never double;
  *  - strings built with printf-style formats supported identically
  *    (%d, %02d, %.2f on exact values);
  *  - multi-valued results are '|'-joined strings (concat_ws skips
  *    NULLs identically in both engines).
  */
object Queries {

  private val AsOf = "2025-04-18"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** One materialized IVF index per (query, source dir) per JVM — the
    * registered IVF queries build into a temp dir, and before round 7
    * EVERY invocation (bench re-runs, PlanSpec explains, Verify) wrote
    * and leaked a fresh corpus-sized parquet tree (advisor, round 6).
    * The builder runs once per key; repeat calls reuse the index (the
    * testdata tables are immutable, and builds are deterministic). All
    * cached dirs are swept by one JVM shutdown hook.
    */
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[String, SimilarityOps.IvfIndex]()
  private lazy val ivfCacheHook: Unit = {
    sys.addShutdownHook {
      ivfCache.values.forEach(i => SimilarityOps.deleteRecursively(i.root))
    }
    ()
  }
  private def cachedIvf(key: String)(
      build: String => SimilarityOps.IvfIndex): SimilarityOps.IvfIndex = {
    ivfCacheHook
    ivfCache.computeIfAbsent(key, _ => build(
      java.nio.file.Files.createTempDirectory("graft_ivf_q").toString))
  }

  import org.apache.spark.sql.Column

  /** Invoice fields synthesized from an orders key — shared by the two
    * V10 queries (q28 categorized rendering, q29 is_valid/flat count)
    * so their oracles describe one dataset.
    */
  private final case class SynthInvoice(
      filename: Column, num: Column, vendorName: Column, street: Column,
      state: Column, country: Column, date: Column, grand: Column,
      taxes: Column, fin: Column, pages: Column)

  private def decOf(c: Column): Column =
    concat(when(c < 0, "-").otherwise(""),
      format_string("%d.%02d", floor(abs(c) / 100).cast("long"), abs(c) % 100))
      .cast("decimal(18,2)")

  private def synthInvoice(k: Column): SynthInvoice = {
    val cents = round(col("o_totalprice") * 100).cast("long")
    val sign = when(k % 17 === 0, -1L).otherwise(1L)
    val taxC = floor(cents / 10).cast("long")
    SynthInvoice(
      filename = concat(lit("f"), k.cast("string")),
      num = when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 13 === 0, lit("BAD!"))
        .otherwise(concat(lit("INV-"), lpad(k.cast("string"), 7, "0"))),
      vendorName = when(k % 5 === 0, "").otherwise("Acme Supply Co"),
      street = when(k % 3 === 0, "").otherwise("12 Main St"),
      state = when(k % 15 === 0, "").otherwise("IL"),
      country = when(k % 2 === 0, "").otherwise("US"),
      date = when(k % 4 === 0, lit(null).cast("date"))
        .otherwise(date_add(to_date(col("o_orderdate")),
          when(k % 10 === 0, 30000).otherwise(0))),
      grand = when(k % 11 === 0, lit(null).cast("decimal(18,2)"))
        .otherwise(decOf(cents * sign)),
      taxes = decOf(taxC),
      fin = when(k % 19 === 0, lit(null).cast("decimal(18,2)"))
        .otherwise(decOf(cents * sign + taxC + when(k % 6 === 0, 2L).otherwise(0L))),
      pages = when(k % 9 === 0, lit(0)).otherwise(lit(1)))
  }

  private val emptyItems = expr("cast(array() as array<struct<" +
    "description:string,quantity:int,unit_price:decimal(18,2),total:decimal(18,2)>>)")

  // ---------------------------------------------------------------------
  // Spark side
  // ---------------------------------------------------------------------

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1 — invoice number regex cascade
    "q01_invoice_number" -> ((s, dir) => {
      val text = when(col("o_orderkey") % 10 =!= 0,
        concat(lit("Invoice Number: INV-"),
          lpad(col("o_orderkey").cast("string"), 7, "0")))
        .otherwise(lit("no number here"))
      t(s, dir, "orders").select(col("o_orderkey"),
        IE.invoiceNumber(text).as("inv_no"))
    }),

    // F2 — totals extraction incl. the Subtotal/Total quirk.
    // Comparable columns are integer cents (BIGINT): DECIMAL outputs
    // hash differently across the driver's normalizers even when values
    // match (round-1 q02/q03 were the only hash-mismatching rows);
    // DECIMAL round-trips stay covered in FieldExtractSpec.
    "q02_totals_quirk" -> ((s, dir) => {
      val k = col("o_orderkey")
      val text = concat(
        lit("Subtotal: $"), format_string("%d.%02d", (k % 9000) + 100, k % 100),
        lit("\nTax: $"), format_string("%d.%02d", (k % 900) + 10, (k * 7) % 100),
        lit("\nTotal: $"), format_string("%d.%02d", (k % 9900) + 110, (k * 3) % 100))
      // text projected ONCE (round 8): three regex extractors reference
      // the 6-format_string concat tree — a staged projection keeps it
      // one evaluation per row (CollapseProject preserves the boundary
      // for a non-cheap multiply-referenced expression). Values
      // unchanged — same extractors over the same text.
      t(s, dir, "orders").select(col("o_orderkey"), text.as("_text"))
        .select(col("o_orderkey"),
          (IE.grandTotal(col("_text")) * 100).cast("long").as("grand_cents"),
          (IE.taxes(col("_text")) * 100).cast("long").as("tax_cents"),
          (IE.finalTotal(col("_text")) * 100).cast("long").as("final_cents"))
    }),

    // F3 — decimal parsing with junk stripping (cents, see q02 note)
    "q03_parse_decimal" -> ((s, dir) => {
      val k = col("c_custkey")
      val raw = concat(
        when(k % 5 === 0, "-").otherwise(""),
        lit("USD $"), format_string("%d.%02d", (k % 100000) + 1, k % 100),
        lit(" net"))
      t(s, dir, "customer").select(col("c_custkey"),
        (IE.parseDecimal(raw) * 100).cast("long").as("amount_cents"))
    }),

    // F4/F5 — vendor + address line extraction
    "q04_vendor_address" -> ((s, dir) => {
      val k = col("c_custkey")
      val line3 = when(k % 11 === 0, lit("PO BOX 7")).otherwise(
        concat(lit("Springfield, IL "),
          lpad(((k % 89999) + 10000).cast("string"), 5, "0")))
      val text = concat(col("c_name"), lit("\n"),
        when(k % 7 === 0, "").otherwise("12 Main St"), lit("\n"), line3)
      t(s, dir, "customer").select(k,
        IE.vendorName(text).as("vendor_name"),
        IE.street(text).as("street"),
        IE.city(text).as("city"),
        IE.state(text).as("state"),
        IE.postalCode(text).as("postal_code"))
    }),

    // F6 (SQL-expressible subset) — ISO + 8-digit date extraction
    "q05_date_sql" -> ((s, dir) => {
      val k = col("o_orderkey")
      val text = when(k % 3 === 0,
        concat(lit("shipped on "), date_format(col("o_orderdate"), "yyyy-MM-dd")))
        .when(k % 3 === 1,
          concat(lit("ref "), date_format(col("o_orderdate"), "yyyyMMdd")))
        .otherwise(lit("no date"))
      t(s, dir, "orders").select(k, IE.dateSqlSubset(text).as("extracted_date"))
    }),

    // S2/S3/P1 — MIME mapping + allowed filter
    "q06_mime_allowed" -> ((s, dir) => {
      val exts = Seq(".pdf", ".jpg", ".png", ".zip", ".txt")
      val fname = concat(lower(regexp_replace(col("p_name"), " ", "_")),
        element_at(array(exts.map(lit): _*),
          (col("p_partkey") % 5 + 1).cast("int")))
      val mime = IE.mimeFromExtension(fname)
      t(s, dir, "part").select(col("p_partkey"), mime.as("mime"),
        IE.isAllowedMime(mime).cast("int").as("allowed"))
    }),

    // S4 — size-cap enforcement with error column
    "q07_size_cap" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        length(col("props")).as("content_len"),
        (length(col("props")) <= 9).cast("int").as("ok"),
        when(length(col("props")) > 9, "File size exceeds limit").as("err"))),

    // V1-V8 — validation predicate flags (messages engine tested vs
    // golden_invoices in sbt tests; flags here for cross-engine parity)
    "q08_warnings" -> ((s, dir) => {
      val k = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val num = when(k % 7 === 0, lit(null).cast("string"))
        .when(k % 13 === 0, lit("BAD!"))
        .otherwise(concat(lit("INV-"), lpad(k.cast("string"), 7, "0")))
      val vendorName = when(k % 5 === 0, "").otherwise("Acme Supply Co")
      val date = when(k % 4 === 0, lit(null).cast("date"))
        .otherwise(to_date(col("o_orderdate")))
      val taxesC = floor(cents / 10).cast("long")
      val finalC = cents + taxesC + when(k % 6 === 0, 2L).otherwise(0L)
      val pages = when(k % 9 === 0, 0).otherwise(1)
      t(s, dir, "orders").select(k,
        (num.isNull || trim(num) === "").cast("int").as("w_num_missing"),
        (num.isNotNull && trim(num) =!= "" && !num.rlike("^[A-Za-z0-9-]{5,}$"))
          .cast("int").as("w_num_format"),
        (vendorName === "").cast("int").as("w_vendor_missing"),
        date.isNull.cast("int").as("w_date_missing"),
        (date.isNotNull && date > lit(AsOf).cast("date")).cast("int").as("w_date_future"),
        (abs(cents + taxesC - finalC) > 1).cast("int").as("w_totals_mismatch"),
        (pages < 1).cast("int").as("w_pages"))
    }),

    // P4 — anomaly flags with lineitem-count join
    "q09_anomaly_flags" -> ((s, dir) => {
      val items = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
      val o = t(s, dir, "orders")
      val joined = o.join(items, o("o_orderkey") === items("l_orderkey"), "left")
        .select(col("o_orderkey"),
          coalesce(col("n_items"), lit(0L)).as("n_items"),
          VE.anomalyFlags(to_date(col("o_orderdate")), lit(AsOf).cast("date"),
            col("o_totalprice"), coalesce(col("n_items"), lit(0L))).as("flags"))
      joined.filter(col("flags") =!= "")
    }),

    // A1 — per-invoice item rollup (integer cents)
    "q10_item_rollup" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_orderkey")).agg(
        sum(col("l_quantity").cast("long")).as("total_quantity"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("total_cents"))
        .select(col("l_orderkey"), col("total_quantity"), col("total_cents"),
          when(col("total_quantity") > 0,
            floor(col("total_cents") / col("total_quantity")).cast("long"))
            .otherwise(0L).as("avg_unit_cents"))
    }),

    // A2 — address concat skipping empties, reference field order
    "q11_address_concat" -> ((s, dir) => {
      val k = col("c_custkey")
      val city = when(k % 3 === 0, "").otherwise("Springfield")
      val state = when(k % 5 === 0, "").otherwise("IL")
      val postal = lpad(((k % 89999) + 10000).cast("string"), 5, "0")
      t(s, dir, "customer").select(k,
        concat_ws(", ", nullif(lit("12 Main St"), lit("")), nullif(city, lit("")),
          nullif(state, lit("")), nullif(postal, lit("")), nullif(lit(""), lit("")))
          .as("address"))
    }),

    // J1/J2 — warnings lookup join (broadcast small build side)
    "q12_warnings_join" -> ((s, dir) => {
      val warn = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), (col("c_custkey") % 4).as("warn_cnt"))
      t(s, dir, "orders")
        .join(broadcast(warn), col("o_custkey") === col("key"), "left")
        .select(col("o_orderkey"), coalesce(col("warn_cnt"), lit(-1L)).as("warn_cnt"))
    }),

    // J3 — resume anti-join (cache-hit semantics)
    "q13_resume_antijoin" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"))
      t(s, dir, "orders").join(li, col("o_orderkey") === col("l_orderkey"),
        "left_anti").select(col("o_orderkey"))
    }),

    // A3 — report counts
    "q14_counts" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("total_invoices"),
        sum(when(col("o_totalprice") > 10000, 1L).otherwise(0L)).as("flagged"))),

    // F19 — md5 cache key
    "q15_md5_cachekey" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        md5(col("c_name")).as("cache_key"))),

    // F10 — key/value split on first ':'
    "q16_kv_split" -> ((s, dir) =>
      t(s, dir, "events").select(col("event_id"),
        call_function("split_part", col("props"), lit(":"), lit(1)).as("kv_key"),
        call_function("split_part", col("props"), lit(":"), lit(2)).as("kv_value"))),

    // S8 — fixed 12-column export projection with %.2f money
    "q17_export_rows" -> ((s, dir) => {
      val k = col("o_orderkey")
      val cents = round(col("o_totalprice") * 100).cast("long")
      val taxesC = floor(cents / 10).cast("long")
      def moneyStr(c: org.apache.spark.sql.Column) =
        format_string("%d.%02d", floor(c / 100).cast("long"), c % 100)
      t(s, dir, "orders").filter(k % 50 === 0).select(
        concat(lit("order_"), k.cast("string"), lit(".pdf")).as("filename"),
        concat(lit("INV-"), lpad(k.cast("string"), 7, "0")).as("invoice_number"),
        lit("Acme Supply Co").as("vendor_name"),
        lit("12 Main St, Springfield, IL, 62704").as("address"),
        to_date(col("o_orderdate")).as("invoice_date"),
        moneyStr(cents).as("grand_total"),
        moneyStr(taxesC).as("taxes"),
        moneyStr(cents + taxesC).as("final_total"),
        (k % 7 + 1).as("quantity"),
        moneyStr(floor(cents / (k % 7 + 1)).cast("long")).as("unit_price"),
        moneyStr(cents).as("total"),
        lit(1).as("pages"))
    }),

    // dedup: exact hash-groupBy
    "q18_dedup_exact" -> ((s, dir) =>
      DedupOps.exactDupGroups(t(s, dir, "documents"), "doc_id", "text")),

    // text analysis: token counts + quality signals
    "q19_token_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.avgWordLenX100(col("text")).as("avg_word_len_x100"),
        TextOps.punctRatioX1000(col("text")).as("punct_x1000"),
        TextOps.digitRatioX1000(col("text")).as("digit_x1000"),
        TextOps.substrCount(col("text"), "the").as("the_count"))),

    // language-ID heuristic — token split projected ONCE, then the
    // argmax over the attribute (see TextOps.langIdFromTokens)
    "q20_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          TextOps.langIdFromTokens(col("toks")).as("lang_guess"))),

    // document fingerprinting
    "q21_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp_head"),
        md5(col("text")).as("fp_full"))),

    // n-gram Jaccard between adjacent docs
    "q22_ngram_jaccard" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val a = d.select(col("doc_id").as("id_a"), col("text").as("text_a"))
      val b = d.select((col("doc_id") - 1).as("id_a"), col("text").as("text_b"))
      a.join(b, Seq("id_a")).select(col("id_a"),
        TextOps.ngramJaccardX1M(col("text_a"), col("text_b"), 3).as("jaccard_x1m"))
    }),

    // similarity search: brute-force cosine top-k
    "q23_cosine_topk" -> ((s, dir) =>
      SimilarityOps.bruteForceTopK(t(s, dir, "embeddings"), "vec_id",
        "embedding", queryId = 0L, k = 10)),

    // dedup: MinHash+LSH near-dup pairs on a corpus with planted dups.
    // Engine-neutral md5-derived hash so the ENTIRE lattice (shingle →
    // minhash → band bucket → candidate join → Jaccard verify) is
    // reproduced by the DuckDB oracle; the engine default stays
    // xxhash64 (DedupOps.minhashLshPairs neutral=false).
    "q24_minhash_lsh" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 200)
      val planted = d.unionByName(
        d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      DedupOps.minhashLshPairs(planted, "doc_id", "text",
        k = 32, bands = 8, thresholdX1M = 900000L, neutral = true,
        maxBucket = 1000)
    }),

    // dedup: SimHash + hamming distance to the next doc, engine-neutral
    // hash so the DuckDB oracle replicates the exact signatures
    "q25_simhash" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"),
          DedupOps.simhash64(col("text"), neutral = true).as("simhash"))
      val nxt = d.select((col("doc_id") - 1).as("doc_id"),
        col("simhash").as("next_simhash"))
      d.join(nxt, Seq("doc_id"))
        .select(col("doc_id"), col("simhash"),
          DedupOps.hamming64(col("simhash"), col("next_simhash"))
            .cast("int").as("hamming_next"))
    }),

    // similarity: LSH-bucketed ANN (scale path), engine-neutral
    // hyperplanes so the oracle reproduces buckets + probes + re-rank
    "q26_lsh_topk" -> ((s, dir) =>
      SimilarityOps.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10, bits = 8, dims = 64, neutral = true)),

    // V10 — categorized warnings map<category, array<msg>>, rendered as
    // a deterministic 'cat=msg;msg|cat=...' string for cross-engine
    // parity (map columns don't hash portably). Fields synthesized from
    // orders; every category except filename/taxes can fire.
    "q28_categorized_warnings" -> ((s, dir) => {
      val k = col("o_orderkey")
      val f = synthInvoice(k)
      // Three-stage projection (round 8, guide §1.2 per-task work): the
      // map expression contains lambda HOFs, which are EXCLUDED from
      // codegen common-subexpression elimination — the previous
      // single-select form inlined the whole map tree at every one of
      // its ~20 references (2 per category), re-evaluating the entire
      // warnings engine ~20× per row (measured 14.7 s warm for 150k
      // rows). Stage 1 projects the synthesized fields once, stage 2
      // the map once, stage 3 renders from the plain `_m` attribute;
      // CollapseProject keeps both boundaries (non-cheap expressions
      // referenced more than once). Values are unchanged — identical
      // expressions over identical inputs.
      val fields = t(s, dir, "orders").select(k,
        f.filename.as("_fn"), f.num.as("_num"), f.vendorName.as("_vn"),
        f.street.as("_str"), f.state.as("_sta"), f.country.as("_cou"),
        f.date.as("_dt"), f.grand.as("_gr"), f.taxes.as("_tx"),
        f.fin.as("_fi"), f.pages.as("_pg"))
      // Rendering WITHOUT the intermediate map (round 8): per category,
      // `concat_ws(";", warnings...)` ≡ `array_join(array_compact(
      // array(warnings...)), ";")` (both skip NULLs; every message is a
      // non-empty literal, so `joined != ""` ⇔ `size(compacted) > 0`).
      // The map/array construction ran as interpreted lambda HOFs; this
      // form is pure codegen string ops over the staged field
      // attributes, with codegen CSE deduplicating the shared warning
      // subtrees. The items category (emptyItems literal) keeps the
      // array form — it constant-folds. Values unchanged (same V1-V8
      // predicates, same category order, same separators); q28's
      // DuckDB twin is the cross-engine proof.
      val cats: Seq[(String, Seq[Column])] = Seq(
        "filename" -> Seq(VE.filenameWarning(col("_fn"))),
        "invoice_number" -> Seq(VE.invoiceNumberWarning(col("_num"))),
        "vendor" -> (VE.vendorNameWarning(col("_vn")) +:
          VE.addressWarnings(col("_str"), lit("Springfield"), col("_sta"),
            lit("62704"), col("_cou"))),
        "invoice_date" -> Seq(VE.dateWarning(col("_dt"), lit(AsOf).cast("date"))),
        "grand_total" -> Seq(VE.amountWarning(col("_gr"), "Grand total")),
        "taxes" -> Seq(VE.amountWarning(col("_tx"), "Taxes")),
        "final_total" -> Seq(VE.amountWarning(col("_fi"), "Final total")),
        "totals" -> Seq(VE.totalsWarning(col("_gr"), col("_tx"), col("_fi"))),
        "pages" -> Seq(VE.pagesWarning(col("_pg"))))
      val itemsArr = VE.itemWarningsArray(emptyItems)
      val pieces = cats.map { case (c, ws) =>
        val joined = concat_ws(";", ws: _*)
        when(joined =!= "", concat(lit(c), lit("="), joined))
      } :+ when(size(itemsArr) > 0,
        concat(lit("items"), lit("="), array_join(itemsArr, ";")))
      fields.select(col("o_orderkey"),
        concat_ws("|", pieces: _*).as("warnings_by_category"))
    }),

    // dedup: embedding-cosine near-dup pairs on a corpus with planted
    // exact dups (vec_id + 1e6) — LSH-bucketed candidates (hyperplane
    // signature, hamming-1 probes) + exact-cosine verify, the 100-TB
    // shape. The oracle mirrors the buckets, so recall decisions are
    // engine-identical. Replaces the round-2 all-pairs
    // BroadcastNestedLoopJoin baseline (PlanSpec now forbids that plan
    // shape suite-wide).
    "q27_embedding_neardup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
      val p = e.unionByName(e.select(
        (col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      SimilarityOps.embeddingNearDupPairs(p, "vec_id", "embedding",
        bits = 8, dims = 64, threshold = 0.9, neutral = true,
        maxBucket = 1000)
    }),

    // V10 full tuple — is_valid (validator.py:31-33 returns
    // (is_valid, flat, categorized); q28 covers categorized, this
    // covers is_valid + the flat count) over the same synthesized
    // fields plus a REAL items array: when k%3==1 one item
    // (qty=k%7+1, unit 2.50, total = qty*2.50, +0.02 off when k%16==0
    // → the V9 mismatch boundary), else empty → the no-items warning.
    "q29_is_valid" -> ((s, dir) => {
      val k = col("o_orderkey")
      val f = synthInvoice(k)
      val qty = (k % 7 + 1).cast("int")
      val itemCents = qty * 250 + when(k % 16 === 0, 2L).otherwise(0L)
      val items = when(k % 3 === 1,
        array(struct(lit("Widget").as("description"), qty.as("quantity"),
          lit("2.50").cast("decimal(18,2)").as("unit_price"),
          decOf(itemCents).as("total"))))
        .otherwise(emptyItems)
      // Counting WITHOUT the intermediate map (round 8, the q28
      // rationale): `size(flatten(map_values(m)))` is the total
      // non-NULL warning count across the categories, which equals the
      // sum of per-warning NULL indicators plus the item-warning array
      // size — pure codegen over the staged field attributes except the
      // one itemWarningsArray call (evaluated once). Values unchanged;
      // q29's DuckDB twin is the cross-engine proof.
      val fields = t(s, dir, "orders").select(k,
        f.filename.as("_fn"), f.num.as("_num"), f.vendorName.as("_vn"),
        f.street.as("_str"), f.state.as("_sta"), f.country.as("_cou"),
        f.date.as("_dt"), f.grand.as("_gr"), f.taxes.as("_tx"),
        f.fin.as("_fi"), f.pages.as("_pg"), items.as("_items"))
      val flatWarnings: Seq[Column] =
        Seq(VE.filenameWarning(col("_fn")),
          VE.invoiceNumberWarning(col("_num")),
          VE.vendorNameWarning(col("_vn"))) ++
          VE.addressWarnings(col("_str"), lit("Springfield"), col("_sta"),
            lit("62704"), col("_cou")) ++
          Seq(VE.dateWarning(col("_dt"), lit(AsOf).cast("date")),
            VE.amountWarning(col("_gr"), "Grand total"),
            VE.amountWarning(col("_tx"), "Taxes"),
            VE.amountWarning(col("_fi"), "Final total"),
            VE.totalsWarning(col("_gr"), col("_tx"), col("_fi")),
            VE.pagesWarning(col("_pg")))
      val n = flatWarnings
        .map(w => when(w.isNotNull, 1).otherwise(0))
        .reduce(_ + _) + size(VE.itemWarningsArray(col("_items")))
      fields.select(col("o_orderkey"), n.cast("int").as("_n"))
        .select(col("o_orderkey"),
          (col("_n") === 0).cast("int").as("is_valid"),
          col("_n").as("n_warnings"))
    }),

    // near-dup clustering: pairs → groups via connected components
    // (min-label propagation). Deterministic multi-hop graph over the
    // documents keys: 3-chains (k, k+1) for k%5<2 plus skip edges
    // (k, k+7) for k%20==0 that merge two chains — components of up to
    // 6 vertices, diameter 4, so the propagation loop genuinely
    // iterates. Oracle = recursive-CTE transitive closure.
    "q30_neardup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 500)
      val chain = d.filter(col("doc_id") % 5 < 2)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      val skip = d.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
      DedupOps.connectedComponents(
          chain.unionByName(skip), "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    // B4/A5 error-span lineage — the driver-visible twin of the sbt
    // poison tests. A corpus synthesized from `part` plants one error
    // of each class the kernel emits, one class per branch of the
    // extract dataflow: unsupported span kind (inline branch), missing
    // media payload (anti-join branch), undecodable image (media-join
    // branch, payload whose leading 0x00 defeats every magic so decode
    // deterministically fails). Healthy text spans ride along in two
    // of the classes to prove errors don't leak onto good spans.
    // Output: per-doc error count + '|'-joined sorted messages,
    // message-exact against the oracle's restatement of the rule.
    "q31_error_spans" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val k = col("p_partkey").cast("string")
      val m = col("p_partkey") % 4
      def sp(off: Int, kind: String, text: Column, ref: Column) =
        struct(lit(off).as("offset"), lit(kind).as("kind"),
          text.as("text"), ref.as("media_ref"))
      val pdfRef = concat(lit("m"), k, lit(".pdf"))
      val pngRef = concat(lit("m"), k, lit(".png"))
      val docs = part.select(
        concat(lit("doc_"), k).as("doc_id"),
        when(m === 0, array(sp(0, "text", lit("hello"), lit(""))))
          .when(m === 1, array(sp(0, "wav", lit(""), lit("")),
            sp(1, "pdf", lit(""), pdfRef)))
          .when(m === 2, array(sp(0, "pdf", lit(""), pdfRef)))
          .otherwise(array(sp(0, "png", lit(""), pngRef),
            sp(1, "text", lit("tail"), lit(""))))
          .as("spans"))
      val media = part.filter(m === 3).select(
        pngRef.as("media_ref"),
        unhex(concat(lit("00"), md5(k))).as("bytes"))
      val subs = pipeline.ExtractionPipeline.extractSubs(docs, media, partitions = 8)
      pipeline.ExtractionPipeline.errors(subs)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_errors"),
          array_join(array_sort(collect_list(col("error"))), "|").as("errs"))
    }),

    // Image near-dup dedup, END-TO-END oracle-checked (round-5 task 1;
    // q31's planted-rule pattern): per documents key a real 9×8 PNG is
    // synthesized whose dHash is EXACTLY the engine-neutral md5-derived
    // value H(k) (MediaOps.hashRaster is the dHash inverse at native
    // resolution, PNG is lossless); every k%3==0 key gets a twin image
    // whose planted hash flips bit (k%60) — hamming 1, caught
    // DETERMINISTICALLY by the 8-band default; every k%7==0 key gets
    // an undecodable payload that must surface as a NULL hash and
    // appear in NO pair. The query exercises the REAL dataflow —
    // bytes → mapPartitions decode (imageDHashes) → banded candidates
    // → hamming verify (imageNearDupPairs) — while the DuckDB oracle
    // recomputes H(k) from the formula and replays the band/hamming
    // lattice in SQL, like q24/q26.
    "q32_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
      val images = keys.mapPartitions(_.flatMap { k =>
        val h = DedupOps.md5Hash64Scala(s"img:$k")
        val base = Iterator((s"img_$k",
          graft.kernel.GlyphFont.toPng(MediaOps.hashRaster(h), 9, 8)))
        val twin =
          if (k % 3 == 0) Iterator((s"img_${k}_b",
            graft.kernel.GlyphFont.toPng(
              MediaOps.hashRaster(h ^ (1L << (k % 60).toInt)), 9, 8)))
          else Iterator.empty
        val poison = // leading 0x00 defeats every magic → NULL dhash
          if (k % 7 == 0) Iterator((s"img_${k}_x", Array[Byte](0, 1, 2, 3)))
          else Iterator.empty
        base ++ twin ++ poison
      }).toDF("media_ref", "bytes")
      MediaOps.imageNearDupPairs(MediaOps.imageDHashes(images),
        maxHamming = 6, bandBits = 8, maxBucket = 1000)
    }),

    // End of the dedup story under ONE oracle (round-5 stretch task):
    // the q24 planted corpus (200 docs + exact twins at +1e6) through
    // exact-candidate LSH pairs → connected components → anti-join
    // (dropNearDups) — survivors only. The oracle replays the full
    // q24 lattice AND the recursive-CTE closure, proving the one-call
    // composition end-to-end the way q30 proved its middle.
    "q33_drop_neardups" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 200)
      val planted = d.unionByName(
        d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val pairs = DedupOps.minhashLshPairs(planted, "doc_id", "text",
        k = 32, bands = 8, thresholdX1M = 900000L, neutral = true,
        maxBucket = 1000)
      DedupOps.dropNearDups(planted, "doc_id", pairs)
        .select(col("doc_id"))
    }),

    // The decode→hash kernel itself, value-exact: imageDHashes over
    // real synthesized PNGs must return EXACTLY the planted 60-bit
    // md5-derived values (hashRaster/PNG/readGray/resize/dHash64 are
    // exact inverses end-to-end), and undecodable payloads must
    // surface as NULL rows — both directly restated by the oracle.
    // q32 checks the pair lattice built on these hashes; this row
    // pins the hashes themselves, NULL-surfacing included.
    "q34_image_dhash" -> ((s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
      keys.mapPartitions(_.flatMap { k =>
        val h = DedupOps.md5Hash64Scala(s"img:$k")
        Iterator((s"img_$k",
          graft.kernel.GlyphFont.toPng(MediaOps.hashRaster(h), 9, 8))) ++
          (if (k % 7 == 0)
            Iterator((s"img_${k}_x", Array[Byte](0, 1, 2, 3)))
          else Iterator.empty)
      }).toDF("media_ref", "bytes")
        .transform(MediaOps.imageDHashes)
    }),

    // similarity: IVF top-k — the inverted-file ANN family beside the
    // q26 hyperplane LSH. Deterministic sampled centroids (vec_id
    // multiples of 64), argmax-raw-dot cell assignment, nprobe=4
    // probed cells, exact-cosine re-rank — the whole lattice replayed
    // by the oracle (assignment uses raw dots, so no sqrt/division
    // enters the cross-engine argmax decision). The call goes through
    // the MATERIALIZED build/query split: ivfBuild writes the
    // cell-partitioned index, and ivfQuery — q37's batch plan over a
    // one-row query batch — ranks probes plan-side and partition-prunes
    // to the probed cells; the lattice, and hence this oracle, is
    // unchanged.
    "q35_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q35:$dir")(d => SimilarityOps.ivfBuild(
        emb, "vec_id", "embedding", d, centroidEvery = 64,
        maxCentroids = 64))
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      SimilarityOps.ivfQuery(s, index, qv, k = 10, nprobe = 4)
    }),

    // End of the IMAGE dedup story under ONE oracle (round-6 task,
    // mirroring how q33 composed the text family): the q32 planted
    // raster corpus through the REAL dataflow — bytes → mapPartitions
    // decode (imageDHashes) → banded candidates + hamming verify
    // (imageNearDupPairs) → connected components → anti-join
    // (dropNearDups) — survivors only. Keeper = lexicographic minimum
    // media_ref per component ('img_k' < 'img_k_b'); undecodable
    // payloads (NULL dhash) enter no pair and must SURVIVE — the
    // composition points the q33 machinery at string ids and proves
    // NULL-hash rows flow through the closure untouched.
    "q36_image_drop_neardups" -> ((s, dir) => {
      import s.implicits._
      val keys = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200).as[Long]
      val images = keys.mapPartitions(_.flatMap { k =>
        val h = DedupOps.md5Hash64Scala(s"img:$k")
        val base = Iterator((s"img_$k",
          graft.kernel.GlyphFont.toPng(MediaOps.hashRaster(h), 9, 8)))
        val twin =
          if (k % 3 == 0) Iterator((s"img_${k}_b",
            graft.kernel.GlyphFont.toPng(
              MediaOps.hashRaster(h ^ (1L << (k % 60).toInt)), 9, 8)))
          else Iterator.empty
        val poison =
          if (k % 7 == 0) Iterator((s"img_${k}_x", Array[Byte](0, 1, 2, 3)))
          else Iterator.empty
        base ++ twin ++ poison
      }).toDF("media_ref", "bytes")
      val hashes = MediaOps.imageDHashes(images)
      val pairs = MediaOps.imageNearDupPairs(hashes,
        maxHamming = 6, bandBits = 8, maxBucket = 1000)
      DedupOps.dropNearDups(hashes, "media_ref", pairs)
        .select(col("media_ref"))
    }),

    // Batch ANN serving shape (round 6): ONE materialized index build,
    // ONE plan answering five queries (vec_id multiples of 100).
    // Probe cells are computed plan-side per query row against the
    // build's centroid matrix; the index scan partition-prunes to the
    // union of probed cells; top-k ranks under a window PARTITIONED
    // by query id (hash-distributed — never the global sort). The
    // lattice per query is exactly q35's, so the twin extends q35's
    // SQL with a query dimension.
    "q37_ivf_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q37:$dir")(d => SimilarityOps.ivfBuild(
        emb, "vec_id", "embedding", d, centroidEvery = 64,
        maxCentroids = 64))
      SimilarityOps.ivfQueryBatch(s, index,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 4)
    }),

    // Batched serving through the APPEND path (round 7): the index is
    // built over HALF the corpus (even vec_ids), the other half
    // arrives via ivfAppend (frozen centroids, committed delta), and
    // the same five-query batch runs against the union. The centroid
    // sample (vec_id % 64 = 0, all even) is identical over the half
    // and the full corpus, so append-then-serve ≡ build-over-all bit
    // for bit — q37's oracle IS this query's oracle, which puts the
    // incremental path (previously sbt-only bit-identity,
    // DedupOpsSpec) under the driver's DuckDB gate.
    "q38_ivf_append_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q38:$dir") { d =>
        val half = SimilarityOps.ivfBuild(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", d,
          centroidEvery = 64, maxCentroids = 64)
        SimilarityOps.ivfAppend(half, emb.filter(col("vec_id") % 2 =!= 0))
      }
      SimilarityOps.ivfQueryBatch(s, index,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 4)
    }),

    // Cross-modal one-call dedup (round 7, the q33 × q36 composition):
    // a mixed corpus where every doc carries text AND an image payload
    // (real PNG bytes through the real decode kernel). A doc drops
    // when EITHER its text clusters it (the q24/q33 MinHash lattice)
    // OR its image does (the q32/q36 dHash band lattice) with a kept
    // doc — the two verified pair sets union into ONE connected-
    // components closure. Planted: d%3 → a twin with UNRELATED text
    // but a 1-bit-flipped image (only the image path can catch it);
    // d%5 → a twin with IDENTICAL text but an unrelated image (only
    // the text path can); d%7 → a poison doc with an undecodable
    // image (NULL dhash enters no pair) and unrelated text — must
    // survive. String doc ids end to end (both engines compare and
    // min-label lexicographically).
    "q39_crossmodal_drop_neardups" -> ((s, dir) => {
      import s.implicits._
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 200).as[(Long, String)]
      val corpus = base.mapPartitions(_.flatMap { case (d, text) =>
        def png(h: Long) =
          graft.kernel.GlyphFont.toPng(MediaOps.hashRaster(h), 9, 8)
        val h = DedupOps.md5Hash64Scala(s"img:$d")
        val self = Iterator((d.toString, text, png(h)))
        val imgTwin =
          if (d % 3 == 0) Iterator(((d + 1000000).toString,
            s"image twin marker $d alpha ${d * 3} beta ${d * 7}",
            png(h ^ (1L << (d % 60).toInt))))
          else Iterator.empty
        val textTwin =
          if (d % 5 == 0) Iterator(((d + 2000000).toString, text,
            png(DedupOps.md5Hash64Scala(s"img2:$d"))))
          else Iterator.empty
        val poison =
          if (d % 7 == 0) Iterator(((d + 3000000).toString,
            s"unrelated filler document number $d standalone ${d * 7}",
            Array[Byte](0, 1, 2, 3)))
          else Iterator.empty
        self ++ imgTwin ++ textTwin ++ poison
      }).toDF("id", "text", "bytes")
      val textPairs = DedupOps.minhashLshPairs(
        corpus.select(col("id"), col("text")), "id", "text",
        k = 32, bands = 8, thresholdX1M = 900000L, neutral = true,
        maxBucket = 1000)
      val imgPairs = MediaOps.imageNearDupPairs(
        MediaOps.imageDHashes(
          corpus.select(col("id").as("media_ref"), col("bytes"))),
        maxHamming = 6, bandBits = 8, maxBucket = 1000)
      val pairs = textPairs.select(col("id_a"), col("id_b"))
        .unionByName(imgPairs.select(col("id_a"), col("id_b")))
        .distinct()
      DedupOps.dropNearDups(corpus.select(col("id")), "id", pairs)
        .select(col("id"))
    }),

    // Recall-TUNED batch serving (round 7): the full tune-then-serve
    // loop under one oracle. The curve is measured analytically in one
    // corpus pass — each exact-top-10 row's cell has a probe-rank in
    // its query's descending-raw-dot centroid order, and that rank IS
    // the smallest nprobe that surfaces the row (visible exact-top-k
    // members always make the served top-k, since serving re-ranks by
    // the same exact cosine). hits(n) accumulates over a 10-query
    // sample (vec_id % 50), the chosen nprobe is the smallest with
    // hits(n)·10^6 ≥ 600000·Q·k — an ALL-INTEGER threshold (the
    // thresholdX1M convention, no float compare can straddle engine
    // boundaries) — and the q37 serving lattice runs at that nprobe,
    // which the output carries as a column so the tuning DECISION is
    // itself oracle-checked.
    "q40_ivf_recall_tuned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q40:$dir")(d => SimilarityOps.ivfBuild(
        emb, "vec_id", "embedding", d, centroidEvery = 64,
        maxCentroids = 64))
      SimilarityOps.ivfQueryBatchAtRecall(s, index,
        sample = emb.filter(col("vec_id") % 50 === 0),
        queries = emb.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", k = 10, targetX1M = 600000L)
    }),

    // SQ8 quantized serving with exact re-rank (round 7): the index
    // is built with int8 scalar quantization (per-vector
    // scale = maxabs/127, codes = clamp(round-half-away(x/scale)),
    // precomputed code norm — graft.exprs.Int8Pack, a native Catalyst
    // expression), the scoring pass ranks candidates by the
    // asymmetric int8 dot (graft.exprs.Int8Dot, codegen'd byte loop)
    // over ONLY the code/cnorm columns — a quarter of the bytes — and
    // the top k·rerank survivors are re-ranked by exact cosine. The
    // oracle replays the whole lattice: q35's probes, the
    // quantization arithmetic (DuckDB round(DOUBLE) is the same
    // half-away-from-zero the expression implements exactly), the
    // approximate ranking, and the exact re-rank.
    "q41_sq8_rerank_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q41:$dir")(d => SimilarityOps.ivfBuild(
        emb, "vec_id", "embedding", d, centroidEvery = 64,
        maxCentroids = 64, quantize = true))
      val qv = emb.filter(col("vec_id") === 0L).select(col("embedding"))
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      SimilarityOps.ivfQuerySQ(s, index, qv, k = 10, nprobe = 4,
        rerank = 4)
    }),

    // Batch SQ8 serving (round 7): q41's two-pass quantized lattice
    // for a whole query batch in ONE plan and with NO query-sized
    // collect — pass 1 scores int8 codes per (query, candidate) and
    // shortlists k·rerank per query under a query-partitioned window;
    // pass 2 joins the shortlist back for the exact-cosine re-rank.
    // The oracle extends q41's twin with the query dimension.
    "q42_sq8_batch" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = cachedIvf(s"q42:$dir")(d => SimilarityOps.ivfBuild(
        emb, "vec_id", "embedding", d, centroidEvery = 64,
        maxCentroids = 64, quantize = true))
      SimilarityOps.ivfQuerySQBatch(s, index,
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        k = 5, nprobe = 4, rerank = 4)
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle twins
  // ---------------------------------------------------------------------

  val oracles: Map[String, String] = Map(
    "q01_invoice_number" ->
      """SELECT o_orderkey, NULLIF(regexp_extract(CASE WHEN o_orderkey % 10 <> 0 THEN 'Invoice Number: INV-' || lpad(CAST(o_orderkey AS VARCHAR), 7, '0') ELSE 'no number here' END, '(?i)invoice\s*number?[:\s]*([A-Za-z0-9-]{5,})', 1), '') AS inv_no FROM orders""",

    "q02_totals_quirk" -> {
      val text = "'Subtotal: $' || printf('%d.%02d', (o_orderkey % 9000) + 100, o_orderkey % 100) || chr(10) || 'Tax: $' || printf('%d.%02d', (o_orderkey % 900) + 10, (o_orderkey * 7) % 100) || chr(10) || 'Total: $' || printf('%d.%02d', (o_orderkey % 9900) + 110, (o_orderkey * 3) % 100)"
      s"""SELECT o_orderkey,
          CAST(TRY_CAST(replace(NULLIF(regexp_extract($text, '(?i)subtotal[:\\s]*\\$$?([0-9,]+\\.[0-9]{2})', 1), ''), ',', '') AS DECIMAL(18,2)) * 100 AS BIGINT) AS grand_cents,
          CAST(TRY_CAST(replace(NULLIF(regexp_extract($text, '(?i)tax[:\\s]*\\$$?([0-9,]+\\.[0-9]{2})', 1), ''), ',', '') AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_cents,
          CAST(TRY_CAST(replace(NULLIF(regexp_extract($text, '(?i)total[:\\s]*\\$$?([0-9,]+\\.[0-9]{2})', 1), ''), ',', '') AS DECIMAL(18,2)) * 100 AS BIGINT) AS final_cents
          FROM orders"""
    },

    "q03_parse_decimal" ->
      """SELECT c_custkey, CAST(TRY_CAST(NULLIF(regexp_replace(CASE WHEN c_custkey % 5 = 0 THEN '-' ELSE '' END || 'USD $' || printf('%d.%02d', (c_custkey % 100000) + 1, c_custkey % 100) || ' net', '[^0-9.-]', '', 'g'), '') AS DECIMAL(18,2)) * 100 AS BIGINT) AS amount_cents FROM customer""",

    "q04_vendor_address" -> {
      val text = "c_name || chr(10) || (CASE WHEN c_custkey % 7 = 0 THEN '' ELSE '12 Main St' END) || chr(10) || (CASE WHEN c_custkey % 11 = 0 THEN 'PO BOX 7' ELSE 'Springfield, IL ' || lpad(CAST((c_custkey % 89999) + 10000 AS VARCHAR), 5, '0') END)"
      s"""SELECT c_custkey,
          split_part($text, chr(10), 1) AS vendor_name,
          split_part($text, chr(10), 2) AS street,
          trim(regexp_extract(split_part($text, chr(10), 3), '([A-Za-z\\s]+),\\s*([A-Z]{2})', 1)) AS city,
          regexp_extract(split_part($text, chr(10), 3), '([A-Za-z\\s]+),\\s*([A-Z]{2})', 2) AS state,
          regexp_extract(split_part($text, chr(10), 3), '\\b\\d{5}(?:-\\d{4})?\\b', 0) AS postal_code
          FROM customer"""
    },

    "q05_date_sql" -> {
      val text = "CASE WHEN o_orderkey % 3 = 0 THEN 'shipped on ' || strftime(o_orderdate, '%Y-%m-%d') WHEN o_orderkey % 3 = 1 THEN 'ref ' || strftime(o_orderdate, '%Y%m%d') ELSE 'no date' END"
      s"""SELECT o_orderkey, COALESCE(
          TRY_CAST(strptime(NULLIF(regexp_extract($text, '\\b(\\d{4}-\\d{2}-\\d{2})\\b', 1), ''), '%Y-%m-%d') AS DATE),
          TRY_CAST(strptime(NULLIF(regexp_extract($text, '\\b(\\d{8})\\b', 1), ''), '%Y%m%d') AS DATE)) AS extracted_date
          FROM orders"""
    },

    "q06_mime_allowed" -> {
      val fname = "lower(replace(p_name, ' ', '_')) || (CASE p_partkey % 5 WHEN 0 THEN '.pdf' WHEN 1 THEN '.jpg' WHEN 2 THEN '.png' WHEN 3 THEN '.zip' ELSE '.txt' END)"
      val mime = s"CASE WHEN $fname LIKE '%.pdf' THEN 'application/pdf' WHEN $fname LIKE '%.jpg' OR $fname LIKE '%.jpeg' THEN 'image/jpeg' WHEN $fname LIKE '%.png' THEN 'image/png' WHEN $fname LIKE '%.zip' THEN 'application/zip' ELSE 'application/octet-stream' END"
      s"""SELECT p_partkey, $mime AS mime, CASE WHEN $mime IN ('application/pdf','image/jpeg','image/png','application/zip') THEN 1 ELSE 0 END AS allowed FROM part"""
    },

    "q07_size_cap" ->
      """SELECT event_id, length(props) AS content_len, CASE WHEN length(props) <= 9 THEN 1 ELSE 0 END AS ok, CASE WHEN length(props) > 9 THEN 'File size exceeds limit' END AS err FROM events""",

    "q08_warnings" ->
      """SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END AS w_num_missing,
         CASE WHEN o_orderkey % 7 <> 0 AND o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS w_num_format,
         CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END AS w_vendor_missing,
         CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END AS w_date_missing,
         CASE WHEN o_orderkey % 4 <> 0 AND CAST(o_orderdate AS DATE) > DATE '2025-04-18' THEN 1 ELSE 0 END AS w_date_future,
         CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END AS w_totals_mismatch,
         CASE WHEN o_orderkey % 9 = 0 THEN 1 ELSE 0 END AS w_pages
         FROM orders""",

    "q09_anomaly_flags" ->
      """WITH items AS (SELECT l_orderkey, count(*) AS n_items FROM lineitem GROUP BY 1)
         SELECT o_orderkey, COALESCE(n_items, 0) AS n_items,
           concat_ws('|',
             CASE WHEN CAST(o_orderdate AS DATE) > DATE '2025-04-18' THEN 'Future date' END,
             CASE WHEN o_totalprice > 10000 THEN 'Unusually high total amount' END,
             CASE WHEN COALESCE(n_items, 0) > 20 THEN 'Large number of line items' END) AS flags
         FROM orders LEFT JOIN items ON o_orderkey = l_orderkey
         WHERE concat_ws('|',
             CASE WHEN CAST(o_orderdate AS DATE) > DATE '2025-04-18' THEN 'Future date' END,
             CASE WHEN o_totalprice > 10000 THEN 'Unusually high total amount' END,
             CASE WHEN COALESCE(n_items, 0) > 20 THEN 'Large number of line items' END) <> ''""",

    "q10_item_rollup" ->
      """SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_quantity,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
         CASE WHEN SUM(CAST(l_quantity AS BIGINT)) > 0
              THEN CAST(FLOOR(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / SUM(CAST(l_quantity AS BIGINT))) AS BIGINT)
              ELSE 0 END AS avg_unit_cents
         FROM lineitem GROUP BY l_orderkey""",

    "q11_address_concat" ->
      """SELECT c_custkey, concat_ws(', ', NULLIF('12 Main St',''), NULLIF(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE 'Springfield' END,''), NULLIF(CASE WHEN c_custkey % 5 = 0 THEN '' ELSE 'IL' END,''), NULLIF(lpad(CAST((c_custkey % 89999) + 10000 AS VARCHAR), 5, '0'),''), NULLIF('','')) AS address FROM customer""",

    "q12_warnings_join" ->
      """SELECT o_orderkey, COALESCE(c_custkey % 4, -1) AS warn_cnt FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",

    "q13_resume_antijoin" ->
      """SELECT o_orderkey FROM orders WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""",

    "q14_counts" ->
      """SELECT count(*) AS total_invoices, CAST(COALESCE(SUM(CASE WHEN o_totalprice > 10000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS flagged FROM orders""",

    "q15_md5_cachekey" ->
      """SELECT c_custkey, md5(c_name) AS cache_key FROM customer""",

    "q16_kv_split" ->
      """SELECT event_id, split_part(props, ':', 1) AS kv_key, split_part(props, ':', 2) AS kv_value FROM events""",

    "q17_export_rows" ->
      """SELECT 'order_' || CAST(o_orderkey AS VARCHAR) || '.pdf' AS filename,
         'INV-' || lpad(CAST(o_orderkey AS VARCHAR), 7, '0') AS invoice_number,
         'Acme Supply Co' AS vendor_name,
         '12 Main St, Springfield, IL, 62704' AS address,
         CAST(o_orderdate AS DATE) AS invoice_date,
         printf('%d.%02d', CAST(FLOOR(cents / 100) AS BIGINT), cents % 100) AS grand_total,
         printf('%d.%02d', CAST(FLOOR(taxes_c / 100) AS BIGINT), taxes_c % 100) AS taxes,
         printf('%d.%02d', CAST(FLOOR((cents + taxes_c) / 100) AS BIGINT), (cents + taxes_c) % 100) AS final_total,
         CAST(o_orderkey % 7 + 1 AS INTEGER) AS quantity,
         printf('%d.%02d', CAST(FLOOR(CAST(FLOOR(cents / (o_orderkey % 7 + 1)) AS BIGINT) / 100) AS BIGINT), CAST(FLOOR(cents / (o_orderkey % 7 + 1)) AS BIGINT) % 100) AS unit_price,
         printf('%d.%02d', CAST(FLOOR(cents / 100) AS BIGINT), cents % 100) AS total,
         1 AS pages
         FROM (SELECT o_orderkey, o_orderdate,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 CAST(FLOOR(CAST(round(o_totalprice * 100) AS BIGINT) / 10) AS BIGINT) AS taxes_c
               FROM orders WHERE o_orderkey % 50 = 0)""",

    "q18_dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keeper FROM documents GROUP BY 1""",

    "q19_token_quality" ->
      """SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN len(string_split(text, ' ')) > 0 THEN CAST(FLOOR(length(text) * 100 / len(string_split(text, ' '))) AS BIGINT) ELSE 0 END AS avg_word_len_x100,
         CASE WHEN length(text) > 0 THEN CAST(FLOOR(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1000 / length(text)) AS BIGINT) ELSE 0 END AS punct_x1000,
         CASE WHEN length(text) > 0 THEN CAST(FLOOR(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000 / length(text)) AS BIGINT) ELSE 0 END AS digit_x1000,
         CAST(FLOOR((length(text) - length(replace(text, 'the', ''))) / 3) AS BIGINT) AS the_count
         FROM documents""",

    "q20_lang_id" ->
      """SELECT doc_id, CASE
           WHEN h_en = mx AND mx > 0 THEN 'en'
           WHEN h_es = mx AND mx > 0 THEN 'es'
           WHEN h_de = mx AND mx > 0 THEN 'de'
           WHEN h_fr = mx AND mx > 0 THEN 'fr'
           ELSE 'und' END AS lang_guess
         FROM (SELECT doc_id,
           len(list_intersect(string_split(lower(text), ' '), ['the','and','of','to','in','is','that','with'])) AS h_en,
           len(list_intersect(string_split(lower(text), ' '), ['el','la','de','que','y','en','los','del'])) AS h_es,
           len(list_intersect(string_split(lower(text), ' '), ['der','die','und','das','nicht','mit','ein','zu'])) AS h_de,
           len(list_intersect(string_split(lower(text), ' '), ['le','la','les','des','est','dans','que','une'])) AS h_fr,
           greatest(
             len(list_intersect(string_split(lower(text), ' '), ['the','and','of','to','in','is','that','with'])),
             len(list_intersect(string_split(lower(text), ' '), ['el','la','de','que','y','en','los','del'])),
             len(list_intersect(string_split(lower(text), ' '), ['der','die','und','das','nicht','mit','ein','zu'])),
             len(list_intersect(string_split(lower(text), ' '), ['le','la','les','des','est','dans','que','une']))) AS mx
           FROM documents)""",

    "q21_fingerprint" ->
      """SELECT doc_id, md5(substr(text, 1, 100)) AS fp_head, md5(text) AS fp_full FROM documents""",

    "q22_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id, list_distinct([substr(text, i, 3) FOR i IN range(1, greatest(length(text) - 1, 1))]) AS ng FROM documents)
         SELECT a.doc_id AS id_a,
           CASE WHEN (len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng))) > 0
                THEN CAST(FLOOR(len(list_intersect(a.ng, b.ng)) * 1000000 / (len(a.ng) + len(b.ng) - len(list_intersect(a.ng, b.ng)))) AS BIGINT)
                ELSE 1000000 END AS jaccard_x1m
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""",

    "q28_categorized_warnings" ->
      """WITH f AS (
           SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(FLOOR(CAST(round(o_totalprice * 100) AS BIGINT) / 10) AS BIGINT) AS taxc,
             CASE WHEN o_orderkey % 17 = 0 THEN -1 ELSE 1 END AS sgn,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL WHEN o_orderkey % 13 = 0 THEN 'BAD!' ELSE 'INV-' || lpad(CAST(o_orderkey AS VARCHAR), 7, '0') END AS num,
             CASE WHEN o_orderkey % 5 = 0 THEN '' ELSE 'Acme Supply Co' END AS vname,
             CASE WHEN o_orderkey % 3 = 0 THEN '' ELSE '12 Main St' END AS street,
             CASE WHEN o_orderkey % 15 = 0 THEN '' ELSE 'IL' END AS st,
             CASE WHEN o_orderkey % 2 = 0 THEN '' ELSE 'US' END AS country,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) + (CASE WHEN o_orderkey % 10 = 0 THEN 30000 ELSE 0 END) END AS d,
             CASE WHEN o_orderkey % 9 = 0 THEN 0 ELSE 1 END AS pages
           FROM orders),
         g AS (
           SELECT *,
             CASE WHEN k % 11 = 0 THEN NULL ELSE CAST((CASE WHEN cents*sgn < 0 THEN '-' ELSE '' END || printf('%d.%02d', CAST(FLOOR(abs(cents*sgn)/100) AS BIGINT), abs(cents*sgn) % 100)) AS DECIMAL(18,2)) END AS grand,
             CAST(printf('%d.%02d', CAST(FLOOR(taxc/100) AS BIGINT), taxc % 100) AS DECIMAL(18,2)) AS taxes,
             CASE WHEN k % 19 = 0 THEN NULL ELSE CAST((CASE WHEN cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END) < 0 THEN '-' ELSE '' END || printf('%d.%02d', CAST(FLOOR(abs(cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END))/100) AS BIGINT), abs(cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END)) % 100)) AS DECIMAL(18,2)) END AS fin
           FROM f)
         SELECT k AS o_orderkey,
           concat_ws('|',
             CASE WHEN num IS NULL OR trim(num) = '' THEN 'invoice_number=Invoice number is missing'
                  WHEN NOT regexp_matches(num, '^[A-Za-z0-9-]{5,}$') THEN 'invoice_number=Unusual invoice number format: ' || num END,
             NULLIF('vendor=' || concat_ws(';',
               CASE WHEN vname = '' THEN 'Vendor name is missing' END,
               CASE WHEN street = '' THEN 'Vendor street is missing' END,
               CASE WHEN st = '' THEN 'Vendor state is missing' END,
               CASE WHEN country = '' THEN 'Vendor country is missing' END), 'vendor='),
             CASE WHEN d IS NULL THEN 'invoice_date=Invoice date is missing'
                  WHEN d > DATE '2025-04-18' THEN 'invoice_date=Invoice date ' || strftime(d, '%Y-%m-%d') || ' is in the future' END,
             CASE WHEN grand IS NULL THEN 'grand_total=Grand total is missing' WHEN grand < 0 THEN 'grand_total=Grand total is negative' END,
             CASE WHEN fin IS NULL THEN 'final_total=Final total is missing' WHEN fin < 0 THEN 'final_total=Final total is negative' END,
             CASE WHEN grand IS NOT NULL AND taxes IS NOT NULL AND fin IS NOT NULL AND abs(grand + taxes - fin) > 0.01
                  THEN 'totals=Total amounts may not match: ' || CAST(grand AS VARCHAR) || ' + ' || CAST(taxes AS VARCHAR) || ' ≈ ' || CAST(fin AS VARCHAR) END,
             CASE WHEN pages < 1 THEN 'pages=Unusual number of pages: ' || CAST(pages AS VARCHAR) END,
             'items=No line items found in the invoice') AS warnings_by_category
         FROM g""",

    // V10 is_valid twin: same synthesized fields as q28 (shared
    // synthInvoice CTE shape) but with the q29 items rule — one valid
    // item when k%3=1 (mismatching total when k%16=0), else empty.
    // Counts warnings per category instead of rendering messages (the
    // message text is oracle-checked by q28).
    "q29_is_valid" ->
      """WITH f AS (
           SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(FLOOR(CAST(round(o_totalprice * 100) AS BIGINT) / 10) AS BIGINT) AS taxc,
             CASE WHEN o_orderkey % 17 = 0 THEN -1 ELSE 1 END AS sgn,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL WHEN o_orderkey % 13 = 0 THEN 'BAD!' ELSE 'INV-' || lpad(CAST(o_orderkey AS VARCHAR), 7, '0') END AS num,
             CASE WHEN o_orderkey % 5 = 0 THEN '' ELSE 'Acme Supply Co' END AS vname,
             CASE WHEN o_orderkey % 3 = 0 THEN '' ELSE '12 Main St' END AS street,
             CASE WHEN o_orderkey % 15 = 0 THEN '' ELSE 'IL' END AS st,
             CASE WHEN o_orderkey % 2 = 0 THEN '' ELSE 'US' END AS country,
             CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) + (CASE WHEN o_orderkey % 10 = 0 THEN 30000 ELSE 0 END) END AS d,
             CASE WHEN o_orderkey % 9 = 0 THEN 0 ELSE 1 END AS pages
           FROM orders),
         g AS (
           SELECT *,
             CASE WHEN k % 11 = 0 THEN NULL ELSE CAST((CASE WHEN cents*sgn < 0 THEN '-' ELSE '' END || printf('%d.%02d', CAST(FLOOR(abs(cents*sgn)/100) AS BIGINT), abs(cents*sgn) % 100)) AS DECIMAL(18,2)) END AS grand,
             CAST(printf('%d.%02d', CAST(FLOOR(taxc/100) AS BIGINT), taxc % 100) AS DECIMAL(18,2)) AS taxes,
             CASE WHEN k % 19 = 0 THEN NULL ELSE CAST((CASE WHEN cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END) < 0 THEN '-' ELSE '' END || printf('%d.%02d', CAST(FLOOR(abs(cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END))/100) AS BIGINT), abs(cents*sgn + taxc + (CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END)) % 100)) AS DECIMAL(18,2)) END AS fin
           FROM f),
         n AS (
           SELECT k,
             (CASE WHEN num IS NULL OR trim(num) = '' THEN 1 WHEN NOT regexp_matches(num, '^[A-Za-z0-9-]{5,}$') THEN 1 ELSE 0 END)
             + (CASE WHEN vname = '' THEN 1 ELSE 0 END)
             + (CASE WHEN street = '' THEN 1 ELSE 0 END)
             + (CASE WHEN st = '' THEN 1 ELSE 0 END)
             + (CASE WHEN country = '' THEN 1 ELSE 0 END)
             + (CASE WHEN d IS NULL THEN 1 WHEN d > DATE '2025-04-18' THEN 1 ELSE 0 END)
             + (CASE WHEN grand IS NULL THEN 1 WHEN grand < 0 THEN 1 ELSE 0 END)
             + (CASE WHEN fin IS NULL THEN 1 WHEN fin < 0 THEN 1 ELSE 0 END)
             + (CASE WHEN grand IS NOT NULL AND fin IS NOT NULL AND abs(grand + taxes - fin) > 0.01 THEN 1 ELSE 0 END)
             + (CASE WHEN pages < 1 THEN 1 ELSE 0 END)
             + (CASE WHEN k % 3 = 1 THEN (CASE WHEN k % 16 = 0 THEN 1 ELSE 0 END) ELSE 1 END) AS nw
           FROM g)
         SELECT k AS o_orderkey,
           CASE WHEN nw = 0 THEN 1 ELSE 0 END AS is_valid,
           CAST(nw AS INTEGER) AS n_warnings
         FROM n""",

    // Bucketed near-dup twin: same hyperplane signature formula as q26
    // (8 bits, md5-derived components), probe set = exact bucket + all
    // 1-bit flips, exact-cosine verify of the DISTINCT candidate pairs.
    "q27_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
         p AS (SELECT vec_id, embedding FROM e UNION ALL SELECT vec_id + 1000000, embedding FROM e),
         sig0 AS (SELECT vec_id,
           CAST(list_sum(list_transform(range(0, 8), i ->
             CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), j ->
               embedding[j] * ((CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 1, 15) AS BIGINT) - 576460752303423488.0) / 576460752303423488.0))) > 0
                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
           FROM p),
         sig AS (SELECT vec_id, sig FROM sig0
           QUALIFY count(*) OVER (PARTITION BY sig) <= 1000),
         probes AS (SELECT vec_id AS id_b, sig AS probe FROM sig
                    UNION ALL
                    SELECT vec_id, xor(sig, CAST(1 AS BIGINT) << i) FROM sig, range(0, 8) r(i)),
         pairs AS (SELECT DISTINCT a.vec_id AS id_a, b.id_b
                   FROM sig a JOIN probes b ON a.sig = b.probe AND a.vec_id < b.id_b)
         SELECT id_a, id_b,
                round(list_cosine_similarity(ea.embedding, eb.embedding), 6) AS cos_sim
         FROM pairs JOIN p ea ON ea.vec_id = id_a JOIN p eb ON eb.vec_id = id_b
         WHERE round(list_cosine_similarity(ea.embedding, eb.embedding), 6) >= 0.9""",

    "q23_cosine_topk" ->
      """SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
           SELECT vec_id, round(list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) AS cos_sim,
                  row_number() OVER (ORDER BY round(list_cosine_similarity(embedding, (SELECT embedding FROM embeddings WHERE vec_id = 0)), 6) DESC, vec_id) AS rank
           FROM embeddings)
         WHERE rank <= 10""",

    // Full MinHash+LSH lattice twin: shingle → ONE md5-derived 64-bit
    // hash per shingle → per-seed rotate-xor mixing (rotate right by
    // seed within 60 bits, xor md5('seed:'||seed)) → per-seed minima →
    // banded buckets → distinct candidate pairs → char-3-gram Jaccard
    // verify. Mirrors DedupOps with neutral=true (k=32, bands=8,
    // rows/band=4, threshold 0.9).
    "q24_minhash_lsh" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         p AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM base),
         tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM p),
         sh AS (SELECT doc_id, text,
           CASE WHEN len(toks) >= 3
             THEN list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, len(toks) - 1)])
             ELSE [array_to_string(toks, ' ')] END AS shingles FROM tok),
         hs AS (SELECT doc_id, list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs FROM sh),
         sig AS (SELECT doc_id,
           [list_min([xor((h >> seed) | ((h & ((CAST(1 AS BIGINT) << seed) - 1)) << (60 - seed)),
                          CAST('0x' || substr(md5('seed:' || CAST(seed AS VARCHAR)), 1, 15) AS BIGINT))
             FOR h IN hs]) FOR seed IN range(0, 32)] AS sig
           FROM hs),
         bands AS (SELECT doc_id, b,
           md5(array_to_string(list_transform(list_slice(sig, b*4+1, b*4+4), x -> CAST(x AS VARCHAR)), ',')) AS bucket
           FROM sig, range(0, 8) r(b)
           QUALIFY count(*) OVER (PARTITION BY b, bucket) <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         ng AS (SELECT doc_id, list_distinct([substr(text, i, 3) FOR i IN range(1, greatest(length(text) - 1, 1))]) AS g FROM p)
         SELECT * FROM (
           SELECT id_a, id_b,
             CASE WHEN (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) > 0
               THEN CAST(FLOOR(len(list_intersect(ga.g, gb.g)) * 1000000 / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))) AS BIGINT)
               ELSE 1000000 END AS jaccard_x1m
           FROM pairs JOIN ng ga ON ga.doc_id = id_a JOIN ng gb ON gb.doc_id = id_b)
         WHERE jaccard_x1m >= 900000""",

    // SimHash lattice twin: per-token md5-derived hash → per-bit ±1
    // votes → sign-packed 64-bit signature (bits 60-63 provably 0) →
    // hamming to the successor doc.
    "q25_simhash" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         h AS (SELECT doc_id, list_transform(toks, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs FROM t),
         sig AS (SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 64), i ->
             CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash
           FROM h)
         SELECT a.doc_id, a.simhash, CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming_next
         FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1""",

    // LSH-ANN lattice twin: md5-derived hyperplane components
    // recentred to [-1,1), sign-packed 8-bit bucket, probe = exact
    // bucket + all 1-bit flips, exact cosine re-rank of candidates.
    "q26_lsh_topk" ->
      """WITH sig AS (SELECT vec_id, embedding,
           CAST(list_sum(list_transform(range(0, 8), i ->
             CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1), j ->
               embedding[j] * ((CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)), 1, 15) AS BIGINT) - 576460752303423488.0) / 576460752303423488.0))) > 0
                  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig
           FROM embeddings),
         q AS (SELECT embedding AS qv, sig AS qs FROM sig WHERE vec_id = 0),
         probes AS (SELECT qs AS p FROM q UNION ALL SELECT xor(qs, CAST(1 AS BIGINT) << i) FROM q, range(0, 8) r(i)),
         cand AS (SELECT DISTINCT s.vec_id, round(list_cosine_similarity(s.embedding, (SELECT qv FROM q)), 6) AS cos_sim
                  FROM sig s WHERE s.sig IN (SELECT p FROM probes)),
         ranked AS (SELECT vec_id, cos_sim, row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank FROM cand)
         SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= 10""",

    // Connected-components twin: recursive-CTE transitive closure over
    // the same deterministic edge set; cluster = min(src, reachable).
    "q30_neardup_clusters" ->
      """WITH RECURSIVE
         n AS (SELECT doc_id FROM documents WHERE doc_id < 500),
         e0 AS (SELECT doc_id AS a, doc_id + 1 AS b FROM n WHERE doc_id % 5 < 2
                UNION ALL
                SELECT doc_id AS a, doc_id + 7 AS b FROM n WHERE doc_id % 20 = 0),
         e AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
         reach AS (SELECT a AS src, b AS dst FROM e
                   UNION
                   SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a)
         SELECT src AS doc_id, least(src, min(dst)) AS cluster
         FROM reach GROUP BY src""",

    // Error-span twin: restates the planting rule. Message strings must
    // match the kernel's byte-for-byte (SpanKernel err sites); the
    // '|' join order is the lexicographic sort ('missing…' < 'unsupported…').
    "q31_error_spans" ->
      """SELECT 'doc_' || p_partkey AS doc_id,
                CAST(CASE WHEN p_partkey % 4 = 1 THEN 2 ELSE 1 END AS BIGINT) AS n_errors,
                CASE p_partkey % 4
                  WHEN 1 THEN 'missing media payload for m' || p_partkey || '.pdf|unsupported span kind: wav'
                  WHEN 2 THEN 'missing media payload for m' || p_partkey || '.pdf'
                  ELSE 'undecodable image: m' || p_partkey || '.png'
                END AS errs
         FROM part WHERE p_partkey % 4 <> 0""",

    // Image-dedup twin: the planted dHash H(k) is recomputed from the
    // md5 formula (hashRaster/PNG/decode are exact inverses, so the
    // engine's decoded hashes ARE these values); twins flip bit k%60;
    // undecodable payloads are simply absent (NULL hashes enter no
    // pair). Bands = 8-bit slices with the 2..1000 population guard,
    // then distinct candidate pairs hamming-verified ≤ 6 — the exact
    // MediaOps.imageNearDupPairs lattice.
    "q32_image_neardup" ->
      """WITH k AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         h0 AS (
           SELECT 'img_' || CAST(doc_id AS VARCHAR) AS id,
                  CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS dhash
           FROM k
           UNION ALL
           SELECT 'img_' || CAST(doc_id AS VARCHAR) || '_b',
                  xor(CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                      CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INTEGER))
           FROM k WHERE doc_id % 3 = 0),
         bands AS (
           SELECT id, b, (dhash >> (b * 8)) & 255 AS bucket
           FROM h0, range(0, 8) r(b)
           QUALIFY count(*) OVER (PARTITION BY b, bucket) BETWEEN 2 AND 1000),
         pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id)
         SELECT id_a, id_b, CAST(bit_count(xor(ha.dhash, hb.dhash)) AS INTEGER) AS hamming
         FROM pairs JOIN h0 ha ON ha.id = id_a JOIN h0 hb ON hb.id = id_b
         WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 6""",

    // dropNearDups twin: the full q24 MinHash+LSH lattice produces the
    // verified pair set, a recursive-CTE transitive closure labels the
    // components (q30's oracle shape), and survivors are everything
    // except non-minimum component members.
    "q33_drop_neardups" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         p AS (SELECT doc_id, text FROM base UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM base),
         tok AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM p),
         sh AS (SELECT doc_id, text,
           CASE WHEN len(toks) >= 3
             THEN list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, len(toks) - 1)])
             ELSE [array_to_string(toks, ' ')] END AS shingles FROM tok),
         hs AS (SELECT doc_id, list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs FROM sh),
         sig AS (SELECT doc_id,
           [list_min([xor((h >> seed) | ((h & ((CAST(1 AS BIGINT) << seed) - 1)) << (60 - seed)),
                          CAST('0x' || substr(md5('seed:' || CAST(seed AS VARCHAR)), 1, 15) AS BIGINT))
             FOR h IN hs]) FOR seed IN range(0, 32)] AS sig
           FROM hs),
         bands AS (SELECT doc_id, b,
           md5(array_to_string(list_transform(list_slice(sig, b*4+1, b*4+4), x -> CAST(x AS VARCHAR)), ',')) AS bucket
           FROM sig, range(0, 8) r(b)
           QUALIFY count(*) OVER (PARTITION BY b, bucket) <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         ng AS (SELECT doc_id, list_distinct([substr(text, i, 3) FOR i IN range(1, greatest(length(text) - 1, 1))]) AS g FROM p),
         prs AS (SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CASE WHEN (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) > 0
                 THEN CAST(FLOOR(len(list_intersect(ga.g, gb.g)) * 1000000 / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))) AS BIGINT)
                 ELSE 1000000 END AS jaccard_x1m
             FROM cand JOIN ng ga ON ga.doc_id = id_a JOIN ng gb ON gb.doc_id = id_b)
           WHERE jaccard_x1m >= 900000),
         e AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b AS a, id_a AS b FROM prs),
         reach AS (SELECT a AS src, b AS dst FROM e
                   UNION
                   SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a),
         lab AS (SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
         SELECT doc_id FROM p
         WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster <> id)""",

    // Hash-value twin: good payloads decode to exactly the planted
    // md5-derived 60-bit values; poison payloads (k%7==0 twins with a
    // leading 0x00 byte) are NULL rows, present, not dropped.
    "q34_image_dhash" ->
      """SELECT 'img_' || CAST(doc_id AS VARCHAR) AS media_ref,
                CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS dhash
         FROM documents WHERE doc_id < 200
         UNION ALL
         SELECT 'img_' || CAST(doc_id AS VARCHAR) || '_x' AS media_ref,
                CAST(NULL AS BIGINT) AS dhash
         FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0""",

    // IVF twin: same sampled centroid set (vec_id % 64 = 0, first 64
    // by id, 0-based cell index in id order), per-vector argmax raw
    // dot (ties → lowest cell), query probes the 4 best cells, exact
    // cosine re-rank of their members. list_sum(list_transform(...))
    // reproduces the HOF fold's left-to-right double summation
    // bit-for-bit (the q26/q27 precedent).
    "q35_ivf_topk" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         probes AS (
           SELECT cidx AS cell FROM (
             SELECT cidx, row_number() OVER (ORDER BY d DESC, cidx) AS rn
             FROM dots WHERE vec_id = 0) WHERE rn <= 4),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT a.vec_id,
                  round(list_cosine_similarity(a.embedding, (SELECT qv FROM q)), 6) AS cos_sim
           FROM assign a JOIN probes p ON a.cell = p.cell),
         ranked AS (
           SELECT vec_id, cos_sim,
                  row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
           FROM cand)
         SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 10""",

    // Image one-call dedup twin: the full q32 band/hamming lattice
    // produces the verified pair set over the planted dHash values, a
    // recursive-CTE transitive closure labels the components over
    // STRING ids (least = lexicographic minimum, matching Spark's
    // min-label propagation on strings), and survivors are everything
    // — poison refs with NULL hashes included — except non-minimum
    // component members.
    "q36_image_drop_neardups" ->
      """WITH RECURSIVE
         k AS (SELECT doc_id FROM documents WHERE doc_id < 200),
         h0 AS (
           SELECT 'img_' || CAST(doc_id AS VARCHAR) AS id,
                  CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS dhash
           FROM k
           UNION ALL
           SELECT 'img_' || CAST(doc_id AS VARCHAR) || '_b',
                  xor(CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                      CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INTEGER))
           FROM k WHERE doc_id % 3 = 0),
         ids AS (SELECT id FROM h0
                 UNION ALL
                 SELECT 'img_' || CAST(doc_id AS VARCHAR) || '_x'
                 FROM k WHERE doc_id % 7 = 0),
         bands AS (
           SELECT id, b, (dhash >> (b * 8)) & 255 AS bucket
           FROM h0, range(0, 8) r(b)
           QUALIFY count(*) OVER (PARTITION BY b, bucket) BETWEEN 2 AND 1000),
         cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
         prs AS (SELECT id_a, id_b
                 FROM cand JOIN h0 ha ON ha.id = id_a JOIN h0 hb ON hb.id = id_b
                 WHERE bit_count(xor(ha.dhash, hb.dhash)) <= 6),
         e AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b AS a, id_a AS b FROM prs),
         reach AS (SELECT a AS src, b AS dst FROM e
                   UNION
                   SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a),
         lab AS (SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
         SELECT id AS media_ref FROM ids
         WHERE id NOT IN (SELECT id FROM lab WHERE cluster <> id)""",

    // Batch IVF twin: q35's lattice with a query dimension — probe
    // ranking per query (descending raw dot, cell-index tie-break),
    // candidates joined on probed cells, and the final rank
    // PARTITIONED by query id, mirroring the engine's per-query
    // window.
    "q37_ivf_batch" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         qs AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 100 = 0),
         probes AS (
           SELECT query_id, cidx AS cell FROM (
             SELECT q.query_id, d.cidx,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY d.d DESC, d.cidx) AS rn
             FROM dots d JOIN qs q ON d.vec_id = q.query_id) WHERE rn <= 4),
         cand AS (
           -- explicit double-precision fold, NOT list_cosine_similarity:
           -- the builtin accumulates in float32 and lands half an ulp
           -- away at the 6-dp rounding boundary on larger candidate
           -- sets; this mirrors the engine's double fold exactly
           SELECT p.query_id, a.vec_id,
                  round(
                    list_sum(list_transform(range(1, len(a.embedding) + 1),
                      j -> CAST(a.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM assign a JOIN probes p ON a.cell = p.cell
                JOIN qs q ON q.query_id = p.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
           FROM cand)
         SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    // Append-path twin: build-on-half + frozen-centroid append ≡ one
    // build over the full corpus (the centroid sample, vec_id % 64 = 0
    // — all even — is identical over the even half and the union), so
    // the oracle is EXACTLY q37's full-corpus lattice: the driver gate
    // now proves the incremental path end to end.
    "q38_ivf_append_batch" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         qs AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 100 = 0),
         probes AS (
           SELECT query_id, cidx AS cell FROM (
             SELECT q.query_id, d.cidx,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY d.d DESC, d.cidx) AS rn
             FROM dots d JOIN qs q ON d.vec_id = q.query_id) WHERE rn <= 4),
         cand AS (
           SELECT p.query_id, a.vec_id,
                  round(
                    list_sum(list_transform(range(1, len(a.embedding) + 1),
                      j -> CAST(a.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM assign a JOIN probes p ON a.cell = p.cell
                JOIN qs q ON q.query_id = p.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
           FROM cand)
         SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5""",

    // Cross-modal twin: the mixed corpus restated row-for-row (base
    // doc + its planted twins, texts verbatim, image hashes as the
    // planted md5-derived values, poison = NULL hash), the q33 MinHash
    // text lattice AND the q36 dHash band lattice each producing their
    // verified pair set, the two edge sets UNIONED into one
    // recursive-CTE closure over STRING ids, survivors = everything
    // except non-minimum component members.
    "q39_crossmodal_drop_neardups" ->
      """WITH RECURSIVE
         k AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
         docs AS (
           SELECT CAST(doc_id AS VARCHAR) AS id, text,
                  CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS ih
           FROM k
           UNION ALL
           SELECT CAST(doc_id + 1000000 AS VARCHAR),
                  'image twin marker ' || CAST(doc_id AS VARCHAR) ||
                    ' alpha ' || CAST(doc_id * 3 AS VARCHAR) ||
                    ' beta ' || CAST(doc_id * 7 AS VARCHAR),
                  xor(CAST('0x' || substr(md5('img:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                      CAST(1 AS BIGINT) << CAST(doc_id % 60 AS INTEGER))
           FROM k WHERE doc_id % 3 = 0
           UNION ALL
           SELECT CAST(doc_id + 2000000 AS VARCHAR), text,
                  CAST('0x' || substr(md5('img2:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           FROM k WHERE doc_id % 5 = 0
           UNION ALL
           SELECT CAST(doc_id + 3000000 AS VARCHAR),
                  'unrelated filler document number ' || CAST(doc_id AS VARCHAR) ||
                    ' standalone ' || CAST(doc_id * 7 AS VARCHAR),
                  CAST(NULL AS BIGINT)
           FROM k WHERE doc_id % 7 = 0),
         tok AS (SELECT id, text, string_split(text, ' ') AS toks FROM docs),
         sh AS (SELECT id, text,
           CASE WHEN len(toks) >= 3
             THEN list_distinct([concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, len(toks) - 1)])
             ELSE [array_to_string(toks, ' ')] END AS shingles FROM tok),
         hs AS (SELECT id, list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)) AS hs FROM sh),
         sig AS (SELECT id,
           [list_min([xor((h >> seed) | ((h & ((CAST(1 AS BIGINT) << seed) - 1)) << (60 - seed)),
                          CAST('0x' || substr(md5('seed:' || CAST(seed AS VARCHAR)), 1, 15) AS BIGINT))
             FOR h IN hs]) FOR seed IN range(0, 32)] AS sig
           FROM hs),
         tbands AS (SELECT id, b,
           md5(array_to_string(list_transform(list_slice(sig, b*4+1, b*4+4), x -> CAST(x AS VARCHAR)), ',')) AS bucket
           FROM sig, range(0, 8) r(b)
           QUALIFY count(*) OVER (PARTITION BY b, bucket) <= 1000),
         tcand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
           FROM tbands a JOIN tbands b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
         ng AS (SELECT id, list_distinct([substr(text, i, 3) FOR i IN range(1, greatest(length(text) - 1, 1))]) AS g FROM docs),
         tprs AS (SELECT id_a, id_b FROM (
             SELECT id_a, id_b,
               CASE WHEN (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) > 0
                 THEN CAST(FLOOR(len(list_intersect(ga.g, gb.g)) * 1000000 / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))) AS BIGINT)
                 ELSE 1000000 END AS jaccard_x1m
             FROM tcand JOIN ng ga ON ga.id = id_a JOIN ng gb ON gb.id = id_b)
           WHERE jaccard_x1m >= 900000),
         ibands AS (
           SELECT id, b, (ih >> (b * 8)) & 255 AS bucket
           FROM docs, range(0, 8) r(b) WHERE ih IS NOT NULL
           QUALIFY count(*) OVER (PARTITION BY b, bucket) BETWEEN 2 AND 1000),
         icand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                   FROM ibands a JOIN ibands b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
         iprs AS (SELECT id_a, id_b
                  FROM icand JOIN docs da ON da.id = id_a JOIN docs db ON db.id = id_b
                  WHERE bit_count(xor(da.ih, db.ih)) <= 6),
         allp AS (SELECT id_a, id_b FROM tprs UNION SELECT id_a, id_b FROM iprs),
         e AS (SELECT id_a AS a, id_b AS b FROM allp UNION SELECT id_b AS a, id_a AS b FROM allp),
         reach AS (SELECT a AS src, b AS dst FROM e
                   UNION
                   SELECT r.src, e.b AS dst FROM reach r JOIN e ON r.dst = e.a),
         lab AS (SELECT src AS id, least(src, min(dst)) AS cluster FROM reach GROUP BY src)
         SELECT id FROM docs
         WHERE id NOT IN (SELECT id FROM lab WHERE cluster <> id)""",

    // Recall-tuned serving twin: the q35 assignment lattice, then the
    // MEASUREMENT — exact top-10 per sample query (explicit
    // double-precision fold, the q37 precedent), each hit's cell
    // mapped to its probe-rank in the query's descending-raw-dot
    // centroid order (the smallest nprobe that surfaces it), the
    // cumulative curve, and the smallest n with
    // hits(n)·10^6 ≥ 600000·Q·k (all-integer compare; fallback = C) —
    // then the q37 serving lattice at that nprobe, with the chosen
    // value in the output.
    "q40_ivf_recall_tuned" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         sq AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 50 = 0),
         cellrank AS (
           SELECT q.query_id, d.cidx AS cell,
                  row_number() OVER (PARTITION BY q.query_id ORDER BY d.d DESC, d.cidx) AS cr
           FROM dots d JOIN sq q ON d.vec_id = q.query_id),
         escore AS (
           SELECT q.query_id, a.vec_id, a.cell,
                  round(
                    list_sum(list_transform(range(1, len(a.embedding) + 1),
                      j -> CAST(a.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM assign a CROSS JOIN sq q),
         exactk AS (
           SELECT query_id, cell FROM (
             SELECT query_id, vec_id, cell,
                    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
             FROM escore) WHERE rank <= 10),
         hits AS (
           SELECT e.query_id, cr.cr
           FROM exactk e JOIN cellrank cr
             ON cr.query_id = e.query_id AND cr.cell = e.cell),
         curve AS (
           SELECT r.n, count(h.cr) AS hits_n
           FROM (SELECT CAST(row_number() OVER (ORDER BY cidx) AS INTEGER) AS n
                 FROM cents) r
           LEFT JOIN hits h ON h.cr <= r.n
           GROUP BY r.n),
         chosen AS (
           SELECT CAST(coalesce(min(n), (SELECT count(*) FROM cents)) AS INTEGER) AS np
           FROM curve
           WHERE hits_n * CAST(1000000 AS BIGINT) >=
                 CAST(600000 AS BIGINT) * (SELECT count(*) FROM sq) * 10),
         qs AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 100 = 0),
         probes AS (
           SELECT query_id, cidx AS cell FROM (
             SELECT q.query_id, d.cidx,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY d.d DESC, d.cidx) AS rn
             FROM dots d JOIN qs q ON d.vec_id = q.query_id)
           WHERE rn <= (SELECT np FROM chosen)),
         cand AS (
           SELECT p.query_id, a.vec_id,
                  round(
                    list_sum(list_transform(range(1, len(a.embedding) + 1),
                      j -> CAST(a.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM assign a JOIN probes p ON a.cell = p.cell
                JOIN qs q ON q.query_id = p.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
           FROM cand)
         SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank,
                (SELECT np FROM chosen) AS nprobe
         FROM ranked WHERE rank <= 10""",

    // SQ8 twin: q35's assignment + probes, then the quantization
    // lattice per probed candidate — scale = maxabs/127, code_j =
    // clamp(round(x_j/scale)) (DuckDB round(DOUBLE) = half away from
    // zero, exactly the engine's Int8Pack rounding), cnorm = √Σcode²
    // — the asymmetric approximate score Σ q_j·code_j / (qnorm·cnorm)
    // ranks candidates (raw doubles, id tie-break), the top
    // k·rerank = 40 survive, and the exact-cosine re-rank (explicit
    // double fold, q37 precedent) yields the final top 10.
    "q41_sq8_rerank_topk" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         probes AS (
           SELECT cidx AS cell FROM (
             SELECT cidx, row_number() OVER (ORDER BY d DESC, cidx) AS rn
             FROM dots WHERE vec_id = 0) WHERE rn <= 4),
         q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         qn AS (SELECT sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                  j -> CAST(qv[j] AS DOUBLE) * CAST(qv[j] AS DOUBLE)))) AS qnorm
                FROM q),
         cand0 AS (
           SELECT a.vec_id, a.embedding
           FROM assign a JOIN probes p ON a.cell = p.cell),
         sc AS (
           SELECT vec_id, embedding,
                  list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
           FROM cand0),
         codes AS (
           SELECT vec_id, embedding,
                  CASE WHEN scale > 0 THEN
                    list_transform(embedding, x ->
                      greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE),
                        round(CAST(x AS DOUBLE) / scale))))
                  ELSE list_transform(embedding, x -> CAST(0 AS DOUBLE))
                  END AS code
           FROM sc),
         cn AS (
           SELECT vec_id, embedding, code,
                  sqrt(list_sum(list_transform(code, c -> c * c))) AS cnorm
           FROM codes),
         ap AS (
           SELECT c.vec_id, c.embedding,
                  CASE WHEN c.cnorm > 0 THEN
                    list_sum(list_transform(range(1, len(c.code) + 1),
                      j -> CAST(q.qv[j] AS DOUBLE) * c.code[j]))
                    / ((SELECT qnorm FROM qn) * c.cnorm)
                  ELSE 0.0 END AS approx_sim
           FROM cn c CROSS JOIN q),
         topr AS (
           SELECT vec_id, embedding FROM (
             SELECT vec_id, embedding,
                    row_number() OVER (ORDER BY approx_sim DESC, vec_id) AS rn
             FROM ap) WHERE rn <= 40),
         ex AS (
           SELECT t.vec_id,
                  round(
                    list_sum(list_transform(range(1, len(t.embedding) + 1),
                      j -> CAST(t.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(t.embedding) + 1),
                         j -> CAST(t.embedding[j] AS DOUBLE) * CAST(t.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM topr t CROSS JOIN q),
         ranked AS (
           SELECT vec_id, cos_sim,
                  row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
           FROM ex)
         SELECT vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 10""",

    // Batch SQ8 twin: q41's quantization lattice with a query
    // dimension — codes/cnorm are per-vector (query-independent),
    // probes and qnorm per query, the approximate rank and the exact
    // re-rank both PARTITIONED by query id, k·rerank = 20 shortlist.
    "q42_sq8_batch" ->
      """WITH cents AS (
           SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cidx,
                  embedding AS cvec
           FROM (SELECT vec_id, embedding FROM embeddings
                 WHERE vec_id % 64 = 0 ORDER BY vec_id LIMIT 64)),
         dots AS (
           SELECT e.vec_id, e.embedding, c.cidx,
                  list_sum(list_transform(range(1, len(e.embedding) + 1),
                    j -> CAST(e.embedding[j] AS DOUBLE) * CAST(c.cvec[j] AS DOUBLE))) AS d
           FROM embeddings e CROSS JOIN cents c),
         assign AS (
           SELECT vec_id, embedding, cidx AS cell FROM (
             SELECT vec_id, embedding, cidx,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cidx) AS rn
             FROM dots) WHERE rn = 1),
         qs AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 100 = 0),
         qn AS (SELECT query_id,
                  sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                    j -> CAST(qv[j] AS DOUBLE) * CAST(qv[j] AS DOUBLE)))) AS qnorm
                FROM qs),
         probes AS (
           SELECT query_id, cidx AS cell FROM (
             SELECT q.query_id, d.cidx,
                    row_number() OVER (PARTITION BY q.query_id ORDER BY d.d DESC, d.cidx) AS rn
             FROM dots d JOIN qs q ON d.vec_id = q.query_id) WHERE rn <= 4),
         sc AS (
           SELECT vec_id, embedding, cell,
                  list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
           FROM assign),
         codes AS (
           SELECT vec_id, embedding, cell,
                  CASE WHEN scale > 0 THEN
                    list_transform(embedding, x ->
                      greatest(CAST(-127 AS DOUBLE), least(CAST(127 AS DOUBLE),
                        round(CAST(x AS DOUBLE) / scale))))
                  ELSE list_transform(embedding, x -> CAST(0 AS DOUBLE))
                  END AS code
           FROM sc),
         cn AS (
           SELECT vec_id, embedding, cell, code,
                  sqrt(list_sum(list_transform(code, c -> c * c))) AS cnorm
           FROM codes),
         ap AS (
           SELECT p.query_id, c.vec_id,
                  CASE WHEN c.cnorm > 0 AND n.qnorm > 0 THEN
                    list_sum(list_transform(range(1, len(c.code) + 1),
                      j -> CAST(q.qv[j] AS DOUBLE) * c.code[j]))
                    / (n.qnorm * c.cnorm)
                  ELSE 0.0 END AS approx_sim
           FROM cn c JOIN probes p ON c.cell = p.cell
                JOIN qs q ON q.query_id = p.query_id
                JOIN qn n ON n.query_id = p.query_id),
         topr AS (
           SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id,
                    row_number() OVER (PARTITION BY query_id ORDER BY approx_sim DESC, vec_id) AS rn
             FROM ap) WHERE rn <= 20),
         ex AS (
           SELECT t.query_id, t.vec_id,
                  round(
                    list_sum(list_transform(range(1, len(a.embedding) + 1),
                      j -> CAST(a.embedding[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
                         j -> CAST(a.embedding[j] AS DOUBLE) * CAST(a.embedding[j] AS DOUBLE))))
                     * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                         j -> CAST(q.qv[j] AS DOUBLE) * CAST(q.qv[j] AS DOUBLE)))))
                  , 6) AS cos_sim
           FROM topr t JOIN assign a ON a.vec_id = t.vec_id
                JOIN qs q ON q.query_id = t.query_id),
         ranked AS (
           SELECT query_id, vec_id, cos_sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
           FROM ex)
         SELECT query_id, vec_id, cos_sim, CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5"""
  )
}
