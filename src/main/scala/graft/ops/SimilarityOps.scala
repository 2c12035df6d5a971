package graft.ops

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.TableLog

/** Similarity search over an embedding column (array<float>):
  * brute-force cosine top-k as the exact baseline, an LSH
  * (random-hyperplane signature) bucketing as the scale path, and a
  * bucketed all-pairs near-dup operator — at 10^12 rows the
  * brute-force scan is one pass (acceptable for a single query), but
  * batch ANN / batch near-dup needs the bucketed variants so
  * candidates are joined by signature instead of crossed.
  */
object SimilarityOps {

  /** Dot product as the native codegen'd [[graft.exprs.VecDot]]
    * expression (round 8). Bit-identical to the previous
    * `aggregate(zip_with(a, b, x·y), 0.0, +)` HOF fold — same
    * left-to-right IEEE sequence, same NULL semantics (length
    * mismatch / NULL element / NULL input → NULL, empty → 0.0) — but
    * it runs as a tight primitive loop inside whole-stage codegen and
    * participates in common-subexpression elimination, which the
    * interpreted HOF fold (lambda subtrees) never did: a cosine's
    * twice-referenced denominator used to cost two full folds. Both
    * arrays must be `array<float|double>`.
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(lit(0.0))
  }

  /** Rank the k rows of an already-limited top-k result WITHOUT a
    * global window and WITHOUT a nested-loop join: pack the k rows
    * into one sorted array (desc cos_sim, asc id — the cross-engine
    * tie-break), posexplode, rank = position + 1. A
    * `row_number().over(Window.orderBy(...))` with no partition moves
    * the ENTIRE scored input to one partition (the round-1
    * scale-killer); the round-2 broadcast self-join was scale-safe but
    * left a BroadcastNestedLoopJoin in every top-k plan — this
    * packs only the k already-reduced rows, no join at all.
    */
  private def withRank(top: DataFrame, idCol: String): DataFrame =
    top
      .agg(array_sort(collect_list(struct(
        (-col("cos_sim")).as("neg_sim"), col(idCol).as("id"),
        col("cos_sim").as("cs")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "row")))
      .select(col("row.id").as(idCol), col("row.cs").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k by cosine against one query vector (broadcast as a
    * literal-free 1-row cross join — Spark broadcasts the tiny side).
    * Ranking uses cosine rounded to 6 dp with id tie-break so results
    * are stable across engines and summation orders. The top-k itself
    * is `orderBy(...).limit(k)` → TakeOrderedAndProject: each partition
    * keeps its local k, the driver merges — distributed at any scale.
    */
  def bruteForceTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val query = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"))
    val scored = embeddings
      .join(broadcast(query))
      .select(col(idCol),
        round(cosine(col(vecCol), col("query_vec")), 6).as("cos_sim"))
    val top = scored.orderBy(col("cos_sim").desc, col(idCol).asc).limit(k)
    withRank(top, idCol)
  }

  /** Hyperplane component matrix, precomputed ONCE at plan-build time —
    * the component for (bit i, dim j) is data-independent, so
    * recomputing it per row (as round 2 did, one md5 + base conversion
    * per (bit × dim × row)) is pure waste; q26 regressed 0.8→3.0 s on
    * it. `neutral` uses the md5-derived formula the DuckDB oracle
    * reproduces (bit-identical: long→double conversion, subtract,
    * divide are the same IEEE ops driver-side as in Catalyst);
    * the default uses splitmix64 (public-domain mixer, Steele et al.
    * 2014) — deterministic across JVMs, no cross-engine requirement.
    */
  def hyperplaneMatrix(
      bits: Int, dims: Int, neutral: Boolean): Seq[Seq[Double]] = {
    val half = math.pow(2, 59)
    def splitmix64(v: Long): Long = {
      var x = v + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    (0 until bits).map(i => (0 until dims).map { j =>
      if (neutral) (DedupOps.md5Hash64Scala(s"$i:$j") - half) / half
      else splitmix64(i.toLong * dims + j).toDouble / Long.MaxValue.toDouble
    })
  }

  /** Random-hyperplane LSH signature: bit i = sign of dot(v, h_i). The
    * bits×dims hyperplane matrix rides the plan as a literal nested
    * array; the per-row cost is pure HOF arithmetic (no hashing).
    * `dims` must match the embedding length (extra dims are ignored by
    * zip_with; missing dims null out the dot product → bit 0).
    */
  def hyperplaneSignature(
      vec: Column, bits: Int, dims: Int,
      neutral: Boolean = false): Column = {
    val mat = typedlit(hyperplaneMatrix(bits, dims, neutral))
    aggregate(
      zip_with(sequence(lit(0), lit(bits - 1)), mat, (i, row) => {
        // vec_dot (round 8): one native call per bit instead of a
        // dims-element interpreted lambda fold — same IEEE sequence
        val d = call_function("vec_dot", vec, row)
        when(d > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** The probe set for a signature: itself plus all 1-bit flips
    * (hamming-1 multi-probe — standard LSH recall booster).
    */
  private def probesOf(sig: Column, bits: Int): Column =
    concat(array(sig),
      transform(sequence(lit(0), lit(bits - 1)),
        i => sig.bitwiseXOR(call_function("shiftleft", lit(1L), i))))

  /** Bucketed ANN top-k: candidates share the query's LSH bucket (or a
    * 1-bit neighbour), then exact cosine re-ranks. The scale path: the
    * probe joins on bucket instead of scanning all rows.
    */
  def lshTopK(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, bits: Int = 12, dims: Int = 64,
      neutral: Boolean = false): DataFrame = {
    val withSig = embeddings.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), bits, dims, neutral).as("sig"))
    val query = withSig.filter(col(idCol) === queryId)
      .select(col(vecCol).as("query_vec"), col("sig").as("query_sig"))
    val probes = query.select(col("query_vec"),
      explode(probesOf(col("query_sig"), bits)).as("probe_sig"))
    val candidates = withSig.join(broadcast(probes),
      col("sig") === col("probe_sig"))
    val top = candidates
      .select(col(idCol),
        round(cosine(col(vecCol), col("query_vec")), 6).as("cos_sim"))
      .distinct()
      .orderBy(col("cos_sim").desc, col(idCol).asc).limit(k)
    withRank(top, idCol)
  }

  /** Batch LSH ANN: ONE plan answers MANY queries — the serving shape
    * of [[ivfQueryBatch]] for the hyperplane family. Corpus signatures
    * are computed once; each query row explodes its hamming-≤1 probe
    * set (1 + bits signatures) and candidates JOIN on the signature —
    * never a corpus scan per query, and the query side (Q × (1+bits)
    * rows) broadcasts. Exact cosine re-ranks under a window
    * PARTITIONED by query id (hash-distributed, never a global sort).
    * Per-query results are identical to [[lshTopK]] (same probes, same
    * 6-dp rounding and id tie-break). Output: (query_id, idCol,
    * cos_sim, rank).
    */
  def lshTopKBatch(
      embeddings: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, bits: Int = 12, dims: Int = 64,
      neutral: Boolean = false): DataFrame = {
    val withSig = embeddings.select(col(idCol), col(vecCol),
      hyperplaneSignature(col(vecCol), bits, dims, neutral).as("sig"))
    val probes = queries
      .select(col(qidCol).as("query_id"), col(qvecCol).as("_qvec"),
        hyperplaneSignature(col(qvecCol), bits, dims, neutral).as("_qsig"))
      .select(col("query_id"), col("_qvec"),
        explode(probesOf(col("_qsig"), bits)).as("sig"))
    val candidates = withSig.join(broadcast(probes), Seq("sig"))
    val scored = candidates
      .select(col("query_id"), col(idCol),
        round(cosine(col(vecCol), col("_qvec")), 6).as("cos_sim"))
      .distinct()
    topKPerQuery(scored, idCol, k)
  }

  // -------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second family beside the
  // random-hyperplane LSH of [[lshTopK]], in its MATERIALIZED
  // build/query form (round 6; the round-5 one-shot recomputed every
  // vector's cell assignment inside every query's plan — a full-corpus
  // C×D pass per query that could not partition-prune).
  // -------------------------------------------------------------------

  /** Handle to a materialized IVF index: the cell-partitioned base
    * table of generation `gen` (columns idCol, vecCol, partition column
    * cell; one directory per cell) plus the exact centroid matrix the
    * assignment used — persisted alongside the cells (shortest
    * round-trip double rendering, so a fresh session reloads
    * bit-identical centroids via [[ivfLoad]]). `deltas` are committed
    * delta tables (same cell-partitioned layout) written by
    * [[ivfAppend]] and [[graft.pipeline.StreamingIndex]]; queries read
    * base ∪ deltas, each root partition-pruning independently. All of
    * it is what the index's [[TableLog]] snapshot holds.
    */
  final case class IvfIndex(
      root: String, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], deltas: Seq[String] = Nil,
      gen: Int = 0, quantized: Boolean = false) {
    def cellsPath: String = ivfCellsPath(root, gen)
    def dataPaths: Seq[String] = cellsPath +: deltas
  }

  /** Base cell table of generation `gen`. Generation 0 is the first
    * [[ivfBuild]] (`root/cells`); each compaction
    * ([[graft.pipeline.StreamingIndex.compact]]) and each rebuild over
    * an existing index writes the next generation's directory, so no
    * writer overwrites what a live handle reads.
    */
  def ivfCellsPath(root: String, gen: Int): String =
    if (gen == 0) s"$root/cells" else s"$root/cells-gen$gen"

  /** The index's rows: base cells plus every committed delta. Each
    * root is read separately (own partition discovery) and unioned, so
    * a `cell` filter partition-prunes inside EVERY branch — pruning
    * survives the union.
    */
  private[graft] def readCells(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex): DataFrame =
    index.dataPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_))

  /** Assign rows to the index's cells with its frozen centroid matrix
    * — the exact argmax the build used, exposed for incremental paths
    * ([[ivfAppend]], [[graft.pipeline.StreamingIndex]]). On a
    * quantized index ([[ivfBuild]] `quantize = true`) the SQ8 columns
    * are derived here too, so every writer — build, batch append,
    * streaming delta — produces the same cell schema. The struct is
    * projected FIRST (interpreted-expression pitfall: three field
    * extractions over an inline [[graft.exprs.Int8Pack]] call would
    * re-pack per reference; the non-cheap struct blocks
    * CollapseProject, so one pack feeds all three).
    */
  def assignCells(df: DataFrame, index: IvfIndex): DataFrame = {
    val assigned = withCellOf(df, index.idCol, index.vecCol, index.centroids)
    if (!index.quantized) assigned
    else assigned
      .select(col(index.idCol), col(index.vecCol), col("cell"),
        call_function("int8_pack", col(index.vecCol)).as("_sq8"))
      .select(col(index.idCol), col(index.vecCol),
        col("_sq8.code").as("code8"), col("_sq8.scale").as("scale8"),
        col("_sq8.cnorm").as("cnorm8"), col("cell"))
  }

  /** Deterministic sampled centroid bootstrap of classic IVF: the
    * vectors with id % centroidEvery == 0, first `maxCentroids` by id
    * — chosen so the whole operator is oracle-checkable, like q26's
    * neutral hyperplanes. The collect is bounded by `maxCentroids`
    * (small constant), never corpus-sized.
    */
  def sampleCentroids(
      embeddings: DataFrame, idCol: String, vecCol: String,
      centroidEvery: Long, maxCentroids: Int): Seq[Seq[Double]] =
    embeddings
      .filter(col(idCol) % centroidEvery === 0)
      .orderBy(col(idCol)).limit(maxCentroids)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq

  /** argmax-raw-dot cell assignment over a literal centroid matrix — a
    * per-row HOF, zero shuffle; raw dot, not cosine, so no
    * sqrt/division enters the cross-engine argmax. Ties assign to the
    * lowest cell index. dots are projected FIRST (argmax references
    * the array twice, and a computed subtree re-evaluates per
    * reference under interpreted HOFs).
    */
  private def withCellOf(
      df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame = {
    val mat = typedlit(cents)
    df.select(col(idCol), col(vecCol),
      transform(mat, c =>
        call_function("vec_dot", col(vecCol), c)).as("dots"))
      .select(col(idCol), col(vecCol),
        (array_position(col("dots"), array_max(col("dots"))) - 1)
          .cast("int").as("cell"))
  }

  /** Lloyd refinement of a centroid SET (assignment and probing are
    * unchanged — the classic k-means fix for the sampled bootstrap's
    * missing balance guarantee: a skewed corpus puts most vectors in
    * few sampled cells and nprobe recall collapses). Each iteration is
    * ONE DataFrame pass: assign by argmax raw dot, groupBy cell, one
    * codegen'd sum per dimension, collect ≤ |centroids| rows, average
    * driver-side. Empty cells keep their previous centroid. NOTE:
    * double summation order across partitions is nondeterministic, so
    * refined centroids vary in ulps across runs — refinement is an
    * engine-side option (refineIters = 0 stays the oracle path).
    */
  def refineCentroids(
      embeddings: DataFrame, idCol: String, vecCol: String,
      init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    var cents = init
    val dims = init.headOption.map(_.length).getOrElse(0)
    (0 until iters).foreach { _ =>
      val assigned = withCellOf(embeddings, idCol, vecCol, cents)
      val sums = (0 until dims).map(j =>
        sum(element_at(col(vecCol), j + 1).cast("double")).as(s"s$j"))
      val rows = assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .map(r => r.getInt(0) -> r).toMap
      cents = cents.zipWithIndex.map { case (c, i) =>
        rows.get(i) match {
          case Some(r) if r.getLong(1) > 0 =>
            val n = r.getLong(1).toDouble
            (0 until dims).map(j => r.getDouble(j + 2) / n)
          case _ => c
        }
      }
    }
    cents
  }

  /** Build the materialized IVF index: assignment computed ONCE over
    * the corpus, written `partitionBy("cell")` so queries
    * partition-prune to their probed cells — the compute-once /
    * probe-many split (the reference's Redis OCR cache,
    * app/utils/ocr_engine.py:123-135, is the same split at document
    * grain). `sortWithinPartitions(cell)` keeps one open writer per
    * task; within a cell file ids arrive in scan order, so id-lookup
    * row-group stats stay tight. The centroid matrix is persisted next
    * to the cells; reload with [[ivfLoad]]. `refineIters > 0` runs
    * [[refineCentroids]] first.
    *
    * Balance is observable, not silent: [[ivfCellStats]] reports
    * per-cell populations (the no-silent-caps convention, parity with
    * [[DedupOps.minhashOversizedBuckets]]).
    */
  def ivfBuild(
      embeddings: DataFrame, idCol: String, vecCol: String,
      indexDir: String, centroidEvery: Long = 64,
      maxCentroids: Int = 64, refineIters: Int = 0,
      quantize: Boolean = false): IvfIndex = {
    val sampled = sampleCentroids(embeddings, idCol, vecCol,
      centroidEvery, maxCentroids)
    require(sampled.nonEmpty, "no centroids sampled — lower centroidEvery")
    val cents =
      if (refineIters > 0)
        refineCentroids(embeddings, idCol, vecCol, sampled, refineIters)
      else sampled
    val s0 = TableLog.snapshot(indexDir)
    val gen = if (s0.version < 0) 0 else genOf(s0) + 1
    val idx0 = IvfIndex(indexDir, idCol, vecCol, cents, gen = gen,
      quantized = quantize)
    assignCells(embeddings, idx0)
      .sortWithinPartitions(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(idx0.cellsPath)
    val centroidsFile = if (gen == 0) "centroids.json" else s"centroids-gen$gen.json"
    Files.writeString(Paths.get(indexDir, centroidsFile),
      TableLog.toJson(CentroidFile(idCol, vecCol, quantize, cents)))
    // one checkpoint replaces the whole index: the previous base,
    // deltas and centroids are removed (vacuum deletes them once no
    // reader needs them); the last streaming epoch carries over as the
    // replay backstop. Rebuilds are single-writer.
    TableLog.commit(indexDir)(s => Some(TableLog.Record(
      Seq(TableLog.Entry(rel(idx0.cellsPath, indexDir)), TableLog.Entry(centroidsFile)),
      s.paths, s.info ++ Map("gen" -> gen.toString, "centroids" -> centroidsFile),
      checkpoint = true)))
    idx0
  }

  /** Persisted centroid matrix (java.lang.Double.toString rendering: the
    * shortest exact round trip, so parsing yields the identical bits).
    */
  private final case class CentroidFile(
      idCol: String, vecCol: String, sq8: Boolean, centroids: Seq[Seq[Double]])

  private def genOf(s: TableLog.Snapshot): Int = s.info("gen").toInt

  private def rel(path: String, root: String): String = path.stripPrefix(s"$root/")

  /** Incrementally add vectors to a materialized index — the classic
    * IVF insert: the centroid matrix is FROZEN (assignment stays the
    * exact argmax the build used, so append-then-query ≡
    * rebuild-over-the-union bit for bit), new vectors are assigned in
    * one pass and appended into their cell partitions. Queries see
    * the new vectors with zero rebuild and zero touch of existing
    * rows — the arriving-corpus counterpart of build-once/query-many.
    * Cost: one scan of ONLY the new batch + one partitioned append;
    * the existing 10^12-row table is never read or rewritten.
    *
    * Durability: the batch is written as a COMMITTED DELTA — the
    * layout [[graft.pipeline.StreamingIndex]] uses for streaming epochs
    * (a cell-partitioned delta dir plus one log commit). Its token is
    * the version it expects to commit, claimed put-if-absent
    * ([[TableLog.claim]]), so a concurrent appender or a crashed
    * attempt's leftover takes the next number instead of sharing the
    * dir. A crash before the commit leaves a delta dir no reader
    * ([[ivfLoad]]) ever sees. Appends commute with each other and with
    * compaction (a lost version race just retries); an append that
    * finds the index rebuilt under it fails, as its cells follow the
    * old centroids. [[graft.pipeline.StreamingIndex.compact]] folds
    * batch deltas and streaming deltas alike. Drift note: appends skew
    * cell balance over time; watch [[ivfCellStats]] and rebuild with
    * `refineIters > 0` when a cell runs hot.
    */
  def ivfAppend(index: IvfIndex, newVectors: DataFrame): IvfIndex = {
    val s0 = TableLog.snapshot(index.root)
    val token = TableLog.claim(index.root, "delta/append-", s0.version + 1)
    val path = s"${index.root}/$token"
    assignCells(newVectors, index)
      .sortWithinPartitions(col("cell"))
      .write.mode("append").partitionBy("cell")
      .parquet(path)
    TableLog.commit(index.root) { s =>
      require(s.info.get("centroids") == s0.info.get("centroids"),
        s"index ${index.root} was rebuilt during the append; append again")
      Some(TableLog.Record(Seq(TableLog.Entry(token))))
    }
    index.copy(deltas = index.deltas :+ path)
  }

  /** Reload an index handle written by [[ivfBuild]] (fresh session /
    * query-only deployment — nothing is recomputed): the base, the
    * committed deltas and the centroids of the current log snapshot.
    * A delta written but never committed (crash) stays invisible.
    */
  def ivfLoad(indexDir: String): IvfIndex =
    indexAt(indexDir, TableLog.snapshot(indexDir))

  /** The index as of snapshot `s`. */
  private[graft] def indexAt(root: String, s: TableLog.Snapshot): IvfIndex = {
    require(s.version >= 0, s"no committed IVF index at $root")
    val c = TableLog.fromJson[CentroidFile](
      Files.readString(Paths.get(root, s.info("centroids"))))
    IvfIndex(root, c.idCol, c.vecCol, c.centroids,
      s.paths.filter(_.startsWith("delta/")).map(p => s"$root/$p"), genOf(s),
      quantized = c.sq8)
  }

  def ivfDeltaPath(indexDir: String, epoch: Long): String =
    ivfDeltaPathToken(indexDir, s"epoch-$epoch")

  def ivfDeltaPathToken(indexDir: String, token: String): String =
    s"$indexDir/delta/$token"

  /** Per-cell populations of a built index — the balance report a
    * deployment checks before trusting nprobe recall (one hot cell =
    * the degenerate-bucket problem; fix with `refineIters`).
    */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
      index: IvfIndex): DataFrame =
    readCells(spark, index)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))

  /** Measure the index's recall@k-vs-nprobe curve on a query sample —
    * in ONE corpus pass, for EVERY nprobe at once. The analytic trick:
    * [[ivfQueryBatch]] re-ranks visible candidates by exact cosine
    * with the same (desc cos, asc id) order the exact top-k uses, so
    * an exact-top-k member that is VISIBLE at nprobe n is necessarily
    * IN the served top-k at nprobe n (any row beating it would itself
    * be an exact-top-k member). Visibility of a row is determined by
    * one number: the probe-rank of its cell in the query's
    * descending-raw-dot centroid order. So the whole curve falls out
    * of the exact top-k (one brute-force pass over the index rows,
    * Q-sample × corpus scored) joined to the per-query cell ranking
    * ([[probeRanking]] — the serving paths' own probe order, kept in
    * full instead of cut at nprobe):
    * `hits(n) = Σ_q |{exact top-k of q} with cell-rank ≤ n|`,
    * `recall@k(nprobe=n) = hits(n) / (Q·k)`.
    *
    * Returns the CUMULATIVE hit counts (`hits(1)..hits(C)`) plus Q —
    * integers, so downstream threshold decisions
    * ([[ivfNprobeForRecall]]) are exact and cross-engine stable (the
    * `thresholdX1M` convention). Collects are bounded by C (the
    * per-rank histogram) — never query- or corpus-sized. Cost is the
    * honest price of measuring recall: one scan of the index rows
    * with |sample| scores per row; sample accordingly.
    */
  def ivfRecallHits(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): (Seq[Long], Long) = {
    val nc = index.centroids.length
    val qv = queries.select(col(qidCol).as("query_id"),
      col(qvecCol).as("_qvec"))
    val cellRanks = probeRanking(index, queries, qidCol, qvecCol, None)
      .select(col("query_id"), col("cell"), col("cellrank"))
    // exact top-k per query over the index rows (which carry `cell`)
    val exactTopK = topKPerQuery(
      readCells(spark, index)
        .join(broadcast(qv))
        .select(col("query_id"), col(index.idCol), col("cell"),
          round(cosine(col(index.vecCol), col("_qvec")), 6).as("cos_sim")),
      index.idCol, k)
      .select(col("query_id"), col("cell"))
    val perRank = exactTopK
      .join(cellRanks, Seq("query_id", "cell"))
      .groupBy(col("cellrank")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (1 to nc).scanLeft(0L)((acc, n) =>
      acc + perRank.getOrElse(n, 0L)).tail
    (cum, queries.select(col(qidCol)).distinct().count())
  }

  /** Smallest nprobe whose measured recall meets the target —
    * `hits(n)·10^6 ≥ targetX1M·Q·k`, an ALL-INTEGER comparison (no
    * float threshold can straddle an engine boundary); the full scan
    * (nprobe = C, recall 1 by construction) when no measured point
    * reaches the target.
    */
  def ivfNprobeForRecall(
      hits: Seq[Long], numQueries: Long, k: Int, targetX1M: Long): Int =
    hits.indexWhere(_ * 1000000L >= targetX1M * numQueries * k) match {
      case -1 => hits.length
      case i  => i + 1
    }

  /** Persist a measured curve beside the centroids (`recall.json`,
    * replaced atomically) so a query-only session tunes nprobe without
    * re-measuring. The record carries the index's log version as its
    * state tag; readers treat a mismatch as no-curve, so a curve
    * measured before an append, compaction or rebuild (each a new
    * commit) can never silently tune the changed index.
    */
  def ivfWriteRecall(
      indexDir: String, k: Int, numQueries: Long, hits: Seq[Long],
      sampleTag: String = ""): Unit =
    TableLog.replace(Paths.get(indexDir, "recall.json"), TableLog.toJson(RecallCurve(
      k, numQueries, TableLog.snapshot(indexDir).version.toString, sampleTag, hits)))

  private final case class RecallCurve(
      k: Int, queries: Long, state: String, sample: String, hits: Seq[Long])

  /** Identity tag of a query sample: md5 over the SORTED distinct id
    * set. Persisted beside the curve so a different sample of the same
    * SIZE cannot silently reuse it (advisor, round 7 — the (k, count)
    * check fenced index content but not sample identity). The collect
    * is bounded by the sample size — the caller's own tuning sample,
    * small by design (it already paid a count() here before). Each id
    * enters the digest length-prefixed, so no id set can collide with
    * another by splitting or joining ids (`["1,2"]` vs `["1","2"]`).
    * A NULL id has no identity to hash and is rejected.
    */
  def ivfSampleTag(ids: Seq[String]): String = {
    require(!ids.contains(null), "recall sample holds a NULL query id")
    val md = java.security.MessageDigest.getInstance("MD5")
    ids.sorted.foreach { id =>
      val b = id.getBytes("UTF-8")
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Read a persisted curve: (k, queries, cumulative hits). None when
    * absent, unreadable, OR when the index changed since the
    * measurement (log version mismatch — see [[ivfWriteRecall]]).
    */
  def ivfReadRecall(indexDir: String): Option[(Int, Long, Seq[Long])] =
    ivfReadRecallFull(indexDir).map { case (k, q, h, _) => (k, q, h) }

  /** [[ivfReadRecall]] plus the persisted sample tag. */
  def ivfReadRecallFull(
      indexDir: String): Option[(Int, Long, Seq[Long], String)] = {
    val p = Paths.get(indexDir, "recall.json")
    Option.when(Files.exists(p))(p)
      .flatMap(p => scala.util.Try(
        TableLog.fromJson[RecallCurve](Files.readString(p))).toOption)
      .filter(_.state == TableLog.snapshot(indexDir).version.toString)
      .map(c => (c.k, c.queries, c.hits, c.sample))
  }

  /** Recall-targeted batch serving: measure the curve on `sample`
    * (persisting it beside the index), pick the smallest nprobe
    * meeting `targetX1M` recall@`k`, serve the batch at that nprobe —
    * the full tune-then-serve loop a deployment runs, as one call. A
    * curve already persisted WITH THE SAME k and query count is
    * reused (the query-only fast path). Output adds the chosen
    * `nprobe` as a column so the decision itself is part of the
    * verifiable result.
    */
  def ivfQueryBatchAtRecall(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      sample: DataFrame, queries: DataFrame, qidCol: String,
      qvecCol: String, k: Int, targetX1M: Long): DataFrame = {
    // distinct ids collected ONCE (bounded by the sample size —
    // replaces the former count() action): the count feeds the reuse
    // check, the sorted-id hash fences sample IDENTITY (advisor,
    // round 7 — a different sample of the same size must not silently
    // tune from a stale curve)
    val sampleIds = sample.select(col(qidCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val sampleN = sampleIds.length.toLong
    val sampleTag = ivfSampleTag(sampleIds)
    val (hits, nq) = ivfReadRecallFull(index.root) match {
      case Some((pk, pq, ph, ptag))
          if pk == k && pq == sampleN && ptag == sampleTag => (ph, pq)
      case _ =>
        val (h, n) = ivfRecallHits(spark, index, sample, qidCol, qvecCol, k)
        ivfWriteRecall(index.root, k, n, h, sampleTag)
        (h, n)
    }
    val np = ivfNprobeForRecall(hits, nq, k, targetX1M)
    ivfQueryBatch(spark, index, queries, qidCol, qvecCol, k, np)
      .withColumn("nprobe", lit(np).cast("int"))
  }

  /** The one IVF probe ranking: per query row, cells by descending raw
    * dot against the build's centroid matrix, ties to the lowest cell
    * (array_sort over struct(-d, cell); SQL treats -0.0 and 0.0 as one
    * tie). One row (query_id, _qvec, _qnorm, cell) per probed cell: the
    * first `nprobe`, or with `None` all C plus their 1-based `cellrank`.
    * Dots and norm are projected BEFORE the explode (interpreted-HOF
    * pitfall); columns a caller never reads are pruned from its plan.
    */
  private def probeRanking(
      index: IvfIndex, queries: DataFrame, qidCol: String, qvecCol: String,
      nprobe: Option[Int]): DataFrame = {
    val nc = index.centroids.length
    val dotted = queries
      .select(col(qidCol).as("query_id"), col(qvecCol).as("_qvec"),
        transform(typedlit(index.centroids), c =>
          call_function("vec_dot", col(qvecCol), c)).as("_dots"),
        sqrt(call_function("vec_dot", col(qvecCol), col(qvecCol)))
          .as("_qnorm"))
    val order = array_sort(zip_with(
      col("_dots"), sequence(lit(0), lit(nc - 1)),
      (d, i) => struct((-d).as("nd"), i.as("cell"))))
    def cells(ranked: Column) = transform(ranked, p => p("cell").cast("int"))
    val keep = Seq(col("query_id"), col("_qvec"), col("_qnorm"))
    nprobe match {
      case Some(n) =>
        dotted.select(keep :+ explode(cells(slice(order, 1, n))).as("cell"): _*)
      case None =>
        dotted.select(keep :+ posexplode(cells(order)).as(Seq("pos", "cell")): _*)
          .withColumn("cellrank", (col("pos") + 1).cast("int")).drop("pos")
    }
  }

  /** The index rows of the probed cells: their union is collected
    * (≤ C cells, never query- or corpus-sized) into an `isin` on the
    * partition column, so the scan reads only probed partitions.
    */
  private def probedCells(spark: org.apache.spark.sql.SparkSession,
      index: IvfIndex, probed: DataFrame): DataFrame = {
    val cellSet = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    readCells(spark, index).filter(col("cell").isin(cellSet.map(Int.box): _*))
  }

  /** Top-k per query by (desc cos_sim, asc id) under a window
    * PARTITIONED by query id, never a global sort; `rank <= k` plans a
    * partial WindowGroupLimit, so only k rows per partition move.
    */
  private def topKPerQuery(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col(idCol).asc)
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
  }

  /** A one-row query batch. The id is Range's column: a literal id
    * would fold the window partition and the SQ8 re-rank's join key
    * away, turning that join into a nested-loop one.
    */
  private def oneQuery(
      spark: org.apache.spark.sql.SparkSession, queryVec: Seq[Double]): DataFrame =
    spark.range(0, 1, 1, 1)
      .select(col("id").as("query_id"), typedlit(queryVec).as("_qvec"))

  /** Batch ANN over a materialized index: ONE plan answers MANY
    * queries. Per query row the probe cells come from [[probeRanking]]
    * (top-`nprobe`), the scan prunes to their union
    * ([[probedCells]]), candidates join queries ON cell — each vector
    * lives in exactly one cell, so no per-query dedup is needed — and
    * exact cosine (6-dp rounded, id tie-break) ranks per query
    * ([[topKPerQuery]]). Output: (query_id, idCol, cos_sim, rank).
    *
    * Scale: the query side carries Q×nprobe rows (id, vector, cell) —
    * tiny next to the probed corpus slice, so Spark broadcasts it;
    * past the broadcast threshold the join degrades to a shuffle hash
    * on cell, where AQE's skew split handles hot cells (and
    * [[ivfCellStats]] + `refineIters` exist to keep cells balanced).
    */
  def ivfQueryBatch(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    val probed = probeRanking(index, queries, qidCol, qvecCol, Some(nprobe))
    val scored = probedCells(spark, index, probed).join(probed, Seq("cell"))
      .select(col("query_id"), col(index.idCol),
        round(cosine(col(index.vecCol), col("_qvec")), 6).as("cos_sim"))
    topKPerQuery(scored, index.idCol, k)
  }

  /** Batch quantized serving in ONE plan with NO query-sized collect.
    * Pass 1 joins the pruned code columns to the probe rows ON cell and
    * ranks the asymmetric int8 score ([[graft.exprs.Int8Dot]]; cosine
    * needs no scale, it cancels against the code norm) per query; its
    * scan reads 1 byte per dimension plus one norm instead of the
    * float vector (spec-asserted ReadSchema: `code8`/`cnorm8`, no
    * embedding). The top k·rerank per query form a distributed
    * shortlist; pass 2 joins it back to the pruned cells on id and to
    * the query vectors, re-ranking by exact cosine. Requires
    * `ivfBuild(quantize = true)`; output shape matches [[ivfQueryBatch]].
    */
  def ivfQuerySQBatch(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int, nprobe: Int, rerank: Int = 4): DataFrame = {
    require(index.quantized,
      "ivfQuerySQBatch needs an index built with quantize = true")
    val probed = probeRanking(index, queries, qidCol, qvecCol, Some(nprobe))
    val pruned = probedCells(spark, index, probed)
    val approx = pruned
      .select(col(index.idCol), col("code8"), col("cnorm8"), col("cell"))
      .join(probed, Seq("cell"))
      .select(col("query_id"), col(index.idCol),
        when(col("cnorm8") > 0 && col("_qnorm") > 0,
          call_function("int8_dot", col("code8"), col("_qvec")) /
            (col("_qnorm") * col("cnorm8")))
          .otherwise(lit(0.0)).as("approx_sim"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("approx_sim").desc, col(index.idCol).asc)
    val shortlist = approx
      .withColumn("arank", row_number().over(w1))
      .filter(col("arank") <= k * rerank)
      .select(col("query_id"), col(index.idCol))
    val exact = shortlist
      .join(pruned.select(col(index.idCol), col(index.vecCol)),
        Seq(index.idCol))
      .join(queries.select(col(qidCol).as("query_id"),
        col(qvecCol).as("_qvec2")), Seq("query_id"))
      .select(col("query_id"), col(index.idCol),
        round(cosine(col(index.vecCol), col("_qvec2")), 6).as("cos_sim"))
    topKPerQuery(exact, index.idCol, k)
  }

  /** [[ivfQueryBatch]] for one explicit query vector — a batch of one.
    * Output: (idCol, cos_sim, rank).
    */
  def ivfQuery(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queryVec: Seq[Double], k: Int, nprobe: Int): DataFrame =
    ivfQueryBatch(spark, index, oneQuery(spark, queryVec),
      "query_id", "_qvec", k, nprobe).drop("query_id")

  /** [[ivfQuerySQBatch]] for one explicit query vector — a batch of
    * one; `rerank` covering every probed candidate makes it
    * bit-identical to [[ivfQuery]]. Output shape matches [[ivfQuery]].
    */
  def ivfQuerySQ(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queryVec: Seq[Double], k: Int, nprobe: Int,
      rerank: Int = 4): DataFrame = {
    require(index.quantized,
      "ivfQuerySQ needs an index built with quantize = true")
    require(queryVec.map(x => x * x).sum > 0, "zero query vector")
    ivfQuerySQBatch(spark, index, oneQuery(spark, queryVec),
      "query_id", "_qvec", k, nprobe, rerank).drop("query_id")
  }

  /** [[ivfQuery]] with the query vector fetched by id from the index
    * itself: the id-filtered index rows are the query batch — a
    * pushed-filter, column-pruned lookup (row-group stats prune on id;
    * a production deployment would front this with a key-value
    * lookup). Ids are unique in an index; an absent id yields no rows.
    */
  def ivfQueryById(
      spark: org.apache.spark.sql.SparkSession, index: IvfIndex,
      queryId: Long, k: Int, nprobe: Int): DataFrame =
    ivfQueryBatch(spark, index,
      readCells(spark, index).filter(col(index.idCol) === queryId),
      index.idCol, index.vecCol, k, nprobe).drop("query_id")

  /** Recursive delete of an index dir (the registered queries' cache). */
  private[graft] def deleteRecursively(dir: String): Unit =
    TableLog.deleteRecursively(Paths.get(dir))

  /** Batch embedding near-dup pairs, LSH-bucketed — the scale shape
    * for corpus-wide near-dup removal. Candidate pairs collide on the
    * hyperplane bucket (exact or 1-bit-flip probe: hamming ≤ 1), then
    * exact cosine verifies ≥ `threshold`. Shuffle discipline mirrors
    * [[DedupOps.minhashLshPairs]]: only (id, signature) rides the
    * candidate join; vectors are re-joined once, per DISTINCT pair,
    * for verification. Never all-pairs — the round-2 q27
    * BroadcastNestedLoopJoin baseline is retired (O(n²) cosine at
    * 100×); recall is governed by (bits, probe radius), identically in
    * the DuckDB oracle.
    */
  def embeddingNearDupPairs(
      embeddings: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8, dims: Int = 64, threshold: Double = 0.9,
      neutral: Boolean = false, maxBucket: Int = 1000): DataFrame = {
    val allSigs = embeddings.select(col(idCol).as("id"),
      hyperplaneSignature(col(vecCol), bits, dims, neutral).as("sig"))
    // Degenerate-bucket guard (round 4, mirrors
    // DedupOps.minhashLshPairs): a home bucket with B members yields
    // O(B²) candidate pairs inside one join key — the skew bomb AQE
    // can split but not bound. Vectors whose HOME bucket exceeds
    // `maxBucket` are excluded from BOTH join sides (their members are
    // exact-dup-pass work — identical embeddings hash identically);
    // the count filter runs BEFORE any collect, so a bomb bucket's ids
    // are never materialized. Report victims: [[oversizedSigBuckets]].
    val smallSigs = allSigs.groupBy(col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("sig"))
    // Bucket-level candidate generation (round 4): collapse to ONE ROW
    // PER DISTINCT SIGNATURE carrying its (guard-bounded) id set, then
    //  - hamming-0 pairs in place within each bucket;
    //  - hamming-1 pairs via a join of each bucket against its 1-bit
    //    flips — a join over DISTINCT signatures, not over rows. The
    //    round-3 shape shuffled (1+bits)×n probe ROWS through the
    //    self-join; this shuffles one row per occupied bucket.
    val buckets = allSigs.join(smallSigs, Seq("sig"))
      .groupBy(col("sig"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
    // round 5: both pair generators are ROW-BOUNDED (sub-bucket
    // splitting, DedupOps.boundedSelf/CrossPairs) — a pair of
    // cap-sized buckets would otherwise cross up to maxBucket²
    // structs in one row
    val within = DedupOps.boundedSelfPairs(
      buckets.filter(size(col("ids")) >= 2), "ids")
    // sig < nsig keeps each unordered bucket pair exactly once (the
    // 1-bit-flip relation is symmetric)
    val flips = buckets
      .select(col("sig"), col("ids").as("ids_a"),
        explode(transform(sequence(lit(0), lit(bits - 1)),
          i => col("sig").bitwiseXOR(
            call_function("shiftleft", lit(1L), i)))).as("nsig"))
      .filter(col("sig") < col("nsig"))
    val cross = DedupOps.boundedCrossPairs(
      flips.join(
        buckets.select(col("sig").as("nsig"), col("ids").as("ids_b")),
        Seq("nsig")),
      "ids_a", "ids_b")
    val pairs = within.unionByName(cross).distinct()
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("vec"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("vec_a"), col("vec_b")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** The signature buckets [[embeddingNearDupPairs]] DROPPED under its
    * `maxBucket` guard — (sig, bucket_n) per oversized home bucket.
    * The no-silent-caps report for pipelines applying the guard.
    */
  def oversizedSigBuckets(
      embeddings: DataFrame, idCol: String, vecCol: String,
      bits: Int = 8, dims: Int = 64, neutral: Boolean = false,
      maxBucket: Int = 1000): DataFrame =
    embeddings
      .select(hyperplaneSignature(col(vecCol), bits, dims, neutral).as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > maxBucket)
}
