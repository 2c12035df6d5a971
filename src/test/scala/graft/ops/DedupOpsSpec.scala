package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Planted-dup recall for the ENGINE-DEFAULT (xxhash64 / splitmix)
  * dedup + ANN paths. The driver oracle only exercises the
  * `neutral = true` twins (md5-derived hashes, DuckDB-reproducible);
  * these tests pin the production-path behaviour the oracle cannot
  * see: near-duplicates planted in a synthetic corpus must be
  * recalled by MinHash+LSH banding, separate cleanly under SimHash
  * hamming distance, and surface in LSH-ANN top-k.
  */
class DedupOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // deterministic corpus: 40 docs x 60 tokens from a 1000-word vocab;
  // docs 0-4 get a planted near-dup (id + 1000) with the last TWO
  // tokens replaced — shingle Jaccard ~0.93, char-3-gram ~0.95
  private val rng = new scala.util.Random(42)
  private val baseDocs: Seq[(Long, String)] = (0 until 40).map { i =>
    (i.toLong, Seq.fill(60)(s"w${rng.nextInt(1000)}").mkString(" "))
  }
  private val nearDups: Seq[(Long, String)] = baseDocs.take(5).map {
    case (id, text) =>
      val toks = text.split(" ")
      (id + 1000L,
        (toks.dropRight(2) ++ Seq(s"x${id}a", s"x${id}b")).mkString(" "))
  }
  private lazy val corpus =
    (baseDocs ++ nearDups).toDF("doc_id", "text")

  /** (vec_id, cos_sim, rank) per query id of a batch ANN result, each
    * sorted by rank.
    */
  private def perQuery(
      df: org.apache.spark.sql.DataFrame): Map[Long, Seq[(Long, Double, Int)]] =
    df.select(col("query_id").cast("long"), col("vec_id"), col("cos_sim"),
      col("rank")).as[(Long, Long, Double, Int)].collect().groupBy(_._1)
      .view.mapValues(_.map(r => (r._2, r._3, r._4)).sortBy(_._3).toSeq).toMap

  private def vecOf(base: Seq[(Long, Array[Float])], id: Long): Seq[Double] =
    base.find(_._1 == id).get._2.map(_.toDouble).toSeq

  test("minhashLshPairs (default xxhash64 path) recalls exactly the planted near-dups") {
    val pairs = DedupOps
      .minhashLshPairs(corpus, "doc_id", "text",
        k = 32, bands = 8, thresholdX1M = 800000L)
      .select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val planted = (0 until 5).map(i => (i.toLong, i + 1000L)).toSet
    assert(pairs == planted,
      s"expected exactly the planted pairs $planted, got $pairs")
  }

  test("simhash64 (default path) separates near-dups from unrelated docs by hamming") {
    val sigs = corpus
      .select(col("doc_id"), DedupOps.simhash64(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int =
      java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    (0 until 5).foreach { i =>
      assert(ham(i, i + 1000L) <= 16,
        s"planted pair $i hamming ${ham(i, i + 1000L)} too high")
    }
    // unrelated docs sit near the 32-bit expectation for 64-bit sigs
    val unrelated = for (a <- 0 until 5; b <- 10 until 15)
      yield ham(a.toLong, b.toLong)
    assert(unrelated.min >= 18,
      s"unrelated pairs too close: min hamming ${unrelated.min}")
  }

  test("degenerate-bucket guard bounds the pair blowup and reports its victims") {
    // a boilerplate bomb: 500 identical documents — every band maps
    // them to ONE bucket, so unguarded candidate generation emits
    // 500*499/2 ≈ 125k pairs inside a single join key. With the guard
    // they are excluded (exact-dup work, not LSH work) while the
    // planted near-dups elsewhere still pair; the dropped buckets are
    // REPORTED, not silently swallowed.
    val bombText = Seq.fill(60)("boilerplate cookie banner terms").mkString(" ")
    val bomb = (0 until 500).map(i => (5000L + i, bombText))
    val mixed = (baseDocs ++ nearDups ++ bomb).toDF("doc_id", "text")
    val pairs = DedupOps
      .minhashLshPairs(mixed, "doc_id", "text",
        k = 32, bands = 8, thresholdX1M = 800000L, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0 until 5).map(i => (i.toLong, i + 1000L)).toSet
    assert(pairs == planted,
      s"guarded pairs must be exactly the planted near-dups, got ${pairs.size}")
    val dropped = DedupOps
      .minhashOversizedBuckets(mixed, "doc_id", "text",
        k = 32, bands = 8, maxBucket = 100)
      .select("band", "bucket_n").as[(Int, Long)].collect()
    // the bomb bucket surfaces in every band, with its full population
    assert(dropped.length == 8, dropped.mkString(", "))
    assert(dropped.forall(_._2 == 500L), dropped.mkString(", "))
  }

  test("embedding near-dup guard excludes an identical-vector bomb from both join sides") {
    val vrng = new scala.util.Random(11)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 40).map(i => (i.toLong, randVec()))
    // planted near-identical pair
    val v0 = base.head._2.clone(); v0(0) = v0(0) + 1e-4f
    // the bomb: 300 identical vectors -> one home bucket
    val bombVec = randVec()
    val bomb = (0 until 300).map(i => (5000L + i, bombVec))
    val emb = (base ++ Seq((999L, v0)) ++ bomb).toDF("vec_id", "embedding")
    val pairs = SimilarityOps
      .embeddingNearDupPairs(emb, "vec_id", "embedding",
        bits = 8, dims = 16, threshold = 0.999, maxBucket = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 999L)),
      s"expected only the planted pair, got ${pairs.size} pairs")
    val dropped = SimilarityOps
      .oversizedSigBuckets(emb, "vec_id", "embedding",
        bits = 8, dims = 16, maxBucket = 100)
      .select("bucket_n").as[Long].collect()
    // exactly one oversized home bucket: the 300 bomb vectors plus any
    // random vectors that happen to share the 8-bit bucket
    assert(dropped.length == 1 && dropped.head >= 300L, dropped.mkString(", "))
  }

  test("connectedComponents matches a driver-side union-find on a random graph") {
    // seeded random graph: 300 vertices, 260 edges — a mix of chains,
    // small cliques and singleton-free components with diameter > 2
    val grng = new scala.util.Random(99)
    val edges = (0 until 260).map { _ =>
      val a = grng.nextInt(300); val b = grng.nextInt(300)
      (a.toLong, b.toLong)
    }.filter(e => e._1 != e._2)
    // reference: plain union-find
    val parent = Array.tabulate(300)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val vertices = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = vertices.map { v =>
      // canonical label: the minimum vertex id in the component
      val root = find(v.toInt)
      val minInComp = vertices.filter(u => find(u.toInt) == root).min
      v -> minInComp
    }.toMap
    val got = DedupOps
      .connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("connectedComponents converges in O(log n) rounds on a 1000-vertex chain") {
    // pure neighbour propagation needs 1000 rounds on a path graph and
    // would blow the 25-round budget; pointer jumping halves label
    // paths every round (~log2(1000) ≈ 10 rounds)
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(got.length == 1000)
    assert(got.forall(_._2 == 0L), got.filter(_._2 != 0L).take(5).mkString(", "))
  }

  test("connectedComponents with a RELIABLE checkpoint dir: same labels, blocks on disk") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(chain, "id_a", "id_b",
        checkpointDir = Some(dir))
      .as[(Long, Long)].collect()
    assert(got.length == 201 && got.forall(_._2 == 0L))
    // reliable checkpoint actually wrote RDD blocks to the shared dir
    // (the durability the 100-TB path needs; localCheckpoint would
    // leave this empty)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, s"no checkpoint blocks under $dir")
  }

  test("connectedComponents runs ONE action per round (convergence folded into the checkpoint write)") {
    // round-5 verdict task: the changed-count must ride the labels-N
    // materialization as an observe metric, not a second count() scan —
    // O(log n) driver actions total, one per round plus the two setup
    // saves (edges, labels-0). Counted via QueryExecutionListener: every
    // driver action (write, count, checkpoint) fires exactly one
    // onSuccess; the reliable-checkpoint mode also exposes the round
    // count as the surviving labels-N table's N.
    val dir = java.nio.file.Files.createTempDirectory("cc_actions").toString
    val chain = (0L until 300L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val got =
      try {
        val labels = DedupOps.connectedComponents(chain, "id_a", "id_b",
          checkpointDir = Some(dir)).as[(Long, Long)].collect()
        // the execution listener fires async — drain until stable
        var prev = -1
        while (actions.get != prev) { prev = actions.get; Thread.sleep(400) }
        labels
      } finally spark.listenerManager.unregister(listener)
    assert(got.length == 301 && got.forall(_._2 == 0L))
    import scala.jdk.CollectionConverters._
    val names = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    }
    val rounds = names
      .collectFirst { case s if s.matches("labels-\\d+") => s.drop(7).toInt }
      .getOrElse(fail(s"no labels-N table under $dir: $names"))
    assert(rounds >= 2, s"chain of 300 must take multiple rounds, got $rounds")
    // exactly: edges save + labels-0 save + one action per round + the
    // test's own collect. One extra per round = the old count() regressed.
    assert(actions.get == 3 + rounds,
      s"expected ${3 + rounds} actions (2 setup + $rounds rounds + 1 collect), got ${actions.get}")
  }

  test("minhash pairs cluster into groups with one keeper per component") {
    // chain near-dups so transitivity matters: doc 0 ~ 1000 ~ 2000
    // (1000 and 2000 are near-dups of 0 through different token
    // replacements — LSH pairs (0,1000),(0,2000),(1000,2000) or a
    // subset; the cluster must still be one group labeled 0)
    val toks = baseDocs.head._2.split(" ")
    val variants = Seq(
      (2000L, (toks.dropRight(2) ++ Seq("y0a", "y0b")).mkString(" ")))
    val corpus3 = (baseDocs ++ nearDups ++ variants).toDF("doc_id", "text")
    val pairs = DedupOps.minhashLshPairs(corpus3, "doc_id", "text",
      k = 32, bands = 8, thresholdX1M = 800000L)
    val clusters = DedupOps.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    // 0, its near-dup 1000, and variant 2000 all label to keeper 0
    assert(clusters(1000L) == 0L)
    assert(clusters(2000L) == 0L)
    assert(clusters(0L) == 0L)
    // the other planted pairs each form their own 2-groups
    (1 until 5).foreach(i => assert(clusters(i + 1000L) == i.toLong))
  }

  test("pairsWithin emits exactly the i<j pairs of any sorted array (property)") {
    val prng = new scala.util.Random(5)
    (0 until 20).foreach { _ =>
      val n = prng.nextInt(8)
      val ids = Seq.fill(n)(prng.nextInt(1000).toLong).distinct.sorted
      val got = Seq(Tuple1(ids)).toDF("ids")
        .select(explode(DedupOps.pairsWithin(col("ids"))).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .as[(Long, Long)].collect().toSet
      val expected = (for {
        i <- ids.indices; j <- (i + 1) until ids.length
      } yield (ids(i), ids(j))).toSet
      assert(got == expected, s"ids=$ids")
    }
  }

  test("boundedSelfPairs: cap-sized bucket → identical pair set, every row under subSize²") {
    val n = 300; val sub = 16
    val ids = (0 until n).map(i => f"id$i%04d") // already sorted
    val df = Seq(Tuple1(ids)).toDF("ids")
    // row-size envelope: no pre-explode row holds more than sub² structs
    // (the round-4 single-row form held n(n-1)/2 ≈ 45k for this bucket)
    val maxRow = DedupOps.boundedSelfPairSlices(df, "ids", sub)
      .select(max(size(col("pairs")))).as[Int].head()
    assert(maxRow <= sub * sub, s"row envelope violated: $maxRow > ${sub * sub}")
    val got = DedupOps.boundedSelfPairs(df, "ids", sub)
      .as[(String, String)].collect().toSet
    val expected = (for { i <- 0 until n; j <- (i + 1) until n }
      yield (ids(i), ids(j))).toSet
    assert(got == expected)
  }

  test("boundedSelfPairs handles degenerate buckets (0/1/2 ids, non-multiple of subSize)") {
    val cases = Seq(Seq.empty[String], Seq("x"), Seq("x", "y"),
      (0 until 17).map(i => f"z$i%02d"))
    cases.foreach { ids =>
      val got = DedupOps.boundedSelfPairs(
        Seq(Tuple1(ids)).toDF("ids"), "ids", subSize = 4)
        .as[(String, String)].collect().toSet
      val expected = (for { i <- ids.indices; j <- (i + 1) until ids.length }
        yield (ids(i), ids(j))).toSet
      assert(got == expected, s"ids=$ids")
    }
  }

  test("boundedCrossPairs: two cap-sized buckets → full cross, every row under subSize²") {
    val sub = 16
    val as = (0 until 75).map(i => f"p$i%04d")
    val bs = (0 until 90).map(i => f"a$i%04d") // interleaves BELOW as
    val df = Seq((as, bs)).toDF("ids_a", "ids_b")
    val maxRow = DedupOps.boundedCrossPairSlices(df, "ids_a", "ids_b", sub)
      .select(max(size(col("pairs")))).as[Int].head()
    assert(maxRow <= sub * sub, s"row envelope violated: $maxRow")
    val got = DedupOps.boundedCrossPairs(df, "ids_a", "ids_b", sub)
      .as[(String, String)].collect().toSet
    val expected = (for { x <- as; y <- bs }
      yield if (x < y) (x, y) else (y, x)).toSet
    assert(got == expected)
  }

  test("dropNearDups keeps exactly one row per near-dup group") {
    val corpus2 = (baseDocs ++ nearDups).toDF("doc_id", "text")
    val pairs = DedupOps.minhashLshPairs(corpus2, "doc_id", "text",
      k = 32, bands = 8, thresholdX1M = 800000L)
    val kept = DedupOps.dropNearDups(corpus2, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // the five planted dups (1000-1004) drop; their keepers (0-4) and
    // every unpaired doc survive
    assert(kept == (0L until 40L).toSet)
  }

  test("ivfQueryById surfaces a planted near-identical twin from the probed cells") {
    val vrng = new scala.util.Random(17)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 120).map(i => (i.toLong, randVec()))
    val v0 = base.head._2.clone()
    v0(0) = v0(0) + 1e-4f // near-identical to the query vector 0
    val emb = (base :+ (999L, v0)).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_twin").toString
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8)
    val top = SimilarityOps
      .ivfQueryById(spark, index, queryId = 0L, k = 3, nprobe = 3)
      .select("vec_id", "cos_sim", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    // the query itself ranks first at similarity 1.0 (its own cell is
    // always the best probe), and the planted twin lands in the SAME
    // cell (near-identical dots → same argmax), so IVF must find it
    assert(top.head._1 == 0L && top.head._2 == 1.0, top.mkString(", "))
    val planted = top.find(_._1 == 999L)
    assert(planted.isDefined, s"planted 999 not in top-k: ${top.mkString(", ")}")
    assert(planted.get._2 >= 0.9999, planted.get.toString)
  }

  test("ivfBuild/ivfQuery: build-once materialized index; queries read ONLY probed cells") {
    // round-5 verdict task 1: the assignment pass runs ONCE (build);
    // every query is a partition-pruned read of the cell table, its
    // probes ranked against the ≤ C centroids — no corpus rescan.
    val vrng = new scala.util.Random(23)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 200).map(i => (i.toLong, randVec()))
    val v0 = base.head._2.clone()
    v0(0) = v0(0) + 1e-4f
    val root = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    // corpus on DISK so "which files does the query scan" is observable
    (base :+ (999L, v0)).toDF("vec_id", "embedding")
      .write.parquet(s"$root/src")
    val emb = spark.read.parquet(s"$root/src")
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8)
    // every corpus row landed in exactly one cell
    val stats = SimilarityOps.ivfCellStats(spark, index)
      .as[(Int, Long)].collect()
    assert(stats.map(_._2).sum == 201L, stats.mkString(", "))
    assert(stats.forall(s => s._1 >= 0 && s._1 < 8), stats.mkString(", "))
    val q1 = SimilarityOps.ivfQueryById(spark, index, queryId = 0L,
      k = 3, nprobe = 3)
    // the query's ONLY input is the index — the source parquet is not
    // in the plan (build-once/query-many: a second query costs the
    // same pruned read, zero assignment work)
    assert(q1.inputFiles.nonEmpty &&
      q1.inputFiles.forall(_.contains("/index/cells")),
      q1.inputFiles.take(3).mkString(", "))
    val top = q1.select("vec_id", "cos_sim", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(top.head._1 == 0L && top.head._2 == 1.0, top.mkString(", "))
    assert(top.exists(_._1 == 999L), top.mkString(", "))
    // a fresh handle reloaded from disk carries bit-identical centroids
    // and returns the identical result (query-only deployment)
    val re = SimilarityOps.ivfLoad(s"$root/index")
    assert(re.centroids == index.centroids)
    val qv = base.head._2.map(_.toDouble).toSeq
    val top2 = SimilarityOps.ivfQuery(spark, re, qv, k = 3, nprobe = 3)
      .select("vec_id", "cos_sim", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(top2.toSeq == top.toSeq, s"${top2.mkString(",")} vs ${top.mkString(",")}")
  }

  test("ivfAppend: frozen-centroid insert ≡ rebuild over the union, existing cells untouched") {
    // the arriving-corpus path: appending a batch must (1) place each
    // new vector in the exact cell a full rebuild would (centroids
    // frozen → same argmax), (2) never rewrite existing files — since
    // round 7 the batch lands as a COMMITTED DELTA (log-commit-gated,
    // crash-atomic), not a raw base append — and (3) make planted
    // twins immediately visible to queries.
    val vrng = new scala.util.Random(31)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val all = (0 until 200).map(i => (i.toLong, randVec()))
    val (first, rest) = all.splitAt(150)
    val v0 = all.head._2.clone()
    v0(0) = v0(0) + 1e-4f // near-twin of vector 0, arriving late
    val root = java.nio.file.Files.createTempDirectory("ivf_append").toString
    // centroid sample (id % 16 == 0, first 8) is identical over 150
    // and 200 rows, so both indexes share the exact centroid matrix
    val grown = SimilarityOps.ivfBuild(first.toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/grown", centroidEvery = 16,
      maxCentroids = 8)
    val preFiles = new java.io.File(s"$root/grown/cells").listFiles()
      .filter(_.isDirectory)
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified()))
      .toMap
    // crash-sim FIRST (advisor, round 6): a delta dir on disk with no
    // commit — the exact state a crash mid-append leaves — must be
    // invisible to every load and query, and must not poison the
    // subsequent committed append
    Seq((7777L, randVec())).toDF("vec_id", "embedding")
      .withColumn("cell", lit(0))
      .write.partitionBy("cell")
      .parquet(SimilarityOps.ivfDeltaPathToken(s"$root/grown", "append-5"))
    assert(SimilarityOps.ivfLoad(s"$root/grown").deltas.isEmpty)
    val grown2 = SimilarityOps.ivfAppend(grown,
      (rest :+ (999L, v0)).toDF("vec_id", "embedding"))
    // the commit point is the log commit: exactly one committed delta,
    // visible to a fresh reload identically
    assert(grown2.deltas.size == 1, grown2.deltas.toString)
    assert(SimilarityOps.ivfLoad(s"$root/grown").deltas == grown2.deltas)
    val full = SimilarityOps.ivfBuild(
      (all :+ (999L, v0)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$root/full", centroidEvery = 16,
      maxCentroids = 8)
    assert(grown2.centroids == full.centroids)
    // per-cell contents identical to the rebuild (same ids per cell)
    val cellsOf = (idx: SimilarityOps.IvfIndex) =>
      idx.dataPaths.map(spark.read.parquet(_)).reduce(_.unionByName(_))
        .select(col("cell").cast("int"), col("vec_id"))
        .as[(Int, Long)].collect().toSet
    assert(cellsOf(grown2) == cellsOf(full))
    // append touched nothing that existed: every pre-append file
    // survives byte-dated, only NEW files joined the partitions
    preFiles.foreach { case (path, mtime) =>
      val f = new java.io.File(path)
      assert(f.exists() && f.lastModified() == mtime, s"rewrote $path")
    }
    // the late twin is immediately queryable, identically on both
    val q = (idx: SimilarityOps.IvfIndex) =>
      SimilarityOps.ivfQueryById(spark, idx, 0L, k = 3, nprobe = 3)
        .select("vec_id", "cos_sim", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    val got = q(grown2)
    assert(got == q(full), s"$got vs ${q(full)}")
    assert(got.exists(_._1 == 999L), got.mkString(", "))
    // the base ∪ append-delta union still partition-prunes in EVERY
    // root (the q38 serving shape): one PartitionFilters-on-cell line
    // per scan branch
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      SimilarityOps.ivfQueryById(spark, grown2, 0L, k = 3, nprobe = 2)
        .explain("formatted")
    }
    val pfs = out.toString.linesIterator
      .filter(_.contains("PartitionFilters")).toSeq
    assert(pfs.size >= 2 && pfs.forall(_.contains("cell")),
      pfs.mkString("\n"))
  }

  test("ivfQueryBatch: one plan answers many queries, pruned scan, per-query rank") {
    // the batch serving shape: every query's answer must equal the
    // driver-side reference bit for bit (IvfReference: descending-dot
    // probes with cell-index tie-break, exact cosine over the probed
    // cells, 6-dp rounding, id tie-break), the index scan must still
    // read only probed cells, and the final rank must be a window
    // PARTITIONED by query id — never the global sort the suite forbids.
    val vrng = new scala.util.Random(29)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 200).map(i => (i.toLong, randVec()))
    val root = java.nio.file.Files.createTempDirectory("ivf_batch").toString
    val emb = base.toDF("vec_id", "embedding")
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8)
    // 2 queries x nprobe 2 ≤ 4 of the 8 cells — pruning stays visible
    val qids = Seq(0L, 17L)
    val batch = SimilarityOps.ivfQueryBatch(spark, index,
      emb.filter(col("vec_id").isin(qids.map(Long.box): _*)),
      "vec_id", "embedding", k = 4, nprobe = 2)
    // 1) per-query agreement with the driver-side reference, bit for bit
    val got = perQuery(batch)
    assert(got.keySet == qids.toSet, got.keySet.toString)
    val ref = IvfReference.rows(spark, index)
    qids.foreach { q =>
      val want = IvfReference.topK(ref, index.centroids, vecOf(base, q),
        k = 4, nprobe = 2)
      assert(got(q) == want, s"query $q: ${got(q)} vs $want")
    }
    // 2) the corpus never re-enters the plan: every file the plan can
    // touch is the index's cell table (the query frame is in-memory
    // here), and the scan PARTITION-PRUNES — the IN-list on the cell
    // partition column holds at most Q x nprobe of the 8 cells
    // (inputFiles reports the UNPRUNED file index, so the pruning
    // evidence is the PartitionFilters line, as in PlanSpec)
    assert(batch.inputFiles.forall(_.contains("/index/cells")),
      batch.inputFiles.take(3).mkString(", "))
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { batch.explain("formatted") }
    val p = out.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    val inList = "IN \\(([^)]*)\\)".r.findFirstMatchIn(pf)
      .map(_.group(1).split(",").length).getOrElse(-1)
    assert(pf.contains("cell") && inList > 0 && inList <= 4,
      s"scan must prune to <= Q x nprobe = 4 of 8 cells, got: $pf")
    // 3) rank is a query-partitioned window (hash-distributed), and the
    // plan holds no all-pairs join
    assert(p.contains("windowspecdefinition(query_id"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("ivfBuild(refineIters): Lloyd refinement beats sampled centroids on a skewed corpus") {
    // round-5 verdict task 2: the deterministic sampled bootstrap has
    // no balance guarantee — on a skewed clustered-Gaussian corpus
    // where EVERY sampled centroid falls inside the one big cluster,
    // small-cluster members scatter across noise-defined cells and
    // nprobe recall collapses. Lloyd iterations migrate centroids onto
    // the actual clusters. Scenario pinned from a seeded sweep (seeds
    // 1-3 × noise 0.4/0.8: refined mean recall 1.00 everywhere,
    // sampled 0.74-0.97); the sampled path is fully deterministic, the
    // refined path varies by summation-order ulps only — margins are
    // wide on both sides.
    val rng = new scala.util.Random(1)
    val dims = 16
    val means = Array.fill(8)(
      Array.fill(dims)((rng.nextDouble() * 2 - 1) * 3.0))
    def mk(cluster: Int, id: Long) = (id,
      means(cluster).map(m => (m + rng.nextGaussian() * 0.8).toFloat))
    // cluster 0: ids 0..399 — every sampled id (id % 50 == 0, first 8)
    // is inside it; clusters 1..7: 40 ids each from 400
    val all = (0 until 400).map(i => mk(0, i.toLong)) ++
      (0 until 7).flatMap(c =>
        (0 until 40).map(i => mk(c + 1, 400L + c * 40 + i)))
    val df = all.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_refine").toString
    def meanRecall(refineIters: Int, tag: String): Double = {
      val idx = SimilarityOps.ivfBuild(df, "vec_id", "embedding",
        s"$root/$tag", centroidEvery = 50, maxCentroids = 8,
        refineIters = refineIters)
      val recalls = (0 until 7).map { c =>
        val qid = 400L + c * 40
        val truth = SimilarityOps.bruteForceTopK(df, "vec_id", "embedding",
          qid, 10).select("vec_id").as[Long].collect().toSet
        val got = SimilarityOps.ivfQueryById(spark, idx, qid, 10, nprobe = 2)
          .select("vec_id").as[Long].collect().toSet
        truth.intersect(got).size.toDouble / 10
      }
      recalls.sum / recalls.length
    }
    val sampledRecall = meanRecall(0, "sampled")
    val refinedRecall = meanRecall(5, "refined")
    assert(sampledRecall < 0.85,
      f"scenario lost its skew: sampled recall $sampledRecall%.2f")
    assert(refinedRecall >= 0.9 && refinedRecall > sampledRecall + 0.1,
      f"refined $refinedRecall%.2f must beat sampled $sampledRecall%.2f")
  }

  test("ivfRecallHits: analytic curve ≡ direct measurement; tuned serving follows the persisted curve") {
    // the measured operating curve (round 7): hits(n) counts exact
    // top-k members whose cell has probe-rank ≤ n — the claim is that
    // this ONE-PASS analytic curve equals the direct measurement
    // (served top-k ∩ brute-force top-k) at EVERY nprobe, because a
    // visible exact-top-k member always makes the served top-k (both
    // rank by the same exact cosine + id tie-break).
    val vrng = new scala.util.Random(31)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 240).map(i => (i.toLong, randVec()))
    val root = java.nio.file.Files.createTempDirectory("ivf_recall").toString
    val emb = base.toDF("vec_id", "embedding")
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8)
    val sample = emb.filter(col("vec_id") % 40 === 0) // 6 queries
    val k = 5
    val (hits, nq) = SimilarityOps.ivfRecallHits(
      spark, index, sample, "vec_id", "embedding", k)
    assert(nq == 6L && hits.length == 8, s"$nq ${hits.length}")
    // cumulative-monotone; the full scan (nprobe = C) finds everything
    assert(hits == hits.sorted, hits.toString)
    assert(hits.last == nq * k, hits.toString)
    // analytic ≡ direct at every nprobe
    val qids = sample.select(col("vec_id")).as[Long].collect().sorted
    val truth = qids.map(q => q -> SimilarityOps
      .bruteForceTopK(emb, "vec_id", "embedding", q, k)
      .select("vec_id").as[Long].collect().toSet).toMap
    (1 to 8).foreach { np =>
      val served = SimilarityOps.ivfQueryBatch(spark, index, sample,
        "vec_id", "embedding", k, np)
        .select(col("query_id").cast("long"), col("vec_id"))
        .as[(Long, Long)].collect().groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val direct = qids.map(q =>
        truth(q).intersect(served.getOrElse(q, Set.empty)).size.toLong).sum
      assert(direct == hits(np - 1),
        s"nprobe $np: direct $direct vs analytic ${hits(np - 1)}")
    }
    // integer threshold selection: exact boundaries, fallback = C
    assert(SimilarityOps.ivfNprobeForRecall(Seq(5L, 8L, 10L), 1L, 10, 800000L) == 2)
    assert(SimilarityOps.ivfNprobeForRecall(Seq(5L, 8L, 10L), 1L, 10, 800001L) == 3)
    assert(SimilarityOps.ivfNprobeForRecall(Seq(5L, 8L, 9L), 1L, 10, 999999L) == 3)
    // tuned serving: measures, persists, serves at the chosen nprobe —
    // result ≡ plain ivfQueryBatch at that nprobe plus the nprobe col
    val queries = emb.filter(col("vec_id") % 120 === 0)
    val target = 600000L
    val tuned = SimilarityOps.ivfQueryBatchAtRecall(spark, index,
      sample, queries, "vec_id", "embedding", k, target)
    val npChosen = SimilarityOps.ivfNprobeForRecall(hits, nq, k, target)
    assert(tuned.select(col("nprobe")).distinct().as[Int].collect()
      .toSeq == Seq(npChosen))
    assert(SimilarityOps.ivfReadRecall(s"$root/index")
      .contains((k, nq, hits)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"), col("vec_id"),
        col("cos_sim"), col("rank")).as[(Long, Long, Double, Int)]
        .collect().toSet
    assert(rows(tuned) == rows(SimilarityOps.ivfQueryBatch(
      spark, index, queries, "vec_id", "embedding", k, npChosen)))
    // the query-only fast path REUSES a persisted curve with matching
    // (k, Q, sample identity) instead of re-measuring: plant a fake
    // curve under the REAL sample's tag that already meets any target
    // at nprobe 1 — the next call must follow it
    val sampleTag = SimilarityOps.ivfSampleTag(
      sample.select(col("vec_id").cast("string")).as[String].collect().toSeq)
    SimilarityOps.ivfWriteRecall(s"$root/index", k, nq,
      Seq.fill(8)(nq * k), sampleTag)
    val tuned2 = SimilarityOps.ivfQueryBatchAtRecall(spark, index,
      sample, queries, "vec_id", "embedding", k, target)
    assert(tuned2.select(col("nprobe")).distinct().as[Int].collect()
      .toSeq == Seq(1))
    // sample-IDENTITY fence (round 8): the same fake curve planted
    // under a DIFFERENT sample's tag is NOT reused — the call
    // re-measures and lands back on the honest choice
    SimilarityOps.ivfWriteRecall(s"$root/index", k, nq,
      Seq.fill(8)(nq * k), SimilarityOps.ivfSampleTag(Seq("999")))
    val tunedX = SimilarityOps.ivfQueryBatchAtRecall(spark, index,
      sample, queries, "vec_id", "embedding", k, target)
    assert(tunedX.select(col("nprobe")).distinct().as[Int].collect()
      .toSeq == Seq(npChosen))
    // staleness fence: an append changes the index's content tag, so
    // the persisted (here: fake) curve no longer reads back and the
    // next tuned call RE-MEASURES over the grown index instead of
    // silently tuning on stale numbers
    SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(s"$root/index"),
      Seq((1000L, randVec())).toDF("vec_id", "embedding"))
    assert(SimilarityOps.ivfReadRecall(s"$root/index").isEmpty)
    val grown = SimilarityOps.ivfLoad(s"$root/index")
    val tuned3 = SimilarityOps.ivfQueryBatchAtRecall(spark, grown,
      sample, queries, "vec_id", "embedding", k, target)
    // the re-measured choice matches the analytic curve over the
    // GROWN index, and the fresh measurement is what got persisted
    val (hits3, nq3) = SimilarityOps.ivfRecallHits(
      spark, grown, sample, "vec_id", "embedding", k)
    val np3 = SimilarityOps.ivfNprobeForRecall(hits3, nq3, k, target)
    assert(tuned3.select(col("nprobe")).distinct().as[Int].collect()
      .toSeq == Seq(np3))
    assert(SimilarityOps.ivfReadRecall(s"$root/index")
      .contains((k, nq3, hits3)))
  }

  test("ivfQuerySQ: scoring pass reads codes not vectors; pack roundtrips; re-rank ≡ full precision") {
    val vrng = new scala.util.Random(37)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 200).map(i => (i.toLong, randVec()))
    val v0 = base.head._2.clone(); v0(0) = v0(0) + 1e-4f
    val all = base :+ (999L, v0) // planted near-identical twin of 0
    val emb = all.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_sq8").toString
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8,
      quantize = true)
    assert(index.quantized)
    assert(SimilarityOps.ivfLoad(s"$root/index").quantized)
    // 1) pack invariants on the materialized cells: codes reconstruct
    // within scale/2 per dimension, cnorm is the code norm
    val packed = spark.read.parquet(index.cellsPath)
      .select(col("vec_id"), col("embedding"), col("code8"),
        col("scale8"), col("cnorm8"))
      .as[(Long, Array[Float], Array[Byte], Double, Double)].collect()
    assert(packed.length == 201)
    packed.foreach { case (id, v, code, scale, cnorm) =>
      assert(code.length == v.length, s"$id")
      val sq = code.map(c => c.toDouble * c.toDouble).sum
      assert(math.abs(cnorm - math.sqrt(sq)) < 1e-9, s"$id")
      v.zip(code).foreach { case (x, c) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-12,
          s"$id: $x vs code $c scale $scale") }
    }
    // 2) quantized serving surfaces the planted twin
    val qvd = base.head._2.map(_.toDouble).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cos_sim"), col("rank"))
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
    val top = rows(SimilarityOps.ivfQuerySQ(spark, index, qvd,
      k = 3, nprobe = 3, rerank = 4))
    assert(top.head._1 == 0L && top.head._2 == 1.0, top.mkString(", "))
    assert(top.exists(r => r._1 == 999L && r._2 >= 0.9999),
      top.mkString(", "))
    val ref = IvfReference.rows(spark, index)
    assert(top == IvfReference.topK(ref, index.centroids, qvd, 3, 3,
      rerank = Some(4)))
    // 3) with rerank covering every probed candidate, the SQ path is
    // BIT-IDENTICAL to the full-precision query at the same probes
    // (the approximation only prunes; the re-rank score is exact)
    assert(rows(SimilarityOps.ivfQuerySQ(spark, index, qvd, 3, 3,
      rerank = 100)) ==
      rows(SimilarityOps.ivfQuery(spark, index, qvd, 3, 3)))
    // 4) the bytes claim: in an ivfQuerySQBatch plan the scoring
    // pass's scan reads code8 + cnorm8 and NOT the embedding column
    // (ReadSchema-asserted), and it still partition-prunes on cell
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      SimilarityOps.ivfQuerySQBatch(spark, index,
        emb.filter(col("vec_id") % 50 === 0), "vec_id", "embedding",
        k = 3, nprobe = 2).explain("formatted")
    }
    val scoringScan = out.toString.split("\n\n")
      .find(b => b.contains("Scan parquet") && b.contains("code8"))
      .getOrElse("")
    val readSchema = scoringScan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("code8") && readSchema.contains("cnorm8"),
      scoringScan)
    assert(!readSchema.contains("embedding"), readSchema)
    val pf = scoringScan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("cell") && pf.contains("IN"), pf)
    // 5) interpreted ≡ codegen for the custom expressions
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(rows(SimilarityOps.ivfQuerySQ(spark, index, qvd,
      3, 3, rerank = 4)) == top)
    finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("ivfQuerySQBatch: one plan answers many queries, per-query identical to ivfQuerySQ") {
    // the batch quantized path must reproduce the driver-side reference
    // bit for bit (plan-side query-norm fold ≡ IvfReference.dot, the
    // int8 shortlist, the exact re-rank), and so the single-query form
    // (a batch of one); rank under query-partitioned windows, and hold
    // no all-pairs join
    val vrng = new scala.util.Random(41)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 200).map(i => (i.toLong, randVec()))
    val emb = base.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_sq8b").toString
    val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      s"$root/index", centroidEvery = 16, maxCentroids = 8,
      quantize = true)
    val qids = Seq(0L, 17L)
    val batch = SimilarityOps.ivfQuerySQBatch(spark, index,
      emb.filter(col("vec_id").isin(qids.map(Long.box): _*)),
      "vec_id", "embedding", k = 4, nprobe = 2, rerank = 3)
    val got = perQuery(batch)
    assert(got.keySet == qids.toSet, got.keySet.toString)
    val ref = IvfReference.rows(spark, index)
    qids.foreach { q =>
      val want = IvfReference.topK(ref, index.centroids, vecOf(base, q),
        k = 4, nprobe = 2, rerank = Some(3))
      assert(got(q) == want, s"query $q: ${got(q)} vs $want")
      val single = SimilarityOps.ivfQuerySQ(spark, index, vecOf(base, q),
        k = 4, nprobe = 2, rerank = 3)
        .select(col("vec_id"), col("cos_sim"), col("rank"))
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
      assert(single == want, s"query $q: $single vs $want")
    }
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) { batch.explain("formatted") }
    val p = out.toString
    assert(p.contains("windowspecdefinition(query_id"), p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("IVF serving ≡ driver-side reference at C = 64 and 1024, exact and SQ8") {
    // every serving form — batch and single, exact and SQ8 — runs the
    // one plan-side probe ranking; at a small and a large centroid
    // count it must reproduce the plain-Scala reference bit for bit.
    // SQ8 with rerank = 100 covers every probed candidate, so it must
    // equal the EXACT reference; at rerank = 2 it must equal the
    // reference's own int8 shortlist.
    val vrng = new scala.util.Random(43)
    val base = (0 until 1100).map(i =>
      (i.toLong, Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)))
    val emb = base.toDF("vec_id", "embedding")
    val qids = Seq(3L, 500L, 1099L)
    val queries = emb.filter(col("vec_id").isin(qids.map(Long.box): _*))
    val root = java.nio.file.Files.createTempDirectory("ivf_ref").toString
    Seq((64, 16L, 4), (1024, 1L, 16)).foreach { case (c, every, nprobe) =>
      val index = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
        s"$root/c$c", centroidEvery = every, maxCentroids = c,
        quantize = true)
      assert(index.centroids.length == c)
      val ref = IvfReference.rows(spark, index)
      val k = 5
      def want(q: Long, rerank: Option[Int] = None) =
        IvfReference.topK(ref, index.centroids, vecOf(base, q), k, nprobe,
          rerank)
      qids.foreach { q =>
        val probed = IvfReference.probes(vecOf(base, q), index.centroids,
          nprobe).toSet
        assert(ref.count(r => probed(r.cell)) <= k * 100,
          s"C=$c query $q: rerank = 100 must cover every probed candidate")
      }
      val exact = perQuery(SimilarityOps.ivfQueryBatch(spark, index,
        queries, "vec_id", "embedding", k, nprobe))
      val sqFull = perQuery(SimilarityOps.ivfQuerySQBatch(spark, index,
        queries, "vec_id", "embedding", k, nprobe, rerank = 100))
      val sqShort = perQuery(SimilarityOps.ivfQuerySQBatch(spark, index,
        queries, "vec_id", "embedding", k, nprobe, rerank = 2))
      qids.foreach { q =>
        assert(exact(q) == want(q), s"C=$c exact, query $q")
        assert(sqFull(q) == want(q), s"C=$c SQ8 rerank 100, query $q")
        assert(sqShort(q) == want(q, Some(2)), s"C=$c SQ8 rerank 2, query $q")
      }
      def single(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "cos_sim", "rank").as[(Long, Double, Int)]
          .collect().sortBy(_._3).toSeq
      val q0 = qids.head
      assert(single(SimilarityOps.ivfQuery(spark, index, vecOf(base, q0),
        k, nprobe)) == want(q0), s"C=$c ivfQuery")
      assert(single(SimilarityOps.ivfQuerySQ(spark, index, vecOf(base, q0),
        k, nprobe, rerank = 2)) == want(q0, Some(2)), s"C=$c ivfQuerySQ")
      assert(single(SimilarityOps.ivfQueryById(spark, index, q0, k,
        nprobe)) == want(q0), s"C=$c ivfQueryById")
    }
  }

  test("ivfSampleTag: ids are length-prefixed, so a comma inside an id cannot collide") {
    assert(SimilarityOps.ivfSampleTag(Seq("1,2")) !=
      SimilarityOps.ivfSampleTag(Seq("1", "2")))
    assert(SimilarityOps.ivfSampleTag(Seq("12")) !=
      SimilarityOps.ivfSampleTag(Seq("1", "2")))
    assert(SimilarityOps.ivfSampleTag(Seq("b", "a")) ==
      SimilarityOps.ivfSampleTag(Seq("a", "b")))
  }

  test("ivfQueryBatchAtRecall: a NULL sample id fails with a clear message") {
    val vrng = new scala.util.Random(47)
    val rows = (0 until 40).map(i =>
      (Option(i.toLong).filter(_ != 7L),
        Array.fill(8)((vrng.nextDouble() * 2 - 1).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("ivf_null").toString
    val index = SimilarityOps.ivfBuild(emb.filter(col("vec_id").isNotNull),
      "vec_id", "embedding", s"$root/index", centroidEvery = 8,
      maxCentroids = 4)
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.ivfQueryBatchAtRecall(spark, index, sample = emb,
        queries = emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 3, targetX1M = 500000L)
    }
    assert(e.getMessage.contains("NULL query id"), e.getMessage)
  }

  test("lshTopK (default splitmix hyperplanes) surfaces a planted near-identical vector") {
    val vrng = new scala.util.Random(7)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 60).map(i => (i.toLong, randVec()))
    val v0 = base.head._2.clone()
    v0(0) = v0(0) + 1e-4f // near-identical to vector 0
    val emb = (base :+ (999L, v0)).toDF("vec_id", "embedding")
    val top = SimilarityOps
      .lshTopK(emb, "vec_id", "embedding", queryId = 0L, k = 3,
        bits = 8, dims = 16)
      .select("vec_id", "cos_sim", "rank")
      .as[(Long, Double, Int)].collect().sortBy(_._3)
    assert(top.head._1 == 0L && top.head._2 == 1.0, top.mkString(", "))
    val planted = top.find(_._1 == 999L)
    assert(planted.isDefined, s"planted 999 not in top-k: ${top.mkString(", ")}")
    assert(planted.get._2 >= 0.9999, planted.get.toString)
  }

  test("lshTopKBatch: one plan answers many queries, per-query identical to lshTopK") {
    // the hyperplane serving shape (round 7 — the recall harness's
    // batch path): corpus signatures once, probe sets joined by
    // signature, per-query window rank. Must agree bit for bit with
    // the single-query operator.
    val vrng = new scala.util.Random(11)
    def randVec(): Array[Float] =
      Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 80).map(i => (i.toLong, randVec()))
    val emb = base.toDF("vec_id", "embedding")
    val qids = Seq(0L, 13L, 42L)
    val batch = SimilarityOps.lshTopKBatch(emb, "vec_id", "embedding",
      emb.filter(col("vec_id").isin(qids.map(Long.box): _*)),
      "vec_id", "embedding", k = 4, bits = 8, dims = 16)
    val got = perQuery(batch)
    assert(got.keySet == qids.toSet, got.keySet.toString)
    qids.foreach { q =>
      val single = SimilarityOps.lshTopK(emb, "vec_id", "embedding",
        queryId = q, k = 4, bits = 8, dims = 16)
        .select("vec_id", "cos_sim", "rank")
        .as[(Long, Double, Int)].collect().sortBy(_._3).toSeq
      assert(got(q) == single, s"query $q: ${got(q)} vs $single")
    }
  }
}
