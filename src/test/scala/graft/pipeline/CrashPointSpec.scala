package graft.pipeline

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.model.{Doc, MediaBlob, Span}
import graft.ops.SimilarityOps

/** Crash-point enumeration over every persisted structure. For each
  * operation a clean run counts its [[TableLog]] write steps and
  * records the state a reader sees after each of its commits; then the
  * operation is re-run from the same starting state once per step,
  * with a crash injected at that step. At every crash point:
  *  - the reader sees the starting state or a state one of the
  *    operation's commits produces — never a mix, never a duplicate id;
  *  - resuming (or retrying) reaches the clean run's end state;
  *  - vacuum then changes no answer: it deleted no live file.
  */
class CrashPointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private final class Crash extends RuntimeException("injected crash")

  private def crashed(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[Crash])

  /** Run `op` with a crash at write step `crashAt` (1-based; 0: none)
    * under `work`, calling `committed` after each commit it publishes.
    * Returns the number of steps reached.
    */
  private def run(work: String, crashAt: Int, committed: () => Unit = () => ())(
      op: => Unit): Int = {
    val seen = new AtomicInteger
    TableLog.onStep = (r, step) =>
      if (r.startsWith(s"$work/")) {
        if (seen.incrementAndGet() == crashAt) throw new Crash
        if (step == "committed") committed()
      }
    try op
    catch { case e: Throwable if crashAt > 0 && crashed(e) => }
    finally TableLog.onStep = (_, _) => ()
    seen.get
  }

  private def copyTree(from: String, to: String): String = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
    to
  }

  private def newWork(): String = Files.createTempDirectory("graft_crash").toString

  /** One operation's enumeration; returns its crash-point count. */
  private def enumerate(name: String, fresh: () => String, op: String => Unit,
      resume: String => Unit, state: String => Set[String],
      vacuum: String => Unit): Int = {
    val clean = fresh()
    val states = scala.collection.mutable.ArrayBuffer(state(clean))
    val steps = run(clean, 0, () => states += state(clean))(op(clean))
    val end = state(clean)
    vacuum(clean)
    assert(state(clean) == end, s"$name: vacuum changed the clean end state")
    assert(steps > 0, s"$name: no write steps")
    (1 to steps).foreach { i =>
      val work = fresh()
      assert(run(work, i)(op(work)) == i, s"$name: no crash at step $i")
      assert(states.contains(state(work)),
        s"$name, crash at step $i: the reader saw a state no commit produces")
      resume(work)
      assert(state(work) == end, s"$name, crash at step $i: resume missed the end state")
      vacuum(work)
      assert(state(work) == end, s"$name, crash at step $i: vacuum changed an answer")
    }
    steps
  }

  /** Rows as strings, asserting the id column holds no duplicate. */
  private def rows(df: DataFrame, id: String): Set[String] = {
    val all = df.collect()
    val ids = all.map(_.getAs[Any](id))
    assert(ids.length == ids.distinct.length, s"duplicate $id")
    all.map(_.mkString("|")).toSet
  }

  // --- extraction outputs: Commit (3 chunks) and StreamingExtract ----

  private lazy val docs = (0 until 18)
    .map(i => Doc(f"d$i%02d", Seq(Span("text", s"document $i", "", 0)))).toDF()
  private lazy val noMedia = spark.emptyDataset[MediaBlob].toDF()

  private def commitRun(work: String): Unit =
    Commit.run(spark, docs, noMedia, s"$work/out", "crash", chunks = 3, partitions = 2)

  private def commitState(work: String): Set[String] =
    rows(Commit.readOutput(spark, s"$work/out"), "doc_id")

  private def commitVacuum(work: String): Unit = Commit.vacuum(s"$work/out")

  private lazy val committed: String = { val w = newWork(); commitRun(w); w }

  // --- the IVF index ---------------------------------------------------

  private val vrng = new scala.util.Random(59)
  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
  private lazy val corpus = vecs(0 until 64)
  private lazy val extra = vecs(64 until 80)
  private lazy val more = vecs(80 until 84)

  private def indexState(work: String): Set[String] = {
    val idx = SimilarityOps.ivfLoad(s"$work/index")
    rows(SimilarityOps.readCells(spark, idx).select("vec_id", "cell"), "vec_id") ++
      SimilarityOps.ivfQueryBatch(spark, idx, corpus.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", k = 3, nprobe = 2).collect().map("q" + _.mkString("|"))
  }

  private def indexVacuum(work: String): Unit = StreamingIndex.vacuum(s"$work/index")

  private lazy val built: String = {
    val w = newWork()
    SimilarityOps.ivfBuild(corpus, "vec_id", "embedding", s"$w/index",
      centroidEvery = 16, maxCentroids = 4)
    w
  }
  private lazy val twoDeltas: String = {
    val w = copyTree(built, newWork())
    SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(s"$w/index"), extra)
    SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(s"$w/index"), more)
    w
  }
  private lazy val compacted: String = {
    val w = copyTree(twoDeltas, newWork())
    StreamingIndex.compact(spark, s"$w/index")
    w
  }

  private def rebuild(work: String): Unit =
    SimilarityOps.ivfBuild(corpus.unionByName(extra), "vec_id", "embedding",
      s"$work/index", centroidEvery = 8, maxCentroids = 8)

  private def append(work: String): Unit =
    SimilarityOps.ivfAppend(SimilarityOps.ivfLoad(s"$work/index"), extra)

  private lazy val vecStream: String = {
    val d = newWork()
    extra.coalesce(1).write.mode("append").parquet(s"$d/vecs")
    more.coalesce(1).write.mode("append").parquet(s"$d/vecs")
    s"$d/vecs"
  }
  private def streamIndex(work: String): Unit =
    StreamingIndex.run(spark, vecStream, s"$work/index", s"$work/ckpt",
      maxFilesPerTrigger = 1).awaitTermination()

  private lazy val docStream: String = {
    val d = newWork()
    docs.coalesce(1).write.parquet(s"$d/docs")
    s"$d/docs"
  }
  private def streamExtract(work: String): Unit =
    StreamingExtract.run(spark, docStream, noMedia, s"$work/out", s"$work/ckpt",
      partitions = 2).awaitTermination()

  test("every TableLog step of every persisted structure is crash-safe (≥ 20 crash points)") {
    val t0 = System.nanoTime()
    val points = Seq(
      enumerate("Commit.run", () => newWork(), commitRun, commitRun,
        commitState, commitVacuum),
      enumerate("Commit.compact", () => copyTree(committed, newWork()),
        w => Commit.compact(s"$w/out"), w => Commit.compact(s"$w/out"),
        commitState, commitVacuum),
      enumerate("Commit.vacuum", { () =>
          val w = copyTree(committed, newWork())
          Seq(7, 8).foreach { k =>
            docs.limit(2).write.parquet(s"$w/out/data/chunk=$k")
          }
          w
        }, commitVacuum, commitVacuum, commitState, commitVacuum),
      enumerate("ivfBuild over an existing index", () => copyTree(built, newWork()),
        rebuild, rebuild, indexState, indexVacuum),
      enumerate("ivfAppend", () => copyTree(built, newWork()), append,
        // an append is not idempotent: retry only when its commit is absent
        w => if (TableLog.snapshot(s"$w/index").version == 0L) append(w),
        indexState, indexVacuum),
      enumerate("StreamingIndex.run (2 epochs)", () => copyTree(built, newWork()),
        streamIndex, streamIndex, indexState, indexVacuum),
      enumerate("StreamingIndex.compact", () => copyTree(twoDeltas, newWork()),
        w => StreamingIndex.compact(spark, s"$w/index"),
        w => StreamingIndex.compact(spark, s"$w/index"), indexState, indexVacuum),
      enumerate("StreamingIndex.vacuum", () => copyTree(compacted, newWork()),
        indexVacuum, indexVacuum, indexState, indexVacuum),
      enumerate("StreamingExtract (1 epoch)", () => newWork(), streamExtract,
        streamExtract, w => rows(StreamingExtract.readOutput(spark, s"$w/out"), "doc_id"),
        w => TableLog.vacuum(s"$w/out")))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"${points.sum} crash points (${points.mkString(" + ")}) in $secs%.1f s")
    assert(points.sum >= 20, points)
  }
}
