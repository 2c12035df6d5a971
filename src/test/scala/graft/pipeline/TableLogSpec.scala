package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.ops.SimilarityOps
import TableLog.{Entry, Record}

/** The commit log itself: put-if-absent versions, checkpoint replay,
  * vacuum's retired set, and an appender race driven by the step hook.
  */
class TableLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("a second commit to an existing version gets a conflict; the first record survives") {
    val root = Files.createTempDirectory("graft_log").toString
    val first = Record(Seq(Entry("data/a", Map("rows" -> "3"))), info = Map("epoch" -> "0"))
    assert(TableLog.put(root, 0L, first))
    assert(!TableLog.put(root, 0L, Record(Seq(Entry("data/b")))))
    assert(TableLog.read(root, 0L) == first)
    val s = TableLog.snapshot(root)
    assert(s.version == 0L && s.live == first.add && s.lastEpoch == 0L, s)
    // no tmp file of either writer is left behind
    assert(TableLog.list(Paths.get(root, "_log")).map(_.getFileName.toString) ==
      Seq(f"${0L}%020d.json"))
    // commit() on the same root takes the next free version
    TableLog.commit(root)(_ => Some(Record(Seq(Entry("data/b")))))
    assert(TableLog.snapshot(root).version == 1L)
  }

  test("snapshots replay from the newest checkpoint; vacuum deletes only what the log retired") {
    val root = Files.createTempDirectory("graft_log_cp").toString
    Seq("data/a", "data/b", "data/c", "data/orphan")
      .foreach(p => Files.createDirectories(Paths.get(root, p)))
    TableLog.commit(root)(_ => Some(Record(Seq(Entry("data/a")))))
    TableLog.commit(root)(_ => Some(Record(Seq(Entry("data/b")), info = Map("epoch" -> "4"))))
    TableLog.commit(root)(s => Some(Record(s.live.filterNot(_.path == "data/a") :+
      Entry("data/c"), Seq("data/a"), s.info, checkpoint = true)))
    TableLog.commit(root)(_ => Some(Record(remove = Seq("data/b"))))
    val s = TableLog.snapshot(root)
    assert(s.version == 3L && s.paths == Seq("data/c") && s.lastEpoch == 4L, s)
    // a removal before the newest checkpoint (data/a) counts too; the
    // uncommitted data/orphan and the live data/c stay
    assert(TableLog.vacuum(root).toSet == Set("data/a", "data/b"))
    assert(Seq("data/c", "data/orphan").forall(p => Files.isDirectory(Paths.get(root, p))))
    assert(TableLog.vacuum(root).isEmpty)
  }

  test("appender race: A pauses after its data write, B commits, A resumes; both land once") {
    val root = Files.createTempDirectory("graft_log_race").toString
    val indexDir = s"$root/index"
    val vrng = new scala.util.Random(53)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(16)((vrng.nextDouble() * 2 - 1).toFloat)))
        .toDF("vec_id", "embedding")
    val index = SimilarityOps.ivfBuild(vecs(0 until 64), "vec_id", "embedding",
      indexDir, centroidEvery = 16, maxCentroids = 4)
    val (a, b) = (vecs(100 until 110), vecs(200 until 205))
    // both appenders start from the same snapshot (version 0); B runs
    // whole inside A's pause at its first publish step
    var fired = false
    TableLog.onStep = (r, step) =>
      if (r == indexDir && step == "commit" && !fired) {
        fired = true
        SimilarityOps.ivfAppend(index, b)
      }
    try SimilarityOps.ivfAppend(index, a)
    finally TableLog.onStep = (_, _) => ()
    assert(fired)
    val grown = SimilarityOps.ivfLoad(indexDir)
    assert(TableLog.snapshot(indexDir).version == 2L)
    assert(grown.deltas.size == 2 && grown.deltas.distinct.size == 2, grown.deltas)
    val ids = SimilarityOps.readCells(spark, grown).select(col("vec_id"))
      .as[Long].collect()
    assert(ids.length == 79 && ids.distinct.length == 79, ids.length)
    assert(ids.toSet == ((0 until 64) ++ (100 until 110) ++ (200 until 205)).map(_.toLong).toSet)
  }
}
