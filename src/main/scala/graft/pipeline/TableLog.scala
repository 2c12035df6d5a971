package graft.pipeline

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** The one commit log every persisted structure of the engine replays —
  * the Iceberg-snapshot stand-in (no Iceberg runtime jar exists in this
  * environment): immutable data directories plus numbered JSON commits.
  *
  * A commit is the immutable file `<root>/_log/<version>.json`, written
  * as a tmp file and published with `Files.createLink`, which is
  * put-if-absent (a rename would silently replace the target). A writer
  * that loses the race for a version re-reads the snapshot and retries
  * while its actions still apply ([[commit]]). A snapshot is a replay of
  * the commits from the newest checkpoint on; a checkpoint restates the
  * full live set and info, so older commits need not be read. Paths in
  * the log are relative to the root. Commit files are never deleted.
  *
  * Mutable markers (staging sentinels, `_input_snapshot`, progress,
  * recall curves) are not commits: they are replaced atomically by
  * [[replace]].
  */
object TableLog {

  /** One data path a commit adds, with the facts the writer records
    * about it (a chunk's lineage, for instance).
    */
  final case class Entry(path: String, info: Map[String, String] = Map.empty)

  /** One commit: data paths added and removed, plus an info map the
    * snapshot merges (the epoch id, the centroids file, the generation).
    */
  final case class Record(
      add: Seq[Entry] = Nil,
      remove: Seq[String] = Nil,
      info: Map[String, String] = Map.empty,
      checkpoint: Boolean = false)

  /** The table as of `version` (-1: nothing committed): its live
    * entries in commit order and the merged info of the replayed
    * commits.
    */
  final case class Snapshot(version: Long, live: Seq[Entry], info: Map[String, String]) {
    def paths: Seq[String] = live.map(_.path)

    /** The last streaming epoch committed (-1: none). */
    def lastEpoch: Long = info.get("epoch").fold(-1L)(_.toLong)
  }

  private implicit val formats: Formats = DefaultFormats

  private[graft] def toJson(v: AnyRef): String = Serialization.write(v)

  private[graft] def fromJson[A: Manifest](json: String): A = Serialization.read[A](json)

  /** Test seam: called with (root or marker path, step name) at every
    * write step — before and after each commit is published, before
    * each marker replace and before each vacuum delete — so a spec can
    * crash or interleave a writer at any of them.
    */
  @volatile private[graft] var onStep: (String, String) => Unit = (_, _) => ()

  private def logDir(root: String): Path = Paths.get(root, "_log")

  private def versions(root: String): Seq[Long] =
    list(logDir(root)).map(_.getFileName.toString)
      .collect { case n if n.matches("\\d+\\.json") => n.stripSuffix(".json").toLong }
      .sorted

  private[graft] def read(root: String, version: Long): Record =
    fromJson[Record](Files.readString(logDir(root).resolve(f"$version%020d.json")))

  /** Replay from the newest checkpoint. */
  def snapshot(root: String): Snapshot = {
    val vs = versions(root)
    val back = scala.collection.mutable.ArrayBuffer.empty[Record]
    val it = vs.reverseIterator
    while (it.hasNext && !back.lastOption.exists(_.checkpoint)) back += read(root, it.next())
    back.reverseIterator.foldLeft(Snapshot(vs.lastOption.getOrElse(-1L), Nil, Map.empty)) {
      (s, r) =>
        val gone = r.remove.toSet
        s.copy(live = s.live.filterNot(e => gone(e.path)) ++ r.add, info = s.info ++ r.info)
    }
  }

  /** Publish `r` as `version`; false when that version already exists
    * (a lost race: the existing commit is untouched).
    */
  private[graft] def put(root: String, version: Long, r: Record): Boolean = {
    val dir = Files.createDirectories(logDir(root))
    val tmp = Files.createTempFile(dir, ".commit-", ".tmp")
    try {
      Files.writeString(tmp, toJson(r))
      onStep(root, "commit")
      Files.createLink(dir.resolve(f"$version%020d.json"), tmp)
      onStep(root, "committed")
      true
    } catch { case _: FileAlreadyExistsException => false }
    finally Files.deleteIfExists(tmp)
  }

  /** Optimistic commit: `next` maps the current snapshot to the record
    * to publish as the next version, or None when there is nothing (left)
    * to do. On a lost race it runs again on the newer snapshot, so it must
    * re-check that its actions still apply. Returns the published record.
    */
  @annotation.tailrec
  def commit(root: String)(next: Snapshot => Option[Record]): Option[Record] = {
    val s = snapshot(root)
    next(s) match {
      case Some(r) if !put(root, s.version + 1, r) => commit(root)(next)
      case published => published
    }
  }

  /** Commit streaming epoch `epoch` once: an epoch at or below the log's
    * last one is an at-least-once replay of a committed batch and is
    * skipped; otherwise `write` lays down its data and returns the
    * entries one commit adds.
    */
  def commitEpoch(root: String, epoch: Long)(write: => Seq[Entry]): Unit =
    if (epoch > snapshot(root).lastEpoch) {
      val add = write
      commit(root)(s => Option.when(epoch > s.lastEpoch)(
        Record(add, info = Map("epoch" -> epoch.toString))))
    }

  /** Claim a fresh data directory `<prefix><n>` put-if-absent, n counting
    * up from `from`: a name a crashed attempt or a concurrent writer holds
    * is skipped, never overwritten. Returns the root-relative path.
    */
  def claim(root: String, prefix: String, from: Long): String = {
    Files.createDirectories(Paths.get(root, prefix).getParent)
    Iterator.iterate(from)(_ + 1).map(n => s"$prefix$n").find { p =>
      try { Files.createDirectory(Paths.get(root, p)); true }
      catch { case _: FileAlreadyExistsException => false }
    }.get
  }

  /** Delete the root-relative `paths`, one step each; returns those that existed. */
  def deleteAll(root: String, paths: Seq[String]): Seq[String] =
    paths.filter(p => Files.exists(Paths.get(root, p))).map { p =>
      onStep(root, "delete")
      deleteRecursively(Paths.get(root, p))
      p
    }

  /** Delete the data some commit removed that the current snapshot no
    * longer references (the full log is read: a removal before the newest
    * checkpoint counts too). Handles loaded before the removal stop
    * working; nothing live is touched.
    */
  def vacuum(root: String): Seq[String] = {
    val live = snapshot(root).paths.toSet
    deleteAll(root, versions(root).flatMap(read(root, _).remove).distinct.filterNot(live))
  }

  /** Atomically replace a mutable marker file (tmp + rename). */
  def replace(file: Path, content: String): Unit = {
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    Files.writeString(tmp, content)
    onStep(file.toString, "replace")
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The entries of `dir` (none when absent), with the stream closed —
    * a bare `Files.list` leaks one fd per call until GC.
    */
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Delete `dir` and everything below it; absent is fine. */
  def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
