package graft.ops

import java.io.IOException
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.SparkSession

/** The crash-safe rewrite protocol the path-based stores ([[AnnIndex]],
  * [[CcState]], [[AggState]]) share, plus the small-file IO their
  * markers and manifests ride on. All IO goes through the Hadoop
  * `FileSystem` of the store path — the same API that moves the data —
  * so the protocol works unchanged on HDFS-like filesystems.
  *
  * ==Whole-store swap ([[swap]])==
  * The new generation is written into a sibling stage
  * (`<path>_compacting` or `<path>_rebucketing`) and its marker file
  * (the store's meta) is written into the stage LAST, so its presence
  * means "stage complete". Then two renames — live → `<path>_old`,
  * stage → live — and `_old` is dropped. Each rename is atomic on
  * HDFS-like filesystems; the pair is not, which is what [[recover]]
  * resolves.
  *
  * ==Partition swap ([[swapPartitions]])==
  * The replacement partitions are written into `<path>_deleting`, then
  * the manifest `_graft_affected` LAST, renamed into place whole: one
  * `<entry>,kept|emptied` line per affected partition, where `<entry>`
  * is the partition dir relative to the store (`bucket=b…`,
  * `band=0/bucket=b…`, `cell=c…`, `pbucket=N`) or a [[Sidecar]]
  * name. "emptied" is recorded
  * explicitly because after a partial swap "no staged dir" is otherwise
  * ambiguous between "emptied" and "already swapped". Each line is then
  * applied: a kept partition's live dir is replaced by its staged copy,
  * an emptied one's is deleted. The loop is idempotent (a kept line
  * whose staged copy is gone was already swapped), so it can be redone
  * from any crash point, including mid-line.
  *
  * ==Recovery==
  * [[recover]] is the writer-side rule, run at the head of every
  * mutating entry point; idempotent, so a crash during recovery is
  * itself recoverable:
  *  - live missing + a COMPLETE swap stage (marker present): roll
  *    FORWARD, whether or not `_old` still exists;
  *  - live missing + `_old`: roll BACK;
  *  - then drop `_old` and any swap stage beside a live store — an
  *    interrupted pre-swap stage, so the operation "didn't happen";
  *  - `_deleting` with its manifest: redo the partition swap, then drop
  *    the stage; without the manifest the stage is discarded.
  * [[healIfMissing]] is the reader-side rule: the first two cases
  * only, and only when live is missing, so a reader never deletes a
  * running writer's stage.
  *
  * Every rename is checked: one that returns false throws an
  * `IOException` naming both paths before anything after it runs, so
  * `_old` is never dropped unless the new generation is live.
  *
  * SINGLE WRITER per store path; readers must be quiesced across the
  * swap window (a reader racing it can roll the stage forward under
  * the writer).
  */
private[ops] object StagedSwap {

  val Compacting = "_compacting"
  val Rebucketing = "_rebucketing"
  private val Deleting = "_deleting"
  private val Old = "_old"
  private val AffectedFile = "_graft_affected"
  private val SwapStages = Seq(Compacting, Rebucketing)

  /** A partition-swap entry that lives outside the store directory:
    * staged as `<path>_deleting/<staged>`, swapped to `live`. */
  final case class Sidecar(staged: String, live: String)

  def fsFor(path: String, spark: SparkSession): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def writeString(fs: FileSystem, p: HPath, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** One `key=value` line per pair, each newline-terminated. */
  def renderKv(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"$k=$v\n" }.mkString

  /** The `key=value` lines of a marker file; the value is everything
    * after the first `=`, lines without a key are skipped. */
  def readKv(fs: FileSystem, p: HPath): Map[String, String] =
    readString(fs, p).linesIterator.filter(_.indexOf('=') > 0).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  /** Replace the store at `path` with the generation `writeStage` writes
    * into the stage dir `path + stage` (given as its path string),
    * `marker` carrying `body` written into it last. Also serves an
    * initial build, where no live generation exists yet. */
  def swap(fs: FileSystem, path: String, stage: String, marker: String,
      body: String)(writeStage: String => Unit): Unit = {
    val live = new HPath(path)
    val tmp = new HPath(path + stage)
    val old = new HPath(path + Old)
    fs.delete(tmp, true)
    writeStage(tmp.toString)
    writeString(fs, new HPath(tmp, marker), body)
    if (fs.exists(live)) rename(fs, live, old)
    rename(fs, tmp, live)
    fs.delete(old, true)
  }

  /** Replace the partitions named by `entries` with what `writeStage`
    * writes into `path + "_deleting"`; an entry with nothing staged is
    * deleted. `sidecars` maps entries that live outside `path`. */
  def swapPartitions(fs: FileSystem, path: String, entries: Seq[String],
      sidecars: Map[String, Sidecar] = Map.empty)(
      writeStage: String => Unit): Unit = {
    val tmp = new HPath(path + Deleting)
    fs.delete(tmp, true)
    writeStage(tmp.toString)
    val manifest = entries.map { e =>
      val kept = fs.exists(locate(path, e, sidecars)._2)
      s"$e,${if (kept) "kept" else "emptied"}"
    }.mkString("\n")
    // written aside and renamed into place: a crash mid-write must not
    // leave a truncated manifest for recover() to apply
    val partial = new HPath(tmp, AffectedFile + ".tmp")
    writeString(fs, partial, manifest)
    rename(fs, partial, new HPath(tmp, AffectedFile))
    applyManifest(fs, path, sidecars)
    fs.delete(tmp, true)
  }

  /** Writer-side recovery — see the object doc. */
  def recover(fs: FileSystem, path: String, marker: String,
      sidecars: Map[String, Sidecar] = Map.empty): Unit = {
    healIfMissing(fs, path, marker)
    (Old +: SwapStages).foreach(s => fs.delete(new HPath(path + s), true))
    val deleting = new HPath(path + Deleting)
    if (fs.exists(deleting)) {
      if (fs.exists(new HPath(deleting, AffectedFile)))
        applyManifest(fs, path, sidecars)
      fs.delete(deleting, true)
    }
  }

  /** Reader-side recovery: roll an interrupted swap forward (complete
    * stage) or back (`_old`) when the live dir is missing; touch
    * nothing otherwise. */
  def healIfMissing(fs: FileSystem, path: String, marker: String): Unit = {
    val live = new HPath(path)
    if (fs.exists(live)) return
    val old = new HPath(path + Old)
    SwapStages.map(s => new HPath(path + s))
      .find(s => fs.exists(new HPath(s, marker))) match {
      case Some(stage) =>
        rename(fs, stage, live)
        fs.delete(old, true)
      case None =>
        if (fs.exists(old)) rename(fs, old, live)
    }
  }

  /** (live, staged) for one manifest entry. */
  private def locate(path: String, entry: String,
      sidecars: Map[String, Sidecar]): (HPath, HPath) =
    sidecars.get(entry) match {
      case Some(s) => (new HPath(s.live), new HPath(path + Deleting, s.staged))
      case None => (new HPath(path, entry), new HPath(path + Deleting, entry))
    }

  private def applyManifest(fs: FileSystem, path: String,
      sidecars: Map[String, Sidecar]): Unit =
    readString(fs, new HPath(path + Deleting, AffectedFile)).linesIterator
      .filter(_.nonEmpty).foreach { line =>
        val i = line.lastIndexOf(',')
        val (live, staged) = locate(path, line.substring(0, i), sidecars)
        if (line.substring(i + 1) == "kept") {
          if (fs.exists(staged)) {
            fs.delete(live, true)
            // nested layouts (band=B/bucket=K): the rename needs the
            // live parent present — it can be missing after a crash if
            // this was the band's only surviving partition
            fs.mkdirs(live.getParent)
            rename(fs, staged, live)
          } // staged copy gone = this entry already swapped
        } else fs.delete(live, true) // emptied: idempotent remove
      }

  private def rename(fs: FileSystem, from: HPath, to: HPath): Unit =
    if (!fs.rename(from, to))
      throw new IOException(s"rename $from -> $to returned false; " +
        "the next recover() resolves the store from its current state")
}
