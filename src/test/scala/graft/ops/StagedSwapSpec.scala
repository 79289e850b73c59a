package graft.ops

import java.io.IOException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileSystem,
  RawLocalFileSystem, Path => HPath}

import graft.SparkSpec

/** The local filesystem under the test-only `faultyfs` scheme, with two
  * injectable faults. Every mutating call (create, delete, mkdirs,
  * rename) is logged as `"<op> <path> [<dst>]"`; `crashAt = n` throws
  * [[FaultyLocalFs.Crash]] in place of the n-th one (0-based), leaving
  * the files exactly as a process killed at that step boundary would.
  * `falseRenameTo = Some(suffix)` makes a rename whose destination ends
  * with `suffix` return false without moving anything. */
class FaultyLocalFs extends RawLocalFileSystem {
  var crashAt: Int = -1
  var falseRenameTo: Option[String] = None
  val log: ArrayBuffer[String] = ArrayBuffer.empty

  override def getUri: URI = URI.create("faultyfs:///")

  private def step(op: String): Unit = {
    if (log.size == crashAt) {
      log += op
      throw new FaultyLocalFs.Crash(op)
    }
    log += op
  }

  override def create(f: HPath, overwrite: Boolean): FSDataOutputStream = {
    step(s"create $f"); super.create(f, overwrite)
  }
  override def delete(f: HPath, recursive: Boolean): Boolean = {
    step(s"delete $f"); super.delete(f, recursive)
  }
  override def mkdirs(f: HPath): Boolean = {
    step(s"mkdirs $f"); super.mkdirs(f)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    step(s"rename $src $dst")
    if (falseRenameTo.exists(s => dst.toString.endsWith(s))) false
    else super.rename(src, dst)
  }
}

object FaultyLocalFs {
  final class Crash(op: String) extends RuntimeException(s"crash before $op")
}

/** Crash consistency of the one staged-swap protocol [[AnnIndex]],
  * [[CcState]] and [[AggState]] share. The stores are plain text files,
  * so every crash state is produced by the real protocol code stopping
  * at a step boundary (no Spark job runs): after [[StagedSwap.recover]]
  * the files must be exactly the pre-state or exactly the post-state,
  * and a second recover must change nothing. */
class StagedSwapSpec extends SparkSpec {

  private val conf = new Configuration()
  conf.set("fs.faultyfs.impl", classOf[FaultyLocalFs].getName)
  conf.setBoolean("fs.faultyfs.impl.disable.cache", true)

  private def newFs(): FaultyLocalFs =
    new HPath("faultyfs:///").getFileSystem(conf).asInstanceOf[FaultyLocalFs]

  private val Marker = "_graft_test_meta"

  private def put(fs: FileSystem, p: String, body: String): Unit =
    StagedSwap.writeString(fs, new HPath(p), body)

  /** One protocol under test, on a store at `path` (`<dir>/store`). */
  private case class Protocol(setup: (FileSystem, String) => Unit,
      run: (FileSystem, String) => Unit)

  private def sidecars(path: String) =
    Map("log" -> StagedSwap.Sidecar("_newlog", path + "_merges"))

  private def recover(fs: FileSystem, path: String): Unit =
    StagedSwap.recover(fs, path, Marker, sidecars(path))

  /** Whole-store swap: generation 1 (two parts) → generation 2 (three). */
  private val wholeSwap = Protocol(
    setup = (fs, path) => {
      put(fs, s"$path/part-0", "v1-a")
      put(fs, s"$path/part-1", "v1-b")
      put(fs, s"$path/$Marker", "gen=1\n")
    },
    run = (fs, path) =>
      StagedSwap.swap(fs, path, StagedSwap.Compacting, Marker, "gen=2\n") {
        tmp =>
          Seq("v2-a", "v2-b", "v2-c").zipWithIndex.foreach { case (v, i) =>
            put(fs, s"$tmp/part-$i", v)
          }
      })

  /** Partition swap: one partition rewritten, one emptied, one nested
    * (`band=0/bucket=b3`) rewritten, one untouched, and the sidecar
    * merge log replaced. */
  private val partitionSwap = Protocol(
    setup = (fs, path) => {
      put(fs, s"$path/$Marker", "gen=1\n")
      put(fs, s"$path/bucket=b0/part", "a0")
      put(fs, s"$path/bucket=b1/part", "a1")
      put(fs, s"$path/bucket=b2/part", "a2")
      put(fs, s"$path/band=0/bucket=b3/part", "a3")
      put(fs, s"${path}_merges/part", "log1")
    },
    run = (fs, path) =>
      StagedSwap.swapPartitions(fs, path,
          Seq("bucket=b0", "bucket=b1", "band=0/bucket=b3", "log"),
          sidecars(path)) { tmp =>
        put(fs, s"$tmp/bucket=b0/part", "a0-rewritten")
        put(fs, s"$tmp/band=0/bucket=b3/part", "a3-rewritten")
        put(fs, s"$tmp/_newlog/part", "log2")
      })

  /** Every file and directory under `dir`, relative, with file contents. */
  private def snapshot(dir: JPath): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString ->
        (if (Files.isDirectory(p)) "<dir>"
         else new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }.toMap

  private def freshDir(): (JPath, String) = {
    val dir = Files.createTempDirectory("graft-swap")
    (dir, s"faultyfs://$dir/store")
  }

  /** (pre-state, post-state, op log, store path) of a clean run. */
  private def reference(p: Protocol): (Map[String, String],
      Map[String, String], Seq[String], String) = {
    val (dir, path) = freshDir()
    val fs = newFs()
    p.setup(fs, path)
    val pre = snapshot(dir)
    fs.log.clear()
    p.run(fs, path)
    (pre, snapshot(dir), fs.log.toSeq, path)
  }

  /** Lay down the pre-state in a fresh dir and run the protocol with a
    * crash in place of op `crashAt`; returns the dir and store path. */
  private def crashed(p: Protocol, crashAt: Int): (JPath, String) = {
    val (dir, path) = freshDir()
    val fs = newFs()
    p.setup(fs, path)
    fs.log.clear()
    fs.crashAt = crashAt
    intercept[FaultyLocalFs.Crash](p.run(fs, path))
    (dir, path)
  }

  /** Recover, assert the result is `expected`, recover again, assert
    * nothing changed. */
  private def recoversTo(dir: JPath, path: String,
      expected: Map[String, String]): Unit = {
    recover(newFs(), path)
    val once = snapshot(dir)
    once shouldBe expected
    recover(newFs(), path)
    snapshot(dir) shouldBe once
  }

  /** Crash `p` just before the first logged op `op(path)` of its clean
    * run (the last one when `last`), then recover. */
  private def crashBefore(p: Protocol, expectPost: Boolean,
      last: Boolean = false)(op: String => String): Unit = {
    val (pre, post, log, refPath) = reference(p)
    val want = op(refPath)
    val i = if (last) log.lastIndexOf(want) else log.indexOf(want)
    withClue(s"'$want' not in the clean run's ops $log") { i should be >= 0 }
    val (dir, path) = crashed(p, i)
    recoversTo(dir, path, if (expectPost) post else pre)
  }

  private def norm(p: String) = new HPath(p).toString

  // ---- whole-store swap: one test per step boundary ----

  test("swap crash: stage partial, no marker -> pre-state") {
    crashBefore(wholeSwap, expectPost = false)(p =>
      s"create ${norm(p + "_compacting/part-1")}")
  }

  test("swap crash: stage complete, live intact -> pre-state") {
    crashBefore(wholeSwap, expectPost = false)(p =>
      s"rename ${norm(p)} ${norm(p + "_old")}")
  }

  test("swap crash: after live -> _old -> rolls forward to the post-state") {
    crashBefore(wholeSwap, expectPost = true)(p =>
      s"rename ${norm(p + "_compacting")} ${norm(p)}")
  }

  test("swap crash: after stage -> live, _old still present -> post-state") {
    crashBefore(wholeSwap, expectPost = true, last = true)(p =>
      s"delete ${norm(p + "_old")}")
  }

  // ---- partition swap: one test per step boundary ----

  test("partition swap crash: staged data but no manifest -> pre-state") {
    crashBefore(partitionSwap, expectPost = false)(p =>
      s"create ${norm(p + "_deleting/_graft_affected.tmp")}")
  }

  test("partition swap crash: manifest written but not yet in place -> pre-state") {
    crashBefore(partitionSwap, expectPost = false)(p =>
      s"rename ${norm(p + "_deleting/_graft_affected.tmp")} " +
        norm(p + "_deleting/_graft_affected"))
  }

  Seq("bucket=b0" -> ((p: String) => norm(s"$p/bucket=b0")),
      "band=0/bucket=b3" -> ((p: String) => norm(s"$p/band=0/bucket=b3")),
      "_newlog" -> ((p: String) => norm(p + "_merges"))).foreach {
    case (entry, live) =>
      test(s"partition swap crash: $entry's live deleted, staged not yet renamed -> post-state") {
        crashBefore(partitionSwap, expectPost = true)(p =>
          s"rename ${norm(s"${p}_deleting/$entry")} ${live(p)}")
      }
  }

  test("partition swap crash: everything renamed, stage dir left behind -> post-state") {
    crashBefore(partitionSwap, expectPost = true, last = true)(p =>
      s"delete ${norm(p + "_deleting")}")
  }

  // ---- exhaustive: every op of each protocol, and of recover itself ----

  Seq("swap" -> wholeSwap, "partition swap" -> partitionSwap).foreach {
    case (name, p) =>
      test(s"$name: a crash before ANY op recovers to pre or post, and recover is idempotent") {
        val (pre, post, log, _) = reference(p)
        log.indices.foreach { i =>
          val (dir, path) = crashed(p, i)
          recover(newFs(), path)
          val once = snapshot(dir)
          withClue(s"crash before op $i (${log(i)}): ") {
            Seq(pre, post) should contain(once)
            recover(newFs(), path)
            snapshot(dir) shouldBe once
          }
        }
      }

      test(s"$name: a crash inside recover is itself recoverable") {
        val (pre, post, log, _) = reference(p)
        log.indices.foreach { i =>
          // how many ops recover takes from crash state i
          val (_, probePath) = crashed(p, i)
          val probe = newFs()
          recover(probe, probePath)
          probe.log.indices.foreach { j =>
            val (dir, path) = crashed(p, i)
            val fs = newFs()
            fs.crashAt = j
            intercept[FaultyLocalFs.Crash](recover(fs, path))
            recover(newFs(), path)
            withClue(s"crash before op $i, then recover crashed before " +
                s"${probe.log(j)}: ") {
              Seq(pre, post) should contain(snapshot(dir))
            }
          }
        }
      }
  }

  // ---- checked renames ----

  test("swap: a stage -> live rename that returns false throws and keeps _old") {
    val (_, post, _, _) = reference(wholeSwap)
    val (dir, path) = freshDir()
    val fs = newFs()
    wholeSwap.setup(fs, path)
    fs.falseRenameTo = Some(s"${dir.getFileName}/store")
    val e = intercept[IOException](wholeSwap.run(fs, path))
    e.getMessage should include(norm(path + "_compacting"))
    e.getMessage should include(norm(path))
    Files.exists(dir.resolve("store_old/part-1")) shouldBe true
    Files.exists(dir.resolve("store")) shouldBe false
    recoversTo(dir, path, post)
  }

  test("swap: a live -> _old rename that returns false throws and leaves live intact") {
    val (pre, _, _, _) = reference(wholeSwap)
    val (dir, path) = freshDir()
    val fs = newFs()
    wholeSwap.setup(fs, path)
    fs.falseRenameTo = Some("store_old")
    intercept[IOException](wholeSwap.run(fs, path))
    Files.exists(dir.resolve("store/part-1")) shouldBe true
    recoversTo(dir, path, pre)
  }

  test("partition swap: a rename that returns false throws and keeps the manifest for the redo") {
    val (_, post, _, _) = reference(partitionSwap)
    val (dir, path) = freshDir()
    val fs = newFs()
    partitionSwap.setup(fs, path)
    fs.falseRenameTo = Some("store/bucket=b0")
    intercept[IOException](partitionSwap.run(fs, path))
    Files.exists(dir.resolve("store_deleting/_graft_affected")) shouldBe true
    recoversTo(dir, path, post)
  }

  // ---- roll-forward rule and reader-side heal ----

  test("live missing, _old missing, complete _compacting stage: CcState.recover rolls forward") {
    val dir = Files.createTempDirectory("graft-swap")
    val fs = new HPath("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cc = s"$dir/cc"
    put(fs, s"${cc}_compacting/pbucket=0/part", "labels")
    put(fs, s"${cc}_compacting/_graft_cc_meta", "buckets=4\n")
    CcState.recover(spark, cc)
    new String(Files.readAllBytes(Paths.get(s"$cc/pbucket=0/part")),
      StandardCharsets.UTF_8) shouldBe "labels"
    Files.exists(Paths.get(s"$cc/_graft_cc_meta")) shouldBe true
    Files.exists(Paths.get(s"${cc}_compacting")) shouldBe false
  }

  test("healIfMissing never touches a stage beside a live store; heals a missing one") {
    val (_, post, log, refPath) = reference(wholeSwap)
    // live intact + complete stage (a running writer's): untouched
    val (dir, path) = crashed(wholeSwap,
      log.indexOf(s"rename ${norm(refPath)} ${norm(refPath + "_old")}"))
    val before = snapshot(dir)
    StagedSwap.healIfMissing(newFs(), path, Marker)
    snapshot(dir) shouldBe before
    // live renamed away: the reader rolls the complete stage forward
    val (dir2, path2) = crashed(wholeSwap,
      log.indexOf(s"rename ${norm(refPath + "_compacting")} ${norm(refPath)}"))
    StagedSwap.healIfMissing(newFs(), path2, Marker)
    snapshot(dir2) shouldBe post
  }

  // ---- AnnIndex meta: one renderer, the old byte format ----

  test("AnnIndex.Meta renders the established meta format; a legacy meta reads with defaults") {
    AnnIndex.Meta(4, 3, centered = true, Seq(0.5, -1.25),
      vecIdType = "int").render shouldBe
      "planes=4\ndims=3\ncentered=true\nquantized=false\nmu=0.5,-1.25\n" +
        "vecIdType=int\n"
    AnnIndex.Meta(6, 2, centered = false, Seq.empty, quantized = true,
      bands = 2, planesPerBand = 3).render shouldBe
      "planes=6\ndims=2\ncentered=false\nquantized=true\nmu=\n" +
        "vecIdType=bigint\nbands=2\nplanesPerBand=3\n"
    AnnIndex.Meta(0, 2, centered = false, Seq.empty, centIds = Seq(1L, 7L),
      centroids = Seq(Seq(0.1, 0.2), Seq(1.0, -2.0))).render shouldBe
      "planes=0\ndims=2\ncentered=false\nquantized=false\nmu=\n" +
        "vecIdType=bigint\ncentIds=1,7\ncentroids=0.1,0.2;1.0,-2.0\n"
    val dir = Files.createTempDirectory("graft-swap")
    assert(spark != null) // readMeta resolves the active session's FS
    Files.write(dir.resolve("_graft_ann_meta"),
      "planes=5\ndims=8\ncentered=false\nmu=\n".getBytes("UTF-8"))
    AnnIndex.readMeta(dir.toString) shouldBe
      AnnIndex.Meta(5, 8, centered = false, Seq.empty)
  }
}
