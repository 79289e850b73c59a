package graft.refresh

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Keyed `(id, doc)` snapshot table with atomic commits — the engine's
  * stand-in for the reference's materialized view storage
  * (reference: src/sinker/query_templates.py:11-12 — MV with a unique
  * index on id). Uniqueness of `id` is an invariant of the view
  * computation (the diff and sinks key on it), matching the
  * reference's mandatory unique index.
  *
  * The 100 TB layout is an LSM-shaped bucketed table:
  * {{{
  * <path>/v3/bucket=0/part-*.parquet      base leaves (hash(id) % n)
  * <path>/v7/bucket=1/part-*.parquet
  * <path>/d9/part-*.parquet               delta log entries (op,id,doc)
  * <path>/_CURRENT                        manifest:  "0 v3\n1 v7\nD d9"
  * }}}
  *
  * The manifest pointer maps every live bucket to the version that last
  * compacted it, plus the ordered delta log. A [[mergeActions]] batch
  * appends ONE delta file and swaps the manifest — write I/O is exactly
  * the change volume, regardless of how many buckets the changed ids
  * hash into (bucket-granular rewrite degenerates to a full rewrite for
  * uniformly spread changes; the delta log does not). Reads merge base
  * and deltas with latest-wins per id; the log is kept short by
  * compaction — when it exceeds [[maxDeltas]] files or a quarter of the
  * base size, the touched buckets (only) are rewritten and the log
  * cleared, amortizing base rewrites over many refreshes. This is the
  * base+delta+compaction design Delta/Iceberg's merge-on-read mode and
  * every LSM store use; the pointer file stands in for the catalog.
  *
  * Atomicity and multi-writer safety: every mutation writes new files
  * first and then publishes a GENERATION-NUMBERED manifest
  * (`_CURRENT.<N>`) with a rename that FAILS if the target exists — a
  * compare-and-swap, so two drivers committing over one store can
  * never silently overwrite each other's manifest (the loser re-reads
  * and retries against the fresh state; its already-written data files
  * are reused). Readers resolve the highest generation. Orphan dirs
  * from a crash or a lost race are GC'd on a later commit, but only
  * after a grace window ([[gcGraceMs]]) so a concurrent writer's
  * not-yet-referenced files survive its in-flight commit. GC keeps
  * leaves referenced by the current OR the immediately-previous
  * manifest — one cycle of reader grace, so a reader holding a lazy
  * DataFrame over the prior snapshot survives one refresh. A plain
  * legacy `_CURRENT` file reads as generation 0.
  *
  * Each data dir is listed once per dir lifetime, not once per read:
  * building a parquet scan lists its dir, and a version dir's
  * `bucket=*` subdirs outnumber Spark's parallel-discovery threshold,
  * so every fresh scan would submit a listing job. The scan of each
  * `v*`/`d*` dir is memoized by name, like a catalog entry, and is
  * dropped when the dir leaves the manifest. That is safe because a
  * dir name (monotonic number + random suffix) is never reused; a dir
  * is written completely before any manifest references it and is
  * never rewritten; GC deletes only leaves and dirs that neither the
  * current nor the previous manifest references; and every read of a
  * version goes through the manifest's `bucket isin (...)` partition
  * filter, so a GC'd leaf is pruned before any file opens.
  */
class BucketedSnapshotStore(
    spark: SparkSession, path: String, numBuckets: Int = 64,
    maxDeltas: Int = 8, gcGraceMs: Long = 600000L) {

  require(numBuckets > 0, "numBuckets must be positive")

  private val root = new Path(path)
  private def fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val legacyPtr = new Path(root, "_CURRENT")

  /** The bucket count is part of the ON-DISK layout: it is stamped into
    * the manifest (`B <n>` header) at first commit and read back on
    * reopen, so changing the constructor/env value against an existing
    * store can NOT silently re-hash reads against the old leaf
    * assignment — the persisted value always wins. Cached only once a
    * manifest has been SEEN: before the first commit the configured
    * value is returned WITHOUT freezing, so an instance racing another
    * writer's initial commit adopts the winner's persisted count on
    * its next read instead of keeping a stale guess. */
  @volatile private var persistedBuckets: Option[Int] = None
  private def effectiveBuckets: Int = persistedBuckets.getOrElse {
    val fromDisk = currentGenAndBody().map(_._2).flatMap(parseBucketCount)
    fromDisk.foreach(b => persistedBuckets = Some(b))
    fromDisk.getOrElse(numBuckets)
  }

  private def bucketOf(c: Column): Column =
    pmod(xxhash64(c), lit(effectiveBuckets))

  // ------------------------------------------------------------ manifest

  /** buckets: live bucket → version dir; deltas: ordered log dirs. */
  private case class Manifest(buckets: Map[Long, String], deltas: Seq[String]) {
    def dirs: Set[String] = buckets.values.toSet ++ deltas
  }

  /** Raced a concurrent committer at the same generation — re-read and
    * recompute against the fresh manifest. */
  private class CommitConflictException(msg: String)
      extends RuntimeException(msg)

  private def parseBucketCount(s: String): Option[Int] =
    s.linesIterator.map(_.trim).find(_.startsWith("B "))
      .map(_.drop(2).trim.toInt)

  /** All manifest generations on disk, ascending; a legacy un-numbered
    * `_CURRENT` participates as generation 0. */
  private def manifestFiles(): Seq[(Long, Path)] = {
    val gens = Option(fs.globStatus(new Path(root, "_CURRENT.*"))).toSeq.flatten
      .flatMap { st =>
        val suffix = st.getPath.getName.stripPrefix("_CURRENT.")
        scala.util.Try(suffix.toLong).toOption.map(_ -> st.getPath)
      }
    val legacy = if (fs.exists(legacyPtr)) Seq(0L -> legacyPtr) else Nil
    (legacy ++ gens).sortBy(_._1)
  }

  private def readFile(p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Highest-generation manifest body. Retries a handful of times: the
    * max-gen file can vanish between the listing and the read when a
    * concurrent committer advances twice and prunes old generations. */
  private def currentGenAndBody(): Option[(Long, String)] = {
    var attempt = 0
    while (attempt < 5) {
      manifestFiles().lastOption match {
        case None => return None
        case Some((g, p)) =>
          try return Some((g, readFile(p)))
          catch { case _: java.io.FileNotFoundException => attempt += 1 }
      }
    }
    throw new IllegalStateException(
      s"manifest at $path kept vanishing mid-read (heavy concurrent churn)")
  }

  private def parseManifest(s: String): Manifest = {
    val lines = s.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    Manifest(
      lines.filterNot(l => l.startsWith("D ") || l.startsWith("B ")).map { line =>
        val Array(b, v) = line.split(' '); b.toLong -> v
      }.toMap,
      lines.filter(_.startsWith("D ")).map(_.drop(2)))
  }

  private def currentManifest: Option[(Long, Manifest)] =
    currentGenAndBody().map { case (g, s) => (g, parseManifest(s)) }

  /** Current (generation, manifest), or generation 0 and no data when
    * nothing is committed. */
  private def manifestOrEmpty: (Long, Manifest) =
    currentManifest.getOrElse((0L, Manifest(Map.empty, Nil)))

  /** Current (generation, manifest) for a read or a merge; throws when
    * nothing is committed. */
  private def manifestWithGen: (Long, Manifest) = {
    val gm = currentManifest.getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $path"))
    retainFor(gm._2)
    gm
  }

  private def manifest: Manifest = manifestWithGen._2

  /** CAS publish: write the body to a temp file, publish it as
    * `_CURRENT.<expectedGen+1>` atomically-failing-if-present — if
    * that generation already exists another writer won the race and
    * the caller must recompute ([[CommitConflictException]]). On
    * success, prune generations older than the previous one and GC
    * data dirs.
    *
    * Publish primitive by scheme: on local filesystems a HARD LINK
    * (`link(2)` fails with EEXIST atomically — Hadoop's local rename
    * without OVERWRITE is a non-atomic exists-check-then-renameTo,
    * which silently overwrites in the race window); on HDFS and
    * friends, rename-without-overwrite, which is atomic there. */
  private def commitManifest(m: Manifest, expectedGen: Long,
      prev: Manifest): Unit = {
    val body = (s"B $effectiveBuckets" +:
      (m.buckets.toSeq.sortBy(_._1).map { case (b, v) => s"$b $v" } ++
        m.deltas.map(d => s"D $d"))).mkString("\n")
    val tmp = new Path(root,
      s"_TMP.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val dest = new Path(root, s"_CURRENT.${expectedGen + 1}")
    val conflict: Boolean =
      if ("file" == Option(dest.toUri.getScheme).getOrElse(
          fs.getUri.getScheme)) {
        val tmpNio = java.nio.file.Paths.get(
          fs.makeQualified(tmp).toUri.getPath)
        val destNio = java.nio.file.Paths.get(
          fs.makeQualified(dest).toUri.getPath)
        try { java.nio.file.Files.createLink(destNio, tmpNio); false }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => true
        } finally java.nio.file.Files.deleteIfExists(tmpNio)
      } else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dest.toUri, spark.sparkContext.hadoopConfiguration)
        try { fc.rename(tmp, dest); false }
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            fs.delete(tmp, false); true
        }
      }
    if (conflict)
      throw new CommitConflictException(
        s"generation ${expectedGen + 1} already committed at $path")
    // keep dest and its predecessor (reader grace); prune older gens
    manifestFiles().filter(_._1 < expectedGen).foreach { case (_, p) =>
      fs.delete(p, false)
    }
    retainFor(m)
    gc(m, prev)
  }

  /** Optimistic-concurrency loop for mutators: on a CAS conflict the
    * body re-reads the fresh manifest and recomputes. Data files the
    * lost attempt already wrote are reused by the retry (mutators
    * memoize them) or GC'd after the grace window. */
  private def withCasRetry[T](what: String)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: CommitConflictException if attempt < 20 =>
          attempt += 1
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  /** Delete data dirs unreferenced by the current AND previous
    * manifests — but only once they outlive [[gcGraceMs]], so files a
    * CONCURRENT writer has staged but not yet published are never
    * swept from under its commit. */
  private def gc(current: Manifest, prev: Manifest): Unit = {
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val liveLeaves: Set[(String, Long)] =
      (current.buckets.toSeq ++ prev.buckets.toSeq)
        .map { case (b, v) => (v, b) }.toSet
    val liveDeltas = (current.deltas ++ prev.deltas).toSet
    Option(fs.globStatus(new Path(root, "v*"))).toSeq.flatten.foreach { vDir =>
      val v = vDir.getPath.getName
      Option(fs.globStatus(new Path(vDir.getPath, "bucket=*"))).toSeq.flatten
        .foreach { leaf =>
          val b = leaf.getPath.getName.stripPrefix("bucket=").toLong
          if (!liveLeaves.contains((v, b)) &&
              leaf.getModificationTime < cutoff)
            fs.delete(leaf.getPath, true)
        }
      if (Option(fs.globStatus(new Path(vDir.getPath, "bucket=*")))
            .forall(_.isEmpty) && vDir.getModificationTime < cutoff) {
        fs.delete(vDir.getPath, true)
        // a stage that was never committed is forgotten with its files
        stagedWith.remove(v)
      }
    }
    Option(fs.globStatus(new Path(root, "d*"))).toSeq.flatten
      .filter(st => !liveDeltas.contains(st.getPath.getName) &&
        st.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, true))
    // manifest temp files stranded by a crash between create and publish
    Option(fs.globStatus(new Path(root, "_TMP.*"))).toSeq.flatten
      .filter(_.getModificationTime < cutoff)
      .foreach(st => fs.delete(st.getPath, false))
  }

  // ------------------------------------------------------- dirs/versions

  /** Next data-dir name: monotonic number (driver-side listing — ≤ a
    * few dozen entries between GCs) plus a random suffix so two
    * concurrent writers picking the same number can never write into
    * each other's directory. */
  private def nextDirName(prefix: String): String = {
    val nums = Option(fs.globStatus(new Path(root, "{v,d}*"))).toSeq.flatten
      .map(_.getPath.getName.drop(1).takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong)
    val n = if (nums.isEmpty) 1L else nums.max + 1L
    s"$prefix$n-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Buckets actually written under a version dir (driver-side listing,
    * ≤ numBuckets entries). */
  private def bucketsIn(v: String): Seq[Long] =
    Option(fs.globStatus(new Path(new Path(root, v), "bucket=*"))).toSeq.flatten
      .map(_.getPath.getName.stripPrefix("bucket=").toLong)

  /** Bucket count each staged version was hashed with — checked at
    * commit so a racing initial commit with a DIFFERENT persisted
    * count can never publish leaves hashed against the wrong layout. */
  private val stagedWith =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Schema-fixed base scan of each data dir, built (and so listed)
    * once per dir lifetime — see the class doc for why a memoized
    * listing never serves stale or deleted files. */
  private val scans =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def scan(dir: String): DataFrame =
    scans.getOrElseUpdate(dir, spark.read
      .schema(if (dir.startsWith("v")) "id STRING, doc STRING, h BIGINT, bucket BIGINT"
        else "op STRING, id STRING, doc STRING, h BIGINT")
      .parquet(new Path(root, dir).toString))

  /** Once `m` is the manifest, a stage it commits needs no layout guard,
    * and scans of dirs it no longer references are dropped — except a
    * pending stage's (read by [[readVersion]] before its commit). Runs
    * on every commit and every manifest read, so a read-only instance
    * stays bounded too. */
  private def retainFor(m: Manifest): Unit = {
    val live = m.dirs
    live.foreach(stagedWith.remove)
    scans.keys.filterNot(d => live(d) || stagedWith.contains(d))
      .foreach(scans.remove)
  }

  /** Dirs whose scans are memoized. */
  private[refresh] def memoizedDirs: Set[String] = scans.keySet.toSet

  /** Staged versions not yet committed. */
  private[refresh] def pendingStages: Set[String] = stagedWith.keySet.toSet

  /** Write `df` (must be `(id, doc)`) as the next full version; returns
    * the version id. Does NOT move the pointer — call [[commit]]. */
  def stage(df: DataFrame): String = {
    val v = nextDirName("v")
    val buckets = effectiveBuckets
    stagedWith(v) = buckets
    // h is persisted so refresh diffs can scan (id, h) without ever
    // reading doc bytes — see [[readKeyed]]
    df.select("id", "doc")
      .withColumn("h", xxhash64(col("doc")))
      .withColumn("bucket", pmod(xxhash64(col("id")), lit(buckets)))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(new Path(root, v).toString)
    v
  }

  /** Guard for [[commit]]/bulk-load: the bucket count `v` was staged
    * with must still be the store's effective count at publish time. */
  private def requireStageLayout(v: String): Unit =
    stagedWith.get(v).foreach { b =>
      val now = effectiveBuckets
      if (b != now) throw new IllegalStateException(
        s"staged version $v was hashed into $b buckets but the store's " +
          s"persisted layout is $now (a concurrent initial commit won " +
          "with a different bucket count) — re-stage and retry")
    }

  /** Delete the whole store and publish an EMPTY committed snapshot
    * without staging any data (A16 recreate_index: delete + recreate).
    * The in-memory state tied to the deleted files goes with them: the
    * persisted bucket count, so the configured count is stamped afresh,
    * the memoized scans and the pending stages. The manifest is the one
    * a `commit(stage(emptyDF))` would publish (no buckets, no deltas),
    * minus the Spark write job an empty stage still costs: reads
    * resolve to the empty frame, the first merge bulk-loads. */
  private[graft] def recreate(): Unit = {
    if (fs.exists(root)) fs.delete(root, true)
    persistedBuckets = None
    scans.clear()
    stagedWith.clear()
    withCasRetry("recreate") {
      val (gen, prev) = manifestOrEmpty
      commitManifest(Manifest(Map.empty, Nil), gen, prev)
    }
  }

  /** Full-snapshot commit: every bucket present in `v` becomes current
    * and the delta log is cleared (a backfill / full refresh wrote the
    * complete view into `v`). */
  def commit(v: String): Unit = withCasRetry("commit") {
    val (gen, prev) = manifestOrEmpty
    requireStageLayout(v)
    commitManifest(Manifest(bucketsIn(v).map(_ -> v).toMap, Nil), gen, prev)
  }

  def readVersion(v: String): DataFrame = scan(v).select("id", "doc")

  /** Internal frames carry `(id, doc, h)`; the public readers project. */
  private def emptyFull: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", StringType),
        StructField("doc", StringType), StructField("h", LongType))))

  private def readLeaves(m: Map[Long, String]): DataFrame =
    if (m.isEmpty) emptyFull
    else {
      // one partitioned scan per VERSION dir (not per leaf), listed once
      // per dir; the isin on the partition column prunes to exactly the
      // manifest's buckets
      m.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, entries) =>
        scan(v)
          .filter(col("bucket").isin(entries.keys.toSeq: _*))
          .select("id", "doc", "h")
      }.reduce(_ unionByName _)
    }

  /** Latest-wins resolution of the delta log: one row per id from the
    * newest delta mentioning it. Deltas are change-volume-sized.
    * Within ONE delta file ids are unique by contract (a
    * [[mergeActions]] batch is a keyed diff — upsert and delete key
    * sets are disjoint and each id appears once), so a one-file log —
    * the steady state between compactions — reads with NO shuffle at
    * all; a stacked log resolves via a `max_by` hash aggregate, which
    * keeps map-side partial aggregation where the previous
    * row_number window forced a sort exchange (guide §2.3/§2.4). */
  private def latestDelta(deltas: Seq[String]): Option[DataFrame] =
    if (deltas.isEmpty) None
    else if (deltas.size == 1) Some(scan(deltas.head))
    else Some {
      deltas.zipWithIndex.map { case (d, i) =>
        scan(d).withColumn("_seq", lit(i))
      }.reduce(_ unionByName _)
        .groupBy(col("id"))
        .agg(max_by(struct(col("op"), col("doc"), col("h")),
          col("_seq")).as("_w"))
        .select(col("_w.op").as("op"), col("id"),
          col("_w.doc").as("doc"), col("_w.h").as("h"))
    }

  /** Base+delta merged view as `(id, doc, h)`. */
  private def mergeRead(base: DataFrame, deltas: Seq[String]): DataFrame =
    latestDelta(deltas) match {
      case None => base
      case Some(latest) =>
        base.join(latest.select("id"), Seq("id"), "left_anti")
          .unionByName(
            latest.filter(col("op") === "index").select("id", "doc", "h"))
    }

  private def currentFull: DataFrame = {
    val m = manifest
    mergeRead(readLeaves(m.buckets), m.deltas)
  }

  /** Current committed snapshot `(id, doc)`. */
  def read(): DataFrame = currentFull.select("id", "doc")

  /** Current snapshot as `(id, h)` with `h = xxhash64(doc)` — all a
    * refresh diff needs from the old side. Column-pruned: the doc
    * column never leaves parquet, so the per-refresh base scan is
    * ids+hashes only. */
  def readKeyed(): DataFrame = currentFull.select("id", "h")

  /** Partition-pruned scoped read as `(id, doc, h)`: only the buckets
    * `ids` hash into are opened (≤ numBuckets driver-side values —
    * bounded, not data-sized), and the delta log is filtered to `ids`. */
  private def scopedFull(ids: DataFrame): DataFrame = {
    val keyDf = ids.select("id")
    val touched = keyDf.select(bucketOf(col("id")).as("b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val m = manifest
    val base = readLeaves(m.buckets.view.filterKeys(touched).toMap)
      .join(keyDf, Seq("id"), "left_semi")
    latestDelta(m.deltas) match {
      case None => base
      case Some(latest) =>
        val scoped = latest.join(keyDf, Seq("id"), "left_semi")
        base.join(scoped.select("id"), Seq("id"), "left_anti")
          .unionByName(
            scoped.filter(col("op") === "index").select("id", "doc", "h"))
    }
  }

  /** Current snapshot restricted to `ids`. */
  def readScoped(ids: DataFrame): DataFrame =
    scopedFull(ids).select("id", "doc")

  /** [[readKeyed]] restricted to `ids`. */
  def readScopedKeyed(ids: DataFrame): DataFrame =
    scopedFull(ids).select("id", "h")

  /** Apply a diff batch `(op: "index"|"delete", id, doc)` to the
    * snapshot atomically: upserts replace, deletes vanish, untouched
    * rows stay. Each id appears AT MOST ONCE per batch — a batch is a
    * keyed diff ([[DiffRefresher]]: upsert and delete key sets are
    * disjoint, one row per id), and the delta log relies on it (it
    * resolves latest-wins ACROSS batches only).
    *
    * The point of this store: one delta-file append per batch — write
    * I/O ∝ change volume even when the changed ids hash into every
    * bucket. Compacts when the log reaches [[maxDeltas]] files, or
    * immediately when the base is empty (a bulk load lands straight in
    * bucketed form). A production store would add a byte/row-ratio
    * trigger from manifest statistics (as Iceberg snapshots carry);
    * raw dir sizes are dominated by per-file overhead at test scale, so
    * the count rule is the honest local proxy. */
  def mergeActions(actions: DataFrame): Unit = {
    // data files write ONCE and are memoized — a CAS retry republishes
    // them against the fresh manifest instead of rewriting
    var stagedBulk: Option[String] = None
    var writtenDelta: Option[String] = None
    withCasRetry("mergeActions") {
      val (gen, m) = manifestWithGen
      if (m.buckets.isEmpty && m.deltas.isEmpty) {
        // bulk load into an empty store: land directly in bucketed
        // form — one write, no delta hop (deletes against nothing are
        // dropped)
        // a retry may find the store's layout changed (a racing initial
        // commit won with a different bucket count) — re-stage then
        val v = stagedBulk
          .filter(sv => stagedWith.get(sv).forall(_ == effectiveBuckets))
          .getOrElse {
            val s = stage(actions.filter(col("op") === "index").select("id", "doc"))
            stagedBulk = Some(s); s
          }
        requireStageLayout(v)
        commitManifest(Manifest(bucketsIn(v).map(_ -> v).toMap, Nil), gen, m)
      } else {
        val d = writtenDelta.getOrElse {
          val name = nextDirName("d")
          actions.select("op", "id", "doc")
            .withColumn("h", xxhash64(col("doc")))
            .write.parquet(new Path(root, name).toString)
          writtenDelta = Some(name); name
        }
        val grown = Manifest(m.buckets, m.deltas :+ d)
        if (grown.deltas.size >= maxDeltas || m.buckets.isEmpty)
          compact(grown, gen, m)
        else commitManifest(grown, gen, m)
      }
    }
  }

  /** Fold the delta log into the base: rewrite ONLY the buckets the
    * delta ids hash into, clear the log, swap the manifest. Amortized
    * over the batches since the last compaction. */
  private def compact(m: Manifest, gen: Long, prev: Manifest): Unit = {
    latestDelta(m.deltas) match {
      case None => commitManifest(m, gen, prev)
      case Some(latest0) =>
        val latest = latest0.cache()
        try {
          val keyDf = latest.select("id")
          val touched = keyDf.select(bucketOf(col("id")).as("b")).distinct()
            .collect().map(_.getLong(0)).toSet
          val merged = readLeaves(m.buckets.view.filterKeys(touched).toMap)
            .join(keyDf, Seq("id"), "left_anti")
            .unionByName(
              latest.filter(col("op") === "index").select("id", "doc", "h"))
            .withColumn("bucket", bucketOf(col("id")))
          val v = nextDirName("v")
          merged.repartition(col("bucket"))
            .write.partitionBy("bucket").parquet(new Path(root, v).toString)
          commitManifest(Manifest(
            m.buckets -- touched ++ bucketsIn(v).map(_ -> v).toMap, Nil),
            gen, prev)
        } finally latest.unpersist()
    }
  }
}
