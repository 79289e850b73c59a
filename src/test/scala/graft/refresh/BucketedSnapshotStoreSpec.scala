package graft.refresh

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpec
import graft.sink.BucketedParquetIndex

/** The 100 TB property of [[BucketedSnapshotStore]]: a merge appends one
  * change-volume-sized delta file — base bucket files stay physically
  * untouched (same paths, same bytes) — reads resolve latest-wins
  * through the manifest, and compaction folds the log into only the
  * touched buckets. */
class BucketedSnapshotStoreSpec extends SparkSpec {
  import spark.implicits._

  /** parquet data files under base version dirs, rel-path → (size, mtime). */
  private def baseFiles(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val out = scala.collection.mutable.Map[String, (Long, Long)]()
    java.nio.file.Files.walk(root).forEach { p =>
      val rel = root.relativize(p).toString
      if (rel.startsWith("v") && rel.contains("bucket=") && rel.endsWith(".parquet"))
        out(rel) = (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }
    out.toMap
  }

  private def deltaDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(n => n.startsWith("d")).sorted

  /** A keyed diff batch: `upserts` as index actions, `deletes` as
    * delete actions. */
  private def acts(upserts: Seq[(String, String)], deletes: Seq[String] = Nil) =
    (upserts.map { case (id, doc) => ("index", id, doc) } ++
      deletes.map(id => ("delete", id, null: String))).toDF("op", "id", "doc")

  private def snap(n: Int, tag: String) =
    (1 to n).map(i => (s"id-$i", s"""{"v":"$tag-$i"}""")).toDF("id", "doc")

  test("small merge appends one delta; every base file stays untouched") {
    val dir = Files.createTempDirectory("graft-bucketed").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 16)
    store.commit(store.stage(snap(2000, "a")))
    val before = baseFiles(dir)
    assert(before.nonEmpty)

    // touch 3 ids: 2 updated, 1 deleted
    store.mergeActions(acts(
      Seq(("id-1", """{"v":"b-1"}"""), ("id-2", """{"v":"b-2"}""")),
      deletes = Seq("id-3")))

    // the base is byte-identical — the merge wrote only a delta
    assert(baseFiles(dir) == before, "base bucket files were rewritten")
    assert(deltaDirs(dir).nonEmpty)

    val docs = store.read().as[(String, String)].collect().toMap
    assert(docs.size == 1999)
    assert(docs("id-1") == """{"v":"b-1"}""")
    assert(docs("id-2") == """{"v":"b-2"}""")
    assert(!docs.contains("id-3"))
    assert(docs("id-4") == """{"v":"a-4"}""")
  }

  test("latest-wins across stacked deltas, then compaction rewrites only touched buckets") {
    val dir = Files.createTempDirectory("graft-bucketed2").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 16, maxDeltas = 3)
    store.commit(store.stage(snap(2000, "a")))
    val before = baseFiles(dir)

    // two delta merges to the SAME id: latest must win on read
    store.mergeActions(acts(Seq(("id-5", """{"v":"r1"}"""))))
    store.mergeActions(acts(Seq(("id-5", """{"v":"r2"}"""))))
    assert(store.read().as[(String, String)].collect().toMap
      .apply("id-5") == """{"v":"r2"}""")
    assert(baseFiles(dir) == before)

    // third merge hits maxDeltas → compaction: only id-5's bucket moves
    store.mergeActions(acts(Seq(("id-5", """{"v":"r3"}"""))))
    val after = baseFiles(dir)
    val carried = after.keySet.intersect(before.keySet)
    carried.foreach { f => assert(after(f) == before(f), s"file $f was rewritten") }
    // one id → exactly one bucket rewritten into a new version dir
    assert(before.keySet.diff(after.keySet).size <= 1, "more than one bucket replaced")
    assert(after.keySet.diff(before.keySet).size >= 1, "no compacted bucket written")

    val docs = store.read().as[(String, String)].collect().toMap
    assert(docs.size == 2000)
    assert(docs("id-5") == """{"v":"r3"}""")
  }

  test("readScoped prunes to touched buckets and sees through the delta log") {
    val dir = Files.createTempDirectory("graft-bucketed3").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    store.commit(store.stage(snap(100, "a")))
    store.mergeActions(acts(Seq(("id-7", """{"v":"n-7"}"""))))
    val scoped = store.readScoped(Seq("id-7", "id-8").toDF("id"))
      .as[(String, String)].collect().toMap
    assert(scoped == Map("id-7" -> """{"v":"n-7"}""", "id-8" -> """{"v":"a-8"}"""))

    // a later full stage+commit replaces every manifest entry and clears the log
    store.commit(store.stage(snap(50, "c")))
    assert(store.read().count() == 50)
    assert(store.read().as[(String, String)].collect().toMap
      .apply("id-9") == """{"v":"c-9"}""")
  }

  test("repeated merges stay GC-bounded and converge") {
    val dir = Files.createTempDirectory("graft-bucketed4").toString
    // gcGraceMs=0: single-writer test wants immediate GC so the bound
    // below is meaningful (production default keeps a grace window for
    // concurrent writers' in-flight files)
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 4,
      maxDeltas = 2, gcGraceMs = 0L)
    store.commit(store.stage(snap(40, "a")))
    for (round <- 1 to 6) {
      store.mergeActions(acts(Seq(("id-1", s"""{"v":"r-$round"}"""))))
    }
    assert(store.read().count() == 40)
    assert(store.read().as[(String, String)].collect().toMap
      .apply("id-1") == """{"v":"r-6"}""")
    val dirs = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.startsWith("v") || n.startsWith("d"))
    assert(dirs.length <= 8, s"stale dirs not GC'd: ${dirs.toSeq.sorted}")
  }

  test("bucket count is stamped on disk; a mismatched reopen keeps the layout's value") {
    val dir = Files.createTempDirectory("graft-bucketed6").toString
    new BucketedSnapshotStore(spark, dir, numBuckets = 8)
      .commit(new BucketedSnapshotStore(spark, dir, numBuckets = 8).stage(snap(200, "a")))
    // reopen with a DIFFERENT configured count: the persisted 8 wins, so
    // pruned reads still hash against the on-disk leaf assignment
    val reopened = new BucketedSnapshotStore(spark, dir, numBuckets = 2)
    reopened.readScoped(Seq("id-7").toDF("id"))
      .as[(String, String)].collect().toSeq shouldBe Seq(("id-7", """{"v":"a-7"}"""))
    reopened.mergeActions(acts(Seq(("id-7", """{"v":"n-7"}"""))))
    reopened.read().count() shouldBe 200
    reopened.readScoped(Seq("id-7").toDF("id"))
      .as[(String, String)].collect().toSeq shouldBe Seq(("id-7", """{"v":"n-7"}"""))
  }

  test("keyed diff against the PERSISTED hash equals the doc-reading diff") {
    // guards the write-time-hash / read-time-hash contract: readKeyed
    // serves h stamped into the leaves and deltas, and a refresh diff
    // against it must emit exactly what hashing the docs fresh would
    val dir = Files.createTempDirectory("graft-bucketed-keyed").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 4, maxDeltas = 2)
    store.commit(store.stage(snap(50, "a")))
    // stack a delta so readKeyed crosses base AND log
    store.mergeActions(acts(Seq(("id-3", """{"v":"d-3"}"""))))
    val newSnap = ((4 to 52).map(i => (s"id-$i", s"""{"v":"a-$i"}""")) :+
      (("id-3", """{"v":"n-3"}"""))).toDF("id", "doc")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    val keyed = norm(DiffRefresher.diffKeyed(store.readKeyed(), newSnap))
    val plain = norm(DiffRefresher.diff(store.read(), newSnap))
    keyed shouldBe plain
    keyed.map(_._2) should contain allOf ("id-1", "id-2", "id-3", "id-51")
  }

  test("merge that empties a bucket removes it after compaction") {
    val dir = Files.createTempDirectory("graft-bucketed5").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 2, maxDeltas = 1)
    store.commit(store.stage(Seq(("only", "{}")).toDF("id", "doc")))
    store.mergeActions(acts(Nil, deletes = Seq("only")))
    assert(store.read().count() == 0)
    assert(store.readScoped(Seq("only").toDF("id")).count() == 0)
  }

  /** Descriptions of the Spark jobs submitted while `build` runs on this
    * thread — used to build (not execute) a frame. Jobs of other threads
    * never count: they lack this thread's probe property. */
  private def jobsWhile(build: => Any): Seq[String] = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty("graft.probe") == token))
          seen.add(props.flatMap(p => Option(p.getProperty(
            "spark.job.description"))).getOrElse(
            js.stageInfos.headOption.map(_.name).getOrElse("")))
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.probe", token)
    try { build; ListenerBusDrain(sc) }
    finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }

  /** Spark's parallel partition discovery: a dir with more subdirs than
    * `parallelPartitionDiscovery.threshold` (32) is listed by a job. */
  private def listingJobs(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("Listing leaf files"))

  /** Data dirs the newest on-disk manifest references. */
  private def manifestDirs(dir: String): Set[String] = {
    val newest = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("_CURRENT."))
      .maxBy(_.getName.stripPrefix("_CURRENT.").toLong)
    scala.io.Source.fromFile(newest, "UTF-8").getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("B ")).map(_.split(' ')(1)).toSet
  }

  private def rows(df: DataFrame): Map[String, String] =
    df.as[(String, String)].collect().toMap

  test("a 64-bucket version dir is listed once: rebuilding a read submits no job") {
    val dir = Files.createTempDirectory("graft-bucketed-listing").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 64, maxDeltas = 3)
    store.commit(store.stage(snap(2000, "a")))

    // the first read lists the 64 bucket dirs; a second build reuses it
    listingJobs(jobsWhile(store.readKeyed())) should have size 1
    jobsWhile(store.readKeyed()) shouldBe empty

    // a delta-only merge adds a small, unpartitioned dir: no job either
    store.mergeActions(acts(Seq(("id-1", """{"v":"b-1"}"""))))
    jobsWhile(store.readKeyed()) shouldBe empty
    val ids = Seq("id-1", "id-2").toDF("id")
    // the scoped read collects the buckets `ids` hash into (its one job)
    listingJobs(jobsWhile(store.readScopedKeyed(ids))) shouldBe empty

    // a compaction rewriting every bucket writes a new version dir: the
    // first read after it lists that dir, exactly once
    store.mergeActions(acts((1 to 2000).map(i => (s"id-$i", s"""{"v":"c-$i"}"""))))
    store.mergeActions(acts(Seq(("id-2", """{"v":"d-2"}"""))))
    deltaDirs(dir).filter(manifestDirs(dir)) shouldBe empty
    val afterCompaction = jobsWhile(store.readKeyed())
    afterCompaction should have size 1
    listingJobs(afterCompaction) should have size 1
    jobsWhile(store.readKeyed()) shouldBe empty

    val docs = rows(store.read())
    docs.size shouldBe 2000
    docs("id-1") shouldBe """{"v":"c-1"}"""
    docs("id-2") shouldBe """{"v":"d-2"}"""
  }

  test("memoized scans never serve stale or deleted files") {
    val dir = Files.createTempDirectory("graft-bucketed-memo").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 8,
      maxDeltas = 2, gcGraceMs = 0L)
    store.commit(store.stage(snap(200, "a")))
    val model = scala.collection.mutable.Map[String, String]() ++= rows(snap(200, "a"))
    val firstVersion = manifestDirs(dir).head
    def leaves(v: String): Int =
      new java.io.File(dir, v).listFiles().count(_.getName.startsWith("bucket="))
    leaves(firstVersion) shouldBe 8

    def check(what: String, s: BucketedSnapshotStore): Unit = {
      withClue(s"$what, read: ")(rows(s.read()) shouldBe model.toMap)
      val keyed = s.readKeyed().as[(String, Long)].collect().toMap
      val expected = model.toSeq.toDF("id", "doc")
        .selectExpr("id", "xxhash64(doc)").as[(String, Long)].collect().toMap
      withClue(s"$what, readKeyed: ")(keyed shouldBe expected)
      val probe = Seq("id-1", "id-2", "id-3", "id-77", "id-404")
      withClue(s"$what, readScoped: ")(
        rows(s.readScoped(probe.toDF("id"))) shouldBe
          probe.flatMap(id => model.get(id).map(id -> _)).toMap)
    }
    def merge(s: BucketedSnapshotStore, round: Int, ids: Seq[String]): Unit = {
      val ups = ids.map(id => (id, s"""{"v":"r$round-$id"}"""))
      s.mergeActions(acts(ups))
      model ++= ups
    }

    // every merge rewrites id-1 only: each compaction supersedes one leaf
    // of the first version, and GC deletes that leaf one commit later
    // while the version — memoized — still serves its other buckets
    check("backfill", store)
    for (round <- 1 to 5) {
      merge(store, round, Seq("id-1"))
      check(s"round $round", store)
    }
    leaves(firstVersion) should be < 8
    manifestDirs(dir) should contain(firstVersion)
    store.memoizedDirs should contain(firstVersion)

    // a second instance over the same path merges and compacts; the
    // first instance's next read shows that state
    val other = new BucketedSnapshotStore(spark, dir, numBuckets = 8,
      maxDeltas = 2, gcGraceMs = 0L)
    merge(other, 6, (1 to 200 by 3).map(i => s"id-$i"))
    merge(other, 7, Seq("id-2", "id-3"))
    check("after a second writer", store)

    // after many compactions, only the current manifest's dirs are held
    for (round <- 8 to 14) merge(store, round, Seq(s"id-$round", "id-1"))
    check("after compactions", store)
    store.memoizedDirs shouldBe manifestDirs(dir)
  }

  test("a staged version leaves the pending set once committed or GC'd") {
    val dir = Files.createTempDirectory("graft-bucketed-staged").toString
    val store = new BucketedSnapshotStore(spark, dir, numBuckets = 4, gcGraceMs = 0L)
    for (round <- 1 to 3) {
      val v = store.stage(snap(20, s"r$round"))
      store.pendingStages shouldBe Set(v)
      store.readVersion(v).count() shouldBe 20
      store.commit(v)
      store.pendingStages shouldBe empty
    }
    // a stage that is never committed (say, its sink load failed) goes
    // once GC deletes its files
    val abandoned = store.stage(snap(20, "x"))
    val v = store.stage(snap(30, "y"))
    store.pendingStages shouldBe Set(abandoned, v)
    store.commit(v)
    store.pendingStages shouldBe empty
    store.read().count() shouldBe 30
  }

  test("recreate stamps the configured bucket count, not a count read before") {
    val dir = Files.createTempDirectory("graft-bucketed-recreate").toString
    val old = new BucketedSnapshotStore(spark, dir, numBuckets = 8)
    old.commit(old.stage(snap(50, "a")))
    val mapping = StructType(Seq(StructField("v", StringType)))
    val index = new BucketedParquetIndex(spark, "recreate", mapping, dir, numBuckets = 16)
    // a scoped read resolves (and caches) the persisted count, 8
    index.get("id-7") shouldBe Some("""{"v":"a-7"}""")
    index.recreate()
    manifestDirs(dir) shouldBe empty
    val header = new java.io.File(dir).listFiles().toSeq
      .filter(_.getName.startsWith("_CURRENT."))
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
      .filter(_.startsWith("B "))
    header shouldBe Seq("B 16")
    index.count() shouldBe 0
    index.applyActions(acts(snap(50, "b").as[(String, String)].collect().toSeq))
    index.get("id-7") shouldBe Some("""{"v":"b-7"}""")
    index.count() shouldBe 50
  }
}
