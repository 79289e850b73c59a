package graft.refresh

import java.nio.file.Files

import graft.SparkSpec

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
}
