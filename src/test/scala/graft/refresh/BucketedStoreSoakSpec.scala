package graft.refresh

import java.nio.file.Files

import scala.util.Random

import graft.SparkSpec

/** Model-based soak of [[BucketedSnapshotStore]]: a scripted random
  * sequence of delta merges, scoped merges (an affected id set, some of
  * it re-upserted and the rest deleted), full commits and reopens is
  * applied both to the store and to a driver-side Map model; after
  * every step the store's full read, a scoped read and the keyed read
  * must agree with the model. Exercises delta stacking, latest-wins,
  * compaction boundaries (small maxDeltas), GC and manifest reopen. */
class BucketedStoreSoakSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)
  private val idSpace = (1 to 120).map(i => s"id-$i")

  private def docOf(id: String, round: Int) = s"""{"id":"$id","r":$round}"""

  test("random merge/commit/reopen sequence converges with the model at every step") {
    val dir = Files.createTempDirectory("graft-bucketed-soak").toString
    var store = new BucketedSnapshotStore(spark, dir, numBuckets = 8, maxDeltas = 3)
    val model = scala.collection.mutable.Map[String, String]()

    // initial backfill
    val init = idSpace.take(80).map(id => (id, docOf(id, 0)))
    store.commit(store.stage(init.toDF("id", "doc")))
    model ++= init

    def checkAgainstModel(step: Int): Unit = {
      val rows = store.read().as[(String, String)].collect()
      // unique-id invariant BEFORE collapsing to a map: a merge bug
      // leaving an id in both a base leaf and an uncleared delta would
      // otherwise hide behind toMap
      assert(rows.length == rows.map(_._1).distinct.length,
        s"step $step: duplicate ids in full read")
      val read = rows.toMap
      assert(read == model.toMap, s"step $step: full read diverged")
      // scoped read over a random probe set (mix of present + absent)
      val probe = rnd.shuffle(idSpace).take(10)
      val scoped = store.readScoped(probe.toDF("id"))
        .as[(String, String)].collect().toMap
      assert(scoped == probe.flatMap(id => model.get(id).map(id -> _)).toMap,
        s"step $step: scoped read diverged")
      // keyed read must hash exactly what the docs hash to
      val keyed = store.readKeyed().as[(String, Long)].collect().toMap
      val expected = store.read()
        .selectExpr("id", "xxhash64(doc) as h")
        .as[(String, Long)].collect().toMap
      assert(keyed == expected, s"step $step: keyed read diverged")
    }

    for (step <- 1 to 12) {
      rnd.nextInt(4) match {
        case 0 => // action merge: random upserts + deletes
          val ups = rnd.shuffle(idSpace).take(1 + rnd.nextInt(8))
            .map(id => ("index", id, docOf(id, step)))
          val dels = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .filterNot(id => ups.exists(_._2 == id))
            .map(id => ("delete", id, null: String))
          store.mergeActions((ups ++ dels).toDF("op", "id", "doc"))
          ups.foreach { case (_, id, d) => model(id) = d }
          dels.foreach { case (_, id, _) => model.remove(id) }
        case 1 => // scoped merge: affected set with some survivors
          val affected = rnd.shuffle(idSpace).take(1 + rnd.nextInt(6))
          val survivors = affected.filter(_ => rnd.nextBoolean())
            .map(id => (id, docOf(id, step)))
          val gone = affected.filterNot(id => survivors.exists(_._1 == id))
          store.mergeActions((survivors.map { case (id, d) => ("index", id, d) } ++
            gone.map(id => ("delete", id, null: String))).toDF("op", "id", "doc"))
          affected.foreach(model.remove)
          survivors.foreach { case (id, d) => model(id) = d }
        case 2 => // full snapshot replace
          val full = rnd.shuffle(idSpace).take(40 + rnd.nextInt(40))
            .map(id => (id, docOf(id, step)))
          store.commit(store.stage(full.toDF("id", "doc")))
          model.clear(); model ++= full
        case 3 => // reopen (fresh instance, even with a lying bucket count)
          store = new BucketedSnapshotStore(spark, dir,
            numBuckets = 1 + rnd.nextInt(16), maxDeltas = 1 + rnd.nextInt(4))
      }
      checkAgainstModel(step)
    }
  }

  test("two concurrent writers over one store lose no update (CAS commit)") {
    // Two independent STORE INSTANCES (per-instance synchronization
    // can't help) hammer disjoint id ranges concurrently; the CAS
    // manifest swap must serialize their commits so every final write
    // survives. Default gcGraceMs keeps in-flight files safe.
    val dir = Files.createTempDirectory("graft-bucketed-cas").toString
    val a = new BucketedSnapshotStore(spark, dir, numBuckets = 4, maxDeltas = 3)
    val b = new BucketedSnapshotStore(spark, dir, numBuckets = 4, maxDeltas = 3)
    a.commit(a.stage(Seq(("seed", """{"v":"0"}""")).toDF("id", "doc")))

    val rounds = 6
    def writer(store: BucketedSnapshotStore, tag: String): Thread = {
      val t = new Thread(() => {
        for (r <- 1 to rounds) {
          store.mergeActions(
            Seq(("index", s"$tag-$r", s"""{"v":"$tag-$r"}"""))
              .toDF("op", "id", "doc"))
        }
      })
      t.start(); t
    }
    val (ta, tb) = (writer(a, "a"), writer(b, "b"))
    ta.join(120000); tb.join(120000)
    assert(!ta.isAlive && !tb.isAlive, "writers did not finish")

    val docs = new BucketedSnapshotStore(spark, dir, numBuckets = 4)
      .read().as[(String, String)].collect().toMap
    (1 to rounds).foreach { r =>
      assert(docs.contains(s"a-$r"), s"lost a-$r: ${docs.keySet.toSeq.sorted}")
      assert(docs.contains(s"b-$r"), s"lost b-$r: ${docs.keySet.toSeq.sorted}")
    }
    docs("seed") shouldBe """{"v":"0"}"""
  }
}
