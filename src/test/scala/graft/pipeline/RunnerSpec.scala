package graft.pipeline

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.ChangeEvent
import graft.refresh.BucketedSnapshotStore
import graft.sink.InMemoryIndex
import graft.views.SchoolViews

/** Runner orchestration semantics (reference: src/sinker/runner.py):
  * parallel backfill fan-out, dirty-view detection, change-storm
  * coalescing, error surfacing, idle ticks, config load, key-scoped
  * routing, and concurrent refresh of several dirty views in one tick. */
class RunnerSpec extends SparkSpec {

  import spark.implicits._

  private val nameMapping = StructType(Seq(StructField("name", StringType)))
  private def tmp(): String = Files.createTempDirectory("graft-runner").toString

  private def mkEvent(table: String, op: String = "UPDATE", id: String = "p-1") =
    ChangeEvent("public", table, op, id, None, "0/1", 1L)

  test("config loader reads views_to_indices.json (A18)") {
    val f = Files.createTempFile("v2i", ".json")
    Files.writeString(f, """{"person_mv": "people", "course_mv": "courses"}""")
    PipelineConfig.loadViewsToIndices(f.toString) shouldBe
      Map("person_mv" -> "people", "course_mv" -> "courses")
  }

  test("backfill fan-out, dirty detection, coalescing, idle ticks") {
    var person = Seq(("p-1", "John"), ("p-2", "Loren")).toDF("id", "name")
    val computes1 = new AtomicInteger(0)
    val computes2 = new AtomicInteger(0)
    val sink1 = new InMemoryIndex("people", nameMapping)
    val sink2 = new InMemoryIndex("people_copy", nameMapping)
    val p1 = new Pipeline("person_mv", "person", Set("person"),
      () => { computes1.incrementAndGet(); SchoolViews.personMv(person) },
      new BucketedSnapshotStore(spark, tmp()), sink1)
    val p2 = new Pipeline("person_copy_mv", "person", Set("person", "extra"),
      () => { computes2.incrementAndGet(); SchoolViews.personMv(person) },
      new BucketedSnapshotStore(spark, tmp()), sink2)
    val feed = new InMemoryChangeFeed
    val runner = new Runner(Seq(p1, p2), feed)

    runner.backfillAll() shouldBe Map("person_mv" -> 2, "person_copy_mv" -> 2)
    sink1.get("p-1").get should include("John")

    // idle tick: nothing drained, nothing refreshed
    runner.iterate() shouldBe Map.empty

    // change storm on person: 3 row events -> ONE refresh per dirty view
    person = person.withColumn("name",
      org.apache.spark.sql.functions.when($"id" === "p-1", "Jane")
        .otherwise($"name"))
    feed.append(mkEvent("person"), mkEvent("person"), mkEvent("person"))
    val c1 = computes1.get(); val c2 = computes2.get()
    runner.iterate() shouldBe Map("person_mv" -> 1, "person_copy_mv" -> 1)
    computes1.get() - c1 shouldBe 1
    computes2.get() - c2 shouldBe 1
    sink1.get("p-1").get should include("Jane")
    sink2.get("p-1").get should include("Jane")

    // change on a table only p2 reads -> only p2 refreshes (no-op diff)
    feed.append(mkEvent("extra"))
    runner.iterate() shouldBe Map("person_copy_mv" -> 0)
  }

  test("setup errors surface from backfillAll (test_e2e.py:49-57)") {
    val failingSink = new InMemoryIndex("down", nameMapping) {
      override protected def doApply(a: org.apache.spark.sql.DataFrame): Unit =
        throw new IllegalStateException("sink unreachable: Boom!")
    }
    val person = Seq(("p-1", "John")).toDF("id", "name")
    val pipe = new Pipeline("person_mv", "person", Set("person"),
      () => SchoolViews.personMv(person),
      new BucketedSnapshotStore(spark, tmp()), failingSink)
    val e = intercept[IllegalStateException](
      new Runner(Seq(pipe), new InMemoryChangeFeed).backfillAll())
    e.getMessage should include("Boom!")
  }

  test("worker errors surface from iterate (test_e2e.py:35-46)") {
    val boom = new Pipeline("boom_mv", "t", Set("t"),
      () => throw new IllegalStateException("Boom!"),
      new BucketedSnapshotStore(spark, tmp()),
      new InMemoryIndex("boom", nameMapping))
    val feed = new InMemoryChangeFeed
    feed.append(mkEvent("t"))
    val e = intercept[IllegalStateException](new Runner(Seq(boom), feed).iterate())
    e.getMessage shouldBe "Boom!"
  }

  test("a scopable batch key-scopes the refresh and never runs the full compute") {
    var person = Seq(("p-1", "John"), ("p-2", "Loren")).toDF("id", "name")
    val fullCalls = new AtomicInteger(0)
    val scopedCalls = new AtomicInteger(0)
    val sink = new InMemoryIndex("people_scoped", nameMapping)
    def scoped(events: Seq[ChangeEvent]) = {
      scopedCalls.incrementAndGet()
      val ids = events.map(_.id)
      val aff = person.filter($"id".isin(ids: _*)).select($"id")
      (aff, SchoolViews.personMv(person.filter($"id".isin(ids: _*))))
    }
    val pipe = new Pipeline("person_mv", "person", Set("person"),
      () => { fullCalls.incrementAndGet(); SchoolViews.personMv(person) },
      new BucketedSnapshotStore(spark, tmp()), sink,
      scopedCompute = Some(scoped))
    val feed = new InMemoryChangeFeed
    val runner = new Runner(Seq(pipe), feed)
    runner.backfillAll() shouldBe Map("person_mv" -> 2)
    val fullAfterBackfill = fullCalls.get()

    person = Seq(("p-1", "Jane"), ("p-2", "Loren")).toDF("id", "name")
    feed.append(mkEvent("person", id = "p-1"))
    runner.iterate() shouldBe Map("person_mv" -> 1)
    sink.get("p-1").get should include("Jane")
    scopedCalls.get() shouldBe 1
    fullCalls.get() shouldBe fullAfterBackfill // stayed on the scoped path
  }

  test("one tick refreshes two dirty pipelines concurrently (A13)") {
    var person = Seq(("p-1", "John")).toDF("id", "name")
    val active = new AtomicInteger(0)
    val maxActive = new AtomicInteger(0)
    def slowCompute() = {
      val now = active.incrementAndGet()
      maxActive.getAndUpdate(m => math.max(m, now))
      try { Thread.sleep(400); SchoolViews.personMv(person) }
      finally active.decrementAndGet()
    }
    val sinkA = new InMemoryIndex("par_a", nameMapping)
    val sinkB = new InMemoryIndex("par_b", nameMapping)
    val pa = new Pipeline("a_mv", "person", Set("person"),
      () => slowCompute(), new BucketedSnapshotStore(spark, tmp()), sinkA)
    val pb = new Pipeline("b_mv", "person", Set("person"),
      () => slowCompute(), new BucketedSnapshotStore(spark, tmp()), sinkB)
    val feed = new InMemoryChangeFeed
    val runner = new Runner(Seq(pa, pb), feed)
    runner.backfillAll()
    maxActive.set(0)

    person = Seq(("p-1", "Jane")).toDF("id", "name")
    feed.append(mkEvent("person"))
    runner.iterate() shouldBe Map("a_mv" -> 1, "b_mv" -> 1)
    sinkA.get("p-1").get should include("Jane")
    sinkB.get("p-1").get should include("Jane")
    // the two view recomputes overlapped inside one tick
    maxActive.get() shouldBe 2
  }
}
