package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.pipeline.{PgSlotFeed, Pipeline, Runner}
import graft.refresh.BucketedSnapshotStore
import graft.sink.InMemoryIndex
import graft.views.SchoolViews

/** In-memory stand-in for a Postgres replication slot: an append-only
  * WAL line log with a confirmed-LSN cursor, implementing exactly the
  * [[SlotConnection]] calls the feed makes. Lets the FULL stack —
  * source → decode → route → refresh → sink — run without a Postgres
  * in the environment. */
class StubSlotConnection extends SlotConnection {
  private val log = scala.collection.mutable.ArrayBuffer[WalLine]()
  private var confirmed = 0
  private var exists = false
  var advances: List[String] = Nil

  def append(lines: WalLine*): Unit = synchronized { log ++= lines }
  def unconfirmedCount: Int = synchronized(log.size - confirmed)

  override def slotExists(slot: String): Boolean = synchronized(exists)
  override def createSlot(slot: String): Unit = synchronized {
    exists = true; confirmed = log.size
  }
  override def dropSlot(slot: String): Unit = synchronized { exists = false }
  override def peekChanges(slot: String): Seq[WalLine] =
    synchronized(log.drop(confirmed).toSeq)
  override def getChanges(slot: String): Seq[WalLine] = synchronized {
    val out = log.drop(confirmed).toSeq; confirmed = log.size; out
  }
  override def advance(slot: String, lsn: String): Unit = synchronized {
    advances ::= lsn
    val i = log.indexWhere(_.lsn == lsn, confirmed)
    if (i >= 0) confirmed = i + 1
  }
  override def close(): Unit = ()
}

/** The reference's slot-drain path (bulk_action_generator.py:28-58,
  * runner.py:56-64) rebuilt as a [[PgSlotFeed]] and driven end-to-end:
  * stub slot → WalDecoder → Runner dirty routing → diff refresh →
  * strict sink. WAL fixtures are the exact sample lines the reference
  * documents (src/sinker/sinker.py:113-119). */
class PgSlotFeedSpec extends SparkSpec {
  import spark.implicits._

  private val nameMapping = StructType(Seq(StructField("name", StringType)))
  private def tmp(): String = Files.createTempDirectory("graft-pgslot").toString

  private def personLine(lsn: String, xid: Long, id: String, op: String = "UPDATE") =
    WalLine(xid, lsn, s"table public.person: $op: id[text]:'$id'")

  test("reference sample WAL lines: only the row-level event decodes") {
    val conn = new StubSlotConnection
    val feed = new PgSlotFeed(conn, "sinker_slot")
    feed.resetSlot()
    // verbatim from the reference's comment block (sinker.py:113-119)
    conn.append(
      WalLine(17393, "0/24EDA4D8", "BEGIN 17393"),
      WalLine(17393, "0/24EDA4D8",
        """table public."Foo": DELETE: id[text]:'91754ea9-2983-4cf7-bdf9-fc23d2386d90'"""),
      WalLine(17393, "0/24EDC1B0", "COMMIT 17393"),
      WalLine(17394, "0/24EDC228", "BEGIN 17394"),
      WalLine(17394, "0/24EF0D60", "table sinker.foo_mv: DELETE: (no-tuple-data)"),
      WalLine(17394, "0/24EF4718", "COMMIT 17394"))
    val events = feed.drain()
    events.map(e => (e.schema, e.table, e.op, e.id)) shouldBe Seq(
      ("public", "Foo", "DELETE", "91754ea9-2983-4cf7-bdf9-fc23d2386d90"))
  }

  test("deferred LSN commit: advance happens on the NEXT drain, requeue cancels it") {
    val conn = new StubSlotConnection
    val feed = new PgSlotFeed(conn, "sinker_slot")
    feed.resetSlot()
    conn.append(personLine("0/10", 1, "p-1"))

    val batch1 = feed.drain()
    batch1.map(_.id) shouldBe Seq("p-1")
    // not yet committed: a crash here must replay
    conn.advances shouldBe Nil
    conn.unconfirmedCount shouldBe 1

    // successful tick -> next drain commits batch1 first
    conn.append(personLine("0/20", 2, "p-2"))
    val batch2 = feed.drain()
    batch2.map(_.id) shouldBe Seq("p-2")
    conn.advances shouldBe List("0/10")
    conn.unconfirmedCount shouldBe 1

    // failed tick: requeue cancels the pending commit -> batch2 replays
    feed.requeue(batch2)
    conn.append(personLine("0/30", 3, "p-3"))
    val batch3 = feed.drain()
    batch3.map(_.id) shouldBe Seq("p-2", "p-3")
    conn.advances shouldBe List("0/10") // no new advance for the failed batch
  }

  test("full stack: slot lines drive refresh through decode/route/diff/sink") {
    var person = Seq(("p-1", "John"), ("p-2", "Loren")).toDF("id", "name")
    val sink = new InMemoryIndex("people_slot", nameMapping)
    val pipe = new Pipeline("person_mv", "person", Set("person"),
      () => SchoolViews.personMv(person),
      new BucketedSnapshotStore(spark, tmp()), sink)
    val conn = new StubSlotConnection
    val feed = new PgSlotFeed(conn, "sinker_slot")
    val runner = new Runner(Seq(pipe), feed)

    // reference startup order: slot created around setup/backfill
    feed.resetSlot()
    runner.backfillAll() shouldBe Map("person_mv" -> 2)
    runner.iterate() shouldBe Map.empty // idle: no slot traffic

    // an UPDATE lands in the WAL; the view recomputes and the sink converges
    person = Seq(("p-1", "Jane"), ("p-2", "Loren")).toDF("id", "name")
    conn.append(personLine("0/100", 10, "p-1"))
    runner.iterate() shouldBe Map("person_mv" -> 1)
    sink.get("p-1").get should include("Jane")

    // a parent DELETE propagates as a sink delete
    person = person.filter($"id" =!= "p-1")
    conn.append(personLine("0/200", 11, "p-1", op = "DELETE"))
    runner.iterate() shouldBe Map("person_mv" -> 1)
    sink.get("p-1") shouldBe None
    sink.count() shouldBe 1

    // transient tick failure: the batch requeues (LSN not advanced),
    // the slot replays it, and the retry converges
    person = Seq(("p-2", "Lauren")).toDF("id", "name")
    conn.append(personLine("0/300", 12, "p-2"))
    val wedge = new java.util.concurrent.atomic.AtomicBoolean(true)
    val failingPipe = new Pipeline("boom_mv", "person", Set("person"),
      () => {
        if (wedge.get) throw new IllegalStateException("transient compute failure")
        throw new IllegalStateException("unreachable")
      },
      new BucketedSnapshotStore(spark, tmp()),
      new InMemoryIndex("boom_slot", nameMapping))
    intercept[IllegalStateException](new Runner(Seq(failingPipe), feed).iterate())
    wedge.set(false)
    runner.iterate() shouldBe Map("person_mv" -> 1)
    sink.get("p-2").get should include("Lauren")
  }
}
