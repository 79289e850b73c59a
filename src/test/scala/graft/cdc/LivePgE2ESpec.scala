package graft.cdc

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.sys.process._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** LIVE end-to-end against a REAL Postgres — the carried verdict item
  * ("no packet has ever crossed a real wire"): this suite bootstraps
  * its own Postgres server (initdb → wal_level=logical → pg_ctl) and
  * drives the reference's e2e shapes (tests/test_e2e.py:99-171 rename
  * cascade + delete shrink, in miniature) through the engine's ACTUAL
  * slot machinery: [[PsqlSlotConnection]] → real
  * `pg_logical_slot_peek_changes` output → [[WalDecoder]] →
  * [[graft.pipeline.PgSlotFeed]] deferred-LSN lifecycle →
  * [[graft.pipeline.Runner.iterate]] → sink.
  *
  * Environment-gated: when the Postgres binaries are absent or the
  * server cannot start (e.g. no `postgres` OS user), every test is
  * CANCELED (assume), not silently passed. The wire contracts stay
  * pinned by JdbcSlotContractSpec either way; this suite adds the
  * real-server evidence when the environment allows it.
  */
class LivePgE2ESpec extends SparkSpec with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("graft-livepg").toString
  private val port = 54333
  private var up = false
  private var bootErr = "not attempted"

  private def have(bin: String): Boolean =
    Seq("bash", "-c", s"command -v $bin >/dev/null").! == 0

  /** Postgres refuses to run as root; route server-side commands
    * through the `postgres` OS user when we are root. */
  private def asPg(cmd: String): Int =
    if (System.getProperty("user.name") == "root")
      Seq("runuser", "-u", "postgres", "--", "bash", "-c", cmd).!
    else Seq("bash", "-c", cmd).!

  private def psqlc(sql: String): String =
    Seq("psql", "-h", work, "-p", port.toString, "-U", "postgres",
      "-d", "postgres", "-v", "ON_ERROR_STOP=1", "-Atc", sql).!!.trim

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (!(have("initdb") && have("pg_ctl") && have("psql"))) {
      bootErr = "postgres binaries not installed"; return
    }
    try {
      Seq("bash", "-c", s"chown -R postgres:postgres $work 2>/dev/null || true").!
      require(asPg(s"initdb -D $work/data >/dev/null") == 0, "initdb failed")
      Files.write(Paths.get(s"$work/data/postgresql.conf"),
        s"""
           |wal_level = logical
           |max_replication_slots = 4
           |max_wal_senders = 4
           |port = $port
           |unix_socket_directories = '$work'
           |listen_addresses = ''
           |""".stripMargin.getBytes("UTF-8"), StandardOpenOption.APPEND)
      require(asPg(s"pg_ctl -D $work/data -l $work/pg.log -w start") == 0,
        "pg_ctl start failed")
      // reference schema.sql's person table shape (FIXTURES.md §1)
      psqlc("""CREATE TABLE public.person (
              |  id text PRIMARY KEY NOT NULL,
              |  name text NOT NULL,
              |  created_at timestamp NOT NULL DEFAULT now())""".stripMargin)
      psqlc("INSERT INTO public.person (id, name) VALUES " +
        "('p-1','John'),('p-2','Loren'),('p-3','Prof Georgios')")
      up = true
    } catch {
      case e: Throwable => bootErr = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    }
  }

  override def afterAll(): Unit = {
    if (up) asPg(s"pg_ctl -D $work/data -w -m fast stop")
    super.afterAll()
  }

  private def live(): Unit = assume(up, s"no live Postgres ($bootErr)")

  test("real test_decoding lines decode with reference SLOT_RE semantics") {
    live()
    val conn = new PsqlSlotConnection(work, port)
    conn.slotExists("live_decode") shouldBe false
    conn.createSlot("live_decode")
    try {
      conn.slotExists("live_decode") shouldBe true
      psqlc("INSERT INTO public.person (id, name) VALUES ('p-9', 'O''Brien')")
      psqlc("UPDATE public.person SET name = 'O''Connor' WHERE id = 'p-9'")
      psqlc("DELETE FROM public.person WHERE id = 'p-9'")
      val lines = conn.peekChanges("live_decode")
      // the raw stream carries BEGIN/COMMIT framing...
      lines.exists(_.data.startsWith("BEGIN")) shouldBe true
      lines.exists(_.data.startsWith("COMMIT")) shouldBe true
      // ...which the decoder drops, exactly like the reference's SLOT_RE
      val events = lines.flatMap(l => WalDecoder.decode(l.xid, l.lsn, l.data))
      events.map(_.op) shouldBe Seq("INSERT", "UPDATE", "DELETE")
      events.map(_.id).distinct shouldBe Seq("p-9")
      events.map(_.table).distinct shouldBe Seq("person")
      events.map(_.schema).distinct shouldBe Seq("public")
      // destructive read truncates; a second read is empty
      conn.getChanges("live_decode")
      conn.getChanges("live_decode") shouldBe empty

      // hardening: a value with an EMBEDDED NEWLINE must round-trip
      // through the psql transport as ONE WAL record (the 0x1e record
      // separator, not \n, frames records)
      psqlc("INSERT INTO public.person (id, name) VALUES " +
        "('p-8', E'line one\\nline two')")
      val nl = conn.getChanges("live_decode")
      val ins = nl.filter(_.data.contains("INSERT"))
      ins should have size 1
      ins.head.data should include("line one\nline two")
      WalDecoder.decode(ins.head.xid, ins.head.lsn, ins.head.data)
        .map(_.id) shouldBe Some("p-8")
      psqlc("DELETE FROM public.person WHERE id = 'p-8'")
      conn.getChanges("live_decode")

      // ADVICE r9: carriage returns must survive BYTE-FOR-BYTE — a
      // line-splitting reader (BufferedReader/ProcessLogger) treats
      // \r and \r\n as terminators and rejoins with \n, silently
      // normalizing the value; the raw-stdout read must not
      psqlc("INSERT INTO public.person (id, name) VALUES " +
        "('p-7', E'a\\rb\\r\\nc')")
      val cr = conn.getChanges("live_decode").filter(_.data.contains("INSERT"))
      cr should have size 1
      cr.head.data should include("a\rb\r\nc")
      psqlc("DELETE FROM public.person WHERE id = 'p-7'")
    } finally conn.dropSlot("live_decode")
  }

  test("PgSlotFeed deferred-LSN lifecycle holds on a live slot") {
    live()
    val conn = new PsqlSlotConnection(work, port)
    val feed = new graft.pipeline.PgSlotFeed(conn, "live_feed")
    feed.resetSlot()
    try {
      psqlc("UPDATE public.person SET name = 'A1' WHERE id = 'p-1'")
      val b1 = feed.drain()
      b1.map(e => (e.op, e.id)) shouldBe Seq(("UPDATE", "p-1"))
      // next drain commits b1's LSN first — only the new change appears
      psqlc("UPDATE public.person SET name = 'A2' WHERE id = 'p-2'")
      val b2 = feed.drain()
      b2.map(e => (e.op, e.id)) shouldBe Seq(("UPDATE", "p-2"))
      // requeue cancels the pending advance: the live slot replays it
      feed.requeue(b2)
      val b3 = feed.drain()
      b3.map(e => (e.op, e.id)) shouldBe b2.map(e => (e.op, e.id))
      // clean tick: advance commits, nothing new → empty
      feed.drain() shouldBe empty
      // restore fixture state for the pipeline test that follows
      psqlc("UPDATE public.person SET name = 'John' WHERE id = 'p-1'")
      psqlc("UPDATE public.person SET name = 'Loren' WHERE id = 'p-2'")
    } finally conn.dropSlot("live_feed")
  }

  test("rename cascades into the sink and delete shrinks it (test_e2e.py:99-171 shape)") {
    live()
    val conn = new PsqlSlotConnection(work, port)
    val feed = new graft.pipeline.PgSlotFeed(conn, "live_pipe")
    val tmp = Files.createTempDirectory("livepg-pipe").toString

    // the reference person_mv shape: SELECT id, json_build_object('name', name)
    def view(): org.apache.spark.sql.DataFrame = {
      val csv = s"$tmp/person-${System.nanoTime()}.csv"
      Files.write(Paths.get(csv),
        Seq("psql", "-h", work, "-p", port.toString, "-U", "postgres",
          "-d", "postgres", "-Atc",
          "COPY (SELECT id, name FROM public.person ORDER BY id) TO STDOUT WITH CSV")
          .!!.getBytes("UTF-8"))
      spark.read
        .schema(StructType(Seq(StructField("id", StringType),
          StructField("name", StringType))))
        .csv(csv)
        .select(col("id"), to_json(struct(col("name"))).as("doc"))
    }

    val mapping = StructType(Seq(StructField("name", StringType)))
    val sink = new graft.sink.InMemoryIndex("people_live", mapping)
    val store = new graft.refresh.BucketedSnapshotStore(spark, s"$tmp/snap")
    val pipe = new graft.pipeline.Pipeline("person_docs", "person",
      Set("person"), () => view(), store, sink)
    val runner = new graft.pipeline.Runner(Seq(pipe), feed)

    feed.resetSlot()
    try {
      pipe.backfill() shouldBe 3L
      sink.get("p-1").get should include("John")

      // rename in the LIVE database → slot → decode → refresh → sink
      psqlc("UPDATE public.person SET name = 'Jane' WHERE id = 'p-1'")
      runner.iterate()
      sink.get("p-1").get should include("Jane")
      sink.get("p-2").get should include("Loren")

      // delete shrink (test_e2e.py:141-171): the doc disappears
      psqlc("DELETE FROM public.person WHERE id = 'p-1'")
      runner.iterate()
      sink.get("p-1") shouldBe None
      sink.count() shouldBe 2L

      // idle tick is a no-op
      runner.iterate().values.sum shouldBe 0L
    } finally conn.dropSlot("live_pipe")
  }
}
