package syncbench

import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.pipeline.PgSlotFeed
import graft.sink.{EsHttpBulkSink, EsMapping}

/** Self-tests of the benchmark's own parts, run after every measured
  * run; a failure makes the run incorrect. */
object SelfTest {

  private def check(name: String)(body: => Option[String]): Boolean =
    (try body catch { case NonFatal(e) => Some(e.toString) }) match {
      case None => true
      case Some(why) => SyncBench.note(s"self-test $name failed: $why"); false
    }

  def all(spark: SparkSession, defsDir: String, dir: Path): Boolean =
    Seq(decode(dir), esStub(spark, defsDir), percentile()).forall(identity)

  /** Values of one `test_decoding` row line: (column, type, raw value),
    * with quoted values unquoted. */
  def parseValues(line: String): Seq[(String, String, String)] = {
    val body = line.split(": ", 3)(2)
    val out = Seq.newBuilder[(String, String, String)]
    var i = 0
    while (i < body.length) {
      val open = body.indexOf('[', i)
      val close = body.indexOf("]:", open)
      val (name, tpe) = (body.substring(i, open), body.substring(open + 1, close))
      var j = close + 2
      val v = new StringBuilder
      if (body.charAt(j) == '\'') {
        j += 1
        var done = false
        while (!done) {
          if (body.charAt(j) == '\'') {
            if (j + 1 < body.length && body.charAt(j + 1) == '\'') { v.append('\''); j += 2 }
            else { j += 1; done = true }
          } else { v.append(body.charAt(j)); j += 1 }
        }
      } else {
        while (j < body.length && body.charAt(j) != ' ') { v.append(body.charAt(j)); j += 1 }
      }
      out += ((name, tpe, v.toString))
      i = j + 1
    }
    out.result()
  }

  /** The generator's slot lines decode, through the production
    * PgSlotFeed and WalDecoder, into exactly the changes it made, and
    * every value round-trips through test_decoding quoting. */
  def decode(dir: Path): Boolean = check("decode") {
    val school = new School(7L, Scale(60, 40, 6, 12, 120), Files.createDirectories(
      dir.resolve("selftest-decode")))
    school.generate()
    val slot = new MemSlot
    val feed = new PgSlotFeed(slot, "selftest")
    feed.resetSlot()
    val publisher = new Publisher(school, slot)
    val quoted = Change(Schema.person, "UPDATE", "p-1",
      Array("p-1", "D'Arcy 'x'' id[text]:'p-9' : UPDATE:", 1L))
    val made = Seq("rename", "gpa", "active", "salary", "grade", "course_edit",
      "enroll", "unenroll", "course_add", "course_drop").map(school.changes(_, 3)) :+ Seq(quoted)
    made.foreach(publisher.publish(_, System.nanoTime()))
    val got = feed.drain().map(e => (e.schema, e.table, e.op, e.id, e.doc))
    val want = made.flatten.map(c => ("public", c.table.name, c.op, c.id, None))
    val values = made.flatten.filter(_.op != "DELETE").flatMap { c =>
      val parsed = parseValues(c.walLine)
      c.table.cols.zip(c.row).zip(parsed).collect {
        case ((col, v), (n, t, raw)) if n != col.name || t != col.pgType ||
            raw != (col.kind match {
              case Kind.Text => v.asInstanceOf[String]
              case _ => col.render(v).stripPrefix("'").stripSuffix("'")
            }) => s"${c.table.name}.${col.name}: $raw"
      }
    }
    if (got != want) Some(s"decoded ${got.take(3)} ... (${got.size}), made ${want.take(3)} ... (${want.size})")
    else if (values.nonEmpty) Some(s"values do not round-trip: ${values.take(3)}")
    else if (quoted.walLine != "table public.person: UPDATE: id[text]:'p-1' " +
        "name[text]:'D''Arcy ''x'''' id[text]:''p-9'' : UPDATE:' " +
        "created_at[timestamp without time zone]:'1970-01-01 00:00:00'")
      Some(s"line shape: ${quoted.walLine}")
    else None
  }

  /** The stub takes the request shapes EsHttpBulkSink sends — index
    * recreate and NDJSON index/delete — and the sink retries its 503s. */
  def esStub(spark: SparkSession, defsDir: String): Boolean = check("es-stub") {
    import spark.implicits._
    val stub = new EsStub(failEvery = 2)
    try {
      val body = Wiring.readDef(defsDir, "people.json")
      val sink = new EsHttpBulkSink(s"http://127.0.0.1:${stub.port}", "selftest",
        EsMapping.toStructType(body), chunkSize = 2, maxRetries = 3, timeoutMs = 10000)
      sink.recreate(body)
      sink.recreate(body)
      val docs = (0 until 5).map(i => s"d-$i" -> s"""{"name":"n'$i \\"q\\""}""")
      sink.applyActions(docs.map { case (id, d) => ("index", id, d) }.toDF("op", "id", "doc"))
      sink.applyActions(Seq(("delete", "d-0", null: String), ("delete", "d-3", null: String))
        .toDF("op", "id", "doc"))
      val want = docs.filterNot(d => d._1 == "d-0" || d._1 == "d-3").toMap
      val have = stub.docs("selftest").toMap
      if (have != want) Some(s"stub holds $have")
      else if (stub.injected503.get == 0) Some("no 503 was injected")
      else if (sink.count() != 3 || sink.get("d-1") != want.get("d-1"))
        Some("count/_doc disagree with the bulk writes")
      else None
    } finally stub.stop()
  }

  /** The helper reports a percentile only with 10 samples beyond it. */
  def percentile(): Boolean = check("percentile") {
    def xs(n: Int) = (1 to n).map(_.toDouble)
    val cases = Seq(
      Stats.percentile(xs(19), 0.5) -> None, Stats.percentile(xs(20), 0.5) -> Some(10.0),
      Stats.percentile(xs(99), 0.9) -> None, Stats.percentile(xs(100), 0.9) -> Some(90.0),
      Stats.percentile(xs(1009), 0.99) -> Some(999.0), Stats.percentile(Nil, 0.5) -> None)
    cases.zipWithIndex.collectFirst {
      case ((got, want), i) if got != want => s"case $i: $got, want $want"
    }
  }
}
