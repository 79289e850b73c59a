package syncbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.types._

/** Column kinds of the reference's five-table school schema
  * (tests/fixtures/schema.sql, FIXTURES.md §1). Values are held as
  * String (text), java.lang.Boolean, Long unscaled (numeric) and Long
  * epoch micros (timestamp). */
sealed trait Kind
object Kind {
  case object Text extends Kind
  case object Bool extends Kind
  final case class Dec(precision: Int, scale: Int) extends Kind
  case object Ts extends Kind
}

final case class Col(name: String, kind: Kind) {
  import Kind._

  /** Type label `test_decoding` prints in brackets after the name. */
  def pgType: String = kind match {
    case Text => "text"
    case Bool => "boolean"
    case Dec(_, _) => "numeric"
    case Ts => "timestamp without time zone"
  }

  def parquetField: String = kind match {
    case Text => s"required binary $name (STRING);"
    case Bool => s"required boolean $name;"
    case Dec(p, s) if p <= 9 => s"required int32 $name (DECIMAL($p,$s));"
    case Dec(p, s) => s"required int64 $name (DECIMAL($p,$s));"
    case Ts => s"required int64 $name (TIMESTAMP(MICROS,true));"
  }

  def sparkField: StructField = StructField(name, kind match {
    case Text => StringType
    case Bool => BooleanType
    case Dec(p, s) => DecimalType(p, s)
    case Ts => TimestampType
  })

  /** A value as `test_decoding` prints it: text and timestamps quoted
    * with embedded quotes doubled, numerics and booleans bare. */
  def render(v: Any): String = kind match {
    case Text => "'" + v.asInstanceOf[String].replace("'", "''") + "'"
    case Bool => v.toString
    case Dec(_, s) =>
      java.math.BigDecimal.valueOf(v.asInstanceOf[Long], s).toPlainString
    case Ts => "'" + Col.tsFormat.format(java.time.Instant.EPOCH
      .plus(v.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS)) + "'"
  }
}

object Col {
  private val tsFormat = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
}

final case class TableDef(name: String, cols: Vector[Col]) {
  val message: MessageType = MessageTypeParser.parseMessageType(
    s"message $name { ${cols.map(_.parquetField).mkString(" ")} }")
  val sparkSchema: StructType = StructType(cols.map(_.sparkField))
}

object Schema {
  import Kind._
  val person = TableDef("person", Vector(
    Col("id", Text), Col("name", Text), Col("created_at", Ts)))
  val student = TableDef("student", Vector(
    Col("id", Text), Col("person_id", Text), Col("is_active", Bool),
    Col("gpa", Dec(3, 2))))
  val teacher = TableDef("teacher", Vector(
    Col("id", Text), Col("person_id", Text), Col("salary", Dec(10, 2))))
  val course = TableDef("course", Vector(
    Col("id", Text), Col("name", Text), Col("description", Text),
    Col("teacher_id", Text)))
  val enrollment = TableDef("enrollment", Vector(
    Col("id", Text), Col("student_id", Text), Col("course_id", Text),
    Col("grade", Dec(3, 2))))
  val all: Seq[TableDef] = Seq(person, student, teacher, course, enrollment)
}

/** One source row change: `row` is the full after-image for INSERT and
  * UPDATE, null for DELETE (default replica identity: key only). */
final case class Change(table: TableDef, op: String, id: String, row: Array[Any]) {
  /** The `test_decoding` line Postgres would emit for this change. */
  def walLine: String = {
    val head = s"table public.${table.name}: $op: "
    if (op == "DELETE") head + s"id[text]:'$id'"
    else head + table.cols.indices.map { i =>
      val c = table.cols(i)
      s"${c.name}[${c.pgType}]:${c.render(row(i))}"
    }.mkString(" ")
  }
}

/** A source table as immutable parquet parts: each part is rewritten
  * to a NEW file when a commit touches it, and the table's file list is
  * swapped atomically afterwards — so a scan always sees one complete
  * version of every part, the way an MVCC read sees one snapshot.
  * Rows sit in per-part insertion-ordered maps (file order = insertion
  * order, as a heap table's scan order). */
final class SourceTable(val defn: TableDef, dir: Path, val parts: Int) {
  private val data =
    Array.fill(parts)(new java.util.LinkedHashMap[String, Array[Any]]())
  private val current = new AtomicReference[Vector[String]](Vector.empty)
  private var fileSeq = 0L
  private val conf = new org.apache.hadoop.conf.Configuration(false)

  /** Part of a row: the numeric suffix of its `x-<n>` id. */
  def partOf(id: String): Int =
    Math.floorMod(id.substring(id.lastIndexOf('-') + 1).toLong, parts.toLong).toInt

  def get(id: String): Option[Array[Any]] = Option(data(partOf(id)).get(id))
  def files: Vector[String] = current.get

  /** Apply one change to the in-memory rows; returns the touched part. */
  def apply(c: Change): Int = {
    val p = partOf(c.id)
    c.op match {
      case "DELETE" => data(p).remove(c.id)
      case "UPDATE" => data(p).put(c.id, c.row) // keeps the row's position
      case "INSERT" => data(p).remove(c.id); data(p).put(c.id, c.row)
    }
    p
  }

  /** Write every touched part to a new file, then swap the file list. */
  def publish(touched: Iterable[Int]): Unit = synchronized {
    val next = current.get.padTo(parts, "").toArray
    touched.foreach(p => next(p) = writePart(p))
    current.set(next.toVector)
  }

  def publishAll(): Unit = publish(0 until parts)

  private def writePart(p: Int): String = {
    fileSeq += 1
    val f = dir.resolve(f"${defn.name}-$p%03d-$fileSeq%08d.parquet")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(f))
      .withConf(conf)
      .withType(defn.message)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val groups = new SimpleGroupFactory(defn.message)
    try {
      val it = data(p).values.iterator
      while (it.hasNext) {
        val row = it.next()
        val g = groups.newGroup()
        var i = 0
        while (i < row.length) {
          val c = defn.cols(i)
          (c.kind, row(i)) match {
            case (Kind.Text, s: String) => g.append(c.name, s)
            case (Kind.Bool, b: java.lang.Boolean) => g.append(c.name, b.booleanValue)
            case (Kind.Dec(prec, _), v: java.lang.Long) if prec <= 9 =>
              g.append(c.name, v.intValue)
            case (_, v: java.lang.Long) => g.append(c.name, v.longValue)
            case (k, v) => throw new IllegalStateException(s"$k value $v")
          }
          i += 1
        }
        w.write(g)
      }
    } finally w.close()
    f.toString
  }
}

/** Row counts of the generated school. */
final case class Scale(persons: Int, students: Int, teachers: Int,
    courses: Int, enrollments: Int)
object Scale {
  /** The size every workload runs at: a quarter of the README's
    * quarter scale (25k persons, 20k students, 500 teachers, 2.5k
    * courses, 100k enrollments). */
  val bench: Scale = Scale(6250, 5000, 125, 625, 25000)
}

/** The seeded school and its change generator. Not thread-safe: the
  * generator thread owns it; Spark reads only the published files. */
final class School(seed: Long, val scale: Scale, dir: Path) {
  private val rnd = new java.util.Random(seed)
  import School.parts

  val person = new SourceTable(Schema.person, dir, parts(scale.persons))
  val student = new SourceTable(Schema.student, dir, parts(scale.students))
  val teacher = new SourceTable(Schema.teacher, dir, parts(scale.teachers))
  val course = new SourceTable(Schema.course, dir, parts(scale.courses))
  val enrollment = new SourceTable(Schema.enrollment, dir, parts(scale.enrollments))
  val tables: Seq[SourceTable] = Seq(person, student, teacher, course, enrollment)
  def table(name: String): SourceTable = tables.find(_.defn.name == name).get

  // id pools for random picks
  private val enrollmentIds = new IdPool
  private val spareCourses = new IdPool // courses no enrollment points at
  private val mainCourses = mutable.ArrayBuffer[String]()
  private val enrolledStudents = mutable.ArrayBuffer[String]()
  private var nextCourse = 0L
  private var nextEnrollment = 0L
  private val createdAt = 1700000000000000L

  private val syllables = Vector("an", "bel", "cor", "da", "el", "fi", "gor",
    "ha", "is", "jo", "ka", "lin", "mo", "nu", "or", "pe", "qui", "ra", "si",
    "tu", "ur", "va", "wen", "xi", "yo", "zel")
  private def word(n: Int): String = {
    val w = (0 until n).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    w.head.toUpper + w.tail
  }
  /** Person names: ~4% carry a quote (O'Hara) and ~2% a hyphen, so the
    * WAL lines exercise `test_decoding`'s quote doubling. */
  private def name(): String = {
    val last = rnd.nextInt(50) match {
      case 0 | 1 => "O'" + word(2)
      case 2 => word(2) + "-" + word(2)
      case _ => word(2 + rnd.nextInt(2))
    }
    s"${word(2)} $last"
  }
  private def grade(): Long = 100L + rnd.nextInt(301) // 1.00 .. 4.00
  private def salary(): Long = (40000L + rnd.nextInt(80000)) * 100L
  private def courseRow(id: String): Array[Any] = Array(id,
    s"${word(3)} ${rnd.nextInt(500)}",
    s"How to ${word(2).toLowerCase} the ${word(3).toLowerCase}'s ${word(2).toLowerCase}",
    s"t-${rnd.nextInt(scale.teachers)}")

  /** Generate the initial state in memory and write every part. */
  def generate(): Unit = {
    for (i <- 0 until scale.persons)
      person.apply(Change(Schema.person, "INSERT", s"p-$i",
        Array(s"p-$i", name(), createdAt + i)))
    for (i <- 0 until scale.students)
      student.apply(Change(Schema.student, "INSERT", s"s-$i",
        Array(s"s-$i", s"p-$i", java.lang.Boolean.TRUE, grade())))
    for (j <- 0 until scale.teachers)
      teacher.apply(Change(Schema.teacher, "INSERT", s"t-$j",
        Array(s"t-$j", s"p-${scale.students + j}", salary())))
    // spare courses back course_drop. Adds and drops meet the same
    // sizes; along the cdc_sql_full cycles drops run at most 14 rows
    // ahead of adds, so the pool never runs dry
    val spare = math.max(4, scale.courses / 16)
    for (k <- 0 until scale.courses) {
      val id = s"c-$k"
      course.apply(Change(Schema.course, "INSERT", id, courseRow(id)))
      if (k < scale.courses - spare) mainCourses += id else spareCourses.add(id)
    }
    nextCourse = scale.courses
    val enrolled = mutable.HashSet[String]()
    for (_ <- 0 until scale.enrollments) {
      val c = newEnrollment()
      enrollment.apply(c)
      enrolled += c.row(1).asInstanceOf[String]
    }
    enrolledStudents ++= enrolled.toSeq.sortBy(_.drop(2).toInt)
    tables.foreach(_.publishAll())
  }

  private def newEnrollment(): Change = {
    val id = s"e-$nextEnrollment"
    nextEnrollment += 1
    enrollmentIds.add(id)
    Change(Schema.enrollment, "INSERT", id, Array(id,
      s"s-${rnd.nextInt(scale.students)}",
      mainCourses(rnd.nextInt(mainCourses.size)), grade()))
  }

  private def distinct(n: Int, pick: => String): Seq[String] = {
    val out = mutable.LinkedHashSet[String]()
    var guard = 0
    while (out.size < n && guard < n * 20) { out += pick; guard += 1 }
    out.toSeq
  }

  private def update(t: SourceTable, id: String)(f: Array[Any] => Unit): Change = {
    val row = t.get(id).get.clone()
    f(row)
    Change(t.defn, "UPDATE", id, row)
  }

  private def differentFrom(old: Any)(gen: => Long): Long = {
    var v = gen
    while (v == old) v = gen
    v
  }

  /** `n` row changes of one kind. Kinds never cascade, so a commit's
    * row count is exactly `n`. */
  def changes(kind: String, n: Int): Seq[Change] = kind match {
    case "rename" =>
      distinct(n, s"p-${rnd.nextInt(scale.persons)}")
        .map(id => update(person, id)(r => r(1) = name()))
    case "gpa" =>
      distinct(n, enrolledStudents(rnd.nextInt(enrolledStudents.size)))
        .map(id => update(student, id)(r => r(3) = differentFrom(r(3))(grade())))
    case "active" =>
      distinct(n, s"s-${rnd.nextInt(scale.students)}")
        .map(id => update(student, id)(r =>
          r(2) = java.lang.Boolean.valueOf(!r(2).asInstanceOf[java.lang.Boolean])))
    case "salary" =>
      distinct(n, s"t-${rnd.nextInt(scale.teachers)}")
        .map(id => update(teacher, id)(r => r(2) = differentFrom(r(2))(salary())))
    case "grade" =>
      distinct(n, enrollmentIds.pick(rnd))
        .map(id => update(enrollment, id)(r => r(3) = differentFrom(r(3))(grade())))
    case "course_edit" =>
      distinct(n, mainCourses(rnd.nextInt(mainCourses.size)))
        .map(id => update(course, id)(r => r(2) = courseRow(id)(2)))
    case "enroll" => (0 until n).map(_ => newEnrollment())
    case "unenroll" =>
      distinct(n, enrollmentIds.pick(rnd)).map { id =>
        enrollmentIds.remove(id); Change(Schema.enrollment, "DELETE", id, null)
      }
    case "course_add" => (0 until n).map { _ =>
      val id = s"c-$nextCourse"
      nextCourse += 1
      spareCourses.add(id)
      Change(Schema.course, "INSERT", id, courseRow(id))
    }
    case "course_drop" =>
      distinct(math.min(n, spareCourses.size - 1), spareCourses.pick(rnd)).map { id =>
        spareCourses.remove(id); Change(Schema.course, "DELETE", id, null)
      }
  }

  /** Apply changes to the rows and publish the touched parts. */
  def applyAndPublish(cs: Seq[Change]): Unit =
    cs.groupBy(_.table.name).foreach { case (t, group) =>
      val st = table(t)
      st.publish(group.map(st.apply).distinct)
    }
}

object School {
  /** Parts of a table: about 2000 rows each, at most 32. */
  def parts(rows: Int): Int = math.max(1, math.min(32, rows / 2000))
}

/** Ids with O(1) random pick and removal. */
final class IdPool {
  private val ids = mutable.ArrayBuffer[String]()
  private val pos = mutable.HashMap[String, Int]()
  def add(id: String): Unit = if (!pos.contains(id)) { pos(id) = ids.size; ids += id }
  def remove(id: String): Unit = pos.remove(id).foreach { i =>
    val last = ids.remove(ids.size - 1)
    if (i < ids.size) { ids(i) = last; pos(last) = i }
  }
  def pick(rnd: java.util.Random): String = ids(rnd.nextInt(ids.size))
  def size: Int = ids.size
}
