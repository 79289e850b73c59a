package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.when
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.ChangeEvent
import graft.refresh.BucketedSnapshotStore
import graft.sink.InMemoryIndex
import graft.views.SchoolViews

/** Key-scoped incremental refresh: same converged state as the full
  * recompute, but only the affected view keys are recomputed. */
class ScopedRefreshSpec extends SparkSpec {
  import spark.implicits._

  private var person = Seq(
    ("p-1", "John"), ("p-2", "Loren"), ("p-3", "Prof Georgios"), ("p-4", "Prof Matt")
  ).toDF("id", "name")
  private var student = Seq(
    ("s-1", "p-1", true, 3.01), ("s-2", "p-2", true, 3.99)
  ).toDF("id", "person_id", "is_active", "gpa")
  private var teacher = Seq(
    ("t-1", "p-3", 100000.0), ("t-2", "p-4", 100000.0)
  ).toDF("id", "person_id", "salary")
  private var course = Seq(
    ("c-1", "Reth", "How to build a modern Ethereum node", "t-1"),
    ("c-2", "ZK Proofs", "Sometimes zero knowledge is more than enough", "t-1"),
    ("c-3", "Bizchain", "How to build a business on-chain", "t-2")
  ).toDF("id", "name", "description", "teacher_id")
  private var enrollment = Seq(
    ("e-1", "s-1", "c-1", 3.50), ("e-2", "s-2", "c-1", 3.14),
    ("e-3", "s-1", "c-2", 3.50), ("e-4", "s-2", "c-2", 3.14),
    ("e-5", "s-1", "c-3", 3.50)
  ).toDF("id", "student_id", "course_id", "grade")

  private val coursesMapping = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("teacher", StructType(Seq(
      StructField("salary", DoubleType),
      StructField("person", StructType(Seq(StructField("name", StringType))))))),
    StructField("enrollments", ArrayType(StructType(Seq(
      StructField("grade", DoubleType),
      StructField("student", StructType(Seq(
        StructField("gpa", DoubleType),
        StructField("person", StructType(Seq(StructField("name", StringType)))))))))))))

  private val sink = new InMemoryIndex("courses_scoped", coursesMapping)
  private val fullComputes = new java.util.concurrent.atomic.AtomicInteger(0)
  private val scopedComputes = new java.util.concurrent.atomic.AtomicInteger(0)
  private val pipe = new Pipeline(
    "course_mv", "course",
    Set("course", "teacher", "student", "person", "enrollment"),
    () => {
      fullComputes.incrementAndGet()
      SchoolViews.courseMv(course, teacher, student, person, enrollment)
    },
    new BucketedSnapshotStore(spark, Files.createTempDirectory("graft-scoped").toString),
    sink,
    scopedCompute = Some(changes => {
      scopedComputes.incrementAndGet()
      SchoolViews.courseMvScoped(course, teacher, student, person, enrollment)(changes)
    }),
    canScope = SchoolViews.courseMvCanScope)

  private def affectedOf(changes: graft.cdc.ChangeEvent*): Set[String] =
    SchoolViews.courseMvScoped(course, teacher, student, person, enrollment)(changes)
      ._1.collect().map(_.getString(0)).toSet

  private def ev(table: String, id: String, op: String = "UPDATE") =
    ChangeEvent("public", table, op, id, None, "0/1", 1L)

  test("scoped person rename converges identically to full refresh") {
    pipe.backfill() shouldBe 3
    person = person.withColumn("name",
      when($"id" === "p-1", "Jane").otherwise($"name"))
    // John is enrolled in all 3 courses -> 3 scoped upserts
    pipe.refreshScoped(Seq(ev("person", "p-1"))) shouldBe 3
    sink.get("c-1").get should include("Jane")
    sink.get("c-3").get should include("Jane")
    // the full recompute now finds nothing left to do
    pipe.refresh() shouldBe 0
  }

  test("scoped enrollment grade change touches only its course") {
    enrollment = enrollment.withColumn("grade",
      when($"id" === "e-2", 2.71).otherwise($"grade"))
    // real CDC updates carry the before-image (old tuple)
    val upd = ChangeEvent("public", "enrollment", "UPDATE", "e-2",
      Some("""{"id":"e-2","student_id":"s-2","course_id":"c-1","grade":3.14}"""),
      "0/5", 5L)
    affectedOf(upd) shouldBe Set("c-1")
    // an unchanged course row rides along: c-2 is affected but its doc
    // is the same, so the diff carries no action for it and the merge
    // must leave the snapshot's c-2 doc in place
    val sameC2 = ev("course", "c-2")
    affectedOf(upd, sameC2) shouldBe Set("c-1", "c-2")
    val full = fullComputes.get()
    pipe.refreshScoped(Seq(upd, sameC2)) shouldBe 1
    fullComputes.get() shouldBe full // stayed on the scoped path
    sink.get("c-1").get should include("2.71")
    pipe.refresh() shouldBe 0
  }

  test("enrollment UPDATE that moves courses refreshes BOTH old and new course") {
    // move e-4 from c-2 to c-1
    enrollment = enrollment.withColumn("course_id",
      when($"id" === "e-4", "c-1").otherwise($"course_id"))
    val upd = ChangeEvent("public", "enrollment", "UPDATE", "e-4",
      Some("""{"id":"e-4","student_id":"s-2","course_id":"c-2","grade":3.14}"""),
      "0/6", 6L)
    affectedOf(upd) shouldBe Set("c-1", "c-2") // new parent AND old parent
    pipe.refreshScoped(Seq(upd)) shouldBe 2
    sink.get("c-1").get should include("3.14") // gained e-4
    sink.get("c-2").get should not include "3.14" // lost e-4
    pipe.refresh() shouldBe 0
    // move it back to keep later tests' fixture expectations intact
    enrollment = enrollment.withColumn("course_id",
      when($"id" === "e-4", "c-2").otherwise($"course_id"))
    pipe.refresh() shouldBe 2
  }

  test("scoped refresh with an unrelated key is a no-op") {
    pipe.refreshScoped(Seq(ev("person", "p-99"))) shouldBe 0
  }

  test("teacher DELETE scopes to the taught courses via event ids (no before-image)") {
    teacher = teacher.filter($"id" =!= "t-2")
    affectedOf(ev("teacher", "t-2", "DELETE")) shouldBe Set("c-3")
    val full = fullComputes.get()
    pipe.refreshScoped(Seq(ev("teacher", "t-2", "DELETE"))) shouldBe 1
    fullComputes.get() shouldBe full // stayed on the scoped path
    sink.get("c-3").get should include(""""teacher":null""")
  }

  test("enrollment DELETE scopes via its before-image course_id") {
    enrollment = enrollment.filter($"id" =!= "e-2")
    val del = ChangeEvent("public", "enrollment", "DELETE", "e-2",
      Some("""{"id":"e-2","student_id":"s-2","course_id":"c-1","grade":3.14}"""),
      "0/9", 9L)
    affectedOf(del) shouldBe Set("c-1")
    val full = fullComputes.get()
    pipe.refreshScoped(Seq(del)) shouldBe 1
    fullComputes.get() shouldBe full
    sink.get("c-1").get should not include "3.14"
    pipe.refresh() shouldBe 0 // full recompute agrees
  }

  test("course DELETE scopes to exactly that view key and deletes the doc") {
    course = course.filter($"id" =!= "c-3")
    enrollment = enrollment.filter($"course_id" =!= "c-3")
    val del = ChangeEvent("public", "course", "DELETE", "c-3", None, "0/10", 10L)
    val enrDel = ChangeEvent("public", "enrollment", "DELETE", "e-5",
      Some("""{"id":"e-5","student_id":"s-1","course_id":"c-3","grade":3.5}"""),
      "0/10", 10L)
    affectedOf(del, enrDel) shouldBe Set("c-3")
    pipe.refreshScoped(Seq(del, enrDel)) shouldBe 1
    sink.get("c-3") shouldBe None
    sink.count() shouldBe 2
    pipe.refresh() shouldBe 0
  }

  test("enrollment DELETE without a before-image falls back to full refresh") {
    enrollment = enrollment.filter($"id" =!= "e-4")
    val del = ChangeEvent("public", "enrollment", "DELETE", "e-4", None, "0/11", 11L)
    SchoolViews.courseMvCanScope(Seq(del)) shouldBe false
    val full = fullComputes.get(); val scoped = scopedComputes.get()
    pipe.refreshScoped(Seq(del)) shouldBe 1
    fullComputes.get() shouldBe (full + 1) // took the full path
    scopedComputes.get() shouldBe scoped
    sink.get("c-2").get should not include "Loren"
  }
}
