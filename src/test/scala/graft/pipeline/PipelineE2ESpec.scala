package graft.pipeline

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.refresh.BucketedSnapshotStore
import graft.sink.{DocumentSink, InMemoryIndex}
import graft.views.SchoolViews

/** Golden end-to-end lifecycle ported from the reference
  * (reference: tests/test_e2e.py:60-171 with fixture data from
  * tests/fixtures/schema.sql): backfill goldens, a person rename
  * propagating 4 hops (person→student→enrollment→course) into both
  * indices, and delete propagation including doc shrink.
  */
class PipelineE2ESpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private def assertJson(actual: Option[String], expected: String): Unit = {
    actual.isDefined shouldBe true
    mapper.readTree(actual.get) shouldBe mapper.readTree(expected)
  }

  // ---- fixture state (mutable: tests mutate then refresh) ----
  import spark.implicits._
  private var person = Seq(
    ("p-1", "John"), ("p-2", "Loren"), ("p-3", "Prof Georgios"), ("p-4", "Prof Matt")
  ).toDF("id", "name")
  private val student = Seq(
    ("s-1", "p-1", true, 3.01), ("s-2", "p-2", true, 3.99)
  ).toDF("id", "person_id", "is_active", "gpa")
  private val teacher = Seq(
    ("t-1", "p-3", 100000.0), ("t-2", "p-4", 100000.0)
  ).toDF("id", "person_id", "salary")
  private val course = Seq(
    ("c-1", "Reth", "How to build a modern Ethereum node", "t-1"),
    ("c-2", "ZK Proofs", "Sometimes zero knowledge is more than enough", "t-1"),
    ("c-3", "Bizchain", "How to build a business on-chain", "t-2")
  ).toDF("id", "name", "description", "teacher_id")
  private var enrollment = Seq(
    ("e-1", "s-1", "c-1", 3.50), ("e-2", "s-2", "c-1", 3.14),
    ("e-3", "s-1", "c-2", 3.50), ("e-4", "s-2", "c-2", 3.14),
    ("e-5", "s-1", "c-3", 3.50)
  ).toDF("id", "student_id", "course_id", "grade")
  private var studentCur: DataFrame = student

  // ---- mappings (reference: tests/fixtures/people.json, courses.json) ----
  private val peopleMapping = StructType(Seq(StructField("name", StringType)))
  private val personStruct = StructType(Seq(StructField("name", StringType)))
  private val coursesMapping = StructType(Seq(
    StructField("name", StringType),
    StructField("description", StringType),
    StructField("teacher", StructType(Seq(
      StructField("salary", DoubleType),
      StructField("person", personStruct)))),
    StructField("enrollments", ArrayType(StructType(Seq(
      StructField("grade", DoubleType),
      StructField("student", StructType(Seq(
        StructField("gpa", DoubleType),
        StructField("person", personStruct))))))))))

  private def tmp(): String =
    Files.createTempDirectory("graft-e2e").toString

  private val peopleSink = new InMemoryIndex("people", peopleMapping)
  private val coursesSink = new InMemoryIndex("courses", coursesMapping)
  private val personPipe = new Pipeline(
    "person_mv", "person", Set("person"),
    () => SchoolViews.personMv(person),
    new BucketedSnapshotStore(spark, tmp()), peopleSink)
  private val coursePipe = new Pipeline(
    "course_mv", "course", Set("course", "teacher", "student", "person", "enrollment"),
    () => SchoolViews.courseMv(course, teacher, studentCur, person, enrollment),
    new BucketedSnapshotStore(spark, tmp()), coursesSink)

  private val goldenCourseC1 =
    """{
      "name": "Reth",
      "description": "How to build a modern Ethereum node",
      "teacher": {"salary": 100000.0, "person": {"name": "Prof Georgios"}},
      "enrollments": [
        {"grade": 3.5, "student": {"gpa": 3.01, "person": {"name": "John"}}},
        {"grade": 3.14, "student": {"gpa": 3.99, "person": {"name": "Loren"}}}
      ]
    }"""

  test("backfill loads golden documents (test_e2e.py:60-97)") {
    personPipe.backfill() shouldBe 4
    coursePipe.backfill() shouldBe 3
    assertJson(peopleSink.get("p-1"), """{"name": "John"}""")
    assertJson(coursesSink.get("c-1"), goldenCourseC1)
  }

  test("update propagates 4 hops into both indices (test_e2e.py:99-139)") {
    person = person.withColumn("name",
      org.apache.spark.sql.functions.when($"id" === "p-1", "Jane")
        .otherwise($"name"))
    personPipe.refresh() shouldBe 1 // only p-1 changed
    coursePipe.refresh() shouldBe 3 // c-1, c-2, c-3 all carry John's enrollments
    assertJson(peopleSink.get("p-1"), """{"name": "Jane"}""")
    assertJson(coursesSink.get("c-1"),
      goldenCourseC1.replace("John", "Jane"))
  }

  test("delete propagates and shrinks docs (test_e2e.py:141-171)") {
    // FK ON DELETE CASCADE removes s-1 and its enrollments with p-1
    person = person.filter($"id" =!= "p-1")
    studentCur = student.filter($"id" =!= "s-1")
    enrollment = enrollment.filter(!$"student_id".isin("s-1"))
    personPipe.refresh() shouldBe 1 // delete p-1
    coursePipe.refresh() shouldBe 3 // c-1, c-2 shrink; c-3 empties
    peopleSink.get("p-1") shouldBe None
    peopleSink.count() shouldBe 3
    assertJson(coursesSink.get("c-1"),
      """{
        "name": "Reth",
        "description": "How to build a modern Ethereum node",
        "teacher": {"salary": 100000.0, "person": {"name": "Prof Georgios"}},
        "enrollments": [
          {"grade": 3.14, "student": {"gpa": 3.99, "person": {"name": "Loren"}}}
        ]
      }""")
    // c-3 lost its only enrollment -> json null, like Postgres json_agg
    assertJson(coursesSink.get("c-3"),
      """{
        "name": "Bizchain",
        "description": "How to build a business on-chain",
        "teacher": {"salary": 100000.0, "person": {"name": "Prof Matt"}},
        "enrollments": null
      }""")
  }

  test("refresh with no source change is a no-op (idempotent convergence)") {
    personPipe.refresh() shouldBe 0
    coursePipe.refresh() shouldBe 0
  }

  test("strict mapping rejects unknown fields and malformed json") {
    val sink: DocumentSink = new InMemoryIndex("people2", peopleMapping)
    val bad = Seq(("index", "x-1", """{"name": "A", "extra": 1}"""))
      .toDF("op", "id", "doc")
    val e = intercept[IllegalArgumentException](sink.applyActions(bad))
    e.getMessage should include("extra: unknown field")
    val malformed = Seq(("index", "x-2", """{"name": """))
      .toDF("op", "id", "doc")
    intercept[IllegalArgumentException](sink.applyActions(malformed))
    sink.count() shouldBe 0 // failed batches apply nothing
  }

  test("sink retries transient write failures up to maxRetries, then surfaces") {
    class FlakySink(failures: Int) extends InMemoryIndex("flaky", peopleMapping) {
      var attempts = 0
      override protected def doApply(a: org.apache.spark.sql.DataFrame): Unit = {
        attempts += 1
        if (attempts <= failures) throw new IllegalStateException("transient")
        super.doApply(a)
      }
    }
    val batch = Seq(("index", "r-1", """{"name": "A"}""")).toDF("op", "id", "doc")
    val healing = new FlakySink(failures = 2)
    healing.applyActions(batch)
    healing.attempts shouldBe 3
    healing.get("r-1") shouldBe Some("""{"name": "A"}""")
    // permanent failure exhausts the budget and surfaces
    val dead = new FlakySink(failures = Int.MaxValue) {
      override def maxRetries: Int = 2
    }
    intercept[IllegalStateException](dead.applyActions(batch))
    dead.attempts shouldBe 3
    // schema violations are never retried
    val strict = new FlakySink(failures = 0)
    intercept[IllegalArgumentException](strict.applyActions(
      Seq(("index", "r-2", """{"nope": 1}""")).toDF("op", "id", "doc")))
    strict.attempts shouldBe 0
  }

  test("BucketedParquetIndex: touched-bucket merge, delete, bucket pruning") {
    val idx = new graft.sink.BucketedParquetIndex(
      spark, "people_bq", peopleMapping, tmp(), numBuckets = 8)
    idx.recreate()
    idx.applyActions(Seq(
      ("index", "p-1", """{"name": "John"}"""),
      ("index", "p-2", """{"name": "Loren"}"""),
      ("index", "p-3", """{"name": "Ada"}""")).toDF("op", "id", "doc"))
    idx.count() shouldBe 3
    idx.get("p-2") shouldBe Some("""{"name": "Loren"}""")
    // overwrite one, delete one; untouched buckets' files stay intact
    idx.applyActions(Seq(
      ("index", "p-1", """{"name": "Jane"}"""),
      ("delete", "p-3", null.asInstanceOf[String])).toDF("op", "id", "doc"))
    idx.count() shouldBe 2
    idx.get("p-1") shouldBe Some("""{"name": "Jane"}""")
    idx.get("p-3") shouldBe None
    // replay the same batch: idempotent convergence
    idx.applyActions(Seq(
      ("index", "p-1", """{"name": "Jane"}"""),
      ("delete", "p-3", null.asInstanceOf[String])).toDF("op", "id", "doc"))
    idx.count() shouldBe 2
  }
}
