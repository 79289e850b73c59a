package graft.pipeline

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.ChangeEvent
import graft.refresh.BucketedSnapshotStore
import graft.sink.InMemoryIndex
import graft.views.SchoolViews

/** Model-based soak: many cycles of seeded random source mutations,
  * each followed by a runner tick, asserting after every cycle that the
  * sink state equals a from-scratch recompute — the convergence
  * invariant the whole diff/upsert/delete machinery must hold across
  * arbitrary update interleavings. */
class RunnerSoakSpec extends SparkSpec {
  import spark.implicits._

  test("sink converges to the recomputed view after every mutation cycle") {
    val rnd = new Random(42)
    var people = (1 to 20).map(i => (s"p-$i", s"name-$i")).toMap

    def personDf: DataFrame = people.toSeq.toDF("id", "name")
    var current = personDf

    val sink = new InMemoryIndex("soak",
      StructType(Seq(StructField("name", StringType))))
    val feed = new InMemoryChangeFeed
    val pipe = new Pipeline("person_mv", "person", Set("person"),
      () => SchoolViews.personMv(current),
      new BucketedSnapshotStore(spark, Files.createTempDirectory("graft-soak").toString),
      sink)
    val runner = new Runner(Seq(pipe), feed)
    runner.backfillAll() shouldBe Map("person_mv" -> 20)

    for (cycle <- 1 to 8) {
      // random batch of mutations: rename / insert / delete
      val nMut = 1 + rnd.nextInt(5)
      val events = (1 to nMut).map { _ =>
        rnd.nextInt(3) match {
          case 0 if people.nonEmpty => // rename
            val id = people.keys.toSeq(rnd.nextInt(people.size))
            people += id -> s"renamed-$cycle-${rnd.nextInt(100)}"
            ChangeEvent("public", "person", "UPDATE", id, None, s"0/$cycle", cycle.toLong)
          case 1 => // insert
            val id = s"p-new-$cycle-${rnd.nextInt(100)}"
            people += id -> s"name-$id"
            ChangeEvent("public", "person", "INSERT", id, None, s"0/$cycle", cycle.toLong)
          case _ if people.nonEmpty => // delete
            val id = people.keys.toSeq(rnd.nextInt(people.size))
            people -= id
            ChangeEvent("public", "person", "DELETE", id, None, s"0/$cycle", cycle.toLong)
          case _ =>
            ChangeEvent("public", "person", "UPDATE", "p-1", None, s"0/$cycle", cycle.toLong)
        }
      }
      current = personDf
      feed.append(events: _*)
      runner.iterate()

      // invariant: sink == from-scratch recompute of the view
      val expected = SchoolViews.personMv(current)
        .as[(String, String)].collect().toMap
      val actual = sink.ids.map(id => id -> sink.get(id).get).toMap
      withClue(s"cycle $cycle: ") { actual shouldBe expected }
    }
  }
}
