package syncbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Pipeline
import graft.sink.BucketedParquetIndex

/** The correctness gate: every sink must hold exactly the documents a
  * from-scratch recompute of its view gives over the final sources.
  * Documents compare as canonical JSON with order-insensitive arrays
  * (the reference SQL's `json_agg` has no ORDER BY, so array order is
  * scan order), as `SqlViewE2ESpec` compares them. */
object Check {
  private val mapper = new ObjectMapper()

  def canon(n: JsonNode): JsonNode = n match {
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      (0 until a.size()).map(i => canon(a.get(i))).sortBy(_.toString).foreach(out.add)
      out
    case o if o.isObject =>
      val out = mapper.createObjectNode()
      val names = scala.collection.mutable.ArrayBuffer[String]()
      o.fieldNames().forEachRemaining(names += _)
      names.sorted.foreach(f => out.set[JsonNode](f, canon(o.get(f))))
      out
    case other => other
  }

  def canonical(doc: String): String =
    if (doc == null) "null" else canon(mapper.readTree(doc)).toString

  private def collect(df: DataFrame): Map[String, String] =
    df.select("id", "doc").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  /** Number of documents that differ, are missing or are extra. */
  def diff(index: String, expected: Map[String, String], actual: collection.Map[String, String]): Int = {
    val bad = (expected.keySet ++ actual.keySet).toSeq.sorted.filter { id =>
      (expected.get(id), actual.get(id)) match {
        case (Some(e), Some(a)) => canonical(e) != canonical(a)
        case _ => true
      }
    }
    bad.take(3).foreach(id => SyncBench.note(
      s"$index/$id: expected ${expected.get(id)}, sink has ${actual.get(id)}"))
    bad.size
  }

  def sinks(spark: SparkSession, defsDir: String, sql: Boolean,
      sources: Map[String, () => DataFrame], pipelines: Seq[Pipeline],
      stub: Option[EsStub]): Int = {
    val expected = Wiring.recompute(spark, defsDir, sql, sources)
    Wiring.viewsToIndices(defsDir).toSeq.map { case (view, index) =>
      val actual = stub match {
        case Some(s) => s.docs(index)
        case None => collect(pipelines.find(_.view == view).get.sink
          .asInstanceOf[BucketedParquetIndex].read())
      }
      diff(index, collect(expected(view)), actual)
    }.sum
  }
}
