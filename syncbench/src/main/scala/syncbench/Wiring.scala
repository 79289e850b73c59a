package syncbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.GraftSettings
import graft.pipeline.{Pipeline, PipelineConfig}
import graft.refresh.BucketedSnapshotStore
import graft.sink.{BucketedParquetIndex, DocumentSink, EsHttpBulkSink, EsMapping}
import graft.views.{SchoolViews, SqlView}

/** Builds pipelines, sinks and stores with exactly the arguments the
  * CLI derives from its [[GraftSettings]] (see `Main.buildPipelines`
  * and `PipelineConfig.fromDefinitions`): snapshot stores under
  * `<work>/snapshots/<view>` with `snapshotBuckets` and
  * `snapshotMaxDeltas`; the file index under `<work>/indexes/<index>`
  * with the same two plus `sinkMaxRetries`; the ES bulk sink with
  * `esChunkSize`, `sinkMaxRetries`, `sinkTimeoutMs` and `esAuthHeader`,
  * recreated from the index definition file. Traced runs swap in
  * subclasses whose only change is a span around `doApply`. */
object Wiring {

  /** The CLI's settings for an environment with nothing set, or with
    * `ELASTICSEARCH_HOST`/`ELASTICSEARCH_PORT` pointing at the stub. */
  def settings(esPort: Option[Int]): GraftSettings = new GraftSettings(
    esPort.map(p => Map("ELASTICSEARCH_HOST" -> "127.0.0.1",
      "ELASTICSEARCH_PORT" -> p.toString)).getOrElse(Map.empty))

  def readDef(defsDir: String, file: String): String =
    Files.readString(Paths.get(defsDir, file))

  def viewsToIndices(defsDir: String): Map[String, String] =
    PipelineConfig.loadViewsToIndices(s"$defsDir/views_to_indices.json")

  def sinkFactory(spark: SparkSession, defsDir: String, workDir: String,
      settings: GraftSettings, traced: Boolean): (String, StructType) => DocumentSink =
    (index, mapping) => settings.esUrl match {
      case Some(url) =>
        val sink =
          if (traced) new TracedEsSink(url, index, mapping, settings.esChunkSize,
            settings.sinkMaxRetries, settings.sinkTimeoutMs, settings.esAuthHeader)
          else new EsHttpBulkSink(url, index, mapping, settings.esChunkSize,
            settings.sinkMaxRetries, settings.sinkTimeoutMs, settings.esAuthHeader)
        sink.recreate(readDef(defsDir, s"$index.json"))
        sink
      case None =>
        val path = s"$workDir/indexes/$index"
        val sink =
          if (traced) new TracedParquetIndex(spark, index, mapping, path,
            settings.snapshotBuckets, settings.snapshotMaxDeltas, settings.sinkMaxRetries)
          else new BucketedParquetIndex(spark, index, mapping, path,
            settings.snapshotBuckets, settings.snapshotMaxDeltas, settings.sinkMaxRetries)
        sink.recreate()
        sink
    }

  /** The SQL views through the CLI's own builder. */
  def sqlPipelines(spark: SparkSession, defsDir: String, workDir: String,
      sources: Map[String, () => DataFrame], settings: GraftSettings,
      traced: Boolean): Seq[Pipeline] =
    PipelineConfig.fromDefinitions(spark, defsDir, s"$workDir/snapshots",
      sources, sinkFactory(spark, defsDir, workDir, settings, traced), settings)

  /** How often course_mv's compute ran full and scoped. */
  final class Computes {
    val full = new AtomicLong()
    val scoped = new AtomicLong()
  }

  /** The same two views as native [[SchoolViews]], wired by hand:
    * person_mv without a scoped compute, course_mv with
    * `courseMvScoped` and `courseMvCanScope`. Sinks and stores as
    * [[sqlPipelines]] builds them. */
  def nativePipelines(spark: SparkSession, defsDir: String, workDir: String,
      sources: Map[String, () => DataFrame], settings: GraftSettings,
      traced: Boolean, computes: Computes): Seq[Pipeline] = {
    val factory = sinkFactory(spark, defsDir, workDir, settings, traced)
    def sink(index: String) =
      factory(index, EsMapping.toStructType(readDef(defsDir, s"$index.json")))
    def store(view: String) = new BucketedSnapshotStore(spark,
      s"$workDir/snapshots/$view", settings.snapshotBuckets, settings.snapshotMaxDeltas)
    def t(name: String) = sources(name)()
    val indices = viewsToIndices(defsDir)
    Seq(
      new Pipeline("person_mv", "person", Set("person"),
        () => Trace.span("views.compute")(SchoolViews.personMv(t("person"))),
        store("person_mv"), sink(indices("person_mv"))),
      new Pipeline("course_mv", "course",
        Set("course", "teacher", "student", "person", "enrollment"),
        () => Trace.span("views.compute") {
          computes.full.incrementAndGet()
          SchoolViews.courseMv(t("course"), t("teacher"), t("student"),
            t("person"), t("enrollment"))
        },
        store("course_mv"), sink(indices("course_mv")),
        Some(changes => Trace.span("views.scoped") {
          computes.scoped.incrementAndGet()
          SchoolViews.courseMvScoped(t("course"), t("teacher"), t("student"),
            t("person"), t("enrollment"))(changes)
        }),
        SchoolViews.courseMvCanScope))
  }

  /** From-scratch recompute of every view over the current sources,
    * by the same view code the pipelines run. */
  def recompute(spark: SparkSession, defsDir: String, sql: Boolean,
      sources: Map[String, () => DataFrame]): Map[String, DataFrame] = {
    def t(name: String) = sources(name)()
    viewsToIndices(defsDir).map { case (view, _) =>
      view -> (
        if (sql) SqlView.compile(spark, readDef(defsDir, s"$view.sql"), sources)()
        else if (view == "person_mv") SchoolViews.personMv(t("person"))
        else SchoolViews.courseMv(t("course"), t("teacher"), t("student"),
          t("person"), t("enrollment")))
    }
  }
}

final class TracedParquetIndex(spark: SparkSession, name: String,
    schema: StructType, path: String, buckets: Int, maxDeltas: Int,
    retries: Int)
    extends BucketedParquetIndex(spark, name, schema, path, buckets, maxDeltas, retries) {
  override protected def doApply(actions: DataFrame): Unit =
    Trace.span("sink.write")(super.doApply(actions))
}

final class TracedEsSink(url: String, name: String, schema: StructType,
    chunk: Int, retries: Int, timeoutMs: Int, auth: Option[String])
    extends EsHttpBulkSink(url, name, schema, chunk, retries, timeoutMs, auth) {
  override protected def doApply(actions: DataFrame): Unit =
    Trace.span("sink.write")(super.doApply(actions))
}
