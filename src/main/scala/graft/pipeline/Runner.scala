package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import com.fasterxml.jackson.databind.ObjectMapper

/** A18: pipeline-binding config, the `views_to_indices.json` equivalent
  * (reference: src/sinker/runner.py:30-31,
  * tests/fixtures/views_to_indices.json). */
object PipelineConfig {
  private val mapper = new ObjectMapper()
  def loadViewsToIndices(path: String): Map[String, String] = {
    val node = mapper.readTree(Files.readString(Paths.get(path)))
    val buf = scala.collection.mutable.LinkedHashMap[String, String]()
    val it = node.fields()
    while (it.hasNext) { val e = it.next(); buf(e.getKey) = e.getValue.asText() }
    buf.toMap
  }

  /** Build every pipeline from a reference-layout definitions directory
    * — `views_to_indices.json`, one `<view>.sql` Postgres-dialect query
    * per view, one `<index>.json` ES index definition per index
    * (reference: src/sinker/runner.py:30-41, sinker.py:88-105,74-86).
    * This is the drop-in path for a sinker user: same files, Spark
    * execution.
    *
    * @param sources     current-state accessor per source table
    * @param workDir     root for the per-view snapshot stores
    * @param sinkFactory sink per (index, declared mapping)
    * @param settings    env-driven knobs (snapshot buckets/compaction) */
  def fromDefinitions(
      spark: org.apache.spark.sql.SparkSession,
      definitionsDir: String,
      workDir: String,
      sources: Map[String, () => org.apache.spark.sql.DataFrame],
      sinkFactory: (String, org.apache.spark.sql.types.StructType) => graft.sink.DocumentSink,
      settings: graft.core.GraftSettings = graft.core.GraftSettings.fromEnv)
      : Seq[Pipeline] = {
    // one sink INSTANCE per index: the reference allows several views
    // feeding one index (distinct id spaces); separate sink objects over
    // one path would race their merges
    val sinkCache = scala.collection.mutable.Map[String, graft.sink.DocumentSink]()
    loadViewsToIndices(s"$definitionsDir/views_to_indices.json").toSeq.map {
      case (view, index) =>
        val viewSql = Files.readString(Paths.get(s"$definitionsDir/$view.sql"))
        val (parent, tables) =
          graft.analysis.ViewAnalyzer.parseSchemaTables(spark, viewSql)
        val sink = sinkCache.getOrElseUpdate(index, {
          val mapping = graft.sink.EsMapping.toStructType(
            Files.readString(Paths.get(s"$definitionsDir/$index.json")))
          sinkFactory(index, mapping)
        })
        new Pipeline(view, parent, tables,
          graft.views.SqlView.compile(spark, viewSql, sources, Some(tables)),
          // bucketed: refresh writes scale with change volume, not view size
          new graft.refresh.BucketedSnapshotStore(spark, s"$workDir/$view",
            settings.snapshotBuckets, settings.snapshotMaxDeltas),
          sink)
    }
  }
}

/** Orchestrator (A13/A14): owns all pipelines, fans setup/refresh out in
  * parallel, and surfaces worker errors instead of swallowing them —
  * the reference's `ThreadPoolExecutor` + `future.result()` semantics
  * (reference: src/sinker/runner.py:44-50, 91-99).
  *
  * One iterate() = the reference's poll tick (runner.py:73-117): drain
  * the change feed, map changed TABLES to the VIEWS that read them
  * (trigger-equivalent dirty detection, A10), refresh each dirty view
  * once no matter how many row changes arrived (dirty-set coalescing,
  * A11 — the todo PK + ON CONFLICT DO NOTHING collapse), and let each
  * refresh's diff push the delta to its sink. Unlike the reference,
  * refresh and slot-drain aren't separate phases: the diff IS the
  * change stream, computed exactly (no race window —
  * runner.py:80-86's re-enqueue caveat disappears).
  */
class Runner(val pipelines: Seq[Pipeline], feed: ChangeFeed) {

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Await ALL futures — even after a failure — then re-throw the first
    * one (the reference re-raises via future.result() — runner.py:48-49,
    * 97-98). Waiting for stragglers matters: a fail-fast await would
    * leave a sibling refresh still running while the caller requeues and
    * retries the batch, racing two refreshes of one pipeline over the
    * same snapshot store. */
  private def awaitAll[T](fs: Seq[Future[T]]): Seq[T] = {
    val settled = Await.result(
      Future.sequence(fs.map(_.transform(scala.util.Success(_)))), Duration.Inf)
    settled.collectFirst { case scala.util.Failure(e) => throw e }
    settled.map(_.get)
  }

  /** Parallel setup + backfill of every pipeline (runner.py:44-50).
    * @return view → docs loaded */
  def backfillAll(): Map[String, Long] =
    awaitAll(pipelines.map(p => Future(p.view -> p.backfill()))).toMap

  /** One poll tick. Each dirty pipeline gets only its relevant change
    * events (filtered by source table) and routes through
    * `refreshScoped`, whose `canScope` sends unscopable batches
    * (wildcards; deletes without a usable before-image) and pipelines
    * without a scoped compute to the full recompute-and-diff.
    * @return view → #actions applied (empty = idle). */
  def iterate(): Map[String, Long] = {
    val changed = feed.drain()
    if (changed.isEmpty) return Map.empty
    val tables = changed.map(_.table).toSet
    val dirty = pipelines.filter(_.sourceTables.exists(tables))
    try {
      awaitAll(dirty.map { p =>
        val relevant = changed.filter(e => p.sourceTables.contains(e.table))
        Future(p.view -> p.refreshScoped(relevant))
      }).toMap
    } catch {
      case e: Throwable =>
        // the drain already consumed the batch; put it back so the next
        // tick retries (idempotent refresh makes double-processing of
        // any already-succeeded view a no-op)
        feed.requeue(changed)
        throw e
    }
  }

  /** Poll loop (A14; reference runner.py:68-90): iterate forever,
    * sleeping `pollIntervalMs` when idle. `maxTicks` bounds the loop
    * for embedding/tests (reference loops unboundedly). */
  def run(pollIntervalMs: Long = 10000L, maxTicks: Long = Long.MaxValue): Unit = {
    var ticks = 0L
    while (ticks < maxTicks) {
      if (iterate().isEmpty) Thread.sleep(pollIntervalMs)
      ticks += 1
    }
  }
}
