package syncbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

final case class SpanRec(id: Long, name: String, parent: Long,
    startMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans taken from the benchmark's own files around its calls into
  * the program's public functions. Off unless [[install]]ed: then every
  * span also sets the Spark local property [[Key]] on its thread, so
  * jobs the body submits carry the span id. Spans stay in memory. */
object Trace {
  val Key = "syncbench.span"
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong()
  private val current = new ThreadLocal[java.lang.Long]
  val spans = new ConcurrentLinkedQueue[SpanRec]()

  /** Turn spans on for `context`, or off with null. */
  def install(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (sc == null) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(current.get)
      val prevProp = sc.getLocalProperty(Key)
      current.set(id)
      sc.setLocalProperty(Key, id.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(SpanRec(id, name, parent.map(_.longValue).getOrElse(0L),
          startMs, t0, System.nanoTime()))
        parent match {
          case Some(p) => current.set(p)
          case None => current.remove()
        }
        sc.setLocalProperty(Key, prevProp)
      }
    }
}

/** One Spark job as the listener saw it. Mutated only on the listener
  * bus thread; read after the bus is drained. */
final class JobRec(val jobId: Int, val startMs: Long, val span: Long,
    val layer: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
}

object Layers {
  /** The layer a job belongs to, from the `graft.*` frames of the call
    * site Spark records: a job under the strict-schema check is
    * `validate`; any other job under a sink is `sink`; under the
    * snapshot store `store`; one the pipeline itself submits (the
    * recompute + full-outer diff + count) is `diff`. */
  def classify(callSite: String): String = {
    val frames = callSite.split('\n').iterator.map(_.trim)
      .filter(_.startsWith("graft.")).toVector
    def has(prefix: String) = frames.exists(_.startsWith(prefix))
    if (has("graft.sink.StrictSchema")) "validate"
    else if (has("graft.sink.")) "sink"
    else if (has("graft.refresh.")) "store"
    else if (has("graft.pipeline.")) "diff"
    else if (has("graft.views.") || has("graft.analysis.")) "views"
    else "other"
  }
}

/** Counts every job's stages, tasks, executor CPU and shuffle bytes,
  * and tags it with the span its submitting thread had open. A job
  * whose own call site has no program frame (adaptive query stages and
  * broadcasts run from Spark's threads) takes the layer of the SQL
  * execution it belongs to, whose call site is the program's action. */
final class JobListener extends SparkListener {
  val jobs = new TrieMap[Int, JobRec]()
  private val stageJob = new TrieMap[Int, Int]()
  private val executionLayer = new TrieMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionLayer(s.executionId) = Layers.classify(s.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Trace.Key).map(_.toLong).getOrElse(0L)
    val own = Layers.classify(e.stageInfos.lastOption.map(_.details).getOrElse(""))
    val layer =
      if (own != "other") own
      else prop("spark.sql.execution.id").flatMap(id => executionLayer.get(id.toLong))
        .getOrElse(own)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, span, layer)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)
}

/** Rows the source-table scans produced: walks each successful query's
  * physical plan (through adaptive stages and cached relations, each
  * scan node counted once) for parquet scans under `sourceDir`. */
final class SourceScanListener(sourceDir: String)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val rows = new AtomicLong()
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    walk(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def walk(plan: SparkPlan): Unit =
    collect(plan) {
      case s: FileSourceScanExec => s
      case m: InMemoryTableScanExec => m
    }.foreach {
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(_.toString.contains(sourceDir)) &&
            seen.add(s))
          rows.addAndGet(s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
    }
}
