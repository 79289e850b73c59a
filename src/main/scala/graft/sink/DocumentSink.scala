package graft.sink

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed, idempotent document index (A5-A7, A16) — the engine's
  * equivalent of the reference's Elasticsearch index: full-document
  * upsert by `_id` ("index" action overwrites whatever is there —
  * reference: src/sinker/bulk_action_generator.py:75-90), delete by
  * `_id` (:60-73), and a declared strict mapping enforced on every
  * batch (sinker.py:74-86).
  *
  * Applying the same action batch twice converges to the same state
  * (at-least-once delivery + idempotent upsert, SURVEY §2C).
  */
trait DocumentSink {
  def index: String
  def mapping: StructType

  /** Transient-failure retry budget per batch, the reference's ES bulk
    * `max_retries` (src/sinker/settings.py:25,36-41). Schema violations
    * are NOT retried — they fail deterministically before any write. */
  def maxRetries: Int = 5

  /** Whole-batch retry budget used by [[applyActions]]. Sinks that
    * already retry transients at a finer granularity (per chunk —
    * [[EsHttpBulkSink]]) override this to 0: nesting both loops would
    * multiply the work to (maxRetries+1)² requests per chunk. */
  protected def batchRetries: Int = maxRetries

  /** Apply a batch of actions `(op: "index"|"delete", id, doc)`.
    * Validates strictness first and fails the whole batch on any
    * violation (ES `raise_on_error=True` semantics —
    * reference: src/sinker/settings.py:36-41); writes retry up to
    * [[maxRetries]] times (idempotent actions make a retry after a
    * partial write safe). */
  final def applyActions(actions: DataFrame): Unit = {
    StrictSchema.validate(actions, mapping, index)
    var attempt = 0
    var done = false
    while (!done) {
      try { doApply(actions); done = true }
      catch {
        // deterministic sink-side rejections can't be retried away
        case e: SinkRejectionException => throw e
        case e: org.apache.spark.SparkException
            if causeChain(e).exists(_.isInstanceOf[SinkRejectionException]) =>
          throw e
        // NonFatal only: VM errors and interrupts must surface at once
        case scala.util.control.NonFatal(_) if attempt < batchRetries =>
          attempt += 1
          Thread.sleep(50L * attempt)
      }
    }
  }

  private def causeChain(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq

  protected def doApply(actions: DataFrame): Unit

  def get(id: String): Option[String]
  def count(): Long
}

/** Test/driver-side sink: a concurrent map. Collects each batch to the
  * driver — ONLY for golden tests and interactive inspection; the scale
  * path is [[BucketedParquetIndex]]. */
class InMemoryIndex(val index: String, val mapping: StructType)
    extends DocumentSink {
  private val docs = TrieMap.empty[String, String]

  override protected def doApply(actions: DataFrame): Unit =
    actions.select("op", "id", "doc").collect().foreach { r =>
      r.getString(0) match {
        case "index" => docs.put(r.getString(1), r.getString(2))
        case "delete" => docs.remove(r.getString(1))
        case other => throw new IllegalArgumentException(s"unknown op $other")
      }
    }

  override def get(id: String): Option[String] = docs.get(id)
  override def count(): Long = docs.size.toLong
  def ids: Set[String] = docs.keySet.toSet
}

/** The 100 TB sink: delegates storage to a
  * [[graft.refresh.BucketedSnapshotStore]] — hash-bucketed base +
  * merge-on-read delta log + amortized scoped compaction. A batch
  * appends ONE delta file (write I/O ∝ change volume, even when the
  * touched ids hash into every bucket) and swaps a manifest pointer
  * atomically; compaction folds the log into only the touched buckets
  * when it grows. A bulk load into an empty index compacts immediately,
  * landing in bucketed form — the analogue of the reference's 100-doc
  * ES bulk chunks with retry (reference: src/sinker/settings.py:23-41).
  */
class BucketedParquetIndex(spark: SparkSession, val index: String,
    val mapping: StructType, path: String, numBuckets: Int = 64,
    maxDeltas: Int = 8, retries: Int = 5)
    extends DocumentSink {

  override def maxRetries: Int = retries

  private val store =
    new graft.refresh.BucketedSnapshotStore(spark, path, numBuckets, maxDeltas)

  /** Initialize empty (A16 recreate_index: delete + recreate) —
    * manifest-only: publishing the empty snapshot needs no Spark job
    * (an empty stage+commit used to pay one write job for zero rows).
    * The store deletes its own root, so no state it holds in memory
    * outlives the files. */
  def recreate(): Unit = store.recreate()

  def read(): DataFrame = store.read()

  // serialized per instance: several pipelines may feed one index, and
  // concurrent merges over the same manifest would race
  override protected def doApply(actions: DataFrame): Unit =
    this.synchronized { store.mergeActions(actions) }

  override def get(id: String): Option[String] = {
    import spark.implicits._
    store.readScoped(Seq(id).toDF("id"))
      .collect().headOption.map(_.getString(1))
  }
  override def count(): Long = read().count()
}
