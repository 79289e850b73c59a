package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.refresh.{BucketedSnapshotStore, DiffRefresher}
import graft.sink.DocumentSink

/** One sync'd view: the unit the reference calls a `Sinker`
  * (reference: src/sinker/sinker.py:27-135). Owns the view
  * recomputation, the keyed snapshot, and the document sink.
  *
  * `compute` re-evaluates the user's denormalization query against the
  * CURRENT source tables and must return `(id, doc-json-string)` — the
  * reference's mandatory 2-column MV shape
  * (reference: src/sinker/query_templates.py:11).
  */
class Pipeline(
    val view: String,
    val parentTable: String,
    val sourceTables: Set[String],
    compute: () => DataFrame,
    store: BucketedSnapshotStore,
    val sink: DocumentSink,
    scopedCompute: Option[Seq[graft.cdc.ChangeEvent] => (DataFrame, DataFrame)] = None,
    canScope: Seq[graft.cdc.ChangeEvent] => Boolean =
      Pipeline.defaultCanScope) {

  /** A1/A8: materialize the initial snapshot and bulk-load the sink —
    * the reference's `setup` + backfill via server-side cursor
    * (reference: src/sinker/sinker.py:52-72). The pointer commits only
    * AFTER the sink accepted the load (same failure ordering as
    * [[refresh]]): a sink failure leaves no committed snapshot, so the
    * retried backfill reloads instead of diffing to a false no-op.
    * Returns #docs loaded. */
  def backfill(): Long = {
    val v = store.stage(compute())
    val snap = store.readVersion(v)
    sink.applyActions(
      snap.select(lit("index").as("op"), col("id"), col("doc")))
    store.commit(v)
    snap.count()
  }

  /** A9: `REFRESH ... CONCURRENTLY` equivalent — recompute, diff old vs
    * new, push only the delta to the sink, then MERGE the delta into the
    * snapshot. Returns #actions applied.
    *
    * I/O shape (the 100 TB property): the recomputed view flows
    * through ONE full-outer diff join (never staged into the store);
    * the diff is the only thing written — so an idle refresh writes
    * NOTHING, and a 1% change batch appends one change-sized delta to
    * the bucketed store. The view query runs exactly once per refresh
    * (single diff branch).
    *
    * Failure ordering: the snapshot merge commits only after the sink
    * accepted the batch, so a sink failure leaves the old snapshot
    * committed and the next refresh re-diffs and re-sends — at-least-
    * once delivery converging via idempotent upserts (SURVEY §2C). */
  def refresh(): Long = {
    // compute() runs first so a failing view query surfaces ITS error,
    // not the store's (e.g. "no committed snapshot" on a never-backfilled
    // pipeline) — the reference's error-ordering the runner tests pin
    val newSnap = compute()
    applyDiff(DiffRefresher.diffKeyed(store.readKeyed(), newSnap))
  }

  /** The 100 TB refresh path: recompute ONLY the view keys a change
    * batch can affect (derived by mapping changed source rows through
    * the view's join graph — the per-pipeline `scopedCompute`), instead
    * of the whole view. Work scales with change volume, not view size:
    * `REFRESH CONCURRENTLY`'s cost model, which the reference gets from
    * Postgres for free and a naive recompute loses (SURVEY §7.4).
    *
    * `scopedCompute(changes)` returns `(affectedIds(id), recomputed(id,
    * doc))` where `recomputed` covers exactly the still-existing docs of
    * `affectedIds`. The old side is the snapshot restricted to
    * `affectedIds`, so the keyed diff yields:
    *   - recomputed rows whose (id, hash) isn't in the old snapshot →
    *     upserts;
    *   - affected ids present in old but absent from recomputed →
    *     deletes;
    *   - affected ids whose doc is unchanged → nothing: the snapshot
    *     already holds that doc, so merging the diff alone leaves the
    *     snapshot at old minus affected, plus recomputed.
    *
    * Pipelines without a scoped compute — and batches the view's
    * `canScope` predicate rejects (default: any table-level wildcard or
    * DELETE, since a dead row can't be key-mapped without a
    * before-image; views whose mapping understands before-images pass a
    * wider predicate) — fall back to full [[refresh]].
    * @return #actions applied */
  def refreshScoped(changes: Seq[graft.cdc.ChangeEvent]): Long = scopedCompute match {
    case None => refresh()
    case Some(_) if !canScope(changes) => refresh()
    case Some(f) =>
      val (affectedIds, recomputed) = f(changes)
      val ids = affectedIds.select(col("id")).distinct().cache()
      try applyDiff(DiffRefresher.diffKeyed(store.readScopedKeyed(ids), recomputed))
      finally ids.unpersist()
  }

  /** The shared refresh tail: count the diff, push it to the sink, then
    * merge the same actions into the snapshot, so the snapshot moves in
    * step with what the sink received. The diff reads the recomputed
    * view exactly once, so only the change-sized ACTIONS frame is
    * cached; the count, the sink and the merge all share it.
    * @return #actions applied */
  private def applyDiff(diff: DataFrame): Long = {
    val actions = diff.cache()
    try {
      val n = actions.count()
      if (n > 0) {
        sink.applyActions(actions)
        store.mergeActions(actions)
      }
      n
    } finally actions.unpersist()
  }
}

object Pipeline {
  /** Conservative default: scope only batches with concrete row keys
    * and no deletes (a deleted row no longer joins, so key-mapping it
    * needs a before-image the default mapping doesn't assume). */
  val defaultCanScope: Seq[graft.cdc.ChangeEvent] => Boolean =
    changes => changes.forall(e => e.id != "*" && e.op != "DELETE")
}
