package graft.pipeline

import java.util.concurrent.ConcurrentLinkedQueue

import graft.cdc.ChangeEvent

/** Source of change notifications (A2/A10/A12) — the engine's analogue
  * of the reference's replication-slot + todo-queue pair: appended by
  * whatever watches the source tables, destructively drained by the
  * runner each cycle (reference: src/sinker/query_templates.py:31
  * `delete from todo returning mv`; bulk_action_generator.py:34-36
  * destructive `pg_logical_slot_get_changes`). */
trait ChangeFeed {
  /** Return-and-clear all pending events (offset commit). */
  def drain(): Seq[ChangeEvent]

  /** Compensation for a failed tick: put a drained batch back so the
    * next iterate() retries it (a destructive drain would otherwise
    * lose the batch when a refresh throws). */
  def requeue(events: Seq[ChangeEvent]): Unit
}

/** Driver-side feed for embedded/batch use and tests. Thread-safe. */
class InMemoryChangeFeed extends ChangeFeed {
  private val q = new ConcurrentLinkedQueue[ChangeEvent]()
  def append(events: ChangeEvent*): Unit = events.foreach(q.add)
  override def requeue(events: Seq[ChangeEvent]): Unit = events.foreach(q.add)
  override def drain(): Seq[ChangeEvent] = {
    val buf = scala.collection.mutable.ArrayBuffer[ChangeEvent]()
    var e = q.poll()
    while (e != null) { buf += e; e = q.poll() }
    buf.toSeq
  }
}
