package graft.pipeline

import graft.cdc.{ChangeEvent, SlotConnection, WalDecoder}

/** A2, the last mile: a [[ChangeFeed]] backed by a Postgres logical
  * replication slot (reference: src/sinker/bulk_action_generator.py:28-38,
  * slot lifecycle runner.py:56-64). Raw `test_decoding` lines are
  * decoded by [[WalDecoder]]; BEGIN/COMMIT and `(no-tuple-data)` lines
  * drop out exactly as the reference's SLOT_RE filter does.
  *
  * Deferred commit, at-least-once: [[drain]] PEEKs the slot (the read
  * leaves it intact) and remembers the batch's last LSN; the ADVANCE
  * (offset commit) happens at the START of the NEXT drain — by which
  * point the runner has finished the previous tick without calling
  * [[requeue]]. A crash or failed tick leaves the confirmed LSN
  * untouched, so the batch replays; idempotent refresh makes the
  * replay converge (§2C). The reference reads with the truncating
  * `pg_logical_slot_get_changes`, so a batch read before a crash is
  * gone.
  */
class PgSlotFeed(conn: SlotConnection, slot: String) extends ChangeFeed {

  // last drained batch's final LSN, not yet advanced
  private var pendingAdvance: Option[String] = None

  /** Drop + recreate the slot — the reference's startup sequence
    * (runner.py:56-64): after setup's backfill, only post-setup changes
    * matter. */
  def resetSlot(): Unit = synchronized {
    if (conn.slotExists(slot)) conn.dropSlot(slot)
    conn.createSlot(slot)
    pendingAdvance = None
  }

  override def drain(): Seq[ChangeEvent] = synchronized {
    // commit the PREVIOUS batch now — reaching this drain means the
    // runner completed the last tick without requeueing it
    pendingAdvance.foreach(conn.advance(slot, _))
    pendingAdvance = None
    val lines = conn.peekChanges(slot)
    pendingAdvance = lines.lastOption.map(_.lsn)
    lines.flatMap(l => WalDecoder.decode(l.xid, l.lsn, l.data))
  }

  /** Cancel the pending advance: the slot still holds the batch, so the
    * next peek replays it by itself. */
  override def requeue(events: Seq[ChangeEvent]): Unit = synchronized {
    pendingAdvance = None
  }
}
