package syncbench

import scala.collection.mutable

import graft.cdc.{ChangeEvent, SlotConnection, WalLine}
import graft.pipeline.ChangeFeed

/** In-memory stand-in for a Postgres logical replication slot with the
  * `test_decoding` plugin: the generator appends whole transactions
  * (`BEGIN <xid>`, one line per row change, `COMMIT <xid>`), and the
  * production [[graft.pipeline.PgSlotFeed]] peeks and advances it
  * exactly as it does a live slot. LSNs are `0/<hex>`, increasing. */
final class MemSlot extends SlotConnection {
  private val pending = mutable.ArrayBuffer[(Long, WalLine)]()
  private var exists = false
  private var nextLsn = 0x1000000L
  @volatile var linesPeeked = 0L

  /** Append one whole transaction. */
  def appendTx(xid: Long, rowLines: Seq[String]): Unit = synchronized {
    for (data <- s"BEGIN $xid" +: rowLines :+ s"COMMIT $xid") {
      nextLsn += 0x28
      pending += nextLsn -> WalLine(xid, MemSlot.lsn(nextLsn), data)
    }
  }

  def pendingLines: Int = synchronized(pending.size)

  override def slotExists(slot: String): Boolean = synchronized(exists)
  override def createSlot(slot: String): Unit = synchronized { exists = true }
  override def dropSlot(slot: String): Unit = synchronized {
    exists = false; pending.clear()
  }

  override def peekChanges(slot: String): Seq[WalLine] = Trace.span("slot.peek") {
    val out = synchronized(pending.map(_._2).toVector)
    linesPeeked += out.size
    out
  }

  override def getChanges(slot: String): Seq[WalLine] = synchronized {
    val out = pending.map(_._2).toVector
    pending.clear()
    out
  }

  override def advance(slot: String, lsn: String): Unit = Trace.span("slot.advance") {
    val upTo = MemSlot.parse(lsn)
    synchronized { pending.dropWhileInPlace(_._1 <= upTo) }
  }

  override def close(): Unit = ()
}

object MemSlot {
  def lsn(n: Long): String = f"0/$n%X"
  def parse(lsn: String): Long = java.lang.Long.parseLong(lsn.split('/')(1), 16)
}

/** Delegating feed around [[graft.pipeline.PgSlotFeed]]: remembers the
  * highest xid each drain returned (so the benchmark knows which
  * commits a tick applied) and spans the drain when tracing. */
final class TrackingFeed(inner: ChangeFeed) extends ChangeFeed {
  @volatile var lastMaxXid: Long = -1L
  @volatile var lastEvents: Int = 0

  override def drain(): Seq[ChangeEvent] = {
    val events = Trace.span("feed.drain")(inner.drain())
    lastEvents = events.size
    lastMaxXid = if (events.isEmpty) -1L else events.iterator.map(_.xid).max
    events
  }

  override def requeue(events: Seq[ChangeEvent]): Unit = inner.requeue(events)
}
