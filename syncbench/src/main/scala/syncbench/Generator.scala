package syncbench

import scala.collection.mutable

/** One published source transaction. Times are `System.nanoTime`. */
final class CommitRec(val xid: Long, val dueNs: Long, val rows: Int) {
  @volatile var publishedNs: Long = -1L
  @volatile var visibleNs: Long = -1L
  def visible: Boolean = visibleNs >= 0
}

/** Publishes commits: applies the row changes to the source tables,
  * swaps in the rewritten parts, then appends the transaction to the
  * slot. */
final class Publisher(school: School, slot: MemSlot) {
  private val recs = mutable.ArrayBuffer[CommitRec]()
  private var xid = 1000L
  private var visibleUpTo = 0 // recs(0 until visibleUpTo) are visible

  def commits: Seq[CommitRec] = synchronized(recs.toVector)

  def publish(changes: Seq[Change], dueNs: Long): CommitRec = {
    school.applyAndPublish(changes)
    val rec = synchronized {
      xid += 1
      val r = new CommitRec(xid, dueNs, changes.size)
      recs += r
      r
    }
    slot.appendTx(rec.xid, changes.map(_.walLine))
    rec.publishedNs = System.nanoTime()
    rec
  }

  /** A tick that drained everything up to `maxXid` ended at `nowNs`;
    * returns the commits and rows it made visible. */
  def markVisible(maxXid: Long, nowNs: Long): (Int, Int) = synchronized {
    var (n, rows) = (0, 0)
    while (visibleUpTo < recs.size && recs(visibleUpTo).xid <= maxXid) {
      recs(visibleUpTo).visibleNs = nowNs
      rows += recs(visibleUpTo).rows
      visibleUpTo += 1
      n += 1
    }
    (n, rows)
  }

  def allVisible: Boolean = synchronized(visibleUpTo == recs.size)
}

/** The load: one thread that emits commits until `endNs`, open loop:
  * commit k is due at `startNs + k / rate`; the thread sleeps until
  * then and never waits on the system (when late it publishes back to
  * back). Kinds and sizes follow fixed cycles and the seed picks rows
  * and values, so every seed offers the same number of row changes. */
final class Generator(school: School, publisher: Publisher, mix: Workload.Mix,
    rate: Double, startNs: Long, endNs: Long) extends Thread("syncbench-generator") {
  setDaemon(true)
  @volatile var error: Option[Throwable] = None

  override def run(): Unit =
    try {
      val intervalNs = (1e9 / rate).toLong
      var k = 0
      var due = startNs
      while (due < endNs) {
        val wait = due - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val (kind, n) = mix.next()
        publisher.publish(school.changes(kind, n), due)
        k += 1
        due = startNs + k * intervalNs
      }
    } catch { case e: Throwable => error = Some(e) }
}
