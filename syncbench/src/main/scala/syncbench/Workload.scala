package syncbench

/** One benchmark workload.
  *
  * @param sql     the reference SQL views through `fromDefinitions`,
  *                synced through the ES bulk sink into [[EsStub]]; else
  *                native [[graft.views.SchoolViews]] with a scoped
  *                compute for course_mv, synced into the CLI's offline
  *                file index
  * @param rate    commits per second (open loop)
  * @param kinds   cycle of change kinds, one per commit
  * @param sizes   cycle of rows per commit; its length is coprime to
  *                that of `kinds`, so every kind meets every size */
final case class Workload(name: String, sql: Boolean, rate: Double,
    kinds: Vector[String], sizes: Vector[Int])

object Workload {
  private def cycle(parts: (String, Int)*): Vector[String] = {
    // interleave kinds evenly: spread each kind's slots across the cycle
    val slots = parts.flatMap { case (k, n) => (0 until n).map(i => (i.toDouble / n, k)) }
    slots.sortBy(_._1).map(_._2).toVector
  }

  val all: Map[String, Workload] = Seq(
    Workload("cdc_sql_full", sql = true, rate = 12,
      kinds = cycle("rename" -> 4, "gpa" -> 3, "grade" -> 3, "salary" -> 2,
        "enroll" -> 2, "unenroll" -> 2, "course_add" -> 1, "course_drop" -> 1,
        "active" -> 2),
      // 21 sizes of 1..20 rows (20 twice) against 20 kinds
      sizes = Vector.tabulate(21)(i => math.min(20, 1 + (i * 8) % 21))),
    Workload("cdc_scoped", sql = false, rate = 10,
      // 1 commit in 150 (one per window) is an enrollment update with
      // no before-image, which course_mv cannot scope
      kinds = cycle("gpa" -> 45, "enroll" -> 45, "salary" -> 26,
        "course_edit" -> 33, "grade" -> 1),
      // 7 sizes of 1..3 rows against 150 kinds
      sizes = Vector(1, 2, 3, 1, 2, 3, 2))
  ).map(w => w.name -> w).toMap

  /** The workloads' commits in order: kind and size of the next one.
    * The generator and the backlog bursts draw from one sequence, so a
    * run's commits follow the cycles without restarting. */
  final class Mix(w: Workload) {
    private var k = 0
    def next(): (String, Int) = {
      val out = (w.kinds(k % w.kinds.size), w.sizes(k % w.sizes.size))
      k += 1
      out
    }
  }
}
