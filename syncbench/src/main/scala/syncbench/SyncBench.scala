package syncbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.syncbench.BusShim

import graft.core.GraftSession
import graft.pipeline.{PgSlotFeed, Pipeline, Runner}

/** One `Runner.iterate` that drained changes. Times: nanoTime and
  * wall-clock ms (Spark's listener events carry the latter). */
final class TickRec(val startNs: Long, val endNs: Long, val startMs: Long,
    val endMs: Long, val commits: Int, val rows: Int, val actions: Map[String, Long],
    val failed: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The sync-path benchmark: one workload, one seed, one JSON line.
  *
  * {{{
  * syncbench.SyncBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --defs <dir> [--spans <file>]
  * }}}
  *
  * Generates the school from the seed, starts the session, sets up
  * (pipeline build, sink recreate, backfill) three times, then runs
  * the workload's generator against the production `Runner` for
  * `--seconds`, drains the slot, and checks every sink against a
  * from-scratch recompute. The last stdout line is the result.
  *
  * A traced run sets up once with the job listener on and counts the
  * jobs of a scripted prefix (backfill, idle tick, full refresh, no-op
  * refresh, scoped refresh). Then, on fresh stores, it runs the load for
  * `--seconds` untraced, traced and untraced again, and reports the
  * per-layer metrics of the traced part. Last, untraced, it measures
  * capacity on backlog bursts. */
object SyncBench {
  val PollMs = 50L
  val WarmupS = 4
  /** Capacity bursts per traced run, and the seconds of offered load
    * each one publishes at once. */
  val Bursts = 3
  val BurstS = 3
  /** The stub answers every n-th bulk request 503. */
  val StubFailEvery = 40

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def note(s: String): Unit = {
    val t = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    System.err.println(f"[syncbench +$t%.1fs] $s")
    System.err.flush()
  }

  final case class Args(workload: Workload, seed: Long, seconds: Int,
      trace: Boolean, work: Path, defs: String, spans: Option[Path])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    Args(Workload.all.getOrElse(need("workload"),
        throw new IllegalArgumentException(s"unknown workload ${need("workload")}")),
      need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("defs"), kv.get("spans").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def dirMb(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum / 1048576.0
      finally s.close()
    }

  /** Heap in use after a full GC: the least of three collections a
    * moment apart, so blocks Spark frees asynchronously are gone. */
  private def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  def run(a: Args): Int = {
    val w = a.workload
    val srcDir = Files.createDirectories(a.work.resolve("sources-parquet"))

    // ---- data generation (excluded from setup time)
    val genT0 = System.currentTimeMillis()
    val school = new School(a.seed, Scale.bench, srcDir)
    school.generate()
    val genMs = System.currentTimeMillis() - genT0
    // the generator's own copy of the tables, not the program's
    val baseHeapMb = heapAfterGcMb()
    val baseMs = System.currentTimeMillis() - genT0 - genMs

    // ---- session
    val spark = GraftSession.builder("4")
      .config("spark.local.dir", Files.createDirectories(a.work.resolve("tmp")).toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs - genMs - baseMs) / 1000.0

    val sources: Map[String, () => DataFrame] = school.tables.map { t =>
      t.defn.name -> (() => spark.read.schema(t.defn.sparkSchema).parquet(t.files: _*))
    }.toMap
    val stub = if (w.sql) Some(new EsStub(StubFailEvery)) else None
    val settings = Wiring.settings(stub.map(_.port))
    val jobs = new JobListener
    val scans = new SourceScanListener(srcDir.getFileName.toString)
    def drainBus(): Unit = if (a.trace) BusShim.waitUntilEmpty(spark.sparkContext)
    def tracing(on: Boolean): Unit = if (on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(scans)
      Trace.install(spark.sparkContext)
    } else {
      drainBus()
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(scans)
      Trace.install(null)
    }
    if (a.trace) tracing(true)

    // ---- set-up: build, recreate, backfill (three times untraced)
    val slot = new MemSlot
    val computes = new Wiring.Computes
    final case class Ctx(dir: Path, runner: Runner, feed: TrackingFeed, pipelines: Seq[Pipeline])
    def setup(i: Int): Ctx = {
      val dir = a.work.resolve(s"setup-$i")
      val ps =
        if (w.sql) Wiring.sqlPipelines(spark, a.defs, dir.toString, sources, settings, a.trace)
        else Wiring.nativePipelines(spark, a.defs, dir.toString, sources, settings,
          a.trace, computes)
      val pg = new PgSlotFeed(slot, settings.replicationSlot)
      pg.resetSlot() // before backfill, as the CLI does on a live slot
      val feed = new TrackingFeed(pg)
      val runner = new Runner(ps, feed)
      runner.backfillAll()
      Ctx(dir, runner, feed, ps)
    }
    var ctx: Ctx = null
    var setups = 0
    /** Set up on fresh stores; returns the milliseconds it took. */
    def freshSetup(): Double = {
      if (ctx != null) deleteTree(ctx.dir)
      val t0 = System.nanoTime()
      ctx = setup(setups)
      setups += 1
      (System.nanoTime() - t0) / 1e6
    }
    val setupMs = (1 to (if (a.trace) 1 else 3)).map(_ => freshSetup())
    val setupS = sessionS + Stats.median(setupMs) / 1000.0
    note(f"session $sessionS%.2f s, setups ${setupMs.map(m => f"${m / 1000}%.2f").mkString(", ")} s, " +
      f"datagen ${genMs / 1000.0}%.2f s")

    // ---- ticking
    val publisher = new Publisher(school, slot)
    val mix = new Workload.Mix(w)
    val ticks = mutable.ArrayBuffer[TickRec]()
    var failedTicks = 0
    /** One iterate; false when it found nothing to do. */
    def tick(): Boolean = {
      val s = System.nanoTime()
      val sMs = System.currentTimeMillis()
      try {
        val res = Trace.span("runner.iterate")(ctx.runner.iterate())
        val e = System.nanoTime()
        if (ctx.feed.lastEvents == 0) false
        else {
          val (n, rows) = publisher.markVisible(ctx.feed.lastMaxXid, e)
          ticks += new TickRec(s, e, sMs, System.currentTimeMillis(), n, rows, res, failed = false)
          true
        }
      } catch {
        case NonFatal(ex) =>
          note(s"tick failed: $ex")
          failedTicks += 1
          ticks += new TickRec(s, System.nanoTime(), sMs, System.currentTimeMillis(), 0, 0,
            Map.empty, failed = true)
          true
      }
    }

    // ---- traced only: exact job counts of a scripted prefix
    val counts = mutable.LinkedHashMap[String, Double]()
    if (a.trace) {
      drainBus()
      counts("count.backfill_jobs") = jobs.jobs.size.toDouble
      def stepJobs(changes: Seq[Change]): Double = {
        drainBus()
        val before = jobs.jobs.size
        if (changes.nonEmpty) publisher.publish(changes, System.nanoTime())
        tick()
        drainBus()
        (jobs.jobs.size - before).toDouble
      }
      counts("count.idle_tick_jobs") = stepJobs(Nil)
      counts("count.full_refresh_jobs") = stepJobs(school.changes("grade", 3))
      counts("count.noop_refresh_jobs") = stepJobs(school.changes("active", 3))
      counts("count.scoped_refresh_jobs") = stepJobs(school.changes("gpa", 3))
      tick() // commit the last LSN
      tracing(false)
    }

    def pct(xs: Seq[Double], q: Double, what: String): Double =
      Stats.percentile(xs, q).getOrElse(throw new IllegalStateException(
        s"$what: ${xs.size} samples cannot support p${(q * 100).round}"))

    /** Counters a window reports as differences. */
    final case class Counters(scanRows: Long, lines: Long, stub: Seq[Long],
        full: Long, scoped: Long) {
      def -(o: Counters): Counters = Counters(scanRows - o.scanRows, lines - o.lines,
        stub.zip(o.stub).map(p => p._1 - p._2), full - o.full, scoped - o.scoped)
    }
    def counters(): Counters = {
      drainBus()
      Counters(scans.rows.get, slot.linesPeeked, stub.toSeq.flatMap(_.counters),
        computes.full.get, computes.scoped.get)
    }

    /** A measured interval of the load: the commits due in it, and the
      * ticks that started in it with the counters they moved. */
    final class Part(val startNs: Long, val endNs: Long) {
      var firstTick = -1
      var lastTick = -1
      var at0: Counters = _
      var delta: Counters = _
      def open(): Unit = { at0 = counters(); firstTick = ticks.size }
      def close(): Unit = { delta = counters() - at0; lastTick = ticks.size }
      def ticksIn: Vector[TickRec] = ticks.slice(firstTick, lastTick).toVector
      def commits: Seq[CommitRec] =
        publisher.commits.filter(c => c.dueNs >= startNs && c.dueNs < endNs)
      def latency: Seq[Double] = commits.filter(_.visible).map(c => (c.visibleNs - c.dueNs) / 1e6)
      def p50: Double = pct(latency, 0.5, "visible latency")
    }

    /** Tick until every published commit is visible; false when that
      * took longer than `timeoutS`. */
    def drain(timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (!publisher.allVisible && System.nanoTime() < deadline)
        if (!tick()) Thread.sleep(PollMs)
      publisher.allVisible
    }

    /** Capacity, closed loop: publish the commits the generator offers
      * in [[BurstS]] seconds all at once, then tick until they are
      * visible. Returns rows made visible per second, counted from the
      * first tick's start, so publishing is not timed. In the open
      * loop a busy runner drains whatever arrived, so its rate is the
      * offered rate; only a backlog shows how fast it can go. */
    def burst(): Double = {
      val due = System.nanoTime()
      val recs = (1 to (w.rate * BurstS).toInt).map { _ =>
        val (kind, n) = mix.next()
        publisher.publish(school.changes(kind, n), due)
      }
      val t0 = System.nanoTime()
      val first = ticks.size
      if (!drain(60)) throw new IllegalStateException("a burst did not become visible in 60 s")
      note(s"burst of ${recs.map(_.rows).sum} rows, ticks (ms): " +
        ticks.drop(first).map(_.ms.round).mkString(" "))
      recs.map(_.rows).sum / ((recs.last.visibleNs - t0) / 1e9)
    }

    /** One run of the load. The generator starts [[WarmupS]] early so
      * measuring begins on a loaded, warm system. Then come `--seconds`
      * untraced or, in a traced run, three parts of `--seconds` of one
      * continuous load: untraced, traced, untraced, so that drift along
      * the load cancels out of the tracing overhead. Then the runner
      * keeps ticking until every commit is visible; a traced run then
      * measures [[Bursts]] capacity bursts, untraced. A last tick commits
      * the slot's last LSN, and every sink is checked against a
      * from-scratch recompute of its view. */
    final class Window(traced: Boolean) {
      private val t0 = System.nanoTime() + WarmupS * 1000000000L
      private val len = a.seconds * 1000000000L
      val parts: Seq[Part] =
        (0 until (if (traced) 3 else 1)).map(i => new Part(t0 + i * len, t0 + (i + 1) * len))
      private val gen = new Generator(school, publisher, mix, w.rate,
        t0 - WarmupS * 1000000000L, parts.last.endNs)
      gen.start()
      private var cur = -1
      while (System.nanoTime() < parts.last.endNs) {
        val now = System.nanoTime()
        val i = parts.lastIndexWhere(_.startNs <= now)
        if (i > cur) {
          if (cur >= 0) parts(cur).close()
          if (traced) tracing(i == 1)
          parts(i).open()
          cur = i
        }
        if (!tick()) Thread.sleep(PollMs)
      }
      if (cur < parts.size - 1) throw new IllegalStateException(
        s"a tick outlasted a whole part of the window; use more than ${a.seconds} --seconds")
      parts(cur).close()
      gen.join()
      gen.error.foreach(e => throw e)
      val heapMb: Double = heapAfterGcMb() - baseHeapMb
      stub.foreach { st =>
        val jsonMb = st.indices.values.map(_.map(d => d._1.length + d._2.length).sum).sum / 1048576.0
        note(f"heap $heapMb%.1f MB includes the stub's documents, $jsonMb%.1f MB of JSON")
      }
      parts.foreach(p => note(s"window ticks (ms): ${p.ticksIn.map(_.ms.round).mkString(" ")}"))
      val capacity: Seq[Double] =
        if (!drain(90) || !traced) Nil else (1 to Bursts).map(_ => burst())
      if (traced) note(s"bursts (rows/s): ${capacity.map(_.round).mkString(" ")}")
      tick()
      val drained: Boolean = publisher.allVisible && slot.pendingLines == 0
      if (!drained) note(s"slot not drained: ${slot.pendingLines} lines pending")
      val mismatches: Int = Check.sinks(spark, a.defs, w.sql, sources, ctx.pipelines, stub)
      note(s"checked sinks: $mismatches mismatches")
    }

    // ---- the measured load; a traced run first counts the jobs of a
    // scripted prefix and then measures on freshly set-up stores
    if (a.trace) freshSetup()
    val win = new Window(a.trace)
    val plain = win.parts.head
    val selfTest = SelfTest.all(spark, a.defs, a.work)
    note(s"self-tests passed: $selfTest")
    val correct = win.drained && win.mismatches == 0 && selfTest

    // ---- metrics
    val out = mutable.LinkedHashMap[String, (Double, String)]()
    win.parts.lift(1) match {
      case None =>
        out("setup_s") = setupS -> "s"
        out("visible_p50_ms") = plain.p50 -> "ms"
        out("visible_p90_ms") = pct(plain.latency, 0.9, "visible latency") -> "ms"
        out("live_heap_mb") = win.heapMb -> "MB"
      case Some(traced) =>
        tracing(false)
        val ok = traced.ticksIn.filterNot(_.failed)
        val n = math.max(1, ok.size).toDouble
        val spans = scala.jdk.CollectionConverters.CollectionHasAsScala(Trace.spans).asScala.toVector
        def spanMs(t: TickRec, names: String*): Double = spans.iterator
          .filter(s => names.contains(s.name) && s.startNs >= t.startNs && s.startNs <= t.endNs)
          .map(_.ms).sum
        val allJobs = jobs.jobs.values.toVector
        def jobsIn(t: TickRec) = allJobs.filter(j => j.startMs >= t.startMs && j.startMs <= t.endMs)
        def dur(j: JobRec): Double = if (j.endMs < 0) 0.0 else (j.endMs - j.startMs).toDouble
        def layerMs(t: TickRec, layer: String) = jobsIn(t).filter(_.layer == layer).map(dur).sum
        def covered(t: TickRec): Double = {
          // union of the job intervals inside the tick
          val iv = jobsIn(t).filter(_.endMs >= 0)
            .map(j => (j.startMs, math.min(j.endMs, t.endMs))).sortBy(_._1)
          var total = 0L
          var cur = Long.MinValue
          for ((s, e) <- iv) {
            val from = math.max(s, cur)
            if (e > from) { total += e - from; cur = e }
          }
          total.toDouble
        }
        val okJobs = ok.flatMap(jobsIn)
        val refreshes = ok.flatMap(_.actions.values)
        val actions = refreshes.sum.toDouble
        val rows = ok.map(_.rows).sum.toDouble
        val Seq(bulkReq, bulkActs, bulkBytes, retries) =
          if (traced.delta.stub.nonEmpty) traced.delta.stub else Seq(0L, 0L, 0L, 0L)
        def share(num: Double, den: Double) = if (den == 0) 0.0 else num / den
        out("setup.cold_s") = setupS -> "s"
        out("changes_per_s") = Stats.median(win.capacity) -> "1/s"
        out("pipeline.tick_ms") = Stats.median(ok.map(_.ms)) -> "ms"
        out("pipeline.commits_per_tick") = Stats.mean(ok.map(_.commits.toDouble)) -> "count"
        out("pipeline.noop_share") = share(refreshes.count(_ == 0), refreshes.size) -> "ratio"
        out("pipeline.scoped_share") =
          share(traced.delta.scoped, traced.delta.full + traced.delta.scoped) -> "ratio"
        out("pipeline.drain_ms") = Stats.median(ok.map(spanMs(_, "feed.drain"))) -> "ms"
        out("pipeline.driver_ms") = Stats.median(ok.map(t => t.ms - covered(t))) -> "ms"
        out("cdc.decode_ms") = Stats.median(ok.map(t =>
          spanMs(t, "feed.drain") - spanMs(t, "slot.peek", "slot.advance"))) -> "ms"
        out("cdc.lines_per_tick") = traced.delta.lines / n -> "count"
        out("views.construct_ms") =
          Stats.median(ok.map(spanMs(_, "views.compute", "views.scoped"))) -> "ms"
        out("views.input_rows_per_tick") = traced.delta.scanRows / n -> "count"
        out("refresh.diff_ms") = Stats.median(ok.map(layerMs(_, "diff"))) -> "ms"
        out("refresh.store_ms") = Stats.median(ok.map(layerMs(_, "store"))) -> "ms"
        out("refresh.store_mb") = dirMb(ctx.dir.resolve("snapshots")) -> "MB"
        out("refresh.actions_per_change") = share(actions, rows) -> "ratio"
        out("sink.validate_ms") = Stats.median(ok.map(layerMs(_, "validate"))) -> "ms"
        out("sink.write_ms") = Stats.median(ok.map(spanMs(_, "sink.write"))) -> "ms"
        out("sink.actions_per_tick") = actions / n -> "count"
        out("sink.bulk_requests") = bulkReq.toDouble -> "count"
        out("sink.docs_per_request") = share(bulkActs, bulkReq) -> "count"
        out("sink.bulk_mb") = bulkBytes / 1048576.0 -> "MB"
        out("sink.retries") = retries.toDouble -> "count"
        out("sink.index_mb") = dirMb(ctx.dir.resolve("indexes")) -> "MB"
        out("spark.jobs_per_tick") = okJobs.size / n -> "count"
        out("spark.stages_per_tick") = okJobs.map(_.stages).sum / n -> "count"
        out("spark.tasks_per_tick") = okJobs.map(_.tasks).sum / n -> "count"
        out("spark.task_cpu_ms_per_tick") = okJobs.map(_.cpuNs).sum / 1e6 / n -> "ms"
        out("spark.shuffle_mb_per_tick") = okJobs.map(_.shuffleBytes).sum / 1048576.0 / n -> "MB"
        out("gen.late_ms") = pct(traced.commits.map(c => (c.publishedNs - c.dueNs) / 1e6), 0.9,
          "generator lateness") -> "ms"
        counts.foreach { case (k, v) => out(k) = v -> "count" }
        out("failed_share") = share(failedTicks, ticks.size) -> "ratio"
        out("trace.visible_p50_ms") = traced.p50 -> "ms"
        out("trace.overhead_ms") = (traced.p50 - (plain.p50 + win.parts(2).p50) / 2) -> "ms"
        a.spans.foreach(p => writeSpans(p, spans, allJobs))
    }
    note(s"${ticks.size} ticks, ${publisher.commits.size} commits, " +
      s"${publisher.commits.map(_.rows).sum} rows, failed ticks $failedTicks, " +
      s"sink mismatches ${win.mismatches}")

    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("correct", correct)
    root.put("attempted", ticks.size)
    root.put("failed", failedTicks)
    val m = root.putObject("metrics")
    out.foreach { case (k, (v, unit)) =>
      val o = m.putObject(k)
      o.put("value", v)
      o.put("unit", unit)
    }
    println(mapper.writeValueAsString(root))
    System.out.flush()
    stub.foreach(_.stop())
    spark.stop()
    0
  }

  private def writeSpans(p: Path, spans: Seq[SpanRec], jobs: Seq[JobRec]): Unit = {
    val mapper = new ObjectMapper()
    def obj(kv: (String, Any)*): String = {
      val o = mapper.createObjectNode()
      kv.foreach {
        case (k, v: String) => o.put(k, v)
        case (k, v: Int) => o.put(k, v)
        case (k, v: Long) => o.put(k, v)
        case (k, v: Double) => o.put(k, v)
        case (k, v) => o.put(k, String.valueOf(v))
      }
      o.toString
    }
    Files.createDirectories(p.toAbsolutePath.getParent)
    val lines = spans.sortBy(_.startNs).map(s => obj("span" -> s.name, "id" -> s.id,
      "parent" -> s.parent, "start_ms" -> s.startMs, "ms" -> s.ms)) ++
      jobs.sortBy(_.jobId).map(j => obj("job" -> j.jobId, "span" -> j.span,
        "layer" -> j.layer, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks, "cpu_ms" -> j.cpuNs / 1e6,
        "shuffle_bytes" -> j.shuffleBytes))
    Files.write(p, scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
  }
}
