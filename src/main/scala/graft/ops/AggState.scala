package graft.ops

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.StagedSwap.fsFor

/** Persisted partial-aggregate state: incremental view maintenance for
  * metric tables, laid out so a delta refresh costs the DELTA's bucket
  * footprint — never a re-aggregation of the base.
  *
  * The q212 gate proves the algebra (merge(partial(base),
  * partial(delta)) ≡ aggregate(base ∪ delta) for count + quantized
  * sum); this operator is the 100 TB layout for it, the same
  * persisted-index move as [[DedupIndex]] (band keys) and
  * [[AnnIndex]] (LSH buckets), applied to aggregation state:
  *
  *  - [[write]] aggregates the base ONCE into (group cols, n, sv,
  *    mn, mx) partials — n a count, sv an order-independent quantized
  *    integer sum (the q120/q172 discipline: exact, so a
  *    1000-executor merge reproduces a serial recompute bit-for-bit),
  *    mn/mx the raw extrema (merged by least/greatest — selection,
  *    never arithmetic, so no quantization needed) — and persists them
  *    PARTITIONED BY a caller-chosen pruning bucket over the leading
  *    group column (`pbucket`), each bucket co-located into one file.
  *  - [[refresh]] answers "what are these groups' aggregates NOW":
  *    the delta's partials are computed (delta-sized work), the
  *    distinct buckets they land in are collected (parameter-bounded:
  *    ≤ |delta groups| longs), and ONLY those partition directories
  *    are read and merged — resident buckets the delta never touches
  *    are not listed, opened, or scanned.
  *  - [[absorb]] folds a delta into the store by rewriting ONLY its
  *    touched partitions (dynamic partition overwrite): the rewritten
  *    content is the touched buckets' full-outer merge — consolidated
  *    to one row per group — and untouched partitions stay
  *    byte-identical (AggStateSpec pins this). AT-MOST-ONCE per
  *    delta: absorb folds counts in destructively, so replaying the
  *    same delta double-counts. Use the epoch-layered path below when
  *    the producer is at-least-once.
  *
  * ==Layered epochs: exactly-once effect under at-least-once delivery==
  * Stored rows carry an `epoch` column (−1 for the base generation and
  * for absorb/compact output). [[appendDelta]] APPENDS one partial row
  * per (group, epoch) for a delta batch — resident files untouched,
  * the [[AnnIndex.append]] shape — and every read path first drops
  * duplicate (group cols, epoch) rows before summing layers. Partials
  * are a deterministic function of the batch, so a REDELIVERED epoch
  * writes byte-identical rows that the dedupe collapses: replay
  * degrades read cost, never answers (the [[AnnIndex.topK]]
  * redelivery argument, transplanted to aggregation). That makes
  * [[absorbStream]] — a checkpointed foreachBatch that appendDeltas
  * each micro-batch under its epoch id — effectively exactly-once
  * without a transaction log, under one contract: epoch ids are
  * assigned by ONE producer per store (Structured Streaming's batch
  * ids qualify; two different deltas reusing an id would wrongly
  * dedupe). [[compactState]] folds the layers back to one row per
  * group when the per-read layer sum grows past taste.
  *
  * Three store kinds share this layout and lifecycle: "sum" (count/
  * sum/extrema partials — [[write]]), "distinct" (per-group KMV
  * sketches — [[writeDistinct]]), and "mg" (per-group Misra–Gries
  * heavy-hitter summaries — [[writeMg]]; see the mg section banner
  * for its bounds and deliberately absorb-only maintenance).
  *
  * ==Parameter integrity==
  * [[write]]/[[writeDistinct]]/[[writeMg]] stamp a `_graft_agg_meta`
  * file beside the data carrying the store kind, a layout
  * version, the quantization scale (or sketch k), and the CANONICAL
  * bucket-expression string — and every maintenance entry point
  * `require`-matches the caller's parameters against it (the
  * [[DedupIndex]] checkParams discipline): a drifted quantScale, k, or
  * bucket expression corrupts silently otherwise (sums land in a
  * different fixed-point domain; partials land in buckets no probe
  * will read). Meta-less stores (pre-stamp generations, externally
  * fabricated — the q230 legacy case) stay maintainable and are
  * stamped lazily by their next maintenance write.
  *
  * At 100 TB: the raw fact table is enormous, the partials table is
  * |distinct groups| rows, and a daily refresh touches |delta groups|
  * of them. The recompute alternative re-scans every fact row for the
  * touched groups; the rebuild alternative re-aggregates and rewrites
  * everything. ScaleSoak's ivm arms measure both contrasts.
  *
  * ==Crash contract==
  * Full rewrites ([[write]], the rebuckets, [[shrinkDistinctK]]) are
  * [[StagedSwap]] whole-store swaps through a `_rebucketing` stage
  * whose marker is the meta. Mutating entry points run the module's
  * writer-side `recover` first; read paths only heal a missing live
  * dir ([[StagedSwap.healIfMissing]]), so a reader never deletes a
  * running rewrite's stage.
  */
object AggState {

  private val MetaFile = "_graft_agg_meta"

  /** Layout versions stamped into the meta: sum stores are v2 (v1, the
    * pre-round-14 layout, had no extrema columns); distinct stores are
    * v1. A HIGHER version than the code knows fails loudly (a newer
    * writer's store must not be maintained by older code); LOWER
    * versions stay readable ([[readStore]]'s schema union +
    * [[residentAgg]]'s null-extrema tolerance — the q230 migration),
    * and the next maintenance write stamps the current version. */
  private val SumLayout = 2
  private val DistinctLayout = 1

  /** The canonical text of the caller's bucket expression — the
    * Column's own rendering of its node tree, deterministic for a
    * given construction (no ids, no session state), so two sessions
    * building the same expression stamp (and validate against) the
    * same spec string. Newlines are squashed: the meta file is
    * line-oriented. */
  private def bucketSpecOf(bucketOf: Column): String =
    bucketOf.toString.replaceAll("\\s+", " ").trim

  /** The store's parameters as its meta body — the [[DedupIndex]]
    * checkParams discipline for path-based stores: a drifted
    * `quantScale` (sums in a different fixed-point domain), a drifted
    * `k` (under-filled sketches), or a drifted bucket expression
    * (partials landing in buckets the probe will never read) all
    * corrupt SILENTLY if only caller discipline guards them. Written
    * LAST, after the data — files starting with `_` are invisible to
    * the parquet reader. */
  private def metaBody(kind: String, layout: Int,
      params: Seq[(String, String)]): String =
    StagedSwap.renderKv(
      Seq("kind" -> kind, "layout" -> layout.toString) ++ params)

  private def readMeta(spark: SparkSession,
      path: String): Option[Map[String, String]] = {
    val fs = fsFor(path, spark)
    val p = new HPath(path, MetaFile)
    if (fs.exists(p)) Some(StagedSwap.readKv(fs, p)) else None
  }

  /** Fail loudly when a caller's parameters drift from the ones
    * stamped at [[write]]/[[writeDistinct]]. A store with no meta file
    * (built before the stamp existed, or fabricated by an external
    * writer — the q230 legacy case) has nothing to check, the old
    * caller-discipline contract; its next maintenance write stamps it
    * lazily with the parameters that maintenance ran under. */
  private def checkMeta(spark: SparkSession, path: String, kind: String,
      maxLayout: Int, params: (String, String)*): Unit =
    readMeta(spark, path).foreach { m =>
      m.get("kind").foreach(k => require(k == kind,
        s"$path is a '$k' store but the caller used the '$kind' API — " +
          "sum and distinct stores are separate layouts at separate paths"))
      m.get("layout").foreach(l => require(l.toInt <= maxLayout,
        s"$path carries layout ${l.toInt} but this code writes layout " +
          s"$maxLayout — a newer writer owns this store"))
      params.foreach { case (key, got) =>
        // bucketSpec compares the Column's RENDERED node tree: a Spark
        // upgrade that changes expression pretty-printing makes every
        // stamped store fail this check even for semantically identical
        // expressions — deliberate (loud beats silently probing wrong
        // buckets), with [[rebucket]] as the migration path, so say so.
        val escape = if (key == "bucketSpec")
          " — if the expression is semantically unchanged (e.g. a Spark" +
            " upgrade altered expression rendering), migrate via" +
            " rebucket, which restamps the canonical spec"
          else ""
        m.get(key).foreach(stored => require(stored == got,
          s"$path was built with $key=$stored but the caller passed " +
            s"$got — refresh/absorb/retract/rebuild must use the " +
            "store's own parameters" + escape))
      }
    }

  /** Lazy meta upgrade: stamp a meta-less (pre-round-16 or fabricated
    * legacy) store with the parameters the maintenance call that just
    * succeeded ran under — from here on they are enforced. */
  private def stampIfMissing(spark: SparkSession, path: String,
      kind: String, layout: Int, params: Seq[(String, String)]): Unit =
    if (readMeta(spark, path).isEmpty)
      StagedSwap.writeString(fsFor(path, spark), new HPath(path, MetaFile),
        metaBody(kind, layout, params))

  private def sumParams(quantScale: Int,
      bucketOf: Column): Seq[(String, String)] =
    Seq("quantScale" -> quantScale.toString,
      "bucketSpec" -> bucketSpecOf(bucketOf))

  private def distinctParams(k: Int,
      bucketOf: Column): Seq[(String, String)] =
    Seq("k" -> k.toString, "bucketSpec" -> bucketSpecOf(bucketOf))

  /** Order-independent partial aggregates: one row per group with a
    * count `n`, the `quantScale`-quantized integer sum `sv` of
    * `valueCol` (exact while |Σ| < 2⁶³/quantScale), and the raw
    * `mn`/`mx` extrema. The full commutative-monoid set a metric
    * table needs — count, sum, min, max, and avg = sv/n derived —
    * each merging by an associative op (+, +, least, greatest), so
    * ANY merge tree over any partition of the rows reproduces a
    * serial recompute exactly. Extrema need no quantization: a merge
    * only ever SELECTS one of the stored doubles, never does
    * arithmetic on them. */
  def partials(df: DataFrame, groupCols: Seq[String], valueCol: String,
      quantScale: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(round(col(valueCol) * quantScale, 0).cast("long")).as("sv"),
        min(col(valueCol)).as("mn"),
        max(col(valueCol)).as("mx"))

  /** Aggregate `base` once and persist the partials at `path`,
    * partitioned by `bucketOf` (an expression over the group columns —
    * the SAME expression must be passed to every later call; choose it
    * so a typical delta's groups land in few buckets, e.g. a key-range
    * floor for range-affine deltas or a hash mod for uniformly spread
    * ones). Each bucket is co-located to one file. STAGED through
    * [[restage]] even on the initial build: a direct overwrite would
    * delete a previous generation's meta before the data lands, so a
    * crash inside write() could silently DEMOTE a stamped store to the
    * unchecked legacy class (the next maintenance call with drifted
    * parameters would pass checkMeta and restamp the wrong values);
    * staged, a crash leaves either the old stamped generation or the
    * complete new one. */
  def write(base: DataFrame, groupCols: Seq[String], valueCol: String,
      quantScale: Int, bucketOf: Column, path: String): Unit = {
    recover(base.sparkSession, path)
    restage(base.sparkSession, path,
      partials(base, groupCols, valueCol, quantScale), bucketOf,
      "sum", SumLayout, sumParams(quantScale, bucketOf))
  }

  /** Merge-read: the refreshed aggregates for exactly the DELTA's
    * groups, computed from the persisted partials plus the delta —
    * reading only the partition directories the delta's buckets name
    * (the [[AnnIndex.topK]] probe pattern: the read set is known
    * BEFORE the scan, so untouched buckets cost nothing, not even a
    * directory listing). Output: group cols, `n`, `sv` — the merged
    * integer domain; presentation (descale, round) is the caller's. */
  def refresh(spark: SparkSession, path: String, delta: DataFrame,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketOf: Column): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf): _*)
    val d = partials(delta, groupCols, valueCol, quantScale)
      .withColumn("pbucket", bucketOf)
      .select(groupCols.map(col) :+ col("n").as("dn") :+
        col("sv").as("ds") :+ col("mn").as("dmn") :+
        col("mx").as("dmx") :+ col("pbucket"): _*)
    val dirs = touchedDirs(spark, path, d)
    if (dirs.isEmpty) {
      // store has no bucket for any delta group: everything is new
      return d.select(groupCols.map(col) :+ col("dn").as("n") :+
        col("ds").as("sv") :+ col("dmn").as("mn") :+
        col("dmx").as("mx"): _*)
    }
    val resident = residentAgg(
      readStore(spark, path, dirs), groupCols)
      .select(groupCols.map(col) :+ col("n").as("bn") :+
        col("sv").as("bs") :+ col("mn").as("bmn") :+
        col("mx").as("bmx"): _*)
    // <=> (null-safe): a null-keyed delta group must find the resident
    // null-keyed partials, not miss them and report delta-only counts.
    // least/greatest skip nulls, so a group absent on one side keeps
    // the other side's extrema.
    d.join(resident, groupCols.map(c => d(c) <=> resident(c))
        .reduce(_ && _), "left")
      .select(groupCols.map(c => d(c).as(c)) :+
        (coalesce(col("bn"), lit(0L)) + col("dn")).as("n") :+
        (coalesce(col("bs"), lit(0L)) + col("ds")).as("sv") :+
        least(col("bmn"), col("dmn")).as("mn") :+
        greatest(col("bmx"), col("dmx")).as("mx"): _*)
  }

  /** Fold the delta INTO the store: touched partitions are rewritten
    * with their full-outer merge — layered epochs consolidated to one
    * row per group on the way — while resident groups the delta missed
    * survive inside the rewritten bucket and untouched partitions are
    * never read or written (dynamic partition overwrite). AT-MOST-ONCE
    * per delta (see the object doc); for at-least-once producers use
    * [[appendDelta]]/[[absorbStream]]. */
  def absorb(spark: SparkSession, path: String, delta: DataFrame,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf): _*)
    val d = partials(delta, groupCols, valueCol, quantScale)
      .withColumn("pbucket", bucketOf)
      .select(groupCols.map(col) :+ col("n").as("dn") :+
        col("sv").as("ds") :+ col("mn").as("dmn") :+
        col("mx").as("dmx") :+ col("pbucket"): _*)
    val dirs = touchedDirs(spark, path, d)
    val merged =
      if (dirs.isEmpty)
        d.select(groupCols.map(col) :+ col("dn").as("n") :+
          col("ds").as("sv") :+ col("dmn").as("mn") :+
          col("dmx").as("mx") :+ lit(-1L).as("epoch") :+
          col("pbucket"): _*)
      else {
        val resident = residentAgg(
          readStore(spark, path, dirs), groupCols :+ "pbucket")
          .select(groupCols.map(col) :+ col("n").as("bn") :+
            col("sv").as("bs") :+ col("mn").as("bmn") :+
            col("mx").as("bmx") :+ col("pbucket"): _*)
        // full outer: resident-only groups keep their bucket; the
        // bucket of delta-only groups comes from the delta side.
        // <=> (null-safe): a NULL group key must match itself, or the
        // resident and delta partials for a null-keyed group survive
        // as two split rows in the rewritten partition
        d.join(resident, groupCols.map(c => d(c) <=> resident(c))
            .reduce(_ && _), "full_outer")
          .select(
            groupCols.map(c => coalesce(d(c), resident(c)).as(c)) :+
            (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n") :+
            (coalesce(col("bs"), lit(0L)) + coalesce(col("ds"), lit(0L)))
              .as("sv") :+
            least(col("bmn"), col("dmn")).as("mn") :+
            greatest(col("bmx"), col("dmx")).as("mx") :+
            lit(-1L).as("epoch") :+
            coalesce(d("pbucket"), resident("pbucket")).as("pbucket"): _*)
      }
    merged.repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf))
  }

  /** Retract previously-absorbed fact rows — the CDC DELETE side of
    * incremental maintenance: counts and quantized sums form abelian
    * GROUPS (not just monoids), so a deletion merges in as the
    * NEGATED partials of the deleted rows, rewriting only the touched
    * partitions exactly like [[absorb]]; groups whose count reaches
    * zero stay in the rewritten bucket as n=0 tombstone rows that
    * every read path filters out — kept deliberately, so the one
    * overwrite carries the emptiness and no post-write directory
    * delete (with its crash window) is needed. Extrema have no
    * inverse (deleting the min row cannot be un-merged), so after a
    * retraction the stored `mn`/`mx` remain conservative BOUNDS
    * (mn ≤ true min, mx ≥ true max) until the next full [[write]] —
    * callers needing exact post-delete extrema must recompute them
    * for the touched groups. Retracting rows never absorbed is a
    * silent no-op on the store (their groups have no resident row).
    * AT-MOST-ONCE per deletion batch, the [[absorb]] contract. */
  def retract(spark: SparkSession, path: String, deletes: DataFrame,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf): _*)
    val d = partials(deletes, groupCols, valueCol, quantScale)
      .withColumn("pbucket", bucketOf)
      .select(groupCols.map(col) :+ col("n").as("dn") :+
        col("sv").as("ds") :+ col("pbucket"): _*)
    val dirs = touchedDirs(spark, path, d)
    if (dirs.isEmpty) return // nothing resident for any deleted group
    val resident = residentAgg(
      readStore(spark, path, dirs), groupCols :+ "pbucket")
      .select(groupCols.map(col) :+ col("n").as("bn") :+
        col("sv").as("bs") :+ col("mn") :+ col("mx") :+
        col("pbucket"): _*)
    // left join FROM the resident side: untouched groups in a touched
    // bucket pass through unchanged; never-absorbed deleted groups
    // match nothing and vanish from the rewrite input (the no-op).
    // Groups retracted to zero are KEPT as n=0 tombstone rows (extrema
    // nulled — the group is gone, so stale bounds must not resurrect
    // if it is re-absorbed later): the dynamic overwrite itself then
    // carries a fully-emptied bucket's emptiness, so there is NO
    // separate directory delete and NO crash window in which an
    // emptied bucket's stale pre-retract files could survive the
    // write (the hazard a post-write fs.delete protocol would have).
    // Every read path filters n > 0 ([[residentAgg]]), so a tombstone
    // row is invisible; the next [[absorb]]/[[compactState]] rewrite
    // of its bucket purges it physically for free.
    val merged = resident.join(d, groupCols.map(c => resident(c) <=> d(c))
        .reduce(_ && _), "left")
      .select(groupCols.map(c => resident(c).as(c)) :+
        (col("bn") - coalesce(col("dn"), lit(0L))).as("n") :+
        (col("bs") - coalesce(col("ds"), lit(0L))).as("sv") :+
        col("mn") :+ col("mx") :+ lit(-1L).as("epoch") :+
        resident("pbucket").as("pbucket"): _*)
      .select(groupCols.map(col) :+ col("n") :+ col("sv") :+
        when(col("n") > 0, col("mn")).as("mn") :+
        when(col("n") > 0, col("mx")).as("mx") :+
        col("epoch") :+ col("pbucket"): _*)
    merged.repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf))
  }

  /** Append one LAYER of partials for a delta batch under `epochId`
    * (≥ 0; −1 is the consolidated generation): resident files are
    * never read or rewritten — the cheapest possible maintenance
    * write, and the idempotent one: redelivering the same (batch,
    * epochId) writes byte-identical rows that every read path's
    * (group, epoch) dedupe collapses. One producer per store assigns
    * epoch ids (see the object doc). */
  def appendDelta(path: String, delta: DataFrame, epochId: Long,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketOf: Column): Unit = {
    require(epochId >= 0, s"epochId must be >= 0, got $epochId")
    recover(delta.sparkSession, path)
    checkMeta(delta.sparkSession, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf): _*)
    partials(delta, groupCols, valueCol, quantScale)
      .withColumn("epoch", lit(epochId))
      .withColumn("pbucket", bucketOf)
      .repartition(col("pbucket"))
      .write.mode("append").partitionBy("pbucket").parquet(path)
    stampIfMissing(delta.sparkSession, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf))
  }

  /** The current logical table: every layer summed, replayed epochs
    * collapsed first. Full-store read — the VIEW over the state, not
    * the probe path (that is [[refresh]]). */
  def merged(spark: SparkSession, path: String,
      groupCols: Seq[String]): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "sum", SumLayout)
    residentAgg(readStore(spark, path), groupCols)
  }

  /** [[merged]] restricted to `keys`' groups — the pruned POINT-LOOKUP
    * read: the keys' buckets are computed with the store's own bucket
    * expression and only those partition directories are read (the
    * [[refresh]] pruning applied to a PURE read — nothing is merged
    * in), then co-bucketed strangers are dropped with a null-safe
    * semi-join against the distinct keys. Groups with no resident row
    * yield no output row — the caller chooses the default (e.g.
    * [[graft.ops.SearchIndex.termDf]] maps absent to 0). The read set
    * is known BEFORE the scan: ≤ \|keys' buckets\| directories no
    * matter how many groups the store holds — the read path for
    * scoring a batch against a maintained summary. */
  def mergedFor(spark: SparkSession, path: String, keys: DataFrame,
      groupCols: Seq[String], bucketOf: Column): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "sum", SumLayout)
    val k = keys.select(groupCols.map(col): _*).distinct()
      .withColumn("pbucket", bucketOf)
    val dirs = touchedDirs(spark, path, k)
    if (dirs.isEmpty)
      // no key names a resident bucket: empty, with merged's schema
      return residentAgg(readStore(spark, path), groupCols).limit(0)
    val res = residentAgg(readStore(spark, path, dirs), groupCols)
    val kd = k.drop("pbucket")
    res.join(kd, groupCols.map(c => res(c) <=> kd(c)).reduce(_ && _),
      "left_semi")
  }

  /** Distinct epoch layers resident in the store — telemetry for the
    * [[compactState]] / [[compactMgState]] schedules
    * ([[CcState.mergeLogSize]]'s discipline for the layered stores):
    * each [[appendDelta]] / [[appendMgDelta]] epoch adds delta-sized
    * rows, and every read collapses the layer sum until a compact
    * folds them. Column-pruned scan of the epoch column only;
    * kind-agnostic (no meta check) by design. */
  def layerCount(spark: SparkSession, path: String): Long = {
    heal(spark, path)
    readStore(spark, path).select(col("epoch")).distinct().count()
  }

  /** Compact when more than `maxLayers` epoch layers are resident —
    * the documented policy knob: [[compactState]] rewrites every
    * partition, so it amortizes over many appends; at the default a
    * read between compacts pays ≤ 64 layered rows per touched group.
    * Returns whether it compacted. Writer-side (single writer). */
  val DefaultMaxLayers = 64L
  def maybeCompactState(spark: SparkSession, path: String,
      groupCols: Seq[String],
      maxLayers: Long = DefaultMaxLayers): Boolean =
    if (layerCount(spark, path) <= maxLayers) false
    else { compactState(spark, path, groupCols); true }

  /** Rewrite the store under a NEW bucket expression — the lifecycle
    * operator for when the corpus outgrows the geometry chosen at
    * [[write]] (a store that grew 30× under absorbs has 30× the rows
    * per bucket, and every refresh pays it). Layers consolidate on the
    * way (a rebucket is also a compact); the meta restamps with the
    * NEW canonical bucket spec, so every later maintenance call
    * validates against it — passing the OLD expression after a
    * rebucket fails loudly. `quantScale` must still match the store's
    * stamp. Full rewrite by construction (every row moves buckets),
    * STAGED through [[restage]] — a crash in the swap window rolls
    * FORWARD at the next entry point; a crash before the swap leaves
    * the old generation live and the rebucket simply "didn't happen"
    * (AggStateSpec pins each crash state). */
  def rebucket(spark: SparkSession, path: String, groupCols: Seq[String],
      valueCol: String, quantScale: Int, newBucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "sum", SumLayout,
      "quantScale" -> quantScale.toString)
    restage(spark, path,
      residentAgg(readStore(spark, path), groupCols), newBucketOf,
      "sum", SumLayout, sumParams(quantScale, newBucketOf))
  }

  /** [[rebucket]] for the sketch store. */
  def rebucketDistinct(spark: SparkSession, path: String,
      groupCols: Seq[String], keyCol: String, k: Int,
      newBucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "distinct", DistinctLayout, "k" -> k.toString)
    restage(spark, path,
      residentSketch(readStore(spark, path), groupCols, k), newBucketOf,
      "distinct", DistinctLayout, distinctParams(k, newBucketOf))
  }

  /** The canonical count-based bucket geometry over the leading group
    * column — what [[maybeRebucket]] migrates to, exposed so callers
    * can seed [[write]] with the same expression family the policy
    * will later resize (geometry continuity: a policy migration keeps
    * the spec in a form the next policy call can reason about). */
  def hashBucketsOf(groupCol: String, n: Int): Column =
    pmod(hash(col(groupCol)), lit(n)).cast("long")

  /** Migrate when the store has outgrown (or undershot) its bucket
    * count — the geometry policy knob that completes the persisted-
    * store matrix ([[DedupIndex.maybeRebucket]] / [[AnnIndex
    * .maybeRebucket]] / [[CcState.maybeRebucket]]'s discipline, for
    * the store whose geometry is a caller-owned EXPRESSION rather
    * than a stored count): sized from the store's own consolidated
    * group count against `targetBucketRows`, migrating only at a
    * ≥ 2× / ≤ ½ drift (the doubling discipline — the rewrite is
    * store-sized and must not flap at a boundary), to
    * [[hashBucketsOf]] geometry over `bucketCol`.
    *
    * `currentBuckets` is the caller's statement of the live geometry's
    * bucket count — caller-owned like the bucket expression itself
    * (the meta stamp guards the SPEC; a drifted count here mis-times a
    * migration but cannot corrupt: the rebucket path revalidates
    * everything else and restamps). Returns the NEW bucket count when
    * it migrated — the caller must thread `hashBucketsOf(bucketCol,
    * newN)` into every later maintenance call (this is why the return
    * is not the sibling stores' Boolean: here the geometry is a
    * parameter the caller passes back in, not state the store resolves
    * alone) — or None when the drift is within band. Writer-side
    * (single writer; runs on the compact schedule, never per
    * absorb). */
  def maybeRebucket(spark: SparkSession, path: String,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketCol: String, currentBuckets: Int,
      targetBucketRows: Long): Option[Int] = {
    val want = wantBuckets(spark, path, groupCols, currentBuckets,
      targetBucketRows, kind = "sum")
    want.foreach { n =>
      rebucket(spark, path, groupCols, valueCol, quantScale,
        hashBucketsOf(bucketCol, n))
    }
    want
  }

  /** [[maybeRebucket]] for the sketch store. */
  def maybeRebucketDistinct(spark: SparkSession, path: String,
      groupCols: Seq[String], keyCol: String, k: Int,
      bucketCol: String, currentBuckets: Int,
      targetBucketRows: Long): Option[Int] = {
    val want = wantBuckets(spark, path, groupCols, currentBuckets,
      targetBucketRows, kind = "distinct")
    want.foreach { n =>
      rebucketDistinct(spark, path, groupCols, keyCol, k,
        hashBucketsOf(bucketCol, n))
    }
    want
  }

  /** The doubling-discipline decision shared by both policy knobs:
    * Some(newBucketCount) at ≥ 2× / ≤ ½ drift of consolidated-group
    * rows per bucket vs target, None within band. Group count is the
    * post-compact population (layers collapse on migration, so layered
    * duplicates must not inflate the estimate). */
  private def wantBuckets(spark: SparkSession, path: String,
      groupCols: Seq[String], currentBuckets: Int,
      targetBucketRows: Long, kind: String): Option[Int] = {
    require(currentBuckets > 0,
      s"currentBuckets must be positive, got $currentBuckets")
    require(targetBucketRows > 0,
      s"targetBucketRows must be positive, got $targetBucketRows")
    recover(spark, path)
    val store = readStore(spark, path)
    val groups = kind match {
      case "distinct" => residentSketch(store, groupCols, 1).count()
      case "mg" => residentMg(store, groupCols)
        .select(groupCols.map(col): _*).distinct().count()
      case _ => residentAgg(store, groupCols).count()
    }
    val want = math.max(1L, groups / targetBucketRows)
    if (want >= 2L * currentBuckets || 2L * want <= currentBuckets)
      Some(math.min(want, Int.MaxValue.toLong).toInt)
    else None
  }

  /** SHRINK the sketch store's k — the distinct store's second
    * geometry axis, migratable EXACTLY from the store alone because
    * k-min truncates: the k'-min of any set is the first k' entries of
    * its k-min, so every group's post-shrink sketch is bit-identical
    * to a from-scratch build at `newK` (AggStateSpec pins it; q256
    * gates it against the DuckDB oracle). GROWING k is NOT migratable
    * — a bigger sketch needs hashes the store never kept — and is a
    * [[writeDistinct]] rebuild from source; asking for it fails
    * loudly. The deployment reason to shrink: a store sized for ±1.6%
    * error (k=4096) that a cost review re-budgets to ±6% (k=256) drops
    * 16× of its dominant column without touching the fact table.
    * Staged through [[restage]] with the meta (new k, bucket spec
    * carried VERBATIM); the store keeps its bucket geometry, so rows
    * keep their pbucket.
    * Requires a stamped store: the shrink validates against (and
    * restamps) the persisted k, and a meta-less legacy store has no k
    * to validate — run any maintenance write first to stamp it. */
  def shrinkDistinctK(spark: SparkSession, path: String,
      newK: Int): Unit = {
    require(newK > 0, s"k must be positive, got $newK")
    recover(spark, path)
    val m = readMeta(spark, path).getOrElse(sys.error(
      s"$path has no parameter stamp — shrinking k validates against " +
        "the stored k; run a maintenance write first to stamp the store"))
    require(m.get("kind").contains("distinct"),
      s"$path is a '${m.getOrElse("kind", "?")}' store — " +
        "shrinkDistinctK applies to distinct stores only")
    val k = m.getOrElse("k", sys.error(s"$path stamp carries no k")).toInt
    require(newK < k,
      s"k can only SHRINK from the store alone (stored k=$k, got " +
        s"$newK) — growing k needs hashes the store never kept: " +
        "rebuild from source via writeDistinct")
    val groupCols = spark.read.parquet(path).columns
      .filterNot(Set("ks", "epoch", "pbucket")).toSeq
    restage(spark, path,
      residentSketch(readStore(spark, path), groupCols :+ "pbucket", newK),
      col("pbucket"), "distinct", DistinctLayout,
      Seq("k" -> newK.toString) ++ m.get("bucketSpec").map("bucketSpec" -> _))
  }

  // ==================================================================
  // Heavy-hitter (Misra–Gries) stores: the third store kind. Rows are
  // (group cols, item, c) with AT MOST k items per group — a mergeable
  // frequent-items summary (Misra–Gries 1982; merge bound from
  // Agarwal, Cormode et al., "Mergeable Summaries", PODS 2012)
  // persisted on the [[write]]/[[absorb]] bucket layout. Stored counts
  // are LOWER BOUNDS with per-group undercount ≤ N_g/(k+1) (N_g = the
  // group's total absorbed mass), so every item with true count >
  // N_g/(k+1) is GUARANTEED present — the candidate set for an exact
  // two-pass heavy-hitters read ([[Freq.exactHeavyHitters]]'s
  // discipline, incremental edition: candidates come from the
  // maintained store at delta maintenance cost, and one
  // candidate-restricted recount makes the output exact).
  //
  // Maintenance is [[absorbMg]] (AT-MOST-ONCE per delta — the
  // [[absorb]] contract) or the epoch-layered at-least-once path
  // ([[appendMgDelta]] / [[absorbMgStream]], the [[appendDelta]]
  // discipline on this kind): a layer holds the DELTA's exact
  // per-(group, item) counts — delta-sized like every layer in this
  // file, never vocabulary-sized — and a redelivered epoch writes
  // byte-identical rows that the shared (group, item, epoch) dedupe
  // collapses, so replays are invisible to every read. Between
  // compacts a read pays base + Σ layer items (counts stay LOWER
  // BOUNDS: the base carries all the compression error, layers are
  // exact, so the N_g/(k+1) completeness bound only tightens);
  // [[compactMgState]] folds the layers back through the MG
  // compression — summing exact layer counts into the summary is a
  // valid MG merge — and restores the ≤ |groups|·k state bound.
  // ==================================================================

  private val MgLayout = 1
  private def mgParams(k: Int,
      bucketOf: Column): Seq[(String, String)] =
    Seq("k" -> k.toString, "bucketSpec" -> bucketSpecOf(bucketOf))

  /** Exact per-(group, item) counts of a batch — the MG maintenance
    * input (delta-sized keyed aggregation; null items dropped). */
  def mgPartials(df: DataFrame, groupCols: Seq[String],
      itemCol: String): DataFrame =
    df.filter(col(itemCol).isNotNull)
      .groupBy(groupCols.map(col) :+
        col(itemCol).cast("string").as("item"): _*)
      .agg(count(lit(1)).as("c"))

  /** The Misra–Gries compression step, per group: when a group holds
    * more than k items, subtract the (k+1)-th largest count from every
    * count and drop the non-positive — removes ≥ (k+1)·cut mass spread
    * over ≥ k+1 items, which is what preserves the ≤ N_g/(k+1)
    * undercount bound under merges. Value-based (the cut is a count,
    * not a rank), so the result is deterministic under any tie
    * order.
    *
    * Cost shape: the window ranks each group's DISTINCT items in one
    * task — the input is already reduced to exact per-item counts by
    * a distributed keyed aggregation, so a group with G distinct
    * delta items pays one G·log G sort; groups parallelize across
    * tasks. For a single group with extreme item cardinality this is
    * the honest pinch point (the same single-reducer moment as any
    * per-group top-k), bounded by the DELTA's distinct items, never
    * the corpus's. */
  private def mgCompress(rows: DataFrame, groupCols: Seq[String],
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("c").desc, col("item"))
    // the cut broadcasts back over the SAME window partitioning (no
    // join): a name-based join on the group keys would be null-unsafe
    // and let a NULL-keyed group escape compression, growing without
    // bound — the window is null-safe like groupBy, and Catalyst plans
    // both window functions over one sort
    val wg = Window.partitionBy(groupCols.map(col): _*)
    rows.withColumn("__rk", row_number().over(w))
      .withColumn("__cut", coalesce(
        max(when(col("__rk") === k + 1, col("c"))).over(wg), lit(0L)))
      .withColumn("c", col("c") - col("__cut"))
      .filter(col("c") > 0)
      .drop("__rk", "__cut")
  }

  /** Layer-collapse read for the MG store (epoch is always −1 — see
    * the kind doc — but the shared dedupe discipline stays, so a
    * generation mix can never double-count). */
  private def residentMg(rows: DataFrame,
      keyCols: Seq[String]): DataFrame =
    rows.dropDuplicates(
        (keyCols.filterNot(_ == "pbucket") :+ "item" :+ "epoch").distinct)
      .groupBy((keyCols :+ "item").map(col): _*)
      .agg(sum(col("c")).as("c"))
      .filter(col("c") > 0)

  /** Tombstones for groups the compression emptied ENTIRELY (every
    * count ≤ the cut — legal MG: the whole summary is within the error
    * bound): one read-invisible c=0 row per such group, so the write
    * that carries the emptiness always has a row to write — without
    * it, a dynamic overwrite would write NOTHING for the bucket and
    * the group's STALE counters would silently survive (the
    * [[rebuildGroups]] tombstone argument; EngineProps' mg property
    * caught exactly this), and a full-store write would leave a
    * schema-less empty directory. `groups` = the distinct group rows
    * of the compression INPUT (with pbucket when the caller's write
    * path needs it). */
  private def mgTombstones(compressed: DataFrame, groups: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val gk = groupCols.map(c => s"__t_$c")
    val cg = compressed.select(groupCols.zip(gk).map { case (c, a) =>
      col(c).as(a) }: _*).distinct()
    val gone = groups.join(cg,
        groupCols.zip(gk).map { case (c, a) => groups(c) <=> cg(a) }
          .reduce(_ && _),
        "left_anti")
      .withColumn("item", lit(""))
      .withColumn("c", lit(0L))
    compressed.unionByName(gone.select(compressed.columns.map(col): _*))
  }

  /** Build the heavy-hitter store: exact per-(group, item) counts of
    * `base`, compressed to ≤ k counters per group, persisted on the
    * bucket layout with kind "mg" stamped. Staged through [[restage]]
    * ([[write]]'s crash contract). */
  def writeMg(base: DataFrame, groupCols: Seq[String], itemCol: String,
      k: Int, bucketOf: Column, path: String): Unit = {
    require(k > 0, s"k must be positive, got $k")
    recover(base.sparkSession, path)
    val partials = mgPartials(base, groupCols, itemCol)
    restage(base.sparkSession, path,
      mgTombstones(mgCompress(partials, groupCols, k),
        partials.select(groupCols.map(col): _*).distinct(), groupCols),
      bucketOf, "mg", MgLayout, mgParams(k, bucketOf))
  }

  /** Fold a delta into the heavy-hitter store: the delta's exact
    * per-item counts sum into the touched buckets' resident counters
    * (summing exact counts into an MG summary is itself a valid MG
    * merge — the delta side has zero error), then each touched group
    * re-compresses to ≤ k. Only the delta's partition buckets are
    * read and rewritten (dynamic overwrite, [[absorb]]'s shape);
    * resident groups sharing a touched bucket pass through the
    * re-compression unchanged (≤ k items ⇒ cut = 0). AT-MOST-ONCE
    * per delta. */
  def absorbMg(spark: SparkSession, path: String, delta: DataFrame,
      groupCols: Seq[String], itemCol: String, k: Int,
      bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "mg", MgLayout, mgParams(k, bucketOf): _*)
    val d = mgPartials(delta, groupCols, itemCol)
      .withColumn("pbucket", bucketOf)
    val dirs = touchedDirs(spark, path, d)
    val merged =
      if (dirs.isEmpty) mgCompress(d, groupCols, k)
      else {
        val resident = residentMg(
          readStore(spark, path, dirs), groupCols :+ "pbucket")
        // union + re-aggregate rather than a join: groupBy is natively
        // null-safe on the group keys, and both sides carry the same
        // functional pbucket
        val summed = resident.select(d.columns.map(col): _*)
          .unionByName(d)
          .groupBy((groupCols :+ "pbucket" :+ "item").map(col): _*)
          .agg(sum(col("c")).as("c"))
        mgTombstones(mgCompress(summed, groupCols, k),
          summed.select((groupCols :+ "pbucket").map(col): _*).distinct(),
          groupCols)
      }
    merged.withColumn("epoch", lit(-1L))
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "mg", MgLayout, mgParams(k, bucketOf))
  }

  /** [[appendDelta]] for the heavy-hitter store — one LAYER of the
    * delta's exact per-(group, item) counts under `epochId` (≥ 0; −1
    * is the compacted base). Resident files are never read or
    * rewritten, and the write is idempotent under redelivery:
    * [[mgPartials]] is a deterministic aggregation of the batch, so a
    * replayed (batch, epochId) writes byte-identical rows that
    * [[residentMg]]'s (group, item, epoch) dedupe collapses. The layer
    * is delta-sized (the batch's distinct items), NOT vocabulary-sized
    * — the k-counter bound is the BASE's invariant, restored by
    * [[compactMgState]] on the layer-count schedule. One producer per
    * store assigns epoch ids (the object doc's contract). */
  def appendMgDelta(path: String, delta: DataFrame, epochId: Long,
      groupCols: Seq[String], itemCol: String, k: Int,
      bucketOf: Column): Unit = {
    require(epochId >= 0, s"epochId must be >= 0, got $epochId")
    val spark = delta.sparkSession
    recover(spark, path)
    checkMeta(spark, path, "mg", MgLayout, mgParams(k, bucketOf): _*)
    mgPartials(delta, groupCols, itemCol)
      .withColumn("epoch", lit(epochId))
      .withColumn("pbucket", bucketOf)
      .repartition(col("pbucket"))
      .write.mode("append").partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "mg", MgLayout, mgParams(k, bucketOf))
  }

  /** [[compactState]] for the heavy-hitter store: collapse every
    * layer into the exact per-(group, item) sums (replayed epochs
    * dedupe first), re-compress each group to ≤ k counters — summing
    * exact layer counts into the MG summary is itself a valid MG
    * merge, same as [[absorbMg]]'s — and rewrite bucket by bucket
    * (dynamic overwrite). Groups the compression empties entirely
    * keep a c=0 tombstone row ([[mgTombstones]]' argument), so the
    * overwrite always physically carries the emptiness. Restores the
    * ≤ \|groups\|·k state bound after a run of [[appendMgDelta]]
    * epochs; [[layerCount]] is the telemetry,
    * [[maybeCompactMgState]] the policy. */
  def compactMgState(spark: SparkSession, path: String,
      groupCols: Seq[String], k: Int): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "mg", MgLayout, "k" -> k.toString)
    val summed = residentMg(readStore(spark, path), groupCols :+ "pbucket")
    mgTombstones(mgCompress(summed, groupCols, k),
        summed.select((groupCols :+ "pbucket").map(col): _*).distinct(),
        groupCols)
      .withColumn("epoch", lit(-1L))
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
  }

  /** [[maybeCompactState]] for the heavy-hitter store — compact when
    * more than `maxLayers` epoch layers are resident. Returns whether
    * it compacted. Writer-side (single writer). */
  def maybeCompactMgState(spark: SparkSession, path: String,
      groupCols: Seq[String], k: Int,
      maxLayers: Long = DefaultMaxLayers): Boolean =
    if (layerCount(spark, path) <= maxLayers) false
    else { compactMgState(spark, path, groupCols, k); true }

  /** [[absorbStream]] for the heavy-hitter store: each micro-batch
    * becomes one [[appendMgDelta]] layer under Structured Streaming's
    * epoch id, so a crash between the parquet append and the
    * checkpoint commit replays the batch under the SAME epoch id and
    * the layered dedupe makes the replay invisible — effectively
    * exactly-once without a transaction log, completing
    * stream-maintenance parity across all six persisted store
    * kinds. */
  def absorbMgStream(stream: DataFrame, path: String, checkpoint: String,
      groupCols: Seq[String], itemCol: String, k: Int,
      bucketOf: Column): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        appendMgDelta(path, batch, epochId, groupCols, itemCol, k,
          bucketOf)
      }
      .start()

  /** The maintained summary: (group cols, item, c) with c a LOWER
    * BOUND undercounting by ≤ N_g/(k+1) — the candidate set for the
    * exact two-pass read (recount only these items from the source,
    * then threshold; any threshold above the bound is provably
    * complete). Layers collapse on the way ([[residentMg]]'s shared
    * dedupe), so between compacts the summary may hold MORE than k
    * items per group — the base carries all the compression error and
    * layers are exact, so the completeness bound only tightens. */
  def mgSummary(spark: SparkSession, path: String,
      groupCols: Seq[String]): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "mg", MgLayout)
    residentMg(readStore(spark, path), groupCols)
  }

  /** [[rebucket]] for the heavy-hitter store: the summary rows rewrite
    * under the new bucket expression (state-sized, the compact cost
    * class), meta restamped so the old spec fails loudly after. A
    * rebucket is also a compact: layers collapse and re-compress to
    * ≤ k on the way (a no-op for groups already ≤ k; a full rewrite
    * needs no tombstones — emptied groups simply don't appear in the
    * new generation). */
  def rebucketMg(spark: SparkSession, path: String,
      groupCols: Seq[String], k: Int, newBucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "mg", MgLayout, "k" -> k.toString)
    restage(spark, path,
      mgCompress(residentMg(readStore(spark, path), groupCols),
        groupCols, k),
      newBucketOf, "mg", MgLayout, mgParams(k, newBucketOf))
  }

  /** [[maybeRebucket]] for the heavy-hitter store (the summary is
    * ≤ \|groups\|·k rows, so in practice this fires only when the
    * GROUP population itself grows past the geometry's budget). */
  def maybeRebucketMg(spark: SparkSession, path: String,
      groupCols: Seq[String], k: Int, bucketCol: String,
      currentBuckets: Int, targetBucketRows: Long): Option[Int] = {
    val want = wantBuckets(spark, path, groupCols, currentBuckets,
      targetBucketRows, kind = "mg")
    want.foreach { n =>
      rebucketMg(spark, path, groupCols, k, hashBucketsOf(bucketCol, n))
    }
    want
  }

  /** Right-to-be-forgotten for the heavy-hitter store — the
    * [[rebuildGroups]] move on the mg kind: MG counters are LOWER
    * BOUNDS with no inverse (a summary cannot subtract a deletion's
    * counts and keep its error budget honest), so the touched groups'
    * summaries recompute from their SURVIVING source rows and rewrite
    * their buckets (dynamic overwrite, delta-priced on the store
    * side). Resident groups sharing a bucket pass through unchanged; a
    * group with NO surviving rows is rewritten as a single c=0
    * tombstone row (read-invisible — [[residentMg]] filters c > 0), so
    * the one overwrite physically carries its disappearance even when
    * it empties a bucket. */
  def rebuildMgGroups(spark: SparkSession, path: String,
      groups: DataFrame, source: DataFrame, groupCols: Seq[String],
      itemCol: String, k: Int, bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "mg", MgLayout, mgParams(k, bucketOf): _*)
    val gk = groupCols.map(c => s"__g_$c")
    val g = groups.select(groupCols.zip(gk).map { case (c, a) =>
      col(c).as(a) }: _*).distinct()
    def matches(df: DataFrame): Column =
      groupCols.zip(gk).map { case (c, a) => df(c) <=> g(a) }
        .reduce(_ && _)
    val fresh = mgCompress(
        mgPartials(source.join(g, matches(source), "left_semi"),
          groupCols, itemCol), groupCols, k)
      .withColumn("epoch", lit(-1L))
      .withColumn("pbucket", bucketOf)
    val dirs = touchedDirs(spark, path,
      g.select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) }: _*)
        .withColumn("pbucket", bucketOf))
    val keep =
      if (dirs.isEmpty) None
      else Some {
        val resident = residentMg(readStore(spark, path, dirs),
          groupCols :+ "pbucket")
        resident.join(g, matches(resident), "left_anti")
          .withColumn("epoch", lit(-1L))
      }
    val gone = g.join(fresh, matches(fresh), "left_anti")
      .select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) } :+
        lit("").as("item") :+ lit(0L).as("c") :+
        lit(-1L).as("epoch"): _*)
      .withColumn("pbucket", bucketOf)
    (Seq(fresh, gone) ++ keep).reduce(_ unionByName _)
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "mg", MgLayout, mgParams(k, bucketOf))
  }

  /** Swap `rows`, bucketed by `newBucketOf` as one consolidated
    * generation, in as the store at `path` with the given meta —
    * through a [[StagedSwap]] `_rebucketing` stage, because the output
    * cannot overwrite the path its plan is still reading. Also serves
    * the initial builds, where no live generation exists yet. */
  private def restage(spark: SparkSession, path: String, rows: DataFrame,
      newBucketOf: Column, kind: String, layout: Int,
      params: Seq[(String, String)]): Unit =
    StagedSwap.swap(fsFor(path, spark), path, StagedSwap.Rebucketing,
        MetaFile, metaBody(kind, layout, params)) { tmp =>
      rows.withColumn("epoch", lit(-1L))
        .withColumn("pbucket", newBucketOf)
        .repartition(col("pbucket"))
        .write.mode("overwrite").partitionBy("pbucket").parquet(tmp)
    }

  /** Writer-side [[StagedSwap.recover]]: runs at the head of every
    * MUTATING entry point. */
  private def recover(spark: SparkSession, path: String): Unit =
    StagedSwap.recover(fsFor(path, spark), path, MetaFile)

  /** Reader-side [[StagedSwap.healIfMissing]]: every read path. */
  private def heal(spark: SparkSession, path: String): Unit =
    StagedSwap.healIfMissing(fsFor(path, spark), path, MetaFile)

  /** Fold all layers back to one row per group, bucket by bucket (the
    * [[AnnIndex.compact]] moment: after many appendDelta epochs the
    * read cost shifts from rows to layer count — [[layerCount]] is the
    * telemetry, [[maybeCompactState]] the policy). Rewrites every
    * partition present in the store via dynamic overwrite. A bucket
    * holding ONLY [[retract]] tombstones emits no rows and keeps its
    * (read-invisible, tiny) tombstone file — never wrong, reclaimed
    * whenever a later absorb touches that bucket. */
  def compactState(spark: SparkSession, path: String,
      groupCols: Seq[String]): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "sum", SumLayout)
    residentAgg(readStore(spark, path), groupCols :+ "pbucket")
      .withColumn("epoch", lit(-1L))
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
  }

  /** Recompute EXACTLY the given groups from `source` and rewrite
    * their buckets (dynamic partition overwrite) — the group-scoped
    * REBUILD that pairs with [[retract]]: extrema (and sketches, see
    * [[rebuildDistinctGroups]]) have no inverse, so after a deletion
    * the touched groups' EXACT values come from re-aggregating those
    * groups' surviving source rows. Work is delta-priced on the store
    * side — only the rebuilt groups' buckets are read and rewritten;
    * the source scan is the caller's (`source` is typically already
    * pruned to the touched groups' partitions). Resident groups that
    * share a bucket with a rebuilt group pass through unchanged
    * (layer-collapsed, like [[absorb]]'s rewrite). A group passed with
    * NO surviving source rows is rewritten as an n=0 tombstone
    * (read-invisible), so right-to-be-forgotten physically purges its
    * stale aggregates in the same overwrite — this is what turns
    * [[retract]]'s documented conservative extrema bounds into an
    * OPERATOR: retract (counts/sums exact at delta cost), then
    * rebuildGroups for the touched groups when exact extrema matter
    * (q236 gates retract-then-rebuild ≡ from-scratch). */
  def rebuildGroups(spark: SparkSession, path: String, groups: DataFrame,
      source: DataFrame, groupCols: Seq[String], valueCol: String,
      quantScale: Int, bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf): _*)
    // the group keys under reserved names — groups/source usually share
    // lineage (both derive from the fact table), and same-name <=> join
    // conditions on shared-lineage frames are ambiguity bait
    val gk = groupCols.map(c => s"__g_$c")
    val g = groups.select(groupCols.zip(gk).map { case (c, a) =>
      col(c).as(a) }: _*).distinct()
    def matches(df: DataFrame): Column =
      groupCols.zip(gk).map { case (c, a) => df(c) <=> g(a) }
        .reduce(_ && _)
    val fresh = partials(source.join(g, matches(source), "left_semi"),
        groupCols, valueCol, quantScale)
      .withColumn("epoch", lit(-1L))
      .withColumn("pbucket", bucketOf)
    val dirs = touchedDirs(spark, path,
      g.select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) }: _*)
        .withColumn("pbucket", bucketOf))
    val keep =
      if (dirs.isEmpty) None
      else Some {
        val resident = residentAgg(readStore(spark, path, dirs),
          groupCols :+ "pbucket")
        resident.join(g, matches(resident), "left_anti")
          .withColumn("epoch", lit(-1L))
      }
    // rebuilt groups with no surviving source rows: tombstones, so the
    // overwrite itself carries their disappearance (retract's argument)
    val gone = g.join(fresh, matches(fresh), "left_anti")
      .select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) } :+
        lit(0L).as("n") :+
        lit(0L).as("sv") :+ lit(null).cast("double").as("mn") :+
        lit(null).cast("double").as("mx") :+ lit(-1L).as("epoch"): _*)
      .withColumn("pbucket", bucketOf)
    (Seq(fresh, gone) ++ keep).reduce(_ unionByName _)
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "sum", SumLayout,
      sumParams(quantScale, bucketOf))
  }

  /** Maintain the state from a STREAM of fact rows: each micro-batch
    * becomes one [[appendDelta]] layer under Structured Streaming's
    * epoch id. A crash between the parquet append and the checkpoint
    * commit replays the batch under the SAME epoch id — the layered
    * dedupe makes the replay invisible to every read (AggStateSpec
    * pins it), so the maintained aggregates are effectively
    * exactly-once without a transaction log. */
  def absorbStream(stream: DataFrame, path: String, checkpoint: String,
      groupCols: Seq[String], valueCol: String, quantScale: Int,
      bucketOf: Column): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        appendDelta(path, batch, epochId, groupCols, valueCol,
          quantScale, bucketOf)
      }
      .start()

  // ------------------------------------------------------------------
  // KMV distinct-count sketches: the approximate-distinct member of the
  // metric-table aggregate set (daily-active-users class), maintained
  // incrementally on the same pruning layout as the (n, sv, mn, mx)
  // partials. The sketch is q168's estimator — the k smallest 48-bit
  // md5 hashes of the key — which is MERGEABLE deterministically:
  // k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B)), so merge(base sketch,
  // delta sketch) is BIT-IDENTICAL to the from-scratch sketch and the
  // q235 gate hash-matches a DuckDB recompute exactly (no tolerance
  // band needed). Like extrema, sketches have no inverse: a retraction
  // cannot un-see a member — deletions require a rebuild for the
  // touched groups, stated rather than papered over.
  // ------------------------------------------------------------------

  /** The 48-bit md5 key hash both engines compute identically (q168's
    * discipline — DuckDB: `('0x' || substr(md5(k::VARCHAR), 1, 12))::BIGINT`). */
  private def kmvHash(keyCol: String): Column =
    conv(substring(md5(col(keyCol).cast("string")), 1, 12), 16, 10)
      .cast("long")

  /** One row per group: `ks` = the ≤ k smallest distinct key hashes.
    * The only wide ops are one distinct over (group, hash) and a
    * rank-limited window (WindowGroupLimit prunes each group to its k
    * smallest BEFORE anything collects — never a whole group's hash
    * set in one array), both on ≤ |distinct keys| rows, never raw
    * rows. */
  def distinctPartials(df: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("__h"))
    df.select(groupCols.map(col) :+ kmvHash(keyCol).as("__h"): _*)
      .distinct()
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(col("__h"))).as("ks"))
  }

  /** Aggregate `base` once and persist the per-group sketches at
    * `path`, partitioned by `bucketOf` — [[write]]'s layout for the
    * distinct-count store (keep it at its own path; the schema differs
    * from the sum store's — the meta's `kind` makes crossing the two
    * APIs a loud failure). `k` and the bucket spec are stamped into the
    * store's meta and enforced at every maintenance entry point (a
    * larger k would silently under-fill — the [[DedupIndex]] drift
    * argument — so [[mergeKs]] also truncates to the passed k
    * defensively). */
  def writeDistinct(base: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int, bucketOf: Column, path: String): Unit = {
    recover(base.sparkSession, path)
    restage(base.sparkSession, path,
      distinctPartials(base, groupCols, keyCol, k), bucketOf,
      "distinct", DistinctLayout, distinctParams(k, bucketOf))
  }

  /** k-min of the union of two sketch arrays — associative and
    * commutative, so any merge tree reproduces the from-scratch
    * sketch exactly. Null-tolerant: a side absent from the merge join
    * contributes an empty array. */
  private def mergeKs(a: Column, b: Column, k: Int): Column =
    slice(array_sort(array_distinct(concat(
      coalesce(a, array().cast("array<long>")),
      coalesce(b, array().cast("array<long>"))))), 1, k)

  /** The sketch's cardinality estimate: exact while the sketch is
    * under-full (|ks| < k means it holds EVERY distinct hash), else
    * (k−1)·2⁴⁸ / ks[k−1] — q168's arithmetic. */
  private def kmvEstimate(ks: Column, k: Int): Column =
    when(size(ks) < k, size(ks).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(281474976710656.0) /
        element_at(ks, k))

  /** Merge-read: (group cols, n_est) for exactly the DELTA's groups,
    * from the persisted sketches plus the delta — reading only the
    * delta's bucket directories ([[refresh]]'s contract for
    * approximate distinct). */
  def refreshDistinct(spark: SparkSession, path: String, delta: DataFrame,
      groupCols: Seq[String], keyCol: String, k: Int,
      bucketOf: Column): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "distinct", DistinctLayout,
      distinctParams(k, bucketOf): _*)
    val d = distinctPartials(delta, groupCols, keyCol, k)
      .withColumn("pbucket", bucketOf)
      .select(groupCols.map(col) :+ col("ks").as("dks") :+
        col("pbucket"): _*)
    val dirs = touchedDirs(spark, path, d)
    val mergedKs =
      if (dirs.isEmpty) d.select(groupCols.map(col) :+ col("dks").as("ks"): _*)
      else {
        val resident = residentSketch(readStore(spark, path, dirs),
          groupCols, k)
          .select(groupCols.map(col) :+ col("ks").as("bks"): _*)
        d.join(resident, groupCols.map(c => d(c) <=> resident(c))
            .reduce(_ && _), "left")
          .select(groupCols.map(c => d(c).as(c)) :+
            mergeKs(col("bks"), col("dks"), k).as("ks"): _*)
      }
    mergedKs.select(groupCols.map(col) :+
      round(kmvEstimate(col("ks"), k), 4).as("n_est"): _*)
  }

  /** Fold the delta's sketches INTO the store — [[absorb]]'s dynamic
    * partition overwrite, sketch edition: touched buckets are
    * rewritten with the k-min merge, untouched partitions stay
    * byte-identical. AT-MOST-ONCE is NOT required here: re-absorbing
    * the same delta merges identical hashes into identical sketches
    * (k-min is idempotent), so replay is harmless — the one aggregate
    * in the family that is naturally exactly-once. */
  def absorbDistinct(spark: SparkSession, path: String, delta: DataFrame,
      groupCols: Seq[String], keyCol: String, k: Int,
      bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "distinct", DistinctLayout,
      distinctParams(k, bucketOf): _*)
    val d = distinctPartials(delta, groupCols, keyCol, k)
      .withColumn("pbucket", bucketOf)
      .select(groupCols.map(col) :+ col("ks").as("dks") :+
        col("pbucket"): _*)
    val dirs = touchedDirs(spark, path, d)
    val merged =
      if (dirs.isEmpty)
        d.select(groupCols.map(col) :+ col("dks").as("ks") :+
          lit(-1L).as("epoch") :+ col("pbucket"): _*)
      else {
        val resident = residentSketch(readStore(spark, path, dirs),
          groupCols :+ "pbucket", k)
          .select(groupCols.map(col) :+ col("ks").as("bks") :+
            col("pbucket"): _*)
        d.join(resident, groupCols.map(c => d(c) <=> resident(c))
            .reduce(_ && _), "full_outer")
          .select(
            groupCols.map(c => coalesce(d(c), resident(c)).as(c)) :+
            mergeKs(col("bks"), col("dks"), k).as("ks") :+
            lit(-1L).as("epoch") :+
            coalesce(d("pbucket"), resident("pbucket")).as("pbucket"): _*)
      }
    merged.repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "distinct", DistinctLayout,
      distinctParams(k, bucketOf))
  }

  /** Maintain the distinct-sketch store from a STREAM of fact rows:
    * each micro-batch rides [[absorbDistinct]] under a checkpointed
    * foreachBatch — [[absorbStream]]'s shape, WITHOUT the epoch
    * layering, because absorbDistinct is naturally idempotent (k-min
    * merging the same hashes again is a no-op): a crash between the
    * dynamic overwrite and the checkpoint commit replays the batch
    * into an identical store. Effectively exactly-once with no
    * transaction log and no layer dedupe — the one aggregate in the
    * family where the plain destructive absorb is already replay-safe
    * (q238 gates one redelivered epoch against the from-scratch
    * oracle). Single writer per store, as everywhere. */
  def absorbDistinctStream(stream: DataFrame, path: String,
      checkpoint: String, groupCols: Seq[String], keyCol: String,
      k: Int, bucketOf: Column): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        absorbDistinct(batch.sparkSession, path, batch, groupCols,
          keyCol, k, bucketOf)
      }
      .start()

  /** [[rebuildGroups]] for the sketch store — deletions cannot be
    * retracted from a KMV sketch (it never un-sees a hash), so the
    * touched groups' post-delete sketches are rebuilt from `source`'s
    * surviving rows and their buckets rewritten in one dynamic
    * overwrite; untouched groups in the same bucket pass through, and
    * a group with no surviving rows is rewritten as an empty-sketch
    * tombstone every read path filters out ([[residentSketch]]). */
  def rebuildDistinctGroups(spark: SparkSession, path: String,
      groups: DataFrame, source: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int, bucketOf: Column): Unit = {
    recover(spark, path)
    checkMeta(spark, path, "distinct", DistinctLayout,
      distinctParams(k, bucketOf): _*)
    // reserved-name group keys, as in [[rebuildGroups]]
    val gk = groupCols.map(c => s"__g_$c")
    val g = groups.select(groupCols.zip(gk).map { case (c, a) =>
      col(c).as(a) }: _*).distinct()
    def matches(df: DataFrame): Column =
      groupCols.zip(gk).map { case (c, a) => df(c) <=> g(a) }
        .reduce(_ && _)
    val fresh = distinctPartials(
        source.join(g, matches(source), "left_semi"),
        groupCols, keyCol, k)
      .withColumn("epoch", lit(-1L))
      .withColumn("pbucket", bucketOf)
    val dirs = touchedDirs(spark, path,
      g.select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) }: _*)
        .withColumn("pbucket", bucketOf))
    val keep =
      if (dirs.isEmpty) None
      else Some {
        val resident = residentSketch(readStore(spark, path, dirs),
          groupCols :+ "pbucket", k)
        resident.join(g, matches(resident), "left_anti")
          .withColumn("epoch", lit(-1L))
      }
    val gone = g.join(fresh, matches(fresh), "left_anti")
      .select(groupCols.zip(gk).map { case (c, a) => col(a).as(c) } :+
        array().cast("array<long>").as("ks") :+
        lit(-1L).as("epoch"): _*)
      .withColumn("pbucket", bucketOf)
    (Seq(fresh, gone) ++ keep).reduce(_ unionByName _)
      .repartition(col("pbucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").parquet(path)
    stampIfMissing(spark, path, "distinct", DistinctLayout,
      distinctParams(k, bucketOf))
  }

  /** The current estimates over the whole sketch store. */
  def distinctEstimates(spark: SparkSession, path: String,
      groupCols: Seq[String], k: Int): DataFrame = {
    heal(spark, path)
    checkMeta(spark, path, "distinct", DistinctLayout, "k" -> k.toString)
    residentSketch(readStore(spark, path), groupCols, k)
      .select(groupCols.map(col) :+
        round(kmvEstimate(col("ks"), k), 4).as("n_est"): _*)
  }

  /** Layer-collapse then k-min merge — [[residentAgg]]'s read
    * discipline for sketch stores: duplicate (group, epoch) layers
    * collapse first, surviving layers' arrays union into one k-min.
    * Empty sketches — [[rebuildDistinctGroups]]' tombstones for groups
    * deleted to nothing — are filtered out here, the n=0 convention:
    * a forgotten group is invisible everywhere until new rows arrive. */
  private def residentSketch(rows: DataFrame, keyCols: Seq[String],
      k: Int): DataFrame = {
    val dedupeKey = (keyCols.filterNot(_ == "pbucket") :+ "epoch")
      .distinct
    rows.dropDuplicates(dedupeKey)
      .groupBy(keyCols.map(col): _*)
      .agg(slice(array_sort(array_distinct(flatten(
        collect_list(col("ks"))))), 1, k).as("ks"))
      .filter(size(col("ks")) > 0)
  }

  /** Layer-collapse then sum: the one read discipline every path
    * shares. dropDuplicates on (group cols, epoch) erases redelivered
    * epochs (their rows are deterministic replays); the groupBy sums
    * the surviving layers; groups whose layers sum to n=0 — a
    * [[retract]] tombstone with no later re-absorption — are filtered
    * out, so a fully-retracted group is invisible everywhere.
    * `keyCols` may include `pbucket` when the caller needs the
    * partition key preserved (it is functionally dependent on the
    * leading group column).
    *
    * Layout tolerance: a store written before extrema existed carries
    * only (n, sv) — its missing mn/mx read back as null (unknown)
    * rather than failing mid-maintenance, and least/greatest/min/max
    * skip nulls, so merges with new-layout layers stay correct. The
    * store upgrades lazily: every absorb/compactState rewrite emits
    * the full column set; a full [[write]] restores exact extrema. */
  private def residentAgg(rows: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val withExtrema = Seq("mn", "mx").foldLeft(rows) { (r, c) =>
      if (r.columns.contains(c)) r
      else r.withColumn(c, lit(null).cast("double"))
    }
    val dedupeKey = (keyCols.filterNot(_ == "pbucket") :+ "epoch")
      .distinct
    withExtrema.dropDuplicates(dedupeKey)
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("sv")).as("sv"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))
      .filter(col("n") > 0)
  }

  /** Store read with per-file schema union: partitions written by an
    * older layout (no mn/mx) and the current one may coexist in one
    * store after a partial dynamic-overwrite upgrade — mergeSchema
    * keeps both readable (footer-only cost over the dirs actually
    * read), with legacy rows' missing extrema surfacing as nulls. */
  private def readStore(spark: SparkSession, path: String,
      dirs: Seq[String] = Seq.empty): DataFrame = {
    val r = spark.read.option("mergeSchema", "true")
    if (dirs.isEmpty) r.parquet(path)
    else r.option("basePath", path).parquet(dirs: _*)
  }

  /** The delta's distinct bucket directories that exist in the store —
    * the parameter-bounded collect (≤ |delta groups| longs). A null
    * bucket (bucketOf over a null group key) lives in Spark's default
    * null-partition directory, addressed by its literal name. */
  private def touchedDirs(spark: SparkSession, path: String,
      deltaPartials: DataFrame): Seq[String] = {
    val fs = fsFor(path, spark)
    deltaPartials.select(col("pbucket")).distinct()
      .collect().map(r =>
        if (r.isNullAt(0)) "pbucket=__HIVE_DEFAULT_PARTITION__"
        else s"pbucket=${r.getLong(0)}").toSeq
      .map(new HPath(path, _))
      .filter(fs.exists(_)).map(_.toString)
  }
}
