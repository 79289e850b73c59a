package graft.ops

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.StagedSwap.fsFor

/** Persisted connected-components state: incremental maintenance of the
  * near-dup CLUSTERING itself — the last recompute in the daily dedup
  * cycle made delta-priced.
  *
  * [[DedupIndex]] makes finding a delta's candidate pairs resident-
  * shuffle-free and [[Dedup.connectedComponents]] turns verified pairs
  * into transitive clusters (q50) — but a deployment that re-runs CC
  * over ALL accumulated pairs every day pays the whole graph for a
  * delta of edges. This operator persists the (node → cluster) label
  * table ONCE, partitioned by a node-hash bucket (one file per bucket,
  * the [[AggState]] pruning layout), and absorbs a day's new edges at
  * delta cost:
  *
  *  1. the delta's endpoint labels are looked up by reading ONLY the
  *     buckets those nodes hash to (partition-pruned, the probe
  *     pattern — untouched buckets are never listed or read);
  *  2. each new edge is CONTRACTED to the clusters it connects
  *     (unknown endpoints stay themselves: new nodes), and
  *     [[Dedup.connectedComponents]] runs over the contracted graph —
  *     |delta| edges, never the corpus;
  *  3. cluster-to-cluster links become records in an append-only MERGE
  *     LOG (`<path>_merges`, a sibling the base read never sees); new
  *     nodes append (node, label) rows into their buckets — resident
  *     files are never rewritten;
  *  4. reads resolve base labels through the merge log, path-compressed
  *     driver-side (the log is bounded by cluster-merge events since
  *     the last [[compact]] — the parameter-bounded collect class) and
  *     applied as ONE broadcast join;
  *  5. [[compact]] folds the log into the base on a schedule (full
  *     rewrite — the same amortization argument as every other index
  *     compact here) and clears it.
  *
  * Labels match [[Dedup.connectedComponents]]'s exactly — each cluster
  * is labeled by its MINIMUM member id, so the q50 oracle's recursive
  * CTE gates the maintained state verbatim (q233). That invariant is
  * what makes merging order-free: a merge only ever lowers a label,
  * and the final label of any component is the min over everything it
  * absorbed — including a NEW node whose id undercuts a resident
  * cluster's min (the merge log relabels the resident rows lazily).
  *
  * NODE DELETION comes in two modes. Label-only (the default): a
  * label store cannot decide connectivity of the remainder without
  * the edge set it deliberately does not keep (labels are a summary,
  * edges are the truth), so right-to-be-forgotten is an anti-join
  * against the label output downstream and a true retraction is
  * rebuild-class — stated so nobody expects it. EDGE-RETENTION mode
  * (opt-in, round 17): persist the edge set too ([[writeEdges]] /
  * [[absorbEdges]], same node-hash bucket geometry) and
  * [[deleteNodes]] becomes COMPONENT-priced — the deleted nodes'
  * components are re-solved from their surviving persisted edges and
  * only their members' label buckets rewrite; the price is the edge
  * store itself (O(edges) storage — the classical summary-vs-truth
  * trade, bought deliberately).
  *
  * Crash/idempotence contract: [[absorb]] is IDEMPOTENT — re-absorbing
  * a delta finds every endpoint resident with merged labels, contracts
  * every edge to a self-loop and appends nothing — so at-least-once
  * delivery (a crash between the merge-log append and the new-node
  * append, then a replay) converges to the same state; duplicate merge
  * records are harmless to the resolve map. [[compact]] is idempotent
  * the same way: a crash after the rewrite but before the log delete
  * leaves merge records whose sources no longer appear in any base row
  * — resolving them is a no-op. SINGLE WRITER, as every persisted
  * store here: one absorb/compact at a time per path. [[compact]],
  * [[rebucket]] and [[compactEdges]] are [[StagedSwap]] whole-store
  * swaps, [[deleteNodes]] its partition swap; writers run
  * [[recover]] first, [[labels]] only heals a missing live dir — and
  * READERS must be quiesced across the swap window.
  *
  * Merge-log growth: the log is collected driver-side on every read
  * ([[mergeMap]]) — bounded by cluster-merge events since the last
  * [[compact]], ~32 bytes per record, so [[DefaultCompactThreshold]]
  * (100k records) keeps the collect ≲ a few MB. [[mergeLogSize]] is
  * the telemetry; [[maybeCompact]] is the policy knob — call it after
  * each absorb (or on the daily schedule) and the log stays bounded
  * (CcStateSpec pins a merge-heavy sequence staying under threshold
  * after compact).
  */
object CcState {

  private val MetaFile = "_graft_cc_meta"

  private def mergesPath(path: String): String = path + "_merges"

  /** The purged merge log inside a [[deleteNodes]] stage. */
  private val StagedLogDir = "_newlog"

  /** [[deleteNodes]]' partition-swap entry for the merge log: the
    * manifest's `log` line swaps the staged log to `<path>_merges`. */
  private def logSidecar(path: String) =
    Map("log" -> StagedSwap.Sidecar(StagedLogDir, mergesPath(path)))

  private def metaBody(buckets: Int): String =
    StagedSwap.renderKv(Seq("buckets" -> buckets.toString))

  private def bucketCol(buckets: Int) =
    pmod(hash(col("node")), lit(buckets)).as("pbucket")

  /** `rows` (a `node` column) under the node-hash bucket layout, one
    * file per bucket — the writer every label and edge write shares. */
  private def bucketed(rows: DataFrame, buckets: Int): DataFrameWriter[Row] =
    rows.withColumn("pbucket", bucketCol(buckets))
      .repartition(col("pbucket"))
      .write.partitionBy("pbucket")

  /** Build the state from scratch: CC over `pairs` (id_a, id_b),
    * labels written partitioned by the node-hash bucket, one file per
    * bucket; `buckets` persisted beside the data so every later call
    * prunes with the same hash.
    *
    * SIZE `buckets` for the corpus, not the default: a delta's nodes
    * hash uniformly, so an absorb reads ≈ min(|delta nodes|, buckets)
    * buckets of ~|corpus|/buckets rows each — with buckets ≈
    * |corpus| / targetBucketRows the lookup reads
    * ≈ |delta| · targetBucketRows rows REGARDLESS of corpus size (the
    * [[AnnIndex]] planes ≈ log₂(n) budget, applied to hash buckets;
    * the round-15 soak measures the arm flat under it). The default 32
    * fits the test SFs only. */
  def write(pairs: DataFrame, path: String, buckets: Int = 32): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = pairs.sparkSession
    recover(spark, path)
    bucketed(Dedup.connectedComponents(pairs), buckets)
      .mode("overwrite").parquet(path)
    val fs = fsFor(path, spark)
    StagedSwap.writeString(fs, new HPath(path, MetaFile), metaBody(buckets))
    fs.delete(new HPath(mergesPath(path)), true) // fresh state, no log
  }

  private def readBuckets(spark: SparkSession, path: String): Int =
    StagedSwap.readKv(fsFor(path, spark), new HPath(path, MetaFile))
      .get("buckets").map(_.toInt)
      .getOrElse(sys.error(s"$path/$MetaFile has no buckets entry"))

  /** The merge log as a path-compressed driver map: old label → final
    * label. Bounded by cluster-merge events since the last [[compact]]
    * (the parameter-bounded collect class — clusters only ever merge,
    * so the log grows by at most the day's contracted-edge count). */
  private def mergeMap(spark: SparkSession,
      path: String): Map[Any, Any] = {
    val fs = fsFor(path, spark)
    if (!fs.exists(new HPath(mergesPath(path)))) return Map.empty
    val raw = spark.read.parquet(mergesPath(path))
      .select(col("old_cluster"), col("new_cluster"))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    // path-compress: follow chains (duplicates and A→B→C hops from
    // successive absorbs) to the final label once, driver-side
    def find(x: Any): Any = {
      var r = x
      var seen = 0
      while (raw.contains(r)) {
        r = raw(r); seen += 1
        require(seen <= raw.size, s"merge-log cycle at $x — corrupt log")
      }
      r
    }
    raw.keys.map(k => k -> find(k)).toMap
  }

  /** `labels` with `col` rewritten through the (broadcast) resolve
    * map; an empty map is the identity. */
  private def applyMerges(labels: DataFrame, colName: String,
      m: Map[Any, Any]): DataFrame =
    if (m.isEmpty) labels
    else {
      val spark = labels.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__old",
          labels.schema(colName).dataType),
        org.apache.spark.sql.types.StructField("__new",
          labels.schema(colName).dataType)))
      val rows = m.toSeq.map { case (o, n) =>
        org.apache.spark.sql.Row(o, n)
      }
      val mdf = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      labels.join(broadcast(mdf), labels(colName) === mdf("__old"), "left")
        .withColumn(colName, coalesce(col("__new"), col(colName)))
        .drop("__old", "__new")
    }

  /** The delta's touched bucket directories that exist in the store —
    * ≤ |delta nodes| short strings, the probe collect. */
  private def touchedDirs(spark: SparkSession, path: String,
      nodes: DataFrame, buckets: Int): Seq[String] = {
    val fs = fsFor(path, spark)
    nodes.select(pmod(hash(col("node")), lit(buckets)).as("b"))
      .distinct().collect().map(r => s"pbucket=${r.getInt(0)}")
      .map(new HPath(path, _)).filter(fs.exists(_)).map(_.toString).toSeq
  }

  /** Fold a day's new edges (id_a, id_b) into the clustering at delta
    * cost — see the object doc for the five steps. Idempotent. */
  def absorb(spark: SparkSession, newEdges: DataFrame,
      path: String): Unit = {
    recover(spark, path)
    val buckets = readBuckets(spark, path)
    // the delta's id types must equal the store's node type:
    // hash(Int) != hash(Long) for equal values, so a type-mismatched
    // delta would silently mis-prune buckets and append duplicate
    // nodes under both types — the same loud check
    // connectedComponents makes between id_a and id_b
    val nodeType = spark.read.parquet(path).schema("node").dataType
    Seq("id_a", "id_b").foreach { c =>
      val t = newEdges.schema(c).dataType
      require(t == nodeType,
        s"delta column $c is $t but the store at $path holds " +
          s"$nodeType nodes — cast the delta to the store's node type")
    }
    val edges = newEdges
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a"), col("id_b")).distinct()
    val nodes = edges.select(col("id_a").as("node"))
      .unionByName(edges.select(col("id_b").as("node"))).distinct()
    val dirs = touchedDirs(spark, path, nodes, buckets)
    val m = mergeMap(spark, path)
    // endpoint labels: only the delta's buckets are read, and the
    // resident rows are semi-filtered to the delta's nodes before the
    // (broadcast) merge-log resolve
    val resident0 =
      if (dirs.isEmpty)
        nodes.limit(0).withColumn("cluster", col("node"))
      else
        spark.read.option("basePath", path).parquet(dirs: _*)
          .select(col("node"), col("cluster"))
          .join(nodes, Seq("node"), "left_semi")
    val resident = applyMerges(resident0, "cluster", m)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // contract each edge to the clusters it connects; an endpoint
      // the store has never seen stays ITSELF — a new node
      val ra = resident.select(col("node").as("id_a"),
        col("cluster").as("ca"))
      val rb = resident.select(col("node").as("id_b"),
        col("cluster").as("cb"))
      val contracted = edges.join(ra, Seq("id_a"), "left")
        .join(rb, Seq("id_b"), "left")
        .select(coalesce(col("ca"), col("id_a")).as("id_a"),
          coalesce(col("cb"), col("id_b")).as("id_b"))
      // CC over the contracted graph: |delta| edges, never the corpus
      // (connectedComponents picks driver union-find vs distributed
      // star contraction by size on its own)
      val merged = Dedup.connectedComponents(contracted)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        merged.count()
        // resident cluster labels whose final label changed → the log;
        // contracted ids that are NOT resident labels are new nodes
        val residentLabels = resident.select(col("cluster")).distinct()
        val mergeRecs = merged
          .join(residentLabels, merged("node") === residentLabels("cluster"),
            "left_semi")
          .filter(col("node") =!= col("cluster"))
          .select(col("node").as("old_cluster"),
            col("cluster").as("new_cluster"))
        if (!mergeRecs.isEmpty)
          mergeRecs.coalesce(1).write.mode("append")
            .parquet(mergesPath(path))
        val newNodes = nodes
          .join(resident.select(col("node")), Seq("node"), "left_anti")
          .join(merged, Seq("node"), "left")
          // a new node in an all-new component whose edges contracted
          // away (both endpoints new and equal) can miss a merged row;
          // it is its own cluster then
          .select(col("node"), coalesce(col("cluster"), col("node"))
            .as("cluster"))
        if (!newNodes.isEmpty)
          bucketed(newNodes, buckets).mode("append").parquet(path)
      } finally merged.unpersist()
    } finally resident.unpersist()
  }

  /** The current clustering: every base row's label resolved through
    * the merge log. Full-store read — the VIEW, not the probe path.
    * Read-only: it runs [[StagedSwap.healIfMissing]], never the full
    * [[recover]], whose stray-dir cleanup would delete a concurrent
    * compact's live `_compacting` stage. */
  def labels(spark: SparkSession, path: String): DataFrame = {
    StagedSwap.healIfMissing(fsFor(path, spark), path, MetaFile)
    applyMerges(
      spark.read.parquet(path).select(col("node"), col("cluster")),
      "cluster", mergeMap(spark, path))
  }

  /** Records in the merge log — the size of the driver-side resolve
    * collect every read pays. Telemetry for the compact schedule (~32
    * collected bytes per record; see the object doc). */
  def mergeLogSize(spark: SparkSession, path: String): Long =
    if (!fsFor(path, spark).exists(new HPath(mergesPath(path)))) 0L
    else spark.read.parquet(mergesPath(path)).count()

  /** Compact when the merge log passes `threshold` records — the
    * documented policy: at the default, the resolve collect stays ≲ a
    * few MB and path compression trivially driver-sized, while
    * [[compact]]'s full rewrite amortizes over ~100k cluster-merge
    * events. Returns whether it compacted. Writer-side call — the
    * single-writer contract applies. */
  val DefaultCompactThreshold = 100000L
  def maybeCompact(spark: SparkSession, path: String,
      threshold: Long = DefaultCompactThreshold): Boolean =
    if (mergeLogSize(spark, path) < threshold) false
    else { compact(spark, path); true }

  /** Maintain the clustering from a STREAM of edges: each micro-batch
    * rides [[absorb]] under a checkpointed foreachBatch — the
    * [[DedupIndex.maintainStream]] shape for the CC state. absorb is
    * IDEMPOTENT (a replayed batch contracts every edge to a self-loop
    * and appends nothing), so a crash between the absorb and the
    * checkpoint commit replays harmlessly: effectively exactly-once
    * without a transaction log, under the store's single-writer
    * contract. */
  def absorbStream(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        absorb(batch.sparkSession, batch, path)
      }
      .start()

  /** Fold the merge log into the base (full rewrite, scheduled — the
    * amortization every persisted store here shares) and clear it. The
    * rewrite is a [[StagedSwap]] whole-store swap, because unlike the
    * band index this state is NOT cheaply rebuildable (it summarizes
    * every edge ever absorbed), so a swap-window crash must roll
    * FORWARD via [[recover]], never cost a rebuild. Idempotent tail: a crash
    * after the swap but before the log delete leaves merge records
    * whose sources no longer label any base row — resolving is a
    * no-op — and the next compact clears them. */
  def compact(spark: SparkSession, path: String): Unit =
    compactTo(spark, path, readBucketsRecovered(spark, path))

  /** Rewrite the state under a NEW bucket count — the lifecycle
    * operator for when the corpus outgrows the geometry chosen at
    * [[write]] (the sizing budget in the class doc: buckets ≈
    * corpus / targetBucketRows — a store that grew 30× under absorbs
    * has 30× the rows per bucket, and every probe pays it). A rebucket
    * IS a compact into the new geometry, with the merge log folded in
    * on the way; `buckets` in the meta is updated, so every
    * later absorb prunes with the new hash. Runs on the compact
    * schedule (full rewrite — the amortization argument). */
  def rebucket(spark: SparkSession, path: String, newBuckets: Int): Unit = {
    require(newBuckets > 0, s"buckets must be positive, got $newBuckets")
    recover(spark, path)
    compactTo(spark, path, newBuckets)
  }

  /** Migrate when the label store has outgrown (or undershot) its
    * bucket count — the geometry policy knob ([[AnnIndex
    * .maybeRebucket]]'s discipline): sized from the store's own row
    * count against the class doc's `buckets ≈ corpus/targetBucketRows`
    * budget, migrating only at a ≥ 2× / ≤ ½ drift (the doubling
    * discipline — the rewrite is store-sized and must not flap).
    * Returns whether it migrated. Writer-side. */
  def maybeRebucket(spark: SparkSession, path: String,
      targetBucketRows: Long): Boolean = {
    require(targetBucketRows > 0,
      s"targetBucketRows must be positive, got $targetBucketRows")
    recover(spark, path)
    val have = readBuckets(spark, path).toLong
    val want = math.max(1L,
      spark.read.parquet(path).count() / targetBucketRows)
    if (want >= 2 * have || 2 * want <= have) {
      rebucket(spark, path, math.min(want, Int.MaxValue.toLong).toInt)
      true
    } else false
  }

  private def readBucketsRecovered(spark: SparkSession,
      path: String): Int = {
    recover(spark, path)
    readBuckets(spark, path)
  }

  private def compactTo(spark: SparkSession, path: String,
      buckets: Int): Unit = {
    restage(spark, path, labels(spark, path), buckets)
    fsFor(path, spark).delete(new HPath(mergesPath(path)), true)
  }

  /** Swap `rows` in as the store at `path`, bucketed by `buckets`,
    * through a `_compacting` stage. */
  private def restage(spark: SparkSession, path: String, rows: DataFrame,
      buckets: Int): Unit =
    StagedSwap.swap(fsFor(path, spark), path, StagedSwap.Compacting,
        MetaFile, metaBody(buckets)) { tmp =>
      bucketed(rows, buckets).mode("overwrite").parquet(tmp)
    }

  // ==================================================================
  // Edge-retention mode: the optional persisted EDGE store (the truth
  // the label summary is derived from) that turns node deletion from
  // rebuild-class into component-priced work. Same bucket geometry as
  // the labels: each undirected edge is stored TWICE, once under each
  // endpoint's node-hash bucket, so "the edges touching these nodes"
  // is a partition-pruned read (the ×2 storage is the adjacency-list
  // trade, bought deliberately — the [[AnnIndex.writeBanded]]
  // argument, applied to graphs).
  // ==================================================================

  /** Persist the undirected edge set at `path` (a separate path from
    * the label store — keep the two in lockstep: every [[write]]/
    * [[absorb]] on the labels pairs with a [[writeEdges]]/
    * [[absorbEdges]] here, the single-writer contract covering both).
    * `buckets` sizes like [[write]]'s. */
  def writeEdges(pairs: DataFrame, path: String,
      buckets: Int = 32): Unit = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = pairs.sparkSession
    recover(spark, path)
    val e = pairs.filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a"), col("id_b")).distinct()
    val both = e.select(col("id_a").as("node"), col("id_b").as("peer"))
      .unionByName(e.select(col("id_b").as("node"), col("id_a").as("peer")))
      .distinct()
    bucketed(both, buckets).mode("overwrite").parquet(path)
    StagedSwap.writeString(fsFor(path, spark), new HPath(path, MetaFile),
      metaBody(buckets))
  }

  /** Append a day's new edges into the edge store — both directions,
    * resident files untouched (the [[absorb]] write shape). Replayed
    * batches append duplicate (node, peer) rows; every read distincts,
    * so redelivery degrades read cost, never answers (the standard
    * at-least-once argument here). */
  def absorbEdges(spark: SparkSession, newEdges: DataFrame,
      path: String): Unit = {
    recover(spark, path)
    val buckets = readBuckets(spark, path)
    val nodeType = spark.read.parquet(path).schema("node").dataType
    Seq("id_a", "id_b").foreach { c =>
      val t = newEdges.schema(c).dataType
      require(t == nodeType,
        s"delta column $c is $t but the edge store at $path holds " +
          s"$nodeType nodes — cast the delta to the store's node type")
    }
    val e = newEdges.filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a"), col("id_b")).distinct()
    val both = e.select(col("id_a").as("node"), col("id_b").as("peer"))
      .unionByName(e.select(col("id_b").as("node"), col("id_a").as("peer")))
      .distinct()
    bucketed(both, buckets).mode("append").parquet(path)
  }

  /** Fold redelivery duplicates out of the edge store — the scheduled
    * physical purge ([[compact]]'s role for the adjacency rows): a
    * staged distinct rewrite swapped in like [[compact]]'s. Runs on
    * the compact schedule; reads are correct without it (every
    * consumer distincts), it only removes their cost. */
  def compactEdges(spark: SparkSession, path: String): Unit = {
    recover(spark, path)
    restage(spark, path,
      spark.read.parquet(path).select(col("node"), col("peer")).distinct(),
      readBuckets(spark, path))
  }

  /** Redelivery-duplicate rows resident in the edge store — the
    * telemetry for the [[compactEdges]] schedule ([[mergeLogSize]]'s
    * discipline for the adjacency rows): raw count minus distinct
    * count, both column-pruned scans of the store. */
  def edgeDuplicateCount(spark: SparkSession, path: String): Long = {
    val rows = spark.read.parquet(path).select(col("node"), col("peer"))
    rows.count() - rows.distinct().count()
  }

  /** Compact the edge store when more than `threshold` duplicate rows
    * are resident — the policy knob: duplicates never change answers
    * (every consumer distincts), only read cost, so the full rewrite
    * amortizes over many replayed batches. Returns whether it
    * compacted. Writer-side (single writer). */
  val DefaultEdgeDupThreshold = 100000L
  def maybeCompactEdges(spark: SparkSession, path: String,
      threshold: Long = DefaultEdgeDupThreshold): Boolean =
    if (edgeDuplicateCount(spark, path) < threshold) false
    else { compactEdges(spark, path); true }

  /** Maintain the LABEL and EDGE stores from one stream of edges in
    * LOCKSTEP — the edge-retention mode's stream path, closing stream
    * parity for the store pair: each micro-batch absorbs into the
    * labels (idempotent contraction — replay appends nothing) and
    * appends into the edge store (replay appends duplicate rows that
    * every read distincts and [[compactEdges]] purges). One checkpoint
    * covers both: a crash between the two absorbs replays the batch,
    * and BOTH sides tolerate the replay, so the pair converges to the
    * same state as batch maintenance — effectively exactly-once
    * without a transaction log, under the single-writer contract that
    * already spans the pair ([[deleteNodes]]' lockstep rule). */
  def absorbStreamWithEdges(stream: DataFrame, labelPath: String,
      edgePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        absorb(batch.sparkSession, batch, labelPath)
        absorbEdges(batch.sparkSession, batch, edgePath)
      }
      .start()

  /** Right-to-be-forgotten WITH edge retention: remove `ids` (one
    * column, the node ids) and re-solve exactly their components from
    * the surviving persisted edges. Work is component-priced — the
    * deleted nodes' components' members, their label buckets, and
    * their edge buckets — plus ONE column-pruned full scan of the
    * label table to enumerate the members (labels are bucketed by
    * node, not by cluster; the scan is |nodes| two-column rows, the
    * summary, never the corpus), stated as the honest cost.
    *
    * Steps: (1) the deleted nodes' resolved cluster set (bucket-pruned
    * lookup, ≤ |ids| labels collected); (2) component members from the
    * label scan; (3) surviving member edges (bucket-pruned, anti-join
    * ids); (4) PURGE the edge store's deleted rows (dynamic overwrite
    * of the touched edge buckets; buckets emptied entirely are removed
    * — their only rows touched deleted nodes); (5) re-run CC over the
    * surviving component edges, members who lost every edge becoming
    * singletons; (6) swap the rewritten label buckets AND the purged
    * merge log in through one [[StagedSwap]] partition swap
    * ([[recover]] redoes it after a crash). The merge-log purge drops every
    * record resolving into the affected cluster set — after the
    * rebuild no live row resolves through them, and a SURVIVOR can
    * legitimately become a new cluster label that collides with a
    * stale record's key (a min-member that was only a label because
    * the deleted component absorbed it), so the stale records must go,
    * not linger.
    *
    * Delivery contract: AT-LEAST-ONCE — re-running the same batch
    * converges (edges are purged before labels swap, so a replay
    * either re-derives the same rebuild from intact labels or finds
    * nothing left to do); a CRASHED call must be re-run with the same
    * ids before any other maintenance on either store (single-writer
    * discipline — the edge purge and label swap are consistent only
    * once the call completes). Deleting ids the store never saw is a
    * no-op. */
  def deleteNodes(spark: SparkSession, ids: DataFrame, labelPath: String,
      edgePath: String): Unit = {
    recover(spark, labelPath)
    recover(spark, edgePath)
    val lBuckets = readBuckets(spark, labelPath)
    val eBuckets = readBuckets(spark, edgePath)
    val nodeType = spark.read.parquet(labelPath).schema("node").dataType
    val idCol = ids.columns.head
    require(ids.schema(idCol).dataType == nodeType,
      s"ids column $idCol is ${ids.schema(idCol).dataType} but the " +
        s"store at $labelPath holds $nodeType nodes")
    val del = ids.select(col(idCol).as("node")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val m = mergeMap(spark, labelPath)
      // (1) resolved clusters of the deleted nodes — ≤ |ids| collected
      val delDirs = touchedDirs(spark, labelPath, del, lBuckets)
      if (delDirs.isEmpty) return
      val delRows = spark.read.option("basePath", labelPath)
        .parquet(delDirs: _*).select(col("node"), col("cluster"))
        .join(del, Seq("node"), "left_semi")
      val cSet = applyMerges(delRows, "cluster", m)
        .select(col("cluster")).distinct().collect().map(_.get(0)).toSeq
      if (cSet.isEmpty) return
      // (2) the affected components' members — the label-scan cost
      val comp = applyMerges(
          spark.read.parquet(labelPath).select(col("node"), col("cluster")),
          "cluster", m)
        .filter(col("cluster").isin(cSet: _*))
        .select(col("node"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        comp.count()
        // (3) surviving component edges: the anti-join against `del`
        // makes this correct whether or not step (4)'s physical purge
        // has happened — what makes a crashed call re-runnable
        val eDirs = touchedDirs(spark, edgePath, comp, eBuckets)
        val compEdges =
          (if (eDirs.isEmpty)
            spark.read.parquet(edgePath).limit(0)
          else spark.read.option("basePath", edgePath).parquet(eDirs: _*))
            .select(col("node"), col("peer"))
            .join(comp, Seq("node"), "left_semi")
        val surviving = compEdges
          .join(del, Seq("node"), "left_anti")
          .join(del.select(col("node").as("peer")), Seq("peer"), "left_anti")
          .filter(col("node") < col("peer"))
          .select(col("node").as("id_a"), col("peer").as("id_b"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          surviving.count() // materialize BEFORE mutating the edge store
          // (5, computed first) re-solve the components; edge-less
          // survivors are their own singleton clusters. localCheckpoint
          // TRUNCATES the lineage: the purge below writes to edgePath,
          // and Spark's post-write recache would otherwise lazily
          // RE-EXECUTE any plan whose lineage reads that path against
          // the purged file list (a persist alone does not survive the
          // invalidation). Checkpoint blocks live on the executors —
          // losing one fails the job, which the re-run contract heals.
          val survivors = comp.join(del, Seq("node"), "left_anti")
          val cc = Dedup.connectedComponents(surviving)
          val newLabels = survivors.join(cc, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("cluster"), col("node")).as("cluster"))
            .localCheckpoint()
          // (4) purge the edge store: rewrite the touched buckets
          // without rows touching a deleted id; buckets left with
          // nothing are removed (dynamic overwrite cannot carry
          // emptiness — their stale dirs are deleted explicitly, and a
          // crash in that window is healed by the re-run contract)
          if (eDirs.nonEmpty) {
            val fs = fsFor(edgePath, spark)
            val kept = spark.read.option("basePath", edgePath)
              .parquet(eDirs: _*)
              .select(col("node"), col("peer"), col("pbucket"))
              .join(del, Seq("node"), "left_anti")
              .join(del.select(col("node").as("peer")), Seq("peer"),
                "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              val keptBuckets = kept.select(col("pbucket")).distinct()
                .collect().map(r => s"pbucket=${r.get(0)}").toSet
              kept.repartition(col("pbucket"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("pbucket").parquet(edgePath)
              eDirs.map(d => d.substring(d.lastIndexOf('/') + 1))
                .filterNot(keptBuckets)
                .foreach(d => fs.delete(new HPath(edgePath, d), true))
            } finally kept.unpersist()
          }
          // (6) staged label-bucket + merge-log swap
          swapLabelDelete(spark, labelPath, lBuckets, comp, newLabels,
            m, cSet)
        } finally surviving.unpersist()
      } finally comp.unpersist()
    } finally del.unpersist()
  }

  /** [[deleteNodes]]' partition swap: the affected label buckets
    * rewritten (component rows replaced by `newLabels`, deleted ids
    * dropped, other components' rows passed through) plus the purged
    * merge log, swapped in through [[StagedSwap.swapPartitions]]. */
  private def swapLabelDelete(spark: SparkSession, labelPath: String,
      buckets: Int, comp: DataFrame, newLabels: DataFrame,
      m: Map[Any, Any], cSet: Seq[Any]): Unit = {
    val lDirs = touchedDirs(spark, labelPath, comp, buckets)
    val entries = lDirs.map(d => d.substring(d.lastIndexOf('/') + 1)) :+ "log"
    StagedSwap.swapPartitions(fsFor(labelPath, spark), labelPath, entries,
        logSidecar(labelPath)) { tmp =>
      val keep = spark.read.option("basePath", labelPath).parquet(lDirs: _*)
        .select(col("node"), col("cluster"))
        .join(comp, Seq("node"), "left_anti")
      bucketed(keep.unionByName(newLabels), buckets)
        .mode("overwrite").parquet(tmp)
      // purged merge log: drop every record resolving into the affected
      // clusters (driver-sized — the mergeMap collect class); writing
      // the path-compressed form is semantically identical to the raw
      // chains it replaces. Nothing staged = the log line is "emptied".
      val keptLog = m.toSeq.filterNot { case (_, fin) => cSet.contains(fin) }
      if (keptLog.nonEmpty) {
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("old_cluster",
            newLabels.schema("cluster").dataType),
          org.apache.spark.sql.types.StructField("new_cluster",
            newLabels.schema("cluster").dataType)))
        val rows = keptLog.map { case (o, n) => Row(o, n) }
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite")
          .parquet(new HPath(tmp, StagedLogDir).toString)
      }
    }
  }

  /** Resolve the leftover state of an interrupted [[compact]],
    * [[compactEdges]] or [[deleteNodes]] — [[StagedSwap.recover]],
    * run at the head of every writer entry point. */
  def recover(spark: SparkSession, path: String): Unit =
    StagedSwap.recover(fsFor(path, spark), path, MetaFile,
      logSidecar(path))
}
