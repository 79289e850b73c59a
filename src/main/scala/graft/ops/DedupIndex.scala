package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-band index: the storage layout that makes
  * INCREMENTAL near-dup detection resident-shuffle-free at scale.
  *
  * [[Dedup.bandKeys]] + [[Dedup.candidatePairs]] recompute and
  * re-shuffle the whole corpus's band keys for every dedup pass —
  * correct for one-shot jobs, but the deployment reality at 100 TB is
  * a small daily delta probed against an enormous resident corpus.
  * This operator persists the resident band keys ONCE as a
  * bucketed+sorted table (`bucketBy(buckets, "bk")` — the shuffle is
  * paid at write time), so a probe batch joins against co-located
  * files: only the delta's band keys are computed and shuffled, and
  * the resident side's scan carries NO Exchange in the plan
  * (DedupIndexSpec pins this with broadcast disabled). The join key is
  * the FOLDED band identity `bk = band || ':' || band_key` —
  * equivalent to equality on the (band, band_key) pair (the ':'
  * separator is unambiguous: band is an int, band_key fixed-width
  * hex) — because co-partitioned joins require the bucketing keys to
  * be EXACTLY the join keys (`requireAllClusterKeysForCoPartition`),
  * so bucketing on a subset would force the resident re-shuffle this
  * layout exists to avoid. Band keys are ~bands rows of (id, short
  * string) per document — the index is a tiny fraction of the corpus
  * it guards.
  *
  * The daily cycle is [[probe]] → verify → [[absorb]], with
  * [[compact]] scheduled between absorbs and [[delete]]
  * (right-to-be-forgotten) at any point: deletions are O(|batch|)
  * tombstone appends that every probe anti-joins by broadcast, and
  * the next compact purges them physically for free.
  *
  * The hashing parameters are PERSISTED as table properties at
  * [[write]] (`graft.bands` etc. — the `_graft_ann_meta` discipline
  * applied to the band index) and validated on every [[probe]]/
  * [[absorb]]/[[compact]]: a caller whose (bands, rowsPerBand,
  * shingleK) drifted from the index's own hashing fails loudly instead
  * of silently probing with incompatible keys.
  */
object DedupIndex {

  /** Write `resident`'s band keys as a bucketed+sorted external table.
    * The one full shuffle this layout ever pays. */
  def write(resident: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int,
      path: String, table: String, buckets: Int = 32): Unit =
    writeKeys(
      Dedup.bandKeys(resident, textCol, idCol, bands, rowsPerBand,
        shingleK).select(col("id"), foldedKey),
      path, table, buckets,
      Map("bands" -> bands.toString, "rowsPerBand" -> rowsPerBand.toString,
        "shingleK" -> shingleK.toString))

  /** KEY-AGNOSTIC write: the caller supplies the banding — `keys` is
    * (id, bk, payload cols…), where `bk` is any folded band identity
    * and the payload columns ride beside it into the buckets (e.g.
    * [[Multimodal]]'s 64-bit dHash beside its quarter keys, so a
    * probe's verify step needs no second lookup). Everything else —
    * the bucketed+sorted layout, the zero-resident-exchange probe
    * join, tombstone deletes, compact/rebucket generation rewrites —
    * is banding-agnostic and shared. `params` stamp as `graft.*` table
    * properties for the caller's own drift checks. */
  def writeKeys(keys: DataFrame, path: String, table: String,
      buckets: Int = 32, params: Map[String, String] = Map.empty): Unit = {
    val spark = keys.sparkSession
    keys.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "bk").sortBy("bk")
      .option("path", path).saveAsTable(table)
    val props = params + ("buckets" -> buckets.toString)
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'graft.$k'='$v'" }.mkString(",") + ")")
  }

  /** The table's persisted `graft.*` properties. */
  private def graftProps(spark: SparkSession,
      table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      .properties.filter(_._1.startsWith("graft."))

  /** Fail loudly when a caller's hashing parameters drift from the
    * ones persisted at [[write]] (properties absent — a pre-property
    * table — means nothing to check, the old caller-discipline
    * contract). */
  private def checkParams(spark: SparkSession, table: String,
      expect: (String, Int)*): Unit =
    checkProps(spark, table,
      expect.map { case (k, v) => k -> v.toString }: _*)

  /** String-valued [[checkParams]] — shared with the key-agnostic
    * callers (e.g. [[Multimodal]]'s dHash index validates its
    * `scheme` stamp through this). */
  private[ops] def checkProps(spark: SparkSession, table: String,
      expect: (String, String)*): Unit = {
    val props = graftProps(spark, table)
    expect.foreach { case (key, got) =>
      props.get(s"graft.$key").foreach { stored =>
        require(stored == got,
          s"$table was built with $key=$stored but the caller passed " +
            s"$got — probe/absorb/compact must use the index's own " +
            "hashing parameters")
      }
    }
  }

  /** band ‖ ':' ‖ band_key as ONE column — see the class doc. */
  private def foldedKey =
    concat_ws(":", col("band").cast("string"), col("band_key")).as("bk")

  /** Absorb a checked batch into the resident index: its band keys are
    * appended INTO the bucketed table (same bucket spec — Spark
    * validates it), so tomorrow's delta probes against today's corpus
    * without any rewrite of the resident files. The daily cycle is
    * probe → verify → [[absorb]]. `buckets` must match [[write]]'s.
    *
    * When the table already exists the append addresses it by CATALOG
    * name alone — never by the caller's `path`, which goes stale the
    * moment [[compact]] swaps the table to its next generation
    * directory (absorb-after-compact is the steady-state daily cycle;
    * DedupIndexSpec pins it). `path` is only used to CREATE the table
    * when it does not exist yet. */
  def absorb(batch: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int,
      path: String, table: String, buckets: Int = 32): Unit =
    absorbKeys(
      Dedup.bandKeys(batch, textCol, idCol, bands, rowsPerBand, shingleK)
        .select(col("id"), foldedKey),
      path, table, buckets,
      Map("bands" -> bands.toString, "rowsPerBand" -> rowsPerBand.toString,
        "shingleK" -> shingleK.toString))

  /** [[absorb]]'s key-agnostic form — see [[writeKeys]]. `params` are
    * validated against the table's stamp before the append. */
  def absorbKeys(keys: DataFrame, path: String, table: String,
      buckets: Int = 32, params: Map[String, String] = Map.empty): Unit = {
    val spark = keys.sparkSession
    val exists = spark.catalog.tableExists(table)
    if (exists)
      checkProps(spark, table,
        (params + ("buckets" -> buckets.toString)).toSeq: _*)
    val writer = keys.write.mode(SaveMode.Append)
      .bucketBy(buckets, "bk").sortBy("bk")
    (if (exists) writer else writer.option("path", path)).saveAsTable(table)
  }

  /** Maintain the index from a STREAM of documents: each micro-batch
    * is [[absorb]]ed under a checkpointed foreachBatch — the
    * [[AggState.absorbStream]] shape applied to the band index, so
    * tomorrow's probes see today's stream without any rebuild. A
    * crash between the absorb and the checkpoint commit replays the
    * batch: band keys are a deterministic function of the documents,
    * so the replay appends byte-identical (id, bk) rows — harmless to
    * every [[probe]] (its final distinct collapses duplicate
    * candidate pairs) and physically removed by the next [[compact]]
    * (which dedupes on (id, bk), unique per document by
    * construction). Effectively exactly-once maintenance without a
    * transaction log, under the same single-producer contract as
    * [[AggState]]. */
  def maintainStream(stream: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int,
      path: String, table: String, checkpoint: String,
      buckets: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        absorb(batch, textCol, idCol, bands, rowsPerBand, shingleK,
          path, table, buckets)
      }
      .start()

  /** The tombstone side table's name: deletions land here, tiny and
    * append-only, until [[compact]] purges them physically. */
  private def delTable(table: String): String = table + "_del"

  /** Right-to-be-forgotten for the band index: mark `ids` (one column,
    * the document ids) deleted. O(|ids|) work — one append to a tiny
    * tombstone table; the bucketed resident files are NOT rewritten
    * (a bucketed table cannot swap single bucket files, so an eager
    * rewrite would cost a full-table generation — the tombstone defers
    * that to the next scheduled [[compact]], which purges physically
    * and clears the tombstones). Every [[probe]] between delete and
    * compact anti-joins the tombstones via an explicit broadcast, so
    * a deleted document can never appear as a resident candidate
    * again the moment this returns. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    val dt = delTable(table)
    val w = ids.toDF("id").write.mode(SaveMode.Append)
    if (spark.catalog.tableExists(dt)) w.saveAsTable(dt)
    else {
      // EXTERNAL location beside the index's current generation dir: a
      // managed table would leave its spark-warehouse directory behind
      // when the session-scoped catalog dies, failing the next JVM's
      // CREATE with LOCATION_ALREADY_EXISTS. No live table ⇒ no live
      // tombstones, so any stale files at the location are leftovers
      // from a dropped/crashed table and must not resurrect: clear
      // them before creating.
      val mainLoc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      val loc = new org.apache.hadoop.fs.Path(mainLoc.toString + "_tombstones")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
      w.option("path", loc.toString).saveAsTable(dt)
    }
  }

  /** The resident rows minus tombstoned ids (broadcast anti-join —
    * adds no shuffle, so the co-located bucket join's zero-Exchange
    * plan survives; DedupIndexSpec pins it). `private[ops]` for the
    * compositions whose probe side is the LARGE side and therefore
    * invert the join direction this layout was bucketed for
    * ([[ContamIndex.screen]] broadcasts the live resident grams
    * against a corpus-sized train scan). */
  private[ops] def liveRows(spark: SparkSession, table: String): DataFrame = {
    val res = spark.table(table)
    if (spark.catalog.tableExists(delTable(table)))
      // no distinct on the tombstones: left_anti ignores duplicate
      // build-side keys, and the dedup would cost a (tiny) shuffle
      res.join(broadcast(spark.table(delTable(table))),
        Seq("id"), "left_anti")
    else res
  }

  /** Rewrite the bucketed table so each bucket is ONE sorted file
    * again: a bucketed write does NOT coalesce per-bucket output (each
    * task emits its own file per bucket it holds), and every [[absorb]]
    * adds another generation of files — after many days the probe's
    * cost shifts from rows to file-open overhead (the
    * [[AnnIndex.compact]] moment). The rows are rewritten
    * `repartition(buckets, bk)` — the same murmur3 hash bucketing
    * uses — so each task holds exactly one bucket and emits exactly
    * one file. The rewrite stages to a sibling generation directory
    * under a temporary catalog name, then swaps with DROP + ALTER
    * RENAME and deletes the old generation; the location alternates
    * between `_genA`/`_genB` suffixes, so the caller addresses the
    * index by TABLE name only (as [[probe]] does). Crash honesty: the
    * catalog is session-scoped and the index is rebuildable from the
    * corpus, so a crash mid-swap costs a rebuild, never data — the
    * [[StagedSwap]] protocol the path-based stores share is not
    * needed here and deliberately not duplicated. */
  def compact(spark: SparkSession, table: String,
      buckets: Int = 32): Unit = {
    checkParams(spark, table, "buckets" -> buckets)
    compactTo(spark, table, buckets)
  }

  /** Rewrite the index under a NEW bucket count — the lifecycle
    * operator for when the corpus outgrows the geometry chosen at
    * [[write]] (a bucketed table's bucket count is fixed at write, so
    * a store that grew 30× under absorbs has 30× the rows per bucket
    * file and every probe's bucket-join tasks pay it). A rebucket IS a
    * compact into the new geometry — the same generation rewrite
    * (tombstones purged, redelivery duplicates dropped, one sorted
    * file per bucket), with `graft.buckets` RESTAMPED to the new
    * count, so every later [[absorb]]/[[compact]] validates against
    * the migrated geometry: a caller still passing the old bucket
    * count fails loudly (q251 gates the migrated index answering
    * probes exactly as the band-key oracle; DedupIndexSpec pins the
    * stale-parameter failure). Runs on the compact schedule — the full
    * rewrite amortizes, never a tax on daily absorbs. Crash honesty =
    * [[compact]]'s: rebuildable from the corpus, so a crash mid-swap
    * costs a rebuild, never data. */
  def rebucket(spark: SparkSession, table: String,
      newBuckets: Int): Unit = {
    require(newBuckets > 0, s"buckets must be positive, got $newBuckets")
    compactTo(spark, table, newBuckets)
  }

  /** Migrate when the index has outgrown (or undershot) its bucket
    * count — the geometry policy knob ([[AnnIndex.maybeRebucket]]'s
    * discipline): sized from the table's own row count against
    * `targetBucketRows`, migrating only at a ≥ 2× / ≤ ½ drift (the
    * doubling discipline — the rewrite is store-sized, so it must not
    * flap at a boundary). Returns whether it migrated. Writer-side. */
  def maybeRebucket(spark: SparkSession, table: String,
      targetBucketRows: Long): Boolean = {
    require(targetBucketRows > 0,
      s"targetBucketRows must be positive, got $targetBucketRows")
    val have = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      .bucketSpec.map(_.numBuckets.toLong)
      .getOrElse(sys.error(s"$table is not a bucketed table"))
    val want = math.max(1L, spark.table(table).count() / targetBucketRows)
    if (want >= 2 * have || 2 * want <= have) {
      rebucket(spark, table, math.min(want, Int.MaxValue.toLong).toInt)
      true
    } else false
  }

  private def compactTo(spark: SparkSession, table: String,
      buckets: Int): Unit = {
    // carry the hashing parameters forward with the (possibly new)
    // bucket count — the staged table is written fresh, so the
    // generation swap must restamp them
    val props = graftProps(spark, table) +
      ("graft.buckets" -> buckets.toString)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val oldLoc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getTableMetadata(ident).location)
    val newName =
      if (oldLoc.getName.endsWith("_genA"))
        oldLoc.getName.stripSuffix("_genA") + "_genB"
      else if (oldLoc.getName.endsWith("_genB"))
        oldLoc.getName.stripSuffix("_genB") + "_genA"
      else oldLoc.getName + "_genA"
    val newLoc = new org.apache.hadoop.fs.Path(oldLoc.getParent, newName)
    val tmpTable = table + "_compacting"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    // read the FILES, not the table: a table read advertises its
    // bucketing, so Catalyst deems HashPartitioning(bk, buckets)
    // already satisfied and ELIDES the repartition — while the actual
    // scan may coalesce mixed-bucket file splits (auto-bucketed-scan
    // is per-query), leaving every writer task holding every bucket
    // and emitting tasks×buckets files. The raw-parquet read forces a
    // real shuffle whose partition index IS the writer's bucket id
    // (both are pmod(murmur3(bk), buckets)), so each task holds
    // exactly one bucket and emits exactly one file.
    // purge tombstoned ids physically while every row is being
    // rewritten anyway — deletes cost nothing extra here, and the
    // tombstone table resets to empty afterwards
    val raw = spark.read.parquet(oldLoc.toString)
    val purged =
      if (spark.catalog.tableExists(delTable(table)))
        raw.join(broadcast(spark.table(delTable(table))),
          Seq("id"), "left_anti")
      else raw
    purged
      // (id, bk) is unique per document by construction, so duplicates
      // are at-least-once redelivery artifacts ([[maintainStream]]) —
      // compaction is where their cost is physically removed
      .dropDuplicates("id", "bk")
      .repartition(buckets, col("bk"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "bk").sortBy("bk")
      .option("path", newLoc.toString).saveAsTable(tmpTable)
    // tombstone drop is deferred until AFTER the generation swap: the
    // staged generation is purged, but until the RENAME lands the OLD
    // generation — deleted ids still physically resident — is what a
    // crash leaves live, and dropping the tombstones first would let
    // those ids silently reappear in probes (right-to-be-forgotten
    // violated). Capture the location now; clean up post-swap, where a
    // crash instead leaves harmless already-purged tombstones that the
    // next probe anti-joins against zero matching rows.
    val staleTombstones =
      if (spark.catalog.tableExists(delTable(table)))
        Some(new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(spark.sessionState
            .sqlParser.parseTableIdentifier(delTable(table))).location))
      else None
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmpTable RENAME TO $table")
    // swap complete: drop the tombstone table AND its files (it is
    // external, so DROP alone would leave the directory behind)
    staleTombstones.foreach { dloc =>
      spark.sql(s"DROP TABLE ${delTable(table)}")
      dloc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(dloc, true)
    }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      props.map { case (k, v) => s"'$k'='$v'" }.mkString(",") + ")")
    val fs = oldLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(oldLoc, true)
  }

  /** Candidate near-dup pairs between a probe `batch` and the resident
    * index: (new_id, resident_id), distinct, any shared band. Only the
    * batch's band keys are computed and shuffled; the resident table
    * streams from its co-located buckets. Verification (exact Jaccard
    * on the candidate pairs) composes downstream exactly as with
    * [[Dedup.candidatePairs]]. */
  def probe(spark: SparkSession, table: String, batch: DataFrame,
      textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int): DataFrame = {
    checkParams(spark, table, "bands" -> bands,
      "rowsPerBand" -> rowsPerBand, "shingleK" -> shingleK)
    probeKeys(spark, table,
      Dedup.bandKeys(batch, textCol, idCol, bands, rowsPerBand, shingleK)
        .select(col("id").as("new_id"), foldedKey))
      .filter(col("id") =!= col("new_id"))
      .select(col("new_id"), col("id").as("resident_id"))
      .distinct()
  }

  /** [[probe]]'s key-agnostic form: join `probe` (bk + the caller's
    * columns) against the live resident rows on the folded band key —
    * the co-located bucket join, tombstones excluded. The caller
    * shapes the output (dedupe, verify, column names); resident
    * payload columns come through for verify-without-a-second-lookup
    * (the [[Multimodal]] dHash probe). */
  def probeKeys(spark: SparkSession, table: String,
      probe: DataFrame): DataFrame =
    liveRows(spark, table).join(probe, Seq("bk"))

  /** Live rows for a LITERAL key set — [[probeKeys]] when the probe
    * side is known at plan time (a retrieval query's terms, not a
    * batch's computed bands): the `isin` literal predicate on the
    * bucket column lets the scan PRUNE to the keys' buckets, so the
    * probe reads ≤ \|keys\| bucket files no matter how large the
    * resident corpus ([[graft.ops.SearchIndex]]'s read path).
    * Tombstones excluded like every live read. */
  def liveLiteralKeys(spark: SparkSession, table: String,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one literal key")
    liveRows(spark, table).filter(col("bk").isin(keys: _*))
  }
}
