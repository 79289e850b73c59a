package graft.ops

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.ops.StagedSwap.fsFor

/** On-disk LSH-bucketed ANN index: the storage layout that makes
  * multi-probe ANN IO-PRUNED at scale instead of recomputed per query.
  *
  * [[Similarity.topKNeighborsLshMultiProbe]] buckets the corpus on the
  * fly — correct, but at 100 TB the bucketing scan is the dominant
  * cost and it repeats for every query batch. This operator persists
  * the corpus PARTITIONED BY its hyperplane bucket
  * (`write.partitionBy("bucket")`, pre-repartitioned so each bucket is
  * exactly one file per generation), and a probe read is handed the
  * probed buckets' DIRECTORIES directly — no global partition
  * discovery (which would list all 2^planes directories, itself
  * O(corpus) under the planes ≈ log₂(n) budget), no post-scan filter;
  * the probe set also rides the plan as a `PartitionFilters` entry
  * (pinned by AnnIndexSpec). With `planes ≈ log₂(n /
  * targetBucketSize)` the per-query read volume is
  * (planes+1)·targetBucketSize rows regardless of corpus size.
  * `quantized = true` stores q203's max-abs int8 codes instead of the
  * raw vectors (4-8× smaller store; q203 measured the retrieval cost:
  * 49/50 truth neighbors survive), reconstructed inside the probe
  * scan's projection.
  *
  * The bucketing parameters (planes, dims, centering mean, vec_id
  * type) are persisted NEXT TO the data (`_graft_ann_meta`, an
  * underscore-prefixed file Spark's parquet reader ignores) and
  * rebuilt at query time, because the query side must hash with the
  * INDEX's statistics — in particular the corpus mean μ at WRITE time:
  * recomputing μ from a grown corpus would silently shift every plane
  * bias and probe the wrong buckets. Doubles round-trip through
  * `java.lang.Double.toString` / `parseDouble` (exact for all finite
  * doubles), so the rebuilt bucket expression is bit-identical to the
  * one that wrote the index. All metadata IO goes through the Hadoop
  * `FileSystem` resolved from the index path — the same API that moves
  * the data — so the module works unchanged on HDFS-like filesystems.
  *
  * ==Concurrency and crash contract==
  * SINGLE WRITER: at most one mutating call ([[write]]/[[append]]/
  * [[delete]]/[[compact]]) may run at a time against one index path —
  * there is no cross-process lock, coordination is the caller's job
  * (in a pipeline, a singleton maintenance task). Concurrent READS:
  * safe during [[append]] (it only adds files inside bucket
  * directories; a reader sees the old or the new file set, both
  * complete) but NOT during [[delete]]/[[compact]]/[[write]], whose
  * directory swaps have windows where a reader resolves a partial
  * layout — quiesce queries for those, the same operational rule as
  * any non-MVCC store rewrite. CRASH SAFETY: [[compact]] and the
  * rebuckets are [[StagedSwap]] whole-store swaps, [[delete]] is its
  * manifest-driven partition swap, and every entry point — readers
  * included — first runs [[recover]], that module's writer-side rule.
  *
  * Driver state: the probe-bucket collect is ≤ Q·(planes+1) short
  * strings — the parameter-bounded collect class (probe queries are
  * small by contract; the corpus never collects).
  */
object AnnIndex {

  private val MetaFile = "_graft_ann_meta"

  /** Bump on ANY change to the on-disk layout (partitioning, file
    * shape, stored columns) so stamped caches of built indexes (e.g.
    * ScaleSoak's) rebuild instead of silently reusing an old layout. */
  val LayoutVersion = 2

  final case class Meta(planes: Int, dims: Int, centered: Boolean,
      mu: Seq[Double], quantized: Boolean = false,
      vecIdType: String = "bigint",
      bands: Int = 0, planesPerBand: Int = 0,
      centIds: Seq[Long] = Seq.empty,
      centroids: Seq[Seq[Double]] = Seq.empty) {
    /** bands > 0 marks a [[writeBanded]] layout. */
    def banded: Boolean = bands > 0
    /** A persisted coarse quantizer marks a [[writeIvf]] layout. */
    def ivf: Boolean = centIds.nonEmpty
    /** The layout's partition columns — every maintenance rewrite must
      * preserve exactly these (a flat rewrite of a banded store would
      * destroy the band level). */
    def partCols: Seq[String] =
      if (banded) Seq("band", "bucket")
      else if (ivf) Seq("cell") else Seq("bucket")
    /** Within-store duplicate identity: a banded store holds one copy
      * per band BY DESIGN, so only (vec_id, band) duplicates are
      * redelivery artifacts; elsewhere vec_id alone is the identity. */
    def dedupKey: Seq[String] =
      if (banded) Seq("vec_id", "band") else Seq("vec_id")
    def layoutName: String =
      if (banded) "banded" else if (ivf) "IVF" else "flat"
    /** The meta file body, one `key=value` line per field; the banded
      * and IVF keys only for their layouts ([[readMeta]] defaults them,
      * as it does for metas written before they existed). */
    def render: String = StagedSwap.renderKv(Seq(
        "planes" -> planes.toString, "dims" -> dims.toString,
        "centered" -> centered.toString, "quantized" -> quantized.toString,
        "mu" -> mu.map(java.lang.Double.toString).mkString(","),
        "vecIdType" -> vecIdType) ++
      (if (banded) Seq("bands" -> bands.toString,
        "planesPerBand" -> planesPerBand.toString) else Nil) ++
      (if (ivf) Seq("centIds" -> centIds.mkString(","),
        "centroids" -> centroids.map(_.map(java.lang.Double.toString)
          .mkString(",")).mkString(";")) else Nil))
  }

  /** The unstaged initial build shared by the three writers: the
    * corpus in `meta`'s storage encoding, then the meta file. */
  private def build(corpus: DataFrame, path: String, meta: Meta): Unit = {
    encodeRows(corpus, meta)
      .write.mode("overwrite").partitionBy(meta.partCols: _*).parquet(path)
    StagedSwap.writeString(fsFor(path, corpus.sparkSession),
      new HPath(path, MetaFile), meta.render)
  }

  /** The max-abs int8 storage columns (`code`, `qscale`) for the
    * `embedding` column — q203's scheme over q112's storage layout:
    * `code_i = floor(x_i/scale·127 + 0.5)` as a TINYINT plus one
    * double `qscale` per row, so the dominant column shrinks 4-8× and
    * reconstruction (`code·qscale/127`) is an array expression inside
    * the probe scan's projection. Shared by every quantized layout. */
  private def quantCols: Seq[Column] = {
    val vd = Similarity.toDouble(col("embedding"))
    val scale = greatest(array_max(transform(vd, x => abs(x))), lit(1e-12))
    Seq(transform(vd, x => floor(x / scale * 127 + lit(0.5)).cast("byte"))
        .as("code"),
      scale.as("qscale"))
  }

  /** Reconstructed (quantized) or raw double vector, per `meta`. */
  private def storedValue(meta: Meta): Column =
    if (meta.quantized)
      transform(col("code"), c => c.cast("double") * col("qscale") / 127)
    else Similarity.toDouble(col("embedding"))

  private def indexRows(df: DataFrame, planes: Int, dims: Int,
      mu: Seq[Double], quantized: Boolean): DataFrame = {
    val bucket = concat(lit("b"),
      Similarity.bucketKey(col("embedding"), planes, dims, mu)).as("bucket")
    val rows =
      if (quantized) df.select(col("vec_id") +: (quantCols :+ bucket): _*)
      else df.select(col("vec_id"), col("embedding"), bucket)
    // co-locate each bucket on ONE task before partitionBy: without
    // this every write task emits a file into every bucket it touches —
    // O(tasks·2^planes) tiny files whose open/footer cost dominates the
    // probe read. After: exactly one file per bucket per generation.
    rows.repartition(col("bucket"))
  }

  /** Write `corpus` (vec_id, embedding) as a bucket-partitioned parquet
    * index at `path`, plus the bucketing metadata. `centered` uses the
    * exact corpus mean ([[Similarity.dimMeans]]) — the deployment
    * default for non-zero-mean embedding spaces (q201 measures why).
    * The initial build is NOT staged: a crash mid-write leaves a
    * partial directory with no meta file, which [[readMeta]] rejects —
    * rebuild by rerunning write (it overwrites). */
  def write(corpus: DataFrame, planes: Int, path: String,
      centered: Boolean = false, quantized: Boolean = false): Unit = {
    require(planes > 0 && planes <= 32, s"planes must be in [1,32], got $planes")
    recover(corpus.sparkSession, path)
    val dims = Similarity.embDims(corpus)
    val mu = if (centered) Similarity.dimMeans(corpus, dims)
      else Seq.empty[Double]
    // "b"-prefix the bucket key: a bare digit string ("0101") would be
    // read back as an INTEGER by partition-column type inference,
    // collapsing distinct bit-strings once planes outgrow a double's
    // exact-integer range and turning every bucket comparison into an
    // implicit cast. A non-numeric first char keeps the partition
    // column a string end to end.
    build(corpus, path, Meta(planes, dims, centered, mu, quantized,
      corpus.schema("vec_id").dataType.catalogString))
  }

  /** Banded (OR-construction) persisted index: `bands` independent
    * hash tables of `planesPerBand` planes each — the recall ladder's
    * best rung (q202: banded recovers neighbors a single 9-bit bucket
    * or its 1-bit flips miss, at a measured candidate-volume price).
    * Each corpus vector is stored ONCE PER BAND under two-level
    * partitioning `band=<b>/bucket=<key>` — the ×bands storage is the
    * classical banded-LSH tradeoff, bought deliberately for recall;
    * quantized layouts (q206) cut it back 4-8× if taken. Probe reads
    * are handed exactly Q·bands (band, bucket) directories, so the
    * per-query IO is bands·targetBucketSize rows regardless of corpus
    * size — the same pruning contract as [[topK]], one directory per
    * band instead of (planes+1) sibling flips. Plane indices per band
    * are `band·planesPerBand + 1 …` — identical to
    * [[Similarity.lshBandKeys]], so the from-scratch and persisted
    * banded schemes hash identically (AnnIndexSpec pins equality). */
  def writeBanded(corpus: DataFrame, bands: Int, planesPerBand: Int,
      path: String, centered: Boolean = false,
      quantized: Boolean = false): Unit = {
    require(bands > 0 && planesPerBand > 0 && bands * planesPerBand <= 32,
      s"bands*planesPerBand must be in [1,32], got $bands x $planesPerBand")
    recover(corpus.sparkSession, path)
    val dims = Similarity.embDims(corpus)
    val mu = if (centered) Similarity.dimMeans(corpus, dims)
      else Seq.empty[Double]
    // quantized: the ×bands storage tradeoff is where int8 codes pay
    // most — each of the `bands` copies shrinks 4-8×. Buckets are
    // computed from the ORIGINAL floats ([[write]]'s rule), codes
    // reconstruct inside the probe scan's projection.
    build(corpus, path, Meta(bands * planesPerBand, dims, centered, mu,
      quantized, corpus.schema("vec_id").dataType.catalogString,
      bands, planesPerBand))
  }

  /** The banded layout's stored rows — one copy per band under
    * (band, bucket), raw or int8-quantized — shared by [[writeBanded]]
    * and [[encodeRows]] so a banded delta is always encoded exactly as
    * the resident generation. Pre-repartitioned: one file per touched
    * (band, bucket) per generation. */
  private def bandedRows(df: DataFrame, bands: Int, planesPerBand: Int,
      dims: Int, mu: Seq[Double], quantized: Boolean): DataFrame = {
    val withStored =
      if (quantized)
        df.select(col("vec_id") +: (quantCols :+ col("embedding")): _*)
      else df.select(col("vec_id"), col("embedding"))
    val storedNames = if (quantized) Seq("code", "qscale")
      else Seq("embedding")
    withStored.select((col("vec_id") +: storedNames.map(col)) :+
        explode(array(bandStructs(col("embedding"), bands, planesPerBand,
          dims, mu): _*)).as("bk"): _*)
      .select((col("vec_id") +: storedNames.map(col)) :+
        col("bk.band").as("band") :+ col("bk.bucket").as("bucket"): _*)
      .repartition(col("band"), col("bucket"))
  }

  /** One (band, bucket) struct per band for a vector — the banded key
    * construction shared by [[writeBanded]] and [[topKBanded]]'s query
    * side (plane offsets exactly as [[Similarity.lshBandKeys]]). */
  private def bandStructs(vec: Column, bands: Int, planesPerBand: Int,
      dims: Int, mu: Seq[Double]): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat(lit("b"), Similarity.bucketKey(vec, planesPerBand, dims,
          mu, firstPlane = b * planesPerBand + 1)).as("bucket"))
    }

  /** Top-k over the banded index: each query probes its bucket in
    * EVERY band (Q·bands directories, known before the read), the
    * union of candidates is deduped by (q_id, vec_id), then scored
    * exactly as [[topK]]. Output schema identical to [[topK]]. */
  def topKBanded(spark: SparkSession, path: String, queries: DataFrame,
      k: Int): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(spark)
    require(k > 0, s"k must be positive, got $k")
    recover(spark, path)
    val meta = readMeta(path)
    require(meta.banded, s"$path is not a banded index (bands=0 in meta)")
    val qB = queries.select(col("q_id"),
      Similarity.toDouble(col("q_vec")).as("q"),
      explode(array(bandStructs(col("q_vec"), meta.bands,
        meta.planesPerBand, meta.dims, meta.mu): _*)).as("bk"))
    val probes = qB.select(col("q_id"), col("bk.band").as("band"),
      col("bk.bucket").as("bucket"))
    // the ONLY collect: ≤ Q·bands (band, bucket) pairs
    val probePairs = probes.select(col("band"), col("bucket")).distinct()
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val fs = fsFor(path, spark)
    val probedDirs = probePairs
      .map { case (b, key) => new HPath(path, s"band=$b/bucket=$key") }
      .filter(fs.exists(_)).map(_.toString)
    val qv = queries.select(col("q_id"),
      Similarity.toDouble(col("q_vec")).as("q"))
    if (probedDirs.isEmpty) {
      return qv.select(col("q_id"), lit(1).as("rank"),
        lit(null).cast(DataType.fromDDL(meta.vecIdType)).as("vec_id"),
        lit(0d).as("cos_sim")).limit(0)
    }
    val raw = spark.read.option("basePath", path).parquet(probedDirs: _*)
    val cand = raw.select(col("vec_id"), col("band"), col("bucket"))
      .join(broadcast(probes), Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val idx = raw
      .select(col("vec_id"), storedValue(meta).as("v"))
      .dropDuplicates("vec_id") // stored once per band; score once
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    cand.join(qv, "q_id").join(idx, "vec_id")
      .withColumn("cos", graft.functions.CosineSimilarity(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Persisted IVF index: the corpus partitioned into Voronoi cells of
    * a DETERMINISTIC coarse quantizer (the `nClusters` lowest-id
    * corpus vectors — [[Similarity.ivfTopKFixed]]'s rule), one
    * `cell=c<id>` directory per cluster, with the QUANTIZER ITSELF
    * persisted in the metadata file. That last part is the point:
    * assignment is data-dependent (unlike hyperplane hashing), so a
    * grown corpus must keep being assigned with the centroids that
    * placed the resident rows — [[append]] reads them back, and
    * recomputing them from the grown corpus would silently re-cell
    * everything. Each vector is stored ONCE (vs [[writeBanded]]'s
    * ×bands copies); a probe read is handed exactly the query set's
    * nProbe·Q cell directories, so per-query IO ≈ nProbe/nClusters of
    * the corpus regardless of query volume. Probe selection is
    * [[Similarity.ivfProbes]] — the same definition the from-scratch
    * path uses, so persisted and inline IVF cannot diverge
    * (AnnIndexIvfSpec pins equality; q219 gates the grown index
    * against a from-scratch DuckDB oracle). */
  def writeIvf(corpus: DataFrame, nClusters: Int, path: String,
      quantized: Boolean = false): Unit = {
    require(nClusters > 0, s"nClusters must be positive, got $nClusters")
    require({
        import org.apache.spark.sql.types._
        corpus.schema("vec_id").dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      },
      "IVF cluster ids are the centroid vectors' own vec_ids, so " +
        "vec_id must be an integral type; got " +
        corpus.schema("vec_id").dataType.catalogString)
    recover(corpus.sparkSession, path)
    val dims = Similarity.embDims(corpus)
    // the quantizer is nClusters rows — the bounded codebook collect
    // (same class as ivfTopKFixed's); cluster ids are the centroid
    // vectors' own vec_ids, in id order (widened to long: the meta
    // codec and every probe path carry cluster ids as longs, while the
    // stored vec_id column keeps the corpus's own type)
    val centRows = corpus.orderBy(col("vec_id")).limit(nClusters)
      .select(col("vec_id").cast("long"),
        Similarity.toDouble(col("embedding")).as("c"))
      .collect().sortBy(_.getLong(0))
    // centroid doubles round-trip via Double.toString/parseDouble
    // (exact), so an IVF append assigns with bit-identical centroids
    build(corpus, path, Meta(0, dims, centered = false, Seq.empty,
      quantized, corpus.schema("vec_id").dataType.catalogString,
      centIds = centRows.map(_.getLong(0)).toSeq,
      centroids = centRows.map(_.getSeq[Double](1)).toSeq))
  }

  /** The stored row for one IVF-indexed vector: cell partition key
    * from the persisted quantizer (nearest centroid, squared-
    * euclidean, ties to the lowest cluster id — the same
    * `nearest_centroid` kernel every IVF path shares). "c"-prefixed
    * for the same partition-type-inference reason as the LSH "b". */
  private def ivfRows(df: DataFrame, ids: Seq[Long],
      cvecs: Seq[Seq[Double]], quantized: Boolean = false): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    val stored: Seq[Column] =
      if (quantized) quantCols else Seq(col("embedding"))
    // cell assignment always from the ORIGINAL floats — quantization
    // must not move a vector across a Voronoi boundary
    df.select((col("vec_id") +: stored) :+
        concat(lit("c"), call_function("nearest_centroid",
          Similarity.toDouble(col("embedding")),
          typedLit(ids), typedLit(cvecs))).as("cell"): _*)
      .repartition(col("cell"))
  }

  /** Top-k over the persisted IVF index: each query's `nProbe`
    * nearest cells come from [[Similarity.ivfProbes]] over the
    * PERSISTED quantizer, the ≤ Q·nProbe cell set is collected
    * (parameter-bounded) and the scan is handed those directories
    * directly — the same zero-listing contract as [[topK]]. Scoring
    * and tie-breaking identical to every other ANN path: exact cosine,
    * rank by (cos desc, vec_id), round 6. */
  def topKIvf(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(spark)
    require(k > 0, s"k must be positive, got $k")
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    recover(spark, path)
    val meta = readMeta(path)
    require(meta.ivf, s"$path is not an IVF index (no persisted quantizer)")
    import spark.implicits._
    val cents = meta.centIds.zip(meta.centroids).toDF("cluster", "c")
    val probes = Similarity.ivfProbes(queries, cents, nProbe)
    // the ONLY collect: ≤ Q·nProbe cell ids
    val probeCells = probes.select(col("cluster")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val fs = fsFor(path, spark)
    val probedDirs = probeCells.map(c => new HPath(path, s"cell=c$c"))
      .filter(fs.exists(_)).map(_.toString)
    val qv = queries.select(col("q_id"),
      Similarity.toDouble(col("q_vec")).as("q"))
    if (probedDirs.isEmpty) {
      return qv.select(col("q_id"), lit(1).as("rank"),
        lit(null).cast(DataType.fromDDL(meta.vecIdType)).as("vec_id"),
        lit(0d).as("cos_sim")).limit(0)
    }
    val raw = spark.read.option("basePath", path).parquet(probedDirs: _*)
      .withColumn("cluster",
        regexp_replace(col("cell"), "^c", "").cast("long"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    // dedupe by (q_id, vec_id) then score: at-least-once appends can
    // leave duplicate rows in a cell (the topK redelivery rule)
    val cand = raw.select(col("vec_id"), col("cluster"))
      .join(broadcast(probes.select(col("q_id"), col("cluster"))),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val idx = raw
      .select(col("vec_id"), storedValue(meta).as("v"))
      .dropDuplicates("vec_id")
    cand.join(qv, "q_id").join(idx, "vec_id")
      .withColumn("cos", graft.functions.CosineSimilarity(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** Append `delta` (vec_id, embedding) to an existing index WITHOUT
    * touching the resident data — the ONE append entry point for every
    * layout: [[encodeRows]] dispatches on the persisted meta, so a
    * flat delta is hashed, a banded one exploded once per band, and an
    * IVF one assigned with the persisted centroids (q219/q221 gate the
    * IVF semantics). The delta is bucketed with the
    * INDEX's persisted planes/dims/μ — never statistics recomputed
    * from the grown corpus, which would silently shift every plane
    * bias and strand the resident rows in stale buckets — and written
    * `mode("append")` into the same partition scheme, so each delta
    * row lands as new files inside its bucket's directory. The
    * deployment shape for embedding deltas at 100 TB: only the delta
    * is hashed and written; existing bucket files are never read or
    * rewritten, and a probe read afterwards sees old and new rows
    * through the same partition filter. q205 gates the end-to-end
    * contract (half-written, half-appended index ≡ raw full table);
    * AnnIndexSpec pins the μ-stability semantics under `centered`. */
  def append(delta: DataFrame, path: String): Unit = {
    recover(delta.sparkSession, path)
    val meta = readMeta(path)
    encodeRows(delta, meta)
      .write.mode("append").partitionBy(meta.partCols: _*).parquet(path)
  }

  /** `df`'s rows in `meta`'s STORAGE encoding — the layout dispatch
    * every mutating path shares, so a delta is always encoded exactly
    * as the resident generation regardless of layout: flat LSH rows
    * ([[indexRows]]), one copy per band under (band, bucket)
    * ([[writeBanded]]'s construction), or quantizer-assigned cells
    * ([[ivfRows]]). Pre-repartitioned on the partition columns — one
    * file per touched partition per generation. */
  private def encodeRows(df: DataFrame, meta: Meta): DataFrame =
    if (meta.banded)
      bandedRows(df, meta.bands, meta.planesPerBand, meta.dims, meta.mu,
        meta.quantized)
    else if (meta.ivf)
      ivfRows(df, meta.centIds, meta.centroids, meta.quantized)
    else indexRows(df, meta.planes, meta.dims, meta.mu, meta.quantized)

  /** Each row's RELATIVE partition directory under `meta`'s layout —
    * one (vec_id, dir) row per stored copy (so a banded vector yields
    * `bands` rows), computed from the embedding with the index's
    * persisted statistics: the same key that placed the row, which is
    * what lets [[delete]] know its affected-directory set without
    * scanning the store. */
  private def storageDirs(rows: DataFrame, meta: Meta): DataFrame =
    if (meta.banded)
      rows.select(col("vec_id"),
          explode(array(bandStructs(col("embedding"), meta.bands,
            meta.planesPerBand, meta.dims, meta.mu): _*)).as("bk"))
        .select(col("vec_id"), concat(lit("band="), col("bk.band"),
          lit("/bucket="), col("bk.bucket")).as("dir"))
    else if (meta.ivf) {
      graft.functions.GraftExtensions.ensureRegistered(rows.sparkSession)
      rows.select(col("vec_id"), concat(lit("cell=c"),
        call_function("nearest_centroid",
          Similarity.toDouble(col("embedding")),
          typedLit(meta.centIds), typedLit(meta.centroids))).as("dir"))
    } else
      rows.select(col("vec_id"), concat(lit("bucket=b"),
        Similarity.bucketKey(col("embedding"), meta.planes, meta.dims,
          meta.mu)).as("dir"))

  /** Partition-pruned delete: remove `deletes` (vec_id, embedding)
    * from the index by rewriting ONLY the buckets they live in. The
    * bucket of each deleted row is recomputed from its embedding with
    * the index's persisted statistics — the same hash that placed it —
    * so the affected-bucket set is known WITHOUT scanning the store,
    * and every other bucket's files are never read, rewritten, or
    * touched (AnnIndexSpec pins byte-stable untouched buckets). The
    * 100 TB deletion reality (retention, right-to-be-forgotten) is a
    * delta-sized batch against an enormous store: work here is
    * ∝ |deletes|'s bucket footprint, not the corpus. The distinct
    * affected-bucket collect is the parameter-bounded driver state
    * (≤ |deletes| short strings, same class as the probe collect).
    * Buckets left empty by the delete are removed entirely.
    *
    * Crash shape: the rewritten buckets go through the
    * [[StagedSwap]] partition swap — entries are the RELATIVE
    * partition dirs, so one protocol serves all three layouts. Readers
    * must be quiesced for the swap window (object-level contract). */
  def delete(spark: SparkSession, deletes: DataFrame, path: String): Unit = {
    recover(spark, path)
    val meta = readMeta(path)
    val keyed = storageDirs(deletes, meta)
    val fs = fsFor(path, spark)
    val affected = keyed.select(col("dir")).distinct()
      .collect().map(_.getString(0)).toSeq
      .filter(d => fs.exists(new HPath(path, d)))
    if (affected.isEmpty) return
    val dirs = affected.map(d => s"$path/$d")
    StagedSwap.swapPartitions(fs, path, affected) { tmp =>
      spark.read.option("basePath", path).parquet(dirs: _*)
        .join(broadcast(keyed.select(col("vec_id")).distinct()),
          Seq("vec_id"), "left_anti")
        .repartition(meta.partCols.map(col): _*)
        .write.mode("overwrite").partitionBy(meta.partCols: _*).parquet(tmp)
    }
  }

  /** Rewrite the index so each bucket is ONE file again: every
    * [[append]] (or stream epoch) adds a file generation per touched
    * bucket, and after many epochs the probe read's cost shifts from
    * rows to file-open overhead. Compaction re-co-locates the buckets
    * (the same repartition-by-bucket the writer uses) and swaps the
    * result in through a [[StagedSwap]] whole-store swap, with the
    * meta file copied into the stage VERBATIM as its marker —
    * compaction must never re-derive μ. Readers must be quiesced for
    * the swap window (object-level contract). */
  def compact(spark: SparkSession, path: String): Unit = {
    recover(spark, path)
    val meta = readMeta(path)
    val fs = fsFor(path, spark)
    val body = StagedSwap.readString(fs, new HPath(path, MetaFile))
    StagedSwap.swap(fs, path, StagedSwap.Compacting, MetaFile, body) { tmp =>
      // dropDuplicates(meta.dedupKey): an at-least-once appendStream
      // redelivery leaves identical duplicate rows (same id ⇒ same
      // vector by contract); compaction is where their cost is
      // physically removed. The rewrite preserves the layout's OWN
      // partition columns — a banded store keeps its band= level, an
      // IVF store its cell= dirs.
      spark.read.parquet(path)
        .dropDuplicates(meta.dedupKey)
        .repartition(meta.partCols.map(col): _*)
        .write.mode("overwrite").partitionBy(meta.partCols: _*).parquet(tmp)
    }
  }

  // ------------------------------------------------------------------
  // Geometry migration: rewrite the index under NEW hashing parameters
  // — the lifecycle operator for when the corpus outgrows the geometry
  // chosen at write time. The class doc budgets planes ≈ log₂(n /
  // targetBucketSize): an index that grew 30× under appends has 30×
  // the rows per bucket and every probe pays it; before round 17 the
  // only path was a caller-side from-scratch rewrite FROM THE CORPUS.
  // rebucket instead re-derives the new layout from the STORED vectors
  // (one full read of the index — the compact cost class, scheduled,
  // never a tax on daily appends) and swaps it in through the
  // [[StagedSwap]] whole-store swap, the new meta as the stage's
  // marker ([[migrate]]). Quantized layouts re-hash (and
  // re-train) from the int8 RECONSTRUCTION — the store deliberately
  // does not keep the raw floats, so the migrated geometry is the
  // geometry of the reconstructed corpus (q203 measured the
  // reconstruction's retrieval fidelity; AnnIndexSpec pins migrated ≡
  // from-scratch over the reconstruction exactly). `centered` indexes
  // recompute μ from the resident corpus — the one moment statistics
  // may legitimately refresh, because every row is rewritten with the
  // new μ and the meta restamps it (appends between migrations must
  // still never touch μ — the q205 stability rule stands).
  // ------------------------------------------------------------------

  /** The index's logical corpus, one row per vec_id: (vec_id,
    * embedding) — banded layouts' per-band copies and at-least-once
    * append duplicates collapse here. The full-store read every
    * migration pays once. Non-quantized layouts keep the stored
    * column's ORIGINAL element type (a float corpus must re-store as
    * float: a double rewrite would type-mix the store against later
    * float-array appends and break the parquet read); quantized
    * layouts reconstruct to doubles and re-quantize — they never store
    * the vector column, so no mixing is possible. */
  private def residentCorpus(spark: SparkSession, path: String,
      meta: Meta): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id"),
        (if (meta.quantized) storedValue(meta) else col("embedding"))
          .as("embedding"))
      .dropDuplicates("vec_id")

  /** Re-encode `corpus` under the migrated `next` meta into a
    * `_rebucketing` stage and swap it in. */
  private def migrate(spark: SparkSession, path: String, corpus: DataFrame,
      next: Meta): Unit =
    StagedSwap.swap(fsFor(path, spark), path, StagedSwap.Rebucketing,
        MetaFile, next.render) { tmp =>
      encodeRows(corpus, next)
        .write.mode("overwrite").partitionBy(next.partCols: _*).parquet(tmp)
    }

  /** Re-plane a FLAT index to `newPlanes` hyperplanes: every stored
    * vector is re-hashed (with a fresh corpus mean when the index is
    * `centered`) and the store rewritten under the new `bucket=`
    * geometry; the meta restamps planes/μ so every later [[append]]/
    * [[topK]] hashes with the migrated parameters (a probe against a
    * silently-unmigrated store would find no directories and return
    * empty — q249 gates migrated-then-probed ≡ from-scratch at the new
    * planes). */
  def rebucket(spark: SparkSession, path: String, newPlanes: Int): Unit = {
    require(newPlanes > 0 && newPlanes <= 32,
      s"planes must be in [1,32], got $newPlanes")
    recover(spark, path)
    val meta = readMeta(path)
    require(!meta.banded && !meta.ivf,
      s"$path is a ${meta.layoutName} index — use " +
        s"${if (meta.banded) "rebucketBanded" else "rebucketIvf"}")
    val corpus = residentCorpus(spark, path, meta)
    val mu = if (meta.centered) Similarity.dimMeans(corpus, meta.dims)
      else Seq.empty[Double]
    migrate(spark, path, corpus, meta.copy(planes = newPlanes, mu = mu))
  }

  /** [[rebucket]] for the banded layout: each stored vector (ONE
    * logical copy — the per-band copies collapse on read) is
    * re-exploded into `newBands` × `newPlanesPerBand` band keys under
    * the two-level `band=/bucket=` geometry. */
  def rebucketBanded(spark: SparkSession, path: String, newBands: Int,
      newPlanesPerBand: Int): Unit = {
    require(newBands > 0 && newPlanesPerBand > 0 &&
        newBands * newPlanesPerBand <= 32,
      s"bands*planesPerBand must be in [1,32], got " +
        s"$newBands x $newPlanesPerBand")
    recover(spark, path)
    val meta = readMeta(path)
    require(meta.banded, s"$path is a ${meta.layoutName} index — use " +
      s"${if (meta.ivf) "rebucketIvf" else "rebucket"}")
    val corpus = residentCorpus(spark, path, meta)
    val mu = if (meta.centered) Similarity.dimMeans(corpus, meta.dims)
      else Seq.empty[Double]
    migrate(spark, path, corpus, meta.copy(
      planes = newBands * newPlanesPerBand, mu = mu, bands = newBands,
      planesPerBand = newPlanesPerBand))
  }

  /** [[rebucket]] for the IVF layout: RE-TRAINS the coarse quantizer
    * over the resident corpus — `newNClusters` cells from the
    * deterministic [[writeIvf]] rule (the lowest-vec_id resident
    * vectors), so a store grown far past its write-time geometry gets
    * cells sized to what it holds NOW — then re-assigns every stored
    * vector with the new quantizer and persists it in the meta.
    * Between migrations, appends keep using the PERSISTED quantizer
    * (the q219 stability rule); migration is the one sanctioned
    * re-training moment. */
  def rebucketIvf(spark: SparkSession, path: String,
      newNClusters: Int): Unit = {
    require(newNClusters > 0,
      s"nClusters must be positive, got $newNClusters")
    recover(spark, path)
    val meta = readMeta(path)
    require(meta.ivf, s"$path is a ${meta.layoutName} index — use " +
      s"${if (meta.banded) "rebucketBanded" else "rebucket"}")
    val corpus = residentCorpus(spark, path, meta)
    // the re-trained quantizer: the bounded codebook collect
    // ([[writeIvf]]'s class — newNClusters rows)
    val centRows = corpus.orderBy(col("vec_id")).limit(newNClusters)
      .select(col("vec_id").cast("long"),
        Similarity.toDouble(col("embedding")).as("c"))
      .collect().sortBy(_.getLong(0))
    migrate(spark, path, corpus, Meta(0, meta.dims, centered = false,
      Seq.empty, meta.quantized, meta.vecIdType,
      centIds = centRows.map(_.getLong(0)).toSeq,
      centroids = centRows.map(_.getSeq[Double](1)).toSeq))
  }

  /** The class-doc budget as code: planes ≈ log₂(n / targetBucketSize),
    * clamped to [1, 32]. */
  def recommendedPlanes(n: Long, targetBucketSize: Long): Int = {
    require(n > 0 && targetBucketSize > 0,
      s"need positive counts, got n=$n target=$targetBucketSize")
    math.max(1, math.min(32, math.round(
      math.log(n.toDouble / targetBucketSize) / math.log(2.0)).toInt))
  }

  /** Migrate when the corpus has outgrown (or undershot) the stamped
    * geometry — the policy knob that makes the migration schedule code,
    * not prose (the [[CcState.maybeCompact]] discipline applied to
    * geometry). Sizing comes from the store's own LOGICAL row count
    * (raw rows; banded divides by bands — at-least-once redelivery
    * duplicates inflate it slightly, fine for a sizing heuristic):
    *  - flat / banded: re-plane when the budgeted planes (per band)
    *    differ from the stamped ones by ≥ 1 — exactly one power-of-two
    *    step of per-bucket population drift;
    *  - IVF: re-train when the budgeted cell count reaches 2× (or
    *    falls to ≤ ½) the persisted quantizer's — the doubling
    *    discipline, because an IVF migration re-trains and every append
    *    in between must keep the persisted centroids.
    * Returns whether it migrated. Writer-side call — the single-writer
    * contract applies (the full-store rewrite runs on the compact
    * schedule, never per append). */
  def maybeRebucket(spark: SparkSession, path: String,
      targetBucketSize: Long): Boolean = {
    require(targetBucketSize > 0,
      s"targetBucketSize must be positive, got $targetBucketSize")
    recover(spark, path)
    val meta = readMeta(path)
    val raw = spark.read.parquet(path).count()
    if (meta.ivf) {
      val want = math.max(1L, raw / targetBucketSize)
      val have = meta.centIds.size.toLong
      if (want >= 2 * have || 2 * want <= have) {
        rebucketIvf(spark, path, math.min(want, Int.MaxValue.toLong).toInt)
        true
      } else false
    } else if (meta.banded) {
      val perBand = math.max(1L, raw / meta.bands)
      val want = math.min(recommendedPlanes(perBand, targetBucketSize),
        32 / meta.bands)
      if (want != meta.planesPerBand) {
        rebucketBanded(spark, path, meta.bands, want)
        true
      } else false
    } else {
      val want = recommendedPlanes(math.max(1L, raw), targetBucketSize)
      if (want != meta.planes) { rebucket(spark, path, want); true }
      else false
    }
  }

  /** Resolve the leftover state of an interrupted [[compact]],
    * [[delete]], or rebucket so every caller sees a complete layout —
    * [[StagedSwap.recover]], run at the head of every entry point. */
  def recover(spark: SparkSession, path: String): Unit =
    StagedSwap.recover(fsFor(path, spark), path, MetaFile)

  /** Maintain the index from a STREAM of (vec_id, embedding) rows:
    * each micro-batch rides [[append]] — bucketed with the index's
    * persisted statistics, resident files untouched — so the index
    * stays probe-ready while embeddings arrive continuously (the
    * ingest shape of a live embedding store; the batch path q205
    * gates is exactly what each epoch executes). Delivery is
    * AT-LEAST-ONCE: a crash between the parquet append and the
    * checkpoint commit replays the batch, leaving duplicate rows in
    * the touched buckets — [[topK]] dedupes the probed subset by
    * vec_id, so redelivery degrades read cost, never answers
    * (AnnIndexStreamSpec pins both convergence and the redelivery
    * case); [[compact]] physically removes the duplicates' cost. */
  def appendStream(stream: DataFrame, path: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => append(batch, path) }
      .start()

  /** Read the bucketing metadata the index was written with. Metas
    * written before `vecIdType` existed read back as bigint — the only
    * vec_id type those layouts ever stored. */
  def readMeta(path: String): Meta = {
    val kv = StagedSwap.readKv(fsFor(path, SparkSession.active),
      new HPath(path, MetaFile))
    Meta(kv("planes").toInt, kv("dims").toInt, kv("centered").toBoolean,
      if (kv("mu").isEmpty) Seq.empty
      else kv("mu").split(",").toSeq.map(java.lang.Double.parseDouble),
      kv.getOrElse("quantized", "false").toBoolean,
      kv.getOrElse("vecIdType", "bigint"),
      kv.getOrElse("bands", "0").toInt,
      kv.getOrElse("planesPerBand", "0").toInt,
      kv.get("centIds").filter(_.nonEmpty)
        .map(_.split(",").toSeq.map(java.lang.Long.parseLong(_)))
        .getOrElse(Seq.empty),
      kv.get("centroids").filter(_.nonEmpty)
        .map(_.split(";").toSeq.map(
          _.split(",").toSeq.map(java.lang.Double.parseDouble)))
        .getOrElse(Seq.empty))
  }

  /** Multi-probe top-k over the persisted index: query buckets are
    * rebuilt with the INDEX's planes/μ, the (planes+1)·Q probe set is
    * collected (parameter-bounded) into a literal partition filter, and
    * only the probed buckets' files are scanned. Result is identical to
    * [[Similarity.topKNeighborsLshMultiProbe]] over the same corpus and
    * parameters (AnnIndexSpec pins the equality); `multiProbe = false`
    * restricts to each query's own bucket (q32's rung).
    *
    * Output: (q_id, rank, vec_id, cos_sim), rank 1..k by
    * (cos desc, vec_id). */
  def topK(spark: SparkSession, path: String, queries: DataFrame, k: Int,
      multiProbe: Boolean = true): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(spark)
    require(k > 0, s"k must be positive, got $k")
    recover(spark, path)
    val meta = readMeta(path)
    // layout guard: a banded/IVF store has no single-level `bucket=`
    // dirs, so the flat probe would find none of its dirs and SILENTLY
    // return empty — fail loudly instead
    require(!meta.banded && !meta.ivf,
      s"$path is a ${meta.layoutName} index — use " +
        s"${if (meta.banded) "topKBanded" else "topKIvf"}, not topK")
    val qB = queries.select(col("q_id"),
      Similarity.toDouble(col("q_vec")).as("q"),
      Similarity.bucketKey(col("q_vec"), meta.planes, meta.dims, meta.mu)
        .as("raw_bucket"))
    // probe generation flips bits on the RAW bit string; the on-disk
    // partition key carries the "b" prefix (see write), so prefix after
    val probes =
      (if (multiProbe) qB.select(col("q_id"),
        explode(Similarity.probeBuckets(col("raw_bucket"), meta.planes))
          .as("raw_bucket"))
      else qB.select(col("q_id"), col("raw_bucket")))
        .select(col("q_id"), concat(lit("b"), col("raw_bucket")).as("bucket"))
    // the ONLY collect: ≤ Q·(planes+1) bucket strings. The probe set is
    // known BEFORE the read, so the scan is handed the probed bucket
    // directories directly (basePath keeps `bucket` a partition
    // column): no global partition discovery — a plain read of the
    // index root would LIST all 2^planes directories before pruning,
    // and under the planes ≈ log₂(n) budget that listing alone grows
    // linearly with the corpus. Directory existence is checked
    // driver-side (≤ probe-set-size metadata calls); a probe whose
    // bucket was never materialized reads nothing, exactly as pruning
    // would. The residual isin filter keeps the probe set visible to
    // the planner as a PartitionFilter (AnnIndexSpec pins it).
    val probeBucketList = probes.select(col("bucket")).distinct()
      .collect().map(_.getString(0)).toSeq
    val fs = fsFor(path, spark)
    val probedDirs = probeBucketList
      .map(b => new HPath(path, s"bucket=$b"))
      .filter(fs.exists(_)).map(_.toString)
    if (probedDirs.isEmpty) {
      // schema must match the normal path exactly even though the frame
      // is empty — vec_id's type comes from the index metadata, not a
      // hardcoded long (the corpus decides what vec_id is)
      return qB.select(col("q_id"), lit(1).as("rank"),
        lit(null).cast(DataType.fromDDL(meta.vecIdType)).as("vec_id"),
        lit(0d).as("cos_sim")).limit(0)
    }
    val raw = spark.read.option("basePath", path).parquet(probedDirs: _*)
      .filter(col("bucket").isin(probeBucketList: _*))
    val idx = raw.select(col("vec_id"), storedValue(meta).as("v"),
      col("bucket"))
    val cand = idx.select(col("vec_id"), col("bucket"))
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    // dedupe the scoring side by vec_id: [[appendStream]]'s foreachBatch
    // is at-least-once on crash-retry, so a redelivered batch can leave
    // DUPLICATE rows in a bucket — without this, the scoring join would
    // emit two identical (q_id, vec_id) rows and row_number would rank
    // both, corrupting top-k. The dedupe runs over the PROBED subset
    // only (≤ (planes+1)·Q·bucketSize rows by construction), so
    // redelivery degrades read cost, never correctness.
    cand
      .join(qB.select(col("q_id"), col("q")), "q_id")
      .join(idx.select(col("vec_id"), col("v")).dropDuplicates("vec_id"),
        "vec_id")
      .withColumn("cos", graft.functions.CosineSimilarity(col("q"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos_sim"))
  }
}
