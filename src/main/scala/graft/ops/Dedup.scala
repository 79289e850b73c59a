package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * Every transform is `DataFrame → DataFrame`, shuffle-bounded by its
  * group key, and free of driver-side loops — the same code path holds
  * at 100 TB:
  *
  *  - exact dedup: one hash-partitioned window over the content key;
  *  - MinHash/LSH: O(n·H) signature computation per row (codegen'd
  *    higher-order array functions, no UDFs), then candidate PAIRS come
  *    from equi-joins on band keys — never an all-pairs O(n²) product;
  *  - SimHash: per-row 16-bit signature via md5 hex-digit bit
  *    arithmetic, near-dup distance = `bit_count(xor)`;
  *  - fingerprint: canonical content key (sorted distinct tokens) for
  *    order/duplication-insensitive clustering.
  *
  * Hashing defaults to md5 everywhere, deterministic and reproducible
  * across engines (the DuckDB oracle recomputes identical values);
  * [[bandKeys]] additionally offers a production `xxhash64` family
  * whose signatures only this engine can recompute (spec-gated, never
  * oracle-gated).
  */
object Dedup {

  /** Tokenize on a literal delimiter (default: single space, the
    * corpus convention). Spark's `split` takes a Java REGEX, so the
    * delimiter is `Pattern.quote`d — a `.` or `|` delimiter splits
    * literally, matching the oracle's literal `string_split`. */
  def words(text: Column, delim: String = " "): Column =
    split(text, java.util.regex.Pattern.quote(delim))

  /** Ensure CPU-bound per-row work is spread across the cluster: a small
    * input (one parquet file → one task) would otherwise hash on a
    * single core. No-op when the scan already has enough splits — at
    * real scale the input parallelism dominates and no shuffle is added.
    * Partition counts come from the logical plan's leaves (file-scan
    * split math, LogicalRDD/cached partitioning) so the common paths
    * skip the `df.rdd` plan conversion; a leaf the estimator doesn't
    * recognize falls back to the accurate physical count rather than
    * guessing "already spread". */
  def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    if (underSpread(df)) df.repartition(parts) else df
  }

  /** The [[spread]] decision alone: true when `df`'s leaves have fewer
    * splits than the session's shuffle partitions (the one-file-fixture
    * serialization case). Exposed so callers that prefer a KEYED
    * repartition when spreading (keyless round-robin pays a local
    * pre-sort of the rows — costly on blob payloads; guide §2.5) can
    * reuse the estimator without the round-robin default. */
  private[ops] def underSpread(df: DataFrame): Boolean = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val known: Seq[Option[Int]] = df.queryExecution.logical.collectLeaves().map {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        Some(r.rdd.getNumPartitions)
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(1) // driver-local rows: always worth spreading
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        Some(m.cachedPlan.outputPartitioning.numPartitions)
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        rel.relation match {
          case fsRel: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            // same split rule the scan planner applies
            val bytes = fsRel.location.sizeInBytes
            val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
            Some(math.max(1L, bytes / math.max(1L, maxSplit)).toInt)
          case _ => None
        }
      case _ => None
    }
    val leafParts: Seq[Int] =
      if (known.nonEmpty && known.forall(_.isDefined)) known.flatten
      else Seq(df.rdd.getNumPartitions) // unknown source: pay one conversion
    leafParts.max < parts
  }

  // ------------------------------------------------------------ exact
  /** Exact dedup on a content hash: marks each doc with its content key
    * and whether it's the canonical (minimum-id) copy. Single shuffle on
    * the content key. */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_key")).orderBy(col(idCol).asc)
    docs
      .withColumn("content_key", md5(col(textCol)))
      .withColumn("is_canonical", row_number().over(w) === 1)
  }

  /** Incremental exact dedup — the form a CONTINUOUSLY-INGESTED corpus
    * needs: dedupe each arriving batch against everything already
    * accepted without re-scanning history. `seen` is the accumulated
    * state table of content keys (one row per distinct `content_key`);
    * the batch deduplicates internally (min-id canonical, same rule as
    * [[exactDedup]]), anti-joins the state, and returns
    * `(fresh, seenNext)`: the genuinely new canonical docs and the
    * grown state.
    *
    * Scale shape: both the in-batch window and the anti-join key on
    * `content_key`, so cost ∝ batch size + matched keys — never the
    * corpus. In production the state table lives bucketed by
    * `content_key` ([[graft.sink.BucketedParquetIndex]] discipline) so
    * the anti-join is co-located and shuffle-free; replaying a batch is
    * idempotent (its keys are all in `seen`, so `fresh` is empty) —
    * at-least-once delivery upstream needs nothing extra.
    */
  def incrementalExactDedup(batch: DataFrame, seen: DataFrame,
      textCol: String, idCol: String): (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("content_key")).orderBy(col(idCol).asc)
    val canonical = batch
      .withColumn("content_key", md5(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fresh = canonical
      .join(seen.select(col("content_key")), Seq("content_key"), "left_anti")
    val seenNext = seen.select(col("content_key"))
      .union(fresh.select(col("content_key")))
    (fresh, seenNext)
  }

  /** Passage-level exact dedup (the CCNet discipline: drop REPEATED
    * passages — boilerplate, headers, licence blocks — while keeping
    * the documents that carry them). Docs chunk into fixed
    * `passageTokens`-word windows ([[TextAnalysis.chunk]], stride =
    * window, per-row and shuffle-free), then one window function keyed
    * on the passage text marks the globally-first occurrence (ties
    * broken by (doc, chunk) — fully deterministic), and a per-doc
    * rollup reports survival: (idCol, n_passages, n_kept).
    *
    * Scale shape: two shuffles, both keyed — one wide on passage text
    * (at 100 TB hash the passage to a 128-bit key first; same plan,
    * narrower rows), one on doc id whose input is already ∝ passages.
    * No driver state, no skew hazard beyond a degenerate all-equal
    * corpus (the boilerplate key itself is the hot key — cap or salt
    * as [[graft.ops.Skew]] documents if one passage dominates). */
  def passageDedupStats(docs: DataFrame, textCol: String, idCol: String,
      passageTokens: Int): DataFrame = {
    val w = Window.partitionBy(col("chunk_text"))
      .orderBy(col(idCol).asc, col("chunk_id").asc)
    TextAnalysis.chunk(docs, textCol, idCol, passageTokens, 0)
      .withColumn("__first", row_number().over(w) === 1)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("__first"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Incremental [[passageDedupStats]] — passage-level dedup for a
    * CONTINUOUSLY-INGESTED corpus, mirroring [[incrementalExactDedup]]:
    * each arriving batch chunks per-row, dedups its own passages
    * (first occurrence by (doc, chunk) — same rule as the batch op),
    * anti-joins the accumulated passage-key state, and returns
    * `(fresh, seenNext)`: the genuinely new passages (with their
    * originating doc/chunk) and the grown state.
    *
    * Scale shape: chunking is per-row; the window and anti-join both
    * key on the md5 passage key, so per-batch cost ∝ batch passages +
    * matched keys, never the corpus. State is one row per distinct
    * passage — bucketed by `passage_key` on disk, the anti-join is
    * co-located and shuffle-free. Replay is idempotent (replayed keys
    * are all in `seen`, so `fresh` is empty). */
  def incrementalPassageDedup(batch: DataFrame, seen: DataFrame,
      textCol: String, idCol: String, passageTokens: Int)
      : (DataFrame, DataFrame) = {
    val w = Window.partitionBy(col("passage_key"))
      .orderBy(col(idCol).asc, col("chunk_id").asc)
    val fresh = TextAnalysis.chunk(batch, textCol, idCol, passageTokens, 0)
      .withColumn("passage_key", md5(col("chunk_text")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seen.select(col("passage_key")), Seq("passage_key"), "left_anti")
    val seenNext = seen.select(col("passage_key"))
      .union(fresh.select(col("passage_key")))
    (fresh, seenNext)
  }

  /** Boilerplate-passage detection (the C4/CCNet template filter):
    * a passage whose text recurs in >= `minDocs` DISTINCT documents is
    * boilerplate — headers, licence blocks, navigation chrome — and
    * documents dominated by such passages are template pages, not
    * prose. Docs chunk into fixed `passageTokens`-word windows
    * ([[TextAnalysis.chunk]], stride = window, per-row and
    * shuffle-free); one aggregation keyed on the passage text computes
    * its document frequency; a join back on the same key flags each
    * chunk; a per-doc rollup reports `(idCol, n_passages, n_boiler,
    * boiler_frac)` — the score a keep/drop policy thresholds on.
    *
    * Scale shape: two shuffles on the passage text (at 100 TB hash the
    * passage to a 128-bit key first — same plan, narrower exchange
    * rows) and one on doc id. The DF aggregate partial-aggregates
    * map-side; the flag join is equi-keyed on the same column the
    * aggregate just shuffled on, so AQE reuses the exchange. The one
    * true hot key IS the boilerplate passage itself — its DF row is a
    * single long, and the flag join fans it out read-only, so no salt
    * is needed. */
  def boilerplateStats(docs: DataFrame, textCol: String, idCol: String,
      passageTokens: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val chunks = TextAnalysis.chunk(docs, textCol, idCol, passageTokens, 0)
      .select(col(idCol), col("chunk_text"))
    val docFreq = chunks
      .groupBy(col("chunk_text"))
      .agg(countDistinct(col(idCol)).as("__df"))
    chunks.join(docFreq, Seq("chunk_text"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("__df") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        round(col("n_boiler").cast("double") / col("n_passages"), 6))
  }

  // ------------------------------------------------------ fingerprint
  /** Order- and multiplicity-insensitive content fingerprint: md5 of the
    * sorted distinct token set. Docs with the same token set collide. */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(words(text))), " "))

  /** Fingerprint clusters of size > 1: (fingerprint, cluster_size,
    * canonical_doc = min id). */
  def fingerprintClusters(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .groupBy(fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("cluster_size"), min(col(idCol)).as("canonical_doc"))
      .filter(col("cluster_size") > 1)

  // --------------------------------------------------------- winnowing
  /** Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the classic
    * rolling-hash document-fingerprinting algorithm): hash every
    * character k-gram, then keep the MINIMUM hash of each w-long window
    * of consecutive k-gram hashes. Any sufficiently long textual match
    * between two documents is guaranteed to share a fingerprint. The
    * k-gram hash is the same md5-prefix integer the minhash path uses,
    * so the oracle reproduces it exactly.
    *
    * All columns passed in must be plain attributes (lambda re-eval
    * trap); each step below is staged as its own projection. */
  def gramHashes(text: Column, k: Int): Column = {
    val n = length(text) - (k - 1)
    when(n >= 1,
      transform(sequence(lit(1), greatest(n, lit(1))),
        i => conv(substring(md5(text.substr(i, lit(k))), 1, 12), 16, 10)
          .cast("long")))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Per-window minima over a MATERIALIZED hash-array column. Fewer
    * hashes than `w` → one window over them all (standard edge). */
  def winnowMins(hs: Column, w: Int): Column = {
    val m = size(hs)
    when(m === 0, array().cast("array<bigint>"))
      .when(m <= w, array(array_min(hs)))
      .otherwise(transform(sequence(lit(0), m - w),
        j => array_min(transform(sequence(j + 1, j + w),
          x => element_at(hs, x)))))
  }

  /** Doc-level winnowing summary: (id, fp_count, winnow_fp) where
    * winnow_fp = md5 of the sorted distinct window minima — equal
    * fingerprints ⇔ identical winnow sketch. For overlap SEARCH keep
    * the exploded (id, fingerprint) pairs instead and equi-join them.
    *
    * Runs through the fused native kernel
    * ([[graft.functions.WinnowFp]] — one md5 per k-gram, one pass,
    * no per-window array allocation); [[gramHashes]]/[[winnowMins]]
    * remain as the readable composed form the spec cross-checks the
    * kernel against. */
  def winnowFingerprint(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(docs.sparkSession)
    spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol),
        call_function("winnow_fp", col(textCol), lit(k), lit(w)).as("wf"))
      .select(col(idCol),
        col("wf.fp_count").as("fp_count"),
        col("wf.winnow_fp").as("winnow_fp"))
  }

  /** Winnow overlap search: pairs of docs sharing at least `minShared`
    * winnow fingerprints — the substring-level (word-order-sensitive)
    * overlap detector the summary digest can't provide, since partial
    * plagiarism shares SOME minima without equal sketches. Shape:
    * explode per-doc distinct minima, equi-join on the fingerprint,
    * count per pair — candidates scale with fingerprint co-occurrence,
    * never all-pairs (cap hot fingerprints like [[candidatePairs]] when
    * boilerplate storms appear). */
  def winnowOverlapPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int, w: Int, minShared: Int, maxDocsPerFp: Int): DataFrame = {
    graft.functions.GraftExtensions.ensureRegistered(docs.sparkSession)
    val fps = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        explode(call_function("winnow_mins", col(textCol), lit(k), lit(w)))
          .as("fp"))
    // stop-gram discipline: a fingerprint shared by hundreds of docs is
    // boilerplate, carries no overlap signal, and alone contributes
    // O(docs²) join rows — drop it before the self-join (same cap
    // rationale as [[candidatePairs]]'s maxBucket). The count runs in
    // the partitioning the join needs anyway.
    val w2 = Window.partitionBy(col("fp"))
    val rare = fps
      .withColumn("__fp_n", count(lit(1)).over(w2))
      .filter(col("__fp_n") <= maxDocsPerFp)
      .drop("__fp_n")
    rare.select(col("fp"), col("id").as("id_a"))
      .join(rare.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The composed (HOF) form of [[winnowFingerprint]] — kept as the
    * executable specification of the kernel. */
  def winnowFingerprintComposed(docs: DataFrame, textCol: String,
      idCol: String, k: Int, w: Int): DataFrame =
    spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), gramHashes(col(textCol), k).as("hs"))
      .select(col(idCol), winnowMins(col("hs"), w).as("wins"))
      .select(col(idCol),
        array_sort(array_distinct(col("wins"))).as("fps"))
      .select(col(idCol),
        size(col("fps")).cast("long").as("fp_count"),
        when(size(col("fps")) > 0,
          md5(array_join(transform(col("fps"), _.cast("string")), ",")))
          .as("winnow_fp"))

  // ---------------------------------------------------------- minhash
  /** Word `k`-shingles from a MATERIALIZED words-array column
    * (consecutive token n-grams). `ws` must be a plain column/attribute:
    * passing an expression like `split(text)` here would re-evaluate it
    * per array ELEMENT inside the lambda — O(words²) per row.
    * Guarded: `sequence(1, n)` REVERSES when n < 1, so short docs map to
    * an explicit empty array. */
  def shinglesOfWords(ws: Column, k: Int): Column = {
    val n = size(ws) - (k - 1)
    when(n >= 1,
      transform(sequence(lit(1), greatest(n, lit(1))),
        i => concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Convenience for small/test inputs; for bulk use stage `words` as
    * its own projection first (see [[bandKeys]]). */
  def shingles(text: Column, k: Int): Column = shinglesOfWords(words(text), k)

  /** Per-shingle hash pair for the Carter-Wegman MinHash family: ONE
    * md5 per shingle, split into two 48-bit halves `(h1, h2)`; the i-th
    * hash function is then `h1 + i·h2` (exact in 53 bits — no overflow,
    * no modulus needed). 16 hash functions cost 16 integer FMAs instead
    * of 16 digests — ~an order of magnitude less CPU per shingle, same
    * shape at any scale. */
  def shingleHashPairs(shinglesCol: Column): Column =
    transform(shinglesCol, s => {
      val d = md5(s)
      array(
        conv(substring(d, 1, 12), 16, 10).cast("long"),
        conv(substring(d, 13, 12), 16, 10).cast("long"))
    })

  /** MinHash i: min over shingles of `h1 + i·h2`. */
  def minhash(hashPairsCol: Column, i: Int): Column =
    array_min(transform(hashPairsCol,
      p => element_at(p, 1) + lit(i.toLong) * element_at(p, 2)))

  /** Banded LSH keys: `bands` keys per doc, each hashing `rowsPerBand`
    * consecutive minhashes. Two docs sharing any band key are candidate
    * near-dups. Output: (id, band, band_key) — `bands × n` rows.
    *
    * `hashFamily`: "md5" (default — the DuckDB oracle recomputes
    * identical values) or "xxhash64" (seeded XXH64, no digest
    * allocation — the production choice when nothing external needs to
    * reproduce the signatures; same banding behavior, spec-gated). */
  def bandKeys(docs: DataFrame, textCol: String, idCol: String,
      bands: Int, rowsPerBand: Int, shingleK: Int = 3,
      hashFamily: String = "md5"): DataFrame = {
    // one fused primitive pass per row (native minhash_sig expression);
    // see graft.functions.MinhashSig for why HOFs don't cut it here
    graft.functions.GraftExtensions.ensureRegistered(docs.sparkSession)
    val withHashes = spread(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), words(col(textCol)).as("ws"))
      .select(col("id"),
        call_function("minhash_sig", col("ws"),
          lit(shingleK), lit(bands * rowsPerBand), lit(hashFamily)).as("sig"))
      .filter(col("sig").isNotNull)
    val sigs = (0 until bands * rowsPerBand)
      .map(h => element_at(col("sig"), h + 1).as(s"mh$h"))
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => col(s"mh${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", parts: _*)).as("band_key")).as(s"b$b")
    }
    withHashes
      .select(col("id") +: sigs: _*)
      .select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs = equi-join on (band, band_key), id_a < id_b,
    * distinct. The join shuffles on the band key — skew only when many
    * docs share a band (i.e., true near-dup storms); never all-pairs.
    *
    * `maxBucket` caps the quadratic blow-up a hot bucket causes at
    * scale: a band key shared by B docs emits B² join rows, and one
    * boilerplate-storm bucket (empty docs, licence headers, templated
    * spam) can dominate the whole job. Buckets over the cap are
    * DROPPED, which is the standard production LSH discipline — their
    * members are exact or near-exact duplicates that the cheap exact
    * pass ([[exactDedup]] / [[fingerprintClusters]]) already catches,
    * and a storm's pair list is operationally useless. The count runs
    * in the same partitioning the self-join needs, so the cap costs no
    * extra shuffle of the big side. */
  def candidatePairs(bandKeysDf: DataFrame,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val keys =
      if (maxBucket == Int.MaxValue) bandKeysDf
      else {
        val w = Window.partitionBy(col("band"), col("band_key"))
        bandKeysDf
          .withColumn("__bucket_n", count(lit(1)).over(w))
          .filter(col("__bucket_n") <= maxBucket)
          .drop("__bucket_n")
      }
    val a = keys.select(col("band"), col("band_key"), col("id").as("id_a"))
    val b = keys.select(col("band"), col("band_key"), col("id").as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Verify candidate pairs against a `(jid, toks)` set table with
    * exact Jaccard; keeps pairs ≥ `threshold`. Two hash joins keyed on
    * doc id — candidate volume, not corpus size, drives the cost. */
  private def verifySets(pairs: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(sets.withColumnRenamed("toks", "toks_a"), col("id_a") === col("jid"))
      .drop("jid")
      .join(sets.withColumnRenamed("toks", "toks_b"), col("id_b") === col("jid"))
      .withColumn("jaccard",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Verify candidate pairs with exact ASYMMETRIC containment (Broder):
    * `contain_ab = |A∩B| / |A|` and the reverse. Containment catches
    * what Jaccard structurally can't: a short document quoted whole
    * inside a long one scores `contain_ab ≈ 1` while Jaccard stays near
    * `|A|/|B|` — wrapper pages, quote posts, and boilerplate-plus-
    * payload docs all live there. A pair survives when EITHER direction
    * clears `threshold` (containment ≥ Jaccard always, so this returns
    * a superset of the Jaccard verify at the same threshold). Same
    * keyed-join shape and cost as [[jaccardVerify]]: work ∝ candidate
    * pairs, never corpus². */
  def containmentVerify(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, threshold: Double): DataFrame = {
    // spread() for the same reason as [[jaccardVerify]]: the set build
    // feeds both join sides, and an unsplit scan tokenizes on one task
    val sets = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("jid"),
        array_distinct(words(col(textCol))).as("toks"))
    pairs
      .join(sets.withColumnRenamed("toks", "toks_a"), col("id_a") === col("jid"))
      .drop("jid")
      .join(sets.withColumnRenamed("toks", "toks_b"), col("id_b") === col("jid"))
      .withColumn("__inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("double"))
      .withColumn("contain_ab", col("__inter") / size(col("toks_a")))
      .withColumn("contain_ba", col("__inter") / size(col("toks_b")))
      .filter(greatest(col("contain_ab"), col("contain_ba")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("contain_ab"), 4).as("contain_ab"),
        round(col("contain_ba"), 4).as("contain_ba"))
  }

  /** Verify candidate pairs with exact token-set Jaccard. spread() the
    * token-set build: it feeds BOTH join sides as separate plan
    * subtrees, so an unsplit scan would tokenize the whole corpus twice
    * on one task each (no-op at real scale — see [[spread]]). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, threshold: Double): DataFrame =
    verifySets(pairs,
      spread(docs.select(col(idCol), col(textCol)))
        .select(col(idCol).as("jid"),
          array_distinct(words(col(textCol))).as("toks")),
      threshold)

  /** Distinct word n-gram sets: the set representation behind n-gram
    * Jaccard similarity (bigram sets catch word-order edits that
    * unigram sets are blind to). Staged projection, lambda-safe. */
  def ngramSets(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame =
    docs.select(col(idCol).as("jid"), words(col(textCol)).as("__ws"))
      .select(col("jid"),
        array_distinct(shinglesOfWords(col("__ws"), n)).as("toks"))

  /** Verify candidate pairs with exact n-gram Jaccard (distinct word
    * n-gram sets instead of unigram token sets). spread() as in
    * [[jaccardVerify]] — the shingle build is the heavy per-row work. */
  def ngramJaccardVerify(pairs: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, n: Int, threshold: Double): DataFrame =
    verifySets(pairs,
      ngramSets(spread(docs.select(col(idCol), col(textCol))),
        textCol, idCol, n),
      threshold)

  /** Benchmark decontamination (the GPT-3/Llama discipline): count, per
    * training document, how many distinct word `n`-grams it shares with
    * an evaluation corpus — documents with any overlap are quarantined
    * before training so benchmark answers can't leak into the model.
    *
    * Shape at 100 TB: the training side is one keyed explode of
    * distinct n-grams (never materialized whole); the benchmark side is
    * an eval suite — thousands of documents, bounded by construction —
    * so its distinct-gram set is broadcast and the join is map-side
    * with ZERO shuffle of the training corpus. Set
    * `broadcastBench = false` if the eval corpus ever outgrows the
    * broadcast threshold; the join then degrades gracefully to one
    * keyed shuffle on the gram. Returns (idCol, shared_grams) for
    * contaminated docs only; anti-join against it to get the clean set.
    */
  def decontaminate(train: DataFrame, bench: DataFrame, textCol: String,
      idCol: String, n: Int, broadcastBench: Boolean = true): DataFrame = {
    def grams(df: DataFrame, cols: Column*): DataFrame =
      df.select((cols :+ words(col(textCol)).as("__ws")): _*)
        .select((cols :+
          explode(array_distinct(shinglesOfWords(col("__ws"), n)))
            .as("__gram")): _*)
    val benchG = grams(bench).distinct()
    val trainG = grams(train, col(idCol))
    trainG.join(if (broadcastBench) broadcast(benchG) else benchG, "__gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("shared_grams"))
  }

  /** Edit-distance verification of candidate pairs: the third classic
    * near-dup verify metric (token Jaccard sees reorders, cosine sees
    * topic drift, Levenshtein sees CHARACTER-level edits — the right
    * check for titles, URLs, and template-stamped boilerplate).
    *
    * Uses Spark's thresholded `levenshtein(l, r, maxDist)`: the banded
    * O(len·maxDist) dynamic program that bails out (returns -1) the
    * moment the distance provably exceeds the bound — on long documents
    * that is the difference between O(L·d) and O(L²) per pair. Cost is
    * ∝ candidate count (feed it LSH candidates, never a cross join).
    */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame,
      textCol: String, idCol: String, maxDist: Int): DataFrame = {
    val a = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val b = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).cast("long")
          .as("edit_dist"))
      .filter(col("edit_dist") >= 0)
  }

  /** Exact set-similarity join by prefix filtering (AllPairs/PPJoin
    * family — Bayardo et al. WWW'07): order every set by ascending
    * global token frequency (rarest first), keep only the first
    * `|s| − ⌈t·|s|⌉ + 1` tokens as the prefix, and generate candidates
    * by equi-joining on prefix tokens. Any pair with Jaccard ≥ t shares
    * at least one prefix token, so verifying candidates with exact
    * Jaccard returns EXACTLY the brute-force answer — no
    * approximation, unlike MinHash banding.
    *
    * Shape: token-frequency groupBy, re-sort per set, prefix explode,
    * equi-join on token, verify — all shuffles keyed, never |n|².
    * Selectivity depends on the corpus: on natural text (Zipfian vocab)
    * prefixes are rare tokens and candidates collapse; on a tiny-vocab
    * corpus every "rare" token is still shared widely and MinHash
    * banding ([[bandKeys]]) is the better tool. Prefer this when the
    * answer must be exact; prefer LSH when approximate recall at lower
    * cost is acceptable. */
  def prefixFilterJaccardJoin(docs: DataFrame, textCol: String,
      idCol: String, n: Int, threshold: Double): DataFrame = {
    val sets = spread(ngramSets(docs, textCol, idCol, n))
    val toks = sets.select(col("jid"), explode(col("toks")).as("tok"))
    // token frequency as a window count — one token-keyed exchange of
    // the exploded table instead of aggregate + join back (two moves of
    // the same rows at scale); see [[prefixFilterPairs]]
    // rebuild each set sorted rarest-first: struct sort on (freq, tok)
    val ordered = toks
      .withColumn("freq", count(lit(1)).over(Window.partitionBy(col("tok"))))
      .groupBy(col("jid"))
      .agg(sort_array(collect_list(struct(col("freq"), col("tok")))).as("sorted"))
      .select(col("jid"), transform(col("sorted"), _.getField("tok")).as("og"))
    // ceil(t·|s| − ε): float noise can make an exact product (0.4×5)
    // land a hair ABOVE its integer and ceil one too high — shortening
    // the prefix and silently dropping true pairs. The ε errs toward a
    // LONGER prefix, which only costs candidates, never correctness.
    val prefixes = ordered.select(col("jid"),
      explode(slice(col("og"), lit(1),
        greatest(lit(1),
          size(col("og")) -
            ceil(lit(threshold) * size(col("og")) - lit(1e-9)).cast("int") + 1)))
        .as("tok"))
    val cands = prefixes.select(col("tok"), col("jid").as("id_a"))
      .join(prefixes.select(col("tok"), col("jid").as("id_b")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    verifySets(cands, sets, threshold)
  }

  // ----------------------------------------------- connected components
  /** Connected components over an undirected edge list `(id_a, id_b)` —
    * the clustering step after near-dup verification, when keep-policy
    * decisions need whole clusters (transitive near-dups) rather than
    * the greedy pair drop of q39.
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): the
    * state is the EDGE SET itself, repeatedly rewritten toward a forest
    * of stars whose roots are the component minima.
    *
    *  - large-star (per node u over its undirected neighborhood):
    *    attach every neighbor larger than u to the minimum of
    *    N(u) ∪ {u} — long chains collapse by doubling reach;
    *  - small-star (per node u over its smaller neighbors): attach
    *    them all, and u, to their minimum — multi-root leaves merge.
    *
    * Both phases are one keyed aggregation + one co-keyed join over the
    * current edge set; no label table is carried, so work per round is
    * proportional to the surviving edges (which contract toward one per
    * non-root node) rather than to the node count. Rounds needed are
    * logarithmic in component diameter. The driver sees only per-round
    * counts, never data.
    *
    * Iterative-join traps (both documented the hard way): each round
    * `localCheckpoint`s to truncate lineage AND rebuilds the frame from
    * the checkpointed RDD, because localCheckpoint preserves the child
    * plan's size statistics and self-referential rounds square them
    * into BigIntegers that hang the driver (observed: minutes inside
    * BigInteger.multiplyToomCook3 by round ~14). A fresh LogicalRDD
    * resets the estimate each round.
    *
    * Small-graph fast path: when the deduplicated edge set fits under
    * `maxDriverEdges` (a BOUNDED collect), the components solve in one
    * union-find pass on the driver instead of paying several
    * distributed rounds of fixed scheduling cost. Near-dup
    * verification typically leaves edge sets orders of magnitude
    * smaller than the corpus, so this is the common case even at
    * 100 TB input; edge sets above the cap run the contraction loop.
    * Pass `maxDriverEdges = 0` to force the distributed path (the
    * random-graph spec gates both paths against the same union-find
    * reference).
    *
    * Output: (node, cluster) where cluster = min id of the component;
    * every node of `pairs` appears, self-pairs as singletons. Throws if
    * `maxIter` rounds don't converge (the result would be silently
    * wrong otherwise).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val aType = pairs.schema("id_a").dataType
    val bType = pairs.schema("id_b").dataType
    require(aType == bType,
      s"connectedComponents: id_a ($aType) and id_b ($bType) must have the same type")
    val spark = pairs.sparkSession
    // one pass over the (possibly expensive) upstream pipeline: nodes
    // and the initial edge set both read this cached frame. Null ids
    // are not nodes — dropped up front so both paths agree (the join
    // semantics of the distributed path would silently drop null-keyed
    // edges anyway, and the driver path's comparators can't order null).
    val base = pairs
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(col("id_a"), col("id_b")).persist(MEMORY_AND_DISK)
    val labelSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", aType),
      org.apache.spark.sql.types.StructField("cluster", aType)))

    if (base.count() <= maxDriverEdges) {
      // bounded-collect fast path: union-find over the raw pairs
      // (duplicates and self-loops are free to it), linking the larger
      // root under the smaller so every root IS its component minimum;
      // the whole label table is built driver-side with zero shuffles.
      // Ids are Comparable for every supported column type.
      val parent = new java.util.HashMap[Any, Any]()
      val seen = new java.util.LinkedHashSet[Any]()
      def find(x: Any): Any = {
        var r = x
        var p = parent.getOrDefault(r, r)
        while (p != r) { r = p; p = parent.getOrDefault(r, r) }
        var c = x // path compression
        while (parent.getOrDefault(c, c) != r) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      base.collect().foreach { row =>
        val (a, b) = (row.get(0), row.get(1))
        seen.add(a); seen.add(b)
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
      }
      val labelRows = seen.toArray.map { n =>
        org.apache.spark.sql.Row(n, find(n))
      }
      base.unpersist()
      return spark.createDataFrame(
        java.util.Arrays.asList(labelRows: _*), labelSchema)
    }

    val nodes = base.select(col("id_a").as("node"))
      .unionByName(base.select(col("id_b").as("node"))).distinct()
      .persist(MEMORY_AND_DISK)
    // materialize NOW, while base is cached: the labels frame returned
    // below is lazy, and computing nodes at the caller's first action
    // would otherwise re-run the whole upstream pipeline after the
    // base.unpersist() at the end of this method
    nodes.count()

    // canonical directed edges, larger endpoint -> smaller, no
    // self-loops. The chain truncates lineage each round AND releases
    // the previous round's materialized blocks — one retained copy,
    // not one per round.
    val chain = new CheckpointChain(spark)
    var edges = chain.truncate(
      base.filter(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .distinct())
    var cnt = edges.count() // trivial: RDD is materialized

    // Both phases use a window min over the node key — ONE exchange per
    // phase instead of the groupBy+join-back pair. Intermediate
    // duplicate edges ride along one phase (bounded by the prior edge
    // count) and collapse in small-star's distinct.
    //
    // large-star over the UNDIRECTED neighborhood: every neighbor
    // larger than u attaches to min(N(u) ∪ {u}); each edge is
    // processed under its larger endpoint (where v > u holds).
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      und.withColumn("m",
          least(col("u"), min("v").over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: edges all point down, so the window over the larger
    // endpoint sees only smaller neighbors; they and u itself attach to
    // their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val withM = e.withColumn("m", min("v").over(Window.partitionBy("u")))
      withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .distinct()
    }

    // Convergence = the edge set IS a star forest: no source node also
    // appears as a target (no chains), and every source has exactly one
    // out-edge (no multi-root leaves). A star forest is a fixpoint of
    // both phases, its connectivity equals the original graph's, and
    // edges always point down — so each root is its component minimum
    // and the labels can be read off directly. Checked in ONE
    // aggregation job, which doubles as the materialization action for
    // the round's lazy checkpoint.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("u").as("n"), lit(1L).as("s"), lit(0L).as("t"))
        .unionByName(e.select(col("v").as("n"), lit(0L).as("s"), lit(1L).as("t")))
        .groupBy("n").agg(sum("s").as("s"), sum("t").as("t"))
        .filter(col("s") > 1 || (col("s") > 0 && col("t") > 0))
        .limit(1).count() == 0
    // (the check reads the round's edges twice via the union, so the
    // checkpoint must be EAGER — a lazy one would race both branches
    // through the uncached upstream DAG)

    var iter = 0
    var done = false
    val debug = sys.props.contains("graft.cc.debug")
    while (!done && iter < maxIter) {
      val t0 = System.nanoTime()
      val next = chain.truncate(smallStar(largeStar(edges)))
      val t1 = System.nanoTime()
      // a still-contracting edge set can't be a star forest: gate the
      // check behind a trivial count of the materialized RDD
      val nextCnt = next.count()
      done = nextCnt == cnt && isStarForest(next)
      if (debug) println(f"[cc] round $iter: parts=${next.rdd.getNumPartitions} " +
        f"$cnt->$nextCnt mat=${(t1 - t0) / 1e9}%.2f " +
        f"check=${(System.nanoTime() - t1) / 1e9}%.2f s")
      edges = next
      cnt = nextCnt
      iter += 1
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")
    // fixpoint edges are (leaf -> component-min root); roots and
    // self-pair singletons label themselves. The star edge set is one
    // row per non-root node — broadcast only while it's comfortably
    // inside broadcast sizing (~1M two-column rows ≈ tens of MB);
    // bigger fixpoints take the plain shuffle join
    val stars = edges.select(col("u").as("node"), col("v").as("cluster"))
    val labels = nodes
      .join(if (cnt <= 1000000L) broadcast(stars) else stars,
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("cluster"), col("node")).as("cluster"))
    base.unpersist()
    labels
  }

  // ---------------------------------------------------------- simhash
  /** Value of hex digit `i` (1-based) of md5(s): both Spark and DuckDB
    * express this as strpos over the hex alphabet, keeping the oracle
    * bit-identical. */
  private def hexDigit(h: Column, i: Int): Column =
    instr(lit("0123456789abcdef"), substring(h, i, 1)) - 1

  /** Per-token md5 digests, to be staged as a projection before
    * [[simhash16FromHashes]] (which references the array 16 times). */
  def wordHashes(ws: Column): Column = transform(ws, w => md5(w))

  /** 16-bit SimHash over the token multiset: bit b is set when the sum
    * over tokens of ±1 (by bit b of the token's md5) is positive.
    * Computed per row with higher-order functions — no explode, no
    * shuffle. `hashes` must be a materialized column of [[wordHashes]];
    * passing the expression inline re-hashes every token 16×. */
  def simhash16FromHashes(hashes: Column): Column = {
    val bitSums = (0 until 16).map { b =>
      val digit = b / 4 + 1  // hex digit index, 1-based
      val shift = b % 4
      aggregate(hashes, lit(0),
        (acc, h) => acc +
          when(hexDigit(h, digit).cast("int").bitwiseAND(lit(1 << shift)) > 0, 1)
            .otherwise(-1))
    }
    bitSums.zipWithIndex.map { case (s, b) =>
      when(s > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Convenience for small/test inputs; bulk callers stage
    * [[wordHashes]] first (see LlmQueries q30). */
  def simhash16(text: Column): Column =
    simhash16FromHashes(wordHashes(words(text)))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fused-kernel SimHash signature column over a words array
    * ([[graft.functions.Simhash16]] — one md5 per token, one pass for
    * all 16 bits); [[simhash16FromHashes]] is the composed form the
    * spec cross-checks it against. */
  def simhash16Native(df: DataFrame, ws: Column): Column = {
    graft.functions.GraftExtensions.ensureRegistered(df.sparkSession)
    call_function("simhash16", ws)
  }

  /** SimHash dedup clusters: docs sharing an identical 16-bit signature,
    * one hash-partitioned groupBy — the near-dup blocking step that
    * never materializes pairs. (Within-cluster or nibble-banded
    * hamming-distance verification composes on top via [[hamming]].) */
  def simhashClusters(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = spread(docs.select(col(idCol).as("id"), col(textCol)))
    base
      .select(col("id"), simhash16Native(base, words(col(textCol))).as("simhash"))
      .groupBy(col("simhash"))
      .agg(count(lit(1)).as("cluster_size"), min(col("id")).as("canonical_doc"))
      .filter(col("cluster_size") > 1)
  }

  /** Bloom-prefiltered anti-join — the shuffle-killer for incremental
    * dedup of a small batch against a huge state table. A Bloom filter
    * over the state keys (driver-side, sized by `expectedItems`/`fpp` —
    * ~1.2 MB per million keys at 1%, bounded by the PARAMETERS, never
    * the data) splits the batch per-row, shuffle-free:
    *
    *  - definite-new rows (filter says "absent" — Bloom filters have no
    *    false negatives) are kept WITHOUT touching the state table;
    *  - possible-dup rows (filter says "maybe") go through the exact
    *    `left_anti` join, so false positives cost a join row, never a
    *    wrongly dropped document.
    *
    * Result is row-for-row identical to the plain anti-join (the spec
    * proves it on corpora with real duplicates); what changes is the
    * 100 TB shape: the state-table shuffle now carries only the
    * suspect fraction (≈ true-dup rate + fpp) of the batch instead of
    * all of it. Spark's own runtime row-level filtering does this for
    * equi-joins it can see through; this op applies the same discipline
    * where dedup composes with upstream transforms the optimizer won't
    * cross.
    *
    * The membership probe is a native codegen'd expression
    * ([[graft.functions.BloomMightContain]] — Spark exposes no public
    * `might_contain`, and a Scala UDF here would cut whole-stage
    * codegen at the batch scan): one sketch lookup per row at the scan
    * edge — cost ∝ batch rows, shape-neutral, and far cheaper than the
    * shuffle it avoids. Key types are restricted to string and
    * integral columns — the two domains `stat.bloomFilter` actually
    * inserts (strings as UTF-8 bytes, integrals as longs); anything
    * else is rejected up front rather than silently probed in the
    * wrong hash domain. */
  def bloomPrefilteredAntiJoin(batch: DataFrame, state: DataFrame,
      keyCol: String, expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types._
    val dt = batch.schema(keyCol).dataType
    require(dt == state.schema(keyCol).dataType,
      s"bloomPrefilteredAntiJoin: batch/state key dtypes differ " +
        s"(${dt.catalogString} vs ${state.schema(keyCol).dataType.catalogString})")
    require(Seq(StringType, ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"bloomPrefilteredAntiJoin supports string and integral keys " +
        s"(stat.bloomFilter's insert domains), got ${dt.catalogString}")
    graft.functions.GraftExtensions.ensureRegistered(batch.sparkSession)
    val bf = state.stat.bloomFilter(keyCol, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val mightContain =
      call_function("bloom_might_contain", col(keyCol), lit(bos.toByteArray))
    val definiteNew = batch.filter(!mightContain)
    val suspects = batch.filter(mightContain)
      .join(state.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(suspects)
  }

  /** EXACT all-pairs Jaccard similarity join via prefix filtering
    * (Bayardo et al. 2007 "Scaling Up All Pairs", Xiao et al. PPJoin)
    * — every pair of documents whose distinct `n`-gram Jaccard clears
    * `threshold`, with a NO-FALSE-NEGATIVES guarantee. The exactness
    * complement of [[candidatePairs]]: MinHash banding is probabilistic
    * (a pair above threshold can miss every band), this is provably
    * complete — the contract a legal/compliance dedup or a
    * "guaranteed decontamination" pass needs.
    *
    * The filter: order all n-grams rare-first (ascending document
    * frequency, gram tie-break — a deterministic global total order),
    * and keep each doc's first `|T| − ⌈t·|T|⌉ + 1` sorted grams as its
    * prefix. Any pair with `J ≥ t` MUST share a prefix gram (if the
    * prefixes were disjoint, the overlap is confined to the suffixes,
    * which are too short to reach `t`) — so candidates = equi-join on
    * prefix grams, then [[ngramJaccardVerify]] keeps the true
    * positives.
    *
    * Scale shape: candidate cost is Σ_g df_prefix(g)² over PREFIX
    * occurrences only — and because the order is rare-first, prefixes
    * hold precisely the lowest-df grams in the corpus, so the join
    * fans out on the tokens least able to explode (boilerplate grams
    * with huge df land in suffixes and never generate candidates).
    * One df aggregation, one per-doc sort (array_sort inside the
    * row), one gram-keyed self-join, verify ∝ candidates.
    *
    * Output: (id_a, id_b, jaccard), id_a < id_b, jaccard rounded 4. */
  def prefixFilterPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    // the gram-set and exploded-gram frames each feed multiple branches
    // (df count + order join; both verify sides) — persist them, or one
    // pass recomputes the scan→shingle chain five times. spread() first:
    // shingle construction is the pass's CPU-heavy per-row work, and a
    // small input (one parquet file → one scan task) would otherwise
    // build every gram set on a single core (no-op at real scale, where
    // the scan's own splits already spread it — see [[spread]])
    val sets = ngramSets(spread(docs.select(col(idCol), col(textCol))),
        textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = sets.select(col("jid"), explode(col("toks")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // document frequency as a window count over the gram — ONE gram-keyed
    // exchange of the token table, where the aggregate-then-join form
    // moved it twice (df shuffle + join shuffle; the join only LOOKS free
    // at broadcast-able vocab sizes). Measured locally too: the ordered
    // build drops ~0.95 s → ~0.77 s at sf0.1, bit-identical output.
    val ordered = tok
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("w"))))
      .groupBy(col("jid"))
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("ts"))
    val prefixLen =
      (size(col("ts")) - ceil(lit(threshold) * size(col("ts"))) + 1).cast("int")
    // keep 1-based prefix POSITIONS: the PPJoin length and positional
    // filters below prune candidates the bound arithmetic proves can't
    // reach the threshold — both are conservative (length via monotone
    // ratio rounding, positional with 0.5 slack on integer-scale
    // bounds), so completeness is untouched; the property spec and the
    // brute-force oracle re-prove it
    // both sides of the candidate self-join scan this — persist, or the
    // whole tok→df→sort chain (two shuffles + a per-doc sort) runs twice
    val prefix = ordered
      .select(col("jid"), size(col("ts")).as("n"),
        posexplode(slice(col("ts"), lit(1), prefixLen)).as(Seq("p", "pt")))
      .select(col("jid"), col("n"), (col("p") + 1).as("p"),
        col("pt.w").as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefix
      .select(col("w"), col("jid").as("id_a"), col("n").as("na"),
        col("p").as("pa"))
      .join(prefix.select(col("w"), col("jid").as("id_b"),
        col("n").as("nb"), col("p").as("pb")), Seq("w"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J ≥ t ⟹ min/max ≥ t (∩ ≤ min, ∪ ≥ max)
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")) >= threshold)
      // positional filter: overlap ≤ 1 + min(na−pa, nb−pb); J ≥ t
      // needs overlap·(1+t) ≥ t·(na+nb)
      .filter((lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")))
        .cast("double") * (1.0 + threshold) >=
        lit(threshold) * (col("na") + col("nb")) - 0.5)
      .select(col("id_a"), col("id_b")).distinct()
    verifySets(cand, sets, threshold)
  }

  /** Exact n-gram decontamination, fraction edition — the PaLM/GPT-4
    * policy ("drop docs with ≥ X% of their n-grams seen in an eval
    * set"), where [[decontaminate]] is the GPT-3 policy ("drop on any
    * shared n-gram"). The two differ in the decision surface, so both
    * exist: this one LEFT-joins and keeps every training doc, adding
    * total shingle count and hit fraction — the report a curation run
    * thresholds and audits — while [[decontaminate]] inner-joins down
    * to the violators only. The lexical complement of
    * [[graft.ops.Similarity.semanticDecontaminate]] — paraphrase
    * leakage needs the embedding side, verbatim leakage needs this.
    *
    * Scale shape: benchmark suites are MBs against a 100 TB train
    * side, so the distinct eval-shingle set broadcasts (hash each
    * shingle to a 64-bit key first at real scale — q105 discipline)
    * and the train side streams through scan → explode → one
    * doc-keyed aggregation: a single shuffle, no shingle-keyed
    * exchange at all. The hit test rides the broadcast hash join
    * inside codegen; cost is linear in train shingle volume.
    *
    * Output: (idCol, n_shingles, n_hits, hit_frac) — one row per
    * train doc carrying at least `k` tokens (shingle-less docs have
    * nothing to leak and are absent, the q127 convention). */
  def ngramDecontaminate(train: DataFrame, eval: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    def docShingles(df: DataFrame) = df
      .select(col(idCol), words(col(textCol)).as("__ws"))
      .select(col(idCol),
        explode(array_distinct(shinglesOfWords(col("__ws"), k))).as("g"))
    val evalSet = docShingles(eval).select(col("g")).distinct()
      .withColumn("__hit", lit(1))
    docShingles(train)
      .join(broadcast(evalSet), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
      .select(col(idCol), col("n_shingles"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_shingles"), 6)
          .as("hit_frac"))
  }

  /** Substring-duplication statistics (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * metric, re-expressed relationally): a position is DUPLICATED when
    * its stride-1 `w`-token window also occurs in at least one OTHER
    * document; per doc this reports how many positions are duplicated
    * and the longest duplicated run — `max_run + w − 1` is the length
    * of the doc's longest substring shared verbatim with the corpus.
    * Exact-substring dedup over suffix automata reduces, on a cluster,
    * to exactly this: stride-1 window fingerprints (a duplicated
    * ≥w-token substring ⟺ a duplicated w-token window), one keyed
    * doc-frequency aggregation, and per-doc gaps-and-islands.
    *
    * Scale shape: windows are md5-hashed before the shuffle (rows stay
    * ~50 bytes), the doc-frequency aggregation map-side combines, and
    * the islands window partitions by doc — never global. Window count
    * is ~token count, so the pass costs one extra corpus-sized shuffle
    * over q105's strided passages; that is the honest price of
    * stride-1 exactness (Lee et al. pay suffix-array construction for
    * the same contract single-node).
    *
    * Output: (idCol, n_windows, n_dup, max_dup_len) for docs with at
    * least one duplicated position. */
  def substringDupStats(docs: DataFrame, textCol: String, idCol: String,
      w: Int): DataFrame = {
    require(w > 0, s"window must be positive, got $w")
    // spread() before the window pass: the stride-1 md5-per-window
    // transform is the operator's CPU bill, and a single-file scan would
    // otherwise hash the whole corpus on one task (no-op at real scale)
    val win = spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("jid"), words(col(textCol)).as("a"))
      .filter(size(col("a")) >= w)
      .select(col("jid"), posexplode(expr(
        s"transform(sequence(1, size(a) - $w + 1), " +
          s"i -> md5(array_join(slice(a, i, $w), ' ')))")).as(Seq("p0", "wh")))
      .select(col("jid"), (col("p0") + 1).as("pos"), col("wh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nw = win.groupBy(col("jid")).agg(count(lit(1)).as("n_windows"))
    // "window hash seen in ≥ 2 distinct docs" = min(jid) ≠ max(jid) over
    // the hash's rows — ONE wh-keyed exchange, replacing the previous
    // distinct → doc-frequency aggregate → equi-join back, which moved
    // the corpus-sized window table across the network three times
    // (distinct shuffle, df shuffle, join shuffle) where this moves it
    // once; at broadcast-able sizes the optimizer used to hide that cost
    // locally, at 100 TB it cannot (guide §2.3/2.4).
    // Skew caveat (ADVICE r19): the window drops map-side partial
    // aggregation, so every row of one hot hash (a boilerplate window)
    // lands on a single task. Acceptable against the 3x shuffle
    // reduction; if hot-key stragglers appear at scale, salt the key or
    // go two-level (min/max by (wh, salt), then by wh) — guide §2.5.
    val whW = Window.partitionBy(col("wh"))
    val dup = win
      .withColumn("__mnj", min(col("jid")).over(whW))
      .withColumn("__mxj", max(col("jid")).over(whW))
      .filter(col("__mnj") =!= col("__mxj"))
      .select(col("jid"), col("pos"))
    // islands pass: per-island lengths give max_run AND (summed) n_dup —
    // the second scan of `dup` and the third output join disappear
    val runs = dup
      .withColumn("isl", col("pos") -
        row_number().over(Window.partitionBy(col("jid")).orderBy(col("pos"))))
      .groupBy(col("jid"), col("isl")).agg(count(lit(1)).as("rl"))
    val agg = runs.groupBy(col("jid"))
      .agg(max(col("rl")).as("max_run"), sum(col("rl")).as("n_dup"))
    nw.join(agg, Seq("jid"))
      .select(col("jid").as(idCol), col("n_windows"), col("n_dup"),
        (col("max_run") + lit(w) - 1).cast("long").as("max_dup_len"))
  }

  /** Sorted-neighborhood blocking (Hernández–Stolfo 1995) — the
    * entity-resolution candidate generator: sort the corpus by a
    * blocking key and pair every row with the `window` rows that
    * follow it in the total order. Complements [[candidatePairs]]
    * (set-similarity LSH) and [[prefixFilterPairs]] (exact
    * set-similarity) with the ORDER-based family: near-identical
    * names, codes, or addresses sort adjacently even when their
    * token sets differ.
    *
    * Scale shape: the total order comes from [[Layout.globalRank]]
    * (range exchange + zipWithIndex — no single-task window), and the
    * neighborhood pairing is a BLOCK equi-join, not a rank-range theta
    * join: with block = ⌈rank/window⌉, any pair within `window` spans
    * adjacent blocks, so the right side is emitted twice (own block and
    * predecessor) and joined on the block id — per-key fan-in is
    * ≤ 2·window rows regardless of corpus size. Output pair count is
    * ≤ window·n by construction — linear, not quadratic.
    *
    * Output: (id_a, id_b, key_a, key_b), rank(a) < rank(b). */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      keyCol: String, window: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val ranked = Layout.globalRank(
      df.select(col(idCol).as("id"), col(keyCol).as("k")),
      col("k"), col("id"))
    val blk = ((col("rank") - 1) / window).cast("long")
    val left = ranked.select(col("id").as("id_a"), col("k").as("key_a"),
      col("rank").as("ra"), blk.as("b"))
    val right = ranked.select(col("id").as("id_b"), col("k").as("key_b"),
        col("rank").as("rb"), blk.as("b0"))
      .select(col("id_b"), col("key_b"), col("rb"),
        explode(array(col("b0"), col("b0") - 1)).as("b"))
    left.join(right, Seq("b"))
      .filter(col("rb") - col("ra") >= 1 && col("rb") - col("ra") <= window)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }
}
