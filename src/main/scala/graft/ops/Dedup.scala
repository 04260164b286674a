package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale posture (the whole point at 100 TB):
  *  - exact dedup = one map-side-combinable min_by aggregation on the
  *    fingerprint — the minimum possible single shuffle, hot-key-proof;
  *  - the LSH pipeline runs on SORTED 64-BIT SHINGLE HASHES
  *    ([[shinglesHashed]]): signatures are a NARROW MAP (one codegen'd
  *    traversal computes all k mins per doc, hashing a fixed-width long
  *    per seed), and verification is a codegen'd sorted-merge over
  *    longs — no string ever shuffles past the shingle projection;
  *  - LSH banding turns the quadratic all-pairs problem into an
  *    equi-join on (band, bandHash) — only same-bucket pairs are
  *    generated, then verified with EXACT Jaccard so false positives
  *    never escape. No driver-side collection anywhere.
  *  - All hashing is xxhash64 with fixed integer seeds: deterministic
  *    across runs/executors, so re-running the pipeline on the same
  *    input yields byte-identical results (idempotent re-ingest).
  */
object Dedup {

  /** Exact dedup: keep the row with min(idCol) per fingerprint of
    * `textCol`, as ONE map-side-combinable `min_by` aggregation. A
    * window (`row_number over partitionBy(fingerprint)`) computes the
    * same thing but is not combinable: every copy of one fingerprint
    * lands in a single task, and the whole point of exact dedup is the
    * corpus where some page is duplicated 10⁸ times — the hot-key
    * straggler the span family already designs out. With min_by each
    * mapper pre-reduces to one candidate row per fingerprint, so the
    * shuffle carries ≤ (#mappers) rows per fingerprint no matter how
    * viral the document. Ties on idCol pick an arbitrary tied row (the
    * window form was equally arbitrary among tied ids). NULL ids rank
    * LAST (null-safe ordering struct — min_by skips rows whose raw
    * ordering value is null, so a group of all-null ids must still keep
    * a real row); rows with a non-null id always beat null-id rows. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = df.columns.toSeq
    // the key is internal (never output): 16-byte binary md5 of the
    // normalized text — EXACT identity (128-bit, no birthday risk at
    // 10^10 docs; see TextOps.fingerprintBin) at half the hex form's
    // shuffle bytes. xxhash64 is reserved for probabilistic keys.
    df.groupBy(TextOps.fingerprintBin(col(textCol)).as("_fp"))
      .agg(min_by(struct(cols.map(col): _*),
        struct(col(idCol).isNull, col(idCol))).as("_row"))
      .select(cols.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** QUALITY-aware canonical selection: within each `clusterCol` keep the
    * row maximizing `scoreCol` (ties broken by min `idCol`, so the choice
    * is total and deterministic; null scores rank last; integral scores
    * are cast to double before negation, so Long.MinValue cannot
    * overflow-wrap into "best"). [[exact]] and `canonicalize` keep the
    * MIN-ID representative — right for idempotent ids, wrong when cluster
    * members differ in quality (a near-dup cluster usually holds one
    * full-text doc and several truncated/boilerplate copies; a pipeline
    * wants the best one, not the oldest one). Compose with any clustering
    * here: exact fingerprints, LSH clusters, or CC components.
    *
    * One map-side-combinable `min_by` per cluster key (see [[exact]] for
    * why not a window: a boilerplate cluster with 10⁸ members must not
    * serialize through one task). The ordering struct (score is null,
    * −score, id) reproduces the window's (score desc nulls-last, id asc)
    * rule exactly for null and real scores; the one corner that moves is
    * NaN, which the window's descending sort ranked FIRST (NaN greatest)
    * and min_by now ranks last — a NaN quality score winning its cluster
    * was a bug, not a contract. `scoreCol` must be NUMERIC (the ordering
    * negates it); every quality score in this codebase is. */
  def keepBest(df: DataFrame, clusterCol: Column, idCol: String,
      scoreCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(clusterCol.as("_ck"))
      // cast-then-negate: negate(Long.MinValue) overflows (wraps in
      // non-ANSI mode, throws under ANSI). The widening cast must stay
      // INJECTIVE, not merely monotone: integral scores widen to
      // decimal(20,0) (every 64-bit value exact — a double here
      // collapses longs past 2^53, letting the id tie-break keep a
      // strictly LOWER-scored row); decimals negate in place;
      // float/double cast to double, where NaN keeps its documented
      // rank-last behavior (NaN > all in Spark's ordering)
      .agg(min_by(struct(cols.map(col): _*),
        struct(col(scoreCol).isNull,
          negate(df.schema(scoreCol).dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              col(scoreCol).cast(DecimalType(20, 0))
            case _: DecimalType => col(scoreCol)
            case _ => col(scoreCol).cast("double")
          }), col(idCol)))
        .as("_row"))
      .select(cols.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** Incremental (cross-batch) exact dedup — the daily-ingest shape: a
    * new `batch` dedups against the ACCUMULATED `corpus` (drop any row
    * whose fingerprint already exists there) and against itself
    * (min-id-wins, as [[exact]]; null ids rank last, null-safe). The
    * corpus side prunes to its distinct fingerprint column before the
    * anti-join, so the shuffle carries one 16-byte binary hash per known
    * document — not the corpus — and the batch side is one combinable
    * aggregation + one anti-join. Streaming sibling:
    * StreamingDedup.firstSeen. */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    // the corpus side is the BIG side at scale: its distinct-fingerprint
    // shuffle carries one 16-byte md5 binary per known document — EXACT
    // identity (a lone 64-bit xxhash64 here would silently drop distinct
    // batch docs on birthday collisions: ~3 expected at 10^10 corpus
    // docs), at half the md5-hex form's bytes
    val known = corpus
      .select(TextOps.fingerprintBin(col(textCol)).as("_fp"))
      .distinct()
    // fingerprint ONCE per batch row (the min_by key and the anti-join
    // key share the projected column), and select-within-batch via the
    // same combinable min_by as [[exact]] — the anti-join then runs on
    // the slim one-row-per-fingerprint frame before the row expands
    val cols = batch.columns.toSeq
    batch.withColumn("_fp", TextOps.fingerprintBin(col(textCol)))
      .groupBy(col("_fp"))
      .agg(min_by(struct(cols.map(col): _*),
        struct(col(idCol).isNull, col(idCol))).as("_row"))
      .join(known, Seq("_fp"), "left_anti")
      .select(cols.map(c => col("_row").getField(c).as(c)): _*)
  }

  /** PERSISTED LSH band-bucket index — the incremental NEAR-dup analogue
    * of [[incrementalExact]]: shingle + MinHash + band the corpus ONCE and
    * write two bucketed tables, so each arriving batch dedups against a
    * 100 TB corpus WITHOUT recomputing corpus signatures or shuffling the
    * corpus (the [[nearDupPairs]]-from-scratch-per-batch anti-pattern this
    * exists to kill):
    *  - `table`      — one row per (doc, band): corpus_id, _band, _bh;
    *    bucketed+sorted by `_bh` (a SINGLE bucket column, because Spark
    *    bucket-prunes only single-column bucket specs);
    *  - `table_sh`   — corpus_id, _sh (sorted shingles), _n; bucketed by
    *    corpus_id for the shuffle-free verification join.
    * Same write-once-join-often contract and session-catalog caveat as
    * Layout.saveBucketed / Similarity.buildIvfIndex (a new session
    * re-registers via Layout.registerBucketed; no data rewrite).
    *
    * FORMAT (v2, since the hashed-shingle change): `_bh` is LONG
    * (xxhash64 over long signature rows) and `_sh` is ARRAY<LONG>
    * (sorted xxhash64 shingles). Indexes built by the v1
    * string-shingle format are INCOMPATIBLE — band hashes come from a
    * different hash family, so v1 buckets would silently never match a
    * v2 batch even where types happen to align. Every reader
    * ([[incrementalNearDups]], [[appendLshIndex]], [[indexedIds]])
    * checks the schema at entry and fails fast with a rebuild message
    * instead of returning empty candidate sets. Migration: rebuild via
    * [[buildLshIndex]] from the source corpus (the index is derived
    * data; there is no in-place upgrade of v1 band hashes). */
  def buildLshIndex(corpus: DataFrame, idCol: String, textCol: String,
      table: String, path: String, k: Int = 32, bands: Int = 16,
      rowsPerBand: Int = 2, buckets: Int = 16): Unit = {
    require(bands * rowsPerBand <= k,
      s"bands*rowsPerBand (${bands * rowsPerBand}) must be <= k ($k)")
    val sh = corpus.select(col(idCol).as("corpus_id"),
        shinglesHashed(col(textCol)).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sigs = minhashSignaturesSh(sh, "corpus_id", k)
      val bandRows = sigs.select(col("corpus_id"),
          explode(array(bandStructs(bands, rowsPerBand): _*)).as("bk"))
        .select(col("corpus_id"), col("bk")("band").as("_band"),
          col("bk")("bh").as("_bh"))
      Layout.saveBucketed(bandRows, table, path, buckets, Seq("_bh"))
      Layout.saveBucketed(
        sh.select(col("corpus_id"), col("_sh"), size(col("_sh")).as("_n")),
        table + "_sh", path + "_sh", buckets, Seq("corpus_id"))
    } finally sh.unpersist(blocking = false)
  }

  /** INCREMENTAL maintenance of a [[buildLshIndex]] table pair — the
    * other half of the daily-ingest loop: after a batch has been deduped
    * against the corpus ([[incrementalNearDups]]) the SURVIVORS join it,
    * by banding with the same seeds and APPENDING their band rows and
    * sorted shingles into the two bucketed tables (Spark validates the
    * bucket specs against the catalog's — `buckets` must equal the
    * build's). The existing corpus is never read or re-hashed; later
    * batches immediately see the appended docs because both the bucket
    * join and the verification join read the tables. Contract: append
    * only ids not already indexed (run the dedup first) — duplicate ids
    * would emit duplicate pair rows downstream. With `checkIds` (the
    * default) that contract is ENFORCED, not documented-and-hoped: the
    * batch's ids probe the corpus_id-bucketed shingle table
    * ([[indexedIds]] — a bucket-pruned read, never a corpus scan) and a
    * collision throws before anything is written. Pass false only when
    * the caller just ran the probe itself (the ingest loop). */
  def appendLshIndex(batch: DataFrame, idCol: String, textCol: String,
      table: String, k: Int = 32, bands: Int = 16, rowsPerBand: Int = 2,
      buckets: Int = 16, checkIds: Boolean = true): Unit = {
    require(bands * rowsPerBand <= k,
      s"bands*rowsPerBand (${bands * rowsPerBand}) must be <= k ($k)")
    requireLshV2(batch.sparkSession, table)
    if (checkIds) {
      val dups = indexedIds(batch, idCol, table).limit(5).collect()
        .map(_.get(0))
      if (dups.nonEmpty) throw new IllegalStateException(
        s"appendLshIndex($table): batch contains ids already indexed " +
          s"(e.g. ${dups.mkString(", ")}) — appending would emit " +
          "duplicate pair rows from every later query; dedup the batch " +
          "first (incrementalNearDups + anti-join) or pass checkIds=false")
    }
    val sh = batch.select(col(idCol).as("corpus_id"),
        shinglesHashed(col(textCol)).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendLshIndexSh(sh, table, k, bands, rowsPerBand, buckets)
    finally sh.unpersist(blocking = false)
  }

  /** [[appendLshIndex]] over a pre-shingled `(corpus_id, _sh)` frame the
    * caller persists (and releases) — the ingest loop's share-one-
    * shingle-pass seam; the id-collision guard stays with callers (the
    * loop just ran the [[indexedIds]] probe itself). */
  private[graft] def appendLshIndexSh(sh: DataFrame, table: String,
      k: Int, bands: Int, rowsPerBand: Int, buckets: Int): Unit = {
    require(bands * rowsPerBand <= k,
      s"bands*rowsPerBand (${bands * rowsPerBand}) must be <= k ($k)")
    requireLshV2(sh.sparkSession, table)
    val sigs = minhashSignaturesSh(sh, "corpus_id", k)
    sigs.select(col("corpus_id"),
        explode(array(bandStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("corpus_id"), col("bk")("band").as("_band"),
        col("bk")("bh").as("_bh"))
      .write.mode("append").bucketBy(buckets, "_bh").sortBy("_bh")
      .format("parquet").saveAsTable(table)
    sh.select(col("corpus_id"), col("_sh"), size(col("_sh")).as("_n"))
      .write.mode("append")
      .bucketBy(buckets, "corpus_id").sortBy("corpus_id")
      .format("parquet").saveAsTable(table + "_sh")
  }

  /** Incremental near-dup dedup against a [[buildLshIndex]] corpus: band
    * the BATCH's signatures (identical seeds/banding to the build), join
    * them against only the matching corpus buckets, then exact-Jaccard
    * verify against the persisted shingle table. The corpus is never
    * re-shingled, re-hashed, collected, or shuffled: the bucket join reads
    * the `_bh`-bucketed table in place (and when the batch's distinct
    * band-hash set is ≤ `maxPruneLiterals` it rides into the scan as an
    * IN-list, so the read BUCKET-PRUNES — at 100 TB a small batch touches
    * a handful of buckets, not the corpus; asserted by LayoutSpec), and
    * the verification join reads the corpus_id-bucketed shingle table with
    * no corpus-side Exchange. Recall is the LSH banding curve
    * (1-(1-j^r)^b per pair), exactness above `threshold` is restored by
    * the verify step — same contract as [[nearDupPairs]].
    * Output: (new_id, corpus_id, jaccard) for every batch doc whose
    * Jaccard with a corpus doc is ≥ threshold. */
  def incrementalNearDups(batch: DataFrame, table: String, idCol: String,
      textCol: String, threshold: Double = 0.5, k: Int = 32,
      bands: Int = 16, rowsPerBand: Int = 2,
      maxPruneLiterals: Int = 4096): DataFrame = {
    val bsh = batch.select(col(idCol).as("new_id"),
        shinglesHashed(col(textCol)).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheScope.releasing(bsh) {
      incrementalNearDupsLazy(bsh, table, threshold, k, bands,
        rowsPerBand, maxPruneLiterals)
    }
  }

  /** The un-checkpointed plan behind [[incrementalNearDups]], over an
    * already-persisted (new_id, _sh sorted-shingles) frame — separate so
    * LayoutSpec can assert the bucket pruning on the live plan (the
    * public surface returns a checkpointed frame, whose executed plan is
    * just the materialized-RDD scan). */
  private[graft] def incrementalNearDupsLazy(bsh: DataFrame, table: String,
      threshold: Double, k: Int, bands: Int, rowsPerBand: Int,
      maxPruneLiterals: Int): DataFrame = {
    val spark = bsh.sparkSession
    requireLshV2(spark, table)
    val sigs = minhashSignaturesSh(bsh, "new_id", k)
    val bb = sigs.select(col("new_id"),
        explode(array(bandStructs(bands, rowsPerBand): _*)).as("bk"))
      .select(col("new_id"), col("bk")("band").as("_band"),
        col("bk")("bh").as("_bh"))
    // distinct batch band-hashes as scan literals: plan-time metadata
    // (the batch is the small side by definition); past the cap, skip
    // pruning rather than build a pathological IN-list
    val bhs = bb.select(col("_bh")).distinct()
      .limit(maxPruneLiterals + 1).collect().map(_.getLong(0))
    val corpusBuckets =
      if (bhs.length <= maxPruneLiterals)
        spark.table(table).where(col("_bh").isin(bhs.map(Long.box): _*))
      else spark.table(table)
    val cand = corpusBuckets.join(bb, Seq("_bh", "_band"))
      .select(col("new_id"), col("corpus_id")).distinct()
    val b = bsh.select(col("new_id"), col("_sh").as("_sh1"),
      size(col("_sh")).as("_n1"))
    val c = spark.table(table + "_sh").select(col("corpus_id"),
      col("_sh").as("_sh2"), col("_n").as("_n2"))
    cand.join(b, Seq("new_id")).join(c, Seq("corpus_id"))
      // exactness-preserving size prefilter (see jaccardVerifySh)
      .where(least(col("_n1"), col("_n2")).cast(DoubleType) >=
        greatest(col("_n1"), col("_n2")) * threshold)
      .withColumn("_inter", graft.functions.VectorFunctions
        .sortedIntersectSize(col("_sh1"), col("_sh2")).cast(DoubleType))
      .withColumn("_j", col("_inter") /
        ((col("_n1") + col("_n2")).cast(DoubleType) - col("_inter")))
      .where(col("_j") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        round(col("_j"), 4).as("jaccard"))
  }

  /** Ids from `batch` ALREADY PRESENT in a [[buildLshIndex]] table pair —
    * the near-free duplicate-append probe behind [[appendLshIndex]]'s
    * `checkIds` guard and the ingest loop's replay skip
    * (StreamingDedup.ingestBatch). Probes the corpus_id-BUCKETED shingle
    * table, so a small batch's id set rides into the scan as an IN-list
    * and the read bucket-prunes to the batch's buckets (the same
    * mechanism [[incrementalNearDupsLazy]] uses for band hashes — never
    * a corpus scan); past `maxPruneLiterals` distinct ids it degrades to
    * a semi-join (the batch side stays the small broadcast side).
    * Output: one `corpus_id` row per batch id already indexed. */
  /** Fail-fast FORMAT guard for [[buildLshIndex]] table pairs (see the
    * FORMAT note there): a v1 string-shingle index surfaces here as
    * array<string> `_sh` / non-long `_bh` — without this check a reader
    * either dies in a deep analysis-time type error or (band rows
    * alone) returns a silently EMPTY candidate set, because v1 band
    * hashes come from a different hash family. Plan-time catalog schema
    * lookups only; no job runs. */
  private[graft] def requireLshV2(spark: SparkSession, table: String): Unit = {
    def tpe(t: String, c: String) = spark.table(t).schema(c).dataType
    val ok = tpe(table, "_bh") == LongType &&
      (tpe(table + "_sh", "_sh") match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
    if (!ok) throw new IllegalStateException(
      s"LSH index '$table' is not in the v2 hashed-shingle format " +
        "(_bh LONG, _sh ARRAY<LONG>): it predates the sorted-xxhash64 " +
        "shingle pipeline, whose band hashes come from a different hash " +
        "family — querying it would return empty candidate sets. " +
        "Rebuild with buildLshIndex; there is no in-place upgrade.")
  }

  private[graft] def indexedIds(batch: DataFrame, idCol: String,
      table: String, maxPruneLiterals: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    requireLshV2(spark, table)
    val ids = batch.select(col(idCol).as("corpus_id")).distinct()
    val vals = ids.limit(maxPruneLiterals + 1).collect().map(_.get(0))
    val shTable = spark.table(table + "_sh").select(col("corpus_id"))
    if (vals.length <= maxPruneLiterals)
      shTable.where(col("corpus_id").isin(vals: _*)).distinct()
    else
      shTable.join(ids, Seq("corpus_id"), "left_semi").distinct()
  }

  /** Word 3-gram shingle set. Docs shorter than n words yield one
    * shingle = the whole text (so every doc has ≥1 shingle). */
  def shingles(text: Column, n: Int = 3): Column = {
    // LET-BINDING via a one-element outer transform: Catalyst inlines a
    // reused Column everywhere it appears, and codegen's subexpression
    // elimination does not reach inside higher-order-function lambdas —
    // the naive `element_at(split(text), i+j)` form re-split the text
    // for every window element, O(words²·n) per doc. Binding the words
    // array as the outer lambda argument evaluates split() exactly once
    // per row (measured 2.4× on the sf0.1 shingle pass, identical
    // output), and `slice` keeps the window itself one traversal.
    element_at(transform(array(split(text, " ")), words => {
      val cnt = size(words)
      array_distinct(
        when(cnt < n, array(concat_ws(" ", words)))
          .otherwise(transform(
            sequence(lit(0), cnt - lit(n)),
            i => concat_ws(" ", slice(words, i + lit(1), lit(n))))))
    }), 1)
  }

  /** SORTED 64-bit shingle hashes — the PIPELINE form of [[shingles]]:
    * each distinct n-gram maps to `xxhash64(gram)` and the array sorts
    * ascending, so every downstream stage works on fixed-width longs
    * instead of ~20-byte strings — signatures hash a long per seed
    * (MinHashSigs' hashLong arm), sorted-merge verification compares
    * longs, and the persisted `_sh` index column shrinks ~2.5×. Set
    * identity is preserved up to 64-bit collisions (birthday ~1e-9 at
    * 1e5 distinct grams per blocking scope); the correctness gate's
    * string-computed oracles certify collision-freedom on every corpus
    * they run (same argument as the span family's `_gh`). */
  def shinglesHashed(text: Column, n: Int = 3): Column =
    sort_array(transform(shingles(text, n), s => xxhash64(s)))

  /** MinHash signature columns h0..h{k-1}: min over the doc's shingles of
    * xxhash64(seed_j, shingle) — a NARROW MAP (one codegen'd traversal
    * computes all k values per doc, graft.functions.MinHashSigs), where
    * the aggregate formulation it replaced shuffled a (docs × shingles)
    * relation through a k-aggregate groupBy. Values are bit-identical to
    * `min(xxhash64(lit(j), exploded_shingle))`. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32): DataFrame =
    minhashSignaturesSh(
      df.select(col(idCol), shingles(col(textCol)).as("_sh")), idCol, k)

  /** As [[minhashSignatures]] but over precomputed shingle arrays —
    * lets one pipeline share the shingle pass with verification. The
    * signature array materializes in its OWN projection before the h_j
    * columns slice it (CollapseProject keeps a multi-referenced
    * non-trivial alias, so the traversal runs once, not k times).
    * Rows with NULL or EMPTY shingle arrays are DROPPED (matching the
    * explode+groupBy formulation this replaced) — an all-empty doc has
    * no signature, and emitting sentinel values instead would make every
    * empty doc collide in every LSH band. */
  def minhashSignaturesSh(sh: DataFrame, idCol: String, k: Int = 32,
      shCol: String = "_sh"): DataFrame =
    sh.where(size(col(shCol)) >= 1)
      .select(col(idCol),
        graft.functions.VectorFunctions.minhashSigs(col(shCol), k).as("_sig"))
      .select(col(idCol) +:
        (0 until k).map(j => element_at(col("_sig"), j + 1).as(s"h$j")): _*)

  /** (band, bandHash) structs over the h0..h{k-1} signature columns —
    * the banding shared by [[lshCandidates]], [[buildLshIndex]] and
    * [[incrementalNearDups]] (batch and corpus MUST band identically or
    * cross-run buckets never match). */
  private def bandStructs(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      val rows = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(rows: _*).as("bh"))
    }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * hash each band, equi-join docs sharing any (band, bandHash) bucket.
    * Returns distinct (id1, id2) with id1 < id2. */
  def lshCandidates(sigs: DataFrame, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val buckets = sigs.select(col(idCol),
      explode(array(bandStructs(bands, rowsPerBand): _*)).as("bk"))
    val l = buckets.select(col(idCol).as("id1"), col("bk"))
    val r = buckets.select(col(idCol).as("id2"), col("bk"))
    // join on the bucket COLUMN NAME (not l("bk")===r("bk"), which Spark
    // resolves to a trivially-true self-comparison after the self-join)
    l.join(r, Seq("bk")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Exact n-gram Jaccard for given candidate pairs (the verification
    * step that makes MinHash+LSH exact-above-threshold): joins the
    * shingle arrays back and computes |∩|/|∪|. */
  def jaccardVerify(df: DataFrame, candidates: DataFrame,
      idCol: String, textCol: String, threshold: Double): DataFrame =
    jaccardVerifySh(
      df.select(col(idCol), shinglesHashed(col(textCol)).as("_sh")),
      candidates, idCol, threshold)

  /** As [[jaccardVerify]] but over precomputed SORTED shingle arrays
    * (`shCol`) — lets one pipeline share the shingle pass between
    * candidate generation and verification. */
  def jaccardVerifySh(sh0: DataFrame, candidates: DataFrame,
      idCol: String, threshold: Double, shCol: String = "_sh"): DataFrame = {
    // sorted once per doc → each pair's |∩| is one codegen'd merge pass
    val sh = sh0.select(col(idCol), col(shCol).as("_sh"),
      size(col(shCol)).as("_n"))
    candidates
      .join(sh.select(col(idCol).as("id1"), col("_sh").as("_sh1"),
        col("_n").as("_n1")), Seq("id1"))
      .join(sh.select(col(idCol).as("id2"), col("_sh").as("_sh2"),
        col("_n").as("_n2")), Seq("id2"))
      // exactness-preserving size prefilter: j ≥ t ⇒ min/max set sizes ≥ t,
      // so a pair failing the ratio can never reach the threshold — the
      // per-pair merge intersect below never runs for hopeless pairs
      .where(least(col("_n1"), col("_n2")).cast(DoubleType) >=
        greatest(col("_n1"), col("_n2")) * threshold)
      // |∪| = |A|+|B|-|∩| for shingle sets: one array op per pair, not two
      .withColumn("_inter", graft.functions.VectorFunctions
        .sortedIntersectSize(col("_sh1"), col("_sh2")).cast(DoubleType))
      .withColumn("_j", col("_inter") /
        ((col("_n1") + col("_n2")).cast(DoubleType) - col("_inter")))
      // filter on the RAW ratio (as the oracle does); round only in output
      .where(col("_j") >= threshold)
      .select(col("id1"), col("id2"), round(col("_j"), 4).as("jaccard"))
  }

  /** PPJoin-style prefix-filtered candidate pairs for exact Jaccard ≥ t
    * (Bayardo/Xiao prefix filtering): two sets with J ≥ t MUST share at
    * least one element among each one's first |x| − ⌈t·|x|⌉ + 1 shingles
    * under a fixed global order, so only docs sharing a PREFIX shingle
    * ever pair. The global order is ascending document frequency — the
    * prefix holds each doc's RAREST shingles, so the inverted-index
    * self-join stays near-linear even on low-entropy corpora where a
    * plain shingle join explodes (popular shingles land outside every
    * prefix). This is the scale-safe EXACT alternative to both blocked
    * all-pairs (quadratic) and MinHash banding (probabilistic recall).
    *
    * Input: `sh` with `idCol`, a shingle-array column `shCol`, and
    * optional blocking columns that candidate pairs must share. Shuffles:
    * one groupBy (frequency table), one window (per-doc rank), one
    * equi-join on (shingle, blocks), one distinct — all key-partitioned,
    * no cartesian anywhere. Output: distinct (id1, id2), id1 < id2,
    * already size-ratio-filtered. */
  def ppJoinCandidates(sh: DataFrame, idCol: String, shCol: String,
      threshold: Double, blockCols: Seq[String] = Nil): DataFrame = {
    val pref = ppJoinPrefixes(sh, idCol, shCol, threshold, blockCols)
    // NOTE: this checkpoints the UNVERIFIED candidate pair set — on a
    // low-entropy corpus it can be much larger than the verified result,
    // and its truncated lineage is unrecoverable on executor loss. For
    // production pipelines use [[ppJoin]], which verifies BEFORE
    // checkpointing so only the small verified pair set is materialized.
    // This candidates-only surface exists for tests and for callers with
    // their own verification metric.
    CacheScope.releasing(pref)(ppJoinPairs(pref, threshold, blockCols))
  }

  /** The production PPJoin surface: prefix-filtered candidates + exact
    * sorted-merge Jaccard verification in ONE scope, so the eager
    * checkpoint holds only the SMALL verified pair set — the prefix
    * intermediate is released as soon as verification materializes.
    * `shCol` must be a SORTED shingle array (see [[jaccardVerifySh]]). */
  def ppJoin(sh: DataFrame, idCol: String, shCol: String,
      threshold: Double, blockCols: Seq[String] = Nil): DataFrame = {
    val pref = ppJoinPrefixes(sh, idCol, shCol, threshold, blockCols)
    CacheScope.releasing(pref) {
      jaccardVerifySh(sh,
        ppJoinPairs(pref, threshold, blockCols),
        idCol, threshold, shCol = shCol)
    }
  }

  /** Frequency-ordered prefix shingles, persisted — both sides of the
    * candidate self-join read it, and the column renames defeat Spark's
    * identical-subtree exchange reuse. Caller owns the unpersist. */
  private def ppJoinPrefixes(sh: DataFrame, idCol: String, shCol: String,
      threshold: Double, blockCols: Seq[String]): DataFrame = {
    val ex = sh.select(col(idCol) +: blockCols.map(col) :+
      size(col(shCol)).as("_n") :+ explode(col(shCol)).as("_s"): _*)
    val freq = ex.groupBy(col("_s")).agg(count(lit(1)).as("_df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("_df"), col("_s"))
    ex.join(freq, Seq("_s"))
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= col("_n") - ceil(col("_n") * threshold) + 1)
      .select(col(idCol) +: col("_n") +: col("_s") +: blockCols.map(col): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Candidate (id1, id2) pairs from the persisted prefix frame: one
    * equi-join on (shingle, blocks) + size-ratio prefilter + distinct. */
  private def ppJoinPairs(pref: DataFrame, threshold: Double,
      blockCols: Seq[String]): DataFrame = {
    val l = pref.toDF(("id1" +: "_n1" +: "_s" +: blockCols): _*)
    val r = pref.toDF(("id2" +: "_n2" +: "_s" +: blockCols): _*)
    l.join(r, "_s" +: blockCols)
      .where(col("id1") < col("id2") &&
        least(col("_n1"), col("_n2")).cast(DoubleType) >=
          greatest(col("_n1"), col("_n2")) * threshold)
      .select(col("id1"), col("id2")).distinct()
  }

  /** CONTAINMENT join — subset-duplicate detection: pairs with
    * |A∩B| / min(|A|,|B|) ≥ t. Jaccard misses partial copies by
    * construction (a 10-token excerpt of a 1000-token doc has J ≈ 0.01
    * but containment 1.0); quotes, truncated mirrors, and chunk-level
    * re-ingests are exactly this shape, and a dedup pipeline wants
    * them surfaced.
    *
    * Exactness: the SMALLER set of a qualifying pair shares ≥ ⌈t·|S|⌉
    * elements, so its rarest-first prefix of length |S| − ⌈t·|S|⌉ + 1
    * (same prefix [[ppJoin]] builds) must contain a shared shingle —
    * but unlike Jaccard the LARGER side's prefix carries no guarantee,
    * so candidates come from prefix-of-smaller ⋈ ALL postings of the
    * other side, not prefix ⋈ prefix. The posting lists a prefix entry
    * touches are small by the same argument that makes PPJoin fast:
    * prefixes hold each doc's RAREST shingles. No size-ratio prefilter
    * exists here — none is sound, containment pairs tiny docs with
    * huge ones.
    *
    * `shCol` must be a SORTED shingle array. Output: (id1, id2,
    * containment) with id1 < id2. */
  def containmentJoin(sh: DataFrame, idCol: String, shCol: String,
      threshold: Double, blockCols: Seq[String] = Nil): DataFrame = {
    val pref = ppJoinPrefixes(sh, idCol, shCol, threshold, blockCols)
    val postings = sh.select(col(idCol).as("_idb") +:
      size(col(shCol)).as("_nb") +: explode(col(shCol)).as("_s") +:
      blockCols.map(col): _*)
    // verify inside the releasing scope: only the SMALL verified pair
    // set is checkpointed (the ppJoin discipline)
    CacheScope.releasing(pref) {
      val cands = pref.toDF(("_ida" +: "_na" +: "_s" +: blockCols): _*)
        .join(postings, "_s" +: blockCols)
        // the prefix side must be the (weakly) smaller set for the
        // prefix guarantee to hold; equal sizes match both ways
        .where(col("_ida") =!= col("_idb") && col("_na") <= col("_nb"))
        .select(least(col("_ida"), col("_idb")).as("id1"),
          greatest(col("_ida"), col("_idb")).as("id2"))
        .distinct()
      val s = sh.select(col(idCol), col(shCol).as("_sh"),
        size(col(shCol)).as("_n"))
      cands
        .join(s.select(col(idCol).as("id1"), col("_sh").as("_sh1"),
          col("_n").as("_n1")), Seq("id1"))
        .join(s.select(col(idCol).as("id2"), col("_sh").as("_sh2"),
          col("_n").as("_n2")), Seq("id2"))
        .withColumn("_inter", graft.functions.VectorFunctions
          .sortedIntersectSize(col("_sh1"), col("_sh2")).cast(DoubleType))
        .withColumn("_c", col("_inter") /
          least(col("_n1"), col("_n2")).cast(DoubleType))
        .where(col("_c") >= threshold)
        .select(col("id1"), col("id2"),
          round(col("_c"), 4).as("containment"))
    }
  }

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification.
    * Default banding (16 bands × 2 rows) gives recall ≈ 1 - (1-j²)^16:
    * >0.99999 for j ≥ 0.8, ~0.99 at j = 0.5.
    *
    * The sorted shingle arrays are computed ONCE and persisted
    * (MEMORY_AND_DISK, same idiom as Spark ML's MinHashLSH) — the pass is
    * shared by signature generation, the banding self-join, and exact
    * verification, which would otherwise each recompute the shingle
    * transform from the raw text. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 32,
      bands: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val sh = df.select(col(idCol),
      shinglesHashed(col(textCol)).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CacheScope.around(sh) {
      nearDupPairsSh(sh, idCol, threshold, k, bands, rowsPerBand)
    }
  }

  /** [[nearDupPairs]] over a PRE-SHINGLED `(idCol, _sh)` frame whose
    * persist lifetime the CALLER owns — the seam that lets the ingest
    * loop shingle a microbatch ONCE and share the pass between
    * intra-batch dedup, the index probe, and the append (at corpus
    * scale the shingle transform is the dominant map work; re-running
    * it per step tripled it). Returns the same checkpointed verified
    * (id1, id2, jaccard) pair set as the public form. */
  private[graft] def nearDupPairsSh(sh: DataFrame, idCol: String,
      threshold: Double, k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    // sigs feed BOTH sides of the banding self-join; the bucket-column
    // rename defeats identical-subtree exchange reuse, so persist
    val sigs = minhashSignaturesSh(sh, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(sigs, idCol, bands, rowsPerBand)
    CacheScope.releasing(sigs) {
      jaccardVerifySh(sh, cands, idCol, threshold)
    }
  }

  /** 64-bit SimHash fingerprint over the doc's distinct tokens: bit b of
    * the fingerprint is the sign of Σ_tokens (±1 by bit b of
    * xxhash64(token)) — a NARROW MAP (one codegen'd traversal per doc,
    * graft.functions.SimHash64, bit-identical to the explode + 64-sum
    * groupBy it replaces: integer sums are order-free). Near-dups then
    * cluster by fingerprint equality (or small Hamming distance via
    * banding the 64 bits, same trick as LSH). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.VectorFunctions.simhash64(
        array_distinct(split(col(textCol), " "))).as("simhash"))

  /** Hamming distance between two 64-bit fingerprints (popcount of XOR) —
    * the SimHash near-dup metric. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Train/test CONTAMINATION check — the decontamination primitive: for
    * each test document, how many of its distinct word n-gram shingles
    * appear anywhere in the train split. Test examples sharing long
    * n-grams with training data inflate evals; this finds them so they
    * can be dropped or rewritten.
    *
    * Plan: one distinct over the train shingle set (shuffle on the
    * shingle's xxhash64 — 8 bytes per gram instead of the raw n-gram
    * string, the same fixed-width-hash trick the span family uses for
    * `_gh`; at web scale the train distinct is the dominant shuffle and
    * strings average several× the hash width), one left-semi equi-join
    * test-hash→train-hash, one groupBy per test doc — all
    * key-partitioned, no cartesian, train set never collected. Counts
    * are exact up to 64-bit hash collisions (birthday bound ~1e-8 at
    * 1e5 distinct grams; a collision can overcount one doc by one).
    * Output: (idCol, n_contaminated) for test docs with ≥ 1 shared
    * shingle (clean docs are absent — anti-join against this result to
    * keep them). */
  def contamination(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val trainSh = train
      .select(explode(shingles(col(textCol), n)).as("_s0"))
      .select(xxhash64(col("_s0")).as("_s")).distinct()
    val testSh = test
      .select(col(idCol), explode(shingles(col(textCol), n)).as("_s0"))
      .select(col(idCol), xxhash64(col("_s0")).as("_s"))
    testSh.join(trainSh, Seq("_s"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
  }

  /** TRAIN/TEST LEAKAGE AUDIT — the eval-protocol check that closes the
    * loop between splitting (Sampling.groupSplit / stratifiedSplit) and
    * dedup: count the duplicate pairs that STRADDLE split boundaries.
    * Any such pair inflates eval scores (the model has seen the test
    * doc's twin); a sound pipeline dedups BEFORE splitting or splits by
    * a dup-closed group key, and this operator is the audit proving it
    * happened. Same fingerprint-bucket shape as [[exact]]: one groupBy
    * on the normalized-text hash, pairs expand only WITHIN a duplicate
    * bucket (Σ|bucket|² over real dup groups — tiny by construction in
    * a mostly-deduped corpus, and the quadratic member is the thing
    * being counted, not the corpus).
    *
    * Output: (split_a, split_b, n_pairs) for split_a ≤ split_b with
    * n_pairs ≥ 1 — off-diagonal rows are the leaks; a diagonal row
    * (intra-split dups) is waste, not leakage. */
  def leakageAudit(df: DataFrame, idCol: String, textCol: String,
      splitCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("_id"), col(splitCol).as("_sp"),
      // internal join key: 16-byte md5 binary — EXACT identity (a
      // 64-bit hash would report false cross-split leaks on birthday
      // collisions, poisoning the very audit this produces), at half
      // the hex form's shuffle bytes
      TextOps.fingerprintBin(col(textCol)).as("_fp"))
    val a = keyed.select(col("_fp"), col("_id").as("_ida"),
      col("_sp").as("_spa"))
    val b = keyed.select(col("_fp"), col("_id").as("_idb"),
      col("_sp").as("_spb"))
    a.join(b, Seq("_fp"))
      .where(col("_ida") < col("_idb"))
      .select(least(col("_spa"), col("_spb")).as("split_a"),
        greatest(col("_spa"), col("_spb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Near-dup CLUSTERS from pairwise matches: connected components over
    * the (id1, id2) pair graph. Pairwise near-dup output alone leaves
    * chains split — a~b and b~c never emits (a, c) — but dedup must treat
    * the whole chain as ONE duplicate group, so the transitive closure is
    * the real cluster structure. GraphX connected components (Pregel
    * min-propagation — O(diameter) rounds, each a shuffle on the edge
    * partitioning) with doc ids AS vertex ids: the component id GraphX
    * assigns is the component's minimum vertex id, i.e. exactly the
    * min-member canonical id — no remapping join needed. Docs in `ids`
    * appearing in no pair form their own singleton cluster.
    *
    * Input ids must be integral (they become VertexIds).
    * Output: (idCol, cluster) with cluster = min doc id of the group. */
  def clusters(ids: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    import org.apache.spark.storage.StorageLevel
    val spark = ids.sparkSession
    import spark.implicits._
    val es = pairs
      .select(col("id1").cast("long"), col("id2").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val cc = Graph.fromEdges(es, (), StorageLevel.MEMORY_AND_DISK,
        StorageLevel.MEMORY_AND_DISK)
      .connectedComponents().vertices
    val comp = cc.toDF(idCol, "cluster")
    ids.select(col(idCol).cast("long").as(idCol))
      .join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol)).as("cluster"))
  }

  /** Deduplicate by near-dup clusters: keep ONE representative row per
    * cluster — the minimum-id member (deterministic, content-derived when
    * ids are). This is the step that actually REMOVES duplicates from a
    * training corpus once [[nearDupPairs]] / [[ppJoinCandidates]] /
    * [[simhash]]-style pair evidence is in hand. */
  def canonicalize(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val canonical = clusters(df.select(col(idCol)), idCol, pairs)
      .where(col(idCol) === col("cluster")).select(col(idCol))
    df.join(canonical, Seq(idCol), "left_semi")
  }

  /** EXACT SUBSTRING dedup, span detection — the document-internal
    * complement of whole-document dedup, after Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): a span is duplicated when every length-`n`
    * token window inside it occurs MORE THAN ONCE in the corpus
    * (including twice within one document — boilerplate headers,
    * license blocks, templated paragraphs). Whole-doc dedup
    * ([[exact]], [[nearDupPairs]]) never sees these: the documents
    * differ, only passages repeat.
    *
    * The paper builds a corpus-wide suffix array — inherently
    * single-machine. The Spark-first equivalent: (1) one NARROW pass
    * expands each doc into its n-gram windows (position + xxhash64 of
    * the window — 8 bytes ride the shuffle, never the token strings);
    * (2) a map-side-combinable groupBy on the gram hash counts
    * occurrences (partial aggregation: one (gram, count) partial per
    * mapper rides the shuffle, so a boilerplate gram occurring 10⁹
    * times costs the same as one occurring twice — see
    * [[repeatedGrams]]), and a semi-join flags the repeated windows;
    * (3) per-doc gaps-and-islands merges overlapping/adjacent
    * duplicated windows into maximal spans (a shuffle on doc id).
    * Every shuffle carries ~tokens·8-byte rows or less — linear in
    * corpus size, skew-proof on hot grams, the shape a 100 TB run
    * needs; the suffix array's output is recovered for every
    * duplication of length ≥ n (shorter repeats are below the n-gram
    * floor by construction, the same `n` knob as the paper's minimum
    * match length).
    *
    * Grouping on the 64-bit gram hash instead of the token string is
    * what keeps the shuffle narrow; a collision would fabricate a
    * false duplicated window. With d distinct grams the expected
    * fabricated-pair count is d²/2⁶⁵ — at 10¹⁰ grams (≈ 100 TB of
    * text) that is ~0.005 windows corpus-wide, and a fabricated
    * window still needs its island to survive merging. Accepted and
    * documented rather than guarded: the string-group alternative
    * ships the full n-token window through the shuffle, n× the bytes.
    *
    * Tokenization is the engine-wide single-space split
    * (TextOps.tokens); docs with fewer than `n` tokens have no
    * windows and emit nothing. Output: (idCol, span_start, span_end,
    * span_tokens) — token positions 0-based inclusive, maximal spans
    * (overlapping and back-to-back windows merged). */
  /** (_id, _pos, _gh) rows: every length-`n` token window of every doc,
    * as its position and the xxhash64 of its tokens — the NARROW
    * expansion both span operators start from (no join, no shuffle). */
  private def gramWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "window length n must be >= 1")
    df.select(col(idCol).as("_id"), TextOps.tokens(col(textCol)).as("_t"))
      .where(size(col("_t")) >= n)
      .select(col("_id"), posexplode(
          transform(sequence(lit(0), size(col("_t")) - n),
            i => xxhash64(concat_ws(" ", slice(col("_t"), i + 1, lit(n))))))
        .as(Seq("_pos", "_gh")))
  }

  /** Merge flagged window starts (_id, _pos) into maximal spans:
    * gaps-and-islands per doc — a window starting ≤ prev_start + n
    * overlaps or touches the previous window's span. ONE shuffle, on
    * the doc id. Output: idCol, span_start, span_end, span_tokens. */
  private def mergeIslands(dup: DataFrame, idCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col("_id")).orderBy(col("_pos"))
    dup
      .withColumn("_new",
        when(col("_pos") <= lag(col("_pos"), 1).over(w) + n, 0)
          .otherwise(1))
      .withColumn("_island", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_id"), col("_island"))
      .agg(min(col("_pos")).cast("long").as("span_start"),
        (max(col("_pos")) + n - 1).cast("long").as("span_end"))
      .select(col("_id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** The hashes of every gram occurring MORE THAN ONCE corpus-wide, via
    * a map-side-combinable groupBy — NOT a window over the gram key. A
    * window partition must materialize every raw occurrence of a gram
    * in ONE task, and the exact grams these operators exist to catch
    * (boilerplate — "all rights reserved …") occur 10⁸–10⁹ times at web
    * scale: one straggler task spilling a hot gram's whole row set.
    * Partial aggregation instead carries ONE (gram, count) row per
    * mapper per distinct gram through the shuffle, so a hot gram costs
    * the same as a cold one; the subsequent probe join is a shuffled
    * join AQE's skew handling can split, which a window never can. */
  private def repeatedGrams(gw: DataFrame): DataFrame =
    gw.groupBy(col("_gh")).agg(count(lit(1)).as("_occ"))
      .where(col("_occ") > 1)
      .select(col("_gh"))

  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    // windows whose gram repeats corpus-wide: combinable gram count +
    // semi-join back (see repeatedGrams for why not a window). The
    // window expansion is evaluated twice — both are NARROW re-reads of
    // the scan, cheaper at scale than persisting tokens·8B rows.
    val gw = gramWindows(df, idCol, textCol, n)
    val dup = gw.join(repeatedGrams(gw), Seq("_gh"), "left_semi")
      .select(col("_id"), col("_pos"))
    mergeIslands(dup, idCol, n)
  }

  /** PER-DOC DUPLICATE-GRAM FRACTION — the memorization-risk /
    * curation metric over the [[duplicateSpans]] machinery: what share
    * of a document's length-`n` token windows occur (verbatim) anywhere
    * else in the corpus. RefinedWeb/ExactSubstr-style pipelines
    * threshold on exactly this number to drop boilerplate-heavy or
    * widely-copied documents BEFORE paying span surgery. Duplicated
    * windows come from the same skew-proof machinery as
    * [[duplicateSpans]] (combinable gram count + semi-join — see
    * [[repeatedGrams]]); the per-doc window TOTAL needs no shuffle at
    * all — it is `max(tokens − n + 1, 0)`, computed narrowly on the
    * doc scan. `dup_frac` is a ratio of two integer counts —
    * bit-identical across engines. Docs with fewer than `n` tokens
    * (or NULL text) have no windows and report 0 / 0 / 0.0 (nothing
    * to memorize at this gram size).
    * Output: (idCol, n_windows, n_dup_windows, dup_frac rounded 4). */
  def dupGramFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val gw = gramWindows(df, idCol, textCol, n)
    val nd = gw.join(repeatedGrams(gw), Seq("_gh"), "left_semi")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("_nd"))
      .withColumnRenamed("_id", idCol)
    df.select(col(idCol),
        greatest(size(TextOps.tokens(col(textCol))) - (n - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(nd, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("_nd"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("_nd").cast("double") / col("n_windows"),
          lit(0.0)), 4).as("dup_frac"))
  }

  /** EXACT SUBSTRING dedup, removal — rewrite each document with its
    * [[duplicateSpans]] token ranges deleted (the paper's ExactSubstr
    * treatment: cut the duplicated text, keep the remainder). The
    * span set rides back to the docs as ONE per-doc array (a groupBy
    * on doc id + a join on doc id — both hash-partitioned on the same
    * key), and the rewrite is a narrow filter-by-position over the
    * token array; docs with no duplicated spans pass through intact.
    *
    * Output: (idCol, textCol, removed_tokens) — textCol holds the
    * cleaned text (empty string when every token was duplicated),
    * removed_tokens the count of deleted positions. */
  def stripDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame =
    stripSpans(df, idCol, textCol, duplicateSpans(df, idCol, textCol, n))

  /** Rewrite each document with the given token ranges deleted — the
    * shared removal half of [[stripDuplicateSpans]] (spans from
    * [[duplicateSpans]]) and [[stripContamination]] (spans from
    * [[contaminatedSpans]]); any (idCol, span_start, span_end) frame
    * works. The span set rides back to the docs as ONE per-doc array (a
    * groupBy on doc id + a join on doc id — both hash-partitioned on
    * the same key), and the rewrite is a narrow filter-by-position over
    * the token array; docs with no spans pass through intact.
    *
    * Output: (idCol, textCol, removed_tokens) — textCol holds the
    * cleaned text (empty string when every token was covered),
    * removed_tokens the count of deleted positions (spans are assumed
    * disjoint per doc, as both producers guarantee). */
  def stripSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("_spans"))
    df.join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        array_join(filter(TextOps.tokens(col(textCol)),
          (_, i) => !exists(coalesce(col("_spans"),
              array().cast("array<struct<s:long,e:long>>")),
            sp => i >= sp("s") && i <= sp("e"))), " ").as(textCol),
        coalesce(aggregate(col("_spans"),
            lit(0L), (acc, sp) => acc + sp("e") - sp("s") + 1),
          lit(0L)).as("removed_tokens"))
  }

  /** TEST-SET DECONTAMINATION, span detection — the surgical form of
    * [[contamination]] (which only counts shared shingles per doc):
    * every maximal train-doc token span whose length-`n` windows ALL
    * appear somewhere in the test corpus. Dropping whole contaminated
    * documents throws away the 99% of a long doc that never touched
    * the benchmark; deleting exactly these spans keeps it.
    *
    * Same machinery as [[duplicateSpans]] — narrow window expansion on
    * BOTH corpora, then a semi-join of train windows against the
    * distinct test window hashes (8-byte keys; at 100 TB the test side
    * is a benchmark suite, millions of windows at most, so AQE
    * broadcasts it and the train corpus never shuffles), then the
    * per-doc island merge. The train side is never compared against
    * itself — run [[duplicateSpans]] for that.
    *
    * Output: (idCol, span_start, span_end, span_tokens) over train
    * docs, same shape as [[duplicateSpans]] — feed to [[stripSpans]]. */
  def contaminatedSpans(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    val testGrams = gramWindows(test, idCol, textCol, n)
      .select(col("_gh")).distinct()
    val hit = gramWindows(train, idCol, textCol, n)
      .join(testGrams, Seq("_gh"), "left_semi")
      .select(col("_id"), col("_pos"))
    mergeIslands(hit, idCol, n)
  }

  /** [[contaminatedSpans]] + [[stripSpans]]: the train corpus rewritten
    * with every test-overlapping token span deleted. */
  def stripContamination(train: DataFrame, test: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame =
    stripSpans(train, idCol, textCol,
      contaminatedSpans(train, test, idCol, textCol, n))
}
