package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Large-scale deduplication operators for training-data pipelines.
  *
  * All five variants are pure DataFrame transformations: linear-time
  * explode/agg plus shuffles keyed only on bucket/band columns, so every
  * stage partitions by a bounded key and none does a driver-side collect
  * or an O(n²) cross product. At 100 TB the dominant cost is the
  * band-bucket shuffle, which is the minimum any LSH scheme pays; skewed
  * buckets (boilerplate docs) are bounded by the `maxBucketSize` cap in
  * [[minhashCandidates]].
  */
object Dedup {

  /** The ONE default banding model, shared by every default-parameter
    * minhash entry point — candidate generators, one-call drops, AND
    * their audits. An audit only describes the run it claims to audit
    * if both use the same (numHashes, bands, shingleSize); hoisting the
    * defaults here makes that true by construction instead of by
    * coincidence (changing one callsite's default can no longer
    * silently desynchronize the audit).
    */
  val DefaultNumHashes = 16
  val DefaultBands = 4
  val DefaultShingleSize = 3

  /** Exact dedup: hash-groupBy on content, keep the smallest id as the
    * canonical representative. One shuffle on the content hash.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame =
    df.groupBy(md5(concat_ws("\u0000", contentCols.map(col): _*)).as("content_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count")
      )

  /** Streaming exact dedup: keep the first arrival per key, dropping
    * duplicates that arrive within the watermark delay
    * (`dropDuplicatesWithinWatermark` — state is pruned as the
    * watermark advances, so long-running streams don't accumulate
    * unbounded key state; this is the streaming face of [[exact]]).
    */
  def streamingExact(df: DataFrame, keyCols: Seq[String], tsCol: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCols)

  /** Word n-gram shingles over a PRE-SPLIT token-array column. The
    * tokens must be materialized as their own column first — inlining
    * `split(text)` here would re-evaluate it for every window index
    * (O(words²) per document).
    */
  def shinglesOf(tokArrayCol: String, n: Int = 3): Column =
    expr(
      s"transform(sequence(0, greatest(size($tokArrayCol) - $n, 0)), " +
        s"i -> concat_ws(' ', slice($tokArrayCol, i + 1, $n)))"
    )

  /** Same shingles straight from the TEXT column via the native
    * [[graft.functions.WordShingles]] expression — one fused
    * split+window loop per row, no token-array materialization, no
    * interpreted lambda. Byte-identical to `split` + [[shinglesOf]]
    * (spec-proven), so shingle-based oracles hold unchanged.
    */
  def shinglesNative(textCol: Column, n: Int = 3): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WordShingles(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol),
        n
      )
    )

  /** Pick the LSH banding (bands, rowsPerBand) for a target Jaccard
    * threshold — the MMDS ch.3 S-curve tuning, closed over the divisors
    * of `numHashes`. A document pair at similarity s becomes a candidate
    * with probability P(s) = 1 − (1 − s^r)^b; the chosen (b, r)
    * minimizes the total error mass
    * ∫₀ᵗ P(s) ds  +  ∫ₜ¹ (1 − P(s)) ds
    * (false-candidate work below the threshold + missed pairs above
    * it), evaluated by a fixed-step midpoint rule so the answer is
    * deterministic for a given (numHashes, threshold). The classic rule
    * of thumb t ≈ (1/b)^(1/r) is where P crosses ~½ — the minimizer
    * lands at the divisor pair nearest that curve.
    *
    * Driver-side pure math (no Spark plan): call it once, then pass
    * `bands` to [[minhashCandidates]] / [[bandedKeys]]. At 100 TB the
    * band count is THE recall/cost dial — more bands (shorter rows)
    * widens recall but multiplies band-shuffle rows by b, so tuning to
    * the threshold you verify at beats hand-picking.
    */
  def lshBandPlan(numHashes: Int, threshold: Double): (Int, Int) = {
    require(numHashes >= 2, s"numHashes must be >= 2, got $numHashes")
    require(threshold > 0.0 && threshold < 1.0, s"threshold must be in (0,1), got $threshold")
    val divisors =
      (1 to numHashes).filter(numHashes % _ == 0).filter(b => numHashes / b >= 1)
    def errorMass(b: Int, r: Int): Double = {
      val steps = 1000
      var err = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
        err += (if (s < threshold) p else 1.0 - p) / steps
        i += 1
      }
      err
    }
    divisors
      .map(b => (b, numHashes / b))
      .minBy { case (b, r) => (errorMass(b, r), b) }
  }

  /** [[minhashCandidates]] with the banding chosen by [[lshBandPlan]]
    * for a target Jaccard threshold instead of a hand-picked band count.
    */
  def minhashCandidatesTuned(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = DefaultNumHashes,
      shingleSize: Int = DefaultShingleSize,
      maxBucketSize: Option[Int] = None,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val (bands, _) = lshBandPlan(numHashes, threshold)
    minhashCandidates(df, idCol, textCol, numHashes, bands, shingleSize, maxBucketSize, hashFamily)
  }

  /** MinHash + LSH banding near-dup candidate pairs.
    *
    * Classic pipeline (Broder '97 / MMDS ch.3): shingle → per-doc
    * minhash signature (`numHashes` hash functions via the
    * Kirsch-Mitzenmacher construction h_j = (h1 + j·h2) mod 2³² over ONE
    * base hash per shingle — not `numHashes` full hashes) → band the
    * signature (`bands` bands of `numHashes/bands` rows) → docs sharing
    * any band bucket are candidates.
    *
    * `hashFamily`:
    *   - [[HashFamily.Md5]] (default): base hash = md5, h1/h2 from its
    *     hex halves — exactly mirrorable in the DuckDB oracle.
    *   - [[HashFamily.XxHash64]]: h_j = xxhash64(shingle, j) — the
    *     production family (codegen'd 64-bit mix, no hex round-trip);
    *     same plan shape, not oracle-mirrorable.
    *
    * Scale: explode(shingles) is linear; the signature agg shuffles by
    * doc id; the candidate join shuffles by (band_idx, band_hash) — a
    * well-distributed key. No cross product: the self-join is an
    * equi-join Catalyst executes as a shuffled hash join on the band key.
    */
  def minhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      maxBucketSize: Option[Int] = None,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val banded =
      bandedKeys(df, idCol, textCol, numHashes, bands, shingleSize, maxBucketSize, hashFamily)
    // self-join on the banded signatures: pin ONE exchange on the band
    // key so both join inputs are GUARANTEED to consume the same
    // runtime shuffle stage — without the pin, reuse depends on both
    // branches canonicalizing identically after per-branch filter
    // pushdown, which is exactly what silently broke in
    // substringDupStats (a re-run of the whole signature pipeline)
    val bandedPart = banded.repartition(col("band_idx"), col("band_hash"))
    bandedPart
      .alias("a")
      .join(
        bandedPart.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(col(s"a.$idCol").as("doc1"), col(s"b.$idCol").as("doc2"))
      .distinct()
  }

  /** Shared LSH banding stage: (id, band_idx, band_hash) per document —
    * minhash signature → bands, with the optional hot-bucket cap.
    * Consumed by the corpus self-join ([[minhashCandidates]]) and the
    * incremental cross-join ([[minhashCandidatesAgainst]]).
    *
    * Capped-path requirements (r16 ADVICE):
    *  - ids must be NON-NULL on the capped path: the size count and the
    *    [[graft.functions.BoundedHeap.topKBy]] membership both skip null ids
    *    (deliberately the SAME predicate, so size and membership always
    *    agree — a null-id row can neither inflate a bucket past the cap
    *    nor silently vanish from a kept bucket).
    *  - the cap's `topKBy` is a TypedImperativeAggregate grouped by
    *    the very-high-cardinality band key; any session running it MUST
    *    raise `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`
    *    (default 128 distinct groups per task!) or ObjectHashAggregate
    *    silently degrades to a per-task sort pass. Every session from
    *    [[graft.GraftSession]] pins 16M; a deployment embedding graft
    *    must set it too (SCALE.md, CLAUDE.md invariant).
    */
  private def bandedKeys(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      maxBucketSize: Option[Int],
      hashFamily: HashFamily
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sh = df
      .select(col(idCol), explode(shinglesNative(col(textCol), shingleSize)).as("shingle"))
    val hashed = hashFamily match {
      case HashFamily.Md5 =>
        sh.withColumn("__hx", md5(col("shingle").cast("binary")))
          .withColumn("__h1", conv(substring(col("__hx"), 1, 8), 16, 10).cast("long"))
          .withColumn("__h2", conv(substring(col("__hx"), 9, 8), 16, 10).cast("long"))
      case HashFamily.XxHash64 => sh
    }
    val hashCols = (1 to numHashes).map { j =>
      val hj = hashFamily match {
        case HashFamily.Md5 =>
          (col("__h1") + lit(j.toLong) * col("__h2")) % lit(4294967296L)
        case HashFamily.XxHash64 => xxhash64(col("shingle"), lit(j))
      }
      min(hj).as(s"h$j")
    }
    val sig = hashed.groupBy(col(idCol)).agg(hashCols.head, hashCols.tail: _*)
    val bandArray = array((0 until bands).map { b =>
      val bandCols = (1 to rows).map(r => col(s"h${b * rows + r}"))
      hashFamily match {
        case HashFamily.Md5 =>
          md5(concat_ws("|", bandCols.map(_.cast("string")): _*).cast("binary"))
        case HashFamily.XxHash64 => xxhash64(bandCols: _*).cast("string")
      }
    }: _*)
    val banded0 = sig.select(col(idCol), posexplode(bandArray).as(Seq("band_idx", "band_hash")))
    // Hot-bucket cap: a bucket with b members yields b² candidate pairs,
    // so one boilerplate-heavy bucket can dominate the whole job. Buckets
    // over the cap are dropped here (route them to exact dedup instead —
    // members that similar share a content hash anyway). What was dropped
    // is never silent: [[minhashDroppedBuckets]] reports the excluded
    // buckets + sizes for the same parameters.
    //
    // SINGLE CHAIN, deliberately: the obvious form — a bucket-size
    // aggregate left-semi-joined back onto the banded rows — references
    // the banded subtree TWICE, and the two copies are canonically
    // different (one carries the count partial), so Catalyst re-runs
    // the whole shingle→minhash kernel for the second reference (the
    // Classifier.auc diamond; the r16 plan audit measured the capped
    // operators paying 2× their banding cost). Instead ONE aggregate
    // carries the bucket size AND its membership: the bounded
    // [[graft.functions.BoundedHeap.topKBy]] collect keeps at most cap+1 ids
    // per bucket — complete for every bucket that survives the size
    // filter, and O(cap) memory for the over-cap boilerplate buckets
    // that get dropped anyway — then explodes the kept buckets back to
    // rows. One banding pass, no self-join, no sort.
    maxBucketSize.fold(banded0) { cap =>
      require(cap > 0 && cap < Int.MaxValue, s"maxBucketSize must be in (0, 2^31), got $cap")
      banded0
        .groupBy(col("band_idx"), col("band_hash"))
        .agg(
          // count(idCol), not count(*): topKBy skips null ordering
          // keys, so size and membership must use the same null predicate
          // or null-id rows would count toward the cap yet vanish from
          // the kept members (r16 ADVICE)
          count(col(idCol)).as("__bsize"),
          graft.functions.BoundedHeap.topKBy(col(idCol), col(idCol), cap + 1).as("__members"))
        .filter(col("__bsize") <= cap)
        .select(explode(col("__members")).as(idCol), col("band_idx"), col("band_hash"))
    }
  }

  /** Buckets a hot-bucket cap EXCLUDES, with their sizes — the coverage
    * audit for every capped candidate generator. A cap keeps the pair
    * count bounded, but what it drops is by construction the MOST
    * duplicated content (boilerplate — exactly what a dedup run most
    * wants to see); a run that caps silently cannot claim it covered
    * everything. One row per over-cap (band_idx, band_hash) bucket,
    * `bucket_size` = member documents. Empty ⇒ the cap excluded nothing
    * and the capped run was exhaustive. Lazy like every frame here: the
    * audit costs one banding + aggregation only when evaluated; reuse a
    * cached/persisted band table ([[bandedSignatures]] with no cap +
    * [[droppedBucketsFromBanded]]) to audit without re-shingling.
    */
  def minhashDroppedBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxBucketSize: Int,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame =
    droppedBucketsFromBanded(
      bandedKeys(docs, idCol, textCol, numHashes, bands, shingleSize, None, hashFamily),
      maxBucketSize)

  /** [[minhashDroppedBuckets]] over a precomputed band table
    * (band_idx, band_hash[, ...]) — the zero-reshingle audit path for a
    * persisted [[bandedSignatures]] table.
    *
    * WARNING: the band table MUST have been built UNCAPPED
    * ([[bandedSignatures]] with `maxBucketSize = None`). A capped table
    * has already removed its over-cap buckets, so auditing it returns
    * empty — the exact silent "covered everything" claim this audit
    * exists to prevent. The frame alone cannot reveal how it was built;
    * keep audit tables uncapped by construction (the cap belongs on the
    * candidate join, not on the persisted signatures).
    */
  def droppedBucketsFromBanded(banded: DataFrame, maxBucketSize: Int): DataFrame = {
    val keyCols = Seq("band_idx", banded.columns.find(_ == "band_bits").getOrElse("band_hash"))
    // size via count(id), not count(*): the capped generator sizes each
    // bucket with count(idCol) because topKBy skips null ordering
    // keys (see bandedKeys) — the audit must apply the SAME null
    // predicate or a null-id row makes it report a bucket as over-cap
    // that the cap actually kept (r17 ADVICE). The id column is whatever
    // the band table carries besides the band key and the ingest stamp.
    val idCol = banded.columns
      .find(c => !keyCols.contains(c) && c != "ingest_batch")
      .map(col).getOrElse(lit(1))
    banded
      .groupBy(keyCols.map(col): _*)
      .agg(count(idCol).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
  }

  /** INCREMENTAL near-dup candidates: pair each NEW document against the
    * EXISTING corpus — the continuous-ingestion shape. The corpus is
    * already deduplicated, so re-running the self-join over
    * corpus ∪ batch would re-pair the whole corpus with itself for
    * nothing; here each side is banded independently and the join is
    * new×corpus ONLY: cost scales with |batch| + the touched corpus
    * buckets, not |corpus|². At 100 TB the corpus banding is computed
    * once per batch cadence (or maintained as a banded-signature table)
    * while the batch side is small. Ids must be distinct across the two
    * inputs. Output: (new_id, corpus_id).
    */
  def minhashCandidatesAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      maxBucketSize: Option[Int] = None,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame =
    candidatesAgainstBanded(
      newDocs,
      bandedSignatures(corpus, idCol, textCol, numHashes, bands, shingleSize,
        maxBucketSize, hashFamily),
      idCol, textCol, numHashes, bands, shingleSize, maxBucketSize, hashFamily)

  /** The corpus band table of [[minhashCandidatesAgainst]], exposed so a
    * batch-cadence pipeline computes it ONCE and reuses it: persist with
    * [[graft.sources.Bucketing.materialize]] on (band_idx, band_hash)
    * (or plain parquet) and each arriving batch joins against the stored
    * table instead of re-shingling the 100 TB corpus per batch. Columns:
    * (idCol, band_idx, band_hash).
    *
    * Persist the table UNCAPPED (`maxBucketSize = None`): it then also
    * serves [[droppedBucketsFromBanded]] as a free audit source, and the
    * hot-bucket cap can be applied per-join instead of being baked
    * irreversibly into the stored signatures (see the WARNING on
    * [[droppedBucketsFromBanded]]).
    */
  def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      maxBucketSize: Option[Int] = None,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame =
    bandedKeys(docs, idCol, textCol, numHashes, bands, shingleSize, maxBucketSize, hashFamily)

  /** [[minhashCandidates]]' self-join over a precomputed (possibly
    * persisted) band table from [[bandedSignatures]] — for the recurring
    * full-corpus dedup audit: band once at write (ideally bucketed on
    * the band key), self-join many times without re-shingling.
    */
  def candidatesFromBanded(banded: DataFrame, idCol: String): DataFrame = {
    val part = banded.repartition(col("band_idx"), col("band_hash"))
    part
      .alias("a")
      .join(
        part.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(col(s"a.$idCol").as("doc1"), col(s"b.$idCol").as("doc2"))
      .distinct()
  }

  /** Per-ROW banding: the same minhash math as [[bandedSignatures]] but
    * computed with array folds (`array_min` over per-shingle hash
    * arrays) instead of explode + groupBy(id). Batch paths use the
    * aggregation form — it stays in whole-stage codegen and measured
    * 15–40% faster (higher-order lambdas evaluate interpreted) — but a
    * STREAM cannot run a keyed aggregation without watermark-delayed
    * emission, and this form is pure per-row column math: it bands each
    * micro-batch row immediately. Band values are bit-identical to the
    * aggregation form (spec-pinned in DedupSpec).
    */
  private[graft] def bandedKeysPerRow(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleSize: Int,
      hashFamily: HashFamily
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rows = numHashes / bands
    val sh = df.select(col(idCol), shinglesNative(col(textCol), shingleSize).as("__sh"))
    val hashed = hashFamily match {
      case HashFamily.Md5 =>
        sh.withColumn("__hx", transform(col("__sh"), s => md5(s.cast("binary"))))
          .withColumn("__h1",
            transform(col("__hx"), x => conv(substring(x, 1, 8), 16, 10).cast("long")))
          .withColumn("__h2",
            transform(col("__hx"), x => conv(substring(x, 9, 8), 16, 10).cast("long")))
      case HashFamily.XxHash64 => sh
    }
    val sigCols = (1 to numHashes).map { j =>
      val hj = hashFamily match {
        case HashFamily.Md5 =>
          array_min(zip_with(col("__h1"), col("__h2"),
            (a, b) => (a + lit(j.toLong) * b) % lit(4294967296L)))
        case HashFamily.XxHash64 =>
          array_min(transform(col("__sh"), s => xxhash64(s, lit(j))))
      }
      hj.as(s"h$j")
    }
    val sig = hashed.select(col(idCol) +: sigCols: _*)
    val bandArray = array((0 until bands).map { b =>
      val bandCols = (1 to rows).map(r => col(s"h${b * rows + r}"))
      hashFamily match {
        case HashFamily.Md5 =>
          md5(concat_ws("|", bandCols.map(_.cast("string")): _*).cast("binary"))
        case HashFamily.XxHash64 => xxhash64(bandCols: _*).cast("string")
      }
    }: _*)
    sig.select(col(idCol), posexplode(bandArray).as(Seq("band_idx", "band_hash")))
  }

  /** STREAMING incremental near-dup candidates: band each arriving
    * document per row ([[bandedKeysPerRow]] — no aggregation, so no
    * watermark delay) and stream-static join it against a persisted
    * corpus band table from [[bandedSignatures]]. The static side is
    * read fresh per micro-batch by Spark's stream-static join; bucket
    * it on (band_idx, band_hash) to keep the per-batch join
    * exchange-free. A pair that matches in several bands is emitted
    * once per matching band (dedup downstream — `distinct` would be a
    * stateful streaming aggregation); verification/drop runs in
    * `foreachBatch`, where the batch API ([[verifyCandidates]],
    * [[dropIncrementalDuplicates]]) applies directly.
    */
  def streamingIncrementalCandidates(
      streamDocs: DataFrame,
      bandedCorpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    require(streamDocs.isStreaming, "use minhashCandidatesAgainst for batch inputs")
    bandedKeysPerRow(streamDocs, idCol, textCol, numHashes, bands, shingleSize, hashFamily)
      .alias("n")
      .join(
        bandedCorpus.alias("c"),
        col("n.band_idx") === col("c.band_idx") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(
        col(s"n.$idCol").as("new_id"),
        col(s"c.$idCol").as("corpus_id"),
        col("n.band_idx").as("band_idx"))
  }

  /** [[minhashCandidatesAgainst]] with a precomputed (possibly persisted)
    * corpus band table from [[bandedSignatures]] — band parameters must
    * match the ones the table was built with.
    */
  def candidatesAgainstBanded(
      newDocs: DataFrame,
      bandedCorpus: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = DefaultNumHashes,
      bands: Int = DefaultBands,
      shingleSize: Int = DefaultShingleSize,
      maxBucketSize: Option[Int] = None,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val bn =
      bandedKeys(newDocs, idCol, textCol, numHashes, bands, shingleSize, maxBucketSize, hashFamily)
        .repartition(col("band_idx"), col("band_hash"))
    val bc = bandedCorpus.repartition(col("band_idx"), col("band_hash"))
    bn.alias("n")
      .join(
        bc.alias("c"),
        col("n.band_idx") === col("c.band_idx") &&
          col("n.band_hash") === col("c.band_hash"))
      .select(col(s"n.$idCol").as("new_id"), col(s"c.$idCol").as("corpus_id"))
      .distinct()
  }

  /** One-call INCREMENTAL dedup: drop every new document that is a
    * verified near-duplicate of the existing corpus. Candidates from
    * [[minhashCandidatesAgainst]], exact shingle-Jaccard confirm, then
    * an anti-join on the condemned new ids — the corpus is canonical
    * and never modified, so no cluster labeling is needed (a new doc
    * matching ANY corpus doc is dropped). Within-batch duplicates are
    * NOT removed here — run [[dropNearDuplicates]] on the surviving
    * batch (bounded by the batch size, not the corpus) if ingestion
    * batches can self-duplicate.
    */
  def dropIncrementalDuplicates(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.4,
      maxBucketSize: Option[Int] = Some(1000),
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val cands = minhashCandidatesAgainst(
      newDocs, corpus, idCol, textCol,
      maxBucketSize = maxBucketSize, hashFamily = hashFamily)
      .select(col("new_id").as("doc1"), col("corpus_id").as("doc2"))
    val both = newDocs.select(col(idCol), col(textCol))
      .union(corpus.select(col(idCol), col(textCol)))
    val verified = verifyCandidates(cands, both, idCol, textCol, minJaccard = minJaccard)
    val losers = verified.select(col("doc1").as(idCol)).distinct()
    newDocs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact-Jaccard VERIFICATION of candidate pairs — the confirm step
    * after any LSH generator (banding admits false positives by
    * design; a real dedup pipeline verifies before deleting). Each
    * pair is scored with the true shingle-set Jaccard; cost is
    * bounded by the CANDIDATES (pairs ≪ corpus after banding + the
    * hot-bucket cap), two id-keyed equi-joins to fetch the shingle
    * sets, zero corpus self-joins.
    */
  def verifyCandidates(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      minJaccard: Double = 0.5
  ): DataFrame = {
    // shingle sets ONLY for docs that appear in a candidate pair — the
    // left-semi keeps the corpus scan from materializing per-doc
    // arrays for the (overwhelming at scale) non-candidate majority
    val candidateIds = pairs
      .select(explode(array(col("doc1"), col("doc2"))).as(idCol))
      .distinct()
    val sh = docs
      .join(candidateIds, Seq(idCol), "left_semi")
      .select(
        col(idCol),
        array_distinct(shinglesNative(col(textCol), n)).as("__s"))
    pairs
      .join(sh.select(col(idCol).as("doc1"), col("__s").as("__s1")), "doc1")
      .join(sh.select(col(idCol).as("doc2"), col("__s").as("__s2")), "doc2")
      .withColumn(
        "jaccard",
        round(
          size(array_intersect(col("__s1"), col("__s2"))).cast("double") /
            size(array_union(col("__s1"), col("__s2"))), 6))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** One-call near-duplicate REMOVAL — the composed pipeline a user
    * actually wants: minhash-LSH candidates → exact-Jaccard confirm →
    * connected components → drop every cluster member except the
    * smallest id. Non-candidates pass through untouched; the corpus is
    * only ever touched by equi-keyed stages (the LSH band shuffle, the
    * candidate-bounded verify joins, the final anti-join on the loser
    * ids).
    *
    * Production knobs are threaded through, with scale-safe defaults:
    * `maxBucketSize` caps hot band buckets at 1000 members (a b-member
    * bucket yields b² candidate pairs — one boilerplate bucket would
    * otherwise dominate the whole job; pass `None` to disable),
    * `hashFamily` selects the minhash base hash, and `checkpointDir`
    * makes the label-propagation loop survive executor loss (see
    * [[clusters]]).
    */
  def dropNearDuplicates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.4,
      maxIter: Int = 20,
      maxBucketSize: Option[Int] = Some(1000),
      hashFamily: HashFamily = HashFamily.Md5,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    val verified = verifyCandidates(
      minhashCandidates(docs, idCol, textCol,
        maxBucketSize = maxBucketSize, hashFamily = hashFamily),
      docs, idCol, textCol, minJaccard = minJaccard)
    // Materialize the (candidate-bounded) verified pairs ONCE, then
    // probe for the ZERO-PAIR case (r19 optimization round): the
    // steady-state streaming trigger runs this within-batch pass on a
    // batch that almost never self-duplicates, and the old shape paid
    // the full label-propagation machinery — edge ckpt + label ckpt +
    // at least one join-round + convergence probe, 4+ jobs — to
    // propagate labels over an EMPTY pair set. Zero pairs ⇒ zero
    // losers ⇒ docs pass through unchanged, bit-identically. The
    // non-empty path is also no worse: [[clusters]] previously
    // materialized this same chain into its edge frame (referencing it
    // twice via the symmetrizing union); now the union reads the
    // checkpointed rows instead of re-deriving the chain.
    val pairs = verified.select(col("doc1"), col("doc2"))
    val pairsM =
      if (checkpointDir.isDefined) {
        checkpointDir.foreach(docs.sparkSession.sparkContext.setCheckpointDir)
        pairs.persist()
        try pairs.checkpoint()
        finally pairs.unpersist()
      } else pairs.localCheckpoint()
    if (pairsM.isEmpty) {
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(pairsM)
      docs
    } else {
      val labels = clusters(pairsM, "doc1", "doc2", maxIter, checkpointDir)
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(pairsM)
      val losers = labels.filter(col("node") =!= col("label")).select(col("node").as(idCol))
      docs.join(losers, Seq(idCol), "left_anti")
    }
  }

  /** [[dropNearDuplicates]] plus its coverage audit: `(kept,
    * droppedBuckets)` where `droppedBuckets` is
    * [[minhashDroppedBuckets]] for the same banding parameters — the
    * band buckets the cap excluded from candidate generation (empty
    * when `maxBucketSize` is None or nothing hit the cap). Both frames
    * are lazy; evaluating the audit costs one extra banding pass, so a
    * production run should log `droppedBuckets.count()` (and route the
    * over-cap content through exact dedup) rather than assume the
    * capped run covered everything.
    */
  def dropNearDuplicatesAudited(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.4,
      maxIter: Int = 20,
      maxBucketSize: Option[Int] = Some(1000),
      hashFamily: HashFamily = HashFamily.Md5,
      checkpointDir: Option[String] = None
  ): (DataFrame, DataFrame) = {
    val kept = dropNearDuplicates(
      docs, idCol, textCol, minJaccard, maxIter, maxBucketSize, hashFamily, checkpointDir)
    val dropped = maxBucketSize match {
      case Some(cap) =>
        minhashDroppedBuckets(docs, idCol, textCol, cap, hashFamily = hashFamily)
      case None =>
        // no cap ⇒ nothing excluded, by definition: an empty frame with
        // the audit schema (no banding plan is built, let alone run)
        emptyAuditFrame(docs)
    }
    (kept, dropped)
  }

  /** Empty (band_idx, band_hash, bucket_size) frame — the "nothing was
    * excluded" audit result, shared by the uncapped branches of the
    * audited drop variants.
    */
  private def emptyAuditFrame(like: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    like.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("band_idx", IntegerType),
        StructField("band_hash", StringType),
        StructField("bucket_size", LongType, nullable = false))))
  }

  /** [[dropIncrementalDuplicates]] plus its coverage audit: `(kept,
    * droppedBuckets)` where `droppedBuckets` reports the over-cap band
    * buckets on EACH side of the incremental join (`side` = "new" |
    * "corpus") for the same default banding parameters — a capped
    * new×corpus run silently skips exactly those buckets' pairings.
    * Empty when `maxBucketSize` is None or nothing hit the cap.
    *
    * Pipelines that maintain a PERSISTED uncapped corpus band table
    * ([[bandedSignatures]] with `maxBucketSize = None`) should instead
    * audit it for free with [[droppedBucketsFromBanded]] (zero
    * re-shingling) and only audit the (small) new side here.
    */
  def dropIncrementalDuplicatesAudited(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.4,
      maxBucketSize: Option[Int] = Some(1000),
      hashFamily: HashFamily = HashFamily.Md5
  ): (DataFrame, DataFrame) = {
    val kept = dropIncrementalDuplicates(
      newDocs, corpus, idCol, textCol, minJaccard, maxBucketSize, hashFamily)
    val dropped = maxBucketSize match {
      case Some(cap) =>
        minhashDroppedBuckets(newDocs, idCol, textCol, cap, hashFamily = hashFamily)
          .withColumn("side", lit("new"))
          .unionByName(
            minhashDroppedBuckets(corpus, idCol, textCol, cap, hashFamily = hashFamily)
              .withColumn("side", lit("corpus")))
      case None =>
        emptyAuditFrame(newDocs).withColumn("side", lit(null).cast("string"))
    }
    (kept, dropped)
  }

  /** SimHash fingerprint (Charikar '02): per-token hash bits vote ±1,
    * the sign of each bit-sum forms the fingerprint. `bits` ≤ 32 here —
    * bit i comes from hex digit i of md5(token), so 16 bits per md5 is
    * the natural width; near-dups differ in few bits (compare via
    * hamming distance or exact match on the fingerprint).
    *
    * One native pass per document — zero shuffle, zero explode.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits <= 32, "simhash over md5 hex digits supports <= 32 bits")
    // one native pass per document — ZERO shuffle (the composed
    // explode + vote-sum aggregation shipped every token row through
    // the per-doc exchange; bit-identity is spec-pinned in DedupSpec
    // against [[simhashComposed]])
    df.select(
      col(idCol),
      org.apache.spark.sql.graftbridge.ColumnBridge
        .column(graft.functions.SimHashText(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)), bits))
        .as("fingerprint"))
  }

  /** 64-bit simhash fingerprints — the scale form (16-bit Hamming
    * bands at maxHamming = 3 instead of the 32-bit form's saturating
    * 8-bit bands; see [[graft.functions.SimHashText64]] for the
    * geometry and the measured sf100 quadratic it fixes). benchDefs /
    * spec surface only: the bit-of-md5-byte vote is not mirrorable in
    * engine-portable SQL.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      org.apache.spark.sql.graftbridge.ColumnBridge
        .column(graft.functions.SimHashText64(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol))))
        .as("fingerprint"))

  /** The composed (explode + hash-agg) twin of
    * [[graft.functions.SimHashText]] — the executable bit-identity
    * contract for the spec; not the hot path.
    */
  private[graft] def simhashComposed(
      df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val tok = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .select(col(idCol), md5(col("t").cast("binary")).as("h"))
    val voteSums = (1 to bits).map { i =>
      sum(when(substring(col("h"), i, 1) >= "8", 1).otherwise(-1)).as(s"s$i")
    }
    val fingerprint = (1 to bits)
      .map(i => when(col(s"s$i") > 0, lit(1L << (i - 1))).otherwise(0L))
      .reduce(_ + _)
    tok
      .groupBy(col(idCol))
      .agg(voteSums.head, voteSums.tail: _*)
      .select(col(idCol), fingerprint.cast("long").as("fingerprint"))
  }

  /** SimHash near-dup candidate pairs via Hamming banding — the pairing
    * step [[simhash]] alone lacks: near-dups differ in 1–3 fingerprint
    * bits, so exact fingerprint matching misses them. Pigeonhole
    * (Manku et al., WWW'07): split the `bits`-bit fingerprint into
    * `maxHamming + 1` contiguous bands — two fingerprints within
    * Hamming distance `maxHamming` must agree EXACTLY on at least one
    * band. Candidates come from an equi-join on (band_idx, band_bits)
    * (the same banded plan class as [[minhashCandidates]]: one pinned
    * exchange on the band key, no cross product), then the cheap exact
    * verify `bit_count(a XOR b) <= maxHamming` drops banding false
    * positives. Output: (doc1, doc2, hamming).
    *
    * Scale: fingerprints are one native scan (zero shuffle), banding
    * explodes ×(maxHamming+1), the self-join shuffles once on the band
    * key. Band-bucket count is 2^(bits/(maxHamming+1)) — the pairing
    * cost is quadratic IN THE BUCKET, so use the widest fingerprint
    * available (default 32, the md5-hex ceiling of [[simhash]]; 16-bit
    * fingerprints give only 16 buckets per band and measured 3× slower
    * at sf0.1). `maxBucketSize` caps degenerate buckets (e.g. the
    * all-zero fingerprint of empty docs) exactly like the minhash cap —
    * a b-member bucket is b² pairs.
    *
    * MEASURED CEILING (BASELINE r15): at 32 bits / maxHamming 3 the
    * 8-bit bands saturate their 256 bucket values once the corpus is
    * millions of docs — 18×/decade at sf100 (5M docs, 432 s) while the
    * rest of the dedup family stayed ≤6×. Past ~1M docs use
    * [[simhash64]] + [[hammingNearDup]] (16-bit bands, 65,536
    * buckets/band — the q_dedup_simhash_near64 bench twin); past ~10⁹
    * docs the pigeonhole needs the Manku et al. WWW'07 multi-block
    * design — d > maxHamming+1 blocks, one probe table per
    * (d − maxHamming)-block combination, so exact-match keys WIDEN
    * (C(d, maxHamming) tables of ~(d−maxHamming)·(bits/d)-bit keys)
    * instead of buckets deepening.
    */
  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 32,
      maxHamming: Int = 3,
      maxBucketSize: Option[Int] = None
  ): DataFrame =
    // the text-simhash face of the generic pairing: identical pigeonhole
    // band layout, cap semantics and verify — one implementation to fix
    hammingNearDup(
      simhash(df, idCol, textCol, bits), idCol, "fingerprint",
      bits, maxHamming, maxBucketSize)

  /** Hamming near-dup pairing over a PRECOMPUTED fingerprint column —
    * the generic face of [[simhashNearDup]] for fingerprints that are
    * not text simhashes: perceptual image hashes
    * ([[graft.operators.Multimodal.imageAHash]]), audio fingerprints,
    * any ≤64-bit locality-preserving code. Same pigeonhole guarantee
    * (maxHamming + 1 bands ⇒ any pair within the bound shares at least
    * one exact band), same one-pinned-exchange band equi-join, same
    * `bit_count(xor)` verify. Null fingerprints (undecodable payloads)
    * are dropped before banding, not hashed to a degenerate bucket.
    */
  def hammingNearDup(
      df: DataFrame,
      idCol: String,
      fpCol: String,
      bits: Int = 64,
      maxHamming: Int = 6,
      maxBucketSize: Option[Int] = None
  ): DataFrame = {
    require(maxHamming >= 1 && maxHamming < bits, "need 1 <= maxHamming < bits")
    require(bits >= 2 && bits <= 64, "need 2 <= bits <= 64")
    val bands = maxHamming + 1
    val base = bits / bands
    val rem = bits % bands
    val bandBits = (0 until bands).map { b =>
      val start = b * base + math.min(b, rem)
      val width = base + (if (b < rem) 1 else 0)
      val mask = if (width >= 64) -1L else (1L << width) - 1
      shiftrightunsigned(col(fpCol), start).bitwiseAND(lit(mask))
    }
    val banded0 = df
      .filter(col(fpCol).isNotNull)
      .select(
        col(idCol), col(fpCol).as("fingerprint"),
        posexplode(array(bandBits: _*)).as(Seq("band_idx", "band_bits")))
    val banded = maxBucketSize.fold(banded0) { cap =>
      val sizes = banded0
        .groupBy(col("band_idx"), col("band_bits"))
        .agg(count(lit(1)).as("__bsize"))
        .filter(col("__bsize") <= cap)
        .drop("__bsize")
      banded0.join(sizes, Seq("band_idx", "band_bits"), "left_semi")
    }
    val part = banded.repartition(col("band_idx"), col("band_bits"))
    part
      .alias("a")
      .join(
        part.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(
        col(s"a.$idCol").as("doc1"),
        col(s"b.$idCol").as("doc2"),
        bit_count(col("a.fingerprint").bitwiseXOR(col("b.fingerprint"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Shared Hamming-banding stage of [[simhashNearDup]]: one row per
    * (id, fingerprint, band_idx, band_bits), UNCAPPED.
    */
  private def simhashBanded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int,
      maxHamming: Int
  ): DataFrame = {
    require(maxHamming >= 1 && maxHamming < bits, "need 1 <= maxHamming < bits")
    val bands = maxHamming + 1
    val base = bits / bands
    val rem = bits % bands
    val fp = simhash(df, idCol, textCol, bits)
    // band b = fingerprint bits [start, start+width): the first `rem`
    // bands take one extra bit when bands don't divide evenly
    val bandBits = (0 until bands).map { b =>
      val start = b * base + math.min(b, rem)
      val width = base + (if (b < rem) 1 else 0)
      shiftrightunsigned(col("fingerprint"), start).bitwiseAND(lit((1L << width) - 1))
    }
    fp.select(
      col(idCol), col("fingerprint"),
      posexplode(array(bandBits: _*)).as(Seq("band_idx", "band_bits")))
  }

  /** [[minhashDroppedBuckets]]' simhash twin: the Hamming band buckets a
    * `maxBucketSize` cap on [[simhashNearDup]] would exclude, with their
    * sizes. Empty ⇒ the capped run was exhaustive.
    */
  def simhashDroppedBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxBucketSize: Int,
      bits: Int = 32,
      maxHamming: Int = 3
  ): DataFrame =
    droppedBucketsFromBanded(
      simhashBanded(df, idCol, textCol, bits, maxHamming), maxBucketSize)

  /** N-gram Jaccard similarity on candidate pairs produced by a blocking
    * key (here: same `blockCol`, ids within `window` of each other).
    * At scale the candidate generator should be [[minhashCandidates]];
    * the banded-window blocking keeps this oracle-checkable and linear.
    */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: String,
      window: Long = 50L,
      threshold: Double = 0.2,
      maxTokenDf: Option[Long] = None
  ): DataFrame = {
    // Token-join formulation: |A ∩ B| via an equi-join on
    // (block, band, token) — the id-band rides IN the equi-key (same
    // fanout scheme as [[embeddingNearDup]]), so a token present in every
    // doc of a block pairs only within one `window`-wide band instead of
    // across the whole block: the hot-token blow-up is bounded at
    // window² per band rather than B² per block. Pairs sharing zero
    // tokens never materialize, which is exactly the candidate pruning
    // LSH would do.
    val tok0 = df
      .select(col(idCol), col(blockCol), explode(array_distinct(split(col(textCol), " "))).as("t"))
    // Optional vocabulary cap: tokens in more than `maxTokenDf` docs
    // (stopword class) cost pairs quadratically but discriminate nothing.
    // The cap filters them from BOTH the intersection and the doc sizes,
    // i.e. exact Jaccard over the capped vocabulary. None → exact.
    val tok = maxTokenDf.fold(tok0) { cap =>
      val keep = tok0
        .groupBy(col("t"))
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= cap)
        .drop("__df")
      tok0.join(keep, Seq("t"), "left_semi")
    }
    val sizes = tok.groupBy(col(idCol)).agg(count(lit(1)).as("n")).withColumnRenamed(idCol, "__sid")
    val banded = tok.withColumn("__band", expr(s"`$idCol` DIV ${window}L")) // integral: double division drifts past 2^53 (64-bit hash ids) and drops band pairs
    val fanout = banded.withColumn("__band", explode(array(col("__band"), col("__band") + 1)))
    val common = fanout
      .alias("a")
      .join(
        banded.alias("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.__band") === col("b.__band") &&
          col("a.t") === col("b.t") &&
          col(s"b.$idCol") > col(s"a.$idCol") &&
          col(s"b.$idCol") <= col(s"a.$idCol") + window
      )
      .groupBy(col(s"a.$idCol").as("doc1"), col(s"b.$idCol").as("doc2"))
      .agg(count(lit(1)).as("inter"))
    common
      .join(sizes.withColumnRenamed("n", "n1"), col("doc1") === col("__sid")).drop("__sid")
      .join(sizes.withColumnRenamed("n", "n2"), col("doc2") === col("__sid")).drop("__sid")
      .select(
        col("doc1"),
        col("doc2"),
        (col("inter").cast("double") / (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over candidate pairs → duplicate clusters:
    * every doc gets the smallest doc id reachable through the pair
    * graph as its cluster label (the step after ANY candidate generator
    * — minhash/jaccard/embedding — when you keep one doc per duplicate
    * GROUP, not per pair).
    *
    * Min-label propagation: each iteration is one equi-join + one
    * map-side-combinable min aggregation, converging in O(graph
    * diameter) rounds — near-dup clusters are shallow (duplicates of a
    * common source), so a handful of rounds suffices at any scale. The
    * iterate-until-fixpoint loop is driver-COORDINATED but never
    * driver-MATERIALIZED: the convergence check ships one count, and a
    * per-round checkpoint truncates lineage so plans stay flat; on the
    * local path each round's superseded checkpoint is unpersisted
    * immediately (not left for the ContextCleaner).
    *
    * Durability: by default rounds are `localCheckpoint`ed — blocks
    * live on executors, so losing ONE executor mid-iteration kills the
    * job (lineage is truncated, the blocks are unrecomputable). Fine on
    * local[n]; on a real cluster running an hours-long labeling job,
    * pass `checkpointDir` (HDFS/S3) to use RELIABLE `checkpoint()`
    * instead: the edge list, the seed labels, AND every per-round label
    * frame persist to the shared store and survive any executor loss,
    * at the cost of one distributed write per round (each round's frame
    * rides a transient persist across the checkpoint so the write reads
    * cache instead of re-executing the round's plan) —
    * cheap, since the frame is (node, label) pairs, not the corpus.
    * Superseded reliable checkpoint files are left for the configured
    * cleaner (`spark.cleaner.referenceTracking.cleanCheckpoints`).
    *
    * Non-convergence is an ERROR, not a silent partial answer: labels
    * stopped mid-propagation would deduplicate wrongly downstream.
    * Chain-shaped components (id-banded candidate generators pair only
    * nearby ids, so a near-dup run across the id space forms a path)
    * can exceed a small diameter — raise `maxIter` for such graphs.
    */
  def clusters(
      pairs: DataFrame,
      id1: String = "doc1",
      id2: String = "doc2",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
    // reliable (survives executor loss) vs local (fast, executor-pinned).
    // On the reliable path the frame is persisted across the checkpoint:
    // Dataset.checkpoint() runs one job to materialize and a SECOND to
    // write the checkpoint files from lineage — without the persist that
    // second job re-executes the round's whole join+aggregate plan; with
    // it, the write is a cache read. Unpersisted right after (the
    // returned frame reads from the checkpoint files, not the cache).
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist()
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()
    // materialize the edge list once — it is re-read every round, and
    // without this the (possibly expensive) candidate-pair plan above it
    // would re-execute per iteration
    val edges = ckpt(
      pairs
        .select(col(id1).as("a"), col(id2).as("b"))
        .union(pairs.select(col(id2).as("a"), col(id1).as("b"))))
    var labels = ckpt(
      edges
        .select(col("a").as("node"))
        .distinct()
        .withColumn("label", col("node")))
    // `maxIter` bounds label-CHANGING rounds: a diameter-d component
    // needs d changing rounds, and the zero-change confirmation round
    // after the last change is free — so maxIter = 20 fully resolves
    // diameter-20 chains (not 19)
    var changedRounds = 0
    var converged = false
    while (!converged && changedRounds <= maxIter) {
      val nbrMin = edges
        .join(labels, edges("b") === labels("node"))
        .groupBy(edges("a").as("n2"))
        .agg(min(col("label")).as("nbr"))
      // change detection rides the checkpointed frame, so the
      // convergence probe is a filter over cached rows, not a re-join
      val newLabel = least(labels("label"), coalesce(col("nbr"), labels("label")))
      // the per-round frame is the state an executor loss would actually
      // destroy mid-job, so it MUST ride the same reliable/local choice
      // as the seed frames — a localCheckpoint here would silently void
      // the checkpointDir durability contract
      val updated = ckpt(
        labels
          .join(nbrMin, labels("node") === nbrMin("n2"), "left")
          .select(
            labels("node"),
            newLabel.as("label"),
            (newLabel < labels("label")).as("__changed")
          ))
      converged = updated.filter(col("__changed")).isEmpty
      // superseded LOCAL blocks are released eagerly; superseded RELIABLE
      // files are durable state — left for the configured cleaner
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(labels)
      labels = updated.drop("__changed")
      if (!converged) changedRounds += 1
    }
    if (!converged) {
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(edges)
      throw new IllegalStateException(
        s"label propagation still changing after $maxIter rounds — the pair graph " +
          s"has a component of diameter > $maxIter; raise maxIter to at least the " +
          s"expected diameter (partial labels would deduplicate wrongly)"
      )
    }
    if (checkpointDir.isEmpty)
      org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(edges)
    labels
  }

  /** Embedding cosine near-dup pairs within a blocking key (label /
    * LSH bucket). Dot products stay columnar: `zip_with` + `aggregate`
    * over the float vectors, promoted to double before multiply so the
    * result is bit-identical across engines.
    *
    * Anisotropic encoders (a dominant shared component saturating
    * cosine): whiten FIRST and feed the whitened column here — the
    * compose-it-yourself pre-step is
    * `Embeddings.fitWhitening` → `Embeddings.transform` → this call on
    * the output column; no parameter needed because the transform is a
    * scan-local column map. Measured A/B (recall vs clean-space
    * truth): EmbeddingsSpec "whitening A/B" — raw 0.09 vs whitened
    * 0.77 exact recall@5 on a shifted+scaled corruption.
    */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      window: Long = 50L,
      threshold: Double = 0.3
  ): DataFrame = {
    // Banded range join: id bands of `window` width make the range
    // predicate part of the equi-key — the left side fans out to its
    // band and the next one, so a pair (a, b) with b.id ∈ (a.id,
    // a.id+window] always lands in one shared (block, band) bucket.
    // Without this the join keys on the block alone (few distinct
    // values ⇒ one giant partition per block at 100 TB).
    val banded = df.withColumn("__band", expr(s"`$idCol` DIV ${window}L")) // integral: double division drifts past 2^53 (64-bit hash ids) and drops band pairs
    val fanout = banded.withColumn("__band", explode(array(col("__band"), col("__band") + 1)))
    val joined = fanout
      .alias("a")
      .join(
        banded.alias("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col("a.__band") === col("b.__band") &&
          col(s"b.$idCol") > col(s"a.$idCol") &&
          col(s"b.$idCol") <= col(s"a.$idCol") + window
      )
    joined
      .select(
        col(s"a.$idCol").as("id1"),
        col(s"b.$idCol").as("id2"),
        Similarity.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")).as("cos")
      )
      .filter(col("cos") >= threshold)
  }

  /** One-call SEMANTIC dedup (SemDeDup, Abbas et al. 2023): embedding
    * near-dup pairs within a blocking key ([[embeddingNearDup]] — the
    * banded range join, no all-pairs scan) → connected components →
    * keep the smallest id per semantic cluster, drop the rest. The
    * text-space twin of [[dropNearDuplicates]]: same component/anti-join
    * tail, but similarity lives in embedding space, so paraphrases and
    * near-copies with low token overlap collapse too.
    */
  def dropSemanticDuplicates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      window: Long = 50L,
      threshold: Double = 0.3,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    val pairs = embeddingNearDup(df, idCol, vecCol, blockCol, window, threshold)
      .select(col("id1").as("doc1"), col("id2").as("doc2"))
    val labels = clusters(pairs, "doc1", "doc2", maxIter, checkpointDir)
    val losers = labels.filter(col("node") =!= col("label")).select(col("node").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL semantic dedup — the embedding-space twin of
    * [[dropIncrementalDuplicates]], completing the incremental matrix
    * (exact / minhash / semantic): drop every NEW document whose
    * embedding is within `threshold` cosine of ANY corpus document in
    * the same IVF cell. Both sides are assigned to broadcast-centroid
    * cells (shuffle-free argmax fold, [[Similarity.assignCells]]) and
    * joined new×corpus on the cell only — cost is |batch| + the touched
    * cells' corpus rows, the corpus is never self-paired, and at 100 TB
    * the corpus side can be a PERSISTED (id, cell, vec) table bucketed
    * on `cell`, maintained incrementally like [[bandedSignatures]].
    * Recall is bounded by the cell blocking (a near-dup straddling a
    * cell boundary is missed) — raise nlist resolution or probe
    * neighboring cells via [[Similarity.ivfTopK]] when that matters.
    */
  /** @param assignPlanes Some(p): hash-blocked approximate assignment
    *   ([[Similarity.assignCellsApprox]]) on BOTH sides — required once
    *   nlist scales with the corpus, where the exact per-row fold is
    *   O(nlist·dim); blocking stays consistent because both sides share
    *   the same deterministic assignment function.
    */
  def dropIncrementalSemanticDuplicates(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double = 0.9,
      assignPlanes: Option[Int] = None
  ): DataFrame =
    dropIncrementalSemanticDuplicatesAgainstAssigned(
      newDocs,
      assignPlanes match {
        case Some(p) => Similarity.assignCellsApprox(corpus, centroids, vecCol, p)
        case None    => Similarity.assignCells(corpus, centroids, vecCol)
      },
      idCol, vecCol, centroids, threshold, assignPlanes)

  /** [[dropIncrementalSemanticDuplicates]] over a PRECOMPUTED corpus
    * cell assignment — the embedding-space mirror of
    * [[candidatesAgainstBanded]]: at batch cadence the corpus side's
    * `(idCol, vecCol, cell)` table is computed ONCE per corpus (or
    * maintained incrementally by appending each surviving batch's
    * assignment) and persisted bucketed on `cell`, so every arriving
    * batch joins against the stored table instead of re-assigning the
    * 100 TB corpus per call. Build it with [[Similarity.assignCells]]
    * (same `centroids` — a stored assignment from different centroids
    * silently mis-blocks).
    */
  def dropIncrementalSemanticDuplicatesAgainstAssigned(
      newDocs: DataFrame,
      corpusCells: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double = 0.9,
      assignPlanes: Option[Int] = None
  ): DataFrame = {
    val assigned = assignPlanes match {
      case Some(p) => Similarity.assignCellsApprox(newDocs, centroids, vecCol, p)
      case None    => Similarity.assignCells(newDocs, centroids, vecCol)
    }
    val nc = assigned
      .select(col(idCol).as("__nid"), col(vecCol).as("__nvec"), col("cell"))
    val cc = corpusCells
      .select(col(idCol).as("__cid"), col(vecCol).as("__cvec"), col("cell"))
    val losers = nc
      .join(cc, Seq("cell"))
      .filter(Similarity.cosine(col("__nvec"), col("__cvec")) >= threshold)
      .select(col("__nid").as(idCol))
      .distinct()
    newDocs.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact duplicated-SPAN detection — the substring-level dedup signal
    * of "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al., 2021), re-shaped for Spark: instead of a corpus-wide
    * suffix array (its own distributed system), slide a `windowTokens`
    * window over each document at `stride`, hash each window, and mark
    * windows whose hash occurs in ≥2 DISTINCT documents. Per document
    * this yields the fraction of its token windows that are verbatim
    * copies of some other document — the gate/penalty signal a curation
    * pipeline thresholds on.
    *
    * Scale shape: tokenize once (materialized array — inlining split
    * into the window lambda would be O(words²) per doc), one explode to
    * (doc, hash), one groupBy(hash) whose "≥2 distinct docs" test is
    * `min(id) != max(id)` (two scalar partials — no count-distinct
    * state, no per-group lists, hash-agg all the way), one equi-join
    * back on the hash, one groupBy(doc). Raising `stride` divides the
    * exploded volume for corpora where span-level recall can be traded
    * (BASELINE.md records the A/B).
    */
  /** @param sampleMod content-defined sparsification (XxHash64 only):
    *   keep only windows with `hash % sampleMod == 0`, shrinking the
    *   shuffled/joined volume by ~sampleMod×. Because the decision is a
    *   function of the WINDOW CONTENT, two copies of a duplicated run
    *   sample the SAME windows regardless of their positions — unlike a
    *   positional `stride`, where opposite-parity copies sample
    *   disjoint windows and a whole duplicated run can go unseen.
    *   `n_windows`/`dup_fraction` then describe the sampled family
    *   (unbiased estimate of the full-window fraction).
    */
  def substringDupStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 10,
      stride: Int = 1,
      family: HashFamily = HashFamily.Md5,
      sampleMod: Option[Int] = None
  ): DataFrame = {
    require(
      sampleMod.isEmpty || family == HashFamily.XxHash64,
      "sampleMod needs numeric window hashes (HashFamily.XxHash64)")
    // one native pass per row builds every window hash (value-identical
    // to [[substringWindowHashesComposed]], spec-pinned — the composed
    // lambda form was the slowest data-bound query at 10× scale)
    val hashes = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WindowHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
        windowTokens,
        stride,
        family == HashFamily.Md5))
    // one explicit shuffle on the hash: the aggregate AND the join-back
    // both consume this exact exchange, so ReuseExchange evaluates the
    // explode+hash scan ONCE (without it, each consumer plans its own
    // exchange over a private copy of the scan — measured 2× the scan
    // cost at 10× data). The id null-filter is applied HERE so both
    // branches canonicalize identically — the inner join would push
    // isnotnull into only its own copy and break the reuse.
    val exploded = df
      .filter(col(idCol).isNotNull)
      .select(col(idCol), explode(hashes).as("__h"))
    val wins = sampleMod
      .fold(exploded)(m => exploded.filter(pmod(col("__h"), lit(m.toLong)) === 0))
      .repartition(col("__h"))
    val stats = wins
      .groupBy(col("__h"))
      .agg((min(col(idCol)) =!= max(col(idCol))).as("__shared"))
    val perDoc = wins
      .join(stats, "__h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("__shared"), 1L).otherwise(0L)).as("n_dup")
      )
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("n_dup") / col("n_windows"), lit(0.0)).as("dup_fraction")
      )
  }

  /** Token-window hashes WITH their positions: (id, start_tok, end_tok, __h),
    * start_tok 1-based. The position is implied by the array index, so
    * posexplode adds no per-window state. Null-filtered and explicitly
    * repartitioned on the hash for the same reason as
    * [[substringDupStats]]: the stats aggregate and the join-back then
    * share ONE runtime shuffle stage instead of each re-running the
    * explode scan.
    */
  private def positionedWindows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int,
      stride: Int,
      family: HashFamily
  ): DataFrame = {
    val hashes = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.WindowHashes(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol)),
        w,
        stride,
        family == HashFamily.Md5))
    df.filter(col(idCol).isNotNull)
      .select(col(idCol), posexplode(hashes).as(Seq("__k", "__h")))
      .select(
        col(idCol),
        (col("__k") * stride + 1).as("start_tok"),
        (col("__k") * stride + w).as("end_tok"),
        col("__h"))
      .repartition(col("__h"))
  }

  /** Merge a set of (id, start_tok, end_tok) windows into maximal
    * spans: classic interval merge as two doc-partitioned windows (run
    * boundary = start past the running max of prior ends). Bounded by
    * the duplicated windows of ONE document per partition key.
    */
  private def mergeSpans(windows: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("start_tok"))
    val prevMax = max(col("end_tok"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val newRun = when(col("start_tok") > coalesce(prevMax, lit(-1)), 1).otherwise(0)
    windows
      .withColumn("__run", sum(newRun).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("__run"))
      .agg(
        min(col("start_tok")).cast("long").as("span_start"),
        max(col("end_tok")).cast("long").as("span_end"))
      .drop("__run")
  }

  /** Maximal duplicated token spans per document — [[substringDupStats]]
    * upgraded from a fraction to the actual extents (what a span-level
    * deduper like Lee et al. feeds its removal step). Same plan shape
    * plus the per-doc interval merge.
    */
  def substringDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 10,
      stride: Int = 1,
      family: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val wins = positionedWindows(df, idCol, textCol, windowTokens, stride, family)
    val stats = wins.groupBy(col("__h")).agg((min(col(idCol)) =!= max(col(idCol))).as("__shared"))
    mergeSpans(wins.join(stats, "__h").filter(col("__shared")), idCol)
  }

  /** Span-level dedup by DELETION (Lee et al.'s remove step): every
    * duplicated span is cut from every document EXCEPT the canonical
    * copy (the smallest id sharing the window hash keeps its text).
    * Output is the full corpus with `stripped_text` and the removed
    * token count — canonical docs and unique docs pass through intact.
    *
    * The rebuild is per-row array math (`filter` with index + `exists`
    * over the doc's merged spans): span lists are bounded by one doc's
    * dup structure, so nothing here grows with the corpus.
    */
  def stripDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int = 10,
      stride: Int = 1,
      family: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val wins = positionedWindows(df, idCol, textCol, windowTokens, stride, family)
    val stats = wins.groupBy(col("__h"))
      .agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"))
    val removed = wins
      .join(stats, "__h")
      .filter(col("__mn") =!= col("__mx") && col(idCol) =!= col("__mn"))
    val spans = mergeSpans(removed, idCol)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e"))).as("__sp"))
    val toks = split(col(textCol), "\\s+")
    val sp = coalesce(col("__sp"), array().cast("array<struct<s:bigint,e:bigint>>"))
    // keep token at 1-based position i+1 unless covered by a span
    val kept = filter(toks, (x, i) => !exists(sp, s => s("s") <= i + 1 && i + 1 <= s("e")))
    df.join(spans, Seq(idCol), "left")
      .select(
        col(idCol),
        array_join(kept, " ").as("stripped_text"),
        (size(toks) - size(kept)).cast("long").as("n_removed"))
  }

  /** The composed (pure-SQL-function) twin of [[graft.functions.WindowHashes]]
    * — the executable value-identity contract the spec pins the native
    * expression against. Not used on the hot path.
    */
  private[graft] def substringWindowHashesComposed(
      textCol: Column,
      w: Int,
      stride: Int,
      family: HashFamily
  ): Column = {
    val toks = split(textCol, "\\s+")
    val positions =
      when(size(toks) >= w, sequence(lit(1), size(toks) - (w - 1), lit(stride)))
        .otherwise(array().cast("array<int>"))
    val wins = transform(positions, i => concat_ws(" ", slice(toks, i, lit(w))))
    family match {
      case HashFamily.Md5 => transform(wins, s => md5(s.cast("binary")))
      case HashFamily.XxHash64 => transform(wins, s => xxhash64(s))
    }
  }

  /** Edit-distance near-dup over SHORT key strings (titles, names,
    * canonical URLs — the entity-resolution member of the near-dup
    * family; the text-body members are [[minhashCandidates]]/
    * [[ngramJaccard]]): pairs within `maxEdits` Levenshtein edits,
    * found inside exact-prefix blocks.
    *
    * Blocking is the standard ER recipe: an exact join on the first
    * `blockPrefixLen` characters plus the necessary length filter
    * (|len a − len b| ≤ k). Like every blocking scheme it is a recall
    * dial, not a proof — pairs whose edits fall inside the prefix
    * escape the block (push `blockPrefixLen` down for recall, up for
    * cost); WITHIN a block the Levenshtein verify is exact. Hot blocks
    * cap with `maxBlockSize` (dropped blocks are droppable via the same
    * count query, the [[minhashDroppedBuckets]] philosophy).
    *
    * Scale shape: one block-keyed equi-join (never all-pairs), the
    * length filter prunes before the O(len²) verify, and the verify
    * runs only on block-co-resident pairs. The join is the same banded
    * shape as [[hammingNearDup]] — skew bounds at the largest block.
    * Block sizes are DATA-bounded, not n-bounded: on a key space whose
    * diversity does not grow with the corpus, Σ|block|² is quadratic
    * (measured: ~10×/decade on the synthetic titles). Two explicit
    * dials bound it: `maxBlockSize` (drop hot blocks outright, the LSH
    * hot-bucket contract) and `window` (pair only ids within a band,
    * the [[ngramJaccard]] convention — Σ pairs ≤ n·window, LINEAR by
    * construction; the gated query pins this form).
    */
  def editDistanceNearDup(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxEdits: Int,
      blockPrefixLen: Int = 4,
      maxBlockSize: Option[Int] = None,
      window: Option[Long] = None
  ): DataFrame = {
    require(maxEdits >= 1, "maxEdits must be >= 1")
    require(blockPrefixLen >= 1, "blockPrefixLen must be >= 1")
    require(window.forall(_ >= 1), "window must be >= 1")
    val keyed0 = df
      .filter(col(strCol).isNotNull)
      .select(
        col(idCol),
        col(strCol).as("__key"),
        substring(col(strCol), 1, blockPrefixLen).as("__blk"),
        length(col(strCol)).as("__len"))
    val keyed = maxBlockSize.fold(keyed0) { cap =>
      val sizes = keyed0
        .groupBy(col("__blk"))
        .agg(count(lit(1)).as("__bsize"))
        .filter(col("__bsize") <= cap)
        .drop("__bsize")
      keyed0.join(sizes, Seq("__blk"), "left_semi")
    }
    val verified = window match {
      case None =>
        // whole-block pairing: exact within blocks, Σ|block|² cost
        val part = keyed.repartition(col("__blk"))
        part
          .alias("a")
          .join(
            part.alias("b"),
            col("a.__blk") === col("b.__blk") &&
              abs(col("a.__len") - col("b.__len")) <= maxEdits &&
              col(s"a.$idCol") < col(s"b.$idCol"))
      case Some(w) =>
        // id-band rides IN the equi-key (the ngramJaccard fanout): a
        // hot block pairs within w-wide bands, bounding compared pairs
        // at n·w instead of Σ|block|² — the band filter as a mere join
        // PREDICATE would still materialize the block cross-product
        val banded = keyed.withColumn("__band", expr(s"`$idCol` DIV ${w}L"))
        val fanout = banded
          .withColumn("__band", explode(array(col("__band"), col("__band") + 1)))
        fanout
          .alias("a")
          .join(
            banded.alias("b"),
            col("a.__blk") === col("b.__blk") &&
              col("a.__band") === col("b.__band") &&
              abs(col("a.__len") - col("b.__len")) <= maxEdits &&
              col(s"a.$idCol") < col(s"b.$idCol") &&
              col(s"b.$idCol") <= col(s"a.$idCol") + w)
    }
    verified
      .select(
        col(s"a.$idCol").as("id1"),
        col(s"b.$idCol").as("id2"),
        levenshtein(col("a.__key"), col("b.__key")).cast("int").as("edits"))
      .filter(col("edits") <= maxEdits)
  }
}
