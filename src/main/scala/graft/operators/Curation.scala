package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: chunking, deterministic sampling, PII
  * scrubbing. All pure column expressions or a single explode — scan
  * speed, no shuffle, codegen'd, and every one has a DuckDB oracle.
  */
object Curation {

  /** Split documents into fixed-size word chunks with overlap — the
    * standard pre-tokenization step for long documents. One
    * `posexplode` per doc; stride = chunkWords - overlapWords. Chunk
    * boundaries are word-aligned and deterministic, so chunking is
    * reproducible across runs/engines (required when chunk ids feed
    * dedup or curriculum sampling downstream).
    */
  def chunk(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkWords: Int = 64,
      overlapWords: Int = 8
  ): DataFrame = {
    require(overlapWords < chunkWords, "overlap must be smaller than the chunk")
    val stride = chunkWords - overlapWords
    df.withColumn("__toks", split(col(textCol), " "))
      .select(
        col(idCol),
        posexplode(
          expr(
            s"transform(sequence(0, greatest(cast(ceil((size(__toks) - $overlapWords) / " +
              s"cast($stride as double)) as int) - 1, 0)), " +
              s"i -> concat_ws(' ', slice(__toks, i * $stride + 1, $chunkWords)))"
          )
        ).as(Seq("chunk_idx", "chunk_text"))
      )
      .withColumn("chunk_words", size(split(col("chunk_text"), " ")))
  }

  /** The shared sampling bucket: first 8 hex digits of md5(id) mod 100.
    * [[sampleByHash]] and [[sampleStratified]] MUST use this same
    * expression (the docs promise one id-hash decides both, and the
    * DuckDB oracles mirror it byte for byte).
    */
  private def hashBucket(idCol: String): Column =
    conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 100

  /** Deterministic fraction sampling keyed on the document id: keep the
    * row when the first 8 hex digits of md5(id) land under the
    * threshold. Unlike `df.sample`, the decision is a pure function of
    * the id — stable across runs, engines, partitionings, and
    * re-executions (a lineage re-run samples the SAME rows), which is
    * what makes held-out splits reproducible. Narrow map, no shuffle.
    */
  def sampleByHash(idCol: String, percent: Int): Column = {
    require(percent >= 0 && percent <= 100, "percent in [0,100]")
    hashBucket(idCol) < percent
  }

  /** Benchmark decontamination: per corpus document, how many of its
    * distinct word n-gram shingles appear anywhere in the evaluation
    * set. The eval shingle set is distinct-ed and BROADCAST — benchmark
    * suites are MBs against a 100 TB corpus, so the corpus never
    * shuffles for the membership test; the only wide stage is the
    * per-doc hit count (map-side-combinable), and the hit table (only
    * contaminated docs) broadcasts back onto the corpus for the final
    * left join. Returns (id, n_shingles, overlap, overlap_frac,
    * contaminated).
    */
  def decontaminate(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      flagMinOverlap: Int = 2,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    // Same hash-family split as MinHash: md5 is DuckDB-mirrorable for
    // the oracle; xxhash64 is the production family (codegen'd 64-bit
    // mix, an 8-byte broadcast key instead of a 32-char hex string).
    val shingleHash: Column => Column = hashFamily match {
      case HashFamily.Md5      => c => md5(c.cast("binary"))
      case HashFamily.XxHash64 => c => xxhash64(c)
    }
    // Shingles come from the native fused WordShingles expression (one
    // split+window loop per row — see Dedup.shinglesNative; the composed
    // transform-lambda form re-evaluated split per window index,
    // O(words²) per doc), and the hash is applied AFTER the explode as a
    // top-level column so it runs inside whole-stage codegen.
    val bench = evalSet
      .select(explode(Dedup.shinglesNative(col(textCol), n)).as("shingle"))
      .select(shingleHash(col("shingle")).as("sh"))
      .distinct()
      .withColumn("__hit", lit(true))
    // Single pass over the corpus: the shingle transform is evaluated
    // once, n_shingles rides along through the explode, and the
    // membership left-join + per-doc count collapse into one broadcast
    // probe and one map-side-combinable aggregation — no join-back.
    shingleOverlap(corpus, idCol, textCol, n, flagMinOverlap, "overlap", "overlap_frac") {
      exploded =>
        exploded
          .withColumn("sh", shingleHash(col("shingle")))
          .join(broadcast(bench), Seq("sh"), "left")
    }
  }

  /** FUZZY benchmark decontamination — catches the near-duplicate
    * contamination the exact n-gram membership test ([[decontaminate]])
    * misses when benchmark text was paraphrased or lightly edited
    * before leaking into the corpus (the blind spot of the GPT-3
    * appendix-C / Gopher 13-gram-overlap tests). MinHash-LSH candidate
    * pairs corpus×eval ([[Dedup.minhashCandidatesAgainst]] — both sides
    * banded independently, joined on the band key only, never a corpus
    * self-join) are confirmed with the exact shingle-set Jaccard
    * bounded to the candidates, then aggregated per corpus doc.
    *
    * Returns one row per CONTAMINATED corpus doc:
    * (idCol, n_eval_matches, max_jaccard) — anti-join on `idCol` to
    * drop. Corpus and eval ids must not collide (the
    * [[Dedup.dropIncrementalDuplicates]] contract).
    *
    * Scale: eval sets are usually broadcast-small, but nothing here
    * assumes it — every stage is a (band, hash)- or id-keyed equi-join
    * with the hot-bucket cap threaded through, so a 100 TB corpus
    * against a merged mega-benchmark behaves like incremental dedup.
    */
  def decontaminateFuzzy(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      minJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = Some(1000),
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    val cands = Dedup
      .minhashCandidatesAgainst(corpus, evalSet, idCol, textCol,
        maxBucketSize = maxBucketSize, hashFamily = hashFamily)
      .select(col("new_id").as("doc1"), col("corpus_id").as("doc2"))
    val both = corpus
      .select(col(idCol), col(textCol))
      .union(evalSet.select(col(idCol), col(textCol)))
    Dedup
      .verifyCandidates(cands, both, idCol, textCol, minJaccard = minJaccard)
      .groupBy(col("doc1"))
      .agg(
        count_distinct(col("doc2")).as("n_eval_matches"),
        max(col("jaccard")).as("max_jaccard")
      )
      .withColumnRenamed("doc1", idCol)
  }

  /** Streaming face of [[curate]]: the same stateless gates + scrub +
    * normalize per record, then first-arrival-wins exact dedup on the
    * content hash via `dropDuplicatesWithinWatermark` — state holds
    * only hashes inside the watermark delay, so a continuous ingest
    * dedups against its recent window with bounded state (cross-window
    * dedup belongs to the batch [[curate]] over the landed corpus).
    * Emits the curated record (id, quality, content hash + passthrough
    * columns), not per-hash groups: streaming can't re-aggregate
    * carries the way the batch groupBy does.
    */
  def curateStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      dedupDelay: String,
      keepLang: String = "en",
      minQuality: Double = 0.5
  ): DataFrame =
    docs
      .withColumn("__lang", TextAnalysis.langId(col(textCol)))
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .filter(col("__lang") === keepLang && col("quality") >= minQuality)
      // replace the text with its SCRUBBED form — the raw column would
      // carry the PII this stage exists to remove (and the survivor of
      // a dedup group would ship it into the curated corpus)
      .withColumn(textCol, scrubPii(col(textCol)))
      .withColumn("content_hash", md5(normalize(col(textCol)).cast("binary")))
      .drop("__lang")
      .withWatermark(tsCol, dedupDelay)
      .dropDuplicatesWithinWatermark("content_hash")

  /** [[curateStream]] with ROUTED drops — the curation analog of the
    * reference's DLQ policy (`ErrorSink`): instead of silently
    * filtering, the gate splits the stream into (kept, dropped) where
    * every dropped record carries its first failing gate as
    * `drop_reason`. At 100 TB/day the reasons stream IS the
    * observability: aggregated by reason it answers "why did volume
    * drop 30% today" without re-running the pipeline. Both sides are
    * stateless projections of ONE gate computation; only the kept side
    * pays the dedup state.
    */
  def curateStreamRouted(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      dedupDelay: String,
      keepLang: String = "en",
      minQuality: Double = 0.5
  ): (DataFrame, DataFrame) = {
    val gated = docs
      .withColumn("__lang", TextAnalysis.langId(col(textCol)))
      .withColumn("quality", TextAnalysis.qualityScore(col(textCol)))
      .withColumn(
        "drop_reason",
        when(col("__lang") =!= keepLang, concat(lit("lang:"), col("__lang")))
          .when(col("quality") < minQuality, lit("quality")))
    val dropped = gated
      .filter(col("drop_reason").isNotNull)
      .select(col(idCol), col(tsCol), col("drop_reason"), col("quality"))
    val kept = gated
      .filter(col("drop_reason").isNull)
      .withColumn(textCol, scrubPii(col(textCol)))
      .withColumn("content_hash", md5(normalize(col(textCol)).cast("binary")))
      .drop("__lang", "drop_reason")
      .withWatermark(tsCol, dedupDelay)
      .dropDuplicatesWithinWatermark("content_hash")
    (kept, dropped)
  }

  /** Shared corpus side of both decontamination variants: one shingle
    * pass (distinct shingles, n_shingles riding the explode), a per-doc
    * hit count, and the flag. `probe` attaches a boolean `__hit` column
    * to the exploded (id, n_shingles, shingle) frame — exact broadcast
    * membership or a bloom might_contain.
    */
  private def shingleOverlap(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      flagMinOverlap: Int,
      overlapCol: String,
      fracCol: String
  )(probe: DataFrame => DataFrame): DataFrame =
    probe(
      corpus
        .select(col(idCol), array_distinct(Dedup.shinglesNative(col(textCol), n)).as("__shs"))
        .select(
          col(idCol),
          size(col("__shs")).as("n_shingles"),
          explode(col("__shs")).as("shingle")
        )
    )
      .groupBy(col(idCol), col("n_shingles"))
      .agg(sum(when(col("__hit"), 1L).otherwise(0L)).as("__overlap"))
      .select(
        col(idCol),
        col("n_shingles"),
        col("__overlap").cast("int").as(overlapCol),
        round(col("__overlap").cast("double") / col("n_shingles"), 6).as(fracCol),
        (col("__overlap") >= flagMinOverlap).as("contaminated")
      )

  /** Bloom-filter decontamination — the shape for when the eval-suite
    * shingle set outgrows an exact broadcast (at 100 TB an eval corpus
    * can carry 10⁹ distinct shingles; an exact set is tens of GB, a
    * 1% bloom is ~1.2 GB and a 64-bit hash universe). One aggregation
    * builds the sketch; the probe is the codegen'd native
    * `might_contain` over a binary literal — the corpus never
    * shuffles, exactly like [[decontaminate]].
    *
    * NOTE: CALLING this runs the eval-set job immediately — the sketch
    * must exist before the probe plan can embed it as a literal, so
    * unlike the exact [[decontaminate]] this operator is eager over
    * `evalSet` (the corpus side stays lazy) and `evalSet` must be a
    * batch frame. The single-row sketch collect is a broadcast
    * boundary (the same
    * role as Spark's own runtime-filter subquery), not a row
    * iteration. Guarantees: NO false negatives (every exact
    * contamination is flagged), false positives bounded by `fpp` —
    * `overlap_est` is an upper bound on the exact overlap, so the
    * conservative direction for decontamination (over-drop, never
    * under-drop). Deterministic: the sketch layout depends only on
    * (expectedItems, fpp) and the inserted values.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      evalSet: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      flagMinOverlap: Int = 2,
      expectedItems: Long = 4000000L,
      fpp: Double = 0.01
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType

    val evalHashes = evalSet
      .select(explode(Dedup.shinglesNative(col(textCol), n)).as("shingle"))
      .select(xxhash64(col("shingle")).as("sh"))
    val bloom = evalHashes.stat.bloomFilter("sh", expectedItems, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val hit = ColumnBridge.column(
      BloomFilterMightContain(
        Literal(bytes, BinaryType),
        ColumnBridge.catalystExpression(xxhash64(col("shingle")))
      )
    )
    shingleOverlap(corpus, idCol, textCol, n, flagMinOverlap, "overlap_est", "overlap_frac_est") {
      exploded => exploded.withColumn("__hit", hit)
    }
  }

  /** Stratified deterministic sampling: per-stratum keep-percentages
    * (e.g. down-sample boilerplate-heavy sources, keep all of a rare
    * one) decided by the same id-hash as [[sampleByHash]] — stable
    * across runs/engines/partitionings, and still a narrow scan-local
    * filter (the rate lookup is a broadcast-free literal map).
    */
  /** EXACT-k stratified sampling — when the training mix needs exact
    * per-stratum COUNTS, not keep-rates ([[sampleStratified]]'s
    * hash-percent form drifts by ±binomial noise): rank rows within
    * each stratum by a seeded hash of the id (md5 hex for the
    * engine-mirrorable gate form, xxhash64 for production) with the id
    * as tie-break, keep rank ≤ k. Deterministic across runs/engines,
    * different per seed, and every stratum yields min(k, |stratum|)
    * rows exactly.
    *
    * Scale: one rank window partitioned by the stratum — the same
    * shape (and WindowGroupLimit partial-rank benefit) as newest-N-
    * per-key; no global sort, no count pre-pass.
    */
  def sampleExactK(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      k: Int,
      seed: Long,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val key = hashFamily match {
      case HashFamily.Md5 =>
        md5(concat(lit(seed.toString), lit("|"), col(idCol).cast("string")))
      case HashFamily.XxHash64 => xxhash64(lit(seed), col(idCol))
    }
    val w = Window
      .partitionBy(col(strataCol))
      .orderBy(key.asc, col(idCol).asc)
    df.withColumn("__rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rk") <= k)
      .drop("__rk")
  }

  /** WEIGHTED exact-k sampling without replacement per stratum —
    * Efraimidis–Spirakis (2006) exponential keys: rank rows by
    * `−ln(u)/w` ascending (u a seeded per-id uniform, w the weight)
    * and keep the k smallest. Inclusion probability is proportional
    * to weight, the draw is WITHOUT replacement, and — because u is a
    * pure function of (seed, id), the established sampler convention
    * here — the same corpus, seed and weights reproduce the same
    * sample on any engine or partitioning. The quality-weighted /
    * token-weighted corpus draw every mixture pipeline needs, with
    * [[sampleExactK]]'s exact-count guarantee.
    *
    * Keys round to 6 dp before ranking with the id tie-break (the
    * pruneByPrototypicality rule: last-ulp libm divergence between
    * engines must not flip a rank). Scale: the identical one-window
    * WindowGroupLimit shape as [[sampleExactK]] — no global sort, no
    * count pre-pass. Rows with non-positive weight are dropped
    * (A-ES is undefined there; give junk weight 0 to exclude it).
    */
  def sampleWeightedK(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      weightCol: String,
      k: Int,
      seed: Long,
      hashFamily: HashFamily = HashFamily.Md5
  ): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    // uniform in (0, 1]: the md5-first-8-hex convention, +1 so ln never
    // sees zero (u = 1 gives key 0 — a legal best rank, not an inf)
    val u = hashFamily match {
      case HashFamily.Md5 =>
        (conv(substring(md5(concat(lit(seed.toString), lit("|"),
          col(idCol).cast("string"))), 1, 8), 16, 10).cast("long") % 1000000L
          + 1L) / 1000001.0
      case HashFamily.XxHash64 =>
        (pmod(xxhash64(lit(seed), col(idCol)), lit(1000000L)) + 1L) / 1000001.0
    }
    val key = round(-log(u) / col(weightCol), 6)
    val w = Window
      .partitionBy(col(strataCol))
      .orderBy(key.asc, col(idCol).asc)
    df.filter(col(weightCol) > 0)
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rk") <= k)
      .withColumnRenamed("__rk", "sample_rank")
  }

  def sampleStratified(
      idCol: String,
      strataCol: String,
      rates: Map[String, Int],
      defaultPercent: Int
  ): Column = {
    require((rates.values ++ Seq(defaultPercent)).forall(p => p >= 0 && p <= 100))
    val rate = rates.foldLeft(lit(defaultPercent)) { case (acc, (k, p)) =>
      when(col(strataCol) === k, lit(p)).otherwise(acc)
    }
    hashBucket(idCol) < rate
  }

  /** URL canonicalization — the key-building step of URL-level dedup
    * (every web-crawl pipeline dedupes on the canonical URL before any
    * content pass; C4/CC keep one page per URL). Pure column regexes
    * (RE2-class, so the DuckDB oracle applies the identical patterns —
    * same convention as [[scrubPii]]):
    *   - scheme + host lowercased (path/query case is significant);
    *   - default ports dropped (http:80 / https:443), others kept;
    *   - fragment dropped;
    *   - tracking params dropped (utm_*, fbclid, gclid, msclkid, ref),
    *     remaining params SORTED so param order never splits a group;
    *   - empty path becomes "/".
    * Scan-local: no shuffle — the dedup groupBy downstream is the only
    * wide stage, keyed on the canonical string.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_extract(hostport, "^([^:]*)", 1))
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !((scheme === "https" && port === "443") || (scheme === "http" && port === "80"))
    val rawPath = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "", "/").otherwise(rawPath)
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val kept = sort_array(filter(
      split(query, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)")))
    val params = array_join(kept, "&")
    concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(""),
      path,
      when(params =!= "", concat(lit("?"), params)).otherwise(""))
  }

  /** Corpus MIXING: hit a per-source token budget by deterministic
    * down-sampling AND epoch-style repetition — the data-mixing step a
    * training pipeline runs last (down-weight bulk web text, repeat
    * scarce high-quality sources for multiple epochs). Each document
    * appears `floor(rate) + Bernoulli(frac)` times, where
    * `rate = target_tokens / available_tokens` for its source and the
    * Bernoulli draw is the same pure id-hash as [[sampleByHash]] (finer
    * 1e-6 buckets) — reproducible across runs, engines and
    * partitionings, so a re-run materializes the SAME mixture.
    *
    * Scale shape: one tiny per-source aggregate (broadcast back onto
    * the corpus), then a scan-local explode of `sequence(1, copies)` —
    * the corpus shuffles zero times. Sources absent from `targets` use
    * `defaultTarget`; a null default drops them.
    */
  def mixCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      targets: Map[String, Double],
      defaultTarget: Option[Double] = None
  ): DataFrame = {
    val tok = df.select(
      col(idCol),
      col(sourceCol),
      size(split(col(textCol), " ")).cast("long").as("n_tokens"))
    val totals = tok.groupBy(col(sourceCol)).agg(sum(col("n_tokens")).as("__total"))
    val target = targets.foldLeft(
      defaultTarget.map(lit(_)).getOrElse(lit(null).cast("double"))) {
      case (acc, (k, t)) => when(col(sourceCol) === k, lit(t)).otherwise(acc)
    }
    val rate = target / col("__total").cast("double")
    // finer-grained twin of hashBucket: same md5-first-8-hex uniform,
    // 1e6 buckets so fractional epoch rates resolve to ~1e-6
    val u = (conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 1000000).cast("double") / 1e6
    val copies = floor(rate).cast("int") +
      when(u < (rate - floor(rate)), 1).otherwise(0)
    tok
      .join(broadcast(totals), sourceCol)
      .withColumn("__copies", copies)
      .filter(col("__copies") >= 1)
      .select(
        col(idCol),
        col(sourceCol),
        col("n_tokens"),
        explode(sequence(lit(1L), col("__copies").cast("long"))).as("copy"))
  }

  /** Per-stratum distribution statistics: count, mean, sample stddev,
    * and interpolated percentiles. `exact = true` uses `percentile`
    * (sort-buffered per group — fine when strata are few and the gate
    * needs bit-exact quantiles); production at 100 TB sets it false for
    * `approx_percentile` (t-digest-style sketch, algebraic, partial-agg
    * friendly, bounded memory per group). One hash aggregate either way.
    */
  def distributionStats(
      df: DataFrame,
      strataCol: String,
      valueCol: String,
      percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
      exact: Boolean = true
  ): DataFrame = {
    val v = col(valueCol).cast("double")
    val pcols = percentiles.map { p =>
      // typed API (no string splicing — valueCol may need quoting) and
      // a collision-free name: p97, p97_5, p99_9 ...
      val pc =
        if (exact) percentile(v, lit(p))
        else percentile_approx(v, lit(p), lit(10000))
      val name = "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
        .replace(".", "_").replace("-", "m")
      round(pc, 6).as(name)
    }
    val aggs = Seq(
      count(lit(1)).as("n_docs"),
      round(avg(v), 6).as(s"mean_$valueCol"),
      round(stddev_samp(v), 6).as(s"sd_$valueCol")
    ) ++ pcols
    df.groupBy(col(strataCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Sequence packing for training batches: documents are concatenated
    * in deterministic (stratum, id) order and cut into fixed
    * `ctxTokens` windows; each doc gets the pack it STARTS in and its
    * token offset there. The running sum is a per-stratum window — one
    * shuffle on the stratum, then an in-partition scan. The sequential
    * dependency is per-stratum by construction, so at 100 TB strata
    * (source × shard-date) keep partitions bounded; packing quality is
    * unchanged because packs never span strata anyway.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      tokCol: String,
      ctxTokens: Int = 2048
  ): DataFrame = {
    require(ctxTokens > 0, "context must be positive")
    val w = Window
      .partitionBy(col(strataCol))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(
      col(idCol),
      col(strataCol),
      col(tokCol),
      coalesce(sum(col(tokCol)).over(w), lit(0L)).as("__before")
    ).select(
      col(idCol),
      col(strataCol),
      col(tokCol),
      // integral DIV keeps pack ids exact as longs: double division
      // cast to int overflows (ANSI error) past ctxTokens×Int.MaxValue
      // cumulative tokens and drifts silently past 2^53
      expr(s"__before DIV $ctxTokens").as("pack_id"),
      (col("__before") % ctxTokens).cast("int").as("pack_offset")
    )
  }

  /** Canonical text normalization before exact dedup: lowercase,
    * collapse whitespace runs, trim; plus the content hash of the
    * normalized form (the key exact dedup groups on). Pure codegen'd
    * string expressions — scan speed.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), " +", " "))

  /** Markup strip — the WET-extraction step a web-crawl corpus runs
    * before any text analysis: remove script/style blocks WITH their
    * contents, drop every remaining tag, decode the five predefined
    * character entities plus numeric (decimal and hex) references, and
    * collapse the leftover whitespace. Pure RE2 column regexes +
    * codegen'd string ops — scan-local, zero shuffle, linear in bytes,
    * exactly the [[normalize]] / `canonicalizeUrl` shape.
    *
    * Deliberately NOT an HTML5 parser: crawl extraction at 100 TB uses
    * exactly this class of regex pass (tags are removed, not
    * interpreted, so malformed markup degrades to dropped text, never
    * to an error), and anything structure-aware belongs in a decode
    * stage, not the scan.
    */
  def stripMarkup(text: Column): Column = {
    // script/style lose their CONTENT (it is code, not prose); the
    // (?is) flags make the match case-insensitive across lines. Two
    // separate passes rather than a <(script|style)>…</\1> backref:
    // RE2 engines (DuckDB, Go crawlers) have no backreferences, and
    // the oracle must share these exact semantics
    val noBlocks = regexp_replace(
      regexp_replace(text, "(?is)<script\\b[^>]*>.*?</script\\s*>", " "),
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]*>", " ")
    // entity decode: the predefined named set + the common numeric
    // references as literal pairs (regexp_replace cannot compute a
    // codepoint from a backref; a general &#N; decoder belongs in a
    // decode stage, and the tail of rare numerics is noise a quality
    // gate drops anyway). One pass per pair, all fused in codegen.
    // ampersand forms decode LAST: decoding &amp; first would turn
    // literal text like "&amp;lt;" into a second-round "&lt;" and
    // double-decode it
    val named = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
      "&#39;" -> "'", "&#34;" -> "\"", "&#60;" -> "<", "&#62;" -> ">",
      "&nbsp;" -> " ", "&#38;" -> "&", "&amp;" -> "&")
    val decoded = named.foldLeft(noTags) { case (c, (e, r)) =>
      regexp_replace(c, java.util.regex.Pattern.quote(e),
        java.util.regex.Matcher.quoteReplacement(r))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** End-to-end curation in ONE plan: language gate → quality gate →
    * PII scrub → canonical normalize → exact dedup keeping the
    * smallest id. A 100 TB pipeline runs these as one job, not five:
    * every per-document signal (lang argmax, quality, scrub, norm,
    * content hash) is computed in a single codegen'd scan pass, and
    * the ONLY wide stage is the dedup groupBy on the 128-bit content
    * hash — gates run before the shuffle, so filtered-out documents
    * never ship. `carry` columns ride with the canonical (smallest-id)
    * document via `min_by`.
    */
  def curate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      keepLang: String = "en",
      minQuality: Double = 0.5,
      carry: Seq[String] = Nil
  ): DataFrame = {
    val t = col(textCol)
    val scored = docs
      .select(
        Seq(
          col(idCol),
          t.as("__text"),
          TextAnalysis.langId(t).as("__lang"),
          TextAnalysis.qualityScore(t).as("quality")
        ) ++ carry.map(col): _*
      )
      .filter(col("__lang") === keepLang && col("quality") >= minQuality)
      // the SCRUBBED text is the curated output text — emitting the raw
      // text would ship the PII the pipeline claims to remove; the
      // canonical form (lowercased/collapsed) exists only for hashing
      .withColumn("clean_text", scrubPii(col("__text")))
      .withColumn("__norm", normalize(col("clean_text")))
    scored
      .groupBy(md5(col("__norm").cast("binary")).as("content_hash"))
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"),
        // hash-aggregable struct argmin (built-in min_by on a struct
        // falls back to SortAggregate — a corpus-wide per-partition sort)
        graft.functions.BoundedHeap
          .minBy(struct(("quality" +: "clean_text" +: carry).map(col): _*), col(idCol))
          .as("__c")
      )
      .select(
        Seq(col("content_hash"), col("canonical_id"), col("dup_count")) ++
          ("quality" +: "clean_text" +: carry).map(c => col(s"__c.$c").as(c)): _*
      )
  }

  /** PII scrubbing: replace emails / international phone numbers / IPv4
    * addresses with typed placeholder tags. Pure regexp_replace chain
    * (codegen'd, scan-speed); patterns are RE2-class so the DuckDB
    * oracle applies the identical regexes.
    */
  def scrubPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,4}[- ]?[0-9]{0,4}"
    val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        phone,
        "<PHONE>"
      ),
      ipv4,
      "<IP>"
    )
  }

  /** Deterministic epoch shuffle — global training-order randomization
    * that is reproducible run-to-run and different per epoch. What is
    * stable is the global row ORDER (key is a pure hash of (seed, id)):
    * replaying the epoch re-reads rows in the identical sequence, so
    * resume by ROW OFFSET into that order is exact. File/partition
    * BOUNDARIES are not pinned — `repartitionByRange` samples its range
    * splits (seeded off the RDD lineage), so a re-run can cut the same
    * total order into different files; resume by file index needs the
    * boundary row-keys recorded at write time (or fixed key-space
    * splits over the 64-bit hash range). The order key is a seeded hash of the id
    * (xxhash64(seed, id) — production; md5 for an engine-mirrorable
    * key), computed scan-locally; the global order is realized with
    * `repartitionByRange` on the key plus `sortWithinPartitions`, so
    * the result is a TOTAL order (file i's keys all precede file
    * i+1's) with balanced output files and NO single-partition sort —
    * the orderBy a naive shuffle would plan collapses 100 TB onto one
    * task's sort. The id tie-break makes the permutation well-defined
    * even under hash collisions.
    */
  def shuffleForTraining(
      df: DataFrame,
      idCol: String,
      seed: Long,
      numPartitions: Int = 0,
      hashFamily: HashFamily = HashFamily.XxHash64
  ): DataFrame = {
    val key = hashFamily match {
      case HashFamily.XxHash64 => xxhash64(lit(seed), col(idCol))
      case HashFamily.Md5 =>
        md5(concat(lit(seed.toString), lit("|"), col(idCol).cast("string")))
    }
    val keyed = df.withColumn("__shuffle_key", key)
    val parted =
      if (numPartitions > 0)
        keyed.repartitionByRange(numPartitions, col("__shuffle_key"), col(idCol))
      else keyed.repartitionByRange(col("__shuffle_key"), col(idCol))
    parted.sortWithinPartitions(col("__shuffle_key"), col(idCol)).drop("__shuffle_key")
  }

  /** Cluster-based data pruning over an embedding column — the SSL
    * prototypicality metric of Sorscher et al. 2022 ("Beyond neural
    * scaling laws: beating power law scaling via data pruning",
    * NeurIPS 2022): assign every vector to its nearest centroid
    * (cosine), rank within each cluster by similarity to that
    * prototype, and keep `keepPct` percent per cluster — by default the
    * HARD examples (least prototypical, lowest cosine), which the paper
    * shows are the ones worth training on when data is abundant;
    * `keepHard = false` keeps the prototypical core instead (the
    * low-data regime). Pruning per cluster rather than globally is what
    * preserves coverage: a global cut would empty sparse clusters first.
    *
    * Output: `idCol`, `cell` (cluster), `cell_cos` (cosine to the
    * prototype), `cell_rank` (1 = pruned-last under the chosen
    * direction). The keep condition is exact integer math
    * (`rank * 100 <= keepPct * cluster_size`) so the boundary is
    * engine-independent — no float × count ceil hazards.
    *
    * Scale: centroids ride a broadcast (the [[Similarity.assignCellsScored]]
    * fold — no shuffle, no corpus × nlist blow-up); the ONLY exchange is
    * the per-cell window partition, keyed by cluster id. At 100 TB use
    * nlist large enough that a cluster fits an executor's sort spill
    * budget (the same sizing rule as IVF cells); ranking is a single
    * row_number + count over one partitioning, no second shuffle.
    */
  def pruneByPrototypicality(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      keepPct: Int,
      keepHard: Boolean = true
  ): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct must be in [0,100], got $keepPct")
    val scored = Similarity
      .assignCellsScored(emb.select(col(idCol), col(vecCol)), centroids, vecCol)
    // hard-first = ascending cosine; id tie-break keeps rank total-ordered.
    // Rank on the 6dp-ROUNDED cosine (the ivfTopK/hardNegatives
    // convention): ranking raw doubles lets a last-ulp divergence
    // between engines flip a near-tie rank — and with it the keep
    // boundary — at larger scales
    val rankCos = round(col("cell_cos"), 6)
    val order =
      if (keepHard) Seq(rankCos.asc, col(idCol).asc)
      else Seq(rankCos.desc, col(idCol).asc)
    val w = Window.partitionBy(col("cell")).orderBy(order: _*)
    val wAll = Window.partitionBy(col("cell"))
    scored
      .withColumn("cell_rank", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("cell_rank") * 100 <= lit(keepPct) * col("__n"))
      .select(col(idCol), col("cell"), col("cell_cos"), col("cell_rank"))
  }
}
