package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Text-analysis operators for training-data curation: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * narrow per-row column expressions (no shuffle, no UDF) — at 100 TB
  * they run at parquet-scan speed inside whole-stage codegen.
  */
object TextAnalysis {

  /** Language-ID by stopword-marker voting: count hits from small
    * per-language marker sets over the token array and take the argmax
    * (deterministic tie-break by language code order). The classic
    * n-gram/stopword heuristic — replace marker sets per corpus.
    */
  val markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2")
  )

  def markerHits(toks: Column, words: Seq[String]): Column =
    size(array_intersect(toks, array(words.map(lit): _*)))

  /** Raw counters shared by [[langId]] and [[qualityScore]] — one
    * native pass per document ([[graft.functions.TextSignals]]).
    */
  private def signals(textCol: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.TextSignals(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(textCol)))

  def langId(textCol: Column): Column = {
    val sig = signals(textCol)
    // greatest-of-structs argmax: (hits, lang) pairs, tie-break on the
    // lexicographically LARGEST language code — deterministic both ways
    val scored = graft.functions.TextSignals.langs.toSeq.map { lang =>
      struct(sig.getField(s"hits_$lang").as("hits"), lit(lang).as("lang"))
    }
    greatest(scored: _*).getField("lang")
  }

  /** The composed (split + array_intersect ×5) twin of [[langId]] —
    * the executable value-identity contract for the spec.
    */
  private[graft] def langIdComposed(textCol: Column): Column = {
    val toks = array_distinct(split(textCol, " "))
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(markerHits(toks, words).as("hits"), lit(lang).as("lang"))
    }
    greatest(scored: _*).getField("lang")
  }

  /** Heuristic quality score ∈ [0,1]: word-length sanity, stopword
    * presence, alpha ratio, length band (the length/punct/stopword
    * ratio recipe). Counters come from the one-pass native
    * [[graft.functions.TextSignals]]; the score math stays in Catalyst
    * (value-identity to [[qualityScoreComposed]] spec-pinned).
    */
  def qualityScore(textCol: Column): Column = {
    val sig = signals(textCol)
    val nWords = sig.getField("n_words").cast("double")
    val nChars = sig.getField("n_chars").cast("double")
    val avgWordLen = (nChars - (nWords - 1)) / nWords
    val stopRatio = sig.getField("hits_en").cast("double") / lit(5.0)
    val alphaRatio =
      (sig.getField("alpha_chars").cast("double") + lit(1.0)) / (nChars + lit(1.0))
    val lenScore =
      when(nWords >= 20 && nWords <= 10000, 1.0)
        .when(nWords >= 5, 0.5)
        .otherwise(0.0)
    val wordLenScore = when(avgWordLen >= 3 && avgWordLen <= 10, 1.0).otherwise(0.5)
    round(
      (lenScore * 0.3 + wordLenScore * 0.2 + stopRatio * 0.2 + alphaRatio * 0.3),
      6
    )
  }

  /** The composed six-function twin of [[qualityScore]] for the
    * value-identity spec.
    */
  private[graft] def qualityScoreComposed(textCol: Column): Column = {
    val toks = split(textCol, " ")
    val nWords = size(toks).cast("double")
    val nChars = length(textCol).cast("double")
    val avgWordLen = (nChars - (nWords - 1)) / nWords
    val stopRatio =
      size(array_intersect(array_distinct(toks), array(markers("en").map(lit): _*)))
        .cast("double") / lit(5.0)
    val alphaRatio =
      (length(regexp_replace(textCol, "[^a-zA-Z]", "")).cast("double") + lit(1.0)) /
        (nChars + lit(1.0))
    val lenScore =
      when(nWords >= 20 && nWords <= 10000, 1.0)
        .when(nWords >= 5, 0.5)
        .otherwise(0.0)
    val wordLenScore = when(avgWordLen >= 3 && avgWordLen <= 10, 1.0).otherwise(0.5)
    round(
      (lenScore * 0.3 + wordLenScore * 0.2 + stopRatio * 0.2 + alphaRatio * 0.3),
      6
    )
  }

  /** Gopher-style rule filter (Rae et al., 2021 §A1.1): per-document
    * repetition-free quality RULES rather than a blended score — each
    * rule is a named boolean so a pipeline can report WHY a document
    * was dropped (the thing a 100 TB curation run must log, because
    * re-running to find out is a day of cluster time). All rules are
    * single-pass column math over one materialized token array; the
    * operator adds no shuffle.
    *
    * Thresholds are parameters; defaults are tuned down from the paper
    * (min 50 words, ≥2 stopwords) to discriminate on synthetic corpora
    * — production corpora should pass the paper's values.
    */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 1
  ): DataFrame = {
    // raw counters in ONE native pass (value-identity to the composed
    // six-pass form spec-pinned in AsOfJoinSpec); ratio/threshold math
    // stays in Catalyst so the DuckDB oracle holds by construction
    val counters = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.GopherCounters(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(textCol))))
    // zero-word documents get NULL ratio metrics (ANSI division would
    // throw) and fail every ratio rule via the coalesce in
    // rulesFromMetrics — the operator is total over any corpus
    val nonEmpty = col("__c.word_count") > 0
    val metrics = df
      .select(col(idCol), counters.as("__c"))
      .select(
        col(idCol),
        col("__c.word_count").as("word_count"),
        when(nonEmpty,
          round(col("__c.word_chars").cast("double") / col("__c.word_count"), 6))
          .as("mean_word_len"),
        when(nonEmpty,
          round(
            (col("__c.hash_count") + col("__c.ellipsis_chars") / lit(3.0)) /
              col("__c.word_count"), 6)).as("symbol_ratio"),
        when(nonEmpty,
          round(col("__c.alpha_words").cast("double") / col("__c.word_count"), 6))
          .as("alpha_frac"),
        col("__c.stop_hits").as("stop_hits"))
    rulesFromMetrics(metrics, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
      maxSymbolRatio, minAlphaFrac, minStopwords)
  }

  /** The composed (pure-SQL-function) twin of
    * [[graft.functions.GopherCounters]] — the executable value-identity
    * contract for the spec. Not used on the hot path: it walks every
    * document six times (split, aggregate lambda, two regexp_replace
    * length diffs, per-token rlike, transform+intersect).
    */
  private[graft] def gopherRulesComposed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 1
  ): DataFrame = {
    val t = col(textCol)
    val withToks = df.select(
      col(idCol),
      t.as("__text"),
      filter(split(t, "\\s+"), w => length(w) > 0).as("__toks"))
    val wc = size(col("__toks")).cast("long")
    val meanLen = expr("aggregate(__toks, 0L, (a, w) -> a + length(w))").cast("double") / wc
    val hashCount = length(col("__text")) - length(regexp_replace(col("__text"), "#", ""))
    val ellipsisChars = length(col("__text")) -
      length(regexp_replace(col("__text"), "\\.\\.\\.", ""))
    val symbolRatio = (hashCount + ellipsisChars / lit(3.0)) / wc
    val alphaFrac =
      size(filter(col("__toks"), w => w.rlike("[A-Za-z]"))).cast("double") / wc
    val stopHits = size(array_distinct(array_intersect(
      transform(col("__toks"), lower _),
      array(graft.functions.GopherCounters.stopwords.toSeq.map(lit): _*))))
    val metrics = withToks
      .select(
        col(idCol),
        wc.as("word_count"),
        when(wc > 0, round(meanLen, 6)).as("mean_word_len"),
        when(wc > 0, round(symbolRatio, 6)).as("symbol_ratio"),
        when(wc > 0, round(alphaFrac, 6)).as("alpha_frac"),
        stopHits.cast("long").as("stop_hits"))
    rulesFromMetrics(metrics, minWords, maxWords, minMeanWordLen, maxMeanWordLen,
      maxSymbolRatio, minAlphaFrac, minStopwords)
  }

  private def rulesFromMetrics(
      metrics: DataFrame,
      minWords: Int,
      maxWords: Int,
      minMeanWordLen: Double,
      maxMeanWordLen: Double,
      maxSymbolRatio: Double,
      minAlphaFrac: Double,
      minStopwords: Int
  ): DataFrame =
    metrics
      .withColumn("rule_word_count", col("word_count") >= minWords && col("word_count") <= maxWords)
      .withColumn("rule_mean_word_len",
        coalesce(col("mean_word_len") >= minMeanWordLen && col("mean_word_len") <= maxMeanWordLen,
          lit(false)))
      .withColumn("rule_symbol_ratio", coalesce(col("symbol_ratio") <= maxSymbolRatio, lit(false)))
      .withColumn("rule_alpha", coalesce(col("alpha_frac") >= minAlphaFrac, lit(false)))
      .withColumn("rule_stopwords", col("stop_hits") >= minStopwords)
      .withColumn("pass",
        col("rule_word_count") && col("rule_mean_word_len") &&
          col("rule_symbol_ratio") && col("rule_alpha") && col("rule_stopwords"))

  /** Token counts: whitespace words, BPE-ish regex pieces, and the
    * chars/4 approximation used for budget estimates.
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_words", size(split(col(textCol), " ")))
      .withColumn("n_pieces", size(expr(s"regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]+', 0)")))
      .withColumn("n_tok_approx", ceil(length(col(textCol)) / 4).cast("int"))

  /** Repetition signals (the Gopher-report style repetition filters,
    * adapted to single-line corpora): duplicate-word fraction, modal
    * 2-gram fraction, and the longest consecutive same-word run. All
    * three are single-pass higher-order-function folds over the token
    * array — narrow per-row expressions, no explode, no shuffle — so at
    * 100 TB they run at parquet-scan speed like the rest of this module
    * (the fingerprint A/B in BASELINE.md measured the fold form beating
    * the explode+aggregate form at this shape).
    */
  def dupWordFrac(toksCol: String): Column =
    round(
      lit(1.0) - size(array_distinct(col(toksCol))).cast("double") / size(col(toksCol)),
      6
    )

  /** Count of the most frequent element in `arr` (the mode's
    * multiplicity): sort, then fold a (prev, run, best) state — the
    * mode of a sorted array is the longest equal-run.
    */
  private def runFold(arr: String): String =
    s"""aggregate($arr,
       |  named_struct('prev', '', 'run', 0, 'best', 0),
       |  (a, x) -> named_struct(
       |    'prev', x,
       |    'run', IF(x = a.prev, a.run + 1, 1),
       |    'best', GREATEST(a.best, IF(x = a.prev, a.run + 1, 1))),
       |  a -> a.best)""".stripMargin

  /** `toksCol` must be a MATERIALIZED array column — inlining
    * split(text) here would re-evaluate it per transform index
    * (O(words²) per doc; same hazard as Dedup.shinglesOf).
    */
  def topBigramFrac(toksCol: String): Column = {
    val bgs =
      s"transform(sequence(1, greatest(size($toksCol) - 1, 1)), " +
        s"i -> concat_ws(' ', slice($toksCol, i, 2)))"
    round(
      expr(runFold(s"sort_array($bgs)")).cast("double") /
        expr(s"greatest(size($toksCol) - 1, 1)"),
      6
    )
  }

  /** Longest consecutive same-word run — the fold above WITHOUT the
    * sort, so runs are positional, not global multiplicity.
    */
  def maxWordRun(toksCol: String): Column = expr(runFold(toksCol))

  /** All three repetition signals in ONE tokenization pass: the native
    * [[graft.functions.RepetitionStats]] expression produces the raw
    * counters (token/distinct/modal-bigram/max-run), and the signal
    * math stays in Catalyst column form — value-identical to the
    * composed `dupWordFrac`/`topBigramFrac`/`maxWordRun` triple
    * (spec-pinned), which pays a sort plus three interpreted aggregate
    * lambdas over the token array.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val stats = ColumnBridge.column(
      graft.functions.RepetitionStats(ColumnBridge.expression(col(textCol))))
    df.select(col(idCol), stats.as("__rs"))
      .select(
        col(idCol),
        round(
          lit(1.0) - col("__rs.n_distinct").cast("double") / col("__rs.n_toks"),
          6
        ).as("dup_word_frac"),
        round(
          col("__rs.top_bigram").cast("double") / greatest(col("__rs.n_toks") - 1, lit(1)),
          6
        ).as("top_bigram_frac"),
        col("__rs.max_run").as("max_word_run")
      )
  }

  /** The composed form of [[repetitionSignals]] — kept as the identity
    * witness the native expression is spec-checked against.
    */
  def repetitionSignalsComposed(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__toks", split(col(textCol), " "))
      .select(
        col(idCol),
        dupWordFrac("__toks").as("dup_word_frac"),
        topBigramFrac("__toks").as("top_bigram_frac"),
        maxWordRun("__toks").as("max_word_run")
      )

  /** TF-IDF with the per-doc top term: term frequencies from one
    * explode + hash agg; document frequencies from a second agg over
    * the (doc, term) pairs; corpus size joined in as a broadcast
    * one-row aggregate (no driver-side count action). The df join
    * shuffles by term — high-cardinality, well distributed; the final
    * per-doc argmax is `max(struct(tfidf, term))`, a partial-agg
    * friendly fold with a deterministic tie-break (larger term wins).
    */
  /** Corpus vocabulary with coverage — the first step of tokenizer/BPE
    * training: token counts, frequency rank, and cumulative corpus
    * coverage for the top-K tokens. Scale shape: the count is one hash
    * aggregate over exploded tokens; top-K goes through
    * `TakeOrderedAndProject` (per-partition partial top-K, only K rows
    * ever reach one place); the rank/coverage window then runs over
    * those K rows only — bounded by construction, never by corpus
    * size. The corpus total rides in as a broadcast one-row aggregate.
    */
  def vocabulary(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK > 0, "topK must be positive")
    val counts = df
      .select(explode(split(col(textCol), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("tot"))
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(topK)
    // single-partition window is INTENTIONAL and bounded: it runs over the
    // topK rows post-limit, never over the corpus. Partitioning by the
    // constant `tot` column declares that explicitly — one partition,
    // same result, and no "No Partition Defined" WARN (which reads as a
    // scale bug in every bench log). A literal key would NOT work: the
    // optimizer folds foldable partition expressions away, re-emptying
    // the partition spec.
    val order = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tot"))
      .orderBy(col("cnt").desc, col("token"))
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(order))
      .withColumn(
        "cum_frac",
        round(
          sum(col("cnt")).over(order.rowsBetween(Long.MinValue, 0)).cast("double") / col("tot"),
          6
        )
      )
      .select(col("token"), col("cnt"), col("rank"), col("cum_frac"))
  }

  def tfidfTopTerm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df
      .withColumn("__toks", split(col(textCol), " "))
      .select(col(idCol), explode(col("__toks")).as("term"))
    // explicit term partitioning: the df aggregate and the join-back
    // below both consume this exchange (runtime stage reuse — the same
    // shared-exchange shape as Dedup.substringDupStats); without it
    // each side re-shuffles tf by term separately
    val tf = tok
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("__n"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn(
        "tfidf",
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6)
      )
      .groupBy(col(idCol))
      // typed-imperative argmax: built-in max(struct) is not
      // hash-aggregable and would sort every (doc, term) row
      .agg(
        graft.functions.BoundedHeap
          .maxBy(struct(col("tfidf"), col("term")), struct(col("tfidf"), col("term")))
          .as("__m")
      )
      .select(
        col(idCol),
        col("__m.term").as("top_term"),
        col("__m.tfidf").as("top_tfidf")
      )
  }

  /** Unigram-LM quality score: average negative log-likelihood of each
    * document's words under the corpus's own unigram distribution (the
    * statistical stand-in for KenLM-style perplexity filtering — docs
    * full of corpus-atypical tokens score high). Same scale shape as
    * [[tfidfTopTerm]]: one explode, a term-frequency agg, the corpus
    * total as a broadcast one-row aggregate, a term-keyed join, and a
    * map-side-combinable per-doc average. No smoothing needed: every
    * scored word is in the corpus by construction.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NOTE: no explicit repartition here (unlike tfidfTopTerm) — freq
    // is vocabulary-sized, so the join-back is a BROADCAST of freq onto
    // the token stream; forcing a term shuffle to share the exchange
    // trades a cheap re-scan for a full token shuffle and measured 1.6×
    // SLOWER at 10× data
    val tok = df
      .withColumn("__toks", split(col(textCol), " "))
      .select(col(idCol), explode(col("__toks")).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("__c"))
    // corpus token total from the (tiny) term-frequency aggregate — a
    // tok.agg(count) branch would re-scan and re-explode every document
    val total = freq.agg(sum(col("__c")).as("__t"))
    tok
      .join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_words"),
        round(avg(-log(col("__c").cast("double") / col("__t"))), 6).as("avg_neg_logprob")
      )
  }

  /** Conditional BIGRAM LM scoring — the stronger sibling of
    * [[unigramLogProb]] in the CCNet/KenLM filter family: per document,
    * the average −ln P(term | prev) with P estimated from the corpus'
    * own bigram counts (c(prev, term) / c(prev·)). Word-salad that
    * happens to use common WORDS still scores high here because its
    * TRANSITIONS are corpus-atypical — the signal an n-gram-LM quality
    * filter actually wants.
    *
    * Scale shape: bigrams are derived scan-locally from one token
    * array (a `transform(sequence)` fold, no self-join on position);
    * the two count tables are map-side-combinable hash aggs keyed by
    * (prev, term) / (prev); the join-back keys on the same columns.
    * Documents with fewer than two words have no bigrams and drop out
    * (mirrored by the oracle).
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = df
      .withColumn("__t", split(col(textCol), " "))
      // guard BEFORE sequence(): Spark's sequence(2, 1) is DESCENDING,
      // not empty, so a one-word doc would fabricate garbage bigrams
      .filter(size(col("__t")) >= 2)
      .select(
        col(idCol),
        explode(expr(
          "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS prev, __t[i-1] AS term))"
        )).as("b"))
      .select(col(idCol), col("b.prev").as("prev"), col("b.term").as("term"))
    val c2 = pairs.groupBy(col("prev"), col("term")).agg(count(lit(1)).as("__c2"))
    val c1 = pairs.groupBy(col("prev")).agg(count(lit(1)).as("__c1"))
    pairs
      .join(c2, Seq("prev", "term"))
      .join(c1, Seq("prev"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        round(avg(-log(col("__c2").cast("double") / col("__c1"))), 6).as("avg_neg_logprob2"))
  }

  /** PMI phrase mining over adjacent token pairs (Church & Hanks 1990
    * association ratio): PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ) with P(ab)
    * from the bigram table and P(·) from the unigram table — the
    * standard collocation detector used to promote multi-word
    * expressions ("new york", "machine learning") to single tokenizer
    * units before BPE training (see Tokenizer).
    *
    * Determinism contract (oracle-gated): every probability is a ratio
    * of EXACT longs, so the doubles entering `ln` are bit-identical
    * cross-engine; `ln` itself is libm (±1 ulp), absorbed by the 6-dp
    * round per QueryPack conventions, and the top-K boundary is
    * tie-broken on (prev, term).
    *
    * Scale shape: two map-side-combinable hash aggregates (unigram,
    * bigram counts — both vocabulary-bounded, NOT corpus-bounded), two
    * equi-joins between them, broadcast 1-row totals, and a TakeOrdered
    * top-K — no global window, no corpus re-shuffle. `minCount` prunes
    * the hapax tail before the joins, which is also what keeps PMI from
    * degenerating to rare-pair noise.
    */
  def pmiPhrases(
      df: DataFrame,
      textCol: String,
      minCount: Int = 5,
      topK: Int = 50
  ): DataFrame = {
    require(minCount >= 1 && topK >= 1, "minCount and topK must be >= 1")
    val toks = df.select(explode(split(col(textCol), " ")).as("token"))
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("c1"))
    val tot = toks.agg(count(lit(1)).as("t"))
    val pairs = df
      .withColumn("__t", split(col(textCol), " "))
      // same >= 2 guard as bigramLogProb: sequence(2, 1) is DESCENDING
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        "transform(sequence(2, size(__t)), i -> struct(__t[i-2] AS prev, __t[i-1] AS term))"
      )).as("b"))
      .select(col("b.prev").as("prev"), col("b.term").as("term"))
    val bigc = pairs.groupBy(col("prev"), col("term")).agg(count(lit(1)).as("c2"))
    val btot = pairs.agg(count(lit(1)).as("b"))
    bigc
      .filter(col("c2") >= minCount)
      .join(uni.select(col("token").as("prev"), col("c1").as("__c1p")), "prev")
      .join(uni.select(col("token").as("term"), col("c1").as("__c1t")), "term")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(btot))
      .select(
        col("prev"),
        col("term"),
        col("c2"),
        round(
          log((col("c2") / col("b")) /
            ((col("__c1p") / col("t")) * (col("__c1t") / col("t")))),
          6
        ).as("pmi"))
      .orderBy(col("pmi").desc, col("prev"), col("term"))
      .limit(topK)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting high quality monolingual datasets from web crawl
    * data"): score each document with the corpus-unigram LM
    * ([[unigramLogProb]]) and split the corpus into `buckets` quality
    * tiers — bucket 1 = head (most corpus-typical, lowest negative
    * log-prob) … bucket N = tail. CCNet keeps head+middle for LM
    * training and uses the split as a mixing dial.
    *
    * Both forms share ONE shape — percentile cutoffs from a single
    * map-side-combinable aggregate, broadcast back, and a scan-local
    * fold assigns `bucket = 1 + Σ(score > cutoff)` (ties at a cutoff
    * land in the LOWER tier, deterministically) — so NEITHER form has
    * a global sort or a partition-less window anywhere in the plan
    * (PlanGuardSpec sweeps with an empty allowlist):
    *   - `exact = true` (oracle pin): exact `percentile` cutoffs.
    *     Type-7 linear interpolation on the 6-dp-rounded score
    *     multiset, which DuckDB's `quantile_cont` mirrors bit-for-bit;
    *     a cutoff is either an order statistic or strictly between two
    *     consecutive ones, so no data point sits on the comparison
    *     boundary and last-ulp interpolation drift cannot flip a
    *     bucket. The exact percentile is a typed-imperative aggregate
    *     (ObjectHashAggregate, mergeable partials) — fine while the
    *     cutoff count is small, heavier than a sketch per-row.
    *   - `exact = false` (the scale path, and the DEFAULT):
    *     `approx_percentile` cutoffs — boundary placement differs from
    *     the exact form only within sketch error (agreement
    *     spec-pinned in CurationSpec).
    */
  def perplexityBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int = 3,
      exact: Boolean = false
  ): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = unigramLogProb(df, idCol, textCol)
    val fracs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    val cuts =
      if (exact)
        scored.agg(
          percentile(col("avg_neg_logprob"), array(fracs: _*)).as("__cuts"))
      else
        scored.agg(
          percentile_approx(col("avg_neg_logprob"), array(fracs: _*), lit(10000)).as("__cuts"))
    scored
      .crossJoin(broadcast(cuts))
      .withColumn(
        "bucket",
        aggregate(
          col("__cuts"),
          lit(1),
          (acc, c) => acc + when(col("avg_neg_logprob") > c, 1).otherwise(0)))
      .drop("__cuts")
  }

  /** Winnowing-style document fingerprint: lexicographic min of the
    * hashes of character 8-grams sampled at `stride` — robust to small
    * edits, pure column math (transform over substring windows +
    * array_min). Stride 2 halves the hash count with negligible
    * fingerprint-collision impact (min-sampling keeps the extremum
    * property over the sampled family).
    *
    * `hashFamily`: [[HashFamily.Md5]] is the oracle form (DuckDB
    * computes the same digest) and yields a hex-string fingerprint;
    * [[HashFamily.XxHash64]] is the production family — the fingerprint
    * is then the numeric min of 64-bit hashes (a bigint), computed by
    * the one-pass native [[graft.functions.GramMinHash]] expression
    * (hash-identical to the composed transform-lambda twin, which pays
    * O(L²/stride) byte scanning because `substring(text, i, gram)`
    * re-walks the string per gram; A/B in BASELINE.md). The result
    * TYPE differs between families, which is exactly why the selector
    * is a sealed type: mixing families across a producer/consumer pair
    * is a compile-visible mismatch, not a silently empty join.
    */
  def fingerprint(
      textColName: String,
      gram: Int = 8,
      stride: Int = 2,
      hashFamily: HashFamily = HashFamily.Md5
  ): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    hashFamily match {
      case HashFamily.Md5 =>
        // native one-pass twin of the composed md5 lambda (which the
        // DuckDB oracle mirrors); hash-identity spec-pinned
        ColumnBridge.column(
          graft.functions.Md5GramMin(ColumnBridge.expression(col(textColName)), gram, stride))
      case HashFamily.XxHash64 =>
        ColumnBridge.column(
          graft.functions.GramMinHash(ColumnBridge.expression(col(textColName)), gram, stride))
    }
  }

  /** BM25 retrieval: top-K corpus documents per query under the
    * Lucene-variant BM25 score
    *
    *   idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
    *   s(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * the standard sparse-retrieval baseline next to the dense ANN family
    * (Similarity.scala) — used in pipelines for eval-set retrieval,
    * contamination auditing, and hard-negative seeding for ranker training.
    *
    * Scale shape (100 TB corpus, bounded query set): the corpus is
    * tokenized ONCE into a (doc, term, tf) aggregate with a map-side
    * combine; doc length and the corpus-wide avgdl/N ride in as a
    * broadcast one-row aggregate. The QUERY side is small by contract
    * (an eval set, not a second corpus), so query terms broadcast onto
    * the term stream — the corpus never shuffles on terms for the match.
    * The per-(query, doc) sum runs after one explicit (query, doc)
    * exchange ([[bm25Serve]]), and top-K per query is a bounded heap
    * ([[graft.functions.BoundedHeap.topKBy]]) whose map-side partial
    * keeps only K rows per query per partition before the exchange on
    * the query id, so the ranking's shuffled volume is O(K·|queries|),
    * independent of corpus size, and nothing is sorted.
    *
    * Determinism (oracle convention, QueryPack.scala): per-term scores
    * sum in engine-dependent order, so the FINAL score is rounded to
    * 6 dp and ranking runs on (rounded score, doc id) — last-ulp double
    * divergence between engines cannot flip ranks.
    */
  def bm25TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      queryIdCol: String,
      queryTextCol: String,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame =
    bm25Serve(bm25Index(corpus, idCol, textCol), queries,
      queryIdCol, queryTextCol, topK, k1, b)

  /** The persisted form of a BM25 corpus: the three tables
    * [[bm25Serve]] scores against. At 100 TB the corpus is indexed
    * ONCE (one tokenize scan + one (doc, term) shuffle) and the tables
    * written out — `tf` bucketed on `term` so repeated query batches
    * equi-join without re-exchanging it — then every batch of queries
    * pays only the broadcast-side term match, never a corpus rescan.
    * `docIdCol` records the id column name so serve-side wiring is not
    * positional.
    */
  final case class Bm25Index(
      tf: DataFrame, dfreq: DataFrame, stats: DataFrame, docIdCol: String)

  /** Build the BM25 index tables from a corpus: `tf` is
    * (doc, term, tf, dl), `dfreq` is (term, df), `stats` the one-row
    * (avgdl, n). Doc length rides THROUGH the tf aggregate (max of a
    * per-doc constant is hash-aggregable) instead of joining a
    * corpus-sized length table back on doc id — one corpus shuffle
    * total, and `dfreq` reuses that aggregate's output.
    */
  def bm25Index(corpus: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val withLen = corpus
      .select(col(idCol), split(col(textCol), " ").as("__toks"))
      .withColumn("dl", size(col("__toks")).cast("double"))
    val tok = withLen
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
    val tf = tok
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val stats = withLen.agg(
      avg(col("dl")).as("avgdl"),
      count(lit(1)).cast("double").as("n"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    Bm25Index(tf, dfreq, stats, idCol)
  }

  /** Score a query batch against a (possibly persisted and re-read)
    * [[Bm25Index]]. Query terms are deduped per query (BM25 scores a
    * term once) and SMALL by contract, so ONE broadcast side carries
    * everything but tf: the (query, term) pairs joined to df, crossed
    * with the one-row N/avgdl, with each term's idf computed there. The
    * corpus-side tf stream never shuffles on term for the match, and
    * with `tf` stored term-bucketed the match is also exchange-free on
    * re-reads; each matched row's term score is one projection.
    *
    * Scale shape: the matched rows shuffle once, on an explicit
    * `repartition(numShufflePartitions, query, doc)`, which the
    * (query, doc) sum then needs no other exchange for. An explicit
    * partition count keeps AQE from coalescing this CPU-bound scoring
    * stage into one task (it did: for 32 queries against a 5,000-doc
    * store, 1.1 MB of shuffle ran as one task).
    * The trade-off is the map-side partial sum: the scoring shuffle
    * carries one row per matched (query, term, doc), at most the query
    * length times the rows a combined (query, doc) shuffle would.
    * Top-K per query is a bounded heap keyed (-score, doc) — the
    * (score DESC, doc ASC) rank order exactly, since the score is 6-dp
    * rounded — so only K rows per query per partition cross the final
    * exchange and nothing is sorted; array position is the rank.
    */
  def bm25Serve(
      index: Bm25Index,
      queries: DataFrame,
      queryIdCol: String,
      queryTextCol: String,
      topK: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75
  ): DataFrame = {
    require(topK > 0, "topK must be positive")
    val idCol = index.docIdCol
    val side = queries
      .select(col(queryIdCol), explode(split(col(queryTextCol), " ")).as("term"))
      .distinct()
      .join(index.dfreq, "term")
      .crossJoin(index.stats)
      .select(
        col("term"), col(queryIdCol), col("avgdl"),
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0).as("idf"))
    val parts = index.tf.sparkSession.sessionState.conf.numShufflePartitions
    val scored = index.tf
      .join(broadcast(side), "term")
      .select(
        col(queryIdCol), col(idCol),
        (col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("ts"))
      .repartition(parts, col(queryIdCol), col(idCol))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(round(sum(col("ts")), 6).as("score"))
    scored
      .groupBy(col(queryIdCol))
      .agg(graft.functions.BoundedHeap
        .topKBy(struct(col(idCol), col("score")), struct(negate(col("score")), col(idCol)), topK)
        .as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__i", "__d")))
      .select(
        col(queryIdCol),
        col(s"__d.$idCol").as(idCol),
        col("__d.score").as("score"),
        (col("__i") + 1).cast("int").as("rank"))
  }

  /** Naive-Bayes quality classifier — the model-based filtering step
    * of the big LLM data pipelines (the fastText-linear-classifier
    * role: score every document against a weakly-labeled "high
    * quality" seed set). Multinomial NB with Laplace smoothing is the
    * closed-form member of that family: ONE pass over the labeled
    * corpus yields per-token class counts, the per-token log-odds
    * weight is pure column math on the vocabulary-sized aggregate, and
    * scoring is the [[unigramLogProb]] shape — explode + broadcast
    * join-back of the (tiny) weight table + one per-doc hash agg. No
    * gradient loop, no driver data path, deterministic.
    *
    * `nbTokenWeights` is the train face (persist it; the model is a
    * vocabulary-sized table + a one-row prior) and [[nbScore]] the
    * serve face — the same split as the BM25 index/serve pair, so a
    * production pipeline trains once and scores every batch against
    * the persisted weights.
    */
  def nbTokenWeights(
      labeled: DataFrame,
      textCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    val tok = labeled
      .select(col(labelCol).cast("long").as("__y"),
        explode(split(col(textCol), " ")).as("term"))
    val counts = tok
      .groupBy(col("term"))
      .agg(sum(col("__y")).as("__c1"), count(lit(1)).as("__ct"))
    // totals from the vocabulary aggregate (no corpus re-scan) + doc
    // prior from the labeled frame's own tiny aggregate
    val totals = counts.agg(
      sum(col("__c1")).as("__n1"),
      sum(col("__ct") - col("__c1")).as("__n0"),
      count(lit(1)).as("__v"))
    val prior = labeled.agg(
      log((sum(col(labelCol).cast("long")) + 1.0) /
        (sum(lit(1) - col(labelCol).cast("long")) + 1.0)).as("prior"))
    val weights = counts
      .crossJoin(broadcast(totals))
      .select(
        col("term"),
        (log((col("__c1") + 1.0) / (col("__n1") + col("__v"))) -
          log((col("__ct") - col("__c1") + 1.0) / (col("__n0") + col("__v"))))
          .as("w"))
    (weights, prior)
  }

  /** Score `docs` against trained NB `weights` + `prior`: per document
    * `score = prior + Σ w(term)` (unseen terms contribute 0 — their
    * smoothed odds belong to the model's complement mass), predicted
    * high-quality iff score > 0. The weight join-back broadcasts (the
    * table is vocabulary-sized); the corpus never shuffles.
    */
  def nbScore(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      prior: DataFrame): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    tok
      .join(broadcast(weights), Seq("term"), "left")
      .crossJoin(broadcast(prior))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        round(first(col("prior")) + sum(coalesce(col("w"), lit(0.0))), 6).as("score"))
      .withColumn("pred_quality", col("score") > 0)
  }

  /** Composed train-and-score (the gated-query face): weak labels come
    * from `labelCol` of `labeled`; every doc in `docs` gets scored.
    */
  def nbQualityScore(
      labeled: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String): DataFrame = {
    val (weights, prior) = nbTokenWeights(labeled, textCol, labelCol)
    nbScore(docs, idCol, textCol, weights, prior)
  }
}
