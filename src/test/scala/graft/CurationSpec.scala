package graft

import graft.operators.{Curation, HashFamily, TextAnalysis, TopN}
import org.apache.spark.sql.functions._

/** Curation-operator semantics with hand-computed expectations:
  * repetition signals, benchmark decontamination, stratified sampling,
  * distribution stats, and newest-N-per-key.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("pruneByPrototypicality keeps hardest-per-cluster with an exact integer boundary") {
    // two well-separated clusters; centroids are vec 0 (→(1,0)) and 1 (→(0,1))
    val emb = Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0f, 1f)),
      (10L, Array(1f, 0.1f)), // cos to A ≈ .995
      (11L, Array(1f, 0.3f)), // ≈ .958
      (12L, Array(1f, 0.6f)), // ≈ .857 — hardest in A
      (20L, Array(0.2f, 1f)), // cos to B ≈ .981
      (21L, Array(0.5f, 1f))  // ≈ .894 — hardest in B
    ).toDF("vec_id", "embedding")
    val cents = emb
      .filter(col("vec_id") < 2)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
    val hard = Curation
      .pruneByPrototypicality(emb, "vec_id", "embedding", cents, keepPct = 50)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
      .toSet
    // cell A has 4 members (0,10,11,12) → keep 2 hardest = 12,11;
    // cell B has 3 (1,20,21) → rank*100 <= 150 keeps rank 1 = 21
    assert(hard == Set(12L -> 0, 11L -> 0, 21L -> 1))
    val proto = Curation
      .pruneByPrototypicality(emb, "vec_id", "embedding", cents, keepPct = 50, keepHard = false)
      .collect()
      .map(r => r.getAs[Long]("vec_id"))
      .toSet
    // prototypical direction keeps the centroids themselves first
    assert(proto == Set(0L, 10L, 1L))
    // floor semantics: pct=33 of a 3-member cluster keeps nothing
    // (rank 1 × 100 > 33 × 3), of a 4-member cluster keeps exactly 1
    val floor33 = Curation
      .pruneByPrototypicality(emb, "vec_id", "embedding", cents, keepPct = 33)
      .groupBy("cell")
      .count()
      .collect()
      .map(r => r.getAs[Int]("cell") -> r.getAs[Long]("count"))
      .toMap
    assert(floor33 == Map(0 -> 1L))
  }

  test("decontaminateFuzzy flags paraphrased eval leakage that exact n-grams can rate-limit") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (1L, base), // near-dup of the eval doc (one word differs)
      (2L, "colorless green ideas sleep furiously beside the silent harbor wall tonight"),
      (3L, base.replace("jumps", "leaps")) // verbatim leak of the eval doc
    ).toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, base.replace("jumps", "leaps"))
    ).toDF("doc_id", "text")
    val flagged = Curation
      .decontaminateFuzzy(corpus, evalSet, "doc_id", "text", minJaccard = 0.5)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_eval_matches"), r.getAs[Double]("max_jaccard")))
      .toMap
    assert(flagged.keySet == Set(1L, 3L))
    assert(flagged(1L)._1 == 1L && flagged(1L)._2 > 0.5 && flagged(1L)._2 < 1.0)
    assert(flagged(3L)._2 == 1.0) // verbatim → exact-Jaccard 1
  }

  test("perplexityBuckets: exact percentile tiers and the approx scale path agree on extremes") {
    // 6 docs over a shared vocabulary; doc 1 uses only the most common
    // words (head), doc 6 only the rarest (tail)
    val docs = Seq(
      (1L, "aa aa aa bb aa bb"),
      (2L, "aa bb aa bb cc aa"),
      (3L, "aa bb cc aa dd bb"),
      (4L, "bb cc dd aa ee bb"),
      (5L, "cc dd ee ff aa bb"),
      (6L, "ff gg hh ii jj kk")
    ).toDF("doc_id", "text")
    val exact = TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text", buckets = 3, exact = true)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bucket"))
      .toMap
    // exact 1/3, 2/3 cutoffs fall strictly between the 2nd/3rd and
    // 4th/5th of six distinct scores → two per tier, ordered by
    // typicality (same split ntile(3) would give)
    assert(exact.values.toSeq.sorted == Seq(1, 1, 2, 2, 3, 3))
    assert(exact(1L) == 1 && exact(6L) == 3)
    val approx = TextAnalysis
      .perplexityBuckets(docs, "doc_id", "text", buckets = 3, exact = false)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("bucket"))
      .toMap
    // approx cutoffs may shift boundary membership but never the
    // extremes, and bucket must be monotone in the score ordering
    assert(approx(1L) == 1 && approx(6L) == 3)
    val ordered = exact.keys.toSeq.sorted.map(approx)
    assert(ordered == ordered.sorted)
  }

  test("shuffleForTraining: seeded, reproducible, a total order across partitions") {
    val docs = spark.range(0, 1000).toDF("doc_id")
    def run(seed: Long): Array[Long] =
      Curation
        .shuffleForTraining(docs, "doc_id", seed, numPartitions = 7)
        .collect()
        .map(_.getLong(0))
    val a = run(1)
    assert(a.sameElements(run(1))) // reproducible
    assert(!a.sameElements(run(2))) // epoch-dependent
    assert(a.sorted.sameElements(Array.range(0, 1000).map(_.toLong))) // a permutation
    assert(!a.sameElements(Array.range(0, 1000).map(_.toLong))) // actually shuffled
    // the realized order IS the seeded-hash order (total across the
    // range-partition boundaries, not just within partitions)
    val expect = docs
      .withColumn("k", xxhash64(lit(1L), col("doc_id")))
      .orderBy(col("k"), col("doc_id"))
      .collect()
      .map(_.getLong(0))
    assert(a.sameElements(expect))
    // range partitioning on the hash key keeps output files balanced
    val sizes = Curation
      .shuffleForTraining(docs, "doc_id", 1, numPartitions = 7)
      .withColumn("p", spark_partition_id())
      .groupBy("p")
      .count()
      .collect()
      .map(_.getAs[Long]("count"))
    assert(sizes.length == 7 && sizes.min > 0)
    assert(sizes.max <= 3 * (1000 / 7))
  }

  test("bigramLogProb scores atypical transitions; one-word docs drop out") {
    // corpus bigrams: "a b" ×2, "b a" ×1, "a c" ×1  (doc 3 has no bigrams)
    // c(prev=a)=3: P(b|a)=2/3, P(c|a)=1/3; c(prev=b)=1: P(a|b)=1
    val docs = Seq(
      (1L, "a b a c"), // bigrams: a b, b a, a c
      (2L, "a b"),
      (3L, "solo")
    ).toDF("doc_id", "text")
    val r = TextAnalysis
      .bigramLogProb(docs, "doc_id", "text")
      .collect()
      .map(row => row.getAs[Long]("doc_id") ->
        (row.getAs[Int]("n_bigrams"), row.getAs[Double]("avg_neg_logprob2")))
      .toMap
    assert(!r.contains(3L)) // no bigrams → no row (oracle mirrors)
    assert(r(1L)._1 == 3 && r(2L)._1 == 1)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val d1 = (-math.log(2.0 / 3) + -math.log(1.0) + -math.log(1.0 / 3)) / 3
    assert(r(1L)._2 == r6(d1))
    assert(r(2L)._2 == r6(-math.log(2.0 / 3)))
    // transitions matter: common words, atypical order scores HIGHER
    val salad = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"),
      (3L, "the cat sat on the mat"),
      (4L, "mat the on sat cat the")
    ).toDF("doc_id", "text")
    val s = TextAnalysis
      .bigramLogProb(salad, "doc_id", "text")
      .collect()
      .map(row => row.getAs[Long]("doc_id") -> row.getAs[Double]("avg_neg_logprob2"))
      .toMap
    assert(s(4L) > s(1L))
  }

  test("sampleExactK: exact per-stratum counts, deterministic, seed-sensitive") {
    val docs = spark
      .range(0, 300)
      .select(col("id").as("doc_id"),
        concat(lit("s"), (col("id") % 3).cast("string")).as("src"))
    def ids(seed: Long) = Curation
      .sampleExactK(docs, "doc_id", "src", k = 10, seed = seed)
      .collect()
      .map(r => (r.getAs[String]("src"), r.getAs[Long]("doc_id")))
    val a = ids(1)
    assert(a.groupBy(_._1).view.mapValues(_.length).toMap ==
      Map("s0" -> 10, "s1" -> 10, "s2" -> 10))
    assert(a.sorted.sameElements(ids(1).sorted)) // deterministic
    assert(!a.toSet.equals(ids(2).toSet)) // different epoch/seed → different sample
    // k larger than a stratum returns the whole stratum, no more
    val small = Curation
      .sampleExactK(docs.filter(col("doc_id") < 5), "doc_id", "src", k = 10, seed = 1)
      .count()
    assert(small == 5)
  }

  test("repetition signals match hand-computed values") {
    // "a a a b": 4 words, 2 distinct -> dup 0.5; bigrams [a a, a a, a b]
    // -> modal 2/3; longest run of 'a' = 3
    val df = Seq((1L, "a a a b"), (2L, "x y z w")).toDF("doc_id", "text")
    val r = TextAnalysis
      .repetitionSignals(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
    assert(r(0).getDouble(1) == 0.5)
    assert(r(0).getDouble(2) == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    assert(r(0).getInt(3) == 3)
    assert(r(1).getDouble(1) == 0.0)
    assert(r(1).getDouble(2) == math.rint(1.0 / 3.0 * 1e6) / 1e6)
    assert(r(1).getInt(3) == 1)
  }

  test("decontaminate counts shared shingles and flags above threshold") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // shares 2+ trigrams
      (2L, "entirely unrelated words with zero benchmark overlap here")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox leaps high")).toDF("doc_id", "text")
    val r = Curation
      .decontaminate(corpus, eval, "doc_id", "text", n = 3, flagMinOverlap = 2)
      .orderBy("doc_id")
      .collect()
    // doc 1 shares "the quick brown" and "quick brown fox"
    assert(r(0).getAs[Int]("overlap") == 2)
    assert(r(0).getAs[Boolean]("contaminated"))
    assert(r(1).getAs[Int]("overlap") == 0)
    assert(!r(1).getAs[Boolean]("contaminated"))
  }

  test("bloom decontamination has no false negatives and bounded overestimate") {
    val docs = graft.sources.Tables
      .load(spark, testData("0.001"), "documents")
    val corpus = docs.filter($"doc_id" % 97 =!= 0)
    val eval = docs.filter($"doc_id" % 97 === 0)
    val exact = Curation
      .decontaminate(corpus, eval, "doc_id", "text", n = 3, flagMinOverlap = 2)
      .select($"doc_id", $"overlap", $"contaminated")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    val bloom = Curation
      .decontaminateBloom(corpus, eval, "doc_id", "text", n = 3, flagMinOverlap = 2)
      .select($"doc_id", $"overlap_est", $"contaminated")
      .collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
      .toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (ov, flagged)) =>
      val (est, flaggedB) = bloom(id)
      assert(est >= ov, s"doc $id: bloom under-counted ($est < $ov) — false negative")
      if (flagged) assert(flaggedB, s"doc $id: exact contamination missed by bloom")
    }
    // at fpp=1% the fleet-wide overestimate should be tiny
    val extra = exact.keys.map(id => bloom(id)._1 - exact(id)._1).sum
    val total = exact.values.map(_._1).sum.max(1)
    assert(extra <= math.max(5, total / 10), s"implausible bloom overestimate: +$extra on $total")
  }

  test("xxhash64 production family finds the same contamination structure") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "entirely unrelated words with zero benchmark overlap here")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the quick brown fox leaps high")).toDF("doc_id", "text")
    val md = Curation
      .decontaminate(corpus, eval, "doc_id", "text")
      .orderBy("doc_id")
      .select("overlap")
      .as[Int]
      .collect()
      .toSeq
    val xx = Curation
      .decontaminate(corpus, eval, "doc_id", "text", hashFamily = HashFamily.XxHash64)
      .orderBy("doc_id")
      .select("overlap")
      .as[Int]
      .collect()
      .toSeq
    assert(md == xx)
    // an unknown family is a compile error now (sealed HashFamily), not
    // a runtime IllegalArgumentException — no negative case to test
  }

  test("native GramMinHash fingerprint is hash-identical to the composed lambda twin") {
    // edge shapes: empty, shorter-than-gram, exactly gram, multibyte
    // UTF-8 (2- and 3-byte chars straddling window boundaries), long doc
    val texts = Seq(
      "", "short", "eightchr", "exactly nine!",
      "héllo wörld — ünïcode text", "日本語のテキストです",
      "mixed ascii and 中文 characters over the gram boundary",
      ("the quick brown fox jumps over the lazy dog " * 20).trim
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((gram, stride) <- Seq((8, 2), (8, 1), (3, 5), (1, 1))) {
      val df = texts.toDF("id", "text")
      val composed = df.select(
        col("id"),
        array_min(expr(
          s"transform(sequence(1, greatest(length(text) - ${gram - 1}, 1), $stride), " +
            s"i -> xxhash64(substring(text, i, $gram)))")).as("fp"))
      val native = df.select(
        col("id"),
        TextAnalysis.fingerprint("text", gram, stride, HashFamily.XxHash64).as("fp"))
      assert(
        native.except(composed).isEmpty && composed.except(native).isEmpty,
        s"gram=$gram stride=$stride differs")
    }
  }

  test("native Md5GramMin fingerprint is hash-identical to the composed md5 lambda twin") {
    val texts = Seq(
      "", "short", "eightchr", "exactly nine!",
      "héllo wörld — ünïcode text", "日本語のテキストです",
      "mixed ascii and 中文 characters over the gram boundary",
      ("the quick brown fox jumps over the lazy dog " * 20).trim
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for ((gram, stride) <- Seq((8, 2), (8, 1), (3, 5), (1, 1))) {
      val df = texts.toDF("id", "text")
      val composed = df.select(
        col("id"),
        array_min(expr(
          s"transform(sequence(1, greatest(length(text) - ${gram - 1}, 1), $stride), " +
            s"i -> md5(cast(substring(text, i, $gram) AS BINARY)))")).as("fp"))
      val native = df.select(
        col("id"),
        TextAnalysis.fingerprint("text", gram, stride, HashFamily.Md5).as("fp"))
      assert(
        native.except(composed).isEmpty && composed.except(native).isEmpty,
        s"gram=$gram stride=$stride differs")
    }
  }

  test("native RepetitionStats signals are value-identical to the composed fold form") {
    // edge shapes: empty, single token, empty tokens from double/leading
    // spaces, all-same tokens, long runs, bigram modes, multibyte
    val texts = Seq(
      "", "one", "a a a a a", "a b a b a b", "  double  spaces  ",
      " leading", "trailing ", "x y x y y y x", "日本 語 日本 語 日本",
      ("w1 w2 w3 " * 30).trim, "same same same different same same"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val native = TextAnalysis.repetitionSignals(df, "doc_id", "text")
    val composed = TextAnalysis.repetitionSignalsComposed(df, "doc_id", "text")
    assert(native.except(composed).isEmpty && composed.except(native).isEmpty)
  }

  test("stratified sampling honors 0/100 rates and is deterministic") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "keep" else "drop")).toDF("id", "src")
    val kept = df
      .filter(
        Curation.sampleStratified("id", "src", Map("keep" -> 100, "drop" -> 0), 50)
      )
      .select("id")
      .as[Long]
      .collect()
      .toSet
    assert(kept == (1L to 200L).filter(_ % 2 == 0).toSet)
    val r1 = df.filter(Curation.sampleStratified("id", "src", Map.empty, 30)).count()
    val r2 = df.filter(Curation.sampleStratified("id", "src", Map.empty, 30)).count()
    assert(r1 == r2) // pure function of the id, not of partitioning/run
  }

  test("distributionStats exact percentiles; approx within tolerance") {
    val df = (1L to 1000L).map(i => (i, "s", i.toDouble)).toDF("id", "src", "v")
    val exact = Curation.distributionStats(df, "src", "v").collect()(0)
    assert(exact.getAs[Long]("n_docs") == 1000L)
    assert(exact.getAs[Double]("p50") == 500.5) // interpolated median of 1..1000
    val approx =
      Curation.distributionStats(df, "src", "v", exact = false).collect()(0)
    assert(math.abs(approx.getAs[Double]("p50") - 500.5) < 25.0)
  }

  test("packSequences assigns packs by running token sum per stratum") {
    val df = Seq(
      (1L, "s", 100), (2L, "s", 100), (3L, "s", 60), (4L, "s", 10),
      (5L, "t", 250)
    ).toDF("id", "src", "n_tok")
    val r = Curation
      .packSequences(df, "id", "src", "n_tok", ctxTokens = 256)
      .orderBy("id")
      .select("pack_id", "pack_offset")
      .collect()
      .map(x => (x.getLong(0), x.getInt(1))) // pack_id is LONG (exact integral DIV)
    // stratum s cum-before: 0, 100, 200, 260 -> packs 0,0,0,1; t: 0
    assert(r.toSeq == Seq((0L, 0), (0L, 100), (0L, 200), (1L, 4), (0L, 0)))
  }

  test("tfidfTopTerm picks the highest-scoring term deterministically") {
    // "rare" appears twice in doc 1 and nowhere else; "common" is in
    // every doc (idf = ln(1) = 0)
    val df = Seq(
      (1L, "common rare rare"),
      (2L, "common only two"),
      (3L, "common three word")
    ).toDF("doc_id", "text")
    val r = TextAnalysis
      .tfidfTopTerm(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
    assert(r(0).getAs[String]("top_term") == "rare")
    assert(r(0).getAs[Double]("top_tfidf") == math.rint(2 * math.log(3.0) * 1e6) / 1e6)
  }

  test("unigramLogProb scores corpus-atypical docs higher") {
    // corpus: "common" appears 4/6 tokens, "rare"/"odd" once each
    val df = Seq(
      (1L, "common common common"),
      (2L, "common rare odd")
    ).toDF("doc_id", "text")
    val r = TextAnalysis
      .unigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
    val pCommon = 4.0 / 6.0
    val pRare = 1.0 / 6.0
    assert(r(0).getAs[Double]("avg_neg_logprob") == math.rint(-math.log(pCommon) * 1e6) / 1e6)
    val exp2 = (-math.log(pCommon) - 2 * math.log(pRare)) / 3.0
    assert(math.abs(r(1).getAs[Double]("avg_neg_logprob") - exp2) < 1e-6)
    assert(r(1).getAs[Double]("avg_neg_logprob") > r(0).getAs[Double]("avg_neg_logprob"))
  }

  test("normalize lowercases, collapses spaces, trims — and is idempotent") {
    val df = Seq((1L, "  Hello   WORLD  ")).toDF("id", "raw")
    val once = df.select(Curation.normalize(col("raw")).as("n")).as[String].collect()(0)
    assert(once == "hello world")
    val twice = df
      .select(Curation.normalize(Curation.normalize(col("raw"))).as("n"))
      .as[String]
      .collect()(0)
    assert(twice == once)
  }

  test("decontaminate filter works on a stream (stateless broadcast membership)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val eval = Seq((100L, "the quick brown fox leaps high")).toDF("doc_id", "text")
    val bench = eval
      .withColumn("__toks", split(col("text"), " "))
      .select(explode(graft.operators.Dedup.shinglesOf("__toks", 3)).as("shingle"))
      .select(md5(col("shingle").cast("binary")).as("sh"))
      .distinct()
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val streamed = in
      .toDF()
      .toDF("doc_id", "text")
      .select(
        col("doc_id"),
        // native WordShingles inside a streaming plan
        explode(graft.operators.Dedup.shinglesNative(col("text"), 3)).as("shingle")
      )
      .withColumn("sh", md5(col("shingle").cast("binary")))
      .join(broadcast(bench), Seq("sh"), "left_semi") // contaminated shingles
    val q = streamed.writeStream.format("memory").queryName("decon_stream").start()
    try {
      in.addData((1L, "the quick brown fox jumps over the lazy dog"), (2L, "nothing shared at all here"))
      q.processAllAvailable()
      val hits = spark.sql("SELECT doc_id, COUNT(*) AS c FROM decon_stream GROUP BY 1").collect()
      assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    } finally q.stop()
  }

  test("curate gates, scrubs, dedups by normalized content, carries canonical metadata") {
    val docs = Seq(
      // en, long enough to clear the quality gate; 11 is the normalized
      // duplicate of 10 (case + whitespace noise) and must fold into it
      (10L, "the quick brown fox and the lazy dog walk to a river of calm water every day", "s1"),
      (11L, "The QUICK brown fox and the lazy dog walk  to a river of calm water every day", "s2"),
      // es-marked text: language gate drops it
      (12L, "el rio que corre y la casa de los padres el rio que corre y la casa", "s3"),
      // en but too short: quality gate drops it
      (13L, "the a of", "s4")
    ).toDF("doc_id", "text", "src")

    val out = Curation
      .curate(docs, "doc_id", "text", carry = Seq("src"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("canonical_id") == 10L)
    assert(r.getAs[Long]("dup_count") == 2L)
    assert(r.getAs[String]("src") == "s1") // carried from the canonical doc
    // the output text is the canonical doc's SCRUBBED text
    assert(r.getAs[String]("clean_text").startsWith("the quick brown fox"))
  }

  test("MinByObject keeps hash aggregation for struct carries and honors null orderings") {
    import graft.functions.BoundedHeap
    val df = Seq(
      (Some(3L), "c", 1.0),
      (Some(1L), "a", 9.0),
      (None: Option[Long], "z", 0.0), // null ordering ignored
      (Some(2L), "b", 5.0)
    ).toDF("ord", "s", "d").repartition(3) // force partial serde + merge
    val row = df
      .agg(
        BoundedHeap.minBy(struct($"s", $"d"), $"ord").as("lo"),
        BoundedHeap.maxBy($"s", $"ord").as("hi")
      )
      .head
    assert(row.getStruct(0).getString(0) == "a" && row.getStruct(0).getDouble(1) == 9.0)
    assert(row.getString(1) == "c")
    // plan shape: the whole point — no SortAggregate fallback
    val plan = df
      .groupBy($"d")
      .agg(BoundedHeap.minBy(struct($"s"), $"ord"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"))
  }

  test("MinByObject is value-equivalent to built-in min_by/max_by on unique orderings") {
    import graft.functions.BoundedHeap
    // unique orderings (tie behavior is nondeterministic in BOTH forms,
    // so ties are excluded from the equivalence claim); several random
    // draws with grouped keys and partial-merge pressure
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val rows = rnd.shuffle((0 until 400).toList).map { ord =>
        (ord.toLong, s"k${ord % 7}", s"v${rnd.nextInt(100000)}", rnd.nextDouble())
      }
      val df = rows.toDF("ord", "key", "s", "d").repartition(5)
      val got = df
        .groupBy($"key")
        .agg(
          BoundedHeap.minBy(struct($"s", $"d"), $"ord").as("lo"),
          BoundedHeap.maxBy($"s", $"ord").as("hi")
        )
        .collect()
        .map(r => r.getString(0) -> (r.getStruct(1).getString(0), r.getString(2)))
        .toMap
      val want = df
        .groupBy($"key")
        .agg(min_by(struct($"s", $"d"), $"ord").as("lo"), max_by($"s", $"ord").as("hi"))
        .collect()
        .map(r => r.getString(0) -> (r.getStruct(1).getString(0), r.getString(2)))
        .toMap
      assert(got == want)
    }
  }

  test("canonicalizeUrl: ports, fragments, tracking params, ordering, bare paths") {
    val cases = Seq(
      ("HTTPS://Host.COM:443/A?b=2&a=1#f", "https://host.com/A?a=1&b=2"), // default port + frag + sort
      ("http://host.com:8080/x", "http://host.com:8080/x"),               // non-default port kept
      ("http://HOST.com:80", "http://host.com/"),                         // default port + empty path
      ("https://h.co/p?utm_source=a&utm_medium=b&fbclid=c", "https://h.co/p"), // all tracking -> no '?'
      ("https://h.co/p?ref=x&real=1&gclid=2", "https://h.co/p?real=1"),
      ("https://h.co/CaseKept/Path?Z=1", "https://h.co/CaseKept/Path?Z=1") // path/query case preserved
    ).toDF("url", "expected")
    val out = cases
      .withColumn("canonical", Curation.canonicalizeUrl($"url"))
      .filter($"canonical" =!= $"expected")
      .collect()
    assert(out.isEmpty, s"mismatches: ${out.mkString("; ")}")
  }

  test("mixCorpus hits per-source token budgets via downsample and epoch repeat") {
    import org.apache.spark.sql.functions._
    val docs = (1 to 200).map { i =>
      val src = if (i <= 50) "gold" else "web"
      (i.toLong, Seq.fill(10)("tok").mkString(" "), src) // 10 tokens each
    }.toDF("doc_id", "text", "source")
    // gold: 500 tokens available, target 1250 -> rate 2.5 (epoch repeat)
    // web: 1500 available, target 300 -> rate 0.2 (downsample)
    val out = Curation.mixCorpus(docs, "doc_id", "text", "source",
      targets = Map("gold" -> 1250.0, "web" -> 300.0))
    val bySrc = out.groupBy($"source")
      .agg(sum($"n_tokens").as("tokens"), countDistinct($"doc_id").as("docs"),
        max($"copy").as("max_copy"))
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    // realized tokens within ~20% of target (Bernoulli on 50/150 docs)
    assert(math.abs(bySrc("gold").getAs[Long]("tokens") - 1250L) <= 250)
    assert(math.abs(bySrc("web").getAs[Long]("tokens") - 300L) <= 100)
    // every gold doc runs at least 2 epochs; web is a strict subset
    assert(bySrc("gold").getAs[Long]("docs") == 50 && bySrc("gold").getAs[Long]("max_copy") >= 2)
    assert(bySrc("web").getAs[Long]("docs") < 150)
    // deterministic: the same mixture materializes twice
    val again = Curation.mixCorpus(docs, "doc_id", "text", "source",
      targets = Map("gold" -> 1250.0, "web" -> 300.0))
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    // sources without a target and no default are dropped
    val dropped = Curation.mixCorpus(docs, "doc_id", "text", "source",
      targets = Map("gold" -> 500.0))
    assert(dropped.where($"source" === "web").count() == 0)
  }

  test("newestPerKey keeps the n newest with deterministic tie-break") {
    val df = Seq(
      (1L, 100L, 10L, "a"),
      (1L, 200L, 11L, "b"),
      (1L, 200L, 12L, "c"), // same ts as 11 -> event_id desc wins
      (1L, 50L, 13L, "d"),
      (2L, 5L, 20L, "e")
    ).toDF("user_id", "ts", "event_id", "v")
    val r = TopN
      .newestPerKey(df, "user_id", "ts", "event_id", n = 2)
      .orderBy("user_id", "rank")
      .select("event_id")
      .as[Long]
      .collect()
    assert(r.toSeq == Seq(12L, 11L, 20L))
  }

  test("sampleWeightedK: exact counts, weight bias, determinism, zero-weight drop") {
    val rows = (0 until 200).map(i => (i.toLong, "s", 1.0)) ++
      (200 until 205).map(i => (i.toLong, "s", 1000.0)) ++
      (300 until 303).map(i => (i.toLong, "t", 5.0)) ++
      Seq((400L, "t", 0.0), (401L, "t", -2.0)) // dropped
    val df = rows.toDF("doc_id", "source", "w")
    val got = Curation.sampleWeightedK(df, "doc_id", "source", "w", k = 10, seed = 3L)
    // exact per-stratum counts: min(k, positive-weight rows)
    val bySrc = got.groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(bySrc == Map("s" -> 10L, "t" -> 3L))
    // 1000×-weight rows dominate a k=10 draw over 200 unit-weight rows
    val heavy = got.filter($"doc_id" >= 200 && $"doc_id" < 205).count()
    assert(heavy == 5, s"expected all 5 heavy rows sampled, got $heavy")
    // deterministic per seed; a different seed redraws the light picks
    val again = Curation.sampleWeightedK(df, "doc_id", "source", "w", 10, 3L)
      .select($"doc_id").as[Long].collect().toSet
    assert(again == got.select($"doc_id").as[Long].collect().toSet)
    val other = Curation.sampleWeightedK(df, "doc_id", "source", "w", 10, 4L)
      .select($"doc_id").as[Long].collect().toSet
    assert(other != again)
  }

  test("stripMarkup: blocks with contents, tags, single-pass entities, whitespace") {
    def strip(s: String): String = {
      val df = Seq(s).toDF("raw").select(Curation.stripMarkup($"raw").as("c"))
      df.head().getString(0)
    }
    assert(strip("<p>hello <b>world</b></p>") == "hello world")
    // script/style contents are dropped, case-insensitively, even with
    // a spaced closing tag
    assert(strip("a<SCRIPT>var x = 1 < 2;</script >b<style>p{}</style>c") == "a b c")
    // entities decode once: literal "&amp;lt;" is the TEXT "&lt;", not "<"
    assert(strip("x &amp;lt; y &lt;tag&gt; &quot;q&quot; &#39;a&#39;") ==
      "x &lt; y <tag> \"q\" 'a'")
    // malformed tags degrade to dropped text, never an error
    assert(strip("a <p <b> c") == "a c")
    // an UNCLOSED script cannot be bounded — its tag strips, code stays
    // (the documented degradation; a quality gate drops such docs)
    assert(strip("a <script>code") == "a code")
    assert(strip("  a\t\n b  ") == "a b")
  }

  test("NB quality classifier separates clean prose from junk on held-out docs") {
    val labeled = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 1),
      (2L, "a clear well formed sentence with common words", 1),
      (3L, "the dog and the fox ran over a green field", 1),
      (4L, "buy buy buy cheap cheap pills pills pills now now", 0),
      (5L, "zzz qqq xxx zzz qqq xxx spam spam spam spam", 0),
      (6L, "click here click here cheap pills zzz spam now", 0)
    ).toDF("doc_id", "text", "y")
    val held = Seq(
      (10L, "the brown dog jumps over a green field"), // clean-like
      (11L, "cheap spam pills zzz qqq click now") // junk-like
    ).toDF("doc_id", "text")
    val scored = TextAnalysis
      .nbQualityScore(labeled, held, "doc_id", "text", "y")
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(scored(10L)._1 > scored(11L)._1)
    assert(scored(10L)._2 && !scored(11L)._2)

    // split train/serve faces compose to the same scores (the
    // persisted-model path is the same math)
    val (w, p) = TextAnalysis.nbTokenWeights(labeled, "text", "y")
    val served = TextAnalysis.nbScore(held, "doc_id", "text", w, p)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(served == scored.view.mapValues(_._1).toMap)

    // fully-unseen vocabulary degrades to the prior alone
    val unseen = Seq((20L, "wholly novel vocabulary only")).toDF("doc_id", "text")
    val prior = p.head().getDouble(0)
    val u = TextAnalysis.nbScore(unseen, "doc_id", "text", w, p).head()
    assert(math.abs(u.getDouble(2) - BigDecimal(prior)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }
}
