package graft

import graft.operators.{Dedup, HashFamily}
import org.apache.spark.sql.functions._

/** Dedup operator properties beyond the oracle queries: duplicate
  * detection guarantees and the hot-bucket cap.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // a one-word edit in a 48-word doc keeps shingle-Jaccard ≈ 0.93, which
  // the 4x4 banding detects with probability ≈ 1 (and the hash family is
  // deterministic, so this test is stable)
  private val base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
    "kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray yankee zulu one two three four " +
    "five six seven eight nine ten eleven twelve thirteen fourteen " +
    "fifteen sixteen seventeen eighteen nineteen twenty alpha end")
  private val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("oscar", "OSCAR")), // near dup of 1
    (4L, "completely different content about spark streaming engines okay")
  ).toDF("doc_id", "text")

  test("minhash finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical -> identical signature
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("lshBandPlan tracks the S-curve threshold over divisor pairs") {
    // anchors computed from the error-mass integral (deterministic)
    assert(Dedup.lshBandPlan(128, 0.2) == (64, 2))
    assert(Dedup.lshBandPlan(128, 0.5) == (32, 4))
    assert(Dedup.lshBandPlan(128, 0.8) == (8, 16))
    assert(Dedup.lshBandPlan(16, 0.5) == (4, 4))
    // structure: bands × rows always multiplies back; lower threshold
    // never gets fewer bands (shorter rows → wider recall)
    for (t <- Seq(0.1, 0.3, 0.5, 0.7, 0.9)) {
      val (b, r) = Dedup.lshBandPlan(64, t)
      assert(b * r == 64)
    }
    val plans = Seq(0.1, 0.5, 0.9).map(Dedup.lshBandPlan(64, _)._1)
    assert(plans == plans.sorted.reverse)
  }

  test("minhashCandidatesTuned equals minhashCandidates at the planned banding") {
    val (bands, _) = Dedup.lshBandPlan(16, 0.5)
    val tuned = Dedup
      .minhashCandidatesTuned(docs, "doc_id", "text", threshold = 0.5, numHashes = 16)
      .as[(Long, Long)].collect().toSet
    val manual = Dedup
      .minhashCandidates(docs, "doc_id", "text", numHashes = 16, bands = bands)
      .as[(Long, Long)].collect().toSet
    assert(tuned == manual)
    assert(tuned.contains((1L, 2L)))
  }

  test("maxBucketSize cap drops oversized buckets") {
    // 30 identical docs form one giant bucket per band; cap 10 kills them
    val many = (1L to 30L).map(i => (i, "same same same text for every single one of them"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minhashCandidates(many, "doc_id", "text")
    assert(uncapped.count() == 30L * 29 / 2)
    val capped = Dedup.minhashCandidates(many, "doc_id", "text", maxBucketSize = Some(10))
    assert(capped.count() == 0)
  }

  test("droppedBucket audits report exactly what a cap excludes") {
    // 30 identical docs: every one of the 4 minhash bands has a single
    // 30-member bucket, so a cap of 10 excludes 4 buckets of size 30 —
    // and the audit must say so, not let the run claim full coverage
    val many = (1L to 30L).map(i => (i, "same same same text for every single one of them"))
      .toDF("doc_id", "text")
    val dropped = Dedup.minhashDroppedBuckets(many, "doc_id", "text", maxBucketSize = 10)
      .select($"band_idx", $"bucket_size").as[(Int, Long)].collect()
    assert(dropped.length == 4, s"expected 4 over-cap band buckets, got ${dropped.toSeq}")
    assert(dropped.forall(_._2 == 30L), s"every bucket holds all 30 clones: ${dropped.toSeq}")
    // a cap nothing hits reports an empty audit (coverage was exhaustive)
    assert(Dedup.minhashDroppedBuckets(many, "doc_id", "text", maxBucketSize = 30).isEmpty)
    // the one-call pipeline surfaces the same audit frame
    val (kept, audit) = Dedup.dropNearDuplicatesAudited(
      many, "doc_id", "text", maxBucketSize = Some(10))
    assert(kept.count() == 30, "cap suppressed all candidates, so nothing was dropped")
    assert(audit.count() == 4, "the pipeline's audit must expose the 4 excluded buckets")
    // ...and with no cap the audit is empty by definition
    val (_, none) = Dedup.dropNearDuplicatesAudited(
      many, "doc_id", "text", maxBucketSize = None)
    assert(none.isEmpty)
    // simhash twin: 5 clones share one bucket per Hamming band (4 bands
    // at maxHamming=3); cap 4 excludes all 4, each of size 5
    val clones = (1L to 5L).map(i => (i, base)).toDF("doc_id", "text")
    val shDropped = Dedup.simhashDroppedBuckets(clones, "doc_id", "text", maxBucketSize = 4)
      .select($"band_idx", $"bucket_size").as[(Int, Long)].collect()
    assert(shDropped.length == 4 && shDropped.forall(_._2 == 5L), shDropped.toSeq.toString)
  }

  test("droppedBucketsFromBanded sizes buckets by non-null id, matching the cap") {
    // the capped generator sizes buckets with count(idCol) because
    // topKBy skips null ordering keys — 10 real members + 2
    // null-id rows is a bucket of 10, not 12. The band-table audit must
    // apply the SAME predicate (r17 ADVICE): under cap 10 this bucket
    // was KEPT, so the audit must not report it as dropped
    val banded = ((1L to 10L).map(i => (java.lang.Long.valueOf(i), 0, 42L)) ++
      Seq((null.asInstanceOf[java.lang.Long], 0, 42L),
        (null.asInstanceOf[java.lang.Long], 0, 42L)))
      .toDF("doc_id", "band_idx", "band_hash")
    assert(Dedup.droppedBucketsFromBanded(banded, maxBucketSize = 10).isEmpty,
      "null-id rows must not push a kept bucket over the audit's cap")
    // ...and 11 real members under cap 10 is still reported, size 11
    val over = banded.union(Seq((java.lang.Long.valueOf(99L), 0, 42L))
      .toDF("doc_id", "band_idx", "band_hash"))
    val rep = Dedup.droppedBucketsFromBanded(over, maxBucketSize = 10)
      .select($"bucket_size").as[Long].collect()
    assert(rep.toSeq == Seq(11L), s"expected one size-11 bucket, got ${rep.toSeq}")
  }

  test("incremental audited drop reports over-cap buckets per side") {
    // 20-clone corpus + a 10-clone batch of the same text: a cap of 8
    // suppresses the corpus buckets (size 20) AND the batch buckets
    // (size 10), so NOTHING is dropped — and the audit says which side
    // excluded what instead of letting the run claim coverage
    val text = "same same same text for every single one of them"
    val corpus = (1L to 20L).map(i => (i, text)).toDF("doc_id", "text")
    val batch = (101L to 110L).map(i => (i, text)).toDF("doc_id", "text")
    val (kept, audit) = Dedup.dropIncrementalDuplicatesAudited(
      batch, corpus, "doc_id", "text", maxBucketSize = Some(8))
    assert(kept.count() == 10, "capped run pairs nothing, so every batch doc survives")
    val bySide = audit.groupBy($"side").count().as[(String, Long)].collect().toMap
    assert(bySide == Map("new" -> 4L, "corpus" -> 4L),
      s"4 over-cap band buckets per side, got $bySide")
    // uncapped: the batch is actually deduplicated and the audit is empty
    val (keptAll, auditNone) = Dedup.dropIncrementalDuplicatesAudited(
      batch, corpus, "doc_id", "text", maxBucketSize = None)
    assert(keptAll.isEmpty, "every batch doc is a verified near-dup of the corpus")
    assert(auditNone.isEmpty)
  }

  test("semantic dedup keeps one representative per embedding cluster") {
    // two semantic clusters in one block (parallel vectors, cosine 1.0
    // within a cluster, orthogonal across) + one loner; transitivity:
    // 3 only pairs with 2 (id window), yet joins 1's cluster through it
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val rows = Seq(
      (1L, v(1f, 0f), 0), (2L, v(2f, 0f), 0), (3L, v(3f, 0f), 0), // cluster -> keep 1
      (10L, v(0f, 1f), 0), (11L, v(0f, 5f), 0),                   // cluster -> keep 10
      (20L, v(1f, 1f), 1)                                         // other block: loner
    ).toDF("vec_id", "embedding", "label")
    val kept = Dedup
      .dropSemanticDuplicates(rows, "vec_id", "embedding", "label",
        window = 50L, threshold = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L), s"got $kept")
  }

  test("incremental semantic dedup drops new docs near same-cell corpus docs only") {
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    val centroids = Seq((0, v(1f, 0f)), (1, v(0f, 1f)))
      .toDF("centroid_id", "centroid_vec")
    val corpus = Seq((100L, v(5f, 0.1f)), (101L, v(0.1f, 5f)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, v(4f, 0.2f)),  // cell 0, cosine ~1 with 100 -> dropped
      (2L, v(0.2f, 4f)),  // cell 1, near 101 -> dropped
      (3L, v(1f, -1f))    // cell 0 but 45° off (cos ~0.69 vs 100) -> kept
    ).toDF("vec_id", "embedding")
    val kept = Dedup
      .dropIncrementalSemanticDuplicates(batch, corpus, "vec_id", "embedding",
        centroids, threshold = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(kept == Set(3L), s"got $kept")
    // corpus is never touched: only batch rows appear in the output

    // the batch-cadence twin: a PERSISTED corpus cell assignment
    // (computed once, read back from parquet) must give the identical
    // result — the corpus is never re-assigned per batch
    val dir = java.nio.file.Files.createTempDirectory("graft_semcells").toString
    graft.operators.Similarity.assignCells(corpus, centroids, "embedding")
      .write.mode("overwrite").parquet(dir)
    val keptAssigned = Dedup
      .dropIncrementalSemanticDuplicatesAgainstAssigned(
        batch, spark.read.parquet(dir), "vec_id", "embedding",
        centroids, threshold = 0.9)
      .select($"vec_id").as[Long].collect().toSet
    assert(keptAssigned == kept, s"persisted-assignment twin diverged: $keptAssigned")
  }

  test("native WordShingles is byte-identical to the composed split+transform form") {
    import org.apache.spark.sql.functions.{col, split}
    // edge shapes: empty string, single word, double spaces (empty
    // tokens), leading/trailing spaces, short-of-n docs
    val texts = Seq(
      "", "one", "one two", "a b  c", " leading", "trailing ",
      "exactly three words", "four words in total",
      base, "x " * 50 + "y"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    for (n <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("id", "text").withColumn("__toks", split(col("text"), " "))
      val composed = df.select(col("id"), Dedup.shinglesOf("__toks", n).as("s"))
      val native = df.select(col("id"), Dedup.shinglesNative(col("text"), n).as("s"))
      assert(native.except(composed).isEmpty && composed.except(native).isEmpty, s"n=$n differs")
    }
  }

  test("xxhash64 production family detects the same duplicate structure") {
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text", hashFamily = HashFamily.XxHash64)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // an unknown family is a compile error now (sealed HashFamily)
  }

  test("clusters: min-label propagation finds transitive duplicate groups") {
    // chain 1-2, 2-3 plus disjoint pair 7-9: transitivity must pull 3
    // into cluster 1 even though (1,3) is not a candidate pair
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc1", "doc2")
    val got = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: a chain deeper than maxIter raises instead of returning partial labels") {
    // path 0-1-2-...-12 has diameter 12; min-label needs ~12 rounds
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val err = intercept[IllegalStateException](Dedup.clusters(chain, maxIter = 3))
    assert(err.getMessage.contains("still changing"))
    // diameter == maxIter resolves exactly (the confirmation round is
    // free — maxIter bounds CHANGING rounds, not total rounds)
    val ok = Dedup.clusters(chain, maxIter = 12).as[(Long, Long)].collect().toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 13)
  }

  test("clusters: reliable checkpoint path yields identical labels to localCheckpoint") {
    // the durability knob must not change semantics — same pair graph,
    // both checkpoint modes, identical label maps
    // a diameter-6 chain forces several label-changing rounds, so the
    // per-round frames are exercised — not just the two seed frames
    val pairs = ((0L until 6L).map(i => (i, i + 1)) ++ Seq((7L, 9L), (14L, 18L)))
      .toDF("doc1", "doc2")
    val local = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val reliable =
      Dedup.clusters(pairs, checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(reliable == local)
    // EVERY round must persist to the shared store (executor loss
    // mid-iteration would otherwise kill the job): count the distinct
    // rdd-* checkpoint dirs — edges + seed labels account for 2, so
    // anything <= 2 means the per-round frames silently went local
    def rddDirs(f: java.io.File): Seq[String] =
      if (f.isDirectory)
        (if (f.getName.startsWith("rdd-")) Seq(f.getName) else Seq.empty) ++
          f.listFiles().toSeq.flatMap(rddDirs)
      else Seq.empty
    val nRdds = rddDirs(new java.io.File(dir)).distinct.size
    assert(nRdds > 2, s"only $nRdds reliable checkpoints written — per-round label " +
      "frames are not durable (expected one per propagation round beyond the 2 seeds)")
  }

  test("dropNearDuplicates threads the hot-bucket cap through to candidate generation") {
    // four identical docs share every band bucket (bucket size 4): with
    // the cap below 4 no candidates form and nothing is dropped; with
    // the default cap the three higher ids are removed
    val clones = (1L to 4L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup
      .dropNearDuplicates(clones, "doc_id", "text", maxBucketSize = Some(3))
      .select($"doc_id").as[Long].collect().toSet
    assert(capped == Set(1L, 2L, 3L, 4L), s"cap=3 should suppress the bucket, got $capped")
    val default = Dedup.dropNearDuplicates(clones, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(default == Set(1L), s"default cap keeps the smallest id only, got $default")
  }

  test("simhash: identical docs share a fingerprint, near dups are close in hamming") {
    val fp = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    val hamming = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(hamming <= 6, s"near-dup hamming was $hamming")
  }

  test("simhashNearDup pairs near-dups within the hamming bound via band join") {
    // 16-bit here to match the simhash() default the expected-set oracle
    // below uses; also exercises the uneven band widths (16 bits over 7
    // bands -> 3,3,2,2,2,2,2)
    val pairs = Dedup.simhashNearDup(docs, "doc_id", "text", bits = 16, maxHamming = 6)
      .select($"doc1", $"doc2", $"hamming").as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // exact dup: hamming 0, always recalled (all bands agree)
    assert(byPair.get((1L, 2L)).contains(0))
    // one-word near dup: recalled with its true fingerprint distance
    val fp = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    val trueHamming = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    assert(byPair.get((1L, 3L)).contains(trueHamming))
    // every reported pair respects the bound — banding false positives
    // were verified away
    assert(pairs.forall(_._3 <= 6))
    // pigeonhole completeness on this corpus: every fingerprint pair
    // within the bound is reported (no candidate was missed by banding)
    val all = fp.keys.toSeq.sorted
    val expected = (for {
      a <- all; b <- all if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 6
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected)
  }

  test("simhash64: bit-identical to the driver reference; pairing complete within the bound") {
    // driver reference: same tokenizer (split limit -1), vote i = bit
    // (i & 7) of byte (i >> 3) of md5(token), strictly-positive sign
    def ref(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](64)
      text.split(" ", -1).foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (0 until 64).foreach { i =>
          if (((d(i >> 3) >> (i & 7)) & 1) == 1) votes(i) += 1 else votes(i) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((fp, i) => if (votes(i) > 0) fp | (1L << i) else fp)
    }
    val fp = Dedup.simhash64(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    texts.foreach { case (id, t) => assert(fp(id) == ref(t), s"doc $id fingerprint") }
    // identical docs collide; the banded pairing is pigeonhole-complete
    assert(fp(1L) == fp(2L))
    val pairs = Dedup
      .hammingNearDup(Dedup.simhash64(docs, "doc_id", "text"), "doc_id", "fingerprint",
        bits = 64, maxHamming = 6)
      .select($"doc1", $"doc2", $"hamming").as[(Long, Long, Int)].collect()
    val all = fp.keys.toSeq.sorted
    val expected = (for {
      a <- all; b <- all if a < b
      if java.lang.Long.bitCount(fp(a) ^ fp(b)) <= 6
    } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expected)
    assert(pairs.forall(_._3 <= 6))
  }

  test("simhashNearDup maxBucketSize drops degenerate buckets") {
    // many identical docs share every band bucket; cap below the clone
    // count suppresses the bucket entirely
    val clones = (1L to 5L).map(i => (i, base)).toDF("doc_id", "text")
    val capped = Dedup.simhashNearDup(clones, "doc_id", "text", maxBucketSize = Some(4))
    assert(capped.isEmpty)
  }

  test("dropNearDuplicates keeps one doc per verified transitive cluster") {
    val base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val docs = Seq(
      (10L, base),
      (11L, base + " extra"),                 // near-dup of 10
      (12L, base + " extra words appended"),  // near-dup of 11 (transitively of 10)
      (20L, "completely different content about distributed query engines and storage layers")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L), s"expected cluster collapse to smallest id, got $kept")
  }

  test("incremental dedup drops new docs matching the corpus, keeps novel ones") {
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base.replace("oscar", "OSCAR")), // near-dup of corpus doc 100
      (2L, "entirely new material about adaptive query execution in spark engines today")
    ).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidatesAgainst(batch, corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 100L)))
    assert(!cands.exists(_._1 == 2L), "novel doc must not pair with the corpus")
    val kept = Dedup.dropIncrementalDuplicates(batch, corpus, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"only the novel doc survives, got $kept")
    // a persisted corpus band table (the batch-cadence shape) yields the
    // same candidates as banding the corpus inline
    val dir = java.nio.file.Files.createTempDirectory("graft_bands").toString
    Dedup.bandedSignatures(corpus, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val viaTable = Dedup
      .candidatesAgainstBanded(batch, spark.read.parquet(dir), "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(viaTable == cands)
  }

  test("self-join over a persisted band table equals inline minhashCandidates") {
    val inline = Dedup.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_selfbands").toString
    Dedup.bandedSignatures(docs, "doc_id", "text").write.mode("overwrite").parquet(dir)
    val fromTable = Dedup.candidatesFromBanded(spark.read.parquet(dir), "doc_id")
      .as[(Long, Long)].collect().toSet
    assert(fromTable == inline)
  }

  test("per-row band computation is bit-identical to the aggregation form") {
    // the streaming path bands per row (array folds); batch bands via
    // explode+agg — same (id, band_idx, band_hash) sets, both families
    Seq(HashFamily.Md5, HashFamily.XxHash64).foreach { fam =>
      val agg = Dedup.bandedSignatures(docs, "doc_id", "text", hashFamily = fam)
        .as[(Long, Int, String)].collect().toSet
      val perRow = Dedup
        .bandedKeysPerRow(docs, "doc_id", "text",
          numHashes = 16, bands = 4, shingleSize = 3, hashFamily = fam)
        .as[(Long, Int, String)].collect().toSet
      assert(perRow == agg, s"band mismatch for $fam")
    }
  }

  test("streaming incremental candidates flag corpus near-dups per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, base)).toDF("doc_id", "text")
    val bandedCorpus = Dedup.bandedSignatures(corpus, "doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val out = Dedup.streamingIncrementalCandidates(streamDocs, bandedCorpus, "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("inc_cands")
      .outputMode("append").start()
    try {
      mem.addData(
        (1L, base.replace("oscar", "OSCAR")), // near-dup of corpus doc
        (2L, "entirely new material about adaptive query execution in spark engines today"))
      q.processAllAvailable()
      val got = spark.table("inc_cands")
        .select($"new_id", $"corpus_id").distinct()
        .as[(Long, Long)].collect().toSet
      assert(got.contains((1L, 100L)))
      assert(!got.exists(_._1 == 2L), "novel doc must not match the corpus")
    } finally q.stop()
  }

  test("editDistanceNearDup: exact verify inside blocks, prefix recall dial, cap") {
    val keys = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamna"),  // 1 edit from doc 1, same prefix block
      (3L, "alpha XXXX YYYY"),   // same block, far (> 3 edits)
      (4L, "XlphX beta gamma"),  // 2 edits from doc 1 but DIFFERENT prefix → blocked away
      (5L, "omega tail"),
      (6L, "omega tails")        // 1 edit from doc 5
    ).toDF("id", "key")
    val pairs = Dedup
      .editDistanceNearDup(keys, "id", "key", maxEdits = 3, blockPrefixLen = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSet
    assert(pairs == Set((1L, 2L, 1), (5L, 6L, 1)), s"got $pairs")

    // hot-block cap: everything shares one block → pairs vanish at cap 2
    val hot = Seq((1L, "aaaa x"), (2L, "aaaa y"), (3L, "aaaa z")).toDF("id", "key")
    assert(Dedup.editDistanceNearDup(hot, "id", "key", maxEdits = 3,
      blockPrefixLen = 4, maxBlockSize = Some(2)).count() == 0)
    assert(Dedup.editDistanceNearDup(hot, "id", "key", maxEdits = 3,
      blockPrefixLen = 4).count() == 3)
  }

  test("native SimHashText is bit-identical to the composed explode+agg form") {
    import org.apache.spark.sql.functions.not
    val tricky = docs.union(Seq(
      (90L, ""),                                  // one empty token votes
      (91L, "double  space   runs keep empties"), // empty tokens mid-array
      (92L, "ümlaut straße 多字节 tokens"),         // multibyte
      (93L, "x")                                  // single short token
    ).toDF("doc_id", "text"))
    for (bits <- Seq(16, 32)) {
      val n = Dedup.simhash(tricky, "doc_id", "text", bits)
      val c = Dedup.simhashComposed(tricky, "doc_id", "text", bits)
      val diff = n.as("n").join(c.as("c"), "doc_id")
        .filter(not($"n.fingerprint" <=> $"c.fingerprint")).count()
      assert(diff == 0, s"bits=$bits diverged")
    }
  }
}
