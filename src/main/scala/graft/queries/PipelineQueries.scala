package graft.queries

import graft.operators.{Curation, Dedup, Embeddings, HashFamily, History, IntervalJoin, Multimodal, Quality, Retrieval, Similarity, Sketches, TextAnalysis, Tokenizer}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** LLM-training-data pipeline operators (builder-prompt first-class
  * inventory): deduplication ×5, similarity search ×2, text analysis ×4,
  * multimodal plumbing. Implementations in `graft.operators.*`; this
  * pack binds them to the `documents`/`embeddings` tables and pairs each
  * SQL-expressible one with a DuckDB oracle.
  */
object PipelineQueries extends QueryPack {

  /** Fixed mean + covariance for q_embed_whiten_gated: the model must be
    * byte-identical at query-build and oracle-build time, so it derives
    * from CONSTANTS (never the sf dir) through the production
    * Embeddings.modelFromCovariance path. The covariance is symmetric
    * and strongly diagonally dominant (positive definite by
    * construction), so the eigenbasis is well-separated and Jacobi
    * converges to the same bits on every run.
    */
  private val WhitenGateDim = 8
  private val WhitenGateK = 4
  private def whitenGateModel(shrinkage: Double): Embeddings.WhiteningModel = {
    val mean = Array.tabulate(WhitenGateDim)(i => 0.5 * (i + 1))
    val cov = Array.tabulate(WhitenGateDim, WhitenGateDim) { (i, j) =>
      if (i == j) 4.0 / (i + 1) else 0.3 / ((i + 1.0) * (j + 1.0))
    }
    Embeddings.modelFromCovariance(mean, cov, WhitenGateK, shrinkage = shrinkage)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> { (s, dir) =>
      Dedup
        .exact(Tables.load(s, dir, "documents"), "doc_id", Seq("text"))
        .orderBy(col("canonical_id"))
    },
    // KLL quantile sketch through its exactness window (total retained
    // ≤ k keeps every item at weight 1 through any merge order), so the
    // gated result IS DuckDB quantile_disc — the bounded-slice gate
    // pattern (q_hard_negatives). The genuinely-approximate production
    // shape is the q_quantile_sketch_approx bench twin; its O(1/k) rank
    // error is spec-pinned (QuantileSketchSpec).
    "q_quantile_sketch" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").filter(col("doc_id") < 5000)
      d.groupBy(col("lang"))
        .agg(Sketches
          .kllQuantilesCol(col("n_chars"), Seq(0.5, 0.9, 0.99), k = 8192)
          .as("__qs"))
        .select(
          col("lang"),
          element_at(col("__qs"), 1).as("p50"),
          element_at(col("__qs"), 2).as("p90"),
          element_at(col("__qs"), 3).as("p99"))
        .orderBy(col("lang"))
    },
    // the covariance MATH of the whitening fit, gated: raw second
    // moments of the leading 4 embedding dims through the repo's
    // decimal-sum convention (exact, order-independent) — what
    // MomentsAgg accumulates in doubles at full width is spec-pinned
    // against driver-exact instead (EmbeddingsSpec); the fit+transform
    // path itself is the q_embed_whiten bench twin
    "q_embed_moments" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val dims = 4
      // widen float→double FIRST (exact both engines), do the product in
      // IEEE double (bit-identical both engines), and only then quantize
      // to decimal for the order-independent sum — casting the FLOAT to
      // decimal directly rounds differently in DuckDB (~1e-9/element,
      // accumulating with n)
      val x = (1 to dims).map(i =>
        element_at(col("embedding"), i).cast("double"))
      val sumCols = (1 to dims).map(i =>
        sum(x(i - 1).cast("decimal(28,18)")).cast("double").as(s"s$i"))
      val prodCols = for { i <- 1 to dims; j <- i to dims }
        yield sum((x(i - 1) * x(j - 1)).cast("decimal(28,18)"))
          .cast("double").as(s"m$i$j")
      e.agg(count(lit(1)).as("n"), (sumCols ++ prodCols): _*)
    },
    // the whitened PROJECTION gated (closes the q_embed_whiten spec-only
    // gap): under the FIXED covariance in [[whitenGateModel]], the
    // (Σ+λI)^(-1/2) basis the production scaling code computes
    // (Embeddings.modelFromCovariance — the exact path fitWhitening
    // takes after its corpus pass) is a literal matrix both engines
    // apply as plain column math. λ ∈ {0, 1} exercises both shrinkage
    // regimes of the r16 dial; the nonzero mean exercises the folded
    // offset; MatVec's ascending accumulation mirrors SQL's left-assoc +
    "q_embed_whiten_gated" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val w0 = Embeddings.transform(e, "embedding", whitenGateModel(0.0), "w0")
      val w1 = Embeddings.transform(w0, "embedding", whitenGateModel(1.0), "w1")
      val cols =
        (1 to WhitenGateK).map(r => element_at(col("w0"), r).as(s"a$r")) ++
          (1 to WhitenGateK).map(r => element_at(col("w1"), r).as(s"b$r"))
      w1.select(col("vec_id") +: cols: _*).orderBy(col("vec_id"))
    },
    // the PRODUCTION z-order key (functions.ZValue — the expression
    // Lake.writeZOrdered sorts by) gate-checked bit-for-bit against a
    // DuckDB mirror: identity boundaries make bucket(x) = x, so the
    // quantile rank degenerates to a pure interleave both engines can
    // compute; row-group pruning itself is measured in ZOrderSpec.
    "q_zorder_key" -> { (s, dir) =>
      val o = Tables.load(s, dir, "orders")
      val bits = 8
      val bounds = graft.functions.ZValue.identityBoundaries(bits)
      val zc = org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.ZValue(
          Seq("o_orderkey", "o_custkey").map(c =>
            org.apache.spark.sql.graftbridge.ColumnBridge
              .expression((col(c) % 256).cast("double"))),
          Seq(bounds, bounds),
          bits))
      o.select(col("o_orderkey"), zc.as("z")).orderBy(col("o_orderkey"))
    },
    // the training-shard manifest (Lake.shardManifest): deterministic
    // md5 shard assignment, per-shard example/token counts and an
    // order-independent bit_xor content checksum — the loader-side
    // artifact of Lake.writeTrainingShards, gate-checked cell-for-cell
    "q_shard_manifest" -> { (s, dir) =>
      graft.sources.Lake.shardManifest(
        Tables.load(s, dir, "documents")
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
        "doc_id", Seq("doc_id", "text"), nShards = 64, seed = "sh15",
        tokenCol = Some("n_tok"))
    },
    // the persisted-sketch loop gated end-to-end: WRITE per-(source ×
    // shard) KLL cells, READ them back to per-source quantiles with the
    // binary-merge aggregate — still inside the exactness window, so
    // the rollup must equal quantile_disc over the raw rows. At 100 TB
    // the sketch table is what lands next to each ingest batch; this
    // proves the write→merge algebra loses nothing.
    "q_quantile_merge" -> { (s, dir) =>
      val d = Tables
        .load(s, dir, "documents")
        .filter(col("doc_id") < 5000)
        .withColumn("shard", (col("doc_id") % 8).cast("int"))
      val sketches =
        Sketches.kllShardSketches(d, Seq("source", "shard"), "n_chars", k = 8192)
      Sketches
        .kllMergeQuantiles(sketches, Seq("source"), Seq(0.5, 0.95))
        .orderBy(col("source"))
    },
    "q_dedup_minhash" -> { (s, dir) =>
      Dedup
        .minhashCandidates(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc1"), col("doc2"))
    },
    // the hot-bucket cap's coverage audit: every band bucket a cap of 1
    // would exclude, with its member count — i.e. exactly the buckets
    // that generate candidate pairs, so non-empty wherever near-dups
    // exist
    "q_dedup_dropped_buckets" -> { (s, dir) =>
      Dedup
        .minhashDroppedBuckets(
          Tables.load(s, dir, "documents"), "doc_id", "text", maxBucketSize = 1)
        .orderBy(col("band_idx"), col("band_hash"))
    },
    "q_dedup_simhash" -> { (s, dir) =>
      Dedup
        .simhash(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // Hamming-banded simhash pairing: near-dups differing in <= 3
    // fingerprint bits, found via the pigeonhole band join (no
    // all-pairs scan) + exact bit_count verify
    "q_dedup_simhash_near" -> { (s, dir) =>
      Dedup
        .simhashNearDup(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc1"), col("doc2"))
    },
    // the whole near-dup removal pipeline in one call: candidates →
    // verify → components → keep the smallest id per cluster
    "q_dedup_apply" -> { (s, dir) =>
      Dedup
        .dropNearDuplicates(Tables.load(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // incremental ingestion dedup: odd doc_ids are the arriving batch,
    // even doc_ids the existing (canonical) corpus — new docs that
    // verify as near-dups of the corpus are dropped, corpus untouched
    "q_dedup_incremental" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Dedup
        .dropIncrementalDuplicates(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // the LSH confirm step: exact shingle-set Jaccard over the minhash
    // candidates, banding false positives dropped
    "q_dedup_verified" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Dedup
        .verifyCandidates(
          Dedup.minhashCandidates(docs, "doc_id", "text"), docs, "doc_id", "text",
          minJaccard = 0.4)
        .orderBy(col("doc1"), col("doc2"))
    },
    "q_ngram_jaccard" -> { (s, dir) =>
      Dedup
        .ngramJaccard(Tables.load(s, dir, "documents"), "doc_id", "text", "source")
        .orderBy(col("doc1"), col("doc2"))
    },
    "q_embedding_neardup" -> { (s, dir) =>
      Dedup
        .embeddingNearDup(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .orderBy(col("id1"), col("id2"))
    },
    // entity-resolution edit-distance near-dup: exact-prefix blocks +
    // length filter + id-band window + Levenshtein verify over 24-char
    // title keys. The window bounds pairs at n·50 — the synthetic
    // titles' prefix diversity is vocab-bounded, so unwindowed blocking
    // is Σ|block|² ∝ n² (Dedup.editDistanceNearDup scaladoc)
    "q_editdist_neardup" -> { (s, dir) =>
      val titled = Tables
        .load(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 24).as("title"))
      Dedup
        .editDistanceNearDup(titled, "doc_id", "title",
          maxEdits = 6, blockPrefixLen = 4, window = Some(50L))
        .orderBy(col("id1"), col("id2"))
    },
    // incremental semantic dedup: odd vec_ids are the arriving batch,
    // even the corpus; IVF-cell blocking (the q_ann_ivf centroid
    // convention), new docs within cosine 0.3 of any same-cell corpus
    // doc are dropped, corpus untouched
    "q_semantic_incremental" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      Dedup
        .dropIncrementalSemanticDuplicates(
          emb.filter(col("vec_id") % 2 === 1), emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", centroids, threshold = 0.3)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    // one-call SemDeDup: the near-dup pairs above → connected
    // components → keep the smallest vec_id per semantic cluster
    "q_semantic_dedup" -> { (s, dir) =>
      Dedup
        .dropSemanticDuplicates(
          Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    // semantic blocking: nearest-centroid cells (the IVF assignment
    // fold, no shuffle) as the near-dup blocking key instead of the
    // label — recalls cross-label near-dups the label block misses
    "q_embedding_neardup_ivf" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cents = emb
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec")
        )
      Dedup
        .embeddingNearDup(
          Similarity.assignCells(emb.select(col("vec_id"), col("embedding")), cents, "embedding"),
          "vec_id",
          "embedding",
          "cell"
        )
        .orderBy(col("id1"), col("id2"))
    },
    // hard-negative mining (ANCE-style offline pass): for a BOUNDED
    // query batch (vec_id < 100 — the training-loop serve shape, this
    // epoch's anchors against the whole corpus as the negative pool)
    // the 3 most similar DIFFERENT-label vectors, IVF-cell bounded —
    // q_ann_ivf centroid convention. The batch bound keeps the oracle
    // runnable at EVERY evidence scale: the DuckDB mirror's rank window
    // partitions 100 queries, not n (the unbounded self-mining form
    // needed a ~200 GB rank sort at sf10 — that shape lives on as the
    // q_hard_negatives_all bench twin).
    "q_hard_negatives" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity
        .hardNegatives(emb, "vec_id", "embedding", "label", centroids, k = 3,
          queryFilter = Some(col("vec_id") < 100))
        .select(
          col("query_id"), col("query_label"),
          col("neighbor_id"), col("neighbor_label"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    // cluster-based data pruning (Sorscher et al. 2022 SSL prototypes):
    // nearest-centroid cells (the q_ann_ivf centroid convention), keep
    // the hardest 30% per cluster — per-cluster cuts preserve coverage
    // where a global cut would empty sparse clusters first
    "q_prune_prototypes" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec")
        )
      Curation
        .pruneByPrototypicality(emb, "vec_id", "embedding", centroids, keepPct = 30)
        .select(
          col("vec_id"),
          col("cell"),
          round(col("cell_cos"), 6).as("cell_cos"),
          col("cell_rank")
        )
        .orderBy(col("vec_id"))
    },
    // candidate pairs → duplicate clusters (connected components,
    // min-label propagation) — the keep-one-per-GROUP step after any
    // candidate generator
    "q_dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup
        .embeddingNearDup(Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .select(col("id1"), col("id2"))
      Dedup.clusters(pairs, "id1", "id2").orderBy(col("node"))
    },
    "q_ann_bruteforce" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity
        .bruteForceTopK(emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    "q_ann_lsh" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      Similarity
        .lshTopK(emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    // IVF ANN with deterministic centroids (vec_id < 8) so the oracle
    // can mirror the cell assignment; production path trains cells with
    // Similarity.lloydCentroids (q_ann_ivfpq_trained)
    "q_ann_ivf" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity
        .ivfTopK(emb.filter(col("vec_id") < 3), emb, centroids, "vec_id", "embedding", 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },

    // skew-salted two-phase aggregation — same answer as a direct
    // groupBy, but hot keys shard across 16 partials first
    "q_salted_agg" -> { (s, dir) =>
      val li = Tables
        .load(s, dir, "lineitem")
        .withColumn("qd", col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
      graft.operators.Skew
        .saltedSumCount(li, Seq("l_returnflag"), "qd", saltFactor = 16)
        .select(
          col("l_returnflag"),
          col("sum_value").cast("double").as("sum_qty"),
          col("cnt")
        )
        .orderBy(col("l_returnflag"))
    },

    "q_lang_id" -> { (s, dir) =>
      Tables
        .load(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("predicted_lang"),
          col("lang").as("labeled_lang")
        )
        .orderBy(col("doc_id"))
    },
    "q_quality_score" -> { (s, dir) =>
      Tables
        .load(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality")
        )
        .orderBy(col("doc_id"))
    },
    "q_token_count" -> { (s, dir) =>
      TextAnalysis
        .tokenCounts(Tables.load(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_words"), col("n_pieces"), col("n_tok_approx"))
        .orderBy(col("doc_id"))
    },
    "q_fingerprint" -> { (s, dir) =>
      Tables
        .load(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint("text").as("fingerprint"))
        .orderBy(col("doc_id"))
    },
    // fixed-size word chunks with overlap (pre-tokenization step)
    "q_chunk_docs" -> { (s, dir) =>
      Curation
        .chunk(Tables.load(s, dir, "documents"), "doc_id", "text", chunkWords = 64, overlapWords = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },
    // deterministic id-hash sampling: same rows every run/engine
    "q_sample_hash" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.filter(Curation.sampleByHash("doc_id", 25))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // PII scrub over deterministically injected email/phone/IP
    "q_pii_scrub" -> { (s, dir) =>
      val d = Tables
        .load(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(
            lit("reach me: user"), col("doc_id").cast("string"),
            lit("@data.example.com or +1 555-01"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" from 10.0."), (col("doc_id") % 200).cast("string"), lit(".77 :: "),
            substring(col("text"), 1, 30)
          ).as("raw")
        )
      d.select(col("doc_id"), Curation.scrubPii(col("raw")).as("clean"))
        .orderBy(col("doc_id"))
    },
    // benchmark decontamination: doc_id % 97 == 0 stands in for the
    // eval suite; 3-gram shingle membership against its broadcast set
    // BM25 sparse retrieval: the eval split (doc_id % 97 = 0, first five
    // tokens as the query) retrieves top-10 from the remaining corpus
    "q_bm25" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val queries = d
        .filter(col("doc_id") % 97 === 0)
        .select(
          col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      TextAnalysis
        .bm25TopK(
          d.filter(col("doc_id") % 97 =!= 0),
          queries,
          "doc_id", "text", "query_id", "qtext",
          topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // hybrid retrieval: BM25 (lexical) + brute-force cosine (dense)
    // fused by reciprocal rank — corpus is the docs that HAVE an
    // embedding (inner join on id), so both rankers see the same pool
    "q_hybrid_rrf" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val joined = d.join(e, col("doc_id") === col("vec_id"))
      val corpus = joined.filter(col("doc_id") % 97 =!= 0)
      val qs = joined.filter(col("doc_id") % 97 === 0)
      val sparse = TextAnalysis
        .bm25TopK(
          corpus.select(col("doc_id"), col("text")),
          qs.select(
            col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext")),
          "doc_id", "text", "query_id", "qtext",
          topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val dense = Similarity
        .bruteForceTopK(
          qs.select(col("doc_id").as("vec_id"), col("embedding")),
          corpus.select(col("doc_id").as("vec_id"), col("embedding")),
          "vec_id", "embedding", 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval
        .rrfFuse(Seq(sparse, dense), k = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    "q_decontaminate" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Curation
        .decontaminate(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0),
          "doc_id",
          "text",
          n = 3,
          flagMinOverlap = 2
        )
        .orderBy(col("doc_id"))
    },
    // FUZZY decontamination: paraphrased eval leakage (uppercased head,
    // same trick as q_curation_pipeline's variant docs) that exact
    // n-gram membership misses — minhash corpus×eval + Jaccard confirm
    "q_decontaminate_fuzzy" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val evalSet = d
        .filter(col("doc_id") % 20 === 0)
        .select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(substring(col("text"), 1, 10)), expr("substring(text, 11)")).as("text")
        )
      Curation
        .decontaminateFuzzy(d, evalSet, "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // CCNet head/middle/tail quality tiers from the corpus unigram LM.
    // exact=true is the ORACLE pin (exact percentile cutoffs — DuckDB
    // quantile_cont mirrors them); SAME broadcast-cutoff plan shape as
    // the approx default (benched as q_perplexity_buckets_approx) — no
    // partition-less window in either form
    "q_perplexity_buckets" -> { (s, dir) =>
      TextAnalysis
        .perplexityBuckets(Tables.load(s, dir, "documents"), "doc_id", "text",
          buckets = 3, exact = true)
        .orderBy(col("doc_id"))
    },
    // Gopher-style repetition signals as single-pass array folds
    "q_repetition" -> { (s, dir) =>
      TextAnalysis
        .repetitionSignals(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // per-source length distribution: exact percentiles for the gate;
    // production passes exact=false → approx_percentile sketch
    "q_corpus_stats" -> { (s, dir) =>
      Curation
        .distributionStats(Tables.load(s, dir, "documents"), "source", "n_chars")
        .orderBy(col("source"))
    },
    // per-stratum deterministic sampling rates (down-sample hot
    // sources, keep rare ones)
    "q_sample_stratified" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.filter(
        Curation.sampleStratified(
          "doc_id",
          "source",
          Map("src0" -> 10, "src1" -> 50, "src2" -> 80),
          defaultPercent = 25
        )
      ).select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    // exact-k stratified sample: 20 docs per source, seeded-hash rank
    "q_sample_exact_k" -> { (s, dir) =>
      Curation
        .sampleExactK(
          Tables.load(s, dir, "documents").select(col("doc_id"), col("source")),
          "doc_id", "source", k = 20, seed = 7L)
        .orderBy(col("doc_id"))
    },
    // sequence packing: cumulative-token pack assignment per source
    "q_pack_sequences" -> { (s, dir) =>
      val d = Tables
        .load(s, dir, "documents")
        .withColumn("n_tok", ceil(length(col("text")) / 4).cast("int"))
      Curation
        .packSequences(d, "doc_id", "source", "n_tok", ctxTokens = 2048)
        .orderBy(col("doc_id"))
    },
    // TF-IDF top term per document
    "q_tfidf" -> { (s, dir) =>
      TextAnalysis
        .tfidfTopTerm(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // conditional bigram-LM scoring: transitions, not just word choice
    "q_bigram_logprob" -> { (s, dir) =>
      TextAnalysis
        .bigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // unigram-LM negative log-likelihood (perplexity-style filter)
    "q_unigram_logprob" -> { (s, dir) =>
      TextAnalysis
        .unigramLogProb(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // canonical normalization ahead of exact dedup (messy input
    // synthesized deterministically: upper-cased head + space runs)
    // tokenizer-training prep: top-K vocabulary with corpus coverage
    "q_vocabulary" -> { (s, dir) =>
      TextAnalysis
        .vocabulary(Tables.load(s, dir, "documents"), "text", topK = 100)
        .orderBy(col("rank"))
    },
    "q_normalize_text" -> { (s, dir) =>
      val raw = Tables
        .load(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(
            upper(substring(col("text"), 1, 10)),
            lit("  "),
            expr("substring(text, 11)"),
            lit("   ")
          ).as("raw")
        )
      raw
        .select(
          col("doc_id"),
          Curation.normalize(col("raw")).as("norm_text"),
          md5(Curation.normalize(col("raw")).cast("binary")).as("norm_hash")
        )
        .orderBy(col("doc_id"))
    },
    // the integrated curation job: lang gate → quality gate → PII scrub
    // → normalize → exact dedup → per-source stats, all one plan. Every
    // 5th doc gets a normalized-equal variant (uppercased prefix,
    // id+1e6) so the dedup stage observably folds.
    "q_curation_pipeline" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      // base row + (for every 5th doc) its variant from ONE scan — a
      // union of d with a derived frame would read the parquet twice
      val base = struct(col("doc_id"), col("text"), col("source"))
      val variant = struct(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(upper(substring(col("text"), 1, 10)), expr("substring(text, 11)")).as("text"),
        col("source")
      )
      val input = d
        .select(
          explode(
            when(col("doc_id") % 5 === 0, array(base, variant)).otherwise(array(base))
          ).as("r")
        )
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"), col("r.source").as("source"))
      Curation
        .curate(input, "doc_id", "text", carry = Seq("source"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("docs_kept"),
          sum(col("dup_count")).cast("long").as("docs_in"),
          sum(col("quality").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .cast("double").as("sum_quality")
        )
        .orderBy(col("source"))
    },
    "q_multimodal_meta" -> { (s, dir) =>
      val media = Tables
        .load(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal
        .withMetadata(media, "payload", "text/plain")
        .select(
          col("doc_id"),
          col("media_meta.media_type").as("media_type"),
          col("media_meta.byte_len").as("byte_len"),
          col("media_meta.sha256").as("payload_sha256")
        )
        .orderBy(col("doc_id"))
    },
    // REAL image decode: synthesize an actual PNG / animated-GIF payload
    // per doc (closed-form params in doc_id), then javax.imageio decodes
    // it partition-local — raster dims, frame count, mean luminance. The
    // oracle recomputes the ground truth the real decoder must recover.
    "q_multimodal_decode" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .decodeImages(Multimodal.withSyntheticImages(ids, "doc_id"), "payload")
        .select(
          col("doc_id"),
          col("features.width").as("width"),
          col("features.height").as("height"),
          col("features.n_frames").as("n_frames"),
          col("features.brightness").as("brightness")
        )
        .orderBy(col("doc_id"))
    },
    // REAL audio: synthesized canonical RIFF/WAV PCM16 payloads
    // (closed-form params), sniffed with pure codegen'd header byte
    // math (audioMeta) — deterministic on any JVM. The
    // javax.sound.sampled PCM decode is deliberately NOT in this gated
    // row: its output proved environment-sensitive in the driver's JVM
    // (CORRECTNESS_r08 hash_match false while bit-exact locally), so
    // per CLAUDE.md's benchDefs rule the decode lives in the
    // `q_multimodal_audio_decode` bench-only twin + MultimodalSpec
    // ("decodeAudioFeatures recovers the closed form..."), exactly the
    // xxhash64 / trained-ANN pattern.
    "q_multimodal_audio" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .withSyntheticAudio(ids, "doc_id")
        .withColumn("meta", Multimodal.audioMeta(col("payload")))
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.bits_per_sample").as("bits_per_sample"),
          col("meta.n_frames").as("n_frames"))
        .orderBy(col("doc_id"))
    },
    // REAL video container sniffing: synthesized canonical RIFF/AVI
    // headers (closed-form params), MainAVIHeader fields extracted at
    // scan speed with pure byte math — the pre-decode dimension/fps
    // filter; frame decode is real for uncompressed AVI (next query)
    "q_multimodal_video" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .withSyntheticVideo(ids, "doc_id")
        .withColumn("m", Multimodal.videoMeta(col("payload")))
        .select(
          col("doc_id"),
          col("m.format").as("format"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.n_frames").as("n_frames"),
          col("m.frame_us").as("frame_us"))
        .orderBy(col("doc_id"))
    },
    // REAL video FRAME decode: complete synthesized uncompressed AVIs
    // (genuine container + raw 24-bpp DIB frames, closed-form pixels),
    // RIFF chunk walk + bottom-up row decode per frame, partition-local.
    // Gated columns are exact INTEGER sums (no float/JDK-SPI surface —
    // the round-8 audio lesson); top_row_sum pins the bottom-up row
    // orientation that the order-invariant total cannot.
    "q_multimodal_video_frames" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .decodeVideoFrames(Multimodal.withSyntheticVideoFrames(ids, "doc_id"), "payload")
        .select(
          col("doc_id"),
          col("frame_idx"),
          col("frame_width").as("width"),
          col("frame_height").as("height"),
          col("brightness_sum"),
          col("top_row_sum"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
    // frame-sampling plan: every 3rd frame index per VIDEO payload
    // (decodeFeatures is the compressed-codec stub — no compressed
    // video codec in a bare JVM; uncompressed-AVI decode is real, see
    // q_multimodal_video_frames), expanded WITHOUT duplicating payload
    "q_multimodal_frames" -> { (s, dir) =>
      val media = Tables
        .load(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      Multimodal
        .sampleFrames(
          Multimodal.decodeFeatures(media, "payload")
            .select(col("doc_id"), col("features.n_frames").as("n_frames")),
          "n_frames", everyNth = 3)
        .select(col("doc_id"), col("n_frames"), col("frame_idx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
    // REAL partition-local resize: decode the synthesized image,
    // bilinear-resample to fit maxSide=32, re-encode PNG — then RE-decode
    // the resized payload, so the oracle checks that actual resampled
    // pixels (dims + preserved constant luminance) came back out
    "q_multimodal_resize" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      val resized = Multimodal.resizeImages(
        Multimodal.withSyntheticImages(ids, "doc_id"), "payload", maxSide = 32)
      Multimodal
        .decodeImages(resized, "resized_payload")
        .select(
          col("doc_id"),
          col("resized_width"),
          col("resized_height"),
          col("features.width").as("redecoded_width"),
          col("features.height").as("redecoded_height"),
          col("features.brightness").as("brightness"))
        .orderBy(col("doc_id"))
    },
    // substring-level dedup (Lee et al.): fraction of each doc's
    // 10-token windows that appear verbatim in another document
    "q_substring_dup" -> { (s, dir) =>
      Dedup
        .substringDupStats(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // maximal duplicated-span extents (the feed of span-level removal)
    "q_substring_spans" -> { (s, dir) =>
      Dedup
        .substringDupSpans(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("span_start"))
    },
    // span-level dedup by deletion: non-canonical copies lose the span,
    // the smallest-id owner keeps its text intact
    "q_substring_strip" -> { (s, dir) =>
      Dedup
        .stripDuplicatedSpans(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // product quantization with asymmetric distance: fixed data-derived
    // codebooks (first 8 vectors' slices — deterministic and
    // SQL-mirrorable, the q_ann_ivf convention; production trains with
    // Similarity.lloydCodebooks and re-ranks, recall floors in SkewAndIvfSpec)
    "q_ann_pq" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cbs = Similarity.codebooksFromRows(
        emb.filter(col("vec_id") < 8).orderBy("vec_id"), "embedding", m = 4)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      Similarity
        .pqTopK(emb.filter(col("vec_id") < 3), enc, "vec_id", "embedding", cbs, 5)
        .orderBy(col("query_id"), col("rank"))
    },
    // IVF-PQ — the full FAISS composition: coarse cells (cosine
    // assignment, the q_ann_ivf convention) + PQ over RESIDUALS
    // (vec − centroid) + nprobe=2 ADC search. Deterministic, SQL-
    // mirrorable model: centroids = vec_id < 8, residual codebooks =
    // residuals of vec_id 8..15 sliced per subspace (float32 residuals
    // — double-subtract-then-round matches zip_with float math both
    // sides). Production trains with Similarity.lloydResidualCodebooks and
    // re-ranks; recall floors in SkewAndIvfSpec.
    "q_ann_ivfpq" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val resSamples = Similarity
        .assignCells(emb.filter(col("vec_id") >= 8 && col("vec_id") < 16), centroids, "embedding")
        .join(broadcast(centroids), col("cell") === col("centroid_id"))
        .orderBy(col("vec_id"))
        .select(
          zip_with(col("embedding"), col("centroid_vec"),
            (x, c) => (x.cast("double") - c.cast("double")).cast("float")).as("res"))
      val cbs = Similarity.codebooksFromRows(resSamples, "res", m = 4)
      val enc = Similarity.ivfPqEncode(emb, "vec_id", "embedding", centroids, cbs)
      Similarity
        .ivfPqTopK(emb.filter(col("vec_id") < 3), enc, centroids, "vec_id", "embedding",
          cbs, k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
    // int8 vector quantization: scale + code checksums per vector
    // (q_sum / q_max_abs pin the exact integer codes cross-engine)
    "q_embed_quantize" -> { (s, dir) =>
      Similarity
        .quantizeInt8(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
        .select(
          col("vec_id"),
          round(col("scale"), 9).as("scale"),
          coalesce(expr("aggregate(q, 0L, (a, v) -> a + v)"), lit(0L)).as("q_sum"),
          coalesce(array_max(expr("transform(q, v -> abs(v))")), lit(0L)).as("q_max_abs"))
        .orderBy(col("vec_id"))
    },
    // URL-level dedup prep: messy synthesized variants (case-mangled
    // host, default port, utm/fbclid params, fragment, shuffled param
    // order) collapse onto one canonical key per (source, doc_id%50)
    "q_url_canonical" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val messy = when(
        col("doc_id") % 2 === 1,
        concat(lit("HTTPS://WWW.Example.COM:443/"), col("source"),
          lit("/Page?utm_source=news&b=2&a="), (col("doc_id") % 50).cast("string"),
          lit("&fbclid=track#frag")))
        .otherwise(concat(lit("https://www.example.com/"), col("source"),
          lit("/Page?a="), (col("doc_id") % 50).cast("string"), lit("&b=2")))
      d.select(col("doc_id"), messy.as("url"))
        .select(col("doc_id"), Curation.canonicalizeUrl(col("url")).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canonical_url"))
    },
    // corpus mixing: per-source token budgets via deterministic
    // downsample + epoch repeat (src0 runs ~2.1 epochs, src1 is cut to
    // ~0.45, everything else ~0.75)
    "q_mix_corpus" -> { (s, dir) =>
      Curation
        .mixCorpus(Tables.load(s, dir, "documents"), "doc_id", "text", "source",
          targets = Map("src0" -> 3000.0, "src1" -> 700.0),
          defaultTarget = Some(1000.0))
        .orderBy(col("doc_id"), col("copy"))
    },
    // Gopher-style named rule gates (Rae et al. §A1.1)
    "q_gopher_rules" -> { (s, dir) =>
      TextAnalysis
        .gopherRules(Tables.load(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
    // as-of enrichment: each purchase picks up the user's latest
    // prior click (point-in-time correctness — no future leakage)
    "q_asof_join" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
      val purchases = ev
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      // right side made unique per (user_id, ts) so the as-of winner is
      // well-defined on ties in BOTH engines
      val clicks = ev
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("click_value"))
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"), col("click_value"))
      graft.operators.AsOfJoin
        .asOf(purchases, clicks, keyCols = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          rightPayload = Seq("click_ts", "click_value"))
        .orderBy(col("event_id"))
    },
    // token-weighted exact-k corpus draw per source (Efraimidis-
    // Spirakis exponential keys; Curation.sampleWeightedK scaladoc) —
    // same WindowGroupLimit shape as q_sample_exact_k, inclusion
    // probability ∝ token count
    "q_sample_weighted" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      Curation
        .sampleWeightedK(d, "doc_id", "source", "n_tokens", k = 20, seed = 7L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("source"), col("sample_rank"))
    },
    // interval-overlap join: per-user exposure windows derived from
    // events, even-vs-odd ids as the two sides — bucketized to a
    // (key, grid-cell) EQUI-join with emit-once at the max(starts)
    // cell (IntervalJoin scaladoc), where the naive inequality join
    // is a per-key nested loop
    "q_interval_join" -> { (s, dir) =>
      val iv = Tables.load(s, dir, "events")
        .select(
          col("user_id"), col("event_id"), col("ts").as("s"),
          expr("timestampadd(SECOND, CAST(FLOOR(value * 37) AS INT) % 7200 + 600, ts)")
            .as("e"))
      val l = iv.filter(col("event_id") % 2 === 0)
        .select(col("user_id"), col("event_id").as("l_id"),
          col("s").as("l_s"), col("e").as("l_e"))
      val r = iv.filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_id").as("r_id"),
          col("s").as("r_s"), col("e").as("r_e"))
      IntervalJoin
        .overlap(l, r, Seq("user_id"), "l_s", "l_e", "r_s", "r_e",
          bucketSeconds = 1800)
        .select(col("user_id"), col("l_id"), col("r_id"))
        .orderBy(col("l_id"), col("r_id"))
    },
    // WET extraction: deterministic markup synthesized around each
    // doc (uppercase script tag + spaced close pin case/whitespace
    // handling), then stripMarkup recovers the prose — scan-local
    // regex chain, RE2-compatible by construction (no backrefs) so
    // the oracle shares exact semantics
    "q_strip_markup" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val raw = concat(
        lit("<html><body onload=\"f()\"><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><SCRIPT type=\"text/javascript\">var x = 1 < 2;</script >" +
          "<style>p { color: red }</style><p class=\"c\">"),
        col("text"),
        lit(" &amp; more &lt;tail&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y</p></body></html>"))
      d.select(col("doc_id"), Curation.stripMarkup(raw).as("clean_text"))
        .orderBy(col("doc_id"))
    },
    // model-based quality filtering (the fastText-classifier role):
    // closed-form multinomial NB — train = ONE labeled-corpus pass to
    // a vocabulary-sized weight table, score = broadcast join-back +
    // per-doc agg (TextAnalysis.nbTokenWeights scaladoc). Weak labels
    // here are a deterministic id-hash split (pins the math; semantic
    // separation is spec-pinned in CurationSpec with real quality tiers)
    "q_nb_quality" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val labeled = docs.withColumn("y", (col("doc_id") % 3 === 0).cast("int"))
      TextAnalysis
        .nbQualityScore(labeled, docs, "doc_id", "text", "y")
        .orderBy(col("doc_id"))
    },
    // changelog → SCD type-2 history: per-user event_type state as
    // versioned validity intervals, no-op updates collapsed — one
    // key-partitioned exchange, in-partition sorts only (History
    // scaladoc); event_id is the unique window tie-break (BASELINE.md
    // round-6 session-window incident)
    "q_scd2" -> { (s, dir) =>
      History
        .scd2(Tables.load(s, dir, "events"),
          keyCols = Seq("user_id"), tsCol = "ts",
          attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
        .orderBy(col("user_id"), col("version"))
    },
    // source×lang chi-square independence cells: ONE corpus count agg,
    // everything after is cells-sized (Anomaly.chiSquareIndependence)
    "q_chi_square" -> { (s, dir) =>
      graft.operators.Anomaly
        .chiSquareIndependence(Tables.load(s, dir, "documents"), "source", "lang")
        .orderBy(col("source"), col("lang"))
    },
    // per-source language entropy (collapse detector): one count agg +
    // group-sized math (Anomaly.valueEntropy)
    "q_entropy" -> { (s, dir) =>
      graft.operators.Anomaly
        .valueEntropy(Tables.load(s, dir, "documents"), "source", "lang")
        .orderBy(col("source"))
    },
    // CUBE: all four grouping sets of (source, lang) in one pass —
    // q_rollup_stats' full-lattice sibling
    "q_cube_stats" -> { (s, dir) =>
      Tables
        .load(s, dir, "documents")
        .cube(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source").asc_nulls_first, col("lang").asc_nulls_first)
    },
    // embedding-space drift: per-label centroid cosine between snapshot
    // halves — exact decimal sum-vectors, doubles only at the final
    // division/sqrt (operators/Anomaly.centroidDrift scaladoc)
    "q_centroid_drift" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      graft.operators.Anomaly
        .centroidDrift(
          e.filter(col("vec_id") % 2 === 0),
          e.filter(col("vec_id") % 2 === 1),
          "label", "embedding")
        .orderBy(col("label"))
    },
    // single-pass data-quality report: five constraints, ONE aggregate
    // (operators/Quality scaladoc) — range/set rows chosen to FAIL so
    // the gate pins real fractions, not just 1.0
    "q_data_quality" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Quality
        .check(d, Seq(
          Quality.Complete("text"),
          Quality.Unique("doc_id"),
          Quality.InRange("n_chars", 1, 300),
          Quality.InSet("lang", Seq("en", "de", "fr", "es")),
          Quality.MatchesRegex("source", "^src[0-9]+$")))
        .orderBy(col("check_name"))
    },
    // lossless BPE round-trip: train → boundary-marked encode → decode
    // must reproduce the raw text EXACTLY, cross-checked against the
    // parquet ground truth by the DuckDB identity oracle. Pins the
    // encode/decode inverse pair at the gate, not just in specs —
    // the contract that lets tokenized storage replace raw text
    "q_bpe_roundtrip" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Tokenizer.train(docs, "text", numMerges = 100, vocabCap = 8192)
      docs
        .select(
          col("doc_id"),
          Tokenizer.decode(Tokenizer.encodeMarked(model)(col("text"))).as("text"))
        .orderBy(col("doc_id"))
    },
    // the unigram-LM twin of q_bpe_roundtrip: train (one word-count
    // agg + driver Viterbi-EM), marked-encode, decode — must equal the
    // raw text byte-for-byte (totality: single code points never
    // pruned). The oracle is the ground truth text
    "q_unigram_roundtrip" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model =
        Tokenizer.trainUnigram(docs, "text", vocabSize = 2048, vocabCap = 8192)
      docs
        .select(
          col("doc_id"),
          Tokenizer
            .decode(Tokenizer.encodeUnigramMarked(model)(col("text")))
            .as("text"))
        .orderBy(col("doc_id"))
    },
    // PMI collocation mining: vocab-bounded count aggs + equi-joins +
    // TakeOrdered top-K — no global window, corpus scanned twice and
    // never re-shuffled (TextAnalysis.pmiPhrases scaladoc)
    "q_pmi_bigrams" -> { (s, dir) =>
      TextAnalysis
        .pmiPhrases(Tables.load(s, dir, "documents"), "text",
          minCount = 5, topK = 50)
        .orderBy(col("pmi").desc, col("prev"), col("term"))
    }
  )

  /** Production-hash (xxhash64) twins of oracle-green queries: no DuckDB
    * mirror exists for xxhash64, so they are timed by `graft.Bench` but
    * kept out of the driver's oracle gate. Value identity to the gated
    * md5-family versions is spec-pinned (CurationSpec / AsOfJoinSpec).
    */
  override val benchDefs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the 64-bit scale twin of q_dedup_simhash_near: same pigeonhole
    // band join + bit_count verify, but 16-bit bands (65,536 bucket
    // values) instead of the gate form's saturating 8-bit bands — the
    // sf100 run measured the 32-bit form at 18×/decade (432 s) while
    // this geometry stays ~linear (BASELINE r15). Bench-only: the
    // md5-BYTE-bit vote has no portable SQL mirror; semantics pinned
    // in DedupSpec against a driver-side reference
    "q_dedup_simhash_near64" -> { (s, dir) =>
      Dedup
        .hammingNearDup(
          Dedup.simhash64(Tables.load(s, dir, "documents"), "doc_id", "text"),
          "doc_id", "fingerprint", bits = 64, maxHamming = 3)
        .orderBy(col("doc1"), col("doc2"))
    },
    // perceptual image dedup: every 10th doc gets a phase-perturbed
    // gradient-PNG twin; real decode → 64-bit aHash → pigeonhole
    // Hamming bands. Bench-only (no SQL engine decodes PNG); pairing
    // correctness is spec-pinned (MultimodalSpec)
    "q_image_neardup" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      val withTwins = ids
        .select(
          explode(
            when(
              col("doc_id") % 10 === 0,
              array(
                struct(col("doc_id").as("doc_id"), lit(0).as("phase")),
                struct((col("doc_id") + 1000000L).as("doc_id"), lit(1).as("phase")))
            ).otherwise(array(struct(col("doc_id").as("doc_id"), lit(0).as("phase"))))
          ).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.phase").as("phase"))
      val hashed = Multimodal
        .imageAHash(
          Multimodal.withSyntheticGradientImages(withTwins, "doc_id", "phase"), "payload")
        .select(col("doc_id"), col("ahash"))
      Dedup
        .hammingNearDup(hashed, "doc_id", "ahash", maxHamming = 6,
          maxBucketSize = Some(1000))
        .orderBy(col("doc1"), col("doc2"))
    },
    // audio near-dup: ramp-WAV fixtures (every 10th doc gets a
    // base-shifted twin) → 64-window loudness-profile fingerprint
    // (pure byte math, no JDK audio SPI) → Hamming bands. Bench-only;
    // twin/far semantics spec-pinned (MultimodalSpec)
    "q_audio_neardup" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      val withTwins = ids
        .select(
          explode(
            when(
              col("doc_id") % 10 === 0,
              array(
                struct(col("doc_id").as("doc_id"), lit(0).as("shift")),
                struct((col("doc_id") + 1000000L).as("doc_id"), lit(40).as("shift")))
            ).otherwise(array(struct(col("doc_id").as("doc_id"), lit(0).as("shift"))))
          ).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.shift").as("shift"))
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
      val enc = org.apache.spark.sql.Encoders.row(outSchema)
      // spread the id frame before the synth kernel (r20): the docs
      // table is one unsplittable row group, so this inline generator —
      // missed by the r19 withSynthetic* spread — ran the whole
      // synthWavRamp + fingerprint chain on ONE core; only (id, shift)
      // rows shuffle, payloads are born downstream
      val spread = withTwins.repartition(s.sparkContext.defaultParallelism)
      val wavs = spread.mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0) % 1000000L
          // prime periods (1999, 97) → joint profile period ~194k ids:
          // unrelated docs never synthesize identical clips at any
          // tested scale, so the only hamming-near pairs are the twins
          val payload = Multimodal.synthWavRamp(
            8000, 1, frames = (2000 + id % 1999).toInt,
            base = r.getInt(1), step = (3 + id % 97).toInt)
          org.apache.spark.sql.Row(r.getLong(0), payload)
        }
      }(enc)
      val hashed = Multimodal
        .audioAHash(wavs, "payload")
        .select(col("doc_id"), col("audio_ahash"))
      Dedup
        .hammingNearDup(hashed, "doc_id", "audio_ahash", maxHamming = 3,
          maxBucketSize = Some(1000))
        .orderBy(col("doc1"), col("doc2"))
    },
    // cross-video repeated-scene detection: REAL AVI frame decode →
    // per-frame aHash → exact hash-groupBy scene clusters. The
    // aggregate (not a pair join) is the scale-correct formulation for
    // IDENTICAL scenes: synthetic DIB frames are row-constant so their
    // hash space is strip-quantized and heavily repeated — a self-join
    // would be quadratic in the true-dup multiplicity and its hot
    // buckets would trip the cap. Near-dup pairing over richer rasters
    // stays with hammingNearDup, spec-pinned (MultimodalSpec)
    "q_video_scene_dedup" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .videoFrameHashes(Multimodal.withSyntheticVideoFrames(ids, "doc_id"), "payload")
        .groupBy(col("frame_ahash"))
        .agg(
          count(lit(1)).as("n_frames"),
          count_distinct(col("doc_id")).as("n_videos"),
          min(col("doc_id") * 1000 + col("frame_idx")).as("canonical_fid"))
        .orderBy(col("frame_ahash"))
    },
    // deterministic epoch shuffle (production xxhash64 key): total
    // order via range exchange + within-partition sort, no global
    // window. Bench-only: the driver compare sorts rows, so an ORDER
    // oracle is vacuous — the permutation properties are spec-pinned
    // (CurationSpec)
    "q_epoch_shuffle" -> { (s, dir) =>
      Curation.shuffleForTraining(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", seed = 7L)
    },
    // native GramMinHash fingerprint (one pass, no per-gram substring
    // walk — BASELINE.md round 4 records the 28× vs the composed lambda)
    "q_fingerprint_native" -> { (s, dir) =>
      Tables
        .load(s, dir, "documents")
        .select(
          col("doc_id"),
          TextAnalysis.fingerprint("text", hashFamily = HashFamily.XxHash64).as("fingerprint"))
        .orderBy(col("doc_id"))
    },
    // substring dedup with xxhash64 window keys (8-byte shuffle/join keys
    // instead of 32-hex-char strings) + content-defined 1-in-2 window
    // sampling (hash % 2 == 0 — both copies of a duplicated run sample
    // the SAME windows, so detection stays position-independent).
    // BASELINE.md records the A/B.
    "q_substring_dup_native" -> { (s, dir) =>
      Dedup
        .substringDupStats(Tables.load(s, dir, "documents"), "doc_id", "text",
          family = HashFamily.XxHash64, sampleMod = Some(2))
        .orderBy(col("doc_id"))
    },
    // REAL javax.sound.sampled PCM decode twin of the gated
    // q_multimodal_audio header row: parses the WAV stream, computes
    // peak/RMS over the PCM16 frames, and cross-checks the decode
    // against the header byte math in one plan. Bench-only because the
    // JDK audio SPI proved environment-sensitive in the driver's JVM
    // (round-8 red row); value identity to the closed form is pinned in
    // MultimodalSpec. peak/rms emitted as BIGINT int16 units — exact
    // integers by construction (constant amplitude ⇒ peak = rms = amp).
    "q_multimodal_audio_decode" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      val wav = Multimodal.withSyntheticAudio(ids, "doc_id")
      Multimodal
        .decodeAudioFeatures(wav, "payload")
        .withColumn("meta", Multimodal.audioMeta(col("payload")))
        .select(
          col("doc_id"),
          col("meta.format").as("format"),
          col("meta.channels").as("hdr_channels"),
          col("meta.sample_rate").as("hdr_sample_rate"),
          col("meta.bits_per_sample").as("bits_per_sample"),
          col("meta.n_frames").as("hdr_frames"),
          col("audio.channels").as("channels"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.n_frames").as("n_frames"),
          round(col("audio.peak")).cast("long").as("peak"),
          round(col("audio.rms")).cast("long").as("rms"))
        .orderBy(col("doc_id"))
    },
    // PQ with Lloyd's-TRAINED codebooks (the production model path —
    // higher recall than q_ann_pq's sampled-row codebooks at identical
    // (m, k); SkewAndIvfSpec pins the comparison). No DuckDB mirror:
    // the trained model isn't SQL-recomputable, so this is bench-only.
    "q_ann_pq_trained" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val cbs = Similarity.lloydCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      Similarity
        .pqTopK(emb.filter(col("vec_id") < 3), enc, "vec_id", "embedding", cbs, 5)
        .orderBy(col("query_id"), col("rank"))
    },
    // IVF-PQ with Lloyd's-trained coarse centroids AND residual
    // codebooks — the full trained FAISS composition, bench-only twin
    // of q_ann_ivfpq's sampled-row model
    "q_ann_ivfpq_trained" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids =
        Similarity.lloydCentroids(emb, "vec_id", "embedding", nlist = 8, iters = 5)
      val cbs = Similarity.lloydResidualCodebooks(
        emb, "vec_id", "embedding", centroids, m = 16, k = 64)
      val enc = Similarity.ivfPqEncode(emb, "vec_id", "embedding", centroids, cbs)
      Similarity
        .ivfPqTopK(emb.filter(col("vec_id") < 3), enc, centroids, "vec_id", "embedding",
          cbs, k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    },
    // COMPRESSED-video frame decode: Motion-JPEG AVI, every movi chunk
    // a real JPEG through javax.imageio — closes the compressed-video
    // stub for the one compressed codec a bare JVM can decode.
    // Bench-only (no SQL engine decodes JPEG); closed-form round-trip
    // is spec-pinned with JPEG-loss tolerance (MultimodalSpec)
    "q_video_mjpeg_frames" -> { (s, dir) =>
      val ids = Tables.load(s, dir, "documents").select(col("doc_id"))
      Multimodal
        .decodeMjpegFrames(Multimodal.withSyntheticVideoMjpeg(ids, "doc_id"), "payload")
        .select(col("doc_id"), col("frame_width"), col("frame_height"), col("brightness_sum"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_frames"),
          max(col("frame_width")).as("width"),
          max(col("frame_height")).as("height"),
          sum(col("brightness_sum")).as("brightness"))
        .orderBy(col("doc_id"))
    },
    // the perplexity-gate SCALE path (exact=false, the library
    // default): approx_percentile cutoffs broadcast back + scan-local
    // bucket fold — no partition-less window anywhere in the plan
    // (PlanGuardSpec sweeps for it). Bench-only: sketch-based cutoffs
    // have no deterministic DuckDB mirror; agreement with the exact
    // tiers is spec-pinned (CurationSpec)
    "q_perplexity_buckets_approx" -> { (s, dir) =>
      TextAnalysis
        .perplexityBuckets(Tables.load(s, dir, "documents"), "doc_id", "text",
          buckets = 3, exact = false)
        .orderBy(col("doc_id"))
    },
    // the pre-round-13 GATED shape: full self-mining (every vector is a
    // query) at the pinned nlist=8 oracle convention — candidate volume
    // n²/8, so its DuckDB mirror's rank sort is infeasible at sf10
    // (~200 GB); the gate re-pinned on a bounded query batch and this
    // shape stays as the bench twin (BoundedHeap.topKBy keeps the Spark side
    // itself heap-bounded — the ~15 min sf10 run, BASELINE.md round 12)
    "q_hard_negatives_all" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val centroids = emb
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity
        .hardNegatives(emb, "vec_id", "embedding", "label", centroids, k = 3)
        .select(
          col("query_id"), col("query_label"),
          col("neighbor_id"), col("neighbor_label"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    // hard-negative mining with nlist SCALED to the corpus (the
    // production sizing the hardNegatives scaladoc contracts; the gated
    // q_hard_negatives pins nlist=8 for the oracle convention and is
    // n²/nlist — 26× at 10×, BASELINE.md round 10). |cell| ≈ 250 held
    // constant ⇒ the pairing term is linear; the round-11 sf10 run
    // measured the EXACT assignment fold's n·nlist term going
    // super-linear (36× at 10×), so this row now uses the hash-blocked
    // approximate assignment (planes ≈ log2(nlist/16)) — per-row cost
    // O(log nlist · dim), whole pass ~linear (BASELINE.md growth
    // table). Bench-only: nlist depends on a corpus count, not
    // SQL-mirrorable deterministically.
    "q_hard_negatives_scaled" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      // metadata-only count: sizes nlist the way a production pipeline
      // would (rows/targetCellSize), not a full scan
      val n = emb.count()
      val nlist = math.max(8L, n / 250L)
      val planes = math.max(1, (math.log(nlist / 16.0) / math.log(2)).ceil.toInt)
      val centroids = emb
        .filter(col("vec_id") < nlist)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity
        // pairShards=1: nlist ∝ n means the cell join already spreads
        // the pairing over ≥ cores tasks — auto-salt's ×S corpus
        // replication measured ×0.77 here (r20, hardNegatives scaladoc)
        .hardNegatives(emb, "vec_id", "embedding", "label", centroids, k = 3,
          assignPlanes = Some(planes), pairShards = Some(1))
        .select(
          col("query_id"), col("query_label"),
          col("neighbor_id"), col("neighbor_label"), col("cos"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    // incremental semantic dedup with nlist SCALED to the corpus — the
    // gated q_semantic_incremental pins 8 centroids for the oracle, so
    // its per-cell new×corpus join is n²/8 (34.6× at 10×, round-11
    // sf10 table). Here |cell| ≈ 250 bounds the pair join and the
    // hash-blocked assignment keeps the corpus pass ~linear. Bench-only
    // for the same count-derived-nlist reason as above.
    "q_semantic_incremental_scaled" -> { (s, dir) =>
      val emb = Tables.load(s, dir, "embeddings")
      val n = emb.count()
      val nlist = math.max(8L, n / 250L)
      val planes = math.max(1, (math.log(nlist / 16.0) / math.log(2)).ceil.toInt)
      val centroids = emb
        .filter(col("vec_id") < nlist)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Dedup
        .dropIncrementalSemanticDuplicates(
          emb.filter(col("vec_id") % 2 === 1), emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", centroids, threshold = 0.3,
          assignPlanes = Some(planes))
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
    // BM25 with a FIXED query count (≤50, ids pinned below 4850):
    // the gated q_bm25 scales queries ∝ corpus (doc_id % 97), which
    // makes its growth rows n²/97 BY CONSTRUCTION — this twin holds
    // the query batch constant so the growth table isolates the
    // per-query corpus term (expected ~linear: one tf pass + bounded
    // rank windows). Bench-only: same math as the gated row.
    "q_bm25_serve_fixed" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val queries = d
        .filter(col("doc_id") % 97 === 0 && col("doc_id") < 4850)
        .select(
          col("doc_id").as("query_id"),
          array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext"))
      TextAnalysis
        .bm25TopK(
          d.filter(col("doc_id") % 97 =!= 0), queries,
          "doc_id", "text", "query_id", "qtext", topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // the hybrid-retrieval PRODUCTION shape (Retrieval scaladoc):
    // rrfFuse over (a) the q_bm25_serve_fixed lexical ranking and (b)
    // an ivfTopK dense ranking — BOTH with the ≤50-query pinned batch,
    // both emitting O(queries × K) rows; the gated q_hybrid_rrf scales
    // queries ∝ corpus AND runs the dense side brute-force, which is
    // 21.8×/decade BY CONSTRUCTION. This twin is what a serving
    // pipeline runs: corpus-sized work is one tf pass (sparse) + one
    // cell-blocked equi-join (dense), fusion shuffles only the bounded
    // lists. Bench-only: same fusion math as the gated row.
    "q_hybrid_rrf_serve_fixed" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val joined = d.join(e, col("doc_id") === col("vec_id"))
      val corpus = joined.filter(col("doc_id") % 97 =!= 0)
      val fixedBatch = joined.filter(col("doc_id") % 97 === 0 && col("doc_id") < 4850)
      val sparse = TextAnalysis
        .bm25TopK(
          corpus.select(col("doc_id"), col("text")),
          fixedBatch.select(
            col("doc_id").as("query_id"),
            array_join(slice(split(col("text"), " "), 1, 5), " ").as("qtext")),
          "doc_id", "text", "query_id", "qtext",
          topK = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      // q_ann_ivf centroid convention; approx assignment keeps the
      // corpus pass scan-local (planes, not an n×nlist fold)
      val centroids = e
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").cast("int").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val dense = Similarity
        .ivfTopK(
          fixedBatch.select(col("doc_id").as("vec_id"), col("embedding")),
          corpus.select(col("doc_id").as("vec_id"), col("embedding")),
          centroids, "vec_id", "embedding", k = 20, nprobe = 2)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      Retrieval
        .rrfFuse(Seq(sparse, dense), k = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    // trainable BPE: corpus → ONE word-count hash agg → bounded
    // top-vocabCap table → driver merge loop; encode = broadcast-
    // literal native expression at scan speed (Tokenizer scaladoc).
    // Bench-only: BPE training/encoding has no DuckDB mirror; the
    // merge/encode semantics are spec-pinned (TokenizerSpec)
    "q_bpe_tokenize" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model = Tokenizer.train(docs, "text", numMerges = 200, vocabCap = 16384)
      Tokenizer
        .tokenize(docs, "text", model)
        .select(col("doc_id"), col("n_tokens"), col("tokens"))
    },
    // unigram-LM twin of q_bpe_tokenize: Viterbi-EM train on the same
    // bounded word table, broadcast-literal DP encode at scan speed.
    // Bench-only (no DuckDB mirror); semantics spec-pinned
    // (UnigramTokenizerSpec)
    "q_unigram_tokenize" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val model =
        Tokenizer.trainUnigram(docs, "text", vocabSize = 4096, vocabCap = 16384)
      Tokenizer
        .tokenizeUnigram(docs, "text", model)
        .select(col("doc_id"), col("n_tokens"), col("tokens"))
    },
    // mergeable HLL rollup: per-(source × hash-shard) token sketches —
    // the persisted WRITE side — merged back to per-source distinct
    // estimates. The exchange carries |shards| × 4 KB sketches, never
    // tokens; a global re-rollup is a re-aggregate of the sketch table,
    // not a corpus rescan. Bench-only: DataSketches estimates have no
    // DuckDB mirror; accuracy + merge-losslessness spec-pinned
    // (SketchesSpec)
    "q_hll_tokens" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val toks = Sketches.explodedTokens(
        d.withColumn("shard", (col("doc_id") % 8).cast("int")),
        "text", Seq("source", "shard"))
      val shardSketches =
        Sketches.hllShardSketches(toks, Seq("source", "shard"), "token")
      Sketches
        .hllMergeEstimate(shardSketches, Seq("source"))
        .orderBy(col("source"))
    },
    // trailing 7-day active users from the persisted daily sketch
    // table: one corpus pass + days-sized sketch algebra — rolling
    // COUNT DISTINCT without rolling rescans (Sketches.rollingDistinct
    // scaladoc). Bench-only; ±5% accuracy + phantom-day absence are
    // spec-pinned (SketchesSpec)
    "q_wau_sketch" -> { (s, dir) =>
      Sketches
        .rollingDistinct(
          Tables.load(s, dir, "events"), "ts", "user_id", windowDays = 7)
        .orderBy(col("day"))
    },
    // decontamination sizing without the join: theta-sketch overlap
    // between the train split and the held-out split's token sets —
    // |∩|, |∪|, Jaccard, containment from two one-pass scans and a
    // broadcast 1×1 combine. Bench-only; ±10% accuracy vs the exact
    // intersection is spec-pinned (SketchesSpec)
    // PCA-whitening end to end: one moments pass (MomentsAgg — a 17 KB
    // buffer per partition on the exchange), driver-side deterministic
    // Jacobi on the 64×64, then the broadcast-literal MatVec projection
    // at scan speed. Bench-only (eigendecomposition has no DuckDB
    // mirror); whitening identity + determinism spec-pinned
    // (EmbeddingsSpec), covariance math gated via q_embed_moments
    "q_embed_whiten" -> { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val model = Embeddings.fitWhitening(e, "embedding", dim = 64, k = 16)
      Embeddings
        .transform(e, "embedding", model)
        .select(
          col("vec_id"),
          element_at(col("whitened"), 1).as("w1"),
          element_at(col("whitened"), 16).as("w16"))
        .orderBy(col("vec_id"))
    },
    // production shape of q_quantile_sketch: full corpus, k=200 — the
    // sketch is genuinely compacting (per-lang groups outgrow k from
    // sf0.1 up), retained size k-bounded. Bench-only: approximate
    // values have no DuckDB mirror; rank error spec-pinned
    "q_quantile_sketch_approx" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.groupBy(col("lang"))
        .agg(Sketches
          .kllQuantilesCol(col("n_chars"), Seq(0.5, 0.9, 0.99))
          .as("__qs"))
        .select(
          col("lang"),
          element_at(col("__qs"), 1).as("p50"),
          element_at(col("__qs"), 2).as("p90"),
          element_at(col("__qs"), 3).as("p99"))
        .orderBy(col("lang"))
    },
    "q_theta_overlap" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val train = Sketches.explodedTokens(d.filter(col("doc_id") % 10 =!= 0), "text")
      val eval = Sketches.explodedTokens(d.filter(col("doc_id") % 10 === 0), "text")
      Sketches.thetaOverlap(train, eval, "token")
    }
  )

  val oracles: Map[String, String] = Map(
    "q_embed_moments" -> {
      val dims = 4
      def xd(i: Int) = s"CAST(embedding[$i] AS DOUBLE)"
      val ss = (1 to dims).map(i =>
        s"CAST(SUM(CAST(${xd(i)} AS DECIMAL(28,18))) AS DOUBLE) AS s$i")
      val ms = for { i <- 1 to dims; j <- i to dims }
        yield s"CAST(SUM(CAST(${xd(i)} * ${xd(j)} AS DECIMAL(28,18))) AS DOUBLE) AS m$i$j"
      s"SELECT COUNT(*) AS n, ${(ss ++ ms).mkString(", ")} FROM embeddings"
    },
    "q_embed_whiten_gated" -> {
      // basis/offset doubles render via Double.toString (shortest
      // round-trip form); DuckDB's correctly-rounded parse recovers the
      // identical bits, and the left-assoc + chain matches MatVec's
      // ascending accumulation order
      def proj(m: Embeddings.WhiteningModel, name: Int => String) =
        (0 until WhitenGateK).map { r =>
          val row = m.basis(r)
          val terms = (0 until WhitenGateDim)
            .map(j => s"(${row(j)}) * CAST(embedding[${j + 1}] AS DOUBLE)")
            .mkString(" + ")
          val off = row.indices.map(j => row(j) * m.mean(j)).sum
          s"($terms) - ($off) AS ${name(r)}"
        }
      val cols = proj(whitenGateModel(0.0), r => s"a${r + 1}") ++
        proj(whitenGateModel(1.0), r => s"b${r + 1}")
      s"SELECT vec_id, ${cols.mkString(", ")} FROM embeddings ORDER BY vec_id"
    },
    "q_zorder_key" ->
      s"""SELECT o_orderkey,
         |       (${graft.functions.ZValue.interleaveSql(
                    Seq("(o_orderkey % 256)", "(o_custkey % 256)"), 8)}) AS z
         |FROM orders
         |ORDER BY o_orderkey""".stripMargin,
    "q_shard_manifest" ->
      """WITH sh AS (SELECT
        |  CAST('0x' || SUBSTRING(MD5('sh15-' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 64 AS shard,
        |  LEN(STRING_SPLIT(text,' ')) AS n_tok,
        |  CAST('0x' || SUBSTRING(MD5(COALESCE(CAST(doc_id AS VARCHAR), CHR(2)) || CHR(1) || COALESCE(text, CHR(2))),1,8) AS BIGINT) AS h
        |  FROM documents)
        |SELECT shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_examples,
        |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |       BIT_XOR(h) AS checksum
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    "q_quantile_sketch" ->
      """SELECT lang,
        |       CAST(quantile_disc(n_chars, 0.50) AS DOUBLE) AS p50,
        |       CAST(quantile_disc(n_chars, 0.90) AS DOUBLE) AS p90,
        |       CAST(quantile_disc(n_chars, 0.99) AS DOUBLE) AS p99
        |FROM documents WHERE doc_id < 5000
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_quantile_merge" ->
      """SELECT source,
        |       CAST(quantile_disc(n_chars, 0.50) AS DOUBLE) AS p50,
        |       CAST(quantile_disc(n_chars, 0.95) AS DOUBLE) AS p95
        |FROM documents WHERE doc_id < 5000
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_exact" ->
      """SELECT MD5(text) AS content_hash,
        |       MIN(doc_id) AS canonical_id,
        |       COUNT(*) AS dup_count
        |FROM documents
        |GROUP BY 1
        |ORDER BY canonical_id""".stripMargin,
    "q_dedup_minhash" -> {
      // mirrors the Kirsch-Mitzenmacher family: one md5 per shingle,
      // h1/h2 from its hex halves, h_j = (h1 + j*h2) mod 2^32
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands AS (SELECT doc_id, band_idx,
         |                 CASE band_idx $bandCase END AS band_hash
         |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx))
         |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         | AND a.doc_id < b.doc_id
         |ORDER BY doc1, doc2""".stripMargin
    },
    // the q_dedup_minhash banding, inverted: buckets OVER the cap
    // (HAVING COUNT(*) > 1) instead of the pairs the under-cap buckets
    // generate
    "q_dedup_dropped_buckets" -> {
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands AS (SELECT doc_id, band_idx,
         |                 CASE band_idx $bandCase END AS band_hash
         |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx))
         |SELECT band_idx, band_hash, COUNT(*) AS bucket_size
         |FROM bands
         |GROUP BY band_idx, band_hash
         |HAVING COUNT(*) > 1
         |ORDER BY band_idx, band_hash""".stripMargin
    },
    // verified pairs → recursive-CTE components → anti-join the losers
    "q_dedup_apply" -> {
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH RECURSIVE toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands0 AS (SELECT doc_id, band_idx,
         |                  CASE band_idx $bandCase END AS band_hash
         |           FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx)),
         |bok AS (SELECT band_idx, band_hash FROM bands0
         |        GROUP BY band_idx, band_hash HAVING COUNT(*) <= 1000),
         |bands AS (SELECT b.* FROM bands0 b
         |          JOIN bok USING (band_idx, band_hash)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |         FROM bands a JOIN bands b
         |           ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |          AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id,
         |               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                      i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
         |        FROM toks),
         |verified AS (
         |  SELECT doc1, doc2 FROM (
         |    SELECT p.doc1, p.doc2,
         |           ROUND(LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
         |                 LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 6) AS jaccard
         |    FROM cand p
         |    JOIN shs a ON a.doc_id = p.doc1
         |    JOIN shs b ON b.doc_id = p.doc2)
         |  WHERE jaccard >= 0.4),
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM verified
         |          UNION SELECT doc2, doc1 FROM verified),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |losers AS (
         |  SELECT a AS node FROM (SELECT a, MIN(b) AS lbl FROM reach GROUP BY a)
         |  WHERE node <> lbl)
         |SELECT d.doc_id, d.source
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.node
         |WHERE l.node IS NULL
         |ORDER BY d.doc_id""".stripMargin
    },
    // incremental dedup: same signature construction, split into batch
    // (odd ids) and corpus (even ids) band sets, cross-joined only —
    // no corpus self-pairing; per-side bucket caps mirror the Spark
    // maxBucketSize default
    "q_dedup_incremental" -> {
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands0 AS (SELECT doc_id, band_idx,
         |                  CASE band_idx $bandCase END AS band_hash
         |           FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx)),
         |bn0 AS (SELECT * FROM bands0 WHERE doc_id % 2 = 1),
         |bc0 AS (SELECT * FROM bands0 WHERE doc_id % 2 = 0),
         |bn AS (SELECT b.* FROM bn0 b JOIN (SELECT band_idx, band_hash FROM bn0
         |        GROUP BY band_idx, band_hash HAVING COUNT(*) <= 1000) k USING (band_idx, band_hash)),
         |bc AS (SELECT b.* FROM bc0 b JOIN (SELECT band_idx, band_hash FROM bc0
         |        GROUP BY band_idx, band_hash HAVING COUNT(*) <= 1000) k USING (band_idx, band_hash)),
         |cand AS (SELECT DISTINCT n.doc_id AS doc1, c.doc_id AS doc2
         |         FROM bn n JOIN bc c
         |           ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash),
         |shs AS (SELECT doc_id,
         |               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                      i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
         |        FROM toks),
         |verified AS (
         |  SELECT doc1 FROM (
         |    SELECT p.doc1, p.doc2,
         |           ROUND(LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
         |                 LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 6) AS jaccard
         |    FROM cand p
         |    JOIN shs a ON a.doc_id = p.doc1
         |    JOIN shs b ON b.doc_id = p.doc2)
         |  WHERE jaccard >= 0.4),
         |losers AS (SELECT DISTINCT doc1 AS node FROM verified)
         |SELECT d.doc_id, d.source
         |FROM documents d LEFT JOIN losers l ON d.doc_id = l.node
         |WHERE d.doc_id % 2 = 1 AND l.node IS NULL
         |ORDER BY d.doc_id""".stripMargin
    },
    // minhash candidates (same construction as q_dedup_minhash) +
    // exact shingle-SET Jaccard confirm
    "q_dedup_verified" -> {
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands AS (SELECT doc_id, band_idx,
         |                 CASE band_idx $bandCase END AS band_hash
         |          FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
         |          FROM bands a JOIN bands b
         |            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         |           AND a.doc_id < b.doc_id),
         |shs AS (SELECT doc_id,
         |               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                      i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
         |        FROM toks)
         |SELECT doc1, doc2, jaccard FROM (
         |  SELECT p.doc1, p.doc2,
         |         ROUND(LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
         |               LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 6) AS jaccard
         |  FROM pairs p
         |  JOIN shs a ON a.doc_id = p.doc1
         |  JOIN shs b ON b.doc_id = p.doc2)
         |WHERE jaccard >= 0.4
         |ORDER BY doc1, doc2""".stripMargin
    },
    "q_dedup_simhash" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |bits AS (
        |  SELECT doc_id, i,
        |         SUM(CASE WHEN SUBSTRING(MD5(t), i, 1) >= '8' THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT UNNEST(RANGE(1, 17)) AS i) g
        |  GROUP BY doc_id, i)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, i - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS fingerprint
        |FROM bits GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // 32-bit fingerprint (md5 hex digits 1..32), then the pigeonhole
    // band join ((fp >> 8b) & 255 over 4 bands) + bit_count verify
    "q_dedup_simhash_near" ->
      """WITH tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents),
        |bits AS (
        |  SELECT doc_id, i,
        |         SUM(CASE WHEN SUBSTRING(MD5(t), i, 1) >= '8' THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT UNNEST(RANGE(1, 33)) AS i) g
        |  GROUP BY doc_id, i),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN s > 0 THEN CAST(POW(2, i - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS fingerprint
        |  FROM bits GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, fingerprint, g.b AS band_idx,
        |         (fingerprint >> CAST(g.b * 8 AS INT)) & 255 AS band_bits
        |  FROM fp CROSS JOIN (SELECT UNNEST(RANGE(0, 4)) AS b) g),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2,
        |         CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3)
        |SELECT doc1, doc2, hamming FROM pairs ORDER BY doc1, doc2""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, source, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |       CAST(LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x))) AS DOUBLE) /
        |       (LEN(a.toks) + LEN(b.toks) - LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))) AS jaccard
        |FROM d a JOIN d b
        |  ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50
        |WHERE CAST(LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x))) AS DOUBLE) /
        |      (LEN(a.toks) + LEN(b.toks) - LEN(LIST_FILTER(a.toks, x -> LIST_CONTAINS(b.toks, x)))) >= 0.2
        |ORDER BY doc1, doc2""".stripMargin,
    // mirrors q_editdist_neardup: DuckDB's levenshtein is the same
    // classic DP; counts/lengths are exact ints
    "q_editdist_neardup" ->
      """WITH k AS (
        |  SELECT doc_id, SUBSTRING(text, 1, 24) AS key,
        |         SUBSTRING(text, 1, 4) AS blk,
        |         LEN(SUBSTRING(text, 1, 24)) AS l
        |  FROM documents)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(LEVENSHTEIN(a.key, b.key) AS INT) AS edits
        |FROM k a JOIN k b
        |  ON a.blk = b.blk AND ABS(a.l - b.l) <= 6 AND a.doc_id < b.doc_id
        |     AND b.doc_id <= a.doc_id + 50
        |WHERE LEVENSHTEIN(a.key, b.key) <= 6
        |ORDER BY id1, id2""".stripMargin,
    // recursive transitive closure mirrors the min-label fixpoint: every
    // node labeled with the smallest id it can reach
    "q_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50
        |  WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |        (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |         SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS node, MIN(b) AS label FROM reach GROUP BY a
        |ORDER BY node""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(RANGE(0, GREATEST(CAST(CEIL((LEN(toks) - 8) / 56.0) AS INT), 1)),
        |               i -> {'chunk_idx': CAST(i AS INT), 'chunk_text': ARRAY_TO_STRING(toks[i*56+1 : i*56+64], ' ')}),
        |               recursive := true)
        |      FROM t)
        |SELECT doc_id, chunk_idx, chunk_text,
        |       CAST(LEN(STRING_SPLIT(chunk_text, ' ')) AS INT) AS chunk_words
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_sample_hash" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 25
        |ORDER BY doc_id""".stripMargin,
    // exact-k per stratum: seeded-md5 rank, id tie-break — both
    // engines order the same lowercase hex strings
    "q_sample_exact_k" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY MD5('7|' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM ranked WHERE rk <= 20
        |ORDER BY doc_id""".stripMargin,
    "q_pii_scrub" ->
      """WITH r AS (SELECT doc_id,
        |  'reach me: user' || CAST(doc_id AS VARCHAR) || '@data.example.com or +1 555-01' ||
        |  LPAD(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' from 10.0.' ||
        |  CAST(doc_id % 200 AS VARCHAR) || '.77 :: ' || SUBSTRING(text, 1, 30) AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,4}[- ]?[0-9]{0,4}', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean
        |FROM r
        |ORDER BY doc_id""".stripMargin,
    "q_embedding_neardup" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
        |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |         (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50)
        |SELECT id1, id2, cos FROM pairs WHERE cos >= 0.3
        |ORDER BY id1, id2""".stripMargin,
    // incremental semantic: the q_embedding_neardup_ivf assign CTE for
    // both sides, odd×even join within the cell, anti-join the losers
    "q_semantic_incremental" ->
      """WITH centroids AS (
        |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
        |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN centroids c),
        |cells AS (SELECT vec_id, embedding, centroid_id AS cell FROM assign WHERE rn = 1),
        |losers AS (
        |  SELECT DISTINCT n.vec_id
        |  FROM cells n JOIN cells c ON n.cell = c.cell
        |  WHERE n.vec_id % 2 = 1 AND c.vec_id % 2 = 0
        |    AND LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(n.embedding) + 1),
        |          i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |        (SQRT(LIST_SUM(LIST_TRANSFORM(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |         SQRT(LIST_SUM(LIST_TRANSFORM(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) >= 0.3)
        |SELECT e.vec_id, e.label
        |FROM embeddings e LEFT JOIN losers l ON e.vec_id = l.vec_id
        |WHERE e.vec_id % 2 = 1 AND l.vec_id IS NULL
        |ORDER BY e.vec_id""".stripMargin,
    // the near-dup pairs CTE + recursive-CTE components + anti-join —
    // the q_dedup_apply labeling pattern in embedding space
    "q_semantic_dedup" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
        |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |         (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50),
        |dup AS (SELECT id1, id2 FROM pairs WHERE cos >= 0.3),
        |edges AS (SELECT id1 AS a, id2 AS b FROM dup
        |          UNION SELECT id2, id1 FROM dup),
        |reach(a, b) AS (
        |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |losers AS (
        |  SELECT a AS node FROM (SELECT a, MIN(b) AS lbl FROM reach GROUP BY a)
        |  WHERE node <> lbl)
        |SELECT e.vec_id, e.label
        |FROM embeddings e LEFT JOIN losers l ON e.vec_id = l.node
        |WHERE l.node IS NULL
        |ORDER BY e.vec_id""".stripMargin,
    "q_embedding_neardup_ivf" ->
      """WITH centroids AS (
        |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
        |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC, c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN centroids c),
        |cells AS (SELECT vec_id, embedding, centroid_id AS cell FROM assign WHERE rn = 1),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |         LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.embedding) + 1),
        |           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
        |         (SQRT(LIST_SUM(LIST_TRANSFORM(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |          SQRT(LIST_SUM(LIST_TRANSFORM(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM cells a JOIN cells b
        |    ON a.cell = b.cell AND b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 50)
        |SELECT id1, id2, cos FROM pairs WHERE cos >= 0.3
        |ORDER BY id1, id2""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         ROUND(
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qvec) + 1),
        |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        |  FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_lsh" ->
      """WITH bucketed AS (
        |  SELECT vec_id, embedding,
        |         LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
        |           j -> CASE WHEN embedding[j] > 0 THEN CAST(POW(2, 8 - j) AS BIGINT) ELSE 0 END)) AS bucket
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket FROM bucketed WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         ROUND(
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qvec) + 1),
        |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        |  FROM q JOIN bucketed e ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf" -> {
      val cosEC =
        """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
          |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
          |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      val cosQE =
        """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qvec) + 1),
          |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) /
          |           (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |            SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""WITH centroids AS (
         |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |           ORDER BY $cosEC DESC, c.centroid_id) AS rn
         |  FROM embeddings e CROSS JOIN centroids c),
         |cells AS (SELECT vec_id, embedding, centroid_id AS cell FROM assign WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, cell FROM cells WHERE vec_id < 3),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         ROUND($cosQE, 6) AS cos
         |  FROM cells e JOIN q ON e.cell = q.cell AND e.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    // hard negatives: q_ann_ivf's cell assignment + same-cell
    // different-label join + per-query rank
    "q_hard_negatives" -> {
      val cosEC =
        """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
          |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
          |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      val cosQE =
        """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qvec) + 1),
          |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(e.evec[i] AS DOUBLE))) /
          |           (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |            SQRT(LIST_SUM(LIST_TRANSFORM(e.evec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""WITH centroids AS (
         |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT e.vec_id, e.embedding, e.label, c.centroid_id,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |           ORDER BY $cosEC DESC, c.centroid_id) AS rn
         |  FROM embeddings e CROSS JOIN centroids c),
         |cells AS (SELECT vec_id, embedding, label, centroid_id AS cell FROM assign WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qvec, label AS query_label, cell
         |      FROM cells WHERE vec_id < 100),
         |e AS (SELECT vec_id AS neighbor_id, embedding AS evec, label AS neighbor_label, cell FROM cells),
         |scored AS (
         |  SELECT q.query_id, q.query_label, e.neighbor_id, e.neighbor_label,
         |         ROUND($cosQE, 6) AS cos
         |  FROM q JOIN e ON q.cell = e.cell AND q.query_label <> e.neighbor_label),
         |ranked AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT query_id, query_label, neighbor_id, neighbor_label, cos, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin
    },
    // prototype pruning: same deterministic cell assignment as
    // q_ann_ivf, then per-cell hard-first ranking; the keep boundary is
    // pure integer math (rank*100 <= pct*n) so it can't drift
    "q_prune_prototypes" -> {
      val cosEC =
        """LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
          |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
          |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
      s"""WITH centroids AS (
         |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
         |  FROM embeddings WHERE vec_id < 8),
         |assign AS (
         |  SELECT e.vec_id, c.centroid_id, $cosEC AS cos,
         |         ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |           ORDER BY $cosEC DESC, c.centroid_id) AS rn
         |  FROM embeddings e CROSS JOIN centroids c),
         |cells AS (SELECT vec_id, centroid_id AS cell, cos FROM assign WHERE rn = 1),
         |ranked AS (
         |  SELECT vec_id, cell, cos,
         |         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ROUND(cos, 6) ASC, vec_id) AS cell_rank,
         |         COUNT(*) OVER (PARTITION BY cell) AS n
         |  FROM cells)
         |SELECT vec_id, cell, ROUND(cos, 6) AS cell_cos, CAST(cell_rank AS INT) AS cell_rank
         |FROM ranked WHERE cell_rank * 100 <= 30 * n
         |ORDER BY vec_id""".stripMargin
    },
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       COUNT(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_lang_id" -> {
      // (hits, lang) struct argmax emulated as fixed-width string max:
      // '%03d'-padded hits + 2-char lang code orders identically
      val langExprs = TextAnalysis.markers.toSeq.sortBy(_._1).map { case (lang, ws) =>
        val lst = ws.map(w => s"'$w'").mkString(", ")
        s"LPAD(CAST(LEN(LIST_FILTER(toks, x -> LIST_CONTAINS([$lst], x))) AS VARCHAR), 3, '0') || '$lang'"
      }
      s"""WITH d AS (SELECT doc_id, lang, LIST_DISTINCT(STRING_SPLIT(text, ' ')) AS toks FROM documents)
         |SELECT doc_id,
         |       RIGHT(GREATEST(${langExprs.mkString(",\n        ")}), 2) AS predicted_lang,
         |       lang AS labeled_lang
         |FROM d
         |ORDER BY doc_id""".stripMargin
    },
    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) AS n_words,
        |         CAST(LENGTH(text) AS DOUBLE) AS n_chars,
        |         CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text, ' ')),
        |              x -> LIST_CONTAINS(['the','a','and','of','to'], x))) AS DOUBLE) / 5.0 AS stop_ratio,
        |         (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) + 1.0) /
        |           (CAST(LENGTH(text) AS DOUBLE) + 1.0) AS alpha_ratio
        |  FROM documents)
        |SELECT doc_id,
        |       ROUND(
        |         (CASE WHEN n_words >= 20 AND n_words <= 10000 THEN 1.0
        |               WHEN n_words >= 5 THEN 0.5 ELSE 0.0 END) * 0.3 +
        |         (CASE WHEN (n_chars - (n_words - 1)) / n_words >= 3
        |                AND (n_chars - (n_words - 1)) / n_words <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
        |         stop_ratio * 0.2 + alpha_ratio * 0.3, 6) AS quality
        |FROM d
        |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |       CAST(LEN(STRING_SPLIT(text, ' ')) AS INT) AS n_words,
        |       CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z]+|[0-9]+')) AS INT) AS n_pieces,
        |       CAST(CEIL(LENGTH(text) / 4) AS INT) AS n_tok_approx
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |       LIST_MIN(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 6, 2), 2),
        |                i -> MD5(SUBSTRING(text, i, 8)))) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      """WITH corp AS (
        |  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents WHERE doc_id % 97 <> 0),
        |q AS (
        |  SELECT doc_id AS query_id, (STRING_SPLIT(text, ' '))[1:5] AS qt
        |  FROM documents WHERE doc_id % 97 = 0),
        |qterms AS (SELECT DISTINCT query_id, UNNEST(qt) AS term FROM q),
        |tok AS (SELECT doc_id, UNNEST(t) AS term, LEN(t) AS dl FROM corp),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT AVG(LEN(t)) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n FROM corp),
        |per AS (
        |  SELECT qterms.query_id, tf.doc_id,
        |         LN((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |           (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS ts
        |  FROM tf JOIN qterms ON tf.term = qterms.term
        |  JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats),
        |scored AS (SELECT query_id, doc_id, ROUND(SUM(ts), 6) AS score FROM per GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q_hybrid_rrf" ->
      """WITH docs AS (
        |  SELECT d.doc_id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |corp AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t, embedding FROM docs WHERE doc_id % 97 <> 0),
        |q AS (SELECT doc_id AS query_id, (STRING_SPLIT(text, ' '))[1:5] AS qt, embedding AS qvec
        |      FROM docs WHERE doc_id % 97 = 0),
        |qterms AS (SELECT DISTINCT query_id, UNNEST(qt) AS term FROM q),
        |tok AS (SELECT doc_id, UNNEST(t) AS term, LEN(t) AS dl FROM corp),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |stats AS (SELECT AVG(LEN(t)) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n FROM corp),
        |per AS (
        |  SELECT qterms.query_id, tf.doc_id,
        |         LN((n - df + 0.5) / (df + 0.5) + 1.0) * (tf * 2.2) /
        |           (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS ts
        |  FROM tf JOIN qterms ON tf.term = qterms.term
        |  JOIN dfreq ON tf.term = dfreq.term CROSS JOIN stats),
        |sscored AS (SELECT query_id, doc_id, ROUND(SUM(ts), 6) AS score FROM per GROUP BY 1, 2),
        |sparse AS (
        |  SELECT query_id, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM sscored),
        |dscored AS (
        |  SELECT q.query_id, c.doc_id,
        |         ROUND(
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.qvec) + 1),
        |             i -> CAST(q.qvec[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos
        |  FROM q CROSS JOIN corp c),
        |dense AS (
        |  SELECT query_id, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
        |  FROM dscored),
        |unioned AS (
        |  SELECT query_id, doc_id, rank FROM sparse WHERE rank <= 20
        |  UNION ALL SELECT query_id, doc_id, rank FROM dense WHERE rank <= 20),
        |fused AS (
        |  SELECT query_id, doc_id,
        |         ROUND(SUM(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) AS rrf,
        |         CAST(COUNT(*) AS INT) AS n_lists
        |  FROM unioned GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT query_id, doc_id, rrf, n_lists, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
        |                       i -> MD5(ARRAY_TO_STRING(t[i:i+2], ' ')))) AS shs
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents)),
        |bench AS (
        |  SELECT DISTINCT UNNEST(shs) AS sh FROM sh WHERE doc_id % 97 = 0),
        |corp AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        |hits AS (
        |  SELECT c.doc_id, COUNT(*) AS overlap
        |  FROM (SELECT doc_id, UNNEST(shs) AS sh FROM corp) c
        |  JOIN bench b ON c.sh = b.sh GROUP BY 1)
        |SELECT corp.doc_id,
        |       CAST(LEN(corp.shs) AS INT) AS n_shingles,
        |       CAST(COALESCE(hits.overlap, 0) AS INT) AS overlap,
        |       ROUND(CAST(COALESCE(hits.overlap, 0) AS DOUBLE) / LEN(corp.shs), 6) AS overlap_frac,
        |       COALESCE(hits.overlap, 0) >= 2 AS contaminated
        |FROM corp LEFT JOIN hits ON corp.doc_id = hits.doc_id
        |ORDER BY corp.doc_id""".stripMargin,
    "q_repetition" ->
      """WITH d AS (SELECT doc_id, text, STRING_SPLIT(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id, ARRAY_TO_STRING(toks[i:i+1], ' ') AS bigram
        |       FROM d, LATERAL (SELECT UNNEST(RANGE(1, GREATEST(LEN(toks), 2))) AS i)),
        |bgc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, MAX(c) AS maxc, SUM(c) AS tot FROM bgc GROUP BY 1),
        |w AS (SELECT doc_id, i, toks[i] AS w
        |      FROM d, LATERAL (SELECT UNNEST(RANGE(1, LEN(toks) + 1)) AS i)),
        |runs AS (SELECT doc_id, w, i - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY i) AS g
        |         FROM w),
        |rl AS (SELECT doc_id, MAX(cnt) AS max_run
        |       FROM (SELECT doc_id, COUNT(*) AS cnt FROM runs GROUP BY doc_id, w, g)
        |       GROUP BY doc_id)
        |SELECT d.doc_id,
        |       ROUND(1.0 - CAST(LEN(LIST_DISTINCT(d.toks)) AS DOUBLE) / LEN(d.toks), 6) AS dup_word_frac,
        |       ROUND(CAST(b.maxc AS DOUBLE) / b.tot, 6) AS top_bigram_frac,
        |       CAST(rl.max_run AS INT) AS max_word_run
        |FROM d JOIN bstat b ON d.doc_id = b.doc_id
        |       JOIN rl ON d.doc_id = rl.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_corpus_stats" ->
      """SELECT source,
        |       COUNT(*) AS n_docs,
        |       ROUND(AVG(CAST(n_chars AS DOUBLE)), 6) AS mean_n_chars,
        |       ROUND(STDDEV_SAMP(CAST(n_chars AS DOUBLE)), 6) AS sd_n_chars,
        |       ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.5), 6) AS p50,
        |       ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.9), 6) AS p90,
        |       ROUND(QUANTILE_CONT(CAST(n_chars AS DOUBLE), 0.99), 6) AS p99
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 <
        |      CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 50 WHEN 'src2' THEN 80 ELSE 25 END
        |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, source, CAST(CEIL(LENGTH(text) / 4) AS INT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tok,
        |         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS before_tok
        |  FROM t)
        |SELECT doc_id, source, n_tok,
        |       CAST(COALESCE(before_tok, 0) // 2048 AS BIGINT) AS pack_id,
        |       CAST(COALESCE(before_tok, 0) % 2048 AS INT) AS pack_offset
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |         ROUND(tf.tf * LN(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term DESC) AS rn
        |  FROM scored)
        |SELECT doc_id, term AS top_term, tfidf AS top_tfidf
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    // fuzzy decontamination: minhash corpus×eval (same md5-family
    // construction as q_dedup_incremental, id spaces split at 1e6) +
    // exact-Jaccard confirm, per-corpus-doc aggregate
    "q_decontaminate_fuzzy" -> {
      val mins = (1 to 16)
        .map(j => s"MIN((h1 + $j*h2) % 4294967296) AS m$j")
        .mkString(",\n        ")
      val bandCase = (0 until 4)
        .map { b =>
          val hs = (1 to 4)
            .map(r => s"CAST(m${b * 4 + r} AS VARCHAR)")
            .mkString(" || '|' || ")
          s"WHEN $b THEN MD5($hs)"
        }
        .mkString(" ")
      s"""WITH alldocs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, UPPER(SUBSTRING(text,1,10)) || SUBSTRING(text,11)
         |  FROM documents WHERE doc_id % 20 = 0),
         |toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM alldocs),
         |sh AS (SELECT doc_id,
         |              UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                     i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS shingle
         |       FROM toks),
         |hx AS (SELECT doc_id,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 1, 8) AS BIGINT) AS h1,
         |              CAST('0x' || SUBSTRING(MD5(shingle), 9, 8) AS BIGINT) AS h2
         |       FROM sh),
         |sig AS (SELECT doc_id, $mins
         |        FROM hx GROUP BY doc_id),
         |bands0 AS (SELECT doc_id, band_idx,
         |                  CASE band_idx $bandCase END AS band_hash
         |           FROM sig CROSS JOIN (VALUES (0),(1),(2),(3)) b(band_idx)),
         |bn0 AS (SELECT * FROM bands0 WHERE doc_id < 1000000),
         |bc0 AS (SELECT * FROM bands0 WHERE doc_id >= 1000000),
         |bn AS (SELECT b.* FROM bn0 b JOIN (SELECT band_idx, band_hash FROM bn0
         |        GROUP BY band_idx, band_hash HAVING COUNT(*) <= 1000) k USING (band_idx, band_hash)),
         |bc AS (SELECT b.* FROM bc0 b JOIN (SELECT band_idx, band_hash FROM bc0
         |        GROUP BY band_idx, band_hash HAVING COUNT(*) <= 1000) k USING (band_idx, band_hash)),
         |cand AS (SELECT DISTINCT n.doc_id AS doc1, c.doc_id AS doc2
         |         FROM bn n JOIN bc c
         |           ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash),
         |shs AS (SELECT doc_id,
         |               LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 1, 2)),
         |                      i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS s
         |        FROM toks),
         |vj AS (
         |  SELECT doc1, doc2, jaccard FROM (
         |    SELECT p.doc1, p.doc2,
         |           ROUND(LEN(LIST_INTERSECT(a.s, b.s)) * 1.0 /
         |                 LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))), 6) AS jaccard
         |    FROM cand p
         |    JOIN shs a ON a.doc_id = p.doc1
         |    JOIN shs b ON b.doc_id = p.doc2)
         |  WHERE jaccard >= 0.5)
         |SELECT doc1 AS doc_id, COUNT(DISTINCT doc2) AS n_eval_matches, MAX(jaccard) AS max_jaccard
         |FROM vj GROUP BY doc1 ORDER BY doc_id""".stripMargin
    },
    // CCNet tiers: the q_unigram_logprob scores + exact percentile
    // cutoffs (type-7 quantile_cont mirrors Spark's `percentile`
    // bit-for-bit on the 6-dp-rounded score multiset) folded
    // scan-locally — NO window anywhere, matching the operator's
    // broadcast-cutoff shape (ties at a cutoff land in the lower tier
    // in both engines; a cutoff is an order statistic or strictly
    // between two consecutive ones, so no data point can sit on the
    // comparison boundary)
    "q_perplexity_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS t FROM tok),
        |scored AS (
        |  SELECT tok.doc_id,
        |         CAST(COUNT(*) AS INT) AS n_words,
        |         ROUND(AVG(-LN(CAST(freq.c AS DOUBLE) / tot.t)), 6) AS avg_neg_logprob
        |  FROM tok JOIN freq ON tok.term = freq.term CROSS JOIN tot
        |  GROUP BY tok.doc_id),
        |cuts AS (SELECT quantile_cont(avg_neg_logprob, [1.0/3, 2.0/3]) AS c FROM scored)
        |SELECT doc_id, n_words, avg_neg_logprob,
        |       CAST(1 + CASE WHEN avg_neg_logprob > c[1] THEN 1 ELSE 0 END
        |              + CASE WHEN avg_neg_logprob > c[2] THEN 1 ELSE 0 END AS INT) AS bucket
        |FROM scored CROSS JOIN cuts ORDER BY doc_id""".stripMargin,
    // bigram LM: same corpus-estimated counts in DuckDB list math
    "q_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents),
        |big AS (SELECT doc_id,
        |               UNNEST(LIST_TRANSFORM(RANGE(2, LEN(t) + 1),
        |                      i -> {'prev': t[i-1], 'term': t[i]})) AS b
        |        FROM toks WHERE LEN(t) >= 2),
        |pairs AS (SELECT doc_id, b.prev AS prev, b.term AS term FROM big),
        |c2 AS (SELECT prev, term, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
        |c1 AS (SELECT prev, COUNT(*) AS c1 FROM pairs GROUP BY 1)
        |SELECT p.doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
        |       ROUND(AVG(-LN(CAST(c2.c2 AS DOUBLE) / c1.c1)), 6) AS avg_neg_logprob2
        |FROM pairs p JOIN c2 USING (prev, term) JOIN c1 USING (prev)
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // mirrors q_chi_square: expected/contributions are functions of
    // exact counts only
    "q_chi_square" ->
      """WITH o AS (SELECT source, lang, COUNT(*) AS obs FROM documents GROUP BY source, lang),
        |rt AS (SELECT source, SUM(obs) AS r FROM o GROUP BY source),
        |ct AS (SELECT lang, SUM(obs) AS c FROM o GROUP BY lang),
        |n AS (SELECT SUM(obs) AS n FROM o)
        |SELECT o.source, o.lang, o.obs,
        |       ROUND(rt.r * ct.c / CAST(n.n AS DOUBLE), 6) AS expected,
        |       ROUND(POWER(o.obs - rt.r * ct.c / CAST(n.n AS DOUBLE), 2) / (rt.r * ct.c / CAST(n.n AS DOUBLE)), 6) AS chi2_term
        |FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
        |ORDER BY source, lang""".stripMargin,
    "q_entropy" ->
      """WITH c AS (SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang),
        |t AS (SELECT source, SUM(cnt) AS tot FROM c GROUP BY source)
        |SELECT c.source,
        |       ROUND(-SUM((cnt / CAST(tot AS DOUBLE)) * LN(cnt / CAST(tot AS DOUBLE))), 6) AS entropy,
        |       CAST(COUNT(*) AS INT) AS n_values
        |FROM c JOIN t USING (source) GROUP BY c.source
        |ORDER BY c.source""".stripMargin,
    "q_cube_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY source NULLS FIRST, lang NULLS FIRST""".stripMargin,
    // mirrors q_centroid_drift: decimal sum-vectors are exact, so the
    // doubles entering the final cosine are bit-identical cross-engine
    "q_centroid_drift" ->
      """WITH dims AS (
        |  SELECT label, vec_id % 2 AS side, i - 1 AS pos,
        |         CAST(embedding[i] AS DECIMAL(18,9)) AS xd
        |  FROM embeddings, UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS t(i)),
        |cent AS (
        |  SELECT label, side, pos, CAST(SUM(xd) AS DECIMAL(13,9)) AS sv
        |  FROM dims GROUP BY label, side, pos),
        |j AS (
        |  SELECT r.label, r.pos, r.sv AS sr, u.sv AS su
        |  FROM (SELECT * FROM cent WHERE side = 0) r
        |  JOIN (SELECT * FROM cent WHERE side = 1) u USING (label, pos))
        |SELECT label,
        |       ROUND(CAST(SUM(sr*su) AS DOUBLE) /
        |             (SQRT(CAST(SUM(sr*sr) AS DOUBLE)) * SQRT(CAST(SUM(su*su) AS DOUBLE))), 6) AS centroid_cos,
        |       CAST(COUNT(*) AS INT) AS dim
        |FROM j GROUP BY label ORDER BY label""".stripMargin,
    // mirrors q_data_quality: ratios of exact longs; passed at
    // threshold 1.0 is integer equality
    "q_data_quality" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS n,
        |         COUNT(text) AS c_text,
        |         COUNT(DISTINCT doc_id) AS u_id,
        |         SUM(CASE WHEN n_chars BETWEEN 1 AND 300 THEN 1 ELSE 0 END) AS r_chars,
        |         SUM(CASE WHEN lang IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS s_lang,
        |         SUM(CASE WHEN REGEXP_MATCHES(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS re_src
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'complete_text' AS check_name, ROUND(c_text / CAST(n AS DOUBLE), 6) AS metric, c_text = n AS passed FROM m
        |  UNION ALL SELECT 'unique_doc_id', ROUND(u_id / CAST(n AS DOUBLE), 6), u_id = n FROM m
        |  UNION ALL SELECT 'range_n_chars', ROUND(r_chars / CAST(n AS DOUBLE), 6), r_chars = n FROM m
        |  UNION ALL SELECT 'set_lang', ROUND(s_lang / CAST(n AS DOUBLE), 6), s_lang = n FROM m
        |  UNION ALL SELECT 'regex_source', ROUND(re_src / CAST(n AS DOUBLE), 6), re_src = n FROM m
        |) ORDER BY check_name""".stripMargin,
    // mirrors q_bpe_roundtrip: decode(encodeMarked(text)) must equal
    // the raw text byte-for-byte — the oracle is the ground truth
    "q_bpe_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // mirrors q_unigram_roundtrip: same ground-truth-text contract
    "q_unigram_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",
    // mirrors q_pmi_bigrams: all probabilities are ratios of exact
    // longs; LN is libm, absorbed by ROUND(6); top-K boundary is
    // tie-broken on (prev, term)
    "q_pmi_bigrams" ->
      """WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
        |toks AS (SELECT UNNEST(w) AS token FROM d),
        |uni AS (SELECT token, COUNT(*) AS c1 FROM toks GROUP BY token),
        |tot AS (SELECT COUNT(*) AS t FROM toks),
        |big0 AS (
        |  SELECT w[i] AS prev, w[i+1] AS term
        |  FROM d, UNNEST(GENERATE_SERIES(1, LEN(w)-1)) AS u(i)
        |  WHERE LEN(w) >= 2),
        |bigc AS (SELECT prev, term, COUNT(*) AS c2 FROM big0 GROUP BY prev, term),
        |btot AS (SELECT COUNT(*) AS b FROM big0)
        |SELECT prev, term, c2,
        |       ROUND(LN((c2 / b.b) / ((u1.c1 / t.t) * (u2.c1 / t.t))), 6) AS pmi
        |FROM bigc
        |JOIN uni u1 ON u1.token = bigc.prev
        |JOIN uni u2 ON u2.token = bigc.term
        |CROSS JOIN tot t CROSS JOIN btot b
        |WHERE c2 >= 5
        |ORDER BY pmi DESC, prev, term
        |LIMIT 50""".stripMargin,
    "q_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        |freq AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS t FROM tok)
        |SELECT tok.doc_id,
        |       CAST(COUNT(*) AS INT) AS n_words,
        |       ROUND(AVG(-LN(CAST(freq.c AS DOUBLE) / tot.t)), 6) AS avg_neg_logprob
        |FROM tok JOIN freq ON tok.term = freq.term CROSS JOIN tot
        |GROUP BY tok.doc_id
        |ORDER BY tok.doc_id""".stripMargin,
    "q_vocabulary" ->
      """WITH tok AS (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
        |total AS (SELECT SUM(cnt) AS tot FROM counts),
        |top AS (SELECT token, cnt FROM counts ORDER BY cnt DESC, token LIMIT 100)
        |SELECT token, cnt,
        |       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
        |       ROUND(CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS DOUBLE) / (SELECT tot FROM total), 6) AS cum_frac
        |FROM top ORDER BY rank""".stripMargin,
    "q_normalize_text" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         UPPER(SUBSTRING(text, 1, 10)) || '  ' || SUBSTRING(text, 11) || '   ' AS raw
        |  FROM documents)
        |SELECT doc_id,
        |       TRIM(REGEXP_REPLACE(LOWER(raw), ' +', ' ', 'g')) AS norm_text,
        |       MD5(TRIM(REGEXP_REPLACE(LOWER(raw), ' +', ' ', 'g'))) AS norm_hash
        |FROM r
        |ORDER BY doc_id""".stripMargin,
    "q_curation_pipeline" ->
      """WITH inp AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, UPPER(SUBSTRING(text, 1, 10)) || SUBSTRING(text, 11), source
        |  FROM documents WHERE doc_id % 5 = 0
        |),
        |scored AS (
        |  SELECT doc_id, text, source,
        |         RIGHT(GREATEST(
        |           LPAD(CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text,' ')), x -> LIST_CONTAINS(['the','a','and','of','to'], x))) AS VARCHAR), 3, '0') || 'en',
        |           LPAD(CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text,' ')), x -> LIST_CONTAINS(['el','la','los','que','y'], x))) AS VARCHAR), 3, '0') || 'es',
        |           LPAD(CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text,' ')), x -> LIST_CONTAINS(['le','la','les','et','des'], x))) AS VARCHAR), 3, '0') || 'fr',
        |           LPAD(CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text,' ')), x -> LIST_CONTAINS(['de5','shi4','le5','zai4','he2'], x))) AS VARCHAR), 3, '0') || 'zh'
        |         ), 2) AS predicted_lang,
        |         ROUND(
        |           (CASE WHEN CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) >= 20 AND CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) <= 10000 THEN 1.0
        |                 WHEN CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) >= 5 THEN 0.5 ELSE 0.0 END) * 0.3 +
        |           (CASE WHEN (CAST(LENGTH(text) AS DOUBLE) - (CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) - 1)) / CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) >= 3
        |                  AND (CAST(LENGTH(text) AS DOUBLE) - (CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) - 1)) / CAST(LEN(STRING_SPLIT(text,' ')) AS DOUBLE) <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 +
        |           CAST(LEN(LIST_FILTER(LIST_DISTINCT(STRING_SPLIT(text,' ')), x -> LIST_CONTAINS(['the','a','and','of','to'], x))) AS DOUBLE) / 5.0 * 0.2 +
        |           (CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) + 1.0) / (CAST(LENGTH(text) AS DOUBLE) + 1.0) * 0.3, 6) AS quality
        |  FROM inp
        |),
        |kept AS (
        |  SELECT doc_id, source, quality,
        |         TRIM(REGEXP_REPLACE(LOWER(
        |           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
        |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |             '\+[0-9]{1,3}[- ][0-9]{3,4}[- ][0-9]{3,4}[- ]?[0-9]{0,4}', '<PHONE>', 'g'),
        |             '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')
        |         ), ' +', ' ', 'g')) AS norm
        |  FROM scored
        |  WHERE predicted_lang = 'en' AND quality >= 0.5
        |),
        |dedup AS (
        |  SELECT MD5(norm) AS content_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count,
        |         MIN_BY(source, doc_id) AS source, MIN_BY(quality, doc_id) AS quality
        |  FROM kept GROUP BY 1
        |)
        |SELECT source, COUNT(*) AS docs_kept, CAST(SUM(dup_count) AS BIGINT) AS docs_in,
        |       CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
        |FROM dedup GROUP BY source ORDER BY source""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       'text/plain' AS media_type,
        |       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS byte_len,
        |       SHA256(text) AS payload_sha256
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // REAL decode oracle: the synthesized payload's parameters are
    // closed-form in doc_id (Multimodal.withSyntheticImages), so DuckDB
    // computes the ground truth the javax.imageio decode must recover.
    // Constant-gray fill → mean luminance is exactly gray/255 (both
    // engines: exact integer sums then one double division).
    "q_multimodal_decode" ->
      """SELECT doc_id,
        |       CAST(16 + doc_id % 40 AS INT) AS width,
        |       CAST(16 + (doc_id * 3) % 40 AS INT) AS height,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 4 ELSE 1 END AS INT) AS n_frames,
        |       (doc_id % 256) / 255.0 AS brightness
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // REAL video-container oracle: ground truth closed-form in doc_id
    // (withSyntheticVideo)
    "q_multimodal_video" ->
      """SELECT doc_id,
        |       'avi' AS format,
        |       CAST(160 + (doc_id % 16) * 16 AS INT) AS width,
        |       CAST(120 + (doc_id % 9) * 8 AS INT) AS height,
        |       CAST(100 + doc_id % 900 AS INT) AS n_frames,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 33333 ELSE 40000 END AS INT) AS frame_us
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // REAL video-frame oracle: pixel channel value in row y of frame f
    // is (base + 7f + y) % 256, x-invariant (withSyntheticVideoFrames /
    // synthAviDib), so per-frame sums are closed-form exact integers:
    // brightness_sum = 3 channels × width × Σ_y v(y), top_row_sum the
    // y = 0 term. generate_series is end-inclusive, hence nf - 1.
    "q_multimodal_video_frames" ->
      """WITH p AS (SELECT doc_id,
        |                  CAST(32 + (doc_id % 8) * 8 AS INT) AS width,
        |                  CAST(24 + (doc_id % 6) * 4 AS INT) AS height,
        |                  CAST(2 + doc_id % 4 AS INT) AS nf,
        |                  doc_id % 200 AS base
        |           FROM documents),
        |fr AS (SELECT doc_id, width, height, base, CAST(g.i AS INT) AS frame_idx
        |       FROM p, UNNEST(generate_series(0, nf - 1, 1)) AS g(i)),
        |px AS (SELECT doc_id, frame_idx, width, height,
        |              CAST(SUM((base + frame_idx * 7 + y.i) % 256) AS BIGINT) AS vsum,
        |              CAST((base + frame_idx * 7) % 256 AS BIGINT) AS v0
        |       FROM fr, UNNEST(generate_series(0, height - 1, 1)) AS y(i)
        |       GROUP BY doc_id, frame_idx, width, height, base)
        |SELECT doc_id, frame_idx, width, height,
        |       CAST(3 * width * vsum AS BIGINT) AS brightness_sum,
        |       CAST(3 * width * v0 AS BIGINT) AS top_row_sum
        |FROM px
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // REAL audio oracle: ground truth is closed-form in doc_id
    // (withSyntheticAudio). Header-math columns only — every value an
    // exact integer or constant string, zero float/JDK-SPI surface, so
    // the row hashes identically on any engine/JVM (the round-8 red-row
    // fix; the PCM decode is spec-pinned + bench-only)
    "q_multimodal_audio" ->
      """SELECT doc_id,
        |       'wav' AS format,
        |       CAST(1 + doc_id % 2 AS INT) AS channels,
        |       CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
        |       CAST(16 AS INT) AS bits_per_sample,
        |       CAST(256 + doc_id % 256 AS BIGINT) AS n_frames
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // frame indices from the sha-derived n_frames; generate_series is
    // end-inclusive like Spark's sequence
    "q_multimodal_frames" -> {
      val u = (0 to 6).map { i =>
        val p = 2 * i + 1
        s"(STRPOS('0123456789abcdef', SUBSTRING(hx,$p,1))-1)*16 + " +
          s"STRPOS('0123456789abcdef', SUBSTRING(hx,${p + 1},1))-1 AS u$i"
      }.mkString(",\n        |         ")
      s"""WITH h AS (SELECT doc_id, SHA256(text) AS hx FROM documents),
        |b AS (SELECT doc_id,
        |         $u
        |      FROM h),
        |f AS (SELECT doc_id, CAST(1 + u4 % 64 AS INT) AS n_frames FROM b)
        |SELECT doc_id, n_frames, CAST(g.i AS INT) AS frame_idx
        |FROM f, UNNEST(generate_series(0, greatest(n_frames - 1, 0), 3)) AS g(i)
        |ORDER BY doc_id, frame_idx""".stripMargin
    },
    // REAL resize oracle: dims from the synthesized payload's closed
    // form scaled to maxSide=32 (FLOOR mirrors Scala's toInt truncation
    // on positive operands); redecoded_* prove the output payload is a
    // real PNG of exactly those dims, and bilinear resample of a
    // constant-gray image preserves luminance exactly
    "q_multimodal_resize" ->
      """WITH d AS (SELECT doc_id,
        |                  16 + doc_id % 40 AS w,
        |                  16 + (doc_id * 3) % 40 AS h2
        |           FROM documents),
        |s AS (SELECT doc_id, w, h2,
        |             LEAST(1.0, 32.0 / GREATEST(w, h2)) AS scale
        |      FROM d),
        |r AS (SELECT doc_id,
        |             CAST(GREATEST(1, CAST(FLOOR(w * scale) AS BIGINT)) AS INT) AS rw,
        |             CAST(GREATEST(1, CAST(FLOOR(h2 * scale) AS BIGINT)) AS INT) AS rh
        |      FROM s)
        |SELECT doc_id,
        |       rw AS resized_width,
        |       rh AS resized_height,
        |       rw AS redecoded_width,
        |       rh AS redecoded_height,
        |       (doc_id % 256) / 255.0 AS brightness
        |FROM r ORDER BY doc_id""".stripMargin,
    // windows: lateral generate_series per doc; a 10-token window at
    // position i is toks[i : i+9] (inclusive 1-based slice); "shared"
    // mirrors the min!=max two-distinct-docs test
    "q_substring_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, MD5(array_to_string(t[g.i : g.i+9], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t)-9, 0))) AS g(i)),
        |stats AS (SELECT h, min(doc_id) <> max(doc_id) AS shared FROM wins GROUP BY h),
        |per_doc AS (
        |  SELECT w.doc_id,
        |         count(*) AS n_windows,
        |         CAST(sum(CASE WHEN s.shared THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM wins w JOIN stats s USING (h) GROUP BY w.doc_id)
        |SELECT d.doc_id,
        |       COALESCE(p.n_windows, 0) AS n_windows,
        |       COALESCE(p.n_dup, 0) AS n_dup,
        |       COALESCE(p.n_dup * 1.0 / p.n_windows, 0.0) AS dup_fraction
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // interval merge: run boundary = start past running max of prior
    // ends; run id = prefix sum of boundaries (mirrors Dedup.mergeSpans)
    "q_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, g.i AS start_tok, g.i + 9 AS end_tok,
        |         MD5(array_to_string(t[g.i : g.i+9], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t)-9, 0))) AS g(i)),
        |stats AS (SELECT h, min(doc_id) <> max(doc_id) AS shared FROM wins GROUP BY h),
        |sh AS (
        |  SELECT w.doc_id, w.start_tok, w.end_tok
        |  FROM wins w JOIN stats s USING (h) WHERE s.shared),
        |flagged AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         CASE WHEN start_tok > coalesce(max(end_tok) OVER (
        |              PARTITION BY doc_id ORDER BY start_tok
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |              THEN 1 ELSE 0 END AS new_run
        |  FROM sh),
        |runs AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         sum(new_run) OVER (PARTITION BY doc_id ORDER BY start_tok
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM flagged)
        |SELECT doc_id,
        |       CAST(min(start_tok) AS BIGINT) AS span_start,
        |       CAST(max(end_tok) AS BIGINT) AS span_end
        |FROM runs GROUP BY doc_id, run_id
        |ORDER BY doc_id, span_start""".stripMargin,
    "q_substring_strip" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(text, '\s+') AS t FROM documents),
        |wins AS (
        |  SELECT doc_id, g.i AS start_tok, g.i + 9 AS end_tok,
        |         MD5(array_to_string(t[g.i : g.i+9], ' ')) AS h
        |  FROM toks, UNNEST(generate_series(1, greatest(len(t)-9, 0))) AS g(i)),
        |stats AS (SELECT h, min(doc_id) AS mn, max(doc_id) AS mx FROM wins GROUP BY h),
        |removed AS (
        |  SELECT w.doc_id, w.start_tok, w.end_tok
        |  FROM wins w JOIN stats s USING (h)
        |  WHERE s.mn <> s.mx AND w.doc_id <> s.mn),
        |flagged AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         CASE WHEN start_tok > coalesce(max(end_tok) OVER (
        |              PARTITION BY doc_id ORDER BY start_tok
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |              THEN 1 ELSE 0 END AS new_run
        |  FROM removed),
        |runs AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         sum(new_run) OVER (PARTITION BY doc_id ORDER BY start_tok
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
        |  FROM flagged),
        |spans AS (
        |  SELECT doc_id, list({'s': mn_s, 'e': mx_e}) AS sp FROM (
        |    SELECT doc_id, min(start_tok) AS mn_s, max(end_tok) AS mx_e
        |    FROM runs GROUP BY doc_id, run_id) GROUP BY doc_id)
        |SELECT t.doc_id,
        |       COALESCE(array_to_string(
        |         list_filter(t.t, (x, i) ->
        |           len(list_filter(coalesce(sp.sp, []), s -> s.s <= i AND i <= s.e)) = 0),
        |         ' '), '') AS stripped_text,
        |       CAST(len(t.t) - len(list_filter(t.t, (x, i) ->
        |           len(list_filter(coalesce(sp.sp, []), s -> s.s <= i AND i <= s.e)) = 0))
        |         AS BIGINT) AS n_removed
        |FROM toks t LEFT JOIN spans sp USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // PQ: codeword c of subspace j = 16-dim slice of vec_id c; encode =
    // per-(vec, subspace) argmin; ADC = sum over subspaces of the
    // query-slice-to-matched-codeword distance
    "q_ann_pq" ->
      """WITH cw AS (
        |  SELECT j.j, c.vec_id AS c, c.embedding[j.j*16+1 : j.j*16+16] AS w
        |  FROM (SELECT unnest(range(0,4)) AS j) j,
        |       (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) c),
        |enc AS (
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT e.vec_id, cw.j, cw.c,
        |           ROW_NUMBER() OVER (PARTITION BY e.vec_id, cw.j ORDER BY
        |             LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
        |               i -> (CAST(e.embedding[CAST(cw.j*16+i AS INT)] AS DOUBLE) -
        |                     CAST(cw.w[CAST(i AS INT)] AS DOUBLE))
        |                  * (CAST(e.embedding[CAST(cw.j*16+i AS INT)] AS DOUBLE) -
        |                     CAST(cw.w[CAST(i AS INT)] AS DOUBLE)))) ASC,
        |             cw.c ASC) AS rn
        |    FROM embeddings e, cw) WHERE rn = 1),
        |adc AS (
        |  SELECT q.vec_id AS query_id, enc.vec_id AS neighbor_id,
        |         ROUND(SUM(LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
        |           i -> (CAST(q.embedding[CAST(enc.j*16+i AS INT)] AS DOUBLE) -
        |                 CAST(cw.w[CAST(i AS INT)] AS DOUBLE))
        |              * (CAST(q.embedding[CAST(enc.j*16+i AS INT)] AS DOUBLE) -
        |                 CAST(cw.w[CAST(i AS INT)] AS DOUBLE))))), 6) AS adist
        |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
        |  JOIN enc ON enc.vec_id <> q.vec_id
        |  JOIN cw ON cw.j = enc.j AND cw.c = enc.code
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist,
        |       ROW_NUMBER() OVER (PARTITION BY query_id
        |                          ORDER BY adist ASC, neighbor_id ASC) AS rank
        |FROM adc QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // IVF-PQ: cosine cell assignment (q_ann_ivf convention) + float32
    // residuals (double-subtract-then-round == Spark's zip_with float
    // math) + residual codebooks from rows 8..15 + L2 nprobe=2 probe +
    // residual-space ADC, all mirrored expression-for-expression
    "q_ann_ivfpq" ->
      """WITH centroids AS (
        |  SELECT CAST(vec_id AS INT) AS centroid_id, embedding AS cvec
        |  FROM embeddings WHERE vec_id < 8),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, c.centroid_id,
        |         ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
        |           LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(e.embedding) + 1),
        |             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) /
        |           (SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
        |            SQRT(LIST_SUM(LIST_TRANSFORM(c.cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
        |           c.centroid_id) AS rn
        |  FROM embeddings e CROSS JOIN centroids c),
        |cells AS (SELECT vec_id, embedding, centroid_id AS cell FROM assign WHERE rn = 1),
        |res AS (
        |  SELECT s.vec_id, s.cell,
        |         LIST_TRANSFORM(RANGE(1, LEN(s.embedding) + 1),
        |           i -> CAST(CAST(s.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE) AS FLOAT)) AS r
        |  FROM cells s JOIN centroids c ON c.centroid_id = s.cell),
        |cw AS (
        |  SELECT j.j, CAST(s.vec_id - 8 AS INT) AS c, s.r[j.j*16+1 : j.j*16+16] AS w
        |  FROM (SELECT unnest(range(0,4)) AS j) j,
        |       (SELECT vec_id, r FROM res WHERE vec_id >= 8 AND vec_id < 16) s),
        |enc AS (
        |  SELECT vec_id, cell, j, c AS code FROM (
        |    SELECT r.vec_id, r.cell, cw.j, cw.c,
        |           ROW_NUMBER() OVER (PARTITION BY r.vec_id, cw.j ORDER BY
        |             LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
        |               i -> (CAST(r.r[CAST(cw.j*16+i AS INT)] AS DOUBLE) -
        |                     CAST(cw.w[CAST(i AS INT)] AS DOUBLE))
        |                  * (CAST(r.r[CAST(cw.j*16+i AS INT)] AS DOUBLE) -
        |                     CAST(cw.w[CAST(i AS INT)] AS DOUBLE)))) ASC,
        |             cw.c ASC) AS rn
        |    FROM res r, cw) WHERE rn = 1),
        |qc AS (
        |  SELECT query_id, qvec, cell, cvec FROM (
        |    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.centroid_id AS cell, c.cvec,
        |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |             LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(q.embedding) + 1),
        |               i -> (CAST(q.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))
        |                  * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)))) ASC,
        |             c.centroid_id ASC) AS pr
        |    FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3) q
        |    CROSS JOIN centroids c)
        |  WHERE pr <= 2),
        |adc AS (
        |  SELECT qc.query_id, enc.vec_id AS neighbor_id,
        |         ROUND(SUM(LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
        |           i -> (CAST(qc.qvec[CAST(enc.j*16+i AS INT)] AS DOUBLE)
        |                 - CAST(qc.cvec[CAST(enc.j*16+i AS INT)] AS DOUBLE)
        |                 - CAST(cw.w[CAST(i AS INT)] AS DOUBLE))
        |              * (CAST(qc.qvec[CAST(enc.j*16+i AS INT)] AS DOUBLE)
        |                 - CAST(qc.cvec[CAST(enc.j*16+i AS INT)] AS DOUBLE)
        |                 - CAST(cw.w[CAST(i AS INT)] AS DOUBLE))))), 6) AS adist
        |  FROM qc
        |  JOIN enc ON enc.cell = qc.cell AND enc.vec_id <> qc.query_id
        |  JOIN cw ON cw.j = enc.j AND cw.c = enc.code
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |                               ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rank
        |FROM adc QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_embed_quantize" ->
      """WITH m AS (
        |  SELECT vec_id,
        |         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
        |                        'max') AS mx
        |  FROM embeddings),
        |q AS (
        |  SELECT e.vec_id,
        |         m.mx / 127.0 AS scale,
        |         CASE WHEN m.mx = 0 THEN NULL
        |              ELSE list_transform(e.embedding,
        |                     x -> CAST(floor(CAST(x AS DOUBLE) / (m.mx / 127.0) + 0.5)
        |                          AS BIGINT)) END AS qv
        |  FROM embeddings e JOIN m USING (vec_id))
        |SELECT vec_id,
        |       ROUND(scale, 9) AS scale,
        |       CAST(COALESCE(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS q_sum,
        |       CAST(COALESCE(list_aggregate(list_transform(qv, v -> abs(v)), 'max'), 0)
        |         AS BIGINT) AS q_max_abs
        |FROM q ORDER BY vec_id""".stripMargin,
    // identical RE2 regexes both sides (scrubPii convention); DuckDB
    // array_to_string(NULL-prone) coalesced like the Spark empty guard
    "q_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 1
        |              THEN 'HTTPS://WWW.Example.COM:443/' || source ||
        |                   '/Page?utm_source=news&b=2&a=' || CAST(doc_id % 50 AS VARCHAR) ||
        |                   '&fbclid=track#frag'
        |              ELSE 'https://www.example.com/' || source || '/Page?a=' ||
        |                   CAST(doc_id % 50 AS VARCHAR) || '&b=2' END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM u),
        |c2 AS (
        |  SELECT doc_id, scheme,
        |    lower(regexp_extract(hostport, '^([^:]*)', 1)) AS host,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
        |    array_to_string(list_sort(list_filter(string_split(query, '&'),
        |        p -> p <> '' AND NOT regexp_matches(p,
        |               '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)'))), '&') AS params
        |  FROM c)
        |SELECT scheme || '://' || host ||
        |    CASE WHEN port <> '' AND
        |              NOT ((scheme = 'https' AND port = '443') OR
        |                   (scheme = 'http' AND port = '80'))
        |         THEN ':' || port ELSE '' END || path ||
        |    CASE WHEN COALESCE(params, '') <> '' THEN '?' || params ELSE '' END
        |      AS canonical_url,
        |  count(*) AS n_urls, min(doc_id) AS first_doc
        |FROM c2 GROUP BY 1 ORDER BY canonical_url""".stripMargin,
    // rate = target/total per source; copies = floor(rate) + Bernoulli
    // on the same md5-first-8-hex uniform (1e6 buckets) the samplers use
    "q_mix_corpus" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, sum(n_tokens) AS total FROM tok GROUP BY source),
        |r AS (
        |  SELECT tok.doc_id, tok.source, tok.n_tokens,
        |         (CASE tok.source WHEN 'src0' THEN 3000.0 WHEN 'src1' THEN 700.0
        |               ELSE 1000.0 END) / CAST(tot.total AS DOUBLE) AS rate,
        |         (CAST('0x' || SUBSTRING(MD5(CAST(tok.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |            % 1000000) / 1e6 AS u
        |  FROM tok JOIN tot USING (source))
        |SELECT doc_id, source, n_tokens, g.copy
        |FROM r, UNNEST(generate_series(1,
        |       CAST(floor(rate) AS BIGINT) +
        |       CASE WHEN u < rate - floor(rate) THEN 1 ELSE 0 END)) AS g(copy)
        |ORDER BY doc_id, copy""".stripMargin,
    "q_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(text, '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS word_count,
        |         ROUND(list_aggregate(list_transform(toks, w -> len(w) * 1.0), 'sum')
        |               / len(toks), 6) AS mean_word_len,
        |         ROUND(((len(text) - len(replace(text, '#', ''))) +
        |                (len(text) - len(replace(text, '...', ''))) / 3.0)
        |               / len(toks), 6) AS symbol_ratio,
        |         ROUND(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
        |               / len(toks), 6) AS alpha_frac,
        |         CAST(len(list_distinct(list_intersect(list_transform(toks, w -> lower(w)),
        |              ['the','be','to','of','and','that','have','with']))) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, word_count, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
        |       word_count BETWEEN 30 AND 100000 AS rule_word_count,
        |       mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_word_len,
        |       symbol_ratio <= 0.1 AS rule_symbol_ratio,
        |       alpha_frac >= 0.8 AS rule_alpha,
        |       stop_hits >= 1 AS rule_stopwords,
        |       (word_count BETWEEN 30 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
        |         AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 1 AS pass
        |FROM m
        |ORDER BY doc_id""".stripMargin,
    // DuckDB's native ASOF JOIN is the executable spec of the operator:
    // latest right with c.ts <= p.ts per key, ties resolved by the
    // pre-aggregated unique (user_id, ts) right side
    "q_asof_join" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts, p.value, c.ts AS click_ts, c.click_value
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,
    // mirrors Curation.sampleWeightedK: same md5-first-8-hex uniform,
    // −LN(u)/w keys rounded to 6dp, id tie-break
    "q_sample_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         (CAST('0x' || SUBSTRING(MD5('7|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |            % 1000000 + 1) / 1000001.0 AS u
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, source, n_tokens,
        |         ROUND(-LN(u) / n_tokens, 6) AS skey
        |  FROM t WHERE n_tokens > 0)
        |SELECT doc_id, source, n_tokens,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY skey, doc_id) AS BIGINT) AS sample_rank
        |FROM k
        |QUALIFY sample_rank <= 20
        |ORDER BY source, sample_rank""".stripMargin,
    // mirrors IntervalJoin.overlap: DuckDB's inequality join IS the
    // executable spec of the bucketized equi-join form
    "q_interval_join" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, ts AS s,
        |         ts + ((CAST(FLOOR(value * 37) AS INT) % 7200 + 600) * INTERVAL 1 SECOND) AS e
        |  FROM events),
        |l AS (SELECT user_id, event_id AS l_id, s AS l_s, e AS l_e FROM iv WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, event_id AS r_id, s AS r_s, e AS r_e FROM iv WHERE event_id % 2 = 1)
        |SELECT l.user_id, l_id, r_id
        |FROM l JOIN r ON l.user_id = r.user_id AND l_s < r_e AND r_s < l_e
        |ORDER BY l_id, r_id""".stripMargin,
    // mirrors Curation.stripMarkup: script/style with contents, tags,
    // entity pairs (ampersand forms last), whitespace collapse
    "q_strip_markup" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    '<html><body onload="f()"><h1>Doc ' || doc_id ||
        |    '</h1><SCRIPT type="text/javascript">var x = 1 < 2;</script ><style>p { color: red }</style><p class="c">' ||
        |    text || ' &amp; more &lt;tail&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y</p></body></html>' AS raw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    REGEXP_REPLACE(REGEXP_REPLACE(raw, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |                   '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS t1
        |  FROM r),
        |t AS (SELECT doc_id, REGEXP_REPLACE(t1, '<[^>]*>', ' ', 'g') AS t2 FROM s),
        |d AS (SELECT doc_id,
        |  REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(REPLACE(
        |    t2, '&lt;','<'),'&gt;','>'),'&quot;','"'),'&apos;',''''),'&#39;',''''),'&#34;','"'),
        |    '&#60;','<'),'&#62;','>'),'&nbsp;',' '),'&#38;','&'),'&amp;','&') AS t3
        |  FROM t)
        |SELECT doc_id, TRIM(REGEXP_REPLACE(t3, '\s+', ' ', 'g')) AS clean_text
        |FROM d ORDER BY doc_id""".stripMargin,
    // mirrors TextAnalysis.nbQualityScore: Laplace-smoothed log-odds
    // from one token pass, prior from doc counts, unseen terms = 0
    "q_nb_quality" ->
      """WITH labeled AS (
        |  SELECT doc_id, text, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y FROM documents),
        |tok AS (SELECT y, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM labeled),
        |counts AS (SELECT term, SUM(y) AS c1, COUNT(*) AS ct FROM tok GROUP BY 1),
        |totals AS (SELECT SUM(c1) AS n1, SUM(ct - c1) AS n0, COUNT(*) AS v FROM counts),
        |prior AS (SELECT LN((SUM(y) + 1.0) / (SUM(1 - y) + 1.0)) AS p FROM labeled),
        |w AS (SELECT term,
        |        LN((c1 + 1.0) / (n1 + v)) - LN((ct - c1 + 1.0) / (n0 + v)) AS w
        |      FROM counts CROSS JOIN totals),
        |dtok AS (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents)
        |SELECT d.doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
        |       ROUND(FIRST(prior.p) + SUM(COALESCE(w.w, 0)), 6) AS score,
        |       (ROUND(FIRST(prior.p) + SUM(COALESCE(w.w, 0)), 6) > 0) AS pred_quality
        |FROM dtok d LEFT JOIN w USING (term) CROSS JOIN prior
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // mirrors History.scd2: null-safe change detection (first_row guard
    // matches Spark's struct <=> lag(null) = false), intervals from
    // LEAD over the collapsed rows, BIGINT version
    "q_scd2" ->
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         LAG(event_type) OVER w AS prev_et,
        |         (ROW_NUMBER() OVER w = 1) AS first_row
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), changes AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked
        |  WHERE first_row OR prev_et IS DISTINCT FROM event_type
        |)
        |SELECT user_id, event_type,
        |       ts AS valid_from,
        |       LEAD(ts) OVER w2 AS valid_to,
        |       CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version,
        |       (LEAD(ts) OVER w2 IS NULL) AS is_current
        |FROM changes
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin
  )
}
