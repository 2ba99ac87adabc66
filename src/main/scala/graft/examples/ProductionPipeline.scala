package graft.examples

import graft.{GraftSession, Profile}
import graft.operators.{Classifier, Curation, Dedup, HashFamily, Selection, Similarity, TextAnalysis, Tokenizer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The INTEGRATED production sequence measured end-to-end — what a
  * training-data team actually runs as one job chain, not the
  * per-operator benches (every stage below has its own solo growth row
  * in BASELINE.md; this main measures the composition):
  *
  *   1. URL canonical dedup (crawl-variant collapse);
  *   2. curate: lang gate + quality gate + PII scrub + normalize +
  *      exact content dedup (ONE plan — [[Curation.curate]]);
  *   3. MinHash near-dup removal (band join → verify → components);
  *   4. semantic dedup over the embedding sidecar (IVF-cell blocking);
  *   5. fuzzy decontamination against a synthesized eval set;
  *   5b. (SPARK_GRAFT_SELECT=1) model-based selection — the
  *      LLaMA-pipeline stage: a trained hashed classifier gates on a
  *      quality proxy, then DSIR importance resampling keeps the 80%
  *      most target-like survivors (xxhash64 production family,
  *      Gumbel-threshold form — no global top-k). Opt-in so the
  *      standing 9-stage growth tables stay comparable; its own walls
  *      are recorded in BASELINE.md;
  *   6. unigram-LM tokenizer: corpus-bounded train + scan-local encode;
  *   7. sequence packing to a fixed context;
  *   8. corpus mixing to per-source token budgets (epoch repeats);
  *   9. deterministic epoch shuffle (range-partitioned total order).
  *
  * Protocol: each stage CHECKPOINTS to parquet in the work dir and the
  * next stage reads that file — the additive per-stage walls and
  * shuffle bytes are the production multi-job shape (and what makes
  * the table below attributable). The tokenize→pack→mix→shuffle tail
  * is ALSO run FUSED (one lazy plan from the stage-5 parquet to the
  * final write) to audit what composition saves: the staged form pays
  * three extra parquet round-trips; the fused plan shares one scan and
  * lets the mix join ride the pack exchange. Stages 3/4's component
  * loops run driver-side actions internally, so the head of the
  * pipeline cannot legally fuse past them — the segment boundaries ARE
  * the driver-model fits (band plan, cluster loop, unigram EM).
  *
  * Per-stage Spark metrics are [[Profile]] windows (shuffle read/write,
  * scan input, disk spill) — the numbers BASELINE.md records for the
  * 100 TB extrapolation.
  *
  * Run: `sbt "runMain graft.examples.ProductionPipeline <sfDir> <workDir>"`
  */
object ProductionPipeline {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val spark = GraftSession.local()
    val profile = Profile.of(spark)
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")

    val rows = scala.collection.mutable.ListBuffer.empty[(String, Double, Long, Profile.Totals)]
    def mb(cost: Profile.Totals, column: String): Double = cost(column) / 1e6
    def traffic(cost: Profile.Totals): String =
      f"shufW ${mb(cost, "shuffle_write_bytes")}%8.1f MB  shufR ${mb(cost, "shuffle_read_bytes")}%8.1f MB  " +
        f"scan ${mb(cost, "input_bytes")}%8.1f MB"
    def stage(name: String)(body: => DataFrame): DataFrame = {
      val ((secs, back, n), cost) = profile.window {
        val t0 = System.nanoTime()
        body.write.mode("overwrite").parquet(s"$work/$name.parquet")
        val secs = (System.nanoTime() - t0) / 1e9
        val back = spark.read.parquet(s"$work/$name.parquet")
        (secs, back, back.count())
      }
      rows += ((name, secs, n, cost))
      println(f"[stage] $name%-22s $secs%8.2f s  $n%9d rows  ${traffic(cost)}  " +
        f"spill ${mb(cost, "disk_spill_bytes")}%6.1f MB")
      back
    }

    val tWall0 = System.nanoTime()
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")

    // 1. URL dedup — synthesize the crawl URL (testdata has none).
    // Every doc_id % 5 == 1 is a crawl VARIANT of the previous doc's
    // url (tracking-param noise): groups stay size <= 2 at every scale
    // (a constant ~20% variant rate — NOT a corpus-sized hot url), so
    // the keep-min aggregate's group count grows with the corpus the
    // way real crawl dedup does
    val d1 = stage("s1_url_dedup") {
      val urlId = when(pmod(col("doc_id"), lit(5)) === 1, col("doc_id") - 1)
        .otherwise(col("doc_id"))
      // the url must NOT embed per-doc attributes like source — a
      // variant pair (5k, 5k+1) has to share its canonical target
      docs
        .withColumn("url",
          concat(lit("HTTPS://Site.Example/d?id="),
            urlId.cast("string"), lit("&utm_source=crawl")))
        .withColumn("canonical_url", Curation.canonicalizeUrl(col("url")))
        .groupBy(col("canonical_url"))
        .agg(graft.functions.BoundedHeap
          .minBy(struct(col("doc_id"), col("text"), col("source")), col("doc_id")).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"), col("d.source").as("source"))
    }

    // 2. curate: lang + quality gates, PII scrub, normalize, exact dedup
    val d2 = stage("s2_curate") {
      Curation.curate(d1, "doc_id", "text", keepLang = "en", minQuality = 0.3,
          carry = Seq("source"))
        .select(col("canonical_id").as("doc_id"), col("clean_text").as("text"),
          col("source"), col("quality"))
    }

    // 3. MinHash near-dup removal (candidates → verify → components)
    val d3 = stage("s3_minhash_dedup") {
      Dedup.dropNearDuplicates(d2, "doc_id", "text",
        checkpointDir = Some(s"$work/checkpoints"))
    }

    // 4. semantic dedup on the embedding sidecar: IVF-cell blocking
    // with the 8-deterministic-centroid convention
    // (q_embedding_neardup_ivf). Measured here and REJECTED: the
    // "production sizing" nlist ∝ n with centroids = first-n vectors —
    // at sf100 it was BOTH slower (178 vs 113 s) and nearly blind
    // (245 vs 6213 dups): untrained fine-grained cells split
    // near-identical vectors across boundaries. The lesson the solo
    // family rows already encode (BASELINE r8/r11): growing nlist is
    // only sound with TRAINED centroids (lloydCentroids on its capped
    // sample) + assignCellsApprox; with a
    // handful of arbitrary cells the id-window banding inside
    // embeddingNearDup bounds the pairing instead, which is the shape
    // this stage keeps.
    val d4 = stage("s4_semantic_dedup") {
      val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
      val docVecs = emb.select(col("vec_id").as("doc_id"), col("embedding"))
        .join(d3.select("doc_id"), "doc_id")
      val kept = Dedup.dropSemanticDuplicates(
        Similarity.assignCells(docVecs, cents, "embedding"),
        "doc_id", "embedding", "cell",
        checkpointDir = Some(s"$work/checkpoints"))
      val losers = docVecs.select("doc_id")
        .join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      d3.join(losers, Seq("doc_id"), "left_anti")
    }

    // 5. fuzzy decontamination — eval set synthesized as in the gated
    // q_decontaminate_fuzzy (every 20th doc, case-perturbed head), but
    // CAPPED at a fixed id range: benchmark eval sets do not grow with
    // the training corpus, and an uncapped synthetic one turns the
    // band join quadratic at scale (both sides ∝ n — the sf100 run
    // measured 24×/decade before this cap, 273k docs vs a 1.5M-id slice)
    val d5 = stage("s5_decontaminate") {
      val evalSet = d4
        .filter(col("doc_id") % 20 === 0 && col("doc_id") < 1500000L)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(substring(col("text"), 1, 10)), expr("substring(text, 11)")).as("text"))
      // decontaminateFuzzy RETURNS the contaminated ids (with match
      // count + max jaccard); survivors are the anti-join
      val contaminated = Curation
        .decontaminateFuzzy(d4.select("doc_id", "text"), evalSet, "doc_id", "text")
        .select("doc_id")
      d4.join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id", "text", "source")
    }

    // 5b (opt-in): model-based selection. The quality proxy splits the
    // survivors at a fixed heuristic-score bar (percentile-derived so
    // it tracks the corpus, approx sketch — bounded); the classifier
    // LEARNS the bar from a 25% fit slice and gates, then DSIR keeps
    // the 80% most target-like of the gated set. Everything runs the
    // xxhash64 production family; selection is the Gumbel-THRESHOLD
    // form (broadcast 1-row cutoff + scan filter — nothing corpus-
    // sized funnels anywhere).
    val d5b =
      if (!sys.env.get("SPARK_GRAFT_SELECT").contains("1")) d5
      else {
        val qBar = d5
          .agg(percentile_approx(TextAnalysis.qualityScore(col("text")), lit(0.4), lit(10000)))
          .head().getDouble(0)
        val labeled = d5.withColumn(
          "label", (TextAnalysis.qualityScore(col("text")) >= qBar).cast("int"))
        val clf = Classifier.train(
          labeled.filter(Curation.sampleByHash("doc_id", 25)),
          "doc_id", "text", "label",
          buckets = 256, epochs = 8, family = HashFamily.XxHash64)
        val sel = stage("s5b_model_select") {
          val gated = d5.filter(Classifier.score(col("text"), clf) >= 0.5)
          val weights = Selection.dsirScore(
            gated, "doc_id", "text",
            TextAnalysis.qualityScore(col("text")) >= qBar,
            buckets = 1024, n = 2, family = HashFamily.XxHash64)
          Selection
            .gumbelTopFrac(weights, "doc_id", "dsir_weight", frac = 0.8, seed = "sel15")
            .select("doc_id")
            .join(gated, "doc_id")
            .select("doc_id", "text", "source")
        }
        // held-out evaluation: the 75% hash-complement never saw the
        // fit — the production sanity check that the learned gate
        // actually ranks the quality label before it filters the crawl
        val ev = Classifier.auc(
          labeled.filter(not(Curation.sampleByHash("doc_id", 25)))
            .select(round(Classifier.score(col("text"), clf), 6).as("s"), col("label")),
          "s", "label").head()
        // auc is NULL when the held-out slice is single-class — report
        // that instead of letting getDouble throw on a degenerate split
        if (ev.isNullAt(0))
          println(s"[eval ] s5b held-out AUC undefined (single class: " +
            s"${ev.getLong(1)} pos / ${ev.getLong(2)} neg held-out docs)")
        else
          println(f"[eval ] s5b held-out AUC ${ev.getDouble(0)}%.4f " +
            f"(${ev.getLong(1)}%d pos / ${ev.getLong(2)}%d neg held-out docs)")
        sel
      }

    // 6. unigram tokenizer: bounded corpus train (driver EM on the
    // vocabCap word list) + scan-local DP encode
    val model = Tokenizer.trainUnigram(d5b, "text", vocabSize = 512)
    val d6 = stage("s6_tokenize") {
      Tokenizer.tokenizeUnigram(d5b, "text", model)
        .select(col("doc_id"), col("source"), col("text"), col("tokens"), col("n_tokens"))
    }

    // 7. pack to a fixed training context per source stratum
    val d7 = stage("s7_pack") {
      Curation.packSequences(d6, "doc_id", "source", "n_tokens", ctxTokens = 2048)
    }

    // 8. mix to per-source token budgets. The target is CORPUS-RELATIVE
    // (1.5× the median source's token mass) so the stage keeps its
    // production shape at every scale: most sources get ~1-2 epochs,
    // the hot ones down-sample toward the median — an absolute number
    // here would flip from up- to down-sampling as the corpus grows
    val medianSourceTokens = d6
      .groupBy("source").agg(sum("n_tokens").cast("double").as("t"))
      .agg(percentile_approx(col("t"), lit(0.5), lit(1000))).head().getDouble(0)
    val d8 = stage("s8_mix") {
      Curation.mixCorpus(d6, "doc_id", "text", "source",
        targets = Map.empty, defaultTarget = Some(1.5 * medianSourceTokens))
    }

    // 9. epoch shuffle: (doc, copy) examples in a seeded total order
    val d9 = stage("s9_epoch_shuffle") {
      Curation.shuffleForTraining(
        d8.select((col("doc_id") * 1000 + col("copy")).as("example_id"),
          col("doc_id"), col("copy")),
        "example_id", seed = 17L)
    }

    // 10. training shards + loader manifest of the SELECTED corpus —
    // the hand-off artifact (Lake.writeTrainingShards), fed by the
    // model-selection gate when SPARK_GRAFT_SELECT=1 (d6 descends from
    // s5b's survivors), so the shard layout ships what the pipeline
    // actually chose, not the raw crawl. Verified THREE ways in-run:
    // the pre-write manifest (computed from the input frame), the
    // read-back manifest (recomputed from the shard files), and the
    // IncrementalManifest store rollup must agree cell-for-cell —
    // order-independent bit_xor checksums make that a set equality.
    {
      val nShards = sys.env.getOrElse("SPARK_GRAFT_SHARDS", "256").toInt
      val ((secs10, nDocs10, verified), cost10) = profile.window {
        val t10 = System.nanoTime()
        val shardsDir = s"$work/shards"
        val manStore = s"$work/manifest_store"
        val shardSrc = d6.select(col("doc_id"), col("text"), col("source"), col("n_tokens"))
        val pre = graft.sources.Lake.writeTrainingShards(
          shardSrc, "doc_id", Seq("doc_id", "text"), shardsDir, nShards,
          seed = "pp16", tokenCol = Some("n_tokens"), family = HashFamily.XxHash64)
          .collect().map(_.toString).sorted
        graft.streaming.IncrementalManifest.seed(
          shardSrc, manStore, "doc_id", Seq("doc_id", "text"), nShards,
          seed = "pp16", tokenCol = Some("n_tokens"), family = HashFamily.XxHash64)
        val secs10 = (System.nanoTime() - t10) / 1e9
        val readBack = graft.sources.Lake.shardManifest(
          spark.read.parquet(shardsDir).drop("shard"),
          "doc_id", Seq("doc_id", "text"), nShards,
          seed = "pp16", tokenCol = Some("n_tokens"), family = HashFamily.XxHash64)
          .collect().map(_.toString).sorted
        val live = graft.streaming.IncrementalManifest.manifest(spark, manStore)
          .drop(graft.streaming.IncrementalManifest.BatchCol)
          .collect().map(_.toString).sorted
        val verified = pre.sameElements(readBack) && pre.sameElements(live)
        (secs10, spark.read.parquet(shardsDir).count(), verified)
      }
      rows += (("s10_shards", secs10, nDocs10, cost10))
      println(f"[stage] s10_shards          $secs10%8.2f s  $nDocs10%9d rows  " +
        f"$nShards shards; manifest pre==read-back==store: " +
        (if (verified) "IDENTICAL" else "MISMATCH"))
      assert(verified, "shard manifest verification failed")
    }

    val wallStaged = (System.nanoTime() - tWall0) / 1e9
    println("\nstage | wall s | rows | shufW MB | shufR MB | scan MB | spill MB")
    rows.foreach { case (n, s, r, c) =>
      println(f"$n | $s%.2f | $r%d | " + Seq("shuffle_write_bytes", "shuffle_read_bytes",
        "input_bytes", "disk_spill_bytes").map(k => f"${mb(c, k)}%.1f").mkString(" | "))
    }
    println(f"[total] staged end-to-end: $wallStaged%.1f s, " +
      f"input ${docs.count()}%d docs -> ${d9.count()}%d training examples")

    // FUSED tail: tokenize→pack→mix→shuffle as ONE lazy plan from the
    // stage-5 parquet (the post-model segment is pure plan) — what the
    // staged form pays in parquet round-trips, and whether the composed
    // DAG shares the scan (audit with SPARK_GRAFT_EXPLAIN=1)
    val (fusedSecs, fusedCost) = profile.window {
      val tf0 = System.nanoTime()
      val curatedStage =
        if (sys.env.get("SPARK_GRAFT_SELECT").contains("1")) "s5b_model_select"
        else "s5_decontaminate"
      val curated = spark.read.parquet(s"$work/$curatedStage.parquet")
      val toks = Tokenizer.tokenizeUnigram(curated, "text", model)
        .select(col("doc_id"), col("source"), col("text"), col("tokens"), col("n_tokens"))
      val packed = Curation.packSequences(toks, "doc_id", "source", "n_tokens", ctxTokens = 2048)
      val mixed = Curation.mixCorpus(toks, "doc_id", "text", "source",
        targets = Map.empty, defaultTarget = Some(1.5 * medianSourceTokens))
        .join(packed.select("doc_id", "pack_id"), "doc_id")
      val fusedOut = Curation.shuffleForTraining(
        mixed.select((col("doc_id") * 1000 + col("copy")).as("example_id"),
          col("doc_id"), col("copy"), col("pack_id")),
        "example_id", seed = 17L)
      if (sys.env.contains("SPARK_GRAFT_EXPLAIN")) fusedOut.explain("formatted")
      fusedOut.write.mode("overwrite").parquet(s"$work/fused_tail.parquet")
      (System.nanoTime() - tf0) / 1e9
    }
    val stagedTail = rows.toList.filter(r => Set("s6_tokenize", "s7_pack", "s8_mix", "s9_epoch_shuffle")(r._1))
    println(f"[fused tail] tokenize->pack->mix->shuffle one-plan: $fusedSecs%.2f s " +
      f"(staged sum ${stagedTail.map(_._2).sum}%.2f s), ${traffic(fusedCost)}")

    spark.stop()
  }
}
