package graft.streaming

import graft.operators.Dedup
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming faces of the round-10 batch curation gates — fuzzy
  * decontamination and perplexity (unigram-LM) gating — as
  * [[StoreLoop]] sinks against PERSISTED model tables, the
  * [[IncrementalDedup]] pattern:
  *
  *   - the EXPENSIVE side is computed once at seed time (the eval set's
  *     band table + verify text; the reference corpus' term-frequency
  *     table + bucket cutoffs) and persisted;
  *   - each micro-batch pays only batch-sized work: per-row banding +
  *     an equi-join against the stored bands (never re-shingling the
  *     eval set), or a term join against the stored vocabulary (never
  *     re-scoring the reference corpus);
  *   - appends are [[StoreLoop]] stamped appends, replay-idempotent:
  *     a replayed batch that is already fully appended is a no-op
  *     (foreachBatch replays after failures; a plain append would
  *     double-write).
  *
  * Scale: the per-batch plans touch |batch| rows plus the matched band
  * buckets / vocabulary terms — nothing scales with the corpus that
  * already landed. Eval-set verify text is fetched by a left-semi join
  * on the candidates' eval ids, inside the append's plan (eval sets are
  * small, so no driver-side id pushdown is needed).
  */
object StreamingCuration {

  // ---- fuzzy decontamination ---------------------------------------

  /** Persist the eval set once: its UNCAPPED band table (`$dir/bands`)
    * and its verify text (`$dir/text`, id-clustered).
    */
  def seedEvalSet(
      evalSet: DataFrame,
      evalDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit = {
    Dedup.bandedSignatures(evalSet, idCol, textCol)
      .write.mode("overwrite").parquet(s"$evalDir/bands")
    evalSet.select(col(idCol), col(textCol))
      .repartitionByRange(col(idCol)).sortWithinPartitions(idCol)
      .write.mode("overwrite").parquet(s"$evalDir/text")
  }

  /** One micro-batch of fuzzy decontamination: per-row band the batch,
    * equi-join the stored eval bands, fetch ONLY the candidate eval
    * docs' text, exact-Jaccard confirm, and return the batch with
    * `n_eval_matches` / `max_jaccard` appended (0 / null for clean
    * rows). Semantics pin: on equal inputs the flagged set equals the
    * batch operator [[graft.operators.Curation.decontaminateFuzzy]]'s
    * (StreamingCurationSpec).
    */
  def decontaminateBatch(
      spark: SparkSession,
      batch: DataFrame,
      evalDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5,
      maxBucketSize: Option[Int] = Some(1000)
  ): DataFrame = {
    val evalBands = Lake.read(spark, s"$evalDir/bands")
    val cands = Dedup
      .candidatesAgainstBanded(batch, evalBands, idCol, textCol,
        maxBucketSize = maxBucketSize)
      .select(col("new_id").as("doc1"), col("corpus_id").as("doc2"))
    val evalFetched = Lake.read(spark, s"$evalDir/text")
      .join(cands.select(col("doc2").as(idCol)), Seq(idCol), "left_semi")
    val both = batch.select(col(idCol), col(textCol))
      .union(evalFetched.select(col(idCol), col(textCol)))
    val flagged = Dedup
      .verifyCandidates(cands, both, idCol, textCol, minJaccard = minJaccard)
      .groupBy(col("doc1"))
      .agg(
        count_distinct(col("doc2")).as("n_eval_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .withColumnRenamed("doc1", idCol)
    batch
      .join(flagged, Seq(idCol), "left")
      .withColumn("n_eval_matches", coalesce(col("n_eval_matches"), lit(0L)))
  }

  /** Attach the decontamination loop to a stream: per micro-batch,
    * annotate against the seeded eval set and append the CLEAN rows to
    * `outDir`, stamped and replay-idempotent ([[StoreLoop]]).
    */
  def attachDecontaminate(
      docs: DataFrame,
      evalDir: String,
      outDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5
  ): StreamingQuery =
    StoreLoop.attach(docs, Nil, Some(checkpointDir), None, asyncCompact = false) {
      (batch, bid, probe) =>
        ingestDecontaminate(batch, evalDir, outDir, bid, probe, idCol, textCol, minJaccard)
    }

  /** One trigger of [[attachDecontaminate]]; true iff it appended stamped rows. */
  private[graft] def ingestDecontaminate(
      batch: DataFrame,
      evalDir: String,
      outDir: String,
      batchId: Long,
      probeReplay: Boolean,
      idCol: String = "doc_id",
      textCol: String = "text",
      minJaccard: Double = 0.5
  ): Boolean = {
    val spark = batch.sparkSession
    StoreLoop.appendStamped(spark, outDir, Some(batchId), probeReplay)(
      decontaminateBatch(spark, batch, evalDir, idCol, textCol, minJaccard)
        .filter(col("n_eval_matches") === 0)
        .drop("n_eval_matches", "max_jaccard"))
  }

  // ---- perplexity (unigram-LM) gating ------------------------------

  /** Persist the reference LM once: the term-frequency table
    * (`$dir/freq`: term, c), the corpus token total and the
    * `avg_neg_logprob` bucket cutoffs (`$dir/cutoffs`: one row,
    * approx_percentile over the reference corpus' own scores — the
    * [[graft.operators.TextAnalysis.perplexityBuckets]] exact=false
    * convention).
    */
  def seedLanguageModel(
      refCorpus: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      buckets: Int = 3
  ): Unit = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val scored = graft.operators.TextAnalysis.unigramLogProb(refCorpus, idCol, textCol)
    val tok = refCorpus
      .select(explode(split(col(textCol), " ")).as("term"))
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("c"))
    freq.write.mode("overwrite").parquet(s"$modelDir/freq")
    val fracs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    scored
      .agg(percentile_approx(col("avg_neg_logprob"), array(fracs: _*), lit(10000)).as("cuts"))
      .crossJoin(broadcast(freq.agg(sum(col("c")).as("total"))))
      .write.mode("overwrite").parquet(s"$modelDir/cutoffs")
  }

  /** Score one micro-batch against the persisted LM and assign quality
    * buckets (1 = most reference-typical). Out-of-vocabulary terms take
    * the add-one floor count 1 — the seeded corpus never saw them, and
    * the whole point of the gate is that OOV-heavy word salad lands in
    * the tail bucket rather than crashing the join.
    */
  def gateBatch(
      spark: SparkSession,
      batch: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val freq = Lake.read(spark, s"$modelDir/freq")
    val cutRow = Lake.read(spark, s"$modelDir/cutoffs").head()
    val cuts = cutRow.getAs[scala.collection.Seq[Double]]("cuts")
    val total = cutRow.getAs[Long]("total")
    val tok = batch
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val scored = tok
      .join(freq, Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_words"),
        round(avg(-log(coalesce(col("c"), lit(1L)).cast("double") / total)), 6)
          .as("avg_neg_logprob"))
    val bucket = cuts.foldLeft(lit(1)) { (acc, c) =>
      acc + when(col("avg_neg_logprob") > c, 1).otherwise(0)
    }
    batch.join(
      scored.withColumn("bucket", bucket).select(col(idCol), col("n_words"),
        col("avg_neg_logprob"), col("bucket")),
      Seq(idCol), "left")
  }

  /** Persist the Naive-Bayes quality model (the round-11 batch
    * classifier, [[graft.operators.TextAnalysis.nbTokenWeights]]): the
    * vocabulary-sized log-odds table + the one-row prior. The labeled
    * pass — the only corpus-scale work — happens HERE, once.
    */
  def seedNbClassifier(
      labeled: DataFrame,
      modelDir: String,
      textCol: String = "text",
      labelCol: String = "y"
  ): Unit = {
    val (weights, prior) =
      graft.operators.TextAnalysis.nbTokenWeights(labeled, textCol, labelCol)
    weights.write.mode("overwrite").parquet(s"$modelDir/weights")
    prior.write.mode("overwrite").parquet(s"$modelDir/prior")
  }

  /** Score one micro-batch against the persisted NB model —
    * batch-sized work only (the weight join broadcasts). */
  def nbBatch(
      spark: SparkSession,
      batch: DataFrame,
      modelDir: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame =
    graft.operators.TextAnalysis.nbScore(
      batch, idCol, textCol,
      Lake.read(spark, s"$modelDir/weights"),
      Lake.read(spark, s"$modelDir/prior"))

  /** Attach the NB quality gate to a stream: per micro-batch, score
    * against the seeded model and append rows with `score > minScore`
    * to `outDir`, stamped and replay-idempotent ([[StoreLoop]]).
    */
  def attachNbGate(
      docs: DataFrame,
      modelDir: String,
      outDir: String,
      checkpointDir: String,
      minScore: Double = 0.0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): StreamingQuery =
    StoreLoop.attach(docs, Nil, Some(checkpointDir), None, asyncCompact = false) {
      (batch, bid, probe) =>
        ingestNbGate(batch, modelDir, outDir, bid, probe, minScore, idCol, textCol)
    }

  /** One trigger of [[attachNbGate]]; true iff it appended stamped rows. */
  private[graft] def ingestNbGate(
      batch: DataFrame,
      modelDir: String,
      outDir: String,
      batchId: Long,
      probeReplay: Boolean,
      minScore: Double = 0.0,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Boolean = {
    val spark = batch.sparkSession
    StoreLoop.appendStamped(spark, outDir, Some(batchId), probeReplay)(
      nbBatch(spark, batch, modelDir, idCol, textCol)
        .filter(col("score") > minScore)
        .join(batch, Seq(idCol)))
  }

  /** Attach the perplexity gate to a stream: per micro-batch, score
    * against the seeded LM and append rows in buckets ≤ `keepMaxBucket`
    * to `outDir`, stamped and replay-idempotent ([[StoreLoop]]).
    */
  def attachGate(
      docs: DataFrame,
      modelDir: String,
      outDir: String,
      checkpointDir: String,
      keepMaxBucket: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): StreamingQuery =
    StoreLoop.attach(docs, Nil, Some(checkpointDir), None, asyncCompact = false) {
      (batch, bid, probe) =>
        ingestGate(batch, modelDir, outDir, bid, probe, keepMaxBucket, idCol, textCol)
    }

  /** One trigger of [[attachGate]]; true iff it appended stamped rows. */
  private[graft] def ingestGate(
      batch: DataFrame,
      modelDir: String,
      outDir: String,
      batchId: Long,
      probeReplay: Boolean,
      keepMaxBucket: Int,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Boolean = {
    val spark = batch.sparkSession
    StoreLoop.appendStamped(spark, outDir, Some(batchId), probeReplay)(
      gateBatch(spark, batch, modelDir, idCol, textCol)
        .filter(col("bucket") <= keepMaxBucket))
  }
}
