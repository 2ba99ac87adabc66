package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A trained, bucket-bounded linear text classifier: logistic
  * regression over hashed bag-of-words features — the fastText shape
  * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification") that production pipelines (CCNet, LLaMA) use as
  * the learned quality/domain filter next to the heuristic gates
  * ([[TextAnalysis.gopherRules]]) and the closed-form NB scorer
  * ([[TextAnalysis.nbTokenWeights]]). The reference engine has no
  * learned-filter surface; this extends the LLM-data family.
  *
  * Bounded-model discipline (the unigram-tokenizer/PQ-codebook rule):
  * the MODEL is `buckets + 1` doubles on the driver; the DATA path is
  * per-epoch distributed aggregates — the corpus never reaches the
  * driver. Training is full-batch gradient descent, deterministic
  * (zero init, fixed epoch count, decimal-summed gradients), so two
  * fits of the same frame are bit-identical.
  */
object Classifier {

  /** Hashed token bucket in [0, buckets): [[Selection.gramBucket]] at
    * n = 1 — md5 (oracle-mirrorable) or xxhash64 (production; one
    * codegen'd mix instead of the md5→hex→conv chain).
    */
  def tokenBucket(tok: Column, buckets: Int, family: HashFamily = HashFamily.Md5): Column =
    Selection.gramBucket(tok, buckets, family)

  /** The fitted model: `weights(b)` multiplies the document's
    * count-share of bucket b (cnt_b / n_tokens — fastText's mean-of-
    * embeddings normalization collapsed to scalar features). The model
    * CARRIES its hash family: bucket assignments differ between
    * families, so a fit/score family mismatch would silently score
    * noise — making it a model field makes the mismatch unrepresentable.
    */
  final case class HashedLogReg(
      bias: Double,
      weights: Array[Double],
      buckets: Int,
      family: HashFamily = HashFamily.Md5
  ) {
    require(weights.length == buckets, s"weights.length ${weights.length} != buckets $buckets")
  }

  /** Train by full-batch gradient descent: per epoch, ONE pass over the
    * cached token-bucket frame computes every per-document margin
    * (broadcast-join of the ≤`buckets`-row weight table, per-doc hash
    * agg), and a second aggregate folds the residuals back into a
    * ≤`buckets + 1`-row gradient that is collected to the driver —
    * the only driver materialization, bucket-bounded by construction.
    * Gradient components are summed through DECIMAL so partition order
    * never changes the fit (the oracle-determinism rule applied to
    * training itself).
    *
    * At 100 TB: epochs × (one broadcast join + two hash aggregates)
    * over a frame the fit caches once; the collect stays `buckets`
    * rows however large the corpus is. Sub-sampling the fit corpus is
    * the caller's dial (a classifier fits fine on a hash-sampled
    * slice — [[Curation.sampleByHash]]).
    */
  def train(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int = 256,
      epochs: Int = 30,
      learnRate: Double = 2.0,
      l2: Double = 1e-4,
      family: HashFamily = HashFamily.Md5
  ): HashedLogReg = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")

    val feat = buildFeatures(df, idCol, textCol, labelCol, buckets, family).persist()
    // one bias row per doc (buildFeatures) — counting them materializes
    // the cache without the distinct the old per-(doc,bucket)-only
    // layout needed
    val nDocs =
      feat.filter(col("bucket") === -1L).count().toDouble

    val weights = Array.fill(buckets)(0.0)
    var bias = 0.0
    var epoch = 0
    try {
      while (epoch < epochs) {
        val grad = epochGrad(feat, bias, weights)
          .collect() // bounded: ≤ buckets + 1 rows whatever the corpus size
        grad.foreach { row =>
          val b = row.getLong(0)
          val g = row.getDouble(1) / nDocs
          if (b < 0) bias -= learnRate * g
          else weights(b.toInt) -= learnRate * (g + l2 * weights(b.toInt))
        }
        epoch += 1
      }
    } finally feat.unpersist()
    HashedLogReg(bias, weights, buckets, family)
  }

  /** The per-epoch feature frame: (id, y, bucket, x) with x = cnt_b / n —
    * one row per DISTINCT (doc, bucket) — PLUS one synthetic bias row
    * per doc (bucket = -1, x = 1), hash-partitioned on `__id` before the
    * fit caches it.
    *
    * Both choices exist for the epoch loop's plan shape (r19
    * optimization round; see OPTIMIZATION_r19.md):
    *
    *   - id-partitioning makes EVERY per-epoch operator exchange-free:
    *     the per-doc margin aggregate groups by a superset of the cache
    *     partitioning, and the gradient join joins two id-partitioned
    *     sides, so the only per-epoch shuffle left is the ≤ buckets+1-row
    *     gradient fold. The old shape re-shuffled the corpus-sized
    *     feature frame TWICE per epoch.
    *   - the bias rows make the bias gradient fall out of the SAME
    *     per-bucket aggregate (x = 1 ⇒ Σ r·x = Σ r at bucket −1), which
    *     removes the `union(resid…)` branch that referenced the residual
    *     frame twice — Catalyst duplicates a twice-referenced subtree,
    *     so the old plan computed every margin TWICE per epoch (the
    *     [[auc]] round-15 diamond, re-found here).
    */
  private[graft] def buildFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      buckets: Int,
      family: HashFamily
  ): DataFrame = {
    val toks = df.select(
      col(idCol).as("__id"),
      col(labelCol).cast("double").as("__y"),
      split(col(textCol), " ").as("__toks")
    )
    val real = toks
      .select(
        col("__id"),
        col("__y"),
        size(col("__toks")).cast("double").as("__n"),
        explode(col("__toks")).as("__tok")
      )
      .withColumn("bucket", tokenBucket(col("__tok"), buckets, family))
      .groupBy(col("__id"), col("__y"), col("__n"), col("bucket"))
      .agg(count(lit(1)).cast("double").as("__cnt"))
      .withColumn("__x", col("__cnt") / col("__n"))
      .select(col("__id"), col("__y"), col("bucket"), col("__x"))
    val biasRows = toks.select(
      col("__id"),
      col("__y"),
      lit(-1L).as("bucket"),
      lit(1.0).as("__x")
    )
    // union FIRST (UnionExec reports UnknownPartitioning even for
    // co-partitioned children), THEN establish the id-partitioning the
    // epoch loop relies on
    real.unionByName(biasRows).repartition(col("__id"))
  }

  /** One full-batch gradient step as a DataFrame: ≤ buckets rows of
    * (bucket, __g) plus the bias row (bucket = -1). DECIMAL(28,18) sums
    * make the fold order-independent.
    *
    * Exchange-free by construction over the id-partitioned `feat` cache
    * (see [[buildFeatures]]): the weight vector rides in as a LITERAL
    * array (codegen'd `element_at` lookup — no per-epoch broadcast
    * build), the margin aggregate and the gradient join both reuse the
    * cache partitioning (SHUFFLE_HASH hint: a sort-merge join would
    * re-sort the cached frame every epoch), and the only shuffle is the
    * final ≤ buckets+1-row gradient fold. The bucket = -1 bias rows are
    * excluded from the margin (`when(bucket >= 0, …)` — sum skips
    * nulls) and carry the bias gradient through the same per-bucket
    * aggregate.
    */
  private[graft] def epochGrad(
      feat: DataFrame,
      bias: Double,
      weights: Array[Double]
  ): DataFrame = {
    val wLit = typedLit(weights.toIndexedSeq)
    val resid = feat
      .groupBy(col("__id"), col("__y"))
      .agg(
        sum(
          when(
            col("bucket") >= 0,
            element_at(wLit, (col("bucket") + lit(1L)).cast("int")) * col("__x"))
        ).as("__dot"))
      .select(
        col("__id"),
        (lit(1.0) / (lit(1.0) + exp(-(lit(bias) + coalesce(col("__dot"), lit(0.0))))) -
          col("__y")).as("__r")
      )
    feat
      .join(resid.hint("SHUFFLE_HASH"), "__id")
      .select(col("bucket"), (col("__r") * col("__x")).as("__g"))
      .groupBy(col("bucket"))
      .agg(
        sum(col("__g").cast(org.apache.spark.sql.types.DecimalType(28, 18)))
          .cast("double")
          .as("__g")
      )
  }

  /** Score a text column under a fitted (or closed-form) model:
    * σ(bias + Σ_tokens w(bucket(tok)) / n_tokens). Zero-shuffle and
    * scan-linear: the weight vector rides into the plan inside the
    * [[graft.functions.HashedGramFold]] kernel (n = 1 — per-token
    * lookup), one fused split+hash+lookup loop per row, so the filter
    * runs inside the scan projection at any corpus size.
    */
  def score(textCol: Column, model: HashedLogReg): Column = {
    val dot = Selection.hashedGramFold(textCol, 1, model.buckets, model.weights, model.family) /
      size(split(textCol, " ")).cast("double")
    lit(1.0) / (lit(1.0) + exp(-(lit(model.bias) + dot)))
  }

  /** Exact ROC AUC of a scored frame — the Mann-Whitney pair count
    * with tie-averaging, in exact integer arithmetic (decimal(38,0)
    * for the pair products, whose 2·P·N bound exceeds Long range past
    * ~2.1e9 rows per class) until the final division, so the value is
    * bit-deterministic at any partitioning
    * (2·AUC·P·N = Σ_v pos(v)·(2·negBelow(v) + neg(v)) over distinct
    * score values v). Returns one row (auc, n_pos, n_neg); auc is null
    * when either class is empty.
    *
    * Scale shape — ONE scoring scan, no global rank, no partition-less
    * window. The pair count decomposes by coarse score bucket c:
    *
    *   num2 = Σ_c [Σ_{v∈c} pos(v)·(2·negBelowWithin(v) + neg(v))]   (A)
    *        + 2·Σ_c posTot(c)·negTotBelow(c)                        (B)
    *
    * so the plan is a straight chain that references the scored frame
    * exactly once (an earlier cut joined a coarse-prefix frame back
    * onto the distinct-score frame — Catalyst duplicates a twice-
    * referenced subtree, so the expensive scoring scan ran TWICE;
    * BASELINE.md round 15):
    *   1. collapse the corpus to distinct score values (ONE map-side-
    *      combinable hash agg; 6-dp scores in [0,1] bound this at ~1M
    *      rows whatever the corpus size);
    *   2. within-bucket prefix via a window PARTITIONED BY the coarse
    *      bucket (≤ distinctScores/coarseBuckets rows per partition —
    *      tiny sorts, never a corpus sort), folded immediately into
    *      per-bucket partials (A) and totals;
    *   3. the ≤`coarseBuckets` partial rows collapse to one
    *      collect_list row whose sorted array fold adds the cross-
    *      bucket term (B) — driver-free, KB-scale.
    *
    * Scores are expected in [0, 1] (a sigmoid output); values outside
    * clamp into the end buckets, which only coarsens the bucket split —
    * correctness needs just monotone bucketing, which clamping keeps.
    */
  def auc(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      coarseBuckets: Int = 4096
  ): DataFrame = {
    require(coarseBuckets >= 1, s"coarseBuckets must be >= 1, got $coarseBuckets")
    // num2 is bounded by 2·P·N — past ~2.1e9 rows PER CLASS that
    // exceeds Long range, so every pair-count product is carried as
    // decimal(38,0) (exact integers to 1e38) until the final division;
    // the count sums (__pos/__neg/negBelow ≤ total rows) stay long
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val per = scored
      .groupBy(col(scoreCol).as("__s"))
      .agg(
        sum(col(labelCol).cast("long")).as("__pos"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("__neg")
      )
      .select(col("__s"), col("__pos"), col("__neg"),
        least(
          greatest(floor(col("__s") * lit(coarseBuckets)), lit(0.0)),
          lit((coarseBuckets - 1).toDouble)
        ).cast("long").as("__c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__c")).orderBy(col("__s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val perBucket = per
      .withColumn("__within", coalesce(sum(col("__neg")).over(w), lit(0L)))
      .groupBy(col("__c"))
      .agg(
        sum(col("__pos").cast(d38) * (lit(2L) * col("__within") + col("__neg")).cast(d38))
          .cast(d38).as("__partial"),
        sum(col("__pos")).as("__p"),
        sum(col("__neg")).as("__n")
      )
    val zero = struct(lit(java.math.BigDecimal.ZERO).cast(d38).as("num2"), lit(0L).as("negBelow"))
    perBucket
      .agg(collect_list(struct(col("__c"), col("__partial"), col("__p"), col("__n"))).as("__b"))
      .select(array_sort(col("__b")).as("__b"))
      .select(
        aggregate(
          col("__b"),
          zero,
          (st, e) => struct(
            (st.getField("num2") + e.getField("__partial") +
              (lit(2L) * e.getField("__p")).cast(d38) * st.getField("negBelow").cast(d38))
              .cast(d38).as("num2"),
            (st.getField("negBelow") + e.getField("__n")).as("negBelow"))
        ).getField("num2").as("__num2"),
        aggregate(col("__b"), lit(0L), (acc, e) => acc + e.getField("__p")).as("n_pos"),
        aggregate(col("__b"), lit(0L), (acc, e) => acc + e.getField("__n")).as("n_neg")
      )
      .select(
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__num2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"),
        col("n_pos"),
        col("n_neg")
      )
  }

  /** Reliability diagram: `bins` equal-width score buckets, each with
    * its document count, decimal-summed mean score (confidence) and
    * positive fraction (accuracy) — the calibration evidence next to
    * [[auc]]'s ranking evidence. One hash agg; bucket count bounds the
    * output whatever the corpus size.
    */
  def calibrationBins(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      bins: Int = 20
  ): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val dec = org.apache.spark.sql.types.DecimalType(28, 18)
    scored
      .groupBy(
        least(
          greatest(floor(col(scoreCol) * lit(bins)), lit(0.0)),
          lit((bins - 1).toDouble)
        ).cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col(scoreCol).cast(dec)).cast("double") / count(lit(1)), 6)
          .as("mean_score"),
        round((sum(col(labelCol).cast("long")).cast("double") / count(lit(1))), 6)
          .as("frac_pos")
      )
      .orderBy(col("bin"))
  }
}
