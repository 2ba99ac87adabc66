package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Mergeable-sketch corpus statistics: the "precompute per shard, merge at
  * read" primitive that makes fleet-wide distinct counts, cross-corpus
  * overlap estimates and heavy-hitter probes O(sketch) instead of
  * O(corpus) at 100 TB.
  *
  * The reference exposes only exact streaming aggregates (Count /
  * CountDistinct — ref: src/Query/Builders/ProjectionBuilder.cs aggregate
  * map); at 100 TB an exact global COUNT(DISTINCT token) is a full-corpus
  * shuffle EVERY time someone asks. Sketches invert the cost model:
  *
  *   - each ingest batch / table shard aggregates once into a few-KB
  *     binary sketch (map-side combinable, one pass, scan speed);
  *   - the persisted sketch table is re-aggregatable: any rollup
  *     (per-source, per-day, global) is a union over KB-sized binaries —
  *     no rescan of the corpus, ever;
  *   - set algebra (theta intersection/difference) answers "how much of
  *     the eval set leaked into train?" WITHOUT the decontamination join,
  *     at any scale, in milliseconds.
  *
  * Everything here rides Spark's native DataSketches-backed aggregates
  * (`hll_sketch_agg`, `theta_sketch_agg`, codegen'd, no UDFs); estimates
  * are deterministic for a fixed lgK, so results are stable across runs
  * (pinned in SketchesSpec). No DuckDB mirror exists for the DataSketches
  * wire format, so the gated rows live in benchDefs with spec-pinned
  * accuracy instead of a SQL oracle (same convention as the xxhash64
  * twins — see QueryPack).
  */
object Sketches {

  /** Default lgK (2^12 registers ≈ 4 KB, ~1.6% HLL relative error). */
  val DefaultLgK = 12

  /** Per-shard HLL sketches over `valueCol`, one row per `shardCols`
    * group. This is the WRITE side of the pattern: run once per ingest
    * batch and persist next to the data. Scale shape: one hash
    * aggregate; partial sketches merge map-side, so the exchange carries
    * |shards| × ~4 KB regardless of corpus size.
    */
  def hllShardSketches(
      df: DataFrame,
      shardCols: Seq[String],
      valueCol: String,
      lgK: Int = DefaultLgK
  ): DataFrame = {
    require(shardCols.nonEmpty, "need at least one shard column")
    df.groupBy(shardCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("hll_sketch"))
  }

  /** READ side: roll persisted shard sketches up to `groupCols` (empty =
    * global) and estimate the distinct count. Union of register-wise
    * maxes is lossless at a fixed lgK: merging shard sketches yields the
    * SAME estimate as sketching the union directly (asserted in
    * SketchesSpec), so rollups never re-read the corpus.
    */
  def hllMergeEstimate(
      sketches: DataFrame,
      groupCols: Seq[String],
      sketchCol: String = "hll_sketch"
  ): DataFrame = {
    val merged = hll_sketch_estimate(hll_union_agg(col(sketchCol), false))
      .as("distinct_est")
    if (groupCols.isEmpty) sketches.agg(merged)
    else sketches.groupBy(groupCols.map(col): _*).agg(merged)
  }

  /** One-row cross-corpus set-overlap estimate via theta sketches:
    * |A|, |B|, |A∩B|, |A∪B|, Jaccard and containment(A in B's direction
    * of interest: |A∩B|/|A|) — the decontamination SIZING question
    * ("is it worth running the full fuzzy decontaminate?") answered with
    * two one-pass scans and zero joins. Each side collapses to a single
    * few-KB sketch before the (1×1, broadcast) combine.
    */
  def thetaOverlap(
      left: DataFrame,
      right: DataFrame,
      valueCol: String,
      lgK: Int = DefaultLgK
  ): DataFrame = {
    val l = left.agg(theta_sketch_agg(col(valueCol), lgK).as("sk_l"))
    val r = right.agg(theta_sketch_agg(col(valueCol), lgK).as("sk_r"))
    l.crossJoin(broadcast(r))
      .select(
        theta_sketch_estimate(col("sk_l")).as("est_left"),
        theta_sketch_estimate(col("sk_r")).as("est_right"),
        theta_sketch_estimate(theta_intersection(col("sk_l"), col("sk_r")))
          .as("est_intersection"),
        theta_sketch_estimate(theta_union(col("sk_l"), col("sk_r")))
          .as("est_union"),
        round(
          theta_sketch_estimate(theta_intersection(col("sk_l"), col("sk_r")))
            .cast("double") /
            theta_sketch_estimate(theta_union(col("sk_l"), col("sk_r"))),
          6
        ).as("jaccard_est"),
        round(
          theta_sketch_estimate(theta_intersection(col("sk_l"), col("sk_r")))
            .cast("double") /
            theta_sketch_estimate(col("sk_l")),
          6
        ).as("containment_est")
      )
  }

  /** Count-min sketch over `valueCol`, returned as the driver-side probe
    * object. The aggregate is distributed (map-side combinable); only the
    * FINAL sketch — eps/e × ln(1/(1-confidence)) counters, a few KB —
    * crosses to the driver, same bounded-model contract as the ANN
    * codebooks (Similarity.lloydCodebooks). Probe guarantees (spec-pinned):
    * estimate(x) ≥ true(x), and ≤ true(x) + eps·N w.p. `confidence`.
    */
  def cmsSketch(
      df: DataFrame,
      valueCol: String,
      eps: Double = 0.0001,
      confidence: Double = 0.99,
      seed: Int = 42
  ): CountMinSketch = {
    val bytes = df
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(seed))
        .as("cms"))
      .head()
      .getAs[Array[Byte]]("cms")
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Probe a bounded candidate list against a CMS (driver-side; the
    * sketch is KBs, the candidates are a human-sized list). */
  def cmsProbe(sketch: CountMinSketch, items: Seq[Any]): Seq[(Any, Long)] =
    items.map(i => i -> sketch.estimateCount(i))

  /** Trailing-window distinct counts from daily sketches (DAU→WAU→MAU):
    * one corpus pass builds per-day HLL sketches of `idCol`; every
    * trailing `windowDays` estimate is then sketch algebra — each day's
    * sketch is REPLICATED to the `windowDays` windows it serves via a
    * broadcast offsets join (days × window rows, KBs), and a second
    * tiny aggregate unions per target day. The exact equivalent
    * (rolling COUNT DISTINCT) re-scans `windowDays` days of raw events
    * per day — unbounded state at 100 TB; this is O(days) sketch rows
    * forever, and the daily sketch table is the SAME one a DAU report
    * or an [[graft.streaming.IncrementalSketches]] loop maintains.
    *
    * Trailing windows are only emitted for days present in the data
    * (phantom target days past the last observed day are dropped).
    */
  def rollingDistinct(
      df: DataFrame,
      tsCol: String,
      idCol: String,
      windowDays: Int,
      lgK: Int = DefaultLgK
  ): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val spark = df.sparkSession
    val daily = df
      .select(date_trunc("day", col(tsCol)).cast("date").as("day"), col(idCol))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col(idCol), lgK).as("sk"))
    val offsets = spark
      .range(0, windowDays)
      .select(col("id").cast("int").as("__off"))
    daily
      .crossJoin(broadcast(offsets))
      .select(date_add(col("day"), col("__off")).as("day"), col("sk"))
      .join(daily.select(col("day")), Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), false))
        .as("active_est"))
  }

  /** Default KLL accuracy knob: rank error ≈ O(1/k); 200 keeps the
    * sketch ≈ 4 KB serialized (same footprint class as the HLL cells)
    * at ~1–2% rank error — spec-pinned in QuantileSketchSpec.
    */
  val DefaultKllK = 200

  /** Per-shard KLL quantile sketches over `valueCol` (WRITE side — the
    * quantile member of the persisted-sketch family). One hash
    * aggregate; partials merge map-side, the exchange carries ≤ ~3k
    * doubles per shard per partition regardless of corpus size. Persist
    * the output next to the data: later rollups are sketch algebra.
    */
  def kllShardSketches(
      df: DataFrame,
      shardCols: Seq[String],
      valueCol: String,
      k: Int = DefaultKllK
  ): DataFrame = {
    require(shardCols.nonEmpty, "need at least one shard column")
    df.groupBy(shardCols.map(col): _*)
      .agg(
        kllSketchCol(col(valueCol), k).as("kll_sketch"),
        count(col(valueCol)).as("n")
      )
  }

  /** READ side: roll persisted shard sketches up to `groupCols` (empty =
    * global) and emit one DOUBLE column per requested probability, named
    * by `names` (default p50/p90/...). While total n ≤ k the result is
    * EXACTLY discrete quantiles (DuckDB `quantile_disc` semantics);
    * past that it degrades to the sketch's O(1/k) rank error — never a
    * corpus rescan either way.
    */
  def kllMergeQuantiles(
      sketches: DataFrame,
      groupCols: Seq[String],
      probs: Seq[Double],
      sketchCol: String = "kll_sketch"
  ): DataFrame = {
    val merged = kllMergeQuantilesCol(col(sketchCol), probs).as("__qs")
    val base =
      if (groupCols.isEmpty) sketches.agg(merged)
      else sketches.groupBy(groupCols.map(col): _*).agg(merged)
    val qCols = probs.zipWithIndex.map { case (p, i) =>
      element_at(col("__qs"), i + 1).as(nameOfProb(p))
    }
    base.select(groupCols.map(col) ++ qCols: _*)
  }

  private def nameOfProb(p: Double): String = {
    val pct = p * 100
    if (pct == pct.floor) f"p${pct.toInt}%d" else s"p${pct}".replace('.', '_')
  }

  /** `kll_sketch(x, k)` as a Column (BINARY serialized sketch). */
  def kllSketchCol(c: Column, k: Int = DefaultKllK): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.KllSketchAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .catalystExpression(c.cast("double")),
        k
      ).toAggregateExpression()
    )

  /** `kll_quantiles(x, probs, k)` as a Column (ARRAY<DOUBLE>, one entry
    * per probability) — the one-shot grouped form.
    */
  def kllQuantilesCol(
      c: Column,
      probs: Seq[Double],
      k: Int = DefaultKllK
  ): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.KllQuantilesAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge
          .catalystExpression(c.cast("double")),
        probs,
        k
      ).toAggregateExpression()
    )

  /** `kll_merge_quantiles(sketchBytes, probs)` as a Column. */
  def kllMergeQuantilesCol(c: Column, probs: Seq[Double]): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.KllMergeQuantilesAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge.catalystExpression(c),
        probs
      ).toAggregateExpression()
    )

  /** Tokenize helper shared by the sketch queries: whitespace tokens of
    * `textCol`, exploded — the same token definition as
    * TextAnalysis.vocabulary so sketch estimates are comparable to the
    * exact vocabulary counts.
    */
  def explodedTokens(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))

  /** Exploded tokens keeping `keep` passthrough columns. */
  def explodedTokens(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ explode(split(col(textCol), " ")).as("token"): _*)
}
