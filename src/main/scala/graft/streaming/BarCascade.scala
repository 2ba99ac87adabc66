package graft.streaming

import graft.core.Period
import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.duration._

/** The multi-timeframe OHLC bar cascade — the reference's flagship
  * feature, re-expressed as chained Structured Streaming jobs.
  *
  * Reference pipeline (`DerivedTumblingPipeline`,
  * `/root/reference/src/Query/Analysis/DerivedTumblingPipeline.cs:56-87`
  * + golden `tests/Query/Golden/bars_5m_live.sql`): one `Tumbling` DSL
  * call plans a 1-second "hub" rows stream (RowMonitor,
  * `src/Runtime/RowMonitor.cs:39-50`) and then one windowed table per
  * timeframe, each re-aggregating the hub, executed in dependency order
  * (1s first, then ascending timeframes), chained through Kafka topics.
  *
  * Spark mapping: each stage is a watermarked windowed aggregation in
  * append mode (EMIT FINAL — windows seal at the watermark) writing a
  * parquet directory sink; the next stage `readStream`s that directory.
  * The file sink replaces the reference's intermediate topics — it is
  * exactly the same materialize-between-stateful-stages pattern, and it
  * is mandatory in Spark because streaming aggregations cannot chain
  * directly (SURVEY §7.4).
  *
  * OHLC re-aggregation is order-correct: open/close use min_by/max_by on
  * the source bucket start, never first/last (nondeterministic).
  */
object BarCascade {

  /** OHLC aggregate columns over raw ticks ordered by `orderCol`. */
  def tickAggs(valueCol: String, orderCol: String) = Seq(
    min_by(col(valueCol), col(orderCol)).as("open"),
    max(col(valueCol)).as("high"),
    min(col(valueCol)).as("low"),
    max_by(col(valueCol), col(orderCol)).as("close"),
    count(lit(1)).as("cnt")
  )

  /** AVG is not re-aggregable across cascade stages (avg of avgs is
    * wrong under uneven bucket counts) — the reference decomposes hub
    * AVG into SUM+COUNT and reconstructs at read
    * (`HubSelectPolicy.cs:38-58`). Same here: [[avgDecomposed]] are the
    * hub-stage aggregates, [[avgReconstructed]] the downstream re-agg +
    * final ratio.
    */
  def avgDecomposed(valueCol: String): Seq[org.apache.spark.sql.Column] = Seq(
    sum(col(valueCol)).as(s"${valueCol}_sum"),
    count(col(valueCol)).as(s"${valueCol}_cnt")
  )

  def avgReconstructed(valueCol: String): Seq[org.apache.spark.sql.Column] = Seq(
    sum(col(s"${valueCol}_sum")).as(s"${valueCol}_sum"),
    sum(col(s"${valueCol}_cnt")).as(s"${valueCol}_cnt")
  )

  def avgFinal(valueCol: String): org.apache.spark.sql.Column =
    (col(s"${valueCol}_sum") / col(s"${valueCol}_cnt")).as(s"${valueCol}_avg")

  /** OHLC re-aggregation from finer bars keyed by their bucket start. */
  def reAggs(bucketCol: String) = Seq(
    min_by(col("open"), col(bucketCol)).as("open"),
    max(col("high")).as("high"),
    min(col("low")).as("low"),
    max_by(col("close"), col(bucketCol)).as("close"),
    sum(col("cnt")).as("cnt")
  )

  /** 1s hub aggregation (RowMonitor): raw ticks → per-key 1-second bars. */
  def hubBars(
      ticks: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      orderCol: String,
      grace: FiniteDuration = 3.seconds
  ): DataFrame = {
    val aggs = tickAggs(valueCol, orderCol)
    ticks
      .withWatermark(tsCol, s"${grace.toSeconds} seconds")
      // group by the window STRUCT (not a field of it) so Spark keeps
      // the event-time column for watermark-based window sealing
      .groupBy(window(col(tsCol), "1 second").as("window") +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_start", col("window.start"))
      .drop("window")
  }

  /** One timeframe's live table: re-aggregate hub (or finer) bars. */
  def timeframeBars(
      finerBars: DataFrame,
      keys: Seq[String],
      period: Period,
      grace: FiniteDuration = 3.seconds
  ): DataFrame = {
    require(
      period.fixedSeconds.isDefined,
      // month windows have no fixed length, so append-mode sealing has no
      // window column to watermark on; months are served by the batch
      // planner path (q_window_monthly/quarterly), not the live cascade
      s"calendar period ${period.label} is batch-only (no fixed window length to seal on)"
    )
    val aggs = reAggs("bucket_start")
    finerBars
      .withWatermark("bucket_start", s"${grace.toSeconds} seconds")
      .groupBy(
        // windowFor, not a bare window(): week periods carry an anchor
        // offset (a bare 7-day window is Thursday-anchored at the epoch)
        graft.plans.Planner.windowFor(col("bucket_start"), period).as("window") +:
          keys.map(col): _*
      )
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("bucket_start", col("window.start"))
      .drop("window")
  }

  final case class CascadePlan(
      hubPath: String,
      livePaths: Map[String, String],
      fillPaths: Map[String, String],
      queries: Seq[StreamingQuery]
  )

  /** Plan and start the full cascade: ticks → `{base}_1s_rows` →
    * `{base}_{tf}_live` per timeframe, ascending (the reference's
    * deterministic dependency order). Parquet sinks + per-stage
    * checkpoints; callers read live tables with [[graft.sources.Lake.read]]
    * (the TimeBucket pull path).
    *
    * Pass a [[Supervisor]] to make the cascade SELF-HEALING: every
    * stage query launches through `supervise`, so a failed stage is
    * restarted from its own checkpoint with bounded retries while the
    * rest of the cascade keeps running — the file sink's metadata log +
    * the per-stage checkpoints make the restart exactly-once
    * (CascadeChaosSpec proves kill-and-restart reproduces an
    * uninterrupted run's sinks byte-for-byte). Re-invoking `start` with
    * the same `root` after a crash resumes every stage the same way.
    */
  def start(
      spark: SparkSession,
      ticks: DataFrame,
      base: String,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      orderCol: String,
      timeframes: Seq[Period],
      root: String,
      grace: FiniteDuration = 3.seconds,
      supervisor: Option[Supervisor] = None
  ): CascadePlan = {
    def launch(name: String)(thunk: () => StreamingQuery): StreamingQuery =
      supervisor.fold(thunk())(_.supervise(name)(thunk))
    val hubPath = s"$root/${base}_1s_rows"
    new java.io.File(hubPath).mkdirs() // downstream readStream needs the dir
    val hub = hubBars(ticks, keys, tsCol, valueCol, orderCol, grace)
    val hubQ = launch(s"${base}_1s_rows") { () =>
      hub.writeStream
        .format("parquet")
        .option("path", hubPath)
        .option("checkpointLocation", s"$root/_chk/${base}_1s_rows")
        .outputMode("append")
        .start()
    }

    val ordered = timeframes.sortBy(_.fixedSeconds.getOrElse(Long.MaxValue))
    val hubSchema = hub.schema
    val liveQs = ordered.map { tf =>
      val path = s"$root/${base}_${tf.label}_live"
      new java.io.File(path).mkdirs()
      val q = launch(s"${base}_${tf.label}_live") { () =>
        val finer = spark.readStream.schema(hubSchema).parquet(hubPath)
        timeframeBars(finer, keys, tf, grace).writeStream
          .format("parquet")
          .option("path", path)
          .option("checkpointLocation", s"$root/_chk/${base}_${tf.label}_live")
          .outputMode("append")
          .start()
      }
      tf.label -> (path, q)
    }
    CascadePlan(
      hubPath,
      liveQs.map { case (l, (p, _)) => l -> p }.toMap,
      Map.empty,
      hubQ +: liveQs.map(_._2._2)
    )
  }

  /** Full DSL-driven cascade: derivation plan from the query model's
    * Tumbling spec (hub → live ascending), plus gap-fill continuation
    * stages when the spec asks for them
    * (`Tumbling(..., continuation: true)` → `{base}_{tf}_fill` tables).
    *
    * The fill stage consumes each live sink as a stream, keys bars by
    * the NUL-joined composite key (the reference's string-key
    * convention, `TableCache.cs:12-13`), and runs the stateful
    * [[GapFill]] operator into a `_fill` parquet sink.
    */
  def startFromModel(
      spark: SparkSession,
      ticks: DataFrame,
      base: String,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      orderCol: String,
      model: graft.dsl.QueryModel,
      root: String,
      policy: GapFill.Policy = GapFill.Skip
  ): CascadePlan = {
    import graft.plans.DerivationPlanner
    import org.apache.spark.sql.Encoders
    val derivation = DerivationPlanner.plan(base, model)
    val spec = model.tumbling.get
    val grace = spec.grace
    val basePlan =
      start(spark, ticks, base, keys, tsCol, valueCol, orderCol, spec.timeframes, root, grace)

    // the fill stage is a transformWithState operator, which only the
    // RocksDB state store provider can run (state + timers live in
    // separate column families); the HDFS default would fail the query
    // at start, so upgrade it rather than surfacing Spark's error
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val hdfsDefault = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    if (derivation.exists(_.role == DerivationPlanner.Role.Fill) &&
        spark.conf.get(providerKey, hdfsDefault).endsWith("HDFSBackedStateStoreProvider")) {
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    }

    val fills = derivation.collect {
      case d if d.role == DerivationPlanner.Role.Fill =>
        val tf = d.period.get
        val livePath = basePlan.livePaths(tf.label)
        // static schema: the live sink dir may not exist until its
        // first commit, so it cannot be inferred here
        val valueType = ticks.schema(valueCol).dataType
        val liveSchema = org.apache.spark.sql.types.StructType(
          keys.map(k => ticks.schema(k)) ++ Seq(
            org.apache.spark.sql.types.StructField("open", valueType),
            org.apache.spark.sql.types.StructField("high", valueType),
            org.apache.spark.sql.types.StructField("low", valueType),
            org.apache.spark.sql.types.StructField("close", valueType),
            org.apache.spark.sql.types.StructField("cnt", org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              "bucket_start", org.apache.spark.sql.types.TimestampType)
          )
        )
        val liveStream = spark.readStream.schema(liveSchema).parquet(livePath)
        val barIn = liveStream
          .select(
            concat_ws("\u0000", keys.map(col): _*).as("key"),
            col("bucket_start").as("bucket"),
            col("open"), col("high"), col("low"), col("close")
          )
          .withWatermark("bucket", s"${grace.toSeconds} seconds")
          .as[GapFill.BarIn](Encoders.product[GapFill.BarIn])
        val filled = GapFill(barIn, tf.fixedSeconds.get, policy)
        val path = s"$root/${d.name}"
        val q = filled.writeStream
          .format("parquet")
          .option("path", path)
          .option("checkpointLocation", s"$root/_chk/${d.name}")
          .outputMode("append")
          .start()
        (tf.label, path, q)
    }
    basePlan.copy(
      fillPaths = fills.map(f => f._1 -> f._2).toMap,
      queries = basePlan.queries ++ fills.map(_._3)
    )
  }
}

/** Period-addressed read/write API over materialized bar tables — the
  * reference's `TimeBucket.Get[T](ctx, Period.Minutes(5))`
  * (`/root/reference/src/Runtime/TimeBucket.cs:18-24`; rejects
  * second-level periods `:53-54`).
  */
object TimeBucket {
  def get(
      spark: SparkSession,
      plan: BarCascade.CascadePlan,
      period: Period
  ): DataFrame = {
    period match {
      case Period.Seconds(_) =>
        throw new IllegalArgumentException(
          "TimeBucket does not serve second-level periods (reference TimeBucket.cs:53-54)"
        )
      case _ =>
    }
    val path = plan.livePaths.getOrElse(
      period.label,
      throw new IllegalArgumentException(s"no materialized bars for ${period.label}")
    )
    Lake.read(spark, path)
  }

  /** Import-bars write path — `TimeBucket.Set[T](ctx, period)` →
    * `WriteAsync(row)` (`/root/reference/src/Runtime/TimeBucket.cs:23,
    * 751-766`): rows append into the period's materialized bar table
    * (the reference produces into the entity's import topic; here the
    * bucket table IS the sink, so the write is a parquet append with a
    * schema check against the existing bars).
    */
  def set(
      spark: SparkSession,
      plan: BarCascade.CascadePlan,
      period: Period
  ): TimeBucketWriter = {
    val path = plan.livePaths.getOrElse(
      period.label,
      throw new IllegalArgumentException(s"no materialized bars for ${period.label}")
    )
    new TimeBucketWriter(spark, path)
  }
}

/** Appender returned by [[TimeBucket.set]] (`TimeBucketWriter<T>`,
  * reference `TimeBucket.cs:751-766`).
  */
final class TimeBucketWriter(spark: SparkSession, path: String) {
  def write(rows: DataFrame): Unit = {
    val existing = Lake.read(spark, path).schema
    require(
      rows.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        existing.fields.map(f => (f.name, f.dataType)).toSeq,
      s"import rows must match the bar schema ${existing.simpleString}"
    )
    rows.write.mode("append").parquet(path)
  }
}
