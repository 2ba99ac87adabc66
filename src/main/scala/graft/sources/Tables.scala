package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch source registry over a testdata scale-factor directory
  * (`/root/testdata/sf*` — parquet per table, see TESTDATA.md).
  *
  * This plays the role of the reference's topic-backed sources
  * (`CREATE STREAM/TABLE ... WITH (kafka_topic=...)`,
  * `/root/reference/src/Query/Pipeline/DDLQueryGenerator.cs:78,120`):
  * a named, schema-carrying handle the planner reads from. Reads are
  * plain parquet relations so Catalyst keeps pushdown/pruning.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings"
  )

  /** Table `name` of the scale-factor dir `dir`, read through
    * [[Lake.read]]: its schema comes from the parquet footer on the
    * driver, so building the DataFrame runs no Spark job (LakeReadSpec
    * counts them). `events` sets `nanosAsLong` before its read, so the
    * footer converts under that flag.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations (Spark's vectorized reader rejects it — read the raw
      // INT64 nanos and truncate to micros, the same ns→µs truncation DuckDB
      // applies) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) in others.
      // Adapt on the observed read schema so either generation loads to a
      // session-TZ (UTC) TimestampType column with identical micros values.
      import org.apache.spark.sql.functions.{col, expr}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = Lake.read(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
        case _                => raw
      }
    } else Lake.read(spark, s"$dir/$name.parquet")

  /** Register every table as a temp view so both the DataFrame DSL and
    * `spark.sql` address the same names the DuckDB oracle uses.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      load(spark, dir, n).createOrReplaceTempView(n)
    }
}
