package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** approx_count_distinct (HLL++) as the 100 TB path for
  * COUNT_DISTINCT: sketches are engine-specific so there is no DuckDB
  * oracle — the spec bounds relative error against the exact count
  * instead (rsd 5% default; we assert a loose 3×rsd envelope).
  */
class ApproxSpec extends SparkSpec {

  test("approx_count_distinct within error bounds of exact, mergeable across partitions") {
    val li = Tables.load(spark, testData("0.01"), "lineitem").repartition(16)
    val row = li
      .agg(
        countDistinct(col("l_partkey")).as("exact"),
        approx_count_distinct(col("l_partkey")).as("approx"),
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("approx_fine")
      )
      .head
    val exact = row.getLong(0).toDouble
    assert(math.abs(row.getLong(1) - exact) / exact < 0.15)
    assert(math.abs(row.getLong(2) - exact) / exact < 0.03)
  }
}
