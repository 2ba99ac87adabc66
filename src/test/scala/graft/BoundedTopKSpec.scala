package graft

import graft.functions.{BoundedHeap, KFunctions}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** The bounded-heap TOPK aggregate: equivalence with the composite
  * form on real data, dedup variant, partial-merge correctness across
  * many partitions.
  */
class BoundedTopKSpec extends SparkSpec {
  import spark.implicits._

  test("bounded_topk equals the composite sort/slice form on events data") {
    val ev = graft.sources.Tables.load(spark, testData("0.001"), "events")
    val heap = ev.groupBy($"event_type")
      .agg(expr("TOPK(value, 5)").as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val composite = ev.groupBy($"event_type")
      .agg(KFunctions.topK($"value", 5).as("top"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(heap == composite)
  }

  test("bounded_topk_distinct deduplicates") {
    val df = Seq(5.0, 5.0, 4.0, 4.0, 3.0, 1.0).toDF("v").repartition(4)
    val top = df.agg(expr("TOPKDISTINCT(v, 3)")).head.getSeq[Double](0)
    assert(top == Seq(5.0, 4.0, 3.0))
  }

  test("merge across partitions keeps the global top-k with bounded buffers") {
    val df = spark.range(0, 100000).select(($"id" % 99991).cast("double").as("v"))
      .repartition(32)
    val top = df.agg(expr("TOPK(v, 3)")).head.getSeq[Double](0)
    assert(top == Seq(99990.0, 99989.0, 99988.0))
  }

  test("typed inputs: strings and longs keep their type (ksqlDB TOPK semantics)") {
    // strings exercise UTF8String ownership across partial buffers;
    // repartition forces serialize/merge
    val s = Seq("pear", "apple", "quince", "fig", "pear").toDF("v").repartition(3)
      .agg(expr("TOPKDISTINCT(v, 3)")).head.getSeq[String](0)
    assert(s == Seq("quince", "pear", "fig"))
    val l = spark.range(0, 1000).toDF("v").repartition(4)
      .agg(expr("TOPK(v, 2)")).head.getSeq[Long](0)
    assert(l == Seq(999L, 998L))
    // decimals (incl. negatives) cross the partial serialize too
    val d = Seq("3.14", "-2.72", "9.99", "0.01").map(new java.math.BigDecimal(_))
      .toDF("v").repartition(3)
      .agg(expr("TOPK(v, 3)")).head.getSeq[java.math.BigDecimal](0)
    // the product encoder widens to DECIMAL(38,18) — compare canonically
    assert(d.map(_.stripTrailingZeros.toPlainString) == Seq("9.99", "3.14", "0.01"))
    // every other TOPK input type crosses a partial serialize too: each
    // frame spans 3 partitions, so each partial buffer is shipped and merged
    def top3(df: org.apache.spark.sql.DataFrame) =
      df.repartition(3).agg(expr("TOPK(v, 3)")).head.getSeq[Any](0)
    assert(top3(Seq(4, -7, 12, 0, 9, -1).toDF("v")) == Seq(12, 9, 4))
    assert(top3(Seq("2024-03-01", "2023-12-31", "2024-02-29", "1999-01-01").toDF("s")
      .select(to_date($"s").as("v"))).map(_.toString) ==
      Seq("2024-03-01", "2024-02-29", "2023-12-31"))
    assert(top3(Seq("2024-03-01 10:00:00", "2024-03-01 09:59:59.999999",
        "2023-01-01 00:00:00", "2024-03-02 00:00:00").toDF("s")
      .select(to_timestamp($"s").as("v"))).map(_.toString) ==
      Seq("2024-03-02 00:00:00.0", "2024-03-01 10:00:00.0", "2024-03-01 09:59:59.999999"))
    assert(top3(Seq(1.5, -2.25, 3.75, 0.5, -8.0).toDF("d").select($"d".cast("float").as("v"))) ==
      Seq(3.75f, 1.5f, 0.5f))
    val negDec = top3(Seq("-12345678901234567890123456789", "-3", "-40", "-1000000000000000000000000000000")
      .toDF("s").select($"s".cast("decimal(38,0)").as("v")))
    assert(negDec.map(_.asInstanceOf[java.math.BigDecimal].toPlainString) ==
      Seq("-3", "-40", "-12345678901234567890123456789"))
    // unorderable input types are rejected at analysis
    intercept[Exception] {
      Seq(Array(1.0)).toDF("v").agg(expr("TOPK(v, 2)")).collect()
    }
  }

  test("k must be positive; nulls are ignored") {
    intercept[Exception] {
      Seq(1.0).toDF("v").agg(expr("TOPK(v, 0)")).collect()
    }
    val withNulls = Seq(Some(2.0), None, Some(1.0)).toDF("v")
    val top = withNulls.agg(expr("TOPK(v, 5)")).head.getSeq[Double](0)
    assert(top == Seq(2.0, 1.0))
  }

  test("each bounded-heap shape keeps its name, result type, nullability and empty-group result") {
    val empty = Seq((1, 10L)).toDF("v", "o").filter(lit(false))
    def shape(c: Column): (String, DataType, Boolean, Any) = {
      val df = empty.agg(c)
      val agg = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case a: TypedImperativeAggregate[_] => a
      }).head
      (agg.prettyName, agg.dataType, agg.nullable, df.head.get(0))
    }
    assert(shape(BoundedHeap.minBy($"v", $"o")) == (("min_by_object", IntegerType, true, null)))
    assert(shape(BoundedHeap.maxBy($"v", $"o")) == (("max_by_object", IntegerType, true, null)))
    assert(shape(BoundedHeap.topKBy($"v", $"o", 2)) ==
      (("top_k_by", ArrayType(IntegerType, containsNull = true), false, Seq.empty)))
    assert(shape(expr("TOPK(v, 2)")) ==
      (("bounded_topk", ArrayType(IntegerType, containsNull = false), false, Seq.empty)))
    assert(shape(expr("TOPKDISTINCT(v, 2)")) ==
      (("bounded_topk_distinct", ArrayType(IntegerType, containsNull = false), false, Seq.empty)))
  }
}
