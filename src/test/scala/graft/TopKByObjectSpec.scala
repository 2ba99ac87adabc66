package graft

import graft.functions.BoundedHeap
import org.apache.spark.sql.functions._

/** Bounded top-k-by: heap semantics (k smallest keys, ascending order,
  * deterministic full-key ties), partial-merge identity with the
  * equivalent rank window, and the two-phase hash plan.
  */
class TopKByObjectSpec extends SparkSpec {
  import spark.implicits._

  test("keeps the k smallest keys in ascending key order; ranks match the window form") {
    val df = Seq(
      (1L, 10L, 0.90), (1L, 11L, 0.95), (1L, 12L, 0.95), (1L, 13L, 0.10),
      (2L, 20L, 0.50), (2L, 21L, 0.60),
      (3L, 30L, 0.70)
    ).toDF("g", "id", "cos")
    val viaAgg = df
      .groupBy($"g")
      .agg(BoundedHeap.topKBy(
        struct($"id", $"cos"),
        struct(negate($"cos"), $"id"), 2).as("t"))
      .select($"g", posexplode($"t").as(Seq("i", "n")))
      .select($"g", $"n.id".as("id"), ($"i" + 1).cast("int").as("rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"g").orderBy($"cos".desc, $"id")
    val viaWindow = df
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 2)
      .select($"g", $"id", $"rank")
    assert(viaAgg.exceptAll(viaWindow).isEmpty && viaWindow.exceptAll(viaAgg).isEmpty,
      viaAgg.orderBy($"g", $"rank").collect().mkString(","))
    // the 0.95 tie between ids 11 and 12 resolves by id — deterministic
    val g1 = viaAgg.filter($"g" === 1).orderBy($"rank").select($"id").as[Long].collect()
    assert(g1.toSeq == Seq(11L, 12L))
  }

  test("merge across many partitions equals a single-partition run") {
    val rows = (0 until 2000).map(i => ((i % 7).toLong, i.toLong, (i * 37 % 101) / 101.0))
    def run(parts: Int) = rows.toDF("g", "id", "score").repartition(parts)
      .groupBy($"g")
      .agg(BoundedHeap.topKBy(struct($"id"), struct(negate($"score"), $"id"), 5).as("t"))
      .select($"g", $"t")
      .collect().map(r => r.getLong(0) -> r.getSeq[Any](1).toList).toMap
    assert(run(32) == run(1))
  }

  test("all-fixed-width (value, ord) survives the partial serialize round trip") {
    // regression: serialize projected each heap element through a REUSED
    // UnsafeProjection row, and for an all-fixed-width schema getBytes
    // returns the projection's shared backing array — every shipped
    // element aliased the last one, so a scalar-scalar topKBy collapsed
    // to n copies of one value ([1,1,1,1] instead of [1,2,3,4]). Struct
    // keys/values take the variable-width buffer path and were copied
    // incidentally, which is why every earlier caller was safe. The
    // inner aggregate forces a partial/final split with real serialized
    // partials on the exchange.
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "x y")).toDF("id", "t")
    val sig = df.select($"id", explode(split($"t", " ")).as("w"))
      .groupBy($"id").agg(min(length($"w")).as("h1"))
    val got = sig.select($"id", $"h1")
      .groupBy($"h1")
      .agg(BoundedHeap.topKBy($"id", $"id", 10).as("m"))
      .select(explode($"m").as("id")).as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L, 4L), s"scalar-scalar round trip lost members: $got")
    // the k = 1 shapes over an (INT value, BIGINT key) pair
    val (lo, hi) = sig.select(($"id" * 10).cast("int").as("v"), $"id", $"h1")
      .groupBy($"h1")
      .agg(BoundedHeap.minBy($"v", $"id").as("lo"), BoundedHeap.maxBy($"v", $"id").as("hi"))
      .select($"lo", $"hi").as[(Int, Int)].head
    assert((lo, hi) == ((10, 40)), s"min/max_by_object round trip: ($lo, $hi)")
  }

  test("plans as a two-phase hash aggregate — no sort, no window") {
    val df = spark.range(1000).select(($"id" % 13).as("g"), $"id", rand(7).as("s"))
    val plan = df.groupBy($"g")
      .agg(BoundedHeap.topKBy(struct($"id"), struct($"s", $"id"), 3).as("t"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("SortAggregate") && !plan.contains("WindowExec"), plan)
    assert(plan.contains("partial_top_k_by"), plan)
  }
}
