package graft

/** Physical-plan guards — the golden-test analog for an engine whose
  * output is a Catalyst plan rather than SQL text. Asserts the plan
  * properties the 100 TB design depends on (SCALE.md): pushdown reaches
  * the scans, dimension joins broadcast, and NO query plans a cartesian
  * product (every candidate-pair operator must stay an equi-join).
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = testData("0.001")

  private def physical(name: String): String =
    SparkEntry.benchQueries(name)(spark, dir).queryExecution.executedPlan.toString

  // pre-AQE physical tree: collect-traversable (executedPlan wraps the
  // whole query in an AdaptiveSparkPlanExec leaf, hiding the nodes)
  private def sparkPlan(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.benchQueries(name)(spark, dir).queryExecution.sparkPlan

  test("filters and projections are pushed to the parquet scan") {
    val plan = physical("q_filter_project")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!plan.contains("l_partkey"), "projection pruning should drop unused columns")
  }

  test("dimension join broadcasts") {
    assert(physical("q_join_inner").contains("BroadcastHashJoin"))
  }

  test("aggregations use two-phase hash aggregation (map-side partials)") {
    val plan = physical("q_groupby_agg")
    assert("HashAggregate".r.findAllIn(plan).size >= 2)
  }

  test("no query plans a cartesian product or a sort-aggregate fallback") {
    // The ANN brute-force queries intentionally use a broadcast
    // nested-loop against the tiny query set; CartesianProduct (both
    // sides unbroadcast) is never acceptable. SortAggregate means some
    // aggregate buffer type kicked the whole Aggregate off the hash
    // path (see RewriteArgExtremum) — also never acceptable here.
    SparkEntry.benchQueries.keys.toSeq.sorted.foreach { name =>
      val plan = physical(name)
      assert(
        !plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct"
      )
      assert(
        !plan.contains("SortAggregate"),
        s"$name fell back to SortAggregate"
      )
    }
  }

  test("no gated or benched plan contains a partition-less window") {
    // A Window with no PARTITION BY collapses the whole input onto ONE
    // task's sort — the single worst scale shape an operator can hide.
    // Empty allowlist: every gated AND benched plan must be windowless
    // or partitioned. (q_perplexity_buckets was the last exemption —
    // its oracle is now pinned on the broadcast-cutoff form, so even
    // the gated row is windowless.)
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val allowed = Set.empty[String]
    SparkEntry.benchQueries.keys.toSeq.sorted.filterNot(allowed).foreach { name =>
      val bad = sparkPlan(name).collect {
        case w: WindowExec if w.partitionSpec.isEmpty           => w.nodeName
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
      }
      assert(bad.isEmpty, s"$name plans a partition-less ${bad.mkString(",")}")
    }
  }

  test("typed imperative aggregates run two-phase with bounded map-side partials") {
    Seq(
      "q_histogram_native" -> "partial_ksql_histogram",
      "q_topk" -> "partial_bounded_topk"
    ).foreach { case (q, marker) =>
      val plan = physical(q)
      assert(plan.contains(marker), s"$q lost map-side partial aggregation")
      assert(
        "ObjectHashAggregate".r.findAllIn(plan).size >= 2,
        s"$q should aggregate in two phases"
      )
    }
  }

  test("hot relational paths stay inside whole-stage codegen") {
    // AQE wraps stages only at execution, hiding codegen from a static
    // plan dump — disable it for this assertion so the "*(n)" codegen
    // markers are visible in the physical plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try
      Seq("q_filter_project", "q_groupby_agg", "q_string_funcs", "q_token_count")
        .foreach { name =>
          assert(physical(name).contains("*("), s"$name lost whole-stage codegen")
        }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("IVF corpus assignment is a fold, not a corpus-wide window sort") {
    // allowed windows: query-side nprobe ranking + final per-query top-k.
    // A third would mean the corpus × nlist assignment sort came back.
    val plan = physical("q_ann_ivf")
    assert("Window ".r.findAllIn(plan).size <= 2, "corpus assignment must not plan a window")
  }

  test("decontamination joins broadcast — the corpus never shuffles for membership") {
    val plan = physical("q_decontaminate")
    assert(!plan.contains("SortMergeJoin"), "bench membership must broadcast, not sort-merge")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1)
  }

  test("newest-N-per-key plans a partial WindowGroupLimit before the shuffle") {
    assert(physical("q_latest_n").contains("WindowGroupLimit"))
  }

  test("repetition signals stay scan-local (no shuffle except the final sort)") {
    val plan = physical("q_repetition")
    assert("Exchange".r.findAllIn(plan).size <= 1, "array-fold signals must not shuffle")
  }

  test("candidate-pair operators stay equi-joins (no nested-loop)") {
    Seq("q_dedup_minhash", "q_ngram_jaccard", "q_embedding_neardup", "q_ann_lsh",
      "q_dedup_simhash_near", "q_dedup_incremental")
      .foreach { name =>
        val plan = physical(name)
        assert(
          !plan.contains("BroadcastNestedLoopJoin"),
          s"$name fell back to a nested-loop join"
        )
      }
  }

  test("native scan-family operators stay shuffle-free (sort excepted)") {
    // each of these computes per-document signals via a native one-pass
    // expression: a reappearing Exchange beyond the final orderBy means
    // someone reintroduced an explode+aggregate shape
    Seq("q_dedup_simhash", "q_gopher_rules", "q_lang_id", "q_quality_score")
      .foreach { name =>
        val plan = physical(name)
        assert("Exchange".r.findAllIn(plan).size <= 1,
          s"$name must stay scan-local (one sort exchange at most)")
      }
  }

  test("as-of join plans a single keyed shuffle and no join operator") {
    val plan = physical("q_asof_join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin"),
      "as-of must be the union+window shape, not a join")
  }
}
