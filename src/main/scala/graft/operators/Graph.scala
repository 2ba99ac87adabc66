package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Link-graph centrality for corpus curation.
  *
  * Large-scale pretraining pipelines rank pages/hosts by link
  * centrality and use the rank as a document-quality prior (Common
  * Crawl publishes host-level harmonic centrality / PageRank for
  * exactly this; CCNet/RefinedWeb-style curation filters on it). The
  * reference has no graph operators — this extends the LLM-data
  * surface the same way Dedup/Curation do, and reuses the iterative
  * conventions proven by [[Dedup.clusters]] (per-round checkpoint
  * truncation, reliable-vs-local durability choice).
  *
  * Scale shape (SCALE.md): nodes and edges are DataFrames, never
  * driver-resident. Each PageRank iteration is two shuffles — an
  * equi-join of the (constant, checkpointed) weighted edge list with
  * the rank frame on `src`, then a map-side-combinable sum on `dst` —
  * plus a nodes-sized left join; the dangling-mass term is a 1-row
  * aggregate broadcast back, never a collect. Rank frames are
  * node-sized (id, pr) pairs, not the corpus: at 100 TB the edges
  * dominate and they are scanned once per iteration from checkpoint
  * storage, so the whole loop is O(iterations × |E|) with flat plans.
  */
object Graph {

  /** In/out degree per node: two map-side-combinable counts merged onto
    * the node frame with left joins (zero-degree nodes keep 0, they are
    * exactly the rows a plain edges-side groupBy would drop).
    *
    * @param nodes single-column frame `id` (one row per node)
    * @param edges two-column frame `src`, `dst`
    */
  def degrees(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    nodes
      .join(out, Seq("id"), "left")
      .join(in, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg")
      )
  }

  /** PageRank over an explicit edge list, fixed iteration count.
    *
    * Per-node rank after `iterations` rounds of
    * `pr' = (1-d)/n + d * (Σ_in pr/outdeg + danglingMass/n)` from a
    * uniform `1/n` start. Oracle-determinism: the only
    * summation-order-sensitive step — the per-destination contribution
    * sum and the dangling-mass sum — goes through DECIMAL(27,18)
    * (exact, order-independent) and back to DOUBLE, the QueryPack
    * convention; everything else is scalar double math that is
    * bit-identical across engines.
    *
    * Iteration state is checkpointed per round exactly like
    * [[Dedup.clusters]]: `localCheckpoint` by default (fast,
    * executor-pinned — fine on local[n]); pass `checkpointDir` on a
    * real cluster so the weighted edge list and every rank frame
    * survive executor loss. Superseded local blocks are unpersisted
    * eagerly. The single driver-side value is `nodes.count()` (one
    * long — the n in the teleport term), never a row collect.
    *
    * Dangling nodes (no out-edges) redistribute their mass uniformly:
    * a 1-row decimal aggregate per iteration joined back via broadcast
    * nested loop — the standard broadcast-cutoff shape, not a
    * cartesian.
    *
    * With `reset` set, this is personalized PageRank / TrustRank
    * (Gyöngyi, Garcia-Molina & Pedersen, "Combating Web Spam with
    * TrustRank"): teleport and dangling mass flow to the given
    * distribution instead of uniformly, so rank concentrates around a
    * trusted seed set — the standard spam-demotion prior for web-corpus
    * curation. The reset frame is node-sized (`id`, `reset`, summing to
    * 1), cached once, and joined per round like the contribution frame.
    *
    * @param nodes  single-column frame `id`
    * @param edges  two-column frame `src`, `dst` (parallel edges allowed;
    *               dedupe upstream if multiplicity should not weight)
    * @param reset  optional teleport distribution (`id`, `reset`);
    *               missing ids get 0. None = uniform 1/n (classic
    *               PageRank)
    * @return frame (`id`, `pr`) — one row per node, Σpr = 1
    */
  def pageRank(
      nodes: DataFrame,
      edges: DataFrame,
      iterations: Int = 5,
      damping: Double = 0.85,
      reset: Option[DataFrame] = None,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    prRun(nodes, edges, damping, reset, None, checkpointDir, iterations, None)._1
  }

  /** Power iteration to the fixpoint: [[pageRank]] rounds until the L1
    * residual `Σ|pr′ − pr|` drops below `tol` — the probe is one
    * node-sized join + 1-row exact-decimal aggregate per round (the
    * [[Dedup.clusters]] driver-coordination pattern, never a collect).
    * Hitting `maxRounds` unconverged is an ERROR: a partial fixpoint
    * would silently misrank downstream.
    *
    * `init` warm-starts from a previous snapshot (missing ids — new
    * pages — seed at 1/n). Damping < 1 makes each round a contraction,
    * so ANY start reaches the SAME fixpoint (spec-pinned); the warm
    * start is guaranteed to begin closer to it. Rounds-to-tol, however,
    * is spectrum-dependent, NOT guaranteed smaller: the warm error
    * vector is dominated by the slowest surviving eigenmode (the fast
    * components already converged), while a uniform start's error can
    * happen to avoid that mode and decay faster —
    * IncrementalGraphSpec pins a graph where cold beats warm on round
    * count while both land on the same ranks. Use the returned round
    * count to observe, not assume.
    *
    * @return (ranks, rounds taken)
    */
  def pageRankConverged(
      nodes: DataFrame,
      edges: DataFrame,
      tol: Double = 1e-8,
      // the contraction shrinks the residual ~damping^t, so tol=1e-8 at
      // d=0.85 needs ~113 rounds — size the cap to the math, not to 100
      maxRounds: Int = 500,
      damping: Double = 0.85,
      reset: Option[DataFrame] = None,
      init: Option[DataFrame] = None,
      checkpointDir: Option[String] = None
  ): (DataFrame, Int) = {
    require(tol > 0, s"tol must be > 0, got $tol")
    prRun(nodes, edges, damping, reset, init, checkpointDir, maxRounds, Some(tol))
  }

  private def prRun(
      nodes: DataFrame,
      edges: DataFrame,
      damping: Double,
      reset: Option[DataFrame],
      init: Option[DataFrame],
      checkpointDir: Option[String],
      maxRounds: Int,
      tol: Option[Double]
  ): (DataFrame, Int) = {
    checkpointDir.foreach(nodes.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist()
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()
    def unpersistLocal(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(df)

    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty node frame")
    val dec = DecimalType(27, 18)

    // constant across iterations: every edge tagged with its source's
    // out-degree, so the per-iteration join is edges ⋈ ranks only.
    // Pre-hash-partitioned on `src` and CACHED: a cached plan keeps its
    // output partitioning (canChangeCachedPlanOutputPartitioning stays
    // false precisely for this), so every iteration's join reads the
    // in-memory partitioned blocks with NO edge-side exchange and only
    // the node-sized rank frame moves — at 100 TB the edge list is the
    // corpus-scale side and this is the difference between one edge
    // shuffle total and one per iteration (GraphSpec pins the 2-exchange
    // plan). Checkpoint does NOT serve here: under AQE it captures
    // UnknownPartitioning, so the reliable arm checkpoints for
    // durability FIRST and re-partitions the (cheap, checkpoint-backed)
    // read into the cache.
    val weightedBase = edges
      .join(
        edges.groupBy("src").agg(count(lit(1)).cast("double").as("od")),
        "src"
      )
      .select(col("src"), col("dst"), col("od"))
    val weighted = (if (checkpointDir.isDefined) ckpt(weightedBase) else weightedBase)
      .repartition(col("src"))
      .persist()
    // Per-node constants RIDE IN THE RANK FRAME (r19 optimization
    // round): the dangling flag (no out-edges) and, for TrustRank, the
    // teleport weight are joined ONCE here and then carried through
    // every checkpointed round. The old shape re-derived both per
    // round — a node-sized anti-join against the out-node set, the
    // TrustRank reset join, and a `nodes` rescan to rebuild `next` —
    // three per-round operators replaced by one boolean (+ one double
    // for TrustRank) per node of checkpoint state. The dangling mass
    // is now a scan-only aggregate over the checkpointed rank frame,
    // and `next` chains off `ranks` instead of rescanning the node
    // source. (The round shape itself — stock localCheckpoint, AQE
    // coalescing, planner-chosen joins — is deliberately unchanged: a
    // variant that additionally pinned explicit-count partitionings
    // and SHUFFLE_HASH hints measured ~2x SLOWER at bench scale, see
    // OPTIMIZATION_r19.md.)
    val isDangling = coalesce(col("__has_out"), lit(false)) === false
    val baseCols = Seq(col("id"), isDangling.as("__dangling")) ++
      reset.map(_ => coalesce(col("reset"), lit(0.0)).as("reset")).toSeq
    val outNodes = weighted
      .select(col("src").as("id"), lit(true).as("__has_out"))
      .distinct()
    val withFlags = reset
      .map(r => nodes.join(r.select(col("id"), col("reset")), Seq("id"), "left"))
      .getOrElse(nodes)
      .join(outNodes, Seq("id"), "left")
      .select(baseCols: _*)

    var ranks = ckpt(init match {
      case Some(i0) =>
        withFlags
          .join(i0.select(col("id"), col("pr")), Seq("id"), "left")
          .na.fill(1.0 / n, Seq("pr"))
      case None =>
        reset match {
          case Some(_) => withFlags.withColumn("pr", col("reset"))
          case None    => withFlags.withColumn("pr", lit(1.0 / n))
        }
    })
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val contrib = weighted
        .join(ranks.select(col("id"), col("pr")), weighted("src") === col("id"))
        .groupBy(weighted("dst").as("cid"))
        .agg(sum((col("pr") / col("od")).cast(dec)).cast("double").as("c"))
      // dangling mass: 1-row frame from a scan-only aggregate over the
      // flagged rank frame; coalesce covers the no-dangling case
      // (empty sum is NULL)
      val dangling = ranks
        .agg(
          coalesce(
            sum(when(col("__dangling"), col("pr")).cast(dec)).cast("double"),
            lit(0.0)).as("dm"))
      val joined = ranks
        .join(contrib, ranks("id") === col("cid"), "left")
        .crossJoin(broadcast(dangling))
      val carried = Seq(ranks("id"), col("__dangling")) ++
        reset.map(_ => col("reset")).toSeq
      val next = ckpt(reset match {
        case Some(_) =>
          // pr' = (1-d)·reset + d·(contrib + dm·reset): teleport AND
          // dangling mass flow to the trusted distribution
          joined.select(
            carried :+
              (lit(1.0 - damping) * col("reset") +
                lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") * col("reset")))
                .as("pr"): _*
          )
        case None =>
          joined.select(
            carried :+
              (lit((1.0 - damping) / n) +
                lit(damping) * (coalesce(col("c"), lit(0.0)) + col("dm") / lit(n.toDouble)))
                .as("pr"): _*
          )
      })
      // residual probe rides the two checkpointed frames (a filter +
      // 1-row exact-decimal aggregate over cached rows)
      converged = tol.exists { t =>
        next
          .join(ranks.select(col("id"), col("pr").as("__old")), "id")
          .agg(
            coalesce(sum(abs(col("pr") - col("__old")).cast(dec)).cast("double"), lit(0.0))
              .as("resid"))
          .head()
          .getDouble(0) < t
      }
      unpersistLocal(ranks)
      ranks = next
    }
    weighted.unpersist()
    if (tol.isDefined && !converged)
      throw new IllegalStateException(
        s"power iteration still above tol after $maxRounds rounds — raise maxRounds " +
          "(a partial fixpoint would silently misrank)")
    (ranks.select(col("id"), col("pr")), round)
  }

  /** Harmonic centrality via HyperBall (Boldi & Vigna, "In-Core
    * Computation of Geometric Centralities with HyperBall" — the
    * algorithm behind Common Crawl's published host-level harmonic
    * centrality ranks): every node carries an HLL sketch of its
    * in-ball `B_r(v) = {u : d(u→v) ≤ r}`, each radius step unions the
    * predecessors' balls along edges, and
    * `harmonic(v) = Σ_r (|B_r| − |B_{r−1}|)/r` accumulates from the
    * estimated ball-size deltas.
    *
    * This is the scale path for distance-based centrality: exact
    * harmonic needs all-pairs BFS (infeasible past toy graphs), while
    * a HyperBall round is ONE edges⋈state equi-join + ONE map-side-
    * combinable `hll_union_agg` on `dst` + a node-sized left join — the
    * same two-shuffle shape as a [[pageRank]] iteration, with fixed
    * ~KB state per node (the Sketches codebook discipline: sketches
    * shuffle, never node sets). Rounds stop at `maxRadius` or as soon
    * as no ball grew (one driver-side emptiness probe per round, the
    * [[Dedup.clusters]] convergence pattern — never a collect).
    *
    * Estimates are DataSketches HLL (native codegen'd aggregates, no
    * UDFs): exact in sparse mode on small balls, ~1.6%/√2^lgK error on
    * large ones; negative deltas from estimate jitter clamp to 0 so
    * harmonic stays monotone.
    *
    * @return (`id`, `ball` — |B_maxRadius| estimate, `harmonic`)
    */
  def harmonicCentrality(
      nodes: DataFrame,
      edges: DataFrame,
      maxRadius: Int = 16,
      lgK: Int = 12,
      checkpointDir: Option[String] = None
  ): DataFrame =
    hyperBallLoop(nodes, edges, maxRadius, lgK, checkpointDir,
      collectRadii = false)._1

  /** The neighbourhood function N(r) = Σ_v |B_r(v)| — how many (u, v)
    * pairs are within distance r — and the effective diameter, from the
    * SAME HyperBall loop as [[harmonicCentrality]] (Boldi–Vigna's
    * original use; Palmer et al.'s ANF). One extra 1-row aggregate per
    * radius on the already-checkpointed state (the same driver-probe
    * class as the loop's convergence check — never a node collect).
    *
    * Returns one row per radius 0..R_stop: (`radius`,
    * `reachable_pairs` — the N(r) estimate, `reach_frac` — N(r)/N(last),
    * `eff_diameter` — the smallest radius whose reach_frac ≥ `q`, same
    * value on every row). At 100 TB this is the "how connected is the
    * crawl" question answered in O(diameter) PageRank-shaped rounds with
    * ~KB of state per node; the exact form is all-pairs BFS.
    */
  def neighborhoodFunction(
      nodes: DataFrame,
      edges: DataFrame,
      maxRadius: Int = 16,
      lgK: Int = 12,
      q: Double = 0.9,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0, 1], got $q")
    val (_, radii) =
      hyperBallLoop(nodes, edges, maxRadius, lgK, checkpointDir,
        collectRadii = true)
    val last = radii.last._2.toDouble
    val eff = radii
      .collectFirst { case (r, n) if n >= q * last => r }
      .getOrElse(radii.last._1)
    val spark = nodes.sparkSession
    import spark.implicits._
    radii
      .map { case (r, n) => (r, n, n / last, eff) }
      .toDF("radius", "reachable_pairs", "reach_frac", "eff_diameter")
  }

  private def hyperBallLoop(
      nodes: DataFrame,
      edges: DataFrame,
      maxRadius: Int,
      lgK: Int,
      checkpointDir: Option[String],
      collectRadii: Boolean
  ): (DataFrame, Vector[(Int, Long)]) = {
    require(maxRadius >= 1, s"maxRadius must be >= 1, got $maxRadius")
    checkpointDir.foreach(nodes.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist()
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()
    def unpersistLocal(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(df)

    // pre-partitioned on `src` + cached for the same edge-side shuffle
    // reuse as [[pageRank]] (cached partitioning survives AQE;
    // checkpoint's does not — reliable arm checkpoints first)
    val eBase = edges.select(col("src"), col("dst"))
    val e = (if (checkpointDir.isDefined) ckpt(eBase) else eBase)
      .repartition(col("src"))
      .persist()
    var state = ckpt(
      nodes
        .groupBy(col("id"))
        .agg(hll_sketch_agg(col("id"), lgK).as("sk"))
        .withColumn("est", hll_sketch_estimate(col("sk")))
        .withColumn("harmonic", lit(0.0)))
    def radiusSum(): Long =
      state.agg(sum(col("est"))).first().getLong(0)
    var radii = Vector.empty[(Int, Long)]
    if (collectRadii) radii :+= (0 -> radiusSum())
    var r = 0
    var grew = true
    while (grew && r < maxRadius) {
      r += 1
      // NOTE (r20, measured + rejected): folding the join-back into the
      // gather aggregate (union self rows with edge contributions, one
      // per-id hll_union_agg — jobs/radius 7→4, wall −15 %) PERTURBS the
      // estimates: DataSketches union results are not byte-canonical
      // across merge groupings, so intermediate `est` values drift
      // ~0.1 % and `harmonic` (the sum of per-radius deltas) moves on
      // ~300/5000 nodes at sf0.1. `ball`/`eff_diameter` stayed
      // identical, but these are declared queries — the join-back stays
      // so the byte-passthrough (`when(nbr isNull, state.sk)`) keeps
      // outputs bit-identical. Evidence: OPTIMIZATION_r20.md HyperBall.
      val gathered = e
        .join(state, e("src") === state("id"))
        .groupBy(e("dst").as("gid"))
        .agg(hll_union_agg(col("sk"), false).as("nbr"))
      // __prev (last round's est) stays in the checkpointed frame so the
      // growth probe below is a filter over cached rows — NOT an extra
      // node-sized self-join per radius (it was one before round 14:
      // 8 radii × a join the state already knew the answer to)
      val next = ckpt(
        state
          .join(gathered, state("id") === col("gid"), "left")
          .select(
            state("id"),
            when(col("nbr").isNull, state("sk"))
              .otherwise(hll_union(state("sk"), col("nbr"), allowDifferentLgConfigK = false))
              .as("sk"),
            state("est").as("__prev"),
            state("harmonic")
          )
          .withColumn("est", hll_sketch_estimate(col("sk")))
          .withColumn(
            "harmonic",
            col("harmonic") +
              greatest(col("est") - col("__prev"), lit(0L)).cast("double") / lit(r)))
      // convergence probe rides the checkpointed frame: est is monotone
      // non-decreasing up to estimator jitter, so "no ball grew" ends
      // the walk at the graph's effective diameter. When the caller
      // needs per-radius reach too, BOTH numbers come from one scan-only
      // aggregate (one probe job per radius, not two).
      if (collectRadii) {
        val probe = next
          .agg(
            sum(col("est")).as("reach"),
            count(when(col("est") > col("__prev"), lit(1))).as("grew"))
          .head()
        grew = probe.getLong(1) > 0
        if (grew) radii :+= (r -> probe.getLong(0))
      } else {
        grew = !next.filter(col("est") > col("__prev")).isEmpty
      }
      unpersistLocal(state)
      state = next.drop("__prev")
    }
    e.unpersist()
    (state.select(col("id"), col("est").as("ball"), col("harmonic")), radii)
  }

  /** Host-level rank: page ranks summed per host (exact decimal sum) —
    * the join-back shape a curation pipeline uses to turn page
    * centrality into a per-document quality prior. `pages` maps page id
    * to its host (`id`, `host`).
    */
  def hostRank(pageRanks: DataFrame, pages: DataFrame): DataFrame =
    pageRanks
      .join(pages, "id")
      .groupBy(col("host"))
      .agg(
        sum(col("pr").cast(DecimalType(27, 18))).cast("double").as("host_rank"),
        count(lit(1)).as("n_pages")
      )

  /** Synchronous label propagation communities (Raghavan, Albert &
    * Kumara, "Near linear time algorithm to detect community structures
    * in large-scale networks"), made fully deterministic: every round,
    * EVERY node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the smallest label; neighbor-less nodes
    * keep their current label. Labels start as the node's own id.
    *
    * A fixed round count is the honest synchronous form — asynchronous
    * LPA's convergence depends on visit order (irreproducible across
    * partitionings), and the synchronous update can 2-cycle on
    * bipartite structure, so "run to convergence" is ill-defined.
    * A fixed horizon is deterministic, oracle-expressible, and what a
    * curation pipeline wants anyway (host/near-dup grouping stabilizes
    * in a few rounds on hubby web graphs).
    *
    * Scale shape: identical to a [[pageRank]] iteration — the
    * symmetrized edge list is built once, pre-partitioned on `src` and
    * cached, and each round is one edges⋈labels equi-join, one
    * (node,label)-sized count, one per-node argmax, and a node-sized
    * left join. The argmax rides [[graft.functions.BoundedHeap.minBy]]
    * ordered by `struct(-count, label)` so the plan stays
    * ObjectHashAggregate — Spark's own `min_by(label, struct)` would
    * fall to SortAggregate (non-mutable buffer type) and sort the
    * (node,label) frame corpus-wide every round.
    *
    * @param nodes      single-column frame `id`
    * @param edges      two-column frame `src`, `dst`
    * @param rounds     synchronous update rounds (>= 1)
    * @param symmetrize treat edges as undirected (the community
    *                   convention); false votes over in-edges only
    * @return frame (`id`, `community`)
    */
  def labelPropagation(
      nodes: DataFrame,
      edges: DataFrame,
      rounds: Int = 4,
      symmetrize: Boolean = true,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    checkpointDir.foreach(nodes.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist()
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()
    def unpersistLocal(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(df)

    val dir = edges.select(col("src"), col("dst"))
    val symBase =
      if (symmetrize)
        dir.unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      else dir
    // same edge-shuffle-once discipline as pageRank: cached partitioning
    // survives AQE, checkpointed partitioning does not
    val sym = (if (checkpointDir.isDefined) ckpt(symBase) else symBase)
      .repartition(col("src"))
      .persist()

    var labels = ckpt(nodes.select(col("id"), col("id").as("label")))
    var r = 0
    while (r < rounds) {
      r += 1
      val votes = sym
        .join(labels, sym("src") === labels("id"))
        .groupBy(sym("dst").as("vid"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val best = votes
        .groupBy(col("vid"))
        .agg(
          graft.functions.BoundedHeap
            .minBy(col("label"), struct((-col("cnt")).as("nc"), col("label").as("lb")))
            .as("new_label"))
      val next = ckpt(
        labels
          .join(best, labels("id") === col("vid"), "left")
          .select(labels("id"), coalesce(col("new_label"), col("label")).as("label")))
      unpersistLocal(labels)
      labels = next
    }
    sym.unpersist()
    labels.select(col("id"), col("label").as("community"))
  }

  /** Deterministic DeepWalk-style walk corpus (Perozzi, Al-Rfou &
    * Skiena, "DeepWalk: Online Learning of Social Representations"):
    * from every start node, `length` hops; hop `t` out of node `v`
    * picks sorted-neighbor index `mix(v, t) mod outdeg(v)`. A walk that
    * reaches a dangling node (no out-edges) simply stops — the emitted
    * array is the prefix walked so far, the DeepWalk convention.
    *
    * The hop selector is injectable because reproducibility and oracle
    * coverage pull in different directions: production wants
    * [[Walks.hashMix]] (`xxhash64(v, t, seed)` — uniform, overflow-free
    * at any id range) while the DuckDB-mirrored gate uses
    * [[Walks.lcgMix]] (64-bit linear-congruential arithmetic both
    * engines evaluate bit-identically). Same operator body either way —
    * only the one mixing Column differs.
    *
    * Scale shape: the adjacency frame (node → sorted neighbor array) is
    * built with ONE aggregation, pre-partitioned on its key and cached;
    * each hop is a frontier⋈adjacency equi-join with no other shuffle,
    * so the whole corpus costs `length` node-sized joins after one
    * edge-list aggregation. Neighbor arrays are out-degree-sized — web
    * graphs keep out-degree small and bounded (in-degree is the skewed
    * side, and it never materializes here). Walk state is one
    * (start, cur, walk) row per start node, `length+1` ids at most.
    *
    * Lineage discipline: each hop chains a join onto the previous
    * state's plan, so an untruncated walk of DeepWalk-typical length
    * (40–80) carries an O(length)-deep lineage — linear re-execution
    * risk on partition loss and linear planning cost. Every
    * `checkpointEvery` hops the state is checkpoint-truncated exactly
    * like the [[pageRank]] rounds (`localCheckpoint` by default,
    * reliable `checkpointDir` on a real cluster), with superseded
    * local blocks unpersisted eagerly. Truncation is pure lineage
    * surgery — hop values are unaffected (GraphSpec pins a length-48
    * walk bit-identical across truncation cadences).
    *
    * @param starts single-column frame `id` of walk origins (pass the
    *               node frame for full coverage, a sample for a corpus
    *               quota)
    * @param mix    (cur, step) => Long column; see [[Walks]]
    * @param checkpointEvery truncate lineage every this many hops
    * @return frame (`start`, `walk` array<long> — walk(0) = start)
    */
  def randomWalks(
      edges: DataFrame,
      starts: DataFrame,
      length: Int,
      mix: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column = Walks.hashMix(7),
      checkpointEvery: Int = 8,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    require(length >= 1, s"length must be >= 1, got $length")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) {
        df.persist()
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()
    def unpersistLocal(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        org.apache.spark.sql.graftbridge.ColumnBridge.unpersistLocalCheckpoint(df)

    val adj = edges
      .groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"), count(lit(1)).as("deg"))
      .repartition(col("src"))
      .persist()
    var state = starts.select(
      col("id").as("start"),
      col("id").as("cur"),
      array(col("id")).as("walk"))
    // the last truncated block, so superseding it can unpersist eagerly
    var lastCkpt: Option[DataFrame] = None
    (1 to length).foreach { t =>
      val idx = pmod(mix(col("cur"), lit(t.toLong)), col("deg")).cast("int") + lit(1)
      val hop = element_at(col("nbrs"), idx)
      state = state
        .join(adj, state("cur") === adj("src"), "left")
        .select(
          col("start"),
          when(col("src").isNull, lit(null)).otherwise(hop).as("cur"),
          when(col("src").isNull, col("walk"))
            .otherwise(concat(col("walk"), array(hop)))
            .as("walk")
        )
      if (t % checkpointEvery == 0 && t < length) {
        val truncated = ckpt(state)
        lastCkpt.foreach(unpersistLocal)
        lastCkpt = Some(truncated)
        state = truncated
      }
    }
    state.select(col("start"), col("walk"))
  }
}

/** Hop selectors for [[Graph.randomWalks]]. */
object Walks {
  import org.apache.spark.sql.Column

  /** Production mix: `xxhash64(cur, step, seed)` — uniform and safe at
    * any id range, no DuckDB mirror (bench/spec coverage).
    */
  def hashMix(seed: Long): (Column, Column) => Column =
    (cur, step) => xxhash64(cur, step, lit(seed))

  /** Oracle mix: `cur*1103515245 + step*12345 + seed` (the classic LCG
    * multiplier) — plain 64-bit arithmetic DuckDB evaluates
    * bit-identically. Overflows past ~8e9 ids; gate scales stay far
    * below that (5e7 docs at sf10), production uses [[hashMix]].
    */
  def lcgMix(seed: Long): (Column, Column) => Column =
    (cur, step) => cur * lit(1103515245L) + step * lit(12345L) + lit(seed)
}
