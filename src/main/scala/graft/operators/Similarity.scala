package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths, per SURVEY §7.2 item 10:
  *   - [[bruteForceTopK]] — exact baseline: broadcast the (small) query
  *     set against the corpus, one pass, no shuffle of the corpus.
  *   - [[lshTopK]] — scale path: sign-LSH bucketing first, so each
  *     corpus row joins only its bucket's queries. At 100 TB the
  *     bucket join replaces the queries×corpus blow-up with a
  *     shuffle keyed by bucket id; recall is tuned by `planeDims`
  *     (more planes → smaller buckets → faster, lower recall).
  */
object Similarity {

  /** Cosine similarity between two float-array columns, computed in
    * double precision by the native fused-loop expression
    * ([[graft.functions.CosineSimilarity]] — one pass, no intermediate
    * arrays). [[cosineComposed]] is the built-ins-only equivalent; the
    * two are bit-identical (same accumulation order), spec-proven.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.CosineSimilarity(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)
      )
    )

  /** Composed form: `zip_with` + `aggregate` built-ins only. */
  def cosineComposed(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(
        zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0),
        (acc, v) => acc + v
      )
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Symmetric int8 vector quantization — the storage workhorse for
    * embedding corpora (float32 → int8 is 4× smaller; at 100 TB of
    * vectors that is the difference between memory-resident ANN probes
    * and disk). Per vector: `scale = max|x| / 127`, `q_i =
    * floor(x_i / scale + 0.5)` (round-half-up via floor — identical in
    * Spark and DuckDB, unlike `round`'s differing tie conventions), so
    * every code lands in [-127, 127] and dequantization `q_i · scale`
    * reconstructs within scale/2 per element.
    *
    * Scan-local column math, zero shuffle. The scale is materialized
    * in its own projection BEFORE the code lambda: inlining it would
    * re-evaluate the `array_max` inside the per-element transform —
    * O(d²) per vector.
    *
    * All-zero vectors (scale 0) carry a null code array — a 0/0 is an
    * ANSI error, and any non-null code would dequantize wrongly.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scaled = df.select(
      col(idCol),
      col(vecCol).as("__v"),
      (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
        .as("scale"))
    scaled.select(
      col(idCol),
      col("scale"),
      when(col("scale") === 0.0, lit(null))
        .otherwise(transform(col("__v"),
          x => floor(x.cast("double") / col("scale") + lit(0.5)).cast("long")))
        .as("q"))
  }

  /** Fixed data-derived codebooks: codeword c of subspace j is the j-th
    * slice of the c-th sample row. Like [[lloydCodebooks]]' centers
    * this is MODEL extraction (a handful of rows to the driver, not a
    * data path) — it exists so the PQ pipeline has a deterministic,
    * SQL-mirrorable form for the oracle gate; production trains with
    * [[lloydCodebooks]].
    */
  def codebooksFromRows(
      samples: DataFrame,
      vecCol: String,
      m: Int
  ): Seq[Array[Array[Float]]] = {
    val rows = samples.select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(rows.nonEmpty, "codebook sample set is empty")
    val dim = rows.head.length
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    val sub = dim / m
    (0 until m).map(j => rows.map(r => r.slice(j * sub, (j + 1) * sub)).toArray)
  }

  /** Deterministic Lloyd's k-means, DRIVER-SIDE on a bounded sample —
    * model extraction like [[codebooksFromRows]] (a few thousand rows to
    * the driver, not a data path), but the codewords are TRAINED
    * centroids instead of raw sample rows, which measurably raises ADC
    * recall at identical (m, k) (SkewAndIvfSpec pins the comparison).
    * Bit-deterministic across runs AND partitionings: fixed-seed
    * k-means++ init over the order of `points`, fixed `iters` Lloyd's
    * iterations, empty clusters keep their previous center. The public
    * trainers pass the id-ordered [[trainingSample]], so the order is
    * never the caller's to get wrong.
    */
  private[graft] def lloydTrain(
      points: Array[Array[Float]],
      k: Int,
      iters: Int,
      seed: Long = 42L
  ): Array[Array[Float]] = {
    require(points.nonEmpty, "k-means sample set is empty")
    val n = points.length
    val dim = points.head.length
    // k-means++ init (Arthur & Vassilvitskii 2007) with a FIXED-seed
    // RNG: D²-weighted sampling spreads centers without the outlier
    // capture of farthest-first, and the fixed seed keeps the whole
    // train bit-deterministic for a given sample order
    val rng = new scala.util.Random(seed)
    val kk = math.min(k, n)
    val chosen = new Array[Int](kk)
    val minD = Array.fill(n)(Double.MaxValue)
    chosen(0) = rng.nextInt(n)
    var c0 = 1
    while (c0 < kk) {
      val last = points(chosen(c0 - 1))
      var i = 0
      var total = 0.0
      while (i < n) {
        var d = 0.0; var j = 0
        val p = points(i)
        while (j < dim) { val t = p(j) - last(j); d += t * t; j += 1 }
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      // cumulative D² sampling; degenerate all-zero distances fall back
      // to a uniform pick so duplicates can't stall the init
      var target = rng.nextDouble() * total
      var pick = if (total > 0) -1 else rng.nextInt(n)
      i = 0
      while (pick < 0 && i < n) {
        target -= minD(i)
        if (target <= 0) pick = i
        i += 1
      }
      chosen(c0) = if (pick >= 0) pick else n - 1
      c0 += 1
    }
    val centers = Array.tabulate(kk)(c => points(chosen(c)).map(_.toDouble))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = 0
      while (i < n) {
        val p = points(i)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - centers(c)(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } // empty cluster: keep previous center (deterministic, no reseed)
        c += 1
      }
      it += 1
    }
    centers.map(_.map(_.toFloat))
  }

  /** The bounded, id-ordered sample every Lloyd's trainer fits on (the
    * sample-FIRST rule, BASELINE.md round 8): the `idCol < sampleCap`
    * filter pushes to the parquet scan, so a 4096-row sample reads
    * ~4096 rows, NOT the whole corpus the way an orderBy+limit sample
    * would (full sort before the limit); the id order fixes the
    * k-means++ init. With `centroids`, the rows are the residuals
    * (vec − assigned centroid) of the same bounded rows — the IVF-PQ
    * training space — computed AFTER the filter, so residuals never
    * see the corpus. One float-array column; ModelSampleGuardSpec pins
    * both scan bounds.
    */
  private[graft] def trainingSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      sampleCap: Int,
      centroids: Option[DataFrame] = None
  ): DataFrame = {
    val bounded = corpus.filter(col(idCol) < sampleCap)
    val vecs = centroids.fold(bounded.select(col(idCol), col(vecCol).as("__v"))) { cents =>
      assignCells(bounded, cents, vecCol)
        .join(broadcast(cents), col("cell") === col("centroid_id"))
        .select(col(idCol), zip_with(col(vecCol), col("centroid_vec"),
          (x, c) => (x.cast("double") - c.cast("double")).cast("float")).as("__v"))
    }
    // the sort sits above the join: a sort below one is dropped by the
    // optimizer, and the pulled order would then be the join's
    vecs.orderBy(col(idCol)).select(col("__v")).limit(sampleCap)
  }

  private def sampleRows(sample: DataFrame): Array[Array[Float]] =
    sample.collect().map(_.getSeq[Float](0).toArray)

  /** Lloyd's-trained PQ codebooks (Jégou et al., TPAMI 2011: the vector
    * is cut into `m` subvectors and each subspace gets its own `k`-word
    * codebook, trained on a sample): [[lloydTrain]] per subspace over
    * the [[trainingSample]] of `corpus`. Same model shape as
    * [[codebooksFromRows]]; the swap-in for higher recall when the
    * model need not be SQL-mirrorable.
    */
  def lloydCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int = 16,
      iters: Int = 20,
      sampleCap: Int = 4096
  ): Seq[Array[Array[Float]]] =
    subspaceCodebooks(
      sampleRows(trainingSample(corpus, idCol, vecCol, sampleCap)), m, k, iters)

  /** Residual-space PQ training for [[ivfPqEncode]]: [[lloydCodebooks]]
    * fit on (vec − assigned centroid), the space the codes live in.
    */
  def lloydResidualCodebooks(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      m: Int,
      k: Int = 16,
      iters: Int = 20,
      sampleCap: Int = 4096
  ): Seq[Array[Array[Float]]] =
    subspaceCodebooks(
      sampleRows(trainingSample(corpus, idCol, vecCol, sampleCap, Some(centroids))),
      m, k, iters)

  private def subspaceCodebooks(
      rows: Array[Array[Float]],
      m: Int,
      k: Int,
      iters: Int
  ): Seq[Array[Array[Float]]] = {
    require(rows.nonEmpty, "codebook sample set is empty")
    val dim = rows.head.length
    require(dim % m == 0, s"vector dim $dim must divide into $m subspaces")
    val sub = dim / m
    (0 until m).map { j =>
      lloydTrain(rows.map(r => r.slice(j * sub, (j + 1) * sub)), k, iters)
    }
  }

  /** Lloyd's-trained IVF coarse centroids over the [[trainingSample]] of
    * `corpus`, in the (centroid_id, centroid_vec) frame shape
    * [[assignCells]] and [[ivfTopK]] consume.
    */
  def lloydCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int = 20,
      sampleCap: Int = 4096
  ): DataFrame = {
    val centers =
      lloydTrain(sampleRows(trainingSample(corpus, idCol, vecCol, sampleCap)), nlist, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    centers.zipWithIndex.toSeq
      .map { case (v, i) => (i, v) }
      .toDF("centroid_id", "centroid_vec")
  }

  private def sqDist(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (acc, v) => acc + v)

  /** PQ encoding: per subspace, the argmin codeword index — an
    * argmin-fold over the BROADCAST-LITERAL codebook (the same
    * no-blow-up shape as [[assignCells]]: no corpus×k rows ever
    * materialize, no shuffle). Codes are `m` small ints — at 100 TB the
    * encoded corpus is d·4/m·⌈log2 k / 8⌉× smaller than the floats
    * (32× at d=64, m=8, k=16).
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Array[Array[Float]]]
  ): DataFrame =
    df.select(
      col(idCol),
      org.apache.spark.sql.graftbridge.ColumnBridge
        .column(graft.functions.PqEncode(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col(vecCol)),
          codebooks))
        .as("pq_code"))

  /** The composed (literal-array fold) twin of
    * [[graft.functions.PqEncode]] — the executable value-identity
    * contract for the spec; not the hot path (the struct-accumulator
    * lambda evaluates interpreted per codeword).
    */
  private[graft] def pqEncodeComposed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Seq[Array[Array[Float]]]
  ): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val codeCols = (0 until m).map { j =>
      val subVec = slice(col(vecCol), j * sub + 1, sub)
      val words = array(codebooks(j).zipWithIndex.map { case (w, c) =>
        struct(typedlit(w.toSeq).as("w"), lit(c).as("c"))
      }: _*)
      aggregate(
        words,
        struct(lit(Double.MaxValue).as("best"), lit(-1).as("code")),
        (acc, cw) => {
          val d = sqDist(subVec, cw.getField("w"))
          when(d < acc.getField("best"), struct(d.as("best"), cw.getField("c").as("code")))
            .otherwise(acc)
        }
      ).getField("code")
    }
    df.select(col(idCol), array(codeCols: _*).as("pq_code"))
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the raw
    * query meets only codewords, so accuracy beats symmetric
    * code-vs-code lookups. Queries broadcast (like [[bruteForceTopK]]);
    * per row the distance is Σ_j ‖q_sub_j − codebook_j[code_j]‖² —
    * pure column math over the literal codebooks, no shuffle beyond
    * the per-query rank window.
    *
    * @param reRank when > 0, the top `reRank` ADC candidates per query
    *   are re-scored with EXACT distances against `vecCol` (which must
    *   then be present on `encoded`) — the standard PQ accuracy
    *   recovery: the expensive exact math touches only reRank rows per
    *   query instead of the corpus, and the stored corpus stays codes.
    */
  def pqTopK(
      queries: DataFrame,
      encoded: DataFrame,
      idCol: String,
      qVecCol: String,
      codebooks: Seq[Array[Array[Float]]],
      k: Int,
      reRank: Int = 0,
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(qVecCol).as("qvec"))
    val dist = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PqAdcDistance(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("qvec")),
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.NullType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("pq_code")),
        codebooks))
    // ADC stage rank = bounded heap (the candidate set is |queries| ×
    // |corpus| — the row_number window form sorts ALL of it); the exact
    // re-rank stage keeps its tiny window: ≤ reRank rows per query
    // survive the heap, the same bounded class as the nprobe cell rank
    val scored = encoded
      .join(broadcast(q), col("query_id") =!= col(idCol))
      .withColumn("adist", round(dist, 6))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("adist"))
    if (reRank <= 0) perQueryTopK(scored, "adist", descending = false, k)
    else {
      val winners = perQueryTopK(scored, "adist", descending = false, reRank)
      val we = Window.partitionBy(col("query_id")).orderBy(col("edist").asc, col("neighbor_id"))
      encoded
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nvec"))
        .join(broadcast(winners.join(broadcast(q), Seq("query_id"))), Seq("neighbor_id"))
        .withColumn("edist", round(sqDist(col("qvec"), col("__nvec")), 6))
        .withColumn("rank", row_number().over(we))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("edist"), col("rank"))
    }
  }

  /** IVF-PQ encoding (the full FAISS composition): assign each vector
    * to its nearest coarse centroid, then PQ-encode the RESIDUAL
    * (vec − centroid). Residuals are far more compressible than raw
    * vectors — the coarse quantizer removes the corpus-level structure
    * and each codebook only has to cover a cell-sized neighborhood.
    * Output: (id, cell, pq_code). Same plan shapes as the parts:
    * centroid argmax fold + literal-codebook argmin fold, no shuffle.
    */
  def ivfPqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      codebooks: Seq[Array[Array[Float]]]
  ): DataFrame = {
    val celled = assignCells(df, centroids, vecCol)
      .join(broadcast(centroids), col("cell") === col("centroid_id"))
      .withColumn("__res",
        zip_with(col(vecCol), col("centroid_vec"), (x, c) => (x - c).cast("float")))
    // one projection carries id, cell AND the codes — a join-back for
    // the cell column would plan the whole assignment subtree twice
    celled.select(
      col(idCol),
      col("cell"),
      org.apache.spark.sql.graftbridge.ColumnBridge
        .column(graft.functions.PqEncode(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("__res")),
          codebooks))
        .as("pq_code"))
  }

  /** IVF-PQ search: probe the `nprobe` nearest cells per query, ADC
    * against the RESIDUAL codebooks (query residual = q − centroid of
    * the row's cell, so the distance is computed in the same centered
    * space the codes were trained in), optional exact re-rank. The
    * cell filter is the IVF win — only |corpus|·nprobe/nlist rows are
    * scored per query; the codes are the PQ win — those rows are
    * 16-byte lookups, not float vectors.
    */
  def ivfPqTopK(
      queries: DataFrame,
      encoded: DataFrame,
      centroids: DataFrame,
      idCol: String,
      qVecCol: String,
      codebooks: Seq[Array[Array[Float]]],
      k: Int,
      nprobe: Int = 2,
      reRank: Int = 0,
      vecCol: String = "embedding"
  ): DataFrame = {
    // nprobe nearest cells per query (tiny: queries × nlist)
    val qCells = queries
      .select(col(idCol).as("query_id"), col(qVecCol).as("qvec"))
      .crossJoin(broadcast(centroids))
      .withColumn("__d", sqDist(col("qvec"), col("centroid_vec")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d").asc, col("centroid_id"))))
      .filter(col("__r") <= nprobe)
      .select(col("query_id"), col("qvec"), col("centroid_id").as("cell"),
        col("centroid_vec"))
    val dist = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PqAdcDistance(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("qvec")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("centroid_vec")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("pq_code")),
        codebooks))
    // ADC stage rank = bounded heap — candidates are |queries| ×
    // |probed cells| rows, corpus-proportional (the row_number window
    // sorts all of them); the exact re-rank window stays: ≤ reRank
    // rows per query, the bounded nprobe class
    val scored = encoded
      .join(broadcast(qCells), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("adist", round(dist, 6))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("adist"))
    if (reRank <= 0) perQueryTopK(scored, "adist", descending = false, k)
    else {
      val winners = perQueryTopK(scored, "adist", descending = false, reRank)
      val q = queries.select(col(idCol).as("query_id"), col(qVecCol).as("qvec"))
      val we = Window.partitionBy(col("query_id")).orderBy(col("edist").asc, col("neighbor_id"))
      encoded
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__nvec"))
        .join(broadcast(winners.join(broadcast(q), Seq("query_id"))), Seq("neighbor_id"))
        .withColumn("edist", round(sqDist(col("qvec"), col("__nvec")), 6))
        .withColumn("rank", row_number().over(we))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("edist"), col("rank"))
    }
  }

  /** Exact top-k neighbors for each query vector. The query set is
    * expected to be small (it is broadcast); the corpus is scanned once
    * and never shuffled — the window ranks within each query's
    * partition.
    */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    // the corpus is small in BYTES (so the scan yields few partitions)
    // but the nested-loop join output is |corpus|×|queries| ROWS — one
    // cheap round-robin exchange unlocks every core for the cosine
    // work instead of leaving the O(n·q) loop on the scan's 1-2 tasks
    val spread = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val scored = spread
      .join(broadcast(q), col("query_id") =!= col(idCol))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        // round before ranking so rank order is stable across engines
        round(cosine(col("qvec"), col(vecCol)), 6).as("cos")
      )
    // rank = bounded-heap hash aggregate, NOT a row_number window (the
    // hardNegatives lesson, CLAUDE.md): the window form sorts all
    // |queries|×|corpus| candidate rows — at sf10 a single 2.5-billion-
    // row TimSort spill that wedged the full gate for 40+ minutes
    perQueryTopK(scored, "cos", descending = true, k)
  }

  /** Sign-LSH bucket id: one bit per leading dimension's sign (the
    * coordinate hyperplanes as a cheap random-projection family). A
    * corpus-side column, so bucketing is a narrow map — the only
    * shuffle is the bucket-keyed candidate join.
    */
  def signBucket(vecCol: Column, planeDims: Int = 8): Column =
    // MSB-first binary fold: bucket = Σ sign_bit(dim_i) · 2^(planeDims-1-i)
    aggregate(
      slice(vecCol, 1, planeDims),
      lit(0L),
      (acc, v) => acc * 2 + when(v > lit(0f), 1L).otherwise(0L)
    )

  /** Nearest-centroid cell assignment as a per-row argmax folded over
    * the centroid set in ONE expression: the (tiny) centroid array
    * rides in on a constant-key broadcast hash join, so there is no
    * corpus × nlist row blow-up, no shuffle, and no window sort over
    * the corpus — at nlist=1024 a join+row_number shape would multiply
    * corpus rows 1024× through a shuffle just to pick a max. Ties
    * break to the smallest centroid_id (array sorted by id, strict >
    * keeps the first). Adds a `cell` column; also the blocking key for
    * [[graft.operators.Dedup.embeddingNearDup]] semantic blocking.
    */
  def assignCells(df: DataFrame, centroids: DataFrame, vecCol: String): DataFrame =
    assignCellsScored(df, centroids, vecCol).drop("cell_cos")

  /** [[assignCells]] keeping the winning cosine too: adds `cell` AND
    * `cell_cos` (cosine to the assigned centroid) — the prototypicality
    * score cluster-based pruning ranks on
    * ([[graft.operators.Curation.pruneByPrototypicality]]). Same plan:
    * broadcast centroid fold, no shuffle, no row blow-up.
    */
  def assignCellsScored(df: DataFrame, centroids: DataFrame, vecCol: String): DataFrame = {
    val centArr = centroids
      .agg(collect_list(struct(col("centroid_id"), col("centroid_vec"))).as("__cents"))
      .select(sort_array(col("__cents")).as("__cents"), lit(1).as("__one"))
    val nearest = aggregate(
      col("__cents"),
      struct(lit(Double.MinValue).as("best"), lit(-1).as("cell")),
      (acc, c) => {
        val s = cosine(col(vecCol), c.getField("centroid_vec"))
        when(
          s > acc.getField("best"),
          struct(s.as("best"), c.getField("centroid_id").as("cell"))
        ).otherwise(acc)
      }
    )
    df.withColumn("__one", lit(1))
      .join(broadcast(centArr), Seq("__one"))
      .withColumn("__nearest", nearest)
      .withColumn("cell", col("__nearest.cell"))
      .withColumn("cell_cos", col("__nearest.best"))
      .drop("__one", "__cents", "__nearest")
  }

  /** Approximate nearest-centroid assignment — the hash-blocked variant
    * the [[hardNegatives]] scaladoc's cost model calls for once
    * nlist ∝ n makes the exact fold the bottleneck: [[assignCells]] is
    * O(nlist · dim) PER ROW, so with nlist = n/cellTarget the corpus
    * assignment is quadratic — the round-11 sf10 growth table measured
    * exactly that (36× at 10× rows for nlist-scaled hard-negative
    * mining, ~n^1.5 per decade).
    *
    * Here each row scores only the centroids whose [[signBucket]]
    * coarse bucket matches one of the row's `planes + 1` probes (its
    * own bucket plus every Hamming-1 neighbor — sign flips near a
    * hyperplane are the dominant quantization error, and multi-probe
    * recovers them). With planes ≈ log2(nlist / cellTarget) the
    * expected candidate count is (planes + 1) · cellTarget, so per-row
    * cost is O(log(nlist) · dim) and the corpus pass is ~linear. Rows
    * whose probes all hit centroid-free buckets (an empirically tiny
    * residue) fall back to the exact fold IN THE SAME expression — the
    * assignment is total, and the worst case degrades to
    * [[assignCells]], never to wrong output.
    *
    * The plan shape is unchanged from the exact fold: the bucket→
    * centroids map and the sorted fallback array ride in on one-row
    * broadcasts; no shuffle, no corpus × nlist row blow-up. Candidates
    * are sorted by centroid_id before the fold, so ties break exactly
    * like [[assignCells]] (smallest id). The assignment is
    * approximate: a row near a coarse hyperplane may land in a
    * neighboring cell — for cell-BLOCKED operators (near-dup, mining)
    * both sides use the same deterministic function, so blocking stays
    * consistent and only boundary recall is traded. Broadcast budget
    * bounds nlist exactly as in [[assignCells]].
    */
  def assignCellsApprox(
      df: DataFrame, centroids: DataFrame, vecCol: String, planes: Int): DataFrame =
    assignCellsApproxScored(df, centroids, vecCol, planes).drop("cell_cos")

  /** [[assignCellsApprox]] keeping the winning cosine (the
    * [[assignCellsScored]] twin). */
  def assignCellsApproxScored(
      df: DataFrame, centroids: DataFrame, vecCol: String, planes: Int): DataFrame = {
    require(planes >= 1 && planes <= 62, "planes must be in [1, 62]")
    val bucketMap = centroids
      .groupBy(signBucket(col("centroid_vec"), planes).as("__cb"))
      .agg(sort_array(
        collect_list(struct(col("centroid_id"), col("centroid_vec")))).as("__bl"))
      .agg(map_from_entries(collect_list(struct(col("__cb"), col("__bl")))).as("__bmap"))
      .select(col("__bmap"), lit(1).as("__one"))
    val centArr = centroids
      .agg(sort_array(
        collect_list(struct(col("centroid_id"), col("centroid_vec")))).as("__cents"))
      .select(col("__cents"), lit(1).as("__one"))
    val bucket = signBucket(col(vecCol), planes)
    val probes = array(bucket +: (0 until planes).map(j =>
      bucket.bitwiseXOR(lit(1L << j))): _*)
    // per-bucket lists are id-sorted and probe buckets are distinct, so
    // a final sort of the (small) concatenation restores global id
    // order — fold tie-break identical to the exact path
    val cand = sort_array(flatten(filter(
      transform(probes, p => element_at(col("__bmap"), p)),
      a => a.isNotNull)))
    def fold(arr: Column) = aggregate(
      arr,
      struct(lit(Double.MinValue).as("best"), lit(-1).as("cell")),
      (acc, c) => {
        val s = cosine(col(vecCol), c.getField("centroid_vec"))
        when(
          s > acc.getField("best"),
          struct(s.as("best"), c.getField("centroid_id").as("cell"))
        ).otherwise(acc)
      }
    )
    df.withColumn("__one", lit(1))
      .join(broadcast(bucketMap), Seq("__one"))
      .join(broadcast(centArr), Seq("__one"))
      .withColumn("__cand", cand)
      .withColumn(
        "__nearest",
        when(size(col("__cand")) > 0, fold(col("__cand")))
          .otherwise(fold(col("__cents"))))
      .withColumn("cell", col("__nearest.cell"))
      .withColumn("cell_cos", col("__nearest.best"))
      .drop("__one", "__bmap", "__cents", "__cand", "__nearest")
  }

  /** IVF (inverted-file) ANN: assign every corpus vector to its nearest
    * centroid cell, then search only the query's `nprobe` best cells.
    * At 100 TB: the assignment is one broadcast pass over the corpus,
    * cells are the shuffle key, and each query touches |corpus|/nlist ·
    * nprobe candidates instead of the full corpus.
    *
    * @param centroids a (centroid_id, centroid_vec) frame — use
    *   [[lloydCentroids]] for real cells, or any deterministic subset
    *   for reproducible tests.
    * @param assignPlanes Some(p): corpus-side cell assignment via the
    *   hash-blocked [[assignCellsApprox]] — the nlist ∝ n sizing makes
    *   the exact fold quadratic over the corpus (see that scaladoc);
    *   the query side stays exact (it is small and needs the n-best
    *   cells, not the argmax).
    * @note anisotropic encoders: whiten queries AND corpus first
    *   (`Embeddings.fitWhitening` on the corpus →
    *   `Embeddings.transform` both sides → this call on the whitened
    *   column). Measured A/B in EmbeddingsSpec "whitening A/B":
    *   recall@5 vs clean-space truth 0.09 raw → 0.42 whitened for this
    *   operator (0.77 for exact search) on a shifted+scaled corruption.
    */
  def ivfTopK(
      queries: DataFrame,
      corpus: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 1,
      assignPlanes: Option[Int] = None
  ): DataFrame = {
    val corpusSlim = corpus.select(col(idCol), col(vecCol))
    val corpusCells = assignPlanes match {
      case Some(p) => assignCellsApprox(corpusSlim, centroids, vecCol, p)
      case None    => assignCells(corpusSlim, centroids, vecCol)
    }
    topKAgainstCells(queries, corpusCells, centroids, idCol, vecCol, k, nprobe)
  }

  /** The IVF probe against an ALREADY-ASSIGNED corpus — the serve half
    * of [[ivfTopK]], split out so a persisted assignment store
    * ([[graft.streaming.IncrementalAnn]]) can skip the corpus-side
    * assignment entirely: at serve time the corpus contributes only the
    * (cell, id, vec) equi-join probe, which is the whole point of
    * paying the assignment once at ingest.
    */
  private[graft] def topKAgainstCells(
      queries: DataFrame,
      corpusCells: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int
  ): DataFrame = {

    // Query-side nprobe ranking keeps the window — the query set is small
    // and needs the n-best cells, not just the argmax.
    val queryCells = {
      val scored = queries
        .select(col(idCol), col(vecCol))
        .join(broadcast(centroids))
        .select(
          col(idCol),
          col(vecCol),
          col("centroid_id"),
          cosine(col(vecCol), col("centroid_vec")).as("__ccos")
        )
      val w =
        Window.partitionBy(col(idCol)).orderBy(col("__ccos").desc, col("centroid_id"))
      scored
        .withColumn("__crank", row_number().over(w))
        .filter(col("__crank") <= nprobe)
        .drop("__ccos", "__crank")
        .withColumnRenamed("centroid_id", "cell")
        .withColumnRenamed(idCol, "query_id")
        .withColumnRenamed(vecCol, "qvec")
    }
    // broadcast the QUERY side explicitly (guide §3.1): it is
    // O(|queries| · nprobe) rows by construction — the serve-shape
    // invariant — while the corpus side grows with n. Left to size
    // estimates, the planner at bench scale builds on the CORPUS side
    // (1 MB < threshold, r20 PlanAudit), and at 100 TB the estimate
    // flips the join to a sort-merge that shuffles every corpus row by
    // cell; the hint pins the only shape that is right at every scale:
    // corpus scanned once, never shuffled, never broadcast.
    val scored = corpusCells
      .join(broadcast(queryCells), Seq("cell"))
      .filter(col("query_id") =!= col(idCol))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        round(cosine(col("qvec"), col(vecCol)), 6).as("cos")
      )
    // bounded-heap rank, not a row_number window: candidates are
    // |queries| × |cell| rows and a per-query window SORTS them all
    // (the hardNegatives/bruteForceTopK lesson) — the heap shuffles
    // ≤ k rows per query per map task and sorts nothing
    perQueryTopK(scored, "cos", descending = true, k)
  }

  /** Per-query bounded-heap top-k over (query_id, neighbor_id,
    * `scoreCol`): reproduces `row_number over (partition by query_id
    * order by score [desc], neighbor_id)` EXACTLY — scores are 6-dp
    * rounded everywhere they feed a rank, so the descending order's
    * negation is exact — while shuffling ≤ k rows per query per map
    * task and sorting nothing (`BoundedHeap.topKBy`; the CLAUDE.md plan rule:
    * a row_number window sorts every candidate row, which at sf10 is
    * a billions-of-rows TimSort spill).
    */
  private def perQueryTopK(
      scored: DataFrame,
      scoreCol: String,
      descending: Boolean,
      k: Int
  ): DataFrame = {
    val key =
      if (descending) struct(negate(col(scoreCol)), col("neighbor_id"))
      else struct(col(scoreCol), col("neighbor_id"))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.BoundedHeap
        .topKBy(struct(col("neighbor_id"), col(scoreCol)), key, k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__i", "__n")))
      .select(
        col("query_id"),
        col("__n.neighbor_id").as("neighbor_id"),
        col(s"__n.$scoreCol").as(scoreCol),
        (col("__i") + 1).cast("int").as("rank"))
  }

  /** Deterministic Gaussian hyperplanes for random-projection LSH
    * (seeded — reproducible across runs and engines).
    */
  def randomPlanes(dim: Int, planes: Int, seed: Long = 7L): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-projection bucket id: bit j = sign(v · r_j). Unlike the
    * coordinate-plane [[signBucket]], the projections mix every
    * dimension, so recall doesn't collapse when a few dimensions
    * dominate the variance. Pure column math (zip_with/aggregate over a
    * literal plane), codegen-friendly, no shuffle.
    */
  def projectionBucket(vecCol: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex
      .map { case (p, i) =>
        val dot = aggregate(
          zip_with(vecCol, lit(p), (x, r) => x.cast("double") * r),
          lit(0.0),
          (acc, v) => acc + v
        )
        when(dot > 0, lit(1L << i)).otherwise(0L)
      }
      .reduce(_ + _)

  /** Multi-table random-projection ANN: L independent hash tables, each
    * bucketing on `planesPerTable` seeded hyperplanes; a candidate is
    * any corpus row sharing a bucket with the query in ANY table. The
    * scale shape is unchanged — per-table bucket equi-joins (shuffle
    * keyed by (table, bucket)), pair-distinct, then one ranking window —
    * while recall improves roughly linearly in L (a true near neighbor
    * is missed only if it disagrees with the query in EVERY table).
    */
  def lshTopKMulti(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      planesPerTable: Int = 4,
      tables: Int = 8,
      seed: Long = 7L
  ): DataFrame = {
    // Defaults tuned on the synthetic testdata: (4 planes, 8 tables) →
    // recall@5 = 0.74 vs exact, (4, 16) → 0.90, where the single-table
    // coordinate variant measures 0.04 (BASELINE.md). At larger corpus
    // sizes raise planesPerTable (buckets ≈ 2^planes should grow with
    // |corpus| to keep per-bucket candidates bounded) and tables to buy
    // recall back. `dim` is the embedding dimensionality — static
    // pipeline config, passed in rather than probed with a driver-side
    // first() (which would launch a job at plan-construction time and
    // break composition over streaming frames).
    require(dim > 0, "embedding dimensionality must be positive")
    val bucketCols = (0 until tables).map { t =>
      projectionBucket(col(vecCol), randomPlanes(dim, planesPerTable, seed + t)).as(s"b$t")
    }
    def bucketed(df: DataFrame, prefix: String) = df
      .select(col(idCol) +: col(vecCol) +: bucketCols: _*)
      .select(
        col(idCol),
        col(vecCol),
        posexplode(array((0 until tables).map(t => col(s"b$t")): _*)).as(Seq("table", "bucket"))
      )
      .withColumnRenamed(idCol, s"${prefix}_id")
      .withColumnRenamed(vecCol, s"${prefix}_vec")
    val q = bucketed(queries, "query")
    val c = bucketed(corpus, "n")
    val scored = c
      .join(broadcast(q), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("n_id"))
      .select(
        col("query_id"),
        col("n_id").as("neighbor_id"),
        round(cosine(col("query_vec"), col("n_vec")), 6).as("cos")
      )
      .distinct()
    // bounded-heap rank over the bucket candidates (corpus-proportional
    // at fixed planes) — the row_number window form sorts all of them
    perQueryTopK(scored, "cos", descending = true, k)
  }

  /** Bucketed ANN: rank only within the query's sign bucket. */
  def lshTopK(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planeDims: Int = 8
  ): DataFrame = {
    val q = queries.select(
      col(idCol).as("query_id"),
      col(vecCol).as("qvec"),
      signBucket(col(vecCol), planeDims).as("bucket")
    )
    val c = corpus.select(
      col(idCol),
      col(vecCol),
      signBucket(col(vecCol), planeDims).as("bucket")
    )
    val scored = c
      .join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col(idCol))
      .select(
        col("query_id"),
        col(idCol).as("neighbor_id"),
        round(cosine(col("qvec"), col(vecCol)), 6).as("cos")
      )
    // bounded-heap rank over the bucket candidates — same rationale as
    // lshTopKMulti
    perQueryTopK(scored, "cos", descending = true, k)
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * vector, the k most similar vectors carrying a DIFFERENT label —
    * the pairs that sit near the decision boundary and dominate the
    * training signal (random in-batch negatives are mostly easy; the
    * ANCE / dense-retrieval recipe mines hard negatives offline exactly
    * like this).
    *
    * Same scale contract as [[ivfTopK]]: the cell assignment is the
    * broadcast-centroid fold (no shuffle), candidates meet on the cell
    * equi-join only — each vector scores |corpus|/nlist same-cell
    * candidates, never the full corpus — and the per-query top-k is a
    * cell-bounded window. Mining recall is tuned by nlist exactly like
    * IVF search recall.
    *
    * Full cost model (self-mining, n = |corpus|): assignment is
    * O(n · nlist · dim) scan-local codegen; pairing is
    * O(n · n/nlist) shuffled candidates. Pinned nlist ⇒ the pairing
    * term is quadratic (the gated q_hard_negatives: 26× at 10×,
    * BASELINE.md). nlist ∝ n holds |cell| — and the shuffled pair
    * volume per vector — constant, leaving only the assignment term's
    * small per-row constant growing (q_hard_negatives_scaled measures
    * it); the exact balance point is nlist ≈ sqrt(n · C) if assignment
    * and pairing constants ever meet, and a hash-blocked variant
    * (projection buckets, planes ≈ log2(n/cellTarget)) caps per-row
    * assignment at O(log n · dim) when they do.
    */
  /** @param assignPlanes Some(p): use the hash-blocked
    *   [[assignCellsApprox]] with `p` coarse planes instead of the
    *   exact fold — REQUIRED for the nlist ∝ n cadence, where exact
    *   assignment is O(nlist·dim) per row and dominates (see the
    *   assignCellsApprox scaladoc); pick p ≈ log2(nlist / cellTarget).
    * @param queryFilter Some(pred): mine negatives only for the rows
    *   matching `pred` (a bounded QUERY BATCH — the training-loop serve
    *   shape: this epoch's anchor set against the whole corpus as the
    *   negative pool). The batch side broadcasts, so the corpus never
    *   shuffles and the candidate volume is |batch| · |cell| instead of
    *   n · |cell| — the difference between a bounded pass and the
    *   corpus-quadratic self-mining sweep at a pinned nlist.
    * @param pairShards self-mining pair-join salt width (ignored on the
    *   bounded-batch path). None (default): defaultParallelism — right
    *   whenever nlist is small/pinned, where the cell join's distinct
    *   keys cap the n²/nlist scoring at nlist tasks and one hot cell
    *   tail-dominates (r20 sf10: load ≈1 for tens of minutes). Pass
    *   Some(1) to disable when nlist ≥ cores (the nlist ∝ n cadence):
    *   pairing is already parallel there and the ×S corpus replication
    *   is pure overhead (measured: q_hard_negatives_scaled ×0.77 at
    *   sf1 with auto-salt on).
    */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      centroids: DataFrame,
      k: Int,
      assignPlanes: Option[Int] = None,
      queryFilter: Option[Column] = None,
      pairShards: Option[Int] = None
  ): DataFrame = {
    val slim = df.select(col(idCol), col(vecCol), col(labelCol))
    val cells = assignPlanes match {
      case Some(p) => assignCellsApprox(slim, centroids, vecCol, p)
      case None    => assignCells(slim, centroids, vecCol)
    }
    // filter BEFORE the rename so the caller's predicate binds against
    // the input column names; broadcast the (small) batch side so the
    // corpus never shuffles for a bounded mining pass
    val qSide = queryFilter.fold(cells)(p => cells.filter(p))
    val qRenamed = qSide.select(
      col(idCol).as("query_id"), col(vecCol).as("__qvec"),
      col(labelCol).as("query_label"), col("cell"))
    val q = if (queryFilter.isDefined) broadcast(qRenamed) else qRenamed
    val e = cells.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("__evec"),
      col(labelCol).as("neighbor_label"), col("cell"))
    // Self-mining pairing is SALTED (guide §2.5; r20): the join key has
    // only nlist distinct values, so the pair-scoring stage — the
    // n²/nlist cosine work pipelined after the join — runs on at most
    // nlist tasks (the r20 sf10 run sat at load ≈1 on ONE skewed cell
    // for tens of minutes). The query side takes a deterministic shard
    // pmod(xxhash64(id), S); the corpus side replicates ×S, so every
    // (q, e) pair appears exactly once and results are identical while
    // the pairing runs on nlist·S partitions. S = defaultParallelism:
    // scale-adaptive, and the ×S corpus replication shuffles only
    // n·S rows of (id, vec, label, cell) — O(n·cores), noise next to
    // the n²/nlist pair volume it parallelizes. The bounded-batch path
    // broadcasts the batch instead and needs none of this (the corpus
    // never shuffles there). The repartition PINS the shard count:
    // AQE coalesces shuffle-read partitions by READ bytes (~MBs of
    // vectors each), blind to the ×|cell| pair fan-out AFTER the join
    // — left to itself it merges the shards right back (measured at
    // sf1: 16.1 s coalesced vs 14.5 s pinned vs 18.6 s unsalted).
    val shards =
      if (queryFilter.isDefined) 1
      else pairShards.getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val scored = (if (shards <= 1) q.join(e, Seq("cell"))
                  else {
                    val qS = q.withColumn(
                      "__shard", pmod(xxhash64(col("query_id")), lit(shards.toLong)))
                      .repartition(shards, col("cell"), col("__shard"))
                    val eS = e.withColumn(
                      "__shard",
                      explode(sequence(lit(0L), lit(shards.toLong - 1))))
                      .repartition(shards, col("cell"), col("__shard"))
                    qS.join(eS, Seq("cell", "__shard")).drop("__shard")
                  })
      .filter(col("query_label") =!= col("neighbor_label"))
      .select(
        col("query_id"), col("query_label"),
        col("neighbor_id"), col("neighbor_label"),
        round(cosine(col("__qvec"), col("__evec")), 6).as("cos"))
    // rank = bounded-heap hash aggregate, NOT a row_number window: at
    // the nlist-pinned oracle sizing the candidate set is n²/nlist
    // rows, and a per-query rank window must SORT all of them — at
    // sf10 that is a 5-billion-row, ~300 GB spill that exhausted this
    // machine's disk. BoundedHeap.topKBy keeps ≤ k (key, row) pairs per
    // query per map task, shuffles only those, sorts nothing. The key
    // struct (-cos, neighbor_id) ascending reproduces the window's
    // (cos DESC, neighbor_id ASC) order exactly (cos is 6-dp rounded,
    // so negation is exact), and array position IS the rank.
    scored
      .groupBy(col("query_id"), col("query_label"))
      .agg(graft.functions.BoundedHeap
        .topKBy(
          struct(col("neighbor_id"), col("neighbor_label"), col("cos")),
          struct(negate(col("cos")), col("neighbor_id")),
          k)
        .as("__top"))
      .select(
        col("query_id"), col("query_label"),
        posexplode(col("__top")).as(Seq("__i", "__n")))
      .select(
        col("query_id"), col("query_label"),
        col("__n.neighbor_id").as("neighbor_id"),
        col("__n.neighbor_label").as("neighbor_label"),
        col("__n.cos").as("cos"),
        (col("__i") + 1).cast("int").as("rank"))
  }
}
