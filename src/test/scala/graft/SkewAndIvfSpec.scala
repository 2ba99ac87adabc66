package graft

import graft.operators.{Similarity, Skew}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Skew-salted aggregation equivalence + IVF ANN properties. */
class SkewAndIvfSpec extends SparkSpec {
  import spark.implicits._

  test("salted aggregation equals direct aggregation on heavily skewed data") {
    // 90% of rows on one hot key
    val skewed = spark.range(0, 50000)
      .select(
        when($"id" % 10 < 9, "HOT").otherwise(concat(lit("k"), $"id" % 7)).as("key"),
        ($"id" % 100).cast("double").as("v")
      )
    val direct = skewed.groupBy($"key")
      .agg(sum($"v").cast("long").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(skewed, Seq("key"), "v", saltFactor = 16)
      .select($"key", $"sum_value".cast("long"), $"cnt")
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(salted == direct)
  }

  test("ANN recall floors: multi-table random-projection LSH and IVF vs exact") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = topSet(Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size

    // defaults (4 planes x 8 tables) measure 0.74 on this data; the
    // floor is slack for robustness, but far above the 0.04 the
    // single-table coordinate bucketing measures
    val multi = topSet(Similarity.lshTopKMulti(q, emb, "vec_id", "embedding", dim = 64, k = 5))
    assert(recall(multi) >= 0.6, s"multi-table LSH recall ${recall(multi)}")

    // IVF with 8 deterministic cells, nprobe=2 measures 0.60
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
    val ivf = topSet(Similarity.ivfTopK(q, emb, cents, "vec_id", "embedding", 5, nprobe = 2))
    assert(recall(ivf) >= 0.5, s"IVF nprobe=2 recall ${recall(ivf)}")
  }

  test("hardNegatives picks nearest different-label vectors, never same-label") {
    // one cell (single centroid): mining is exact within it
    val emb = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(1f, 0.1f), 0),  // same label as 0 — must never appear for query 0
      (2L, Array(1f, 0.2f), 1),  // nearest different-label to 0
      (3L, Array(0.5f, 1f), 1),
      (4L, Array(0f, 1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val cents = Seq((0, Array(1f, 1f))).toDF("centroid_id", "centroid_vec")
    val mined = Similarity
      .hardNegatives(emb, "vec_id", "embedding", "label", cents, k = 2)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank")))
    val forQ0 = mined.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq
    assert(forQ0 == Seq(2L, 3L)) // rank 1 = nearest different-label
    assert(!mined.exists { case (q, n, _) => q == 0L && n == 1L }) // same label excluded
    assert(mined.count(_._1 == 0L) == 2) // exactly k rows per query
  }

  test("IVF with a single cell degenerates to exact brute-force top-k") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val oneCentroid = emb.filter($"vec_id" === 0)
      .select(lit(0).as("centroid_id"), $"embedding".as("centroid_vec"))
    val queries = emb.filter($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(queries, emb, oneCentroid, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(ivf == brute)
  }

  test("native PqEncode and PqAdcDistance are value-identical to the composed forms") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val cbs = Similarity.codebooksFromRows(
      emb.filter(col("vec_id") < 8).orderBy("vec_id"), "embedding", m = 4)
    // encode: native tight loop vs literal-array struct fold
    val native = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      .select(col("vec_id"), concat_ws(",", col("pq_code")).as("c"))
      .as[(Long, String)].collect().toMap
    val composed = Similarity.pqEncodeComposed(emb, "vec_id", "embedding", cbs)
      .select(col("vec_id"), concat_ws(",", col("pq_code")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(native == composed)
    // ADC distances: native vs the aggregate(zip_with) chain, both the
    // plain and the centroid-centered (residual) flavors, bit-exact —
    // no rounding slack
    val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs)
      .join(emb, "vec_id")
    val sub = 16
    val composedDist = (0 until 4).map { j =>
      val cb = typedlit(cbs(j).map(_.toSeq).toSeq)
      expr(s"aggregate(zip_with(slice(embedding, ${j * sub + 1}, $sub), " +
        s"element_at(CBJ$j, element_at(pq_code, ${j + 1}) + 1), " +
        "(x,y) -> (cast(x as double)-cast(y as double))*(cast(x as double)-cast(y as double))), " +
        "0D, (acc,v) -> acc+v)")
    }
    val withCbs = (0 until 4).foldLeft(enc) { (d, j) =>
      d.withColumn(s"CBJ$j", typedlit(cbs(j).map(_.toSeq).toSeq))
    }
    val nativeDist = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.PqAdcDistance(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("embedding")),
        org.apache.spark.sql.catalyst.expressions.Literal(null,
          org.apache.spark.sql.types.NullType),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("pq_code")),
        cbs))
    val diff = withCbs
      .withColumn("nat", nativeDist)
      .withColumn("com", composedDist.reduce(_ + _))
      .filter(col("nat") =!= col("com"))
      .count()
    assert(diff == 0, s"$diff rows differ between native and composed ADC")
  }

  test("IVF-PQ: residual codes + cell pruning, recall recovers with probes and re-rank") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val d = expr("aggregate(zip_with(qvec, embedding, (x,y) -> " +
      "(cast(x as double)-cast(y as double))*(cast(x as double)-cast(y as double))), " +
      "0D, (acc,v) -> acc+v)")
    val w = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("vec_id"))
    val exact = emb.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("d", d).withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val cents = Similarity.lloydCentroids(emb, "vec_id", "embedding", nlist = 8)
    val cb = Similarity.lloydResidualCodebooks(emb, "vec_id", "embedding", cents, m = 16, k = 64)
    val enc = Similarity.ivfPqEncode(emb, "vec_id", "embedding", cents, cb)
    assert(enc.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    assert(enc.filter(expr("exists(pq_code, c -> c < 0 OR c >= 64)")).count() == 0)
    val encV = enc.join(emb, "vec_id")
    // measured 0.84 at (nprobe=4, reRank=50) — half the corpus probed,
    // 50 exact rows per query; floors with margin
    def recall(np: Int, rr: Int): Double =
      Similarity.ivfPqTopK(queries, encV, cents, "vec_id", "embedding", cb, 5,
        nprobe = np, reRank = rr)
        .select("query_id", "neighbor_id").intersect(exact).count() / 50.0
    val (half, full) = (recall(4, 50), recall(8, 50))
    info(s"IVF-PQ recall@5 with re-rank 50 — nprobe 4: $half, nprobe 8: $full")
    assert(half >= 0.6, s"nprobe=4 + re-rank recall $half below floor")
    // probing every cell degenerates to plain PQ + re-rank (measured 1.0)
    assert(full >= 0.9, s"full-probe recall $full below floor")
  }

  test("Lloyd's-trained codebooks beat sampled-row codebooks at identical (m, k)") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val d = expr("aggregate(zip_with(qvec, embedding, (x,y) -> " +
      "(cast(x as double)-cast(y as double))*(cast(x as double)-cast(y as double))), " +
      "0D, (acc,v) -> acc+v)")
    val w = Window.partitionBy(col("query_id")).orderBy(col("d").asc, col("vec_id"))
    val exact = emb.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("d", d).withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    def recallOf(cbs: Seq[Array[Array[Float]]], reRank: Int = 0): Double = {
      // the re-rank stage reads exact vectors beside the codes
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cbs).join(emb, "vec_id")
      Similarity.pqTopK(queries, enc, "vec_id", "embedding", cbs, 5, reRank = reRank)
        .select("query_id", "neighbor_id").intersect(exact).count() / 50.0
    }
    // production settings (m=16 -> 4-dim subspaces, k=64 codewords, 16-byte
    // codes, 16x compression): 64 sampled ROWS as codewords vs 64 TRAINED
    // centroids per subspace
    val sampled = recallOf(Similarity.codebooksFromRows(
      emb.filter(col("vec_id") < 64).orderBy("vec_id"), "embedding", m = 16))
    val cb = Similarity.lloydCodebooks(emb, "vec_id", "embedding", m = 16, k = 64, iters = 20)
    assert(cb.length == 16 && cb.forall(_.length == 64) && cb.head.head.length == 4)
    assert(Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      .filter(expr("exists(pq_code, c -> c < 0 OR c >= 64)")).count() == 0)
    val trained = recallOf(cb)
    // exact re-rank of the top-50 ADC candidates recovers recall
    // (measured 1.0; the exact math touches 50 rows/query, not the corpus)
    val reRanked = recallOf(cb, reRank = 50)
    info(s"ADC recall@5 — sampled-row codebooks: $sampled, Lloyd's-trained: $trained, " +
      s"re-ranked: $reRanked")
    assert(trained >= sampled,
      s"trained codebooks ($trained) should not lose to sampled rows ($sampled)")
    assert(trained >= 0.45, s"trained ADC recall $trained below floor")
    assert(reRanked >= 0.9, s"re-ranked recall@5 $reRanked below floor")
    // bit-determinism: the trainer's own id-ordered sample -> identical codebooks
    val a = Similarity.lloydCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    val b = Similarity.lloydCodebooks(emb, "vec_id", "embedding", m = 16, k = 64)
    assert(a.zip(b).forall { case (x, y) =>
      x.length == y.length && x.zip(y).forall { case (u, v) => u.sameElements(v) }
    })
  }

  test("lloydTrain properties: centers in data hull, k>n degrades, duplicates safe") {
    // centers stay within the per-dimension bounding box of the data
    val pts = Array(Array(0f, 0f), Array(10f, 2f), Array(5f, 1f), Array(2f, 9f))
    val centers = Similarity.lloydTrain(pts, k = 2, iters = 10)
    centers.foreach { c =>
      assert(c(0) >= 0f && c(0) <= 10f && c(1) >= 0f && c(1) <= 9f, c.toSeq)
    }
    // k > n: exactly n centers, no crash
    assert(Similarity.lloydTrain(pts, k = 16, iters = 5).length == 4)
    // all-identical points (zero D² everywhere): init falls back to
    // uniform picks, converges to the single point
    val dup = Array.fill(8)(Array(3f, 3f))
    val dc = Similarity.lloydTrain(dup, k = 3, iters = 5)
    assert(dc.forall(_.sameElements(Array(3f, 3f))))
    // determinism across calls
    val a = Similarity.lloydTrain(pts, k = 2, iters = 10)
    val b = Similarity.lloydTrain(pts, k = 2, iters = 10)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
  }

  test("Lloyd's centroids partition into nlist cells deterministically") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val cents = Similarity.lloydCentroids(emb, "vec_id", "embedding", nlist = 8)
    assert(cents.count() == 8)
    // every corpus vector lands in a valid cell
    val cells = Similarity.assignCells(emb, cents, "embedding")
    assert(cells.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    // non-degenerate: the corpus spreads over more than one cell
    assert(cells.select("cell").distinct().count() > 1)
    // and the cells serve an IVF probe
    val rows = Similarity.ivfTopK(
      emb.filter($"vec_id" < 2), emb, cents, "vec_id", "embedding", 3).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("rank") <= 3))
  }

  test("int8 quantization: codes bounded, round-trip within scale/2, zero vector safe") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
      .union(Seq((99999L, Array.fill(8)(0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = emb.join(q, "vec_id")
    // every code in [-127, 127]
    val outOfRange = joined
      .filter(expr("exists(q, v -> abs(v) > 127)")).count()
    assert(outOfRange == 0)
    // dequantized max abs error <= scale/2 (plus float->double epsilon)
    val badErr = joined
      .filter(col("scale") > 0)
      .withColumn("err",
        array_max(expr("zip_with(embedding, q, (x, v) -> abs(cast(x as double) - v * scale))")))
      .filter(col("err") > col("scale") * 0.5000001)
      .count()
    assert(badErr == 0, "reconstruction error exceeded scale/2")
    // the all-zero vector carries scale 0 and a null code array
    val zero = q.filter(col("vec_id") === 99999L).collect()(0)
    assert(zero.getAs[Double]("scale") == 0.0 && zero.isNullAt(zero.fieldIndex("q")))
  }

  test("approx cell assignment: total, valid cells, high exact-agreement") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val cents = emb.filter($"vec_id" < 16)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
    val exact = Similarity.assignCells(emb, cents, "embedding")
      .select($"vec_id", $"cell".as("ecell"))
    val approx = Similarity.assignCellsApprox(emb, cents, "embedding", planes = 3)
      .select($"vec_id", $"cell".as("acell"))
    val n = emb.count()
    // total: every row assigned, to a real centroid id
    assert(approx.count() == n)
    assert(approx.filter($"acell" < 0 || $"acell" >= 16).count() == 0)
    // the coarse buckets + Hamming-1 probes find the true nearest for
    // the bulk of rows (measures 0.6 on these near-uniform test
    // vectors, whose cosines to rival centroids are nearly tied —
    // clustered production embeddings agree far more; floor is slack).
    // What cell-BLOCKED operators actually need is consistency: both
    // sides share the deterministic function, pinned by the scaled
    // bench twins.
    val agree = exact.join(approx, "vec_id").filter($"ecell" === $"acell").count()
    assert(agree.toDouble / n >= 0.45, s"agreement ${agree.toDouble / n}")
  }

  test("approx assignment falls back to the exact fold when probes miss") {
    import spark.implicits._
    // one centroid whose bucket (all-negative signs = 0) is Hamming-2+
    // away from every vector's probe set at planes=3 → every row takes
    // the fallback path and must still match the exact assignment
    val vecs = Seq(
      (1L, Array(1f, 1f, 1f, 1f)),
      (2L, Array(1f, 1f, 1f, -1f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((7, Array(-1f, -1f, -1f, -0.5f)))
      .toDF("centroid_id", "centroid_vec")
    val out = Similarity.assignCellsApprox(vecs, cents, "embedding", planes = 3)
      .select($"vec_id", $"cell").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out == Map(1L -> 7, 2L -> 7))
  }

  test("ivfTopK with approx corpus assignment keeps rank contract and recall") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val q = emb.filter($"vec_id" < 10)
    val cents = emb.filter($"vec_id" < 8)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity
      .ivfTopK(q, emb, cents, "vec_id", "embedding", 5, nprobe = 2,
        assignPlanes = Some(2))
      .collect()
    assert(approx.forall(_.getAs[Int]("rank") <= 5))
    val got = approx.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // exact-assignment IVF nprobe=2 measures 0.60 on this data; the
    // approx corpus assignment costs a little boundary recall
    assert(got.intersect(exact).size.toDouble / exact.size >= 0.4)
  }

  test("scaled hard negatives (approx assignment) keep the k and label contracts") {
    val emb = Tables.load(spark, testData("0.001"), "embeddings")
    val cents = emb.filter($"vec_id" < 12)
      .select(col("vec_id").cast("int").as("centroid_id"), col("embedding").as("centroid_vec"))
    val out = Similarity
      .hardNegatives(emb, "vec_id", "embedding", "label", cents, k = 3,
        assignPlanes = Some(3))
      .collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Int]("rank") <= 3))
    assert(out.forall(r => r.getAs[Int]("query_label") != r.getAs[Int]("neighbor_label")))
  }
}
