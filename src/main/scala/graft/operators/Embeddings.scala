package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Embedding-space transforms: covariance, PCA, and ZCA/PCA whitening —
  * the preprocessing step that makes cosine-based near-dup and ANN
  * behave on anisotropic embedding spaces (decorrelated, unit-variance
  * dimensions; optional rank reduction for cheaper distance math).
  *
  * Scale shape (the PQ-codebook discipline: a driver-sized model from
  * bounded work): ONE corpus pass accumulates n/Σx/Σxxᵀ through a
  * map-side-combinable typed aggregate
  * ([[graft.functions.MomentsAgg]] — d=64 ⇒ a 17 KB buffer per
  * partition on the exchange); only the d×d matrix reaches the driver,
  * where a deterministic cyclic Jacobi eigendecomposition (classic
  * Golub–Van Loan, fixed sweep order — no randomness) builds the k×d
  * whitening matrix; projection is a broadcast-literal native matvec
  * ([[graft.functions.MatVec]]) at scan speed. Nothing about the fit or
  * the transform grows with corpus size except the one aggregate pass.
  */
object Embeddings {

  /** Whitening/PCA model: `mean` (d), `basis` (k×d, row r = the
    * eigenvector of the r-th largest eigenvalue, scaled per `mode`),
    * `eigenvalues` (all d, descending).
    */
  final case class WhiteningModel(
      mean: Array[Double],
      basis: Array[Array[Double]],
      eigenvalues: Array[Double]
  )

  /** Raw moments of a vector column in one pass: (n, Σx, upper-tri
    * Σxxᵀ). The distributed half of every fit below.
    */
  def moments(df: DataFrame, vecCol: String, dim: Int): (Long, Array[Double], Array[Double]) = {
    val m = ColumnBridge.column(
      graft.functions.MomentsAgg(
        ColumnBridge.expression(col(vecCol)), dim).toAggregateExpression())
    val row = df.agg(m.as("m")).select(col("m.n"), col("m.sums"), col("m.prods")).head()
    (row.getLong(0), row.getSeq[Double](1).toArray, row.getSeq[Double](2).toArray)
  }

  /** Covariance matrix (d×d, full) from one corpus pass. */
  def covariance(df: DataFrame, vecCol: String, dim: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val (n, sums, prods) = moments(df, vecCol, dim)
    require(n >= 2, s"covariance needs n >= 2 rows, got $n")
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var p = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = prods(p) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        p += 1
        j += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** Deterministic cyclic Jacobi eigendecomposition of a symmetric
    * matrix: returns (eigenvalues descending, eigenvectors as ROWS in
    * the same order). Fixed (i, j) sweep order and a fixed sweep count
    * bound make the result reproducible to the bit across runs; driver-
    * side is fine because d is an embedding width (a 64×64 solve), the
    * same bounded-model contract as the ANN codebooks.
    */
  def jacobiEigen(sym: Array[Array[Double]], maxSweeps: Int = 64, tol: Double = 1e-12): (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = Array.tabulate(d, d)((i, j) => sym(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (sweep < maxSweeps && off > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / (d * d)) {
            // classic 2x2 symmetric Schur rotation
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case x => x
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    // sort eigenpairs by eigenvalue, descending; stable tie order by index
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    val eigvals = order.map(i => a(i)(i)).toArray
    val eigrows = order.map(i => Array.tabulate(d)(k => v(k)(i))).toArray
    (eigvals, eigrows)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  /** Fit a whitening/PCA model on `vecCol`: `k` output dims (k = dim
    * for pure whitening, k < dim adds PCA rank reduction). `whiten =
    * true` scales each principal axis by 1/√(λ_r+shrinkage+eps) so the
    * transformed training covariance is I_k at `shrinkage = 0`;
    * `false` keeps plain PCA projection.
    *
    * `shrinkage` is the (Σ + λI)^(-1/2) dial, in VARIANCE units of the
    * input space. WHEN TO USE WHICH (measured — EmbeddingsSpec's
    * shrinkage sweep; BASELINE.md r15-16):
    *   - λ = 0 (full whitening) when the anisotropy is a CORRUPTION of
    *     a meaningful isotropic space — the sentence-embedding shape
    *     (Ethayarajh 2019; Su et al. 2021): a dominant common component
    *     plus a skewed map saturate cosine, and full whitening is the
    *     estimator that inverts it (recall 0.2→0.9-class recoveries).
    *   - λ in the order of the BULK eigenvalue (≈ trace/dim) when the
    *     scale structure is MEANINGFUL and you only want conditioning —
    *     full whitening amplifies the small-variance (mostly-noise)
    *     axes to parity with the signal axes, which is exactly how it
    *     HURT recall on the merely scale-anisotropic fixture (r15's
    *     honest negative). λ damps the amplification of axes with
    *     λ_r ≪ λ while barely touching axes with λ_r ≫ λ — the larger
    *     the λ, the closer to an isotropic (rotation-only) transform.
    *   - If you cannot say which regime the space is in, fit both arms
    *     on a slice and A/B recall against exact search on the raw
    *     vectors (the EmbeddingsSpec harness shape) — the two regimes
    *     answer oppositely, so the slice decides.
    */
  def fitWhitening(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      k: Int,
      whiten: Boolean = true,
      eps: Double = 1e-9,
      shrinkage: Double = 0.0
  ): WhiteningModel = {
    require(k >= 1 && k <= dim, s"k must be in [1, $dim], got $k")
    val (_, mean, cov) = covariance(df, vecCol, dim)
    modelFromCovariance(mean, cov, k, whiten, eps, shrinkage)
  }

  /** The driver half of [[fitWhitening]] — eigendecompose a given
    * mean + covariance and scale the leading-k basis by the
    * (Σ + λI)^(-1/2) rule. Exposed so the oracle gate can ride the exact
    * production scaling code under a FIXED covariance (the
    * lloydCodebooks export-as-literals discipline).
    */
  def modelFromCovariance(
      mean: Array[Double],
      cov: Array[Array[Double]],
      k: Int,
      whiten: Boolean = true,
      eps: Double = 1e-9,
      shrinkage: Double = 0.0
  ): WhiteningModel = {
    require(k >= 1 && k <= cov.length, s"k must be in [1, ${cov.length}], got $k")
    require(shrinkage >= 0.0, s"shrinkage must be >= 0, got $shrinkage")
    val (eigvals, eigrows) = jacobiEigen(cov)
    val basis = Array.tabulate(k) { r =>
      val scale =
        if (whiten) 1.0 / math.sqrt(math.max(eigvals(r), 0.0) + shrinkage + eps) else 1.0
      eigrows(r).map(_ * scale)
    }
    WhiteningModel(mean, basis, eigvals)
  }

  /** Project `vecCol` through the model: `basis * (x - mean)` as a
    * broadcast-literal native matvec — scan-local, no shuffle. The mean
    * shift folds into a constant offset: basis*(x-mean) = basis*x - b0.
    */
  def transform(df: DataFrame, vecCol: String, model: WhiteningModel, outCol: String = "whitened"): DataFrame = {
    val b0 = model.basis.map(row =>
      row.indices.map(i => row(i) * model.mean(i)).sum)
    val mv = ColumnBridge.column(
      graft.functions.MatVec(
        ColumnBridge.expression(col(vecCol)), model.basis.toIndexedSeq))
    val offsets = b0.map(x => lit(x))
    df.withColumn(outCol,
      zip_with(mv, array(offsets.toIndexedSeq: _*), (a, b) => a - b))
  }
}
