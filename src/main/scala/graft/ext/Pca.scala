package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PCA over the embedding table: one exact-decimal
  * covariance pass (oracle-verified cell for cell), then a driver-side
  * cyclic Jacobi eigensolve on the tiny dims×dims moment matrix —
  * the same moments-to-driver pattern as the k-means centroid update:
  * the DATA never leaves the cluster, only d(d+1)/2 aggregated cells
  * do, so the pass is corpus-size-independent beyond one scan.
  *
  * Cross-engine contract: per-cell sums go through the decimal(18,6)
  * cast (exact, associative — Tables.dsum discipline), the centered
  * covariance is one pinned double expression, round-6. The
  * eigensolve itself is NOT SQL-expressible (iterative rotations) —
  * its queries are rows-only with invariants pinned by PcaSpec
  * (orthonormal basis, eigval sum = trace, projection variance =
  * eigenvalue).
  */
object Pca {

  val Dims = 64

  // covariance+eigen+means, cached per (app, caller key) and versioned
  // by the input listing: the three pca_* queries share one moment pass
  // instead of re-scanning the corpus
  private case class Model(cov: Array[Array[Double]],
    eigvals: Array[Double], eigvecs: Array[Array[Double]],
    means: Array[Double])

  // One means pass feeds BOTH the covariance centering and Model.means
  // (2 corpus scans per model instead of 3).
  private def modelFor(spark: SparkSession, emb: DataFrame, key: String): Model =
    ArtifactCache.get(spark.sparkContext, s"pca#$key",
        Artifact.inputListing(emb).getOrElse("")) {
      val (pU, sxU, n) = momentsPass(emb)
      val cov = Array.ofDim[Double](Dims, Dims)
      cellsFromMoments(pU, sxU, n).foreach { case (i, j, c) =>
        cov(i)(j) = c; cov(j)(i) = c
      }
      val (vals, vecs) = jacobiEigen(cov)
      ArtifactCache.Entry(Model(cov, vals, vecs,
        Array.tabulate(Dims)(i => sxU(i).toDouble / 1e6 / n)))
    }

  /** Exact first+second moments in ONE treeAggregate scan: per-element
    * micro-units xu = round₆(x)·10⁶ (replicating Spark's
    * double→decimal(18,6) cast — `BigDecimal.valueOf`, the
    * shortest-string value, HALF_UP), then pure long accumulation of
    * the d sums X and the d(d+1)/2 upper-tri product sums
    * P = Σ xu_i·xu_j. Integer addition is associative, so the result
    * is partitioning-independent EXACTLY — the same treeAggregate
    * shape as [[covarianceFastMatrix]], which rounds differently and
    * is therefore only ~1e-12 reproducible; here the gate path and the
    * scale path finally share one dataflow and differ only in
    * accumulator type. (The previous gate path exploded n·d(d+1)/2
    * decimal cells through a hash aggregate — same exchange size, but
    * 4.5 s of row machinery at sf0.1 vs ~0.4 s for this flops-bound
    * fold.)
    *
    * Range: |xu| ≤ 10⁶·max|x|; with unit-scale embeddings the product
    * sums stay inside long up to ~10⁷ rows (worst case). The fold is
    * OVERFLOW-CHECKED — every accumulate is `Math.addExact` /
    * `Math.multiplyExact`, so past the bound it fails loudly instead
    * of silently corrupting covariance — and on overflow the pass
    * reruns once with BigInteger accumulators: still exact, still
    * partitioning-independent, ~3× slower, unbounded range (the
    * moments surface as BigInt; [[cellsFromMoments]] works in BigInt
    * regardless). The double-precision 100 TB serving path remains
    * [[covarianceFastMatrix]]. Also asserts every row carries all
    * [[Dims]] dimensions.
    */
  def momentsPass(emb: DataFrame): (Array[BigInt], Array[BigInt], Long) = {
    val d = Dims
    val tri = d * (d + 1) / 2
    val src = emb.select(col("embedding")).rdd
      .map(_.getSeq[Float](0).toArray)
    def unitRow(v: Array[Float]): Array[Long] = {
      require(v.length == d, s"expected $d dims, saw ${v.length}")
      val xu = new Array[Long](d)
      var i = 0
      while (i < d) {
        xu(i) = java.math.BigDecimal.valueOf(v(i).toDouble)
          .setScale(6, java.math.RoundingMode.HALF_UP)
          .scaleByPowerOfTen(6).longValueExact
        i += 1
      }
      xu
    }
    def longFold(): (Array[BigInt], Array[BigInt], Long) = {
      val (p, x, n) = src.treeAggregate((new Array[Long](tri), new Array[Long](d), 0L))(
        { case ((p, x, n), v) =>
          val xu = unitRow(v)
          var idx = 0
          var i = 0
          while (i < d) {
            x(i) = Math.addExact(x(i), xu(i))
            var j = i
            while (j < d) {
              p(idx) = Math.addExact(p(idx), Math.multiplyExact(xu(i), xu(j)))
              idx += 1; j += 1
            }
            i += 1
          }
          (p, x, n + 1)
        },
        { case ((p1, x1, n1), (p2, x2, n2)) =>
          var k = 0
          while (k < tri) { p1(k) = Math.addExact(p1(k), p2(k)); k += 1 }
          var i = 0
          while (i < d) { x1(i) = Math.addExact(x1(i), x2(i)); i += 1 }
          (p1, x1, n1 + n2)
        })
      (p.map(BigInt(_)), x.map(BigInt(_)), n)
    }
    def bigFold(): (Array[BigInt], Array[BigInt], Long) = {
      import java.math.BigInteger
      val (pB, xB, n) = src.treeAggregate(
        (Array.fill(tri)(BigInteger.ZERO), Array.fill(d)(BigInteger.ZERO), 0L))(
        { case ((p, x, n), v) =>
          val xu = unitRow(v)
          var idx = 0
          var i = 0
          while (i < d) {
            val bi = BigInteger.valueOf(xu(i))
            x(i) = x(i).add(bi)
            var j = i
            while (j < d) {
              p(idx) = p(idx).add(bi.multiply(BigInteger.valueOf(xu(j))))
              idx += 1; j += 1
            }
            i += 1
          }
          (p, x, n + 1)
        },
        { case ((p1, x1, n1), (p2, x2, n2)) =>
          var k = 0
          while (k < tri) { p1(k) = p1(k).add(p2(k)); k += 1 }
          var i = 0
          while (i < d) { x1(i) = x1(i).add(x2(i)); i += 1 }
          (p1, x1, n1 + n2)
        })
      (pB.map(BigInt(_)), xB.map(BigInt(_)), n)
    }
    def isOverflow(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || isOverflow(t.getCause))
    val (p, x, n) =
      try longFold()
      catch { case e: Throwable if isOverflow(e) => bigFold() }
    require(n > 0, "empty embedding table")
    (p, x, n)
  }

  /** The centering identity on exact integers, driver-side BigInt (2080
    * cells — trivial): cov = (n·P − X_i·X_j)/(n²·10¹²), so the round-6
    * cell is halfaway(n·P − X_i·X_j, n²·10⁶)/10⁶ — replayed
    * token-for-token in the DuckDB oracle (HUGEINT there). Rounding a
    * ratio of exact integers is engine-independent; rounding a double
    * is not (that was the r7 `pca_covariance` hash mismatch).
    */
  private def cellsFromMoments(pU: Array[BigInt], sxU: Array[BigInt],
                               n: Long): IndexedSeq[(Int, Int, Double)] = {
    val bn = BigInt(n)
    val den = bn * bn * BigInt(1000000L)
    var idx = -1
    for (i <- 0 until Dims; j <- i until Dims) yield {
      idx += 1
      val num = bn * pU(idx) - sxU(i) * sxU(j)
      val r =
        if (num < 0) -((-num * 2 + den) / (den * 2))
        else (num * 2 + den) / (den * 2)
      (i, j, r.toDouble / 1e6)
    }
  }

  /** Upper-triangular covariance cells (i <= j, 0-based), round-6, as a
    * DataFrame — one [[momentsPass]] scan, cells finished on the
    * driver.
    */
  def covariance(emb: DataFrame): DataFrame = {
    val (pU, sxU, n) = momentsPass(emb)
    val spark = emb.sparkSession
    import spark.implicits._
    cellsFromMoments(pU, sxU, n).toDF("i", "j", "cov")
  }

  /** Deterministic cyclic Jacobi on the symmetric round-6 covariance:
    * fixed (p,q) sweep order, fixed convergence threshold, eigvecs
    * sign-fixed (largest-|component| entry positive). Returns
    * (eigenvalues desc, row-major eigenvector matrix V with V(k) the
    * k-th PRINCIPAL axis).
    */
  def jacobiEigen(cov: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = cov.length
    val a = cov.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off += math.abs(a(p)(q))
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val s = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(k => (-a(k)(k), k))
    val eigvals = order.map(k => a(k)(k)).toArray
    val vecs = order.map { k =>
      val column = Array.tabulate(d)(r => v(r)(k))
      val m = column.indices.maxBy(r => (math.abs(column(r)), -r))
      if (column(m) < 0) column.map(-_) else column
    }.toArray
    (eigvals, vecs)
  }

  /** Scale-path covariance: one treeAggregate over the raw vectors —
    * each task folds its rows into a d(d+1)/2 double triangle, combine
    * is array addition, nothing is exploded and nothing shuffles but
    * the ~2080-cell partials. This is the 100 TB shape (flops-bound,
    * not row-machinery-bound); it trades the exact-decimal contract
    * for double accumulation (partitioning-dependent at ~1e-12), which
    * is why the GATE query keeps the exact pass — PcaSpec pins parity
    * between the two.
    */
  def covarianceFastMatrix(emb: DataFrame): Array[Array[Double]] = {
    val d = Dims
    val tri = d * (d + 1) / 2
    val (p, s, n) = emb.select(col("embedding")).rdd
      .map(_.getSeq[Float](0).toArray)
      .treeAggregate((new Array[Double](tri), new Array[Double](d), 0L))(
        { case ((p, s, n), v) =>
          var idx = 0
          var i = 0
          while (i < d) {
            val vi = v(i).toDouble
            s(i) += vi
            var j = i
            while (j < d) { p(idx) += vi * v(j); idx += 1; j += 1 }
            i += 1
          }
          (p, s, n + 1)
        },
        { case ((p1, s1, n1), (p2, s2, n2)) =>
          var k = 0
          while (k < tri) { p1(k) += p2(k); k += 1 }
          var i = 0
          while (i < d) { s1(i) += s2(i); i += 1 }
          (p1, s1, n1 + n2)
        })
    val m = Array.ofDim[Double](d, d)
    var idx = 0
    for (i <- 0 until d; j <- i until d) {
      val c = p(idx) / n - (s(i) / n) * (s(j) / n)
      m(i)(j) = c
      m(j)(i) = c
      idx += 1
    }
    m
  }

  /** Covariance cells -> dense symmetric matrix (driver-side; 2080
    * round-6 doubles).
    */
  def covMatrix(cov: DataFrame): Array[Array[Double]] = {
    val m = Array.ofDim[Double](Dims, Dims)
    cov.collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      m(i)(j) = c; m(j)(i) = c
    }
    m
  }

  /** The covariance cells served from the shared model memo: the
    * first pca_* query of a session pays the one moment pass, the
    * rest read the 2080 cached cells (values identical to
    * [[covariance]] — the memo stores its collected output).
    */
  def covarianceCells(spark: SparkSession, emb: DataFrame,
                      key: String = ""): DataFrame = {
    import spark.implicits._
    val m = modelFor(spark, emb, key)
    (for (i <- 0 until Dims; j <- i until Dims) yield (i, j, m.cov(i)(j)))
      .toDF("i", "j", "cov")
  }

  /** Top-k eigenvalues with explained-variance ratios. */
  def topEigvals(spark: SparkSession, emb: DataFrame, k: Int,
                 key: String = ""): DataFrame = {
    import spark.implicits._
    val m = modelFor(spark, emb, key)
    val trace = m.cov.indices.map(i => m.cov(i)(i)).sum
    m.eigvals.take(k).zipWithIndex.map { case (ev, r) =>
      (r + 1, math.rint(ev * 1e6) / 1e6, math.rint(ev / trace * 1e6) / 1e6)
    }.toSeq.toDF("rank", "eigval", "explained")
  }

  /** Project every embedding onto the top-2 principal axes (mean-
    * centered). The axes broadcast as literals; projection is one
    * codegen'd map pass.
    */
  def projectTop2(spark: SparkSession, emb: DataFrame,
                  key: String = ""): DataFrame = {
    val m = modelFor(spark, emb, key)
    def proj(axis: Array[Double]) = (0 until Dims).map { i =>
      (element_at(col("embedding"), i + 1).cast("double") - lit(m.means(i))) *
        lit(axis(i))
    }.reduce(_ + _)
    emb.select(col("vec_id"),
        round(proj(m.eigvecs(0)), 6).as("pc1"),
        round(proj(m.eigvecs(1)), 6).as("pc2"))
      .orderBy(col("vec_id"))
  }
}
