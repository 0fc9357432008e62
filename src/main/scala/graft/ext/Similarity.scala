package graft.ext

import graft.functions.native.cosine_sim
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings.embedding`, ArrayType(FloatType)).
  *
  * Two paths, per the standard scale playbook:
  *  - [[bruteForceTopK]]: exact cosine top-k of a *small query set*
  *    against the corpus — the query side is broadcast, the corpus is
  *    scanned once, and the per-group top-k is a ranking window that
  *    Spark ≥3.5 executes with WindowGroupLimit (only k rows per
  *    partition survive the shuffle). Cost: O(|Q|·N) dot products,
  *    embarrassingly parallel over N.
  *  - [[lshTopK]]: sign-random-projection (SRP) LSH — vectors are
  *    bucketed by the sign pattern of h fixed pseudo-random hyperplanes;
  *    search touches only colliding buckets across t tables. Recall is
  *    tunable via (h, t); the all-pairs product never materializes. An
  *    IVF variant would swap the hash for a learned coarse quantizer —
  *    same dataflow shape (bucket join).
  *
  * Candidate generation and scoring are separated: LSH joins carry only
  * (id, id) pairs through the distinct, and embeddings are re-attached
  * afterwards — deduplicating on vector payloads would drag the arrays
  * through a shuffle for nothing. Cosine itself is the one-pass native
  * [[graft.functions.CosineSimilarity]] expression.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane component: a fixed hash of
    * (table, plane, dim) mapped to [-1, 1). No RNG state — the same
    * planes exist on every executor with zero coordination.
    */
  private def planeComponent(table: Int, plane: Int, dim: Int): Double = {
    // murmur-style finalizer over the packed coordinates — stable across
    // Scala versions (library hash functions may change between releases,
    // which would silently re-bucket a persisted index).
    var h = table * 0x9E3779B9 + plane * 0x85EBCA6B + dim * 0xC2B2AE35
    h ^= h >>> 16; h *= 0x85EBCA6B; h ^= h >>> 13; h *= 0xC2B2AE35; h ^= h >>> 16
    h.toDouble / Int.MaxValue.toDouble
  }

  def cosine(a: Column, b: Column): Column = cosine_sim(a, b)

  private[ext] def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Deterministic hash-ordered corpus sample for quantizer training —
    * bounded to `n` vectors so the driver-side fit stays O(n·dims)
    * regardless of corpus size (the same contract as MLlib's k-means||
    * init sample).
    */
  private[ext] def trainingSample(emb: DataFrame, n: Int): Array[Array[Float]] =
    emb.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(n)
      .collect().map(_.getSeq[Float](1).toArray)

  /** Driver-side Lloyd iterations over a bounded sample — the real
    * coarse-quantizer training loop (cosine assignment, mean update),
    * fully deterministic: fixed sample order, fixed iteration count,
    * ties broken toward the lower centroid index. Centroids are the
    * tiny driver-resident artifact both IVF and PQ bake into their
    * plans as literals.
    */
  private[ext] def kmeans(sample: Array[Array[Float]], k: Int,
                          iters: Int = 3): Array[Array[Float]] = {
    require(sample.nonEmpty, "empty training sample")
    var cents = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone)
    for (_ <- 0 until iters) {
      val dims = cents(0).length
      val sums = Array.fill(cents.length)(new Array[Double](dims))
      val counts = new Array[Int](cents.length)
      sample.foreach { v =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          val s = cosineLocal(v, cents(c))
          if (s > bestSim) { bestSim = s; best = c }
          c += 1
        }
        counts(best) += 1
        val s = sums(best); var i = 0
        while (i < math.min(v.length, dims)) { s(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(x => (x / counts(c)).toFloat))
    }
    cents
  }

  /** L2-normalize an embedding column into double precision — standard
    * preprocessing before vector indexes (unit vectors make inner
    * product equal cosine, so PQ/IVF can use the cheaper dot kernel).
    * Zero vectors pass through unscaled. Per-row, shuffle-free.
    */
  def l2Normalize(emb: Column): Column =
    // the norm is bound as a lambda variable (one-element transform
    // wrapper) — captured directly in the scaling lambda it would be
    // re-evaluated per element, turning O(d) into O(d²) per row (the
    // same interpreted-HOF pitfall as Dedup.shingles)
    element_at(transform(array(sqrt(graft.functions.native.dot_product(emb, emb))),
      norm =>
        when(norm === 0.0, transform(emb, x => x.cast("double")))
          .otherwise(transform(emb, x => x.cast("double") / norm))), 1)

  /** Exact top-k neighbors for query vectors `vec_id < nQueries`
    * (self-match excluded). Query side is broadcast — the corpus never
    * shuffles for the join; only (nQueries · k) rows pass the window.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    bruteForceTopKFor(emb, emb.filter(col("vec_id") < nQueries), k)

  /** Same exact scan, but for an explicit (small) query subset of the
    * embedding table — the single-query path for hybrid retrieval: the
    * corpus is scanned once against ONLY the given queries instead of
    * every id below a threshold.
    */
  def bruteForceTopKFor(emb: DataFrame, querySubset: DataFrame, k: Int): DataFrame = {
    val queries = querySubset
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("label").as("n_label"))
    corpus.join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"), col("cos"))
  }

  /** SRP-LSH bucket id for one table: h sign bits packed into a long —
    * the per-plane compositional form, kept for SINGLE-table uses
    * (SemDeDup's sub-split). Multi-table bucketing must go through
    * [[withBuckets]]'s one-pass [[graft.functions.SrpBuckets]] kernel
    * instead: tables·h separate cosine expressions in one projection
    * blow the generated method past HotSpot's huge-method limit and
    * the stage executes as interpreted bytecode (measured 43 s vs
    * 1.3 s over 200k vectors).
    */
  private def srpBucket(emb: Column, table: Int, h: Int, dims: Int): Column =
    (0 until h).map { p =>
      val plane = typedLit(
        (0 until dims).map(d => planeComponent(table, p, d).toFloat).toArray)
      when(cosine_sim(emb, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The float-plane family flattened for the one-pass kernel: same
    * (table, plane, dim) derivation as [[srpBucket]], widened from
    * float exactly as the cosine numerator widens it — buckets are
    * bit-identical to the compositional form, so previously persisted
    * SRP indexes stay valid.
    */
  private def planeMatrix(tables: Int, h: Int, dims: Int): Array[Double] =
    Array.tabulate(tables * h * dims) { i =>
      val t = i / (h * dims); val p = (i / dims) % h; val d = i % dims
      planeComponent(t, p, d).toFloat.toDouble
    }

  private[ext] def withBuckets(emb: DataFrame, h: Int, tables: Int, dims: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      posexplode(graft.functions.native.srp_buckets(
        col("embedding"), planeMatrix(tables, h, dims), tables, h, dims))
        .as(Seq("tbl", "bucket")))

  /** ANN via SRP-LSH: candidate ids from bucket collisions in any of
    * `tables` hash tables; exact cosine re-rank on the deduplicated
    * candidate pairs only.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
              h: Int = 8, tables: Int = 4, dims: Int = 64): DataFrame = {
    val bucketed = withBuckets(emb, h, tables, dims)
    val q = bucketed.filter(col("vec_id") < nQueries)
      .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
    val c = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("n_id"))
    val candidates = c.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .distinct()
    val qe = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ne = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("label").as("n_label"))
    candidates
      .join(broadcast(qe), Seq("q_id"))
      .join(ne, Seq("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"), col("cos"))
  }

  /** ANN via IVF (inverted-file index): a coarse quantizer assigns every
    * vector to its nearest centroid; a query probes only the `nprobe`
    * nearest cells. The quantizer is trained with [[kmeans]] (Lloyd
    * iterations over a bounded deterministic sample).
    *
    * Scale shape: the quantizer is nCells·dims floats — inherently tiny
    * (k-means centroids live on the driver between iterations anyway) —
    * so it is collected once and baked into the plan as literals. Cell
    * assignment is then a map-side argmax (`array_max` over
    * `struct(cosine, cell)`): zero shuffle, zero row blowup, vs. the
    * naive broadcast-nested-loop × nCells + row_number window which
    * shuffles nCells·N rows to pick a per-row maximum.
    * The index (vec_id → cell) is what a production pipeline would
    * persist alongside the embeddings, bucketed by cell.
    */
  /** Map-side m-nearest cells: score all nCells in one array expression,
    * sort it (nCells elements, per row, in registers — no shuffle), and
    * keep the top m cell ids. Struct sort orders by (sim, cell) asc, so
    * reverse gives sim-desc with cell-desc tiebreak — deterministic.
    */
  /** Top-m cells by cosine, (score desc, cid desc) — served by the
    * one-pass [[graft.functions.TopCells]] kernel (nCells compositional
    * cosine expressions + array_sort blew the huge-method limit at the
    * default 16 cells; assignments are bit-identical to the
    * compositional form, so persisted IVF/IVF-PQ tables stay valid).
    * Centroids widen float→double exactly as the cosine kernel widens
    * elements.
    */
  private[ext] def topCellsCol(centroids: Array[(Long, Array[Float])],
                               vecCol: Column, m: Int): Column = {
    val dims = centroids.head._2.length
    val cids = centroids.map(_._1)
    val flat = Array.tabulate(centroids.length * dims)(i =>
      centroids(i / dims)._2(i % dims).toDouble)
    graft.functions.native.top_cells(vecCol, cids, flat,
      centroids.length, dims, m)
  }

  /** The bounded query-vector collect (`vec_id < nQueries`) — the one
    * definition of "the query set", shared by candidate generation and
    * rerank so the two can never drift apart. Same driver-artifact
    * contract as the PQ lookup tables.
    */
  /** Cached for file-determined frames ([[Artifact.cachedByInputFiles]]):
    * four index searchers plus the recall report each re-collected the
    * SAME bounded query set per serve — one eager driver job each.
    */
  private[ext] def collectQueries(emb: DataFrame, nQueries: Int): Array[(Long, Array[Float])] = {
    val bounded = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
    Artifact.cachedByInputFiles(bounded, s"queries:$nQueries") {
      bounded.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    }
  }

  /** Exact-cosine rerank of an id-level candidate set `(q_id, n_id,
    * n_label)`: the only stage that reads the full-precision embedding
    * column. Query side broadcast; per-query top-k via WindowGroupLimit.
    */
  private[ext] def rerankExact(emb: DataFrame, cands: DataFrame,
                               nQueries: Int, k: Int): DataFrame = {
    val qe = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val ne = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    cands
      .join(broadcast(qe), Seq("q_id"))
      .join(ne, Seq("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"), col("cos"))
  }

  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
              nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val centroids: Array[(Long, Array[Float])] =
      kmeans(trainingSample(emb, nCells * 16), nCells)
        .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    def topCells(vecCol: Column, m: Int): Column = topCellsCol(centroids, vecCol, m)
    val index = emb
      .withColumn("cell_id", element_at(topCells(col("embedding"), 1), 1))
      .select(col("cell_id"), col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("label").as("n_label"))
    // search: probe the nprobe nearest cells per query
    val probes = emb.filter(col("vec_id") < nQueries)
      .withColumn("cell_id", explode(topCells(col("embedding"), nprobe)))
      .select(col("cell_id"), col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    index.join(broadcast(probes), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_emb"), col("n_id"), col("n_emb"), col("n_label"))
      .distinct()
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("n_label"), col("cos"))
  }

  /** ANN via product quantization (PQ): the corpus is stored as m
    * sub-codes (one byte-sized code per subspace) instead of dims
    * floats — the memory-scale path (dims=64 floats → m=8 codes is a
    * 32× compression), with search by asymmetric distance computation
    * (ADC): the query stays exact, the corpus is looked up in a per-
    * query table of query-subvector · codeword products.
    *
    * Scale shape: codebooks (m · codesPerSub · subDims floats) are the
    * tiny driver-resident artifact (k-means stand-in: hash-ordered
    * corpus sample, like IVF's quantizer); encoding is a map-side
    * argmin per subspace (array_max over struct — zero shuffle, like
    * the IVF assignment); ADC scoring is m literal-array lookups per
    * (row, query) — map-side; only the per-query top-`rerank`
    * candidates (WindowGroupLimit) and the exact-cosine rerank touch a
    * shuffle. The full-precision embedding column is read only by the
    * rerank join, never by the scan stage — at 100 TB the scan runs on
    * the codes table alone.
    */
  def pqTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
             m: Int = 8, codesPerSub: Int = 16, rerank: Int = 50): DataFrame = {
    val sample = trainingSample(emb, codesPerSub * 16)
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val subDims = dims / m
    val codebook = pqTrain(sample, m, subDims, codesPerSub)
    val encoded = emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      pqEncodeCol(codebook, subDims, col("embedding")).as("codes"))
    pqAdcSearch(encoded, emb, codebook, subDims, nQueries, k, rerank)
  }

  /** Per-subspace codebooks: k-means over the sample's subvector slices. */
  private[ext] def pqTrain(sample: Array[Array[Float]], m: Int, subDims: Int,
                           codesPerSub: Int): Array[Array[Array[Float]]] =
    Array.tabulate(m) { j =>
      kmeans(sample.map(_.slice(j * subDims, (j + 1) * subDims)), codesPerSub)
    }

  /** Map-side PQ encoding: argmin-L2 per subspace via argmax(dot − |c|²/2)
    * — codeword norms folded in driver-side so the per-row work is one
    * dot product per codeword. Zero shuffle, zero row blowup. Runs in
    * the one-pass [[graft.functions.PqEncode]] kernel (m·codesPerSub
    * compositional dot expressions exceeded the huge-method limit — the
    * SrpBuckets lesson); codes are bit-identical to the compositional
    * form, so persisted code tables stay valid.
    */
  private[ext] def pqEncodeCol(codebook: Array[Array[Array[Float]]],
                               subDims: Int, embCol: Column): Column = {
    val m = codebook.length
    val codesPerSub = codebook(0).length
    val flat = Array.tabulate(m * codesPerSub * subDims) { i =>
      val j = i / (codesPerSub * subDims)
      val c = (i / subDims) % codesPerSub
      val d = i % subDims
      codebook(j)(c)(d).toDouble
    }
    val halfNormSq = Array.tabulate(m * codesPerSub) { i =>
      0.5 * codebook(i / codesPerSub)(i % codesPerSub)
        .map(x => x.toDouble * x).sum
    }
    graft.functions.native.pq_encode(embCol, flat, halfNormSq, m, subDims, codesPerSub)
  }

  /** ADC search over an encoded `(n_id, n_label, codes)` table: per-query
    * lookup tables baked in as literal arrays, top-`rerank` candidates by
    * approximate score, then exact-cosine rerank. The full-precision
    * embedding column is read only by the query collect and the rerank
    * join — never by the codes scan.
    */
  private[ext] def pqAdcSearch(encoded: DataFrame, emb: DataFrame,
                               codebook: Array[Array[Array[Float]]], subDims: Int,
                               nQueries: Int, k: Int, rerank: Int): DataFrame = {
    val m = codebook.length
    val codesPerSub = codebook(0).length
    val queries = collectQueries(emb, nQueries)
    // flattened [query][subspace][code] dot-product tables, one
    // reference object for the one-pass ADC kernel (nQueries·m
    // compositional element_at lookups exceeded the huge-method limit)
    val luts = Array.tabulate(queries.length * m * codesPerSub) { i =>
      val q = i / (m * codesPerSub)
      val j = (i / codesPerSub) % m
      val c = i % codesPerSub
      val qv = queries(q)._2
      codebook(j)(c).zip(qv.slice(j * subDims, (j + 1) * subDims))
        .map { case (a, b) => a.toDouble * b }.sum
    }
    val qids = queries.map(_._1)
    val candidates = encoded
      .select(col("n_id"), col("n_label"),
        posexplode(graft.functions.native.pq_adc_scores(
          col("codes"), luts, queries.length, m, codesPerSub))
          .as(Seq("qi", "adc")))
      .select(element_at(typedLit(qids), col("qi") + 1).as("q_id"),
        col("n_id"), col("n_label"), col("adc"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cand_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id").asc)))
      .filter(col("cand_rank") <= rerank)
      .select(col("q_id"), col("n_id"), col("n_label"))
    rerankExact(emb, candidates, nQueries, k)
  }

  /** Embedding-cosine near-duplicate pairs: top-K highest-cosine pairs
    * among LSH candidates (top-K instead of a fixed threshold so the
    * result is non-empty on corpora without true near-dups).
    */
  def cosineNearDupPairs(emb: DataFrame, topK: Int = 25,
                         h: Int = 6, tables: Int = 4, dims: Int = 64): DataFrame = {
    val bucketed = withBuckets(emb, h, tables, dims)
      .select(col("tbl"), col("bucket"), col("vec_id"))
    val a = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("a_id"))
    val b = bucketed.select(col("tbl"), col("bucket"), col("vec_id").as("b_id"))
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val ea = emb.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val eb = emb.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    candidates
      .join(ea, Seq("a_id"))
      .join(eb, Seq("b_id"))
      .withColumn("cos", round(cosine(col("a_emb"), col("b_emb")), 6))
      .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
      .limit(topK)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Embedding floats as exact integer micro-units (the pca_covariance
    * casting chain: float → double → decimal(18,6) HALF_UP → ×1e6
    * integer). Every downstream sum/product over these longs is exact
    * integer arithmetic — the cross-engine determinism backbone for
    * the hash-verified cosine queries.
    */
  private[ext] def microUnits(c: Column): Column =
    transform(c, x =>
      ((x.cast("double").cast(DecimalType(18, 6)) * lit(1000000L))
        .cast("long")).cast("double"))

  /** Per-vector exact prep for the replayable cosine queries: micro-unit
    * array (as integer-valued doubles) plus its squared norm. Computed
    * ONCE per vector — the interpreted `transform` touches N·dims
    * elements total; every per-PAIR operation downstream is the
    * codegen'd native dot kernel. Exactness: |xu| ≤ 1e6 so products ≤
    * 1e12 and 64-term running sums ≤ 6.4e13 — every intermediate is an
    * integer below 2^53, and double addition of exactly-representable
    * integers is exact regardless of order. So the double-accumulating
    * [[graft.functions.DotProduct]] kernel returns the SAME integer the
    * oracle's BIGINT SUM does, at codegen speed.
    */
  private def microPrep(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), microUnits(col("embedding")).as("eu"))
      .withColumn("nrm",
        graft.functions.native.dot_product(col("eu"), col("eu")))

  /** Terminal cosine from exact prepped inputs: ONE double expression —
    * num / (√na · √nb) — over three exactly-represented integers. IEEE
    * sqrt/mul/div are correctly rounded in both engines, so the result
    * hash-verifies with no rounding step at all. Zero-norm vectors
    * score 0.
    */
  private def microCos(num: Column, na: Column, nb: Column): Column =
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(num / (sqrt(na) * sqrt(nb)))

  /** md5-derived SRP hyperplane coefficient: first byte of
    * md5("t_p_d") shifted to [-128, 127]. Pure integers, so the sign
    * test below is exact — and DuckDB rebuilds the identical planes
    * from its own md5() (the CMS/winnow md5-twin discipline). */
  private def md5PlaneComponent(table: Int, plane: Int, dim: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${table}_${plane}_${dim}".getBytes("UTF-8"))
    (h(0) & 0xFF) - 128
  }

  /** The md5-integer plane family flattened for the one-pass kernel:
    * bit p of bucket t is the sign of an exact integer-valued dot
    * product (|coef| ≤ 128, |xu| ≤ 1e6, 64 dims → sums < 2^34 — exact
    * in the double-accumulating kernel). No rounding enters the bucket
    * decision, so candidate generation is bit-identical across engines
    * — the property that lets [[cosineNearDupPairsExact]] carry a full
    * DuckDB oracle where the float-plane family cannot.
    */
  private def md5PlaneMatrix(tables: Int, h: Int, dims: Int): Array[Double] =
    Array.tabulate(tables * h * dims) { i =>
      val t = i / (h * dims); val p = (i / dims) % h; val d = i % dims
      md5PlaneComponent(t, p, d).toDouble
    }

  /** Hash-verifiable embedding-cosine near-dup pairs: the
    * [[cosineNearDupPairs]] dataflow (SRP-bucket candidates → exact
    * cosine → global top-K) with every nondeterminism squeezed out —
    * md5-integer planes ([[srpMd5Bucket]]) and micro-unit cosine
    * ([[microCosine]]), so a DuckDB oracle replays candidate
    * generation AND scoring bit-for-bit. Same scale shape as the float
    * twin: one bucket-join shuffle, pairs bounded by bucket
    * collisions, never all-pairs.
    */
  def cosineNearDupPairsExact(emb: DataFrame, topK: Int = 25,
                              h: Int = 6, tables: Int = 4,
                              dims: Int = 64): DataFrame = {
    val prep = microPrep(emb).localCheckpoint()
    val withB = prep
      .select(col("vec_id"),
        posexplode(graft.functions.native.srp_buckets(
          col("eu"), md5PlaneMatrix(tables, h, dims), tables, h, dims))
          .as(Seq("tbl", "bucket")))
    val a = withB.select(col("tbl"), col("bucket"), col("vec_id").as("a_id"))
    val b = withB.select(col("tbl"), col("bucket"), col("vec_id").as("b_id"))
    val candidates = a.join(b, Seq("tbl", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val ea = prep.select(col("vec_id").as("a_id"), col("eu").as("a_eu"),
      col("nrm").as("a_n"))
    val eb = prep.select(col("vec_id").as("b_id"), col("eu").as("b_eu"),
      col("nrm").as("b_n"))
    candidates
      .join(ea, Seq("a_id"))
      .join(eb, Seq("b_id"))
      .withColumn("cos", microCos(
        graft.functions.native.dot_product(col("a_eu"), col("b_eu")),
        col("a_n"), col("b_n")))
      .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
      .limit(topK)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Semantic decontamination — the paraphrase-robust complement of the
    * shingle-exact/Bloom decon family: a benchmark item REWORDED into the
    * training corpus shares no 5-grams (the exact gate passes it) but its
    * embedding stays within a small cosine radius of the original. Finds
    * (corpus, benchmark, cos) pairs via md5-integer SRP buckets — the
    * benchmark side's bucket table is eval-suite-sized and BROADCASTS, so
    * candidate generation is a map-side join the corpus never shuffles
    * for (the decontaminate-broadcast scale shape, never all-pairs) —
    * and scores candidates with the exact micro-unit cosine, so a DuckDB
    * oracle replays candidate generation AND scoring bit-for-bit (the
    * [[cosineNearDupPairsExact]] discipline, asymmetric sides).
    *
    * Recall contract, same as the SRP near-dup family: a pair at cosine
    * ≥ radius collides in at least one of the `tables` bucket tables
    * w.h.p. (near-identical vectors agree on ~every hyperplane sign);
    * the spec plants a paraphrase-perturbed vector and asserts it is
    * caught. The returned frame is ALL scored candidates — callers
    * threshold ([[removeSemanticContamination]]) or rank.
    *
    * The bucket resolution is ADAPTIVE in the benchmark's cardinality:
    * h = the smallest ≥6 with 2^h · 2 ≥ |bench| (pure integer search,
    * so the SQL oracle derives the identical h). With FIXED h the
    * candidate count is corpus·bench/2^h per table — quadratic when
    * both sides grow (measured: the h=6 first cut took 133 s at the
    * 100× fixture, where 20k bench vectors shared 64 buckets); scaling
    * buckets with the bench side pins expected bench occupancy at ~2,
    * making candidates ~2·corpus·tables — linear in the corpus, which
    * is the side that is actually large in production. The recall cost
    * of finer buckets concentrates where it should: at the production
    * radius (≥0.99, true paraphrases agree on ~every hyperplane) a
    * pair still collides w.h.p. even at h=14; borderline-radius
    * deployments raise `tables` instead.
    */
  def semanticContamination(bench: DataFrame, corpus: DataFrame,
                            tables: Int = 4, dims: Int = 64): DataFrame = {
    val bPrep = microPrep(bench).localCheckpoint()
    val cPrep = microPrep(corpus).localCheckpoint()
    val benchN = bPrep.count()
    var h = 6
    while ((1L << h) * 2L < benchN && h < 30) h += 1
    def buckets(p: DataFrame, idCol: String): DataFrame = p
      .select(col("vec_id").as(idCol),
        posexplode(graft.functions.native.srp_buckets(
          col("eu"), md5PlaneMatrix(tables, h, dims), tables, h, dims))
          .as(Seq("tbl", "bucket")))
    val cand = buckets(cPrep, "corpus_id")
      .join(broadcast(buckets(bPrep, "bench_id")), Seq("tbl", "bucket"))
      .select(col("corpus_id"), col("bench_id"))
      .distinct()
    cand
      .join(cPrep.select(col("vec_id").as("corpus_id"), col("eu").as("c_eu"),
        col("nrm").as("c_n")), Seq("corpus_id"))
      .join(broadcast(bPrep.select(col("vec_id").as("bench_id"),
        col("eu").as("b_eu"), col("nrm").as("b_n"))), Seq("bench_id"))
      .withColumn("cos", microCos(
        graft.functions.native.dot_product(col("c_eu"), col("b_eu")),
        col("c_n"), col("b_n")))
      .select(col("corpus_id"), col("bench_id"), col("cos"))
  }

  /** The removal form: the corpus with every document whose embedding
    * sits within `radius` cosine of some benchmark embedding dropped —
    * one broadcast SRP probe plus a left-anti join on the flagged set.
    * Error direction mirrors the Bloom gate: SRP can only MISS a
    * borderline pair (under-removal at the radius boundary), never
    * flag an unrelated one — flagged docs carry an exact verified
    * cosine.
    */
  def removeSemanticContamination(bench: DataFrame, corpus: DataFrame,
                                  radius: Double, tables: Int = 4,
                                  dims: Int = 64): DataFrame = {
    val flagged = semanticContamination(bench, corpus, tables, dims)
      .filter(col("cos") >= radius)
      .select(col("corpus_id").as("vec_id"))
      .distinct()
    corpus.join(flagged, Seq("vec_id"), "left_anti")
  }

  /** Hash-verifiable SemDeDup: within-cluster cosine pairs where the
    * cluster assignment is the FULL-CORPUS deterministic Lloyd fit
    * ([[Clustering.fitted]] — the same fit the cluster_kmeans_* oracles
    * replay end-to-end in SQL) and scoring is [[microCosine]]. This is
    * SemDeDup's own structure (cluster → within-cluster cosine) with a
    * replayable quantizer; [[semanticTopKPairs]] remains the at-scale
    * twin with the sampled quantizer, maxCell skew guard, and SRP
    * sub-split.
    */
  def semanticPairsExact(spark: org.apache.spark.sql.SparkSession,
                         emb: DataFrame, key: String,
                         topK: Int = 25): DataFrame = {
    val assigned = Clustering.fitted(spark, emb, key)
      .select(col("cluster").as("cell"), col("vec_id"), col("embedding"))
    val prep = microPrep(assigned)
      .join(assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val a = prep.select(col("cell"), col("vec_id").as("a_id"),
      col("eu").as("a_eu"), col("nrm").as("a_n"))
    val b = prep.select(col("cell"), col("vec_id").as("b_id"),
      col("eu").as("b_eu"), col("nrm").as("b_n"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", microCos(
        graft.functions.native.dot_product(col("a_eu"), col("b_eu")),
        col("a_n"), col("b_n")))
      .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
      .limit(topK)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs via
    * k-means clustering — cluster the corpus with a coarse quantizer,
    * then compare pairs only WITHIN a cluster, never across. The
    * cluster assignment is the IVF build's map-side kernel
    * ([[topCellsCol]] over driver-trained centroids — the bounded-model
    * MLlib contract); the within-cell self-join is a sort-merge join on
    * the cell key whose pair stream is filtered/ranked in the SAME
    * stage, so the quadratic blowup is never materialized or shuffled.
    *
    * Scale levers, per the paper's own deployment: cell count grows
    * with the corpus — but note BOTH cost terms: within-cell pair work
    * is O(N²/nCells) while assignment is O(N·nCells), so nCells ∝ √N
    * balances them (nCells ∝ N keeps E[cell] constant but turns the
    * assignment pass quadratic); the assignment is materialized once
    * below so the trade is real, not tripled. The `maxCell` guard
    * catches skewed clusters anyway: cells over the cap are sub-split
    * by an SRP sign bucket ([[srpBucket]]), which near-identical
    * vectors co-occupy with high probability — recall loss is confined
    * to the pathological cells instead of capsizing the join.
    *
    * Returns the top-`topK` highest-cosine within-cell pairs (the
    * fixture corpus has no true near-dups, so a fixed threshold would
    * be empty — same contract as [[cosineNearDupPairs]]); real dedup
    * applies a threshold and feeds the pairs to
    * [[Dedup.duplicateGroups]].
    */
  def semanticTopKPairs(emb: DataFrame, nCells: Int = 16, topK: Int = 25,
                        maxCell: Int = 4096, subH: Int = 4,
                        dims: Int = 64): DataFrame = {
    val centroids = kmeans(trainingSample(emb, nCells * 16), nCells)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    // assign ONCE and materialize: the assignment kernel is O(dims ·
    // nCells) per row, and this frame feeds three consumers (the size
    // census and both self-join sides) — left lazy, each would re-run
    // it and the per-row cost would triple, burying the win that
    // corpus-proportional cell counts buy (measured 20.6 s → 7 s at
    // 10× sf0.1 with 160 cells). At deployment scale this frame is the
    // persisted IVF assignment table ([[AnnIndex.buildIvf]]); here it
    // is pinned for the query's lifetime instead.
    val assigned = emb.withColumn("cell",
      element_at(topCellsCol(centroids, col("embedding"), 1), 1))
      .localCheckpoint()
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val sub = assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("sub",
        when(col("n") > maxCell, srpBucket(col("embedding"), 0, subH, dims))
          .otherwise(lit(0L)))
      .select(col("cell"), col("sub"), col("vec_id"), col("embedding"))
    val a = sub.select(col("cell"), col("sub"),
      col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = sub.select(col("cell"), col("sub"),
      col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    a.join(b, Seq("cell", "sub"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(cosine(col("a_emb"), col("b_emb")), 6))
      .orderBy(col("cos").desc, col("a_id").asc, col("b_id").asc)
      .limit(topK)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos"))
  }

  /** Int8 scalar quantization (SQ8) reconstruction report — the 4×
    * storage-compression stage next to PQ's 32×: per-dimension min/max
    * from one partial-aggregated pass (64 cells, broadcast back), code
    * = clamp(round((x−lo)/scale), 0..255), and per-vector MSE /
    * max-abs error of the dequantized embedding. Quantizing is one
    * map pass once the 64-row stats table rides along.
    *
    * Determinism: lo/hi are exact float extrema; every ratio is one
    * pinned double expression; (x−lo)/scale ≥ 0 so HALF_UP and
    * away-from-zero rounding agree; err snaps to the 9-dp grid and is
    * squared in exact decimal arithmetic (err² lives at 1e-7, and a
    * fine-decimal cast of the raw double was the one boundary-flaky
    * step).
    */
  def sq8ReconError(emb: DataFrame): DataFrame = {
    val x = emb.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "xf")))
      .select(col("vec_id"), col("i"), col("xf").cast("double").as("x"))
    val stats = x.groupBy(col("i"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val scale = (col("hi") - col("lo")) / lit(255)
    val code = least(greatest(round((col("x") - col("lo")) / scale, 0), lit(0)),
      lit(255))
    val recon = when(col("hi") === col("lo"), col("lo"))
      .otherwise(col("lo") + code * scale)
    val err = col("x") - recon
    // err snaps to the 9-dp grid (double-input rounds are
    // engine-dependent near half-grid boundaries with a window ∝ the
    // grid — ~5e-6/op at 12 dp was enough to flake 3 of 320k cells at
    // sf0.1, negligible at 9); the SQUARE then runs in exact decimal
    // arithmetic so no double is ever rounded at fine precision
    val e9 = round(err, 9).cast("decimal(12,9)")
    x.join(broadcast(stats), Seq("i"))
      .select(col("vec_id"), (e9 * e9).cast("decimal(32,18)").as("esq"),
        round(abs(err), 9).as("aerr"))
      .groupBy(col("vec_id"))
      .agg(
        // divisor = the vector's actual element count, not an assumed
        // dimensionality — MSE stays right for non-64-dim embeddings
        round(sum(col("esq")).cast("double") / count(lit(1)), 12).as("mse"),
        max(col("aerr")).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }
}
