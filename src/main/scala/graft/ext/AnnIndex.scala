package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: build once, serve many queries from the stored
  * index — the production lifecycle [[Similarity]]'s in-memory paths
  * (`ivfTopK`/`pqTopK`) only sketch. (Reference context: the serving
  * stores in King-04/Music-Streaming-Data-Pipeline-V2 are load-once /
  * query-many DynamoDB tables — this is the same shape for vector
  * search.)
  *
  * Layout per index under one directory:
  *  - `centroids/`   — coarse-quantizer cells `(cell_id, centroid)`;
  *    tiny (nCells rows), collected at query time and baked into the
  *    plan as literals.
  *  - `codebook/`    — PQ codewords `(sub, code, codeword)`; tiny.
  *  - `stats/`       — per-cell build statistics `(cell_id, n,
  *    mean_qerr)`; tiny. The drift baseline: appends compare their
  *    batch's occupancy/quantization-error profile against the build's
  *    ([[ivfDrift]]) so a shifted ingest distribution raises a signal
  *    instead of silently degrading recall.
  *  - `assignments/` — the big table, one row per corpus vector,
  *    **partitioned by `cell_id`** so probing `nprobe` cells is static
  *    partition pruning: a query with 4 probes reads 4/nCells of the
  *    index regardless of corpus size. Columns are ids + a `row_hash`
  *    content hash (+ PQ codes for IVF-PQ) only — the raw embedding
  *    column stays in the corpus table and is read exclusively by the
  *    exact-cosine rerank join ([[Similarity.rerankExact]]) and the
  *    bounded query-vector collect. `row_hash` makes the insert-only
  *    append contract checkable: a resubmitted id with CHANGED content
  *    fails fast instead of silently serving the stale vector.
  *  - `codes/`       — flat PQ code table `(n_id, n_label, codes,
  *    row_hash)`, 32× smaller than the embeddings it stands in for; the
  *    ADC scan reads only this.
  *
  * Probe-cell selection runs driver-side over the collected centroid
  * table (same bounded-artifact contract as the PQ lookup tables): that
  * makes the probed cell set a plan-time constant, which is exactly what
  * turns into `PartitionFilters` on the assignments scan. At 100 TB the
  * build is one pass over the corpus (map-side argmax assignment, no
  * shuffle before the partitioned write) and each query reads
  * nprobe/nCells of the index plus a candidate-bounded rerank.
  *
  * Append lifecycle: [[appendIvf]]/[[appendPq]]/[[appendIvfPq]] are
  * O(batch) and crash-atomic (pending marker — see [[Artifact]]);
  * accumulated per-batch file sets are rewritten into sized files by
  * [[compact]] without touching content or metadata; quantizer drift is
  * measured ([[ivfDrift]]) and gated ([[appendIvfOrRebuild]]).
  */
object AnnIndex {

  /** Index root for a fixture dir, keyed by its basename so sf0.01 and
    * sf0.1 never share an index. Lives under target/ (build artifact).
    */
  def defaultRoot(sfDir: String): String =
    s"target/ann_index/${new java.io.File(sfDir).getName}"

  /** Corpus fingerprint over (vec_id, embedding, label) — see
    * [[Artifact.fingerprint]]; baked into the index metadata so a
    * regenerated fixture (same path, new vectors OR new labels — the
    * indexes persist `label`) can never serve stale rows.
    */
  private def fingerprint(emb: DataFrame): String =
    Artifact.fingerprint(emb, col("vec_id"), col("embedding"), col("label"))

  /** Per-row content hash persisted in the index — the insert-only
    * append contract's evidence. Must hash exactly the columns the
    * corpus [[fingerprint]] hashes (minus the id).
    */
  private def rowHash: Column = xxhash64(col("embedding"), col("label"))

  /** Build-if-needed via [[Artifact.ensure]]: the index is served as
    * long as its metadata line (build parameters + corpus fingerprint)
    * matches; a parameter change or a changed corpus triggers a rebuild.
    * A fresh build has nothing logically deleted — any tombstone set
    * from the previous generation is cleared.
    */
  private def ensure(spark: SparkSession, dir: String, meta: String)(build: => Unit): String =
    Artifact.ensure(spark, dir, meta) {
      build
      val p = tombstonePath(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  // ---------------------------------------------------------------- IVF

  def ensureIvf(spark: SparkSession, emb: DataFrame, dir: String,
                nCells: Int = 16): String =
    ensure(spark, dir, s"ivf v2 nCells=$nCells fp=${fingerprint(emb)}") {
      buildIvf(spark, emb, dir, nCells)
    }

  /** One corpus pass per output: train the coarse quantizer on a bounded
    * sample, assign every vector to its cell map-side, write `(vec_id,
    * label, row_hash)` partitioned by `cell_id`, plus the per-cell build
    * stats (the drift baseline). No shuffle other than the writes' own
    * file layout and the tiny stats aggregate.
    */
  def buildIvf(spark: SparkSession, emb: DataFrame, dir: String,
               nCells: Int = 16): Unit = {
    val centroids = Similarity.kmeans(Similarity.trainingSample(emb, nCells * 16), nCells)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    writeCentroids(spark, centroids, s"$dir/centroids")
    val assigned = emb.withColumn("cell_id",
      element_at(Similarity.topCellsCol(centroids, col("embedding"), 1), 1))
    assigned
      .select(col("vec_id"), col("label"), rowHash.as("row_hash"), col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$dir/assignments")
    writeCellStats(spark, assigned, centroids, s"$dir/stats")
  }

  /** Append a batch of new vectors to an existing IVF index without a
    * rebuild: the batch is assigned with the STORED centroids (the
    * quantizer stays fixed — the standard IVF lifecycle; re-train only
    * on drift, see [[ivfDrift]]) and written into the partitioned layout
    * in append mode. The freshness fingerprint is additive (count +
    * hash-sum), so the stored metadata is updated arithmetically: a
    * later [[ensureIvf]] over the union corpus matches without scanning
    * the old data — append is O(batch), independent of index size. The
    * data write and the fingerprint bump run under the pending marker,
    * so a crash between them forces a rebuild instead of serving the
    * half-appended index against pre-append metadata.
    */
  def appendIvf(spark: SparkSession, newEmb: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "ivf ")   // before any destructive write
    val fresh = freshRows(spark, dir, newEmb,
      spark.read.parquet(s"$dir/assignments").select(col("vec_id"), col("row_hash")))
    if (!fresh.isEmpty) {
      val centroids = loadCentroids(spark, s"$dir/centroids")
      Artifact.beginMutation(spark, dir)
      fresh.withColumn("cell_id",
          element_at(Similarity.topCellsCol(centroids, col("embedding"), 1), 1))
        .select(col("vec_id"), col("label"), rowHash.as("row_hash"), col("cell_id"))
        .write.mode("append").partitionBy("cell_id").parquet(s"$dir/assignments")
      Artifact.addToFingerprint(spark, dir, "ivf ", fingerprint(fresh))
      Artifact.endMutation(spark, dir)
    }
  }

  // ------------------------------------------------ logical deletion

  private def tombstonePath(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/tombstones")

  private def hasTombstones(spark: SparkSession, dir: String): Boolean = {
    val p = tombstonePath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private[graft] def loadTombstones(spark: SparkSession, dir: String): DataFrame =
    if (hasTombstones(spark, dir)) spark.read.parquet(tombstonePath(dir).toString)
    else spark.range(0).select(col("id").as("vec_id"))

  /** Mask a frame against the index's tombstones — a plan no-op in the
    * common nothing-deleted case.
    */
  private def maskIds(spark: SparkSession, dir: String, df: DataFrame,
                      idCol: String): DataFrame =
    if (!hasTombstones(spark, dir)) df
    else df.join(broadcast(loadTombstones(spark, dir).select(col("vec_id").as(idCol))),
      Seq(idCol), "left_anti")

  /** Delete vectors from a persisted index in O(removed): the ids are
    * masked via a tombstone set (every serve path anti-joins it), and
    * the stored corpus fingerprint is adjusted arithmetically so a
    * later ensure over the shrunken corpus SERVES. Physical cleanup
    * happens at [[compact]], which drops the masked rows and clears the
    * set. Until then, re-inserting a removed id is REFUSED (the append
    * guard fails fast): unmasked old rows would duplicate the id and
    * break the searchers' (q_id, n_id)-uniqueness — delete → compact →
    * re-insert is the supported order. Works for every index kind (the
    * mask applies to assignments/codes/buckets alike). `removed` must
    * carry (vec_id, embedding, label) — the removed CONTENT, for the
    * fingerprint subtraction.
    */
  def removeVecs(spark: SparkSession, removed: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "")   // any built, non-pending index
    val r = removed.select(col("vec_id"), col("embedding"), col("label"))
      .localCheckpoint()
    if (!r.isEmpty) {
      Artifact.beginMutation(spark, dir)
      val union = loadTombstones(spark, dir)
        .unionByName(r.select(col("vec_id"))).distinct().localCheckpoint()
      val fs = tombstonePath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/tombstones.next")
      fs.delete(tmp, true)
      union.coalesce(1).write.parquet(tmp.toString)
      fs.delete(tombstonePath(dir), true)
      if (!fs.rename(tmp, tombstonePath(dir)))
        throw new IllegalStateException(s"tombstone swap failed at $dir")
      // meta prefix up to " fp=" is preserved by the arithmetic update;
      // kind-specific prefixes were validated by requireKind above
      Artifact.subtractFromFingerprint(spark, dir, "", fingerprint(r))
      Artifact.endMutation(spark, dir)
    }
  }

  /** Idempotent-append guard: drop batch rows whose vec_id is already
    * indexed (a double-submitted batch must be a no-op — duplicate rows
    * would both break the searchers' (q_id, n_id)-uniqueness invariant
    * and desync the additive fingerprint from the true union corpus) —
    * and FAIL FAST on a resubmitted id whose content changed (append is
    * insert-only: silently dropping the row would keep serving the
    * stale vector while the fingerprint still matched — route updates
    * through a rebuild instead) or whose id is tombstoned (old masked
    * rows would unmask as duplicates; compact first, then re-insert).
    * One narrow (id, hash) read of the index; the batch-bounded
    * intersection is checkpointed because it feeds both the change
    * check and the anti-join.
    */
  private def freshRows(spark: SparkSession, dir: String,
                        newEmb: DataFrame, indexed: DataFrame): DataFrame = {
    val Seq(idName, hashName) = indexed.columns.toSeq
    if (hasTombstones(spark, dir)) {
      val reinserted = loadTombstones(spark, dir)
        .join(broadcast(newEmb.select(col("vec_id"))), Seq("vec_id"), "left_semi")
        .take(5).map(_.getLong(0))
      if (reinserted.nonEmpty)
        throw new IllegalStateException(
          s"ids ${reinserted.mkString(", ")} were removed from this index — " +
            "compact it to drop the masked rows before re-inserting them")
    }
    val matched = indexed
      .select(col(idName).as("vec_id"), col(hashName).as("stored_hash"))
      .join(broadcast(newEmb.select(col("vec_id"), rowHash.as("batch_hash"))),
        Seq("vec_id"))
      .localCheckpoint()
    val changed = matched.filter(col("batch_hash") =!= col("stored_hash"))
      .select(col("vec_id")).take(5).map(_.getLong(0))
    if (changed.nonEmpty)
      throw new IllegalStateException(
        s"append is insert-only: ids resubmitted with changed content " +
          s"(${changed.mkString(", ")}${if (changed.length == 5) ", …" else ""}) — " +
          "rebuild the index over the corrected corpus")
    newEmb.join(broadcast(matched.select(col("vec_id"))), Seq("vec_id"), "left_anti")
      .localCheckpoint()
  }

  /** Serve top-k from the persisted IVF index: probe cells chosen
    * driver-side (static partition pruning on the assignments scan),
    * candidates are ids-only until the exact rerank.
    */
  def searchIvf(spark: SparkSession, emb: DataFrame, dir: String,
                nQueries: Int = 10, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val centroids = loadCentroids(spark, s"$dir/centroids")
    val queries = Similarity.collectQueries(emb, nQueries)
    // cell_id comes back from the partitioned layout as int — keep the
    // probe constants int too, so the IN filter lands in PartitionFilters
    // rather than behind a cast.
    val probes: Seq[(Int, Long)] = queries.toSeq.flatMap { case (qid, qv) =>
      nearestCells(centroids, qv, nprobe).map(cid => (cid.toInt, qid))
    }
    val allCells = probes.map(_._1).distinct
    import spark.implicits._
    val probeDf = probes.toDF("cell_id", "q_id")
    val index = maskIds(spark, dir, spark.read.parquet(s"$dir/assignments")
        .filter(col("cell_id").isin(allCells: _*)), "vec_id")
      .select(col("cell_id"), col("vec_id").as("n_id"), col("label").as("n_label"))
    // no distinct needed: each vector lives in exactly one cell partition
    // and probes has one row per (cell, query), so (q_id, n_id) is unique
    val cands = index.join(broadcast(probeDf), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("n_label"))
    Similarity.rerankExact(emb, cands, nQueries, k)
  }

  // -------------------------------------------------------------- drift

  /** Build-vs-batch quantizer fit: `occupancyTv` is the total-variation
    * distance between the two cell-occupancy distributions; `qerrRatio`
    * the batch's mean quantization error (1 − cosine to the assigned
    * centroid) over the build's. Both computed from bounded artifacts
    * (nCells rows each side).
    */
  final case class DriftStats(buildN: Long, batchN: Long,
                              buildQerr: Double, batchQerr: Double,
                              occupancyTv: Double) {
    def qerrRatio: Double =
      if (buildQerr <= 0.0) { if (batchQerr <= 0.0) 1.0 else Double.PositiveInfinity }
      else batchQerr / buildQerr
    def drifted(maxQerrRatio: Double = 1.5, maxOccupancyTv: Double = 0.5): Boolean =
      qerrRatio > maxQerrRatio || occupancyTv > maxOccupancyTv
  }

  /** Per-cell `(cell_id, n, mean_qerr)` for an assigned frame — written
    * at build time as the drift baseline, recomputed per batch by
    * [[ivfDrift]]. One tiny aggregate (nCells rows).
    */
  private def cellStats(assigned: DataFrame,
                        centroids: Array[(Long, Array[Float])]): DataFrame = {
    val centMat = typedLit(centroids.map(_._2.toSeq).toSeq)
    assigned
      .withColumn("qerr", lit(1.0) - Similarity.cosine(col("embedding"),
        element_at(centMat, (col("cell_id") + 1).cast("int"))))
      .groupBy(col("cell_id").cast("long").as("cell_id"))
      .agg(count(lit(1)).as("n"), avg(col("qerr")).as("mean_qerr"))
  }

  private def writeCellStats(spark: SparkSession, assigned: DataFrame,
                             centroids: Array[(Long, Array[Float])],
                             path: String): Unit =
    cellStats(assigned, centroids)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Measure a batch's drift against the stored quantizer of an IVF or
    * IVF-PQ index: assign the batch with the STORED centroids, compare
    * its occupancy/quantization-error profile to the build's persisted
    * `stats/`. The signal that makes "re-train only on drift" actionable
    * — an appended batch from a shifted distribution degrades recall
    * with no other symptom.
    */
  def ivfDrift(spark: SparkSession, batch: DataFrame, dir: String): DriftStats = {
    Artifact.requireKind(spark, dir, "ivf")   // "ivf v2 …" or "ivfpq v2 …"
    val centroids = loadCentroids(spark, s"$dir/centroids")
    val assigned = batch.withColumn("cell_id",
      element_at(Similarity.topCellsCol(centroids, col("embedding"), 1), 1))
    def toMap(df: DataFrame): Map[Long, (Long, Double)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val build = toMap(spark.read.parquet(s"$dir/stats"))
    val batchStats = toMap(cellStats(assigned, centroids))
    val buildN = build.values.map(_._1).sum
    val batchN = batchStats.values.map(_._1).sum
    def meanQerr(m: Map[Long, (Long, Double)], total: Long): Double =
      if (total == 0) 0.0
      else m.values.map { case (n, q) => n * q }.sum / total
    val cells = centroids.map(_._1)
    val tv = 0.5 * cells.map { c =>
      val p = if (buildN == 0) 0.0 else build.get(c).fold(0.0)(_._1.toDouble / buildN)
      val q = if (batchN == 0) 0.0 else batchStats.get(c).fold(0.0)(_._1.toDouble / batchN)
      math.abs(p - q)
    }.sum
    DriftStats(buildN, batchN, meanQerr(build, buildN), meanQerr(batchStats, batchN), tv)
  }

  /** The drift-gated append: measure the batch first; within thresholds
    * append with the fixed quantizer, beyond them rebuild over the union
    * corpus (re-training centroids on the shifted distribution). Returns
    * the measured stats either way so callers can log/alert.
    */
  def appendIvfOrRebuild(spark: SparkSession, newEmb: DataFrame,
                         unionEmb: DataFrame, dir: String, nCells: Int = 16,
                         maxQerrRatio: Double = 1.5,
                         maxOccupancyTv: Double = 0.5): DriftStats = {
    val stats = ivfDrift(spark, newEmb, dir)
    if (stats.drifted(maxQerrRatio, maxOccupancyTv))
      ensureIvf(spark, unionEmb, dir, nCells)  // union fp ≠ stored → rebuild
    else
      appendIvf(spark, newEmb, dir)
    stats
  }

  // ------------------------------------------------------------ SRP-LSH

  def ensureSrp(spark: SparkSession, emb: DataFrame, dir: String,
                h: Int = 8, tables: Int = 4, dims: Int = 64): String =
    ensure(spark, dir, s"srp h=$h tables=$tables dims=$dims fp=${fingerprint(emb)}") {
      buildSrp(spark, emb, dir, h, tables, dims)
    }

  /** Persist the SRP-LSH bucket table `(tbl, bucket, vec_id, label)`,
    * sorted by (tbl, bucket) so bucket probes prune parquet row groups.
    * The hyperplanes are deterministic ([[Similarity.planeComponent]]
    * hashing), so query-side bucket hashing — done in-plan over the
    * bounded query rows — lands in exactly the stored bucket space with
    * no stored-plane coordination.
    */
  def buildSrp(spark: SparkSession, emb: DataFrame, dir: String,
               h: Int, tables: Int, dims: Int): Unit =
    Similarity.withBuckets(emb, h, tables, dims)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
      .select(col("tbl"), col("bucket"), col("vec_id"), col("label"))
      .repartitionByRange(4, col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"))
      .write.mode("overwrite").parquet(s"$dir/buckets")

  /** Serve ANN from the persisted SRP buckets: only the (bounded) query
    * rows are hashed at query time; the corpus contributes its stored
    * buckets — it is never re-hashed per query. Collisions in any table
    * become candidates; exact-cosine rerank as everywhere else.
    */
  def searchSrp(spark: SparkSession, emb: DataFrame, dir: String,
                nQueries: Int = 10, k: Int = 5,
                h: Int = 8, tables: Int = 4, dims: Int = 64): DataFrame = {
    // query-side hashing re-derives the plane family from (h, tables,
    // dims) — they must match the build's or buckets silently disagree
    Artifact.requireKind(spark, dir, s"srp h=$h tables=$tables dims=$dims fp=")
    val stored = maskIds(spark, dir, spark.read.parquet(s"$dir/buckets"), "vec_id")
      .select(col("tbl"), col("bucket"), col("vec_id").as("n_id"),
        col("label").as("n_label"))
    val q = Similarity.withBuckets(emb.filter(col("vec_id") < nQueries), h, tables, dims)
      .select(col("tbl"), col("bucket"), col("vec_id").as("q_id"))
    val cands = stored.join(broadcast(q), Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), col("n_label"))
      .distinct()
    Similarity.rerankExact(emb, cands, nQueries, k)
  }

  // ----------------------------------------------------------------- PQ

  def ensurePq(spark: SparkSession, emb: DataFrame, dir: String,
               m: Int = 8, codesPerSub: Int = 16): String =
    ensure(spark, dir, s"pq v2 m=$m codesPerSub=$codesPerSub fp=${fingerprint(emb)}") {
      buildPq(spark, emb, dir, m, codesPerSub)
    }

  /** Train per-subspace codebooks on a bounded sample, encode the whole
    * corpus map-side, persist the 32×-compressed code table.
    */
  def buildPq(spark: SparkSession, emb: DataFrame, dir: String,
              m: Int = 8, codesPerSub: Int = 16): Unit = {
    val sample = Similarity.trainingSample(emb, codesPerSub * 16)
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val subDims = dims / m
    val codebook = Similarity.pqTrain(sample, m, subDims, codesPerSub)
    writeCodebook(spark, codebook, s"$dir/codebook")
    pqEncoded(emb, codebook, subDims)
      .write.mode("overwrite").parquet(s"$dir/codes")
  }

  private def pqEncoded(emb: DataFrame, codebook: Array[Array[Array[Float]]],
                        subDims: Int): DataFrame =
    emb.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      Similarity.pqEncodeCol(codebook, subDims, col("embedding")).as("codes"),
      rowHash.as("row_hash"))

  /** PQ counterpart of [[appendIvf]]: encode the batch with the stored
    * codebook, append to the code table, bump the additive fingerprint —
    * same insert-only check and pending-marker atomicity.
    */
  def appendPq(spark: SparkSession, newEmb: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "pq ")
    val fresh = freshRows(spark, dir, newEmb,
      spark.read.parquet(s"$dir/codes").select(col("n_id"), col("row_hash")))
    if (!fresh.isEmpty) {
      val codebook = loadCodebook(spark, s"$dir/codebook")
      Artifact.beginMutation(spark, dir)
      pqEncoded(fresh, codebook, codebook(0)(0).length)
        .write.mode("append").parquet(s"$dir/codes")
      Artifact.addToFingerprint(spark, dir, "pq ", fingerprint(fresh))
      Artifact.endMutation(spark, dir)
    }
  }

  /** Serve top-k from the persisted PQ code table: ADC scan over codes
    * only, exact rerank on the top-`rerank` candidates.
    */
  def searchPq(spark: SparkSession, emb: DataFrame, dir: String,
               nQueries: Int = 10, k: Int = 5, rerank: Int = 50): DataFrame = {
    val codebook = loadCodebook(spark, s"$dir/codebook")
    val subDims = codebook(0)(0).length
    val encoded = maskIds(spark, dir, spark.read.parquet(s"$dir/codes"), "n_id")
    Similarity.pqAdcSearch(encoded, emb, codebook, subDims, nQueries, k, rerank)
  }

  // ------------------------------------------------------------- IVF-PQ

  def ensureIvfPq(spark: SparkSession, emb: DataFrame, dir: String,
                  nCells: Int = 16, m: Int = 8, codesPerSub: Int = 16): String =
    ensure(spark, dir,
      s"ivfpq v2 nCells=$nCells m=$m codesPerSub=$codesPerSub fp=${fingerprint(emb)}") {
      buildIvfPq(spark, emb, dir, nCells, m, codesPerSub)
    }

  /** The production composition: coarse cells for pruning, residual PQ
    * codes for in-cell scoring. Codebooks are trained on residuals
    * (vector − its cell centroid), so the quantization error is that of
    * the residual distribution — strictly tighter than flat PQ on the
    * raw vectors. One corpus pass per output: map-side cell argmax,
    * in-plan residual (`zip_with` against the literal centroid matrix),
    * map-side encode, write partitioned by cell; plus the per-cell
    * build stats (drift baseline, shared with [[ivfDrift]]).
    */
  def buildIvfPq(spark: SparkSession, emb: DataFrame, dir: String,
                 nCells: Int = 16, m: Int = 8, codesPerSub: Int = 16): Unit = {
    val sample = Similarity.trainingSample(emb, math.max(nCells, codesPerSub) * 16)
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible into $m subspaces")
    val subDims = dims / m
    val centroids = Similarity.kmeans(sample, nCells)
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
    val resSample = sample.map { v =>
      val cv = centroids(nearestCells(centroids, v, 1).head.toInt)._2
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    val codebook = Similarity.pqTrain(resSample, m, subDims, codesPerSub)
    writeCentroids(spark, centroids, s"$dir/centroids")
    writeCodebook(spark, codebook, s"$dir/codebook")
    ivfPqAssignments(emb, centroids, codebook, subDims)
      .write.mode("overwrite").partitionBy("cell_id").parquet(s"$dir/assignments")
    writeCellStats(spark,
      emb.withColumn("cell_id",
        element_at(Similarity.topCellsCol(centroids, col("embedding"), 1), 1)),
      centroids, s"$dir/stats")
  }

  /** Map-side cell argmax + in-plan residual + PQ encode — shared by the
    * IVF-PQ build and append paths.
    */
  private def ivfPqAssignments(emb: DataFrame,
                               centroids: Array[(Long, Array[Float])],
                               codebook: Array[Array[Array[Float]]],
                               subDims: Int): DataFrame = {
    val centMat = typedLit(centroids.map(_._2.toSeq).toSeq)
    val residual = zip_with(col("embedding"),
      element_at(centMat, (col("cell_id") + 1).cast("int")),
      (x, c) => (x - c).cast("float"))
    emb.withColumn("cell_id",
        element_at(Similarity.topCellsCol(centroids, col("embedding"), 1), 1))
      .withColumn("codes", Similarity.pqEncodeCol(codebook, subDims, residual))
      .select(col("vec_id").as("n_id"), col("label").as("n_label"),
        col("codes"), rowHash.as("row_hash"), col("cell_id"))
  }

  /** IVF-PQ counterpart of [[appendIvf]]: assign + residual-encode the
    * batch with the stored quantizer and codebook, append into the
    * partitioned layout, bump the additive fingerprint — same
    * insert-only check and pending-marker atomicity.
    */
  def appendIvfPq(spark: SparkSession, newEmb: DataFrame, dir: String): Unit = {
    Artifact.requireKind(spark, dir, "ivfpq ")
    val fresh = freshRows(spark, dir, newEmb,
      spark.read.parquet(s"$dir/assignments").select(col("n_id"), col("row_hash")))
    if (!fresh.isEmpty) {
      val centroids = loadCentroids(spark, s"$dir/centroids")
      val codebook = loadCodebook(spark, s"$dir/codebook")
      Artifact.beginMutation(spark, dir)
      ivfPqAssignments(fresh, centroids, codebook, codebook(0)(0).length)
        .write.mode("append").partitionBy("cell_id").parquet(s"$dir/assignments")
      Artifact.addToFingerprint(spark, dir, "ivfpq ", fingerprint(fresh))
      Artifact.endMutation(spark, dir)
    }
  }

  /** Serve top-k from the persisted IVF-PQ index. Per (query, probed
    * cell) the ADC score decomposes as q·(centroid + residual) =
    * q·centroid (a per-cell bias) + Σⱼ lut[j][codeⱼ]; bias and LUT are
    * driver-computed over the tiny centroid/codebook tables and
    * broadcast, so the scan touches only the pruned code partitions.
    */
  def searchIvfPq(spark: SparkSession, emb: DataFrame, dir: String,
                  nQueries: Int = 10, k: Int = 5, nprobe: Int = 4,
                  rerank: Int = 50): DataFrame = {
    val centroids = loadCentroids(spark, s"$dir/centroids")
    val codebook = loadCodebook(spark, s"$dir/codebook")
    val m = codebook.length
    val subDims = codebook(0)(0).length
    val queries = Similarity.collectQueries(emb, nQueries)
    // int cell ids for the same partition-pruning reason as searchIvf
    val qcells: Seq[(Int, Long, Double, Seq[Seq[Double]])] =
      queries.toSeq.flatMap { case (qid, qv) =>
        nearestCells(centroids, qv, nprobe).map { cid =>
          val cv = centroids(cid.toInt)._2
          val bias = (0 until math.min(qv.length, cv.length))
            .map(i => qv(i).toDouble * cv(i)).sum
          val lut: Seq[Seq[Double]] = (0 until m).map(j =>
            codebook(j).toSeq.map(cw =>
              cw.zip(qv.slice(j * subDims, (j + 1) * subDims))
                .map { case (a, b) => a.toDouble * b }.sum))
          (cid.toInt, qid, bias, lut)
        }
      }
    val allCells = qcells.map(_._1).distinct
    import spark.implicits._
    val qcellDf = qcells.toDF("cell_id", "q_id", "bias", "lut")
    val codes = maskIds(spark, dir, spark.read.parquet(s"$dir/assignments")
      .filter(col("cell_id").isin(allCells: _*)), "n_id")
    val adc = (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1), col("codes")(j) + lit(1))).reduce(_ + _)
    val cands = codes.join(broadcast(qcellDf), Seq("cell_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", col("bias") + adc)
      .withColumn("cand_rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id").asc)))
      .filter(col("cand_rank") <= rerank)
      .select(col("q_id"), col("n_id"), col("n_label"))
    Similarity.rerankExact(emb, cands, nQueries, k)
  }

  // ------------------------------------------------------------- recall

  /** Recall@k of every persisted ANN variant against the exact
    * brute-force top-k, reported as data: one `(method, n_queries, k,
    * hits, truth_pairs, recall)` row per index family. The truth set is
    * a bounded artifact (nQueries·k pairs — one `localCheckpoint`, one
    * driver-side count of an already-top-k'd frame), each variant's
    * result semi-joins against the BROADCAST truth, and the union of
    * four single-row aggregates is the report — so the only
    * corpus-proportional work is the searches themselves, each of which
    * serves from its persisted index. This turns the quality claim the
    * rows-only `sim_*_topk` entries cannot express into a number the
    * correctness gate (and a monitoring job at scale) can pin.
    *
    * Indexes are ensured under the same subdirs and parameters as the
    * `sim_*_topk` queries, so report and queries share one build.
    *
    * Each row also carries its `floor` and a `pass` flag (recall ≥
    * floor) so the quality claim is IN the data the correctness gate
    * snapshots, not only in a spec. The default floors are the
    * regression alarms for a near-uniform corpus (the fixture's
    * embeddings are unclustered random vectors, where top-5 neighbors
    * sit in an undifferentiated cos≈0.4 band — the hardest regime for
    * any ANN method; measured operating points at sf0.1 are ivf 0.46,
    * ivfpq 0.32, pq 0.42, srp 0.08): a floor trip means the quantizer
    * or bucket path broke, not that the corpus got harder. On
    * clustered corpora (AnnIndexSpec's) every method clears 0.5.
    */
  val defaultRecallFloors: Map[String, Double] =
    Map("ivf" -> 0.25, "ivfpq" -> 0.15, "pq" -> 0.25, "srp" -> 0.04)

  def recallReport(spark: SparkSession, emb: DataFrame, root: String,
                   nQueries: Int = 10, k: Int = 5, dims: Int = 64,
                   floors: Map[String, Double] = defaultRecallFloors): DataFrame = {
    val truth = Similarity.bruteForceTopK(emb, nQueries, k)
      .select(col("q_id"), col("n_id")).localCheckpoint()
    val truthPairs = truth.count() // bounded: ≤ nQueries·k rows
    val methods: Seq[(String, DataFrame)] = Seq(
      "ivf" -> searchIvf(spark, emb,
        ensureIvf(spark, emb, s"$root/ivf_c16"), nQueries, k),
      "ivfpq" -> searchIvfPq(spark, emb,
        ensureIvfPq(spark, emb, s"$root/ivfpq_c16_m8"), nQueries, k),
      "pq" -> searchPq(spark, emb,
        ensurePq(spark, emb, s"$root/pq_m8"), nQueries, k),
      "srp" -> searchSrp(spark, emb,
        ensureSrp(spark, emb, s"$root/srp_h8t4", dims = dims),
        nQueries, k, dims = dims))
    methods.map { case (name, res) =>
      val floor = floors.getOrElse(name, 0.0)
      res.select(col("q_id"), col("n_id"))
        .join(broadcast(truth), Seq("q_id", "n_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"),
          lit(nQueries).as("n_queries"), lit(k).as("k"),
          col("hits"), lit(truthPairs).as("truth_pairs"),
          round(col("hits") / lit(truthPairs.toDouble), 6).as("recall"),
          lit(floor).as("floor"),
          (round(col("hits") / lit(truthPairs.toDouble), 6) >= lit(floor))
            .as("pass"))
    }.reduce(_ unionByName _)
  }

  // --------------------------------------------------------- compaction

  /** Rewrite the index's big table into sized files after a run of
    * appends — content and metadata unchanged, search results
    * byte-identical (see [[Artifact.compactParquet]]). Dispatches on the
    * stored kind: partitioned layouts keep one file per cell; the flat
    * PQ code table is re-sized; SRP buckets keep their (tbl, bucket)
    * sorted layout. Returns (parquet files before, after).
    */
  def compact(spark: SparkSession, dir: String): (Int, Int) = {
    // physical cleanup of logical deletes ([[removeVecs]]): masked rows
    // are dropped during the rewrite, then the tombstone set is cleared
    // (a crash between the two leaves tombstones that mask nothing —
    // harmless). With no tombstones the rewrite is a pure re-size.
    val (mask, idCol): (Boolean, String) = Artifact.readMeta(spark, dir) match {
      case Some(m) if m.startsWith("ivfpq ") || m.startsWith("pq ") => (hasTombstones(spark, dir), "n_id")
      case _ => (hasTombstones(spark, dir), "vec_id")
    }
    def merged: DataFrame => DataFrame =
      if (!mask) identity
      else {
        val t = loadTombstones(spark, dir).localCheckpoint()
        df => df.join(broadcast(t.select(col("vec_id").as(idCol))), Seq(idCol), "left_anti")
      }
    val out = Artifact.readMeta(spark, dir) match {
      case Some(m) if m.startsWith("ivfpq ") || m.startsWith("ivf ") =>
        Artifact.compactParquet(spark, dir, "assignments",
          partitionCols = Seq("cell_id"), merge = merged)
      case Some(m) if m.startsWith("pq ") =>
        Artifact.compactParquet(spark, dir, "codes", merge = merged)
      case Some(m) if m.startsWith("srp ") =>
        Artifact.compactParquet(spark, dir, "buckets",
          sortCols = Seq("tbl", "bucket"), merge = merged)
      case other =>
        throw new IllegalStateException(s"no compactable index at $dir: $other")
    }
    val p = tombstonePath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    out
  }

  // ------------------------------------------------------------ helpers

  /** nprobe nearest cells for one vector, driver-side; tie-break matches
    * [[Similarity.topCellsCol]]: (sim desc, cell_id desc).
    */
  private def nearestCells(centroids: Array[(Long, Array[Float])],
                           v: Array[Float], nprobe: Int): Seq[Long] =
    centroids.toSeq.map { case (cid, cv) => (Similarity.cosineLocal(v, cv), cid) }
      .sortBy { case (s, c) => (-s, -c) }.take(nprobe).map(_._2)

  private def writeCentroids(spark: SparkSession,
                             centroids: Array[(Long, Array[Float])],
                             path: String): Unit = {
    import spark.implicits._
    centroids.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("cell_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Cache for the tiny driver-side quantizer tables (r19): the recall
    * report and every sim_* serve re-collected the same centroid/
    * codebook parquet per call (2 driver jobs each). Versioned by the
    * file listing (sizes+mtimes) — a rebuilt index rewrites its files,
    * so a hit is exactly the recollect. A listing failure loads uncached.
    */
  private def memoizedLoad[A <: AnyRef](spark: SparkSession, path: String,
                                        tag: String)(load: => A): A = {
    val listing =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        Some(fs.listStatus(p).map(st =>
            s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
          .sorted.mkString("|"))
      } catch { case _: Throwable => None }
    listing match {
      case Some(v) =>
        ArtifactCache.get(spark.sparkContext, s"ann-$tag#$path", v)(ArtifactCache.Entry(load))
      case None => load
    }
  }

  private def loadCentroids(spark: SparkSession, path: String): Array[(Long, Array[Float])] =
    memoizedLoad(spark, path, "centroids") {
      spark.read.parquet(path).orderBy("cell_id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    }

  private def writeCodebook(spark: SparkSession,
                            codebook: Array[Array[Array[Float]]],
                            path: String): Unit = {
    import spark.implicits._
    codebook.indices.flatMap(j => codebook(j).indices.map(c =>
        (j, c, codebook(j)(c).toSeq)))
      .toDF("sub", "code", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def loadCodebook(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    memoizedLoad(spark, path, "codebook") {
      spark.read.parquet(path).orderBy("sub", "code").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](2).toArray))
        .groupBy(_._1).toArray.sortBy(_._1).map(_._2.map(_._2))
    }
}
