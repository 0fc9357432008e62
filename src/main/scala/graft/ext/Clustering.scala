package graft.ext

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Distributed Lloyd k-means over the full embedding corpus — the topic
  * clustering primitive a curation pipeline hangs downstream work on
  * (cluster-balanced sampling, SemDeDup's within-cluster pruning,
  * per-topic quality audits, mixture design).
  *
  * Unlike [[Similarity.kmeans]] — which trains the ANN coarse quantizer
  * driver-side on a bounded sample — this is the full-corpus loop, and
  * every step is pinned deterministic so any execution (including the
  * DuckDB oracle, which replays the whole algorithm in SQL) lands on
  * bit-identical centroids:
  *
  *  - init: the k vectors with the smallest `vec_id` — no RNG, no
  *    partition-order dependence;
  *  - assignment: squared-L2 argmin at double precision, dims folded in
  *    order, ties to the lower centroid id (first-position argmin here,
  *    lexicographic struct-min in the oracle — same total order);
  *  - update: per-dimension mean as an exact DECIMAL(18,6) sum divided
  *    by the count (the house dsum/davg contract — order-independent),
  *    then ROUNDED to 6 dp. The rounding is part of the algorithm, not
  *    cosmetics: iteration t+1 starts from identical centroids on every
  *    engine and under every partitioning. An empty cluster keeps its
  *    previous centroid.
  *
  * Scale shape, per iteration: the k×dim centroid matrix rides into the
  * plan as a literal (broadcast with the task binaries — no join, no
  * shuffle on the corpus side); the corpus is scanned once and never
  * exchanged; the only shuffle is the centroid update, partial-aggregated
  * map-side to ≤ k·dim rows per task regardless of corpus size. The
  * driver holds exactly the k×dim matrix between iterations — the MLlib
  * contract (bounded artifacts only). At 100 TB the cost is
  * iters × (one corpus scan + one k·dim-group exchange), which is the
  * floor for Lloyd on any engine.
  */
object Clustering {

  /** Per-vector squared-L2 distances to each centroid, as one array
    * column aligned with centroid ids: dims are zip-folded in order at
    * double precision, so both engines accumulate identically.
    */
  private def distsCol(cent: Seq[Seq[Double]], x: Column): Column =
    transform(typedLit(cent), c =>
      aggregate(zip_with(x, c, (a, b) => (a - b) * (a - b)),
        lit(0.0), (s, v) => s + v))

  /** k seed centroids: the k embeddings with the smallest vec_id. */
  private[ext] def seeds(emb: DataFrame, k: Int): Array[Array[Double]] =
    emb.orderBy(col("vec_id")).limit(k)
      .select(col("embedding").cast(ArrayType(DoubleType)))
      .collect().map(_.getSeq[Double](0).toArray)

  /** One assignment pass: input columns plus `cluster` (int, argmin with
    * ties to the lower id) and `d2` (squared L2 to the winning centroid).
    */
  private[ext] def assign(emb: DataFrame,
                          cent: Array[Array[Double]]): DataFrame = {
    val dists = distsCol(cent.map(_.toSeq).toSeq,
      col("embedding").cast(ArrayType(DoubleType)))
    emb.withColumn("dists", dists)
      .withColumn("cluster",
        (array_position(col("dists"), array_min(col("dists"))) - 1)
          .cast("int"))
      .withColumn("d2", array_min(col("dists")))
      .drop("dists")
  }

  /** Centroid update: per-(cluster, dim) decimal mean rounded to 6 dp;
    * clusters with no members keep their previous centroid. Collects
    * k×dim rows — a bounded artifact.
    */
  private[ext] def update(assigned: DataFrame,
                          prev: Array[Array[Double]]): Array[Array[Double]] = {
    val next = prev.map(_.clone)
    assigned
      .select(col("cluster"),
        posexplode(col("embedding").cast(ArrayType(DoubleType)))
          .as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(Tables.davg(col("x")), 6).as("c"))
      .collect()
      .foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    next
  }

  /** `iters` Lloyd iterations from the deterministic seed; returns the
    * final assignment: input columns plus (cluster, d2).
    */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    require(iters >= 1, "at least one assignment pass")
    var cent = seeds(emb, k)
    var assigned = assign(emb, cent)
    for (_ <- 2 to iters) {
      cent = update(assigned, cent)
      assigned = assign(emb, cent)
    }
    assigned
  }

  /** [[kmeans]], cached per (app, key) and versioned by the input
    * listing: the three cluster_* queries share one fit instead of
    * re-running the seed/update collects and per-iteration scans
    * identically; the final assignment is checkpointed so downstream
    * reads are one local scan.
    */
  def fitted(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
             key: String, k: Int = 8, iters: Int = 2): DataFrame =
    ArtifactCache.get(spark.sparkContext, s"kmeans#$key#$k#$iters",
        Artifact.inputListing(emb).getOrElse("")) {
      val fit = kmeans(emb, k, iters).localCheckpoint()
      ArtifactCache.Entry(fit, Seq(fit))
    }

  /** Per-cluster size and inertia (Σ d², each d² snapped to the 6-dp
    * decimal grid before the exact sum — the dsum contract).
    */
  def clusterStats(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vecs"), Tables.dsum(col("d2")).as("inertia"))
      .orderBy(col("cluster"))

  /** Cluster ↔ ground-truth-label agreement: per cluster, its size and
    * the plurality label with its count (ties to the lower label — the
    * same lexicographic struct-min the oracle uses).
    */
  def clusterPurity(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_vecs"),
        min(struct((-col("n")).as("a"), col("label").as("b"))).as("m"))
      .select(col("cluster"), col("n_vecs"),
        col("m.b").as("top_label"), (-col("m.a")).as("top_label_n"))
      .orderBy(col("cluster"))
}
