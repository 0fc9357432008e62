package graft

import org.apache.spark.sql.types.{DecimalType, StructType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver fixture tables (TESTDATA.md) plus shared
  * cross-engine-deterministic aggregation helpers.
  *
  * All fixture reads go through here so path handling and any future
  * layout decisions (date partitioning, bucketing) live in one place.
  * At 100 TB the fact tables (`events`, `lineitem`) would be
  * date-partitioned so the P9-style day filters prune partitions; the
  * dimensions stay broadcast-sized or bucketed on their keys.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** The Parquet schema of `path`, inferred once per session: inference
    * runs a Spark job, and a read with a known schema runs none. The
    * version is the path's file fingerprint plus the session's Parquet
    * read settings (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`),
    * so a landed or rewritten file, or a changed read setting such as
    * `nanosAsLong`, infers again.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val readConf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.sorted.mkString(",")
    graft.ext.ArtifactCache.get(spark, s"schema#$path",
        s"${graft.ext.Artifact.fileFingerprint(spark, path)}|$readConf")(
      graft.ext.ArtifactCache.Entry(spark.read.parquet(path).schema))
  }

  /** Scale-adaptive scan-parallelism floor for the FACT tables (guide
    * §2.5, input skew: "one huge unsplittable file … repartition
    * immediately after the read"). The driver fixture ships each table
    * as ONE single-row-group parquet file, which no split setting can
    * open in parallel — a row group is assigned to exactly one task —
    * so the whole scan STAGE, including the heavy per-row work
    * whole-stage codegen fuses into it (gram hashing, media decode,
    * decimal partial aggregation), runs on one core while the rest of
    * the machine idles (measured: a10_cube ran 4 jobs / 6 tasks on 32
    * cores). When the layout provably cannot reach the session's
    * parallelism — fewer files than cores AND too few bytes for
    * maxPartitionBytes to split further — redistribute rows once by a
    * deterministic high-cardinality key: hash partitioning, so there
    * is no sort-before-repartition pass and task retries are stable
    * (no round-robin). On a real layout (≥cores files, or files big
    * enough to split) the condition is false and NO exchange is added
    * — at 100 TB this is the identity. Catalyst pushes predicates and
    * column pruning through RepartitionByExpression, so PushedFilters/
    * ReadSchema at the scan are unchanged. The decision (one listing +
    * file stats) is cached per (app, path, parallelism).
    */
  private def spread(s: SparkSession, dir: String, name: String,
                     df: DataFrame, keyName: String): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    // test fixtures ship slimmer schemas (e.g. events without
    // event_id) — a missing key column just skips the floor
    if (!df.columns.contains(keyName)) return df
    val files = df.inputFiles
    if (files.isEmpty) return df
    // versioned by the file count (r18 advice): a fixture dir rewritten
    // mid-application re-derives instead of serving a stale decision; a
    // listing/stat failure skips the floor for this call rather than
    // caching a decision built on 0-length fallbacks
    val narrow =
      try graft.ext.ArtifactCache.get(s.sparkContext, s"spread#$dir/$name#$p",
          files.length.toString) {
        val fs = new org.apache.hadoop.fs.Path(files.head)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val bytes = files.map { f =>
          fs.getFileStatus(new org.apache.hadoop.fs.Path(new java.net.URI(f))).getLen
        }.sum
        val maxSplit = s.sessionState.conf.filesMaxPartitionBytes
        // even with perfect row-group alignment the scan cannot
        // produce p splits from these bytes — the one case where an
        // up-front redistribution is the only way to use the machine
        graft.ext.ArtifactCache.Entry(
          files.length < p && math.max(files.length.toLong, bytes / maxSplit) < p)
      } catch { case _: Throwable => false }
    if (narrow) df.repartition(p, col(keyName)) else df
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  /** `wantSpread = false` skips the parallelism floor for callers whose
    * FIRST operation is a different-key exchange (as-of joins, keyless
    * range bucketing): there the floor's one redistribution is pure
    * added shuffle — measured back-to-back at 32c: asof_join_orders
    * 0.68 s without vs 1.09 s with, range_join_keyless_interval 0.68 vs
    * 0.92 — while scan-then-aggregate callers keep it (a10_cube 0.86
    * with vs 1.28 without, j2 1.00 vs 1.55). At scale both forms are
    * identical (the floor is already the identity there).
    */
  def orders(s: SparkSession, d: String, wantSpread: Boolean = true): DataFrame = {
    val t = table(s, d, "orders")
    if (wantSpread) spread(s, d, "orders", t, "o_orderkey") else t
  }
  def lineitem(s: SparkSession, d: String, wantSpread: Boolean = true): DataFrame = {
    val t = table(s, d, "lineitem")
    if (wantSpread) spread(s, d, "lineitem", t, "l_orderkey") else t
  }
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    * read as a timestamp; sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` and this loader turns
    * the raw nanos-long into the µs TimestampType the engine works in
    * (integer `div` — no double round-trip, values > 2^53 stay exact).
    * DuckDB reads the same column as TIMESTAMP_NS and truncates to µs
    * on CAST, so both engines see identical instants.
    */
  def events(s: SparkSession, d: String, wantSpread: Boolean = true): DataFrame = {
    val t = table(s, d, "events")
    normalizeEvents(
      if (wantSpread) spread(s, d, "events", t, "event_id") else t)
  }

  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // fixture variant with isAdjustedToUTC=false: same UTC wall
        // clock, but NTZ can't carry a watermark — cast interprets it
        // in the session zone (pinned UTC), restoring TIMESTAMP proper
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(s: SparkSession, d: String, wantSpread: Boolean = true): DataFrame = {
    val t = table(s, d, "documents")
    if (wantSpread) spread(s, d, "documents", t, "doc_id") else t
  }
  def embeddings(s: SparkSession, d: String, wantSpread: Boolean = true): DataFrame = {
    val t = table(s, d, "embeddings")
    if (wantSpread) spread(s, d, "embeddings", t, "vec_id") else t
  }

  /** Decimal type wide enough for every fixture measure (prices < 1e6,
    * 2 fractional digits) while keeping sum results inside both Spark's
    * and DuckDB's decimal widening rules.
    */
  val Money: DecimalType = DecimalType(18, 6)

  /** Order-independent, cross-engine-deterministic SUM of a double
    * column: casting to decimal makes the addition exact (associative),
    * so Spark's parallel partial aggregation and DuckDB's sequential
    * scan produce bit-identical doubles after the final cast.
    * Oracle SQL mirror: `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)`.
    */
  def dsum(c: Column): Column = sum(c.cast(Money)).cast("double")

  /** Deterministic AVG built from the exact decimal sum: one IEEE-754
    * double division at the end, identical in both engines.
    * Oracle mirror: `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Exact discounted-revenue sum: SUM(price · (1 − discount)) in
    * decimal (2+4 fractional digits are exact), cast to double last.
    * Oracle mirror: `CAST(SUM(CAST(p AS DECIMAL(12,2)) *
    * (CAST(1 AS DECIMAL(8,4)) - CAST(d AS DECIMAL(8,4)))) AS DOUBLE)`.
    */
  def drevenue(price: Column, discount: Column): Column =
    sum(price.cast("decimal(12,2)") *
      (lit(1).cast("decimal(8,4)") - discount.cast("decimal(8,4)"))).cast("double")
}
