package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1: CSV scan coverage — declared-schema read with PERMISSIVE
  * coercion, exercised as a parquet→csv→parquet round-trip so the DuckDB
  * oracle (reading the original parquet) checks both the writer and the
  * reader.
  */
object SourceQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s1_csv_roundtrip" -> ((s, d) => {
      val tmp = s"/root/repo/target/csv_roundtrip_${math.abs(d.hashCode)}"
      val src = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      Csv.write(src, tmp)
      val schema = org.apache.spark.sql.types.StructType(src.schema.fields)
      Csv.readClean(s, tmp, schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          Tables.dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // JSON-lines source: schema-declared read (never inference — that
    // costs a second pass over 100 TB).
    "s2_json_roundtrip" -> ((s, d) => {
      val tmp = s"/root/repo/target/json_roundtrip_${math.abs(d.hashCode)}"
      val src = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      src.write.mode("overwrite").json(tmp)
      s.read.schema(src.schema).json(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total_value"))
        .orderBy(col("event_type"))
    }),

    // ORC source: the second columnar format the engine reads/writes.
    "s4_orc_roundtrip" -> ((s, d) => {
      val tmp = s"/root/repo/target/orc_roundtrip_${math.abs(d.hashCode)}"
      val src = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_quantity"))
      src.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // Schema evolution: two parquet generations of the same table — v2
    // adds a column — read together with mergeSchema (the schema union
    // is computed from file footers; missing columns null-pad). This is
    // the "pipeline added a field last month" read every long-lived
    // 100 TB dataset needs; merge cost scales with file count, so at
    // scale the merged schema is pinned in a table catalog instead of
    // re-derived per query (mergeSchema is off by default for a reason).
    "s6_schema_evolution" -> ((s, d) => {
      val tmp = s"/root/repo/target/schema_evo_${math.abs(d.hashCode)}"
      val cust = Tables.customer(s, d)
      cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      cust.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(coalesce(col("c_mktsegment"), lit("<pre-evolution>"))
          .as("segment"))
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
        .orderBy(col("segment"))
    }),

    // Binary-file source: one file per media object read through the
    // binaryFile format — the ingestion path for image/audio/video
    // corpora. Only (path, length) are selected, so the reader never
    // deserializes payload bytes (binaryFile supports column pruning);
    // the aggregate must equal the oracle's byte accounting over the
    // documents the fake media derives from.
    "s7_binary_source" -> ((s, d) => {
      // fixture staging is cached per (app, dir) and charged to the
      // warm phase — the query measures the binaryFile SCAN, not a
      // 5000-file re-write per invocation
      val tmp = graft.ext.Multimodal.ensureMediaFiles(s, d)
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(tmp)
        .select((regexp_extract(col("path"), "([0-9]+)\\.bin$", 1)
          .cast("long") % 10).as("bucket"), col("length"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("length")).as("total_bytes"))
        .orderBy(col("bucket"))
    }),

    // Avro source: the row-oriented interchange format (Kafka-ecosystem
    // payloads land as avro) — written and read back through Spark's
    // bundled avro data source (addressed by class name: the short
    // "avro" alias requires the separate spark-avro service
    // registration, but the format implementation ships in spark-sql);
    // the aggregate must equal the oracle's over the parquet original.
    "s5_avro_roundtrip" -> ((s, d) => {
      val avroFmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val tmp = s"/root/repo/target/avro_roundtrip_${math.abs(d.hashCode)}"
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      src.write.mode("overwrite").format(avroFmt).save(tmp)
      s.read.format(avroFmt).load(tmp)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    })
  )

  val oracles: Map[String, String] = Map(
    "s1_csv_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "s2_json_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "s4_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // Each media file is a P6 payload: 13-byte header (2-digit dims) +
    // w·h·3 raster bytes, both sides of the byte accounting integral.
    "s7_binary_source" ->
      """SELECT doc_id % 10 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(13 + ((doc_id + 0) * 2654435761 % 4294967296 % 64 + 32)
        |              * ((doc_id + 1) * 2654435761 % 4294967296 % 64 + 32)
        |              * 3) AS BIGINT)
        |    AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin,

    "s6_schema_evolution" ->
      """WITH merged AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 2 = 1
        |)
        |SELECT COALESCE(c_mktsegment, '<pre-evolution>') AS segment,
        |  COUNT(*) AS n, MIN(c_custkey) AS min_key
        |FROM merged GROUP BY 1 ORDER BY segment""".stripMargin,

    "s5_avro_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin
  )
}
