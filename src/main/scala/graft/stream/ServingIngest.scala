package graft.stream

import graft.serve.KeyValue
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's transform→load chain as ONE streaming application:
  * arriving event batches land in the fact table and the
  * day-partitioned serving store refreshes its changed days — the
  * Spark-native reading of the reference's per-run DAG
  * (`/root/reference/dags/etl_pipeline_dag.py:73-97`: transform tasks
  * feed a DynamoDB load task each run), with the store's O(changed
  * days) lifecycle ([[graft.serve.KeyValue.ensureStoreDaily]]) doing
  * the work a keyed upsert does there.
  *
  * Exactly-once, layer by layer:
  *  - the stream checkpoint makes batch delivery at-least-once with
  *    stable batch ids;
  *  - [[appendEvents]] commits each batch's rows under
  *    batch-id-derived file names, so a REPLAYED batch first clears
  *    its own (possibly partial) previous file set and re-lands
  *    byte-identical — the fact table never double-counts;
  *  - [[graft.serve.KeyValue.ensureStoreDaily]] fingerprints only the
  *    data files its manifest does not already hold (a batch's own
  *    files) and re-derives only days whose summed fingerprint changed,
  *    so a replayed no-op append leaves the store physically untouched.
  *
  * Single-writer by contract (the reference's scheduler serializes
  * runs the same way); readers racing a mid-commit batch can see a
  * prefix of its files — serving reads go to the STORE, which only
  * ever exposes fully committed refreshes.
  *
  * NOTE: this mutates `dir` (the fact-table directory). It is the
  * ingestion surface for an OWNED table copy — never pointed at the
  * read-only fixture dirs (specs operate on a working copy).
  */
object ServingIngest {

  /** Exactly-once file append of one micro-batch into `$dir/
    * events.parquet`. The pristine single-file fixture layout is
    * promoted to a directory on first append (the original file
    * becomes `part-00000-base.parquet`); batch rows are staged fully,
    * then renamed in under `ingest-b<batchId>-NNNNN.parquet` names —
    * rename is the per-file atomic commit, and the batch-id prefix is
    * what makes a checkpoint replay idempotent instead of additive.
    * The batch must carry the table's on-disk schema (it is read back
    * through [[graft.Tables.events]] like any other part file). A
    * batch with a null `ts` is rejected: no day partition of the
    * serving store could hold the event. The check rides the staging
    * write (no extra job); a failed write leaves the table untouched
    * and removes its staging directory.
    */
  def appendEvents(spark: SparkSession, dir: String, batch: DataFrame,
                   batchId: Long): Unit = {
    val eventsDir = new Path(s"$dir/events.parquet")
    val fs = eventsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(s"$dir/_staging_events_b$batchId")
    fs.delete(staging, true)
    try batch.withColumn("ts", when(col("ts").isNull, raise_error(lit(
        s"batch $batchId holds an event with a null ts, which no day of the " +
          "serving store can hold"))).otherwise(col("ts")))
      .write.mode("overwrite").parquet(staging.toString)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    if (fs.getFileStatus(eventsDir).isFile) {
      val tmp = new Path(s"$dir/events.parquet.promoting")
      fs.rename(eventsDir, tmp)
      fs.mkdirs(eventsDir)
      fs.rename(tmp, new Path(eventsDir, "part-00000-base.parquet"))
    }
    val prefix = s"ingest-b$batchId-"
    fs.listStatus(eventsDir).iterator
      .filter(_.getPath.getName.startsWith(prefix))
      .foreach(st => fs.delete(st.getPath, false))
    fs.listStatus(staging).iterator
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      .sortBy(_.getPath.getName).zipWithIndex
      .foreach { case (st, i) =>
        fs.rename(st.getPath, new Path(eventsDir, f"$prefix$i%05d.parquet"))
      }
    fs.delete(staging, true)
  }

  /** Any [[SourceConfig]] of raw event rows → per-micro-batch: append
    * to the fact table, then refresh the day-partitioned serving store
    * (changed days only). The refresh holds the store's directory lock
    * and commits its source fingerprint last — the version under which
    * [[graft.serve.KeyValue.dailyStoreCached]] caches the loaded store —
    * so lookups during the refresh serve the committed pre-refresh
    * store and the first lookup after the commit reloads. `onBatch`
    * receives (batchId, store path) after each refresh.
    */
  def start(spark: SparkSession, source: SourceConfig, checkpointDir: String,
            dir: String,
            onBatch: (Long, String) => Unit = (_, _) => ()): StreamingQuery =
    StreamSources.open(spark, source)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          appendEvents(spark, dir, batch, id)
          val store = KeyValue.ensureStoreDaily(spark, dir)
          onBatch(id, store)
        }
      }
      .start()
}
