package graft

import graft.analytics.Kpis
import graft.ingest.Validate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference pipeline, end to end, on the reference's own schema —
  * the API a King-04/Music-Streaming-Data-Pipeline-V2 user calls after
  * switching engines. One batch run = the reference's
  * validate → transform → dynamodb-ingest Glue chain
  * (`glue_jobs/music-streaming-transform.py`,
  * `glue_jobs/dynamodb-ingestion.py`): [[run]] reads and enriches the
  * sources in one materializing job, and [[write]] runs four writes —
  * the three KPI tables from that materialization, then the serving
  * store built from the written KPI tables, as
  * `dynamodb-ingestion.py:24-44` loads them. The incremental/streaming
  * form is [[graft.stream.Pipeline]].
  */
object MusicPipeline {

  case class Outputs(genreKpis: DataFrame, topSongs: DataFrame,
                     topGenres: DataFrame, servingItems: DataFrame)

  /** Runs one Spark job, besides the collection of the two broadcast
    * dimensions: the validated, enriched, day-scoped streams are
    * materialized with an eager `localCheckpoint`, and the three KPI
    * frames read that materialization, not the sources. An `Observation`
    * on the input streams fires in that job.
    *
    * @param processDate optional 'yyyy-MM-dd' — the reference's
    *                     PROCESS_DATE single-day scope (P9).
    */
  def run(streams: DataFrame, songs: DataFrame, users: DataFrame,
          processDate: Option[String] = None,
          topSongsK: Int = 3, topGenresK: Int = 5): Outputs = {
    val vStreams = Validate.validateStreams(streams)
    val vSongs = Validate.validateSongs(songs)
    val vUsers = Validate.validateUsers(users)

    // J1/J2 enrichment with projected broadcast dims, F3 daily window.
    val enriched0 = vStreams
      .join(broadcast(vSongs.select(col("track_id"), col("track_name"),
        col("track_genre"), col("artists"), col("duration_ms"))), Seq("track_id"))
      .join(broadcast(vUsers.select(col("user_id"), col("user_age"),
        col("user_country"))), Seq("user_id"))
      .withColumn("date", to_date(col("listen_time")))
    // The fan-out point: one materialization feeds all three KPI frames.
    // Its blocks are released with the frame, so nothing is unpersisted.
    val enriched = analytics.Enrich.forDay(enriched0, processDate).localCheckpoint()

    // A1/A2: genre KPIs (music-schema measures).
    val genreKpis = enriched
      .groupBy(col("track_genre"), col("date"))
      .agg(
        count(lit(1)).as("listen_count"),
        countDistinct(col("user_id")).as("unique_listeners"),
        sum(col("duration_ms").cast("long")).as("total_listening_time_ms"),
        avg(col("duration_ms")).as("avg_listening_time_ms"))
      .withColumn("avg_listening_time_per_user",
        col("total_listening_time_ms") / col("unique_listeners"))

    // A3+W1: top-K songs per (genre, day), deterministic ties.
    val topSongs = Kpis.topKPerGroup(
      enriched.groupBy(col("track_genre"), col("date"), col("track_id"),
          col("track_name"), col("artists"))
        .agg(count(lit(1)).as("play_count")),
      Seq(col("track_genre"), col("date")), col("play_count"),
      Seq(col("track_id")), topSongsK)

    // A4+W2: top-K genres per day.
    val topGenres = Kpis.topKPerGroup(
      enriched.groupBy(col("date"), col("track_genre"))
        .agg(count(lit(1)).as("total_plays")),
      Seq(col("date")), col("total_plays"), Seq(col("track_genre")), topGenresK)

    Outputs(genreKpis, topSongs, topGenres, servingItems(genreKpis, topSongs, topGenres))
  }

  /** R1–R3 serving projection of the three KPI tables (music-schema key
    * design, README.md:121-129 of the reference).
    */
  private def servingItems(genreKpis: DataFrame, topSongs: DataFrame,
                           topGenres: DataFrame): DataFrame = {
    val kpiItems = genreKpis.select(
      concat_ws("#", lit("GENRE"), col("track_genre"), lit("DATE"),
        col("date").cast("string")).as("pk"),
      expr("""stack(4,
        'listen_count', CAST(listen_count AS STRING),
        'unique_listeners', CAST(unique_listeners AS STRING),
        'total_listening_time_ms', CAST(total_listening_time_ms AS STRING),
        'avg_listening_time_ms', CAST(CAST(avg_listening_time_ms AS DECIMAL(28,6)) AS STRING)
        ) AS (metric_type, value)"""))
      .select(col("pk"), concat(lit("METRIC#"), col("metric_type")).as("sk"),
        col("value"), lit("genre_metric").as("record_type"))
    val songItems = topSongs.select(
      concat_ws("#", lit("GENRE"), col("track_genre"), lit("DATE"),
        col("date").cast("string")).as("pk"),
      format_string("SONG#%d#%s", col("rank"), col("track_id")).as("sk"),
      col("play_count").cast("string").as("value"),
      lit("top_song").as("record_type"))
    val genreItems = topGenres.select(
      concat_ws("#", lit("DATE"), col("date").cast("string")).as("pk"),
      format_string("GENRE_RANK#%d", col("rank")).as("sk"),
      col("track_genre").as("value"),
      lit("top_genre").as("record_type"))
    kpiItems.unionByName(songItems).unionByName(genreItems)
  }

  /** Write the outputs the way the reference does, minus `coalesce(1)`
    * (partitioned parquet; the serving table sorted by (pk, sk)). The
    * serving table is the R1–R3 projection of the three written KPI
    * tables, read back with their known schemas (no inference job);
    * `out.servingItems` is the same projection of the frames `run`
    * returned, and is not read here.
    */
  def write(out: Outputs, outDir: String): Unit = {
    val spark = out.genreKpis.sparkSession
    def written(df: DataFrame, name: String): DataFrame = {
      val path = s"$outDir/$name"
      df.write.mode("overwrite").parquet(path)
      spark.read.schema(df.schema).parquet(path)
    }
    servingItems(written(out.genreKpis, "genre_kpis"), written(out.topSongs, "top_songs"),
        written(out.topGenres, "top_genres"))
      .repartitionByRange(col("pk"), col("sk"))
      .sortWithinPartitions(col("pk"), col("sk"))
      .write.mode("overwrite").parquet(s"$outDir/serving")
  }
}
