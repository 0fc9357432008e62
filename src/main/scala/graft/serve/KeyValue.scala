package graft.serve

import graft.analytics.{Enrich, Kpis}
import graft.ext.{Artifact, ArtifactCache}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's DynamoDB single-table projection re-expressed as a
  * sorted `(pk, sk)` relational table (`glue_jobs/dynamodb-ingestion.py`
  * R1–R3; key schema `README.md:121-129`; query surface
  * `queries/dynamo_query.txt`).
  *
  * The reference reshapes with pandas `iterrows()` (scalar, single
  * process); here each reshape is a projection/unpivot the optimizer can
  * pipeline, and the "table" is just a DataFrame that would be written
  * sorted by (pk, sk) so serving predicates prune parquet row groups.
  *
  * Numeric values are stringified through DECIMAL(28,6) so Spark and the
  * DuckDB oracle render identical text (raw double→string formatting is
  * not portable across engines).
  */
object KeyValue {

  private def dateStr(c: String) = col(c).cast("string")

  /** R1: wide genre-KPI row → 4 (pk, sk, value) metric items
    * (`dynamodb-ingestion.py:46-79`). Spark-native unpivot via `stack`.
    */
  def kpiItems(genreKpis: DataFrame): DataFrame =
    genreKpis
      .select(
        concat_ws("#", lit("GENRE"), col("event_type"), lit("DATE"), dateStr("date")).as("pk"),
        expr(
          """stack(4,
            |  'listen_count',       CAST(listen_count AS STRING),
            |  'unique_listeners',   CAST(unique_listeners AS STRING),
            |  'total_value',        CAST(CAST(total_value AS DECIMAL(28,6)) AS STRING),
            |  'avg_value',          CAST(CAST(avg_value AS DECIMAL(28,6)) AS STRING)
            |) AS (metric_type, value)""".stripMargin))
      .select(col("pk"), concat(lit("METRIC#"), col("metric_type")).as("sk"),
        col("value"), lit("genre_metric").as("record_type"))

  /** R2: top-song rows → items keyed `SONG#<rank>#<id>`
    * (`dynamodb-ingestion.py:81-106`).
    */
  def topSongItems(topSongs: DataFrame): DataFrame =
    topSongs.select(
      concat_ws("#", lit("GENRE"), col("l_returnflag"), lit("DATE"), dateStr("date")).as("pk"),
      format_string("SONG#%d#%d", col("rank"), col("l_partkey")).as("sk"),
      col("play_count").cast("string").as("value"),
      lit("top_song").as("record_type"))

  /** R3: top-genre rows → items keyed `GENRE_RANK#<rank>` under a
    * date-only pk (`dynamodb-ingestion.py:108-131`).
    */
  def topGenreItems(topGenres: DataFrame): DataFrame =
    topGenres.select(
      concat_ws("#", lit("DATE"), dateStr("date")).as("pk"),
      format_string("GENRE_RANK#%d", col("rank")).as("sk"),
      col("event_type").as("value"),
      lit("top_genre").as("record_type"))

  /** R4 (beyond the reference's three families): the media corpus's
    * per-day language profile as serving items, keyed
    * `MEDIA#<lang>#DATE#<d>` / `METRIC#<name>` — so the media family's
    * daily card is a key lookup like every other §2.10 read, not an
    * aggregation at query time. Measures are SERVED from the decode-once
    * feature store (one slim doc_id join — no payload access, the
    * [[graft.ext.MediaFeatures.profileStored]] shape), sliced per ingest
    * day. The fixture corpus carries no ingest date, so [[docDay]]
    * derives a deterministic 7-day calendar from doc_id — the stand-in
    * for the arrival date a real pipeline's manifest provides — which
    * keeps every value SQL-replayable. The family exists only when the
    * corpus table does (a music-only deployment serves the original
    * three families untouched).
    */
  private[graft] def docDay(docId: Column): Column =
    date_add(lit("2024-01-01").cast("date"), pmod(docId, lit(7)).cast("int"))

  private[graft] def hasDocs(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def mediaProfileItems(spark: SparkSession, dir: String,
                        days: Option[Seq[String]] = None): DataFrame = {
    import graft.ext.MediaFeatures
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        docDay(col("doc_id")).cast("string").as("day"))
    val scoped = days.fold(docs)(ds => docs.filter(col("day").isin(ds: _*)))
    val feats = MediaFeatures.features(spark,
        MediaFeatures.ensure(spark, graft.Tables.documents(spark, dir),
          MediaFeatures.defaultDir(dir)))
      .select(col("doc_id"), (col("img_w") * col("img_h")).as("px"),
        col("a_ms"), col("a_peak"), col("v_frames"), col("y_sum"))
      .filter(col("px").isNotNull && col("a_ms").isNotNull &&
        col("v_frames").isNotNull)
    scoped.join(feats, "doc_id")
      .groupBy(col("lang"), col("day"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("px")).as("px_total"),
        sum(col("a_ms")).as("audio_ms_total"),
        max(col("a_peak")).as("audio_peak_max"),
        sum(col("v_frames")).as("video_frames_total"),
        sum(col("y_sum")).as("video_y_total"))
      .select(
        concat_ws("#", lit("MEDIA"), col("lang"), lit("DATE"), col("day")).as("pk"),
        expr(
          """stack(6,
            |  'n_docs',              CAST(n_docs AS STRING),
            |  'px_total',            CAST(px_total AS STRING),
            |  'audio_ms_total',      CAST(audio_ms_total AS STRING),
            |  'audio_peak_max',      CAST(audio_peak_max AS STRING),
            |  'video_frames_total',  CAST(video_frames_total AS STRING),
            |  'video_y_total',       CAST(video_y_total AS STRING)
            |) AS (metric_type, value)""".stripMargin))
      .select(col("pk"), concat(lit("METRIC#"), col("metric_type")).as("sk"),
        col("value"), lit("media_profile").as("record_type"))
  }

  /** The full serving table: union of all item families (the three
    * reference projections plus the media profile when a corpus table
    * exists), sorted by (pk, sk) — the layout that makes §2.10 lookups
    * row-group-prunable.
    */
  def servingTable(spark: SparkSession, dir: String): DataFrame = {
    val kpis = Kpis.genreKpis(Enrich.enriched(spark, dir))
    val base = kpiItems(kpis)
      .unionByName(topSongItems(Kpis.topPartsPerFlagDay(spark, dir)))
      .unionByName(topGenreItems(Kpis.topTypesPerDay(spark, dir)))
    if (hasDocs(spark, dir)) base.unionByName(mediaProfileItems(spark, dir))
    else base
  }

  /** The serving store at rest: the table written range-partitioned and
    * sorted by (pk, sk) as parquet, fingerprint-guarded like the ANN
    * indexes and the near-dup pair table ([[graft.ext.Artifact]]) — the
    * literal analog of the reference's *loaded* DynamoDB table
    * (`dynamodb-ingestion.py` runs once per batch; reads hit the store).
    * Sorted files mean the §2.10 lookup predicates prune parquet row
    * groups on pk/sk min/max. Freshness is a file-level fingerprint of
    * the three source tables the projections read (events, customer,
    * lineitem) — no data scanned, rebuild on any file change.
    */
  def ensureStore(spark: SparkSession, dir: String): String = {
    val root = storeRoot(dir)
    Artifact.ensure(spark, root, s"serving v1 fp=${storeSourcesFingerprint(spark, dir)}") {
      servingTable(spark, dir)
        .repartitionByRange(4, col("pk"), col("sk"))
        .sortWithinPartitions(col("pk"), col("sk"))
        .write.mode("overwrite").parquet(s"$root/store")
    }
    s"$root/store"
  }

  private def storeRoot(dir: String): String = s"${Artifact.root(dir)}/serving"

  private def storeSourcesFingerprint(spark: SparkSession, dir: String): String =
    Artifact.fileFingerprint(spark, (Seq(s"$dir/events.parquet",
      s"$dir/customer.parquet", s"$dir/lineitem.parquet") ++
      (if (hasDocs(spark, dir)) Seq(s"$dir/documents.parquet") else Nil)): _*)

  // ------------------- incremental (day-partitioned) serving store

  /** The day of a serving item, parsed back out of its pk — all three
    * item families encode it as `DATE#<yyyy-MM-dd>`.
    */
  private def dayOf(pk: Column): Column =
    regexp_extract(pk, "DATE#([0-9]{4}-[0-9]{2}-[0-9]{2})", 1)

  /** The date-bearing serving inputs: table, the day a row lands on,
    * and the columns its content hash covers. The corpus table's day
    * is the derived ingest day ([[docDay]]); it counts only when the
    * table exists.
    */
  private val DayInputs: Seq[(String, Column, Seq[String])] = Seq(
    ("events", to_date(col("ts")), Seq("event_type", "ts", "user_id", "value")),
    ("lineitem", to_date(col("l_shipdate")), Seq("l_returnflag", "l_shipdate", "l_partkey")),
    ("documents", docDay(col("doc_id")), Seq("doc_id", "lang")))

  /** One data file of a date-bearing input, as the fixture listing sees it. */
  final case class DataFile(input: String, path: String, len: Long, mtime: Long)

  /** The row count `n` and hash-sum `h` of one day's rows in one file. */
  final case class Partial(input: String, path: String, d: String, n: Long, h: Long)

  /** The data files of each date-bearing input: exactly the files a
    * read of the table scans (its `inputFiles`), with length and mtime.
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[DataFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    DayInputs.map(_._1).filter(n => n != "documents" || hasDocs(spark, dir)).flatMap { n =>
      graft.Tables.table(spark, dir, n).inputFiles.sorted.toSeq.map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        DataFile(n, f, st.getLen, st.getModificationTime)
      }
    }
  }

  /** Per-(file, day) content fingerprints of the DATE-BEARING serving
    * inputs over the given data files: row count plus order-independent
    * hash-sum of each day's rows in each file, in ONE aggregation that
    * reads only those files (no job when there are none). A day's
    * fingerprint is the sum of its partials over every file of each
    * input, so [[ensureStoreDaily]] scans only new or changed files and
    * reuses the partials it keeps for the rest. The non-date input
    * (customer) gets a single file-level fingerprint in the store
    * metadata instead: a dimension change invalidates every day.
    */
  def dayFingerprints(spark: SparkSession, dir: String, files: Seq[DataFile]): Seq[Partial] = {
    val scans = DayInputs.flatMap { case (name, day, hashed) =>
      val paths = files.filter(_.input == name).map(_.path)
      if (paths.isEmpty) None
      else {
        val raw = spark.read.schema(graft.Tables.schema(spark, s"$dir/$name.parquet"))
          .parquet(paths: _*)
        val t = if (name == "events") graft.Tables.normalizeEvents(raw) else raw
        Some(t.select(lit(name).as("input"), input_file_name().as("path"),
          day.cast("string").as("d"), xxhash64(hashed.map(col): _*).as("h")))
      }
    }
    scans.reduceOption(_ unionByName _).toSeq.flatMap(
      _.groupBy(col("input"), col("path"), col("d"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
        .collect().toSeq
        .map(r => Partial(r.getString(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getLong(4))))
  }

  /** Each day's fingerprint, summed from its partials: (n, h) per input. */
  private[graft] def dayTotals(partials: Seq[Partial]): Map[String, Map[String, (Long, Long)]] =
    partials.groupBy(_.d).map { case (d, ps) =>
      d -> ps.groupBy(_.input).map { case (in, qs) =>
        in -> ((qs.map(_.n).sum, qs.map(_.h).sum))
      }
    }

  /** The serving table scoped to the given days. Every item family is
    * day-local (each aggregation and ranking window partitions on the
    * date), so the day-sliced computation produces exactly the same
    * rows as the same days of a full run — the property that makes
    * per-day refresh EXACT, not approximate. Filters sit on the scans,
    * so date-partitioned facts prune at the source.
    */
  def servingTableForDays(spark: SparkSession, dir: String, days: Seq[String]): DataFrame = {
    val enrichedD = Enrich.enriched(spark, dir)
      .filter(col("date").cast("string").isin(days: _*))
    val base = kpiItems(Kpis.genreKpis(enrichedD))
      .unionByName(topSongItems(Kpis.topPartsPerFlagDay(spark, dir, days = Some(days))))
      .unionByName(topGenreItems(Kpis.topTypesPerDay(spark, dir, days = Some(days))))
    if (hasDocs(spark, dir))
      base.unionByName(mediaProfileItems(spark, dir, Some(days)))
    else base
  }

  /** The incremental serving store: day-partitioned at rest
    * (`store/d=<date>/`, each day's file sorted by (pk, sk)), refreshed
    * per day — the O(changed-days) lifecycle the full-rebuild
    * [[ensureStore]] lacks, and the at-rest analog of the reference's
    * nightly DynamoDB upsert (`dynamodb-ingestion.py` writes one
    * processing day's items; history is never recomputed).
    *
    * Freshness: a `daymeta` manifest, a small text file the driver
    * reads and writes, lists each input data file (path, length, mtime)
    * and its per-day partial fingerprints ([[dayFingerprints]]). On
    * ensure, only new or changed files are scanned; the partials of
    * the rest are reused, and each day's fingerprint is the sum of its
    * partials. Changed or new days are recomputed and swapped in via
    * dynamic partition overwrite, days that vanished from the inputs
    * are dropped, and untouched days are NOT rewritten (spec-asserted
    * by file mtimes). A customer (dimension) change invalidates
    * everything — its file fingerprint lives in the metadata line.
    * Mutations run under the pending marker; a crash mid-refresh forces
    * a full rebuild. A row with no day (null `ts`, `l_shipdate` or
    * `doc_id`) fails the refresh: no day partition can hold it.
    */
  def ensureStoreDaily(spark: SparkSession, dir: String): String = {
    val root = dailyRoot(dir)
    // one refresher per store: a lookup that misses during a streamed
    // refresh waits here, then takes the fast path below
    Artifact.withDirLock(root)(refreshDaily(spark, dir, root))
  }

  private def dailyRoot(dir: String): String = s"${Artifact.root(dir)}/serving_daily"

  /** Lines of a small text file, `None` when it is not a file. */
  private def readLines(spark: SparkSession, path: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || !fs.getFileStatus(p).isFile) None
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p), "UTF-8"))
      try Some(Iterator.continually(in.readLine()).takeWhile(_ != null).toVector)
      finally in.close()
    }
  }

  /** First line of a small text file, `None` when it does not exist. */
  private def readLine(spark: SparkSession, path: String): Option[String] =
    readLines(spark, path).flatMap(_.headOption).map(_.trim)

  private val ManifestHeader = "daymeta v1"

  /** The `daymeta` manifest: `F` lines (input, path, length, mtime) and
    * `P` lines (input, path, day, count, hash-sum), tab-separated.
    * `None` when it is missing or not in this format.
    */
  private def readManifest(spark: SparkSession, path: String): Option[(Seq[DataFile], Seq[Partial])] =
    readLines(spark, path).filter(_.headOption.contains(ManifestHeader)).map { lines =>
      val rows = lines.tail.map(_.split('\t'))
      (rows.collect { case Array("F", in, p, len, mt) => DataFile(in, p, len.toLong, mt.toLong) },
        rows.collect { case Array("P", in, p, d, n, h) => Partial(in, p, d, n.toLong, h.toLong) })
    }

  /** Each day's fingerprint as the store's manifest records it; empty
    * when there is no manifest.
    */
  private[graft] def manifestDays(spark: SparkSession, dir: String): Map[String, Map[String, (Long, Long)]] =
    readManifest(spark, s"${dailyRoot(dir)}/daymeta").fold(Map.empty[String, Map[String, (Long, Long)]])(
      m => dayTotals(m._2))

  /** Write the manifest to a temp file, then rename it over the old one. */
  private def writeManifest(spark: SparkSession, path: String,
                            files: Seq[DataFile], partials: Seq[Partial]): Unit = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val text = (Seq(ManifestHeader) ++
      files.map(f => s"F\t${f.input}\t${f.path}\t${f.len}\t${f.mtime}") ++
      partials.map(p => s"P\t${p.input}\t${p.path}\t${p.d}\t${p.n}\t${p.h}"))
      .mkString("", "\n", "\n")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    // a v2 store's daymeta is a Parquet directory
    if (fs.exists(dst) && fs.getFileStatus(dst).isDirectory) fs.delete(dst, true)
    if (!fs.rename(tmp, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"could not rename $tmp to $dst")
    }
  }

  private def refreshDaily(spark: SparkSession, dir: String, root: String): String = {
    val storePath = s"$root/store"
    val manifestPath = s"$root/daymeta"
    // v3: daymeta became a per-file text manifest — the version bump
    // rebuilds a v2 store, whose daymeta is a Parquet table
    val metaLine = s"serving-daily v3 cust=${Artifact.fileFingerprint(spark, s"$dir/customer.parquet")}"

    // FILE-LEVEL fast path before any listing of data files: if the
    // source FILES are byte-level unchanged since the last refresh
    // (same paths/sizes/mtimes — the same evidence ensureStore trusts),
    // day contents cannot have changed and the store serves as-is.
    val srcFpPath = new org.apache.hadoop.fs.Path(s"$root/srcmeta")
    val srcFs = srcFpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcFp = Artifact.fileFingerprint(spark,
      (Seq(s"$dir/events.parquet", s"$dir/lineitem.parquet") ++
        (if (hasDocs(spark, dir)) Seq(s"$dir/documents.parquet") else Nil)): _*)
    def writeSrcFp(): Unit = {
      val out = srcFs.create(srcFpPath, true)
      try out.write(srcFp.getBytes("UTF-8")) finally out.close()
    }
    // The srcmeta match alone is not evidence the STORE survived: a
    // partially deleted root (store or daymeta removed, srcmeta left)
    // would be served as fresh and fail only at read time — and
    // writeSrcFp() at the bottom re-arms the fast path even on the
    // incremental branch, making the broken state sticky. Require both
    // to still exist, else fall back to the manifest check (whose
    // full-rebuild branch recreates them).
    if (!Artifact.hasPendingMutation(spark, root) &&
        Artifact.readMeta(spark, root).contains(metaLine) &&
        readLine(spark, srcFpPath.toString).contains(srcFp) &&
        srcFs.exists(new org.apache.hadoop.fs.Path(storePath)) &&
        srcFs.exists(new org.apache.hadoop.fs.Path(manifestPath)))
      return storePath

    // scan only the files the manifest does not hold as they are now
    val files = dataFiles(spark, dir)
    val manifest = readManifest(spark, manifestPath)
    val (storedFiles, storedPartials) = manifest.getOrElse((Nil, Nil))
    val unchanged = storedFiles.toSet.intersect(files.toSet)
    val kept = unchanged.map(f => (f.input, f.path))
    val partials = storedPartials.filter(p => kept((p.input, p.path))) ++
      dayFingerprints(spark, dir, files.filterNot(unchanged))
    val noDay = partials.filter(_.d == null)
    if (noDay.nonEmpty)
      throw new IllegalStateException("serving inputs hold rows with no day, which no " +
        "day partition can serve: " + noDay.groupBy(_.input).toSeq.sortBy(_._1)
          .map { case (in, ps) => s"$in: ${ps.map(_.n).sum} row(s)" }.mkString(", "))
    val current = dayTotals(partials)

    def writeAllDays(days: Seq[String]): Unit =
      servingTableForDays(spark, dir, days)
        .withColumn("d", dayOf(col("pk")))
        .repartition(col("d"))
        .sortWithinPartitions(col("d"), col("pk"), col("sk"))
        .write.partitionBy("d")
        .mode("overwrite").parquet(storePath)

    if (Artifact.hasPendingMutation(spark, root) ||
        !Artifact.readMeta(spark, root).contains(metaLine) ||
        !srcFs.exists(new org.apache.hadoop.fs.Path(storePath)) ||
        manifest.isEmpty) {
      // full (re)build: dimension changed, first build, crashed refresh,
      // or a partially deleted root (the incremental branch below
      // compares against the manifest, so a missing one must land here)
      writeAllDays(current.keys.toSeq.sorted)
      writeManifest(spark, manifestPath, files, partials)
      Artifact.endMutation(spark, root)
      Artifact.writeMeta(spark, root, metaLine)
    } else {
      val stored = dayTotals(storedPartials)
      val changed = current.filter { case (d, fp) => !stored.get(d).contains(fp) }.keys.toSeq.sorted
      val removed = (stored.keySet -- current.keySet).toSeq.sorted
      if (changed.nonEmpty || removed.nonEmpty) {
        Artifact.beginMutation(spark, root)
        // A changed day whose recomputed output is EMPTY (e.g. every
        // event of the day drops out of the enrichment join) writes no
        // partition under dynamic overwrite — its stale directory must be
        // deleted explicitly or the old items serve forever. The
        // materializing job of the (changed-days-only) output also
        // observes the set of days it wrote.
        val emptied = if (changed.isEmpty) Nil else {
          val written = org.apache.spark.sql.Observation()
          val out = servingTableForDays(spark, dir, changed)
            .withColumn("d", dayOf(col("pk")))
            .observe(written, collect_set(col("d")).as("days"))
            .localCheckpoint()
          out.repartition(col("d"))
            .sortWithinPartitions(col("d"), col("pk"), col("sk"))
            .write.partitionBy("d").option("partitionOverwriteMode", "dynamic")
            .mode("overwrite").parquet(storePath)
          val days = written.get("days").asInstanceOf[scala.collection.Seq[String]].toSet
          changed.filterNot(days)
        }
        val stale = removed ++ emptied.filter(stored.contains)
        if (stale.nonEmpty) {
          val p = new org.apache.hadoop.fs.Path(storePath)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          stale.foreach(d =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/d=$d"), true))
        }
        writeManifest(spark, manifestPath, files, partials)
        Artifact.endMutation(spark, root)
      } else if (files.toSet != storedFiles.toSet)
        // no day moved, but the file set did (a replayed batch re-lands
        // byte-identical files with new mtimes): record it, so the next
        // refresh does not scan them again
        writeManifest(spark, manifestPath, files, partials)
    }
    writeSrcFp() // the file-level fast path re-arms after any outcome
    storePath
  }

  /** The columns of a serving store at rest: read with this schema, a
    * store load runs no schema-inference job.
    */
  private val StoreSchema: StructType = StructType(
    Seq("pk", "sk", "value", "record_type").map(StructField(_, StringType)))

  /** Read side of [[ensureStoreDaily]]: the serving columns, day
    * partitions dropped (`d` is layout, not data).
    */
  def loadDailyStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(StoreSchema.add("d", StringType)).parquet(ensureStoreDaily(spark, dir))
      .select(col("pk"), col("sk"), col("value"), col("record_type"))

  /** [[loadDailyStore]] with load-once semantics per session, like
    * [[servingTableCached]]: the freshness check (a file listing, plus
    * a scan of any new or changed input file) and the
    * partition-directory listing run once,
    * not per query — the day layout means MANY directories, and
    * re-listing them per lookup would dominate serve cost. The cache
    * version is the store's committed source fingerprint (`srcmeta`,
    * written last by every refresh): lookups during a streamed refresh
    * keep the committed pre-refresh frame, and the first lookup after
    * the commit reloads.
    */
  def dailyStoreCached(spark: SparkSession, dir: String): DataFrame = {
    val srcmeta = s"${dailyRoot(dir)}/srcmeta"
    val committed = readLine(spark, srcmeta).getOrElse {
      ensureStoreDaily(spark, dir)
      readLine(spark, srcmeta).getOrElse("")
    }
    persisted(spark, s"daily-store#$dir", committed, dailyRoot(dir))(
      loadDailyStore(spark, dir))
  }

  /** Load a store into memory under its directory lock, so no refresh
    * rewrites files between the listing and the materialization. The
    * cached frame is detached from the files: Spark drops and lazily
    * rebuilds the cached data of any frame that reads a path once a
    * write lands in it, which would send lookups holding the committed
    * frame back to files a refresh is replacing.
    */
  private def persisted(spark: SparkSession, name: String, version: String,
                        root: String)(load: => DataFrame): DataFrame =
    ArtifactCache.get(spark, name, version)(Artifact.withDirLock(root) {
      val files = load
      val df = spark.createDataFrame(files.rdd, files.schema)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize eagerly — this is the "load" step; a failed load
      // must not stay registered as cached data
      try df.count() catch { case e: Throwable => df.unpersist(); throw e }
      ArtifactCache.Entry(df, Seq(df))
    })

  /** In-session view of the persisted store ([[ensureStore]]): read from
    * the sorted parquet and memory-persisted, so the lookup families
    * scan a loaded store instead of re-running enrich+aggregate per
    * query — and a fresh session pays only the fingerprint check + load,
    * not the build. Versioned by the source file fingerprint, so a
    * lookup after a source change rebuilds and reloads.
    */
  def servingTableCached(spark: SparkSession, dir: String): DataFrame =
    persisted(spark, s"store#$dir", storeSourcesFingerprint(spark, dir), storeRoot(dir))(
      spark.read.schema(StoreSchema).parquet(ensureStore(spark, dir)))
}
