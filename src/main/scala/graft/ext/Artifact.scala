package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / serve-many parquet artifacts guarded by a metadata line
  * (build parameters + input fingerprint). The pattern behind the
  * persisted ANN indexes ([[AnnIndex]]) and the near-dup pair table
  * ([[Dedup.ensurePairs]]): a pipeline stage whose output many queries
  * consume is materialized once, and any parameter or input change
  * triggers a rebuild — stale artifacts can never be served silently.
  *
  * Mutation safety: appends and compactions run under a *pending marker*
  * ([[beginMutation]]/[[endMutation]]) written before the first
  * destructive file operation and cleared only after the metadata is
  * consistent again. A crash mid-mutation leaves the marker on disk;
  * [[ensure]] treats a marked artifact as stale (rebuild) and
  * [[requireKind]] refuses to serve or append to it — a half-finished
  * append can never be served against pre-append metadata.
  */
private[graft] object Artifact {

  /** Artifact root for a fixture dir, keyed by its basename so sf0.01
    * and sf0.1 never share artifacts. Lives under target/.
    */
  def root(sfDir: String): String =
    s"target/artifacts/${new java.io.File(sfDir).getName}"

  /** Input fingerprint: row count + order-independent hash over the
    * identifying columns — one narrow scan, no shuffle. NOTE: the
    * hash-sum is additive (exploited by the append paths) but thereby
    * collision-weakened — a freshness guard, never a correctness check.
    *
    * Cached per application for file-determined frames
    * ([[cachedByInputFiles]], r18 optimization): every artifact serve
    * pays this scan for its freshness check, and one bench session
    * fingerprints the same handful of fixture-derived frames 60+ times.
    */
  def fingerprint(df: DataFrame, cols: Column*): String =
    cachedByInputFiles(df, s"fingerprint:${cols.mkString(",")}") {
      val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*))).head()
      s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }

  /** `compute`, cached in [[ArtifactCache]] per SparkContext when the
    * frame's content is provably a pure function of its input files
    * ([[org.apache.spark.sql.graftbridge.bridge.deterministicFileKey]]:
    * all leaves are file relations, no non-deterministic expression).
    * The name pins `tag` and the canonical plan, the version is the
    * input listing ([[inputListing]]). A rewritten input can never
    * serve its old value — Spark part-file names are unique per write,
    * and size/mtime guard hand-written files — so a hit is exactly the
    * value a recompute would produce. Other frames (localCheckpoints,
    * in-memory test frames, rand()) always recompute.
    */
  private[graft] def cachedByInputFiles[V](df: DataFrame, tag: String)(compute: => V): V =
    org.apache.spark.sql.graftbridge.bridge.deterministicFileKey(df)
      .flatMap(plan => inputListing(df).map(plan -> _)) match {
      case Some((plan, listing)) =>
        ArtifactCache.get(df.sparkSession.sparkContext, s"$tag#${digest(plan)}", listing)(
          ArtifactCache.Entry(compute))
      case None => compute
    }

  /** Digest of the frame's input files (paths, sizes, mtimes); `None`
    * for frames with no input files or more than 4096 of them (per-file
    * stat cost would rival a scan). The version of caches whose value
    * derives from a fixture table.
    */
  private[graft] def inputListing(df: DataFrame): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty || files.length > 4096) None
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      Some(digest(files.sorted.map { f =>
        val p = new Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        s"$f:${st.getLen}:${st.getModificationTime}"
      }.mkString("|")))
    }
  }

  // md5-based name-UUID: short and deterministic
  private def digest(s: String): String =
    java.util.UUID.nameUUIDFromBytes(s.getBytes("UTF-8")).toString

  /** File-level fingerprint over input table paths: a digest of every
    * file's (path relative to its input root, size, modification time) —
    * zero data scanned. The right freshness proxy for large immutable
    * source tables, where any regeneration rewrites files; use
    * [[fingerprint]] (content hash) when inputs can mutate in place.
    */
  def fileFingerprint(spark: SparkSession, paths: String*): String = {
    val entries = paths.flatMap { dir =>
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Seq(s"missing:$dir")
      else {
        // keys carry the FULL path relative to the fingerprinted root
        // (not the bare file name): moving a file between nested subdirs
        // of the same input — or between inputs — must change the digest
        val rootStr = fs.getFileStatus(p).getPath.toString
        def walk(s: org.apache.hadoop.fs.FileStatus): Seq[String] =
          if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(walk)
          else {
            val rel = s.getPath.toString.stripPrefix(rootStr)
            Seq(s"$dir$rel:${s.getLen}:${s.getModificationTime}")
          }
        walk(fs.getFileStatus(p))
      }
    }
    digest(entries.sorted.mkString("|"))
  }

  private def fsPath(spark: SparkSession, dir: String, name: String): (FileSystem, Path) = {
    val p = new Path(dir, name)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def metaFile(spark: SparkSession, dir: String): (FileSystem, Path) =
    fsPath(spark, dir, "index_meta.txt")

  def readMeta(spark: SparkSession, dir: String): Option[String] = {
    val (fs, p) = metaFile(spark, dir)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p)))
      try Option(in.readLine()) finally in.close()
    }
  }

  /** Written last, after a successful build — a crashed build leaves no
    * meta and is rebuilt on the next ensure.
    */
  def writeMeta(spark: SparkSession, dir: String, meta: String): Unit = {
    val (fs, p) = metaFile(spark, dir)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
  }

  // ------------------------------------------------- mutation marker

  private def pendingFile(spark: SparkSession, dir: String): (FileSystem, Path) =
    fsPath(spark, dir, "mutation_pending")

  /** True iff a mutation (append/compaction) started but never
    * finished — the artifact's data may not match its metadata line.
    */
  def hasPendingMutation(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = pendingFile(spark, dir)
    fs.exists(p)
  }

  /** Mark the artifact as mid-mutation BEFORE the first destructive file
    * operation of an append or compaction. Until [[endMutation]], the
    * artifact is neither served ([[requireKind]] throws) nor trusted by
    * [[ensure]] (which rebuilds) — so a crash between a data append and
    * its fingerprint bump forces a rebuild instead of silently serving
    * appended rows under pre-append metadata.
    */
  def beginMutation(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = pendingFile(spark, dir)
    fs.create(p, true).close()
  }

  def endMutation(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = pendingFile(spark, dir)
    fs.delete(p, false)
  }

  private val FpRe = """(.+) fp=(-?\d+):(-?\d+)""".r

  /** Assert the artifact at `dir` exists, finished its last mutation,
    * and is of the expected kind / parameterization — call BEFORE any
    * destructive append, and from serve paths whose own parameters must
    * match the build's (a mismatched serve would silently return
    * near-empty results, which is exactly what the metadata line exists
    * to prevent).
    */
  def requireKind(spark: SparkSession, dir: String, requirePrefix: String): Unit = {
    if (hasPendingMutation(spark, dir))
      throw new IllegalStateException(
        s"artifact at $dir has an unfinished append/compaction — re-ensure to rebuild")
    readMeta(spark, dir) match {
      case Some(meta) if meta.startsWith(requirePrefix) => ()
      case other =>
        throw new IllegalStateException(s"no '$requirePrefix' artifact at $dir: $other")
    }
  }

  /** Arithmetic fingerprint update for append-style artifacts: the
    * content [[fingerprint]] (count + hash-sum) is additive over
    * disjoint row sets, so appending a batch only needs the batch's own
    * fingerprint added onto the stored one — no scan of the existing
    * data. `requirePrefix` guards against bumping the wrong artifact
    * kind.
    */
  def addToFingerprint(spark: SparkSession, dir: String,
                       requirePrefix: String, batchFp: String): Unit =
    adjustFingerprint(spark, dir, requirePrefix, batchFp, 1L)

  /** The removal mirror of [[addToFingerprint]]: additivity works both
    * ways, so deleting a known row set subtracts its fingerprint — the
    * stored line ends up equal to a fresh [[fingerprint]] over the
    * remaining content, and `ensure` keeps serving without a rescan.
    */
  def subtractFromFingerprint(spark: SparkSession, dir: String,
                              requirePrefix: String, removedFp: String): Unit =
    adjustFingerprint(spark, dir, requirePrefix, removedFp, -1L)

  private def adjustFingerprint(spark: SparkSession, dir: String,
                                requirePrefix: String, fp: String, sign: Long): Unit = {
    val Array(bc, bs) = fp.split(":").map(_.toLong)
    readMeta(spark, dir) match {
      case Some(FpRe(prefix, c, s)) if prefix.startsWith(requirePrefix) =>
        writeMeta(spark, dir, s"$prefix fp=${c.toLong + sign * bc}:${s.toLong + sign * bs}")
      case other =>
        throw new IllegalStateException(s"no '$requirePrefix' artifact at $dir: $other")
    }
  }

  /** Build-if-needed: serve as long as the stored metadata line matches
    * `meta` and no mutation was left unfinished; rebuild otherwise. The
    * fingerprint inside `meta` costs one narrow input scan per ensure —
    * amortized over the many queries a built artifact serves.
    */
  def ensure(spark: SparkSession, dir: String, meta: String)(build: => Unit): String =
    withDirLock(dir) {
      if (hasPendingMutation(spark, dir) || !readMeta(spark, dir).contains(meta)) {
        build
        endMutation(spark, dir)
        writeMeta(spark, dir, meta)
      }
      dir
    }

  /** Run `body` under the JVM-wide lock of an artifact directory (r18
    * advice): the parallel warm phase runs `ensure` chains
    * concurrently, and a streaming refresh races lookups, so two
    * builders of one artifact must serialize — the second then sees the
    * fresh meta and no-ops. Distinct dirs stay fully parallel.
    */
  def withDirLock[T](dir: String)(body: => T): T =
    ArtifactCache.locked(new Path(dir).toString)(body)

  // ------------------- generation ledger + logical deletion (shared
  // by every append-mode artifact whose rows belong to documents and
  // must support removal: the band and containment indexes, the media
  // feature store and each [[DocLedger]])

  private def genPath(spark: SparkSession, dir: String): (FileSystem, Path) =
    fsPath(spark, dir, "genct.txt")

  /** The generation the NEXT append will stamp its rows with. Every
    * stored row's gen is strictly below it — which is exactly what
    * makes `tgen = readNextGen()` at removal time mask all rows that
    * exist and none that are inserted later (the LSM sequence-number
    * rule).
    */
  def readNextGen(spark: SparkSession, dir: String): Long = {
    val (fs, p) = genPath(spark, dir)
    if (!fs.exists(p)) 1L
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p)))
      try in.readLine().trim.toLong finally in.close()
    }
  }

  def writeNextGen(spark: SparkSession, dir: String, g: Long): Unit = {
    val (fs, p) = genPath(spark, dir)
    val out = fs.create(p, true)
    try out.write(g.toString.getBytes("UTF-8")) finally out.close()
  }

  private def tombstonePath(spark: SparkSession, dir: String): (FileSystem, Path) =
    fsPath(spark, dir, "tombstones")

  /** Logically-deleted `(doc_id, tgen)` rows of an artifact (empty
    * frame when none): a tombstone masks the doc's rows with
    * `gen < tgen` — its state as of the removal — and nothing inserted
    * after. Consumers mask gen-stamped tables via [[maskTombstones]];
    * the set stays bounded because compaction drops the masked rows
    * physically and clears it ([[clearTombstones]]).
    */
  def loadTombstones(spark: SparkSession, dir: String): DataFrame = {
    val (fs, p) = tombstonePath(spark, dir)
    if (fs.exists(p)) spark.read.parquet(p.toString)
    else spark.range(0).select(col("id").as("doc_id"), col("id").as("tgen"))
  }

  def hasTombstones(spark: SparkSession, dir: String): Boolean = {
    val (fs, p) = tombstonePath(spark, dir)
    fs.exists(p)
  }

  def clearTombstones(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = tombstonePath(spark, dir)
    fs.delete(p, true)
  }

  /** Fold newly removed `(doc_id, tgen)` rows into the stored tombstone
    * set via max-merge (a doc removed twice keeps the later tgen).
    * Tombstones are tiny — bounded by removals since the last
    * compaction — so the set is rewritten wholesale via a staging swap.
    */
  def appendTombstones(spark: SparkSession, dir: String, removed: DataFrame): Unit = {
    val (fs, p) = tombstonePath(spark, dir)
    val union = loadTombstones(spark, dir)
      .unionByName(removed.select(col("doc_id"), col("tgen")))
      .groupBy(col("doc_id")).agg(max(col("tgen")).as("tgen"))
      .localCheckpoint()
    val tmp = new Path(s"$dir/tombstones.next")
    fs.delete(tmp, true)
    union.coalesce(1).write.parquet(tmp.toString)
    fs.delete(p, true)
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"tombstone swap failed at $dir")
  }

  /** Mask a gen-stamped frame (must carry `doc_id` and `gen`) against
    * the artifact's tombstones: rows with `gen < tgen` — written before
    * their doc's removal — are dropped; rows re-inserted after it
    * survive. A no-op plan (no join, no broadcast) in the common
    * nothing-deleted case.
    */
  def maskTombstones(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    if (!hasTombstones(spark, dir)) df
    else df.join(broadcast(loadTombstones(spark, dir)), Seq("doc_id"), "left")
      .filter(col("tgen").isNull || col("gen") >= col("tgen"))
      .drop("tgen")

  /** Rewrite one data subdirectory of a built artifact into sized files
    * — the maintenance pass behind the append lifecycle (each appended
    * batch leaves its own file set; a nightly pipeline degrades into a
    * small-files problem without compaction). Content and the metadata
    * line are unchanged: `partitionCols` keep the partitioned directory
    * layout (one file per partition value), `sortCols` keep a
    * range-partitioned sorted layout, and an optional `merge` transform
    * may rewrite rows ONLY into a consumer-equivalent form (e.g. summing
    * per-bucket size deltas). The new file set is written fully before
    * the swap, and the swap runs under the pending marker — a crash
    * mid-swap forces a rebuild instead of serving a half-compacted
    * layout. Returns (parquet files before, after).
    */
  def compactParquet(spark: SparkSession, dir: String, sub: String,
                     partitionCols: Seq[String] = Nil, sortCols: Seq[String] = Nil,
                     merge: DataFrame => DataFrame = identity,
                     targetBytes: Long = 128L << 20): (Int, Int) = {
    if (hasPendingMutation(spark, dir))
      throw new IllegalStateException(
        s"artifact at $dir has an unfinished append — compacting would bake " +
          "the inconsistency in and clear the marker; re-ensure first")
    val metaBefore = readMeta(spark, dir)
    require(metaBefore.isDefined, s"no artifact at $dir to compact")
    val (fs, dataPath) = fsPath(spark, dir, sub)
    def parquetFiles(p: Path): Int = {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
    val before = parquetFiles(dataPath)
    val bytes = fs.getContentSummary(dataPath).getLength
    val nOut = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val df = merge(spark.read.parquet(dataPath.toString))
    val (_, tmp) = fsPath(spark, dir, s"$sub.compacting")
    fs.delete(tmp, true)
    val writer =
      if (partitionCols.nonEmpty)
        // hash on the partition columns: each partition value lands in
        // exactly one task → one file per partition directory
        df.repartition(nOut, partitionCols.map(col): _*)
          .write.partitionBy(partitionCols: _*)
      else if (sortCols.nonEmpty)
        df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*).write
      else df.repartition(nOut).write
    writer.mode("overwrite").parquet(tmp.toString)
    beginMutation(spark, dir)
    fs.delete(dataPath, true)
    if (!fs.rename(tmp, dataPath))
      throw new IllegalStateException(s"compaction rename failed: $tmp -> $dataPath")
    endMutation(spark, dir)
    assert(readMeta(spark, dir) == metaBefore,
      "compaction must not touch the metadata line")
    (before, parquetFiles(dataPath))
  }

  // ------------------------------------------- doc-keyed delta ledger

  /** One additive table of a [[DocLedger]], stored under `sub`:
    * `delta` turns a document frame into its rows — the `keys`, the
    * summed `value` and any `partitionBy` columns. It also gets the
    * artifact's metadata line, for a layout that is a build parameter
    * (the inverted index's bucket count). Removal negates `value`;
    * readers net per key and keep `value > 0`.
    */
  final case class Additive(sub: String, delta: (DataFrame, String) => DataFrame,
                            keys: Seq[String], value: String,
                            partitionBy: Seq[String] = Nil) {
    private[Artifact] def write(rows: DataFrame, mode: String, dir: String): Unit = {
      val w = rows.write.mode(mode)
      (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*)).parquet(s"$dir/$sub")
    }

    /** Per-key deltas merged back to one row, non-positive nets dropped
      * — consumer-equivalent, because every reader nets and filters.
      */
    private[Artifact] def merge(df: DataFrame): DataFrame =
      df.groupBy((partitionBy ++ keys).map(col): _*).agg(sum(col(value)).as(value))
        .filter(col(value) > 0)
        .select((keys ++ Seq(value) ++ partitionBy).map(col): _*)
  }

  /** The lifecycle of an artifact made of document-keyed additive
    * tables: build once per corpus fingerprint, append in O(batch),
    * remove in O(removed), compact. Documents are `docCols` (which the
    * fingerprint hashes), and `ids/` holds one `idRow ++ gen` row per
    * indexed document. Every table is additive, so each mutation is
    * delta writes plus an arithmetic fingerprint update — history is
    * never recounted, and a later [[ensure]] over the mutated corpus
    * serves without a rebuild:
    *  - append is idempotent via the live ids (a double-submitted batch
    *    is a no-op) and fails fast on intra-batch duplicate ids; a
    *    removed id is re-insertable, its new gen clearing the mask;
    *  - remove writes NEGATIVE deltas recounted from the removed texts
    *    (the caller passes the indexed docs), only for live ids — a
    *    retried removal is a no-op — and tombstones the ids at next-gen;
    *  - both run under the pending marker, so a crash leaves an
    *    artifact that [[requireKind]] refuses and [[Artifact.ensure]]
    *    rebuilds;
    *  - compaction merges each table by its keys, drops masked id rows
    *    and clears the tombstones. Metadata untouched.
    */
  final case class DocLedger(kind: String, docCols: Seq[String], idRow: Seq[Column],
                             tables: Seq[Additive]) {

    private def fp(docs: DataFrame): String = fingerprint(docs, docCols.map(col): _*)

    private def writeIds(docs: DataFrame, gen: Long, mode: String, dir: String): Unit =
      docs.select(idRow :+ lit(gen).as("gen"): _*).write.mode(mode).parquet(s"$dir/ids")

    /** The id rows with logical deletes applied — "indexed" for the
      * append anti-join and the removal semi-join.
      */
    def liveIds(spark: SparkSession, dir: String): DataFrame =
      maskTombstones(spark, dir, spark.read.parquet(s"$dir/ids"))

    /** Build-if-needed over `docs` under the meta line
      * `kind + params + " fp=" + fingerprint`: every table and the gen-0
      * ids are overwritten, the tombstones cleared, next-gen set to 1.
      * Returns the artifact dir.
      */
    def ensure(spark: SparkSession, docs: DataFrame, dir: String, params: String): String = {
      val meta = s"$kind$params fp=${fp(docs)}"
      Artifact.ensure(spark, dir, meta) {
        tables.foreach(t => t.write(t.delta(docs, meta), "overwrite", dir))
        writeIds(docs, 0L, "overwrite", dir)
        clearTombstones(spark, dir)
        writeNextGen(spark, dir, 1L)
      }
    }

    def append(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
      requireKind(spark, dir, kind)
      DocLedger.requireUniqueIds(batch, s"'${kind.trim}' append batch")
      val meta = readMeta(spark, dir).get
      val fresh = batch
        .join(broadcast(batch.select(col("doc_id"))
            .join(liveIds(spark, dir).select(col("doc_id")), Seq("doc_id"), "left_semi")),
          Seq("doc_id"), "left_anti")
        .select(docCols.map(col): _*).localCheckpoint()
      if (!fresh.isEmpty) {
        val gen = readNextGen(spark, dir)
        beginMutation(spark, dir)
        tables.foreach(t => t.write(t.delta(fresh, meta), "append", dir))
        writeIds(fresh, gen, "append", dir)
        writeNextGen(spark, dir, gen + 1L)
        addToFingerprint(spark, dir, kind, fp(fresh))
        endMutation(spark, dir)
      }
    }

    def remove(spark: SparkSession, removedDocs: DataFrame, dir: String): Unit = {
      requireKind(spark, dir, kind)
      val meta = readMeta(spark, dir).get
      val removed = removedDocs.select(docCols.map(col): _*)
        .join(broadcast(removedDocs.select(col("doc_id"))
            .join(liveIds(spark, dir).select(col("doc_id")), Seq("doc_id"), "left_semi")),
          Seq("doc_id"), "left_semi")
        .localCheckpoint()
      if (!removed.isEmpty) {
        beginMutation(spark, dir)
        tables.foreach(t =>
          t.write(t.delta(removed, meta).withColumn(t.value, -col(t.value)), "append", dir))
        val tgen = readNextGen(spark, dir)
        appendTombstones(spark, dir, removed.select(col("doc_id"), lit(tgen).as("tgen")))
        subtractFromFingerprint(spark, dir, kind, fp(removed))
        endMutation(spark, dir)
      }
    }

    /** Returns (parquet files before, after) over every table and the ids. */
    def compact(spark: SparkSession, dir: String): (Int, Int) = {
      val files = tables.map(t => compactParquet(spark, dir, t.sub,
        partitionCols = t.partitionBy, merge = t.merge)) :+
        compactParquet(spark, dir, "ids", merge = maskTombstones(spark, dir, _))
      clearTombstones(spark, dir)
      (files.map(_._1).sum, files.map(_._2).sum)
    }
  }

  object DocLedger {

    /** Fail fast on a batch that repeats a doc_id: the idempotency
      * anti-join only sees STORED ids, so a repeat would count twice in
      * the ledgers and in the additive fingerprint.
      */
    def requireUniqueIds(batch: DataFrame, what: String): Unit =
      if (batch.groupBy(col("doc_id")).count().filter(col("count") > 1).take(1).nonEmpty)
        throw new IllegalArgumentException(
          s"$what contains duplicate doc_ids — dedupe upstream first")
  }
}
