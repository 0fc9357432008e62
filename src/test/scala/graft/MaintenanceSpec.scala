package graft

import graft.ext.{Artifact, Dedup}

/** The all-artifact compaction sweep: every built artifact compacts
  * without touching content, metadata, or served results.
  */
class MaintenanceSpec extends SparkSuite {
  import spark.implicits._

  test("compactAll sweeps every built artifact; metas and served content unchanged") {
    Warm.ensureAll(spark, sfDir)
    val root = Artifact.root(sfDir)
    val pairsBefore = Dedup.loadPairs(spark, s"$root/neardup")
      .as[(Long, Long, Double)].collect().toSet
    val groupsBefore = Dedup.loadGroups(spark, s"$root/dupgroups")
      .as[(Long, Long)].collect().toSet
    val metasBefore = Seq(s"$root/neardup", s"$root/dupgroups", s"$root/bandindex",
      s"$root/serving").map(d => d -> Artifact.readMeta(spark, d)).toMap

    val results = Maintenance.compactAll(spark, sfDir)
    val names = results.map(_._1).toSet
    assert(Set("neardup", "dupgroups", "bandindex", "serving", "shards", "unigram_lm",
      "ivf_c16", "pq_m8", "ivfpq_c16_m8", "srp_h8t4").subsetOf(names),
      s"every built artifact must be swept: $names")
    assert(results.forall { case (_, b, a) => a <= b },
      s"compaction must never grow a file set: $results")

    metasBefore.foreach { case (d, m) =>
      assert(Artifact.readMeta(spark, d) == m, s"meta must survive compaction: $d")
    }
    assert(Dedup.loadPairs(spark, s"$root/neardup")
      .as[(Long, Long, Double)].collect().toSet == pairsBefore)
    assert(Dedup.loadGroups(spark, s"$root/dupgroups")
      .as[(Long, Long)].collect().toSet == groupsBefore)
    // a second sweep is a no-op-safe idempotent pass
    assert(Maintenance.compactAll(spark, sfDir).forall { case (_, b, a) => a <= b })
  }

  test("sweep coverage is total: every artifact kind on disk is compacted or exempt with a reason") {
    Warm.ensureAll(spark, sfDir)
    // Exemptions must carry the reason the sweep can skip them — a new
    // artifact family landing on disk without either compactAll
    // coverage or an entry here fails this test (the r6 LM-append bug
    // was exactly a new MetaPrefix the sweep didn't know about).
    val exempt = Map(
      "serving_daily" -> ("dynamic partition overwrite leaves one file per day " +
        "by construction — never fragments (KeyValue.ensureStoreDaily doc)"),
      "bucketed" -> "overwrite-only bucketed tables: file set = bucket count, no append path",
      "lrclass" -> ("overwrite-only learned model (coalesce(1) weights + bias, " +
        "2 files total): GD weights are not additive statistics, so there is no " +
        "append path to fragment — a changed seed rebuilds wholesale (LrClassifier doc)"),
      "bpe_m8" -> ("overwrite-only tokenizer (merge list + final segmentation): the " +
        "merge chain of global argmaxes admits no append, so any corpus change " +
        "retrains it in full (Bpe.trained doc)"))
    val swept = Maintenance.compactAll(spark, sfDir).map(_._1).toSet
    def kindsOn(root: String): Seq[String] =
      Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(d => new java.io.File(d, "index_meta.txt").isFile)
        .map(_.getName).toSeq
    val onDisk = kindsOn(Artifact.root(sfDir)) ++
      kindsOn(graft.ext.AnnIndex.defaultRoot(sfDir))
    assert(onDisk.nonEmpty, "enumeration must see the warm-built artifacts")
    val uncovered = onDisk.filterNot(k => swept.contains(k) || exempt.contains(k))
    assert(uncovered.isEmpty,
      s"artifact kinds with neither compactAll coverage nor a stated exemption: $uncovered " +
        s"(swept=$swept)")
    // and the exemption list itself must not rot: every exempt name is real
    val stale = exempt.keys.filterNot(onDisk.contains)
    assert(stale.isEmpty, s"exemptions for artifact kinds no longer on disk: $stale")
  }

  test("the nightly sweep reaches an appended LM artifact and folds its deltas") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a dedicated fixture root so the appends don't perturb the shared one
    val fixture = "target/maintspec_lm"
    val lmDir = s"${Artifact.root(fixture)}/unigram_lm"
    deleteRecursively(Artifact.root(fixture))
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    graft.ext.LanguageModel.ensureLm(spark, docs((1L, "a b a")), lmDir)
    (2 to 6).foreach(i =>
      graft.ext.LanguageModel.ledger.append(spark, docs((i.toLong, "a b c")), lmDir))
    val meta = Artifact.readMeta(spark, lmDir)
    val vocab = graft.ext.LanguageModel.vocab(spark, lmDir, 10)
      .as[(String, Long)].collect().toSeq

    val results = Maintenance.compactAll(spark, fixture)
    val lm = results.find(_._1 == "unigram_lm")
    assert(lm.isDefined,
      s"the sweep must reach the unigram LM artifact (gated on the live " +
        s"MetaPrefix, not a stale literal): $results")
    assert(lm.get._3 < lm.get._2,
      s"five appended delta files must fold back: $lm")
    assert(Artifact.readMeta(spark, lmDir) == meta)
    assert(graft.ext.LanguageModel.vocab(spark, lmDir, 10)
      .as[(String, Long)].collect().toSeq == vocab)
    // the per-token deltas merged to one row each
    assert(spark.read.parquet(s"$lmDir/counts")
      .groupBy(col("token")).count().filter(col("count") > 1).isEmpty)
  }
}
