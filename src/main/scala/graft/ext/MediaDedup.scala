package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Media-level dedup + decontamination over the [[MediaFeatures]]
  * store — the image/audio analogs of the text dedup family: two
  * renders of the same image with different bytes sail through
  * `dedup_exact`, and an eval-suite image inside the training corpus
  * is invisible to the shingle/embedding decon operators. Every tier
  * here is exact-integer over DECODED features, so the DuckDB oracle
  * replays it bit for bit.
  *
  *  - Perceptual image dedup: the store's 63-bit dHash signatures
  *    ([[MediaFeatures.dhashCol]]), collapsed to exact-signature
  *    GROUPS first, then group representatives banded through the
  *    SimHash pigeonhole ([[Dedup.hammingPairs]] — four 16-bit
  *    chunks, any pair within Hamming 3 shares a chunk) and verified
  *    by bit_count(xor). Unrelated images sit at Hamming ≈ 31 of 63,
  *    so the ball admits only true re-renders; the
  *    photometric-invariance property (brightness shift, which noise
  *    rasters cannot demonstrate — see the degeneracy note below) is
  *    pinned on gradient images in `MediaFeaturesSpec`.
  *  - Audio fingerprint dedup: sign-of-delta bits over 64-frame
  *    window energies ([[MediaFeatures.audioFpCol]]), bucketed by
  *    (signature, window count), verified by EXACT window-vector
  *    equality — the re-encode detector (same PCM samples, different
  *    container header).
  *  - Media decontamination: exact tier = payload-hash match against
  *    a broadcast benchmark asset table; near tier = equal decoded
  *    dims + the 16-bin value histogram matching under a rotation of
  *    at most ±1 bin — a ±16 brightness shift rotates the
  *    `value div 16` histogram by exactly one bin, so the tier
  *    catches small photometric re-renders the exact tier misses
  *    without being fully shift-invariant (see the degeneracy note).
  *
  * Fixture degeneracy note: the synthetic raster byte at stream
  * position j is `(doc_id + j·K) mod 256` — doc_id only adds a
  * CONSTANT — and the metadata dims depend on `doc_id mod 64` only
  * (K ≡ 49 mod 64), so every pair of fixture images 64 doc_ids apart
  * has IDENTICAL dims and is a literal brightness shift of the other.
  * The perceptual operators treat those siblings as what they are:
  * dHash compares adjacent tile means, and a near-constant shift
  * (wrap effects spread almost evenly across tiles) leaves the
  * comparisons intact, so sibling signatures collapse into the same
  * or adjacent exact-signature groups — TRUE near-dups by
  * construction (the fixture universe holds only 256 distinct
  * rasters), fully replayed by the oracle (group collapse, banding,
  * caps and all). The decon near tier deliberately stops at ±1-bin
  * rotation for the same reason: an unbounded rotation match is
  * fully shift-invariant and correctly-but-uselessly flags the whole
  * sf0.1 corpus as contaminated; at ±1 the matches are the planted
  * shifted assets plus the exact-tier residue siblings. The planted
  * re-renders/assets additionally exercise the decode-the-arrival
  * path on payloads that differ in single bytes.
  *
  * Scale shape: corpus sides are always the slim feature store (a few
  * longs per doc — never payload bytes); candidate generation is
  * bucketed (one shuffle, skew-capped), verification touches only
  * candidates; benchmark/arrival sides are bounded and broadcast.
  */
object MediaDedup {

  /** Table ids for in-query planted arrivals/assets — offset far above
    * any fixture doc_id so plants never collide with corpus rows.
    * [[requireIdHeadroom]] enforces the bound (a corpus beyond the
    * offset would alias plant ids onto real docs and the oracle —
    * replaying the same arithmetic — would stay green on semantically
    * wrong groups).
    */
  val ReRenderOffset = 10000000L
  val ExactAssetOffset = 20000000L
  val NearAssetOffset = 30000000L

  /** Cached for file-determined corpora ([[Artifact.cachedByInputFiles]]):
    * ~15 registered media queries each re-ran this max(doc_id) guard as
    * an eager aggregate job over the same fixture frame inside their
    * timed windows.
    */
  private def requireIdHeadroom(docs: DataFrame): Unit =
    Artifact.cachedByInputFiles(docs, "idHeadroom") {
      val mx = docs.agg(max(col("doc_id"))).head()
      require(mx.isNullAt(0) || mx.getLong(0) < ReRenderOffset,
        s"plant-id offset $ReRenderOffset must exceed max doc_id " +
          s"${mx.getLong(0)} — raise the offsets for this corpus")
    }

  /** Tonight's image arrivals: a re-render of every `everyNth`-th
    * corpus image with the first row's first `ceil(w/9)` pixels
    * perturbed (each of those `3·ceil(w/9)` raster bytes += 128 mod
    * 256 — a watermark/defect region covering exactly dHash tile
    * (0,0), so the arrival's signature sits within Hamming 1 of its
    * source). Byte-level different payload, perceptually the same
    * image: exact-hash dedup misses it, the dHash ball catches it.
    * Built payload-level (header + modified region + rest), so the
    * pipeline demonstrably DECODES the arrivals rather than trusting
    * precomputed features.
    */
  def imageReRenders(docs: DataFrame, everyNth: Int = 41): DataFrame = {
    requireIdHeadroom(docs)
    Multimodal.withFakeMedia(docs.filter(pmod(col("doc_id"), lit(everyNth)) === 0))
      // the payload is built in a select that does NOT alias doc_id:
      // aliasing `doc_id + offset AS doc_id` in the SAME select made
      // the `col("doc_id")` inside the transform() lambda resolve to
      // the LATERAL COLUMN ALIAS (the offset id), not the input —
      // Spark resolves lambda bodies after lateral-alias rewriting —
      // which silently shifted the perturbation by another 128
      // (10M ≡ 128 mod 256) and landed it back on the original bytes
      .select(col("doc_id"),
        concat(
          // dims are 32..95 (always 2-digit), so the P6 header is
          // exactly 13 bytes and the raster starts at position 14;
          // the perturbed region is the first row's first ceil(w/9)
          // pixels — exactly dHash tile (0,0), so the arrival's
          // signature sits within Hamming 1 of its source (bit (0,0)
          // is the only comparison that tile participates in)
          expr("substring(media, 1, 13)"),
          unhex(array_join(
            transform(
              sequence(lit(0), expr("3 * ((width + 8) div 9) - 1")),
              j => lpad(hex(pmod(
                pmod(col("doc_id") + j * lit(2654435761L), lit(256)) + 128,
                lit(256))), 2, "0")),
            "")),
          expr("substring(media, 14 + 3 * ((width + 8) div 9), length(media))"))
          .as("media"))
      .select((col("doc_id") + lit(ReRenderOffset)).as("doc_id"), col("media"))
  }

  /** Exact-signature groups over corpus ∪ arrivals: `(sig, rep_id,
    * n_members)` with the smallest member as representative. The
    * collapse BEFORE banding is what keeps the operator sane at
    * scale: the fixture universe contains only 256 distinct rasters
    * (raster bytes depend on doc_id mod 256 alone, dims on mod 64),
    * so at 10× every signature already has ~200 byte-identical
    * copies — banding raw doc signatures emitted 5.1M quadratic
    * sibling pairs in 18.5 s, while group representatives stay
    * bounded by the DISTINCT-signature count regardless of corpus
    * size (the exact-dup-collapse-before-LSH rule every production
    * dedup pipeline applies).
    */
  private def allImageSigs(spark: SparkSession, docs: DataFrame,
                           dir: String): DataFrame = {
    val stored = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("dhash").as("sig"))
      .filter(col("sig").isNotNull)
    val arrivals = imageReRenders(docs)
      .select(col("doc_id"),
        MediaFeatures.dhashCol(graft.functions.native.ppm_tile_means(
          col("media"), MediaFeatures.DhashGridW, MediaFeatures.DhashGridH))
          .as("sig"))
      .filter(col("sig").isNotNull)
    stored.unionByName(arrivals)
  }

  def imageSigGroups(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    allImageSigs(spark, docs, dir)
      .groupBy(col("sig"))
      .agg(min(col("doc_id")).as("rep_id"),
        count(lit(1)).as("n_members"))

  /** Full perceptual duplicate GROUPS: connected components over the
    * rep-level Hamming pairs (the shared label-propagation engine),
    * expanded back through the exact-signature groups so EVERY doc in
    * corpus ∪ arrivals carries its cluster label (component-min rep;
    * its own rep for singleton components) — the image analog of
    * `dedup_groups`.
    */
  def imageDupGroups(spark: SparkSession, docs: DataFrame, dir: String,
                     maxHamming: Int = 3, maxBucket: Int = 256): DataFrame =
    imageDupGroupsOver(allImageSigs(spark, docs, dir), maxHamming, maxBucket,
      capTelemetry = true)

  /** The group engine over ANY `(doc_id, sig)` frame — [[imageDupGroups]]
    * runs it over corpus ∪ arrivals; the multimodal release runs it
    * over the release corpus alone (no arrivals belong in a release's
    * duplicate structure). `capTelemetry` rides the no-silent-caps
    * `n_capped_buckets` column on every row (the registered report
    * carries it; composition consumers that only read the labels skip
    * the extra one-row cross join).
    */
  private[ext] def imageDupGroupsOver(sigsIn: DataFrame, maxHamming: Int = 3,
                                      maxBucket: Int = 256,
                                      capTelemetry: Boolean = false): DataFrame = {
    // lazy checkpoints throughout this file (r19): same pin-once
    // guarantee (the first consuming job materializes and caches), but
    // no dedicated construction-time job per site — the construct-phase
    // job storm is ~80 ms/job of pure scheduling on any host
    val sigs = sigsIn.localCheckpoint(false)
    val groups = sigs.groupBy(col("sig")).agg(min(col("doc_id")).as("rep_id"))
      .localCheckpoint(false)
    val reps = groups.select(col("rep_id").as("doc_id"), col("sig"))
    val pairs = Dedup.hammingPairs(reps, maxHamming, maxBucket)
    val comp = Dedup.duplicateGroups(pairs)
      .withColumnRenamed("doc_id", "rep_id")
    val labeled = sigs.join(groups, Seq("sig"))
      .join(comp, Seq("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("group_id"), col("rep_id")).as("group_id"))
    if (!capTelemetry) labeled
    else labeled.crossJoin(
      broadcast(Dedup.hammingCappedBuckets(reps, maxBucket)))
  }

  /** Perceptual near-dup pairs between GROUP REPRESENTATIVES:
    * distinct signatures banded through the SimHash pigeonhole,
    * Hamming-verified. Exact-signature duplicates are group members
    * (see [[imageSigGroups]]), not pairs. Every row carries the
    * `n_capped_buckets` telemetry column ([[Dedup.hammingCappedBuckets]]
    * over the same rep signatures) so cap-induced coverage loss is
    * visible in-data, not silent — 0 on this fixture, and replayed by
    * the oracle either way.
    */
  def imagePhashPairs(spark: SparkSession, docs: DataFrame, dir: String,
                      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val reps = imageSigGroups(spark, docs, dir)
      .select(col("rep_id").as("doc_id"), col("sig"))
      .localCheckpoint(false) // consumed twice: banding + cap telemetry
    Dedup.hammingPairs(reps, maxHamming, maxBucket)
      .crossJoin(broadcast(Dedup.hammingCappedBuckets(reps, maxBucket)))
  }

  /** The removal form: one survivor per exact-signature group (the
    * representative), minus representatives that lose a near-dup
    * rep pair (higher id drops).
    */
  def applyImagePhash(spark: SparkSession, docs: DataFrame, dir: String,
                      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    val groups = imageSigGroups(spark, docs, dir).localCheckpoint(false)
    val losers = Dedup.hammingPairs(
        groups.select(col("rep_id").as("doc_id"), col("sig")),
        maxHamming, maxBucket)
      .select(col("b_id").as("rep_id")).distinct()
    groups.join(losers, Seq("rep_id"), "left_anti")
      .select(col("rep_id").as("doc_id"))
  }

  /** Tonight's audio arrivals: every `everyNth`-th corpus clip
    * RE-ENCODED — identical PCM samples and frame/channel layout,
    * different container header (sample-rate field rewritten to
    * 48 kHz), so the payload hash differs while the decoded sample
    * stream is byte-identical.
    */
  def audioReEncodes(docs: DataFrame, everyNth: Int = 89): DataFrame = {
    requireIdHeadroom(docs)
    docs.filter(pmod(col("doc_id"), lit(everyNth)) === 0)
      .select(col("doc_id"),
        (Multimodal.metaHash(3) % 2048 + lit(256)).cast("int").as("frames"),
        (Multimodal.metaHash(4) % 2 + lit(1)).cast("int").as("channels"))
      // rename-last (see the lateral-column-alias note above)
      .select(col("doc_id"),
        graft.functions.native.wav_synth(col("doc_id"), col("frames"),
          col("channels"), lit(48000)).as("media"))
      .select((col("doc_id") + lit(ReRenderOffset)).as("doc_id"), col("media"))
  }

  /** Audio fingerprint dedup over corpus ∪ arrivals: stored
    * fingerprints for the corpus, a real decode for the arrivals;
    * candidates bucket on (signature, window count) — one shuffle,
    * skew-capped — and survive only EXACT window-vector equality
    * (same decoded audio content). One row per duplicate pair
    * `(a_id, b_id, n_windows, n_capped_buckets)` — the last column is
    * the no-silent-caps telemetry (dropped over-cap bucket count, 0 on
    * this fixture, oracle-replayed).
    */
  def audioFpPairs(spark: SparkSession, docs: DataFrame, dir: String,
                   maxBucket: Int = 256): DataFrame = {
    val stored = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("a_fp").as("sig"), col("a_fp_windows").as("vec"))
    val arrivals = audioReEncodes(docs)
      .select(col("doc_id"),
        transform(graft.functions.native.wav_window_stats(
          col("media"), MediaFeatures.FpWindowFrames),
          w => w.getField("sum_abs")).as("vec"))
      .select(col("doc_id"), MediaFeatures.audioFpCol(col("vec")).as("sig"),
        col("vec"))
    val keyed = stored.unionByName(arrivals)
      .filter(col("vec").isNotNull)
      .withColumn("n_windows", size(col("vec")).cast("long"))
    // size-filter the bucket KEYS before collecting vectors: short
    // clips have few fingerprint bits (4-bit signatures → 16 possible
    // values), so over-cap buckets can hold thousands of fat
    // (doc_id, vec) structs — collecting them just to discard the
    // bucket materializes unbounded rows in single aggregation groups.
    // The extra pass shuffles only (sig, n_windows, 1).
    val counts = keyed.groupBy(col("sig"), col("n_windows"))
      .agg(count(lit(1)).as("mm"))
      .localCheckpoint(false) // consumed twice: key filter + cap telemetry
    val okKeys = counts.filter(col("mm").between(2, maxBucket))
      .select(col("sig"), col("n_windows"))
    // no-silent-caps: the dropped-bucket count rides on every pair row
    // (0 on this fixture), so a corpus whose duplicate clusters outgrow
    // the cap reports its own coverage loss — oracle-replayed
    val capped = counts.filter(col("mm") > maxBucket)
      .agg(count(lit(1)).as("n_capped_buckets"))
    keyed.join(okKeys, Seq("sig", "n_windows"), "left_semi")
      .groupBy(col("sig"), col("n_windows"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("vec")))).as("m"))
      .select(col("n_windows"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + lit(2), size(col("m"))),
          y => struct(x.getField("doc_id").as("a_id"),
            y.getField("doc_id").as("b_id"),
            x.getField("vec").as("a_vec"), y.getField("vec").as("b_vec"))))))
        .as("p"))
      .filter(col("p.a_vec") === col("p.b_vec"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("n_windows"))
      .crossJoin(broadcast(capped))
  }

  /** Tri-modal re-render arrivals for the STREAMED media ingest: the
    * source doc's wav/y4m payloads unchanged, the image re-rendered
    * with the [[imageReRenders]] tile-(0,0) perturbation (signature
    * within Hamming 1 of the source), re-id'd above `offset`. A
    * document-level near-dup: exact payload identity misses the image,
    * the ingest's perceptual tier (dHash ball + identical audio/video
    * payload hashes) catches the document.
    */
  private[graft] def triModalReRenders(docs: DataFrame, everyNth: Int,
                                       rem: Int, offset: Long): DataFrame = {
    require(offset >= ReRenderOffset, "plant offsets start at ReRenderOffset")
    requireIdHeadroom(docs)
    Multimodal.withFakeAllMedia(
        docs.filter(pmod(col("doc_id"), lit(everyNth)) === rem))
      .withColumn("width", (Multimodal.metaHash(0) % 64 + lit(32)).cast("int"))
      // same construction (and the same lateral-column-alias rule) as
      // [[imageReRenders]]; doc_id is renamed LAST
      .select(col("doc_id"),
        concat(
          expr("substring(img, 1, 13)"),
          unhex(array_join(
            transform(
              sequence(lit(0), expr("3 * ((width + 8) div 9) - 1")),
              j => lpad(hex(pmod(
                pmod(col("doc_id") + j * lit(2654435761L), lit(256)) + 128,
                lit(256))), 2, "0")),
            "")),
          expr("substring(img, 14 + 3 * ((width + 8) div 9), length(img))"))
          .as("img"),
        col("wav"), col("y4m"))
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        col("img"), col("wav"), col("y4m"))
  }

  /** Tri-modal VIDEO re-encode arrivals for the streaming ingest: the
    * source doc's img/wav payloads unchanged, the y4m re-synthesized
    * with the fps field swapped (identical frame bytes — the
    * [[videoReEncodes]] construction), re-id'd above `offset`.
    */
  private[graft] def triModalVideoReEncodes(docs: DataFrame, everyNth: Int,
                                            rem: Int, offset: Long): DataFrame = {
    require(offset >= ReRenderOffset, "plant offsets start at ReRenderOffset")
    requireIdHeadroom(docs)
    Multimodal.withFakeAllMedia(
        docs.filter(pmod(col("doc_id"), lit(everyNth)) === rem))
      .select(col("doc_id"), col("img"), col("wav"),
        graft.functions.native.y4m_synth(col("doc_id"),
          (Multimodal.metaHash(6) % 32 + lit(16)).cast("int"),
          (Multimodal.metaHash(7) % 32 + lit(16)).cast("int"),
          (Multimodal.metaHash(8) % 8 + lit(2)).cast("int"),
          (lit(36) - (Multimodal.metaHash(9) % 2 + lit(1)) * lit(12))
            .cast("int")).as("y4m"))
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        col("img"), col("wav"), col("y4m"))
  }

  /** Tri-modal AUDIO re-encode arrivals for the streaming ingest: the
    * source doc's img/y4m payloads unchanged, the wav re-synthesized
    * with the sample-rate field rewritten to 48 kHz (identical PCM —
    * the [[audioReEncodes]] construction), re-id'd above `offset`.
    */
  private[graft] def triModalAudioReEncodes(docs: DataFrame, everyNth: Int,
                                            rem: Int, offset: Long): DataFrame = {
    require(offset >= ReRenderOffset, "plant offsets start at ReRenderOffset")
    requireIdHeadroom(docs)
    Multimodal.withFakeAllMedia(
        docs.filter(pmod(col("doc_id"), lit(everyNth)) === rem))
      .select(col("doc_id"), col("img"),
        graft.functions.native.wav_synth(col("doc_id"),
          (Multimodal.metaHash(3) % 2048 + lit(256)).cast("int"),
          (Multimodal.metaHash(4) % 2 + lit(1)).cast("int"),
          lit(48000)).as("wav"),
        col("y4m"))
      .select((col("doc_id") + lit(offset)).as("doc_id"),
        col("img"), col("wav"), col("y4m"))
  }

  /** Tonight's video arrivals: every `everyNth`-th corpus clip
    * RE-ENCODED — identical frame stream (same seed, dims, frame
    * count), rewritten Y4M parameter line (the fps field swapped
    * 12↔24), so the payload hash differs while every decoded frame is
    * byte-identical. The [[audioReEncodes]] shape applied to the third
    * modality.
    */
  def videoReEncodes(docs: DataFrame, everyNth: Int = 67): DataFrame = {
    requireIdHeadroom(docs)
    docs.filter(pmod(col("doc_id"), lit(everyNth)) === 0)
      .select(col("doc_id"),
        (Multimodal.metaHash(6) % 32 + lit(16)).cast("int").as("w"),
        (Multimodal.metaHash(7) % 32 + lit(16)).cast("int").as("h"),
        (Multimodal.metaHash(8) % 8 + lit(2)).cast("int").as("nf"),
        (lit(36) - (Multimodal.metaHash(9) % 2 + lit(1)) * lit(12))
          .cast("int").as("fps"))
      // rename-last (see the lateral-column-alias note above)
      .select(col("doc_id"),
        graft.functions.native.y4m_synth(col("doc_id"), col("w"), col("h"),
          col("nf"), col("fps")).as("media"))
      .select((col("doc_id") + lit(ReRenderOffset)).as("doc_id"), col("media"))
  }

  /** Video content-identity dedup over corpus ∪ re-encoded arrivals:
    * the corpus side is the store's stride-1 per-frame luma sums (zero
    * payload access), arrivals are decoded for real. Payload-level
    * groups — key `(dims, fps, frame vector)`, payload identity up to
    * the luma-sum fold — collapse BEFORE pairing (the
    * exact-dup-before-LSH rule: fixture clips repeat every 256
    * doc_ids, so raw pairing is quadratic in corpus size while group
    * reps stay bounded by the distinct-content count). Group reps then
    * bucket on `(sign-of-delta fingerprint, frame count)`
    * ([[MediaFeatures.videoFpCol]]) — count-filtered BEFORE vector
    * collection, cap telemetry on every row — and survive only exact
    * dims + frame-vector equality: same decoded video content under a
    * different container header. One row per duplicate pair
    * `(a_id, b_id, n_frames, n_capped_buckets)`.
    */
  def videoFpPairs(spark: SparkSession, docs: DataFrame, dir: String,
                   maxBucket: Int = 256): DataFrame = {
    val stored = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("v_w"), col("v_h"), col("v_fps"),
        col("frame_y").as("vec"))
    val arrivals = videoReEncodes(docs)
      .select(col("doc_id"),
        graft.functions.native.y4m_decode_stats(col("media")).as("d"),
        graft.functions.native.y4m_frame_y_sums(col("media"), 1).as("vec"))
      .select(col("doc_id"), col("d.width").as("v_w"),
        col("d.height").as("v_h"), col("d.fps").as("v_fps"), col("vec"))
    val groups = stored.unionByName(arrivals)
      .filter(col("vec").isNotNull)
      .groupBy(col("v_w"), col("v_h"), col("v_fps"), col("vec"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("v_w"), col("v_h"), col("vec"),
        MediaFeatures.videoFpCol(col("vec")).as("sig"),
        size(col("vec")).cast("long").as("n_frames"))
      .localCheckpoint(false) // consumed thrice: key counts + semi join + collect
    val counts = groups.groupBy(col("sig"), col("n_frames"))
      .agg(count(lit(1)).as("mm"))
      .localCheckpoint(false) // consumed twice: key filter + cap telemetry
    val okKeys = counts.filter(col("mm").between(2, maxBucket))
      .select(col("sig"), col("n_frames"))
    val capped = counts.filter(col("mm") > maxBucket)
      .agg(count(lit(1)).as("n_capped_buckets"))
    groups.join(okKeys, Seq("sig", "n_frames"), "left_semi")
      .groupBy(col("sig"), col("n_frames"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("v_w"),
        col("v_h"), col("vec")))).as("m"))
      .select(col("n_frames"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + lit(2), size(col("m"))),
          y => struct(x.getField("doc_id").as("a_id"),
            y.getField("doc_id").as("b_id"),
            x.getField("v_w").as("a_w"), y.getField("v_w").as("b_w"),
            x.getField("v_h").as("a_h"), y.getField("v_h").as("b_h"),
            x.getField("vec").as("a_vec"), y.getField("vec").as("b_vec"))))))
        .as("p"))
      .filter(col("p.a_w") === col("p.b_w") && col("p.a_h") === col("p.b_h") &&
        col("p.a_vec") === col("p.b_vec"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("n_frames"))
      .crossJoin(broadcast(capped))
  }

  /** Tonight's RESIZED video arrivals: every `everyNth`-th corpus clip
    * re-rendered at 2× resolution through the REAL nearest-neighbor
    * upscale re-encode ([[graft.functions.Y4mKernel.resizeNn]]: parse
    * the canonical payload, duplicate each pixel 2×2 in all three
    * planes, re-emit) — the single most common real-world video-dup
    * class: same content, different `w×h`. Every existing tier is
    * blind to it (the payload hash, the dims-keyed payload groups, and
    * the exact frame-vector all change), which is exactly the gap this
    * tier closes.
    */
  def videoResizedReEncodes(docs: DataFrame, everyNth: Int = 71): DataFrame = {
    requireIdHeadroom(docs)
    docs.filter(pmod(col("doc_id"), lit(everyNth)) === 0)
      .select(col("doc_id"),
        (Multimodal.metaHash(6) % 32 + lit(16)).cast("int").as("w"),
        (Multimodal.metaHash(7) % 32 + lit(16)).cast("int").as("h"),
        (Multimodal.metaHash(8) % 8 + lit(2)).cast("int").as("nf"),
        ((Multimodal.metaHash(9) % 2 + lit(1)) * lit(12)).cast("int").as("fps"))
      // rename-last (see the lateral-column-alias note above)
      .select(col("doc_id"),
        graft.functions.native.y4m_resize_nn(
          graft.functions.native.y4m_synth(col("doc_id"), col("w"), col("h"),
            col("nf"), col("fps")), 2).as("media"))
      .select((col("doc_id") + lit(ReRenderOffset)).as("doc_id"), col("media"))
  }

  /** PERCEPTUAL (resize-robust) video dedup over corpus ∪ resized
    * re-renders: where [[videoFpPairs]] verifies exact dims + exact
    * frame-vector equality (and so misses any re-render at a different
    * resolution), this tier compares the resolution-NORMALIZED frame
    * means — exact cross-multiplied integer equality
    * `a_vec[f]·(b_w·b_h) = b_vec[f]·(a_w·a_h)` for every frame, which
    * any EXACTLY mean-preserving resize satisfies bit-for-bit —
    * nearest-neighbor integer upscaling always; average-pooling
    * downscales when the block sums divide evenly (integer rounding
    * otherwise perturbs the mean by <1/block, a near-miss this exact
    * tier deliberately does not chase). The
    * sign-of-delta fingerprint ([[MediaFeatures.videoFpCol]]) is
    * already scale-invariant (positive scaling preserves strict
    * order), so the same bucket key works — candidates bucket on
    * `(fingerprint, frame count)` WITHOUT dims. Content groups —
    * key `(dims, frame vector)`, fps deliberately excluded: the
    * percep identity ignores container parameters — collapse before
    * pairing, count-filtered before vector collection, cap telemetry
    * on every row. One row per duplicate pair
    * `(a_id, b_id, n_frames, n_capped_buckets)`.
    *
    * Fixture note: clips whose plane size w·h ≡ 0 (mod 256) fold to
    * the id-independent complete-cycle luma sum `w·h·127.5` per frame,
    * so every such clip's normalized mean is 127.5 — cross-DIMENSION
    * pairs among those degenerate reps are genuine hits of the
    * normalized-mean identity (the decon_media_av lesson: the oracle
    * replays the vector arithmetic, never a doc_id congruence), and
    * their rep count is bounded by the distinct (dims, frame-count)
    * combinations regardless of corpus size.
    */
  def videoPercepPairs(spark: SparkSession, docs: DataFrame, dir: String,
                       maxBucket: Int = 256): DataFrame = {
    val stored = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("v_w"), col("v_h"), col("frame_y").as("vec"))
    val arrivals = videoResizedReEncodes(docs)
      .select(col("doc_id"),
        graft.functions.native.y4m_decode_stats(col("media")).as("d"),
        graft.functions.native.y4m_frame_y_sums(col("media"), 1).as("vec"))
      .select(col("doc_id"), col("d.width").as("v_w"),
        col("d.height").as("v_h"), col("vec"))
    val groups = stored.unionByName(arrivals)
      .filter(col("vec").isNotNull)
      .groupBy(col("v_w"), col("v_h"), col("vec"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), (col("v_w") * col("v_h")).as("area"),
        MediaFeatures.videoFpCol(col("vec")).as("sig"),
        size(col("vec")).cast("long").as("n_frames"), col("vec"))
      .localCheckpoint(false) // consumed thrice: key counts + semi join + collect
    val counts = groups.groupBy(col("sig"), col("n_frames"))
      .agg(count(lit(1)).as("mm"))
      .localCheckpoint(false) // consumed twice: key filter + cap telemetry
    val okKeys = counts.filter(col("mm").between(2, maxBucket))
      .select(col("sig"), col("n_frames"))
    val capped = counts.filter(col("mm") > maxBucket)
      .agg(count(lit(1)).as("n_capped_buckets"))
    groups.join(okKeys, Seq("sig", "n_frames"), "left_semi")
      .groupBy(col("sig"), col("n_frames"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("area"),
        col("vec")))).as("m"))
      .select(col("n_frames"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + lit(2), size(col("m"))),
          y => struct(x.getField("doc_id").as("a_id"),
            y.getField("doc_id").as("b_id"),
            x.getField("area").as("a_area"), y.getField("area").as("b_area"),
            x.getField("vec").as("a_vec"), y.getField("vec").as("b_vec"))))))
        .as("p"))
      .filter(transform(col("p.a_vec"), x => x * col("p.b_area")) ===
        transform(col("p.b_vec"), x => x * col("p.a_area")))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("n_frames"))
      .crossJoin(broadcast(capped))
  }

  /** Tonight's RESAMPLED audio arrivals: every `everyNth`-th corpus
    * clip re-encoded at 2× sample rate through the REAL
    * nearest-neighbor resample ([[graft.functions.WavKernel.resampleNn]]:
    * parse the canonical payload, duplicate each frame, re-emit at
    * `2·rate` with `2·frames` — same duration, same waveform) — the
    * audio analog of a resolution change. The exact fingerprint tier
    * ([[audioFpPairs]]) is blind to it: the 64-FRAME window energies
    * cover half the time span after resampling, so neither the window
    * vector nor its signature survives.
    */
  def audioResamples(docs: DataFrame, everyNth: Int = 83): DataFrame = {
    requireIdHeadroom(docs)
    docs.filter(pmod(col("doc_id"), lit(everyNth)) === 0)
      .select(col("doc_id"),
        (Multimodal.metaHash(3) % 2048 + lit(256)).cast("int").as("frames"),
        (Multimodal.metaHash(4) % 2 + lit(1)).cast("int").as("channels"),
        ((Multimodal.metaHash(5) % 2 + lit(1)) * lit(8000)).cast("int").as("rate"))
      // rename-last (see the lateral-column-alias note above)
      .select(col("doc_id"),
        graft.functions.native.wav_resample_nn(
          graft.functions.native.wav_synth(col("doc_id"), col("frames"),
            col("channels"), col("rate")), 2).as("media"))
      .select((col("doc_id") + lit(ReRenderOffset)).as("doc_id"), col("media"))
  }

  /** Base rate for the time-normalized audio envelope: one envelope
    * window = the time span of [[MediaFeatures.FpWindowFrames]] frames
    * at 8 kHz (= 8 ms). Clips whose rate is a multiple of this
    * participate; others are skipped (no fixture clip is).
    */
  val EnvelopeBaseRate = 8000L

  /** Rate-normalized energy envelope: the stored 64-frame `sum_abs`
    * windows regrouped into TIME windows of `64·g` frames where
    * `g = rate / 8000` — adjacent-window sums, so the regroup is exact
    * and derivable from the persisted store without re-decoding (the
    * short final window folds in identically by ceil grouping).
    */
  private def timeEnvelope(vec: Column, g: Column): Column =
    transform(
      sequence(lit(0), floor((size(vec) + g - 1) / g).cast("int") - 1),
      t => aggregate(slice(vec, t * g + 1, g), lit(0L), (acc, x) => acc + x))

  /** PERCEPTUAL (resample-robust) audio dedup over corpus ∪ resampled
    * arrivals: where [[audioFpPairs]] verifies exact 64-frame window
    * vectors (same SAMPLE stream), this tier compares the TIME-domain
    * energy envelope normalized by rate — windows of `64·(rate/8000)`
    * frames (equal time spans at every rate), verified by exact
    * cross-multiplied integer equality
    * `a_env[w]·b_rate = b_env[w]·a_rate` for every window, which a
    * nearest-neighbor resample satisfies bit-for-bit (each time
    * window holds `factor` copies of the same samples → `sum_abs`
    * scales by exactly the rate ratio). Corpus side derives the
    * envelope from the STORED 64-frame windows (adjacent-window sums —
    * zero payload access); arrivals decode for real. Content groups —
    * key `(rate, envelope)` — collapse before pairing; candidates
    * bucket on `(sign-of-delta fingerprint, window count)` (the
    * fingerprint is scale-invariant, so a resampled clip lands in its
    * source's bucket); count-filtered before vector collection, cap
    * telemetry on every row. One row per duplicate pair
    * `(a_id, b_id, n_windows, n_capped_buckets)`.
    */
  def audioPercepPairs(spark: SparkSession, docs: DataFrame, dir: String,
                       maxBucket: Int = 256): DataFrame = {
    val stored = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("a_rate").as("rate"),
        col("a_fp_windows").as("w64"))
    val arrivals = audioResamples(docs)
      .select(col("doc_id"),
        graft.functions.native.wav_decode_stats(col("media")).as("d"),
        transform(graft.functions.native.wav_window_stats(
          col("media"), MediaFeatures.FpWindowFrames),
          w => w.getField("sum_abs")).as("w64"))
      .select(col("doc_id"), col("d.sample_rate").as("rate"), col("w64"))
    val keyed = stored.unionByName(arrivals)
      .filter(col("w64").isNotNull && size(col("w64")) > 0 &&
        col("rate") % lit(EnvelopeBaseRate) === 0)
      .withColumn("g", (col("rate") / lit(EnvelopeBaseRate)).cast("int"))
      .select(col("doc_id"), col("rate"),
        timeEnvelope(col("w64"), col("g")).as("tvec"))
    val groups = keyed.groupBy(col("rate"), col("tvec"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("rate"),
        MediaFeatures.audioFpCol(col("tvec")).as("sig"),
        size(col("tvec")).cast("long").as("n_windows"), col("tvec"))
      .localCheckpoint(false) // consumed thrice: key counts + semi join + collect
    val counts = groups.groupBy(col("sig"), col("n_windows"))
      .agg(count(lit(1)).as("mm"))
      .localCheckpoint(false) // consumed twice: key filter + cap telemetry
    val okKeys = counts.filter(col("mm").between(2, maxBucket))
      .select(col("sig"), col("n_windows"))
    val capped = counts.filter(col("mm") > maxBucket)
      .agg(count(lit(1)).as("n_capped_buckets"))
    groups.join(okKeys, Seq("sig", "n_windows"), "left_semi")
      .groupBy(col("sig"), col("n_windows"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("rate"),
        col("tvec")))).as("m"))
      .select(col("n_windows"), explode(flatten(transform(col("m"), (x, i) =>
        transform(slice(col("m"), i + lit(2), size(col("m"))),
          y => struct(x.getField("doc_id").as("a_id"),
            y.getField("doc_id").as("b_id"),
            x.getField("rate").as("a_rate"), y.getField("rate").as("b_rate"),
            x.getField("tvec").as("a_vec"), y.getField("tvec").as("b_vec"))))))
        .as("p"))
      .filter(transform(col("p.a_vec"), x => x * col("p.b_rate")) ===
        transform(col("p.b_vec"), x => x * col("p.a_rate")))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"),
        col("n_windows"))
      .crossJoin(broadcast(capped))
  }

  /** The benchmark asset table for media decontamination: exact copies
    * of every `doc_id % 97 == 0` corpus image, plus +16
    * brightness-shifted re-renders of every `doc_id % 97 == 13` image
    * (raster seed doc_id+16 under the ORIGINAL dims — each pixel
    * shifts by exactly one histogram bin).
    */
  /** Benchmark assets stay a FIXED-SIZE eval suite: the slice is
    * bounded to doc_id < 50000, so the asset count stops growing with
    * the corpus (real eval suites are thousands of items regardless
    * of training-corpus size; an unbounded %97 slice made the decon
    * probe quadratic at 100×). The bound leaves every fixture at or
    * below sf1 unchanged.
    */
  val BenchmarkIdBound = 50000L

  def mediaBenchmark(docs: DataFrame,
                     benchIdBound: Long = BenchmarkIdBound): DataFrame = {
    requireIdHeadroom(docs)
    val dims = docs.filter(col("doc_id") < benchIdBound)
      .select(col("doc_id"),
        (Multimodal.metaHash(0) % 64 + lit(32)).cast("int").as("w"),
        (Multimodal.metaHash(1) % 64 + lit(32)).cast("int").as("h"))
    // rename-last (see the lateral-column-alias note above)
    val exact = dims.filter(pmod(col("doc_id"), lit(97)) === 0)
      .select(col("doc_id"),
        graft.functions.native.ppm_synth(col("doc_id"), col("w"), col("h"))
          .as("media"))
      .select((col("doc_id") + lit(ExactAssetOffset)).as("bench_id"), col("media"))
    val near = dims.filter(pmod(col("doc_id"), lit(97)) === 13)
      .select(col("doc_id"),
        graft.functions.native.ppm_synth(col("doc_id") + lit(16L), col("w"),
          col("h")).as("media"))
      .select((col("doc_id") + lit(NearAssetOffset)).as("bench_id"), col("media"))
    exact.unionByName(near)
  }

  /** Media decontamination report: corpus documents whose image
    * payload matches a benchmark asset — `exact` (identical bytes,
    * via the stored payload hash against the broadcast asset hashes)
    * or `near` (equal decoded dims + rotation-matched 16-bin value
    * histogram — the brightness-quantization-shift-invariant tier
    * that catches re-rendered assets the exact tier misses). The
    * corpus side is ONE scan of the slim feature store; assets are
    * decoded once and broadcast.
    */
  def deconMedia(spark: SparkSession, docs: DataFrame, dir: String,
                 benchIdBound: Long = BenchmarkIdBound): DataFrame = {
    val bench = mediaBenchmark(docs, benchIdBound)
      .select(col("bench_id"), xxhash64(col("media")).as("bxx"),
        graft.functions.native.ppm_decode_stats(col("media")).as("bd"))
      .filter(col("bd").isNotNull)
      .select(col("bench_id"), col("bxx"), col("bd.width").as("bw"),
        col("bd.height").as("bh"), col("bd.hist").as("bhist"))
      .localCheckpoint(false)
    val corpus = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("img_xx"), col("img_w"), col("img_h"),
        col("img_hist"))
    // TWO broadcast HASH joins, not one OR-condition join: an OR of
    // an equality and a dims-plus-rotation predicate plans as a
    // BroadcastNestedLoopJoin — every (corpus, asset) pair evaluated,
    // which at 100× (500k docs × 10k assets pre-bound) never finished
    // a 570 s window. Split, each tier keys on its natural equi-join
    // (payload hash; dims) and the rotation test runs only on the
    // dims-matched sliver.
    //
    // rotation limited to ±1 bin (shift ≤ one quantization step =
    // small photometric edit): an UNBOUNDED rotation match is fully
    // shift-invariant, and on this fixture — where every mod-64
    // sibling pair is a literal brightness shift — it flags the
    // entire corpus at sf0.1 (true but useless); ±1 keeps the planted
    // +16-shifted assets caught and arbitrary-shift siblings out
    val exactHits = corpus
      .join(broadcast(bench.select(col("bxx"))),
        col("img_xx") === col("bxx"), "left_semi")
      .select(col("doc_id"), lit(2).as("pri"))
    val nearHits = corpus
      .join(broadcast(bench.select(col("bw"), col("bh"), col("bhist"))),
        col("img_w") === col("bw") && col("img_h") === col("bh") &&
          expr("exists(array(0, 1, 15), " +
            "r -> slice(concat(img_hist, img_hist), r + 1, 16) == bhist)"),
        "left_semi")
      .select(col("doc_id"), lit(1).as("pri"))
    exactHits.unionByName(nearHits)
      .groupBy(col("doc_id")).agg(max(col("pri")).as("pri"))
      .select(col("doc_id"),
        when(col("pri") === 2, lit("exact")).otherwise(lit("near"))
          .as("match_kind"))
  }

  /** The removal form: corpus minus every matched document. */
  def deconMediaApply(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    docs.select(col("doc_id"))
      .join(deconMedia(spark, docs, dir).select(col("doc_id")),
        Seq("doc_id"), "left_anti")

  /** Fixed bound for the audio/video decon eval suites — NOT the image
    * tier's 50000: video payload identity is mod-256 congruence on
    * this fixture, so an asset slice that keeps growing with the
    * corpus eventually covers all 256 classes and flags everything
    * (the corpus_release_mm lesson). 2000 keeps the flagged class
    * fraction scale-stable.
    */
  val AvBenchBound = 2000L

  /** Audio benchmark assets: exact wav copies of the `%97=31` slice
    * plus 48 kHz re-encodes (identical PCM, rewritten rate field) of
    * the `%97=47` slice, both bounded to `doc_id < AvBenchBound`.
    */
  def audioBenchmark(docs: DataFrame): DataFrame = {
    requireIdHeadroom(docs)
    val base = docs.filter(col("doc_id") < AvBenchBound)
      .select(col("doc_id"),
        (Multimodal.metaHash(3) % 2048 + lit(256)).cast("int").as("frames"),
        (Multimodal.metaHash(4) % 2 + lit(1)).cast("int").as("channels"),
        ((Multimodal.metaHash(5) % 2 + lit(1)) * lit(8000)).cast("int").as("rate"))
    val exact = base.filter(pmod(col("doc_id"), lit(97)) === 31)
      .select(col("doc_id"), graft.functions.native.wav_synth(col("doc_id"),
        col("frames"), col("channels"), col("rate")).as("media"))
    val reEnc = base.filter(pmod(col("doc_id"), lit(97)) === 47)
      .select(col("doc_id"), graft.functions.native.wav_synth(col("doc_id"),
        col("frames"), col("channels"), lit(48000)).as("media"))
    exact.select((col("doc_id") + lit(ExactAssetOffset)).as("bench_id"),
        col("media"))
      .unionByName(reEnc.select(
        (col("doc_id") + lit(NearAssetOffset)).as("bench_id"), col("media")))
  }

  /** Video benchmark assets: exact y4m copies of the `%97=59` slice
    * plus fps-swapped re-encodes (identical frames, rewritten
    * parameter line) of the `%97=73` slice, bounded like
    * [[audioBenchmark]].
    */
  def videoBenchmark(docs: DataFrame): DataFrame = {
    requireIdHeadroom(docs)
    val base = docs.filter(col("doc_id") < AvBenchBound)
      .select(col("doc_id"),
        (Multimodal.metaHash(6) % 32 + lit(16)).cast("int").as("w"),
        (Multimodal.metaHash(7) % 32 + lit(16)).cast("int").as("h"),
        (Multimodal.metaHash(8) % 8 + lit(2)).cast("int").as("nf"),
        ((Multimodal.metaHash(9) % 2 + lit(1)) * lit(12)).cast("int").as("fps"))
    val exact = base.filter(pmod(col("doc_id"), lit(97)) === 59)
      .select(col("doc_id"), graft.functions.native.y4m_synth(col("doc_id"),
        col("w"), col("h"), col("nf"), col("fps")).as("media"))
    val reEnc = base.filter(pmod(col("doc_id"), lit(97)) === 73)
      .select(col("doc_id"), graft.functions.native.y4m_synth(col("doc_id"),
        col("w"), col("h"), col("nf"), lit(36) - col("fps")).as("media"))
    exact.select((col("doc_id") + lit(ExactAssetOffset)).as("bench_id"),
        col("media"))
      .unionByName(reEnc.select(
        (col("doc_id") + lit(NearAssetOffset)).as("bench_id"), col("media")))
  }

  /** Audio/video decontamination — the [[deconMedia]] discipline for
    * the other two modalities, so an eval CLIP inside the training
    * corpus is caught even re-encoded:
    *  - `exact` tier: stored payload hash equals a benchmark asset's
    *    (broadcast hash join on the hash);
    *  - `content` tier: the decoded content fingerprint matches — for
    *    audio the (35-bit fingerprint, window count) equi key with
    *    exact window-energy-vector equality as residual, for video the
    *    (8-bit luma fingerprint, frame count) key with exact frame-sum
    *    vector equality — which catches the re-encoded assets (same
    *    PCM / frames under a rewritten container header) the exact
    *    tier is blind to.
    * One row per matched (doc, modality), priority exact > content.
    * Corpus side: one scan of the slim feature store; assets decoded
    * once and broadcast; every join an equi hash join.
    */
  def deconMediaAv(spark: SparkSession, docs: DataFrame, dir: String): DataFrame = {
    val store = MediaFeatures.features(spark, dir)
      .select(col("doc_id"), col("wav_xx"), col("a_fp"), col("a_fp_windows"),
        col("y4m_xx"), col("frame_y"))
    val aAssets = audioBenchmark(docs)
      .select(xxhash64(col("media")).as("bxx"),
        transform(graft.functions.native.wav_window_stats(
          col("media"), MediaFeatures.FpWindowFrames),
          w => w.getField("sum_abs")).as("bvec"))
      .select(col("bxx"), MediaFeatures.audioFpCol(col("bvec")).as("bsig"),
        size(col("bvec")).cast("long").as("bn"), col("bvec"))
      .filter(col("bn") > 0)
      .localCheckpoint(false)
    val vAssets = videoBenchmark(docs)
      .select(xxhash64(col("media")).as("bxx"),
        graft.functions.native.y4m_frame_y_sums(col("media"), 1).as("bvec"))
      .select(col("bxx"), MediaFeatures.videoFpCol(col("bvec")).as("bsig"),
        size(col("bvec")).cast("long").as("bn"), col("bvec"))
      .filter(col("bn") > 0)
      .localCheckpoint(false)
    def tiers(modality: String, pxx: Column, sig: Column, vec: Column,
              assets: DataFrame): DataFrame = {
      val exact = store
        .join(broadcast(assets.select(col("bxx"))), pxx === col("bxx"),
          "left_semi")
        .select(col("doc_id"), lit(modality).as("modality"), lit(2).as("pri"))
      val content = store
        .join(broadcast(assets.select(col("bsig"), col("bn"), col("bvec"))),
          sig === col("bsig") && size(vec).cast("long") === col("bn") &&
            vec === col("bvec"),
          "left_semi")
        .select(col("doc_id"), lit(modality).as("modality"), lit(1).as("pri"))
      exact.unionByName(content)
    }
    tiers("audio", col("wav_xx"), col("a_fp"), col("a_fp_windows"), aAssets)
      .unionByName(tiers("video", col("y4m_xx"),
        MediaFeatures.videoFpCol(col("frame_y")), col("frame_y"), vAssets))
      .groupBy(col("doc_id"), col("modality"))
      .agg(max(col("pri")).as("pri"))
      .select(col("doc_id"), col("modality"),
        when(col("pri") === 2, lit("exact")).otherwise(lit("content"))
          .as("match_kind"))
  }
}
