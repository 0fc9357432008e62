package graft

import graft.analytics.Kpis
import graft.ext.Dedup
import graft.ingest.Validate
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5.3) over scalacheck-generated
  * inputs, sampled with fixed seeds (no scalatest-plus bridge in the
  * offline cache, so sampling is explicit — and deterministic, which the
  * oracle-style assertions prefer anyway).
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i * 1000L)))

  private val eventGen = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      et <- Gen.oneOf("click", "view", "purchase")
      day <- Gen.oneOf("2024-01-01", "2024-01-02", "2024-01-03")
      uid <- Gen.choose(1L, 8L)
      v <- Gen.choose(0, 10000).map(_ / 100.0)
    } yield (et, day, uid, v))
  } yield rows

  test("property: Σ per-group listen_count = total rows; uniques ≤ count") {
    samples(eventGen, 5).foreach { rows =>
      val df = rows.toDF("event_type", "date", "user_id", "value")
      val kpis = Kpis.genreKpis(df).collect()
      assert(kpis.map(_.getLong(2)).sum == rows.size)
      kpis.foreach(r => assert(r.getLong(3) <= r.getLong(2)))
    }
  }

  test("property: topK ranks dense from 1, ≤ k per group, non-increasing") {
    samples(eventGen, 5).foreach { rows =>
      val counted = rows.toDF("event_type", "date", "user_id", "value")
        .groupBy($"event_type", $"date").agg(count(lit(1)).as("n"))
      val top = Kpis.topKPerGroup(counted, Seq($"date"), $"n", Seq($"event_type"), 2)
      top.collect().groupBy(_.getString(1)).values.foreach { g =>
        val ranks = g.map(_.getAs[Int]("rank")).sorted.toSeq
        assert(ranks == (1 to ranks.size) && ranks.size <= 2)
        val ns = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("n"))
        assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
      }
    }
  }

  private val graphGen = for {
    n <- Gen.choose(1, 40)
    edges <- Gen.listOfN(n, for {
      a <- Gen.choose(1L, 25L)
      b <- Gen.choose(1L, 25L)
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges.filter { case (a, b) => a != b }.distinct

  /** Driver-side union-find ground truth for component-min labels. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(x => x -> find(x)).toMap
  }

  test("property: the distributed CC engine equals union-find") {
    samples(graphGen, 6).filter(_.nonEmpty).foreach { edges =>
      // maxEdges = 0: past the driver union-find gate, so the
      // distributed engine is what runs on these small graphs
      val groups = Dedup.components(edges.toDF("a_id", "b_id"), maxEdges = 0)
        .as[(Long, Long)].collect().toMap
      assert(groups == unionFind(edges), s"label propagation diverged on $edges")
    }
  }

  private val asofGen = for {
    nQ <- Gen.choose(0, 30)
    quotes <- Gen.listOfN(nQ, for {
      k <- Gen.choose(1L, 8L); t <- Gen.choose(0L, 50L)
      p <- Gen.choose(1, 999)
    } yield (k, t, p.toDouble))
    nT <- Gen.choose(1, 40)
    trades <- Gen.listOfN(nT, for {
      k <- Gen.choose(1L, 10L); t <- Gen.choose(0L, 60L)
    } yield (k, t))
  } yield (quotes.distinctBy(q => (q._1, q._2)), trades)

  test("property: native as-of (merge and broadcast) equals a driver-side reference") {
    samples(asofGen, 6).foreach { case (quotes, tradesRaw) =>
      val trades = tradesRaw.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val qDf = quotes.toDF("q_key", "q_ts", "price")
      val tDf = trades.toDF("trade_id", "t_key", "t_ts")
      val expect: Map[Long, Option[Double]] = trades.map { case (id, k, t) =>
        val c = quotes.filter(q => q._1 == k && q._2 <= t)
        id -> (if (c.isEmpty) None else Some(c.maxBy(_._2)._3))
      }.toMap
      Seq("merge", "broadcast").foreach { h =>
        val got = graft.plans.NativeAsOf
          .join(tDf, qDf, "t_key", "q_key", "t_ts", "q_ts", Seq("price"), h)
          .select("trade_id", "price").collect()
          .map(r => r.getLong(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
        assert(got == expect, s"$h as-of diverged: quotes=$quotes trades=$trades")
      }
    }
  }

  private val userGen = Gen.nonEmptyListOf(for {
    id <- Gen.identifier.map(_.take(6))
    name <- Gen.option(Gen.alphaStr.map(_.take(8)))
    age <- Gen.oneOf(Gen.choose(-5, 200).map(_.toString), Gen.const("junk"))
    ts <- Gen.oneOf("2024-01-01 10:00:00", "nope")
  } yield (id, name.orNull, age, "US", ts))

  test("property: validation idempotent, only removes rows, enforces range") {
    samples(userGen, 5).foreach { rows =>
      val raw = rows.toDF("user_id", "user_name", "user_age", "user_country", "created_at")
      val once = Validate.validateUsers(raw)
      val twice = Validate.validateUsers(once)
      assert(once.count() <= raw.count())
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
      assert(once.filter(!$"user_age".between(13, 120)).isEmpty)
    }
  }

  private val docGen = Gen.listOfN(12, for {
    id <- Gen.choose(1L, 1000L)
    words <- Gen.listOfN(15, Gen.oneOf("spark", "scan", "join", "sort",
      "hash", "row", "batch", "key")).map(_.mkString(" "))
  } yield (id, words))

  test("property: minhash finds planted exact duplicate; jaccard ∈ [0,1]") {
    samples(docGen, 3).foreach { docsList =>
      val distinctIds = docsList.toMap.toSeq
      val (dupId, dupText) = distinctIds.head
      val docs = (distinctIds :+ (dupId + 10000, dupText)).toDF("doc_id", "text")
      val pairs = Dedup.minhashPairs(docs, minJaccard = 0.99).collect()
      assert(pairs.exists(r =>
        r.getLong(0) == math.min(dupId, dupId + 10000) &&
          r.getLong(1) == math.max(dupId, dupId + 10000)),
        s"planted duplicate ($dupId, ${dupId + 10000}) not found")
      pairs.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
    }
  }

  test("property: incremental dedup finds a planted cross-boundary duplicate") {
    samples(docGen, 3).zipWithIndex.foreach { case (docsList, i) =>
      val distinctIds = docsList.toMap.toSeq
      val (dupId, dupText) = distinctIds.head
      val corpus = distinctIds.toDF("doc_id", "text")
      val batch = Seq((dupId + 10000, dupText)).toDF("doc_id", "text")
      val dir = s"target/propspec/bandindex_$i"
      deleteRecursively(dir)
      Dedup.ensureBandIndex(spark, corpus, dir)
      val pairs = Dedup.incrementalPairs(spark, batch, corpus, dir).collect()
      assert(pairs.exists(r => r.getLong(0) == dupId + 10000 &&
          r.getLong(1) == dupId && r.getDouble(2) == 1.0),
        s"planted batch duplicate of $dupId not found: ${pairs.toSeq}")
      pairs.foreach { r =>
        assert(r.getDouble(2) >= 0.35, "reported pairs must clear the threshold")
        assert(r.getLong(0) >= 10000L, "new_id side must come from the batch")
      }
    }
  }

  test("property: unpivot row count = 4 × KPI rows") {
    samples(eventGen, 3).foreach { rows =>
      val kpis = Kpis.genreKpis(rows.toDF("event_type", "date", "user_id", "value"))
      assert(serve.KeyValue.kpiItems(kpis).count() == kpis.count() * 4)
    }
  }

  private val chunkDocGen = for {
    n <- Gen.choose(1, 300)
    words <- Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" "))
  } yield words

  test("property: chunking covers all tokens, windows bounded, count exact") {
    samples(chunkDocGen, 8).zipWithIndex.foreach { case (text, i) =>
      val n = text.split(" ").length
      val chunks = ext.TextAnalysis.chunkTokens(
          Seq((i.toLong, text)).toDF("doc_id", "text"), chunkSize = 64, stride = 48)
        .select($"chunk_idx", $"n_chunk_tokens").as[(Long, Int)].collect()
      assert(chunks.length == (n + 47) / 48, s"n=$n chunks=${chunks.length}")
      assert(chunks.forall(_._2 <= 64))
      // strided windows cover the token range: last chunk reaches token n
      val last = chunks.maxBy(_._1)
      assert(last._1 * 48 + last._2 == n, s"tail must end at n=$n: $last")
    }
  }

  test("property: normalize is idempotent and never yields empty from non-empty") {
    val textGen = Gen.listOfN(20, Gen.oneOf(
      "Hello", "WORLD.", "a@b.co", "12345678", "x,y;z", "many   spaces"))
      .map(_.mkString(" "))
    samples(textGen, 8).zipWithIndex.foreach { case (text, i) =>
      val df = Seq((i.toLong, text)).toDF("doc_id", "text")
      val once = df.select(ext.TextAnalysis.normalize($"text")).head().getString(0)
      val twice = Seq((i.toLong, once)).toDF("doc_id", "text")
        .select(ext.TextAnalysis.normalize($"text")).head().getString(0)
      assert(once == twice, s"not idempotent: '$once' vs '$twice'")
      assert(once.nonEmpty)
    }
  }

  test("property: repetition features equal brute-force modes on random token streams") {
    import graft.ext.TextAnalysis
    val textGen = for {
      n <- Gen.choose(1, 40)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "eee"))
    } yield toks.mkString(" ")
    val texts = samples(textGen, 60)
    val out = TextAnalysis.repetitionFeatures(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      .select("doc_id", "n_tokens", "distinct_token_ratio", "top_token_count", "top_bigram_count")
      .as[(Long, Long, Double, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val toks = t.split(" ").toSeq
      val bigrams = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val (_, n, dr, tc, bc) = out(i.toLong)
      assert(n == toks.size)
      assert(math.abs(dr - toks.distinct.size.toDouble / toks.size) < 1e-12)
      assert(tc == toks.groupBy(identity).values.map(_.size).max,
        s"top token count must equal the brute-force mode for: $t")
      val expectedBc = if (bigrams.isEmpty) 0L
        else bigrams.groupBy(identity).values.map(_.size).max.toLong
      assert(bc == expectedBc, s"top bigram count must equal brute force for: $t")
    }
  }

  private val corpusGen = for {
    n <- Gen.choose(1, 50)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(0L, 100000L)
      nw <- Gen.choose(1, 40)
      words <- Gen.listOfN(nw, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
      lang <- Gen.oneOf("en", "fr", "zh")
    } yield (id, words.mkString(" "), lang))
  } yield rows.distinctBy(_._1)

  test("property: pack covers every doc once, offsets are per-shard prefix sums, bins floor-exact") {
    samples(corpusGen, 5).foreach { rows =>
      val docs = rows.toDF("doc_id", "text", "lang")
      val out = graft.ext.TrainingSet.pack(docs, budget = 16L, nShards = 3)
        .as[(Long, Long, Long, Long, Long)].collect()
      assert(out.map(_._1).sorted.toSeq == rows.map(_._1).sorted.toSeq)
      def key(id: Long) = (id * 40503L) % 65521L
      out.groupBy(_._2).values.foreach { members =>
        var off = 0L
        members.sortBy(m => (key(m._1), m._1)).foreach { case (id, _, bin, n, o) =>
          assert(o == off && bin == off / 16L && n >= 1L)
          off += n
        }
      }
    }
  }

  test("property: mixture realizes the exact deterministic copy function for any weights") {
    val weightGen = Gen.listOfN(3, Gen.choose(0, 300).map(_ / 100.0))
    samples(Gen.zip(corpusGen, weightGen), 5).foreach { case (rows, ws) =>
      val weights = Map("en" -> ws(0), "fr" -> ws(1), "zh" -> ws(2))
      val docs = rows.toDF("doc_id", "text", "lang")
      val got = graft.ext.TrainingSet.mixture(docs, weights)
        .groupBy($"doc_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      rows.foreach { case (id, _, lang) =>
        val w = weights(lang)
        val frac = w - math.floor(w)
        val exp = math.floor(w).toLong +
          (if ((id * 40503L) % 65521L < math.floor(frac * 65521.0).toLong) 1L else 0L)
        assert(got.getOrElse(id, 0L) == exp, s"doc $id ($lang, w=$w)")
      }
    }
  }

  test("property: stratified sample is a subset and monotone in rate") {
    val idsGen = Gen.nonEmptyListOf(Gen.choose(1L, 100000L)).map(_.distinct)
    samples(idsGen, 5).foreach { ids =>
      val docs = ids.map((_, "en")).toDF("doc_id", "lang")
      def sampled(permille: Int) =
        ext.TextAnalysis.sampleStratified(docs, "lang", "doc_id", Map("en" -> permille))
          .select($"doc_id").as[Long].collect().toSet
      val lo = sampled(100); val hi = sampled(600)
      assert(lo.subsetOf(hi), "raising the rate must only add documents")
      assert(hi.subsetOf(ids.toSet))
      assert(sampled(1000) == ids.toSet, "1000‰ must keep everything")
    }
  }

  // random event streams on a micro-second grid: small user pool and a
  // tight time range force plenty of gap/window boundary cases
  private val tsEventGen = for {
    n <- Gen.choose(1, 80)
    rows <- Gen.listOfN(n, for {
      uid <- Gen.choose(1L, 5L)
      et <- Gen.oneOf("signup", "view", "click", "purchase")
      us <- Gen.choose(0L, 20L * 86400L * 1000000L) // 20 days of micros
    } yield (uid, et, us))
  } yield rows.zipWithIndex.map { case ((u, e, t), i) => (i.toLong, u, e, t) }

  private def toTsDf(rows: Seq[(Long, Long, String, Long)]) =
    rows.toDF("event_id", "user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us"))).drop("us")

  test("property: windowed funnel equals a driver-side sequential reference") {
    val steps = Seq("view", "click", "purchase")
    val gapUs = 7L * 86400L * 1000000L
    samples(tsEventGen, 6).foreach { rows =>
      // reference: per user, chain t_i = min step-i ts in (t_{i-1}, t_{i-1}+gap]
      val byUser = rows.groupBy(_._2)
      val reached = Array.fill(steps.size)(0L)
      byUser.values.foreach { evs =>
        var prev: Option[Long] = None
        for (i <- steps.indices) {
          val cand = evs.filter(_._3 == steps(i)).map(_._4).filter(t =>
            i == 0 || (prev.nonEmpty && t > prev.get && t <= prev.get + gapUs))
          prev = if (i == 0 && cand.nonEmpty) Some(cand.min)
                 else if (i > 0 && prev.nonEmpty && cand.nonEmpty) Some(cand.min)
                 else None
          if (prev.nonEmpty) reached(i) += 1
        }
      }
      val got = Kpis.funnelWindowed(toTsDf(rows), steps, maxGapDays = 7)
        .orderBy(col("step")).collect().map(_.getLong(2)).toSeq
      assert(got == reached.toSeq, s"funnel diverged on $rows")
    }
  }

  test("property: sessionization equals a driver-side gap-scan reference") {
    val gapUs = 30L * 60L * 1000000L
    samples(tsEventGen, 6).foreach { rows =>
      // reference: sort each user's events, split on gap > 30 min
      val expect = rows.groupBy(_._2).flatMap { case (u, evs) =>
        val ts = evs.map(e => (e._4, e._1)).sorted.map(_._1)
        val sessions = scala.collection.mutable.ArrayBuffer.empty[List[Long]]
        ts.foreach { t =>
          if (sessions.nonEmpty && t - sessions.last.last <= gapUs)
            sessions(sessions.size - 1) = sessions.last :+ t
          else sessions += List(t)
        }
        sessions.zipWithIndex.map { case (s, i) =>
          (u, i + 1L) -> (s.size.toLong, s.head, s.last)
        }
      }
      val got = Kpis.userSessions(toTsDf(rows), gapMinutes = 30).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == expect, s"sessions diverged on $rows")
    }
  }

  private val ppmGen = for {
    id <- Gen.choose(0L, 1000000L)
    w <- Gen.choose(1, 40)
    h <- Gen.choose(1, 40)
  } yield (id, w, h)

  test("property: P6 synth→decode round-trips dims/sums/hist exactly") {
    import graft.functions.PpmKernel
    samples(ppmGen, 40).foreach { case (id, w, h) =>
      val payload = PpmKernel.synth(id, w, h)
      val row = PpmKernel.decode(payload)
      assert(row != null, s"rejected own payload id=$id ${w}x$h")
      assert(row.getLong(0) == w && row.getLong(1) == h)
      // channel sums + histogram both total the full raster
      val hist = row.getArray(5).toLongArray()
      assert(hist.sum == w.toLong * h * 3)
      val byteSum = payload.drop(
        payload.length - w * h * 3).map(b => (b & 0xFF).toLong).sum
      assert(row.getLong(2) + row.getLong(3) + row.getLong(4) == byteSum)
      // every single-byte corruption of the HEADER is rejected or
      // still a valid parse of the SAME dims (never a crash, never
      // silently different dims)
      val headerLen = payload.length - w * h * 3
      (0 until headerLen).foreach { i =>
        val mut = payload.clone()
        mut(i) = (mut(i) ^ 0x41).toByte
        val r2 = PpmKernel.decode(mut)
        assert(r2 == null || (r2.getLong(0) > 0 && r2.getLong(1) > 0),
          s"corrupt header crashed or nonsense dims at byte $i")
      }
      // truncation anywhere is rejected
      assert(PpmKernel.decode(payload.dropRight(1)) == null)
      // tile means stay within the byte range and cover the raster
      val tiles = PpmKernel.tileMeans(payload, 4, 4).toLongArray()
      assert(tiles.forall(m => m == -1L || (m >= 0L && m <= 255L)))
      assert(tiles.exists(_ >= 0L))
    }
  }

  private val y4mGen = for {
    id <- Gen.choose(0L, 1000000L)
    w <- Gen.choose(1, 64)
    h <- Gen.choose(1, 64)
    nf <- Gen.choose(1, 12)
    fps <- Gen.choose(1, 120)
  } yield (id, w, h, nf, fps)

  test("property: Y4M synth→decode round-trips header fields and plane sums exactly") {
    import graft.functions.Y4mKernel
    samples(y4mGen, 40).foreach { case (id, w, h, nf, fps) =>
      val payload = Y4mKernel.synth(id, w, h, nf, fps)
      val row = Y4mKernel.decode(payload)
      assert(row != null, s"rejected own payload id=$id ${w}x$h nf=$nf fps=$fps")
      assert(row.getLong(0) == w && row.getLong(1) == h &&
        row.getLong(2) == fps && row.getLong(3) == nf)
      // luma histogram totals the Y plane across all frames; the three
      // plane sums total every non-marker byte of the stream
      val hist = row.getArray(9).toLongArray()
      assert(hist.sum == nf.toLong * w * h)
      val headerLen = payload.length - nf * (6 + 3 * w * h)
      val byteSum = (0 until nf).map { f =>
        val off = headerLen + f * (6 + 3 * w * h) + 6
        (off until off + 3 * w * h).map(i => (payload(i) & 0xFF).toLong).sum
      }.sum
      assert(row.getLong(5) + row.getLong(6) + row.getLong(7) == byteSum)
      // every single-byte corruption of the HEADER LINE is rejected or
      // still parses the SAME geometry (never a crash, never silently
      // different dims/frames)
      (0 until headerLen).foreach { i =>
        val mut = payload.clone()
        mut(i) = (mut(i) ^ 0x41).toByte
        val r2 = Y4mKernel.decode(mut)
        assert(r2 == null ||
          (r2.getLong(0) == w && r2.getLong(1) == h && r2.getLong(3) == nf),
          s"corrupt header crashed or changed geometry at byte $i")
      }
      // truncation and extension are rejected; frame folds tile y_sum
      assert(Y4mKernel.decode(payload.dropRight(1)) == null)
      assert(Y4mKernel.decode(payload :+ 0.toByte) == null)
      val sums = Y4mKernel.frameYSums(payload, 1)
      assert(sums.numElements() == nf)
      assert(sums.toLongArray().sum == row.getLong(5))
    }
  }

  private val wavGen = for {
    id <- Gen.choose(0L, 1000000L)
    frames <- Gen.choose(1, 3000)
    ch <- Gen.choose(1, 8)
    rate <- Gen.oneOf(8000, 16000, 44100, 48000)
  } yield (id, frames, ch, rate)

  test("property: WAV window folds tile the stream for any window size") {
    import graft.functions.WavKernel
    samples(wavGen, 25).foreach { case (id, frames, ch, rate) =>
      val payload = WavKernel.synth(id, frames, ch, rate)
      val decoded = WavKernel.decode(payload)
      assert(decoded != null)
      Seq(1, 7, 256, frames, frames + 5).foreach { wf =>
        val ws = WavKernel.windowStats(payload, wf)
        assert(ws.numElements() == (frames + wf - 1) / wf,
          s"window count for wf=$wf frames=$frames")
        val rows = (0 until ws.numElements()).map(ws.getStruct(_, 2))
        // peaks max to the decode's global peak; sums are window-size
        // invariant (they tile the same |sample| stream)
        assert(rows.map(_.getLong(0)).max == decoded.getLong(6))
        assert(rows.map(_.getLong(1)).sum ==
          WavKernel.windowStats(payload, frames).getStruct(0, 2).getLong(1))
      }
    }
  }

  private val wordGen = Gen.listOf(
    Gen.oneOf("alpha", "beta", "gamma", "delta", "ent", "amp"))
    .map(_.mkString(" "))

  test("property: extractMarkup recovers tag-free text from any shell verbatim") {
    import graft.ext.TextAnalysis
    val bodies = samples(wordGen, 25).filter(_.nonEmpty)
    val df = bodies.zipWithIndex
      .map { case (b, i) =>
        (i.toLong,
          s"<html><head><script>x=$i;</script><style>a{}</style></head>" +
            s"<body><p>$b</p><!--c$i--></body></html>")
      }
      .toDF("id", "h")
    val out = df.select($"id", TextAnalysis.extractMarkup($"h").as("t"))
      .orderBy($"id").as[(Long, String)].collect()
    out.zip(bodies).foreach { case ((_, got), body) =>
      assert(got == body.trim.replaceAll("\\s+", " "),
        s"extract mangled tag-free body: <$body> -> <$got>")
    }
  }

  test("property: containment head is exactly 1.0 for every planted subset pair") {
    val docGen = for {
      n <- Gen.choose(30, 80)
      base <- Gen.choose(0, 5000)
    } yield (base until base + n).map(i => s"tok$i").mkString(" ")
    samples(docGen, 8).zipWithIndex.foreach { case (long1, i) =>
      val toks = long1.split(" ")
      val short1 = toks.slice(5, 5 + 12).mkString(" ") // 12 tokens ⊂ long1
      val filler = (9000 to 9040).map(j => s"z$j").mkString(" ")
      val cdocs = Seq((1L, long1), (2L, short1), (3L, filler))
        .toDF("doc_id", "text")
      val head = Dedup.containmentTopK(cdocs, topK = 1).head()
      assert((head.getLong(0), head.getLong(1)) == (1L, 2L), s"sample $i")
      assert(head.getAs[Double]("containment") == 1.0, s"sample $i")
      // and the removal form drops exactly the contained doc
      val kept = Dedup.applyContainment(cdocs)
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L), s"sample $i kept $kept")
    }
  }
}
