package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Zipf(s) over ranks 0..n-1 by inverse CDF; rank 0 is the most popular. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val a = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); a(i) = acc; i += 1 }
    i = 0
    while (i < n) { a(i) /= acc; i += 1 }
    a
  }
  def sample(r: SplittableRandom): Int = {
    val idx = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (idx < 0) -idx - 1 else idx, n - 1)
  }
}

/** The music-schema input of `etl_batch`, as the reference lands it
  * (`dags/tasks/validate.py` columns). Dirty rows are planted at fixed
  * shares in the classes the validation layer drops, so the count of
  * rows that survive validation is known exactly.
  */
object MusicGen {
  final case class Song(trackId: String, name: String, artists: String,
                        durationMs: Int, genre: String)
  final case class Stream(userId: String, trackId: String, listenTime: String)

  /** The clean logical content the engine must derive its outputs from. */
  final case class Landed(songs: Vector[Song], users: Set[String],
                          streams: Vector[Stream], streamRows: Int, bytes: Long)

  val Genres = 114
  val SongsPerGenre = 1000
  val Users = 50000
  val RowsPerStreamFile = 11346
  val Days = 7
  /** Dirty-row shares per table (each class an equal part of it). */
  val DirtySongShare = 0.01
  val DirtyUserShare = 0.01
  val DirtyStreamShare = 0.03

  private def genre(g: Int) = f"genre_$g%03d"
  private def trackId(i: Int) = f"T$i%07d"
  private def userId(u: Int) = f"U$u%06d"

  private def writer(f: File) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  /** Writes songs.csv, users.csv and `streamFiles` stream CSVs under
    * `dir`; returns the clean rows the validation layer keeps. A `shrink`
    * above 1 divides the songs per genre, the users and the rows per
    * stream file by it: the same schemas and dirty-row classes at a
    * fraction of the size, for a warm-up pass.
    */
  def land(dir: File, seed: Long, streamFiles: Int, shrink: Int = 1): Landed = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val nSongs = Genres * (SongsPerGenre / shrink)
    val nUsers = Users / shrink
    val fileRows = RowsPerStreamFile / shrink

    val songs = Vector.newBuilder[Song]
    val sw = writer(new File(dir, "songs.csv"))
    try {
      sw.write("id,track_id,artists,album_name,track_name,popularity,duration_ms,explicit,track_genre\n")
      var i = 0
      while (i < nSongs) {
        val g = genre(i / (SongsPerGenre / shrink))
        val dur = 90000 + r.nextInt(240000)
        val dirty = r.nextDouble() < DirtySongShare
        val cls = if (dirty) r.nextInt(3) else -1
        val name = if (cls == 0) "" else s"song $i"
        val pop = if (cls == 1) "n/a" else (r.nextInt(100)).toString
        // class 2 is kept: a non-numeric duration is zero-filled and the
        // genre is normalized by lower+trim
        val durStr = if (cls == 2) "unknown" else dur.toString
        val gStr = if (cls == 2) s"  ${g.toUpperCase} " else g
        sw.write(s"$i,${trackId(i)},artist ${i % 7919},album ${i % 4001},$name,$pop,$durStr,${i % 2},$gStr\n")
        if (cls < 0) songs += Song(trackId(i), name, s"artist ${i % 7919}", dur, g)
        else if (cls == 2) songs += Song(trackId(i), name, s"artist ${i % 7919}", 0, g)
        i += 1
      }
    } finally sw.close()

    val valid = Set.newBuilder[String]
    val uw = writer(new File(dir, "users.csv"))
    try {
      uw.write("user_id,user_name,user_age,user_country,created_at\n")
      val countries = Array("US", "GB", "DE", "FR", "BR", "IN")
      var u = 0
      while (u < nUsers) {
        val dirty = r.nextDouble() < DirtyUserShare
        val cls = if (dirty) r.nextInt(4) else -1
        val age = cls match {
          case 0 => "abc"
          case 1 => (if (r.nextBoolean()) 7 else 150).toString
          case _ => (18 + r.nextInt(52)).toString
        }
        val name = if (cls == 2) "" else s"user $u"
        // class 3 is kept: an unparseable created_at only nulls the column
        val created = if (cls == 3) "not-a-date" else f"2024-${1 + u % 12}%02d-${1 + u % 28}%02d 10:00:00"
        uw.write(s"${userId(u)},$name,$age,${countries(u % countries.length)},$created\n")
        if (cls < 0 || cls == 3) valid += userId(u)
        u += 1
      }
    } finally uw.close()

    val zipf = new Zipf(nSongs, 1.1)
    // shuffle rank → track so popularity is not aligned with genre order
    val perm = {
      val a = Array.tabulate(nSongs)(identity)
      var i = nSongs - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    val streams = Vector.newBuilder[Stream]
    val files = (0 until streamFiles).map { f =>
      val file = new File(dir, f"streams/streams$f%02d.csv")
      file.getParentFile.mkdirs()
      val w = writer(file)
      try {
        w.write("user_id,track_id,listen_time\n")
        var k = 0
        while (k < fileRows) {
          val uid = userId(r.nextInt(nUsers))
          val tid = trackId(perm(zipf.sample(r)))
          val secs = r.nextInt(Days * 86400)
          val ts = f"2024-06-${1 + secs / 86400}%02d ${secs % 86400 / 3600}%02d:${secs % 3600 / 60}%02d:${secs % 60}%02d"
          val dirty = r.nextDouble() < DirtyStreamShare
          val cls = if (dirty) r.nextInt(3) else -1
          cls match {
            case 0 => w.write(s",$tid,$ts\n")
            case 1 => w.write(s"$uid,,$ts\n")
            case 2 => w.write(s"$uid,$tid,bad-time\n")
            case _ => w.write(s"$uid,$tid,$ts\n"); streams += Stream(uid, tid, ts)
          }
          k += 1
        }
      } finally w.close()
      file.getPath
    }
    val bytes = (Seq(new File(dir, "songs.csv"), new File(dir, "users.csv")) ++ files.map(new File(_)))
      .map(_.length).sum
    Landed(songs.result(), valid.result(), streams.result(), streamFiles * fileRows, bytes)
  }
}

/** Rows of the engine's fixture schema (the `sf*` tables), generated in
  * plain Scala from a seed. The serving workloads read `events`,
  * `customer` and `lineitem`; the calibration queries read `events`, `orders`,
  * `documents` and `embeddings`.
  */
object FixtureGen {
  final case class Event(id: Long, tsMicros: Long, user: Long, typ: String,
                         value: Double, props: String)
  final case class LineItem(order: Long, part: Long, supp: Long, line: Int,
                            qty: Double, price: Double, disc: Double, tax: Double,
                            flag: String, status: String, shipMicros: Long)

  val EventTypes = Array("click", "view", "purchase", "signup", "error")
  val Flags = Array("A", "N", "R")
  val Day0Micros: Long = java.time.LocalDate.parse("2024-01-01")
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L
  val DayMicros: Long = 86400L * 1000000L

  def dayString(day: Int): String =
    java.time.LocalDate.parse("2024-01-01").plusDays(day.toLong).toString

  final case class Sizes(customers: Int, events: Int, lineitems: Int, days: Int,
                         orders: Int, parts: Int, suppliers: Int,
                         documents: Int, embeddings: Int)

  /** A little over the sf0.01 fixture: big enough that every calibration
    * query does real work, small enough for a 4-core host.
    */
  val Calibration = Sizes(customers = 3000, events = 20000, lineitems = 120000, days = 30,
    orders = 30000, parts = 4000, suppliers = 200, documents = 1000, embeddings = 500)
  /** The serving fixture: events, users and line items over two weeks. */
  val Serving = Sizes(customers = 2000, events = 20000, lineitems = 20000, days = 14,
    orders = 0, parts = 0, suppliers = 0, documents = 0, embeddings = 0)

  def events(r: SplittableRandom, n: Int, firstId: Long, customers: Int,
             day: Int => Int): Vector[Event] = {
    val typeZ = new Zipf(EventTypes.length, 0.6)
    Vector.tabulate(n) { i =>
      val d = day(i)
      Event(firstId + i, Day0Micros + d * DayMicros + r.nextLong(DayMicros),
        r.nextInt(customers).toLong, EventTypes(typeZ.sample(r)),
        r.nextInt(10000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  def lineitems(r: SplittableRandom, n: Int, s: Sizes): Vector[LineItem] = {
    val partZ = new Zipf(math.max(s.parts, 2000), 1.05)
    val orders = math.max(s.orders, n / 4)
    Vector.tabulate(n) { i =>
      LineItem(i / 4L % orders, partZ.sample(r).toLong, r.nextInt(math.max(s.suppliers, 100)).toLong,
        i % 4 + 1, 1 + r.nextInt(50).toDouble, 900 + r.nextInt(100000) / 100.0,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Flags(r.nextInt(3)),
        if (r.nextBoolean()) "O" else "F",
        Day0Micros + r.nextInt(s.days) * DayMicros + r.nextLong(DayMicros))
    }
  }

  private val Vocab = ("key agg row scan slow fast table value part hash merge batch spark a the " +
    "line sort window order data column join small customer query big stream filter group vector").split(" ")
  private val Langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  /** Documents with planted near-duplicates (a copy of an earlier text
    * with a few tokens changed), so the dedup queries find groups.
    */
  def documents(r: SplittableRandom, n: Int): Vector[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 10 && r.nextDouble() < 0.1) {
          val toks = texts(r.nextInt(i)).split(" ")
          toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.length))
          toks.mkString(" ")
        } else Seq.fill(10 + r.nextInt(80))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      (i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }.toVector
  }

  def embeddings(r: SplittableRandom, n: Int): Vector[(Long, Array[Float], Int)] = {
    val centers = Array.fill(10)(Array.fill(64)(r.nextDouble().toFloat * 2 - 1))
    Vector.tabulate(n) { i =>
      val label = r.nextInt(10)
      (i.toLong, centers(label).map(c => c + (r.nextDouble().toFloat - 0.5f) * 0.6f), label)
    }
  }
}

/** The `ingest_refresh` schedule: batch `i` is due at `i * intervalMs`
  * after the first arrival. Most batches open a new day after the
  * fixture's last day; every `lateEvery`-th batch falls on a past day.
  */
object Schedule {
  final case class Batch(index: Int, dueMs: Long, day: Int, late: Boolean)

  def batches(seed: Long, count: Int, intervalMs: Long, firstNewDay: Int,
              lateEvery: Int): Vector[Batch] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    var nextDay = firstNewDay
    Vector.tabulate(count) { i =>
      val late = i % lateEvery == lateEvery - 1
      val day = if (late) r.nextInt(firstNewDay) else { nextDay += 1; nextDay - 1 }
      Batch(i, i * intervalMs, day, late)
    }
  }
}
