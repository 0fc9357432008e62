package perfbench

import scala.util.hashing.MurmurHash3

/** Item-set digest: count plus an order-independent sum of per-item
  * hashes, so two stores compare equal without sorting either.
  */
final case class ItemDigest(count: Long, hash: Long) {
  def +(item: Seq[String]): ItemDigest =
    ItemDigest(count + 1, hash + ItemDigest.itemHash(item))
}

object ItemDigest {
  val Empty = ItemDigest(0L, 0L)
  def itemHash(item: Seq[String]): Long = {
    val s = item.map(v => if (v == null) "\u0000" else v).mkString("\u0001")
    (MurmurHash3.stringHash(s).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x9747b28c) & 0xffffffffL)
  }
  def of(items: Iterator[Seq[String]]): ItemDigest = items.foldLeft(Empty)(_ + _)
}

/** Plain-Scala model of the reference transform's outputs — genre KPIs,
  * top-K songs, top-K genres and their `(pk, sk, value, record_type)`
  * serving items — computed from the generator's clean rows with no
  * engine code.
  */
object MusicModel {

  final case class Item(pk: String, sk: String, value: String, recordType: String) {
    def fields: Seq[String] = Seq(pk, sk, value, recordType)
  }

  /** Spark's `CAST(CAST(double AS DECIMAL(28,6)) AS STRING)`. */
  def decimal6(d: Double): String =
    BigDecimal.decimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  def servingItems(in: MusicGen.Landed, topSongsK: Int = 3, topGenresK: Int = 5): Vector[Item] = {
    val songs = in.songs.iterator.map(s => s.trackId -> s).toMap
    // enrichment: inner join with the valid songs and users
    val enriched = in.streams.iterator
      .filter(s => in.users.contains(s.userId))
      .flatMap(s => songs.get(s.trackId).map(song => (song, s.userId, s.listenTime.take(10))))
      .toVector

    val kpis = enriched.groupBy { case (song, _, date) => (song.genre, date) }.toVector
      .flatMap { case ((genre, date), rows) =>
        val n = rows.size.toLong
        val users = rows.iterator.map(_._2).toSet.size.toLong
        val total = rows.iterator.map(_._1.durationMs.toLong).sum
        val pk = s"GENRE#$genre#DATE#$date"
        Seq("listen_count" -> n.toString, "unique_listeners" -> users.toString,
          "total_listening_time_ms" -> total.toString,
          "avg_listening_time_ms" -> decimal6(total.toDouble / n))
          .map { case (m, v) => Item(pk, s"METRIC#$m", v, "genre_metric") }
      }

    val songItems = enriched.groupBy { case (song, _, date) => (song.genre, date) }.toVector
      .flatMap { case ((genre, date), rows) =>
        rows.groupBy(_._1.trackId).toVector
          .map { case (tid, rs) => (tid, rs.size.toLong) }
          .sortBy { case (tid, n) => (-n, tid) }
          .take(topSongsK).zipWithIndex
          .map { case ((tid, n), i) =>
            Item(s"GENRE#$genre#DATE#$date", s"SONG#${i + 1}#$tid", n.toString, "top_song") }
      }

    val genreItems = enriched.groupBy(_._3).toVector
      .flatMap { case (date, rows) =>
        rows.groupBy(_._1.genre).toVector
          .map { case (g, rs) => (g, rs.size.toLong) }
          .sortBy { case (g, n) => (-n, g) }
          .take(topGenresK).zipWithIndex
          .map { case ((g, _), i) => Item(s"DATE#$date", s"GENRE_RANK#${i + 1}", g, "top_genre") }
      }
    kpis ++ songItems ++ genreItems
  }

  def digest(items: Seq[Item]): ItemDigest = ItemDigest.of(items.iterator.map(_.fields))
}
