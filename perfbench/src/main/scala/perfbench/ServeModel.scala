package perfbench

/** Plain-Scala model of the serving store the engine builds from the
  * fixture tables (events ⋈ customer KPIs, top-3 parts per flag and day,
  * top-5 event types per day), keyed by pk with items sorted by sk. It
  * uses no engine code: it is the answer key for every lookup.
  */
final class ServeModel(val items: Map[String, Vector[(String, String)]]) {

  def l1(pk: String, sk: String): Vector[(String, String)] =
    items.getOrElse(pk, Vector.empty).filter(_._1 == sk)
  def l2(pk: String): Vector[(String, String)] =
    items.getOrElse(pk, Vector.empty).filter(_._1.startsWith("SONG#"))
  def l3(pk: String): Vector[(String, String)] =
    items.getOrElse(pk, Vector.empty).filter { case (sk, _) =>
      sk >= "GENRE_RANK#1" && sk <= "GENRE_RANK#3" }

  def answer(l: Lookup): Vector[(String, String)] = l.pattern match {
    case 1 => l1(l.pk, l.sk)
    case 2 => l2(l.pk)
    case _ => l3(l.pk)
  }

  def digest: ItemDigest =
    ItemDigest.of(items.iterator.flatMap { case (pk, kvs) => kvs.iterator.map { case (sk, v) => Seq(pk, sk, v) } })
}

object ServeModel {
  import FixtureGen.{Event, LineItem}

  private def day(micros: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(micros, FixtureGen.DayMicros)).toString

  private def cents(v: Double): Long = math.round(v * 100)

  def build(events: Seq[Event], lineitems: Seq[LineItem], customers: Int): ServeModel = {
    val ev = events.filter(e => e.user >= 0 && e.user < customers)
    val kpi = ev.groupBy(e => (e.typ, day(e.tsMicros))).toVector.flatMap { case ((t, d), es) =>
      val n = es.size.toLong
      val total = es.iterator.map(e => cents(e.value)).sum / 100.0
      val pk = s"GENRE#$t#DATE#$d"
      Seq("avg_value" -> MusicModel.decimal6(total / n),
        "listen_count" -> n.toString,
        "total_value" -> MusicModel.decimal6(total),
        "unique_listeners" -> es.iterator.map(_.user).toSet.size.toString)
        .map { case (m, v) => (pk, s"METRIC#$m", v) }
    }
    val songs = lineitems.groupBy(l => (l.flag, day(l.shipMicros))).toVector.flatMap { case ((f, d), ls) =>
      ls.groupBy(_.part).toVector.map { case (p, xs) => (p, xs.size.toLong) }
        .sortBy { case (p, n) => (-n, p) }.take(3).zipWithIndex
        .map { case ((p, n), i) => (s"GENRE#$f#DATE#$d", s"SONG#${i + 1}#$p", n.toString) }
    }
    val types = events.groupBy(e => day(e.tsMicros)).toVector.flatMap { case (d, es) =>
      es.groupBy(_.typ).toVector.map { case (t, xs) => (t, xs.size.toLong) }
        .sortBy { case (t, n) => (-n, t) }.take(5).zipWithIndex
        .map { case ((t, _), i) => (s"DATE#$d", s"GENRE_RANK#${i + 1}", t) }
    }
    new ServeModel((kpi ++ songs ++ types).groupBy(_._1).map { case (pk, xs) =>
      pk -> xs.map(x => (x._2, x._3)).sortBy(_._1) })
  }
}

/** One keyed read in the reference's three patterns:
  * 1 = exact pk + exact sk, 2 = pk + `begins_with(sk, 'SONG#')`,
  * 3 = `DATE#` pk + sk between `GENRE_RANK#1` and `GENRE_RANK#3`.
  */
final case class Lookup(pattern: Int, pk: String, sk: String)

object Lookup {
  val Metrics = Array("listen_count", "unique_listeners", "total_value", "avg_value")

  /** A recorded mix of the three patterns over `days` (Zipf: day 0 of
    * `order` is the hottest), in the proportions 5 : 3 : 2.
    */
  def mix(r: java.util.SplittableRandom, n: Int, order: IndexedSeq[Int]): Vector[Lookup] = {
    val dz = new Zipf(order.size, 1.0)
    Vector.fill(n) { one(r, FixtureGen.dayString(order(dz.sample(r))), r.nextInt(10)) }
  }

  def one(r: java.util.SplittableRandom, d: String, slot: Int): Lookup =
    if (slot < 5) Lookup(1, s"GENRE#${FixtureGen.EventTypes(r.nextInt(5))}#DATE#$d",
      s"METRIC#${Metrics(r.nextInt(4))}")
    else if (slot < 8) Lookup(2, s"GENRE#${FixtureGen.Flags(r.nextInt(3))}#DATE#$d", "SONG#")
    else Lookup(3, s"DATE#$d", "GENRE_RANK#")
}
