package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchLogicSpec extends AnyFunSuite {

  private def land(seed: Long, shrink: Int = 1): (MusicGen.Landed, Map[String, Array[Byte]]) = {
    val dir = Files.createTempDirectory("perfbench-gen").toFile
    try {
      val l = MusicGen.land(dir, seed, streamFiles = 1, shrink)
      def files(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
      (l, files(dir).map(f => dir.toPath.relativize(f.toPath).toString -> Files.readAllBytes(f.toPath)).toMap)
    } finally {
      def rm(f: File): Unit = { if (f.isDirectory) f.listFiles().foreach(rm); f.delete() }
      rm(dir)
    }
  }

  test("generator is byte-identical per seed and differs across seeds") {
    val (a, fa) = land(7)
    val (_, fb) = land(7)
    val (_, fc) = land(8)
    assert(fa.keySet == fb.keySet && fa.keySet.forall(k => java.util.Arrays.equals(fa(k), fb(k))))
    assert(fa.keySet == fc.keySet && fa.keySet.exists(k => !java.util.Arrays.equals(fa(k), fc(k))))
    assert(a.streamRows == MusicGen.RowsPerStreamFile)
  }

  test("dirty rows are planted at their recorded share") {
    val (l, _) = land(3)
    val dropped = 1.0 - l.streams.size.toDouble / l.streamRows
    assert(math.abs(dropped - MusicGen.DirtyStreamShare) < 0.01, dropped)
    assert(l.users.size < MusicGen.Users && l.users.size > MusicGen.Users * 0.98)
  }

  test("a shrunk landing has the same files and headers at a fraction of the rows") {
    val (full, ff) = land(5)
    val (small, fs) = land(5, shrink = 20)
    assert(fs.keySet == ff.keySet)
    def header(b: Array[Byte]) = new String(b, "UTF-8").takeWhile(_ != '\n')
    assert(fs.keySet.forall(k => header(fs(k)) == header(ff(k))))
    assert(small.streamRows == MusicGen.RowsPerStreamFile / 20)
    assert(small.songs.size < full.songs.size / 19 && small.users.size < full.users.size / 19)
    assert(small.songs.map(_.genre).distinct.size == MusicGen.Genres)
  }

  test("set-up beside set-up returns both values and rethrows either failure") {
    assert(Workloads.alongside(1 + 1)("a" * 2) == (2, "aa"))
    val e = intercept[IllegalStateException](Workloads.alongside[Int, Int](throw new IllegalStateException("side"))(1))
    assert(e.getMessage == "side")
    intercept[IllegalArgumentException](Workloads.alongside(1)(throw new IllegalArgumentException("main")))
  }

  test("fixture rows and the ingest schedule are seed-determined") {
    def ev(seed: Long) = FixtureGen.events(new java.util.SplittableRandom(seed), 100, 0L, 50, _ => 1)
    assert(ev(1) == ev(1) && ev(1) != ev(2))
    val s = Schedule.batches(5, 8, 1000L, 30, 4)
    assert(s == Schedule.batches(5, 8, 1000L, 30, 4))
    assert(s.map(_.dueMs) == (0 until 8).map(_ * 1000L))
    assert(s.filter(!_.late).map(_.day) == (30 until 36))
    assert(s.filter(_.late).forall(_.day < 30) && s.count(_.late) == 2)
  }

  test("p95 is reported only with at least 10 samples beyond it") {
    val small = (1 to 100).map(_.toDouble)
    assert(Stats.beyond(small, 0.95) == 5)
    assert(Stats.p95(small).isEmpty)
    val big = (1 to 200).map(_.toDouble)
    assert(Stats.beyond(big, 0.95) == 10)
    assert(Stats.p95(big).contains(Stats.quantile(big, 0.95)))
    assert(math.abs(Stats.quantile(big, 0.95) - 190.05) < 1e-9)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("span self time is duration minus direct children") {
    val spans = Seq(
      Span(1, "root", 0, 100, 0, "r"),
      Span(2, "a", 10, 40, 1, "r"),
      Span(3, "b", 50, 90, 1, "r"),
      Span(4, "a", 60, 70, 3, "r"))
    val self = Span.selfNs(spans)
    assert(self == Map(1 -> 30L, 2 -> 30L, 3 -> 30L, 4 -> 10L))
    assert(Span.selfByName(spans) == Map("root" -> 30L, "a" -> 40L, "b" -> 30L))
    assert(self.values.sum == 100L, "self times partition the root span")
  }

  test("open-loop lateness and backlog accounting") {
    val bs = Seq(
      OpenLoop.Batch(dueMs = 0, landedMs = 2, refreshedMs = 500),
      OpenLoop.Batch(dueMs = 100, landedMs = 100, refreshedMs = 500),
      OpenLoop.Batch(dueMs = 200, landedMs = 260, refreshedMs = 900),
      OpenLoop.Batch(dueMs = 1000, landedMs = 1000, refreshedMs = 1200))
    assert(OpenLoop.lateness(bs) == Seq(2L, 0L, 60L, 0L))
    assert(OpenLoop.backlogMax(bs) == 3)
    // a refresh at the instant of the next landing drains first
    assert(OpenLoop.backlogMax(Seq(OpenLoop.Batch(0, 0, 10), OpenLoop.Batch(10, 10, 20))) == 1)
  }

  test("model digests are order-independent and value-sensitive") {
    val a = Seq(Seq("p", "s1", "1"), Seq("p", "s2", "2"))
    assert(ItemDigest.of(a.iterator) == ItemDigest.of(a.reverse.iterator))
    assert(ItemDigest.of(a.iterator) != ItemDigest.of(Seq(Seq("p", "s1", "1"), Seq("p", "s2", "3")).iterator))
    assert(MusicModel.decimal6(2.5) == "2.500000" && MusicModel.decimal6(1.0 / 3) == "0.333333")
  }

  test("serve model answers the three lookup patterns") {
    val ev = Seq(
      FixtureGen.Event(0, FixtureGen.Day0Micros + 5, 1, "click", 1.25, "{}"),
      FixtureGen.Event(1, FixtureGen.Day0Micros + 9, 2, "click", 2.5, "{}"),
      FixtureGen.Event(2, FixtureGen.Day0Micros + 9, 2, "view", 1.0, "{}"))
    val li = Seq(FixtureGen.LineItem(0, 7, 0, 1, 1, 1, 0, 0, "A", "O", FixtureGen.Day0Micros))
    val m = ServeModel.build(ev, li, customers = 10)
    assert(m.l1("GENRE#click#DATE#2024-01-01", "METRIC#listen_count") == Vector("METRIC#listen_count" -> "2"))
    assert(m.l1("GENRE#click#DATE#2024-01-01", "METRIC#total_value") == Vector("METRIC#total_value" -> "3.750000"))
    assert(m.l2("GENRE#A#DATE#2024-01-01") == Vector("SONG#1#7" -> "1"))
    assert(m.l3("DATE#2024-01-01") == Vector("GENRE_RANK#1" -> "click", "GENRE_RANK#2" -> "view"))
  }

  test("BENCHMARK.json names exactly the metrics the listed workloads print") {
    import scala.jdk.CollectionConverters._
    val f = new File("../BENCHMARK.json")
    assume(f.exists, "run from perfbench/ inside a checkout")
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def entries(key: String) = root.get(key).elements().asScala.toSeq
    def metrics(key: String) = entries(key).map(n => n.get("name").asText -> n.get("unit").asText)
    assert(metrics("end_to_end") == Main.EndToEnd)
    // run.py appends the host probe, timed outside the benchmark JVM
    assert(metrics("per_layer") == Main.PerLayer :+ ("host.probe_s" -> "s"))
    assert(entries("workloads").map(_.get("name").asText).toSet == Workloads.Driven)
  }
}
