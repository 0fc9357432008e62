package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** One concern, one mechanism: every memo map, lock map and
  * identity-keyed cache in the engine goes through
  * [[graft.ext.ArtifactCache]] (README, *Caching*); every listener goes
  * through [[graft.Profile]] (README, *Profiling*); connected
  * components have one distributed engine, behind
  * [[graft.ext.Dedup.duplicateGroups]]; document-keyed delta ledgers
  * have one lifecycle, [[graft.ext.Artifact.DocLedger]]; and a new
  * `main` takes a deliberate edit here.
  */
class SourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(root: String): List[Path] = {
    val all = Files.walk(Paths.get(root)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toList
    assert(all.nonEmpty, "run from the repository root")
    all
  }

  private lazy val sources: List[Path] = scalaFiles("src/main")

  private def lines(p: Path): List[String] = Files.readAllLines(p).asScala.toList

  /** `file:line: text` of every line matching `banned` outside `home`. */
  private def offenders(banned: Regex, home: String): List[String] = for {
    p <- sources if p.getFileName.toString != home
    (line, i) <- lines(p).zipWithIndex
    if banned.findFirstIn(line).isDefined
  } yield s"$p:${i + 1}: ${line.trim}"

  test("memo and lock maps appear in src/main only inside ArtifactCache.scala") {
    val found = offenders("""TrieMap|WeakHashMap|identityHashCode""".r, "ArtifactCache.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("listeners appear in src/main only inside Profile.scala") {
    val found = offenders(
      """\b(SparkListener|QueryExecutionListener|StreamingQueryListener)\b""".r,
      "Profile.scala")
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the star-contraction CC engine and the union-find removal twin appear nowhere under src") {
    // spelled in pieces so this file does not match itself
    val banned = Seq("star" + "Contraction", "same" + "EdgeSet", "applyDedup" + "Local")
    val found = for {
      p <- scalaFiles("src")
      (line, i) <- lines(p).zipWithIndex
      if banned.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the document-ledger artifacts carry no copy of the Artifact.DocLedger lifecycle") {
    val banned = Seq("beginMutation", "appendTombstones", "addToFingerprint",
      "subtractFromFingerprint", "writeNextGen", """.count().filter(col("count") > 1)""")
    val homes = Set("LanguageModel.scala", "BigramModel.scala", "Classifier.scala",
      "InvertedIndex.scala")
    val checked = sources.filter(p => homes.contains(p.getFileName.toString))
    assert(checked.map(_.getFileName.toString).toSet == homes)
    val found = for {
      p <- checked
      (line, i) <- lines(p).zipWithIndex
      if banned.exists(line.contains)
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("the objects in src/main that define a main method are the listed entry points") {
    val objectDecl = """^object\s+(\w+).*""".r
    val withMain = for {
      p <- sources
      ls = lines(p)
      (line, i) <- ls.zipWithIndex if line.contains("def main(")
    } yield ls.take(i).reverse.collectFirst { case objectDecl(n) => n }.getOrElse(s"$p:${i + 1}")
    assert(withMain.sorted ==
      Seq("Bench", "Maintenance", "Profile", "ScaleUp", "Smoke", "Verify", "Warm"))
  }
}
