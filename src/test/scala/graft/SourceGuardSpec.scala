package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One concern, one mechanism: every memo map, lock map and
  * identity-keyed cache in the engine goes through
  * [[graft.ext.ArtifactCache]] (README, *Caching*).
  */
class SourceGuardSpec extends AnyFunSuite {

  test("memo and lock maps appear in src/main only inside ArtifactCache.scala") {
    val banned = """TrieMap|WeakHashMap|identityHashCode""".r
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "ArtifactCache.scala")
      .toList
    assert(sources.nonEmpty, "run from the repository root")
    val offenders = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
