package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the word rule and the hash rule are each written once in
  * src/main, in graft.functions.Words and graft.functions.PolyFold. A
  * byte-level 0x20 word-boundary scan, or a hash-rule modulus literal,
  * anywhere else fails this spec. Likewise background jobs and
  * disclosure probes live only in graft.core.Overlap: a Scala Future,
  * an Await, the global ExecutionContext or a 21-row probe anywhere
  * else fails it. And pins live only in graft.core.Pin: a
  * `localCheckpoint(`, `.checkpoint(` or `setCheckpointDir` anywhere
  * else fails it. Exemptions:
  *
  *  - queries/LlmOracle.scala keeps its own moduli: its DuckDB replay
  *    text is the independent oracle the engine is checked against;
  *  - functions/C4Stats.scala and functions/CharTrigramTfs.scala compare
  *    bytes to 0x20 for other rules: C4's line filter counts NON-EMPTY
  *    words, and the trigram pass rewrites spaces to '_'.
  */
class RuleLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val sources: Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  private def offenders(rule: scala.util.matching.Regex,
                        allowed: Set[String]): Seq[String] =
    sources.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      src.linesIterator.zipWithIndex.collect {
        case (line, i) if !allowed(file) &&
            rule.findFirstIn(line).isDefined => s"$file:${i + 1}: ${line.trim}"
      }
    }

  private val Moduli = """(?<!\d)(2147483647|2147483629)(?!\d)""".r
  private val SpaceScan = """\)\s*[!=]=\s*(0x20\b|' '|32\b)""".r
  private val Concurrency =
    ("""scala\.concurrent\.[^}]*\bFuture\b|\bFuture\s*[({.]|\bAwait\.""" +
      """|ExecutionContext\.Implicits\.global|limit\(21\)""").r
  private val Pinning = """localCheckpoint\(|\.checkpoint\(|setCheckpointDir""".r

  test("the hash-rule moduli appear only in PolyFold (and the oracle's replay)") {
    assert(Moduli.findFirstIn(sources("graft/functions/PolyFold.scala")).isDefined)
    assert(offenders(Moduli, Set("graft/functions/PolyFold.scala",
      "graft/queries/LlmOracle.scala")) == Nil)
  }

  test("a 0x20 word-boundary byte scan appears only in Words") {
    assert(SpaceScan.findFirstIn(sources("graft/functions/Words.scala")).isDefined)
    assert(offenders(SpaceScan, Set("graft/functions/Words.scala",
      "graft/functions/C4Stats.scala",
      "graft/functions/CharTrigramTfs.scala")) == Nil)
  }

  test("Futures, Awaits, the global ExecutionContext and 21-row probes appear only in Overlap") {
    assert(Concurrency.findFirstIn(sources("graft/core/Overlap.scala")).isDefined)
    assert(offenders(Concurrency, Set("graft/core/Overlap.scala")) == Nil)
  }

  test("localCheckpoint, checkpoint and setCheckpointDir appear only in Pin") {
    assert(Pinning.findFirstIn(sources("graft/core/Pin.scala")).isDefined)
    assert(offenders(Pinning, Set("graft/core/Pin.scala")) == Nil)
  }
}
