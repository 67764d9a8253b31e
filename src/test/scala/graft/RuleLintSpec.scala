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
  * else fails it. The file sinks write through graft.sinks.EpochFiles
  * only: a `DataFrameWriter` (`.write` not followed by a call's `(`, or
  * `.writeTo(`) anywhere under graft/sinks fails it. And tables swap
  * into place through graft.core.SwapTable only: a `RENAME TO` anywhere
  * else fails it. Word n-grams come from graft.functions.WordGrams (or
  * another Words-based pass): a `split(` inside the lambda of a
  * `transform(sequence(` call, which re-splits the text for every
  * element, fails it. The near-dup band layout is graft.ext.Dedup's
  * alone: a parameter named `numBands` or `rowsPerBand` declared
  * anywhere else fails it. Versioned stores commit through
  * graft.streaming.ManifestStore only: a `"d-` version-dir name, a
  * `ManifestStore.Manifest(` or a `ManifestStore.commit(` anywhere else
  * fails it, and so does any main or test source naming the deleted
  * raw-parquet dim store (whose concurrent reads could tear).
  * Exemptions:
  *
  *  - queries/LlmOracle.scala keeps its own moduli, its own word splits
  *    and its own band-layout parameters: its DuckDB replay text is the
  *    independent oracle the engine is checked against;
  *  - functions/C4Stats.scala and functions/CharTrigramTfs.scala compare
  *    bytes to 0x20 for other rules: C4's line filter counts NON-EMPTY
  *    words, and the trigram pass rewrites spaces to '_';
  *  - TextMiningQueries.LineifySpark re-splits inside its lambda: it is
  *    the C4 fixture generator, not an operator, and the oracle replays
  *    its text verbatim, so it stays in the shape both engines share.
  */
class RuleLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def scalaSources(root: Path): Map[String, String] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString.replace('\\', '/') ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  private val sources: Map[String, String] = scalaSources(root)

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
  private val FrameWriter = """\.write\b(?!\s*\()|\.writeTo\(""".r
  private val Rename = """(?i)\bRENAME\s+TO\b""".r
  private val TransformSeq = """\btransform\(\s*sequence\(""".r
  private val BandParam = """\b(numBands|rowsPerBand)\s*:""".r
  private val StoreCommit =
    """"d-|ManifestStore\.Manifest\(|ManifestStore\.commit\(""".r
  // the character class keeps this spec's own source from naming it
  private val RawDimStore = """\bChangelog[D]im\b""".r

  /** Offset just past the paren that closes the one at `open`. */
  private def closing(src: String, open: Int): Int = {
    var depth = 0
    var i = open
    do {
      if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
      i += 1
    } while (depth > 0 && i < src.length)
    i
  }

  /** Offsets of the `transform(sequence(` calls in `src` whose lambda
    * (after the sequence's closing paren, up to the transform's) calls
    * `split(`.
    */
  private def splitInSeqLambda(src: String): Seq[Int] =
    TransformSeq.findAllMatchIn(src).map(_.start).filter { at =>
      val open = src.indexOf('(', at)
      val seqEnd = closing(src, src.indexOf('(', open + 1))
      src.substring(seqEnd, closing(src, open)).contains("split(")
    }.toSeq

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

  test("no DataFrameWriter call under graft/sinks: file sinks write through EpochFiles") {
    assert(FrameWriter.findFirstIn("""df.write.mode("overwrite").text(dir)""").isDefined)
    assert(FrameWriter.findFirstIn("out.write(bytes); df.writeStream").isEmpty)
    val sinks = sources.keySet.filter(_.startsWith("graft/sinks/"))
    assert(sinks.contains("graft/sinks/EpochFiles.scala"))
    assert(offenders(FrameWriter, sources.keySet -- sinks) == Nil)
  }

  test("RENAME TO appears only in SwapTable") {
    assert(Rename.findFirstIn(sources("graft/core/SwapTable.scala")).isDefined)
    assert(offenders(Rename, Set("graft/core/SwapTable.scala")) == Nil)
  }

  test("no split( inside a transform(sequence( lambda: word n-grams come from WordGrams") {
    assert(splitInSeqLambda(
      "transform(sequence(2, n), i -> element_at(split(t, ' '), i))") == Seq(0))
    assert(splitInSeqLambda(
      "transform(sequence(2, size(split(t, ' '))), i -> element_at(ws, i))") == Nil)
    assert(splitInSeqLambda(
      "list_transform(generate_series(1, n), i -> string_split(t, ' ')[i])") == Nil)
    val lineify = {
      val src = sources("graft/queries/TextMiningQueries.scala")
      val at = src.indexOf("LineifySpark = expr(")
      assert(at >= 0)
      val span = at until closing(src, src.indexOf('(', at))
      assert(splitInSeqLambda(src).exists(span.contains)) // the exemption is live
      span
    }
    val found = sources.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      splitInSeqLambda(src).collect {
        case at if file != "graft/queries/LlmOracle.scala" &&
            !(file == "graft/queries/TextMiningQueries.scala" &&
              lineify.contains(at)) =>
          s"$file:${src.take(at).count(_ == '\n') + 1}"
      }
    }
    assert(found == Nil)
  }

  test("numBands/rowsPerBand parameters are declared only in Dedup: one near-dup layout") {
    assert(BandParam.findFirstIn("def f(df: DataFrame, numBands: Int = 4,").isDefined)
    assert(BandParam.findFirstIn("    rowsPerBand: Int): DataFrame =").isDefined)
    assert(BandParam.findFirstIn("g(numBands = numBands, Dedup.RowsPerBand)").isEmpty)
    // the oracle's exemption is live
    assert(BandParam.findFirstIn(sources("graft/queries/LlmOracle.scala")).isDefined)
    assert(offenders(BandParam, Set("graft/ext/Dedup.scala",
      "graft/queries/LlmOracle.scala")) == Nil)
  }

  test("version dirs and manifests are named and committed only in ManifestStore; the raw-parquet dim store stays gone") {
    assert(StoreCommit.findFirstIn("""val rel = s"d-$v-${uuid.take(8)}"""").isDefined)
    assert(StoreCommit.findFirstIn("ManifestStore.commit(spark, dir, m)").isDefined)
    assert(StoreCommit.findFirstIn("Seq(ManifestStore.Manifest(2L, Nil))").isDefined)
    assert(StoreCommit.findFirstIn("m: ManifestStore.Manifest, part: String").isEmpty)
    assert(StoreCommit.findFirstIn("""ManifestStore.commitVersion(spark, dir, replace = false)""").isEmpty)
    assert(StoreCommit.findFirstIn(sources("graft/streaming/ManifestStore.scala")).isDefined)
    assert(offenders(StoreCommit, Set("graft/streaming/ManifestStore.scala")) == Nil)
    assert(RawDimStore.findFirstIn("graft.streaming." + "Changelog" + "Dim.seed(df, dir)").isDefined)
    val tests = scalaSources(Paths.get("src/test/scala"))
    assert(tests.contains("graft/RuleLintSpec.scala"))
    val named = (sources.toSeq.map { case (f, src) => s"main/$f" -> src } ++
        tests.toSeq.map { case (f, src) => s"test/$f" -> src })
      .sortBy(_._1).collect {
        case (file, src) if RawDimStore.findFirstIn(src).isDefined => file
      }
    assert(named == Nil)
  }
}
