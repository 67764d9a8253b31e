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
  * raw-parquet dim store (whose concurrent reads could tear). Parquet is
  * read through graft.core.Parquet only, which reuses inferred schemas:
  * a `.read.parquet(` anywhere else, which starts a schema-inference job
  * per call, fails it. And the operator surface keeps few options: the
  * defaulted parameters of public defs in src/main outside graft/queries
  * are counted (and the count printed), and a count above
  * [[MaxDefaultedParams]] fails it — a knob every caller leaves at one
  * value is a constant, not a parameter. Exemptions:
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
  private val ParquetRead = """\.read\s*\.\s*parquet\(""".r

  /** Ceiling on the defaulted parameters of public defs in src/main
    * outside graft/queries. Lower it when a change removes options;
    * raising it needs a caller that passes a second value.
    */
  private val MaxDefaultedParams = 346

  /** `src` with comments, string and char literals blanked to spaces
    * (newlines kept), so offsets and line numbers still match.
    */
  private def blanked(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, to: Int): Unit =
      (from until math.min(to, src.length)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def stringEnd(at: Int): Int = // `at` is the opening quote
      if (src.startsWith("\"\"\"", at)) {
        var e = src.indexOf("\"\"\"", at + 3) + 3
        while (e < src.length && src(e) == '"') e += 1
        e
      } else {
        val interpolated = at > 0 && Character.isLetter(src(at - 1))
        var i = at + 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') i += 2
          else if (interpolated && src.startsWith("${", i)) {
            var depth = 0
            do {
              if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
              else if (src(i) == '"') i = stringEnd(i) - 1
              i += 1
            } while (depth > 0 && i < src.length)
          } else i += 1
        }
        i + 1
      }
    var i = 0
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) src.length else e
        blank(i, end); i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        val start = i
        do {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
        blank(start, i)
      } else if (src(i) == '"') {
        val e = stringEnd(i); blank(i, e); i = e
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val e = src.indexOf('\'', i + 2) + 1
        blank(i, e); i = e
      } else i += 1
    }
    new String(out)
  }

  private val HeaderWord =
    """\b(object|class|trait|def|val|var|new|if|else|for|while|match|try|catch|finally|do|yield|case|return)\b""".r
  private val DefName = """\bdef\s+[^\s(\[:=]+""".r

  /** Offset just past the bracket closing the one at `open` (any of
    * `([{`, nested ones counted together).
    */
  private def closingAny(code: String, open: Int): Int = {
    var depth = 0
    var i = open
    do {
      if ("([{".contains(code(i))) depth += 1 else if (")]}".contains(code(i))) depth -= 1
      i += 1
    } while (depth > 0 && i < code.length)
    i
  }

  /** Top-level pieces of a bracketed clause (its text without brackets). */
  private def pieces(clause: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var from = 0
    clause.indices.foreach { i =>
      val c = clause(i)
      if ("([{".contains(c)) depth += 1
      else if (")]}".contains(c)) depth -= 1
      else if (c == ',' && depth == 0) { out += clause.substring(from, i); from = i + 1 }
    }
    (out += clause.substring(from)).result()
  }

  private def hasDefault(param: String): Boolean = {
    var depth = 0
    param.indices.exists { i =>
      val c = param(i)
      if ("([{".contains(c)) depth += 1 else if (")]}".contains(c)) depth -= 1
      depth == 0 && c == '=' && !"=<>!".contains(param.lift(i - 1).getOrElse(' ')) &&
        !"=>".contains(param.lift(i + 1).getOrElse(' '))
    }
  }

  /** (def name, defaulted-parameter count) for each public def in `src`
    * that has a defaulted parameter. A def is public when no modifier
    * before it on its line is private or protected and every brace
    * around it opens the body of a non-private object, class or trait
    * (so local defs and defs in anonymous classes are not counted).
    */
  private def defaultedParams(src: String): Seq[(String, Int)] = {
    val code = blanked(src)
    // for every `{`: does it open a public template body?
    val opens = scala.collection.mutable.Stack.empty[Boolean]
    val publicAt = new Array[Boolean](code.length + 1)
    var last = 0 // offset after the last brace seen
    var public = true
    code.indices.foreach { i =>
      publicAt(i) = opens.forall(identity)
      if (code(i) == '{') {
        val header = code.substring(last, i)
        val word = HeaderWord.findAllMatchIn(header).toSeq.lastOption.map(_.group(1))
        opens.push(word.exists(Set("object", "class", "trait")) &&
          !header.contains("private") && !header.contains("protected"))
        last = i + 1
      } else if (code(i) == '}') {
        if (opens.nonEmpty) opens.pop()
        last = i + 1
      }
    }
    DefName.findAllMatchIn(code).toSeq.flatMap { m =>
      val lineStart = code.lastIndexOf('\n', m.start) + 1
      val mods = code.substring(lineStart, m.start)
      if (!publicAt(m.start) || mods.contains("private") || mods.contains("protected")) None
      else {
        var i = m.end
        def skipWs(): Unit = while (i < code.length && code(i).isWhitespace) i += 1
        skipWs()
        if (i < code.length && code(i) == '[') { i = closingAny(code, i); skipWs() }
        var n = 0
        while (i < code.length && code(i) == '(') {
          val end = closingAny(code, i)
          n += pieces(code.substring(i + 1, end - 1)).count(hasDefault)
          i = end
          skipWs()
        }
        if (n > 0) Some(m.matched.stripPrefix("def").trim -> n) else None
      }
    }
  }

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

  test("parquet is read only through graft.core.Parquet, which reuses inferred schemas") {
    assert(ParquetRead.findFirstIn("""val df = spark.read.parquet(path)""").isDefined)
    assert(ParquetRead.findFirstIn("spark.read\n  .parquet(dir)").isDefined)
    assert(ParquetRead.findFirstIn("""df.write.parquet(path)""").isEmpty)
    assert(ParquetRead.findFirstIn("""spark.readStream.schema(s).parquet(dir)""").isEmpty)
    // whole sources, not lines: a call split across lines counts too
    val readers = sources.toSeq.sortBy(_._1).collect {
      case (file, src) if ParquetRead.findFirstIn(src).isDefined => file
    }
    assert(readers == Seq("graft/core/Parquet.scala"))
  }

  test("defaulted parameters on public defs outside graft/queries stay under the ceiling") {
    val sample =
      """object A {
        |  def f(df: DataFrame, textCol: String = "text", k: Int = 3)(implicit s: S = null): Int = {
        |    def local(x: Int = 1) = x // "def g(y: Int = 2)"
        |    val h = (a: Int) => a >= 2 && a <= 3
        |    k
        |  }
        |  private def p(x: Int = 1) = x
        |  def g[T](f: Int => Unit = _ => (), m: Map[String, Int] = Map("a" -> 1), s: String = s"$${q("(")}") = 0
        |  def noDefaults(a: Int, b: String => Boolean) = a
        |}
        |private object B { def q(x: Int = 1) = x }
        |class C(x: Int = 1) { def r(y: Int = 2) = y; new T { def s(z: Int = 3) = z } }
        |""".stripMargin
    assert(defaultedParams(sample) == Seq("f" -> 3, "g" -> 3, "r" -> 1))
    val counted = sources.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("graft/queries/"))
      .flatMap { case (file, src) => defaultedParams(src).map { case (d, n) => (file, d, n) } }
    val total = counted.map(_._3).sum
    println(s"[lint] $total defaulted parameters on ${counted.size} public defs " +
      s"in src/main outside graft/queries (ceiling $MaxDefaultedParams)")
    assert(total <= MaxDefaultedParams,
      counted.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, ds) =>
        s"$f: ${ds.map(_._3).sum}" }.mkString("; "))
  }
}
