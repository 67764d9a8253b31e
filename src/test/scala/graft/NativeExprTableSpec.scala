package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.ext.{Dedup, TextAnalysis}
import graft.functions._

/** Every native expression of graft.functions, table-driven. Per row:
  *
  *  - a child of the wrong type fails analysis (the ExpectsInputTypes
  *    declaration);
  *  - generated code (factory mode CODEGEN_ONLY and no whole-stage
  *    fallback, so Java that does not compile fails the run) gives the
  *    same rows as interpreted eval (NO_CODEGEN, with whole-stage codegen
  *    off so no operator compiles its projection), on corpus text plus
  *    the word-rule edge shapes ([[Fixtures.edgeTexts]]) and a null.
  *
  * Children of other types derive from the same text, so the edge shapes
  * reach every expression.
  */
class NativeExprTableSpec extends SparkSuite {

  private def ex(c: Column): Expression = Bridge.expression(c)

  private val text = col("text")
  private val words = split(text, " ")
  private val hashes = Dedup.shingleHashes(text, 2)
  private def vec(salt: Int): Column = array((1 to 4).map(i =>
    (length(text) * (i + salt) % 7 - 3).cast("double")): _*)
  private def ivec(salt: Int): Column = vec(salt).cast("array<int>")
  private val key = polyFingerprint64(text)
  private val notText = length(text)

  /** (name, expression over the text-derived children, the same
    * expression over a wrong-type child).
    */
  private val table: Seq[(String, Expression, Expression)] = {
    def str(name: String, f: Expression => Expression) =
      (name, f(ex(text)), f(ex(notText)))
    def bin(name: String, f: Expression => Expression) =
      (name, f(ex(text.cast("binary"))), f(ex(notText)))
    def arr(name: String, c: Column, f: Expression => Expression) =
      (name, f(ex(c)), f(ex(text)))
    val bloomWords = Array.tabulate(4)(i => 0x5a5a5a5a5a5a5a5aL >>> i)
    val cmsTable = Array.tabulate(3 * 64)(i => (i * 7919L) % 101)
    val pieces = Seq(("th", 3L), ("the", 4L), ("e", 2L), ("a", 1L),
      ("an", 2L), ("in", 3L))
    val url = concat(lit("HTTP://Ex.COM:80/p?utm_a=1&z="), text)
    Seq(
      str("PolyHash", PolyHash(_)),
      bin("PolyHash/binary", PolyHash(_)),
      str("PolyHash64", PolyHash64(_)),
      bin("PolyHash64/binary", PolyHash64(_)),
      str("DeflateLen", DeflateLen(_)),
      bin("DeflateLen/binary", DeflateLen(_)),
      str("PcmFingerprint", PcmFingerprint(_)),
      bin("PcmFingerprint/binary", PcmFingerprint(_)),
      str("GramHashes", GramHashes(_, 3)),
      str("WordGrams", WordGrams(_, Seq(1, 2, 3), leveled = false)),
      str("WordGrams/leveled", WordGrams(_, Seq(1, 2, 3), leveled = true)),
      str("WinnowFps", WinnowFps(_, 3, 2)),
      str("CdcChunksExpr", CdcChunksExpr(_, 2, 3)),
      str("ShingleHashes", ShingleHashes(_, 3)),
      str("RepetitionStats", RepetitionStats(_)),
      str("GopherRepetition", GopherRepetition(_)),
      str("WordTfs", WordTfs(_)),
      str("CharTrigramTfs", CharTrigramTfs(_)),
      str("C4Stats", C4Stats(_)),
      str("ByteLevelEncode", ByteLevelEncode(_)),
      ("CanonicalUrl", CanonicalUrl(ex(url)), CanonicalUrl(ex(notText))),
      str("CmsPositions", CmsPositions(_, 3, 64)),
      str("CmsEstimate", CmsEstimate(_, cmsTable, 3, 64)),
      str("BpeMergeTokens", BpeMergeTokens(_, TextAnalysis.Merges,
        TextAnalysis.BpePattern)),
      str("BpeMergeTokens/byteLevel", BpeMergeTokens(_, Nil,
        TextAnalysis.BpePattern, byteLevel = true)),
      str("UnigramLmTokens", UnigramLmTokens(_, pieces, 9L, 3, 8,
        Some(TextAnalysis.BpePattern))),
      str("UnigramLmTokens/byteLevel", UnigramLmTokens(_, pieces, 9L, 3,
        8, Some(TextAnalysis.BpePattern), byteLevel = true)),
      str("VocabTokenCount", VocabTokenCount(_, TextAnalysis.Vocab,
        TextAnalysis.BpePattern)),
      arr("MinHashSig", hashes, MinHashSig(_, Dedup.Perms)),
      arr("SimHash", hashes, SimHash(_, 16)),
      arr("LshBuckets", vec(0), LshBuckets(_, 2, 3, 4)),
      arr("LshBuckets/float", vec(0).cast("array<float>"),
        LshBuckets(_, 2, 3, 4)),
      arr("BloomBitPositions", key, BloomBitPositions(_, 256, 3)),
      arr("BloomMightContain", key, BloomMightContain(_, bloomWords, 256, 3)),
      ("GramOverlap/words", GramOverlap(ex(text), ex(lower(text)), 3, false),
        GramOverlap(ex(text), ex(notText), 3, false)),
      ("GramOverlap/chars", GramOverlap(ex(text), ex(lower(text)), 3, true),
        GramOverlap(ex(notText), ex(text), 3, true)),
      ("EditDist", EditDist(ex(words), ex(array_sort(words))),
        EditDist(ex(words), ex(text))),
      ("LcsLen", LcsLen(ex(words), ex(array_sort(words))),
        LcsLen(ex(text), ex(words))),
      ("CosineSim", CosineSim(ex(vec(0)), ex(vec(1))),
        CosineSim(ex(vec(0)), ex(words))),
      ("IntDot", IntDot(ex(ivec(0)), ex(ivec(1))),
        IntDot(ex(hashes.cast("array<double>")), ex(ivec(1)))))
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(200)
      .unionByName((Fixtures.edgeTexts :+ null).zipWithIndex
        .map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text"))
      .localCheckpoint() // a LogicalRDD: the optimizer cannot pre-evaluate it
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def rowsUnder(confs: (String, String)*): Seq[Seq[String]] =
    withConfs(confs: _*) {
      docs.select(col("doc_id") +: table.map { case (name, e, _) =>
          Bridge.column(e).as(name) }: _*)
        .collect().sortBy(_.getLong(0))
        .map(r => (1 until r.length).map(i => String.valueOf(r.get(i))))
        .toSeq
    }

  test("the table covers every NativeExpr class in graft.functions") {
    val dir = new java.io.File(classOf[NativeExpr].getProtectionDomain
      .getCodeSource.getLocation.toURI).toPath
      .resolve("graft/functions").toFile
    val native = dir.list().toSeq.filter(f => f.endsWith(".class") &&
        !f.contains("$"))
      .map(f => Class.forName("graft.functions." + f.stripSuffix(".class")))
      .filter(c => classOf[NativeExpr].isAssignableFrom(c) && !c.isInterface)
      .map(_.getSimpleName).toSet
    assert(native.size > 20, native)
    val covered = table.map(_._2.getClass.getSimpleName).toSet
    assert(native -- covered == Set.empty)
  }

  test("a child of the wrong type fails analysis, for every table row") {
    table.foreach { case (name, _, wrong) =>
      val e = intercept[AnalysisException](docs.select(Bridge.column(wrong)))
      assert(e.getMessage.contains("UNEXPECTED_INPUT_TYPE"), s"$name: $e")
    }
  }

  test("generated code and interpreted eval give identical rows, for every table row") {
    val codegen = rowsUnder(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    val interpreted = rowsUnder(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    assert(codegen.length == interpreted.length && codegen.length > 200)
    table.map(_._1).zipWithIndex.foreach { case (name, i) =>
      val diff = codegen.zip(interpreted).collectFirst {
        case (a, b) if a(i) != b(i) => (a(i), b(i)) }
      assert(diff.isEmpty, s"$name: (codegen, eval)")
    }
  }
}
