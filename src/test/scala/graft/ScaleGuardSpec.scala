package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Overlap, Sessions, Tables}
import graft.ext.{Dedup, Similarity}

/** The guard half of the scale spot-check (SCALE.md): the hot-bucket
  * caps must stay SILENT on a clean corpus (zero disclosure rows, zero
  * recall loss) and must DISCLOSE — not explode — on a planted-hot one.
  * ScaleCheck asserts the clean side at 1×/4×/16×; this spec pins both
  * sides deterministically at test scale.
  */
class ScaleGuardSpec extends AnyFunSuite {
  private lazy val spark = Sessions.build("scale-guard-spec", "4")
  private val sf = "/root/testdata/sf0.001"
  private def corpusPresent = new java.io.File(s"$sf/documents.parquet").exists()

  test("band-width guard: silent on the clean corpus, disclosed on planted distinct-content spam") {
    assume(corpusPresent)
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .localCheckpoint()

    // clean corpus: no band bucket can exceed the cap → guard silent
    val cleanOverflow = Dedup.bandOverflow(Dedup.features(docs))
    assert(cleanOverflow.count() == 0L,
      "clean corpus must not trip the band-width guard")
    // ...and the operator that owns the probe records nothing
    Overlap.drain(spark)
    Dedup.nearDupPairs(docs)
    assert(Overlap.drain(spark).isEmpty,
      "clean corpus must not produce a disclosure record")

    // planted-hot: DefaultMaxBucketWidth+100 docs sharing a long
    // template but each carrying a distinct trailing token — distinct
    // content (the exact-collapse cannot absorb them), near-identical
    // shingle sets (they bucket together). The unguarded join would
    // build ~(356²/2) ≈ 63k in-bucket pairs from ONE bucket.
    val template = (1 to 120).map(i => s"tmpl$i").mkString(" ")
    val hotN = Dedup.DefaultMaxBucketWidth + 100
    val hot = (1 to hotN).map(i => (1000000L + i, s"$template hot$i"))
      .toDF("doc_id", "text")
    val mixed = docs.unionByName(hot).localCheckpoint()
    val feats = Dedup.features(mixed)

    // the disclosure relation names the hot buckets...
    val overflow = Dedup.bandOverflow(feats).collect()
    assert(overflow.nonEmpty,
      "planted distinct-content spam must be DISCLOSED by bandOverflow")
    assert(overflow.forall(_.getLong(2) > Dedup.DefaultMaxBucketWidth))
    // ...and the operator records them before it returns
    Dedup.nearDupPairs(mixed)
    val disclosed = Overlap.drain(spark)
      .filter(_.operator == "lsh candidate generation")
    assert(disclosed.nonEmpty && disclosed.forall(_.sample.nonEmpty),
      "nearDupPairs must record the planted hot buckets as a Disclosure")
    assert(disclosed.flatMap(_.sample)
      .forall(_.getAs[Long]("n") > Dedup.DefaultMaxBucketWidth))

    // ...and the capped candidate path EXCLUDES them instead of
    // building quadratic in-bucket pairs: no candidate pair may join
    // two planted docs (their only shared buckets are the excluded hot
    // ones), while the clean corpus' candidates are untouched.
    val cands = Dedup.lshCandidates(feats).localCheckpoint()
    val hotPairs = cands
      .filter(col("doc_a") >= 1000000L && col("doc_b") >= 1000000L).count()
    assert(hotPairs == 0L,
      s"capped candidate generation must exclude hot buckets, got $hotPairs pairs")
    val cleanCands = Dedup.lshCandidates(Dedup.features(docs))
    val mixedCleanPairs = cands.filter(col("doc_a") < 1000000L &&
      col("doc_b") < 1000000L)
    assert(mixedCleanPairs.count() == cleanCands.count(),
      "clean-corpus candidates must be unaffected by the planted bucket")
  }

  test("embedding near-dup guard: exact-collapse absorbs planted copies; hot representative buckets disclose") {
    assume(corpusPresent)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").localCheckpoint()

    // planted exact copies (the ScaleCheck corpus law: same vector,
    // distinct ids) — the exact-collapse guard turns m copies into ONE
    // bucketed representative, so pairs come back complete without the
    // m²/2 in-bucket blowup
    val base = emb.filter(col("vec_id") === 0L).head.getSeq[Float](1)
    val copies = (1 to 40).map(i => (2000000L + i, base)).toDF("vec_id", "embedding")
    val mixed = emb.unionByName(copies)
    val pairs = Similarity.embeddingNearDups(mixed, threshold = 0.25,
      planes = 7, dims = 64)
      .filter(col("id_a") >= 2000000L || col("id_b") >= 2000000L ||
        col("id_a") === 0L || col("id_b") === 0L)
    // every copy pairs with vec 0 and with each other at cos = 1
    val copyPairs = pairs.filter(
      (col("id_a") === 0L || col("id_a") >= 2000000L) &&
        (col("id_b") >= 2000000L)).count()
    assert(copyPairs == (41L * 40L) / 2L,
      s"expected all-pairs among the 41 identical vectors, got $copyPairs")
  }
}
