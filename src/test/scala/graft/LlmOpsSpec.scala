package graft

import org.apache.spark.Checkpoints
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ext.{Dedup, Multimodal, Similarity, TextAnalysis}

/** LLM-data-pipeline operator semantics beyond what the DuckDB oracle
  * covers: near-dup detection on planted duplicates, ANN recall vs the
  * exact baseline, multimodal batch extraction, and plan-shape
  * assertions (no cartesian products in the scale paths).
  */
class LlmOpsSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH finds planted near-duplicates with high jaccard") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).limit(50)
    // plant a near-dup of doc 0: same text with one word appended
    val nearDup = base.filter(col("doc_id") === 0)
      .select(lit(90001L).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val exact = base.filter(col("doc_id") === 1)
      .select(lit(90002L).as("doc_id"), col("text"))
    val corpus = base.select("doc_id", "text")
      .union(nearDup).union(exact)

    val pairs = Dedup.nearDupPairs(corpus)
      .withColumn("jacc", col("inter") / col("uni"))
      .filter(col("jacc") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 90001L)), s"planted near-dup not found: $pairs")
    assert(pairs.contains((1L, 90002L)), s"planted exact dup not found: $pairs")
  }

  test("lsh recall audit: exact-dup truth fully recalled, df-cap disclosure, consistency laws") {
    import spark.implicits._
    // three exact copies (one truth triangle) + unrelated docs; full
    // sample so the fixture controls the pair universe
    val docs = (Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (10L to 29L).map(i => (i, s"unique$i words body$i tail$i " +
        s"filler${i * 7} mid${i * 3} end${i * 11}")))
      .toDF("doc_id", "text")
    val a = Dedup.lshRecallAudit(docs, sampleFraction = 1.0)
      .collect().head
    def lv(c: String): Long = a.getLong(a.fieldIndex(c))
    assert(lv("n_sampled") == 23L, a)
    // identical hash sets share every band key → all 3 truth pairs hit
    assert(lv("n_truth_pairs") == 3L, a)
    assert(lv("n_hits") == 3L && lv("recall_x10000") == 10000L, a)
    assert(lv("n_verified") <= lv("n_candidates"), a)
    assert(lv("n_hits") <= lv("n_truth_pairs"), a)
    // df cap at 1: every shared shingle (df = 3) leaves the truth
    // index → zero truth pairs, null recall — disclosed, not invented
    val capped = Dedup.lshRecallAudit(docs, sampleFraction = 1.0,
      maxShingleDf = 1).collect().head
    assert(capped.getLong(capped.fieldIndex("n_truth_pairs")) == 0L, capped)
    assert(capped.isNullAt(capped.fieldIndex("recall_x10000")), capped)
    // invalid thresholds rejected
    intercept[IllegalArgumentException] {
      Dedup.lshRecallAudit(docs, jaccardNum = 3, jaccardDen = 2)
    }

    // the SIMHASH audit on the same fixture: identical texts have
    // Hamming-0 signatures, so the ball config recalls the full
    // triangle; same consistency laws, same df-cap disclosure path
    val sa = Dedup.simhashRecallAudit(docs, sampleFraction = 1.0)
      .collect().head
    def sv(c: String): Long = sa.getLong(sa.fieldIndex(c))
    assert(sv("n_sampled") == 23L, sa)
    assert(sv("n_truth_pairs") == 3L, sa)
    assert(sv("n_hits") == 3L && sv("recall_x10000") == 10000L, sa)
    assert(sv("n_verified") <= sv("n_candidates"), sa)
    intercept[IllegalArgumentException] {
      Dedup.simhashRecallAudit(docs, jaccardNum = 3, jaccardDen = 2)
    }
  }

  test("lsh recall audit equals a brute-force recount on planted near-dups") {
    import spark.implicits._
    // 12 base docs + a near-dup of each (one word appended → J ≈ 0.85)
    // + 20 unrelated docs: truth pairs and hits recomputed from first
    // principles must match the audit's one-row integers exactly
    val base = (0L until 12L).map(i => (i,
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i " +
        s"iota$i kappa$i lambda$i mu$i"))
    val nears = base.map { case (i, t) => (i + 500L, s"$t extra$i") }
    val noise = (100L until 120L).map(i => (i,
      s"solo$i words$i that$i share$i nothing$i with$i others$i"))
    val docs = (base ++ nears ++ noise).toDF("doc_id", "text")
    val a = Dedup.lshRecallAudit(docs, sampleFraction = 1.0)
      .collect().head
    def lv(c: String): Long = a.getLong(a.fieldIndex(c))
    // brute force: exact Jaccard ≥ 1/2 over ALL pairs (no df cap can
    // fire here — every shingle is id-suffixed, df ≤ 2)
    val feats = Dedup.features(docs).select("doc_id", "hashes")
      .as[(Long, Seq[Long])].collect().toMap
    val ids = feats.keys.toSeq.sorted
    val truth = (for {
      i <- ids; j <- ids if i < j
      hi = feats(i).toSet; hj = feats(j).toSet
      inter = (hi & hj).size; uni = (hi ++ hj).size
      if inter * 2 >= uni
    } yield (i, j)).toSet
    assert(truth.size == 12, s"fixture: expected 12 truth pairs, got ${truth.size}")
    assert(lv("n_truth_pairs") == truth.size.toLong, a)
    val cands = Dedup.lshCandidates(Dedup.features(docs))
      .as[(Long, Long)].collect().toSet
    assert(lv("n_candidates") == cands.size.toLong, a)
    assert(lv("n_hits") == (truth & cands).size.toLong, a)
    assert(lv("recall_x10000") ==
      (truth & cands).size.toLong * 10000L / truth.size, a)
  }

  test("k-anonymity / l-diversity: hand-computed classes, null-as-value quasi, null sensitive doesn't vote, guards") {
    import spark.implicits._
    val rows = Seq(
      ("A", Some(1), Some(10.0)), ("A", Some(1), Some(10.0)),
      ("A", Some(1), Some(20.0)),                       // A/1: k=3, l=2
      ("A", None, Some(30.0)), ("A", None, None),       // A/null: k=2, l=1
      ("B", Some(2), None))                             // B/2: k=1, l=0
      .toDF("seg", "nat", "bal")
    val classes = graft.ext.Privacy
      .equivalenceClasses(rows, Seq("seg", "nat"), Some("bal"))
      .collect().map(r => (r.getString(0), Option(r.get(1))) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(classes(("A", Some(1))) == ((3L, 2L)), classes)
    assert(classes(("A", None)) == ((2L, 1L)), classes)
    assert(classes(("B", Some(2))) == ((1L, 0L)), classes)
    val rep = graft.ext.Privacy.kAnonymityReport(rows, Seq("seg", "nat"),
      Some("bal"), kThreshold = 3L).collect().head
    assert(rep.getLong(0) == 6L && rep.getLong(1) == 3L, rep) // rows/classes
    assert(rep.getLong(2) == 1L && rep.getLong(3) == 0L, rep) // k, l
    assert(rep.getLong(4) == 3L && rep.getLong(5) == 5000L, rep) // at-risk
    // no sensitive column → l reads null, everything else unchanged
    val rep2 = graft.ext.Privacy.kAnonymityReport(rows, Seq("seg", "nat"),
      kThreshold = 3L).collect().head
    assert(rep2.isNullAt(3) && rep2.getLong(2) == 1L, rep2)
    // generalization coarsens: one bucket over bal → k jumps to the
    // full row count per segment class
    val gen = rows.withColumn("b",
      graft.ext.Privacy.generalizeNumeric(col("bal"), 1000.0))
    val rep3 = graft.ext.Privacy.kAnonymityReport(gen, Seq("seg", "b"))
      .collect().head
    assert(rep3.getLong(2) >= 1L, rep3)
    intercept[IllegalArgumentException](
      graft.ext.Privacy.equivalenceClasses(rows, Seq.empty))
    intercept[IllegalArgumentException](
      graft.ext.Privacy.equivalenceClasses(rows, Seq("seg", "seg")))
    intercept[IllegalArgumentException](
      graft.ext.Privacy.equivalenceClasses(rows, Seq("seg"), Some("seg")))
    intercept[IllegalArgumentException](
      graft.ext.Privacy.kAnonymityReport(rows, Seq("seg"), kThreshold = 0L))
    intercept[IllegalArgumentException](
      graft.ext.Privacy.generalizeNumeric(col("bal"), 0.0))
  }

  test("recall-audit grids: one shared truth, per-config rows, theory-ordered trade, single audit == its grid row") {
    import spark.implicits._
    // the planted-near-dup fixture of the brute-force test: 12 truth
    // pairs at J ≈ 0.85, noise docs sharing nothing
    val base = (0L until 12L).map(i => (i,
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i " +
        s"iota$i kappa$i lambda$i mu$i"))
    val nears = base.map { case (i, t) => (i + 500L, s"$t extra$i") }
    val noise = (100L until 120L).map(i => (i,
      s"solo$i words$i that$i share$i nothing$i with$i others$i"))
    val docs = (base ++ nears ++ noise).toDF("doc_id", "text")

    val lg = Dedup.lshRecallGrid(docs, sampleFraction = 1.0)
      .orderBy(col("num_bands")).collect()
    assert(lg.length == 3, lg.toSeq)
    def lcol(r: org.apache.spark.sql.Row, c: String) =
      r.getLong(r.fieldIndex(c))
    // shared truth: identical n_sampled / n_truth_pairs on every row
    assert(lg.map(lcol(_, "n_truth_pairs")).distinct.length == 1, lg.toSeq)
    assert(lg.map(lcol(_, "n_sampled")).distinct.length == 1, lg.toSeq)
    // theory order over (2,4) → (4,2) → (8,1): candidates and recall
    // non-decreasing with more bands
    val byBands = lg.sortBy(lcol(_, "num_bands"))
    assert(byBands.map(lcol(_, "n_candidates")).sliding(2).forall {
      case Array(a, b) => a <= b
    }, lg.toSeq)
    assert(byBands.map(lcol(_, "recall_x10000")).sliding(2).forall {
      case Array(a, b) => a <= b
    }, lg.toSeq)
    // the single audit is literally its grid row
    val single = Dedup.lshRecallAudit(docs, sampleFraction = 1.0)
      .collect().head
    val row42 = lg.find(r =>
      lcol(r, "num_bands") == Dedup.NumBands &&
        lcol(r, "rows_per_band") == Dedup.RowsPerBand).get
    assert(single.toSeq ==
      row42.toSeq.drop(2), s"$single vs $row42")

    val sg = Dedup.simhashRecallGrid(docs, sampleFraction = 1.0)
      .orderBy(col("max_hamming")).collect()
    assert(sg.length == 3, sg.toSeq)
    assert(sg.map(lcol(_, "n_truth_pairs")).distinct.length == 1, sg.toSeq)
    // a wider ball admits strictly more: candidates/hits non-decreasing
    assert(sg.map(lcol(_, "n_candidates")).sliding(2).forall {
      case Array(a, b) => a <= b
    }, sg.toSeq)
    assert(sg.map(lcol(_, "n_hits")).sliding(2).forall {
      case Array(a, b) => a <= b
    }, sg.toSeq)

    intercept[IllegalArgumentException](
      Dedup.lshRecallGrid(docs, configs = Seq.empty))
    intercept[IllegalArgumentException](
      Dedup.lshRecallGrid(docs, configs = Seq((4, 2), (4, 2))))
    // a config that does not tile the 8-perm signature fails loud
    intercept[IllegalArgumentException](
      Dedup.lshRecallGrid(docs, configs = Seq((3, 2))).collect())
  }

  test("embedding recall grid: shared capped sample, tables/planes trade, single audit == its grid row") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextFloat() - 0.5f)
    // 30 random vectors + 6 exact duplicates (guaranteed truth pairs)
    val bases = (1L to 30L).map(i => (i, vec()))
    val dups = bases.take(6).map { case (i, v) => (i + 100L, v) }
    val emb = (bases ++ dups).toDF("vec_id", "embedding")
    val g = Similarity.embeddingRecallGrid(emb,
        configs = Seq((2, 4), (4, 4), (4, 6)),
        sampleFraction = 1.0, threshold = 0.9, dims = 16)
      .collect()
    assert(g.length == 3, g.toSeq)
    def lcol(r: org.apache.spark.sql.Row, c: String) =
      r.getLong(r.fieldIndex(c))
    assert(g.map(lcol(_, "n_sampled")).distinct.toSeq == Seq(36L), g.toSeq)
    assert(g.map(lcol(_, "n_truth_pairs")).distinct.length == 1, g.toSeq)
    // more tables at fixed planes → candidates non-decreasing
    val t2 = g.find(r => lcol(r, "tables") == 2L && lcol(r, "planes") == 4L).get
    val t4 = g.find(r => lcol(r, "tables") == 4L && lcol(r, "planes") == 4L).get
    assert(lcol(t2, "n_candidates") <= lcol(t4, "n_candidates"), g.toSeq)
    // identical vectors collapse to reps whose intra pairs are always
    // candidates → the 6 planted dup pairs are hit in EVERY config
    assert(g.forall(lcol(_, "n_hits") >= 6L), g.toSeq)
    val single = Similarity.embeddingRecallAudit(emb, sampleFraction = 1.0,
      threshold = 0.9, planes = 4, dims = 16, tables = 4).collect().head
    assert(single.toSeq == t4.toSeq.drop(2), s"$single vs $t4")
  }

  test("embedding recall audit: identical-vector truth fully recalled, family laws") {
    import spark.implicits._
    // 3 identical vectors (one truth triangle at cos = 1.0) + 8
    // mutually ORTHOGONAL basis vectors (cos = 0 pairwise, and 1/√8 ≈
    // 0.354 < 0.999 against the ones-vector) — at threshold 0.999 the
    // truth set is exactly the triangle, and identical vectors collapse
    // to one representative whose intra-group pairs are always
    // candidates → full recall by construction
    val ones = Array.fill(8)(1.0f)
    val emb = ((1 to 3).map(i => (i.toLong, ones)) ++
      (10 to 17).map(i => (i.toLong,
        Array.tabulate(8)(j => if (j == i - 10) 1.0f else 0.0f))))
      .toDF("vec_id", "embedding")
    val a = Similarity.embeddingRecallAudit(emb, sampleFraction = 1.0,
      threshold = 0.999, planes = 5, dims = 8, tables = 4)
      .collect().head
    def lv(c: String): Long = a.getLong(a.fieldIndex(c))
    assert(lv("n_sampled") == 11L, a)
    assert(lv("n_truth_pairs") == 3L, a)
    assert(lv("n_hits") == 3L && lv("recall_x10000") == 10000L, a)
    assert(lv("n_verified") <= lv("n_candidates"), a)
    assert(lv("n_hits") <= lv("n_truth_pairs"), a)
    intercept[IllegalArgumentException] {
      Similarity.embeddingRecallAudit(emb, threshold = 2.0)
    }
  }

  test("mmr rerank: greedy diversity law, first pick is top-cos, parameters validated") {
    import spark.implicits._
    // q = e1; a/b nearly collinear with q (and with each other);
    // c half-angle diverse. λ = 30 weights diversity enough that the
    // second pick must jump to c even though b has higher relevance.
    def v(x: Float, y: Float): Array[Float] =
      Array(x, y) ++ Array.fill(62)(0f)
    val emb = Seq(
      (0L, v(1f, 0f)), (1L, v(1f, 0.01f)), (2L, v(1f, 0.02f)),
      (3L, v(0.5f, 0.866f)))
      .toDF("vec_id", "embedding")
    val out = graft.ext.Retrieval.mmrRerank(emb, Seq(0L), kCand = 3,
      k = 3, lambdaX100 = 30)
      .orderBy(col("mmr_rank")).collect()
      .map(r => r.getLong(r.fieldIndex("mmr_rank")) ->
        r.getLong(r.fieldIndex("neighbor_id")))
    assert(out.toSeq == Seq(1L -> 1L, 2L -> 3L, 3L -> 2L), out.toSeq)
    // λ = 100 ignores diversity: pure cosine order a, b, c
    val pure = graft.ext.Retrieval.mmrRerank(emb, Seq(0L), kCand = 3,
      k = 3, lambdaX100 = 100)
      .orderBy(col("mmr_rank")).collect()
      .map(r => r.getLong(r.fieldIndex("neighbor_id")))
    assert(pure.toSeq == Seq(1L, 2L, 3L), pure.toSeq)
    intercept[IllegalArgumentException] {
      graft.ext.Retrieval.mmrRerank(emb, Seq(0L), kCand = 3, k = 5)
    }
    intercept[IllegalArgumentException] {
      graft.ext.Retrieval.mmrRerank(emb, Seq(0L), lambdaX100 = 101)
    }
  }

  test("simhash of near-identical docs differs in few bits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and often"),
      (3L, "completely unrelated words about spark query planning engines"))
      .toDF("doc_id", "text")
    val sh = Dedup.features(docs).select("doc_id", "simhash")
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= hamming(sh(1L), sh(3L)),
      s"near-dup pair not closer: $sh")
  }

  test("simhash near-dup: combination join returns exactly the brute-force Hamming ball") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).limit(40).select("doc_id", "text")
    val d0 = base.filter(col("doc_id") === 0)
    // two exact copies (hamming-0 collapse group with doc 0), one light
    // mutation (a near-miss signature), one null text (never pairs)
    val mut = d0.select(lit(90001L).as("doc_id"),
      concat(col("text"), lit(" tail words")).as("text"))
    val copies = Seq(90002L, 90003L).map(id =>
      d0.select(lit(id).as("doc_id"), col("text")))
    val nul = Seq((90004L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val corpus = (Seq(base, mut) ++ copies :+ nul).reduce(_ union _)

    val got = Dedup.simhashNearDups(corpus)
      .as[(Long, Long, Long)].collect().toSet

    val sims = corpus.select(col("doc_id"),
      Dedup.simhash(Dedup.shingleHashes(col("text"), 3), 60).as("sim"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    val expect = (for {
      (a, Some(sa)) <- sims
      (b, Some(sb)) <- sims
      if a < b
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == expect,
      s"missed=${expect -- got} spurious=${got -- expect}")
    // the collapse group pairs at hamming 0 (intra-group expansion)
    assert(got.contains((0L, 90002L, 0L)) && got.contains((90002L, 90003L, 0L)))
    assert(!got.exists(p => p._1 == 90004L || p._2 == 90004L),
      "null-text doc must never pair")
  }

  test("simhash near-dup: hot buckets are excluded, parameters validated") {
    import spark.implicits._
    // 5 light mutations of one 16-word text: 4 DISTINCT representatives
    // (docs 0 and 4 share a signature) differing only in low bits, all
    // pairwise within Hamming 2 — so every pair-bearing combo bucket
    // holds all 4 reps
    val words = (1 to 16).map(i => s"word$i").mkString(" ")
    val docs = (0L to 4L).map(i => (i, s"$words variant$i")).toDF("doc_id", "text")
    val full = Dedup.simhashNearDups(docs).count()
    assert(full == 10L, s"5 mutual near-dups should give 10 pairs, got $full")
    // cap below the 4-wide rep buckets: every rep pair is dropped and
    // disclosed; only the hamming-0 collapse pair (0, 4) survives
    val capped = Dedup.simhashNearDups(docs, maxBucket = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped == Set((0L, 4L, 0L)),
      s"capped buckets must drop rep candidates, got $capped")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, blocks = 7)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDups(docs, blocks = 3)
    }
  }

  test("ANN top-k recall >= 0.5 vs exact brute force at 4 planes") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L)
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(emb, ids, 10, planes = 3, dims = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (ann=${ann.size}, exact=${exact.size})")
    // every ANN result must also be a genuine neighbour of its query
    assert(ann.forall { case (q, n) => n != q })
  }

  test("multi-probe LSH: recall >= single-probe at identical index, inline == indexed") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L)
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(s: Set[(Long, Long)]) =
      (exact intersect s).size.toDouble / exact.size
    val single = Similarity.annTopK(emb, ids, 10, planes = 4, dims = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.annTopKMultiProbe(emb, ids, 10, planes = 4,
        dims = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // the probe set includes the original bucket, so every single-probe
    // candidate is a multi-probe candidate: recall can only rise
    assert(recallOf(multi) >= recallOf(single),
      s"multi=${recallOf(multi)} single=${recallOf(single)}")
    assert(multi.forall { case (q, n) => n != q })
    // 2-bit probe budget strictly widens the 1-bit probe set: recall is
    // monotone again (2-bit ⊇ 1-bit ⊇ single)
    val multi2 = Similarity.annTopKMultiProbe(emb, ids, 10, planes = 4,
        dims = 64, probeBits = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(recallOf(multi2) >= recallOf(multi),
      s"multi2=${recallOf(multi2)} multi=${recallOf(multi)}")
    // rejected out-of-range plane widths and probe budgets
    intercept[IllegalArgumentException] {
      Similarity.annSearchMultiProbe(
        Similarity.lshTableBuckets(emb, 8, 4, 64, "embedding"),
        ids, 10, planes = 0)
    }
    intercept[IllegalArgumentException] {
      Similarity.annSearchMultiProbe(
        Similarity.lshTableBuckets(emb, 8, 4, 64, "embedding"),
        ids, 10, planes = 4, probeBits = 3)
    }
  }

  test("IVF with all cells probed degenerates to exact brute force") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L)
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().toSet
    val ivfAll = Similarity.ivfTopK(emb, ids, 10, centroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "cos").as[(Long, Long, Double)]
      .collect().toSet
    assert(ivfAll == exact)
  }

  test("hard negatives: different-label only, hardest-first, IVF all-probed degenerates to exact") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L)
    val anchorLabels = emb.filter(col("vec_id").isin(ids: _*))
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val hn = Similarity.hardNegatives(emb, ids, 10)
    val rows = hn.select("query_id", "neighbor_id", "neg_label", "cos", "rank")
      .as[(Long, Long, Int, Double, Long)].collect()
    assert(rows.length == 30)
    rows.foreach { case (q, n, nl, _, _) =>
      assert(nl != anchorLabels(q.toLong), s"same-label negative: q=$q n=$n")
      assert(n != q, s"self returned as negative: $q")
    }
    // hardest-first: rank order is non-increasing cosine per anchor
    rows.groupBy(_._1).values.foreach { g =>
      val byRank = g.sortBy(_._5).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, g.toSeq)
    }
    // the rank-1 negative really is the global different-label argmax:
    // no vector outside the result with a different label scores higher
    val all = Similarity.topKByIds(emb, ids, 499)
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .select("query_id", "neighbor_id", "label", "cos")
      .as[(Long, Long, Int, Double)].collect()
    ids.foreach { q =>
      val best = all.filter(r => r._1 == q && r._3 != anchorLabels(q))
        .maxBy(r => (r._4, -r._2))
      val got = rows.filter(r => r._1 == q && r._5 == 1L).head
      assert((best._2, best._4) == (got._2, got._4), s"q=$q best=$best got=$got")
    }
    // IVF path with every cell probed must equal the exact rung
    val ivfAll = Similarity.hardNegativesIvf(emb, ids, 10,
      centroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    val exact = hn.select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    assert(ivfAll == exact)
  }

  test("IVF recall at partial probing beats random and misses at most half") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = Seq(0L, 1L, 2L)
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, ids, 10, centroids = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("near-dup signature stage evaluates once per document, not per plan branch") {
    val docs = Tables.documents(spark, sf).limit(100)
    // the guarded pipeline materializes the collapsed feature frame once
    // (grouped localCheckpoint): ALL downstream branches — band self-join,
    // hash re-attach, member expansion — read the checkpoint, so zero
    // ShingleHashes/MinHashSig evaluations remain in the pair plan
    val pairs = Dedup.nearDupPairs(docs)
    val plan = pairs.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("shinglehashes"), plan)
    assert(!plan.contains("minhashsig"), plan)
    // same through the features entry point
    val fromFeats = Dedup.nearDupPairsFromFeatures(Dedup.features(docs))
    val featsPlan = fromFeats.queryExecution.executedPlan.toString.toLowerCase
    assert(!featsPlan.contains("shinglehashes"), featsPlan)
    // both shapes produce identical pairs
    assert(rows(pairs) == rows(fromFeats))
    assert(rows(pairs).nonEmpty)
  }

  test("hot-bucket guard: 1000 identical copies collapse to one band row; clusters exact and bounded") {
    import spark.implicits._
    val copies = (0L until 1000L).map(i =>
      (i, "the same exact document text repeated verbatim across every copy in the spam burst"))
    val others = Seq(
      (2000L, "completely different content about catalyst optimizer rule batches"),
      (2001L, "another unrelated body of text mentioning shuffle partitions and codegen"))
    val docs = (copies ++ others).toDF("doc_id", "text")
    // collapse: ONE representative for the 1000 copies, so no band bucket
    // is hot and the rep-level candidate join is tiny
    val grouped = Dedup.withExactReps(Dedup.features(docs))
    val reps = grouped.filter(col("doc_id") === col("rep"))
    assert(reps.count() == 3, "1000 copies + 2 distinct must collapse to 3 reps")
    assert(Dedup.bandOverflow(reps).count() == 0,
      "post-collapse buckets must be narrow — the guard routed the copies around the join")
    assert(Dedup.lshCandidates(reps).count() <= 3)
    // clusters: every copy labeled 0, star edges (m-1, not m²/2)
    val labels = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    assert((0L until 1000L).forall(labels(_) == 0L), "copies must form one cluster")
    assert(labels(2000L) == 2000L && labels(2001L) == 2001L)
    val keep = Dedup.keepList(Dedup.nearDupClusters(docs)).as[(Long, Long)].collect().toMap
    assert(keep == Map(0L -> 1000L, 2000L -> 1L, 2001L -> 1L), keep)
    // pair-level output is the true quadratic answer, inter == uni per copy pair
    val intra = Dedup.nearDupPairs(docs)
      .filter(col("doc_a") < 1000 && col("doc_b") < 1000)
    assert(intra.count() == 1000L * 999L / 2L)
    assert(intra.filter(col("inter") =!= col("uni")).count() == 0)
  }

  test("hot-bucket guard: over-wide DISTINCT-content buckets are excluded and disclosed") {
    import spark.implicits._
    // synthetic features: 50 docs with pairwise-DISTINCT hash sets (each
    // its own rep — no collapse possible) but an identical signature, so
    // all 50 land in the same 4 band buckets
    val feats = (0 until 50).map(i =>
      (i.toLong, Seq(1000L + i), Seq.fill(8)(7L), 0L))
      .toDF("doc_id", "hashes", "sig", "simhash")
    val over = Dedup.bandOverflow(feats, maxBucket = 10)
    assert(over.count() == 4, "all 4 band buckets must be disclosed as over-wide")
    assert(over.filter(col("n_docs") === 50).count() == 4)
    // capped: the hot keys are excluded — zero candidates instead of 49·25
    assert(Dedup.nearDupPairsFromFeatures(feats, maxBucket = 10).count() == 0)
    // same frame under a loose cap: the full quadratic candidate set
    assert(Dedup.nearDupPairsFromFeatures(feats).count() == 50L * 49L / 2L)
  }

  test("hot-bucket guard: embedding copies collapse before bucketing; expansion exact") {
    import spark.implicits._
    val base = (0 until 64).map(i => (math.sin(i + 1) / 2).toFloat)
    val copies = (0L until 200L).map(i => (i, base))
    // distinct far-away vectors: unit basis axes — cosine vs base well
    // below threshold, so only the copy pairs survive
    val others = (0 until 5).map { j =>
      (900L + j, (0 until 64).map(d => if (d == j) 1.0f else 0.0f))
    }
    val corpus = (copies ++ others).toDF("vec_id", "embedding")
    // cap of 8 << 200 copies: without collapse the copy bucket would be
    // excluded (or explode); with collapse it holds ONE representative
    val pairs = Similarity.embeddingNearDups(corpus, threshold = 0.9,
      planes = 3, dims = 64, maxBucket = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      a <- 0L until 200L; b <- (a + 1) until 200L
    } yield (a, b)).toSet
    assert(pairs == expected,
      s"got ${pairs.size} pairs, expected ${expected.size} intra-copy pairs only")
  }

  test("trained k-means centroids strictly beat the static lowest-id stand-in on recall") {
    import spark.implicits._
    // The driver corpus is isotropic (measured intra-label avg cos
    // ≈ 0.003 vs inter ≈ 0.000): on structureless vectors NO coarse
    // quantizer can beat another, so the training win is asserted on a
    // corpus with real (planted, deterministic) cluster structure —
    // 16 Gaussian clusters whose members' exact neighbours are
    // intra-cluster. Static lowest-id centroids cover only the clusters
    // ids 0..15 happen to land in; the Lloyd step moves the sampled
    // seeds toward actual cluster means.
    val rnd = new scala.util.Random(42)
    val centers = Array.fill(16, 64)(rnd.nextGaussian())
    val rows = (0 until 400).map { i =>
      val c = centers(rnd.nextInt(16))
      (i.toLong, c.map(v => (v + 0.6 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val ids = (0L until 10L).toSeq
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    // nProbe=1 is the discriminating setting: an edge-sitting static
    // centroid splits its cluster across cells, and single-probe search
    // misses the far half; a mean-sitting trained centroid does not.
    val trained = recallOf(Similarity.ivfTopK(emb, ids, 10, centroids = 16, nProbe = 1))
    val static0 = recallOf(Similarity.ivfTopKStatic(emb, ids, 10, nProbe = 1))
    assert(trained > static0,
      s"k-means recall $trained does not strictly beat static stand-in $static0")
  }

  test("PQ ANN: complete codes, bounded codebooks, useful recall on clustered vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(16, 64)(rnd.nextGaussian())
    val rows400 = (0 until 400).map { i =>
      val c = centers(rnd.nextInt(16))
      (i.toLong, c.map(v => (v + 0.4 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val emb = rows400.toDF("vec_id", "embedding")
    val cents = Similarity.pqTrainCodebooks(emb)
    assert(cents.select("subspace").distinct().count() == 8)
    assert(cents.count() <= 8 * 16)
    val codes = Similarity.pqEncode(emb, cents)
    assert(codes.count() == 400L * 8, "one code per (vector, subspace)")
    assert(codes.groupBy("vec_id", "subspace").count()
      .filter(col("count") > 1).count() == 0)
    // recall vs exact cosine top-10 on structured vectors: ADC over
    // 8×16 codebooks must beat noise by a wide margin
    val ids = (0L until 10L).toSeq
    val exact = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, ids, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.3, s"PQ recall $recall below floor")
    // persisted lifecycle: build half, append half against the frozen
    // codebooks, search-only path matches the frozen-codebook reference
    Similarity.buildPqIndex(emb.filter(col("vec_id") < 200), "t_pq_app")
    Similarity.appendToPqIndex(emb.filter(col("vec_id") >= 200), "t_pq_app")
    assert(spark.table("t_pq_app_codes").count() == 400L * 8)
    val queries = emb.filter(col("vec_id") < 3)
    val got = Similarity.pqTopKIndexed(spark, "t_pq_app", queries, 5)
    val centsHalf = Similarity.pqTrainCodebooks(emb.filter(col("vec_id") < 200))
    // reference: encode EVERYTHING against the half-trained codebooks,
    // score through the same indexed search path
    graft.core.Layout.writeBucketed(centsHalf, "t_pq_ref_codebooks", "cell", 1)
    graft.core.Layout.writeBucketed(
      Similarity.pqEncode(emb, centsHalf), "t_pq_ref_codes", "cell", 8)
    val ref = Similarity.pqTopKIndexed(spark, "t_pq_ref", queries, 5)
    assert(rows(got) == rows(ref))
    assert(rows(got).nonEmpty)
    // mismatched append parameters must throw, not corrupt
    val bad = intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(emb.filter(col("vec_id") >= 200), "t_pq_app",
        m = 4, dims = 64)
    }
    assert(bad.getMessage.contains("do not match"), bad.getMessage)
    // IVF×PQ composite: pruned candidates + ADC scoring still recall
    // usefully on the structured corpus, and results are a subset of
    // what full-corpus ADC could return (pruning only removes)
    val ivfpq = Similarity.ivfPqTopK(emb, ids, 10, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpqRecall = (exact intersect ivfpq).size.toDouble / exact.size
    assert(ivfpqRecall >= 0.25, s"IVF×PQ recall $ivfpqRecall below floor")
  }

  test("IVF×PQ persisted index: search-only hot path, frozen-quantizer append") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 3)
    Similarity.buildIvfPqIndex(emb, "t_ivfpq_idx")
    val indexed = Similarity.ivfPqTopKIndexed(spark, "t_ivfpq_idx", queries, 5)
    // bit-identical to the inline composite (same deterministic
    // quantizers, persisted artifacts round-trip parquet exactly)
    val inline = Similarity.ivfPqTopK(emb, Seq(0L, 1L, 2L), 5)
    assert(rows(indexed) == rows(inline))
    assert(rows(indexed).nonEmpty)
    // plan proof of the lifecycle: zero Lloyd/training stages in the
    // search plan; all four persisted artifacts are read
    val plan = indexed.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("collect_list"), "re-train stage in search plan")
    Seq("_centroids", "_lists", "_codebooks", "_codes").foreach(a =>
      assert(plan.contains(s"t_ivfpq_idx$a"), s"missing artifact scan $a"))
    // the inverted lists are bare (id, cell): no corpus floats are
    // stored or read on the composite's query path
    assert(!spark.table("t_ivfpq_idx_lists").columns.contains("embedding"))
    // append: delta assigned + encoded against FROZEN quantizers must
    // equal an index whose quantizers were trained on the same initial
    // half but whose lists/codes cover everything
    Similarity.buildIvfPqIndex(emb.filter(col("vec_id") < 200), "t_ivfpq_app")
    Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") >= 200), "t_ivfpq_app")
    assert(spark.table("t_ivfpq_app_lists").count() == emb.count())
    assert(spark.table("t_ivfpq_app_codes").count() == emb.count() * 8)
    val got = Similarity.ivfPqTopKIndexed(spark, "t_ivfpq_app", queries, 5)
    val centsHalf = Similarity.trainCentroids(emb.filter(col("vec_id") < 200), 16)
    val booksHalf = Similarity.pqTrainCodebooks(emb.filter(col("vec_id") < 200))
    graft.core.Layout.writeBucketed(centsHalf, "t_ivfpq_ref_centroids", "cell", 1)
    graft.core.Layout.writeBucketed(
      Similarity.assignCells(emb, centsHalf).select(col("vec_id"), col("cell")),
      "t_ivfpq_ref_lists", "cell", 8)
    graft.core.Layout.writeBucketed(booksHalf, "t_ivfpq_ref_codebooks", "cell", 1)
    graft.core.Layout.writeBucketed(
      Similarity.pqEncode(emb, booksHalf), "t_ivfpq_ref_codes", "vec_id", 8)
    val ref = Similarity.ivfPqTopKIndexed(spark, "t_ivfpq_ref", queries, 5)
    assert(rows(got) == rows(ref))
    // mismatched append parameters must throw, not corrupt
    val bad = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") >= 200),
        "t_ivfpq_app", m = 4, dims = 64)
    }
    assert(bad.getMessage.contains("do not match"), bad.getMessage)
  }

  test("embedding near-dups: planted duplicate vector found, pairs canonical") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // plant an exact duplicate of vector 0 under a new id: cos == 1.0
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(90001L).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.union(dup)
    val pairs = Similarity.embeddingNearDups(corpus, threshold = 0.99,
      planes = 3, dims = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 90001L)), s"planted dup not found: $pairs")
    // canonical ordering: every pair has id_a < id_b, no self-pairs
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("persisted IVF index: search-only path matches inline train-and-search exactly") {
    val emb = Tables.embeddings(spark, sf)
    Similarity.buildIvfIndex(emb, "t_ivf_idx", centroids = 16)
    val indexed = Similarity.ivfTopKIndexed(spark, "t_ivf_idx",
      Seq(0L, 1L, 2L), 10, nProbe = 6)
    val inline = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 10,
      centroids = 16, nProbe = 6)
    assert(rows(indexed) == rows(inline))
    assert(rows(indexed).nonEmpty)
    // plan proof of the lifecycle: the hot path contains NO training or
    // corpus-wide assignment stage — no Lloyd mean (posexplode +
    // collect_list), just scans of the persisted index tables
    val plan = indexed.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("collect_list"), "re-train stage in search plan")
    assert(!plan.contains("posexplode"), "re-train stage in search plan")
    assert(plan.contains("t_ivf_idx_lists"), plan)
    assert(plan.contains("t_ivf_idx_centroids"), plan)
  }

  test("persisted LSH index: search-only path matches inline bucketing, computes zero buckets") {
    val emb = Tables.embeddings(spark, sf)
    Similarity.buildLshIndex(emb, "t_lsh_idx", planes = 4, dims = 64)
    val indexed = Similarity.annTopKIndexed(spark, "t_lsh_idx",
      Seq(0L, 1L, 2L), 10)
    val inline = Similarity.annTopK(emb, Seq(0L, 1L, 2L), 10,
      planes = 4, dims = 64)
    assert(rows(indexed) == rows(inline))
    assert(rows(indexed).nonEmpty)
    val plan = indexed.queryExecution.executedPlan.toString.toLowerCase
    assert(!plan.contains("lshbuckets"), "re-bucketing stage in search plan")
    assert(plan.contains("t_lsh_idx_buckets"), plan)
  }

  test("plan guard: inline LSH paths never re-bucket the corpus") {
    val emb = Tables.embeddings(spark, sf)
    // t_ann_lsh inline: exactly TWO LshBuckets sites — one full-corpus
    // evaluation plus one over the isin-filtered (bounded) query rows;
    // any third site means a plan branch re-bucketing the corpus
    val ann = Similarity.annTopK(emb, Seq(0L, 1L), 5, planes = 4, dims = 64)
    val annCount = "lshbuckets".r
      .findAllIn(ann.queryExecution.executedPlan.toString.toLowerCase).length
    assert(annCount == 2,
      s"expected 2 LshBuckets sites (corpus + bounded query side), got $annCount")
    // t_embed_neardup: buckets come from ONE checkpointed evaluation —
    // the consuming plan must contain zero LshBuckets expressions
    val nd = Similarity.embeddingNearDups(emb, 0.25, planes = 7, dims = 64)
    val ndCount = "lshbuckets".r
      .findAllIn(nd.queryExecution.executedPlan.toString.toLowerCase).length
    assert(ndCount == 0, s"re-bucketing leaked into the near-dup plan: $ndCount sites")
  }

  test("incremental ANN append: delta-only maintenance matches frozen-quantizer reference") {
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    val n = emb.count()
    // LSH: appended index must be bit-identical to inline full bucketing
    Similarity.buildLshIndex(first, "t_lsh_app", planes = 4, dims = 64)
    Similarity.appendToLshIndex(rest, "t_lsh_app", planes = 4, dims = 64)
    val appended = Similarity.annTopKIndexed(spark, "t_lsh_app", Seq(0L, 1L, 2L), 5)
    val inline = Similarity.annTopK(emb, Seq(0L, 1L, 2L), 5, planes = 4, dims = 64)
    assert(rows(appended) == rows(inline))
    assert(rows(appended).nonEmpty)
    // IVF: frozen half-trained quantizer; appended index search equals
    // assign-everything-at-once under the same quantizer
    Similarity.buildIvfIndex(first, "t_ivf_app", centroids = 8)
    Similarity.appendToIvfIndex(rest, "t_ivf_app")
    assert(spark.table("t_ivf_app_lists").count() == n,
      "append must add exactly the delta to the inverted lists")
    val cents = Similarity.trainCentroids(first, 8)
    val ref = Similarity.searchAssigned(Similarity.assignCells(emb, cents), cents,
      Seq(0L, 1L, 2L), 5, nProbe = 4)
    val got = Similarity.ivfTopKIndexed(spark, "t_ivf_app", Seq(0L, 1L, 2L), 5, nProbe = 4)
    assert(rows(got) == rows(ref))
    // maintenance plan reads the delta + broadcast centroids only — the
    // existing lists are never rescanned at append time
    val appendPlan = Similarity.assignCells(rest,
      spark.table("t_ivf_app_centroids")).queryExecution.executedPlan.toString
    assert(!appendPlan.contains("t_ivf_app_lists"), appendPlan)
    // build parameters are recorded and enforced: an append under a
    // different table count would silently mis-bucket — it must throw
    val bad = intercept[IllegalArgumentException] {
      Similarity.appendToLshIndex(rest, "t_lsh_app", planes = 4, dims = 64,
        tables = 16)
    }
    assert(bad.getMessage.contains("do not match"), bad.getMessage)
  }

  test("PQ exact rerank: recall never below raw ADC, full window degenerates to exact brute force") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = (0L until 10L).toSeq
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.topKByIds(emb, ids, 10))
    val adc = pairs(Similarity.pqTopK(emb, ids, 10))
    val rr = pairs(Similarity.pqTopKReranked(emb, ids, 10, rerank = 40))
    def recall(s: Set[(Long, Long)]) =
      (exact intersect s).size.toDouble / exact.size
    assert(recall(rr) >= recall(adc),
      s"rerank lost recall: ${recall(rr)} < ${recall(adc)}")
    // window = whole corpus → the ADC stage prunes nothing and the
    // exact rerank IS brute force: identical (query, neighbor, rank)
    val n = emb.count().toInt
    val full = Similarity.pqTopKReranked(emb, ids, 10, rerank = n)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val brute = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(full == brute, "full-window rerank must equal exact top-k")
    // the window contract is enforced, not silently truncated
    val bad = intercept[IllegalArgumentException] {
      Similarity.pqTopKReranked(emb, ids, 10, rerank = 5)
    }
    assert(bad.getMessage.contains("must cover"), bad.getMessage)
  }

  test("IVF×PQ exact rerank: recall >= raw composite; indexed path matches inline bit for bit") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val ids = (0L until 10L).toSeq
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = pairs(Similarity.topKByIds(emb, ids, 10))
    val raw = pairs(Similarity.ivfPqTopK(emb, ids, 10))
    val rr = pairs(Similarity.ivfPqTopKReranked(emb, ids, 10, rerank = 40))
    def recall(s: Set[(Long, Long)]) =
      (exact intersect s).size.toDouble / exact.size
    assert(recall(rr) >= recall(raw),
      s"rerank lost recall: ${recall(rr)} < ${recall(raw)}")
    // the indexed production path (same deterministic quantizers,
    // persisted) reranks to the identical result set
    val name = "graft_ivfpq_rr_test"
    Similarity.buildIvfPqIndex(emb, name, centroids = 16, m = 8,
      codebookSize = 16, dims = 64)
    val inline = Similarity.ivfPqTopKReranked(emb, ids, 10, rerank = 40)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val indexed = Similarity.ivfPqTopKRerankedIndexed(spark, name,
        emb.filter(col("vec_id") < 10), emb, kNn = 10, rerank = 40)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(indexed == inline, "indexed rerank must equal inline rerank")
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKReranked(emb, ids, 10, rerank = 5)
    }
  }

  test("ANN drift: build writes a baseline, in-distribution delta is quiet, shifted delta trips the trigger") {
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    Similarity.buildIvfPqIndex(first, "t_drift_idx", centroids = 8)
    // build persisted both quantizers' error baselines
    assert(spark.table("t_drift_idx_drift")
      .select("metric").collect().map(_.getString(0)).toSet ==
      Set("ivf_assign", "pq_residual"))
    // an in-distribution delta (the held-out half of the same corpus)
    // stays within the trigger — the strict append accepts it
    val d = Similarity.indexDrift(spark, "t_drift_idx", rest)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(d.keySet == Set("ivf_assign", "pq_residual"))
    assert(d.values.forall(_ < Similarity.DefaultMaxDriftRatio),
      s"in-distribution delta reads as drifted: $d")
    Similarity.appendToIvfPqIndex(rest, "t_drift_idx", strictDrift = true)
    // an out-of-distribution delta (vectors shoved far off the build
    // manifold) blows past the trigger; the strict append REFUSES
    // before mutating the index
    val shifted = rest.withColumn("embedding",
      transform(col("embedding"), x => (x * lit(-1.0) + lit(9.0)).cast("float")))
    val codesBefore = spark.table("t_drift_idx_codes").count()
    val e = intercept[IllegalStateException] {
      Similarity.appendToIvfPqIndex(shifted, "t_drift_idx", strictDrift = true)
    }
    assert(e.getMessage.contains("re-train + rebuild"), e.getMessage)
    assert(spark.table("t_drift_idx_codes").count() == codesBefore,
      "strict drift refusal must not mutate the index")
    // the measured ratios say WHICH quantizer no longer fits
    val shiftedDrift = Similarity.indexDrift(spark, "t_drift_idx", shifted)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(shiftedDrift("pq_residual") > Similarity.DefaultMaxDriftRatio,
      s"shifted delta should trip: $shiftedDrift")
    // an index with no trained state has no drift story — contract error
    val noBase = intercept[IllegalArgumentException] {
      Similarity.indexDrift(spark, "t_no_such_index", rest)
    }
    assert(noBase.getMessage.contains("drift baseline"), noBase.getMessage)
  }

  test("maintainIndex: in-bounds delta appends, drifted delta re-trains and rebuilds") {
    val emb = Tables.embeddings(spark, sf)
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    Similarity.buildIvfPqIndex(first, "t_maint_idx", centroids = 8)
    val centsBefore = spark.table("t_maint_idx_centroids").collect().toSet
    // in-distribution delta: APPENDED under the frozen quantizers
    val r1 = Similarity.maintainIndex(spark, "t_maint_idx", first, rest)
    assert(r1.action == "appended" && r1.kind == "ivfpq", r1)
    assert(r1.maxMeanRatio <= Similarity.DefaultMaxDriftRatio, r1)
    assert(spark.table("t_maint_idx_codes").select("vec_id").distinct().count()
      == emb.count())
    assert(spark.table("t_maint_idx_centroids").collect().toSet == centsBefore,
      "append must not touch the trained quantizer")
    // out-of-distribution delta (distinct ids): REBUILT — re-trained over
    // indexed ∪ delta with the _meta build parameters
    val shifted = rest
      .withColumn("vec_id", col("vec_id") + lit(100000L))
      .withColumn("embedding",
        transform(col("embedding"), x => (x * lit(-1.0) + lit(9.0)).cast("float")))
    val r2 = Similarity.maintainIndex(spark, "t_maint_idx", emb, shifted)
    assert(r2.action == "rebuilt" && r2.kind == "ivfpq", r2)
    assert(r2.maxMeanRatio > Similarity.DefaultMaxDriftRatio, r2)
    assert(spark.table("t_maint_idx_codes").select("vec_id").distinct().count()
      == emb.count() + shifted.count(), "rebuild must index indexed ∪ delta")
    assert(spark.table("t_maint_idx_centroids").collect().toSet != centsBefore,
      "rebuild must re-train the quantizer")
    // the rebuild brought the formerly-drifting data back in
    // distribution: its drift against the NEW baseline is in-bounds
    val post = Similarity.indexDrift(spark, "t_maint_idx", shifted)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(post.values.forall(_ <= Similarity.DefaultMaxDriftRatio),
      s"post-rebuild drift should be quiet: $post")
    // and search over the rebuilt index stays green across both regions
    val hits = Similarity.ivfPqTopKIndexed(spark, "t_maint_idx",
      emb.filter(col("vec_id") < 2), kNn = 5)
    assert(hits.groupBy("query_id").count().collect()
      .forall(_.getLong(1) == 5L))
    // contract errors: no trained state (LSH/unbuilt), bogus ratio
    assert(intercept[IllegalArgumentException] {
      Similarity.maintainIndex(spark, "t_no_such_index2", emb, rest)
    }.getMessage.contains("no trained quantizer"))
    assert(intercept[IllegalArgumentException] {
      Similarity.maintainIndex(spark, "t_maint_idx", emb, rest,
        maxDriftRatio = 0.0)
    }.getMessage.contains("positive finite"))
  }

  test("containment: planted quote found one-directionally, hot-hash cap drops boilerplate") {
    import spark.implicits._
    // B = the first 15 words of A: every B-shingle appears in A
    // (containment 13/13 = 1.0) but A is NOT contained in B (13/38);
    // Jaccard 13/38 ≈ 0.34 — far below any near-dup cut, exactly the
    // pair the LSH pipeline is blind to
    val aw = (1 to 40).map(i => s"cw$i")
    val a = aw.mkString(" ")
    val b = aw.take(15).mkString(" ")
    val docs = Seq((1L, a), (2L, b),
      (3L, "entirely unrelated text about catalyst rules and codegen"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, num = 9)
      .select("doc_id", "container_id", "inter", "n_grams")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 1L, 13L, 13L)), s"got $got")
    // identical docs are mutually contained — both directions emitted
    val twins = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val both = Dedup.containmentPairs(twins)
      .select("doc_id", "container_id").as[(Long, Long)].collect().toSet
    assert(both == Set((1L, 2L), (2L, 1L)), both)
    // the hot-hash cap: with maxDf = 2, shingles shared by all three
    // copies leave the universe and the pair set empties (disclosed
    // drop, not a silent n² join)
    val spam = Seq((1L, a), (2L, a), (3L, a)).toDF("doc_id", "text")
    assert(Dedup.containmentPairs(spam, maxDf = 2).count() == 0)
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(docs, num = 11))
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(docs, maxDf = 1))
  }

  test("near-dup clustering: transitive chain collapses to one representative") {
    import spark.implicits._
    // A~B and B~C clear the 8/10 Jaccard cut; A–C does not (changing one
    // MIDDLE word of 40 flips 3 shingles: 35/41 ≈ 0.85 per hop, 32/44 ≈
    // 0.73 across two hops) — only transitive closure joins all three.
    val words = (1 to 40).map(i => s"w$i").toArray
    val a = words.mkString(" ")
    val bw = words.clone(); bw(19) = "zz"
    val b = bw.mkString(" ")
    val cw = bw.clone(); cw(29) = "yy"
    val c = cw.mkString(" ")
    val docs = Seq(
      (10L, a), (11L, b), (12L, c),
      (20L, "totally different text about catalyst optimizer rules and plans"))
      .toDF("doc_id", "text")
    val edges = Dedup.nearDupPairs(docs)
      .filter(col("inter") * 10 >= col("uni") * 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(edges.contains((10L, 11L)) && edges.contains((11L, 12L)), s"edges=$edges")
    assert(!edges.contains((10L, 12L)), s"A-C must be below the cut: $edges")

    val labels = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L), labels)

    val kept = Dedup.dedupedCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 20L), s"kept=$kept")
    val keep = Dedup.keepList(Dedup.nearDupClusters(docs))
      .as[(Long, Long)].collect().toMap
    assert(keep == Map(10L -> 3L, 20L -> 1L), keep)
  }

  test("near-dup clustering converges over a 5-hop chain (multi-round propagation)") {
    import spark.implicits._
    // d1..d5: each hop changes one more distinct word position; adjacent
    // Jaccard ≈ 55/61 ≈ 0.90 (above the cut), d1-vs-d5 ≈ 46/70 ≈ 0.66
    // (below) — the min label must walk 4 propagation rounds to reach d5.
    val base = (1 to 60).map(i => s"w$i").toArray
    def doc(changed: Int): String = {
      val ws = base.clone()
      (0 until changed).foreach(k => ws(5 + 10 * k) = s"x$k")
      ws.mkString(" ")
    }
    val docs = (0 until 5).map(k => (100L + k, doc(k))).toDF("doc_id", "text")
    val labels = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(100L), s"chain not one cluster: $labels")
  }

  test("clusterLabels discloses non-convergence (strict throws; default warns, returns partial)") {
    import spark.implicits._
    // a 5-node path needs 4 propagation rounds; maxRounds=1 cannot finish
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val ex = intercept[IllegalStateException] {
      Dedup.clusterLabels(nodes, edges, maxRounds = 1, strict = true)
    }
    assert(ex.getMessage.contains("UNCONVERGED"), ex.getMessage)
    // default: partial labels come back (logged, not thrown) — complete
    // node set, but the far end of the chain not yet at the min label
    val partial = Dedup.clusterLabels(nodes, edges, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(partial(5L) != 1L, s"one round cannot reach node 5: $partial")
    // enough rounds: converges to the component minimum everywhere
    val full = Dedup.clusterLabels(nodes, edges).as[(Long, Long)].collect().toMap
    assert(full.values.toSet == Set(1L), full)
  }

  test("clusterLabelsStar closes a diameter-64 path in O(log n) rounds and matches plain propagation") {
    import spark.implicits._
    // a 65-node path (diameter 64): plain propagation needs 64 rounds;
    // the alternating star rewriting must finish within 10 (≈ log₂ 65
    // plus slack) — strict=true makes a slow fixpoint FAIL, not warn.
    // Node ids deliberately not in path order (i*7 mod 65 walk), so the
    // min label is in the middle of the path, not at an end.
    val ids = (0 until 65).map(i => (i * 7L) % 65L)
    val nodes = (ids :+ 1000L).toDF("id") // plus one isolated node
    val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val star = Dedup.clusterLabelsStar(nodes, edges, maxRounds = 10,
      strict = true).as[(Long, Long)].collect().toMap
    assert(star(1000L) == 1000L, s"isolated node must self-label: $star")
    assert((star - 1000L).values.toSet == Set(0L),
      s"path must collapse to min id 0: $star")
    // both algorithms are exact transitive closures — identical labels
    val plain = Dedup.clusterLabels(nodes, edges, maxRounds = 70,
      strict = true).as[(Long, Long)].collect().toMap
    assert(star == plain)
    // plain propagation at 10 rounds genuinely CANNOT close this graph
    // (the star variant is not just matching an easy fixture)
    intercept[IllegalStateException] {
      Dedup.clusterLabels(nodes, edges, maxRounds = 10, strict = true)
    }
    // strict star non-convergence discloses too
    val ex = intercept[IllegalStateException] {
      Dedup.clusterLabelsStar(nodes, edges, maxRounds = 1, strict = true)
    }
    assert(ex.getMessage.contains("UNCONVERGED"), ex.getMessage)
  }

  test("cluster convergence probes are exact: string-id chains reach the full closure in both algorithms") {
    import spark.implicits._
    // ADVICE r16 (high): the old convergence probes summed ids/labels
    // as decimal(38,0) — for STRING ids the casts null out, every round
    // compared NULL == NULL (star: count-only), and a 5-node chain was
    // declared converged after one round with SPLIT labels. The probes
    // are now exact set comparisons; both algorithms must reach the
    // true component minimum on a string-keyed chain.
    val sids = Seq("e", "d", "c", "b", "a") // chain e–d–c–b–a, min "a"
    val snodes = (sids :+ "zz").toDF("id") // plus one isolated node
    val sedges = sids.sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val star = Dedup.clusterLabelsStar(snodes, sedges, maxRounds = 10,
      strict = true).as[(String, String)].collect().toMap
    assert(star("zz") == "zz", s"isolated node must self-label: $star")
    assert((star - "zz").values.toSet == Set("a"),
      s"string chain must collapse to 'a': $star")
    val plain = Dedup.clusterLabels(snodes, sedges, maxRounds = 10,
      strict = true).as[(String, String)].collect().toMap
    assert(star == plain, s"star $star != plain $plain")
  }

  test("stripBoilerplateLines: DF threshold drops every banner copy, keeps low-DF quotes, exempts small domains") {
    import spark.implicits._
    // domain A (5 docs ≥ minDomainDocs): 'NAV BAR' in all 5 (1000‰ →
    // stripped everywhere, FIRST copy included — the case dedupLines
    // gets wrong), 'a quote' in 2 of 5 (400‰ < 500 → kept in both);
    // domain B (3 docs < minDomainDocs): its universal line is EXEMPT.
    val a = (1 to 5).map(i =>
      (i.toLong, s"NAV BAR\nbody $i" +
        (if (i <= 2) "\na quote" else ""), "A"))
    val b = (6 to 8).map(i => (i.toLong, s"FOOTER B\nown $i", "B"))
    val out = Dedup.stripBoilerplateLines(
        (a ++ b).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("body 1\na quote", 3L, 2L)), out(1L))
    assert(out(3L) == (("body 3", 2L, 1L)), out(3L))
    assert(out(7L) == (("FOOTER B\nown 7", 2L, 2L)), out(7L))
    // an all-boilerplate doc keeps an empty clean_text, never vanishes
    val solo = Dedup.stripBoilerplateLines(
        ((1 to 4).map(i => (i.toLong, "ONLY BANNER", "C")) :+
          ((5L, "ONLY BANNER\nreal", "C"))).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(solo(1L) == "" && solo(5L) == "real", solo)
  }

  test("winnowFingerprints: match guarantee, small-doc window, rightmost tie, density") {
    import spark.implicits._
    val k = 4; val w = 5
    // (1) GUARANTEE: two docs sharing a (w+k-1)=8-word run share at
    // least one fingerprint, whatever their surroundings
    val shared = "q1 q2 q3 q4 q5 q6 q7 q8"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $shared eps zeta"),
      (2L, s"$shared omega psi chi phi upsilon tau")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(docs, k, w)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val common = fps.collect { case (1L, f) => f } intersect
      fps.collect { case (2L, f) => f }
    assert(common.nonEmpty, s"8-word match must share a fingerprint: $fps")
    // (2) fewer than k words → nothing; k..k+w-2 words → exactly the
    // global minimum gram (one window over what exists)
    val tiny = Seq((3L, "only two words here map"), (4L, "a b"))
      .toDF("doc_id", "text")
    val tf = Dedup.winnowFingerprints(tiny, k, w).collect()
    assert(tf.count(_.getLong(0) == 4L) == 0, tf.mkString(","))
    assert(tf.count(_.getLong(0) == 3L) == 1,
      s"5 words = 2 grams < w → one global-min fp: ${tf.mkString(",")}")
    // (3) RIGHTMOST tie: 'x y x y x y x y x y' with k=4 gives grams
    // 'x y x y'/'y x y x' alternating at positions 1..7; one w=7
    // window → the selected position must be the LAST position of
    // whichever gram hashes lower
    val alt = Seq((5L, "x y x y x y x y x y")).toDF("doc_id", "text")
    val sel = Dedup.winnowFingerprints(alt, k = 4, w = 7).collect()
    assert(sel.length == 1, sel.mkString(","))
    val hx = spark.range(1).select(
        graft.functions.polyFingerprint64(lit("x y x y")),
        graft.functions.polyFingerprint64(lit("y x y x")))
      .head
    val expectedPos = if (hx.getLong(0) <= hx.getLong(1)) 7L else 6L
    assert(sel.head.getLong(1) == expectedPos,
      s"tie must pick the rightmost min: ${sel.head} (hashes $hx)")
    // (4) density: selected fingerprints are a strict subset of grams
    val big = Tables.documents(spark, sf).filter(col("text").isNotNull)
    val nGrams = big.select(greatest(size(split(col("text"), " ")) - (k - 1),
      lit(0)).cast("long").as("g")).agg(sum("g")).head.getLong(0)
    val nSel = Dedup.winnowFingerprints(big, k, w).count()
    assert(nSel > 0 && nSel < nGrams,
      s"winnowing must thin the gram set: $nSel of $nGrams")
    // (5) the fused native pass ≡ the declarative HOF spec — on the
    // whole corpus AND the edge fixtures (multi-space empty words,
    // sub-window docs, the tie fixture)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(Dedup.winnowFingerprints(big, k, w)) ==
      rows(Dedup.winnowFingerprintsHof(big, k, w)))
    val edges = Seq((1L, "a  b c  d e f"), (2L, "x y"), (3L, ""),
      (4L, "x y x y x y x y x y")).toDF("doc_id", "text")
    assert(rows(Dedup.winnowFingerprints(edges, k, w)) ==
      rows(Dedup.winnowFingerprintsHof(edges, k, w)))
  }

  test("binary quantization: sign-copy ranks first at hamming 0, packing law, k rows per query") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    // plant an exact copy of vector 0 under a fresh id: it must be
    // query 0's rank-1 neighbor at hamming 0 (identical sign pattern)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head.getSeq[Float](0)
    val planted = emb.unionByName(
      Seq((990001L, v0, -1)).toDF("vec_id", "embedding", "label"))
    val top = Similarity.hammingTopK(planted, Seq(0L), 5).collect()
    assert(top.length == 5)
    val first = top.minBy(_.getLong(3))
    assert(first.getLong(1) == 990001L && first.getLong(2) == 0L,
      s"sign-copy must rank first at hamming 0: ${top.mkString(",")}")
    // packing law on a hand vector: 33 dims, bit i set iff x_i > 0 —
    // word 0 covers dims 1..32, word 1 the 33rd dim
    val hand = Seq((1L, (1 to 33).map(i =>
        if (i == 1 || i == 33) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val b = Similarity.quantizeBinary(hand).head
    assert(b.getLong(2) == 33L)
    val words = b.getSeq[Long](1)
    assert(words == Seq(1L, 1L), s"dims 1 and 33 set: $words")
    // zero-dim vector packs to an empty word array, never errors
    val empty = Similarity.quantizeBinary(
      Seq((2L, Seq.empty[Float])).toDF("vec_id", "embedding")).head
    assert(empty.getSeq[Long](1).isEmpty && empty.getLong(2) == 0L)
  }

  test("dedup chain degrades cleanly: null-text docs are singletons, empty corpus yields empty results") {
    import spark.implicits._
    // null texts: own representative, no band rows, never paired — but
    // present in the cluster output as singletons (they ARE documents)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, null: String), (3L, null: String)).toDF("doc_id", "text")
    val labels = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"null-text docs must not cluster together: $labels")
    assert(Dedup.nearDupPairs(docs).count() == 0)
    val kept = Dedup.dedupedCorpus(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
    // empty corpus: every stage returns empty, no crash
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.nearDupClusters(empty).count() == 0)
    assert(Dedup.nearDupPairs(empty).count() == 0)
    assert(Dedup.dedupedCorpus(empty).count() == 0)
  }

  test("curation flagship: quality gate, dedup keep and deterministic split compose") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"word$i").toArray
    words(0) = "the" // stopword presence; distinct 2-grams → quality 4
    val good = words.mkString(" ")
    val dw = words.clone(); dw(19) = "changed" // 35/41 ≈ 0.85 ≥ 8/10
    val nearDup = dw.mkString(" ")
    val docs = Seq(
      (1L, good), (2L, nearDup), // near-dup pair: only min id survives
      (3L, "x y z")) // 3 tokens, no stopwords, avg len 1 → quality 1, gated out
      .toDF("doc_id", "text")
    val out = graft.ext.Curation.curate(docs)
      .as[(Long, Long, String)].collect()
    assert(out.toSeq == Seq((1L, 4L,
      graft.ext.Sampling.assignSplit(Seq(Tuple1(1L)).toDF("doc_id"),
        col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("split").as[String].head())), s"got ${out.toSeq}")
    // the flagship stays equi-join-only end to end
    val plan = graft.ext.Curation.curate(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("decontamination flags n-gram overlap with the benchmark, honors minOverlap, broadcasts the bench side") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      // two distinct benchmark 3-grams → contaminated at minOverlap 2
      (1L, "alpha beta gamma delta unrelated tail words here"),
      // exactly one benchmark 3-gram → flagged only at minOverlap 1
      (2L, "prefix words alpha beta gamma unrelated suffix"),
      (3L, "completely disjoint vocabulary only clean words"),
      (4L, null.asInstanceOf[String])) // null text: never contaminated
      .toDF("doc_id", "text")

    val at2 = graft.ext.Decontamination.contaminationReport(corpus, bench,
      minOverlap = 2).as[(Long, Long)].collect().toMap
    assert(at2.keySet == Set(1L) && at2(1L) == 2L, s"got $at2")
    val at1 = graft.ext.Decontamination.contaminationReport(corpus, bench)
      .as[(Long, Long)].collect().toMap
    assert(at1.keySet == Set(1L, 2L), s"got $at1")

    val clean = graft.ext.Decontamination.decontaminate(corpus, bench,
      minOverlap = 2).select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L, 4L), s"got $clean")

    // scale posture: the benchmark gram set broadcasts — the corpus side
    // is map-only (no corpus shuffle feeds the gram join)
    val plan = graft.ext.Decontamination.contaminationReport(
      Tables.documents(spark, sf), bench).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("clustering with a reliable checkpoint dir completes and matches the default path") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, sf).limit(80)
    val viaLocal = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    val ckpt = java.nio.file.Files.createTempDirectory("cluster-ckpt").toString
    def hasData(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles()).exists(_.exists(hasData))
    Checkpoints.withDir(sc, ckpt) {
      val clusters = Dedup.nearDupClusters(docs)
      val viaReliable = clusters.as[(Long, Long)].collect().toMap
      assert(viaReliable == viaLocal && viaReliable.nonEmpty)
      // the pins really went to reliable storage: while `clusters` still
      // references its pinned rounds (so the cleaner keeps their files),
      // the dir holds rdd checkpoint data
      assert(hasData(new java.io.File(ckpt)), "no reliable checkpoint written")
      assert(clusters.columns.toSeq == Seq("doc_id", "cluster_id"))
    }
    assert(sc.getCheckpointDir.isEmpty, "the checkpoint dir must not outlive the body")
  }

  test("scale guard: no cartesian product in the round-18 corpus-join plans") {
    // the eval/gate/code-prep additions whose joins are corpus-sized
    // (the BLEU/chrF/κ/α stat-attachment crossJoins are 1-row
    // aggregates by construction and are not in scope here)
    val qs = Seq("w_eval_report", "t_eval_rouge_l", "t_gate_probe_batch",
      "t_code_prep", "t_bpe_bytes_tokenize", "t_unigram_bytes_tokenize",
      "t_nb_langid_persisted", "t_code_switch_persisted",
      "t_lang_mix_persisted", "t_domain_lang_mix_persisted",
      // the IR-eval/calibration wave (t_lsh_recall_audit's 1-row stat
      // crossJoins are out of scope by the same convention)
      "t_qrels", "t_rank_eval", "t_ir_report", "t_eval_rouge_n",
      "t_roc_auc", "t_roc_auc_by", "t_margin_reliability", "t_mcnemar",
      "t_accuracy_ci", "t_rank_tau", "t_rank_rbp")
    qs.foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("scale guard: no cartesian product in LSH candidate plans") {
    val docs = Tables.documents(spark, sf)
    val plan = Dedup.lshCandidates(Dedup.features(docs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val emb = Tables.embeddings(spark, sf)
    val annPlan = Similarity
      .annTopK(emb, Seq(0L), 5, planes = 3, dims = 64)
      .queryExecution.executedPlan.toString
    assert(!annPlan.contains("CartesianProduct"), annPlan)
  }

  test("multimodal: batched feature extraction matches column metadata") {
    val media = Multimodal.asMedia(Tables.documents(spark, sf), "doc_id", "text")
    val viaPartitions = Multimodal.extractFeatures(media, batchSize = 16)
    val viaColumns = Multimodal.metadata(media)
    // identical values through both code paths (mapPartitions stub vs
    // pure-expression path)
    assert(rows(viaPartitions) == rows(viaColumns))
    assert(viaPartitions.schema == Multimodal.featureSchema)
  }

  test("multimodal: null payload tolerated identically by both code paths") {
    import spark.implicits._
    val media = Seq((1L, "text/plain", null: Array[Byte], 0L))
      .toDF("media_id", "media_type", "payload", "n_bytes")
    val out = Multimodal.extractFeatures(media).collect()
    assert(out.length == 1 && out.head.getString(2).nonEmpty) // md5 of empty
    // the column-only path must agree with the batch extractor on nulls
    assert(rows(Multimodal.metadata(media)) ==
      rows(Multimodal.extractFeatures(media)))
  }

  test("multimodal: real PNG/BMP payloads decode true dimensions via javax.imageio") {
    import spark.implicits._
    def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => (0 until h).foreach(y =>
        img.setRGB(x, y, (x * 31 + y) & 0xffffff)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val media = Seq(
      (1L, "image/png", imageBytes("png", 17, 9)),
      (2L, "image/bmp", imageBytes("bmp", 5, 23)),
      (3L, "image/png", "not an image at all".getBytes("UTF-8")),
      (4L, "audio/wav", "no codec shipped".getBytes("UTF-8")))
      .toDF("media_id", "media_type", "payload")
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
    val out = Multimodal.extractFeatures(media)
      .select("media_id", "width", "height", "n_frames")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 17L, 9L, 1L)))
    assert(out(2L) == ((2L, 5L, 23L, 1L)))
    // undecodable image bytes fall back to the deterministic stub
    val stub3 = Multimodal.decodeStub("not an image at all".getBytes("UTF-8"))
    assert(out(3L) == ((3L, stub3._1, stub3._2, stub3._3)))
    // non-image media types use the stub (no JDK codec)
    val stub4 = Multimodal.decodeStub("no codec shipped".getBytes("UTF-8"))
    assert(out(4L) == ((4L, stub4._1, stub4._2, stub4._3)))
  }

  test("multimodal exact dedup: byte-identical payloads group, null and empty payloads share one group") {
    import spark.implicits._
    val media = Seq(
      (1L, "abc".getBytes("UTF-8")),
      (2L, "abc".getBytes("UTF-8")),
      (3L, "xyz".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]]),
      (5L, Array.empty[Byte]))
      .toDF("media_id", "payload")
    val g = Multimodal.exactDupGroups(media)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(g == Set((1L, 2L), (3L, 1L), (4L, 2L)), g)
  }

  test("perceptual media near-dup: a re-encoded image groups with its original, distinct images stay apart") {
    import spark.implicits._
    // two VISUALLY distinct images: a left-to-right ramp (every dHash
    // gradient bit 1) and its reverse (every bit 0) → Hamming 64
    def ramp(reverse: Boolean): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        40, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 40).foreach { x =>
        val v = if (reverse) 255 - x * 6 else x * 6
        (0 until 24).foreach(y => img.setRGB(x, y, v << 16 | v << 8 | v))
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val a = ramp(reverse = false)
    val pngA = enc(a, "png")
    val bmpA = enc(a, "bmp") // same raster, DIFFERENT bytes
    val pngB = enc(ramp(reverse = true), "png")
    assert(!java.util.Arrays.equals(pngA, bmpA),
      "re-encode must actually change the bytes")
    val media = Seq(
      (1L, "image/png", pngA),
      (2L, "image/bmp", bmpA),
      (3L, "image/png", pngB))
      .toDF("media_id", "media_type", "payload")
    // byte-exact dedup CANNOT see the re-encode...
    val exact = Multimodal.exactDupGroups(media)
      .filter(col("n_copies") > 1).count()
    assert(exact == 0L, "distinct bytes must not group byte-exactly")
    // ...the perceptual path must: lossless re-encode → same raster →
    // identical dHash → Hamming 0
    val pairs = Multimodal.nearDupMediaPairs(media)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)), pairs)
    val groups = Multimodal.nearDupMediaGroups(media)
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 3L), groups)
  }

  test("perceptual media near-dup: stub arithmetic agrees across column, byte, and mapPartitions paths") {
    import spark.implicits._
    val media = Multimodal.asMedia(
      Tables.documents(spark, sf).limit(50), "doc_id", "text")
    // non-image media: the batched path must equal the pure-expression
    // path bit for bit (the metadata/extractFeatures law)
    assert(rows(Multimodal.dHashFeatures(media, batchSize = 16)) ==
      rows(Multimodal.dHash(media)))
    // and both equal the reference byte computation
    val viaBytes = Multimodal.dHashStubBytes("spark graft".getBytes("UTF-8"))
    val viaCol = Multimodal.dHash(
      Seq((1L, "text/plain", "spark graft".getBytes("UTF-8")))
        .toDF("media_id", "media_type", "payload"))
      .select("dhash").as[Long].head()
    assert(viaBytes == viaCol)
    // signatures use high bits (>= 2^32) so all 8 Hamming blocks carry
    // real content — the banding has selectivity in every block
    assert(viaBytes > (1L << 32), viaBytes.toString)
  }

  test("raw-byte fingerprint: binary polyhash equals string polyhash on text, differs from cast on non-UTF-8") {
    import spark.implicits._
    val df = Seq("plain ascii text", "unicode ÿ é").toDF("s")
    val both = df.select(
      graft.functions.polyFingerprint(col("s")).as("str"),
      graft.functions.polyFingerprint(col("s").cast("binary")).as("bin"))
    assert(both.filter(col("str") =!= col("bin")).count() == 0)
    // a non-UTF-8 byte sequence: raw-byte hash matches decodeStub's
    // accumulator; a string-cast hash would see replacement chars
    val raw = Array[Byte](0x00, -1, -2, 0x41)
    val viaExpr = Seq(Tuple1(raw)).toDF("b")
      .select(graft.functions.polyFingerprint(col("b")).as("fp"))
      .collect().head.getLong(0)
    assert(viaExpr % 1280 == Multimodal.decodeStub(raw)._1)
    assert(viaExpr % 720 == Multimodal.decodeStub(raw)._2)
  }

  test("deterministic split: complete partition, stable under repartitioning, leakage-safe by content key") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val assigned = graft.ext.Sampling.assignSplit(docs, col("doc_id"), w)
    // complete partition: every row exactly one split, fractions sane
    val counts = assigned.groupBy("split").count().as[(String, Long)]
      .collect().toMap
    assert(counts.values.sum == docs.count())
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // stability: a different physical partitioning yields identical splits
    val repart = graft.ext.Sampling.assignSplit(docs.repartition(17), col("doc_id"), w)
    assert(rows(assigned.select("doc_id", "split")) ==
      rows(repart.select("doc_id", "split")))
    // leakage safety: keying by CONTENT fingerprint puts an exact dup of
    // doc 0 (planted under a new id) in the same split as the original
    val dup = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(90001L))
    val byContent = graft.ext.Sampling.assignSplit(
      docs.union(dup), graft.functions.polyFingerprint(col("text")), w)
    val splits = byContent.filter(col("doc_id").isin(0L, 90001L))
      .select("split").as[String].collect().toSet
    assert(splits.size == 1, s"dup straddled splits: $splits")
    // sampleByKey is a subset consistent with the bucket cut
    val s25 = graft.ext.Sampling.sampleByKey(docs, col("doc_id"), 0.25)
    assert(s25.count() > 0 && s25.count() < docs.count())
    // null keys hash like "" (bucket 0): a 100% sample keeps them and
    // assignSplit gives them the FIRST split deterministically
    val withNull = Seq((1L, "x"), (2L, null: String)).toDF("doc_id", "text")
    assert(graft.ext.Sampling.sampleByKey(withNull, col("text"), 1.0).count() == 2)
    val nullSplit = graft.ext.Sampling.assignSplit(withNull, col("text"), w)
      .filter(col("doc_id") === 2).select("split").as[String].collect().head
    assert(nullSplit == "train")
  }

  test("epoch shuffle: dense gap-free coordinates, epoch-independent permutations, repartition-stable, balanced shards") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
    val n = docs.count()
    val e0 = graft.ext.Sampling.epochShuffle(docs, col("doc_id"), 0, 8)
    // complete: every doc exactly one coordinate, all 8 shards hit
    assert(e0.count() == n)
    assert(e0.select("shard").distinct().count() == 8)
    // dense gap-free positions: per shard, max(pos) == count-1 and
    // positions are distinct (0..n_i-1)
    val perShard = e0.groupBy("shard")
      .agg(count(lit(1)).as("c"), max("pos").as("m"),
        countDistinct("pos").as("d"))
      .as[(Long, Long, Long, Long)].collect()
    perShard.foreach { case (sh, c, m, d) =>
      assert(m == c - 1 && d == c, s"shard $sh positions not dense: c=$c m=$m d=$d")
    }
    // hash-uniform balance: no shard more than 2x the smallest
    val sizes = perShard.map(_._2)
    assert(sizes.max < 2 * sizes.min, s"shards unbalanced: ${sizes.toSeq}")
    // a different epoch is a genuinely different permutation
    val e1 = graft.ext.Sampling.epochShuffle(docs, col("doc_id"), 1, 8)
    val moved = e0.select(col("doc_id"), col("shard").as("s0"), col("pos").as("p0"))
      .join(e1.select(col("doc_id"), col("shard").as("s1"), col("pos").as("p1")),
        Seq("doc_id"))
      .filter(col("s0") =!= col("s1") || col("p0") =!= col("p1")).count()
    assert(moved > n / 2, s"epochs 0/1 nearly identical: only $moved of $n moved")
    // determinism: physical partitioning does not change the order
    val repart = graft.ext.Sampling.epochShuffle(
      docs.repartition(17), col("doc_id"), 0, 8)
    assert(rows(e0.select("doc_id", "shard", "pos")) ==
      rows(repart.select("doc_id", "shard", "pos")))
    // plan: the window partitions by shard — no single-partition window
    val plan = e0.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "epoch shuffle must never window over a single partition")
  }

  test("domain mix: integer thresholds, quota tracking on uniform keys, unweighted domains drop, broadcast plan") {
    import spark.implicits._
    // hand-checked thresholds: equal counts, 3:2:1 weights, W=6 →
    // T = min(25·6/3, 25·6/2, 25·6/1) = 50; need = (25, 16, 8);
    // thr = (10000, 6400, 3200)
    val thr = graft.ext.Sampling.domainMixThresholds(
      Map("a" -> 25L, "b" -> 25L, "c" -> 25L),
      Seq("a" -> 3, "b" -> 2, "c" -> 1))
    assert(thr == Map("a" -> 10000L, "b" -> 6400L, "c" -> 3200L), s"got $thr")
    // a weighted domain with no rows fails loudly, never an empty corpus
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.domainMixThresholds(
        Map("a" -> 25L), Seq("a" -> 1, "missing" -> 1))
    }

    // quota tracking on realistic (string, well-spread) keys: A has 2×
    // the rows of B; a 1:1 target halves A and keeps B whole
    val rows = (1 to 2000).map(i => (s"key$i", "A")) ++
      (1 to 1000).map(i => (s"other$i", "B"))
    val df = rows.toDF("k", "domain")
    val mixed = graft.ext.Sampling.mixByDomain(df, col("domain"), col("k"),
      Seq("A" -> 1, "B" -> 1))
    val byDom = mixed.groupBy("domain").count().as[(String, Long)]
      .collect().toMap
    assert(byDom("B") == 1000L, s"full-keep domain resampled: $byDom")
    assert(math.abs(byDom("A") - 1000L) < 100, s"quota off: $byDom")
    // output schema is the input's — the threshold plumbing never leaks
    assert(mixed.columns.toSeq == Seq("k", "domain"))

    // unweighted domains are dropped (share 0 in the target)
    val withC = df.union(Seq(("x1", "C")).toDF("k", "domain"))
    assert(graft.ext.Sampling.mixByDomain(withC, col("domain"), col("k"),
      Seq("A" -> 1, "B" -> 1)).filter(col("domain") === "C").count() == 0)

    // duplicate domain names are rejected loudly (W would double-count)
    intercept[IllegalArgumentException] {
      graft.ext.Sampling.domainMixThresholds(
        Map("a" -> 25L), Seq("a" -> 1, "a" -> 1))
    }

    // the thresholds join broadcasts; the corpus is never shuffled
    val plan = mixed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan)
  }

  test("temperature mix: exact roots, alpha endpoints, smallest domain kept whole, broadcast plan") {
    import spark.implicits._
    // iroot is exact where double pow is not: (2^40)^3 has a 120-bit
    // radicand; the cube root must come back exactly 2^40
    assert(graft.ext.Sampling.iroot(BigInt(2).pow(120), 3) == BigInt(2).pow(40))
    assert(graft.ext.Sampling.iroot(BigInt(2).pow(120) - 1, 3) ==
      BigInt(2).pow(40) - 1, "floor root at a perfect-power boundary")
    // hand-checked thresholds at alpha=1/2: counts (400, 100) →
    // keep = (floor(sqrt(400·100)) = 200, 100); thr = (5000, 10000)
    val thr = graft.ext.Sampling.temperatureMixThresholds(
      Map("a" -> 400L, "b" -> 100L), 1, 2)
    assert(thr == Map("a" -> 5000L, "b" -> 10000L), s"got $thr")
    // alpha = 1 is the identity mixture; alpha = 0 flattens to c_min
    assert(graft.ext.Sampling.temperatureMixThresholds(
      Map("a" -> 400L, "b" -> 100L), 1, 1) ==
      Map("a" -> 10000L, "b" -> 10000L))
    assert(graft.ext.Sampling.temperatureMixThresholds(
      Map("a" -> 400L, "b" -> 100L), 0, 1) ==
      Map("a" -> 2500L, "b" -> 10000L))

    // end-to-end: A has 4× B's rows; alpha=1/2 halves A toward B while
    // B (the smallest domain) keeps every row; null domains drop
    val rows = (1 to 2000).map(i => (s"key$i", "A")) ++
      (1 to 500).map(i => (s"other$i", "B")) :+ (("nul1", null: String))
    val df = rows.toDF("k", "domain")
    val mixed = graft.ext.Sampling.temperatureMix(
      df, col("domain"), col("k"), 1, 2)
    val byDom = mixed.groupBy("domain").count().as[(String, Long)]
      .collect().toMap
    assert(byDom("B") == 500L, s"smallest domain resampled: $byDom")
    assert(math.abs(byDom("A") - 1000L) < 100, s"sqrt quota off: $byDom")
    assert(!byDom.contains(null), "null-domain rows must drop")
    assert(mixed.columns.toSeq == Seq("k", "domain"))
    val plan = mixed.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      plan)
  }

  test("dsir: weights match an independent reimplementation, target-like docs outrank, selection ordered and bounded") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common words here"),
      (2L, "target style text sample"),
      (3L, "common words again common words"),
      (4L, null.asInstanceOf[String]),
      (5L, "target style target style")).toDF("doc_id", "text")
    val target = Seq((100L, "target style text"),
      (101L, "target style sample text")).toDF("doc_id", "text")
    val B = 64

    // independent plain-Scala replay of the whole arithmetic: PolyHash,
    // hashed {1,2}-gram bucketing, add-one models, bin-length log law
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 2147483647L)
    def bitsLen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    def grams(t: String): Seq[Long] = {
      val ws = t.split(" ", -1).toSeq
      (ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .map(g => ph(g) % B)
    }
    val corpusTexts = Map(1L -> "common common words here",
      2L -> "target style text sample",
      3L -> "common words again common words",
      5L -> "target style target style")
    val rawCnt = corpusTexts.values.flatMap(grams).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val tgtCnt = Seq("target style text", "target style sample text")
      .flatMap(grams).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val shift = bitsLen(rawCnt.values.sum + B) - bitsLen(tgtCnt.values.sum + B)
    def expected(t: String): (Long, Long) = {
      val gs = grams(t)
      val gb = gs.map(b => bitsLen(tgtCnt.getOrElse(b, 0L) + 1) -
        bitsLen(rawCnt(b) + 1)).sum
      (gb + gs.size * shift, gs.size.toLong)
    }

    val got = graft.ext.Sampling.dsirWeights(corpus, target, buckets = B)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L), "one row per corpus doc")
    corpusTexts.foreach { case (id, t) =>
      assert(got(id) == expected(t), s"doc $id: got ${got(id)}, want ${expected(t)}")
    }
    assert(got(4L) == ((0L, 0L)), "null text scores 0 with 0 grams")
    // docs made of target vocabulary must outrank corpus-only vocabulary
    assert(got(5L)._1 > got(3L)._1, s"target-like must outrank: $got")
    assert(got(2L)._1 > got(1L)._1, s"target-like must outrank: $got")

    // selection: top-3 by (bits desc, id), ranks 1..3, agrees with weights
    val sel = graft.ext.Sampling.dsirSelect(corpus, target, n = 3, buckets = B)
      .select("doc_id", "dsir_bits", "rank").as[(Long, Long, Long)].collect()
      .sortBy(_._3)
    assert(sel.map(_._3).toSeq == Seq(1L, 2L, 3L))
    val wantOrder = got.toSeq.sortBy { case (id, (b, _)) => (-b, id) }.take(3)
    assert(sel.map(s => (s._1, s._2)).toSeq ==
      wantOrder.map { case (id, (b, _)) => (id, b) }, s"selection disagrees")

    intercept[IllegalArgumentException](
      graft.ext.Sampling.dsirWeights(corpus, target, buckets = 0))
    intercept[IllegalArgumentException](
      graft.ext.Sampling.dsirSelect(corpus, target, n = 0))
  }

  test("quality report: per-signal terms sum to qualityScore, null and spam fire the right rules") {
    import spark.implicits._
    val good = "the " + (1 to 39).map(i => s"word$i").mkString(" ")
    val spam = (1 to 12).map(_ => "spam").mkString(" ") // repetition cut
    val short = "the end"                                // length cut
    val docs = Seq((1L, good), (2L, spam), (3L, short),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val r = graft.ext.TextAnalysis.qualityReport(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    // every row: terms sum to the quality column, and that column
    // equals the standalone qualityScore
    val scores = docs.select(col("doc_id"),
        graft.ext.TextAnalysis.qualityScore(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    r.values.foreach { case (id, len, sw, shape, rep, q) =>
      assert(len + sw + shape + rep == q, s"doc $id terms don't sum")
      assert(q == scores(id), s"doc $id report disagrees with qualityScore")
    }
    assert(r(1L) == ((1L, 1L, 1L, 1L, 1L, 4L)), s"good: ${r(1L)}")
    assert(r(2L)._5 == 0L, "spam must fail the repetition rule")
    assert(r(3L)._2 == 0L && r(3L)._3 == 1L, "short doc fails length, keeps stopword")
    assert(r(4L) == ((4L, 0L, 0L, 0L, 1L, 1L)), s"null text: ${r(4L)}")
  }

  test("bigram surprisal: hand-computed conditional bits, repeated bigrams score low, degenerate docs zero") {
    import spark.implicits._
    // corpus: doc1 "x y x y x y" → bigrams xy×3, yx×2; doc2 "x z" → xz×1
    // V = |{x,y,z,solo}| = 4 (vocab counts every doc, bigrams or not);
    // ctx(x) = 4, ctx(y) = 2
    // bits(xy) = L(8)−L(4) = 1; bits(yx) = L(6)−L(3) = 1; bits(xz) = L(8)−L(2) = 2
    // doc1: surprisal 5, n 5, mean 100; doc2: surprisal 2, n 1, mean 200
    val docs = Seq(
      (1L, "x y x y x y"), (2L, "x z"),
      (3L, "solo"),                       // single token: no bigrams
      (4L, null.asInstanceOf[String]))    // null text
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.bigramSurprisal(docs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((5L, 5L, 100L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, 200L)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L)), "single-token doc must score zero")
    assert(out(4L) == ((0L, 0L, 0L)), "null text must score zero")
    assert(out.size == 4, "one row per input document")
    // the word-order law: repeated-bigram text is conditionally cheaper
    assert(out(1L)._3 < out(2L)._3)
  }

  test("trigram stupid-backoff: seen trigram, bigram backoff, unigram floor — hand-computed bits") {
    import spark.implicits._
    // training corpus "a b c a b c": tri {abc:2, bca:1, cab:1},
    // bi {ab:2, bc:2, ca:1}, uni {a:2, b:2, c:2} → N=6, V=3, N+V=9
    val train = Seq((100L, "a b c a b c")).toDF("doc_id", "text")
    val model = graft.ext.TextAnalysis.trigramModel(train)
    // the model is a closed relation: 3 tri + 3 bi + 3 uni + 1 scalar
    assert(model.count() == 10)
    assert(model.filter($"level" === 0).select("cnt").as[Long].head() == 9L)
    val docs = Seq(
      (1L, "a b c"),   // seen trigram: L(cnt2(ab)=2)−L(cnt3(abc)=2) = 0
      (2L, "a a b"),   // backoff: suffix "a b" seen → L(cnt1(a)·5=10)−L(cnt2(ab)·2=4) = 4−3 = 1
      (3L, "b c b"),   // floor: "c b" unseen → L(9·25=225)−L((cnt1(b)+1)·4=12) = 8−4 = 4
      (4L, "z z z"),   // OOV floor: L(225)−L((0+1)·4=4) = 8−3 = 5
      (5L, "a b"),     // < 3 tokens: zeros
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.trigramScoreWith(docs, model)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0L, 1L, 0L)), s"seen: ${out(1L)}")
    assert(out(2L) == ((1L, 1L, 100L)), s"bigram backoff: ${out(2L)}")
    assert(out(3L) == ((4L, 1L, 400L)), s"unigram floor: ${out(3L)}")
    assert(out(4L) == ((5L, 1L, 500L)), s"OOV floor: ${out(4L)}")
    assert(out(5L) == ((0L, 0L, 0L)) && out(6L) == ((0L, 0L, 0L)))
    assert(out.size == 6, "one row per input document")
    // backoff is monotone in evidence: seen < bigram-hop < unigram < OOV
    assert(out(1L)._3 < out(2L)._3 && out(2L)._3 < out(3L)._3 &&
      out(3L)._3 < out(4L)._3)
    // self-scored convenience: every trigram seen, no backoff fires —
    // "a b c" under its own model: ctx ab=1, abc=1 → 0 bits
    val self = graft.ext.TextAnalysis.trigramSurprisal(
      Seq((1L, "a b c")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].head()
    assert(self == ((1L, 0L, 1L, 0L)), s"self-scored: $self")
  }

  test("self-scored trigram surprisal equals the backoff scorer under the corpus' own model") {
    import spark.implicits._
    // the corpus plus edge texts: null, fewer than 3 words, double and
    // leading spaces (empty words), a trigram repeated in one doc, and
    // multi-byte UTF-8
    val edge = (Fixtures.edgeTexts ++ Seq(null, "x y", "  a b", "p  q r",
        "a b c a b c a b c", "日本 語 テキスト 日本 語 テキスト", "z z z z"))
      .zipWithIndex.map { case (t, i) => (1000000L + i, t) }
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .unionByName(edge.toDF("doc_id", "text"))
    val ta = graft.ext.TextAnalysis
    // the reference: the held-out scorer under a model of the same docs
    val reference = ta.trigramScoreWith(docs, ta.trigramModel(docs))
    val got = ta.trigramSurprisal(docs)
    assert(got.schema == reference.schema)
    assert(got.count() == docs.count())
    assert(got.exceptAll(reference).isEmpty && reference.exceptAll(got).isEmpty)
    // the edge rows are scored, not only the corpus
    val repeated = got.filter($"doc_id" === edge.indexWhere(_._2 == "a b c a b c a b c") + 1000000L)
      .select("n_trigrams").as[Long].head()
    assert(repeated == 7L)
  }

  test("perplexity buckets accept a pluggable scorer (trigram drop-in)") {
    import spark.implicits._
    var u = 0
    val docs = (0 until 6).map { i =>
      val words = Seq.fill(8 - i)("c") ++ (1 to i).map { _ => u += 1; s"u$u" }
      (i.toLong, words.mkString(" "), "A")
    }.toDF("doc_id", "text", "source")
    val viaTri = graft.ext.Curation.perplexityBuckets(docs,
        scorer = graft.ext.TextAnalysis.trigramSurprisal(_))
      .select("doc_id", "mean_bits_x100", "bucket")
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val direct = graft.ext.TextAnalysis.trigramSurprisal(docs)
      .select("doc_id", "mean_bits_x100").as[(Long, Long)].collect().toMap
    assert(viaTri.size == 6)
    // the plugged scorer's scores flow through to the bucket assignment
    viaTri.foreach { case (id, (m, b)) =>
      assert(m == direct(id), s"doc $id: bucket score $m != scorer ${direct(id)}")
      assert(Set("head", "middle", "tail")(b))
    }
  }

  test("char-trigram langId classifies OOV-word text the word-unigram NB cannot") {
    import spark.implicits._
    // two orthographies: language A = runs of a/b, language B = z/y;
    // the held-out docs use WORDS never seen in training — word-level
    // NB has zero evidence (prior fallback), char trigrams carry it
    val labeled = Seq(
      (101L, "aababa abab baba ababab", "A"),
      (102L, "babab ababa aabb bbaa", "A"),
      (103L, "zyzyzy zyzy yzyz zyzyz", "B"),
      (104L, "yzyzy zyzyz zzyy yyzz", "B"))
      .toDF("doc_id", "text", "lang")
    val docs = Seq(
      (1L, "abababab bababa"),  // unseen words, A-shaped trigrams
      (2L, "zyzyzyzy yzyzyz"),  // unseen words, B-shaped trigrams
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ext.TextAnalysis.classifyLangId(docs, labeled)
      .select("doc_id", "pred", "n_tokens")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 3, "one row per input doc")
    assert(out(1L)._2 == "A" && out(1L)._3 > 0, out(1L).toString)
    assert(out(2L)._2 == "B" && out(2L)._3 > 0, out(2L).toString)
    // null text: zero evidence → prior argmin (tie on 2+2 docs → label asc)
    assert(out(3L)._2 == "A" && out(3L)._3 == 0, out(3L).toString)
    // the word-level model really is blind here: zero in-vocab tokens
    val word = graft.ext.TextAnalysis.classifyNaiveBayes(docs, labeled)
      .select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(word(1L) == 0L && word(2L) == 0L,
      "held-out words must be OOV for the word model (the contrast this test pins)")
    // re-encoding law: "the cat" → overlapping trigrams with _ joints
    val enc = docs.sparkSession.range(1).select(
      graft.ext.TextAnalysis.charTrigrams(lit("the cat")).as("g"))
      .head().getString(0)
    assert(enc == "the he_ e_c _ca cat", enc)
  }

  test("ccnet flagship: tail and null-domain docs drop before curation; survivors carry bucket + quality + split") {
    import spark.implicits._
    var u = 0
    // 9 docs, 12 tokens each, strictly increasing surprisal (i unique
    // words) → 3 head / 4 middle / 2 tail per the tercile law; "the"
    // keeps the stopword signal alive
    val aDocs = (0 until 9).map { i =>
      val words = Seq.fill(12 - i)("the") ++ (1 to i).map { _ => u += 1; s"u$u" }
      (i.toLong, words.mkString(" "), "A")
    }
    val nullDoc = Seq((99L, "the quick brown fox jumps over the lazy dog again today", null: String))
    val docs = (aDocs ++ nullDoc).toDF("doc_id", "text", "source")
    val out = graft.ext.Curation.ccnetCurate(docs)
      .select("doc_id", "bucket", "quality", "split")
      .as[(Long, String, Long, String)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.length == byId.size, "one row per surviving doc")
    // null-domain doc has no curve to grade on → dropped with the tail
    assert(!byId.contains(99L), s"null-domain doc must drop: $byId")
    val buckets = graft.ext.Curation.perplexityBuckets(docs)
      .select("doc_id", "bucket").as[(Long, Option[String])].collect().toMap
    out.foreach { case (id, b, q, s) =>
      assert(Set("head", "middle")(b) && buckets(id).contains(b),
        s"doc $id bucket $b")
      assert(q >= 3L, s"doc $id quality $q below the gate")
      assert(Set("train", "val", "test")(s), s"doc $id split $s")
    }
    // every tail doc is absent
    buckets.collect { case (id, Some("tail")) => id }
      .foreach(id => assert(!byId.contains(id), s"tail doc $id leaked"))
    assert(out.nonEmpty, "head/middle quality docs must survive")
  }

  test("perplexity buckets: per-domain terciles, degenerate domains all-head, null domain null bucket") {
    import spark.implicits._
    // domain A: 9 docs of 8 tokens each, doc i carrying i unique words
    // and (8-i) copies of the common word → 9 strictly increasing
    // surprisal scores. n=9: p33 = 3rd smallest, p67 = 7th →
    // 3 head, 4 middle, 2 tail.
    var u = 0
    val aDocs = (0 until 9).map { i =>
      val words = Seq.fill(8 - i)("c") ++ (1 to i).map { _ => u += 1; s"u$u" }
      (i.toLong, words.mkString(" "), "A")
    }
    // domain B: identical docs → p33 == p67 == the one score → all head
    val bDocs = (10 until 13).map(i => (i.toLong, "c c c c", "B"))
    val nullDoc = Seq((99L, "c c", null: String))
    val docs = (aDocs ++ bDocs ++ nullDoc).toDF("doc_id", "text", "source")
    val out = graft.ext.Curation.perplexityBuckets(docs)
      .select("doc_id", "bucket").as[(Long, Option[String])]
      .collect().toMap
    assert(out.size == 13, "one row per input document")
    val aBuckets = (0 until 9).map(i => out(i.toLong).get)
    assert(aBuckets.count(_ == "head") == 3 &&
      aBuckets.count(_ == "middle") == 4 &&
      aBuckets.count(_ == "tail") == 2, s"A terciles wrong: $aBuckets")
    // monotone: head scores below middle below tail
    assert(aBuckets.take(3).forall(_ == "head") &&
      aBuckets.slice(3, 7).forall(_ == "middle") &&
      aBuckets.drop(7).forall(_ == "tail"), s"bucket order wrong: $aBuckets")
    assert((10 until 13).forall(i => out(i.toLong).contains("head")),
      s"degenerate domain must be all head: $out")
    assert(out(99L).isEmpty, "null domain must yield null bucket")
  }

  test("keyword extraction: fixed-point tf-idf ranking, lexicographic ties, runs on TopKPerKey") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana cherry common"),
      (3L, "common common cherry"),
      (4L, null.asInstanceOf[String])) // null text contributes nothing
      .toDF("doc_id", "text")
    val out = TextAnalysis.keywords(docs, k = 2)
      .select("doc_id", "word", "score", "rank")
      .as[(Long, String, Long, Long)].collect().toSet
    // df: apple 1, banana 2, cherry 2, common 3 →
    // d1: apple 2·10⁶/1, banana 10⁶/2; d2: banana == cherry (500000) —
    // the lexicographic tiebreak decides; d3: common 2·10⁶/3, cherry
    assert(out == Set(
      (1L, "apple", 2000000L, 1L), (1L, "banana", 500000L, 2L),
      (2L, "banana", 500000L, 1L), (2L, "cherry", 500000L, 2L),
      (3L, "common", 666666L, 1L), (3L, "cherry", 500000L, 2L)),
      s"got $out")
    // the per-doc top-k is the custom operator, not a window sort of
    // every (doc, term) pair
    val plan = TextAnalysis.keywords(Tables.documents(spark, sf), k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("sequence packing: greedy contiguous fill, group decomposition invariant, no single-task corpus stage") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        when(col("text").isNull, 0)
          .otherwise(size(split(col("text"), " "))).as("toks"))

    def packs(groupWidth: Int): Map[Long, Long] =
      graft.ext.Packing.packSequences(docs, col("doc_id"), col("toks"),
          budget = 128L, groupWidth = groupWidth)
        .select("doc_id", "pack").as[(Long, Long)].collect().toMap

    // reference: naive driver-side cumsum in deterministic bucket order
    val rows = docs.select(col("doc_id"), col("toks"),
        graft.ext.Sampling.bucket(col("doc_id")).as("bkt"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._1))
    var cum = 0L
    val expected = rows.map { case (id, toks, _) =>
      val p = cum / 128L; cum += toks; id -> p
    }.toMap
    val got = packs(groupWidth = 16)
    assert(got == expected, s"packing disagrees with naive cumsum")
    // decomposition invariance: one global group == many small groups
    assert(packs(groupWidth = 10000) == got)
    assert(packs(groupWidth = 1) == got)

    // pack sizes: every pack except possibly each boundary doc's is
    // budget-bounded — total tokens before a doc in its pack < budget
    val sizes = rows.foldLeft((Map.empty[Long, Long], 0L)) {
      case ((acc, c), (_, toks, _)) =>
        (acc.updated(c / 128L, acc.getOrElse(c / 128L, 0L) + toks), c + toks)
    }._1
    assert(sizes.nonEmpty && sizes.keySet.max > 0, "multiple packs expected")

    // scale guard: the corpus window is partitioned by group — the only
    // unpartitioned window runs over the per-group totals (≤ Grain rows)
    val plan = graft.ext.Packing.packSequences(docs, col("doc_id"),
      col("toks"), 128L).queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__pk_grp"), plan)
  }

  test("document chunking: stride windows clip at the end; null/empty yield no chunks; knob validation") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "x y"),
      (3L, null: String), (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, window = 8, stride = 4)
      .as[(Long, Long, String)].collect().toSet
    assert(out == Set(
      (1L, 0L, "a b c d e f g h"), (1L, 1L, "e f g h i j"), (1L, 2L, "i j"),
      (2L, 0L, "x y"),
      // empty text splits to one empty token → a single empty chunk;
      // null text yields none
      (4L, 0L, "")), s"got $out")
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocuments(docs, window = 4, stride = 5))
    intercept[IllegalArgumentException](
      TextAnalysis.chunkDocuments(docs, window = 0, stride = 1))
  }

  test("pii redaction: emails, ips and long digit runs; order protects ip octets; null passthrough") {
    import spark.implicits._
    val out = Seq(
      "mail me at first.last+tag@sub.example.co.uk today",
      "server 192.168.100.200 and acct 123456789 and pin 12345678",
      "u9@x.io then 10.0.0.1 then 999999999",
      null: String).toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].collect().toSeq
    assert(out(0) == "mail me at <EMAIL> today", out(0))
    // 8-digit pin survives (< 9 digits); the ip is <IP>, not <NUM> pieces
    assert(out(1) == "server <IP> and acct <NUM> and pin 12345678", out(1))
    assert(out(2) == "<EMAIL> then <IP> then <NUM>", out(2))
    assert(out(3) == null)
  }

  test("property: domainMixThresholds invariants over 500 random count/weight sets") {
    val rnd = new scala.util.Random(20260813L)
    (1 to 500).foreach { i =>
      val nDom = 1 + rnd.nextInt(8)
      val counts = (0 until nDom)
        .map(d => s"d$d" -> (1L + rnd.nextInt(1000000))).toMap
      val weights = (0 until nDom).map(d => s"d$d" -> (1 + rnd.nextInt(50)))
      val thr = graft.ext.Sampling.domainMixThresholds(counts, weights)
      // thresholds are valid bucket cuts
      assert(thr.values.forall(t => t >= 0 && t <= graft.ext.Sampling.Grain),
        s"case $i: thresholds out of range: $thr")
      // no domain is asked for more than it has: need_d = thr-implied
      // rows never exceeds c_d (thr ≤ Grain already encodes this), and
      // the binding domain (the arg-min of c_d·W/w_d) keeps ALL its
      // rows only if it is the unique constraint — check need ≤ count
      val w = weights.map(_._2.toLong).sum
      val t = weights.map { case (d, wd) => counts(d) * w / wd }.min
      weights.foreach { case (d, wd) =>
        val need = wd * t / w
        assert(need <= counts(d), s"case $i: need $need > count ${counts(d)}")
      }
      // weight-scale invariance: k·weights yields identical thresholds
      val k = 2 + rnd.nextInt(5)
      val scaled = graft.ext.Sampling.domainMixThresholds(
        counts, weights.map { case (d, wd) => d -> wd * k })
      assert(scaled == thr, s"case $i: scale-$k changed thresholds")
    }
  }

  test("property: packing decomposition equals naive cumsum on adversarial token values") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    // zeros, ones, huge values, nulls — shuffled ids so bucket order is
    // exercised, 200 rows
    val rows = (1L to 200L).map { id =>
      val tok: Option[Long] = rnd.nextInt(5) match {
        case 0 => None
        case 1 => Some(0L)
        case 2 => Some(1L + rnd.nextInt(10))
        case 3 => Some(1000L + rnd.nextInt(100000))
        case _ => Some(rnd.nextInt(100).toLong)
      }
      (id, tok)
    }
    val df = rows.toDF("doc_id", "toks")
    def packs(gw: Int) = graft.ext.Packing.packSequences(df, col("doc_id"),
        col("toks"), budget = 777L, groupWidth = gw)
      .select("doc_id", "pack").as[(Long, Long)].collect().toMap
    val got = packs(16)
    // naive reference
    val buckets = df.select(col("doc_id"),
        graft.ext.Sampling.bucket(col("doc_id")).as("b"))
      .as[(Long, Long)].collect().toMap
    var cum = 0L
    val expected = rows.map { case (id, tok) => (id, tok, buckets(id)) }
      .sortBy(r => (r._3, r._1)).map { case (id, tok, _) =>
        val p = cum / 777L; cum += tok.getOrElse(0L); id -> p
      }.toMap
    assert(got == expected)
    assert(packs(1) == got && packs(500) == got && packs(10000) == got)
  }

  test("corpus profile: per-domain sums, null text counts docs but zero tokens/chars/quality") {
    import spark.implicits._
    val docs = Seq((1L, "the quick fox", "a"), (2L, null: String, "a"),
      (3L, "x", "b")).toDF("doc_id", "text", "source")
    val q = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).cast("long").as("q"))
      .as[(Long, Long)].collect().toMap
    val out = graft.ext.Curation.corpusProfile(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    // tiny distinct counts are exact under HLL: 3 and 1
    assert(out("a") == ((2L, 3L, 13L, q(1L), 3L)), s"got ${out("a")}")
    assert(out("b") == ((1L, 1L, 1L, q(3L), 1L)), s"got ${out("b")}")
  }

  test("corpus diff: added/removed/changed by content hash, null-safe, unchanged omitted") {
    import spark.implicits._
    val oldc = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will be removed"),
      (4L, null.asInstanceOf[String]), // null → null: unchanged
      (5L, "text goes null")) // non-null → null: changed
      .toDF("doc_id", "text")
    val newc = Seq(
      (1L, "same text"), (2L, "has changed"),
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String]),
      (6L, "brand new")).toDF("doc_id", "text")
    val out = graft.ext.Curation.corpusDiff(oldc, newc)
      .as[(Long, String)].collect().toSet
    assert(out == Set((2L, "changed"), (3L, "removed"),
      (5L, "changed"), (6L, "added")), s"got $out")
  }

  test("budget selection: best-first inclusive prefix, decomposition invariant") {
    import spark.implicits._
    // priorities 3/2/1, 40 tokens each doc — budget 200 takes all five
    // pri-3 docs (200 tokens) and nothing else: the pri-2 doc that
    // WOULD fit is past the cut (prefix rule, no back-fill)
    val docs = ((1L to 5L).map((_, 40L, 3L)) ++ (6L to 10L).map((_, 40L, 2L))
      ++ Seq((11L, 40L, 1L))).toDF("doc_id", "toks", "pri")
    def sel(gw: Int): Set[Long] =
      graft.ext.Packing.selectByBudget(docs, col("doc_id"), col("toks"),
          col("pri"), budget = 200L, groupWidth = gw)
        .select("doc_id").as[Long].collect().toSet
    assert(sel(16) == (1L to 5L).toSet, s"got ${sel(16)}")
    assert(sel(10000) == sel(16) && sel(1) == sel(16))

    // a mid-level cut: budget 280 admits the 2 hash-earliest pri-2 docs
    val buckets = docs.select(col("doc_id"),
        graft.ext.Sampling.bucket(col("doc_id")).as("b"))
      .as[(Long, Long)].collect().toMap
    val pri2Order = (6L to 10L).sortBy(id => (buckets(id), id))
    val got280 = graft.ext.Packing.selectByBudget(docs, col("doc_id"),
        col("toks"), col("pri"), budget = 280L)
      .select("doc_id").as[Long].collect().toSet
    assert(got280 == (1L to 5L).toSet ++ pri2Order.take(2), s"got $got280")

    // output schema is the input's
    assert(graft.ext.Packing.selectByBudget(docs, col("doc_id"), col("toks"),
      col("pri"), 200L).columns.toSeq == Seq("doc_id", "toks", "pri"))

    // null priority sorts LAST (never silently dropped) and null token
    // counts cost 0 in both ops — deterministic, not a vanished row
    val withNulls = Seq[(Long, Option[Long], Option[Long])](
      (1L, Some(40L), Some(2L)), (2L, Some(40L), None), (3L, None, Some(3L)))
      .toDF("doc_id", "toks", "pri")
    val all = graft.ext.Packing.selectByBudget(withNulls, col("doc_id"),
        col("toks"), col("pri"), budget = 10000L)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(1L, 2L, 3L), s"null rows dropped: $all")
    // tight budget: the null-pri doc competes LAST (only doc 3 — null
    // toks, cost 0 — and doc 1 fit a 40-token budget)
    val tight = graft.ext.Packing.selectByBudget(withNulls, col("doc_id"),
        col("toks"), col("pri"), budget = 40L)
      .select("doc_id").as[Long].collect().toSet
    assert(tight == Set(1L, 3L), s"null-pri ordering wrong: $tight")
    val packed = graft.ext.Packing.packSequences(withNulls, col("doc_id"),
        col("toks"), budget = 10000L)
      .select("doc_id", "pack").as[(Long, Long)].collect().toMap
    assert(packed.keySet == Set(1L, 2L, 3L) && packed.values.forall(_ == 0L),
      s"null-token row mispacked: $packed")

    // a high-cardinality priority (here: one level per doc) fails LOUDLY
    // before the offsets relation is broadcast, instead of OOMing the
    // driver with a corpus-sized "tiny" relation
    val perDocPri = spark.range(0, graft.ext.Packing.MaxOffsetRows + 10)
      .select(col("id").as("doc_id"), lit(1L).as("toks"), col("id").as("pri"))
    val loud = intercept[IllegalArgumentException] {
      graft.ext.Packing.selectByBudget(perDocPri, col("doc_id"), col("toks"),
        col("pri"), budget = 10L)
    }
    assert(loud.getMessage.contains("high-cardinality"), loud.getMessage)
  }

  test("extractFeatures tolerates frames without a media_type column (round-2 contract)") {
    import spark.implicits._
    val legacy = Seq((1L, "abc".getBytes("UTF-8"), 3L))
      .toDF("media_id", "payload", "n_bytes")
    val out = Multimodal.extractFeatures(legacy).collect().head
    val stub = Multimodal.decodeStub("abc".getBytes("UTF-8"))
    assert(out.getLong(3) == stub._1 && out.getLong(4) == stub._2)
  }

  test("frame sampling explodes one row per sampled frame") {
    import spark.implicits._
    val media = Multimodal.asMedia(
      Seq((1L, "x" * 70)).toDF("doc_id", "text"), "doc_id", "text",
      mediaType = "video/fake")
    // 70 bytes → n_frames = 70 % 32 + 1 = 7; every 2nd frame → 0,2,4,6
    val frames = Multimodal.frameSample(media, everyNth = 2)
      .select("frame_idx").as[Long].collect().sorted.toSeq
    assert(frames == Seq(0L, 2L, 4L, 6L), s"got $frames")
    intercept[IllegalArgumentException](Multimodal.frameSample(media, 0))
  }

  test("BPE-ish token count splits contractions and punctuation apart") {
    import spark.implicits._
    val docs = Seq((1L, "it's fast, really fast!")).toDF("doc_id", "text")
    val (bpe, ws) = docs.select(
      TextAnalysis.bpeTokenCount(col("text")),
      TextAnalysis.tokenCount(col("text")))
      .as[(Int, Int)].collect().head
    // it|'s|fast|,|really|fast|! = 7 vs 4 whitespace tokens
    assert(bpe == 7 && ws == 4, s"bpe=$bpe ws=$ws")
  }

  test("real-vocab token count: greedy longest match goldens + naive-reference parity") {
    import spark.implicits._
    // independent naive reference of the same rule (longest-first probing)
    def naive(text: String): Long = {
      val m = java.util.regex.Pattern.compile(TextAnalysis.BpePattern).matcher(text)
      val vs = TextAnalysis.Vocab.toSet
      val maxLen = TextAnalysis.Vocab.map(_.length).max
      var total = 0L
      while (m.find()) {
        val pt = m.group(); var pos = 0
        while (pos < pt.length) {
          val adv = (math.min(maxLen, pt.length - pos) to 1 by -1)
            .find(k => vs.contains(pt.substring(pos, pos + k))).getOrElse(1)
          total += 1; pos += adv
        }
      }
      total
    }
    // goldens, hand-derived: "the cat" → [the][ ][c][at]; "printing" →
    // [p][r][in][t][ing]; leading-space merge: " the" is ONE token
    val golden = Seq("the cat" -> 4L, "printing" -> 5L, "x the y" -> 4L)
    val got = golden.map(_._1).toDF("text")
      .select(TextAnalysis.vocabTokenCount(col("text"))).as[Long].collect()
    assert(got.toSeq == golden.map(_._2), s"goldens: got ${got.toSeq}")
    golden.foreach { case (t, n) => assert(naive(t) == n, s"naive($t)") }
    // parity with the naive reference over real corpus text
    val sample = Tables.documents(spark, sf).limit(50)
      .select("doc_id", "text").as[(Long, String)].collect()
    val native = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), TextAnalysis.vocabTokenCount(col("text")))
      .as[(Long, Long)].collect().toMap
    sample.foreach { case (id, t) =>
      assert(native(id) == naive(t), s"doc $id diverges from reference")
    }
    // null text → null expression value (query layer coalesces to 0)
    val nullCount = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.vocabTokenCount(col("text"))).collect()(0)
    assert(nullCount.isNullAt(0))
  }

  test("merge-based BPE: goldens, naive min-rank-loop parity, well-formedness guard") {
    import spark.implicits._
    // independent naive reference of the GPT-2 inference rule:
    // repeatedly merge ALL occurrences (left to right) of the
    // lowest-rank adjacent pair until none is mergeable — deliberately
    // the MIN-RANK LOOP, not the rank-order replay the oracle uses, so
    // spec + oracle together witness the well-formedness equivalence
    def naive(text: String): Seq[String] = {
      val m = java.util.regex.Pattern.compile(TextAnalysis.BpePattern).matcher(text)
      val rank = TextAnalysis.Merges.zipWithIndex.toMap
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      while (m.find()) {
        var syms = m.group().map(_.toString).toVector
        var go = syms.size >= 2
        while (go) {
          val present = syms.zip(syms.tail).flatMap(rank.get)
          if (present.isEmpty) go = false
          else {
            val (a, b) = TextAnalysis.Merges(present.min)
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < syms.size) {
              if (j < syms.size - 1 && syms(j) == a && syms(j + 1) == b) {
                buf += a + b; j += 2
              } else { buf += syms(j); j += 1 }
            }
            syms = buf.toVector
            go = syms.size >= 2
          }
        }
        out ++= syms
      }
      out.toSeq
    }
    // goldens, hand-derived against the Merges table: " the" collapses
    // via " t"+"he"; "printing" keeps p/r apart; "quest" shows rank
    // order (es before qu); contraction pre-token "'s" merges whole
    val golden = Seq(
      "the cat" -> Seq("the", " ", "c", "at"),
      " the" -> Seq(" the"),
      "printing" -> Seq("p", "r", "in", "t", "ing"),
      "quest" -> Seq("qu", "es", "t"),
      "it's" -> Seq("it", "'s"))
    val got = golden.map(_._1).toDF("text")
      .select(TextAnalysis.bpeMergeTokens(col("text"))).as[Seq[String]].collect()
    assert(got.toSeq == golden.map(_._2), s"goldens: got ${got.toSeq}")
    golden.foreach { case (t, e) => assert(naive(t) == e, s"naive($t)") }
    // parity with the naive reference over real corpus text
    val sample = Tables.documents(spark, sf).limit(50)
      .select("doc_id", "text").as[(Long, String)].collect()
    val native = Tables.documents(spark, sf).limit(50)
      .select(col("doc_id"), TextAnalysis.bpeMergeTokens(col("text")))
      .as[(Long, Seq[String])].collect().toMap
    sample.foreach { case (id, t) =>
      assert(native(id) == naive(t), s"doc $id diverges from reference")
    }
    // count column = size of the token array
    val n = Seq("the cat").toDF("text")
      .select(TextAnalysis.bpeMergeTokenCount(col("text"))).as[Long].collect()(0)
    assert(n == 4L)
    // null text → null expression value (query layer coalesces)
    val nul = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(TextAnalysis.bpeMergeTokens(col("text"))).collect()(0)
    assert(nul.isNullAt(0))
    // ill-formed tables are rejected at construction: a side that is
    // neither a single char nor an earlier merge's output
    val e = intercept[IllegalArgumentException] {
      graft.functions.BpeMergeTokens(
        org.apache.spark.sql.graft.Bridge.expression(col("text")),
        Seq("ab" -> "c"), TextAnalysis.BpePattern)
    }
    assert(e.getMessage.contains("not well-formed"))
    // non-BMP text: symbols are CODE POINTS — two distinct astral
    // characters stay two distinct intact tokens (a UTF-16-unit walk
    // would split each into lone surrogates, which UTF8String encodes
    // as '?', collapsing them into identical token arrays)
    val astral = Seq("😀", "😁").toDF("text")
      .select(TextAnalysis.bpeMergeTokens(col("text")))
      .as[Seq[String]].collect().toSeq
    assert(astral == Seq(Seq("😀"), Seq("😁")), astral)
    assert(astral(0) != astral(1), "distinct astral chars must not collapse")
  }

  test("searchDocs: integer tf-idf retrieval goldens, dedup of repeated terms, TopKPerKey plan") {
    import spark.implicits._
    // four docs, two terms: df(cat)=2, df(dog)=1 → tscore(cat)=500000/tf-mult,
    // tscore(dog)=1000000·tf. Hand-computed totals below.
    val docs = Seq(
      (1L, "cat cat dog"),   // cat: 2·10⁶/2=1000000, dog: 1·10⁶/1=1000000 → 2000000, n_terms 2
      (2L, "cat mouse"),     // cat: 500000 → 500000, n_terms 1
      (3L, "mouse mouse"),   // no match
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // the repeated (0, cat) pair must not double-count
    val queries = Seq((0L, "cat"), (0L, "dog"), (0L, "cat"), (1L, "mouse"))
      .toDF("query_id", "term")
    val got = TextAnalysis.searchDocs(docs, queries, k = 10)
      .select("query_id", "doc_id", "score", "n_terms", "rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 1L, 2000000L, 2L, 1L),
      (0L, 2L, 500000L, 1L, 2L),
      (1L, 3L, 1000000L, 1L, 1L),   // df(mouse)=2: doc3 tf=2 → 2·10⁶/2
      (1L, 2L, 500000L, 1L, 2L)), s"got $got")
    // k cuts per query, ties break on doc id — and the per-query top-k
    // runs on the custom bounded-heap operator, not a full window sort
    val one = TextAnalysis.searchDocs(docs, queries, k = 1)
    assert(one.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    intercept[IllegalArgumentException](
      TextAnalysis.searchDocs(docs, queries, k = 0))
  }

  test("searchMatched: shared matched-tf relation scores both arms and the qrels row-identically to the standalone entry points") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val queries = Seq((0L, "query"), (0L, "window"), (0L, "query"),
      (1L, "stream"), (1L, "missingterm"), (2L, "the"))
      .toDF("query_id", "term")
    // one pinned scan feeds tf-idf, BM25 and the term-coverage qrels —
    // each must reproduce its standalone twin bit-for-bit (the law the
    // round-22 multi-arm retrieval queries lean on)
    val matched = TextAnalysis.searchMatched(docs, queries)
    assert(rows(TextAnalysis.searchDocsFromMatched(matched, queries, k = 7))
      == rows(TextAnalysis.searchDocs(docs, queries, k = 7)))
    assert(rows(TextAnalysis.searchDocsBm25FromMatched(
        docs, matched, queries, k = 7))
      == rows(TextAnalysis.searchDocsBm25(docs, queries, k = 7)))
    assert(rows(graft.ext.Retrieval
        .termCoverageQrelsFromMatched(matched, queries))
      == rows(graft.ext.Retrieval.termCoverageQrels(docs, queries)))
    // the standalone entry points now delegate to the FromMatched
    // scorers — their k guard must still fire
    intercept[IllegalArgumentException](
      TextAnalysis.searchDocsFromMatched(matched, queries, k = 0))
    intercept[IllegalArgumentException](
      TextAnalysis.searchDocsBm25FromMatched(docs, matched, queries, k = 0))
  }

  test("unigramSurprisal: rare tokens score higher, hand-computed integer golden") {
    import spark.implicits._
    // counts: a=2, b=1, c=1, total=4 → L(4)=3, L(2)=2, L(1)=1
    // doc1 "a a b": 2·(3−2) + 1·(3−1) = 4 over 3 tokens → mean 133
    // doc2 "c":     1·(3−1) = 2 over 1 token → mean 200 (rarer = higher)
    val docs = Seq((1L, "a a b"), (2L, "c"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextAnalysis.unigramSurprisal(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 4L, 3L, 133L), (2L, 2L, 1L, 200L), (3L, 0L, 0L, 0L)), got)
  }

  test("hybridSearch: RRF fusion golden — both-armed docs outrank single-armed, ranks ride along") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat cat"), (2L, "cat"), (3L, "nope"))
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),      // the query vector
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),  // dense rank 2
      (2L, Seq(0.99f, 0.01f, 0f, 0f)),// dense rank 1
      (3L, Seq(0f, 1f, 0f, 0f)))      // dense rank 3
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, "cat")).toDF("query_id", "term")
    // sparse: doc1 r1 (tf 2), doc2 r2 — df(cat) = 2
    // rrf(doc1) = 10⁶/61 + 10⁶/62 = 16393 + 16129 = 32522
    // rrf(doc2) = 10⁶/62 + 10⁶/61 = 32522 (tie → doc id)
    // rrf(doc3) = 0 + 10⁶/63 = 15873 (dense-only)
    val got = graft.ext.Retrieval.hybridSearch(docs, emb, queries, k = 10)
      .select("query_id", "doc_id", "rrf", "rank")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._4).toSeq
    assert(got == Seq(
      (0L, 1L, 32522L, 1L), (0L, 2L, 32522L, 2L), (0L, 3L, 15873L, 3L)),
      s"got $got")
    // per-system ranks ride along; a dense-only doc has null sparse_rank
    val r3 = graft.ext.Retrieval.hybridSearch(docs, emb, queries, k = 10)
      .filter(col("doc_id") === 3L).collect().head
    assert(r3.isNullAt(r3.fieldIndex("sparse_rank")) &&
      r3.getLong(r3.fieldIndex("dense_rank")) == 3L)
    intercept[IllegalArgumentException](
      graft.ext.Retrieval.hybridSearch(docs, emb, queries, k = 0))
    intercept[IllegalArgumentException](
      graft.ext.Retrieval.hybridSearch(docs, emb, queries, rrfK = 0))
    // the public fusion primitive enforces the arm contract: exactly
    // (query_id, doc_id, <rank>) with distinctly named rank columns
    val armA = Seq((0L, 1L, 1L)).toDF("query_id", "doc_id", "r1")
    val armB = Seq((0L, 2L, 1L)).toDF("query_id", "doc_id", "r2")
    val fusedDisjoint = graft.ext.Retrieval.rrfFuse(armA, armB, k = 5)
      .select("doc_id", "rrf").as[(Long, Long)].collect().toSet
    assert(fusedDisjoint == Set((1L, 1000000L / 61), (2L, 1000000L / 61)))
    intercept[IllegalArgumentException](graft.ext.Retrieval.rrfFuse(
      armA, armB.withColumnRenamed("r2", "r1"), k = 5))
    intercept[IllegalArgumentException](graft.ext.Retrieval.rrfFuse(
      armA.withColumn("extra", lit(1)), armB, k = 5))
  }

  test("hybridSearchIndexed: fusion over the persisted index equals manual fusion of the proven arms") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val queries = Seq((0L, "query"), (0L, "window"), (1L, "stream"))
      .toDF("query_id", "term")
    Similarity.buildLshIndex(emb, "t_hybrid_idx", planes = 4, dims = 64)
    val got = graft.ext.Retrieval.hybridSearchIndexed(
      docs, queries, "t_hybrid_idx", k = 10)
    // reference: the same two arms assembled by hand — BM25 inline +
    // INLINE multi-probe LSH (bit-identical to the indexed search by
    // the t_ann_lsh_multiprobe law) — through the public fusion
    val bm25 = TextAnalysis.searchDocsBm25(docs, queries, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val dense = Similarity.annTopKMultiProbe(emb, Seq(0L, 1L), 20,
        planes = 4, dims = 64)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val ref = graft.ext.Retrieval.rrfFuseAll(Seq(bm25, dense), k = 10)
    assert(rows(got) == rows(ref))
    // output carries both audit ranks; every fused row is in the top-10
    assert(got.columns.toSeq ==
      Seq("query_id", "doc_id", "rrf", "bm25_rank", "dense_rank", "rank"))
    assert(got.filter(col("rank") > 10).count() == 0L)
    intercept[IllegalArgumentException](graft.ext.Retrieval
      .hybridSearchIndexed(docs, queries, "t_hybrid_idx", k = 0))
  }

  test("DoReMi domain reweighting: exact allocation, uniform fallback, excess-driven ordering") {
    import spark.implicits._
    // planted signal: `div` docs have all-distinct vocabulary (high
    // unigram bits; the self-trained trigram memorizes → ref ~0), `rep`
    // docs repeat one word (unigram bits low) — excess must route more
    // weight to `div`
    val docs = ((1 to 6).map(i =>
      (i.toLong, ((i * 20) until (i * 20 + 12)).map(j => s"w$j").mkString(" "),
        "div")) ++
      (7 to 12).map(i =>
        (i.toLong, (1 to 12).map(_ => "aaa").mkString(" "), "rep")))
      .toDF("doc_id", "text", "source")
    val out = graft.ext.Curation.domainReweight(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out.keySet == Set("div", "rep"))
    assert(out.values.map(_._5).sum == 10000L,
      s"weights must sum exactly to scaleTo: $out")
    // excess consistency + ordering
    out.foreach { case (_, (_, p, rf, e, _)) =>
      assert(e == math.max(0L, p - rf))
    }
    assert(out("div")._4 > out("rep")._4 && out("div")._5 > out("rep")._5,
      s"diverse-vocab domain must get more weight: $out")

    // uniform fallback: identical text everywhere → zero excess in
    // every domain → weights split evenly (±1 from the remainder law)
    val flat = (1 to 9).map(i =>
      (i.toLong, "the same twelve words appear in every single document here now",
        s"d${i % 3}")).toDF("doc_id", "text", "source")
    val u = graft.ext.Curation.domainReweight(flat).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(u.values.sum == 10000L)
    assert(u.values.max - u.values.min <= 1L,
      s"zero-excess corpus must fall back to uniform weights: $u")

    // null domains dropped, corpus run sane
    val corpus = Tables.documents(spark, sf)
    val cw = graft.ext.Curation.domainReweight(corpus)
    assert(cw.agg(sum("weight")).head.getLong(0) == 10000L)
    assert(cw.filter(col("domain").isNull).count() == 0L)
  }

  test("persisted tokenizer bundles: disk round-trip is bit-identical for all three kinds, corrupt artifacts refuse") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    def tokensOf(c: org.apache.spark.sql.Column) =
      docs.select(col("doc_id"), coalesce(array_join(c, ""), lit(""))
        .as("t"))
    // BPE: train → persist → load → identical cuts on every document
    val merges = TextAnalysis.learnBpeMerges(docs, nMerges = 4)
    TextAnalysis.writeMergeTokenizer(spark, "tokspec_bpe", merges)
    val bpeLoaded = TextAnalysis.loadTokenizer(spark, "tokspec_bpe")
    assert(bpeLoaded.kind == "bpe")
    assert(rows(tokensOf(bpeLoaded.tokens(col("text")))) ==
      rows(tokensOf(TextAnalysis.bpeMergeTokensWith(col("text"),
        merges.map(m => (m._1, m._2))))))
    // WordPiece: same application rule, kind preserved for provenance
    val wp = TextAnalysis.learnWordPieceMerges(docs, nMerges = 3)
    TextAnalysis.writeMergeTokenizer(spark, "tokspec_wp",
      wp.map(m => (m._1, m._2, m._3)), kind = "wordpiece")
    val wpLoaded = TextAnalysis.loadTokenizer(spark, "tokspec_wp")
    assert(wpLoaded.kind == "wordpiece")
    assert(rows(tokensOf(wpLoaded.tokens(col("text")))) ==
      rows(tokensOf(TextAnalysis.bpeMergeTokensWith(col("text"),
        wp.map(m => (m._1, m._2))))))
    // Unigram: counts persist so the smoothing denominator re-derives
    // exactly; max_piece_len pins through _meta
    val inv = TextAnalysis.learnUnigramLm(docs, vocabSize = 48,
      seedSize = 128, maxPieceLen = 3)
    TextAnalysis.writeUnigramTokenizer(spark, "tokspec_ug", inv,
      maxPieceLen = 3)
    val ugLoaded = TextAnalysis.loadTokenizer(spark, "tokspec_ug")
    assert(ugLoaded.kind == "unigram")
    assert(rows(tokensOf(ugLoaded.tokens(col("text")))) ==
      rows(tokensOf(TextAnalysis.unigramTokensWith(col("text"), inv,
        maxPieceLen = 3))))
    // tokenCount convenience nulls to 0
    assert(Seq(Tuple1(null: String)).toDF("text")
      .select(bpeLoaded.tokenCount(col("text"))).head.getLong(0) == 0L)
    // refusal paths: empty artifacts never persist; unknown kind never
    // applies; wrong kind label rejected at write
    intercept[IllegalArgumentException] {
      TextAnalysis.writeMergeTokenizer(spark, "tokspec_bad", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.writeMergeTokenizer(spark, "tokspec_bad",
        merges, kind = "unigram")
    }
    graft.core.Layout.writeBucketed(Seq(("sentencepiece", 0L))
      .toDF("kind", "max_piece_len"), "tokspec_bpe_meta", "kind", 1)
    intercept[IllegalStateException] {
      TextAnalysis.loadTokenizer(spark, "tokspec_bpe")
    }
  }

  test("persisted LM bundles: disk round-trip scores bit-identically, kind pins the smoothing rule") {
    import spark.implicits._
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val half = docs.filter(col("doc_id") % 2 === 0)
    // trigram stupid-backoff: train → persist → load → identical scores
    val m3 = TextAnalysis.trigramModel(half)
    TextAnalysis.writeLmModel(m3, "lmspec_tri", "trigram")
    val b3 = TextAnalysis.loadLmModel(spark, "lmspec_tri")
    assert(b3.kind == "trigram")
    assert(rows(b3.score(docs)) == rows(TextAnalysis.trigramScoreWith(docs, m3)))
    // KN absolute-discount rung, same law
    val mk = TextAnalysis.knTrigramModel(half)
    TextAnalysis.writeLmModel(mk, "lmspec_kn", "kn")
    val bk = TextAnalysis.loadLmModel(spark, "lmspec_kn")
    assert(bk.kind == "kn")
    assert(rows(bk.score(docs)) == rows(TextAnalysis.knTrigramScoreWith(docs, mk)))
    // the two rungs genuinely differ on this corpus (same schema,
    // different level vocabulary — the reason kind must pin the rule)
    assert(rows(b3.score(docs)) != rows(bk.score(docs)))
    // refusals: unknown kind at write; relation without the level-0
    // scalar (not a model output); unknown kind at load
    intercept[IllegalArgumentException] {
      TextAnalysis.writeLmModel(m3, "lmspec_bad", "kenlm")
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.writeLmModel(
        m3.filter(col("level") =!= 0), "lmspec_bad", "trigram")
    }
    graft.core.Layout.writeBucketed(Seq("kenlm").toDF("kind"),
      "lmspec_tri_meta", "kind", 1)
    intercept[IllegalStateException] {
      TextAnalysis.loadLmModel(spark, "lmspec_tri")
    }
  }

  test("WordPiece training: likelihood argmax diverges from BPE on crafted cohesion, naive parity") {
    import spark.implicits._
    // naive reference: the BPE loop with the 10^12-fixed-point
    // likelihood score argmax (score DESC, count DESC, lex pair)
    def naiveWp(texts: Seq[String], n: Int): Seq[(String, String, Long, Long)] = {
      val pat = java.util.regex.Pattern.compile(TextAnalysis.BpePattern)
      val vocab = scala.collection.mutable.HashMap.empty[String, Long]
      texts.foreach { t =>
        val m = pat.matcher(t)
        while (m.find()) vocab(m.group()) = vocab.getOrElse(m.group(), 0L) + 1L
      }
      def tok(pt: String, merges: Seq[(String, String)]): Vector[String] = {
        val rank = merges.zipWithIndex.toMap
        var syms = pt.map(_.toString).toVector
        var go = syms.size >= 2
        while (go) {
          val present = syms.zip(syms.tail).flatMap(rank.get)
          if (present.isEmpty) go = false
          else {
            val (a, b) = merges(present.min)
            val buf = Vector.newBuilder[String]
            var j = 0
            while (j < syms.size) {
              if (j < syms.size - 1 && syms(j) == a && syms(j + 1) == b) {
                buf += a + b; j += 2
              } else { buf += syms(j); j += 1 }
            }
            syms = buf.result(); go = syms.size >= 2
          }
        }
        syms
      }
      val learned =
        scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
      var go = true
      while (go && learned.size < n) {
        val pairC = scala.collection.mutable.HashMap.empty[(String, String), Long]
        val uniC = scala.collection.mutable.HashMap.empty[String, Long]
        vocab.foreach { case (pt, w) =>
          val ts = tok(pt, learned.toSeq.map(x => (x._1, x._2)))
          ts.foreach(s => uniC(s) = uniC.getOrElse(s, 0L) + w)
          ts.zip(ts.tail).foreach(p => pairC(p) = pairC.getOrElse(p, 0L) + w)
        }
        val best = pairC.toSeq.map { case ((a, b), c) =>
          (a, b, c, c * 1000000000000L / (uniC(a) * uniC(b)))
        }.sortBy { case (a, b, c, s) => (-s, -c, a, b) }.headOption
        best match {
          case Some((a, b, c, s)) if c >= 2L => learned += ((a, b, c, s))
          case _ => go = false
        }
      }
      learned.toSeq
    }
    // crafted cohesion: (x, y) occurs only 2 times but x/y never occur
    // apart (score 5.0e11); the frequent pairs ride on ubiquitous
    // ' '/'t' symbols and score ~1e11 — WordPiece's first merge is the
    // RARE cohesive pair, BPE's is the frequent one
    val fixture = Seq("ta th ta th ta th ta th", "xy xy")
    val wp = TextAnalysis.learnWordPieceMerges(fixture.toDF("text"), nMerges = 1)
    assert(wp.map(m => (m._1, m._2)) == Seq(("x", "y")), wp.toString)
    assert(wp.head._4 == 500000000000L, s"score_fp: ${wp.head._4}")
    val bpe = TextAnalysis.learnBpeMerges(fixture.toDF("text"), nMerges = 1)
    assert(bpe.map(m => (m._1, m._2)) == Seq((" ", "t")),
      s"BPE must pick the frequent pair here, got $bpe")
    // parity with the naive trainer on real corpus text
    val docs = Tables.documents(spark, sf)
    val sample = docs.limit(60).select("text").as[String].collect().toSeq
    val learnedSpark = TextAnalysis.learnWordPieceMerges(docs.limit(60), nMerges = 6)
    assert(learnedSpark == naiveWp(sample, 6),
      s"spark=$learnedSpark naive=${naiveWp(sample, 6)}")
    // the learned table is well-formed: tokenizing under it succeeds
    val nTok = docs.limit(10)
      .select(TextAnalysis.bpeMergeTokensWith(col("text"),
        learnedSpark.map(m => (m._1, m._2))))
      .collect().map(_.getSeq[String](0).size).sum
    assert(nTok > 0L)
  }

  test("unigram-LM training: naive-reference parity, prune invariants, lossless Viterbi tokenize") {
    import spark.implicits._
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val L = 4
    val K = TextAnalysis.UnigramBlockLen
    def blocksOf(pt: String): Seq[String] = pt.grouped(K).toSeq
    // independent naive reference of the exact suffix-distance DP
    // (integer bits, unknown-char fallback, longer-piece tie-break)
    def viterbi(b: String, bits: Map[String, Long], unk: Long): Seq[String] = {
      val n = b.length
      val cost = new Array[Long](n + 1)
      val ch = new Array[Int](n + 1)
      for (d <- 1 to n) {
        var best = Long.MaxValue; var bl = 0
        for (l <- 1 to math.min(L, d)) {
          val p = b.substring(n - d, n - d + l)
          val bb = bits.get(p).orElse(if (l == 1) Some(unk) else None)
          bb.foreach { x =>
            val c = x + cost(d - l)
            if (c < best || (c == best && l > bl)) { best = c; bl = l }
          }
        }
        cost(d) = best; ch(d) = bl
      }
      val out = Seq.newBuilder[String]; var d = n
      while (d > 0) { val l = ch(d); out += b.substring(n - d, n - d + l); d -= l }
      out.result()
    }
    // ... and of the whole training pipeline (seed → 2×EM → prune)
    def naive(texts: Seq[String], vocabSize: Int,
              seedSize: Int): Seq[(String, Long, Long)] = {
      val pat = java.util.regex.Pattern.compile(TextAnalysis.BpePattern)
      val vocab = scala.collection.mutable.HashMap.empty[String, Long]
      texts.foreach { t =>
        val m = pat.matcher(t)
        while (m.find()) vocab(m.group()) = vocab.getOrElse(m.group(), 0L) + 1L
      }
      val blocks = vocab.toSeq.flatMap { case (pt, w) => blocksOf(pt).map(_ -> w) }
      val subs = scala.collection.mutable.HashMap.empty[String, Long]
      blocks.foreach { case (b, w) =>
        for (p <- 0 until b.length; l <- 1 to math.min(L, b.length - p))
          subs(b.substring(p, p + l)) = subs.getOrElse(b.substring(p, p + l), 0L) + w
      }
      val top = subs.toSeq.sortBy { case (p, c) => (-c, p) }.take(seedSize)
      val chars = subs.filter(_._1.length == 1).toSeq
      var inv: Seq[(String, Long)] = (top ++ chars).distinctBy(_._1)
      for (r <- 1 to 2) {
        val total = inv.map(_._2).sum + inv.size
        val bits = inv.map { case (p, c) => p -> (bitlen(total) - bitlen(c + 1)) }.toMap
        val unk = bitlen(total)
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        blocks.foreach { case (b, w) =>
          viterbi(b, bits, unk).foreach(p =>
            counts(p) = counts.getOrElse(p, 0L) + w)
        }
        inv = inv.map { case (p, _) => p -> counts.getOrElse(p, 0L) }
        if (r == 1) {
          val (cs, multi) = inv.partition(_._1.length == 1)
          val keepN = math.max(0, vocabSize - cs.size)
          val kept = multi.map { case (p, c) =>
            (p, c, c * (p.map(x => bits.getOrElse(x.toString, unk)).sum - bits(p)))
          }.sortBy { case (p, c, loss) => (-loss, -c, p) }.take(keepN)
          inv = cs ++ kept.map(t => (t._1, t._2))
        }
      }
      val totF = inv.map(_._2).sum + inv.size
      inv.sortBy { case (p, c) => (-c, p) }
        .map { case (p, c) => (p, c, bitlen(totF) - bitlen(c + 1)) }
    }
    val docs = Tables.documents(spark, sf)
    val sample = docs.limit(80).select("text").as[String].collect()
      .toSeq.filter(_ != null)
    val got = TextAnalysis.learnUnigramLm(docs.limit(80), vocabSize = 48,
      seedSize = 160)
    assert(got == naive(sample, 48, 160),
      s"spark=${got.take(8)}... naive=${naive(sample, 48, 160).take(8)}...")
    // prune invariants: every corpus char survives; the inventory never
    // exceeds max(vocabSize, #chars); learned multi-char pieces used
    val chars = got.filter(_._1.length == 1)
    assert(got.size <= math.max(48, chars.size), got.size.toString)
    assert(got.count(_._1.length > 1) > 0,
      "training must learn at least one multi-char piece on real text")
    // Viterbi tokenize is LOSSLESS: tokens rejoin to the pre-token
    // concatenation on every doc
    val toks = TextAnalysis.unigramTokensWith(col("text"), got)
    val mismatches = docs.select(concat_ws("", toks).as("j"),
        concat_ws("", regexp_extract_all(col("text"),
          lit(TextAnalysis.BpePattern), lit(0))).as("orig"))
      .filter(col("j") =!= col("orig")).count()
    assert(mismatches == 0L, s"$mismatches docs failed to rejoin")
  }

  test("BPE training: hand goldens, naive-reference parity, early stop, oracle validity") {
    import spark.implicits._
    // independent naive reference: tokenize-under-merges (min-rank loop)
    def tok(pt: String, merges: Seq[(String, String)]): Vector[String] = {
      val rank = merges.zipWithIndex.toMap
      var syms = pt.map(_.toString).toVector
      var go = syms.size >= 2
      while (go) {
        val present = syms.zip(syms.tail).flatMap(rank.get)
        if (present.isEmpty) go = false
        else {
          val (a, b) = merges(present.min)
          val buf = Vector.newBuilder[String]
          var j = 0
          while (j < syms.size) {
            if (j < syms.size - 1 && syms(j) == a && syms(j + 1) == b) {
              buf += a + b; j += 2
            } else { buf += syms(j); j += 1 }
          }
          syms = buf.result(); go = syms.size >= 2
        }
      }
      syms
    }
    // ... and the training loop over weighted distinct pre-tokens
    def naiveTrain(texts: Seq[String], n: Int): Seq[(String, String, Long)] = {
      val pat = java.util.regex.Pattern.compile(TextAnalysis.BpePattern)
      val vocab = scala.collection.mutable.HashMap.empty[String, Long]
      texts.foreach { t =>
        val m = pat.matcher(t)
        while (m.find()) vocab(m.group()) = vocab.getOrElse(m.group(), 0L) + 1L
      }
      val learned = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      var go = true
      while (go && learned.size < n) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        vocab.foreach { case (pt, w) =>
          val ts = tok(pt, learned.toSeq.map(x => (x._1, x._2)))
          ts.zip(ts.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + w)
        }
        val best = counts.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.headOption
        best match {
          case Some(((a, b), c)) if c >= 2L => learned += ((a, b, c))
          case _ => go = false
        }
      }
      learned.toSeq
    }
    // hand-derived golden: (a,b) and (c,d) both count 3, lexicographic
    // tiebreak learns (a,b) first; every round-2 pair counts 1 → the
    // loop stops at 2 merges even when asked for 5
    val fixture = Seq("abab", "ab cd", "cdcd")
    val got = TextAnalysis.learnBpeMerges(fixture.toDF("text"), nMerges = 5)
    assert(got == Seq(("a", "b", 3L), ("c", "d", 3L)), got)
    assert(naiveTrain(fixture, 5) == got)
    // parity with the naive trainer on real corpus text
    val docs = Tables.documents(spark, sf)
    val sample = docs.limit(60).select("text").as[String].collect().toSeq
    val learnedSpark = TextAnalysis.learnBpeMerges(
      docs.limit(60), nMerges = 6)
    assert(learnedSpark == naiveTrain(sample, 6),
      s"spark=$learnedSpark naive=${naiveTrain(sample, 6)}")
    // tokenizing under the learned table round-trips through the same
    // expression (well-formed by construction)
    val nTok = docs.limit(10)
      .select(TextAnalysis.bpeMergeTokensWith(col("text"),
        learnedSpark.map(m => (m._1, m._2))))
      .collect().map(_.getSeq[String](0).size).sum
    assert(nTok > 0)
    // ORACLE VALIDITY on this corpus: the replay oracle's per-rank
    // fixpoint replace() is exact only for distinct-sided merges — the
    // gate-scale training (the t_bpe_train stage count) must learn none
    val gateTable = TextAnalysis.learnBpeMerges(docs,
      graft.queries.LlmQueries.BpeTrainMerges)
    assert(gateTable.size == graft.queries.LlmQueries.BpeTrainMerges)
    assert(gateTable.forall(m => m._1 != m._2),
      s"equal-sided merge learned — replay oracle invalid: $gateTable")
    // knob validation
    intercept[IllegalArgumentException](
      TextAnalysis.learnBpeMerges(fixture.toDF("text"), 0))
    intercept[IllegalArgumentException](
      TextAnalysis.learnBpeMerges(fixture.toDF("text"), 1, minPairCount = 0))
  }

  test("repetition stats separate spam from prose; short docs emit zeros") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam"), // 4 identical 2-grams
      (2L, "each word here appears exactly once today"), // 6 distinct 2-grams
      (3L, "single")) // < 2 tokens → zeros
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L, 4L, 4L), (2L, 6L, 1L, 0L), (3L, 0L, 0L, 0L)), got)
    // null text behaves like a short doc: zeros, no crash
    val nulls = TextAnalysis.repetitionStats(
      Seq((9L, null: String)).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(nulls == Seq((9L, 0L, 0L, 0L)), nulls)
    // a mixed run structure: max run and dup occurrences disagree
    val mixed = TextAnalysis.repetitionStats(
      Seq((7L, "a b a b a b c d c d x y")).toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // grams: "a b"×3, "b a"×2, "b c", "c d"×2, "d c", "d x", "x y" → 11
    assert(mixed == Seq((7L, 11L, 3L, 7L)), mixed)
  }

  test("repetition stats plan is a single map stage: zero exchanges") {
    // the per-document statistic must never shuffle the corpus — the
    // round-6 explode+aggregate formulation cost two corpus-wide
    // exchanges and 28× the runtime of the same-scan stats query
    val plan = TextAnalysis.repetitionStats(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("text analysis classifies stopword-bearing text as en") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and it was happy for a while"),
      (2L, "wort katze matte zzz qqq rrr sss ttt uuu vvv www xxx"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.stats(docs)
      .select("doc_id", "lang_id").as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "und")
  }

  test("stratified take: exact n per stratum, short strata whole, stable under repartition, TopKPerKey plan") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("source", "doc_id")
    val got = graft.ext.Sampling.stratifiedTake(docs, "source", "doc_id", 3)
    val bySrc = got.groupBy("source").agg(count(lit(1)).as("n"),
        max("rank").as("maxr"))
      .as[(String, Long, Long)].collect()
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    bySrc.foreach { case (src, n, maxr) =>
      assert(n == math.min(3L, sizes(src)) && maxr == n, s"$src: $n/$maxr")
    }
    // determinism: a different partitioning selects the same rows
    val again = graft.ext.Sampling.stratifiedTake(
      docs.repartition(17), "source", "doc_id", 3)
    assert(got.select("source", "doc_id", "rank").collect().toSet ==
      again.select("source", "doc_id", "rank").collect().toSet)
    assert(got.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    intercept[IllegalArgumentException](
      graft.ext.Sampling.stratifiedTake(docs, "source", "doc_id", 0))
  }

  test("bm25 search: rarity outranks commonality, tf saturates, length penalized, b=0 disables the penalty") {
    import spark.implicits._
    // "common" appears in every doc; "rare" in one. Docs 1/2 differ
    // only in which term they carry; 3/4 differ only in tf; 5/6 in len
    // "rare" df=1; "common" df=3 (docs 2,3,4) → idf 2 vs 1 bits (N=6).
    // Docs 1/2 have EQUAL length and tf — only rarity differs. Docs 3/4
    // equal length, boost tf 50 vs 1. Docs 5/6 equal tf, len 21 vs 101.
    val filler = (1 to 20).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"rare $filler"),
      (2L, s"common $filler"),
      (3L, "common " + Seq.fill(50)("boost").mkString(" ") + " sat"),
      (4L, "common boost " + (1 to 49).map(i => s"pad$i").mkString(" ") +
        " sat"),
      (5L, s"lenq $filler"),
      (6L, s"lenq $filler $filler ${(1 to 60).map(i => s"x$i").mkString(" ")}"))
      .toDF("doc_id", "text")
    def scores(term: String, b: Int = 75) = TextAnalysis
      .searchDocsBm25(docs, Seq((1L, term)).toDF("query_id", "term"),
        k = 10, bX100 = b)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    val rc = scores("rare") ++ scores("common")
    assert(rc(1L) > rc(2L),
      s"rare match must outrank common match: $rc") // idf bites
    val sat = scores("boost")
    assert(sat(3L) < sat(4L) * 3,
      s"tf=50 must score < 3x tf=1 (saturation): $sat")
    assert(sat(3L) > sat(4L), s"more tf still scores higher: $sat")
    val len = scores("lenq")
    assert(len(5L) > len(6L), s"longer doc penalized at b=0.75: $len")
    val len0 = scores("lenq", b = 0)
    assert(len0(5L) == len0(6L), s"b=0 disables the penalty: $len0")
    // the per-query cut runs on the bounded-heap operator, like searchDocs
    assert(TextAnalysis.searchDocsBm25(docs,
      Seq((1L, "rare")).toDF("query_id", "term"))
      .queryExecution.executedPlan.toString.contains("TopKPerKey"))
    intercept[IllegalArgumentException](TextAnalysis.searchDocsBm25(
      docs, Seq((1L, "x")).toDF("query_id", "term"), bX100 = 101))
    intercept[IllegalArgumentException](TextAnalysis.searchDocsBm25(
      docs, Seq((1L, "x")).toDF("query_id", "term"), k1X100 = -1))
  }

  test("n-ary rrf fusion: three arms sum reciprocal ranks, absent arms give zero, contracts enforced") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L)).toDF("query_id", "doc_id", "a_rank")
    val b = Seq((1L, 10L, 2L), (1L, 20L, 1L))
      .toDF("query_id", "doc_id", "b_rank")
    val c = Seq((1L, 20L, 1L)).toDF("query_id", "doc_id", "c_rank")
    val out = graft.ext.Retrieval.rrfFuseAll(Seq(a, b, c), k = 10)
      .select("doc_id", "rrf", "rank").as[(Long, Long, Long)]
      .collect().toSet
    // doc 10: 10⁶/61 + 10⁶/62 + 0 = 16393 + 16129; doc 20: 2 × 10⁶/61
    assert(out == Set((20L, 32786L, 1L), (10L, 32522L, 2L)), out)
    intercept[IllegalArgumentException](
      graft.ext.Retrieval.rrfFuseAll(Seq(a), k = 10))
    intercept[IllegalArgumentException](
      graft.ext.Retrieval.rrfFuseAll(Seq(a, a), k = 10)) // duplicate names
  }

  test("weighted sampling: rate-0 drops all, full rate keeps all, rates monotone, null weight drops") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).select("doc_id")
    def kept(num: Int, den: Long): Long = graft.ext.Sampling
      .sampleByRate(docs, col("doc_id"), lit(num), den).count()
    val n = docs.count()
    assert(kept(0, 4) == 0L && kept(4, 4) == n && kept(5, 4) == n)
    val half = kept(2, 4)
    assert(half > 0 && half < n, s"half-rate kept $half of $n")
    assert(kept(1, 4) <= half && half <= kept(3, 4), "rates monotone")
    // per-row weights: null weight drops the row, others keyed by hash
    val w = Seq((1L, Some(4L)), (2L, None), (3L, Some(0L)))
      .toDF("doc_id", "w")
    val got = graft.ext.Sampling.sampleByRate(w, col("doc_id"), col("w"), 4)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L), got)
    intercept[IllegalArgumentException](
      graft.ext.Sampling.sampleByRate(w, col("doc_id"), col("w"), 0))
  }

  test("group percentiles: lower empirical quantile golden, null-only group drops, knob rejection") {
    import spark.implicits._
    // group g: values 1..10 once each → p50 = 5 (ceil(10·0.5)=5th),
    // p90 = 9, p99 = 10, p100 = 10, p1 = 1
    val df = ((1L to 10L).map(v => ("g", Some(v))) ++
      Seq(("h", Some(7L)), ("h", Some(7L)), ("h", Some(9L)),
        ("nulls", None))).toDF("grp", "v")
    val out = graft.ext.Curation
      .groupPercentiles(df, "grp", "v", Seq(1, 50, 90, 99, 100))
      .select("grp", "n", "p1", "p50", "p90", "p99", "p100")
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    // h: n=3 → p50 idx ceil(1.5)=2 → 7; p90 idx ceil(2.7)=3 → 9
    assert(out == Seq(("g", 10L, 1L, 5L, 9L, 10L, 10L),
      ("h", 3L, 7L, 7L, 9L, 9L, 9L)), out)
    intercept[IllegalArgumentException](
      graft.ext.Curation.groupPercentiles(df, "grp", "v", Seq()))
    intercept[IllegalArgumentException](
      graft.ext.Curation.groupPercentiles(df, "grp", "v", Seq(0)))
    intercept[IllegalArgumentException](
      graft.ext.Curation.groupPercentiles(df, "grp", "v", Seq(50, 50)))
  }

  test("fuzzy decontamination: planted lightly-edited eval copy flagged, clean docs survive, views partition") {
    import spark.implicits._
    val words = (1 to 40).map(i => s"fz$i")
    val benchText = words.mkString(" ")
    // one middle word swapped: Jaccard ~= 0.85 — the lightly-edited
    // copy exact-match dedup would miss at doc level
    val edited = { val w = words.toArray.clone(); w(19) = "zq"; w.mkString(" ") }
    val corpus = Seq(
      (1L, edited),
      (2L, benchText),                          // verbatim copy
      (3L, (1 to 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val report = graft.ext.Decontamination
      .fuzzyContaminationReport(corpus, bench)
      .select("doc_id", "bench_id").as[(Long, Long)].collect().toSet
    assert(report == Set((1L, 100L), (2L, 100L)), report)
    val clean = graft.ext.Decontamination.fuzzyDecontaminate(corpus, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(3L), clean)
    intercept[IllegalArgumentException](graft.ext.Decontamination
      .fuzzyContaminationReport(corpus, bench, jaccardNum = 11,
        jaccardDen = 10))
  }

  test("semantic decontamination: planted paraphrase flagged, nulls pass, report and anti-join agree") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // identical to bench 100
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // near bench 100
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),   // orthogonal — clean
      (4L, null.asInstanceOf[Array[Float]])) // null vec: never flagged
      .toDF("vec_id", "embedding")
    val bench = Seq(
      (100L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (101L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val report = graft.ext.Decontamination
      .embeddingContaminationReport(corpus, bench, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(report == Set((1L, 100L, 1.0), (2L, 100L, 0.993884)), report)
    val clean = graft.ext.Decontamination
      .decontaminateEmbeddings(corpus, bench, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(clean == Set(3L, 4L), clean)
    // the two views partition the corpus
    assert(clean ++ report.map(_._1) == Set(1L, 2L, 3L, 4L))
  }

  test("passage dedup: first occurrence survives, boilerplate mode drops all copies, row count preserved") {
    import spark.implicits._
    // window=2 passages; "x y" is planted in docs 1, 2 and TWICE in 3
    val docs = Seq(
      (1L, "x y a b"),          // passages: [x y][a b]
      (2L, "c d x y"),          // [c d][x y] — dup of 1's first
      (3L, "x y x y"),          // [x y][x y] — intra-doc dup too
      (4L, "u v w"),            // [u v][w] — unique, odd tail
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val first = Dedup.dedupPassages(docs, window = 2)
      .select("doc_id", "clean_text", "n_passages", "n_kept")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(first == Seq(
      (1L, "x y a b", 2L, 2L),  // owns the first occurrence of "x y"
      (2L, "c d", 2L, 1L),
      (3L, "", 2L, 0L),         // both copies lose to doc 1's
      (4L, "u v w", 2L, 2L),
      (5L, null, 0L, 0L)), first)
    // boilerplate mode: ANY duplicated passage is dropped everywhere
    val strictMode = Dedup.dedupPassages(docs, window = 2, keepFirst = false)
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(strictMode == Seq((1L, "a b", 1L), (2L, "c d", 1L),
      (3L, "", 0L), (4L, "u v w", 2L), (5L, null, 0L)), strictMode)
    intercept[IllegalArgumentException](Dedup.dedupPassages(docs, window = 0))
    // per-document scope: intra-doc repeats collapse, cross-doc survive
    val perDoc = Seq(
      (1L, "x y x y a b"),  // [x y][x y][a b] → intra dup
      (2L, "x y c d"))      // [x y][c d] — cross-doc copy SURVIVES
      .toDF("doc_id", "text")
    val scoped = Dedup.dedupPassages(perDoc, window = 2, perDocument = true)
      .select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(scoped == Seq((1L, "x y a b", 2L), (2L, "x y c d", 2L)), scoped)
  }

  test("cdc chunks: reimplementation parity on the corpus, insertion re-syncs where fixed windows shift") {
    import spark.implicits._
    // independent plain-Scala replay of the boundary rule + slicing
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 2147483647L)
    def chunksOf(t: String, w: Int, m: Int): Seq[String] = {
      val ws = t.split(" ", -1)
      val n = ws.length
      val cuts = (w to n - 1).filter(i => ph(ws.slice(i - w, i).mkString(" ")) % m == 0)
      val bounds = 0 +: cuts :+ n
      bounds.sliding(2).map { case Seq(a, b) => ws.slice(a, b).mkString(" ") }.toSeq
    }
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 50)
    val texts = docs.filter(col("text").isNotNull)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val got = Dedup.cdcChunks(docs, window = 4, divisor = 8)
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got.keySet == texts.keySet, "one chunk list per non-null doc")
    texts.foreach { case (id, t) =>
      assert(got(id) == chunksOf(t, 4, 8), s"doc $id chunking disagrees")
      assert(got(id).mkString(" ") == t, s"doc $id chunks must reassemble")
    }

    // insertion robustness: prepending one word shifts EVERY fixed
    // window (w1..w40 are all distinct, so no fixed chunk can match)
    // but CDC boundaries re-synchronize at the first content cut
    val t = (1 to 40).map(i => s"w$i").mkString(" ")
    val pair = Seq((1L, t), (2L, "inserted " + t)).toDF("doc_id", "text")
    val fixed = Dedup.dedupPassages(pair, window = 4)
      .select("doc_id", "n_passages", "n_kept")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(fixed(2L)._1 == fixed(2L)._2, s"fixed windows all shift: $fixed")
    val cdc = Dedup.dedupPassagesCdc(pair, divisor = 4)
      .select("doc_id", "n_passages", "n_kept")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // reimplementation of the min-key law over the same chunkings
    val c1 = chunksOf(t, 4, 4)
    val c2 = chunksOf("inserted " + t, 4, 4)
    val firstKeys = (c1.zipWithIndex.map { case (c, i) => (c, 1L * (1L << 20) + i) } ++
      c2.zipWithIndex.map { case (c, i) => (c, 2L * (1L << 20) + i) })
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expKept2 = c2.zipWithIndex.count { case (c, i) =>
      firstKeys(c) == 2L * (1L << 20) + i }
    assert(cdc(2L) == ((c2.size.toLong, expKept2.toLong)), s"cdc: $cdc")
    assert(expKept2 < c2.size, "CDC must re-sync and dedup shared chunks")
    assert(cdc(1L) == ((c1.size.toLong, c1.size.toLong)), "doc 1 owns firsts")

    // degenerate inputs + knob rejection
    val edge = Seq((7L, ""), (8L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val e = Dedup.cdcChunks(edge).as[(Long, Long, String)].collect()
    assert(e.toSeq == Seq((7L, 0L, "")), s"empty text is one empty chunk: ${e.toSeq}")
    intercept[IllegalArgumentException](Dedup.cdcChunks(edge, window = 0))
    intercept[IllegalArgumentException](Dedup.cdcChunks(edge, divisor = 1))
  }

  test("passage dedup: key-packing contract violations fail loudly, never a silent drop") {
    import spark.implicits._
    // a non-numeric id casts to null — before the guard this nulled the
    // packed key, null won every min, and every passage dropped silently
    val badId = Seq(("doc-a", "x y a b")).toDF("doc_id", "text")
    val e1 = intercept[Exception](
      Dedup.dedupPassages(badId, window = 2).collect())
    assert(e1.getMessage.contains("dedupPassages"), e1.getMessage)
    // an id at/above 2^43 would wrap the 63-bit packed key
    val bigId = Seq((Dedup.MaxPassageDocId, "x y")).toDF("doc_id", "text")
    val e2 = intercept[Exception](
      Dedup.dedupPassages(bigId, window = 2).collect())
    assert(e2.getMessage.contains("dedupPassages"), e2.getMessage)
    // a negative id breaks the total order the min-aggregation needs
    val negId = Seq((-1L, "x y")).toDF("doc_id", "text")
    val e3 = intercept[Exception](
      Dedup.dedupPassages(negId, window = 2).collect())
    assert(e3.getMessage.contains("dedupPassages"), e3.getMessage)
    // in-range ids still work, including the top of the range
    val ok = Seq((Dedup.MaxPassageDocId - 1, "x y")).toDF("doc_id", "text")
    assert(Dedup.dedupPassages(ok, window = 2)
      .select("n_kept").as[Long].head() == 1L)
  }

  test("diversity sample: per-cell quotas with contiguous ranks, assignments honored, deterministic, knobs rejected") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val n = 7
    val rows1 = Similarity.diversitySample(emb, n = n, centroids = 8)
      .as[(Long, Long, Long)].collect()
    rows1.groupBy(_._2).foreach { case (cell, rs) =>
      assert(rs.size <= n, s"cell $cell over quota")
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.size).map(_.toLong),
        s"cell $cell ranks not contiguous")
    }
    // sampled (vec, cell) pairs must be the quantizer's own assignment,
    // and every non-empty cell must be represented (the coverage law)
    val cents = Similarity.trainCentroids(emb, 8)
    val assigned = Similarity.assignCells(emb, cents)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    rows1.foreach { case (v, c, _) =>
      assert(assigned(v) == c, s"vec $v sampled under the wrong cell") }
    assert(rows1.map(_._2).toSet == assigned.values.toSet,
      "every non-empty cell covered")
    // deterministic under physical repartitioning (no RNG anywhere)
    val rows2 = Similarity.diversitySample(emb.repartition(17), n = n,
      centroids = 8).as[(Long, Long, Long)].collect()
    assert(rows2.toSet == rows1.toSet, "sample must not depend on partitioning")
    intercept[IllegalArgumentException](Similarity.diversitySample(emb, 0))
    intercept[IllegalArgumentException](
      Similarity.diversitySample(emb, 5, centroids = 0))
  }

  test("semdedup: within-cell pairs complete vs brute force, clusters label every id, guard discloses") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val pairs = Similarity.semDedupPairs(emb, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // reference: same assignment, brute-force within-cell pairs
    val cents = Similarity.trainCentroids(emb, 16)
    val asg = Similarity.assignCells(emb, cents).select("vec_id", "cell")
    val ref = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .join(emb.select(col("vec_id").as("ia"), col("embedding").as("va")),
        col("a.vec_id") === col("ia"))
      .join(emb.select(col("vec_id").as("ib"), col("embedding").as("vb")),
        col("b.vec_id") === col("ib"))
      .filter(round(Similarity.cosine(col("va"), col("vb")), 6) >= 0.3)
      .select(col("ia"), col("ib")).as[(Long, Long)].collect().toSet
    assert(pairs == ref, s"pairs ${pairs.size} vs brute-force ${ref.size}")
    assert(pairs.nonEmpty, "threshold chosen to be non-trivial on this corpus")
    // clusters: every id labeled, representatives are component minima
    val clusters = Similarity.semDedupClusters(emb, threshold = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == emb.count())
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(a) <= a && clusters(b) <= b, "label above a member id")
    }
    // a tiny maxCell excludes every cell (width > 2) and yields no pairs
    val gated = Similarity.semDedupPairs(emb, threshold = 0.3, maxCell = 2)
    assert(gated.count() == 0L)
  }

  test("classifyNaiveBayes rejects an untrained (all-null-label) model instead of emptying the output") {
    import spark.implicits._
    val docs = Seq((1L, "hello world"), (2L, "bonjour monde"))
      .toDF("doc_id", "text")
    val unlabeled = Seq((10L, "some text", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.classifyNaiveBayes(docs, unlabeled)
    }
    assert(e.getMessage.contains("no non-null labels"), e.getMessage)
    // and a trained model still honors one-row-per-input
    val labeled = Seq((10L, "hello there world", "en"),
      (11L, "bonjour le monde", "fr")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.classifyNaiveBayes(docs, labeled)
    assert(out.count() == 2L)
    assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("NB dense scoring: exact bits/margin, tie law, prior fallback, and the >64-class wide twin") {
    import spark.implicits._
    // ── dense path (C = 3 ≤ DenseClassCap), hand-computed law ──
    // one doc per label, text w$i: V = 3, tok_c = 1 ⇒ denom = 4 for all;
    // prior = L(3) − L(1) = 1; bits(w1|l1) = L(4) − L(2) = 1, default 2
    val lab3 = (0 to 2).map(i => (100L + i, s"w$i", s"l$i"))
      .toDF("doc_id", "text", "lang")
    val d3 = Seq((1L, "w1"), (2L, "zzz zzz")).toDF("doc_id", "text")
    val out3 = TextAnalysis.classifyNaiveBayes(d3, lab3)
      .orderBy("doc_id")
      .select("doc_id", "pred", "bits", "margin", "n_tokens")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(out3(0) == ((1L, "l1", 2L, 1L, 1L)), out3.mkString(", "))
    // all-OOV doc falls back to the prior argmin: equal priors tie to
    // the ascending label, margin 0
    assert(out3(1) == ((2L, "l0", 1L, 0L, 0L)), out3.mkString(", "))
    // ── tie law: mirrored 2-class training ⇒ equal totals everywhere,
    // pred = ascending label, margin 0 ──
    val labTie = Seq((1L, "x", "ab"), (2L, "x", "aa"))
      .toDF("doc_id", "text", "lang")
    val outTie = TextAnalysis
      .classifyNaiveBayes(Seq((9L, "x")).toDF("doc_id", "text"), labTie)
      .select("pred", "margin").as[(String, Long)].collect()
    assert(outTie.toSeq == Seq(("aa", 0L)), outTie.mkString(", "))
    // ── wide path (C = 70 > DenseClassCap = 64), same hand law:
    // denom = 71 for all, prior = L(70) − L(1) = 6,
    // bits(w5|l05) = L(71) − L(2) = 5, default 6 ──
    val labW = (0 until 70).map(i => (200L + i, s"w$i", f"l$i%02d"))
      .toDF("doc_id", "text", "lang")
    val outW = TextAnalysis
      .classifyNaiveBayes(Seq((5L, "w5"), (6L, "qqq")).toDF("doc_id", "text"),
        labW)
      .orderBy("doc_id")
      .select("doc_id", "pred", "bits", "margin", "n_tokens")
      .as[(Long, String, Long, Long, Long)].collect()
    assert(outW(0) == ((5L, "l05", 11L, 1L, 1L)), outW.mkString(", "))
    assert(outW(1) == ((6L, "l00", 6L, 0L, 0L)), outW.mkString(", "))
  }

  test("dup spans: reimplementation parity on the planted corpus (stats + removal)") {
    import spark.implicits._
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 2147483647L)
    val L = 10
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    val corpus = base.select(col("doc_id"), col("text")).union(
      base.filter(col("doc_id") < 10 && col("text").isNotNull)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("xq7 "), col("text")).as("text")))
    val texts = corpus.filter(col("text").isNotNull)
      .as[(Long, String)].collect().toMap

    // independent plain-Scala replay of the whole law
    val wins = texts.toSeq.flatMap { case (id, t) =>
      val ws = t.split(" ", -1)
      (0 to ws.length - L).map(i =>
        (id, i, ph(ws.slice(i, i + L).mkString(" ")), id * (1L << 20) + i))
    }
    val byHash = wins.groupBy(_._3)
    val flagged: Map[Long, Seq[Int]] = wins
      .filter { case (_, _, h, k) =>
        byHash(h).size >= 2 && k != byHash(h).map(_._4).min }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    def merged(starts: Seq[Int]): Seq[(Int, Int)] =
      starts.foldLeft(Vector.empty[(Int, Int)]) { case (acc, s) =>
        acc.lastOption match {
          case Some((a, b)) if s <= b => acc.init :+ (a, math.max(b, s + L))
          case _ => acc :+ (s, s + L)
        }
      }
    val expStats = texts.map { case (id, t) =>
      val n = t.split(" ", -1).length.toLong
      val ivs = merged(flagged.getOrElse(id, Nil))
      (id, (n, ivs.map(iv => iv._2 - iv._1).sum.toLong, ivs.size.toLong,
        if (ivs.isEmpty) 0L else ivs.map(iv => iv._2 - iv._1).max.toLong))
    }

    val gotStats = Dedup.dupSpanStats(corpus, minLen = L)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(gotStats.keySet == corpus.select("doc_id").as[Long].collect().toSet)
    expStats.foreach { case (id, exp) =>
      assert(gotStats(id) == exp, s"doc $id stats disagree: ${gotStats(id)} vs $exp")
    }

    val gotClean = Dedup.removeDupSpans(corpus, minLen = L)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    texts.foreach { case (id, t) =>
      val ws = t.split(" ", -1)
      val ivs = merged(flagged.getOrElse(id, Nil))
      val keep = ws.indices.filterNot(i => ivs.exists(iv => i >= iv._1 && i < iv._2))
      val exp = (keep.map(ws).mkString(" "), ws.length.toLong, keep.size.toLong)
      assert(gotClean(id) == exp, s"doc $id removal disagrees")
      // stats and removal agree: kept = n_tokens − dup_tokens
      assert(gotClean(id)._3 == gotStats(id)._1 - gotStats(id)._2)
    }

    // the planted twin collapses to its unique prefix token; the
    // copied-from original is the first occurrence and survives intact
    val twinIds = texts.keySet.filter(_ >= 1000000)
    assert(twinIds.nonEmpty)
    twinIds.foreach { id =>
      assert(gotClean(id)._1 == "xq7", s"twin $id: ${gotClean(id)}")
      assert(gotStats(id)._3 == 1L && gotStats(id)._2 == gotStats(id)._1 - 1,
        s"twin $id must be one maximal span: ${gotStats(id)}")
    }
  }

  test("dup spans: merge law, keepFirst=false, degenerate inputs, knob rejection") {
    import spark.implicits._
    // u* tokens are globally unique; the shared run 's1..s6' (6 tokens)
    // duplicated across docs 1/2 yields windows only with minLen=4
    def run(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val shared = "s1 s2 s3 s4 s5 s6"
    val docs = Seq(
      (1L, s"${run("a", 5)} $shared ${run("b", 5)} $shared ${run("c", 5)}"),
      (2L, s"${run("d", 5)} $shared ${run("e", 5)}"),
      (3L, "tiny text"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = Dedup.dupSpanStats(docs, minLen = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // doc 1 owns the globally-first copy of the run (positions 5..10)
    // but its SECOND, intra-doc copy (16..21) is a non-first occurrence
    // → exactly that one merged 6-token span flags under keepFirst
    assert(st(1L) == ((27L, 6L, 1L, 6L)), s"doc1: ${st(1L)}")
    // doc 2: its copy of the 6-token run = 3 overlapping windows → ONE
    // merged span of exactly 6 tokens
    assert(st(2L) == ((16L, 6L, 1L, 6L)), s"doc2: ${st(2L)}")
    assert(st(3L) == ((2L, 0L, 0L, 0L)) && st(4L) == ((0L, 0L, 0L, 0L)))

    // keepFirst=false: every occurrence drops — doc 1's TWO copies are
    // two separate spans (disjoint, separated by unique b-tokens)
    val all = Dedup.dupSpanStats(docs, minLen = 4, keepFirst = false)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(all(1L) == ((27L, 12L, 2L, 6L)), s"doc1 all: ${all(1L)}")
    assert(all(2L) == ((16L, 6L, 1L, 6L)), s"doc2 all: ${all(2L)}")

    val rm = Dedup.removeDupSpans(docs, minLen = 4, keepFirst = false)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(rm(1L)._1 == s"${run("a", 5)} ${run("b", 5)} ${run("c", 5)}")
    assert(rm(4L) == ((null, 0L, 0L)))

    intercept[IllegalArgumentException](Dedup.dupSpanStats(docs, minLen = 1))
    // key-packing violation fails loudly at execution
    val bad = Seq(("doc-a", (1 to 30).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val ex = intercept[Exception](Dedup.dupSpanStats(bad, minLen = 4).collect())
    assert(ex.getMessage != null)
  }

  test("soft dedup: reciprocal-commonness weights and the deterministic keep rule") {
    import spark.implicits._
    def ph(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 2147483647L)
    // 4 identical docs (distinct shingles, each df=4), one unique doc,
    // one null — texts long enough for >= 1 distinct 3-gram shingle
    val t = (1 to 12).map(i => s"c$i").mkString(" ")
    val u = (1 to 12).map(i => s"u$i").mkString(" ")
    val docs = (Seq(10L, 11L, 12L, 13L).map(id => (id, t)) ++
      Seq((20L, u), (30L, null.asInstanceOf[String]))).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(docs)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // identical cluster: every shingle df=4 → commonness 400 → weight 25
    Seq(10L, 11L, 12L, 13L).foreach { id =>
      assert(w(id) == ((10L, 40L, 400L, 25L)), s"doc $id: ${w(id)}")
    }
    assert(w(20L) == ((10L, 10L, 100L, 100L)), s"unique: ${w(20L)}")
    assert(w(30L) == ((0L, 0L, 0L, 100L)), s"null: ${w(30L)}")

    // selection replays the sampleByRate law: kept iff
    // (polyhash(id) mod 10000) * 100 < 10000 * weight
    val kept = Dedup.softDedupSample(docs).select("doc_id")
      .as[Long].collect().toSet
    val expKept = Map(10L -> 25L, 11L -> 25L, 12L -> 25L, 13L -> 25L,
      20L -> 100L, 30L -> 100L).collect {
      case (id, wt) if (ph(id.toString) % 10000L) * 100 < 10000L * wt => id
    }.toSet
    assert(kept == expKept, s"kept $kept vs $expKept")
    assert(Set(20L, 30L).subsetOf(kept), "full-weight docs always keep")

    intercept[IllegalArgumentException](Dedup.softDedupWeights(docs, n = 0))
  }

  test("quality classifier: learns the rule gate's vocabulary and scores every row") {
    import spark.implicits._
    // strong vocabulary separation between rule-passing and failing
    // docs so the learned model must recover the teacher's split
    val good = (1 to 8).map(i =>
      (i.toLong, "the " + (1 to 30).map(j => s"fine${i}x$j").mkString(" ")))
    // rule-failing: too short (lenOk 0), no stopword, single char
    // tokens (shapeOk 0) → quality ≤ 1
    val bad = (11 to 18).map(i => (i.toLong, s"z$i y q"))
    val docs = (good ++ bad :+ (99L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.qualityClassifier(docs)
    assert(out.count() == docs.count(), "one row per input")
    val preds = out.select("doc_id", "pred").as[(Long, String)]
      .collect().toMap
    good.foreach { case (id, _) => assert(preds(id) == "good", s"doc $id") }
    bad.foreach { case (id, _) => assert(preds(id) == "bad", s"doc $id") }
    // null text falls back to the prior class, never drops
    assert(preds.contains(99L))
    intercept[IllegalArgumentException](
      TextAnalysis.qualityClassifier(docs, minQuality = 5))
  }

  test("cross-domain dup matrix: known overlaps, boilerplate guard, disclosure") {
    import spark.implicits._
    // shingle sets (3-grams): shared = one 3-word run in A and B;
    // universal = a run in all three domains (excluded at maxDomains=2)
    val shared = "p q r"
    val universal = "x y z"
    val docs = Seq(
      (1L, "A", s"a1 a2 a3 $shared $universal"),
      (2L, "B", s"b1 b2 b3 $shared $universal"),
      (3L, "C", s"c1 c2 c3 c4 $universal"),
      (4L, null.asInstanceOf[String], "ignored entirely"),
      (5L, "A", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val m = Dedup.crossDomainDup(docs, maxDomains = 2)
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // doc A: 7 words → 5 shingles; 'r x y'/'q r x' bridge runs, so
    // compute expected overlap independently
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (sa, sb, sc) = (sh(s"a1 a2 a3 $shared $universal"),
      sh(s"b1 b2 b3 $shared $universal"), sh(s"c1 c2 c3 c4 $universal"))
    // pairs only over shingles in EXACTLY 2 domains (maxDomains = 2)
    val in3 = sa & sb & sc
    def cell(x: Set[String], y: Set[String]) = ((x & y) -- in3).size.toLong
    val expAB = cell(sa, sb)
    assert(expAB > 0 && in3.nonEmpty, "fixture must exercise both laws")
    assert(m(("A", "B")) == ((expAB, expAB * 100 / sa.size, expAB * 100 / sb.size)), m)
    assert(m.get(("A", "C")).map(_._1).getOrElse(0L) == cell(sa, sc))
    assert(m.get(("B", "C")).map(_._1).getOrElse(0L) == cell(sb, sc))
    // disclosure: the universal shingles excluded from pair counting
    val ov = Dedup.crossDomainOverflow(docs, maxDomains = 2)
      .as[(Long, Long)].collect().toMap
    assert(ov.size == in3.size && ov.values.forall(_ == 3L), s"overflow: $ov")
    intercept[IllegalArgumentException](Dedup.crossDomainDup(docs, maxDomains = 1))
  }

  test("gopher stats: spam fails the gate, diverse prose passes, knob rejection") {
    import spark.implicits._
    val spam = ((1 to 20).map(_ => "buy cheap pills now") :+ "ok").mkString(" ")
    val prose = (1 to 80).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, spam), (2L, prose), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = graft.ext.TextAnalysis.gopherStats(docs)
    val byId = st.collect().map(r => r.getLong(0) -> r).toMap
    val passIdx = st.columns.indexOf("gopher_pass")
    assert(byId(1L).getLong(passIdx) == 0L, "repeated spam must fail")
    assert(byId(2L).getLong(passIdx) == 1L, "unique prose must pass")
    // null text: all-zero fractions pass (length gates are elsewhere)
    assert(byId(3L).getLong(passIdx) == 1L)
    assert(byId(3L).getLong(st.columns.indexOf("n_chars")) == 0L)
    // the dup-5..10 signals specifically fire on the spam doc
    assert(byId(1L).getLong(st.columns.indexOf("dup10_frac_x100")) > 10L)
    intercept[IllegalArgumentException](
      graft.ext.TextAnalysis.gopherStats(docs, thresholdsX100 = Seq(1, 2)))

    // the division-free Column form agrees with the stats projection
    // on the corpus (floor-division ≤ is cross-multiplied <)
    val corpus = Tables.documents(spark, sf)
    val colPass = corpus.select(col("doc_id"),
      when(graft.ext.TextAnalysis.gopherPass(col("text")), 1L)
        .otherwise(0L).as("p"))
    val statPass = graft.ext.TextAnalysis.gopherStats(corpus)
      .select(col("doc_id"), col("gopher_pass").as("sp"))
    assert(colPass.join(statPass, "doc_id")
      .filter(col("p") =!= col("sp")).count() == 0)
    assert(colPass.filter(col("p") === 1L).count() > 0)
    intercept[IllegalArgumentException](
      graft.ext.TextAnalysis.gopherPass(col("text"), Seq(1)))
  }

  test("gopher line/paragraph rules: hand-computed golden, zero exchanges") {
    import spark.implicits._
    // doc 1: para "aa bb\ncc\naa bb" repeated — every line AND paragraph
    // duplicated; doc 2: all unique; doc 3: null
    val d1 = "aa bb\ncc\naa bb\n\naa bb\ncc\naa bb"
    val d2 = "one two\nthree\n\nfour five"
    val docs = Seq((1L, d1), (2L, d2), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val st = graft.ext.TextAnalysis.gopherLineStats(docs)
    val byId = st.collect().map(r => r.getLong(0) -> r).toMap
    def g(id: Long, c: String) = byId(id).getLong(st.columns.indexOf(c))
    // doc 1 lines: [aa bb, cc, aa bb, "", aa bb, cc, aa bb] → n=7,
    // distinct {aa bb, cc, ""}=3 → dups 4 → 4*100 div 7 = 57;
    // chars: 5+2+5+0+5+2+5=24, distinct 5+2+0=7 → (24-7)*100 div 24=70
    assert(g(1L, "n_lines") == 7L)
    assert(g(1L, "dup_line_frac_x100") == 57L)
    assert(g(1L, "dup_line_char_frac_x100") == 70L)
    // paragraphs: 2 identical → 1 dup → 50; chars 13+13 → 50
    assert(g(1L, "n_paras") == 2L)
    assert(g(1L, "dup_para_frac_x100") == 50L)
    assert(g(1L, "dup_para_char_frac_x100") == 50L)
    assert(g(1L, "gopher_lines_pass") == 0L)
    assert(g(2L, "dup_line_frac_x100") == 0L &&
      g(2L, "gopher_lines_pass") == 1L)
    // null text: zeros, passes
    assert(g(3L, "n_lines") == 0L && g(3L, "gopher_lines_pass") == 1L)
    intercept[IllegalArgumentException](
      graft.ext.TextAnalysis.gopherLineStats(docs, thresholdsX100 = Seq(1)))
    // row-local: the whole derivation is one map stage, no exchange
    val plan = st.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gopherLineStats must be shuffle-free:\n$plan")
  }

  test("lang-balanced mix: alpha-temperature flattens the PREDICTED-language head") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val mixed = graft.ext.Curation.langBalancedMix(docs, docs)
    val kept = mixed.groupBy("lang_pred").count()
      .as[(String, Long)].collect().toMap
    val raw = graft.ext.TextAnalysis.classifyLangId(docs, docs)
      .groupBy("pred").count().as[(String, Long)].collect().toMap
    assert(kept.keySet.subsetOf(raw.keySet))
    kept.foreach { case (l, k) => assert(k <= raw(l), s"$l kept $k > raw") }
    // α = 1/2 keeps the minimum-count language in full and resamples
    // larger ones toward sqrt: the head's keep RATE must be strictly
    // below the tail's (the whole point of temperature balancing)
    val head = raw.maxBy(_._2)._1
    val tail = raw.minBy(_._2)._1
    assert(head != tail, s"corpus must be imbalanced for this test: $raw")
    val headRate = kept.getOrElse(head, 0L).toDouble / raw(head)
    val tailRate = kept.getOrElse(tail, 0L).toDouble / raw(tail)
    assert(headRate < tailRate,
      s"head $head rate $headRate must be < tail $tail rate $tailRate")
    // output ids are a subset of the input's and carry the prediction
    assert(mixed.columns.toSeq == Seq("doc_id", "lang_pred"))
  }

  test("bloom gate: zero false negatives, bounded FPR, exact-equal result") {
    import spark.implicits._
    val keys = (0L until 2000L).map(_ * 2654435761L).toDF("gram")
    val numBits = 1 << 15
    val k = 5
    val bits = graft.ext.BloomGate.buildBits(keys, col("gram"), numBits, k)
    // every inserted key MUST probe true — bloom's hard guarantee
    val misses = keys
      .filter(!graft.ext.BloomGate.mightContain(col("gram"), bits, numBits, k))
      .count()
    assert(misses == 0L, s"$misses false negatives")
    // disjoint probe set: hit rate within 2x of (1 - e^{-kn/m})^k
    val fresh = (0L until 4000L).map(i => i * 2654435761L + 1L).toDF("gram")
    val fp = fresh
      .filter(graft.ext.BloomGate.mightContain(col("gram"), bits, numBits, k))
      .count()
    val expected = graft.functions.BloomBits.expectedFpr(2000L, numBits, k)
    assert(fp <= math.max(2.0 * expected * 4000, 8.0),
      s"fpr ${fp / 4000.0} vs expected $expected")
    // the gated decontamination is BIT-IDENTICAL to the exact operator
    // even under a deliberately saturated 512-bit filter (FPR ≈ 1 —
    // every false positive must die in the confirm join)
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter("doc_id % 7 <> 2")
    val bench = docs.filter("doc_id % 7 = 2")
    val exact = graft.ext.Decontamination
      .decontaminate(corpus, bench, minOverlap = 2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val gated = graft.ext.BloomGate
      .decontaminate(corpus, bench, minOverlap = 2, numBits = 512, k = 3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(gated == exact)
  }

  test("count-min sketch: never undercounts, bounded error, exact-equal hitters") {
    import spark.implicits._
    // zipf-ish synthetic: word_i has weight ~ 3000/i
    val toks = (1 to 200).map(i => (s"word_$i", 3000L / i))
      .toDF("word", "weight")
    val (d, w) = (4, 1024)
    val table = graft.ext.FreqSketch.buildCms(
      toks, col("word"), col("weight"), d, w)
    val est = toks.withColumn("est",
      graft.ext.FreqSketch.cmsEstimate(col("word"), table, d, w))
      .as[(String, Long, Long)].collect()
    val n = est.map(_._2).sum
    est.foreach { case (word, exact, e) =>
      assert(e >= exact, s"$word undercounted: $e < $exact")
      assert(e - exact <= (2.0 * math.E * n / w).toLong + 1,
        s"$word error ${e - exact} above bound")
    }
    // the probe prunes the tail before the exact aggregation...
    val survivors = toks.filter(
      graft.ext.FreqSketch.cmsEstimate(col("word"), table, d, w) >= 300L)
      .count()
    assert(survivors < 200, "probe must cut the tail")
    assert(survivors >= 10, "head must survive")
    // ...and the end-to-end operator is bit-identical to exact, even
    // under a collision-saturated 2x16 sketch
    val docs = Tables.documents(spark, sf)
    val exact = graft.ext.FreqSketch.tokenWeights(docs)
      .groupBy("word").agg(sum("weight").as("n"))
      .filter(col("n") >= 50).as[(String, Long)].collect().sorted.toSeq
    val sketched = graft.ext.FreqSketch
      .heavyHitterWords(docs, threshold = 50L, d = 2, w = 16)
      .as[(String, Long)].collect().sorted.toSeq
    assert(sketched == exact)
  }

  test("pmiCollocations: hand-computed integer golden (bin-length law)") {
    import spark.implicits._
    // bigrams: "a b"×5, "b a"×2, "b c"×2, "c a"×1; N = 10
    // unigrams: a=5, b=6, c=2; L = bitlen
    val docs = Seq(
      (1L, "a b a b a b"), (2L, "a b c a b"), (3L, "b c"),
      (4L, "solo"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 2L)
      .orderBy("w1", "w2")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    // "c a" (count 1) cut by minCount; "solo" contributes no bigram but
    // its unigram enters c( ) only via tfRelation — N stays bigram-only
    assert(got == Seq(
      ("a", "b", 5L, 5L, 6L, 10L, (3 - 3) + (4 - 3).toLong),
      ("b", "a", 2L, 6L, 5L, 10L, (2 - 3) + (4 - 3).toLong),
      ("b", "c", 2L, 6L, 2L, 10L, (2 - 3) + (4 - 2).toLong)))
  }

  test("rocchio + knn classify planted separable clusters perfectly") {
    import spark.implicits._
    // two tight clusters: label 0 near axis 3, label 1 near axis 40,
    // with a small per-point deterministic jitter on a side axis
    def vec(center: Int, j: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      a(center) = 1.0f
      a((center + 7 + (j % 11)) % 64) = 0.3f
      a
    }
    def rows(ids: Range) = ids.map { i =>
      val lab = i % 2
      (i.toLong, vec(if (lab == 0) 3 else 40, i), lab)
    }
    val train = rows(0 until 40).toDF("vec_id", "embedding", "label")
    val queries = rows(100 until 110).toDF("vec_id", "embedding", "label")

    val roc = graft.ext.Similarity.classifyRocchio(queries, train)
      .select("vec_id", "pred_label").as[(Long, Int)].collect().toMap
    assert(roc.size == 10)
    roc.foreach { case (id, pred) =>
      assert(pred == (id % 2).toInt, s"rocchio misclassified $id -> $pred")
    }

    val knn = graft.ext.Similarity.knnClassify(train, queries, k = 5,
      centroids = 4)
      .select("vec_id", "pred_label", "votes").as[(Long, Int, Long)]
      .collect()
    assert(knn.length == 10)
    knn.foreach { case (id, pred, votes) =>
      assert(pred == (id % 2).toInt, s"knn misclassified $id -> $pred")
      // a unanimous 5-vote majority: the clusters are far apart, so all
      // k neighbours share the query's label
      assert(votes == 5L, s"expected unanimous votes for $id, got $votes")
    }
  }

  test("dedupLines: global first-occurrence, per-doc scope, newline rebuild") {
    import spark.implicits._
    val docs = Seq(
      (1L, "header\nalpha beta\nheader"),   // intra-doc repeat
      (2L, "header\ngamma delta"),          // cross-doc repeat of doc 1's line
      (3L, "epsilon\n\nzeta"),              // empty line, unique elsewhere
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val global = Dedup.dedupLines(docs)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(global == Seq(
      (1L, "header\nalpha beta", 3L, 2L),   // second 'header' dropped
      (2L, "gamma delta", 2L, 1L),          // doc 1 owns 'header'
      (3L, "epsilon\n\nzeta", 3L, 3L),
      (4L, null, 0L, 0L)), global.toString)

    // per-document scope: cross-doc repeats survive, intra-doc don't
    val perDoc = Dedup.dedupLines(docs, perDocument = true)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(perDoc.head == (1L, "header\nalpha beta", 3L, 2L))
    assert(perDoc(1) == (2L, "header\ngamma delta", 2L, 2L),
      s"cross-doc repeat must survive per-doc scope: ${perDoc(1)}")

    // keepFirst = false: every copy of a repeated line goes
    val strict = Dedup.dedupLines(docs, keepFirst = false)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(strict.head == (1L, "alpha beta", 3L, 1L), strict.toString)
    assert(strict(1) == (2L, "gamma delta", 2L, 1L))
  }

  test("KN trigram: continuation counts punish phrase-locked words; plugs into perplexityBuckets") {
    import spark.implicits._
    // "francisco" and "common" have EQUAL raw frequency (10 each), but
    // francisco only ever follows "san" (continuation count 1) while
    // common follows 10 distinct predecessors (continuation count 10).
    // Under the KN unigram floor an unseen-context occurrence of
    // francisco must cost MORE bits than one of common — the signature
    // a raw-frequency backoff model cannot produce.
    val train = (0 until 10).map { i =>
      (i * 2L, s"p$i q$i san francisco and p$i w$i common here")
    }.toDF("doc_id", "text")
    val probe = Seq((1L, "zz yy francisco"), (3L, "zz yy common"))
      .toDF("doc_id", "text")
    val model = graft.ext.TextAnalysis.knTrigramModel(train)
    val got = graft.ext.TextAnalysis.knTrigramScoreWith(probe, model)
      .select("doc_id", "surprisal").as[(Long, Long)].collect().toMap
    assert(got(1L) > got(3L),
      s"phrase-locked 'francisco' must cost more bits than free " +
        s"'common' under KN continuation counts: $got")

    // drop-in scorer: the CCNet bucket stage accepts the KN rung
    val docs = Tables.documents(spark, sf).limit(120)
    val buckets = graft.ext.Curation.perplexityBuckets(docs,
      scorer = graft.ext.TextAnalysis.knTrigramSurprisal(_))
    val names = buckets.select("bucket").distinct()
      .as[String].collect().toSet
    assert(names.subsetOf(Set("head", "middle", "tail")) && names.nonEmpty)
    assert(buckets.count() == docs.count(),
      "one bucket row per scored document")
  }

  test("persisted NB bundle classifies bit-identically to in-session training") {
    val docs = Tables.documents(spark, sf).limit(200)
    val lab = docs.select(col("doc_id"), col("lang").as("label"), col("text"))
    // word-tokenizer bundle: disk round-trip vs the straight chain
    TextAnalysis.writeNbBundle(lab, "spec_nb_word", labelCol = "label")
    val loaded = TextAnalysis.loadNbBundle(spark, "spec_nb_word")
    val direct = TextAnalysis
      .classifyNaiveBayes(docs, lab, labelCol = "label")
      .orderBy("doc_id").collect().toSeq
    val viaDisk = TextAnalysis.classifyWith(docs, loaded)
      .orderBy("doc_id").collect().toSeq
    assert(direct == viaDisk,
      "persisted word bundle must classify bit-identically")

    // char-trigram bundle: the tokenizer NAME must survive the
    // round-trip and resolve back to the same tf space
    TextAnalysis.writeNbBundle(lab, "spec_nb_c3", labelCol = "label",
      tokenizer = "char3")
    val loaded3 = TextAnalysis.loadNbBundle(spark, "spec_nb_c3")
    val direct3 = TextAnalysis.classifyNaiveBayes(docs, lab,
        labelCol = "label", tfs = graft.functions.charTrigramTfs)
      .orderBy("doc_id").collect().toSeq
    val viaDisk3 = TextAnalysis.classifyWith(docs, loaded3)
      .orderBy("doc_id").collect().toSeq
    assert(direct3 == viaDisk3,
      "persisted char3 bundle must classify bit-identically")

    // an unregistered tokenizer must fail loudly at WRITE time
    intercept[IllegalArgumentException] {
      TextAnalysis.writeNbBundle(lab, "spec_nb_bad", labelCol = "label",
        tokenizer = "bpe")
    }

    // QUALITY bundle (rule-teacher labels through the same lifecycle):
    // the persisted classifier must score bit-identically to the
    // in-session qualityClassifier chain
    TextAnalysis.writeQualityBundle(docs, "spec_qc_bundle")
    val qcDirect = TextAnalysis.qualityClassifier(docs)
      .orderBy("doc_id").collect().toSeq
    val qcViaDisk = TextAnalysis.classifyWith(docs,
        TextAnalysis.loadNbBundle(spark, "spec_qc_bundle"))
      .orderBy("doc_id").collect().toSeq
    assert(qcDirect == qcViaDisk,
      "persisted quality bundle must classify bit-identically")
  }

  test("dpoPairs: best-vs-worst with tie law, margin floor, null hygiene") {
    import spark.implicits._
    // prompt A: scores 5, 3, 1 → chosen 10 (5), rejected 12 (1), margin 4
    // prompt B: top tie (7, 7) → smallest id 20 chosen; low tie (2, 2)
    //   → smallest id 22 rejected
    // prompt C: flat scores → margin 0, dropped by the floor
    // prompt D: single response → margin 0, dropped
    // null prompt/score rows don't participate
    val resp = Seq(
      (Some("A"), 10L, Some(5L)), (Some("A"), 11L, Some(3L)),
      (Some("A"), 12L, Some(1L)),
      (Some("B"), 20L, Some(7L)), (Some("B"), 21L, Some(7L)),
      (Some("B"), 22L, Some(2L)), (Some("B"), 23L, Some(2L)),
      (Some("C"), 30L, Some(4L)), (Some("C"), 31L, Some(4L)),
      (Some("D"), 40L, Some(9L)),
      (None, 50L, Some(8L)), (Some("A"), 13L, None))
      .toDF("prompt_id", "response_id", "score")
    val got = graft.ext.Preference
      .dpoPairs(resp, "response_id")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("A", "B"), got.keySet)
    val a = got("A")
    assert(a.getLong(a.fieldIndex("chosen_id")) == 10L &&
      a.getLong(a.fieldIndex("rejected_id")) == 12L &&
      a.getLong(a.fieldIndex("margin")) == 4L &&
      a.getLong(a.fieldIndex("n_responses")) == 3L, a)
    val b = got("B")
    assert(b.getLong(b.fieldIndex("chosen_id")) == 20L &&
      b.getLong(b.fieldIndex("rejected_id")) == 22L &&
      b.getLong(b.fieldIndex("margin")) == 5L, b)
    // a margin floor above the spread drops A too
    assert(graft.ext.Preference
      .dpoPairs(resp, "response_id", minMargin = 5L)
      .collect().map(_.getString(0)).toSet == Set("B"))
    intercept[IllegalArgumentException](graft.ext.Preference
      .dpoPairs(resp, "response_id", minMargin = 0L))
  }

  test("chat render + spans: template law, code-point grain, shared offsets") {
    import spark.implicits._
    val turns = Seq(
      (1L, 0L, "user", "hi"), (1L, 1L, "assistant", "hello 😀"),
      (1L, 2L, "user", "bye"),
      (2L, 0L, "system", "be brief"),
      (3L, 0L, null.asInstanceOf[String], "orphan"),
      (3L, 1L, "user", null.asInstanceOf[String]))
      .toDF("conv_id", "turn_idx", "role", "content")
    val rendered = graft.ext.Packing.renderChat(turns).collect()
      .map(r => r.getLong(0) -> r).toMap
    // null role/content turns dropped → conv 3 renders nothing
    assert(rendered.keySet == Set(1L, 2L), rendered.keySet)
    val c1 = rendered(1L)
    assert(c1.getString(c1.fieldIndex("text")) ==
      "<|user|>\nhi\n<|assistant|>\nhello 😀\n<|user|>\nbye\n", c1)
    assert(c1.getLong(c1.fieldIndex("n_turns")) == 3L, c1)
    // n_chars counts the emoji as ONE code point:
    // (4+2+6) + (9+7+6) + (4+3+6) = 12 + 22 + 13 = 47
    assert(c1.getLong(c1.fieldIndex("n_chars")) == 47L, c1)
    val spans = graft.ext.Packing.chatSpans(turns).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // turn 0 content 'hi' starts at len('user')+5 = 9, ends 11
    val s0 = spans((1L, 0L))
    assert(s0.getLong(s0.fieldIndex("content_start")) == 9L &&
      s0.getLong(s0.fieldIndex("content_end")) == 11L &&
      !s0.getBoolean(s0.fieldIndex("is_loss")), s0)
    // turn 1 starts after turn 0's 12 chars: 12+len('assistant')+5 =
    // 26, content 'hello 😀' = 7 code points → end 33, loss-bearing
    val s1 = spans((1L, 1L))
    assert(s1.getLong(s1.fieldIndex("content_start")) == 26L &&
      s1.getLong(s1.fieldIndex("content_end")) == 33L &&
      s1.getBoolean(s1.fieldIndex("is_loss")), s1)
    // turn 2 starts after 12+22 = 34: 34+4+5 = 43, ends 46
    val s2 = spans((1L, 2L))
    assert(s2.getLong(s2.fieldIndex("content_start")) == 43L &&
      s2.getLong(s2.fieldIndex("content_end")) == 46L, s2)
    // spans agree with the rendered string: slicing [start, end) out
    // of the conv-1 text recovers each content (java substring is
    // UTF-16-indexed, so recount via code points)
    val text = c1.getString(c1.fieldIndex("text"))
    def cpSlice(s: String, a: Long, b: Long): String = {
      val i = s.offsetByCodePoints(0, a.toInt)
      val j = s.offsetByCodePoints(0, b.toInt)
      s.substring(i, j)
    }
    assert(cpSlice(text, 9L, 11L) == "hi")
    assert(cpSlice(text, 26L, 33L) == "hello 😀")
    assert(cpSlice(text, 43L, 46L) == "bye")
  }

  test("chat datasheet: per-role masses, null turns dropped, shares floor to <= 10^4") {
    import spark.implicits._
    val turns = Seq(
      (1L, 0L, "user", "one two"), (1L, 1L, "assistant", "a b c d"),
      (2L, 0L, "user", "three"), (2L, 1L, null.asInstanceOf[String], "x"))
      .toDF("conv_id", "turn_idx", "role", "content")
    val got = graft.ext.Packing.chatDatasheet(turns).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == Set("user", "assistant"), got.keySet)
    val u = got("user"); val a = got("assistant")
    assert(u.getLong(1) == 2L && u.getLong(2) == 2L && u.getLong(3) == 3L, u)
    assert(a.getLong(1) == 1L && a.getLong(2) == 1L && a.getLong(3) == 4L, a)
    // shares floor-divide: 3/7 and 4/7 of 10^4
    assert(u.getLong(4) == 4285L && a.getLong(4) == 5714L, (u, a))
    assert(u.getLong(4) + a.getLong(4) <= 10000L)
  }

  private def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  test("dpoPairs: fractional score column fails loud (no silent truncation)") {
    import spark.implicits._
    val resp = Seq(("A", 10L, 0.9), ("A", 11L, 0.1))
      .toDF("prompt_id", "response_id", "score")
    val e = intercept[IllegalArgumentException](graft.ext.Preference
      .dpoPairs(resp, "response_id"))
    assert(e.getMessage.contains("integral score column"), e.getMessage)
    // an integer-typed column of any width still works
    val ok = Seq(("A", 10L, 9), ("A", 11L, 1))
      .toDF("prompt_id", "response_id", "score")
    assert(graft.ext.Preference
      .dpoPairs(ok, "response_id").count() == 1L)
  }

  test("chat render + spans: duplicate turn_idx fails loud on both faces") {
    import spark.implicits._
    val dup = Seq(
      (1L, 0L, "user", "hi"), (1L, 0L, "assistant", "clash"),
      (2L, 0L, "user", "fine"))
      .toDF("conv_id", "turn_idx", "role", "content")
    val er = intercept[Throwable](
      graft.ext.Packing.renderChat(dup).collect())
    assert(causeMessages(er).exists(_.contains("duplicate turn_idx")), er)
    val es = intercept[Throwable](
      graft.ext.Packing.chatSpans(dup).collect())
    assert(causeMessages(es).exists(_.contains("duplicate turn_idx")), es)
    // unique indexes (per conversation) stay green
    val ok = Seq((1L, 0L, "user", "hi"), (1L, 1L, "assistant", "yo"),
      (2L, 0L, "user", "fine"))
      .toDF("conv_id", "turn_idx", "role", "content")
    assert(graft.ext.Packing.renderChat(ok).count() == 2L)
    assert(graft.ext.Packing.chatSpans(ok).count() == 3L)
  }

  test("embedding recall audit: absolute cap bounds the sample deterministically; zero-norm vectors excluded") {
    import spark.implicits._
    // 40 distinct unit-ish vectors + one all-zero vector; fraction 1.0
    // would sample all 41 — the cap must keep exactly maxSample of the
    // 40 NONZERO vectors (zero-norm has no cosine to anything), and the
    // kept set must be the ascending-(fingerprint, id) prefix: stable
    // under repartitioning.
    val vecs = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(8)(j => if (j == i % 8) 1.0f else 0.1f))) :+
      (99L, Array.fill(8)(0.0f))
    val emb = vecs.toDF("vec_id", "embedding")
    val a = Similarity.embeddingRecallAudit(emb, sampleFraction = 1.0,
      threshold = 0.999, planes = 3, dims = 8, tables = 2, maxSample = 12)
      .collect().head
    assert(a.getLong(a.fieldIndex("n_sampled")) == 12L, a)
    val b = Similarity.embeddingRecallAudit(emb.repartition(7),
      sampleFraction = 1.0, threshold = 0.999, planes = 3, dims = 8,
      tables = 2, maxSample = 12).collect().head
    assert(a == b, s"cap prefix must be partitioning-independent: $a vs $b")
    // no cap pressure → every nonzero vector sampled, zero-norm still out
    val c = Similarity.embeddingRecallAudit(emb, sampleFraction = 1.0,
      threshold = 0.999, planes = 3, dims = 8, tables = 2)
      .collect().head
    assert(c.getLong(c.fieldIndex("n_sampled")) == 40L, c)
  }
}
