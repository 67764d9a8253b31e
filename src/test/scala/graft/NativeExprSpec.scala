package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.functions.{leveledWordGrams, wordGrams}

/** Native Catalyst expressions: CosineSim must be bit-identical to the
  * higher-order-function spec it replaces, behave on edge shapes, and be
  * reachable from SQL via GraftExtensions.
  */
class NativeExprSpec extends SparkSuite {

  test("native cosine is bit-identical to the HOF formulation on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .filter(col("ia") < 5)
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val both = a.join(b, col("ia") =!= col("ib"))
      .select(
        Similarity.cosine(col("va"), col("vb")).as("native"),
        Similarity.cosineHof(col("va"), col("vb")).as("hof"))
    // bitwise equality, not tolerance: same fold order must give the
    // same doubles
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("native cosine edge shapes: mismatched length, zero vector, nulls") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), "same"),
      (Seq(1.0f, 2.0f), Seq(1.0f), "mismatch"),
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f), "zero"),
      (null, Seq(1.0f), "null"))
      .toDF("a", "b", "tag")
    val out = df.select(col("tag"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out("same").exists(c => math.abs(c - 1.0) < 1e-12))
    assert(out("mismatch").isEmpty)
    assert(out("zero").isEmpty)
    assert(out("null").isEmpty)
  }

  test("native IntDot is identical to the HOF integer aggregate on quantized embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Similarity.quantizeInt8(emb.filter(col("embedding").isNotNull))
    val a = q.select(col("vec_id").as("ia"), col("qvec").as("qa")).filter(col("ia") < 5)
    val b = q.select(col("vec_id").as("ib"), col("qvec").as("qb"))
    val both = a.join(b, col("ia") =!= col("ib"))
      .select(graft.functions.intDot(col("qa"), col("qb")).as("native"),
        aggregate(zip_with(col("qa"), col("qb"), (p, r) => p * r),
          lit(0L), (acc, v) => acc + v).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("int8 quantization invariants and int8 top-k determinism") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Similarity.quantizeInt8(emb)
    // range law: every quantized element in [-127, 127]; the per-vector
    // max |q| is exactly 127 wherever the vector is non-zero
    val stats = q.filter(col("qvec").isNotNull).select(
      aggregate(col("qvec"), lit(0L), (a, v) => greatest(a, abs(v))).as("m"),
      col("maxabs"))
    assert(stats.filter(col("m") > 127L).count() == 0)
    assert(stats.filter(col("maxabs") > 0.0 && col("m") =!= 127L).count() == 0,
      "a non-zero vector must saturate its own max element to exactly 127")
    // hand-checked grid: maxabs 4 → [127, floor(-63.5)=-64, 31, 0]
    val hand = Similarity.quantizeInt8(
      Seq((1L, Seq(4.0f, -2.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding"))
      .select("qvec").as[Seq[Long]].collect().head
    assert(hand == Seq(127L, -64L, 31L, 0L), s"got $hand")
    // zero + null vectors: all-zero qvec with scale 0 / null qvec
    val edge = Similarity.quantizeInt8(
      Seq((1L, Seq(0.0f, 0.0f)), (2L, null: Seq[Float]))
        .toDF("vec_id", "embedding")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1),
        r.getDouble(2))).toMap
    assert(edge(1L) == (Seq(0L, 0L), 0.0))
    assert(edge(2L)._1 == null && edge(2L)._2 == 0.0)
    // search: k per query, self excluded, repartition-stable, heap plan
    val ids = Seq(0L, 1L, 2L)
    val t = Similarity.int8TopK(emb, ids, 8)
    assert(t.groupBy("query_id").count().filter(col("count") =!= 8L).count() == 0)
    assert(t.filter(col("query_id") === col("neighbor_id")).count() == 0)
    val t2 = Similarity.int8TopK(emb.repartition(13), ids, 8)
    assert(rows(t.select("query_id", "neighbor_id", "qdot", "rank")) ==
      rows(t2.select("query_id", "neighbor_id", "qdot", "rank")))
    assert(t.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    // exact duplicate of query 0's direction (scaled copy) must rank
    // first: same int8 grid after per-vector scaling
    val v0 = emb.filter(col("vec_id") === 0L).select("embedding")
      .as[Seq[Float]].collect().head
    val planted = emb.select("vec_id", "embedding")
      .union(Seq((9001L, v0.map(_ * 2.0f))).toDF("vec_id", "embedding"))
    val r = Similarity.int8TopK(planted, Seq(0L), 3)
      .filter(col("rank") === 1L).select("neighbor_id").as[Long].collect().head
    assert(r == 9001L, s"scaled copy must be the int8 nearest neighbour, got $r")
  }

  test("TopKPerKey operator matches the window formulation and shrinks the exchange") {
    import spark.implicits._
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ids = Seq(0L, 1L, 2L, 3L, 4L)
    val viaWindow = Similarity.topKByIds(emb, ids, 10)
      .select("query_id", "neighbor_id", "cos", "rank")
    val viaOperator = Similarity.topKByIdsNative(emb, ids, 10)
      .select("query_id", "neighbor_id", "cos", "rank")
    assert(rows(viaOperator) == rows(viaWindow))

    // the physical plan is the two-phase custom exec, not a window sort
    val plan = Similarity.topKByIdsNative(emb, ids, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("native repetition stats are identical to the sorted run-length HOF spec on the corpus") {
    import graft.ext.TextAnalysis
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = col("text")
    val both = docs.select(
      TextAnalysis.gramCount(t).as("ng"), TextAnalysis.gramCountHof(t).as("ngh"),
      TextAnalysis.maxGramCount(t).as("mg"), TextAnalysis.maxGramCountHof(t).as("mgh"),
      TextAnalysis.dupGramCount(t).as("dg"), TextAnalysis.dupGramCountHof(t).as("dgh"))
    assert(both.filter(col("ng") =!= col("ngh") || col("mg") =!= col("mgh") ||
      col("dg") =!= col("dgh")).count() == 0)
    assert(both.count() > 0)
    // edge shapes: null text → null struct (the query layer coalesces);
    // short/empty/empty-word texts agree with the split(" ") semantics
    import spark.implicits._
    val edges = (Seq("single", "a a", "a  a", "x y x y x") ++
      Fixtures.edgeTexts).toDF("text")
    val e = edges.select(
      TextAnalysis.gramCount(col("text")).as("ng"),
      TextAnalysis.maxGramCount(col("text")).as("mg"),
      TextAnalysis.dupGramCount(col("text")).as("dg"),
      TextAnalysis.gramCountHof(col("text")).as("ngh"),
      TextAnalysis.maxGramCountHof(col("text")).as("mgh"),
      TextAnalysis.dupGramCountHof(col("text")).as("dgh"))
    assert(e.filter(col("ng") =!= col("ngh") || col("mg") =!= col("mgh") ||
      col("dg") =!= col("dgh")).count() == 0)
    val nul = Seq((1L, null: String)).toDF("id", "text")
      .select(TextAnalysis.maxGramCount(col("text"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("native word-tf array is identical to the explode+groupBy formulation on the corpus") {
    import graft.functions.wordTfs
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
      .unionByName(Fixtures.edgeTexts.zipWithIndex
        .map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text"))
    // twin: the (doc, word, tf) relation the corpus-wide aggregation
    // produced before round 11 — same rows, now computed row-locally
    val native = docs
      .select(col("doc_id"), explode(wordTfs(col("text"))).as("wt"))
      .select(col("doc_id"), col("wt.word").as("word"), col("wt.tf").as("tf"))
    val agg = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    assert(native.count() > 0)
    assert(native.exceptAll(agg).count() == 0 && agg.exceptAll(native).count() == 0)
    // the native tf relation involves NO exchange — it is a map stage
    assert(!native.queryExecution.executedPlan.toString.contains("Exchange"),
      native.queryExecution.executedPlan.toString)
    // edge shapes under the split-keeping-empties contract: empty text
    // = one empty word; double space = an empty middle word; null → null
    val edge = Seq("", "a  a", " ").toDF("text")
      .select(col("text"), wordTfs(col("text")).as("w"))
      .as[(String, Seq[(String, Long)])].collect().toMap
    assert(edge("") == Seq("" -> 1L))
    assert(edge("a  a").toSet == Set("a" -> 2L, "" -> 1L))
    assert(edge(" ") == Seq("" -> 2L))
    val nul = Seq((1L, null: String)).toDF("id", "text")
      .select(wordTfs(col("text"))).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("native char-trigram-tf array is identical to the re-encode + wordTfs formulation") {
    import graft.functions.{charTrigramTfs, wordTfs}
    import graft.ext.TextAnalysis.charTrigrams
    // twin on the corpus: same (gram, tf) multiset per doc, same
    // first-occurrence order (both LinkedHashMap passes walk the same
    // gram sequence)
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val both = docs.select(
      charTrigramTfs(col("text")).as("native"),
      wordTfs(charTrigrams(col("text"))).as("encoded"))
    assert(both.filter(col("native") =!= col("encoded")).count() == 0)
    assert(both.count() > 0)
    // edge shapes: short text collapses (spaces → _), empty = one empty
    // gram, multi-byte chars gram by CODE POINT, null → null
    import spark.implicits._
    val edge = Seq("", "ab", "a b", "abc", "the cat", "héllo")
      .toDF("text")
      .select(col("text"), charTrigramTfs(col("text")).as("g"))
      .as[(String, Seq[(String, Long)])].collect().toMap
    assert(edge("") == Seq("" -> 1L))
    assert(edge("ab") == Seq("ab" -> 1L))
    assert(edge("a b") == Seq("a_b" -> 1L))
    assert(edge("abc") == Seq("abc" -> 1L))
    assert(edge("the cat") ==
      Seq("the" -> 1L, "he_" -> 1L, "e_c" -> 1L, "_ca" -> 1L, "cat" -> 1L))
    assert(edge("héllo") ==
      Seq("hél" -> 1L, "éll" -> 1L, "llo" -> 1L))
    val nul = Seq((1L, null: String)).toDF("id", "text")
      .select(charTrigramTfs(col("text"))).collect()(0)
    assert(nul.isNullAt(0))
    // repeats count: "aaaa" → aaa ×2
    val rep = Seq("aaaa").toDF("text")
      .select(charTrigramTfs(col("text")).as("g"))
      .as[Seq[(String, Long)]].head()
    assert(rep == Seq("aaa" -> 2L))
  }

  test("native shingle-hash set is identical to the HOF formulation on the corpus") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text")).union(Fixtures.edgeTexts.toDF("text"))
    val both = docs.select(
      graft.ext.Dedup.shingleHashes(col("text")).as("native"),
      graft.ext.Dedup.shingleHashesHof(col("text")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)

    // short-doc fallback (fewer words than the shingle width)
    val short = Seq((1L, "two words")).toDF("doc_id", "text")
    val s = short.select(
      graft.ext.Dedup.shingleHashes(col("text")).as("native"),
      graft.ext.Dedup.shingleHashesHof(col("text")).as("hof")).collect().head
    assert(s.getSeq[Long](0) == s.getSeq[Long](1) && s.getSeq[Long](0).length == 1)

    // null text → null through BOTH formulations (=!= is null-blind, so
    // assert explicitly rather than via the filter-count idiom)
    val nul = Seq((2L, null: String)).toDF("doc_id", "text").select(
      graft.ext.Dedup.shingleHashes(col("text")).as("native"),
      graft.ext.Dedup.shingleHashesHof(col("text")).as("hof")).collect().head
    assert(nul.isNullAt(0) && nul.isNullAt(1))
  }

  test("native minhash signature is identical to the HOF formulation, incl. empty sets") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(graft.ext.Dedup.shingleHashes(col("text")).as("hs"))
      .union(Seq(Seq.empty[Long]).toDF("hs")) // empty hash set edge
    val both = docs.select(
      graft.ext.Dedup.minhashSignature(col("hs")).as("native"),
      graft.ext.Dedup.minhashSignatureHof(col("hs")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("native simhash is identical to the HOF formulation, incl. empty sets") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(graft.ext.Dedup.shingleHashes(col("text")).as("hs"))
      .union(Seq(Seq.empty[Long]).toDF("hs")) // empty set: all bits tie to 1
    val both = docs.select(
      graft.ext.Dedup.simhash(col("hs")).as("native"),
      graft.ext.Dedup.simhashHof(col("hs")).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)
  }

  test("native fused LSH buckets are identical to the HOF formulation on real embeddings") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (tables, planes, dims) = (8, 7, 64)
    val hof = array((0 until tables).map(t =>
      Similarity.lshBucketHof(col("embedding"), t, planes, dims)): _*)
    val both = emb.select(
      Similarity.lshAllBuckets(col("embedding"), tables, planes, dims).as("native"),
      hof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
    assert(both.count() > 0)

    // shape edges, mirroring the HOF's null-projection collapse:
    // wrong length or a null element → all-zero buckets; null vec → null
    import spark.implicits._
    val edges = Seq(
      ("short", Seq[java.lang.Float](1.0f, 2.0f)),
      ("nullelem", Seq[java.lang.Float](null) ++
        (1 until dims).map(i => java.lang.Float.valueOf(i.toFloat))),
      ("nullvec", null: Seq[java.lang.Float]),
      ("nan", Seq[java.lang.Float](java.lang.Float.valueOf(Float.NaN)) ++
        (1 until dims).map(i => java.lang.Float.valueOf(i.toFloat))))
      .toDF("tag", "v")
    val out = edges.select(col("tag"),
      Similarity.lshAllBuckets(col("v"), 2, 3, dims).as("b"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getSeq[Long](1)))).toMap
    assert(out("short").contains(Seq(0L, 0L)))
    assert(out("nullelem").contains(Seq(0L, 0L)))
    assert(out("nullvec").isEmpty)
    // NaN projections: Spark SQL orders NaN above every double, so the
    // HOF's `proj >= 0` is TRUE — native must agree (Java would say no)
    val nanBoth = edges.filter(col("tag") === "nan").select(
      Similarity.lshAllBuckets(col("v"), 2, 3, dims).as("native"),
      array((0 until 2).map(t =>
        Similarity.lshBucketHof(col("v"), t, 3, dims)): _*).as("hof"))
      .collect().head
    assert(nanBoth.getSeq[Long](0) == nanBoth.getSeq[Long](1))
    assert(nanBoth.getSeq[Long](0) == Seq(7L, 7L)) // all 3 bits set
  }

  test("SQL surface: polyhash and cosine_sim registered via GraftExtensions") {
    val fp = spark.sql("SELECT polyhash('abc') AS fp").collect().head.getLong(0)
    // 'a'=97,'b'=98,'c'=99: ((97*31+98)*31+99) % (2^31-1)
    assert(fp == ((97L * 31 + 98) * 31 + 99) % 2147483647L)

    val c = spark.sql(
      "SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)

    // arity errors surface as analysis-time failures, not runtime ones
    intercept[Exception](spark.sql("SELECT polyhash('a', 'b')").collect())
  }

  test("native gopher repetition vector matches a plain-Scala replay on the corpus") {
    import spark.implicits._
    import graft.functions.GopherRepetition
    // independent replay of the law: split on single spaces keeping
    // empties, gram = n adjacent words space-joined, stat in BYTES
    def replay(t: String): Seq[Long] = {
      val ws = t.split(" ", -1)
      def counts(n: Int): Map[String, Long] =
        if (ws.length < n) Map.empty
        else ws.sliding(n).map(_.mkString(" ")).toSeq
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
      GopherRepetition.TopNs.map { n =>
        val c = counts(n)
        if (c.isEmpty) 0L
        else c.map { case (g, k) => k * g.getBytes("UTF-8").length }.max
      } ++ GopherRepetition.DupNs.map { n =>
        counts(n).collect { case (g, k) if k >= 2 =>
          k * g.getBytes("UTF-8").length }.sum
      }
    }
    val g = org.apache.spark.sql.graft.Bridge.column(
      GopherRepetition(
        org.apache.spark.sql.graft.Bridge.expression(col("text"))))
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(100)
    val rows = docs.select(col("text"), g.as("g")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val got = r.getStruct(1).toSeq.map(_.asInstanceOf[Long])
      assert(got == replay(r.getString(0)), s"text: ${r.getString(0).take(60)}")
    }
    // edges: repeated gram dominance, empties, single word, null
    val edges = Seq("spam spam spam spam spam", "", "one", "a  a", " ")
      .toDF("text")
    edges.select(col("text"), g.as("g")).collect().foreach { r =>
      val got = r.getStruct(1).toSeq.map(_.asInstanceOf[Long])
      assert(got == replay(r.getString(0)), s"edge '${r.getString(0)}'")
    }
    val nul = Seq((1L, null: String)).toDF("id", "text")
      .select(g).collect()(0)
    assert(nul.isNullAt(0))
  }

  test("C4Stats: every rule exercised on a hand-built page") {
    import spark.implicits._
    val page = Seq(
      "Good line with words.",        // kept (terminal, 4 words)
      "short one.",                   // dropped: < 3 words
      "no terminal here",             // dropped: no terminal punct
      "This has JavaScript inside.",  // dropped: js, case-insensitive
      "Another fine line here!",      // kept
      "Quoted line ends well \"",     // kept (quote terminal, 0 marks)
      "Bad { brace line.",            // kept; page has_brace
      "what the hell.",               // kept; page has_badword
      "lorem ipsum here.").mkString("\n") // kept; page has_lorem
    val got = graft.ext.TextAnalysis.c4Stats(
      Seq((1L, page)).toDF("doc_id", "text")).collect()(0)
    assert(got.getAs[String]("clean_text") == Seq(
      "Good line with words.", "Another fine line here!",
      "Quoted line ends well \"", "Bad { brace line.",
      "what the hell.", "lorem ipsum here.").mkString("\n"))
    assert(got.getAs[Long]("n_lines") == 9L)
    assert(got.getAs[Long]("n_kept") == 6L)
    assert(got.getAs[Long]("n_sentences") == 5L)
    assert(got.getAs[Long]("has_lorem") == 1L)
    assert(got.getAs[Long]("has_brace") == 1L)
    assert(got.getAs[Long]("has_badword") == 1L)
    assert(got.getAs[Long]("c4_pass") == 0L)
  }

  test("C4Stats: badword is a TOKEN match, pass needs 5 sentences") {
    import spark.implicits._
    // 'shell'/'hello' must NOT trip the word-level badword rule
    val five = (1 to 5).map(i => s"hello shell line number $i.")
    val four = five.take(4)
    val df = Seq((1L, five.mkString("\n")), (2L, four.mkString("\n")),
      (3L, null: String)).toDF("doc_id", "text")
    val got = graft.ext.TextAnalysis.c4Stats(df)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("has_badword") == 0L)
    assert(got(0).getAs[Long]("c4_pass") == 1L)   // 5 sentences
    assert(got(1).getAs[Long]("c4_pass") == 0L)   // only 4
    assert(got(2).getAs[Long]("n_lines") == 0L)   // null page coalesces
    assert(got(2).getAs[String]("clean_text") == "")
    assert(got(2).getAs[Long]("c4_pass") == 0L)
    // the rewrite keeps exactly the passing page
    val clean = graft.ext.TextAnalysis.c4Clean(df).collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("pcm fingerprint: hand-computed contour, edge shapes, tail-edit stability") {
    import spark.implicits._
    // frame energies: f0 = 16·1², f1 = 16·2², f2 = 8·3² — rises at f1
    // (bit 0) and again at f2 (576 > 512... no: 8·9=72 < 1024, falls)
    val rising = Array.fill(16)(1.toByte) ++ Array.fill(16)(2.toByte) ++
      Array.fill(8)(3.toByte)
    // reference model of the expression
    def ref(bytes: Array[Byte]): Long = {
      val es = bytes.grouped(16).map(_.map(b => { val v = (b & 0xff).toLong; v * v }).sum).toSeq
      es.indices.drop(1).take(60).foldLeft(0L) { (fp, f) =>
        if (es(f) > es(f - 1)) fp | (1L << (f - 1)) else fp
      }
    }
    val df = Seq(
      (1L, rising), (2L, Array.empty[Byte]), (3L, null: Array[Byte]),
      (4L, Array.tabulate(200)(i => (i % 97).toByte)))
      .toDF("media_id", "payload")
    val got = df.select(col("media_id"),
        graft.functions.pcmFingerprint(coalesce(col("payload"),
          lit(Array.empty[Byte]))).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == ref(rising) && (got(1L) & 1L) == 1L)
    assert(got(2L) == 0L && got(3L) == 0L)
    assert(got(4L) == ref(Array.tabulate(200)(i => (i % 97).toByte)))
    // a short tail edit moves the contour by at most 2 bits — the
    // invariant the audio Hamming-ball near-dup relies on
    val base = Array.tabulate(100)(i => (i % 50).toByte)
    val edited = base ++ Array.fill(4)(122.toByte)
    assert(java.lang.Long.bitCount(ref(base) ^ ref(edited)) <= 2)
  }

  test("polyhash64: binary overload equals the string path on UTF-8 text; packing recovers both halves") {
    import spark.implicits._
    val df = (Seq("alpha beta", "zz") ++ Fixtures.edgeTexts).toDF("t")
    val got = df.select(
        graft.functions.polyFingerprint64(col("t")).as("s64"),
        graft.functions.polyFingerprint64(col("t").cast("binary")).as("b64"),
        graft.functions.polyFingerprint(col("t")).as("h31"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (s64, b64, h31) =>
      assert(s64 == b64)
      assert(s64 / 2147483629L == h31) // packing law: high half = h31
      assert(s64 >= 0L)
    }
  }

  test("deflateLen: repetitive text compresses far below diverse text; deterministic; codegen matches eval") {
    import spark.implicits._
    val rep = "spam template spam template " * 200
    val div = (1 to 800).map(i => (i * 2654435761L % 99991).toString)
      .mkString(" ")
    val df = Seq((1L, rep), (2L, div), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    def snap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val stats = snap(graft.ext.TextAnalysis.compressionStats(df))
    val (repB, repD, repR) = stats(1L)
    val (divB, divD, divR) = stats(2L)
    // ordering law: boilerplate ratio is a small fraction of diverse's
    assert(repR > 0 && repR * 5 < divR, s"rep=$repR div=$divR")
    assert(repD < repB && divD < divB)
    // null text: 0 bytes, 0 deflate, null ratio — and the row survives
    assert(stats(3L) == ((0L, 0L, -1L)), stats(3L))
    // determinism: a second evaluation is bit-identical
    assert(snap(graft.ext.TextAnalysis.compressionStats(df)) == stats)
    // interpreted eval (no codegen path) agrees with the codegen'd run
    val evalLen = graft.functions.DeflateLen(
      org.apache.spark.sql.catalyst.expressions.Literal(rep))
      .eval(null).asInstanceOf[Long]
    assert(evalLen == repD, s"$evalLen vs $repD")
    // SQL surface
    val sql = spark.sql("SELECT deflate_len('aaaaaaaaaaaaaaaaaaaa') AS d")
      .collect().head.getLong(0)
    assert(sql > 0 && sql < 20, sql)
    // per-domain rollup law: totals are exact sums of the per-doc stats
    val dom = Seq(("a", rep), ("a", div), ("b", div))
      .toDF("source", "text")
    val rpt = graft.ext.TextAnalysis.compressionReport(dom)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rpt("a") == ((2L, repB + divB, repD + divD)), rpt("a"))
    assert(rpt("b") == ((1L, divB, divD)), rpt("b"))
  }

  test("LcsLen matches a naive exponential-free reference DP; edges; codegen path") {
    import spark.implicits._
    // independent reference: the textbook case-split recurrence (the
    // expression uses the relaxed max-of-three form — equivalence is
    // exactly what this asserts)
    def ref(a: Seq[String], b: Seq[String]): Long = {
      val dp = Array.ofDim[Long](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
                   else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "dd", "e")
    val cases: Seq[(Seq[String], Seq[String])] =
      Seq(
        (Nil, Nil), (Seq("a"), Nil), (Nil, Seq("a")),
        (Seq("a", "b", "c"), Seq("a", "b", "c")),
        (Seq("a", "b", "c"), Seq("c", "b", "a")),
        (Seq("x"), Seq("y"))) ++
        (1 to 40).map(_ => (
          Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))),
          Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))))
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("i", "a", "b")
    val got = df.select(col("i"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.LcsLen(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b")))).as("l"))
      .as[(Long, Long)].collect().toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i.toLong) == ref(a, b), s"case $i: $a vs $b")
    }
    // null array → null result
    val nullGot = Seq((Seq("a"), null.asInstanceOf[Seq[String]]))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graft.Bridge.column(
        graft.functions.LcsLen(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b")))))
      .collect()
    assert(nullGot.head.isNullAt(0))
  }

  test("EditDist matches a naive full-matrix reference DP; hand goldens; null element law; codegen path") {
    import spark.implicits._
    // independent reference: the textbook full-matrix Levenshtein
    def ref(a: Seq[String], b: Seq[String]): Long = {
      val dp = Array.ofDim[Long](a.length + 1, b.length + 1)
      for (i <- 0 to a.length) dp(i)(0) = i.toLong
      for (j <- 0 to b.length) dp(0)(j) = j.toLong
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = Seq(
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0L else 1L),
          dp(i - 1)(j) + 1L, dp(i)(j - 1) + 1L).min
      dp(a.length)(b.length)
    }
    def dist(a: Seq[String], b: Seq[String]): Long =
      Seq((a, b)).toDF("a", "b")
        .select(org.apache.spark.sql.graft.Bridge.column(
          graft.functions.EditDist(
            org.apache.spark.sql.graft.Bridge.expression(col("a")),
            org.apache.spark.sql.graft.Bridge.expression(col("b")))))
        .collect().head.getLong(0)
    // hand goldens (kitten→sitting in token form = 3; classic cases)
    assert(dist("k i t t e n".split(" "), "s i t t i n g".split(" ")) == 3L)
    assert(dist(Nil, Nil) == 0L)
    assert(dist(Seq("a", "b"), Nil) == 2L)
    assert(dist(Nil, Seq("x", "y", "z")) == 3L)
    assert(dist(Seq("a", "b", "c"), Seq("a", "b", "c")) == 0L)
    assert(dist(Seq("a", "b", "c"), Seq("a", "x", "c")) == 1L)
    assert(dist(Seq("a", "b"), Seq("b", "a")) == 2L)
    // randomized equivalence against the naive reference, batched
    val rnd = new scala.util.Random(43)
    val vocab = Vector("a", "b", "c", "dd", "e")
    val cases: Seq[(Seq[String], Seq[String])] =
      (1 to 40).map(_ => (
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))),
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))))
    val df = cases.zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("i", "a", "b")
    val got = df.select(col("i"), org.apache.spark.sql.graft.Bridge.column(
        graft.functions.EditDist(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b")))).as("d"))
      .as[(Long, Long)].collect().toMap
    cases.zipWithIndex.foreach { case ((a, b), i) =>
      assert(got(i.toLong) == ref(a, b), s"case $i: $a vs $b")
    }
    // a null ELEMENT matches nothing (substitution still costs 1)
    val withNullElem = Seq((Seq("a", null.asInstanceOf[String]),
        Seq("a", "b")))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graft.Bridge.column(
        graft.functions.EditDist(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b")))))
      .collect().head.getLong(0)
    assert(withNullElem == 1L)
    // null ARRAY → null result
    val nullArr = Seq((Seq("a"), null.asInstanceOf[Seq[String]]))
      .toDF("a", "b")
      .select(org.apache.spark.sql.graft.Bridge.column(
        graft.functions.EditDist(
          org.apache.spark.sql.graft.Bridge.expression(col("a")),
          org.apache.spark.sql.graft.Bridge.expression(col("b")))))
      .collect()
    assert(nullArr.head.isNullAt(0))
  }

  test("Eval.wer: edge laws (empty-empty perfect, empty-ref undefined) and micro rollup") {
    import spark.implicits._
    val preds = Seq((1L, "the cat sat"), (2L, ""), (3L, "extra words"),
        (4L, "the cat"))
      .toDF("doc_id", "pred")
    val refs = Seq((1L, "the cat sat"), (2L, ""), (3L, ""),
        (4L, "the cat sat on the mat"))
      .toDF("doc_id", "ref")
    val per = graft.ext.Eval.wer(preds, refs).collect()
      .map(r => r.getLong(0) -> r).toMap
    // exact match → 0 edits, WER 0
    assert(per(1L).getLong(3) == 0L && per(1L).getLong(4) == 0L, per(1L))
    // both empty → perfect (0), not undefined
    assert(per(2L).getLong(3) == 0L && per(2L).getLong(4) == 0L, per(2L))
    // empty ref, non-empty pred → dist = n_pred, WER undefined (null)
    assert(per(3L).getLong(3) == 2L && per(3L).isNullAt(4), per(3L))
    // 4 missing tokens from a 6-token ref → 4*100 div 6 = 66
    assert(per(4L).getLong(3) == 4L && per(4L).getLong(4) == 66L, per(4L))
    val rep = graft.ext.Eval.werReport(preds, refs).collect().head
    // pooled: items 4, ref tokens 3+0+0+6 = 9, edits 0+0+2+4 = 6
    assert(rep.getLong(0) == 4L && rep.getLong(1) == 9L &&
      rep.getLong(2) == 6L && rep.getLong(3) == 66L, rep)
  }

  test("byte-level BPE: GPT-2 table law, round-trip decode, provable divergence from the code-point walk") {
    import spark.implicits._
    import graft.functions.ByteLevel
    // table spot values pinned to the published bytes_to_unicode:
    // printables map to themselves; space → Ġ (U+0120); byte 0 → U+0100;
    // soft hyphen (173) → U+0143; the map is a bijection
    assert(ByteLevel.byteToChar('A'.toInt) == 'A')
    assert(ByteLevel.byteToChar(32) == 'Ġ') // Ġ
    assert(ByteLevel.byteToChar(0) == 'Ā')
    assert(ByteLevel.byteToChar(173) == 'Ń')
    assert(ByteLevel.byteToChar.distinct.length == 256)
    // round trip on multibyte text (2-, 3- and 4-byte UTF-8)
    val s = " café 中文 😀 plain"
    assert(ByteLevel.decode(ByteLevel.encode(s)) == s)
    intercept[IllegalArgumentException] { ByteLevel.decode("中") }
    // tokenization: byte mode splits é into two mergeable symbols; the
    // code-point mode keeps it atomic — and a byte-level merge table
    // can join them back, which the char walk can never express
    val df = Seq("café").toDF("text")
    def toks(byteLevel: Boolean, merges: Seq[(String, String)]) =
      df.select(graft.ext.TextAnalysis
          .bpeMergeTokensWith(col("text"), merges, byteLevel).as("t"))
        .as[Seq[String]].collect().head
    assert(toks(byteLevel = false, Nil) == Seq("c", "a", "f", "é"))
    assert(toks(byteLevel = true, Nil) == Seq("c", "a", "f", "Ã", "©"))
    val merged = toks(byteLevel = true, Seq("Ã" -> "©"))
    assert(merged == Seq("c", "a", "f", "Ã©"))
    // the merged token decodes back to the original character
    assert(ByteLevel.decode("Ã©") == "é")
    // the trained byte-level table on a planted multibyte corpus learns
    // a cross-byte merge and is well-formed with no lhs == rhs rank
    // (the replace-walk oracle's precondition)
    val corpus = (1 to 50).map(i => (i.toLong, s"doc $i café résumé"))
      .toDF("doc_id", "text")
    val t = graft.ext.TextAnalysis.learnBpeMerges(corpus, 4,
      byteLevel = true)
    assert(t.exists { case (a, b, _) => (a + b).contains("Ã©") },
      s"no cross-byte merge learned: $t")
    assert(t.forall { case (a, b, _) => a != b }, s"lhs==rhs rank: $t")
    // unigram byte mode: the trained inventory carries byte pieces
    // (é's two bytes as one piece), and tokenization concatenates back
    // to the full byte-encoded text (coverage law: Viterbi is total)
    val inv = graft.ext.TextAnalysis.learnUnigramLm(corpus,
      vocabSize = 40, seedSize = 80, byteLevel = true)
    assert(inv.exists(_._1.contains("Ã©")), s"no byte piece: ${inv.take(10)}")
    val utoks = df.select(graft.ext.TextAnalysis
        .unigramTokensWith(col("text"), inv, byteLevel = true).as("t"))
      .as[Seq[String]].collect().head
    assert(utoks.mkString == ByteLevel.encode("café"), utoks)
    // wordpiece byte mode: the likelihood-scored trainer also learns a
    // cross-byte merge (the é byte pair co-occurs perfectly — exactly
    // what the likelihood objective rewards). No unique pre-tokens in
    // this fixture: a singleton pair would top the likelihood score
    // and fail the minPairCount stop before anything is learned
    val wpCorpus = (1 to 50).map(i => (i.toLong, "café"))
      .toDF("doc_id", "text")
    val wp = graft.ext.TextAnalysis.learnWordPieceMerges(wpCorpus, 4,
      byteLevel = true)
    assert(wp.exists { case (a, b, _, _) => (a + b).contains("Ã©") },
      s"no cross-byte wordpiece merge: $wp")
    assert(wp.forall { case (a, b, _, _) => a != b }, s"lhs==rhs: $wp")
  }

  test("eval family laws: rougeL identity/disjoint/null-answer; bleu perfect corpus and FP headline; fleiss sign") {
    import spark.implicits._
    val refs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "alpha beta gamma delta"),
      (3L, "")).toDF("doc_id", "ref")
    val predsPerfect = refs.select(col("doc_id"), col("ref").as("pred"))
    // identity: P = R = F = 100, lcs = n_ref, on every row incl. the
    // empty-vs-empty null-answer rule
    graft.ext.Eval.rougeL(predsPerfect, refs).collect().foreach { r =>
      assert(r.getLong(r.fieldIndex("f_x100")) == 100L, r)
      assert(r.getLong(r.fieldIndex("p_x100")) == 100L, r)
    }
    // disjoint: zero everywhere (but the empty ref row stays perfect)
    val predsBad = refs.select(col("doc_id"),
      when(col("ref") === "", lit("x")).otherwise(lit("zz ww")).as("pred"))
    val bad = graft.ext.Eval.rougeL(predsBad, refs).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("f_x100"))).toMap
    assert(bad(1L) == 0L && bad(2L) == 0L && bad(3L) == 0L)
    // bleu on a perfect corpus: every precision 10⁴, gm 10⁴, bp off,
    // and the FP headline (Eval.bleu) is exactly 1.0
    val st = graft.ext.Eval.bleu(predsPerfect, refs).collect().head
    (1 to 4).foreach { n =>
      assert(st.getLong(st.fieldIndex(s"p${n}_x10000")) == 10000L) }
    assert(st.getLong(st.fieldIndex("gm_x10000")) == 10000L)
    assert(!st.getBoolean(st.fieldIndex("bp_applies")))
    assert(st.getDouble(st.fieldIndex("bleu")) == 1.0)
    // truncated preds: bp_applies discloses c < r
    val stTrunc = graft.ext.Eval.bleuStats(
      refs.select(col("doc_id"),
        concat_ws(" ", slice(split(col("ref"), " "), 1, 2)).as("pred")),
      refs).collect().head
    assert(stTrunc.getBoolean(stTrunc.fieldIndex("bp_applies")))
    // fleiss: unanimous panel → κ·10⁴ = 10⁴; anti-correlated 2-rater
    // panel over 2 balanced categories → κ negative
    val unanimous = (1L to 10L).flatMap(i => Seq(
      (i, "a1", if (i % 2 == 0) "x" else "y"),
      (i, "a2", if (i % 2 == 0) "x" else "y"),
      (i, "a3", if (i % 2 == 0) "x" else "y")))
      .toDF("item_id", "annotator", "label")
    val fu = graft.ext.Eval.fleissKappa(unanimous).collect().head
    assert(fu.getLong(fu.fieldIndex("kappa_x10000")) == 10000L, fu)
    assert(fu.getLong(fu.fieldIndex("p_bar_x106")) == 1000000L, fu)
    val opposed = (1L to 10L).flatMap(i => Seq(
      (i, "a1", if (i % 2 == 0) "x" else "y"),
      (i, "a2", if (i % 2 == 0) "y" else "x")))
      .toDF("item_id", "annotator", "label")
    val fo = graft.ext.Eval.fleissKappa(opposed).collect().head
    assert(fo.getLong(fo.fieldIndex("kappa_x10000")) < 0L, fo)
    // single-rated items are dropped (no agreement information)
    val thin = Seq((1L, "a1", "x"), (2L, "a1", "x"), (3L, "a1", "y"),
      (3L, "a2", "y")).toDF("item_id", "annotator", "label")
    val ft = graft.ext.Eval.fleissKappa(thin).collect().head
    assert(ft.getLong(ft.fieldIndex("n_items")) == 1L, ft)
    // krippendorff: unanimous → α = 1; opposed pairs → negative;
    // single observed category (D_e = 0) → null, disclosed
    val ku = graft.ext.Eval.krippendorffAlpha(unanimous).collect().head
    assert(ku.getLong(ku.fieldIndex("alpha_x10000")) == 10000L, ku)
    assert(ku.getLong(ku.fieldIndex("do_x106")) == 0L, ku)
    val ko = graft.ext.Eval.krippendorffAlpha(opposed).collect().head
    assert(ko.getLong(ko.fieldIndex("alpha_x10000")) < 0L, ko)
    val kd = graft.ext.Eval.krippendorffAlpha(
      Seq((1L, "a1", "x"), (1L, "a2", "x"), (2L, "a1", "x"),
        (2L, "a2", "x")).toDF("item_id", "annotator", "label"))
      .collect().head
    assert(kd.isNullAt(kd.fieldIndex("alpha_x10000")), kd)
    // chrF: perfect corpus → every order F = 10⁴ and chrf2 = 10⁴
    val cf = graft.ext.Eval.chrF(predsPerfect, refs).collect().head
    assert(cf.getLong(cf.fieldIndex("chrf2_x10000")) == 10000L, cf)
    assert(cf.getLong(cf.fieldIndex("f6_x10000")) == 10000L, cf)
    // evalReport: perfect predictions → em rate 10⁴ and both means 100
    // in every group
    val groups = refs.select(col("doc_id"),
      (col("doc_id") % 2).cast("string").as("source"))
    graft.ext.Eval.evalReport(predsPerfect, refs, groups)
      .collect().foreach { r =>
        assert(r.getLong(r.fieldIndex("em_x10000")) == 10000L, r)
        assert(r.getLong(r.fieldIndex("f1_mean_x100")) == 100L, r)
        assert(r.getLong(r.fieldIndex("rouge_mean_x100")) == 100L, r)
      }
  }

  test("script profile: closed-form counts, dominance ties, null text → none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "привет мир abc 12"),   // cyr 9, latin 3, digit 2
      (2L, "ab яж"),               // latin 2 vs cyrillic 2: tie → cyrillic (lexicographic)
      (3L, null: String),
      (4L, "你好 γειά"),            // cjk 2, greek 4
      (5L, "ab 😀"),     // astral emoji: 4 code points, 5 UTF-16 units
      (6L, "😀😀 ab 😀")  // MULTI-astral: 8 code points, 11 UTF-16 units
    ).toDF("doc_id", "text")
    val m = graft.ext.TextAnalysis.scriptProfile(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def lv2(r: org.apache.spark.sql.Row, c: String): Long =
      r.getLong(r.fieldIndex(c))
    val d1 = m(1L)
    assert(lv2(d1, "n_cyrillic") == 9L && lv2(d1, "n_latin") == 3L &&
      lv2(d1, "n_digit") == 2L, d1)
    assert(d1.getString(d1.fieldIndex("dominant_script")) == "cyrillic", d1)
    assert(lv2(d1, "dominant_share_x100") == 9L * 100 / 17, d1)
    val d2 = m(2L)
    assert(d2.getString(d2.fieldIndex("dominant_script")) == "cyrillic", d2)
    val d3 = m(3L)
    assert(lv2(d3, "n_chars") == 0L &&
      d3.getString(d3.fieldIndex("dominant_script")) == "none", d3)
    val d4 = m(4L)
    assert(lv2(d4, "n_cjk") == 2L && lv2(d4, "n_greek") == 4L, d4)
    assert(d4.getString(d4.fieldIndex("dominant_script")) == "greek", d4)
    // astral char counts as ONE code point in n_chars (not its
    // surrogate pair), so latin's share is 2/4 → 50, not 2/5 → 40
    val d5 = m(5L)
    assert(lv2(d5, "n_chars") == 4L && lv2(d5, "n_latin") == 2L, d5)
    assert(lv2(d5, "dominant_share_x100") == 50L, d5)
    // multi-astral pins the code-point convention itself: 3 emoji +
    // 'ab' + 2 spaces = 7 code points (a UTF-16-unit count would say
    // 10; a strip-halve miscount would say 6) → latin share 2/7 → 28
    val d6 = m(6L)
    assert(lv2(d6, "n_chars") == 7L && lv2(d6, "n_latin") == 2L, d6)
    assert(lv2(d6, "dominant_share_x100") == 28L, d6)
  }

  test("IR rank eval: closed-form trec metrics, lcm law, report rollup; exact AUC with ties") {
    import spark.implicits._
    // hand-checked fixture at k = 5 (L = lcm(1..6) = 60):
    //  q1: qrels {10→2, 11→1, 12→1}; run [10, 99, 11]
    //  q2: no qrels; run [50]
    //  q3: qrels {70→1}; run [71, 70]
    val run = Seq(
      (1L, 10L, 1L), (1L, 99L, 2L), (1L, 11L, 3L),
      (2L, 50L, 1L),
      (3L, 71L, 1L), (3L, 70L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L, 2L), (1L, 11L, 1L), (1L, 12L, 1L),
      (3L, 70L, 1L)).toDF("query_id", "doc_id", "rel")
    val m = graft.ext.Eval.rankEval(run, qrels, k = 5).collect()
      .map(r => r.getLong(0) -> r).toMap
    def lv(r: org.apache.spark.sql.Row, c: String): Long =
      r.getLong(r.fieldIndex(c))
    val q1 = m(1L)
    assert(lv(q1, "n_rel") == 3L && lv(q1, "n_rel_ret") == 2L, q1)
    assert(lv(q1, "rr_x10000") == 10000L, q1)
    assert(lv(q1, "precision_x10000") == 4000L, q1)
    assert(lv(q1, "recall_x10000") == 6666L, q1)
    // AP = (1/1 + 2/3)/3 = 5/9; apn = 1·60 + 2·20 = 100 → 5555
    assert(lv(q1, "ap_x10000") == 5555L, q1)
    // dcgn = 2·30 + 1·15 = 75; ideal (2,1,1) → 95 → 7894
    assert(lv(q1, "ndcg_x10000") == 7894L, q1)
    val q2 = m(2L)
    assert(lv(q2, "n_rel") == 0L && lv(q2, "rr_x10000") == 0L, q2)
    assert(q2.isNullAt(q2.fieldIndex("recall_x10000")), q2)
    assert(q2.isNullAt(q2.fieldIndex("ap_x10000")), q2)
    assert(q2.isNullAt(q2.fieldIndex("ndcg_x10000")), q2)
    val q3 = m(3L)
    assert(lv(q3, "rr_x10000") == 5000L, q3)
    assert(lv(q3, "ap_x10000") == 5000L, q3)
    assert(lv(q3, "ndcg_x10000") == 6666L, q3)
    // report rollup: mrr = (60+0+30)·10⁴ / (60·3) = 5000, means of
    // floors over defined queries, precision over all
    val rep = graft.ext.Eval.irReport(run, qrels, k = 5).collect().head
    assert(lv(rep, "n_queries") == 3L && lv(rep, "n_with_rel") == 2L, rep)
    assert(lv(rep, "mrr_x10000") == 5000L, rep)
    assert(lv(rep, "map_x10000") == (5555L + 5000L) / 2, rep)
    assert(lv(rep, "ndcg_mean_x10000") == (7894L + 6666L) / 2, rep)
    assert(lv(rep, "recall_mean_x10000") == (6666L + 10000L) / 2, rep)
    assert(lv(rep, "precision_mean_x10000") == 2000L, rep)
    // term-coverage qrels: all-terms → 2, half → 1, none → absent
    val docs = Seq((1L, "apple banana apple"), (2L, "apple cherry"),
      (3L, "durian")).toDF("doc_id", "text")
    val queries = Seq((7L, "apple"), (7L, "banana"), (8L, "durian"))
      .toDF("query_id", "term")
    val qr = graft.ext.Retrieval.termCoverageQrels(docs, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(qr == Map((7L, 1L) -> 2L, (7L, 2L) -> 1L, (8L, 3L) -> 2L), qr)
    // AUC: perfect separation, all-tied, inverted, one-class, and the
    // hand-checked tie case AUC = 2.5/4 = 0.625
    def auc(rows: Seq[(Long, Boolean)]): org.apache.spark.sql.Row =
      graft.ext.Eval.rocAuc(rows.toDF("score", "label")).collect().head
    val perfect = auc(Seq(3L -> true, 4L -> true, 1L -> false, 2L -> false))
    assert(lv(perfect, "auc_x10000") == 10000L, perfect)
    val tied = auc(Seq(5L -> true, 5L -> true, 5L -> false, 5L -> false))
    assert(lv(tied, "auc_x10000") == 5000L, tied)
    val inv = auc(Seq(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    assert(lv(inv, "auc_x10000") == 0L, inv)
    val oneClass = auc(Seq(1L -> true, 2L -> true))
    assert(oneClass.isNullAt(oneClass.fieldIndex("auc_x10000")), oneClass)
    val ties = auc(Seq(2L -> true, 3L -> true, 1L -> false, 3L -> false))
    assert(lv(ties, "u2") == 5L, ties)
    assert(lv(ties, "auc_x10000") == 6250L, ties)
    // per-group AUC: perfect / all-tied / one-class groups in one pass
    val grouped = (Seq(3L -> true, 4L -> true, 1L -> false, 2L -> false)
      .map { case (s2, l2) => ("g1", s2, l2) } ++
      Seq(("g2", 5L, true), ("g2", 5L, true), ("g2", 5L, false),
        ("g2", 5L, false)) ++
      Seq(("g3", 1L, true), ("g3", 2L, true)))
      .toDF("source", "score", "label")
    val byG = graft.ext.Eval.rocAucBy(grouped).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(lv(byG("g1"), "auc_x10000") == 10000L, byG("g1"))
    assert(lv(byG("g2"), "auc_x10000") == 5000L, byG("g2"))
    assert(byG("g3").isNullAt(byG("g3").fieldIndex("auc_x10000")), byG("g3"))
    // win-rate Wilson report: pinned IEEE values (w=3/n=10 → [1077,
    // 6032], not decisive; w=50/n=50 → [9286, 10000], decisive)
    val cmp = Seq(("a", "b", 3L), ("b", "a", 7L), ("c", "d", 50L))
      .toDF("winner", "loser", "n_pairs")
    val wrs = graft.ext.Preference.winRateReport(cmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = wrs(("a", "b"))
    assert(lv(ab, "wins_a") == 3L && lv(ab, "n") == 10L, ab)
    assert(lv(ab, "win_rate_x10000") == 3000L, ab)
    assert(lv(ab, "wilson_lo_x10000") == 1077L, ab)
    assert(lv(ab, "wilson_hi_x10000") == 6032L, ab)
    assert(!ab.getBoolean(ab.fieldIndex("decisive")), ab)
    val cd = wrs(("c", "d"))
    assert(lv(cd, "wilson_lo_x10000") == 9286L, cd)
    assert(lv(cd, "wilson_hi_x10000") == 10000L, cd)
    assert(cd.getBoolean(cd.fieldIndex("decisive")), cd)
    // mcnemar: hand-checked cells (A right 1–9, B right 1–6, ref all
    // 'x') → n10 = 3, n01 = 0, χ²·10⁴ = 30000, below the 38415 cut;
    // zero-discordance → null, disclosed
    val mcRefs = (1L to 10L).map(i => (i, "x")).toDF("doc_id", "ref")
    val mcA = (1L to 10L).map(i => (i, if (i <= 9) "x" else "y"))
      .toDF("doc_id", "pred")
    val mcB = (1L to 10L).map(i => (i, if (i <= 6) "x" else "y"))
      .toDF("doc_id", "pred")
    val mc = graft.ext.Eval.mcnemar(mcA, mcB, mcRefs).collect().head
    assert(lv(mc, "n11") == 6L && lv(mc, "n10") == 3L &&
      lv(mc, "n01") == 0L && lv(mc, "n00") == 1L, mc)
    assert(lv(mc, "chi2_x10000") == 30000L, mc)
    assert(!mc.getBoolean(mc.fieldIndex("significant_05")), mc)
    val mcSame = graft.ext.Eval.mcnemar(mcA, mcA, mcRefs).collect().head
    assert(mcSame.isNullAt(mcSame.fieldIndex("chi2_x10000")), mcSame)
    assert(!mcSame.getBoolean(mcSame.fieldIndex("significant_05")), mcSame)
    // rankBiasedPrecision (p = 4/5, k = 5): all-relevant run → RBP =
    // 1 − p^k exactly (10⁴ − residual − rounding); rank-1-only →
    // (1−p)·10⁴ = 2000; no qrels → 0 with the residual disclosed
    val rbpRun = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (1L, 13L, 4L), (1L, 14L, 5L),
      (2L, 20L, 1L), (2L, 21L, 2L),
      (3L, 30L, 1L)).toDF("query_id", "doc_id", "rank")
    val rbpQrels = Seq((1L, 10L, 1L), (1L, 11L, 1L), (1L, 12L, 1L),
      (1L, 13L, 1L), (1L, 14L, 1L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rel")
    val rbp = graft.ext.Eval
      .rankBiasedPrecision(rbpRun, rbpQrels, k = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    // 5^5 = 3125; full weights sum = 3125 − 4^5 = 2101 → 6723; resid
    // = 4^5·10⁴ div 3125 = 3276 (6723 + 3276 = 9999, floor artifacts)
    assert(lv(rbp(1L), "rbp_num") == 2101L, rbp(1L))
    assert(lv(rbp(1L), "rbp_x10000") == 6723L, rbp(1L))
    assert(lv(rbp(1L), "residual_x10000") == 3276L, rbp(1L))
    assert(lv(rbp(2L), "rbp_x10000") == 2000L, rbp(2L))
    assert(lv(rbp(3L), "rbp_x10000") == 0L &&
      lv(rbp(3L), "n_rel_ret") == 0L, rbp(3L))
    // the overflow regime: p = 6/7, k = 20 → pDen^k ≈ 7.98·10¹⁶ fits
    // Long but rbp_num·10⁴ ≈ 7.6·10²⁰ would wrap it — the DECIMAL
    // path must still land the exact 1 − (6/7)^20 floor (9541) and
    // the exact residual (458); a rank-1-only query lands (1/7)·10⁴'s
    // geometric head 7¹⁹·10⁴ div 7²⁰ = 1428
    val bigRun = ((1 to 20).map(r => (1L, (100 + r).toLong, r.toLong)) :+
      ((2L, 200L, 1L))).toDF("query_id", "doc_id", "rank")
    val bigQrels = ((1 to 20).map(r => (1L, (100 + r).toLong, 1L)) :+
      ((2L, 200L, 1L))).toDF("query_id", "doc_id", "rel")
    val rbpBig = graft.ext.Eval
      .rankBiasedPrecision(bigRun, bigQrels, k = 20, pNum = 6, pDen = 7)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(lv(rbpBig(1L), "rbp_num") == 76136107857549025L, rbpBig(1L))
    assert(lv(rbpBig(1L), "rbp_x10000") == 9541L, rbpBig(1L))
    assert(lv(rbpBig(1L), "residual_x10000") == 458L, rbpBig(1L))
    assert(lv(rbpBig(2L), "rbp_x10000") == 1428L, rbpBig(2L))
    // rankCorrelation: identical runs → τ = 10⁴; reversed → −10⁴;
    // one shared doc → null τ with n_shared disclosed
    val runX = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L),
      (2L, 20L, 1L), (2L, 99L, 2L)).toDF("query_id", "doc_id", "rank")
    val runRev = Seq((1L, 10L, 3L), (1L, 11L, 2L), (1L, 12L, 1L),
      (2L, 20L, 5L), (2L, 98L, 1L)).toDF("query_id", "doc_id", "rank")
    val tauSame = graft.ext.Eval.rankCorrelation(runX, runX).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(lv(tauSame(1L), "tau_x10000") == 10000L, tauSame(1L))
    val tauRev = graft.ext.Eval.rankCorrelation(runX, runRev).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(lv(tauRev(1L), "tau_x10000") == -10000L, tauRev(1L))
    assert(lv(tauRev(2L), "n_shared") == 1L, tauRev(2L))
    assert(tauRev(2L).isNullAt(tauRev(2L).fieldIndex("tau_x10000")),
      tauRev(2L))
    // accuracyCi: pinned Wilson values (5/10 → [2365, 7634]; 10/10 in
    // a second group → acc 10000 with lo 9286-analog law at n=10)
    val acRefs = ((1L to 10L).map(i => (i, "g", "x")) ++
      (11L to 20L).map(i => (i, "h", "x")))
      .toDF("doc_id", "source", "ref")
    val acPreds = ((1L to 10L).map(i => (i, if (i <= 5) "x" else "y")) ++
      (11L to 20L).map(i => (i, "x"))).toDF("doc_id", "pred")
    val ac = graft.ext.Eval.accuracyCi(acPreds, acRefs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(lv(ac("g"), "acc_x10000") == 5000L, ac("g"))
    assert(lv(ac("g"), "wilson_lo_x10000") == 2365L, ac("g"))
    assert(lv(ac("g"), "wilson_hi_x10000") == 7634L, ac("g"))
    assert(lv(ac("h"), "acc_x10000") == 10000L, ac("h"))
    // rougeN: perfect corpus → r = p = f = 10⁴ both orders; prefix
    // preds → precision stays 10⁴ (every pred gram matches), recall
    // drops
    val refs2 = Seq((1L, "the quick brown fox jumps over"),
      (2L, "alpha beta gamma delta")).toDF("doc_id", "ref")
    val rnPerfect = graft.ext.Eval.rougeN(
      refs2.select(col("doc_id"), col("ref").as("pred")), refs2)
      .collect().head
    (1 to 2).foreach { n =>
      assert(lv(rnPerfect, s"r${n}_x10000") == 10000L, rnPerfect)
      assert(lv(rnPerfect, s"f${n}_x10000") == 10000L, rnPerfect) }
    val rnPrefix = graft.ext.Eval.rougeN(
      refs2.select(col("doc_id"),
        concat_ws(" ", slice(split(col("ref"), " "), 1, 2)).as("pred")),
      refs2).collect().head
    (1 to 2).foreach { n =>
      assert(lv(rnPrefix, s"p${n}_x10000") == 10000L, rnPrefix)
      assert(lv(rnPrefix, s"r${n}_x10000") < 10000L, rnPrefix) }
    // marginReliability: hand-checked buckets at width 16
    val mrPreds = Seq((1L, "a", 5L), (2L, "a", 20L), (3L, "b", 21L))
      .toDF("doc_id", "pred", "margin")
    val mrRefs = Seq((1L, "a"), (2L, "b"), (3L, "b"))
      .toDF("doc_id", "ref")
    val mr = graft.ext.Eval.marginReliability(mrPreds, mrRefs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(lv(mr(0L), "n") == 1L && lv(mr(0L), "acc_x10000") == 10000L)
    assert(lv(mr(1L), "n") == 2L && lv(mr(1L), "n_correct") == 1L)
    assert(lv(mr(1L), "acc_x10000") == 5000L)
  }

  test("GramOverlap is bit-identical to the explode/join clipped-count formulation (word + char), edge shapes") {
    import spark.implicits._
    // real corpus text through the eval operators' own normalize step —
    // the contract under which byte grams equal character grams
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(120)
      .select(col("doc_id"),
        graft.ext.TextAnalysis.normalizeText(col("text")).as("p"),
        graft.ext.TextAnalysis.normalizeText(
          concat_ws(" ", slice(split(col("text"), " "), 1, 9))).as("r"))
    // word-rule edge shapes, each paired with every edge shape; char
    // mode takes the ASCII ones only (its units are bytes, which equal
    // the reference's characters only on ASCII text)
    val edgePairs = for (p <- Fixtures.edgeTexts; r <- Fixtures.edgeTexts)
      yield (p, r)
    def withEdges(pairs: Seq[(String, String)]) =
      docs.unionByName(pairs.zipWithIndex
          .map { case ((p, r), i) => (-1L - i, p, r) }.toDF("doc_id", "p", "r"))
        .localCheckpoint()
    val wordDocs = withEdges(edgePairs)
    val charDocs = withEdges(edgePairs.filter { case (p, r) =>
      (p + r).forall(_ < 0x80) })
    val maxN = 4
    // reference formulation: explode n-grams per side, clip via join
    def refCounts(docs: org.apache.spark.sql.DataFrame, chars: Boolean)
        : Map[(Long, Long), (Long, Long, Long)] = {
      def gramsOf(c: String): org.apache.spark.sql.DataFrame = {
        val arr = if (chars)
          when(length(col(c)) >= col("n"),
            transform(sequence(lit(1), length(col(c)) - col("n") + 1),
              i => col(c).substr(i, col("n"))))
            .otherwise(expr("cast(array() AS array<string>)"))
        else {
          val t = when(col(c) === "", expr("cast(array() AS array<string>)"))
            .otherwise(split(col(c), " "))
          when(size(t) >= col("n"),
            transform(sequence(lit(1), size(t) - col("n") + 1),
              i => array_join(slice(t, i, col("n")), " ")))
            .otherwise(expr("cast(array() AS array<string>)"))
        }
        docs.select(col("doc_id"), explode(lit((1 to maxN).toArray)).as("n"),
            col(c))
          .select(col("doc_id"), col("n"), explode(arr).as("g"))
          .groupBy(col("doc_id"), col("n"), col("g"))
          .agg(count(lit(1)).as(s"tf_$c"))
      }
      val m = gramsOf("p").join(gramsOf("r"), Seq("doc_id", "n", "g"))
        .groupBy(col("doc_id"), col("n"))
        .agg(sum(least(col("tf_p"), col("tf_r"))).as("m"))
      def units(c: String): org.apache.spark.sql.Column =
        if (chars) length(col(c)).cast("long")
        else when(col(c) === "", lit(0L))
          .otherwise(size(split(col(c), " ")).cast("long"))
      docs.select(col("doc_id"), explode(lit((1 to maxN).toArray)).as("n"),
          units("p").as("lp"), units("r").as("lr"))
        .join(m, Seq("doc_id", "n"), "left")
        .select(col("doc_id"), col("n").cast("long"),
          coalesce(col("m"), lit(0L)).as("m"),
          greatest(lit(0L), col("lp") - col("n") + 1L).as("tp"),
          greatest(lit(0L), col("lr") - col("n") + 1L).as("tr"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (id, n, mm, tp, tr) => (id, n) -> ((mm, tp, tr)) }.toMap
    }
    def gotCounts(docs: org.apache.spark.sql.DataFrame, chars: Boolean)
        : Map[(Long, Long), (Long, Long, Long)] =
      docs.select(col("doc_id"), explode(graft.functions.gramOverlap(
          col("p"), col("r"), maxN, chars)).as("o"))
        .select(col("doc_id"), col("o.n"), col("o.m"), col("o.tp"),
          col("o.tr"))
        .as[(Long, Long, Long, Long, Long)].collect()
        .map { case (id, n, mm, tp, tr) => (id, n) -> ((mm, tp, tr)) }.toMap
    assert(gotCounts(wordDocs, chars = false) ==
      refCounts(wordDocs, chars = false))
    assert(gotCounts(charDocs, chars = true) ==
      refCounts(charDocs, chars = true))
    // edge shapes: empty-vs-empty, empty-vs-nonempty, repeated grams
    // (clipping), null propagation
    val edge = Seq(("", ""), ("", "a b"), ("a a a b", "a a c"),
      ("x y x y x", "x y x y x"), (null, "a"))
      .toDF("p", "r")
      .select(explode(graft.functions.gramOverlap(col("p"), col("r"), 2,
        chars = false)).as("o"))
      .select(col("o.n"), col("o.m"), col("o.tp"), col("o.tr"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    // null row contributes nothing (null array explodes to no rows)
    assert(edge.size == 8, edge)
    val byRow = edge.grouped(2).toSeq
    assert(byRow(0) == Seq((1L, 0L, 0L, 0L), (2L, 0L, 0L, 0L)))  // ""/""
    assert(byRow(1) == Seq((1L, 0L, 0L, 2L), (2L, 0L, 0L, 1L)))  // ""/"a b"
    // "a a a b" vs "a a c": unigram min(tf) — a: min(3,2)=2, b/c: 0 → 2;
    // bigram "a a": min(2,1)=1
    assert(byRow(2) == Seq((1L, 2L, 4L, 3L), (2L, 1L, 3L, 2L)))
    assert(byRow(3) == Seq((1L, 5L, 5L, 5L), (2L, 4L, 4L, 4L)))
  }

  test("GramHashes is bit-identical to the polyFingerprint64(concat_ws(slice)) formulation") {
    import spark.implicits._
    val raw = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(150)
      .select(col("doc_id"), col("text"))
    // edge shapes ride along: empty text, single word, consecutive
    // spaces (empty words), shorter than the window
    val edge = (Seq("one", "a  b c", "w1 w2 w3") ++ Fixtures.edgeTexts)
      .zipWithIndex.map { case (t, i) => (9001L + i, t) }
      .toDF("doc_id", "text")
    val docs = raw.unionByName(edge).localCheckpoint()
    val k = 4
    val ws = split(col("text"), " ")
    val ref = docs
      .select(col("doc_id"), ws.as("w"),
        explode(when(size(ws) >= k, sequence(lit(0), size(ws) - k))
          .otherwise(array().cast("array<int>"))).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        graft.functions.polyFingerprint64(concat_ws(" ",
          slice(col("w"), col("pos") + 1, lit(k)))).as("fp"))
    val got = docs.select(col("doc_id"),
        explode(graft.functions.gramHashes(col("text"), k)).as("g"))
      .select(col("doc_id"), col("g.pos"), col("g.fp"))
    assert(rows(got) == rows(ref))
    assert(got.count() > 0)
  }

  /** The formulation [[graft.functions.WordGrams]] replaced, kept as the
    * reference: word `n`-grams of `text` by an interpreted lambda that
    * re-splits the text for every gram (the size guard because Spark's
    * `sequence(n, m)` descends when m < n).
    */
  private def ngramsHof(n: Int): Column = {
    val parts = (n - 1 to 0 by -1)
      .map(j => s"element_at(split(text, ' '), i - $j)").mkString(", ")
    expr(
      s"""CASE WHEN size(split(text, ' ')) >= $n THEN
         |  transform(sequence($n, size(split(text, ' '))),
         |    i -> concat_ws(' ', $parts))
         |ELSE cast(array() AS array<string>) END""".stripMargin)
  }

  test("WordGrams equals the transform(sequence(...)) formulation, per order and leveled 1 → 2 → 3") {
    import spark.implicits._
    val raw = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(150)
      .select(col("doc_id"), col("text"))
    // null, "", " ", "a  b", leading/trailing spaces and multi-byte
    // words (Fixtures.edgeTexts), and texts shorter than each order
    val edge = (Seq("one", "w1 w2", "w1 w2 w3") ++ Fixtures.edgeTexts :+ null)
      .zipWithIndex.map { case (t, i) => (9001L + i, t) }
      .toDF("doc_id", "text")
    val docs = raw.unionByName(edge).localCheckpoint()
    def grams(arr: Column): Seq[(Long, Int, String)] =
      docs.select(col("doc_id"), posexplode(arr))
        .as[(Long, Int, String)].collect().toSeq.sorted
    for (n <- 1 to 3) {
      val got = grams(wordGrams(col("text"), n))
      assert(got == grams(ngramsHof(n)), s"n = $n")
      assert(got.nonEmpty)
    }
    def leveled(arr: Column): Seq[(Long, Int, Int, String)] =
      docs.select(col("doc_id"), posexplode(arr))
        .select(col("doc_id"), col("pos"), col("col.level"), col("col.gram"))
        .as[(Long, Int, Int, String)].collect().toSeq.sorted
    val hof = concat((1 to 3).map(n => transform(ngramsHof(n),
      g => struct(lit(n).as("level"), g.as("gram")))): _*)
    assert(leveled(leveledWordGrams(col("text"), 1, 2, 3)) == leveled(hof))
    // goldens: empty words kept, too-short texts and null give no grams
    val one = Seq("a  b", " x", "ü ß", "solo").toDF("text")
      .select(wordGrams(col("text"), 2)).as[Seq[String]].collect().toSeq
    assert(one == Seq(Seq("a ", " b"), Seq(" x"), Seq("ü ß"), Seq()))
    val nul = Seq(null: String).toDF("text")
      .select(explode(leveledWordGrams(col("text"), 1, 2, 3)))
    assert(nul.count() == 0)
  }

  test("CdcChunksExpr equals the declarative cdcChunksHof spec on corpus + edge shapes") {
    import spark.implicits._
    val raw = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull).limit(150)
      .select(col("doc_id"), col("text"))
    val edge = Seq((9001L, ""), (9002L, "one"), (9003L, "a  b c"),
      (9004L, (1 to 40).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val docs = raw.unionByName(edge).localCheckpoint()
    for ((w, d) <- Seq((4, 8), (3, 4))) {
      val got = graft.ext.Dedup.cdcChunks(docs, w, d)
      val ref = graft.ext.Dedup.cdcChunksHof(docs, w, d)
      assert(rows(got) == rows(ref), s"window=$w divisor=$d")
    }
    // null text emits nothing; guards still fire
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(graft.ext.Dedup.cdcChunks(withNull).count() == 0)
    intercept[IllegalArgumentException](
      graft.ext.Dedup.cdcChunks(docs, window = 0))
    intercept[IllegalArgumentException](
      graft.ext.Dedup.cdcChunks(docs, divisor = 1))
  }
}
