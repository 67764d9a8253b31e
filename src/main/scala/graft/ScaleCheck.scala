package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Pin._
import graft.core.Sessions

/** SCALE spot-check — the measured "would this survive 100×?" evidence
  * (round-16 verdict ask #3): derives deterministic replicated corpora
  * at growing multipliers from the sf parquet tables (testdata itself
  * is read-only), runs the flagship compositions at each scale,
  * and writes SCALE.md with wall-time-vs-rows curves plus the
  * hot-bucket guard disclosures.
  *
  * Corpus derivation (pure column functions of (row, replica) — no RNG,
  * re-runs bit-identical):
  *  - replica 0 is the original corpus verbatim;
  *  - ~10% of docs (doc_id % 10 == 3) replicate VERBATIM — a constant
  *    planted exact-duplicate rate, so dedup work scales with the
  *    corpus instead of vanishing;
  *  - the rest are made textually NOVEL per replica by rotating every
  *    >5-char token by (k % 5 + 1) characters: token length, stopword
  *    and punctuation signals, vocabulary size per replica, and 2-gram
  *    distinctness are all preserved, so the quality/perplexity stages
  *    see the same distribution at every scale;
  *  - embeddings likewise: 10% verbatim (planted near-dups), the rest
  *    element-wise shifted by a deterministic (k, i) pattern.
  *
  * Flagships: Curation.curate, Curation.ccnetCurate, the
  * t_training_prep composition (curate → budget select → pack, budget
  * scaled ×m so selection work scales), Similarity.embeddingNearDups,
  * and the LSH index build + annTopKIndexed search. Each timed as a
  * noop-format write (materializes every row), median of
  * `SPARK_GRAFT_SCALE_REPS` sweeps.
  *
  * Usage: SPARK_GRAFT_SCALE_MULTS=1,4,16 runMain graft.ScaleCheck
  */
object ScaleCheck {

  private def replicateDocs(docs: DataFrame, m: Int): DataFrame = {
    val spark = docs.sparkSession
    val maxId = docs.agg(max("doc_id")).head.getLong(0) + 1L
    val reps = broadcast(spark.range(m.toLong).toDF("k"))
    val rot = (col("k") % 5 + 1).cast("int")
    val rotTok = (t: org.apache.spark.sql.Column) =>
      when(length(t) > 5,
        concat(t.substr(rot + 1, length(t) - rot), t.substr(lit(1), rot)))
        .otherwise(t)
    docs.crossJoin(reps).select(
      (col("doc_id") + col("k") * maxId).as("doc_id"),
      when(col("k") === 0 || col("doc_id") % 10 === 3, col("text"))
        .otherwise(array_join(
          transform(split(col("text"), " "), rotTok), " ")).as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  private def replicateEmb(emb: DataFrame, m: Int): DataFrame = {
    val spark = emb.sparkSession
    val maxId = emb.agg(max("vec_id")).head.getLong(0) + 1L
    val reps = broadcast(spark.range(m.toLong).toDF("k"))
    emb.crossJoin(reps).select(
      (col("vec_id") + col("k") * maxId).as("vec_id"),
      when(col("k") === 0 || col("vec_id") % 10 === 3, col("embedding"))
        .otherwise(transform(col("embedding"),
          (x, i) => x + ((col("k") * 31 + i) % 7 - 3).cast("float") * lit(0.05f)))
        .as("embedding"),
      col("label"))
  }

  /** The t_training_prep composition with the token budget scaled ×m
    * (a fixed budget would truncate selection and hide downstream
    * cost growth).
    */
  private def trainingPrep(docs: DataFrame, m: Int): DataFrame = {
    val curated = graft.ext.Curation.curate(docs)
    val toks = docs.select(col("doc_id"),
      when(col("text").isNull, 0)
        .otherwise(size(split(col("text"), " "))).as("toks"))
    val train = curated.filter(col("split") === "train").join(toks, "doc_id")
    val sel = graft.ext.Packing.selectByBudget(train, col("doc_id"),
      col("toks"), col("quality"), 12000L * m)
    graft.ext.Packing.packSequences(sel, col("doc_id"), col("toks"), 512L)
      .select(col("doc_id"), col("quality"), col("pack"))
  }

  /** The t_fim_prep composition: keep-best near-dup survivors → FIM
    * transform → 512-token packing.
    */
  private def fimPrep(docs: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.qualityScore(col("text")).cast("long")
        .as("quality"))
    val best = graft.ext.Dedup.keepBest(
        graft.ext.Dedup.nearDupClusters(docs), scored)
      .select(col("keep_id").as("doc_id"))
    val kept = docs.select("doc_id", "text").join(best, "doc_id")
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .pin()
    val fimmed = graft.ext.Packing.fimTransform(kept)
      .withColumn("toks",
        col("n_tokens") + when(col("fim"), 3L).otherwise(0L))
    graft.ext.Packing.packSequences(fimmed, col("doc_id"), col("toks"),
      512L)
  }

  /** Median of `reps` timed runs; `warm` runs one UNTIMED pass first
    * (codegen + parquet-footer warm-up, used at the first multiplier so
    * the 1× cell doesn't absorb session start-up and skew every ratio).
    */
  private def timeIt(reps: Int, warm: Boolean)(body: => Unit): Double = {
    if (warm) body
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,4,16")
      .split(",").map(_.trim.toInt).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt.max(1)
    val spark = Sessions.build("graft-scale",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val out = new StringBuilder
    val results =
      scala.collection.mutable.LinkedHashMap[(String, Int), (Long, Double)]()
    val guardRows = scala.collection.mutable.LinkedHashMap[Int, Long]()

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    mults.foreach { m =>
      val base = java.nio.file.Files.createTempDirectory(s"scale-$m").toString
      replicateDocs(graft.core.Tables.documents(spark, sfDir), m)
        .write.mode("overwrite").parquet(s"$base/documents")
      replicateEmb(graft.core.Tables.embeddings(spark, sfDir), m)
        .write.mode("overwrite").parquet(s"$base/embeddings")
      val docs = graft.core.Parquet.read(spark, s"$base/documents")
      val emb = graft.core.Parquet.read(spark, s"$base/embeddings")
      val nDocs = docs.count()
      val nVecs = emb.count()

      // guard disclosure at this scale: band buckets wider than the cap
      // over the corpus features — the derived corpus must stay CLEAN
      // (0 rows) at every multiplier; planted-hot behavior is spec-gated
      // in ScaleGuardSpec
      guardRows(m) = graft.ext.Dedup
        .bandOverflow(graft.ext.Dedup.features(docs)).count()

      def record(name: String, rows: Long, secs: Double): Unit = {
        results((name, m)) = (rows, secs)
        println(f"[scale] m=$m%-3d $name%-16s rows=$rows%-9d ${secs}%8.2f s")
      }
      record("curate", nDocs,
        timeIt(reps, warm = m == mults.head)(noop(graft.ext.Curation.curate(docs))))
      record("ccnet_curate", nDocs,
        timeIt(reps, warm = m == mults.head)(noop(graft.ext.Curation.ccnetCurate(docs))))
      record("training_prep", nDocs,
        timeIt(reps, warm = m == mults.head)(noop(trainingPrep(docs, m))))
      record("embed_neardups", nVecs,
        timeIt(reps, warm = m == mults.head)(noop(graft.ext.Similarity.embeddingNearDups(
          emb, threshold = 0.25, planes = 7, dims = 64))))
      record("ann_build", nVecs, timeIt(reps, warm = m == mults.head)(
        graft.ext.Similarity.buildLshIndex(emb, s"scale_lsh_$m",
          planes = 7, dims = 64)))
      record("ann_search", nVecs,
        timeIt(reps, warm = m == mults.head)(noop(graft.ext.Similarity.annTopKIndexed(
          spark, s"scale_lsh_$m", Seq(0L, 1L, 2L, 3L, 4L), 10))))
      // full transitive-closure clustering via the alternating
      // large-star/small-star rewriting: the planted 10% verbatim
      // duplicates give a dup graph whose edge count scales with the
      // corpus, and round count must stay O(log n) flat
      record("neardup_clusters", nDocs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.ext.Dedup.nearDupClustersStar(docs))))
      // IVF-probed hard-negative mining: per-anchor cost must track the
      // probed-list fraction, not the corpus
      record("hard_negs_ivf", nVecs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.ext.Similarity.hardNegativesIvf(emb,
            Seq(0L, 1L, 2L, 3L, 4L), 10, centroids = 16, nProbe = 6))))
      // keep-best dedup → FIM transform → packing: the t_fim_prep
      // composition; the planted dup graph scales with the corpus and
      // the FIM/pack stages are row-local + one cumsum exchange
      record("fim_prep", nDocs,
        timeIt(reps, warm = m == mults.head)(noop(fimPrep(docs))))
      // 2-sweep label propagation over the planted near-dup edges:
      // per-sweep cost must track |E| (the dup-pair relation), with
      // the edge derivation pinned once, never per sweep
      record("label_prop", nDocs,
        timeIt(reps, warm = m == mults.head)(noop {
          val edges = graft.ext.Dedup.nearDupPairs(docs)
            .filter(col("inter") * 10 >= col("uni") * 8)
          graft.ext.Graph.labelPropagation(edges, "doc_a", "doc_b",
            docs.filter(col("doc_id") % 10 === 0)
              .select(col("doc_id"), col("lang")), "doc_id", "lang")
        }))
      // per-domain DF boilerplate strip (round 17): two line-keyed
      // partial-aggs + one doc-keyed rebuild — cost must track the
      // LINE relation (corpus-linear), never pairwise
      record("strip_boilerplate", nDocs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.ext.Dedup.stripBoilerplateLines(docs))))
      // winnowing pair report (round 17): fp-keyed equi-join under the
      // bucket cap — the planted verbatim dups grow bucket widths with
      // m, and pair volume must stay group-local, never corpus²
      record("winnow_overlap", nDocs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.ext.Dedup.winnowOverlap(docs, minShared = 2))))
      // code-prep composition (round 18, the t_code_prep chain):
      // codeStats gate → winnow pair report → star components →
      // keep-best → FIM → pack. Every stage corpus-linear or
      // group-local; components via the O(log n) star rewriting (the
      // planted verbatim-dup graph deepens with m)
      record("code_prep", nDocs,
        timeIt(reps, warm = m == mults.head)(noop {
          val st = graft.ext.TextAnalysis.codeStats(docs).pin()
          val gated = docs.select("doc_id", "text")
            .join(st.filter(col("code_pass") === 1L).select("doc_id"),
              Seq("doc_id"), "left_semi")
            .pin()
          val pairs = graft.ext.Dedup.winnowOverlap(gated, minShared = 2)
          val clusters = graft.ext.Dedup.clusterLabelsStar(
              gated.select(col("doc_id").as("id")),
              pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
            .select(col("id").as("doc_id"), col("cluster_id"))
          val best = graft.ext.Dedup.keepBest(clusters,
              st.select(col("doc_id"), col("alpha_frac_x1000").as("quality")))
            .select(col("keep_id").as("doc_id"))
          val kept = gated.join(best, "doc_id")
            .repartition(docs.sparkSession.sparkContext.defaultParallelism)
            .pin()
          val fimmed = graft.ext.Packing.fimTransform(kept)
            .withColumn("toks",
              col("n_tokens") + when(col("fim"), 3L).otherwise(0L))
          graft.ext.Packing.packSequences(fimmed, col("doc_id"),
            col("toks"), 512L)
        }))
      // DPO pair prep (round 19): the SAME dpoPrepOf chain the
      // t_dpo_prep oracle gates — one prompt-keyed argmax/argmin fold
      // over quality scores + two id-keyed token joins + the
      // decomposed pack cumsum; the corpus-linear scan dominates, the
      // pair relation is |prompts|-bounded
      record("dpo_prep", nDocs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.queries.LlmQueries.dpoPrepOf(docs))))
      // chat-prep (round 19): the SAME chatPrepOf chain the
      // t_chat_prep oracle gates — conv-keyed token fold + the
      // decomposed pack cumsum; conversations scale with the corpus,
      // per-conv work is bounded by turns-per-conv
      record("chat_prep", nDocs,
        timeIt(reps, warm = m == mults.head)(
          noop(graft.queries.LlmQueries.chatPrepOf(docs))))
      // corpus WER (round 20): the t_eval_wer_report chain — planted
      // predictions vs the corpus as references, the row-local
      // 16×16-capped EditDist DP + one global rollup; pure linear scan
      record("wer_report", nDocs,
        timeIt(reps, warm = m == mults.head)(noop {
          val base = docs.filter(col("text").isNotNull)
          val preds = base.select(col("doc_id"),
            when(col("doc_id") % 4 === 0, col("text"))
              .when(col("doc_id") % 4 === 1,
                concat_ws(" ", slice(split(col("text"), " "), 1, 8)))
              .when(col("doc_id") % 4 === 2,
                concat(col("text"), lit(" EXTRA extra tokens")))
              .otherwise(lit("completely different words here"))
              .as("pred"))
          graft.ext.Eval.werReport(preds,
            base.select(col("doc_id"), col("text").as("ref")),
            maxTokens = 16)
        }))
    }

    // SCALE.md: per-flagship rows × median seconds, plus the
    // time-ratio-per-row-ratio column that makes sublinearity visible
    out.append("# SCALE — measured flagship scaling curves (round 20)\n\n")
    out.append(s"Derived corpora: deterministic replication of `$sfDir` ")
    out.append("(ScaleCheck.scala — 10% planted verbatim duplicates, the rest " +
      "token-rotated novel; embeddings 10% verbatim, the rest shifted). " +
      s"Median of $reps noop-write sweeps per cell, local[" +
      s"${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}], " +
      s"load_start ${try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ").head
        catch { case _: Throwable => "?" }}.\n\n")
    val names = results.keys.map(_._1).toSeq.distinct
    out.append("| flagship | " +
      mults.map(m => s"${m}× rows | ${m}× s").mkString(" | ") +
      " | t-ratio / row-ratio (max vs 1×) |\n")
    out.append("|---|" + mults.flatMap(_ => Seq("---", "---")).mkString("|") +
      "|---|\n")
    names.foreach { n =>
      val cells = mults.map { m =>
        val (rows, secs) = results((n, m))
        f"$rows%d | $secs%.2f"
      }
      val (r1, t1) = results((n, mults.head))
      val (rN, tN) = results((n, mults.last))
      val ratio = (tN / t1) / (rN.toDouble / r1)
      out.append(f"| $n | ${cells.mkString(" | ")} | $ratio%.2f |\n")
    }
    out.append("\nGuard disclosures (band buckets past the width cap, " +
      "`Dedup.bandOverflow` over the derived corpus): " +
      mults.map(m => s"${m}× → ${guardRows(m)}").mkString(", ") +
      " (expected 0 at every scale: the derived corpus is clean; " +
      "planted-hot disclosure is gated by ScaleGuardSpec).\n\n")
    out.append("Reading: t-ratio / row-ratio = 1.0 is perfectly linear; " +
      "< 1 is sublinear (fixed per-query overhead amortizing); the " +
      "100 TB posture requires this column to stay ~1 or below — " +
      "superlinear growth would mean a shuffle or candidate structure " +
      "that compounds with corpus size.\n")
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALE.md"),
      out.toString.getBytes("UTF-8"))
    println(out.toString)
    spark.stop()
  }
}
