package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Evaluation & annotation analytics — the scoring rungs a training-data
  * platform runs AFTER the model: eval-set scoring (exact match, token
  * F1 — the SQuAD-lineage pair every QA/extraction eval reports) and
  * annotation aggregation (majority vote, Cohen's κ) over human or
  * model-judge labels. Every law is INTEGER-exact (cross-multiplied
  * ratios, explicit floor division) so the DuckDB oracles replay the
  * scores bit-for-bit — an eval number that can't be reproduced in a
  * second engine is a number nobody should ship.
  */
object Eval {

  /** DECIMAL(38,0) lift — the shared overflow-safe grain for the
    * ×10⁴ scalings whose Long products can wrap (rankEval, RBP,
    * ROC-AUC and company all divide through here).
    */
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Truncated division on the [[dec]] grain — floor-toward-zero on
    * the non-negative quantities these metrics divide, matching the
    * oracle's integer `//`.
    */
  private def tdiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Per-item exact-match + bag-of-tokens F1 between a prediction and
    * a reference relation (joined on `doc_id`; items present on only
    * one side are dropped — they have no score). Tokens follow the
    * [[TextAnalysis.normalizeText]] law, so "The cat." matches
    * "the cat"; overlap = Σ_w min(tf_pred(w), tf_ref(w)) — the bag
    * (clipped-count) formulation SQuAD uses, not set intersection.
    *
    *   f1_x100 = (2 · overlap · 100) div (n_pred + n_ref)
    *
    * with the empty-vs-empty convention: two empty token bags are a
    * PERFECT match (em=true, f1=100) — the SQuAD null-answer rule.
    * Output: (idCol, n_pred, n_ref, overlap, em, f1_x100).
    *
    * Scale shape (round 22 — formerly a (id, word) partial-agg bag
    * join behind two eager pins): the bag overlap is a ROW-LOCAL
    * statistic once pred and ref share a row
    * ([[graft.functions.GramOverlap]] at order 1), so the whole metric
    * is the id join plus one projection — no pins, no word exchange,
    * nothing collects or crosses.
    */
  def tokenF1(preds: DataFrame, refs: DataFrame): DataFrame = {
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("pred")).as("__ev_np"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("ref")).as("__ev_nr"))
    nP.join(nR, "doc_id")
      .withColumn("__ev_o", element_at(graft.functions.gramOverlap(
        col("__ev_np"), col("__ev_nr"), 1, chars = false), 1))
      .select(col("doc_id"),
        col("__ev_o.tp").as("n_pred"), col("__ev_o.tr").as("n_ref"),
        col("__ev_o.m").as("overlap"),
        (col("__ev_np") === col("__ev_nr")).as("em"),
        when(col("__ev_o.tp") + col("__ev_o.tr") === 0L, lit(100L))
          .otherwise(expr("(2 * __ev_o.m * 100) div " +
            "(__ev_o.tp + __ev_o.tr)")).as("f1_x100"))
  }

  /** Classification CONFUSION MATRIX + per-class precision/recall —
    * the readout every classifier gate (language ID, quality, safety)
    * ships with: predictions joined to references on `doc_id`, one row
    * per observed (ref, pred) cell with the count, plus the cell's
    * share of its reference row (recall direction) and its prediction
    * column (precision direction), both ×100 integer-truncating —
    * replayed exactly by the oracle. Items present on only one side
    * or with a null label have no verdict and are dropped.
    *
    * Output: (ref, pred, n, recall_x100, precision_x100) — the
    * diagonal rows carry the per-class recall/precision; off-diagonal
    * rows show where the mass leaks. Scale shape: one id join + one
    * (ref, pred) partial-agg + two label-keyed marginal joins, all
    * bounded by the label vocabulary.
    */
  def confusionMatrix(preds: DataFrame, refs: DataFrame): DataFrame = {
    val cells = preds.filter(col("pred").isNotNull)
      .select(col("doc_id"), col("pred"))
      .join(refs.filter(col("ref").isNotNull)
        .select(col("doc_id"), col("ref")), "doc_id")
      .groupBy(col("ref").as("ref"), col("pred").as("pred"))
      .agg(count(lit(1)).as("n"))
    val refTot = cells.groupBy(col("ref"))
      .agg(sum(col("n")).as("__cm_rn"))
    val predTot = cells.groupBy(col("pred"))
      .agg(sum(col("n")).as("__cm_pn"))
    cells.join(refTot, "ref").join(predTot, "pred")
      .select(col("ref"), col("pred"), col("n"),
        expr("(n * 100) div __cm_rn").as("recall_x100"),
        expr("(n * 100) div __cm_pn").as("precision_x100"))
  }

  /** Majority-vote label aggregation over an annotation relation
    * (`item_id`, `annotator`, `label`) — the consensus step of
    * every labeling pipeline. Per item: the label with the most votes;
    * ties break to the LEXICOGRAPHICALLY SMALLEST label (a stated,
    * engine-independent rule — "first annotator wins" depends on row
    * order, which a distributed engine does not have). Null labels are
    * abstentions and don't vote; items where every annotator abstained
    * are absent. Output: (itemCol, label, votes, n_votes, unanimous).
    *
    * Scale shape: two partial-agg shuffles (item×label counts, then
    * per-item max via a bounded struct-max — never a window sort over
    * the corpus).
    */
  def majorityVote(labels: DataFrame): DataFrame = {
    val votes = labels.filter(col("label").isNotNull)
      .groupBy(col("item_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    // per-item argmax with smallest-label tie: max over
    // struct(votes, NEGATED label order) is wrong for strings — use
    // min over struct(-votes, label) instead: most votes first, then
    // smallest label
    votes.groupBy(col("item_id"))
      .agg(min(struct((-col("votes")).as("nv"), col("label").as("l")))
          .as("__mv_top"),
        sum(col("votes")).as("n_votes"))
      .select(col("item_id"), col("__mv_top.l").as("label"),
        (-col("__mv_top.nv")).as("votes"), col("n_votes"),
        (col("__mv_top.nv") === -col("n_votes")).as("unanimous"))
  }

  /** Corpus-level BLEU-4 sufficient statistics (Papineni et al. 2002)
    * between a prediction and a single-reference relation, every column
    * ENGINE-EXACT: per order n = 1..4, the clipped n-gram match count
    * `m_n = Σ_item Σ_g min(tf_pred(g), tf_ref(g))` (the tokenF1 bag law
    * generalized to n-grams), the candidate n-gram total `t_n`, and the
    * integer precision `p_n·10⁴ = (m_n·10⁴) div t_n`; plus the corpus
    * candidate/reference lengths and the geometric-mean precision
    *
    *   gm_x10000 = floor(10⁴ · √√( (m₁/t₁ · m₂/t₂) · (m₃/t₃ · m₄/t₄) ))
    *
    * which is bit-deterministic across engines because IEEE-754
    * REQUIRES division, multiplication and sqrt to be exactly rounded —
    * the same parenthesization yields the same double everywhere (no
    * exp/log appears anywhere in this relation). The brevity penalty's
    * transcendental factor e^(1−r/c) is NOT baked into a gated column:
    * `bp_applies` discloses the c < r case and [[bleu]] layers the
    * floating-point headline number above this exact relation.
    * Tokens follow [[TextAnalysis.normalizeText]]; items null on either
    * side are dropped (no score). One row out.
    *
    * Scale shape (round 22 — formerly two explode passes into a
    * corpus-wide (id, n, gram) partial-agg join): the clipped match
    * count is a ROW-LOCAL statistic once pred and ref share a row, so
    * [[graft.functions.GramOverlap]] computes every order's (m, tp,
    * tr) inside the id join's own stage and ONE 4-row-per-item rollup
    * produces the report — the id join is the only shuffle left.
    */
  def bleuStats(preds: DataFrame, refs: DataFrame): DataFrame = {
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("pred")).as("__bl_p"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("ref")).as("__bl_r"))
    // only items present on BOTH sides score (same rule as tokenF1)
    val both = nP.join(nR, "doc_id")
    val perRow = both.select(explode(graft.functions.gramOverlap(
        col("__bl_p"), col("__bl_r"), 4, chars = false)).as("__bl_o"))
      .select(col("__bl_o.n").as("__bl_n"), col("__bl_o.m").as("__bl_m"),
        col("__bl_o.tp").as("__bl_tp"), col("__bl_o.tr").as("__bl_tr"))
    // pred_len/ref_len are the order-1 gram totals (tp₁ = |tokens|)
    val wideCols = (1 to 4).flatMap { n =>
      Seq(sum(when(col("__bl_n") === n, col("__bl_m"))).as(s"m$n"),
        sum(when(col("__bl_n") === n, col("__bl_tp"))).as(s"t$n"))
    } ++ Seq(
      sum(when(col("__bl_n") === 1, col("__bl_tp"))).as("pred_len"),
      sum(when(col("__bl_n") === 1, col("__bl_tr"))).as("ref_len"))
    val wide = perRow.agg(wideCols.head, wideCols.tail: _*)
    def dd(m: String, t: String): Column =
      col(m).cast("double") / col(t).cast("double")
    val allT = (1 to 4).map(n => col(s"t$n") > 0L).reduce(_ && _)
    wide.select(
      Seq(col("pred_len"), col("ref_len")) ++
        (1 to 4).flatMap { n =>
          Seq(col(s"m$n"), col(s"t$n"),
            when(col(s"t$n") > 0L,
              expr(s"(m$n * 10000) div t$n")).as(s"p${n}_x10000"))
        } ++ Seq(
          when(allT, floor(lit(10000.0) * sqrt(sqrt(
            (dd("m1", "t1") * dd("m2", "t2")) *
              (dd("m3", "t3") * dd("m4", "t4"))))).cast("long"))
            .as("gm_x10000"),
          (col("pred_len") < col("ref_len")).as("bp_applies")): _*)
  }

  /** The headline corpus BLEU-4 number over [[bleuStats]]: the exact
    * geometric-mean precision with the standard brevity penalty
    * `min(1, e^(1−r/c))` applied. The `bleu` column is DOUBLE — e^x is
    * not exactly-rounded-mandated by IEEE-754, so this one column is a
    * presentation-layer value (NOT oracle-gated); every input to it
    * sits in the same row as an exact integer.
    */
  def bleu(preds: DataFrame, refs: DataFrame): DataFrame =
    bleuStats(preds, refs).withColumn("bleu",
      when(col("gm_x10000").isNull, lit(null).cast("double"))
        .otherwise((col("gm_x10000").cast("double") / 10000.0) *
          when(!col("bp_applies"), lit(1.0))
            .otherwise(exp(lit(1.0) - col("ref_len").cast("double") /
              col("pred_len").cast("double")))))

  /** Corpus chrF2 (Popović 2015) — the character-n-gram F-score that
    * completes the BLEU/ROUGE generation-metric trio, EXACT in integer
    * arithmetic because the β = 2 F-measure collapses: with clipped
    * common count m and pred/ref n-gram totals tp, tr,
    *
    *   F₂ = 5PR/(4P + R) = 5m / (4·tr + tp)
    *
    * so per order n = 1..6 (the sacrebleu default), `f_n·10⁴ =
    * (5·m_n·10⁴) div (4·tr_n + tp_n)`, and the headline
    * `chrf2_x10000 = (Σ_n f_n·10⁴) div n_orders` — the DOCUMENTED law:
    * the mean of the floored per-order scores (floor-of-mean and
    * mean-of-floor differ below the 10⁻⁴ grain; picking one makes the
    * number engine-exact). Characters follow sacrebleu's default:
    * [[TextAnalysis.normalizeText]], then whitespace REMOVED, n-grams
    * over the remaining code points. Orders with zero grams on both
    * sides are skipped (short corpora); zero on one side scores 0.
    * Output: one row — per-order (m_n, tp_n, tr_n, f_n_x10000) and
    * chrf2_x10000.
    *
    * Scale shape (round 22 — the [[bleuStats]] restructure): the
    * per-order clipped counts come out of ONE row-local
    * [[graft.functions.GramOverlap]] pass inside the id join's stage
    * (character n-grams = byte n-grams — the normalize step guarantees
    * ASCII), then one 6-row-per-item rollup; the id join is the only
    * shuffle left.
    */
  def chrF(preds: DataFrame, refs: DataFrame): DataFrame = {
    val orders = 1 to 6
    def chars(c: Column): Column =
      regexp_replace(TextAnalysis.normalizeText(c), " ", "")
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      chars(col("pred")).as("__cf_p"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      chars(col("ref")).as("__cf_r"))
    val both = nP.join(nR, "doc_id")
    val perRow = both.select(explode(graft.functions.gramOverlap(
        col("__cf_p"), col("__cf_r"), orders.max, chars = true)).as("__cf_o"))
      .select(col("__cf_o.n").as("__cf_n"), col("__cf_o.m").as("__cf_m"),
        col("__cf_o.tp").as("__cf_tp"), col("__cf_o.tr").as("__cf_tr"))
    val aggCols = orders.flatMap { n =>
      Seq(sum(when(col("__cf_n") === n, col("__cf_m"))).as(s"m$n"),
        sum(when(col("__cf_n") === n, col("__cf_tp"))).as(s"tp$n"),
        sum(when(col("__cf_n") === n, col("__cf_tr"))).as(s"tr$n"))
    }
    val wide = perRow.agg(aggCols.head, aggCols.tail: _*)
    // per-order F₂ (null when the order has zero grams on both sides —
    // "skipped"), then the documented mean-of-floored-orders headline
    val withF = wide.select(
      orders.flatMap { n =>
        Seq(col(s"m$n"), col(s"tp$n"), col(s"tr$n"),
          when(col(s"tp$n") + col(s"tr$n") > 0L,
            expr(s"(5 * m$n * 10000) div (4 * tr$n + tp$n)"))
            .as(s"f${n}_x10000"))
      }: _*)
    val fCols = orders.map(n => col(s"f${n}_x10000"))
    val fSum = fCols.map(f => coalesce(f, lit(0L))).reduce(_ + _)
    val fN = fCols.map(f => when(f.isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    withF.withColumn("__cf_fsum", fSum).withColumn("__cf_fn", fN)
      .withColumn("chrf2_x10000",
        when(col("__cf_fn") > 0L, expr("__cf_fsum div __cf_fn")))
      .drop("__cf_fsum", "__cf_fn")
  }

  /** Corpus ROUGE-N (Lin 2004) for orders 1..2 — the RECALL-oriented
    * n-gram readout that completes [[bleuStats]] (precision) and
    * [[rougeL]] (subsequence): per order, the clipped match count
    * `m_n` (the same bag law), the pred/ref gram totals `tp_n`/`tr_n`,
    * and the exact integer scores
    *
    *   r_n·10⁴ = (m_n·10⁴) div tr_n          (the headline ROUGE-N)
    *   p_n·10⁴ = (m_n·10⁴) div tp_n
    *   f_n·10⁴ = (2·m_n·10⁴) div (tp_n + tr_n)   (β = 1 collapse)
    *
    * Tokens follow [[TextAnalysis.normalizeText]]; items null on either
    * side are dropped. One row out; same scale shape as [[bleuStats]]
    * (two row-local explode passes ×2 orders, one (id, n, gram)
    * partial-agg join, one corpus rollup).
    */
  def rougeN(preds: DataFrame, refs: DataFrame): DataFrame = {
    val orders = 1 to 2
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("pred")).as("__rn_p"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      TextAnalysis.normalizeText(col("ref")).as("__rn_r"))
    // round 22: the clipped counts come out of ONE row-local
    // GramOverlap pass inside the id join's stage (the bleuStats
    // restructure) — the (id, n, gram) exchanges and the gram-keyed
    // join are gone; the id join is the only shuffle left
    val both = nP.join(nR, "doc_id")
    val perRow = both.select(explode(graft.functions.gramOverlap(
        col("__rn_p"), col("__rn_r"), orders.max, chars = false)).as("__rn_o"))
      .select(col("__rn_o.n").as("__rn_n"), col("__rn_o.m").as("__rn_m"),
        col("__rn_o.tp").as("__rn_tp"), col("__rn_o.tr").as("__rn_tr"))
    val aggCols = orders.flatMap { n =>
      Seq(sum(when(col("__rn_n") === n, col("__rn_m"))).as(s"m$n"),
        sum(when(col("__rn_n") === n, col("__rn_tp"))).as(s"tp$n"),
        sum(when(col("__rn_n") === n, col("__rn_tr"))).as(s"tr$n"))
    }
    val wide = perRow.agg(aggCols.head, aggCols.tail: _*)
    wide.select(
      orders.flatMap { n =>
        Seq(col(s"m$n"), col(s"tp$n"), col(s"tr$n"),
          when(col(s"tr$n") > 0L, expr(s"(m$n * 10000) div tr$n"))
            .as(s"r${n}_x10000"),
          when(col(s"tp$n") > 0L, expr(s"(m$n * 10000) div tp$n"))
            .as(s"p${n}_x10000"),
          when(col(s"tp$n") + col(s"tr$n") > 0L,
            expr(s"(2 * m$n * 10000) div (tp$n + tr$n)"))
            .as(s"f${n}_x10000"))
      }: _*)
  }

  /** Margin-bucket RELIABILITY of a classifier against reference
    * labels — the integer-exact calibration readout (the reliability
    * diagram's table): rows joined on `doc_id`, correctness =
    * (pred = ref), confidence bucket = `margin div bucketWidth`
    * (integer floor — margins are the engine's NB bit-margins, already
    * integers). Per bucket: n, n_correct, and `acc_x10000 =
    * (n_correct·10⁴) div n`. A classifier whose accuracy does not rise
    * with its margin is mis-calibrated — this is the gate-threshold
    * audit ([[TextAnalysis.classifyNaiveBayes]]'s `margin` doc points
    * at thresholding; this says WHERE the threshold earns its keep).
    * Output: (bucket, n, n_correct, acc_x10000), bucket ascending.
    *
    * Scale shape: one id join + one bucket-keyed partial agg —
    * bucket cardinality bounded by max-margin/width.
    */
  def marginReliability(preds: DataFrame, refs: DataFrame): DataFrame = {
    preds.filter(col("pred").isNotNull && col("margin").isNotNull)
      .select(col("doc_id"), col("pred"),
        col("margin").cast("long").as("__mr_m"))
      .join(refs.filter(col("ref").isNotNull)
        .select(col("doc_id"), col("ref")), "doc_id")
      .groupBy(expr(s"__mr_m div 16L").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("ref"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("acc_x10000", expr("(n_correct * 10000) div n"))
  }

  /** Per-item ROUGE-L (Lin 2004): the longest common subsequence of
    * the normalized token arrays, with the F-measure collapsed to its
    * exact integer form — for β = 1,
    *
    *   F = 2PR/(P+R) = 2·LCS/(n_pred + n_ref)
    *
    * so `f_x100 = (2·lcs·100) div (n_pred + n_ref)`, and precision /
    * recall are `(lcs·100) div n` — all integer floor-divided, all
    * replayed exactly by the oracle's recursive-CTE DP. Two empty
    * token bags are a PERFECT match (the SQuAD null-answer rule,
    * matching [[tokenF1]]); one-sided-empty scores 0.
    *
    * Both sides are truncated to their first `maxTokens` tokens — the
    * disclosed cap that bounds the row-local O(n·m) DP
    * ([[graft.functions.LcsLen]], one codegen'd pass, no shuffle
    * beyond the id join) AND the oracle's recursion depth. Eval
    * answers are short; corpora are not the input here.
    */
  def rougeL(preds: DataFrame, refs: DataFrame, maxTokens: Int = 32): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 256,
      s"maxTokens must be in [1, 256], got $maxTokens")
    val emptyArr = expr("cast(array() AS array<string>)")
    def toksOf(c: Column): Column = slice(
      when(c === "", emptyArr).otherwise(split(c, " ")), 1, maxTokens)
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      toksOf(TextAnalysis.normalizeText(col("pred"))).as("__rg_pt"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      toksOf(TextAnalysis.normalizeText(col("ref"))).as("__rg_rt"))
    nP.join(nR, "doc_id")
      .withColumn("n_pred", size(col("__rg_pt")).cast("long"))
      .withColumn("n_ref", size(col("__rg_rt")).cast("long"))
      .withColumn("lcs", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.LcsLen(
          org.apache.spark.sql.graft.Bridge.expression(col("__rg_pt")),
          org.apache.spark.sql.graft.Bridge.expression(col("__rg_rt")))))
      .select(col("doc_id"), col("n_pred"), col("n_ref"), col("lcs"),
        when(col("n_pred") + col("n_ref") === 0L, lit(100L))
          .when(col("n_pred") === 0L, lit(0L))
          .otherwise(expr("(lcs * 100) div n_pred")).as("p_x100"),
        when(col("n_pred") + col("n_ref") === 0L, lit(100L))
          .when(col("n_ref") === 0L, lit(0L))
          .otherwise(expr("(lcs * 100) div n_ref")).as("r_x100"),
        when(col("n_pred") + col("n_ref") === 0L, lit(100L))
          .otherwise(expr("(2 * lcs * 100) div (n_pred + n_ref)"))
          .as("f_x100"))
  }

  /** Per-item WORD ERROR RATE — token-level Levenshtein distance
    * (insertions + deletions + substitutions, unit cost) over the
    * SAME normalized token arrays as [[rougeL]], normalized by the
    * reference length: `wer_x100 = (edit_dist · 100) div n_ref`. This
    * is also TER's no-shift core (shift-less TER over one reference
    * degenerates to exactly this distance; the shift search is an
    * ASR/MT-toolkit heuristic, not a law this engine could replay
    * exactly).
    *
    * Edge law: two empty token bags → distance 0, WER 0 (the perfect-
    * match convention of [[tokenF1]]/[[rougeL]]); an empty REFERENCE
    * against a non-empty prediction leaves WER undefined (division by
    * zero in the metric's own definition) → NULL, with `edit_dist` =
    * n_pred still reported. WER > 100 is real (more edits than
    * reference tokens — the standard unbounded-above behavior).
    *
    * Both sides truncate to `maxTokens` (the [[rougeL]] cap bounding
    * the row-local O(n·m) DP and the oracle recursion alike). Scale
    * shape: one codegen'd row-local DP ([[graft.functions.EditDist]])
    * per item after the id join — no shuffle beyond it.
    */
  def wer(preds: DataFrame, refs: DataFrame, maxTokens: Int = 32): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 256,
      s"maxTokens must be in [1, 256], got $maxTokens")
    val emptyArr = expr("cast(array() AS array<string>)")
    def toksOf(c: Column): Column = slice(
      when(c === "", emptyArr).otherwise(split(c, " ")), 1, maxTokens)
    val nP = preds.filter(col("pred").isNotNull).select(col("doc_id"),
      toksOf(TextAnalysis.normalizeText(col("pred"))).as("__wr_pt"))
    val nR = refs.filter(col("ref").isNotNull).select(col("doc_id"),
      toksOf(TextAnalysis.normalizeText(col("ref"))).as("__wr_rt"))
    nP.join(nR, "doc_id")
      .withColumn("n_pred", size(col("__wr_pt")).cast("long"))
      .withColumn("n_ref", size(col("__wr_rt")).cast("long"))
      .withColumn("edit_dist", org.apache.spark.sql.graft.Bridge.column(
        graft.functions.EditDist(
          org.apache.spark.sql.graft.Bridge.expression(col("__wr_pt")),
          org.apache.spark.sql.graft.Bridge.expression(col("__wr_rt")))))
      .select(col("doc_id"), col("n_pred"), col("n_ref"), col("edit_dist"),
        when(col("n_ref") > 0L, expr("(edit_dist * 100) div n_ref"))
          .when(col("n_pred") === 0L, lit(0L))
          .as("wer_x100"))
  }

  /** Corpus WER rollup — the micro-average every ASR/MT leaderboard
    * reports: total edits over total REFERENCE tokens (items pool
    * their token mass; a long reference weighs more than a short one,
    * by definition). Items with an empty reference contribute their
    * `n_pred` edits to the numerator and nothing to the denominator —
    * the standard pooled convention; the whole report is NULL-guarded
    * when the pooled reference mass is zero. One row:
    * (n_items, n_ref_tokens, n_edits, wer_x100).
    */
  def werReport(preds: DataFrame, refs: DataFrame, maxTokens: Int = 32): DataFrame =
    wer(preds, refs, maxTokens)
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_ref")).as("n_ref_tokens"),
        sum(col("edit_dist")).as("n_edits"))
      .select(col("n_items"), col("n_ref_tokens"), col("n_edits"),
        when(col("n_ref_tokens") > 0L,
          expr("(n_edits * 100) div n_ref_tokens")).as("wer_x100"))

  /** Per-GROUP eval report — the leaderboard row an eval platform
    * actually renders: [[tokenF1]] and [[rougeL]] composed per item,
    * joined to a grouping relation (domain, language, task…), rolled
    * up to (group, n_items, n_em, em_x10000, f1_mean_x100,
    * rouge_mean_x100) with every mean the DOCUMENTED
    * sum-div-count integer law (exact in both engines; the 10⁻²/10⁻⁴
    * grains are the metrics' own). Items scored are those present on
    * both pred and ref sides; groups keyed by `groupCol` (a null group
    * is a group — disclosed, not dropped).
    *
    * Scale shape: the two per-item relations' shapes plus one id join
    * and one group rollup — group cardinality bounded by the domain
    * vocabulary.
    */
  def evalReport(preds: DataFrame, refs: DataFrame, groups: DataFrame,
                 maxTokens: Int = 32): DataFrame = {
    val f1 = tokenF1(preds, refs)
      .select(col("doc_id"), col("em"), col("f1_x100"))
    val rl = rougeL(preds, refs, maxTokens)
      .select(col("doc_id"), col("f_x100").as("__er_rf"))
    f1.join(rl, "doc_id")
      .join(groups.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("em"), 1L).otherwise(0L)).as("n_em"),
        sum(col("f1_x100")).as("__er_f1s"),
        sum(col("__er_rf")).as("__er_rfs"))
      .select(col("source"), col("n_items"), col("n_em"),
        expr("(n_em * 10000) div n_items").as("em_x10000"),
        expr("__er_f1s div n_items").as("f1_mean_x100"),
        expr("__er_rfs div n_items").as("rouge_mean_x100"))
  }

  /** Fleiss' κ over the whole annotation panel (Fleiss 1971,
    * generalized to a varying rater count per item): items with ≥ 2
    * non-null ratings contribute
    *
    *   P_i = (Σ_j n_ij² − r_i) / (r_i (r_i − 1))
    *
    * and because r_i varies, the mean P̄ is carried as the EXACT
    * rational S / (L·N): L = lcm of the distinct r_i(r_i−1) values
    * (collected — bounded by the annotator count) and
    * S = Σ_i (Σ_j n_ij² − r_i) · (L div r_i(r_i−1)). Chance agreement
    * P̄ₑ = Σ_j c_j² / T² over the kept items' category totals. Then
    *
    *   κ·10⁴ = (S·T² − L·N·Q) · 10⁴  tdiv  L·N·(T² − Q),   Q = Σ_j c_j²
    *
    * with every cross-multiplication in DECIMAL(38,0) (S·T²·10⁴
    * overflows int64 on ~10⁶-item panels) and tdiv the TRUNCATING
    * division both engines share (`(a − a % b) / b` here — decimal %
    * truncates like BigDecimal; DuckDB HUGEINT `//` likewise). The
    * output columns are L-INVARIANT (P̄ and P̄ₑ ship ×10⁶, κ ×10⁴), so
    * the oracle may fix L at generation time while the engine derives
    * it from data. Degenerate P̄ₑ = 1 (T² = Q) yields null κ,
    * disclosed — the [[cohenKappa]] rule. One row out.
    *
    * Scale shape: one (item, label) partial agg, one item-keyed
    * rollup, one label-keyed rollup (category-vocabulary-bounded), a
    * distinct-r collect bounded by the annotator count. Negative κ
    * (worse than chance) is exercised by the rotating annotator in the
    * oracle fixture — exactly where trunc-vs-floor engines diverge.
    */
  def fleissKappa(labels: DataFrame): DataFrame = {
    val cells = labels.filter(col("label").isNotNull)
      .groupBy(col("item_id"), col("label"))
      .agg(count(lit(1)).as("__fk_nij"))
      .pin()
    val items = cells.groupBy(col("item_id"))
      .agg(sum(col("__fk_nij")).as("__fk_ri"),
        sum(col("__fk_nij") * col("__fk_nij")).as("__fk_sq"))
      .filter(col("__fk_ri") >= 2L)
      .pin()
    // lcm of the distinct per-item denominators r(r−1): the distinct-r
    // set is bounded by the annotator count — a config-sized collect
    def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)
    val rs = items.select(col("__fk_ri")).distinct().collect()
      .map(_.getLong(0))
    val L = if (rs.isEmpty) 2L
      else rs.map(r => r * (r - 1)).reduce((a, b) => a / gcd(a, b) * b)
    val itemAgg = items.agg(
      count(lit(1)).as("n_items"),
      sum((col("__fk_sq") - col("__fk_ri")) *
        expr(s"${L}L div (__fk_ri * (__fk_ri - 1))")).as("__fk_s"))
    val catAgg = cells
      .join(items.select(col("item_id")), Seq("item_id"), "left_semi")
      .groupBy(col("label")).agg(sum(col("__fk_nij")).as("__fk_cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("__fk_cj")).as("n_ratings"),
        sum(col("__fk_cj") * col("__fk_cj")).as("__fk_q"))
    val ln = dec(lit(L)) * dec(col("n_items"))
    val t2 = dec(col("n_ratings")) * dec(col("n_ratings"))
    val q = dec(col("__fk_q"))
    val s = dec(col("__fk_s"))
    itemAgg.crossJoin(catAgg).select(
      col("n_items"),
      coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
      col("n_categories"),
      when(col("n_items") > 0L,
        tdiv(s * dec(lit(1000000L)), ln)).as("p_bar_x106"),
      when(coalesce(col("n_ratings"), lit(0L)) > 0L,
        tdiv(q * dec(lit(1000000L)), t2)).as("p_e_x106"),
      when(col("n_items") > 0L && t2 =!= q,
        tdiv((s * t2 - ln * q) * dec(lit(10000L)), ln * (t2 - q)))
        .as("kappa_x10000"))
  }

  /** Krippendorff's α (nominal metric) over the whole panel — the
    * agreement coefficient built for MISSING ratings (Krippendorff
    * 2004), completing the family past [[cohenKappa]] (pairs) and
    * [[fleissKappa]] (varying-but-counted raters): units with ≥ 2
    * non-null ratings contribute their within-unit ordered rating
    * pairs, weighted 1/(r_u − 1). With the disagreeing ordered pairs
    * per unit collapsing to r_u² − Σ_c n_uc² and the coincidence row
    * totals n_c = Σ_u n_uc needing NO weighting, the whole law is
    * three integers:
    *
    *   Do' = Σ_u (r_u² − Σ_c n_uc²) · (L div (r_u − 1)),   L = lcm(r_u − 1)
    *   A   = T² − Q               (T = Σ n_c, Q = Σ n_c²)
    *   α·10⁴ = (L·A − Do'·(T−1)) · 10⁴  tdiv  L·A
    *
    * exact in DECIMAL(38,0)/HUGEINT with the shared trunc-division law;
    * outputs are L-INVARIANT (both α terms scale with L), so the
    * oracle fixes L at generation time while the engine derives it
    * from data. Observed/expected disagreement ship ×10⁶
    * (`do_x106 = Do'·10⁶ tdiv L·T`, `de_x106 = A·10⁶ tdiv T(T−1)`).
    * A single observed category (A = 0) yields null α, disclosed.
    * Same scale shape as [[fleissKappa]]: one (unit, label) partial
    * agg, unit/label rollups, an annotator-bounded distinct-r collect.
    */
  def krippendorffAlpha(labels: DataFrame): DataFrame = {
    val cells = labels.filter(col("label").isNotNull)
      .groupBy(col("item_id"), col("label"))
      .agg(count(lit(1)).as("__ka_nij"))
      .pin()
    val items = cells.groupBy(col("item_id"))
      .agg(sum(col("__ka_nij")).as("__ka_ri"),
        sum(col("__ka_nij") * col("__ka_nij")).as("__ka_sq"))
      .filter(col("__ka_ri") >= 2L)
      .pin()
    def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)
    val rs = items.select(col("__ka_ri")).distinct().collect()
      .map(_.getLong(0))
    val L = if (rs.isEmpty) 1L
      else rs.map(_ - 1).reduce((a, b) => a / gcd(a, b) * b)
    val itemAgg = items.agg(
      count(lit(1)).as("n_units"),
      sum((col("__ka_ri") * col("__ka_ri") - col("__ka_sq")) *
        expr(s"${L}L div (__ka_ri - 1)")).as("__ka_do"))
    val catAgg = cells
      .join(items.select(col("item_id")), Seq("item_id"), "left_semi")
      .groupBy(col("label")).agg(sum(col("__ka_nij")).as("__ka_cj"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("__ka_cj")).as("n_ratings"),
        sum(col("__ka_cj") * col("__ka_cj")).as("__ka_q"))
    val t = dec(coalesce(col("n_ratings"), lit(0L)))
    val a = t * t - dec(col("__ka_q"))
    val ld = dec(lit(L))
    val dop = dec(col("__ka_do"))
    itemAgg.crossJoin(catAgg).select(
      col("n_units"),
      coalesce(col("n_ratings"), lit(0L)).as("n_ratings"),
      col("n_categories"),
      when(col("n_units") > 0L,
        tdiv(dop * dec(lit(1000000L)), ld * t)).as("do_x106"),
      when(col("n_units") > 0L && t > dec(lit(1L)),
        tdiv(a * dec(lit(1000000L)), t * (t - dec(lit(1L)))))
        .as("de_x106"),
      when(col("n_units") > 0L && a =!= dec(lit(0L)),
        tdiv((ld * a - dop * (t - dec(lit(1L)))) * dec(lit(10000L)),
          ld * a)).as("alpha_x10000"))
  }

  /** Per-query IR RANKING metrics over a retrieval run — the trec_eval
    * readout (reciprocal rank, precision@k, recall@k, average
    * precision, nDCG@k) every retrieval stack reports, each one
    * INTEGER-EXACT so a second engine replays it bit-for-bit. The
    * rational sums over harmonic denominators are carried lcm-scaled:
    * with `L = lcm(1..k+1)` (a compile-time constant of k — both
    * engines inline the same literal),
    *
    *   RR    : rr_x10000 = 10000 div r₁           (r₁ = first relevant rank; 0 if none)
    *   P@k   : (n_rel_ret · 10⁴) div k            (trec cut convention: denominator k, not n_ret)
    *   R@k   : (n_rel_ret · 10⁴) div n_rel
    *   AP    : apn = Σ_{r: rel} hits(r)·(L div r) →  (apn·10⁴) tdiv (L·n_rel)
    *   nDCG@k: dcgn = Σ_r gain_r·(L div (r+1)), idcgn likewise over the
    *           ideal (qrels sorted rel DESC, doc ASC, top k) →
    *           (dcgn·10⁴) div idcgn — L cancels
    *
    * where the DCG discount is the HARMONIC 1/(rank+1) — the documented
    * engine-exact variant (the log₂ discount is transcendental; its
    * value is not IEEE-exactly-rounded-mandated, so a gated column
    * cannot carry it — same posture as [[bleuStats]]' brevity penalty).
    * AP divides by n_rel (all relevant, trec_eval), not min(n_rel, k).
    *
    * `run` is (queryCol, docCol, rankCol) with rank 1-based and unique
    * per query (every `searchDocs`-family output satisfies this);
    * `qrels` is (queryCol, docCol, relCol) with positive integer
    * grades — non-positive/null grades mean NOT relevant and are
    * dropped. The run defines the evaluated query set; a query with no
    * qrels reports n_rel = 0 and null recall/AP/nDCG (disclosed, not
    * zero-invented). Queries present only in qrels are absent.
    *
    * Scale shape: the run is |Q|·k rows by construction; one
    * (query, doc) join against qrels, per-query windows over ≤ k rows,
    * one query-keyed rollup, plus a qrels-side rollup and an
    * ideal-ranking window bounded by the qrels relation. Nothing is
    * corpus-sized. Overflow: apn/dcgn ≤ k·maxGain·L — with k ≤ 25
    * (L ≤ 2.7·10¹⁰) and gains ≤ 10³ that is < 7·10¹⁴; the ×10⁴
    * divisions run in DECIMAL(38,0) so even those bounds never
    * overflow a gated column.
    */
  def rankEval(run: DataFrame, qrels: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1 && k <= 25, s"k must be in [1, 25], got $k")
    val L = lcmTo(k + 1)
    import org.apache.spark.sql.expressions.Window
    val qr = qrels.filter(col("rel") > 0)
      .select(col("query_id"), col("doc_id"), col("rel").cast("long").as("__ir_rel"))
    val rj = run.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("__ir_r"))
      .join(qr, Seq("query_id", "doc_id"), "left")
      .withColumn("__ir_g", coalesce(col("__ir_rel"), lit(0L)))
    // running relevant-hit count at each rank: a per-query window over
    // ≤ k rows (rank is unique per query, so the default RANGE frame
    // and a ROWS frame agree — both engines see the same h)
    val wh = Window.partitionBy(col("query_id")).orderBy(col("__ir_r"))
    val rh = rj.withColumn("__ir_h",
      sum(when(col("__ir_g") > 0L, 1L).otherwise(0L)).over(wh))
    val perQ = rh.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_ret"),
      sum(when(col("__ir_g") > 0L, 1L).otherwise(0L)).as("n_rel_ret"),
      min(when(col("__ir_g") > 0L, col("__ir_r"))).as("first_rel_rank"),
      sum(when(col("__ir_g") > 0L,
        col("__ir_h") * expr(s"${L}L div __ir_r")).otherwise(0L)).as("__ir_apn"),
      sum(col("__ir_g") * expr(s"${L}L div (__ir_r + 1)")).as("__ir_dcgn"))
    val nRel = qr.groupBy(col("query_id"))
      .agg(count(lit(1)).as("__ir_nrel"))
    val wi = Window.partitionBy(col("query_id"))
      .orderBy(col("__ir_rel").desc, col("doc_id"))
    val ideal = qr.withColumn("__ir_i", row_number().over(wi).cast("long"))
      .filter(col("__ir_i") <= k)
      .groupBy(col("query_id"))
      .agg(sum(col("__ir_rel") * expr(s"${L}L div (__ir_i + 1)"))
        .as("__ir_idcgn"))
    perQ.join(nRel, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_ret"),
        coalesce(col("__ir_nrel"), lit(0L)).as("n_rel"),
        col("n_rel_ret"),
        col("first_rel_rank"),
        coalesce(expr("10000 div first_rel_rank"), lit(0L)).as("rr_x10000"),
        expr(s"(n_rel_ret * 10000) div $k").as("precision_x10000"),
        when(coalesce(col("__ir_nrel"), lit(0L)) > 0L,
          expr("(n_rel_ret * 10000) div __ir_nrel")).as("recall_x10000"),
        when(coalesce(col("__ir_nrel"), lit(0L)) > 0L,
          tdiv(dec(col("__ir_apn")) * dec(lit(10000L)),
            dec(lit(L)) * dec(col("__ir_nrel")))).as("ap_x10000"),
        when(coalesce(col("__ir_idcgn"), lit(0L)) > 0L,
          tdiv(dec(col("__ir_dcgn")) * dec(lit(10000L)),
            dec(col("__ir_idcgn")))).as("ndcg_x10000"))
  }

  /** Rank-biased precision (Moffat & Zobel 2008) at persistence
    * p = pNum/pDen — the user-model IR metric ("a reader continues to
    * the next result with probability p"), EXACT because a rational p
    * makes every geometric weight rational: with binary relevance
    * (rel > 0) and k-cut ranks,
    *
    *   RBP = (1 − p) · Σ_{r: rel} p^(r−1)
    *       = Σ_{r: rel} pNum^(r−1) · (pDen − pNum) · pDen^(k−r) / pDen^k
    *
    * so `rbp_num = Σ pNum^(r−1)·(pDen−pNum)·pDen^(k−r)` is an integer
    * and `rbp_x10000 = (rbp_num·10⁴) div pDen^k`. `residual_x10000 =
    * (pNum^k·10⁴) div pDen^k` is the standard uncertainty bound — the
    * RBP mass a deeper ranking could still claim (constant in k, p;
    * disclosed per row so the reader can judge whether the cut
    * matters). Queries with no qrels report rbp 0 with the same
    * residual. Output: (queryCol, n_rel_ret, rbp_num, rbp_x10000,
    * residual_x10000).
    *
    * Scale shape: one (query, doc) join + one query-keyed rollup over
    * the |Q|·k run — the [[rankEval]] posture; the weight table is a
    * k-row broadcast literal.
    */
  def rankBiasedPrecision(run: DataFrame, qrels: DataFrame, k: Int = 10,
                          pNum: Int = 4, pDen: Int = 5): DataFrame = {
    require(k >= 1 && k <= 20, s"k must be in [1, 20], got $k")
    require(pDen >= 2 && pNum >= 1 && pNum < pDen,
      s"persistence must satisfy 1 <= pNum < pDen, got $pNum/$pDen")
    // pDen^k (and with it rbp_num <= pDen^k and every weight) must fit
    // in Long; the x10^4 scaling itself runs in DECIMAL(38,0), so no
    // tighter pDen^k*10^4 bound is needed here
    require(math.pow(pDen.toDouble, k.toDouble) < 9e17,
      s"pDen^k overflows Long: $pDen^$k")
    def ipow(b: Long, e: Int): Long = (1 to e).foldLeft(1L)((a, _) => a * b)
    val denK = ipow(pDen.toLong, k)
    val weights = (1 to k).map(r =>
      (r.toLong, ipow(pNum.toLong, r - 1) * (pDen - pNum).toLong *
        ipow(pDen.toLong, k - r)))
    val spark = run.sparkSession
    import spark.implicits._
    val wdf = weights.toDF("__rb_r", "__rb_w")
    // BigInt keeps pNum^k * 10^4 exact even where the Long product
    // would wrap (pDen^k up to ~9e17 is admitted above)
    val resid =
      ((BigInt(pNum) pow k) * 10000 / BigInt(denK)).toLong
    val qr = qrels.filter(col("rel") > 0)
      .select(col("query_id"), col("doc_id"))
    val hits = run.filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("__rb_r"))
      .join(qr, Seq("query_id", "doc_id"), "left_semi")
      .join(broadcast(wdf), "__rb_r")
    run.filter(col("rank") <= k).select(col("query_id")).distinct()
      .join(hits.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_rel_ret"),
          sum(col("__rb_w")).as("rbp_num")), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel_ret"), lit(0L)).as("n_rel_ret"),
        coalesce(col("rbp_num"), lit(0L)).as("rbp_num"),
        tdiv(dec(coalesce(col("rbp_num"), lit(0L))) * dec(lit(10000L)),
          dec(lit(denK))).as("rbp_x10000"),
        lit(resid).as("residual_x10000"))
  }

  /** The one-row corpus IR report over [[rankEval]] — the leaderboard
    * line a retrieval eval renders: MRR exact via the same lcm law
    * (`mrr_x10000 = (Σ_q (L div r₁(q)))·10⁴ tdiv (L·|Q|)`, a miss
    * contributing 0 — the standard convention), and MAP / mean-nDCG /
    * mean-recall as the DOCUMENTED mean-of-floors over the per-query
    * ×10⁴ integers ([[chrF]]'s precedent: floor-of-mean vs
    * mean-of-floor differ below the metric's own grain; picking one
    * makes the number engine-exact), each averaged over the queries
    * where the metric is DEFINED (n_rel > 0), with that count
    * disclosed as `n_with_rel`. Mean precision averages over ALL
    * queries (defined everywhere). One row out; scale shape is
    * [[rankEval]]'s plus a single-row rollup.
    */
  def irReport(run: DataFrame, qrels: DataFrame, k: Int = 10): DataFrame = {
    val L = lcmTo(k + 1)
    rankEval(run, qrels, k).agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("n_rel") > 0L, 1L).otherwise(0L)).as("n_with_rel"),
        sum(coalesce(expr(s"${L}L div first_rel_rank"), lit(0L)))
          .as("__ir_mrrn"),
        sum(col("ap_x10000")).as("__ir_aps"),
        count(col("ap_x10000")).as("__ir_apc"),
        sum(col("ndcg_x10000")).as("__ir_nds"),
        count(col("ndcg_x10000")).as("__ir_ndc"),
        sum(col("recall_x10000")).as("__ir_rcs"),
        count(col("recall_x10000")).as("__ir_rcc"),
        sum(col("precision_x10000")).as("__ir_pcs"))
      .select(col("n_queries"), col("n_with_rel"),
        when(col("n_queries") > 0L,
          tdiv(dec(col("__ir_mrrn")) * dec(lit(10000L)),
            dec(lit(L)) * dec(col("n_queries")))).as("mrr_x10000"),
        when(col("__ir_apc") > 0L,
          expr("__ir_aps div __ir_apc")).as("map_x10000"),
        when(col("__ir_ndc") > 0L,
          expr("__ir_nds div __ir_ndc")).as("ndcg_mean_x10000"),
        when(col("__ir_rcc") > 0L,
          expr("__ir_rcs div __ir_rcc")).as("recall_mean_x10000"),
        when(col("n_queries") > 0L,
          expr("__ir_pcs div n_queries")).as("precision_mean_x10000"))
  }

  /** `lcm(1..n)` — the shared harmonic-denominator scale of
    * [[rankEval]]/[[irReport]]; n ≤ 26 keeps it (2.7·10¹⁰) far inside
    * Long.
    */
  private def lcmTo(n: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0L) a else gcd(b, a % b)
    (1L to n.toLong).reduce((a, b) => a / gcd(a, b) * b)
  }

  /** Order-contiguous score-range width for [[rocAuc]]'s decomposed
    * prefix sum: within-range work is a partitioned window, the
    * offsets relation holds one row per non-empty range. 4096 keeps
    * integer-margin ranges to a handful of groups while bounding any
    * one range's distinct-integer-score count at 4096.
    */
  private val RocAucGroupWidth = 4096L

  /** Exact ROC-AUC of a score against a boolean label — the
    * Mann–Whitney rank-sum form with the standard half-credit for
    * ties, which keeps the whole law in integers: grouping rows by
    * DISTINCT score with p/n = positive/negative counts at that score
    * and nb = negatives at strictly lower scores,
    *
    *   2U = Σ_scores p·(2·nb + n)     (concordant ×2 + tied ×1)
    *   auc_x10000 = (2U · 10⁴) tdiv (2 · n_pos · n_neg)
    *
    * — perfect separation scores 10000, a constant score 5000,
    * perfectly inverted 0. Null scores/labels are dropped; n_pos = 0
    * or n_neg = 0 yields null AUC (disclosed — AUC is undefined on a
    * one-class set). Output one row: (n_pos, n_neg, u2, auc_x10000).
    *
    * Scale shape: one score-keyed partial-aggregated exchange
    * (cardinality = distinct scores), then the prefix sum over the
    * distinct-score relation DECOMPOSED into a range-partitioned
    * window plus broadcast range offsets (the Packing.scala cumsum
    * posture — no unpartitioned window task exists here); everything
    * bounded by score cardinality, never by the row count; ×10⁴ in
    * DECIMAL(38,0) so 2·P·N never overflows.
    */
  def rocAuc(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = scored
      .filter(col("score").isNotNull && col("label").isNotNull)
      .groupBy(col("score").as("__ra_s"))
      .agg(sum(when(col("label").cast("boolean"), 1L).otherwise(0L))
          .as("__ra_p"),
        sum(when(col("label").cast("boolean"), 0L).otherwise(1L))
          .as("__ra_n"))
    // 100 TB posture (round 22, the Packing.scala decomposed-cumsum
    // pattern): the negatives-below prefix previously ran as ONE
    // unpartitioned window over the whole distinct-score relation — a
    // single task when scores are near-continuous. Scores now group
    // into order-CONTIGUOUS ranges (floor-div; the double cast is
    // monotone, so any collision stays contiguous and the prefix is
    // unchanged), the within-range prefix runs as a partitioned window,
    // and each range's offset comes from a second window over the
    // per-range totals — one row per non-empty range (score-range /
    // width bounded, tiny for the engine's integer margins), broadcast
    // back.
    val grouped = byScore.withColumn("__ra_g",
      floor(col("__ra_s").cast("double") / lit(RocAucGroupWidth))
        .cast("long"))
    val inGrp = Window.partitionBy(col("__ra_g")).orderBy(col("__ra_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = grouped.groupBy(col("__ra_g"))
      .agg(sum(col("__ra_n")).as("__ra_gn"))
      .withColumn("__ra_off",
        coalesce(sum(col("__ra_gn")).over(
          Window.orderBy(col("__ra_g"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__ra_g"), col("__ra_off"))
    grouped
      .withColumn("__ra_nbg",
        coalesce(sum(col("__ra_n")).over(inGrp), lit(0L)))
      .join(broadcast(offsets), Seq("__ra_g"))
      .withColumn("__ra_nb", col("__ra_off") + col("__ra_nbg"))
      .agg(sum(col("__ra_p")).as("n_pos"),
        sum(col("__ra_n")).as("n_neg"),
        sum(col("__ra_p") * (lit(2L) * col("__ra_nb") + col("__ra_n")))
          .as("u2"))
      .select(
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        coalesce(col("u2"), lit(0L)).as("u2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          tdiv(dec(col("u2")) * dec(lit(10000L)),
            dec(lit(2L)) * dec(col("n_pos")) * dec(col("n_neg"))))
          .as("auc_x10000"))
  }

  /** Kendall rank correlation (τ-a) between two retrieval runs, per
    * query — "how differently do these two systems rank": over the
    * documents BOTH runs retrieved for a query, every unordered doc
    * pair is concordant (both runs order it the same way) or
    * discordant, and
    *
    *   tau_x10000 = ((C − D) · 10⁴) div (C + D)
    *
    * exact integers throughout (ranks are distinct within a run, so
    * τ-a has no tie term; C + D = n(n−1)/2). Queries sharing < 2 docs
    * have no pair evidence → null τ, disclosed with n_shared. Output:
    * (queryCol, n_shared, concordant, discordant, tau_x10000).
    *
    * Scale shape: one (query, doc) equi-join of two |Q|·k relations,
    * then a per-query pair self-join bounded by k² — query-bounded by
    * construction, never corpus-sized.
    */
  def rankCorrelation(runA: DataFrame, runB: DataFrame): DataFrame = {
    val shared = runA
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("__rc_a"))
      .join(runB.select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("__rc_b")), Seq("query_id", "doc_id"))
    val l = shared.select(col("query_id"), col("doc_id").as("__rc_d1"),
      col("__rc_a").as("__rc_a1"), col("__rc_b").as("__rc_b1"))
    val r = shared.select(col("query_id"), col("doc_id").as("__rc_d2"),
      col("__rc_a").as("__rc_a2"), col("__rc_b").as("__rc_b2"))
    val pairs = l.join(r, Seq("query_id"))
      .filter(col("__rc_d1") < col("__rc_d2"))
      .select(col("query_id"),
        (((col("__rc_a1") < col("__rc_a2")) &&
          (col("__rc_b1") < col("__rc_b2"))) ||
          ((col("__rc_a1") > col("__rc_a2")) &&
            (col("__rc_b1") > col("__rc_b2")))).as("__rc_con"))
    val nShared = shared.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_shared"))
    val agg = pairs.groupBy(col("query_id"))
      .agg(sum(when(col("__rc_con"), 1L).otherwise(0L)).as("concordant"),
        sum(when(col("__rc_con"), 0L).otherwise(1L)).as("discordant"))
    nShared.join(agg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_shared"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        when(coalesce(col("concordant"), lit(0L)) +
            coalesce(col("discordant"), lit(0L)) > 0L,
          expr("((concordant - discordant) * 10000) div " +
            "(concordant + discordant)")).as("tau_x10000"))
  }

  /** [[rocAuc]] resolved PER GROUP (domain, language, task…) — the
    * same exact Mann–Whitney law with every relation keyed by
    * `groupCol`: one (group, score) partial agg, a prefix window
    * PARTITIONED BY GROUP (so unlike the corpus-level readout, no
    * global single-partition sort exists anywhere), one group rollup.
    * Output: (groupCol, n_pos, n_neg, u2, auc_x10000) — null AUC for
    * one-class groups, disclosed. Rows with a null group form their
    * own group (disclosed, not dropped).
    */
  def rocAucBy(scored: DataFrame, groupCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = scored
      .filter(col("score").isNotNull && col("label").isNotNull)
      .groupBy(col(groupCol), col("score").as("__ra_s"))
      .agg(sum(when(col("label").cast("boolean"), 1L).otherwise(0L))
          .as("__ra_p"),
        sum(when(col("label").cast("boolean"), 0L).otherwise(1L))
          .as("__ra_n"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__ra_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("__ra_nb", coalesce(sum(col("__ra_n")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(sum(col("__ra_p")).as("n_pos"),
        sum(col("__ra_n")).as("n_neg"),
        sum(col("__ra_p") * (lit(2L) * col("__ra_nb") + col("__ra_n")))
          .as("u2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          tdiv(dec(col("u2")) * dec(lit(10000L)),
            dec(lit(2L)) * dec(col("n_pos")) * dec(col("n_neg"))))
          .as("auc_x10000"))
  }

  /** Per-group classifier ACCURACY with a 95% Wilson score interval —
    * the "84% ± how much" readout that turns an accuracy table into an
    * evidence table: per group, n / n_correct / exact ×10⁴ accuracy
    * plus Wilson bounds under the same engine-exact float law as
    * [[Preference.winRateReport]] (only IEEE exactly-rounded ops over
    * the documented z = 1.96 literals — z² = 3.8416, z²/2 = 1.9208,
    * z²/4 = 0.9604 — same parenthesization both engines, floored ×10⁴).
    * Rows joined on `doc_id`; a null group is a group (disclosed).
    * Output: (groupCol, n, n_correct, acc_x10000, wilson_lo_x10000,
    * wilson_hi_x10000).
    *
    * Scale shape: one id join + one group-keyed partial agg; the
    * Wilson arithmetic is row-local on the group-bounded result.
    */
  def accuracyCi(preds: DataFrame, refs: DataFrame): DataFrame = {
    val agg = preds.filter(col("pred").isNotNull)
      .select(col("doc_id"), col("pred"))
      .join(refs.filter(col("ref").isNotNull)
        .select(col("doc_id"), col("source"), col("ref")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred") === col("ref"), 1L).otherwise(0L))
          .as("n_correct"))
    val wD = col("n_correct").cast("double")
    val nD = col("n").cast("double")
    val half = lit(1.96) * sqrt(
      (col("n_correct") * (col("n") - col("n_correct"))).cast("double")
        / nD + lit(0.9604))
    def x1e4(c: Column): Column = floor(lit(10000.0) * c).cast("long")
    agg.select(col("source"), col("n"), col("n_correct"),
      expr("(n_correct * 10000) div n").as("acc_x10000"),
      x1e4(((wD + lit(1.9208)) - half) / (nD + lit(3.8416)))
        .as("wilson_lo_x10000"),
      x1e4(((wD + lit(1.9208)) + half) / (nD + lit(3.8416)))
        .as("wilson_hi_x10000"))
  }

  /** McNemar's PAIRED significance test between two classifiers on the
    * same reference — the "is A actually better than B, or did it win
    * on noise" readout every model-comparison eval needs: over items
    * scored by BOTH systems, the discordant counts b (A right, B
    * wrong) and c (A wrong, B right) carry all the evidence, and the
    * test statistic is EXACT in integers:
    *
    *   chi2_x10000 = ((b − c)² · 10⁴) div (b + c)
    *
    * (the uncorrected McNemar χ² with 1 df; null when b = c = 0 — no
    * disagreement, no evidence). `significant_05` compares against the
    * DOCUMENTED critical-value literal 3.8415 (χ²₁ at α = 0.05) as the
    * integer 38415 — a constant of the law, not a computed quantile —
    * and is FALSE when χ² is null (zero discordance cannot reject the
    * null hypothesis; the χ² column's own null discloses the case).
    * All four agreement cells ship (n11/n10/n01/n00), so the direction
    * (b vs c) and accuracies are readable from the same row. One row
    * out.
    *
    * Scale shape: two id-keyed joins + one corpus rollup — nothing
    * beyond the relations' own sizes.
    */
  def mcnemar(predsA: DataFrame, predsB: DataFrame, refs: DataFrame): DataFrame = {
    val a = predsA.filter(col("pred").isNotNull)
      .select(col("doc_id"), col("pred").as("__mn_a"))
    val b = predsB.filter(col("pred").isNotNull)
      .select(col("doc_id"), col("pred").as("__mn_b"))
    val r = refs.filter(col("ref").isNotNull)
      .select(col("doc_id"), col("ref").as("__mn_r"))
    a.join(b, "doc_id").join(r, "doc_id")
      .select((col("__mn_a") === col("__mn_r")).as("__mn_ra"),
        (col("__mn_b") === col("__mn_r")).as("__mn_rb"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__mn_ra") && col("__mn_rb"), 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("__mn_ra") && !col("__mn_rb"), 1L).otherwise(0L))
          .as("n10"),
        sum(when(!col("__mn_ra") && col("__mn_rb"), 1L).otherwise(0L))
          .as("n01"),
        sum(when(!col("__mn_ra") && !col("__mn_rb"), 1L).otherwise(0L))
          .as("n00"))
      .select(col("n_items"), col("n11"), col("n10"), col("n01"),
        col("n00"),
        when(col("n10") + col("n01") > 0L,
          expr("((n10 - n01) * (n10 - n01) * 10000) div (n10 + n01)"))
          .as("chi2_x10000"))
      .withColumn("significant_05",
        when(col("chi2_x10000").isNull, lit(false))
          .otherwise(col("chi2_x10000") > 38415L))
  }

  /** Cohen's κ between every PAIR of annotators sharing items, scaled
    * ×10⁴ and floor-divided so both engines render the same integer:
    *
    *   κ·10⁴ = floor( (agree·n − Σ_l cntA(l)·cntB(l)) · 10⁴
    *                  / (n² − Σ_l cntA(l)·cntB(l)) )
    *
    * (the usual (p_o − p_e)/(1 − p_e) with every term multiplied by
    * n², divided with the TRUNCATING integer division BOTH engines
    * natively share — Spark `div` and DuckDB `//` each round toward
    * zero, verified on negative κ, which worse-than-chance annotators
    * legitimately produce.) Pairs ordered a < b; the degenerate n² = Σ
    * case (both
    * annotators constant and identical — p_e = 1) yields null κ,
    * disclosed rather than invented. Null labels are abstentions; a
    * pair's universe is the items BOTH labeled.
    *
    * Output: (ann_a, ann_b, n, agree, kappa_x10000).
    */
  def cohenKappa(labels: DataFrame): DataFrame = {
    val l = labels.filter(col("label").isNotNull)
      .select(col("item_id"), col("annotator"), col("label"))
    val a = l.select(col("item_id"), col("annotator").as("ann_a"),
      col("label").as("__ck_la"))
    val b = l.select(col("item_id"), col("annotator").as("ann_b"),
      col("label").as("__ck_lb"))
    val pairs = a.join(b, Seq("item_id"))
      .filter(col("ann_a") < col("ann_b"))
    val agg = pairs.groupBy(col("ann_a"), col("ann_b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__ck_la") === col("__ck_lb"), 1L).otherwise(0L))
          .as("agree"))
    // per-pair marginal products: Σ_label cntA(label) · cntB(label)
    val margA = pairs.groupBy(col("ann_a"), col("ann_b"),
        col("__ck_la").as("__ck_l"))
      .agg(count(lit(1)).as("__ck_ca"))
    val margB = pairs.groupBy(col("ann_a"), col("ann_b"),
        col("__ck_lb").as("__ck_l"))
      .agg(count(lit(1)).as("__ck_cb"))
    val pe = margA.join(margB, Seq("ann_a", "ann_b", "__ck_l"))
      .groupBy(col("ann_a"), col("ann_b"))
      .agg(sum(col("__ck_ca") * col("__ck_cb")).as("__ck_pe"))
    agg.join(pe, Seq("ann_a", "ann_b"))
      .select(col("ann_a"), col("ann_b"), col("n"), col("agree"),
        when(col("n") * col("n") === col("__ck_pe"), lit(null))
          .otherwise(expr(
            "((agree * n - __ck_pe) * 10000) div (n * n - __ck_pe)"))
          .cast("long").as("kappa_x10000"))
  }
}
