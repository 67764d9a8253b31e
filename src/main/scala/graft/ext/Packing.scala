package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin._

/** Deterministic sequence packing for training pipelines: lay documents
  * out in a content-independent, engine-reproducible order and cut the
  * running token total into fixed-budget packs (the contiguous-fill
  * variant of context-window packing — each pack holds consecutive docs
  * whose tokens sum to ~`budget`).
  *
  * Semantics (all reproducible in the DuckDB oracle):
  *  - order = (polyhash-bucket of the key, key) — the same RNG-free
  *    [[Sampling.bucket]] rule as splits, so packing is stable across
  *    runs, engines and partitionings, and effectively shuffles docs
  *    (consecutive crawl ids land in different packs);
  *  - a document's pack is `(cumsum_before_it) div budget` — greedy
  *    contiguous fill. A pack can overflow `budget` by at most its LAST
  *    doc's tokens (docs are never split); oversized single docs simply
  *    own the packs they span. This is the standard approximation: an
  *    exact bin-pack is NP-hard and order-dependent.
  *
  * 100 TB posture: a naive `sum() over (order by …)` global window is
  * ONE task. Instead the global cumsum is decomposed: contiguous
  * bucket-range GROUPS get a partitioned window cumsum (parallel,
  * shuffled once by group), and each group's offset is a second window
  * over the per-group totals — a relation with one row per group
  * (bounded by [[Sampling.Grain]]/`groupWidth`, ~hundreds), broadcast
  * back. Identical result, no single-task stage.
  */
object Packing {

  /** Add a `pack` column: index of the fixed-`budget` pack the
    * document's tokens start in. `tokensCol` is the caller's token
    * count (e.g. [[TextAnalysis]] counts, or a plain whitespace count) —
    * a NULL count is treated as 0 tokens (the row still gets a pack, it
    * just occupies no budget; same rule as [[selectByBudget]]);
    * `keyCol` must be unique per row (the order tiebreak).
    */
  def packSequences(df: DataFrame, keyCol: Column, tokensCol: Column,
                    budget: Long, groupWidth: Int = 16): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(groupWidth > 0 && groupWidth <= Sampling.Grain,
      s"groupWidth must be in [1, ${Sampling.Grain}], got $groupWidth")
    val bkt = Sampling.bucket(keyCol)
    val base = df
      .withColumn("__pk_tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("__pk_bkt", bkt)
      .withColumn("__pk_grp", (bkt / groupWidth).cast("long"))
    // parallel within-group running total (shuffle: one, by group)
    val inGrp = Window.partitionBy("__pk_grp")
      .orderBy(col("__pk_bkt"), keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base.withColumn("__pk_cum", sum("__pk_tok").over(inGrp))
    // group offsets: one row per group — tiny by construction, so the
    // unpartitioned ordered window is a non-issue
    val offsets = base.groupBy("__pk_grp")
      .agg(sum("__pk_tok").as("__pk_total"))
      .withColumn("__pk_off",
        coalesce(sum("__pk_total").over(
          Window.orderBy("__pk_grp")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__pk_grp", "__pk_off")
    withCum.join(broadcast(offsets), "__pk_grp")
      .withColumn("pack",
        expr(s"(__pk_off + __pk_cum - __pk_tok) div $budget"))
      .drop("__pk_tok", "__pk_bkt", "__pk_grp", "__pk_cum", "__pk_off")
  }

  /** Budget-capped corpus selection: keep the highest-`priorityCol`
    * documents whose running token total fits `budget` — "fill a
    * 1B-token training budget with the best docs first", deterministic.
    * Order = (priority DESC, polyhash bucket, key): within a priority
    * level docs are hash-shuffled, so the cut is content-independent
    * and reproducible; a doc is kept iff the INCLUSIVE running total is
    * ≤ budget (prefix selection — no later smaller doc back-fills, so
    * membership never depends on what follows the cut).
    *
    * Same distributed prefix-sum as [[packSequences]], with the
    * (priority, bucket-range) pair as the parallel group; the offsets
    * relation has one row per (priority level × group) — priorities
    * must be integral and LOW-CARDINALITY (a quality score, not a raw
    * float or a per-document rank), which is also what makes the order
    * engine-reproducible. Misuse fails LOUDLY: more than
    * [[MaxOffsetRows]] distinct (priority, group) rows aborts before
    * the offsets relation is broadcast (a high-cardinality priority
    * would otherwise silently turn the "tiny" broadcast into a
    * corpus-sized unpartitioned window + driver OOM).
    * NULL handling is deterministic and disclosed, never a silent drop:
    * a NULL priority sorts LAST (below every real level — it competes
    * for leftover budget only) and a NULL token count costs 0. The
    * NULL sentinel is `Long.MinValue`, so a GENUINE priority of
    * `Long.MinValue` is indistinguishable from NULL and merges into
    * the null group — no real quality score lives at the very bottom
    * of the Long range; rescale if yours does.
    */
  def selectByBudget(df: DataFrame, keyCol: Column, tokensCol: Column,
                     priorityCol: Column, budget: Long,
                     groupWidth: Int = 16): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(groupWidth > 0 && groupWidth <= Sampling.Grain,
      s"groupWidth must be in [1, ${Sampling.Grain}], got $groupWidth")
    val bkt = Sampling.bucket(keyCol)
    val base = df
      .withColumn("__sb_tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("__sb_pri",
        coalesce(priorityCol.cast("long"), lit(Long.MinValue)))
      .withColumn("__sb_bkt", bkt)
      .withColumn("__sb_grp", (bkt / groupWidth).cast("long"))
    val inGrp = Window.partitionBy("__sb_pri", "__sb_grp")
      .orderBy(col("__sb_bkt"), keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base.withColumn("__sb_cum", sum("__sb_tok").over(inGrp))
    // GUARD ORDER MATTERS: materialize the per-(priority, group) totals
    // first — a distributed partial-aggregated shuffle, safe at any
    // cardinality — and trip the cap on THAT count, so a high-cardinality
    // priority fails loudly BEFORE the unpartitioned running-sum window
    // below ever runs (that window is single-task by construction and is
    // only safe because this guard has already bounded its input)
    val totals = base.groupBy("__sb_pri", "__sb_grp")
      .agg(sum("__sb_tok").as("__sb_total"))
      .pin()
    val nOff = totals.count()
    require(nOff <= MaxOffsetRows,
      s"selectByBudget: $nOff distinct (priority, group) rows exceed the " +
        s"$MaxOffsetRows offsets-relation cap — the priority column is " +
        "high-cardinality (a raw float or per-document rank?); pass a " +
        "low-cardinality integral quality level instead")
    val offsets = totals
      .withColumn("__sb_off",
        coalesce(sum("__sb_total").over(
          Window.orderBy(col("__sb_pri").desc, col("__sb_grp"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__sb_pri", "__sb_grp", "__sb_off")
    withCum.join(broadcast(offsets), Seq("__sb_pri", "__sb_grp"))
      .filter(col("__sb_off") + col("__sb_cum") <= budget)
      .drop("__sb_tok", "__sb_pri", "__sb_bkt", "__sb_grp", "__sb_cum",
        "__sb_off")
  }

  /** Hard cap on [[selectByBudget]]'s broadcast offsets relation
    * (priority levels × bucket groups): ~2.4 MB of (long, long, long)
    * rows — two orders of magnitude above any sane quality-score
    * cardinality, far below anything that could hurt the driver.
    */
  val MaxOffsetRows = 100000L

  /** Curriculum-ordered sequence packing: [[packSequences]] under a
    * leading STAGE ordering — docs are laid out (stage ASC, hash
    * bucket, key) and cut into fixed-budget packs, so a trainer
    * consuming packs 0..N in order sees the curriculum (e.g. stage =
    * inverted quality score: cleanest data first, noisiest last).
    * Within a stage the hash order still shuffles documents
    * content-independently.
    *
    * Same decomposed prefix-sum as [[selectByBudget]] with the (stage,
    * bucket-range) pair as the parallel group, the same
    * [[MaxOffsetRows]] loud-failure guard (stages must be integral and
    * low-cardinality), and the same NULL law — a NULL stage sorts LAST
    * (sentinel Long.MaxValue: unknown difficulty trains at the end), a
    * NULL token count costs 0.
    */
  def curriculumPack(df: DataFrame, keyCol: Column, tokensCol: Column,
                     stageCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val bkt = Sampling.bucket(keyCol)
    val base = df
      .withColumn("__cp_tok", coalesce(tokensCol.cast("long"), lit(0L)))
      .withColumn("__cp_stg",
        coalesce(stageCol.cast("long"), lit(Long.MaxValue)))
      .withColumn("__cp_bkt", bkt)
      .withColumn("__cp_grp", (bkt / 16).cast("long"))
    val inGrp = Window.partitionBy("__cp_stg", "__cp_grp")
      .orderBy(col("__cp_bkt"), keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base.withColumn("__cp_cum", sum("__cp_tok").over(inGrp))
    // guard order matters — see selectByBudget: bound the offsets
    // relation BEFORE the unpartitioned window over it runs
    val totals = base.groupBy("__cp_stg", "__cp_grp")
      .agg(sum("__cp_tok").as("__cp_total"))
      .pin()
    val nOff = totals.count()
    require(nOff <= MaxOffsetRows,
      s"curriculumPack: $nOff distinct (stage, group) rows exceed the " +
        s"$MaxOffsetRows offsets-relation cap — the stage column is " +
        "high-cardinality; pass a low-cardinality integral stage instead")
    val offsets = totals
      .withColumn("__cp_off",
        coalesce(sum("__cp_total").over(
          Window.orderBy(col("__cp_stg"), col("__cp_grp"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__cp_stg", "__cp_grp", "__cp_off")
    withCum.join(broadcast(offsets), Seq("__cp_stg", "__cp_grp"))
      .withColumn("pack",
        expr(s"(__cp_off + __cp_cum - __cp_tok) div $budget"))
      .drop("__cp_tok", "__cp_stg", "__cp_bkt", "__cp_grp", "__cp_cum",
        "__cp_off")
  }

  /** Packing QA report — per-pack fill statistics over a
    * [[packSequences]]/[[curriculumPack]] result: document count, token
    * total, and integer fill percentage against the budget. The
    * readout that catches a broken packing run (fill collapsing, one
    * giant doc owning many packs) before a trainer does. One bounded
    * groupBy on the pack id — packs ≈ corpus tokens / budget rows.
    */
  def packStats(packed: DataFrame, tokensCol: Column,
                budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    packed.groupBy(col("pack"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(tokensCol.cast("long"), lit(0L))).as("n_tokens"))
      .withColumn("fill_x100", expr(s"n_tokens * 100 div $budget"))
  }

  /** Fill-in-the-middle (FIM) transformation (Bavarian et al. 2022):
    * rewrite a deterministic `rate`% of documents into the PSM
    * (prefix–suffix–middle) layout
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` so an
    * autoregressive model learns infilling "for free"; the rest pass
    * through untouched (the paper's AR/FIM data mixture).
    *
    * Everything is RNG-free and engine-reproducible: selection is
    * polyhash(docId:fim) mod 100 < rate, and the two token cut points
    * are independent polyhashes mod (n+1) — lo = min, hi = max, so
    * prefix = tokens[1..lo], middle = (lo..hi], suffix = (hi..n].
    * Degenerate cuts are kept, not resampled (an empty middle is a
    * valid — and useful — training case per the paper), and the
    * sentinels are always emitted for a selected doc so the format is
    * positionally fixed.
    *
    * 100 TB posture: row-local array slicing in one codegen'd map
    * stage — zero shuffles, no UDFs. Null text → null output, zero
    * counts, never selected.
    */
  def fimTransform(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val n = size(toks)
    val idStr = col("doc_id").cast("string")
    def h(tag: String) =
      graft.functions.polyFingerprint(concat(idStr, lit(tag)))
    val pick = pmod(h(":fim"), lit(100L)) < 50.toLong
    val c1 = pmod(h(":fimA"), (n + 1).cast("long"))
    val c2 = pmod(h(":fimB"), (n + 1).cast("long"))
    val lo = least(c1, c2).cast("int")
    val hi = greatest(c1, c2).cast("int")
    val psm = array_join(concat(
      array(lit("<fim_prefix>")), slice(toks, lit(1), lo),
      array(lit("<fim_suffix>")), slice(toks, hi + 1, n - hi),
      array(lit("<fim_middle>")), slice(toks, lo + 1, hi - lo)), " ")
    val present = col("text").isNotNull
    docs.select(col("doc_id"),
      (present && pick).as("fim"),
      when(!present, lit(null).cast("string"))
        .when(pick, psm).otherwise(col("text")).as("text_out"),
      when(present, n.cast("long")).otherwise(0L).as("n_tokens"),
      when(present && pick, (hi - lo).cast("long")).otherwise(0L)
        .as("n_middle"))
  }

  /** Loss-masked SFT packing: lay (prompt, response) examples onto the
    * packing tape and emit, per example, WHERE its loss-bearing tokens
    * land — the piece a supervised-fine-tuning trainer needs beyond
    * [[packSequences]] (prompt tokens are context only; the loss mask
    * covers exactly the response span).
    *
    * Tape law (identical to [[packSequences]] — same hash order, same
    * contiguous fill): an example's tape position is the running token
    * total before it; then
    *   - `pack`       = pos div budget,
    *   - `seq_off`    = pos mod budget (start slot inside the pack),
    *   - `loss_start` = seq_off + prompt tokens,
    *   - `loss_end`   = loss_start + response tokens (exclusive),
    *   - `spans_packs`= the example crosses a pack boundary (its tail
    *     overflows into the next budget window) — DISCLOSED, not
    *     silently wrapped, because the trainer must decide (truncate,
    *     or mask the wrapped head).
    * NULL token counts cost 0 (the row still packs, occupying no
    * budget). Same decomposed prefix-sum as [[packSequences]]: one
    * shuffle by bucket-range group, group offsets broadcast back —
    * never a single-task global window.
    */
  def sftPack(pairs: DataFrame, keyCol: Column, promptToksCol: Column,
              responseToksCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val bkt = Sampling.bucket(keyCol)
    val base = pairs
      .withColumn("__sf_p", coalesce(promptToksCol.cast("long"), lit(0L)))
      .withColumn("__sf_r", coalesce(responseToksCol.cast("long"), lit(0L)))
      .withColumn("__sf_tok", col("__sf_p") + col("__sf_r"))
      .withColumn("__sf_bkt", bkt)
      .withColumn("__sf_grp", (bkt / 16).cast("long"))
    val inGrp = Window.partitionBy("__sf_grp")
      .orderBy(col("__sf_bkt"), keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = base.withColumn("__sf_cum", sum("__sf_tok").over(inGrp))
    val offsets = base.groupBy("__sf_grp")
      .agg(sum("__sf_tok").as("__sf_total"))
      .withColumn("__sf_off",
        coalesce(sum("__sf_total").over(
          Window.orderBy("__sf_grp")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__sf_grp", "__sf_off")
    withCum.join(broadcast(offsets), "__sf_grp")
      .withColumn("__sf_pos", col("__sf_off") + col("__sf_cum") - col("__sf_tok"))
      .withColumn("pack", expr(s"__sf_pos div $budget"))
      .withColumn("seq_off", expr(s"__sf_pos % $budget"))
      .withColumn("loss_start", col("seq_off") + col("__sf_p"))
      .withColumn("loss_end", col("loss_start") + col("__sf_r"))
      .withColumn("spans_packs", col("__sf_tok") > 0 &&
        expr(s"__sf_pos div $budget") =!=
          expr(s"(__sf_pos + __sf_tok - 1) div $budget"))
      .drop("__sf_p", "__sf_r", "__sf_tok", "__sf_bkt", "__sf_grp",
        "__sf_cum", "__sf_off", "__sf_pos")
  }

  /** T5/UL2-style span-corruption preparation: deterministically mask
    * token spans of each document and emit the (inputs, targets) pair a
    * denoising objective trains on — inputs = the document with each
    * masked span replaced by one `<extra_id_k>` sentinel, targets = the
    * sentinels each followed by the tokens it hid.
    *
    * Span placement is RNG-free and engine-reproducible: token indices
    * are cut into fixed 20-token blocks, and each block masks ONE
    * `spanLen`-token span at offset polyhash(docId:block) mod
    * (blockSize − spanLen + 1) — i.e. a spanLen/blockSize corruption
    * rate (the T5 default 15% at 3/20) with spans that can never
    * overlap, so sentinel numbering is simply the block index. The
    * final partial block masks whatever suffix of its span exists (a
    * span may be shorter or absent there).
    *
    * 100 TB posture: the whole derivation is per-row higher-order
    * functions over the token array — one codegen'd map stage, zero
    * shuffles, no UDFs. Null text → null inputs/targets, zero counts.
    */
  def spanCorruption(docs: DataFrame): DataFrame = {
    val reserved = docs.columns.filter(_.startsWith("__sc_"))
    require(reserved.isEmpty,
      s"column(s) ${reserved.mkString(", ")} collide with spanCorruption's " +
        "reserved prefix '__sc_' — rename before corrupting")
    // `toks` and the per-block offset table are STAGED through
    // materialized columns (round 22, the cdcChunks lesson): inlined,
    // every per-token lambda element_at re-evaluated the embedded
    // split / O(nBlocks) offset-hash transform — higher-order
    // functions are interpreted per element with no subexpression
    // elimination across the lambda boundary, so the inline form did
    // O(tokens · blocks) polyhash work per document where the staged
    // form does O(blocks) once. CollapseProject leaves the aliases
    // alone (non-cheap, multiply referenced), so each stage evaluates
    // once per row.
    val toks = col("__sc_toks")
    val n = size(toks)
    // exact integer ceil(n / blockSize): doubles are exact far past any
    // token count, but keep the arithmetic integral anyway
    val nBlocks =
      floor((n.cast("double") + (20 - 1)) / 20).cast("int")
    val offsExpr = transform(sequence(lit(0), nBlocks - 1),
      b => pmod(graft.functions.polyFingerprint(
        concat(col("doc_id").cast("string"), lit(":"), b.cast("string"))),
        lit(20 - 3 + 1)).cast("int"))
    val offs = col("__sc_offs")
    def blk(i: Column) =
      floor((i - 1).cast("double") / 20).cast("int")
    def off(i: Column) = element_at(offs, blk(i) + 1)
    def pos(i: Column) = pmod(i - 1, lit(20))
    def isMasked(i: Column) =
      pos(i) >= off(i) && pos(i) < off(i) + 3
    def isStart(i: Column) = pos(i) === off(i)
    def sentinel(i: Column) =
      concat(lit("<extra_id_"), blk(i).cast("string"), lit(">"))
    val idxs = sequence(lit(1), n)
    val inArr = transform(filter(idxs, i => !(isMasked(i) && !isStart(i))),
      i => when(isStart(i), sentinel(i)).otherwise(element_at(toks, i)))
    val tgArr = transform(filter(idxs, i => isMasked(i)),
      i => when(isStart(i), concat(sentinel(i), lit(" "), element_at(toks, i)))
        .otherwise(element_at(toks, i)))
    val present = col("text").isNotNull
    docs
      .withColumn("__sc_toks", split(col("text"), " "))
      .withColumn("__sc_offs", offsExpr)
      .select(col("doc_id"),
        when(present, array_join(inArr, " ")).as("inputs"),
        when(present, array_join(tgArr, " ")).as("targets"),
        when(present, n.cast("long")).otherwise(0L).as("n_tokens"),
        when(present, size(filter(idxs, i => isMasked(i))).cast("long"))
          .otherwise(0L).as("n_masked"),
        when(present, size(filter(idxs, i => isStart(i))).cast("long"))
          .otherwise(0L).as("n_spans"))
  }

  /** The chat template both chat ops render: each turn contributes
    * `<|role|>\ncontent\n`, so a turn's rendered length is
    * `len(role) + len(content) + 6` code points and its content starts
    * `len(role) + 5` past the turn's own start — closed-form span
    * arithmetic both engines replay exactly.
    */
  private def turnPiece(role: Column, content: Column): Column =
    concat(lit("<|"), role, lit("|>\n"), content, lit("\n"))

  private def turnLen(role: Column, content: Column): Column =
    TextAnalysis.codePointLen(role) +
      TextAnalysis.codePointLen(content) + lit(6L)

  /** CHAT-TEMPLATE rendering — the SFT-prep step that turns a
    * turn-structured conversation relation (conv, turn_idx, role,
    * content) into the single training string a tokenizer consumes:
    * per conversation, turns concatenate in `turn_idx` order as
    * `<|role|>\ncontent\n`. Output one row per conversation:
    * (convCol, text, n_turns, n_chars) — `n_chars` in CODE POINTS
    * ([[TextAnalysis.codePointLen]]'s cross-engine grain).
    *
    * Rows with a null role or content are DROPPED (a tag with no body
    * is not a turn — the null-rows-don't-vote convention); `turn_idx`
    * must be unique within a conversation (the order key) — ENFORCED:
    * a duplicate index would make the rendered order engine-dependent
    * (array_sort ties break on the rendered piece; SQL string_agg tie
    * order is unspecified), so the plan fails loud instead of
    * silently skewing spans (the engine's fail-loud convention).
    *
    * Scale shape: one conv-keyed aggregation (collect + sort + join of
    * that conversation's own turns — bounded by turns-per-conv, never
    * the corpus); no window, no driver materialization.
    */
  def renderChat(turns: DataFrame, convCol: String = "conv_id"): DataFrame = {
    val t = turns.filter(col(convCol).isNotNull &&
      col("turn_idx").isNotNull && col("role").isNotNull &&
      col("content").isNotNull)
    // duplicate-order-key guard, row-local over the already-collected
    // sorted array (adjacent equal indexes) — no countDistinct, whose
    // two-phase distinct aggregation would cost a real expand at scale
    def hasDupIdx(arr: Column): Column =
      exists(zip_with(slice(arr, lit(1), size(arr) - 1),
        slice(arr, lit(2), size(arr) - 1),
        (a, b) => a.getField("i") === b.getField("i")), x => x)
    t.groupBy(col(convCol))
      .agg(
        array_sort(collect_list(struct(
          col("turn_idx").cast("long").as("i"),
          turnPiece(col("role"), col("content")).as("p"))))
          .as("__rc_arr"),
        count(lit(1)).as("n_turns"),
        sum(turnLen(col("role"), col("content"))).as("n_chars"))
      .select(col(convCol),
        when(!hasDupIdx(col("__rc_arr")),
          array_join(transform(col("__rc_arr"), x => x.getField("p")), ""))
          .otherwise(raise_error(concat(
            lit("renderChat: duplicate turn_idx in conversation "),
            col(convCol).cast("string"),
            lit(" — the order key must be unique per conversation")))
            .cast("string")).as("text"),
        col("n_turns"), col("n_chars"))
  }

  /** CHAT-CORPUS DATASHEET — the data card a conversation corpus
    * ships with (the [[renderChat]]/[[chatSpans]] family's audit row):
    * per ROLE, how many turns and conversations it appears in, its
    * whitespace-token mass, and that mass's corpus share ×10⁴ — the
    * readout that says what fraction of an SFT corpus is actually
    * loss-bearing assistant text vs prompt scaffolding. Null
    * role/content turns are dropped (the family's null law); shares
    * floor-divide against the total so rows sum to ≤ 10⁴ exactly.
    *
    * Scale shape: one role-keyed partial aggregation (+ a distinct
    * conv count per role, bounded by |roles| × |convs|) and one
    * broadcast total — groupBy-flat at any corpus size.
    */
  def chatDatasheet(turns: DataFrame): DataFrame = {
    val t = turns.filter(col("role").isNotNull && col("content").isNotNull)
    val perRole = t.groupBy(col("role"))
      .agg(count(lit(1)).as("n_turns"),
        countDistinct(col("conv_id")).as("n_convs"),
        sum(size(split(col("content"), " ")).cast("long")).as("n_tokens"))
    val total = perRole.agg(sum(col("n_tokens")).as("__cd_total"))
    perRole.crossJoin(broadcast(total))
      .select(col("role"), col("n_turns"), col("n_convs"),
        col("n_tokens"),
        when(col("__cd_total") > 0L,
          expr("(n_tokens * 10000) div __cd_total"))
          .as("token_share_x10000"))
  }

  /** The LOSS-SPAN face of [[renderChat]]: one row per turn with the
    * half-open code-point span `[content_start, content_end)` its
    * content occupies inside the rendered conversation, and `is_loss`
    * = (role = `lossRole`) — the mask an SFT trainer applies so only
    * assistant tokens bear loss. Same template, same drop rule, same
    * code-point grain as [[renderChat]]; spans of the two ops agree by
    * construction.
    *
    * Scale shape: one conv-partitioned running sum over each
    * conversation's own turns (bounded by turns-per-conv) — the
    * per-key window posture, not a global window.
    */
  def chatSpans(turns: DataFrame): DataFrame = {
    val t = turns.filter(col("conv_id").isNotNull &&
      col("turn_idx").isNotNull && col("role").isNotNull &&
      col("content").isNotNull)
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").cast("long"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // duplicate-index guard ([[renderChat]]'s law, window form): in
    // idx order duplicates are adjacent, so lag(idx) == idx detects
    // every duplicate. lag's spec shares the running sum's partition
    // and order (lag takes its own offset frame), so CollapseWindow
    // plans ONE WindowExec — the guard costs no extra sort/exchange.
    val wOrd = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").cast("long"))
    t.select(col("conv_id"), col("turn_idx").cast("long").as("turn_idx"),
        col("role"), col("content"))
      .withColumn("__cs_pre",
        coalesce(sum(turnLen(col("role"), col("content"))).over(w),
          lit(0L)))
      .withColumn("__cs_dup",
        lag(col("turn_idx"), 1).over(wOrd) === col("turn_idx"))
      .withColumn("__cs_pre",
        when(col("__cs_dup"),
          raise_error(concat(
            lit("chatSpans: duplicate turn_idx in conversation "),
            col("conv_id").cast("string"),
            lit(" — the order key must be unique per conversation")))
            .cast("long"))
          .otherwise(col("__cs_pre")))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        (col("__cs_pre") + TextAnalysis.codePointLen(col("role"))
          + lit(5L)).as("content_start"),
        (col("__cs_pre") + TextAnalysis.codePointLen(col("role"))
          + lit(5L) + TextAnalysis.codePointLen(col("content")))
          .as("content_end"),
        (col("role") === "assistant").as("is_loss"))
  }
}
