package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine.
  *
  * The reference pipeline uses only three scalar constructs
  * (SURVEY.md §2.3/§2.9): `TIMESTAMPTOSTRING`, `LCASE`, and `+` string
  * concatenation — all thin wrappers over codegen'd Spark built-ins here.
  *
  * The rest are graft's own native Catalyst expressions for the ext/
  * text, dedup and similarity operators. All row-level ones but the
  * inline-codegen'd [[CosineSim]] and [[IntDot]] extend [[NativeExpr]],
  * which declares their input types to Spark's analysis check and runs
  * one `compute` body from both interpreted eval and generated code.
  * Two decisions shared by many of them live in one module each:
  * [[Words]], the word rule (split on byte 0x20, empty words kept), and
  * [[PolyFold]], the hash rule (the 31-bit `×31 mod 2³¹−1` fold and its
  * 62-bit pair with `×37 mod 2³¹−19`). Word n-gram strings come from
  * one expression, [[WordGrams]] ([[wordGrams]], [[leveledWordGrams]]).
  */
package object functions {

  /** ksqlDB `TIMESTAMPTOSTRING(epochMillis, fmt)`
    * (/root/reference/ksqldb-statements.sql:96; README.md:238).
    * Input is epoch millis (ksqlDB ROWTIME/WINDOWSTART are BIGINT millis).
    */
  def timestampToString(epochMillis: Column, fmt: String): Column =
    date_format(timestamp_millis(epochMillis), fmt)

  /** ksqlDB `EXTRACTJSONFIELD(json, '$.path')` — part of ksqlDB's scalar
    * surface for JSON-string payloads like the corpus' `events.props`
    * (TESTDATA.md). Thin wrapper over Spark's codegen'd
    * `get_json_object`: returns the field as STRING (ksqlDB semantics —
    * callers cast), null for missing paths or malformed JSON.
    */
  def extractJsonField(json: Column, path: String): Column =
    get_json_object(json, path)

  /** ksqlDB `FIRST_NAME + ' ' + LAST_NAME` — null-propagating string
    * concat (/root/reference/ksqldb-statements.sql:54). `concat` (not
    * `concat_ws`) matches the null-propagation semantics exactly.
    */
  def fullName(first: Column, last: Column): Column =
    concat(first, lit(" "), last)

  /** Deterministic 31-polynomial rolling-hash fingerprint (custom
    * codegen'd Catalyst expression, see [[graft.functions.PolyHash]]).
    */
  def polyFingerprint(c: Column): Column =
    Bridge.column(PolyHash(Bridge.expression(c)))

  /** 62-bit packed double polynomial fingerprint (see
    * [[graft.functions.PolyHash64]]) — the content-dedup key whose
    * birthday bound survives corpus scale.
    */
  def polyFingerprint64(c: Column): Column =
    Bridge.column(PolyHash64(Bridge.expression(c)))

  /** Energy-delta acoustic fingerprint of an 8-bit PCM buffer (custom
    * codegen'd Catalyst expression, see
    * [[graft.functions.PcmFingerprint]]).
    */
  def pcmFingerprint(c: Column): Column =
    Bridge.column(PcmFingerprint(Bridge.expression(c)))

  /** DEFLATE-compressed byte length (custom codegen'd Catalyst
    * expression, see [[graft.functions.DeflateLen]]) — the
    * compression-ratio quality signal.
    */
  def deflateLen(c: Column): Column =
    Bridge.column(DeflateLen(Bridge.expression(c)))

  /** Cosine similarity of two float/double vectors (custom codegen'd
    * Catalyst expression, see [[graft.functions.CosineSim]]) — the
    * fused-loop hot path for similarity search.
    */
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))

  /** Integer dot product of two int/long vectors (custom codegen'd
    * Catalyst expression, see [[graft.functions.IntDot]]) — the exact
    * integer scoring kernel of the INT8-quantized similarity path.
    */
  def intDot(a: Column, b: Column): Column =
    Bridge.column(IntDot(Bridge.expression(a), Bridge.expression(b)))

  /** Per-document word term-frequencies `array<struct<word, tf>>` in one
    * row-local pass (custom codegen'd Catalyst expression, see
    * [[graft.functions.WordTfs]]) — deletes the (doc, word) exchange
    * from keyword extraction.
    */
  def wordTfs(c: Column): Column =
    Bridge.column(WordTfs(Bridge.expression(c)))

  /** Per-document character-TRIGRAM term-frequencies in one row-local
    * pass (custom codegen'd Catalyst expression, see
    * [[graft.functions.CharTrigramTfs]]) — the fused hot path of the
    * char-n-gram language ID: identical semantics to
    * `wordTfs(charTrigrams(c))` without the 4× re-encoded string
    * round-trip.
    */
  def charTrigramTfs(c: Column): Column =
    Bridge.column(CharTrigramTfs(Bridge.expression(c)))

  /** C4 page-cleaning statistics struct (line filter + page flags) in
    * one row-local pass (custom codegen'd Catalyst expression, see
    * [[graft.functions.C4Stats]]).
    */
  def c4Stats(c: Column): Column =
    Bridge.column(C4Stats(Bridge.expression(c)))

  /** Per-item clipped n-gram overlap statistics (orders 1..maxN) in
    * one row-local pass (custom codegen'd Catalyst expression, see
    * [[graft.functions.GramOverlap]]) — deletes the (id, n, gram)
    * exchanges and the gram-keyed join from the generation metrics.
    */
  def gramOverlap(pred: Column, ref: Column, maxN: Int,
                  chars: Boolean): Column =
    Bridge.column(GramOverlap(Bridge.expression(pred),
      Bridge.expression(ref), maxN, chars))

  /** Every stride-1 k-word-window PolyHash64 of a text in one
    * row-local pass (custom codegen'd Catalyst expression, see
    * [[graft.functions.GramHashes]]) — the ExactSubstr span family's
    * window hashes without the per-token window-string allocation.
    */
  def gramHashes(c: Column, k: Int): Column =
    Bridge.column(GramHashes(Bridge.expression(c), k))

  /** Every word n-gram of a text for each of `orders`, order by order
    * as given, in one row-local pass (custom codegen'd Catalyst expression,
    * see [[graft.functions.WordGrams]]) — the n-gram LM family's gram
    * arrays without the per-gram re-split of an interpreted lambda.
    */
  def wordGrams(c: Column, orders: Int*): Column =
    Bridge.column(WordGrams(Bridge.expression(c), orders, leveled = false))

  /** [[wordGrams]] with each gram tagged by its order:
    * `array<struct<level: int, gram: string>>`.
    */
  def leveledWordGrams(c: Column, orders: Int*): Column =
    Bridge.column(WordGrams(Bridge.expression(c), orders, leveled = true))

  /** Content-defined chunk texts in one row-local pass (custom
    * codegen'd Catalyst expression, see
    * [[graft.functions.CdcChunksExpr]]) — cdcChunks' boundary scan
    * without the per-candidate shingle-string allocation.
    */
  def cdcChunkTexts(c: Column, window: Int, divisor: Int): Column =
    Bridge.column(CdcChunksExpr(Bridge.expression(c), window, divisor))
}
