package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus batched per-partition feature
  * extraction (the Scala analog of a vectorized/pandas UDF: partition
  * iterator → fixed-size batches → decode batch → emit rows).
  *
  * The decode itself is a clearly-marked deterministic STUB — the
  * container ships no image/audio codecs — but the Spark-side contract
  * is real and tested: schema, batch shape, partition parallelism, and
  * null-payload tolerance are exactly what a real codec impl inherits.
  */
object Multimodal {

  /** Canonical multimodal schema: id + opaque payload + typed metadata. */
  val mediaSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("media_type", StringType)
    .add("payload", BinaryType)
    .add("n_bytes", LongType)

  /** Lift any table with a string column into the multimodal shape
    * (payload = UTF-8 bytes). Real ingestion would read image/audio
    * bytes from files; the column contract is identical.
    */
  def asMedia(df: DataFrame, idCol: String, contentCol: String,
              mediaType: String = "text/plain"): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      col(contentCol).cast("binary").as("payload"),
      // null content → 0 bytes, not null: keeps n_bytes consistent with
      // extractFeatures' empty-payload substitution on null rows
      coalesce(octet_length(col(contentCol)), lit(0)).cast("long").as("n_bytes"))

  /** Extracted features row. width/height/n_frames come from the decode
    * stub; sha = content digest (real).
    */
  val featureSchema: StructType = new StructType()
    .add("media_id", LongType)
    .add("n_bytes", LongType)
    .add("content_md5", StringType)
    .add("width", LongType)
    .add("height", LongType)
    .add("n_frames", LongType)

  /** STUB decode: deterministic fake dimensions derived from the payload
    * polynomial hash — stands in for codecs the JDK does not ship
    * (audio/video). Image payloads take the REAL [[decodeImage]] path;
    * everything around either decoder (batching, schema, partitioning)
    * is the same production plumbing.
    */
  def decodeStub(payload: Array[Byte]): (Long, Long, Long) = {
    val acc = graft.functions.PolyFold.h31(payload)
    (acc % 1280, acc % 720, payload.length % 32 + 1)
  }

  /** REAL image decode via the JDK's javax.imageio (PNG/BMP/JPEG/GIF
    * readers ship with the JRE): true (width, height, 1 frame), or None
    * when the bytes are not a decodable image (caller falls back to the
    * stub, mirroring a production pipeline's corrupt-sample policy).
    */
  def decodeImage(payload: Array[Byte]): Option[(Long, Long, Long)] =
    try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload)))
      .map(img => (img.getWidth.toLong, img.getHeight.toLong, 1L))
    catch { case _: Exception => None }

  /** Batched per-partition feature extraction. `batchSize` mirrors a
    * vectorized UDF's arrow-batch shape: a real codec amortizes model /
    * library init per batch, not per row. Image-typed payloads decode
    * for real (javax.imageio); other media types use the stub.
    */
  def extractFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = Encoders.row(featureSchema)
    // media_type is optional (round-2 callers pass only id/payload/
    // n_bytes): absent column → null type → stub decode path
    val typed =
      if (media.columns.contains("media_type")) media
      else media.withColumn("media_type", lit(null).cast("string"))
    typed.select("media_id", "payload", "n_bytes", "media_type")
      .mapPartitions { rows: Iterator[Row] =>
        rows.grouped(batchSize).flatMap { batch =>
          // one "codec init" per batch would go here
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val payload = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.empty)
            // media frames not built by asMedia may carry null n_bytes;
            // treat as 0 to match the empty-payload substitution above
            val nBytes = if (r.isNullAt(2)) 0L else r.getLong(2)
            val mediaType = if (r.isNullAt(3)) "" else r.getString(3)
            val md5hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(payload)
            val (w, h, f) =
              if (mediaType.startsWith("image/"))
                decodeImage(payload).getOrElse(decodeStub(payload))
              else decodeStub(payload)
            Row(id, nBytes, md5hex, w, h, f)
          }
        }
      }(enc)
  }

  /** Column-only metadata projection (no mapPartitions) — md5/length/
    * stub-dims as pure expressions, for the oracle-verified surface.
    * Value-identical to [[extractFeatures]] for every non-image media
    * type (tested); image-typed rows get real decoded dims there and
    * stub dims here.
    */
  def metadata(media: DataFrame): DataFrame = {
    // null payloads behave as empty ones — keeps this path value-
    // identical to extractFeatures (which substitutes Array.empty)
    val payload = coalesce(col("payload"), lit(Array.empty[Byte]))
    val nBytes = coalesce(col("n_bytes"), lit(0L))
    // raw-byte fingerprint (PolyHash binary overload): identical to the
    // string path on UTF-8 text, and — unlike a binary→string cast,
    // which substitutes replacement chars — identical to decodeStub's
    // raw-byte hash on arbitrary binary payloads too
    val fp = graft.functions.polyFingerprint(payload)
    media.select(
      col("media_id"),
      nBytes.as("n_bytes"),
      md5(payload).as("content_md5"),
      (fp % 1280).as("width"),
      (fp % 720).as("height"),
      (nBytes % 32 + 1).as("n_frames"))
  }

  /** Frame sampling: one output row per sampled frame index — the
    * video→training-examples explode shape. Frame count comes from the
    * decode stub (n_frames); a real decoder swaps in actual frame
    * extraction, the row-multiplication plumbing (explode over the
    * sampled index sequence, payload carried by reference) is identical.
    */
  def frameSample(media: DataFrame, everyNth: Int): DataFrame = {
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    val features = extractFeatures(media)
    features.select(
      col("media_id"),
      explode(sequence(lit(0L), col("n_frames") - 1, lit(everyNth.toLong)))
        .as("frame_idx"),
      col("n_frames"), col("content_md5"))
  }

  /** Exact-duplicate media groups by RAW-BYTE content fingerprint —
    * the image/video analog of [[Dedup.exactDupGroups]] (a re-crawled
    * image is a byte-identical payload; a re-ENCODED one is
    * [[nearDupMediaPairs]]' job). One row per distinct payload:
    * (content_fp, keep_id = min media id, n_copies). A null payload
    * fingerprints like the empty payload (the [[metadata]] contract),
    * so all null/empty media form one group.
    *
    * Scale shape: one codegen'd fingerprint map over the scan + one
    * partial-aggregated fingerprint-keyed shuffle (min/count combine
    * map-side — 10⁸ copies of one image emit one row per map task);
    * payload bytes never ride the exchange, only the 8-byte hash.
    */
  def exactDupGroups(media: DataFrame): DataFrame = {
    val payload = coalesce(col("payload"), lit(Array.empty[Byte]))
    media.select(col("media_id"),
        graft.functions.polyFingerprint64(payload).as("content_fp"))
      .groupBy("content_fp")
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  // ── Perceptual near-dup (dHash) ──────────────────────────────────

  /** 64-bit difference hash (dHash) of a decoded raster: area-averaged
    * 9×8 grayscale, bit (row r, col c) = 1 iff cell(r)(c) < cell(r)(c+1)
    * — the horizontal-gradient signature. Reads PIXELS, not bytes, so a
    * re-encoded/re-compressed copy (PNG↔BMP, recompressed JPEG) hashes
    * to the same or a few-bit-distant value, which byte-exact dedup
    * ([[exactDupGroups]]) can never catch. Deterministic: integer cell
    * edges by proportional division, Rec.601 luma weights.
    */
  def dHashFromImage(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    val cells = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      val y0 = gy * h / gh
      val y1 = math.min(h, math.max((gy + 1) * h / gh, y0 + 1))
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.min(w, math.max((gx + 1) * w / gw, x0 + 1))
        var sum = 0.0; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) +
              0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        cells(gy)(gx) = if (n == 0) 0.0 else sum / n
        gx += 1
      }
      gy += 1
    }
    var acc = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r)(c) < cells(r)(c + 1)) acc |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    acc
  }

  /** STUB perceptual hash for media the JDK cannot decode: 63 bits from
    * two PolyHash passes over the raw bytes (`h(p) << 32 | h(p ++ '#')`
    * — each pass is 31 bits, so the packed value stays non-negative).
    * Byte-deterministic, NOT perceptual — it stands in for the raster
    * path exactly like [[decodeStub]] stands in for codecs; the
    * engine-portable arithmetic is what the oracle replays.
    */
  def dHashStubBytes(payload: Array[Byte]): Long =
    (graft.functions.PolyFold.h31(payload) << 32) +
      graft.functions.PolyFold.h31(payload ++ HashSalt)

  private val HashSalt: Array[Byte] = "#".getBytes("UTF-8")

  /** Column-only stub-dHash projection (the oracle-verified surface,
    * mirroring [[metadata]] vs [[extractFeatures]]): (media_id, dhash)
    * as pure codegen'd expressions — value-identical to
    * [[dHashFeatures]] for every non-image media type (null payload
    * hashes as empty, the [[metadata]] convention).
    */
  def dHash(media: DataFrame): DataFrame = {
    val payload = coalesce(col("payload"), lit(Array.empty[Byte]))
    media.select(col("media_id"),
      (shiftleft(graft.functions.polyFingerprint(payload), 32) +
        graft.functions.polyFingerprint(
          concat(payload, lit(HashSalt)))).as("dhash"))
  }

  /** Batched per-partition perceptual hashing: image-typed payloads decode
    * for REAL (javax.imageio) and hash their raster via
    * [[dHashFromImage]]; undecodable or non-image payloads fall back to
    * [[dHashStubBytes]] (the corrupt-sample policy [[extractFeatures]]
    * uses). Output: (media_id, dhash).
    */
  def dHashFeatures(media: DataFrame, batchSize: Int = 64): DataFrame = {
    val enc = Encoders.row(new StructType()
      .add("media_id", LongType).add("dhash", LongType))
    val typed =
      if (media.columns.contains("media_type")) media
      else media.withColumn("media_type", lit(null).cast("string"))
    typed.select("media_id", "payload", "media_type")
      .mapPartitions { rows: Iterator[Row] =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val payload = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.empty)
            val mediaType = if (r.isNullAt(2)) "" else r.getString(2)
            // ONE ImageIO.read per image: the decode IS the per-byte
            // hot path, so the decoded raster is hashed directly —
            // null/throwing decodes fall back to the corrupt-sample stub
            val dh =
              if (mediaType.startsWith("image/")) {
                val img =
                  try javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(payload))
                  catch { case _: Exception => null }
                if (img != null) dHashFromImage(img)
                else dHashStubBytes(payload)
              } else dHashStubBytes(payload)
            Row(id, dh)
          }
        }
      }(enc)
  }

  /** Perceptual near-dup media PAIRS: dHash signatures through the
    * guarded Hamming-ball machinery ([[Dedup.hammingNearDups]] — 8
    * blocks of 8 bits, capped disclosed combo buckets, one
    * bit_count(xor) verify per candidate). Catches the most common
    * duplicate in crawled media — the same image re-encoded, resized
    * storage-side, or recompressed — which byte-exact grouping misses
    * entirely. Output: (media_a, media_b, hamming), media_a < media_b.
    *
    * Scale shape inherits the Hamming machinery wholesale: one decode
    * pass over the scan (the only per-byte work), then everything
    * shuffles 8-byte signatures — identical-signature collapse first,
    * so 10⁸ copies of one logo cost one band row.
    */
  def nearDupMediaPairs(media: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = Dedup.DefaultMaxBucketWidth,
                        useRealDecode: Boolean = true): DataFrame = {
    val sigs =
      if (useRealDecode) dHashFeatures(media) else dHash(media)
    Dedup.hammingNearDups(sigs, idCol = "media_id", sigCol = "dhash",
        bits = 64, blocks = 8, maxHamming = maxHamming,
        maxBucket = maxBucket)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))
  }

  // ── Acoustic near-dup (PCM energy-delta fingerprint) ─────────────

  /** Acoustic fingerprints over raw-PCM payloads: (media_id, n_frames,
    * audio_fp) via the native [[graft.functions.PcmFingerprint]]
    * expression — 16-sample frames, exact integer energies, 60
    * energy-rise contour bits. For `audio/pcm` payloads this is the
    * real signal path (raw PCM needs no codec); null payloads
    * fingerprint as empty (0 frames, fp 0), the [[metadata]]
    * convention. One codegen'd map over the scan, zero shuffles.
    */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val payload = coalesce(col("payload"), lit(Array.empty[Byte]))
    media.select(col("media_id"),
      expr("(length(coalesce(payload, cast('' as binary))) + 15) div 16")
        .cast("long").as("n_frames"),
      graft.functions.pcmFingerprint(payload).as("audio_fp"))
  }

  /** Acoustic near-dup media PAIRS: [[audioFingerprint]] contours
    * through the same guarded Hamming-ball machinery as image dHash
    * ([[Dedup.hammingNearDups]]). An amplitude-preserving re-encode or
    * a short tail edit disturbs at most a couple of contour bits, so
    * the default radius catches it; unrelated audio differs in ~half
    * the bits. Output: (media_a, media_b, hamming), media_a < media_b.
    */
  def nearDupAudioPairs(media: DataFrame, maxHamming: Int = 3,
                        maxBucket: Int = Dedup.DefaultMaxBucketWidth): DataFrame =
    Dedup.hammingNearDups(audioFingerprint(media), idCol = "media_id",
        sigCol = "audio_fp", bits = 64, blocks = 8, maxHamming = maxHamming,
        maxBucket = maxBucket)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("hamming"))

  /** Perceptual near-dup media GROUPS: the pair edges closed into
    * connected components ([[Dedup.clusterLabels]] min-label
    * propagation); every media id appears, singletons label themselves.
    * Output: (media_id, group_id).
    */
  def nearDupMediaGroups(media: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = Dedup.DefaultMaxBucketWidth,
                         useRealDecode: Boolean = true,
                         maxRounds: Int = 50): DataFrame = {
    val edges = nearDupMediaPairs(media, maxHamming, maxBucket, useRealDecode)
      .select(col("media_a").as("src"), col("media_b").as("dst"))
    Dedup.clusterLabels(media.select(col("media_id").as("id")), edges,
        maxRounds)
      .select(col("id").as("media_id"), col("cluster_id").as("group_id"))
  }
}
