package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns with typed metadata riding alongside. The Spark-side
  * mechanics — schema, batch shape, partition-parallel decode — are real;
  * the actual media decode is STUBBED (no codec libs in this container)
  * behind a deterministic fake, clearly marked below.
  *
  * At 100 TB: payload bytes stay columnar in parquet, the decode is a
  * per-partition map (no shuffle), and feature extraction emits small
  * fixed-width vectors so downstream shuffles move features, not media.
  */
object Multimodal {
  import Tables._

  /** Binary payload carry-through + metadata: cast → byte length →
    * content digest. DuckDB-verifiable (BLOB + sha256 parity). The
    * payload itself is surfaced as its hex rendering — raw BLOB cells
    * are unhashable in the driver's pandas compare (round-1 gate
    * error), and hex is a lossless, order-stable encoding both engines
    * produce identically (uppercase).
    */
  def q_mm_binary(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        hex(col("text").cast("binary")).as("payload_hex"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        sha2(col("text").cast("binary"), 256).as("digest"))
      .orderBy("doc_id")

  /** Frame sampling over binary payloads: split each payload into
    * fixed-size frames (posexplode keeps the frame index), digest each,
    * and mark an every-4th sample — the video-frame-extraction shape
    * (payload → frame rows) with pure columnar ops. Fan-out happens
    * inside the scan stage; the only shuffle is whatever the consumer
    * adds. Rows-only driver check; reconstruction asserted in OpsSpec.
    */
  private val FrameSize = 64

  def q_mm_frames(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("payload", col("text").cast("binary"))
      // greatest(..., 0): an empty payload yields ONE empty frame —
      // sequence(0, -1) would otherwise count DOWN, emitting [0, -1]
      .withColumn("frames", expr(
        s"""transform(sequence(0, greatest(CAST(ceil(octet_length(payload) / $FrameSize.0) AS INT) - 1, 0)),
           |          i -> substring(payload, i * $FrameSize + 1, $FrameSize))""".stripMargin))
      .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
      .select(
        col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        octet_length(col("frame")).cast("long").as("frame_bytes"),
        sha2(col("frame"), 256).as("frame_digest"),
        (col("frame_idx") % 4 === 0).as("sampled"))
      .orderBy("doc_id", "frame_idx")

  /** ====== REAL DECODER (JVM-stdlib javax.imageio) ======
    * PNG/JPEG payloads decode to ACTUAL pixels — no external codec
    * dependency. Non-media payloads (the documents corpus is text
    * bytes, never a valid image) skip decode via a magic-byte sniff and
    * fall back to the deterministic stub below, which keeps the gate
    * oracles valid: a gate row real-decodes only if its payload really
    * is an image, which the fixture corpus guarantees never happens.
    * Corrupt/truncated media also fall back rather than killing the
    * job (the corrupt-file-tolerance posture of the sinks).
    */
  private lazy val imageioInit: Unit =
    // no per-decode temp files on executors; BufferedImage work is
    // display-free, so headless JVMs are fine
    javax.imageio.ImageIO.setUseCache(false)

  private[ops] def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.length < 8) return None
    val isPng = (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'
    val isJpg = (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8 &&
      (bytes(2) & 0xff) == 0xff
    if (!isPng && !isJpg) None
    else {
      imageioInit
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    }
  }

  /** ITU-R BT.601 luma of a packed ARGB pixel. */
  @inline private def luma(rgb: Int): Double =
    0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)

  /** Real feature extraction: 16-bin LUMINANCE histogram over the
    * decoded pixels, normalized by pixel count — the same 16-dim
    * contract as the stub, so downstream consumers are
    * decoder-agnostic.
    */
  private[ops] def imageHistogram(img: java.awt.image.BufferedImage): Array[Double] = {
    val hist = new Array[Double](16)
    val w = img.getWidth
    val h = img.getHeight
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        hist(math.min(15, (luma(img.getRGB(x, y)) / 16.0).toInt)) += 1.0
        x += 1
      }
      y += 1
    }
    val n = math.max(1, w * h).toDouble
    hist.map(_ / n)
  }

  /** ====== STUB FALLBACK ======
    * Non-decodable payloads get a deterministic 16-bin byte histogram,
    * normalized — same signature, same batch shape, same
    * partition-parallel execution as the real decoder.
    */
  private[ops] def fakeDecode(bytes: Array[Byte]): Array[Double] = {
    val hist = new Array[Double](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) % 16) += 1.0; i += 1 }
    val n = math.max(1, bytes.length).toDouble
    hist.map(_ / n)
  }

  /** ====== STUBBED RESIZE ======
    * Stands in for an image/tensor resize: average-pool adjacent feature
    * pairs (16 bins → 8). A real resize has the same contract — a pure
    * per-row tensor→smaller-tensor map.
    */
  private[ops] def fakeResize(features: Array[Double]): Array[Double] =
    features.grouped(2).map(p => p.sum / p.length).toArray

  /** Decode → resize feature pipeline over binary payloads via typed
    * mapPartitions: both stages run per row inside one partition
    * iterator (mirrors a vectorized/batched UDF's execution shape:
    * per-partition setup cost amortized, no driver involvement, no
    * shuffle). Rows-only check (the fake codec is engine-internal).
    */
  /** The per-row decode seam shared by [[features]] and the spec's
    * planted-image fixture: real PNG/JPEG pixels when the payload
    * decodes, stub histogram otherwise; the decoder tag says which path
    * ran.
    */
  private[ops] def decodeFeatures(payload: Array[Byte])
      : (Array[Double], Array[Double], String) =
    decodeImage(payload) match {
      case Some(img) =>
        val feats = imageHistogram(img)
        (feats, fakeResize(feats), "imageio-v1")
      case None =>
        val feats = fakeDecode(payload)
        (feats, fakeResize(feats), "fake-decoder-v1")
    }

  def features(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition codec init (ImageIO cache off) is lazy in the seam
        it.map { case (id, payload) =>
          val (feats, resized, dec) = decodeFeatures(payload)
          (id, feats, resized, payload.length.toLong, dec)
        }
      }
      .toDF("doc_id", "features", "features_resized", "n_bytes", "decoder")
  }

  /** Gate-facing view of [[features]]: the vector columns are rendered
    * as CSV strings because the driver's pandas compare can't hash
    * array cells (round-1 gate error). Downstream consumers use
    * [[features]] directly for the typed arrays.
    *
    * Formatting is INTEGER-exact, not `round(x, 6)`: every histogram
    * value is an exact rational count/den (den = n or 2n), so the view
    * recovers the integer count from the double (`round(x * den)` is
    * exact for counts < 2^52) and renders round-half-up micro-units
    * `(2·c·10⁶ + den) div (2·den)` with fixed-point `%d.%06d`. The
    * sf10 sweep caught both failure modes of the double path: engines
    * disagree on .5 ties (41/640 at 6 dp) and on scientific-notation
    * thresholds (Spark `8.94E-4` vs fixed `0.000894`).
    *
    * The byte-count denominator assumes the STUB path — valid for the
    * gate corpus, whose text payloads can never carry PNG/JPEG magic
    * bytes (real-decoded rows are pixel-count rationals; consumers of
    * decoded media use [[features]]' typed arrays directly).
    */
  def q_mm_features(s: SparkSession, d: String): DataFrame = {
    // mult = 1: features (denominator n); 2: resized (denominator 2n)
    def microCsv(arr: String, mult: Int): org.apache.spark.sql.Column = {
      val den = s"(${mult}L * greatest(n_bytes, 1L))"
      val ppm = s"((2 * cast(round(x * $den) as bigint) * 1000000 + $den) div (2 * $den))"
      expr(s"array_join(transform($arr, x -> " +
        s"format_string('%d.%06d', $ppm div 1000000, $ppm % 1000000)), ',')")
    }
    features(s, d)
      .select(
        col("doc_id"),
        microCsv("features", 1).as("features_csv"),
        microCsv("features_resized", 2).as("resized_csv"),
        col("n_bytes"), col("decoder"))
      .orderBy("doc_id")
  }

  /** ====== STUBBED POOLER ======
    * Stands in for decode→grayscale→downsample in a perceptual hash: 65
    * mean-brightness segments over the payload bytes (a real dHash
    * pools the decoded image to a 65-pixel strip the same way). Pure
    * per-row map, deterministic.
    */
  private val PoolSegs = 65

  private[ops] def fakePool(bytes: Array[Byte]): Array[Double] = {
    val out = new Array[Double](PoolSegs)
    if (bytes.isEmpty) return out
    var i = 0
    while (i < PoolSegs) {
      val lo = (i.toLong * bytes.length / PoolSegs).toInt
      val hi = math.max(lo + 1, ((i + 1).toLong * bytes.length / PoolSegs).toInt)
      var s = 0.0
      var j = lo
      while (j < hi && j < bytes.length) { s += (bytes(j) & 0xff); j += 1 }
      out(i) = s / (math.min(hi, bytes.length) - lo)
      i += 1
    }
    out
  }

  /** Real pooling for decodable media: mean LUMINANCE over 65 vertical
    * strips of the decoded image — the classic dHash downsample (the
    * stub pools raw bytes into the same 65-segment strip, so both paths
    * feed the identical bit rule below).
    */
  private[ops] def imagePool(img: java.awt.image.BufferedImage): Array[Double] = {
    val out = new Array[Double](PoolSegs)
    val w = img.getWidth
    val h = img.getHeight
    var i = 0
    while (i < PoolSegs) {
      val lo = (i.toLong * w / PoolSegs).toInt
      val hi = math.max(lo + 1, ((i + 1).toLong * w / PoolSegs).toInt)
      var s = 0.0
      var n = 0
      var x = lo
      while (x < hi && x < w) {
        var y = 0
        while (y < h) { s += luma(img.getRGB(x, y)); n += 1; y += 1 }
        x += 1
      }
      out(i) = if (n == 0) 0.0 else s / n
      i += 1
    }
    out
  }

  /** 64-bit dHash over the pooled strip: bit i = segment i brighter
    * than segment i+1. A localized payload edit perturbs one segment →
    * ≤ 2 signature bits, so near-identical media land within a small
    * hamming radius — the property [[q_mm_phash]]'s banding exploits.
    * Decodable media pool real pixels ([[imagePool]]); everything else
    * pools raw bytes ([[fakePool]]).
    */
  private[ops] def phash64(bytes: Array[Byte]): Long = {
    val p = decodeImage(bytes).map(imagePool).getOrElse(fakePool(bytes))
    var h = 0L
    var i = 0
    while (i < 64) { if (p(i) > p(i + 1)) h |= 1L << i; i += 1 }
    h
  }

  /** (doc_id, 64-bit perceptual hash) for every payload — the stubbed
    * decode runs as a typed per-partition map (same batch shape as
    * [[features]]); everything downstream is columnar.
    */
  def phashes(s: SparkSession, d: String): DataFrame = {
    val spark = s
    import spark.implicits._
    documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => (id, phash64(payload)) })
      .toDF("doc_id", "phash")
  }

  /** Perceptual-hash near-dedup of media payloads (the image-dedup step
    * of a multimodal training pipeline): dHash signatures, then
    * candidate pairs via 4×16-bit band buckets — by pigeonhole, two
    * hashes within hamming distance 3 share at least one exact 16-bit
    * band, so the ≤3 screen has FULL recall while candidate volume
    * stays Σ|bucket|², never n²: the [[Scale.bucketPairs]] of each
    * band, capped at `Llm.MaxBucket`; `bit_count(xor)` is the exact
    * hamming check. Planted canary (doc −1 = copy of the smallest doc's
    * hash) keeps the gate non-vacuous — the fixture has no duplicate
    * payloads. Hash-exact DuckDB oracle ([[graft.OracleSql.mmPhash]]);
    * pair invariants in OpsSpec.
    */
  def q_mm_phash(s: SparkSession, d: String): DataFrame = {
    val base = phashes(s, d)
    val probe = base.orderBy("doc_id").limit(1)
      .select(lit(-1L).as("doc_id"), col("phash"))
    val all = base.unionByName(probe)
    val bands = (0 until 4).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col("phash"), b * 16).bitwiseAND(0xFFFFL).as("bkey")))
    val banded = all.select(col("doc_id"), col("phash"),
      explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("phash"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
    Scale.bucketPairs(banded, Seq("band", "bkey"), "doc_id", Llm.MaxBucket)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("id1", "id2")
      .orderBy("id1", "id2")
  }

  /** Typed-metadata parse: media payloads carry a self-describing
    * header (here a deterministic fake: `GFT1|<w>|<h>|` prepended to
    * the body); the op recovers a typed metadata STRUCT from raw bytes
    * only — the header-sniffing step of media ingest. All codegen'd
    * byte/string expressions in the scan stage (no UDF, no shuffle);
    * the struct is flattened to scalars for the gate. The oracle
    * verifies the parsed values against their closed forms.
    */
  def q_mm_metadata(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("w", (col("doc_id") % 640 + 16).cast("long"))
      .withColumn("h", (col("n_chars") % 480 + 16).cast("long"))
      .withColumn(
        "payload",
        concat(
          concat_ws("|", lit("GFT1"), col("w"), col("h"), lit("")).cast("binary"),
          col("text").cast("binary")))
      // parse side: only `payload` bytes from here on
      .withColumn("head", expr("cast(substring(payload, 1, 24) as string)"))
      .withColumn("hdr", regexp_extract(col("head"), "^[A-Z0-9]{4}\\|\\d+\\|\\d+\\|", 0))
      .withColumn("meta", struct(
        regexp_extract(col("hdr"), "^([A-Z0-9]{4})", 1).as("fmt"),
        regexp_extract(col("hdr"), "\\|(\\d+)\\|", 1).cast("long").as("w"),
        regexp_extract(col("hdr"), "\\|(\\d+)\\|$", 1).cast("long").as("h")))
      .select(
        col("doc_id"),
        col("meta.fmt").as("fmt"),
        col("meta.w").as("width_p"),
        col("meta.h").as("height_p"),
        (octet_length(col("payload")) - length(col("hdr")).cast("long")).as("body_bytes"))
      .orderBy("doc_id")
}
