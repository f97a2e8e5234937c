package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.{MediaCodec, Multimodal, SyntheticImages}

/** Multimodal plumbing exposed to the driver's oracle check: the binary
  * payload + batched mapPartitions feature extraction runs end-to-end
  * (mm39/mm43/mm44 hash-compare the DuckDB-computable columns), and the
  * REAL image decode/resize path is oracled by mm45/mm46 — pixel values are
  * pure integer functions of (id, x, y) (SyntheticImages), so DuckDB
  * recomputes the expected per-channel sums and luminance histogram from
  * the formula while Spark recovers them from ImageIO-decoded pixels.
  */
object MultimodalQueries extends QuerySet {

  def mm39(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.asMedia(Q.t(s, dir, "documents")))
      .toDF()
      .select(col("media_id"), col("byte_length"), col("content_md5"))

  /** Resize plumbing end-to-end: decode (stub dims — deterministic from the
    * first payload bytes, which the oracle recomputes) → MediaCodec.resize
    * aspect-preserving fit into 96px. The arithmetic (double scale, trunc)
    * is bit-identical in DuckDB, so the contract of the resize STEP is
    * oracle-verified even though real pixel scaling is stubbed.
    */
  def mm43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.extractFeatures(Multimodal.asMedia(Q.t(s, dir, "documents")))
      .map { f =>
        val (rw, rh) = graft.multimodal.MediaCodec.resize(f.width, f.height, 96)
        (f.media_id, f.width, f.height, rw, rh)
      }.toDF("media_id", "width", "height", "resized_w", "resized_h")
  }

  /** Frame-sampling plumbing: the offsets a demuxer would seek to (every
    * 100th byte, max 5 frames), exploded to one row per frame — the
    * batched flatMap shape a video pipeline fans frames out with.
    */
  def mm44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.asMedia(Q.t(s, dir, "documents"))
      .flatMap { m =>
        graft.multimodal.MediaCodec
          .sampleFrameOffsets(m.payload.length.toLong, 100L, 5)
          .map(o => (m.media_id, o))
      }.toDF("media_id", "frame_offset")
  }

  /** REAL image decode, driver-oracled: 64 gradient PNGs (pixels a pure
    * integer function of (doc_id, x, y)) → ImageIO decode → exact integer
    * stats recovered from the 11-float feature vector via rint(f*n). DuckDB
    * recomputes the same stats from the pixel formula with generate_series —
    * a wrong decode (channel order, row order, lossy round-trip) diverges.
    */
  def mm45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val w = (8 + i % 9).toInt
      val h = (8 + (i * 3) % 9).toInt
      val png = SyntheticImages.gradientPng(i, w, h)
      val (dw, dh, feat) = MediaCodec.decode(png)
      val n = dw.toDouble * dh
      def cnt(k: Int): Long = math.rint(feat(k) * n).toLong
      (i, dw, dh, cnt(0), cnt(1), cnt(2), (3 to 10).map(cnt).mkString(","))
    }.toDF("media_id", "width", "height", "r_sum", "g_sum", "b_sum", "lum_hist")
  }

  /** REAL resize, driver-oracled: solid-color PNGs → resizeBytes (nearest-
    * neighbor Graphics2D + PNG re-encode) → decode the RESIZED payload.
    * Nearest-neighbor on a constant image is pixel-exact, so DuckDB predicts
    * both the fitted dimensions and the channel sums (rw*rh*color) exactly.
    */
  def mm46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val w = (20 + i % 13).toInt
      val h = (20 + (i * 5) % 13).toInt
      val r = ((i * 31) % 256).toInt
      val g = ((i * 17) % 256).toInt
      val b = ((i * 7) % 256).toInt
      val resized = MediaCodec.resizeBytes(SyntheticImages.solidPng(r, g, b, w, h), 16).get
      val (rw, rh, feat) = MediaCodec.decode(resized)
      val n = rw.toDouble * rh
      def sum(k: Int): Long = math.rint(feat(k) * n).toLong
      (i, rw, rh, sum(0), sum(1), sum(2))
    }.toDF("media_id", "resized_w", "resized_h", "r_sum", "g_sum", "b_sum")
  }

  /** Perceptual-hash image dedup (mm47): 64 images whose parameters key on
    * doc_id % 32, so each image arrives exactly twice under different ids
    * — the re-hosted-image case a crawl corpus is full of. Spark decodes
    * the REAL PNGs and computes [[MediaCodec.aHash]] from decoded pixels;
    * identical images collide, and the hash-equality groupBy elects the
    * min-id canonical per perceptual identity (the exactDedup shape on a
    * 16-byte fingerprint instead of a text digest — at 100 TB only the
    * two hash longs shuffle, never pixels). DuckDB recomputes the same
    * subsample/luminance/threshold integer arithmetic from the synthetic
    * pixel formula, so a wrong decode OR a wrong hash bit diverges.
    */
  def mm47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    val hashes = ids.map { i =>
      val j = i % 32
      val w = (8 + j % 9).toInt
      val h = (8 + (j * 3) % 9).toInt
      val img = MediaCodec.decodeImage(SyntheticImages.gradientPng(j, w, h)).get
      val (hi, lo) = MediaCodec.aHash(img)
      (i, hi, lo)
    }.toDF("media_id", "ahash_hi", "ahash_lo")
    val canon = hashes.groupBy("ahash_hi", "ahash_lo")
      .agg(min(col("media_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
    hashes.join(canon, Seq("ahash_hi", "ahash_lo"))
      .select("media_id", "ahash_hi", "ahash_lo", "canonical_id", "n_copies")
  }

  /** Perceptual near-duplicate image pairs (mm48): the mm47 hashes pushed
    * through Manku-style 16-bit chunk blocking — two images are
    * candidates iff SOME quarter of their 64-bit aHash matches exactly
    * (any pair within Hamming 3 must agree on at least one of four
    * chunks — pigeonhole), then the exact bit_count filter keeps pairs
    * with total Hamming ≤ `maxHamming`. The dd40 economics on image
    * fingerprints: candidates are per-chunk-bucket co-occupants, never
    * all image pairs, and only the two hash longs ever shuffle.
    */
  def mm48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    val hashes = ids.map { i =>
      val j = i % 32
      val w = (8 + j % 9).toInt
      val h = (8 + (j * 3) % 9).toInt
      val img = MediaCodec.decodeImage(SyntheticImages.gradientPng(j, w, h)).get
      val (hi, lo) = MediaCodec.aHash(img)
      (i, hi, lo)
    }.toDF("media_id", "ahash_hi", "ahash_lo")
    val chunked = hashes.select(col("media_id"), col("ahash_hi"),
      col("ahash_lo"), explode(array(
        shiftright(col("ahash_hi"), 16).bitwiseAND(lit(0xffffL)) + lit(0L),
        col("ahash_hi").bitwiseAND(lit(0xffffL)) + lit(1L << 20),
        shiftright(col("ahash_lo"), 16).bitwiseAND(lit(0xffffL)) + lit(2L << 20),
        col("ahash_lo").bitwiseAND(lit(0xffffL)) + lit(3L << 20))).as("chunk"))
    val b = chunked.select(col("media_id").as("id_b"),
      col("ahash_hi").as("hi_b"), col("ahash_lo").as("lo_b"), col("chunk"))
    chunked.join(b, Seq("chunk"))
      .filter(col("media_id") < col("id_b"))
      .select(col("media_id").as("id_a"), col("id_b"),
        (bit_count(col("ahash_hi").bitwiseXOR(col("hi_b")))
          + bit_count(col("ahash_lo").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** Image-text pair curation (mm51, r9 — the one multimodal
    * LLM-pipeline shape not previously expressed end-to-end): each of
    * the 64 synthetic images is paired with its document's text as the
    * caption, and a pair is ADMITTED to the training mix iff
    *  - the image is the CANONICAL copy of its perceptual identity
    *    (mm47's aHash dedup — each image arrives twice under different
    *    ids, the re-hosted-image case; only the min-id copy admits),
    *  - the caption passes the td40 rule screen (Gopher keep over the
    *    fused normalize→screen→redact pipeline), and
    *  - the td52 classifier AGREES with the caption's labeled language
    *    (td54's model-agreement gate — the deterministic stand-in for a
    *    CLIP-style pair-consistency filter).
    * All three gates are existing ORACLED machinery; the oracle composes
    * the three component oracle texts verbatim (the td54 drift-detection
    * idiom), so a drift in any component breaks this entry too.
    *
    * Pair-universe pushdown (r10): both text gates are POINTWISE per
    * document once the NB model is trained — the screen rules are
    * per-row and the classifier's model comes from the train half, never
    * the test frame — so evaluating them on the PAIRED subset only is
    * identity-preserving. This is the same cut DuckDB's optimizer
    * derives from the media_id join; without it the Spark side scored
    * the whole text corpus to keep 64 rows (the entry's first heavy row
    * read 4.8× for exactly that reason — run 1 vs run 2 in BASELINE).
    * The NB TRAIN side deliberately stays the full even half (the td52
    * model), so predictions for the paired docs are unchanged. At 100 TB
    * an image-text corpus pairs every document, so the gates are
    * corpus-proportional either way; the pushdown is what keeps a
    * SPARSELY paired corpus cheap.
    */
  def mm51(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val img = mm47(s, dir)
      .select(col("media_id"), col("canonical_id"), col("n_copies"))
    val all = Q.t(s, dir, "documents")
    val paired = all.filter(col("doc_id") < 64)
    val cap = graft.operators.TextAnalysis
      .curationPipeline(TextOps.q40Injected(paired), "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    val nb = graft.operators.Classification.nbClassify(
        train = all.filter(col("doc_id") % 2 === 0), test = paired,
        "doc_id", "text", "lang")
      .select(col("doc_id"), col("pred_label"))
    val docs = paired.select(col("doc_id"), col("lang"))
    img.join(cap, img("media_id") === cap("doc_id")).drop("doc_id")
      .join(nb, col("media_id") === nb("doc_id")).drop("doc_id")
      .join(docs, col("media_id") === docs("doc_id")).drop("doc_id")
      .withColumn("lang_match", col("pred_label") === col("lang"))
      .withColumn("admitted",
        col("media_id") === col("canonical_id")
          && col("keep") && col("lang_match"))
      .select("media_id", "canonical_id", "n_copies", "keep",
        "lang_match", "admitted")
  }

  /** COMPRESSED-audio metadata walk (mm52, r10; corpus-proportional
    * since r11 — ONE stream per document, so the heavy tier measures a
    * real scan instead of a 64-stream constant): synthetic MPEG-1
    * Layer III streams (every frame header a pure integer function of
    * (id, frame) — deterministic VBR bitrate pattern, padding bits, a
    * skipped ID3v2 prefix on ids%5=0 and an ID3v1 trailer on ids%6=0) →
    * `MediaCodec.walkMp3` header walk → exact frame counts, channel
    * mode, per-frame-kbps min/max/sum and integer microsecond duration.
    * This is the metadata a crawl curation pipeline FILTERS compressed
    * audio on — a header walk, not a decode — so the codec stub's
    * boundary moves: only PCM synthesis remains environment-blocked.
    * DuckDB recomputes every stat from the header formulas without
    * touching the bytes; a wrong sync/length/skip diverges.
    */
  def mm52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val nf = (5 + i % 7).toInt
      val st = MediaCodec.walkMp3(SyntheticImages.mp3Stream(i, nf))
        .getOrElse(
          throw new IllegalStateException(s"unwalkable synthetic mp3 $i"))
      (i, st.sampleRate, st.channels, st.nFrames, st.durationMicros,
        st.kbpsMin, st.kbpsMax, st.kbpsSum)
    }.toDF("media_id", "sample_rate", "channels", "n_frames",
      "duration_us", "kbps_min", "kbps_max", "kbps_sum")
  }

  /** COMPRESSED-video structural walk (mm53, r10; corpus-proportional
    * since r11, the mm52 note): synthetic H.264
    * Annex-B streams (unit types, payload lengths and start-code widths
    * pure integer functions of (id, unit) — mixed 3/4-byte start codes,
    * 0xAA payloads so boundaries are unambiguous) →
    * `MediaCodec.walkH264` start-code walk → the exact NAL census
    * (SPS/PPS/IDR/slice counts, unit bytes) a video curation run gates
    * uploads on before any pixel decodes. The mm52 boundary applied to
    * video: structural metadata real, pixel reconstruction the stub.
    */
  def mm53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val n = (4 + i % 6).toInt
      val st = MediaCodec.walkH264(SyntheticImages.h264Stream(i, n))
        .getOrElse(
          throw new IllegalStateException(s"unwalkable synthetic h264 $i"))
      (i, st.nNals, st.nSps, st.nPps, st.nIdr, st.nNonIdr, st.unitBytes)
    }.toDF("media_id", "n_nals", "n_sps", "n_pps", "n_idr", "n_non_idr",
      "unit_bytes")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm39_media_features" -> (mm39 _),
    "mm43_media_resize" -> (mm43 _),
    "mm44_frame_offsets" -> (mm44 _),
    "mm45_image_decode" -> (mm45 _),
    "mm46_image_resize" -> (mm46 _),
    "mm47_image_phash_dedup" -> (mm47 _),
    "mm48_image_phash_near_pairs" -> (mm48 _),
    "mm49_audio_decode" -> (mm49 _),
    "mm50_video_decode" -> (mm50 _),
    "mm51_pair_curation" -> (mm51 _),
    "mm52_mp3_frame_walk" -> (mm52 _),
    "mm53_h264_nal_walk" -> (mm53 _))

  /** REAL raw-video decode, driver-oracled (mm50): 64 synthetic Y4M
    * streams (dimensions, frame counts AND every Y-plane byte pure
    * integer functions of the id — the mm45/mm49 idiom applied to video)
    * → `MediaCodec.decodeY4m` container parsing → exact integer luma
    * stats. DuckDB recomputes them from the formula; a wrong header
    * parse, frame walk or chroma-plane skip diverges (mis-sized chroma
    * loses FRAME alignment and fails loud).
    */
  def mm50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val w = (8 + 2 * (i % 5)).toInt
      val h = (8 + 2 * ((i * 3) % 5)).toInt
      val nFrames = (2 + i % 4).toInt
      val vid = SyntheticImages.y4m(i, w, h, nFrames)
      val st = MediaCodec.decodeY4m(vid).getOrElse(
        throw new IllegalStateException(s"undecodable synthetic y4m $i"))
      (i, st.width, st.height, st.nFrames, st.ySum, st.ySumSq)
    }.toDF("media_id", "width", "height", "n_frames", "y_sum", "y_sumsq")
  }

  /** REAL PCM/WAV audio decode, driver-oracled (mm49): 64 synthetic WAV
    * containers (rate/channels/length AND every sample value pure integer
    * functions of the id — the mm45 gradient idiom applied to audio) →
    * `MediaCodec.decodeWav` RIFF parsing → exact integer energy stats.
    * DuckDB recomputes the same stats from the sample formula with
    * generate_series, never touching the bytes — a wrong parse (header
    * walk, endianness, interleave, sign) diverges.
    */
  def mm49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = Q.t(s, dir, "documents")
      .filter(col("doc_id") < 64)
      .select(col("doc_id").cast("long")).as[Long]
    ids.map { i =>
      val rate = (8000 + (i % 3) * 4000).toInt
      val channels = (1 + i % 2).toInt
      val nFrames = (400 + i * 7).toInt
      val wav = SyntheticImages.pcmWav(i, rate, channels, nFrames)
      val st = MediaCodec.decodeWav(wav).getOrElse(
        throw new IllegalStateException(s"undecodable synthetic wav $i"))
      (i, st.sampleRate, st.channels, st.nFrames,
        st.nFrames * 1000L / st.sampleRate, st.peakAbs, st.sampleSum,
        st.sampleSumSq)
    }.toDF("media_id", "sample_rate", "channels", "n_frames",
      "duration_ms", "peak_abs", "sample_sum", "sample_sumsq")
  }

  private val mm47Sql =
    """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
      |p AS (SELECT i, i % 32 AS j,
      |    8 + (i % 32) % 9 AS w, 8 + ((i % 32)*3) % 9 AS h FROM ids),
      |g AS (SELECT p.i, p.j, gy.gy*8 + gx.gx AS k,
      |    (gx.gx * p.w // 8) AS sx, (gy.gy * p.h // 8) AS sy
      |  FROM p, generate_series(0,7) gx(gx), generate_series(0,7) gy(gy)),
      |l AS (SELECT i, k,
      |    ((299*((sx*7 + sy*13 + j*31) % 256)
      |      + 587*((sx*11 + sy*3 + j*17) % 256)
      |      + 114*((sx*5 + sy*19 + j*7) % 256)) // 1000) AS lum
      |  FROM g),
      |t AS (SELECT i, SUM(lum) AS total FROM l GROUP BY i),
      |b AS (SELECT l.i, l.k,
      |    CASE WHEN 64 * l.lum > t.total THEN 1 ELSE 0 END AS bit
      |  FROM l JOIN t ON l.i = t.i),
      |hs AS (SELECT i,
      |    CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
      |      ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
      |      ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM b GROUP BY i),
      |c AS (SELECT ahash_hi, ahash_lo, MIN(i) AS canonical_id,
      |    COUNT(*) AS n_copies
      |  FROM hs GROUP BY 1, 2)
      |SELECT hs.i AS media_id, hs.ahash_hi, hs.ahash_lo,
      | c.canonical_id, c.n_copies
      |FROM hs JOIN c USING (ahash_hi, ahash_lo)""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm39_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        | CAST(strlen(text) AS BIGINT) AS byte_length,
        | md5(text) AS content_md5
        |FROM documents""".stripMargin,
    // stub dims: w = 64 + (payload[0] & 0x7f), h = 64 + (payload[1] & 0x7f);
    // fixture text is ASCII (spec-checked strlen == length), so the payload
    // bytes are the character codes
    "mm43_media_resize" ->
      """WITH d AS (SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  64 + ascii(substr(text, 1, 1)) AS w,
        |  64 + ascii(substr(text, 2, 1)) AS h
        | FROM documents)
        |SELECT media_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        | CAST(greatest(1, trunc(w * least(1.0, 96.0 / greatest(w, h)))) AS INTEGER) AS resized_w,
        | CAST(greatest(1, trunc(h * least(1.0, 96.0 / greatest(w, h)))) AS INTEGER) AS resized_h
        |FROM d""".stripMargin,
    "mm44_frame_offsets" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(o AS BIGINT) AS frame_offset
        |FROM documents CROSS JOIN generate_series(0, 400, 100) t(o)
        |WHERE o < strlen(text)""".stripMargin,
    // recomputes the SyntheticImages.gradientRgb formula per pixel; integer
    // luminance lum=(299r+587g+114b)//1000, bin=lum//32 — all exact BIGINT
    // arithmetic, matching MediaCodec.imageStats
    "mm45_image_decode" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
        |dims AS (SELECT i, 8 + (i % 9) AS w, 8 + ((i*3) % 9) AS h FROM ids),
        |px AS (SELECT d.i, d.w, d.h,
        |    (x.x*7 + y.y*13 + d.i*31) % 256 AS r,
        |    (x.x*11 + y.y*3 + d.i*17) % 256 AS g,
        |    (x.x*5 + y.y*19 + d.i*7) % 256 AS b
        |  FROM dims d, generate_series(0, 15) x(x), generate_series(0, 15) y(y)
        |  WHERE x.x < d.w AND y.y < d.h),
        |lum AS (SELECT *, ((299*r + 587*g + 114*b) // 1000) // 32 AS bin FROM px)
        |SELECT i AS media_id,
        |  CAST(MAX(w) AS INTEGER) AS width, CAST(MAX(h) AS INTEGER) AS height,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  concat_ws(',',
        |    count(*) FILTER (WHERE bin = 0), count(*) FILTER (WHERE bin = 1),
        |    count(*) FILTER (WHERE bin = 2), count(*) FILTER (WHERE bin = 3),
        |    count(*) FILTER (WHERE bin = 4), count(*) FILTER (WHERE bin = 5),
        |    count(*) FILTER (WHERE bin = 6), count(*) FILTER (WHERE bin = 7)) AS lum_hist
        |FROM lum GROUP BY i""".stripMargin,
    // recomputes MediaCodec.aHash from the gradient pixel formula: 8x8
    // nearest-neighbor subsample (integer-division coordinates), integer
    // luminance, strict 64*lum > total threshold, two 32-bit halves
    "mm47_image_phash_dedup" -> mm47Sql,
    // mm53 recomputes the synthetic NAL census: type-by-unit-index rule,
    // per-unit payload lengths (+1 header byte), start codes excluded
    "mm53_h264_nal_walk" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
        |cfg AS (SELECT i, 4 + i % 6 AS n FROM ids),
        |units AS (SELECT c.i, u.u,
        |    CASE WHEN u.u = 0 THEN 7 WHEN u.u = 1 THEN 8
        |      WHEN u.u % 5 = 2 THEN 5 ELSE 1 END AS tpe,
        |    1 + 10 + (c.i*3 + u.u*7) % 50 AS ubytes
        |  FROM cfg c, generate_series(0, 9) u(u) WHERE u.u < c.n)
        |SELECT i AS media_id, CAST(count(*) AS BIGINT) AS n_nals,
        |  CAST(count(*) FILTER (tpe = 7) AS BIGINT) AS n_sps,
        |  CAST(count(*) FILTER (tpe = 8) AS BIGINT) AS n_pps,
        |  CAST(count(*) FILTER (tpe = 5) AS BIGINT) AS n_idr,
        |  CAST(count(*) FILTER (tpe = 1) AS BIGINT) AS n_non_idr,
        |  CAST(SUM(ubytes) AS BIGINT) AS unit_bytes
        |FROM units GROUP BY i""".stripMargin,
    // mm52 recomputes the synthetic MP3 header formulas: frame count,
    // sample rate / channel tables, the deterministic VBR kbps pattern and
    // the integer microsecond duration - never touching the bytes
    "mm52_mp3_frame_walk" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents),
        |cfg AS (SELECT i, CAST(5 + i % 7 AS BIGINT) AS n_frames,
        |    list_extract([44100, 48000, 32000], CAST(i % 3 AS INTEGER) + 1) AS sample_rate,
        |    CASE WHEN i % 4 = 0 THEN 1 ELSE 2 END AS channels FROM ids),
        |fr AS (SELECT c.i,
        |    list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
        |      CAST(1 + (c.i*7 + f.f*3) % 14 AS INTEGER)) AS kbps
        |  FROM cfg c, generate_series(0, 11) f(f) WHERE f.f < c.n_frames),
        |agg AS (SELECT i, MIN(kbps) AS kbps_min, MAX(kbps) AS kbps_max,
        |    SUM(kbps) AS kbps_sum FROM fr GROUP BY i)
        |SELECT c.i AS media_id, CAST(c.sample_rate AS INTEGER) AS sample_rate,
        |  CAST(c.channels AS INTEGER) AS channels, c.n_frames,
        |  CAST(c.n_frames * 1152 * 1000000 // c.sample_rate AS BIGINT) AS duration_us,
        |  CAST(a.kbps_min AS INTEGER) AS kbps_min,
        |  CAST(a.kbps_max AS INTEGER) AS kbps_max,
        |  CAST(a.kbps_sum AS BIGINT) AS kbps_sum
        |FROM cfg c JOIN agg a ON c.i = a.i""".stripMargin,
    // the mm47 hash chain + 16-bit chunk blocking + exact bit_count filter
    "mm49_audio_decode" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
        |cfg AS (SELECT i, CAST(8000 + (i % 3) * 4000 AS INTEGER) AS sample_rate,
        |    CAST(1 + i % 2 AS INTEGER) AS channels,
        |    400 + i * 7 AS n_frames FROM ids),
        |s AS (SELECT c.i, c.sample_rate, c.channels, c.n_frames,
        |    ((f.f * 31 + ch.ch * 7 + c.i * 17) % 65536) - 32768 AS v
        |  FROM cfg c, generate_series(0, 847) f(f), generate_series(0, 1) ch(ch)
        |  WHERE f.f < c.n_frames AND ch.ch < c.channels)
        |SELECT i AS media_id, MAX(sample_rate) AS sample_rate,
        |  MAX(channels) AS channels,
        |  CAST(MAX(n_frames) AS BIGINT) AS n_frames,
        |  CAST(MAX(n_frames) * 1000 // MAX(sample_rate) AS BIGINT) AS duration_ms,
        |  CAST(MAX(ABS(v)) AS INTEGER) AS peak_abs,
        |  CAST(SUM(v) AS BIGINT) AS sample_sum,
        |  CAST(SUM(v * v) AS BIGINT) AS sample_sumsq
        |FROM s GROUP BY i""".stripMargin,
    "mm50_video_decode" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
        |cfg AS (SELECT i, CAST(8 + 2 * (i % 5) AS INTEGER) AS w,
        |    CAST(8 + 2 * ((i * 3) % 5) AS INTEGER) AS h,
        |    2 + i % 4 AS nf FROM ids),
        |px AS (SELECT c.i, c.w, c.h, c.nf,
        |    (x.x * 7 + y.y * 13 + f.f * 3 + c.i * 31) % 256 AS v
        |  FROM cfg c, generate_series(0, 5) f(f),
        |    generate_series(0, 15) x(x), generate_series(0, 15) y(y)
        |  WHERE f.f < c.nf AND x.x < c.w AND y.y < c.h)
        |SELECT i AS media_id, MAX(w) AS width, MAX(h) AS height,
        |  CAST(MAX(nf) AS BIGINT) AS n_frames,
        |  CAST(SUM(v) AS BIGINT) AS y_sum,
        |  CAST(SUM(v * v) AS BIGINT) AS y_sumsq
        |FROM px GROUP BY i""".stripMargin,
    "mm48_image_phash_near_pairs" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
        |p AS (SELECT i, i % 32 AS j,
        |    8 + (i % 32) % 9 AS w, 8 + ((i % 32)*3) % 9 AS h FROM ids),
        |g AS (SELECT p.i, p.j, gy.gy*8 + gx.gx AS k,
        |    (gx.gx * p.w // 8) AS sx, (gy.gy * p.h // 8) AS sy
        |  FROM p, generate_series(0,7) gx(gx), generate_series(0,7) gy(gy)),
        |l AS (SELECT i, k,
        |    ((299*((sx*7 + sy*13 + j*31) % 256)
        |      + 587*((sx*11 + sy*3 + j*17) % 256)
        |      + 114*((sx*5 + sy*19 + j*7) % 256)) // 1000) AS lum
        |  FROM g),
        |t AS (SELECT i, SUM(lum) AS total FROM l GROUP BY i),
        |b AS (SELECT l.i, l.k,
        |    CASE WHEN 64 * l.lum > t.total THEN 1 ELSE 0 END AS bit
        |  FROM l JOIN t ON l.i = t.i),
        |hs AS (SELECT i,
        |    CAST(SUM(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
        |      ELSE 0 END) AS BIGINT) AS ahash_hi,
        |    CAST(SUM(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
        |      ELSE 0 END) AS BIGINT) AS ahash_lo
        |  FROM b GROUP BY i),
        |ch AS (
        | SELECT i, ahash_hi, ahash_lo, ((ahash_hi >> 16) & 65535) + 0 AS chunk FROM hs
        | UNION ALL SELECT i, ahash_hi, ahash_lo, (ahash_hi & 65535) + 1048576 FROM hs
        | UNION ALL SELECT i, ahash_hi, ahash_lo, ((ahash_lo >> 16) & 65535) + 2097152 FROM hs
        | UNION ALL SELECT i, ahash_hi, ahash_lo, (ahash_lo & 65535) + 3145728 FROM hs),
        |pr AS (SELECT a.i AS id_a, b.i AS id_b,
        |  CAST(bit_count(xor(a.ahash_hi, b.ahash_hi))
        |   + bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming
        | FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.i < b.i)
        |SELECT DISTINCT id_a, id_b, hamming FROM pr WHERE hamming <= 3""".stripMargin,
    // solid color survives nearest-neighbor resampling exactly, so the
    // resized channel sums are rw*rh*color; dims follow the mm43 fit formula
    "mm46_image_resize" ->
      """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS i FROM documents WHERE doc_id < 64),
        |d AS (SELECT i, 20 + (i % 13) AS w, 20 + ((i*5) % 13) AS h,
        |    (i*31) % 256 AS r, (i*17) % 256 AS g, (i*7) % 256 AS b FROM ids),
        |f AS (SELECT i, r, g, b,
        |    CAST(greatest(1, trunc(w * least(1.0, 16.0 / greatest(w, h)))) AS BIGINT) AS rw,
        |    CAST(greatest(1, trunc(h * least(1.0, 16.0 / greatest(w, h)))) AS BIGINT) AS rh
        |  FROM d)
        |SELECT i AS media_id,
        |  CAST(rw AS INTEGER) AS resized_w, CAST(rh AS INTEGER) AS resized_h,
        |  rw*rh*r AS r_sum, rw*rh*g AS g_sum, rw*rh*b AS b_sum
        |FROM f""".stripMargin,
    // mm51 composes the three component oracle texts VERBATIM (the td54
    // drift-detection idiom): mm47's aHash dedup, td40's rule screen,
    // td52's classifier — any drift in a component breaks this entry too
    "mm51_pair_curation" ->
      s"""SELECT h.media_id, h.canonical_id, h.n_copies, g.keep,
         |  (c.pred_label = d.lang) AS lang_match,
         |  (h.media_id = h.canonical_id AND g.keep
         |   AND c.pred_label = d.lang) AS admitted
         |FROM ($mm47Sql) h
         |JOIN (${TextOps.oracles("td40_curation_pipeline")}) g
         |  ON h.media_id = g.doc_id
         |JOIN (${TextOps.oracles("td52_nb_classify")}) c
         |  ON h.media_id = c.doc_id
         |JOIN documents d ON h.media_id = d.doc_id""".stripMargin)
}
