package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath._
import graft.operators.{MediaDecode, MediaSynth, MediaWalk, Multimodal}
import graft.operators.Materialize.MatOps
import graft.sources.Tables

/** Multimodal / media query entries (split from ExtendedEntries): codegen
  * container walks (WAV/BMP/PNG/JPEG/EXIF/MP4), real-codec decode
  * cross-checks, perceptual hashing / resize / audio features, corrupt
  * quarantine, and multimodal packing — each with its DuckDB oracle. */
private[graft] object MediaEntries {

  /** DuckDB little-endian n-byte uppercase hex of a nonnegative integer
    * expression (mirrors Multimodal.leHex). */
  private def oLe(e: String, n: Int): String =
    (0 until n).map(i => s"lpad(hex((($e) // ${1L << (8 * i)}) % 256), 2, '0')")
      .mkString("concat(", ", ", ")")

  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.features(Multimodal.mediaFromDocs(Tables.documents(s, dir)))

  private def qFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
      Multimodal.mediaFromDocs(Tables.documents(s, dir)), stride = 2)

  /** Real-container codec pass: synthesize a valid PCM WAV per doc, parse
    * its RIFF header back with codegen expressions. The oracle recomputes
    * every field (and the 44 header bytes) arithmetically from doc_id, so
    * a single bit wrong in either direction of the codec fails the hash. */
  private def qMediaWav(s: SparkSession, dir: String): DataFrame =
    MediaWalk.parseWav(MediaSynth.synthWav(Tables.documents(s, dir)))

  private def qMediaBmp(s: SparkSession, dir: String): DataFrame =
    MediaWalk.parseBmp(MediaSynth.synthBmp(Tables.documents(s, dir)))

  /** REAL-codec cross-check ([[MediaDecode.decodeBmp]]): javax.imageio
    * pixel-decodes every synthesized BMP in a per-partition batch pass,
    * and must agree with the pure-codegen header walk on (width,
    * height) row by row — the oracle pins the walked fields AND
    * `decode_agrees` as literal TRUE, so one disagreeing (or failing)
    * decode anywhere in the corpus fails the hash. */
  private def qMediaDecode(s: SparkSession, dir: String): DataFrame = {
    val media = MediaSynth.synthBmp(Tables.documents(s, dir))
    MediaWalk.parseBmp(media)
      .select(col("doc_id"), col("width"), col("height"), col("bpp"),
        col("n_bytes"))
      .join(MediaDecode.decodeBmp(media), Seq("doc_id"))
      .select(col("doc_id"), col("width"), col("height"), col("bpp"),
        col("n_bytes"),
        (col("decoded_ok") && col("dec_width") === col("width") &&
          col("dec_height") === col("height")).as("decode_agrees"))
  }

  /** REAL PNG round trip ([[MediaDecode.synthImageReal]] →
    * [[MediaDecode.imageAHash]]): the patByte pattern is rendered and
    * pushed through javax.imageio's ACTUAL PNG encoder, decoded back,
    * and aHashed. PNG is lossless, so the decoded pixels — and
    * therefore the hash and mean — must match the closed-form
    * [[MediaDecode.patByte]] oracle bit for bit: one wrong byte in
    * either codec direction fails the hash. (The synthPng/parsePng
    * family pins the container WALK; this pins the pixel codec.) */
  private def qMediaDecodePng(s: SparkSession, dir: String): DataFrame =
    MediaDecode.imageAHash(
      MediaDecode.synthImageReal(Tables.documents(s, dir), "png"))
      .select(col("doc_id"), col("decoded_ok"), col("ahash"), col("mean_gray"))

  /** REAL JPEG round trip: encode the pattern with the actual JPEG
    * encoder, decode back, and score against the closed form. JPEG is
    * LOSSY, so pixel equality is the wrong contract — the pinned fields
    * are geometry + `mae_ok` (mean absolute gray error within the bound
    * derived from [[MediaDecode.jpegWorstCaseMae]] — the enumerated
    * worst case over all 64 pattern images on THIS JVM's encoder tables,
    * times [[MediaDecode.JpegMaeHeadroom]] — while a channel swap, stride
    * bug, or row flip is tens of levels). Oracle pins all three as
    * literals. */
  private def qMediaDecodeJpeg(s: SparkSession, dir: String): DataFrame =
    MediaDecode.decodeImageVsPattern(
      MediaDecode.synthImageReal(Tables.documents(s, dir), "jpeg"))
      .select(col("doc_id"), col("decoded_ok"), col("dec_width"),
        col("dec_height"), col("mae_ok"))

  /** Banded-Hamming threshold for image near-dup: 4 bands of 16 bits
    * make the candidate join COMPLETE for hamming ≤ 3 (pigeonhole: 3
    * differing bits cannot touch all 4 bands). */
  private val AhashMaxHamming = 3

  /** Perceptual image hashing over REAL-decoded pixels: synthesize the
    * patterned 16×16 BMPs, decode them with javax.imageio, and compute
    * the 64-bit average-hash ([[MediaDecode.imageAHash]]). The oracle
    * renders [[MediaDecode.patByte]] in closed form and never decodes —
    * a hash mismatch anywhere means the decode→feature path broke. */
  private def qImageAhash(s: SparkSession, dir: String): DataFrame =
    MediaDecode.imageAHash(
      MediaDecode.synthBmpPattern(Tables.documents(s, dir)))
      .select(col("doc_id"), col("decoded_ok"), col("ahash"), col("mean_gray"))

  /** REAL-decode 2× box-average resize over the patterned BMPs
    * ([[MediaDecode.imageResize]]): the thumbnail/normalize ingest step.
    * The pixel digest pins the ENTIRE decode→resample path against the
    * closed-form pattern oracle — one wrong pixel anywhere moves it. */
  private def qImageResize(s: SparkSession, dir: String): DataFrame =
    MediaDecode.imageResize(
      MediaDecode.synthBmpPattern(Tables.documents(s, dir)), factor = 2)
      .select(col("doc_id"), col("decoded_ok"), col("out_w"), col("out_h"),
        col("px_digest"), col("mean_gray"))

  /** Perceptual DCT hash over REAL-decoded pixels
    * ([[MediaDecode.imagePHash]]): the brightness-invariant companion to
    * the aHash (the DC term carries any constant gray shift and is
    * excluded). The oracle renders the pattern in closed form and replays
    * the IDENTICAL quantized integer cosine table as a literal VALUES
    * list — one source of truth, exact int64 arithmetic end to end. */
  private def qImagePhash(s: SparkSession, dir: String): DataFrame =
    MediaDecode.imagePHash(
      MediaDecode.synthBmpPattern(Tables.documents(s, dir)))
      .select(col("doc_id"), col("decoded_ok"), col("phash"),
        col("dct_median"))

  /** Image near-dup classes by banded Hamming join over the aHashes:
    * dedup to DISTINCT hashes first (identical renders collapse to one
    * row with a member count — the output stays class-sized, not
    * pair-sized), then 4×16-bit band blocking + exact Hamming ≤
    * [[AhashMaxHamming]] verify — the simhash shape applied to decoded
    * image content. */
  private def qImageNeardup(s: SparkSession, dir: String): DataFrame = {
    val hashes = MediaDecode.imageAHash(
        MediaDecode.synthBmpPattern(Tables.documents(s, dir)))
      .filter(col("decoded_ok"))
      .groupBy(col("ahash")).agg(count(lit(1)).as("n_members")).materialize
    val bands = hashes.select(col("ahash"), col("n_members"),
        explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("sig", expr("substring(ahash, band * 16 + 1, 16)"))
    val ham = expr(
      """CAST(aggregate(transform(sequence(1, 64),
        |  i -> CASE WHEN substring(hash_a, i, 1) <> substring(hash_b, i, 1)
        |            THEN 1 ELSE 0 END), 0, (a, b) -> a + b) AS BIGINT)""".stripMargin)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.ahash") < col("b.ahash"))
      .select(col("a.ahash").as("hash_a"), col("a.n_members").as("n_a"),
        col("b.ahash").as("hash_b"), col("b.n_members").as("n_b"))
      .distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= AhashMaxHamming)
      .select(col("hash_a"), col("hash_b"), col("hamming"),
        col("n_a"), col("n_b"))
  }

  /** Banded-Hamming threshold for pHash near-dup: 3 bands of 21 bits
    * make the candidate join COMPLETE for hamming ≤ 2 (pigeonhole over
    * the 63-bit hash). */
  private val PhashMaxHamming = 2

  /** DISTINCT pHashes with per-hash image counts — the class-sized base
    * both the pair and class reports band over (identical renders
    * collapse here, so nothing downstream is ever pair-sized in exact
    * dups). */
  private def phashHashes(s: SparkSession, dir: String): DataFrame =
    MediaDecode.imagePHash(
        MediaDecode.synthBmpPattern(Tables.documents(s, dir)))
      .filter(col("decoded_ok"))
      .groupBy(col("phash")).agg(count(lit(1)).as("n_members")).materialize

  /** Banded candidate pairs + exact Hamming ≤ [[PhashMaxHamming]] verify
    * over [[phashHashes]] — complete by pigeonhole (3 bands of 21 bits,
    * d ≤ 2 leaves one band untouched). */
  private def phashPairs(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("phash"), col("n_members"),
        explode(expr("sequence(0, 2)")).as("band"))
      .withColumn("sig", expr("substring(phash, band * 21 + 1, 21)"))
    val ham = expr(
      """CAST(aggregate(transform(sequence(1, 63),
        |  i -> CASE WHEN substring(hash_a, i, 1) <> substring(hash_b, i, 1)
        |            THEN 1 ELSE 0 END), 0, (a, b) -> a + b) AS BIGINT)""".stripMargin)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.phash") < col("b.phash"))
      .select(col("a.phash").as("hash_a"), col("a.n_members").as("n_a"),
        col("b.phash").as("hash_b"), col("b.n_members").as("n_b"))
      .distinct()
      .withColumn("hamming", ham)
      .filter(col("hamming") <= PhashMaxHamming)
      .select(col("hash_a"), col("hash_b"), col("hamming"),
        col("n_a"), col("n_b"))
  }

  /** Image near-dup classes over the DCT hashes — the q_image_neardup
    * shape on the brightness-invariant signature: distinct-hash dedup
    * first (class-sized output), 3×21-bit band blocking, exact Hamming ≤
    * [[PhashMaxHamming]] verify. */
  private def qImagePhashNeardup(s: SparkSession, dir: String): DataFrame =
    phashPairs(phashHashes(s, dir))

  /** Linear-OUTPUT pHash duplicate classes — [[Dedup.simhashClasses]]'s
    * maturity applied to images: the pair report above re-creates the
    * Θ(k²) output problem on wide duplicate classes (mirror farms render
    * the same asset with near-identical hashes), so the shippable report
    * is one row per CLASS. Candidates from the same complete banding,
    * components by min-label propagation over the DISTINCT-HASH graph
    * (class_id = lexicographic-min member hash — a graph of distinct
    * hashes, never of images), then one keyed aggregate. A hash with no
    * near-dup neighbor still forms a class of its own exact duplicates,
    * so the report covers exact AND near dup classes uniformly; classes
    * of a single image are dropped (nothing duplicated). */
  private def qImagePhashClasses(s: SparkSession, dir: String): DataFrame = {
    val hashes = phashHashes(s, dir)
    val pairs = phashPairs(hashes)
    val cc = graft.operators.Dedup.connectedComponents(
        pairs.select(col("hash_a").as("doc_a"), col("hash_b").as("doc_b")))
      .select(col("doc_id").as("phash"), col("canonical_id").as("class_id"))
    hashes.join(cc, Seq("phash"), "left")
      .select(coalesce(col("class_id"), col("phash")).as("class_id"),
        col("n_members"))
      .groupBy(col("class_id"))
      .agg(count(lit(1)).as("n_hashes"), sum(col("n_members")).as("n_members"))
      .filter(col("n_members") >= 2)
  }

  /** REAL-codec cross-check, audio flavor ([[MediaDecode.decodeWav]]):
    * javax.sound decodes every synthesized PCM WAV; format fields must
    * match the codegen header walk and the exact sample statistics must
    * match the closed-form expectation (constant 0x5A body ⇒ every
    * 16-bit LE sample is 23130) — the oracle pins the walked fields AND
    * `decode_agrees` as literal TRUE. */
  private def qMediaDecodeWav(s: SparkSession, dir: String): DataFrame = {
    val media = MediaSynth.synthWav(Tables.documents(s, dir))
    MediaWalk.parseWav(media)
      .select(col("doc_id"), col("channels"), col("sample_rate"),
        col("data_size"))
      .join(MediaDecode.decodeWav(media), Seq("doc_id"))
      .select(col("doc_id"), col("channels"), col("sample_rate"),
        col("data_size"), (col("data_size") / 2).cast("long").as("n_samples"),
        (col("decoded_ok") && col("a_channels") === col("channels") &&
          col("a_rate") === col("sample_rate") &&
          col("a_samples") === (col("data_size") / 2).cast("long") &&
          col("a_first") === 23130L && col("a_peak") === 23130L)
          .as("decode_agrees"))
  }

  /** REAL-decode audio features over the patterned PCM WAVs
    * ([[MediaSynth.synthWavPattern]] → [[MediaDecode.audioFeatures]]):
    * RMS / zero-crossings / peak against the closed-form sample rule —
    * the loudness/activity screen of a multimodal ingest pipeline,
    * feature math pinned per clip by the oracle. */
  private def qAudioFeatures(s: SparkSession, dir: String): DataFrame =
    MediaDecode.audioFeatures(
      MediaSynth.synthWavPattern(Tables.documents(s, dir)))
      .select(col("doc_id"), col("decoded_ok"), col("n_samples"),
        col("peak"), col("n_zero_cross"), col("rms_q"))

  /** Mixed-modality corpus inventory: evens are audio, odds are images. */
  private def qMediaStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    MediaWalk.modalityStats(
      MediaWalk.parseWav(MediaSynth.synthWav(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))),
      MediaWalk.parseBmp(MediaSynth.synthBmp(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))))
  }

  /** PNG chunk-chain walk: synthesize real multi-chunk PNGs (variable
    * chunk count + lengths, real CRC-32s) and parse them back by walking
    * the offset-chained chunk list in pure codegen. */
  private def qMediaPng(s: SparkSession, dir: String): DataFrame =
    MediaWalk.parsePng(MediaSynth.synthPng(Tables.documents(s, dir)))

  /** JPEG marker-segment walk: variable-length self-counting segment
    * lengths, SOF0 dimensions captured mid-walk, and the entropy span
    * closed by SCANNING for EOI (no length field exists — the structural
    * wrinkle PNG's indexed chain doesn't have). */
  private def qMediaJpeg(s: SparkSession, dir: String): DataFrame =
    MediaWalk.parseJpeg(MediaSynth.synthJpeg(Tables.documents(s, dir)))

  /** EXIF TIFF-IFD parse: the APP1 block is located by the marker walk,
    * then read in the PER-FILE byte order its TIFF header declares (II
    * for even doc ids, MM for odd) — endian-switching reads over IFD0's
    * tag entries, cross-checked against the SOF0 frame header. */
  private def qMediaExif(s: SparkSession, dir: String): DataFrame =
    // barrier between synth and parse: the endian-branched synth fused
    // with the marker walk overflows the 64 KB codegen method limit and
    // drops the stage to interpreted eval (a real pipeline parses stored
    // bytes anyway — same shape as synthPngCorrupt's barrier)
    MediaWalk.parseExif(
      operators.Materialize(MediaSynth.synthJpegExif(Tables.documents(s, dir))))

  /** Nested-container walk: minimal ISO-BMFF (MP4) files — ftyp, moov
    * holding mvhd + trak ▸ tkhd, mdat — parsed by chained bounded folds,
    * one per nesting level, each scoped to the extent its parent level
    * recorded. */
  private def qMediaMp4(s: SparkSession, dir: String): DataFrame =
    MediaWalk.parseMp4(
      operators.Materialize(MediaSynth.synthMp4(Tables.documents(s, dir))))

  /** Corrupt-payload quarantine across BOTH walked formats: deterministic
    * corruptions (bad magic / bad CRC / bad marker prefix / truncated)
    * routed to one reason-tagged, modality-tagged quarantine relation by
    * the integrity gates of the PNG and JPEG walks. */
  private def qMediaQuarantine(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val png = MediaWalk.pngQuarantine(
      MediaWalk.parsePng(MediaSynth.synthPngCorrupt(docs)))
      .select(col("doc_id"), lit("image/png").as("modality"),
        col("n_bytes"), col("n_chunks"), col("reason"))
    val jpg = MediaWalk.jpegQuarantine(
      MediaWalk.parseJpeg(MediaSynth.synthJpegCorrupt(docs)))
      .select(col("doc_id"), lit("image/jpeg").as("modality"),
        col("n_bytes"), col("n_chunks"), col("reason"))
    png.unionByName(jpg)
  }

  private def qPackInterleaved(s: SparkSession, dir: String): DataFrame =
    Multimodal.packInterleaved(Tables.documents(s, dir), chunkSize = 40,
      stride = 30, tokensPerFrame = 64, seqLen = 512, docsPerBucket = 64)

  /** Closed-form aHash pipeline over the patterned BMPs: pixel bytes
    * from the shared generation rule (MediaDecode.patByte mirrored
    * digit-for-digit), gray/block/threshold in exact integer math — the
    * `bits` CTE both image-hash oracles build on. The Spark side REALLY
    * decodes the BMP bytes; this never does. */
  /** Closed-form per-pixel gray of the patterned BMPs — the shared first
    * CTE of every decode-path oracle (aHash, resize, pHash). */
  private def oPxCte: String = {
    def ch(c: Int): String =
      s"(((d.doc_id % 16) * 40 + (x.x * 23 + y.y * 31 + ${c * 11}) % 97 + " +
        "CASE WHEN x.x < (d.doc_id // 16) % 4 AND y.y < 2 THEN 120 ELSE 0 END) % 256)"
    s"""px AS MATERIALIZED (
       |  SELECT d.doc_id, x.x, y.y,
       |    (${ch(0)} + ${ch(1)} + ${ch(2)}) // 3 AS gray
       |  FROM documents d, range(0, 16) x(x), range(0, 16) y(y)
       |)""".stripMargin
  }

  /** pHash oracle chain: closed-form gray + the quantized cosine table
    * (rendered from MediaDecode.DctC — one source of truth) through an
    * exact integer 2-D DCT; median = the 32nd smallest of the 63 non-DC
    * coefficients. Ends in `pbits(doc_id, phash, dct_median)`. */
  private def oPhashChain: String = {
    val ctRows = (0 until 16).flatMap(i => (0 until 16).map(k =>
      s"($i, $k, ${graft.operators.MediaDecode.DctC(i)(k)})"))
      .mkString(", ")
    s"""$oPxCte,
       |ct AS (SELECT * FROM (VALUES $ctRows) t(i, k, c)),
       |dct AS (
       |  SELECT p.doc_id, u.u, v.v,
       |    CAST(sum(p.gray * cx.c * cy.c) AS BIGINT) AS coef
       |  FROM px p
       |  CROSS JOIN range(0, 8) u(u)
       |  CROSS JOIN range(0, 8) v(v)
       |  JOIN ct cx ON cx.i = p.x AND cx.k = u.u
       |  JOIN ct cy ON cy.i = p.y AND cy.k = v.v
       |  WHERE NOT (u.u = 0 AND v.v = 0)
       |  GROUP BY 1, 2, 3
       |),
       |med AS (
       |  SELECT doc_id, coef AS m FROM (
       |    SELECT doc_id, coef,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
       |    FROM dct
       |  ) WHERE rn = 32
       |),
       |pbits AS (
       |  SELECT d.doc_id,
       |    string_agg(CASE WHEN d.coef > m.m THEN '1' ELSE '0' END, ''
       |      ORDER BY d.u, d.v) AS phash,
       |    m.m AS dct_median
       |  FROM dct d JOIN med m USING (doc_id)
       |  GROUP BY d.doc_id, m.m
       |)""".stripMargin
  }

  private def oAhashBits: String = {
    s"""$oPxCte,
       |bm AS MATERIALIZED (
       |  SELECT doc_id, y // 2 AS bj, x // 2 AS bi,
       |    CAST(sum(gray) // 4 AS BIGINT) AS bm
       |  FROM px GROUP BY 1, 2, 3
       |),
       |mn AS (
       |  SELECT doc_id, CAST(sum(bm) // 64 AS BIGINT) AS mean_gray
       |  FROM bm GROUP BY doc_id
       |),
       |bits AS (
       |  SELECT b.doc_id,
       |    string_agg(CASE WHEN b.bm > m.mean_gray THEN '1' ELSE '0' END, ''
       |      ORDER BY b.bj, b.bi) AS ahash,
       |    m.mean_gray
       |  FROM bm b JOIN mn m USING (doc_id)
       |  GROUP BY b.doc_id, m.mean_gray
       |)""".stripMargin
  }

  val entries: Seq[Query] = Seq(
    Query("q_multimodal_meta", qMultimodalMeta, Some(
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256,
        |  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
        |  CAST(octet_length(encode(text)) % 480 AS BIGINT) AS fake_height,
        |  CAST(CAST(concat('0x', substr(hex(encode(text)), 1, 2)) AS INT) % 3 + 1
        |    AS BIGINT) AS channels,
        |  concat_ws(',', 0,
        |    octet_length(encode(text)) // 4,
        |    octet_length(encode(text)) // 2,
        |    (octet_length(encode(text)) * 3) // 4) AS frame_offsets
        |FROM documents""".stripMargin)),
    Query("q_frame_sample", qFrameSample, Some(
      """WITH f AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents
        |), fr AS (
        |  SELECT doc_id, n_bytes, CAST(r.i AS INT) AS frame_idx,
        |    CAST(CASE r.i WHEN 0 THEN 0
        |                  WHEN 1 THEN n_bytes // 4
        |                  WHEN 2 THEN n_bytes // 2
        |                  ELSE (n_bytes * 3) // 4 END AS BIGINT) AS frame_offset
        |  FROM f, range(4) r(i)
        |)
        |SELECT doc_id, frame_idx, frame_offset, n_bytes
        |FROM fr WHERE frame_idx % 2 = 0""".stripMargin)),
    Query("q_media_wav", qMediaWav, Some(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    1 + doc_id % 2 AS channels,
         |    8000 * (1 + doc_id % 5) AS rate
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, channels, rate,
         |    channels * 2 AS block_align,
         |    rate * channels * 2 AS byte_rate,
         |    (doc_id % 100 + 1) * channels * 2 AS data_size
         |  FROM f
         |)
         |SELECT doc_id, TRUE AS is_wav,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(rate AS BIGINT) AS sample_rate,
         |  CAST(byte_rate AS BIGINT) AS byte_rate,
         |  CAST(block_align AS BIGINT) AS block_align,
         |  CAST(16 AS BIGINT) AS bits_per_sample,
         |  CAST(data_size AS BIGINT) AS data_size,
         |  CAST(44 + data_size AS BIGINT) AS n_bytes,
         |  concat('52494646', ${oLe("data_size + 36", 4)},
         |    '57415645', '666D7420', ${oLe("16", 4)}, ${oLe("1", 2)},
         |    ${oLe("channels", 2)}, ${oLe("rate", 4)},
         |    ${oLe("byte_rate", 4)}, ${oLe("block_align", 2)},
         |    ${oLe("16", 2)}, '64617461', ${oLe("data_size", 4)})
         |    AS header_hex,
         |  CAST((data_size * 1000000) // byte_rate AS BIGINT) AS duration_us
         |FROM g""".stripMargin)),
    Query("q_media_bmp", qMediaBmp, Some(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    16 + doc_id % 64 AS width,
         |    16 + doc_id % 48 AS height
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, width, height,
         |    ((width * 3 + 3) // 4) * 4 AS stride
         |  FROM f
         |), h AS (
         |  SELECT doc_id, width, height, stride,
         |    stride * height AS image_size
         |  FROM g
         |)
         |SELECT doc_id, TRUE AS is_bmp,
         |  CAST(image_size + 54 AS BIGINT) AS file_size,
         |  CAST(54 AS BIGINT) AS pixel_offset,
         |  CAST(width AS BIGINT) AS width,
         |  CAST(height AS BIGINT) AS height,
         |  CAST(24 AS BIGINT) AS bpp,
         |  CAST(image_size AS BIGINT) AS image_size,
         |  CAST(image_size + 54 AS BIGINT) AS n_bytes,
         |  concat('424D', ${oLe("image_size + 54", 4)}, '00000000',
         |    ${oLe("54", 4)}, ${oLe("40", 4)}, ${oLe("width", 4)},
         |    ${oLe("height", 4)}, ${oLe("1", 2)}, ${oLe("24", 2)},
         |    ${oLe("0", 4)}, ${oLe("image_size", 4)}, ${oLe("2835", 4)},
         |    ${oLe("2835", 4)}, ${oLe("0", 4)}, ${oLe("0", 4)})
         |    AS header_hex,
         |  CAST(stride AS BIGINT) AS stride
         |FROM h""".stripMargin)),
    // real-codec cross-check, audio: walked fields re-derived from the
    // generation rule; the Spark side REALLY decodes PCM frames via
    // javax.sound and folds exact sample stats (constant 0x5A body ⇒
    // every 16-bit LE sample is 23130)
    Query("q_media_decode_wav", qMediaDecodeWav, Some(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    1 + doc_id % 2 AS channels,
         |    8000 * (1 + doc_id % 5) AS rate
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, channels, rate,
         |    (doc_id % 100 + 1) * channels * 2 AS data_size
         |  FROM f
         |)
         |SELECT doc_id,
         |  CAST(channels AS BIGINT) AS channels,
         |  CAST(rate AS BIGINT) AS sample_rate,
         |  CAST(data_size AS BIGINT) AS data_size,
         |  CAST(data_size // 2 AS BIGINT) AS n_samples,
         |  TRUE AS decode_agrees
         |FROM g""".stripMargin)),
    // audio features over the patterned PCM: the closed-form sample rule
    // s(d,k) = ((d%16)*371 + k*97) % 2048 - 1024 re-derived per sample;
    // the Spark side REALLY decodes the WAV via javax.sound and folds the
    // same exact-integer stats (sum of squares is exact below 2^53, so
    // both engines take the same IEEE sqrt of the same value)
    Query("q_audio_features", qAudioFeatures, Some(
      s"""WITH f AS (
         |  SELECT doc_id, (doc_id % 100 + 1) * (1 + doc_id % 2) AS n
         |  FROM documents
         |), v AS (
         |  SELECT doc_id, k,
         |    ((doc_id % 16) * 371 + k * 97) % 2048 - 1024 AS s
         |  FROM (SELECT doc_id, unnest(range(0, n)) AS k FROM f)
         |), w AS (
         |  SELECT doc_id, k, s,
         |    lag(s) OVER (PARTITION BY doc_id ORDER BY k) AS pv
         |  FROM v
         |)
         |SELECT doc_id, TRUE AS decoded_ok,
         |  CAST(count(*) AS BIGINT) AS n_samples,
         |  CAST(max(abs(s)) AS BIGINT) AS peak,
         |  CAST(coalesce(sum(CASE WHEN pv * s < 0 THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_zero_cross,
         |  CAST(floor(sqrt(sum(CAST(s AS DOUBLE) * s) / count(*)) * 10000
         |    + 0.5) AS BIGINT) AS rms_q
         |FROM w GROUP BY doc_id""".stripMargin)),
    // real-codec cross-check: walked fields re-derived from the shared
    // generation rule; decode_agrees is the in-band error contract — the
    // Spark side REALLY pixel-decodes via javax.imageio and compares
    Query("q_media_decode", qMediaDecode, Some(
      s"""WITH f AS (
         |  SELECT doc_id,
         |    16 + doc_id % 64 AS width,
         |    16 + doc_id % 48 AS height
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, width, height,
         |    ((width * 3 + 3) // 4) * 4 * height AS image_size
         |  FROM f
         |)
         |SELECT doc_id,
         |  CAST(width AS BIGINT) AS width,
         |  CAST(height AS BIGINT) AS height,
         |  CAST(24 AS BIGINT) AS bpp,
         |  CAST(image_size + 54 AS BIGINT) AS n_bytes,
         |  TRUE AS decode_agrees
         |FROM g""".stripMargin)),
    // aHash oracle: the pattern formula rendered in closed form — the
    // Spark side REALLY decodes the BMP bytes with javax.imageio, so a
    // hash match pins the whole decode→block-average→threshold path
    Query("q_image_ahash", qImageAhash, Some(
      (s"WITH $oAhashBits\n" +
        "SELECT doc_id, TRUE AS decoded_ok, ahash, mean_gray FROM bits"))),
    // pHash oracle: closed-form gray + the SAME quantized cosine table
    // (rendered from MediaDecode.DctC — one source of truth) through an
    // exact integer 2-D DCT; median = the 32nd smallest of the 63
    // non-DC coefficients, no interpolation anywhere
    Query("q_image_phash", qImagePhash, Some(
      s"""WITH $oPhashChain
         |SELECT doc_id, TRUE AS decoded_ok, phash, dct_median
         |FROM pbits""".stripMargin)),
    // near-dup classes over the closed-form pHashes with the identical
    // 3x21-bit banding + exact-Hamming verify the Spark plan runs
    Query("q_image_phash_neardup", qImagePhashNeardup, Some(
      s"""WITH $oPhashChain,
         |ph AS (
         |  SELECT phash, CAST(count(*) AS BIGINT) AS n_members
         |  FROM pbits GROUP BY phash
         |),
         |pbands AS (
         |  SELECT phash, n_members, b.b AS band,
         |    substr(phash, CAST(b.b * 21 + 1 AS INTEGER), 21) AS sig
         |  FROM ph, range(0, 3) b(b)
         |),
         |pcand AS (
         |  SELECT DISTINCT a.phash AS hash_a, a.n_members AS n_a,
         |    c.phash AS hash_b, c.n_members AS n_b
         |  FROM pbands a JOIN pbands c
         |    ON a.band = c.band AND a.sig = c.sig AND a.phash < c.phash
         |),
         |psc AS (
         |  SELECT hash_a, hash_b,
         |    CAST(list_reduce(list_transform(range(1, 64),
         |      i -> CASE WHEN substr(hash_a, CAST(i AS INTEGER), 1)
         |                  <> substr(hash_b, CAST(i AS INTEGER), 1)
         |                THEN 1 ELSE 0 END), (x, y) -> x + y) AS BIGINT) AS hamming,
         |    n_a, n_b
         |  FROM pcand
         |)
         |SELECT hash_a, hash_b, hamming, n_a, n_b FROM psc
         |WHERE hamming <= $PhashMaxHamming""".stripMargin)),
    // same banded pairs → recursive components over the DISTINCT-HASH
    // graph (the q_simhash_classes reach idiom) → one row per duplicate
    // class; hashes with no near-dup neighbor label themselves, so
    // exact-dup-only classes surface too
    Query("q_image_phash_classes", qImagePhashClasses, Some(
      s"""WITH RECURSIVE $oPhashChain,
         |ph AS (
         |  SELECT phash, CAST(count(*) AS BIGINT) AS n_members
         |  FROM pbits GROUP BY phash
         |),
         |pbands AS (
         |  SELECT phash, n_members, b.b AS band,
         |    substr(phash, CAST(b.b * 21 + 1 AS INTEGER), 21) AS sig
         |  FROM ph, range(0, 3) b(b)
         |),
         |pcand AS (
         |  SELECT DISTINCT a.phash AS hash_a, c.phash AS hash_b
         |  FROM pbands a JOIN pbands c
         |    ON a.band = c.band AND a.sig = c.sig AND a.phash < c.phash
         |),
         |prs AS (
         |  SELECT hash_a, hash_b FROM pcand
         |  WHERE CAST(list_reduce(list_transform(range(1, 64),
         |    i -> CASE WHEN substr(hash_a, CAST(i AS INTEGER), 1)
         |                <> substr(hash_b, CAST(i AS INTEGER), 1)
         |              THEN 1 ELSE 0 END), (x, y) -> x + y) AS BIGINT)
         |    <= $PhashMaxHamming
         |),
         |und AS (
         |  SELECT hash_a AS src, hash_b AS dst FROM prs
         |  UNION ALL SELECT hash_b, hash_a FROM prs
         |),
         |reach AS (
         |  SELECT DISTINCT src AS d, src AS r FROM und
         |  UNION
         |  SELECT reach.d, und.dst FROM reach JOIN und ON und.src = reach.r
         |),
         |cc AS (SELECT d AS h, min(r) AS class_id FROM reach GROUP BY d),
         |lab AS (
         |  SELECT coalesce(cc.class_id, ph.phash) AS class_id, ph.n_members
         |  FROM ph LEFT JOIN cc ON cc.h = ph.phash
         |)
         |SELECT class_id, CAST(count(*) AS BIGINT) AS n_hashes,
         |  CAST(sum(n_members) AS BIGINT) AS n_members
         |FROM lab GROUP BY class_id
         |HAVING CAST(sum(n_members) AS BIGINT) >= 2""".stripMargin)),
    // resize oracle: the bm CTE IS the closed-form 2x box average; the
    // digest compares every resized pixel (row-major), so one wrong
    // pixel anywhere in the real decode→resample path fails the hash
    Query("q_image_resize", qImageResize, Some(
      (s"WITH $oAhashBits\n" +
        """SELECT b.doc_id, TRUE AS decoded_ok,
          |  CAST(8 AS INTEGER) AS out_w, CAST(8 AS INTEGER) AS out_h,
          |  md5(string_agg(CAST(b.bm AS VARCHAR), ',' ORDER BY b.bj, b.bi))
          |    AS px_digest,
          |  m.mean_gray
          |FROM bm b JOIN mn m USING (doc_id)
          |GROUP BY b.doc_id, m.mean_gray""".stripMargin))),
    // REAL PNG encode→decode round trip: lossless, so the decoded-pixel
    // aHash must equal the same closed-form pattern oracle as the BMP
    // path — one wrong byte in either direction of the codec fails it
    Query("q_media_decode_png", qMediaDecodePng, Some(
      (s"WITH $oAhashBits\n" +
        "SELECT doc_id, TRUE AS decoded_ok, ahash, mean_gray FROM bits"))),
    // REAL JPEG round trip: lossy, so the contract is geometry + the
    // MAE-within-16-gray-levels boolean, all pinned as literals
    Query("q_media_decode_jpeg", qMediaDecodeJpeg, Some(
      """SELECT doc_id, TRUE AS decoded_ok,
        |  CAST(16 AS BIGINT) AS dec_width, CAST(16 AS BIGINT) AS dec_height,
        |  TRUE AS mae_ok
        |FROM documents""".stripMargin)),
    // near-dup classes over the closed-form hashes with the identical
    // 4x16-bit banding + exact-Hamming verify the Spark plan runs
    Query("q_image_neardup", qImageNeardup, Some(s"""WITH $oAhashBits,
         |h AS (
         |  SELECT ahash, CAST(count(*) AS BIGINT) AS n_members
         |  FROM bits GROUP BY ahash
         |),
         |bands AS (
         |  SELECT ahash, n_members, b.b AS band,
         |    substr(ahash, CAST(b.b * 16 + 1 AS INTEGER), 16) AS sig
         |  FROM h, range(0, 4) b(b)
         |),
         |cand AS (
         |  SELECT DISTINCT a.ahash AS hash_a, a.n_members AS n_a,
         |    c.ahash AS hash_b, c.n_members AS n_b
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.sig = c.sig AND a.ahash < c.ahash
         |),
         |sc AS (
         |  SELECT hash_a, hash_b,
         |    CAST(list_reduce(list_transform(range(1, 65),
         |      i -> CASE WHEN substr(hash_a, CAST(i AS INTEGER), 1)
         |                  <> substr(hash_b, CAST(i AS INTEGER), 1)
         |                THEN 1 ELSE 0 END), (x, y) -> x + y) AS BIGINT) AS hamming,
         |    n_a, n_b
         |  FROM cand
         |)
         |SELECT hash_a, hash_b, hamming, n_a, n_b FROM sc
         |WHERE hamming <= $AhashMaxHamming""".stripMargin)),
    // PNG walk oracle: expectations re-derived from the shared generation
    // rule (DuckDB has no crc32, so crc_ok/iend_ok are asserted from the
    // rule — the in-band error-contract pattern of the sketch queries; the
    // Spark side REALLY recomputes each CRC from the bytes)
    Query("q_media_png", qMediaPng, Some(
      """WITH t AS (
        |  SELECT d.doc_id,
        |    CAST(sum(12 + 9 + (d.doc_id + j.i) % 21) AS BIGINT) AS text_bytes,
        |    CAST(sum(9 + (d.doc_id + j.i) % 21) AS BIGINT) AS text_len,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents d, range(1, 5) j(i)
        |  WHERE j.i <= 1 + d.doc_id % 4
        |  GROUP BY d.doc_id
        |)
        |SELECT doc_id, TRUE AS is_png,
        |  CAST(1 + doc_id % 128 AS BIGINT) AS width,
        |  CAST(1 + doc_id % 96 AS BIGINT) AS height,
        |  CAST(8 AS BIGINT) AS bit_depth,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 2 ELSE 6 END
        |    AS BIGINT) AS color_type,
        |  CAST(doc_id % 2 AS BIGINT) AS interlace,
        |  CAST(3 + k AS BIGINT) AS n_chunks,
        |  concat('IHDR', repeat(',tEXt', CAST(k AS INT)), ',IDAT,IEND')
        |    AS chunk_types,
        |  CAST(13 + text_len + 1 + doc_id % 50 AS BIGINT) AS total_data_len,
        |  TRUE AS crc_ok, TRUE AS iend_ok,
        |  CAST(8 + 25 + text_bytes + 12 + 1 + doc_id % 50 + 12 AS BIGINT)
        |    AS n_bytes
        |FROM t""".stripMargin)),
    // JPEG walk oracle: every field re-derived from the shared generation
    // rule (marker chain + SOF0 + scanned entropy span), like q_media_png
    Query("q_media_jpeg", qMediaJpeg, Some(
      """WITH a AS (
        |  SELECT d.doc_id,
        |    CAST(sum(11 + (d.doc_id + j.i) % 19) AS BIGINT) AS app_bytes,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents d, range(1, 4) j(i)
        |  WHERE j.i <= 1 + d.doc_id % 3
        |  GROUP BY d.doc_id
        |), f AS (
        |  SELECT doc_id, app_bytes, k,
        |    1 + (doc_id % 2) * 2 AS ncomp,
        |    5 + doc_id % 40 AS elen
        |  FROM a
        |)
        |SELECT doc_id, TRUE AS is_jpeg,
        |  CAST(16 + doc_id % 255 AS BIGINT) AS width,
        |  CAST(16 + doc_id % 185 AS BIGINT) AS height,
        |  CAST(ncomp AS BIGINT) AS n_components,
        |  CAST(4 + k AS BIGINT) AS n_segments,
        |  concat('E0', CASE CAST(k AS INT) WHEN 1 THEN ',E1'
        |    WHEN 2 THEN ',E1,E2' ELSE ',E1,E2,E3' END, ',DB,C0,DA')
        |    AS marker_types,
        |  TRUE AS marker_ok,
        |  CAST(elen AS BIGINT) AS entropy_len,
        |  TRUE AS eoi_ok,
        |  CAST(109 + app_bytes + 5 * ncomp + elen AS BIGINT) AS n_bytes
        |FROM f""".stripMargin)),
    // EXIF oracle: byte order, IFD0 tag values, and the SOF0 cross-check
    // re-derived from the shared generation rule; the Spark side REALLY
    // reads them back endian-switched from the bytes
    // n_bytes: the r7 formula + 54 (TIFF grew 50 → 104 bytes: a 4th IFD0
    // entry carrying the 0x8769 ExifIFD pointer, plus the 42-byte sub-IFD)
    Query("q_media_exif", qMediaExif, Some(
      """SELECT doc_id, TRUE AS has_exif,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(4 AS BIGINT) AS n_tags,
        |  CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
        |  CAST(16 + doc_id % 255 AS BIGINT) AS exif_width,
        |  CAST(16 + doc_id % 185 AS BIGINT) AS exif_height,
        |  TRUE AS dims_match,
        |  TRUE AS has_sub_ifd,
        |  TRUE AS sub_ok,
        |  CAST(3 AS BIGINT) AS n_sub_tags,
        |  CAST(100 + (doc_id % 32) * 25 AS BIGINT) AS iso,
        |  CAST(16 + doc_id % 255 AS BIGINT) AS pixel_width,
        |  CAST(16 + doc_id % 185 AS BIGINT) AS pixel_height,
        |  TRUE AS pixel_dims_match,
        |  CAST(205 + 5 * (1 + (doc_id % 2) * 2) + 5 + doc_id % 40 AS BIGINT)
        |    AS n_bytes
        |FROM documents""".stripMargin)),
    // MP4 oracle: every parsed field re-derived from the shared
    // generation rule; the Spark side walks the real nested box tree
    Query("q_media_mp4", qMediaMp4, Some(
      """SELECT doc_id, TRUE AS is_mp4, 'isom' AS major_brand,
        |  CAST(3 AS BIGINT) AS n_top_boxes, TRUE AS sizes_ok,
        |  CAST(1000 AS BIGINT) AS timescale,
        |  CAST(1000 + doc_id % 60000 AS BIGINT) AS duration_ms,
        |  CAST(1 + doc_id % 30 AS BIGINT) AS track_id,
        |  CAST(160 + doc_id % 1280 AS BIGINT) AS width,
        |  CAST(120 + doc_id % 720 AS BIGINT) AS height,
        |  CAST(10 + doc_id % 80 AS BIGINT) AS mdat_len,
        |  CAST(244 + 10 + doc_id % 80 AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin)),
    // corruption rule precedence (bad_crc > bad_magic > truncated for PNG,
    // bad_marker > bad_magic > truncated for JPEG) is the SYNTH-side
    // application order; the parse-side reason precedence maps 1:1 because
    // each corruption trips exactly its own gate
    Query("q_media_quarantine", qMediaQuarantine, Some(
      """WITH t AS (
        |  SELECT d.doc_id,
        |    CAST(sum(12 + 9 + (d.doc_id + j.i) % 21) AS BIGINT) AS text_bytes,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents d, range(1, 5) j(i)
        |  WHERE j.i <= 1 + d.doc_id % 4
        |  GROUP BY d.doc_id
        |), c AS (
        |  SELECT doc_id, k,
        |    8 + 25 + text_bytes + 12 + 1 + doc_id % 50 + 12 AS nb,
        |    CASE WHEN doc_id % 7 = 0 THEN 'bad_crc'
        |         WHEN doc_id % 11 = 0 THEN 'bad_magic'
        |         WHEN doc_id % 13 = 0 THEN 'truncated' END AS reason
        |  FROM t
        |), ja AS (
        |  SELECT d.doc_id,
        |    CAST(sum(11 + (d.doc_id + j.i) % 19) AS BIGINT) AS app_bytes,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM documents d, range(1, 4) j(i)
        |  WHERE j.i <= 1 + d.doc_id % 3
        |  GROUP BY d.doc_id
        |), jc AS (
        |  SELECT doc_id, k,
        |    109 + app_bytes + 5 * (1 + (doc_id % 2) * 2) + 5 + doc_id % 40 AS nb,
        |    CASE WHEN doc_id % 7 = 0 THEN 'bad_marker'
        |         WHEN doc_id % 11 = 0 THEN 'bad_magic'
        |         WHEN doc_id % 13 = 0 THEN 'truncated' END AS reason
        |  FROM ja
        |)
        |SELECT doc_id, 'image/png' AS modality,
        |  CAST(CASE WHEN reason = 'truncated' THEN nb - 12 ELSE nb END
        |    AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN reason = 'bad_magic' THEN 0
        |            WHEN reason = 'truncated' THEN 2 + k
        |            ELSE 3 + k END AS BIGINT) AS n_chunks,
        |  reason
        |FROM c WHERE reason IS NOT NULL
        |UNION ALL
        |SELECT doc_id, 'image/jpeg' AS modality,
        |  CAST(CASE WHEN reason = 'truncated' THEN nb - 2 ELSE nb END
        |    AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN reason = 'bad_magic' THEN 0
        |            WHEN reason = 'bad_marker' THEN 1 + k
        |            ELSE 4 + k END AS BIGINT) AS n_chunks,
        |  reason
        |FROM jc WHERE reason IS NOT NULL""".stripMargin)),
    Query("q_media_stats", qMediaStats, Some(
      """WITH w AS (
        |  SELECT doc_id,
        |    (doc_id % 100 + 1) * (1 + doc_id % 2) * 2 AS data_size,
        |    8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * 2 AS byte_rate
        |  FROM documents WHERE doc_id % 2 = 0
        |), b AS (
        |  SELECT doc_id, 16 + doc_id % 64 AS width, 16 + doc_id % 48 AS height,
        |    (((16 + doc_id % 64) * 3 + 3) // 4) * 4 * (16 + doc_id % 48)
        |      AS image_size
        |  FROM documents WHERE doc_id % 2 = 1
        |), u AS (
        |  SELECT 'audio/wav' AS modality, 44 + data_size AS n_bytes,
        |    (data_size * 1000000) // byte_rate AS units FROM w
        |  UNION ALL
        |  SELECT 'image/bmp', 54 + image_size, width * height FROM b
        |)
        |SELECT modality, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(sum(units) AS BIGINT) AS total_units,
        |  CAST(sum(units) // count(*) AS BIGINT) AS avg_unit
        |FROM u GROUP BY modality""".stripMargin)),
    Query("q_pack_interleaved", qPackInterleaved, Some(
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (
        |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 30)) AS start
        |  FROM tk
        |), ch AS (
        |  SELECT doc_id, CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
        |    toks[start:least(start + 39, len(toks))] AS ctoks
        |  FROM st
        |), items AS (
        |  SELECT doc_id, chunk_id * 2 AS chunk_id, 'text' AS kind,
        |    CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens
        |  FROM ch
        |  UNION ALL
        |  SELECT doc_id, CAST(fi * 2 + 1 AS BIGINT), 'frame', CAST(64 AS BIGINT)
        |  FROM (SELECT doc_id, unnest([0, 2]) AS fi FROM documents)
        |), o AS (
        |  SELECT doc_id, chunk_id, kind, n_chunk_tokens,
        |    CAST(coalesce(sum(n_chunk_tokens) OVER (
        |      ORDER BY doc_id, chunk_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS global_offset
        |  FROM items
        |)
        |SELECT *,
        |  global_offset // 512 AS seq_id,
        |  global_offset % 512 AS seq_offset,
        |  (global_offset % 512) + n_chunk_tokens > 512 AS spans_seq
        |FROM o""".stripMargin)),
  )
}
