package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata alongside.
  *
  * The Spark-side plumbing is real — binary column, metadata schema,
  * partition-wise typed decode via `mapPartitions` (the Scala analog of a
  * batch `mapInPandas` decode: opaque per-record compute that runs inside
  * each partition, embarrassingly parallel, no shuffle) — while the media
  * decode itself is a clearly-marked STUB (`FakeDecoder`): the real codec
  * libraries are not in this container, so it derives deterministic fake
  * width/height/frame values from the payload size. Swap `FakeDecoder.decode`
  * for a real codec and nothing else changes.
  *
  * The test corpus has no binary table, so `withBlob` materialises the
  * documents' text as UTF-8 bytes — the plumbing (schema, batching,
  * partitioning) is what is under test, not the codec.
  */
object Mm {

  case class MmBlob(doc_id: Long, blob: Array[Byte])
  case class MmMeta(doc_id: Long, blob_bytes: Long, blob_md5: String,
                    n_chunks: Long, decoded_w: Long, decoded_h: Long, frames: Long)

  /** STUB decoder: deterministic fake dimensions from payload size. A real
    * deployment replaces this object with an actual image/audio decoder.
    */
  object FakeDecoder {
    def decode(blob: Array[Byte]): (Long, Long, Long) = {
      val n = blob.length.toLong
      (64 + n % 512, 64 + (n * 7) % 512, frames(n))
    }
    /** Fake frame count — the SINGLE source for both the JVM decode path
      * and the SQL expression frameSamples uses (keep in lockstep). */
    def frames(nBytes: Long): Long = 1 + nBytes % 8
    val framesSql: String = "1 + octet_length(blob) % 8"
  }

  /** Attach the opaque binary payload column (here: UTF-8 of `textCol`). */
  def withBlob(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"),
      col(textCol).cast("binary").as("blob"))

  /** Partition-wise typed decode: one decoder instance per partition (the
    * expensive-init pattern for real codecs), rows streamed through it.
    * chunkBytes models the storage chunking of large payloads.
    */
  def decodeMeta(blobs: DataFrame, chunkBytes: Int): Dataset[MmMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.as[MmBlob].mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        md.reset()
        val hex = md.digest(r.blob).map("%02x".format(_)).mkString
        val bytes = r.blob.length.toLong
        val (w, h, f) = FakeDecoder.decode(r.blob)
        MmMeta(r.doc_id, bytes, hex, (bytes + chunkBytes - 1) / chunkBytes, w, h, f)
      }
    }
  }

  /** Expression-only metadata — identical output to [[decodeMeta]]:
    * everything the STUB decoder computes (md5, size arithmetic) is a
    * built-in expression, so the simple case stays in whole-stage codegen
    * with zero serialization in/out of typed rows. [[decodeMeta]] remains
    * the pattern demo for REAL codecs (per-partition expensive init,
    * opaque native calls); MmSpec asserts the two produce identical rows.
    */
  def metaExpr(blobs: DataFrame, chunkBytes: Int): DataFrame =
    // arithmetic on BIGINT throughout: octet_length returns INT and e.g.
    // a 400 MB blob * 7 overflows Int (ANSI error / silent wrap),
    // diverging from decodeMeta's Long math
    blobs.select(col("doc_id"),
      expr("octet_length(blob)").cast("bigint").as("blob_bytes"),
      md5(col("blob")).as("blob_md5"),
      expr(s"(CAST(octet_length(blob) AS BIGINT) + ${chunkBytes - 1}) div $chunkBytes")
        .as("n_chunks"),
      expr("64 + CAST(octet_length(blob) AS BIGINT) % 512").as("decoded_w"),
      expr("64 + (CAST(octet_length(blob) AS BIGINT) * 7) % 512").as("decoded_h"),
      expr(FakeDecoder.framesSql).cast("bigint").as("frames"))

  /** Chunk table: one row per fixed-size slice of each payload — the
    * storage layout for large media (each chunk separately addressable /
    * hashable). Pure expressions: sequence + binary substring, no UDF.
    */
  def chunkTable(blobs: DataFrame, chunkBytes: Int): DataFrame =
    blobs
      // empty-blob guard: sequence(0, -1) would DESCEND and emit bogus
      // chunk indices [0, -1] where the oracle's range(0, 0) emits none
      .withColumn("ci", explode(when(expr("octet_length(blob)") > 0,
        expr(s"sequence(0, CAST((octet_length(blob) + ${chunkBytes - 1}) / $chunkBytes AS INT) - 1)"))
        .otherwise(array().cast("array<int>"))))
      .select(col("doc_id"), col("ci").cast("bigint").as("ci"),
        expr(s"octet_length(substring(blob, ci * $chunkBytes + 1, $chunkBytes))")
          .cast("bigint").as("chunk_bytes"),
        expr(s"md5(substring(blob, ci * $chunkBytes + 1, $chunkBytes))").as("chunk_md5"))

  /** Frame sampling: for a payload the (stubbed) decoder reports F frames
    * for, sample one fixed-width slice per frame at evenly-spaced offsets
    * — the Spark-side shape of video frame extraction (the real codec
    * would replace the slice with a decoded frame tensor). Explode +
    * substring: embarrassingly parallel, no shuffle.
    */
  def frameSamples(blobs: DataFrame, frameBytes: Int): DataFrame =
    blobs
      // bigint: fi * bytes overflows Int for blobs over ~256 MB
      .withColumn("bytes", expr("CAST(octet_length(blob) AS BIGINT)"))
      .withColumn("frames", expr(FakeDecoder.framesSql))
      .withColumn("fi", explode(expr(s"sequence(0, CAST(${FakeDecoder.framesSql} AS INT) - 1)")))
      // explicit floor: CAST(double AS INT) truncates in Spark but ROUNDS
      // in DuckDB — floor() first is the portable spelling
      .select(col("doc_id"), col("fi").cast("bigint").as("fi"),
        expr(s"CAST(floor((fi * bytes) / frames) AS INT)").cast("bigint").as("frame_off"),
        expr(s"md5(substring(blob, CAST(floor((fi * bytes) / frames) AS INT) + 1, $frameBytes))").as("frame_md5"))

  /** Deterministic synthetic media payloads with REAL container headers:
    * doc_id % 3 picks PNG (signature + IHDR, dims big-endian at the spec
    * offsets), JPEG (SOI, then APP0 and COM segments whose lengths VARY
    * with doc_id — so a parser must actually walk the segment chain — then
    * a baseline SOF0 with the dims), or the raw text bytes (no container).
    * Dims derive from doc_id, giving [[decodeImageMeta]] a ground truth an
    * oracle can state independently of the parse.
    */
  def synthesizeMedia(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    val w = (id % 900 + 100).cast("int")
    val h = ((id * 3) % 900 + 100).cast("int")
    // payload realism only needs SOME body bytes after the header — cap it
    // so the synthetic-construction cost doesn't dwarf the parse under test
    val hexText = hex(substring(col(textCol), 1, 256).cast("binary"))
    val pngHex = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"), // sig + IHDR len + "IHDR"
      lpad(hex(w), 8, "0"), lpad(hex(h), 8, "0"),
      lit("0806000000"), // bit depth 8, color type 6 (RGBA), std flags
      hexText)
    val zeros = lit("0" * 16)
    val appPad = (id % 6 + 1).cast("int") // APP0 payload varies 1..6 bytes
    val app0 = concat(lit("FFE0"), lpad(hex(appPad + 2), 4, "0"),
      substr(zeros, lit(1), appPad * 2))
    val comPad = (id % 4 + 1).cast("int") // COM payload varies 1..4 bytes
    val com = concat(lit("FFFE"), lpad(hex(comPad + 2), 4, "0"),
      substr(zeros, lit(1), comPad * 2))
    val sof = concat(lit("FFC0" + "0011" + "08"), // SOF0, len 17, precision 8
      lpad(hex(h), 4, "0"), lpad(hex(w), 4, "0"),
      lit("03" + "011100" + "021101" + "031101")) // 3 components
    val jpegHex = concat(lit("FFD8"), app0, com, sof, hexText)
    df.select(id.cast("bigint").as("doc_id"),
      unhex(when(id % 3 === 0, pngHex)
        .when(id % 3 === 1, jpegHex)
        .otherwise(hexText)).as("blob"))
  }

  /** Image header decode from the actual container structure — no codec
    * libraries, pure codegen expressions over the hex image of the first
    * `headBytes` payload bytes:
    *
    *  - PNG: the 8-byte signature, then IHDR (REQUIRED first chunk per the
    *    spec, so its offset is fixed): width/height are the two big-endian
    *    u32s at bytes 17-24.
    *  - JPEG: SOI (FFD8), then a WALK of the segment chain — each segment
    *    is FF-marker + u16 length (inclusive of itself) — until the first
    *    baseline/extended/progressive SOF marker (FFC0/C1/C2), whose
    *    payload is [len][precision][height u16][width u16]. Bounded at
    *    `maxSegs` hops and `headBytes` bytes: enough for JFIF headers;
    *    EXIF blobs with kilobytes of APPn data need the bounds raised —
    *    a documented constant, not a structural limit.
    *  - anything else: format 'unknown', null dims.
    */
  def decodeImageMeta(blobs: DataFrame, maxSegs: Int = 6,
                      headBytes: Int = 512): DataFrame = {
    // Each walk step rides as a NAMED COLUMN, not a nested expression: a
    // position expression references the previous one twice (base + length
    // read), so inlining would double the tree per hop — 2^maxSegs copies
    // of the substr/conv chain per row (measured 1.3s at sf0.1). Multi-use
    // non-trivial aliases survive CollapseProject, so every step is
    // evaluated exactly once per row.
    val hx = col("_hx")
    def seglen(p: Column): Column = conv(substr(hx, p + 4, lit(4)), 16, 10).cast("long")
    def sofAt(p: Column): Column = substr(hx, p, lit(4)).isin("FFC0", "FFC1", "FFC2")
    // segment-start hex positions: p0 = 5 (after SOI), then
    // p += 2*(2 + seglen) — marker plus the length-inclusive payload
    val walked = (1 until maxSegs).foldLeft(
      blobs.withColumn("_hx", hex(substring(col("blob"), 1, headBytes)))
        .withColumn("_p0", lit(5L))) { (df, i) =>
      df.withColumn(s"_p$i",
        col(s"_p${i - 1}") + 4L + seglen(col(s"_p${i - 1}")) * 2L)
    }
    val sofPos = coalesce(
      (0 until maxSegs).map(i => when(sofAt(col(s"_p$i")), col(s"_p$i"))): _*)
    val staged = walked.withColumn("_sof", sofPos)
    val isPng = substring(hx, 1, 16) === "89504E470D0A1A0A" &&
      substring(hx, 25, 8) === "49484452"
    val pw = conv(substring(hx, 33, 8), 16, 10).cast("long")
    val ph = conv(substring(hx, 41, 8), 16, 10).cast("long")
    val isJpeg = substring(hx, 1, 4) === "FFD8"
    val jh = conv(substr(hx, col("_sof") + 10L, lit(4)), 16, 10).cast("long")
    val jw = conv(substr(hx, col("_sof") + 14L, lit(4)), 16, 10).cast("long")
    val fmt = when(isPng, lit("png"))
      .when(isJpeg && col("_sof").isNotNull, lit("jpeg"))
      .otherwise(lit("unknown"))
    staged.select(col("doc_id"), fmt.as("format"),
      when(isPng, pw).when(isJpeg, jw).as("width"),
      when(isPng, ph).when(isJpeg, jh).as("height"))
  }

  /** Deterministic synthetic GIF headers — signature + version + the
    * Logical Screen Descriptor at its fixed spec offsets: u16le dims,
    * the packed byte (global-color-table flag + size exponent),
    * background index, aspect. Thirds: 89a with a GCT of
    * 2^(id%8+1) colors, 87a without one, raw text (no container).
    * Dims from the house doc_id formulas. */
  def synthesizeGif(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def le16h(v: Column): Column = {
      val be = lpad(hex(v), 4, "0")
      concat(substring(be, 3, 2), substring(be, 1, 2))
    }
    val w = (id % 900 + 100).cast("int")
    val h = ((id * 3) % 900 + 100).cast("int")
    val hexText = hex(substring(col(textCol), 1, 64).cast("binary"))
    val packed89 = lpad(hex(pmod(id, lit(8)) + 128), 2, "0") // GCT flag + size
    val gif89 = concat(lit("474946383961"), le16h(w), le16h(h), packed89,
      lit("0000"), hexText)
    val gif87 = concat(lit("474946383761"), le16h(w), le16h(h), lit("70"),
      lit("0000"), hexText) // color resolution 7, no GCT
    df.select(id.cast("bigint").as("doc_id"),
      unhex(when(id % 3 === 0, gif89)
        .when(id % 3 === 1, gif87)
        .otherwise(hexText)).as("blob"))
  }

  /** GIF header decode — signature/version gate then the Logical Screen
    * Descriptor's fixed offsets (the one container of the decode family
    * with NO walk: the LSD is mandatory and first per the spec): u16le
    * dims at bytes 6-9, the packed byte's GCT flag + size exponent at
    * byte 10 (colors = 2^(N+1)). 13-byte hex window, scan-fused codegen
    * projection, zero shuffle.
    */
  def decodeGifMeta(blobs: DataFrame): DataFrame = {
    val hx = hex(substring(col("blob"), 1, 13))
    def le16(pos: Int): Column =
      conv(concat(substring(hx, pos + 2, 2), substring(hx, pos, 2)), 16, 10).cast("long")
    val ver = substring(hx, 9, 4)
    val isGif = substring(hx, 1, 8) === "47494638" && ver.isin("3761", "3961")
    val packed = conv(substring(hx, 21, 2), 16, 10).cast("long")
    // 2^(N+1), N ∈ 0..7 — double pow is exact far beyond 2^8
    val gct = when(packed >= 128,
      pow(lit(2.0), (pmod(packed, lit(8L)) + 1).cast("double")).cast("long"))
    blobs.select(col("doc_id"),
      when(isGif, lit("gif")).otherwise(lit("unknown")).as("format"),
      when(isGif, when(ver === "3761", lit("87a")).otherwise(lit("89a"))).as("version"),
      when(isGif, le16(13)).as("width"),
      when(isGif, le16(17)).as("height"),
      when(isGif, gct).as("gct_colors"))
  }

  /** Deterministic synthetic TIFF/BMP payloads with REAL header
    * structure — the last two crawl image containers of the decode
    * family. doc_id % 4 picks: (0) little-endian TIFF `II*\0` with a
    * three-entry IFD0 — ImageWidth as an inline SHORT, ImageLength as a
    * LONG, plus a Compression entry the reader must SKIP, so the walk
    * and both value types are exercised; (1) the same IFD big-endian
    * `MM\0*`; (2) a BITMAPINFOHEADER BMP, height sign alternating by
    * doc_id % 8 (negative = top-down row order, the in-the-wild
    * variant); (3) raw text (no container). Dims from the house
    * formulas so the oracle states them from doc_id alone.
    */
  def synthesizeTiffBmp(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def le16h(v: Column): Column = {
      val be = lpad(hex(v), 4, "0")
      concat(substring(be, 3, 2), substring(be, 1, 2))
    }
    def le32h(v: Column): Column = {
      val be = lpad(hex(v.bitwiseAND(lit(0xffffffffL))), 8, "0")
      concat(substring(be, 7, 2), substring(be, 5, 2),
        substring(be, 3, 2), substring(be, 1, 2))
    }
    val w = (id % 900 + 100).cast("long")
    val h = ((id * 3) % 900 + 100).cast("long")
    val hexText = hex(substring(col(textCol), 1, 64).cast("binary"))
    // entries in ascending tag order per the TIFF spec
    val tiffLe = concat(lit("49492A00" + "08000000" + "0300"),
      lit("0001" + "0300" + "01000000"), le16h(w), lit("0000"),   // 0x0100 SHORT
      lit("0101" + "0400" + "01000000"), le32h(h),                 // 0x0101 LONG
      lit("0301" + "0300" + "01000000" + "01000000"),              // 0x0103 skip
      lit("00000000"), hexText)
    val tiffBe = concat(lit("4D4D002A" + "00000008" + "0003"),
      lit("0100" + "0003" + "00000001"), lpad(hex(w), 4, "0"), lit("0000"),
      lit("0101" + "0004" + "00000001"), lpad(hex(h), 8, "0"),
      lit("0103" + "0003" + "00000001" + "00010000"),
      lit("00000000"), hexText)
    val hSigned = when(pmod(id, lit(8L)) === 6L, -h).otherwise(h)
    val bmp = concat(lit("424D"),
      le32h(lit(54L) + (length(hexText) / 2).cast("long")),
      lit("00000000"), le32h(lit(54L)), le32h(lit(40L)),
      le32h(w), le32h(hSigned),
      lit("0100" + "1800"),          // planes 1, 24 bpp
      lit("0" * 48),                 // compression..important-colors zeroed
      hexText)
    df.select(id.cast("bigint").as("doc_id"),
      unhex(when(id % 4 === 0, tiffLe)
        .when(id % 4 === 1, tiffBe)
        .when(id % 4 === 2, bmp)
        .otherwise(hexText)).as("blob"))
  }

  /** Deterministic synthetic AUDIO payloads with REAL RIFF/WAVE container
    * structure: doc_id % 3 picks plain WAV (RIFF header, then `fmt ` as
    * the first chunk), WAV with a LIST chunk of doc_id-varying length
    * BEFORE `fmt ` (so a parser must actually walk the chunk chain), or
    * the raw text bytes (no container). All multi-byte fields are
    * little-endian per the RIFF spec — the opposite byte order of the
    * PNG/JPEG synthesis above, so the two decoders can't share an
    * endianness bug. Format parameters derive from doc_id, giving
    * [[decodeWavMeta]] a ground truth the oracle states independently:
    * channels = id%2+1, sample_rate = 8000*(id%5+1), bytes/sample =
    * id%3+1, and the data-chunk size is chosen so the decoded duration
    * is exactly 250*(id%10+1) ms (byte_rate divides it, no rounding).
    */
  def synthesizeAudio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def le16(v: Column): Column = {
      val be = lpad(hex(v), 4, "0")
      concat(substring(be, 3, 2), substring(be, 1, 2))
    }
    def le32(v: Column): Column = {
      val be = lpad(hex(v), 8, "0")
      concat(substring(be, 7, 2), substring(be, 5, 2),
        substring(be, 3, 2), substring(be, 1, 2))
    }
    val channels = id % 2 + 1
    val rateK = id % 5 + 1
    val bytesPerSample = id % 3 + 1
    val rate = rateK * 8000L
    val byteRate = rate * channels * bytesPerSample
    val blockAlign = channels * bytesPerSample
    val dataSize = lit(2000L) * rateK * channels * bytesPerSample * (id % 10 + 1)
    val fmtChunk = concat(lit("666D7420"), le32(lit(16L)), le16(lit(1L)),
      le16(channels), le32(rate), le32(byteRate), le16(blockAlign),
      le16(bytesPerSample * 8))
    // LIST payload 2..10 bytes (always even — RIFF pads odd chunks, and
    // the walker here does not model the pad byte)
    val listPad = (id % 5 + 1) * 2
    val listChunk = concat(lit("4C495354"), le32(listPad),
      substr(lit("0" * 20), lit(1), listPad * 2))
    val hexText = hex(substring(col(textCol), 1, 64).cast("binary"))
    val dataChunk = concat(lit("64617461"), le32(dataSize), hexText)
    // RIFF size = everything after the size field: "WAVE" + fmt chunk
    // header+payload (24) + data chunk header (8) + data, PLUS the LIST
    // chunk (8 + pad) when present — a spec-conformant reader that
    // bounds its walk by this field must be able to reach every chunk
    def riff(chunks: Column, extra: Column): Column =
      concat(lit("52494646"), le32(dataSize + 36L + extra), lit("57415645"), chunks)
    df.select(id.cast("bigint").as("doc_id"),
      unhex(when(id % 3 === 0, riff(concat(fmtChunk, dataChunk), lit(0L)))
        .when(id % 3 === 1,
          riff(concat(listChunk, fmtChunk, dataChunk), listPad + 8L))
        .otherwise(hexText)).as("blob"))
  }

  /** WAV header decode by chunk-chain walk — the little-endian mirror of
    * [[decodeImageMeta]]'s JPEG segment walk, pure codegen expressions
    * over the hex image of the first `headBytes` bytes. RIFF layout:
    * "RIFF" + u32 size + "WAVE", then chunks of [4-byte id][u32 le
    * size][payload]; `fmt ` carries channels/rate/bits at fixed payload
    * offsets, `data`'s size field with the byte rate gives the duration.
    * Each walk step rides as a NAMED column (same de-exponentiation as
    * the JPEG walk: a position feeds the next one twice, so inlining
    * would double the expression tree per hop). Zero shuffle, zero UDFs;
    * at 100 TB this is a scan-fused projection like every other decode.
    */
  def decodeWavMeta(blobs: DataFrame, maxSegs: Int = 4,
                    headBytes: Int = 128): DataFrame = {
    val hx = col("_hx")
    def le16(q: Column): Column =
      conv(concat(substr(hx, q + 2, lit(2)), substr(hx, q, lit(2))), 16, 10).cast("long")
    def le32(q: Column): Column =
      conv(concat(substr(hx, q + 6, lit(2)), substr(hx, q + 4, lit(2)),
        substr(hx, q + 2, lit(2)), substr(hx, q, lit(2))), 16, 10).cast("long")
    def idAt(p: Column): Column = substr(hx, p, lit(8))
    // chunk-start hex positions: byte 12 → hex 25; next = p + 16 + 2*size.
    // A non-RIFF blob yields garbage u32 "sizes" (up to 4 GiB — unlike the
    // JPEG walk's u16s), so every step clamps to just past the head window:
    // substr there returns '' (no id match), and positions stay in range.
    val past = lit(2L * headBytes + 1L)
    val walked = (1 until maxSegs).foldLeft(
      blobs.withColumn("_hx", hex(substring(col("blob"), 1, headBytes)))
        .withColumn("_p0", lit(25L))) { (df, i) =>
      df.withColumn(s"_p$i",
        least(col(s"_p${i - 1}") + 16L + le32(col(s"_p${i - 1}") + 8L) * 2L, past))
    }
    def firstChunk(idHex: String): Column = coalesce(
      (0 until maxSegs).map(i => when(idAt(col(s"_p$i")) === idHex, col(s"_p$i"))): _*)
    val staged = walked
      .withColumn("_fmt", firstChunk("666D7420"))
      .withColumn("_data", firstChunk("64617461"))
    val isWav = substring(hx, 1, 8) === "52494646" &&
      substring(hx, 17, 8) === "57415645" && col("_fmt").isNotNull
    val pay = col("_fmt") + 16L
    val channels = le16(pay + 4L)
    val rate = le32(pay + 8L)
    val byteRate = le32(pay + 16L)
    val bits = le16(pay + 28L)
    val dataSize = le32(col("_data") + 8L)
    // exact when byte_rate divides data bytes*1000 (true of any whole-ms
    // PCM stream); operands stay far below 2^53 so the double math is exact
    val durMs = floor(dataSize.cast("double") * 1000.0 / byteRate.cast("double")).cast("long")
    staged.select(col("doc_id"),
      when(isWav, lit("wav")).otherwise(lit("unknown")).as("format"),
      when(isWav, channels).as("channels"),
      when(isWav, rate).as("sample_rate"),
      when(isWav, bits).as("bits"),
      when(isWav && col("_data").isNotNull && byteRate > 0, durMs).as("duration_ms"))
  }

  /** Deterministic synthetic WebP payloads — the FOURTH crawl image
    * container, one per published bitstream flavor: `VP8 ` (lossy —
    * 3-byte frame tag, 9D 01 2A start code, 14-bit u16le dims), `VP8L`
    * (lossless — 0x2F signature, dims-minus-one packed in a u32le
    * bitfield), and `VP8X` (extended — u24le canvas dims-minus-one),
    * each inside a real RIFF/"WEBP" chunk chain (VP8L's 5-byte payload
    * carries the RIFF odd-chunk pad byte). Ground truth derives from
    * doc_id via the house dim formulas; the remaining quarter is raw
    * text (no container). Reference tie: container-agnostic S3 ingest
    * (packages/app/bundles/custom/aws/s3/s3-connector.ts:1).
    */
  def synthesizeWebp(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def le16h(v: Column): Column = {
      val be = lpad(hex(v), 4, "0")
      concat(substring(be, 3, 2), substring(be, 1, 2))
    }
    def le24h(v: Column): Column = {
      val be = lpad(hex(v), 6, "0")
      concat(substring(be, 5, 2), substring(be, 3, 2), substring(be, 1, 2))
    }
    def le32h(v: Column): Column = {
      val be = lpad(hex(v), 8, "0")
      concat(substring(be, 7, 2), substring(be, 5, 2),
        substring(be, 3, 2), substring(be, 1, 2))
    }
    val w = (id % 900 + 100).cast("int")
    val h = ((id * 3) % 900 + 100).cast("int")
    val vp8 = concat(lit("56503820"), le32h(lit(10L)),
      lit("000000" + "9D012A"), le16h(w), le16h(h))
    val vp8l = concat(lit("5650384C"), le32h(lit(5L)), lit("2F"),
      le32h((w - 1) + (h - 1) * 16384), lit("00"))
    val vp8x = concat(lit("56505838"), le32h(lit(10L)), lit("00000000"),
      le24h(w - 1), le24h(h - 1))
    // RIFF size = "WEBP" (4) + chunk header (8) + payload incl. pad
    def riff(chunk: Column, size: Long): Column =
      concat(lit("52494646"), le32h(lit(size)), lit("57454250"), chunk)
    val hexText = hex(substring(col(textCol), 1, 64).cast("binary"))
    df.select(id.cast("bigint").as("doc_id"),
      unhex(when(id % 4 === 0, riff(vp8, 22L))
        .when(id % 4 === 1, riff(vp8l, 18L))
        .when(id % 4 === 2, riff(vp8x, 22L))
        .otherwise(hexText)).as("blob"))
  }

  /** WebP header decode — the RIFF chunk walk of [[decodeWavMeta]]
    * with the odd-chunk PAD byte modeled (VP8L payloads are routinely
    * odd-sized), dims per bitstream flavor: `VP8X` canvas u24le+1
    * first (the extended container's declared canvas governs), then
    * `VP8L`'s signature-gated u32le bitfield, then `VP8 `'s
    * start-code-gated 14-bit u16le pair. Pure codegen expressions over
    * the hex image of the first `headBytes` bytes — dims live in the
    * leading chunk of every legal WebP, so a tiny head window suffices.
    * Zero shuffle, zero UDFs; scan-fused projection at any scale.
    */
  def decodeWebpMeta(blobs: DataFrame, maxSegs: Int = 4,
                     headBytes: Int = 64): DataFrame = {
    val hx = col("_hx")
    def le16(q: Column): Column =
      conv(concat(substr(hx, q + 2, lit(2)), substr(hx, q, lit(2))), 16, 10).cast("long")
    def le24(q: Column): Column =
      conv(concat(substr(hx, q + 4, lit(2)), substr(hx, q + 2, lit(2)),
        substr(hx, q, lit(2))), 16, 10).cast("long")
    def le32(q: Column): Column =
      conv(concat(substr(hx, q + 6, lit(2)), substr(hx, q + 4, lit(2)),
        substr(hx, q + 2, lit(2)), substr(hx, q, lit(2))), 16, 10).cast("long")
    def idAt(p: Column): Column = substr(hx, p, lit(8))
    // chunk-start hex positions: byte 12 → hex 25; next = p + header
    // (16) + payload (2·size) + RIFF pad when the size is odd
    val past = lit(2L * headBytes + 1L)
    val walked = (1 until maxSegs).foldLeft(
      blobs.withColumn("_hx", hex(substring(col("blob"), 1, headBytes)))
        .withColumn("_p0", lit(25L))) { (df, i) =>
      val sz = le32(col(s"_p${i - 1}") + 8L)
      df.withColumn(s"_p$i",
        least(col(s"_p${i - 1}") + 16L + (sz + pmod(sz, lit(2L))) * 2L, past))
    }
    def firstChunk(idHex: String): Column = coalesce(
      (0 until maxSegs).map(i => when(idAt(col(s"_p$i")) === idHex, col(s"_p$i"))): _*)
    val staged = walked
      .withColumn("_vp8", firstChunk("56503820"))
      .withColumn("_vp8l", firstChunk("5650384C"))
      .withColumn("_vp8x", firstChunk("56505838"))
    val isRiffWebp = substring(hx, 1, 8) === "52494646" &&
      substring(hx, 17, 8) === "57454250"
    val vp8Ok = col("_vp8").isNotNull &&
      substr(hx, col("_vp8") + 16L + 6L, lit(6)) === "9D012A"
    val vp8lOk = col("_vp8l").isNotNull &&
      substr(hx, col("_vp8l") + 16L, lit(2)) === "2F"
    val lBits = le32(col("_vp8l") + 18L)
    val codec = when(!isRiffWebp, lit(null).cast("string"))
      .when(col("_vp8x").isNotNull, lit("vp8x"))
      .when(vp8lOk, lit("vp8l"))
      .when(vp8Ok, lit("vp8"))
    val width = when(col("_vp8x").isNotNull, le24(col("_vp8x") + 24L) + 1L)
      .when(vp8lOk, lBits.bitwiseAND(lit(16383L)) + 1L)
      .when(vp8Ok, le16(col("_vp8") + 28L).bitwiseAND(lit(16383L)))
    val height = when(col("_vp8x").isNotNull, le24(col("_vp8x") + 30L) + 1L)
      .when(vp8lOk, shiftright(lBits, 14).bitwiseAND(lit(16383L)) + 1L)
      .when(vp8Ok, le16(col("_vp8") + 32L).bitwiseAND(lit(16383L)))
    staged.select(col("doc_id"),
      when(isRiffWebp && codec.isNotNull, lit("webp"))
        .otherwise(lit("unknown")).as("format"),
      when(isRiffWebp, codec).as("codec"),
      when(isRiffWebp, width).as("width"),
      when(isRiffWebp, height).as("height"))
  }

  /** Deterministic synthetic VIDEO payloads with REAL ISO-BMFF (MP4)
    * box structure — the big-endian sibling of [[synthesizeAudio]]'s
    * RIFF chain: `ftyp` first, then `moov` containing a spec-layout
    * `mvhd` (timescale/duration at their fixed v0 offsets) and a
    * `trak`/`tkhd` (16.16 fixed-point dims at offsets 76/80 of the v0
    * payload). doc_id varies the LAYOUT: variant 0 is faststart
    * (ftyp moov mdat), variant 1 is non-faststart (ftyp free mdat
    * moov — moov AFTER the payload, the layout a plain recorder
    * writes) with a `free` box shuffled before `mvhd` inside moov —
    * so a parser must actually walk the top-level size chain and both
    * box levels, not read fixed offsets or a fixed head window. Ground
    * truth derives from doc_id: timescale = 1000·(id%4+1), duration =
    * timescale·(id%10+1) (so duration_ms = 1000·(id%10+1) exactly),
    * dims = the image-family formulas. The remaining third carries raw
    * text (no container).
    */
  def synthesizeMp4(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val id = col(idCol)
    def be32(v: Column): Column = lpad(hex(v), 8, "0")
    def be16(v: Column): Column = lpad(hex(v), 4, "0")
    val w = (id % 900 + 100).cast("int")
    val h = ((id * 3) % 900 + 100).cast("int")
    val timescale = (id % 4 + 1) * 1000
    val duration = timescale * (id % 10 + 1)
    val unityMatrix = "00010000" + "00000000" + "00000000" +
      "00000000" + "00010000" + "00000000" +
      "00000000" + "00000000" + "40000000"
    val ftyp = concat(lit(""), lit(be32Hex(20) + "66747970" + "69736F6D" +
      "00000200" + "69736F6D"))
    val padTop = (id % 7 + 1).cast("int")
    val freeTop = concat(be32(padTop + 8), lit("66726565"),
      substr(lit("0" * 28), lit(1), padTop * 2))
    val padIn = (id % 5 + 1).cast("int")
    val freeIn = concat(be32(padIn + 8), lit("66726565"),
      substr(lit("0" * 20), lit(1), padIn * 2))
    val mvhd = concat(lit(be32Hex(108) + "6D766864" + "00000000" +
      "00000000" + "00000000"), be32(timescale), be32(duration),
      lit("00010000" + "0100" + "0" * 20 + unityMatrix + "0" * 48 + "00000002"))
    val tkhd = concat(lit(be32Hex(92) + "746B6864" + "00000007" +
      "00000000" + "00000000" + "00000001" + "00000000"), be32(duration),
      lit("0" * 16 + "0000" + "0000" + "0000" + "0000" + unityMatrix),
      be16(w), lit("0000"), be16(h), lit("0000"))
    val trak = concat(lit(be32Hex(100) + "7472616B"), tkhd)
    // moov size: 8 + mvhd 108 + free (8+pad) + trak 100
    val moovA = concat(be32(padIn + 224), lit("6D6F6F76"), mvhd, freeIn, trak)
    val moovB = concat(be32(padIn + 224), lit("6D6F6F76"), freeIn, mvhd, trak)
    val hexText = hex(substring(col(textCol), 1, 64).cast("binary"))
    val mdat = concat(be32((length(hexText) / 2 + 8).cast("int")),
      lit("6D646174"), hexText)
    df.select(id.cast("bigint").as("doc_id"),
      // variant 1 is NON-FASTSTART: moov sits AFTER mdat (the layout a
      // plain recorder writes), with a free box and an in-moov free
      // shuffle on top — a parser must walk the top-level size chain
      // past the payload, not scan a fixed head window, to reach it
      unhex(when(id % 3 === 0, concat(ftyp, moovA, mdat))
        .when(id % 3 === 1, concat(ftyp, freeTop, mdat, moovB))
        .otherwise(hexText)).as("blob"))
  }

  private def be32Hex(v: Long): String = f"$v%08X"

  /** MP4/ISO-BMFF header decode by a TWO-LEVEL box walk. Top level:
    * boxes of [u32 size][4-char type], walked DIRECTLY on the blob at
    * dynamic byte positions — only the 8 header bytes of each box are
    * read per step, so `moov` is found at ANY file offset, including
    * after a multi-GB `mdat` (the non-faststart layout a plain
    * recorder writes); no head-window bound exists at this level.
    * The found moov is then hex-imaged through a bounded `moovWindow`
    * and walked with the same named-column machinery as
    * [[decodeWavMeta]]'s RIFF chain: `mvhd` (v0: timescale at payload
    * byte 12, duration at 16) and `trak`, whose own child walk finds
    * `tkhd` (v0: 16.16 dims at payload bytes 76/80 — the integer u16
    * is read, fractional pixels don't exist in practice).
    * duration_ms = duration·1000/timescale, exact whenever timescale
    * divides (whole-ms tracks). Garbage sizes clamp to EOF (top level)
    * or past the moov window (child levels), and every step advances
    * ≥ 8 bytes, so hostile payloads walk safely to "unknown" in a
    * bounded number of reads. Zero shuffle, zero UDFs; scan-fused
    * projection at any scale.
    */
  /** ISO-BMFF hex-walk primitives shared by [[decodeMp4Meta]] and
    * [[mp4SampleTable]]: u32 read, a named-column box walk at one
    * nesting level (each step advances by the box's own size, clamped
    * past the head window on garbage), and a first-box-of-type find. */
  private def beU32(q: Column): Column =
    conv(substr(col("_hx"), q, lit(8)), 16, 10).cast("long")
  private def boxWalk(df: DataFrame, pfx: String, start: Column,
                      maxSegs: Int, headBytes: Int): DataFrame = {
    val past = lit(2L * headBytes + 1L)
    (1 until maxSegs).foldLeft(df.withColumn(s"_${pfx}0", start)) { (d, i) =>
      d.withColumn(s"_$pfx$i",
        least(col(s"_$pfx${i - 1}") + beU32(col(s"_$pfx${i - 1}")) * 2L, past))
    }
  }
  private def boxFind(pfx: String, typeHex: String, maxSegs: Int): Column =
    coalesce((0 until maxSegs).map(i =>
      when(substr(col("_hx"), col(s"_$pfx$i") + 8, lit(8)) === typeHex,
        col(s"_$pfx$i"))): _*)

  /** Top-level box-chain primitives: u32/u64/type reads at a dynamic
    * 0-based BYTE position straight off the blob (a ≤16-byte slice per
    * box — no window), and the chain walk itself. A declared size of 1
    * means the REAL size is the u64 `largesize` at bytes 8-15 (the
    * ISO-BMFF escape every >4 GB mdat uses — exactly the box a
    * non-faststart walk must step over at crawl scale). A size below
    * the 8-byte header minimum (or garbage past EOF) still advances
    * ≥ 8 and clamps to the blob length, so the walk terminates at its
    * box budget on any payload. */
  private def topU32(p: Column): Column =
    conv(hex(substr(col("blob"), p + 1L, lit(4))), 16, 10).cast("long")
  private def topU64(p: Column): Column =
    conv(hex(substr(col("blob"), p + 1L, lit(8))), 16, 10).cast("long")
  private def topType(p: Column): Column = hex(substr(col("blob"), p + 5L, lit(4)))
  private def topWalk(df: DataFrame, maxSegs: Int): DataFrame = {
    val len = length(col("blob")).cast("long")
    (1 until maxSegs).foldLeft(df.withColumn("_t0", lit(0L))) { (d, i) =>
      val q = col(s"_t${i - 1}")
      val declared = topU32(q)
      val eff = when(declared === 1L, topU64(q + 8L)).otherwise(declared)
      d.withColumn(s"_t$i", least(q + greatest(eff, lit(8L)), len))
    }
  }
  private def topFind(typeHex: String, maxSegs: Int): Column =
    coalesce((0 until maxSegs).map(i =>
      when(topType(col(s"_t$i")) === typeHex, col(s"_t$i"))): _*)

  def decodeMp4Meta(blobs: DataFrame, maxSegs: Int = 4,
                    moovWindow: Int = 512, topSegs: Int = 6): DataFrame = {
    val hx = col("_hx")
    def be32(q: Column): Column = beU32(q)
    def be16(q: Column): Column = conv(substr(hx, q, lit(4)), 16, 10).cast("long")
    // top level on the raw blob (moov at any offset), then a bounded
    // hex window AT the moov: child positions are moov-relative, first
    // child at hex position 17 (after the 8-byte moov header)
    val staged1 = topWalk(blobs, topSegs)
      .withColumn("_moov", topFind("6D6F6F76", topSegs))
      .withColumn("_hx", hex(substr(col("blob"), col("_moov") + 1L, lit(moovWindow))))
    val staged2 = boxWalk(staged1, "m", lit(17L), maxSegs, moovWindow)
      .withColumn("_mvhd", boxFind("m", "6D766864", maxSegs))
      .withColumn("_trak", boxFind("m", "7472616B", maxSegs))
    val staged = boxWalk(staged2, "k", col("_trak") + 16L, maxSegs, moovWindow)
      .withColumn("_tkhd", boxFind("k", "746B6864", maxSegs))
    val isMp4 = hex(substring(col("blob"), 5, 4)) === "66747970" &&
      col("_moov").isNotNull && col("_mvhd").isNotNull && col("_tkhd").isNotNull
    val timescale = be32(col("_mvhd") + 40L)
    val duration = be32(col("_mvhd") + 48L)
    // exact when timescale divides duration*1000 (whole-ms tracks);
    // operands stay far below 2^53 so the double math is exact
    val durMs = floor(duration.cast("double") * 1000.0 / timescale.cast("double"))
      .cast("long")
    val tw = be16(col("_tkhd") + 168L)
    val th = be16(col("_tkhd") + 176L)
    staged.select(col("doc_id"),
      when(isMp4, lit("mp4")).otherwise(lit("unknown")).as("format"),
      when(isMp4 && timescale > 0, durMs).as("duration_ms"),
      when(isMp4, tw).as("width"),
      when(isMp4, th).as("height"))
  }

  /** TRUE video frame extraction — the sample-table walk a player
    * actually performs, replacing [[frameSamples]]' even-offset slicing
    * for real containers: after the [[decodeMp4Meta]] walk reaches
    * `trak`, three more child walks (mdia → minf → stbl) find `stsz`
    * (per-sample sizes) and `stco` — or its >4 GB-file sibling `co64`
    * with u64 entries — (absolute chunk offsets); one row
    * per sample with its offset, size, and the md5 of the ACTUAL mdat
    * bytes the table points at — reachable only by parsing the table,
    * which is exactly what the oracle's formula ground truth checks.
    * Pure codegen expressions + one bounded per-doc explode (sample
    * count clamped at 64); zero shuffle, scan-fused at any scale.
    */
  def mp4SampleTable(blobs: DataFrame, maxSegs: Int = 4,
                     moovWindow: Int = 512, topSegs: Int = 6): DataFrame = {
    // same two-tier shape as decodeMp4Meta: dynamic top-level chain
    // (moov at any offset — faststart or not), bounded moov-relative
    // hex window for the six-level child walk; stco entries stay
    // FILE-absolute, so the sample md5 below reads the raw blob
    var df = topWalk(blobs, topSegs)
      .withColumn("_moov", topFind("6D6F6F76", topSegs))
      .withColumn("_hx", hex(substr(col("blob"), col("_moov") + 1L, lit(moovWindow))))
    df = boxWalk(df, "m", lit(17L), maxSegs, moovWindow)
      .withColumn("_trak", boxFind("m", "7472616B", maxSegs))
    df = boxWalk(df, "k", col("_trak") + 16L, maxSegs, moovWindow)
      .withColumn("_mdia", boxFind("k", "6D646961", maxSegs))
    df = boxWalk(df, "d", col("_mdia") + 16L, maxSegs, moovWindow)
      .withColumn("_minf", boxFind("d", "6D696E66", maxSegs))
    df = boxWalk(df, "n", col("_minf") + 16L, maxSegs, moovWindow)
      .withColumn("_stbl", boxFind("n", "7374626C", maxSegs))
    df = boxWalk(df, "s", col("_stbl") + 16L, maxSegs, moovWindow)
      .withColumn("_stsz", boxFind("s", "7374737A", maxSegs))
      .withColumn("_stco", boxFind("s", "7374636F", maxSegs))
      .withColumn("_co64", boxFind("s", "636F3634", maxSegs))
    // stsz: count at payload byte 8 (box byte 16), entries from byte 20;
    // stco: count at box byte 12, entries from byte 16 — u32 BE. A
    // >4 GB file carries `co64` instead of `stco`: same layout, u64
    // entries at a 16-hex stride (stco is preferred when both exist —
    // real muxers emit exactly one).
    // guard on the FOUND box, not just the count expression: least()
    // skips nulls, so least(null, 64) is 64 — an unguarded non-media
    // blob would explode 64 junk rows instead of none
    def beU64(q: Column): Column =
      conv(substr(col("_hx"), q, lit(16)), 16, 10).cast("long")
    val staged = df
      .withColumn("_f", when(col("_stsz").isNotNull &&
          (col("_stco").isNotNull || col("_co64").isNotNull),
        least(beU32(col("_stsz") + 32L), lit(64L))))
      .withColumn("si", explode(when(col("_f") > 0,
        expr("sequence(0, CAST(_f AS INT) - 1)"))
        .otherwise(array().cast("array<int>"))))
      .withColumn("_sz", beU32(col("_stsz") + 40L + col("si") * 8L))
      .withColumn("_off", when(col("_stco").isNotNull,
        beU32(col("_stco") + 32L + col("si") * 8L))
        .otherwise(beU64(col("_co64") + 32L + col("si") * 16L)))
    staged.select(col("doc_id"), col("si").cast("bigint").as("si"),
      col("_off").as("sample_off"), col("_sz").as("sample_size"),
      md5(expr("substring(blob, CAST(_off AS INT) + 1, CAST(_sz AS INT))"))
        .as("sample_md5"))
  }

  /** Inline-image extraction: pull every `data:image/png;base64,…` URI
    * out of an HTML column, base64-decode it, and hash it through the
    * SAME perceptual space as every container decoder — so an image
    * embedded in markup dedups against its file-borne re-encodes.
    * Spark's `base64` emits MIME-wrapped output (a newline every 76
    * chars) and real crawl HTML wraps long data URIs the same way, so
    * the extractor tolerates line breaks inside a DELIMITED payload
    * (quote/`url(`-anchored — the r11 advice finding) while cutting an
    * undelimited URI at its first break; other MIME types' data URIs
    * never match. Extraction is the native single-pass
    * [[graft.functions.InlineDataUris]] walk (replaced the regex pair:
    * same contract, ~2× cheaper, payload pre-stripped of line breaks so
    * it feeds `unbase64` directly). One row per (doc, image index) in
    * document order; undecodable payloads keep their row with a NULL
    * hash (extraction evidence is data too). Scale shape: extract +
    * decode + hash fused into the scan projection, one bounded per-doc
    * explode, zero shuffle.
    */
  def inlineImageHashes(html: DataFrame): DataFrame =
    // the data-URI walk + per-image PNG decode is per-row CPU; the
    // session-cached fixture materializes single-partition — fan out
    graft.Par.fanOut(html, col("doc_id")).select(col("doc_id"), posexplode(
        graft.functions.GraftFunctions.inlineDataUris(col("html"), "image/png"))
        .as(Seq("ii", "b64")))
      .select(col("doc_id"), col("ii").cast("bigint").as("ii"),
        lpad(hex(graft.functions.GraftFunctions.pngDhash(
          unbase64(col("b64")))),
          16, "0").as("dhash_hex"))

  /** ViT-style patch tokenization budget: per image, the patch grid
    * (ceil(w/patch) × ceil(h/patch)) and the resulting vision-token
    * count — the number a multimodal packing stage budgets against
    * (images enter the context window as n_patches tokens). Pure
    * projection over the decoded metadata (zero shuffle); undecodable
    * payloads budget 0 tokens rather than poisoning the pack. The
    * per-patch coordinate explode for feature extraction is the same
    * doc-local explode mm_chunks/mm_frames already demonstrate — this
    * operator is the budget view a packer actually consumes.
    */
  def visionTokens(meta: DataFrame, patch: Int): DataFrame = {
    val px = ceil(col("width").cast("double") / patch).cast("long")
    val py = ceil(col("height").cast("double") / patch).cast("long")
    meta.select(col("doc_id"), col("format"), col("width"), col("height"),
      coalesce(px, lit(0L)).as("patches_x"),
      coalesce(py, lit(0L)).as("patches_y"),
      coalesce(px * py, lit(0L)).as("vision_tokens"))
  }

  /** VIDEO vision-token budget: frames sampled at `fps` over the
    * decoded duration × the per-frame ViT patch grid — the number a
    * multimodal packer budgets for a video clip (each sampled frame
    * enters the context as one image's patches). Rides
    * [[decodeMp4Meta]]'s output; undecodable payloads budget 0. Pure
    * projection, zero shuffle.
    */
  def videoTokens(meta: DataFrame, patch: Int, fps: Double): DataFrame = {
    val px = ceil(col("width").cast("double") / patch).cast("long")
    val py = ceil(col("height").cast("double") / patch).cast("long")
    // ceil so any clip samples at least one frame; duration_ms·fps/1000
    // stays integral for whole-ms durations and integral fps
    val frames = ceil(col("duration_ms").cast("double") * fps / 1000.0).cast("long")
    meta.select(col("doc_id"), col("format"), col("duration_ms"),
      col("width"), col("height"),
      coalesce(frames, lit(0L)).as("sampled_frames"),
      coalesce(px * py, lit(0L)).as("tokens_per_frame"),
      coalesce(frames * px * py, lit(0L)).as("vision_tokens"))
  }

  /** Deterministic synthetic PIXEL-BEARING PNGs: real container (IHDR,
    * IDAT, IEND chunk walk), real zlib stream (stored-deflate blocks —
    * `java.util.zip.Inflater` decompresses them through its normal path),
    * real scanline structure (filter byte 0 + 16 grayscale bytes × 12
    * rows), all assembled from pure codegen hex expressions — no UDF.
    * Pixel ground truth is a FORMULA the oracle can restate:
    * px(y,x) = ((pat·31 + y·7 + x·13) mod 17)·13 + shift with
    * pat = doc_id mod 167 and shift = ((doc_id div 167) mod 4)·7 — the
    * mod 4 keeps every pixel a byte (max 208+21=229) at ANY doc_id
    * scale — so the corpus contains brightness-shifted near-duplicate
    * groups ({p, p+167, p+334, …} share pat, differ only by a constant
    * offset; same-shift members are additionally byte-identical), the
    * class byte-exact dedup cannot see and gradient dHash is invariant
    * to. CRC/adler fields are dummies: [[graft.functions.PngDhash]]
    * deliberately skips checksum verification (MmSpec anchors it against
    * REAL compressed+filtered PNGs from the JDK encoder instead).
    */
  def synthesizePixelPngs(df: DataFrame, idCol: String): DataFrame = {
    val rawHex = expr(
      """array_join(transform(sequence(0, 11), y ->
        |  concat('00', array_join(transform(sequence(0, 15), x ->
        |    lpad(hex((((_pat * 31 + y * 7 + x * 13) % 17) * 13 + _shift)), 2, '0')), ''))), '')""".stripMargin)
    // raw = 12·(1+16) = 204 bytes; stored block LEN/NLEN little-endian;
    // IDAT payload = 2 (zlib hdr) + 5 (block hdr) + 204 + 4 (adler) = 215
    val pngHex = concat(
      lit("89504E470D0A1A0A" +       // signature
        "0000000D" + "49484452" +    // IHDR len + type
        "00000010" + "0000000C" +    // 16 × 12
        "0800000000" +               // depth 8, gray, std flags
        "00000000" +                 // IHDR crc (unverified)
        "000000D7" + "49444154" +    // IDAT len + type
        "7801" +                     // zlib CMF/FLG
        "01" + "CC00" + "33FF"),     // stored block: final, LEN=204 LE, NLEN
      col("_rawhex"),
      lit("00000000" +               // adler (unverified)
        "00000000" +                 // IDAT crc (unverified)
        "0000000049454E44AE426082")) // IEND
    df.select(col(idCol).cast("bigint").as("doc_id"))
      // pmod, not %: a negative doc_id would make _pat/_shift negative,
      // the pixel expression leave 0..255, and lpad(hex(v), 2) silently
      // TRUNCATE 16-char hex to a wrong-but-well-formed byte — a PNG
      // whose pixels diverge from the oracle formula instead of failing
      // loudly. pmod enforces the byte range by construction at any id.
      .withColumn("_pat", pmod(col("doc_id"), lit(167L)))
      .withColumn("_shift", pmod(expr("doc_id DIV 167"), lit(4L)) * 7)
      .withColumn("_rawhex", rawHex)
      .select(col("doc_id"), unhex(pngHex).as("blob"))
  }

  /** Deterministic synthetic PNGs carrying the SAME 72×64 flat-cell
    * image as [[graft.functions.SynthGrayJpeg]] — the cross-container
    * fixture: a PNG re-encode of a JPEG (the classic crawl duplicate)
    * has identical pixels, so the two containers' dHashes must land in
    * one hash space. Stored-deflate assembly like
    * [[synthesizePixelPngs]]; each 8-pixel-tall cell row is built ONCE
    * and repeated (72 hex computations per doc, not 4 608 — the audio
    * family's synthesis-cost lesson applied).
    */
  def synthesizeCellPngs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.synthCellPng(
        col("doc_id")).as("blob"))

  /** Deterministic synthetic cell GIFs — the third container over the
    * SAME 72×64 cell-formula image family (real `javax.imageio` GIF
    * write; lossless at ≤256 colors so the formula pixels round-trip
    * exactly) — see [[graft.functions.SynthCellGif]]. */
  def synthesizeCellGifs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.synthCellGif(
        col("doc_id")).as("blob"))

  def synthesizeCellBmps(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.synthCellBmp(
        col("doc_id")).as("blob"))

  def synthesizeCellTiffs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.synthCellTiff(
        col("doc_id")).as("blob"))

  /** Deterministic synthetic PCM WAVs with SAMPLE-LEVEL ground truth —
    * the audio counterpart of [[synthesizePixelPngs]]: a real RIFF/WAVE
    * container (constant mono/16-bit/8 kHz header — PCM is uncompressed,
    * so unlike JPEG the whole payload is spelled in pure codegen hex
    * expressions) carrying 544 samples of
    *   s(t) = gain · amp(t div 32) · w(t)
    * with pat = pmod(id,167), gain = pmod(id div 167,3)+1,
    * amp(f) = ((pat·31 + f·13) mod 97) mod 9 + 1 (the JPEG cells'
    * nonlinear double-mod, so fingerprint classes track pat, not a tiny
    * linear residue) and w(t) = (t·37 + pat·11) mod 7 − 3. Same-pat
    * docs differ only by the integer gain — exactly the class the
    * gain-invariant [[graft.functions.WavFingerprint]] collapses and
    * byte dedup cannot.
    */
  def synthesizePcmWavs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.synthPcmWav(
        col("doc_id")).as("blob"))

  /** Perceptual near-dup pairs over PNG payloads: REAL pixel decode
    * ([[graft.functions.PngDhash]]: chunk walk → Inflater → unfilter →
    * gray → 9×8 grid → 64-bit dHash), then the simhash hamming-block
    * machinery reused at 64 bits — 4 blocks of 16 bits pigeonhole-
    * guarantee completeness up to hamming 3, deterministic lowest-id
    * bucket caps keep a viral payload from going quadratic. Catches the
    * re-encoded / brightness-shifted / resized duplicates
    * [[dedupBinary]]'s byte-md5 structurally cannot.
    *
    * 100 TB shape: the decode is a scan-fused projection (per-row CPU,
    * zero shuffle); the only exchanges are the 4-row-per-doc block
    * explode's hash agg and the capped band join — identical profile to
    * `dedup_simhash`, which the sf10 smoke measured sublinear.
    */
  def dedupPercept(blobs: DataFrame, maxHamming: Int = 3,
                   bucketCap: Int = Dedup.defaultBucketCap,
                   hashOf: Column => Column =
                     graft.functions.GraftFunctions.pngDhash): DataFrame = {
    require(maxHamming <= 3,
      s"4-block/16-bit buckets are complete only for maxHamming <= 3, got $maxHamming")
    // NO explicit isNotNull on dhash: the optimizer pushes such a filter
    // below the projection, substituting the whole decode expression —
    // measured plan showed pngdhash evaluated in the Filter AND the
    // Project AND the scan's DataFilters (3 decodes/row). Undecodable
    // payloads are dropped anyway by the band join's own null-intolerant
    // key filter (null dhash → null blk), post-explode, decode-once.
    val sig = blobs
      .select(col("doc_id"), hashOf(col("blob")).as("dhash"))
    val blockCols = (0 until 4).map(b => struct(lit(b).as("b"),
      shiftright(col("dhash"), 16 * b).bitwiseAND(lit(65535L)).as("blk")))
    // undecodable payloads (null dhash → null blk) are dropped HERE,
    // post-explode, where the filter references the generated attribute
    // and therefore cannot be substitution-pushed below the decode
    // projection. Without it a mostly-non-PNG corpus would funnel its
    // whole null population through 4 (b, NULL) window partitions
    // before the join's null-intolerant condition discards them. (The
    // join constraint usually infers this filter; stating it makes the
    // shape independent of constraint propagation.)
    val blocks = Dedup.capBuckets(
      sig.select(col("doc_id"), col("dhash"), explode(array(blockCols: _*)).as("bb"))
        .select(col("doc_id"), col("dhash"), col("bb.b").as("b"), col("bb.blk").as("blk"))
        .filter(col("blk").isNotNull),
      Seq("b", "blk"), "doc_id", bucketCap)
    val a = blocks.select(col("doc_id").as("id_a"), col("dhash").as("h_a"),
      col("b"), col("blk"))
    val bd = blocks.select(col("doc_id").as("id_b"), col("dhash").as("h_b"),
      col("b").as("b2"), col("blk").as("blk2"))
    val hamming = bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("bigint")
    a.join(bd, col("b") === col("b2") && col("blk") === col("blk2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Deterministic synthetic grayscale JPEGs — the LOSSY-container
    * counterpart of [[synthesizePixelPngs]]: a real `javax.imageio` JPEG
    * encode of nine-by-eight flat 8×8 cells whose values are a formula
    * of doc_id (see [[graft.functions.SynthGrayJpeg]]). Cell layout is
    * block-aligned and margins are ≥ 72 grey levels, so the dHash bits
    * survive quantization exactly and the oracle can state them from the
    * formula while the engine must reproduce them through a full
    * DCT/huffman round trip.
    */
  def synthesizeGrayJpegs(df: DataFrame, idCol: String): DataFrame =
    df.select(col(idCol).cast("bigint").as("doc_id"))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.synthGrayJpeg(col("doc_id")).as("blob"))

  /** Perceptual-coverage telemetry: per container signature (magic
    * bytes), how many payloads each decoder actually hashed and the
    * combined perceptual coverage in basis points. The blind-spot
    * report — a corpus owner SEES "png: 100% covered, jpeg: 48%, other:
    * 0%" instead of silently missing the undecodable fraction. One
    * scan-fused projection (both decodes gated on their cheap signature
    * checks) + one tiny hash agg at container grain.
    */
  def perceptCoverage(blobs: DataFrame): DataFrame = {
    // 12-byte magic window: RIFF containers disambiguate on the fourcc
    // at bytes 9-12 (WEBP vs WAVE), so the blind-spot report names the
    // actual container a decoder would face, not just "riff"
    val hx8 = hex(substring(col("blob"), 1, 12))
    val container = when(substring(hx8, 1, 16) === "89504E470D0A1A0A", lit("png"))
      .when(substring(hx8, 1, 4) === "FFD8", lit("jpeg"))
      .when(substring(hx8, 1, 6) === "474946", lit("gif"))
      .when(substring(hx8, 1, 8) === "52494646" &&
        substring(hx8, 17, 8) === "57454250", lit("webp"))
      .when(substring(hx8, 1, 8) === "52494646" &&
        substring(hx8, 17, 8) === "57415645", lit("wav"))
      .when(substring(hx8, 1, 8) === "52494646", lit("riff"))
      .otherwise(lit("other"))
    blobs.select(container.as("container"),
        graft.functions.GraftFunctions.pngDhash(col("blob")).as("pd"),
        graft.functions.GraftFunctions.jpegDhash(col("blob")).as("jd"),
        graft.functions.GraftFunctions.gifDhash(col("blob")).as("gd"))
      .groupBy("container")
      .agg(count(lit(1)).as("n_payloads"),
        count(col("pd")).as("n_png_dhash"),
        count(col("jd")).as("n_jpeg_dhash"),
        count(col("gd")).as("n_gif_dhash"),
        count(coalesce(col("pd"), col("jd"), col("gd"))).as("n_percept"))
      .withColumn("coverage_bp",
        expr("n_percept * 10000 DIV n_payloads"))
  }

  /** The mixed-container corpus the coverage report runs over: decodable
    * pixel PNGs, decodable JPEGs, header-only containers (the
    * undecodable fraction a real crawl always carries), and raw text. */
  def mixedPerceptCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("bigint").as("doc_id"), col(textCol).as("_t"))
    synthesizePixelPngs(ids.filter(col("doc_id") % 4 === 0), "doc_id")
      .unionByName(synthesizeGrayJpegs(ids.filter(col("doc_id") % 4 === 1), "doc_id"))
      .unionByName(synthesizeMedia(ids.filter(col("doc_id") % 4 === 2), "doc_id", "_t"))
      .unionByName(ids.filter(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("_t").cast("binary").as("blob")))
  }

  /** The coverage report's corpus: the mixed-container quarters plus a
    * GIF fifth — every pixel-bearing container the percept family
    * decodes (PNG/JPEG/GIF), the header-only fraction, and raw text.
    * Kept separate from [[mixedPerceptCorpus]] so the flagship
    * pipeline's quarter-keyed oracle stays byte-stable. */
  def mixedPerceptCorpusGif(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ids = df.select(col(idCol).cast("bigint").as("doc_id"), col(textCol).as("_t"))
    synthesizePixelPngs(ids.filter(col("doc_id") % 5 === 0), "doc_id")
      .unionByName(synthesizeGrayJpegs(ids.filter(col("doc_id") % 5 === 1), "doc_id"))
      .unionByName(synthesizeMedia(ids.filter(col("doc_id") % 5 === 2), "doc_id", "_t"))
      .unionByName(ids.filter(col("doc_id") % 5 === 3)
        .select(col("doc_id"), col("_t").cast("binary").as("blob")))
      .unionByName(synthesizeCellGifs(ids.filter(col("doc_id") % 5 === 4), "doc_id"))
  }

  /** The MULTIMODAL flagship: the whole media-curation stack in one
    * plan over a mixed-container corpus — exact payload dedup (md5
    * grain, the cheap first pass), cross-container PERCEPTUAL dedup
    * (coalesced PNG/JPEG dHash, keep-first drop of any doc with a
    * lower-id near-dup), vision-token budgeting off the header decode
    * (raw-text rows budget their whitespace tokens instead), and
    * shard-local sequence packing. Every stage is the library operator
    * it names; the oracle replays all of it from the corpus-construction
    * formulas (both dHash families, the byte-equality keys, the pack
    * prefix sums), so the composition — not just the pieces — is
    * hash-gated.
    *
    * 100 TB shape: one window on the md5 key (skew-free uniform
    * digests), the capped percept band join, a scan-fused decode
    * projection, one pack window — the same exchanges the component
    * queries carry, nothing corpus-squared.
    */
  def pipelineE2e(corpus: DataFrame, packBudget: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 1. exact dedup: keep each byte-identical group's min doc. NOT
    // checkpointed: kept1's three consumers already share the _md5
    // window's exchange through AQE exchange reuse, so the synthesis
    // runs once — an eager localCheckpoint here measured SLOWER (3.1 vs
    // 2.6 s at sf0.1, r14 probe window) because it pays a blocking
    // materialization the reuse already avoids
    val wMd5 = Window.partitionBy("_md5")
    val kept1 = corpus.withColumn("_md5", md5(col("blob")))
      .withColumn("n_copies", count(lit(1)).over(wMd5))
      .withColumn("_keep", min(col("doc_id")).over(wMd5))
      .filter(col("doc_id") === col("_keep"))
      .drop("_md5", "_keep")
    // 2. perceptual keep-first: drop survivors with a lower-id near-dup
    val pairs = dedupPercept(kept1.select("doc_id", "blob"), hashOf = c =>
      coalesce(graft.functions.GraftFunctions.pngDhash(c),
        graft.functions.GraftFunctions.jpegDhash(c)))
    val kept2 = kept1.join(pairs.select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // 3. token budget: vision tokens where a container decodes, else
    // whitespace tokens of the payload read as text
    val vis = visionTokens(decodeImageMeta(kept2), patch = 16)
      .select(col("doc_id"), col("format"), col("vision_tokens"))
    val hx8 = hex(substring(col("blob"), 1, 8))
    val container = when(hx8 === "89504E470D0A1A0A", lit("png"))
      .when(substring(hx8, 1, 4) === "FFD8", lit("jpeg"))
      .otherwise(lit("other"))
    val budgeted = kept2.join(vis, "doc_id")
      .withColumn("container", container)
      .withColumn("total_tokens", when(col("vision_tokens") > 0,
        col("vision_tokens"))
        .otherwise(size(TextOps.tokens(col("blob").cast("string"))).cast("bigint")))
      .withColumn("shard", pmod(col("doc_id"), lit(8L)))
    // 4. pack per shard
    TextOps.packSequences(budgeted, idCol = "doc_id", shardCol = "shard",
      tokensCol = "total_tokens", budget = packBudget)
      .select("doc_id", "container", "n_copies", "shard",
        "total_tokens", "pack_id", "pack_offset")
  }

  // ---------------------------------------------------------------- queries

  /** Exact dedup of opaque binary payloads — the md5-grain collapse every
    * multimodal corpus runs FIRST (byte-identical images/audio are the
    * overwhelming duplicate mass, and catching them needs zero decode
    * beyond the hash). One hash-agg on the uniform digest key (map-side
    * partial min/count, skew-free, the `representatives` shape applied
    * to bytes); `phash_bucket` carries the decoded-dimension bucket the
    * NEAR-dup candidate pass would group on (same (w,h) → candidate
    * pair), so the output is also the near-dup front-end. Dims ride the
    * codegen [[metaExpr]] path (spec-verified equal to the typed
    * [[decodeMeta]] decode — registered queries take the codegen route,
    * per the mm_meta precedent); stub decode, real plumbing — a real
    * perceptual hash drops into the same column.
    */
  def dedupBinary(blobs: DataFrame): DataFrame =
    metaExpr(blobs, chunkBytes = 256)
      .groupBy("blob_md5")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min("blob_bytes").as("blob_bytes"),
        min(col("decoded_w") * 1024 + col("decoded_h")).as("phash_bucket"))

  /** dHash-bit replay straight from the 72×64 CELL formula (the
    * brightness shift cancels in the gradient; v = 16+24q is monotone
    * in q), then the banded pigeonhole + cap — shared verbatim by the
    * JPEG query (lossy round trip must reproduce the bits) and the
    * cross-container query (both containers must reproduce them). */
  private lazy val cellPerceptOracle: String =
    s"""WITH cells AS (SELECT doc_id, cy, cx, (((doc_id % 167) * 31 + cy * 7 + cx * 13) % 97) % 8 AS gv FROM documents, generate_series(0, 7) g1(cy), generate_series(0, 8) g2(cx)), bits AS (SELECT a.doc_id, a.cy * 8 + a.cx AS idx, CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1 WHERE a.cx < 8), bands AS (SELECT doc_id, idx // 16 AS b, string_agg(bit::VARCHAR, '' ORDER BY idx) AS s FROM bits GROUP BY doc_id, idx // 16), bandc AS (SELECT doc_id, b, s FROM (SELECT *, row_number() OVER (PARTITION BY b, s ORDER BY doc_id) AS _rn FROM bands) WHERE _rn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandc a JOIN bandc b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id), ham AS (SELECT c.id_a, c.id_b, sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::BIGINT AS hamming FROM cand c JOIN bits x ON x.doc_id = c.id_a JOIN bits y ON y.doc_id = c.id_b AND y.idx = x.idx GROUP BY c.id_a, c.id_b) SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b"""

  val queries: Seq[Query] = Seq(
    // exact payload dedup + the perceptual-bucket near-dup front-end
    // oracle: md5-grain collapse + the FakeDecoder dim-bucket arithmetic
    Query("mm_dedup_binary", corpusGrain = true, Some(
      """WITH m AS (SELECT doc_id, octet_length(encode(text))::BIGINT AS blob_bytes, md5(text) AS blob_md5 FROM documents) SELECT blob_md5, min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies, min(blob_bytes) AS blob_bytes, min((64 + blob_bytes % 512) * 1024 + (64 + (blob_bytes * 7) % 512)) AS phash_bucket FROM m GROUP BY blob_md5 ORDER BY blob_md5""")) { (s, d) =>
      dedupBinary(withBlob(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("blob_md5")
    },

    // perceptual near-dup pairs: real PNG pixel decode (Inflater +
    // unfilter) → dHash → hamming-block bucketing; the oracle replays
    // the hash positions from the fixture pixel FORMULA, so the codec
    // path must reproduce the formula through a real compression
    // container to match
    Query("mm_dedup_percept", corpusGrain = true, Some(
      s"""WITH px AS (SELECT doc_id, y, x, ((((doc_id % 167) * 31 + y * 7 + x * 13) % 17) * 13 + ((doc_id // 167) % 4) * 7)::BIGINT AS v FROM documents, generate_series(0, 11) g1(y), generate_series(0, 15) g2(x)), cells AS (SELECT doc_id, (8 * y + 19) // 12 - 1 AS cy, (9 * x + 24) // 16 - 1 AS cx, sum(v) // count(*) AS gv FROM px GROUP BY doc_id, (8 * y + 19) // 12 - 1, (9 * x + 24) // 16 - 1), bits AS (SELECT a.doc_id, a.cy * 8 + a.cx AS idx, CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1 WHERE a.cx < 8), bands AS (SELECT doc_id, idx // 16 AS b, string_agg(bit::VARCHAR, '' ORDER BY idx) AS s FROM bits GROUP BY doc_id, idx // 16), bandc AS (SELECT doc_id, b, s FROM (SELECT *, row_number() OVER (PARTITION BY b, s ORDER BY doc_id) AS _rn FROM bands) WHERE _rn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandc a JOIN bandc b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id), ham AS (SELECT c.id_a, c.id_b, sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::BIGINT AS hamming FROM cand c JOIN bits x ON x.doc_id = c.id_a JOIN bits y ON y.doc_id = c.id_b AND y.idx = x.idx GROUP BY c.id_a, c.id_b) SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""")) { (s, d) =>
      dedupPercept(synthesizePixelPngs(  // decode-heavy: fan the scan out
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id")), "doc_id"))
        .orderBy("id_a", "id_b")
    },

    // the JPEG (dominant crawl container) perceptual near-dup pass: a
    // REAL lossy round trip — ImageIO JPEG encode of formula cells,
    // ImageIO decode + dHash back — against an oracle that replays the
    // hash bits from the cell FORMULA; block-aligned flat cells with
    // >=72-level margins make every gradient sign survive quantization
    // oracle: replays the dHash BIT POSITIONS from the fixture pixel formula
    // (16×12 grayscale, 9×8 floor-boundary box averages, bit = right
    // cell > left cell) and the 16-bit-block candidate pigeonhole with
    // the same lowest-id bucket cap — the Spark side must reproduce all
    // of it THROUGH the real container decode (Inflater + unfilter) to
    // hash-match. Cell assignment inverts the floor boundaries:
    // cx = ceil(9(x+1)/16)-1, cy = ceil(8(y+1)/12)-1.
    // replays the JPEG fixture's dHash bits straight from the CELL
    // formula (the brightness shift cancels in the gradient; v = 16+24q
    // is monotone in q so comparing q replays comparing pixels), then
    // the same banded pigeonhole + cap as mm_dedup_percept. The engine
    // must reproduce these bits through a real DCT/quantization round
    // trip to hash-match.
    Query("mm_dedup_percept_jpeg", corpusGrain = true, Some(cellPerceptOracle)) { (s, d) =>
      dedupPercept(synthesizeGrayJpegs(
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id")), "doc_id"),
        hashOf = graft.functions.GraftFunctions.jpegDhash)
        .orderBy("id_a", "id_b")
    },

    // CROSS-CONTAINER perceptual dedup: fifths of the corpus are PNG,
    // JPEG, GIF, BMP and TIFF re-encodes of the SAME cell-formula
    // content family (r12 widened from thirds when the fifth/sixth
    // containers landed) — a re-encode in any container must collapse
    // with its source, so the pass coalesces all five decoders into one
    // hash space and pairs freely cross every container boundary (the
    // oracle is container-blind: one formula for all docs; a decoder
    // drifting between containers hash-fails)
    // oracle: container-blind by construction: the SAME cell formula governs
    // the PNG, JPEG and GIF thirds, so the identical oracle applies —
    // the engine must agree with it through all THREE containers at once
    Query("mm_dedup_percept_cross", corpusGrain = true, Some(cellPerceptOracle)) { (s, d) =>
      val ids = Tables.documents(s, d)
        .select(col("doc_id").cast("bigint").as("doc_id"))
      val blobs = synthesizeCellPngs(ids.filter(col("doc_id") % 5 === 0), "doc_id")
        .unionByName(synthesizeGrayJpegs(ids.filter(col("doc_id") % 5 === 1), "doc_id"))
        .unionByName(synthesizeCellGifs(ids.filter(col("doc_id") % 5 === 2), "doc_id"))
        .unionByName(synthesizeCellBmps(ids.filter(col("doc_id") % 5 === 3), "doc_id"))
        .unionByName(synthesizeCellTiffs(ids.filter(col("doc_id") % 5 === 4), "doc_id"))
      dedupPercept(blobs, hashOf = c => coalesce(
        graft.functions.GraftFunctions.pngDhash(c),
        graft.functions.GraftFunctions.jpegDhash(c),
        graft.functions.GraftFunctions.gifDhash(c),
        graft.functions.GraftFunctions.bmpDhash(c),
        graft.functions.GraftFunctions.tiffDhash(c)))
        .orderBy("id_a", "id_b")
    },

    // the GIF (legacy-web / icon / meme container) perceptual near-dup
    // pass: a REAL ImageIO LZW round trip — GIF write of the formula
    // cells, palette decode + dHash back; GIF is lossless at ≤256
    // colors so the container-blind cell oracle applies unchanged
    // oracle: lossless LZW round trip: the identical cell oracle, reached
    // through the ImageIO GIF write + palette decode
    Query("mm_dedup_percept_gif", corpusGrain = true, Some(cellPerceptOracle)) { (s, d) =>
      dedupPercept(synthesizeCellGifs(
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id")), "doc_id"),
        hashOf = graft.functions.GraftFunctions.gifDhash)
        .orderBy("id_a", "id_b")
    },

    // BMP + TIFF join the one hash space (r12): halves of the corpus
    // are 24bpp BMP (row order alternating bottom-up/top-down by id)
    // and 8-bit gray TIFF (endian + strip layout alternating) re-encodes
    // of the SAME cell-formula content — both lossless, so the
    // container-blind cell oracle applies unchanged, pairs cross the
    // container boundary freely, and a decoder mishandling either
    // row-order or strip walk hash-fails
    Query("mm_dedup_percept_bmp_tiff", corpusGrain = true, Some(cellPerceptOracle)) { (s, d) =>
      val ids = Tables.documents(s, d)
        .select(col("doc_id").cast("bigint").as("doc_id"))
      val blobs = synthesizeCellBmps(ids.filter(col("doc_id") % 2 === 0), "doc_id")
        .unionByName(synthesizeCellTiffs(ids.filter(col("doc_id") % 2 === 1), "doc_id"))
      dedupPercept(blobs, hashOf = c => coalesce(
        graft.functions.GraftFunctions.bmpDhash(c),
        graft.functions.GraftFunctions.tiffDhash(c)))
        .orderBy("id_a", "id_b")
    },

    // the perceptual-coverage report over a mixed-container corpus:
    // which payloads the percept decoders can actually see, by container
    // oracle: coverage ground truth from the mixed-corpus branch arithmetic:
    // fifth 0 = decodable pixel PNG, 1 = decodable JPEG, 2 = the
    // header-only containers of synthesizeMedia (undecodable), 3 = raw
    // text, 4 = decodable cell GIF. The engine must DECODE its way to
    // the same counts.
    Query("mm_percept_coverage", corpusGrain = false, Some(
      """WITH g AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN 'png' WHEN doc_id % 5 = 1 THEN 'jpeg' WHEN doc_id % 5 = 4 THEN 'gif' WHEN doc_id % 5 = 2 AND doc_id % 3 = 0 THEN 'png' WHEN doc_id % 5 = 2 AND doc_id % 3 = 1 THEN 'jpeg' ELSE 'other' END AS container, CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS png_ok, CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END AS jpeg_ok, CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS gif_ok FROM documents) SELECT container, count(*)::BIGINT AS n_payloads, sum(png_ok)::BIGINT AS n_png_dhash, sum(jpeg_ok)::BIGINT AS n_jpeg_dhash, sum(gif_ok)::BIGINT AS n_gif_dhash, sum(CASE WHEN png_ok = 1 OR jpeg_ok = 1 OR gif_ok = 1 THEN 1 ELSE 0 END)::BIGINT AS n_percept, (sum(CASE WHEN png_ok = 1 OR jpeg_ok = 1 OR gif_ok = 1 THEN 1 ELSE 0 END) * 10000 // count(*))::BIGINT AS coverage_bp FROM g GROUP BY container ORDER BY container""")) { (s, d) =>
      perceptCoverage(mixedPerceptCorpusGif(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("container")
    },

    // the MULTIMODAL FLAGSHIP: exact dedup -> cross-container percept
    // dedup -> vision/ws token budget -> packing, one plan, one oracle
    // oracle: the flagship replayed end to end from the corpus-construction
    // formulas: byte-equality keys per branch — the EXACT determinants
    // of each branch's bytes: the pixel formulas read pat only through
    // pat mod 17 (PNG) / mod 97 (JPEG), so those residues ARE the key
    // (31 is invertible mod both, making the map bijective); media keys
    // carry the 256-char truncation and the raw third collides with the
    // raw quarter byte-for-byte — plus BOTH dHash-bit families (pixel
    // 16×12 box grid for the PNG quarter, 72×64 cells for the JPEG
    // quarter) through the shared banded pigeonhole, keep-first drop,
    // per-branch token budgets, and the shard-local pack prefix sums
    Query("mm_pipeline_e2e", corpusGrain = true, Some(
      raw"""WITH base AS (SELECT doc_id, text, CASE WHEN doc_id % 4 = 0 THEN 'a|' || ((doc_id % 167) % 17) || '|' || ((doc_id // 167) % 4) WHEN doc_id % 4 = 1 THEN 'b|' || ((doc_id % 167) % 97) || '|' || ((doc_id // 167) % 4) WHEN doc_id % 4 = 2 AND doc_id % 3 = 0 THEN 'c0|' || (doc_id % 900) || '|' || ((doc_id * 3) % 900) || '|' || substr(text, 1, 256) WHEN doc_id % 4 = 2 AND doc_id % 3 = 1 THEN 'c1|' || (doc_id % 900) || '|' || ((doc_id * 3) % 900) || '|' || (doc_id % 6) || '|' || (doc_id % 4) || '|' || substr(text, 1, 256) WHEN doc_id % 4 = 2 THEN 'd|' || substr(text, 1, 256) ELSE 'd|' || text END AS bkey FROM documents), g AS (SELECT doc_id, text, bkey, count(*) OVER (PARTITION BY bkey) AS n_copies, min(doc_id) OVER (PARTITION BY bkey) AS keeper FROM base), k1 AS (SELECT doc_id, text, n_copies FROM g WHERE doc_id = keeper), pxb AS (SELECT doc_id, y, x, ((((doc_id % 167) * 31 + y * 7 + x * 13) % 17) * 13 + ((doc_id // 167) % 4) * 7)::BIGINT AS v FROM k1, generate_series(0, 11) g1(y), generate_series(0, 15) g2(x) WHERE doc_id % 4 = 0), pxc AS (SELECT doc_id, (8 * y + 19) // 12 - 1 AS cy, (9 * x + 24) // 16 - 1 AS cx, sum(v) // count(*) AS gv FROM pxb GROUP BY 1, 2, 3), jc AS (SELECT doc_id, cy, cx, ((((doc_id % 167) * 31 + cy * 7 + cx * 13) % 97) % 8)::BIGINT AS gv FROM k1, generate_series(0, 7) g1(cy), generate_series(0, 8) g2(cx) WHERE doc_id % 4 = 1), cells AS (SELECT * FROM pxc UNION ALL SELECT * FROM jc), bits AS (SELECT a.doc_id, a.cy * 8 + a.cx AS idx, CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1 WHERE a.cx < 8), bands AS (SELECT doc_id, idx // 16 AS b, string_agg(bit::VARCHAR, '' ORDER BY idx) AS s FROM bits GROUP BY doc_id, idx // 16), bandc AS (SELECT doc_id, b, s FROM (SELECT *, row_number() OVER (PARTITION BY b, s ORDER BY doc_id) AS _rn FROM bands) WHERE _rn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandc a JOIN bandc b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id), ham AS (SELECT c.id_a, c.id_b, sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::BIGINT AS hamming FROM cand c JOIN bits x ON x.doc_id = c.id_a JOIN bits y ON y.doc_id = c.id_b AND y.idx = x.idx GROUP BY c.id_a, c.id_b), k2 AS (SELECT * FROM k1 WHERE doc_id NOT IN (SELECT id_b FROM ham WHERE hamming <= 3)), tok AS (SELECT doc_id, n_copies, CASE WHEN doc_id % 4 = 0 THEN 'png' WHEN doc_id % 4 = 1 THEN 'jpeg' WHEN doc_id % 4 = 2 AND doc_id % 3 = 0 THEN 'png' WHEN doc_id % 4 = 2 AND doc_id % 3 = 1 THEN 'jpeg' ELSE 'other' END AS container, (CASE WHEN doc_id % 4 = 0 THEN 1 WHEN doc_id % 4 = 1 THEN 20 WHEN doc_id % 4 = 2 AND doc_id % 3 < 2 THEN CAST(ceil((doc_id % 900 + 100) / 16.0) AS BIGINT) * CAST(ceil(((doc_id * 3) % 900 + 100) / 16.0) AS BIGINT) WHEN doc_id % 4 = 2 THEN len(string_split_regex(trim(substr(text, 1, 256)), '\s+')) ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS total_tokens, doc_id % 8 AS shard FROM k2), pc AS (SELECT *, sum(total_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total_tokens AS cum FROM tok) SELECT doc_id, container, n_copies, shard, total_tokens, (cum // 2048)::BIGINT AS pack_id, (cum % 2048)::BIGINT AS pack_offset FROM pc ORDER BY doc_id""")) { (s, d) =>
      pipelineE2e(mixedPerceptCorpus(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // the SECOND modality's perceptual near-dup pass: real RIFF/PCM
    // decode → 17-frame × 4-band integer energies → gradient bits, the
    // same hamming-block machinery; gain-ridden copies (same pat,
    // different volume) collapse exactly, and the oracle replays the
    // bits from the sample formula
    // oracle: replays the audio fingerprint bits from the SAMPLE formula: 17
    // 32-sample frames, four band energies (|s| and lag-1/2/4 abs
    // diffs, never crossing a frame edge), bit = band energy rises to
    // the next frame — then the shared banded pigeonhole + cap. The
    // engine must parse the RIFF container and re-derive every energy
    // in exact integer math to hash-match; gain cancels in the
    // comparisons just as brightness does for the image families.
    Query("mm_dedup_percept_audio", corpusGrain = true, Some(
      s"""WITH smp AS (SELECT doc_id, t, t // 32 AS f, ((doc_id // 167) % 3 + 1) * (((((doc_id % 167) * 31 + (t // 32) * 13) % 97) % 9 + 1) * ((t * 37 + (doc_id % 167) * 11) % 7 - 3)) AS s FROM documents, generate_series(0, 543) g(t)), d AS (SELECT doc_id, t, f, s, lag(s, 1) OVER (PARTITION BY doc_id ORDER BY t) AS s1, lag(s, 2) OVER (PARTITION BY doc_id ORDER BY t) AS s2, lag(s, 4) OVER (PARTITION BY doc_id ORDER BY t) AS s4 FROM smp), e AS (SELECT doc_id, f, sum(abs(s))::BIGINT AS e0, sum(CASE WHEN t % 32 >= 1 THEN abs(s - s1) ELSE 0 END)::BIGINT AS e1, sum(CASE WHEN t % 32 >= 2 THEN abs(s - s2) ELSE 0 END)::BIGINT AS e2, sum(CASE WHEN t % 32 >= 4 THEN abs(s - s4) ELSE 0 END)::BIGINT AS e3 FROM d GROUP BY doc_id, f), eb AS (SELECT doc_id, f, b.b, CASE b.b WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2 ELSE e3 END AS en FROM e, (VALUES (0), (1), (2), (3)) b(b)), bits AS (SELECT a.doc_id, a.f * 4 + a.b AS idx, CASE WHEN x.en > a.en THEN 1 ELSE 0 END AS bit FROM eb a JOIN eb x ON x.doc_id = a.doc_id AND x.b = a.b AND x.f = a.f + 1 WHERE a.f < 16), bands AS (SELECT doc_id, idx // 16 AS b, string_agg(bit::VARCHAR, '' ORDER BY idx) AS s FROM bits GROUP BY doc_id, idx // 16), bandc AS (SELECT doc_id, b, s FROM (SELECT *, row_number() OVER (PARTITION BY b, s ORDER BY doc_id) AS _rn FROM bands) WHERE _rn <= ${Dedup.defaultBucketCap}), cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bandc a JOIN bandc b ON a.b = b.b AND a.s = b.s AND a.doc_id < b.doc_id), ham AS (SELECT c.id_a, c.id_b, sum(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)::BIGINT AS hamming FROM cand c JOIN bits x ON x.doc_id = c.id_a JOIN bits y ON y.doc_id = c.id_b AND y.idx = x.idx GROUP BY c.id_a, c.id_b) SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3 ORDER BY id_a, id_b""")) { (s, d) =>
      dedupPercept(synthesizePcmWavs(Tables.documents(s, d), "doc_id"),
        hashOf = graft.functions.GraftFunctions.wavFingerprint)
        .orderBy("id_a", "id_b")
    },

    // the registered query takes the codegen path; the mapPartitions
    // typed-decode path is spec-verified equal (SimilaritySpec)
    // oracle: mirrors FakeDecoder: the fake decode is integer arithmetic on the
    // payload size, so the oracle can recompute it
    Query("mm_meta", corpusGrain = true, Some(
      """SELECT doc_id, octet_length(encode(text))::BIGINT AS blob_bytes, md5(text) AS blob_md5, (octet_length(encode(text)) + 255) // 256 AS n_chunks, 64 + octet_length(encode(text)) % 512 AS decoded_w, 64 + (octet_length(encode(text)) * 7) % 512 AS decoded_h, 1 + octet_length(encode(text)) % 8 AS frames FROM documents ORDER BY doc_id""")) { (s, d) =>
      metaExpr(withBlob(Tables.documents(s, d), "doc_id", "text"), chunkBytes = 256)
        .orderBy("doc_id")
    },

    // oracle: DuckDB lacks BLOB substring; the corpus is ASCII so char slices of
    // the VARCHAR are byte-identical to the engine's binary slices
    Query("mm_chunks", corpusGrain = true, Some(
      """WITH c AS (SELECT doc_id, unnest(range(0, ((length(text) + 63) // 64)::INT)) AS ci, text FROM documents) SELECT doc_id, ci::BIGINT AS ci, length(substr(text, (ci * 64 + 1)::INT, 64))::BIGINT AS chunk_bytes, md5(substr(text, (ci * 64 + 1)::INT, 64)) AS chunk_md5 FROM c ORDER BY doc_id, ci""")) { (s, d) =>
      chunkTable(withBlob(Tables.documents(s, d), "doc_id", "text"), chunkBytes = 64)
        .orderBy("doc_id", "ci")
    },

    Query("mm_frames", corpusGrain = true, Some(
      """WITH b AS (SELECT doc_id, length(text) AS bytes, 1 + length(text) % 8 AS frames, text FROM documents), f AS (SELECT doc_id, bytes, frames, text, unnest(range(0, frames::INT)) AS fi FROM b) SELECT doc_id, fi::BIGINT AS fi, floor((fi * bytes) / frames)::BIGINT AS frame_off, md5(substr(text, floor((fi * bytes) / frames)::INT + 1, 16)) AS frame_md5 FROM f ORDER BY doc_id, fi""")) { (s, d) =>
      frameSamples(withBlob(Tables.documents(s, d), "doc_id", "text"), frameBytes = 16)
        .orderBy("doc_id", "fi")
    },

    // real header decode: blobs synthesized with actual PNG/JPEG container
    // structure (dims encoded at spec offsets, variable-length JPEG
    // segments), parsed back by structure. The oracle states the GROUND
    // TRUTH the headers encode — the query must construct valid containers
    // AND parse them to match; MmSpec anchors the parser against fixed
    // real-file header bytes so construction and parse can't share a bug.
    // the FIFTH and SIXTH crawl image containers: standalone TIFF (both
    // byte orders, IFD walk with mixed SHORT/LONG entry types and a
    // skipped tag) and BMP (signed-height i32le arithmetic, top-down
    // flag) — native expression, scan-fused, zero shuffle
    // oracle: ground truth of the synthesized TIFF IFDs / BMP headers from
    // doc_id alone: endianness, both entry value types, and the BMP
    // signed-height convention all have to round-trip to match
    Query("mm_decode_tiff_bmp", corpusGrain = true, Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 <= 1 THEN 'tiff' WHEN doc_id % 4 = 2 THEN 'bmp' ELSE 'unknown' END AS format,
        |  CASE doc_id % 4 WHEN 0 THEN 'II' WHEN 1 THEN 'MM' END AS endian,
        |  CASE WHEN doc_id % 4 <= 2 THEN doc_id % 900 + 100 END AS width,
        |  CASE WHEN doc_id % 4 <= 2 THEN (doc_id * 3) % 900 + 100 END AS height,
        |  CASE WHEN doc_id % 4 = 2 THEN CASE WHEN doc_id % 8 = 6 THEN 1 ELSE 0 END END AS top_down
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val e = graft.functions.GraftFunctions.tiffBmpDims(col("blob"))
      synthesizeTiffBmp(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), e.as("e"))
        .select(col("doc_id"),
          coalesce(col("e.format"), lit("unknown")).as("format"),
          col("e.endian").as("endian"),
          col("e.width").as("width"), col("e.height").as("height"),
          col("e.top_down").as("top_down"))
        .orderBy("doc_id")
    },

    // charset gate over raw ingest bytes: five byte-level classes
    // (ascii / utf-8 / latin-1 / BOM'd utf-16le / NUL-bearing binary)
    // synthesized by formula — the 00 00 FF prefix pins the binary
    // class deterministically: NULs at BOTH parities rule out the
    // alternating-NUL utf-16 heuristic for ANY following payload, and
    // 0xFF can never open a valid UTF-8 sequence
    Query("mm_detect_encoding", corpusGrain = true, Some(
      """SELECT doc_id, CASE doc_id % 5 WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf-8' WHEN 2 THEN 'latin-1' WHEN 3 THEN 'utf-16le' ELSE 'binary' END AS enc FROM documents ORDER BY doc_id""")) { (s, d) =>
      val id = col("doc_id").cast("bigint")
      val v = pmod(id, lit(5))
      val ds = id.cast("string")
      val blob = when(v === 0, encode(concat(lit("Doc "), ds, lit(" plain")), "UTF-8"))
        .when(v === 1, encode(concat(lit("Doc "), ds, lit(" café—…")), "UTF-8"))
        .when(v === 2, encode(concat(lit("Doc "), ds, lit(" café")), "ISO-8859-1"))
        .when(v === 3, concat(unhex(lit("FFFE")),
          encode(concat(lit("Doc "), ds), "UTF-16LE")))
        .otherwise(concat(unhex(lit("0000FF")), unhex(md5(concat(lit("b"), ds)))))
      Tables.documents(s, d)
        .select(id.as("doc_id"), blob.as("blob"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.detectEncoding(col("blob")).as("enc"))
        .orderBy("doc_id")
    },

    // oracle: ground truth of the synthesized headers: dims derive from doc_id for
    // the png/jpeg thirds; raw-text blobs carry no container
    Query("mm_decode_meta", corpusGrain = true, Some(
      """SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'unknown' END AS format, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height FROM documents ORDER BY doc_id""")) { (s, d) =>
      decodeImageMeta(synthesizeMedia(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // little-endian RIFF/WAVE chunk walk — audio mirror of mm_decode_meta
    // oracle: ground truth of the synthesized RIFF headers, from doc_id alone
    Query("mm_decode_wav", corpusGrain = true, Some(
      """SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'wav' END AS format, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 2 + 1 END AS channels, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 8000 * (doc_id % 5 + 1) END AS sample_rate, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 8 * (doc_id % 3 + 1) END AS bits, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 250 * (doc_id % 10 + 1) END AS duration_ms FROM documents ORDER BY doc_id""")) { (s, d) =>
      decodeWavMeta(synthesizeAudio(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // the no-walk member of the decode family: GIF's mandatory-first
    // Logical Screen Descriptor at fixed spec offsets — u16le dims
    // (the third endianness/offset regime after PNG-BE and RIFF-LE),
    // version gate, GCT flag + 2^(N+1) color count
    // oracle: ground truth of the synthesized GIF headers, from doc_id alone:
    // third 0 = 89a with a 2^(id%8+1)-color GCT, 1 = 87a without,
    // 2 = raw text
    Query("mm_decode_gif", corpusGrain = true, Some(
      """SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'gif' END AS format, CASE WHEN doc_id % 3 = 0 THEN '89a' WHEN doc_id % 3 = 1 THEN '87a' END AS version, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height, CASE WHEN doc_id % 3 = 0 THEN (2 << (doc_id % 8))::BIGINT END AS gct_colors FROM documents ORDER BY doc_id""")) { (s, d) =>
      decodeGifMeta(synthesizeGif(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // RIFF chunk walk with the odd-chunk pad modeled — the FOURTH image
    // container, one query over all three published bitstream flavors
    // (VP8 lossy / VP8L lossless / VP8X extended): the engine must
    // construct valid containers AND parse each flavor's own dim
    // encoding (start-code-gated u16le, signature-gated u32le bitfield,
    // u24le canvas) to match the doc_id-derived ground truth
    // oracle: ground truth of the synthesized WebP containers, from doc_id
    // alone: quarter 0/1/2 = VP8/VP8L/VP8X with the house dim
    // formulas, quarter 3 = raw text (no container)
    Query("mm_decode_webp", corpusGrain = true, Some(
      """SELECT doc_id, CASE WHEN doc_id % 4 = 3 THEN 'unknown' ELSE 'webp' END AS format, CASE WHEN doc_id % 4 = 0 THEN 'vp8' WHEN doc_id % 4 = 1 THEN 'vp8l' WHEN doc_id % 4 = 2 THEN 'vp8x' END AS codec, CASE WHEN doc_id % 4 = 3 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 4 = 3 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height FROM documents ORDER BY doc_id""")) { (s, d) =>
      decodeWebpMeta(synthesizeWebp(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // big-endian ISO-BMFF two-level box walk — the VIDEO container: mvhd
    // duration/timescale + tkhd dims, blobs synthesized with free-box
    // placement varying by doc_id so fixed offsets cannot pass
    // oracle: ground truth of the synthesized ISO-BMFF headers, from doc_id
    // alone: the engine must construct valid nested boxes AND walk both
    // levels back to match
    Query("mm_decode_mp4", corpusGrain = true, Some(
      """SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'mp4' END AS format, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 1000 * (doc_id % 10 + 1) END AS duration_ms, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height FROM documents ORDER BY doc_id""")) { (s, d) =>
      decodeMp4Meta(synthesizeMp4(Tables.documents(s, d), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // video token budget: 1 fps frame sampling over the decoded
    // duration × 16px patch grid — the packer-facing number for clips
    // oracle: frames at 1 fps = the whole-second duration; patches off the
    // tkhd dims; unknown containers budget zero
    Query("mm_video_tokens", corpusGrain = true, Some(
      """WITH m AS (SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'mp4' END AS format, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 1000 * (doc_id % 10 + 1) END AS duration_ms, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height FROM documents) SELECT doc_id, format, duration_ms, width, height, coalesce(CAST(ceil(duration_ms / 1000.0) AS BIGINT), 0) AS sampled_frames, coalesce(CAST(ceil(width / 16.0) AS BIGINT) * CAST(ceil(height / 16.0) AS BIGINT), 0) AS tokens_per_frame, coalesce(CAST(ceil(duration_ms / 1000.0) AS BIGINT) * CAST(ceil(width / 16.0) AS BIGINT) * CAST(ceil(height / 16.0) AS BIGINT), 0) AS vision_tokens FROM m ORDER BY doc_id""")) { (s, d) =>
      videoTokens(
        decodeMp4Meta(synthesizeMp4(Tables.documents(s, d), "doc_id", "text")),
        patch = 16, fps = 1.0)
        .orderBy("doc_id")
    },

    // TRUE frame extraction through the sample table: stsz sizes + stco
    // absolute offsets, one row per sample, md5 of the mdat bytes the
    // table points at — the oracle states every offset/size/slice from
    // doc_id alone, so only a correct six-level walk can match
    // oracle: sample-table ground truth from doc_id alone: F = id%4+2 samples,
    // sz(i) = 16 + (id+i)%17, absolute offsets = the deterministic
    // header length 360+8F plus the running size sum, with both offset
    // and size CLAMPED to the payload length exactly as the muxer
    // declares them (SynthMp4Samples: the table must never point past
    // mdat); the md5 is over the SAME text slice the stco offset points
    // at inside mdat. Char-based substr == the engine's byte slice only
    // because the corpus is ASCII — a documented corpus contract.
    Query("mm_frames_mp4", corpusGrain = true, Some(
      """WITH p AS (SELECT doc_id, text, length(text) AS n, doc_id % 4 + 2 AS f FROM documents), s AS (SELECT doc_id, text, n, f, unnest(range(0, f::INT)) AS si FROM p), z AS (SELECT doc_id, text, n, f, si, 16 + (doc_id + si) % 17 AS sz FROM s), o AS (SELECT doc_id, text, n, f, si, sz, coalesce(sum(sz) OVER (PARTITION BY doc_id ORDER BY si ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rel FROM z) SELECT doc_id, si::BIGINT AS si, (360 + 8 * f + least(rel, n))::BIGINT AS sample_off, (least(rel + sz, n) - least(rel, n))::BIGINT AS sample_size, md5(substr(text, (least(rel, n) + 1)::INT, (least(rel + sz, n) - least(rel, n))::INT)) AS sample_md5 FROM o ORDER BY doc_id, si""")) { (s, d) =>
      // fixture assembly (per-doc multi-sample MP4 synthesis) is a
      // session artifact via IndexCache — the mm_frames_gif contract
      // (r15): a deployment reads MP4 bytes from storage shards, it
      // doesn't synthesize them, so the steady-state row measures the
      // six-level sample-table walk + per-sample hash alone
      mp4SampleTable(graft.IndexCache.of(s"$d|fixture|mp4samples")(
        // fan the degenerate scan out BEFORE caching so the artifact
        // itself materializes parallel (walk side pays no exchange)
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id").cast("bigint").as("doc_id"),
            graft.functions.GraftFunctions.synthMp4Samples(
              col("doc_id").cast("bigint"), col("text")).as("blob"))))
        .orderBy("doc_id", "si")
    },

    // ANIMATED-GIF frame extraction — the GIF counterpart of
    // mm_frames_mp4: a real multi-frame ImageIO sequence write, then
    // the multi-frame reader walk hashing EVERY frame through the
    // shared dHash space; the oracle states each frame's hash bits
    // from the (id, frame) formula, nibble-packed to hex, so only a
    // correct per-frame decode matches. The synthesized corpus (one
    // ImageIO multi-frame LZW ENCODE per doc — fixture assembly, not
    // the operator under test) is built ONCE per session through
    // IndexCache, the same artifact contract as the ANN list tables:
    // a deployment reads GIF bytes from storage, it doesn't encode
    // them first, so the steady-state cost is the decode walk alone
    // (tools/GifProbe publishes the synth-vs-operator split).
    // oracle: per-frame dHash ground truth from (doc_id, frame) alone:
    // F = id%3+2 frames, frame k carries pat_k = (id + 37k) mod 167;
    // the 8x8 gradient bits (idx 0 = MSB, engine pack order) are
    // nibble-packed to the 16-char uppercase hex the engine emits via
    // lpad(hex(dhash), 16, '0') — bit-exact through the LZW round trip
    Query("mm_frames_gif", corpusGrain = true, Some(
      """WITH p AS (SELECT doc_id, doc_id % 3 + 2 AS f FROM documents), fr AS (SELECT doc_id, unnest(range(0, f::INT)) AS fi FROM p), cells AS (SELECT doc_id, fi, cy, cx, ((((doc_id + 37 * fi) % 167) * 31 + cy * 7 + cx * 13) % 97) % 8 AS gv FROM fr, generate_series(0, 7) g1(cy), generate_series(0, 8) g2(cx)), bits AS (SELECT a.doc_id, a.fi, a.cy * 8 + a.cx AS idx, CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.fi = a.fi AND b.cy = a.cy AND b.cx = a.cx + 1 WHERE a.cx < 8), nib AS (SELECT doc_id, fi, idx // 4 AS ni, sum(bit * (CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS v FROM bits GROUP BY doc_id, fi, idx // 4) SELECT doc_id, fi::BIGINT AS fi, string_agg(substr('0123456789ABCDEF', (v + 1)::INT, 1), '' ORDER BY ni) AS frame_dhash_hex FROM nib GROUP BY doc_id, fi ORDER BY doc_id, fi""")) { (s, d) =>
      graft.IndexCache.of(s"$d|fixture|animgif")(
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id").cast("bigint").as("doc_id"),
            graft.functions.GraftFunctions.synthAnimGif(
              col("doc_id").cast("bigint")).as("blob")))
        .select(col("doc_id"), posexplode(
          graft.functions.GraftFunctions.gifFrameDhashes(col("blob"))))
        .select(col("doc_id"), col("pos").cast("bigint").as("fi"),
          lpad(hex(col("col")), 16, "0").as("frame_dhash_hex"))
        .orderBy("doc_id", "fi")
    },

    // INLINE-IMAGE ingest: crawl HTML carries images as base64 data
    // URIs; extract them (regex over the markup, decoys of other MIME
    // types must not match), base64-decode, and hash through the SAME
    // perceptual space as every container decoder — so an inline image
    // dedups against its file-borne re-encodes. The oracle replays each
    // image's dHash bits from the (doc_id, image-index) cell formula:
    // only a correct extract → decode → PNG-decode → hash chain matches.
    // Fixture side: 1 + doc_id%3 images per doc, pattern swept by a
    // 53-stride (coprime to 167), plus a text/plain data-URI decoy.
    // Fixture-assembly (PNG encode + base64 + HTML concat per doc) is
    // a session artifact via IndexCache, same rationale as
    // mm_frames_gif: a crawl pipeline reads HTML from shards, it
    // doesn't synthesize it, so the steady-state row measures the
    // extract → decode → hash operator alone.
    // oracle: replays each inline image's dHash bits from the swept cell
    // formula (pat = (doc_id + 53·ii) mod 167; the brightness shift
    // cancels in the gradient), nibble-packed to the engine's hex
    Query("mm_inline_images", corpusGrain = true, Some(
      """WITH p AS (SELECT doc_id, doc_id % 3 AS kmax FROM documents), im AS (SELECT doc_id, unnest(range(0, (kmax + 1)::INT))::BIGINT AS ii FROM p), cells AS (SELECT doc_id, ii, cy, cx, ((((doc_id + 53 * ii) % 167) * 31 + cy * 7 + cx * 13) % 97) % 8 AS gv FROM im, generate_series(0, 7) g1(cy), generate_series(0, 8) g2(cx)), bits AS (SELECT a.doc_id, a.ii, a.cy * 8 + a.cx AS idx, CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit FROM cells a JOIN cells b ON b.doc_id = a.doc_id AND b.ii = a.ii AND b.cy = a.cy AND b.cx = a.cx + 1 WHERE a.cx < 8), nib AS (SELECT doc_id, ii, idx // 4 AS ni, sum(bit * (CASE idx % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2 ELSE 1 END)) AS v FROM bits GROUP BY doc_id, ii, idx // 4) SELECT doc_id, ii, string_agg(substr('0123456789ABCDEF', (v + 1)::INT, 1), '' ORDER BY ni) AS dhash_hex FROM nib GROUP BY doc_id, ii ORDER BY doc_id, ii""")) { (s, d) =>
      val html = graft.IndexCache.of(s"$d|fixture|inlinehtml")(
        graft.Par.fanOut(Tables.documents(s, d), col("doc_id"))
          .select(col("doc_id").cast("bigint").as("doc_id"), col("text"))
          .select(col("doc_id"), expr(
            """concat('<html><body><p>', substring(text, 1, 40),
              |  '</p><a href="data:text/plain;base64,',
              |  base64(CAST(substring(text, 1, 16) AS BINARY)), '">t</a>',
              |  array_join(transform(sequence(0, CAST(doc_id % 3 AS INT)), k ->
              |    concat('<img alt="fig', k, '" src="data:image/png;base64,',
              |      base64(synth_cell_png(doc_id + 53 * k)), '">')), '<br>'),
              |  '</body></html>')""".stripMargin).as("html")))
      inlineImageHashes(html).orderBy("doc_id", "ii")
    },

    // JPEG EXIF decode: APP1 marker scan → TIFF header (BOTH byte
    // orders, alternating by id parity) → IFD0 + Exif sub-IFD walk.
    // Orientation is what a percept pass must normalize by; the oracle
    // states every field from doc_id's formulas, so only a correct
    // endian-aware TIFF walk matches
    // oracle: the EXIF formulas the synthesizer encodes, from doc_id alone —
    // matching requires the endian-aware TIFF walk to read them back
    Query("mm_exif", corpusGrain = true, Some(
      """SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS endian, (1 + doc_id % 8)::BIGINT AS orientation, 'GraftCam ' || (doc_id % 5)::VARCHAR AS make, '2026:01:' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') || ' ' || lpad((doc_id % 24)::VARCHAR, 2, '0') || ':00:00' AS datetime, 72::BIGINT AS pixel_x FROM documents ORDER BY doc_id""")) { (s, d) =>
      graft.Par.fanOut(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id").cast("bigint").as("doc_id"),
          graft.functions.GraftFunctions.exifMeta(
            graft.functions.GraftFunctions.synthExifJpeg(
              col("doc_id").cast("bigint"))).as("e"))
        .select(col("doc_id"), col("e.endian").as("endian"),
          col("e.orientation").as("orientation"), col("e.make").as("make"),
          col("e.datetime").as("datetime"), col("e.pixel_x").as("pixel_x"))
        .orderBy("doc_id")
    },

    // 16px ViT patch grid over the decoded dims: the vision-token budget
    Query("mm_vision_tokens", corpusGrain = true, Some(
      """WITH m AS (SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'unknown' END AS format, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE doc_id % 900 + 100 END AS width, CASE WHEN doc_id % 3 = 2 THEN NULL ELSE (doc_id * 3) % 900 + 100 END AS height FROM documents) SELECT doc_id, format, width, height, coalesce(CAST(ceil(width / 16.0) AS BIGINT), 0) AS patches_x, coalesce(CAST(ceil(height / 16.0) AS BIGINT), 0) AS patches_y, coalesce(CAST(ceil(width / 16.0) AS BIGINT) * CAST(ceil(height / 16.0) AS BIGINT), 0) AS vision_tokens FROM m ORDER BY doc_id""")) { (s, d) =>
      visionTokens(
        decodeImageMeta(synthesizeMedia(Tables.documents(s, d), "doc_id", "text")),
        patch = 16)
        .orderBy("doc_id")
    },

    // MULTIMODAL context packing: a doc costs text tokens PLUS its
    // image's vision tokens; pack the combined budget with the same
    // shard-local prefix sums as text_pack_sequences. (The test corpus
    // synthesizes the payload from the text column, so the two token
    // projections join back on doc_id; a real multimodal table carries
    // text and blob as columns of ONE row — a single scan, no join.)
    Query("mm_pack_multimodal", corpusGrain = true, Some(
      raw"""WITH t AS (SELECT doc_id, len(string_split_regex(trim(text), '\s+'))::BIGINT AS ws_tokens FROM documents), v AS (SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 0 ELSE CAST(ceil((doc_id % 900 + 100) / 16.0) AS BIGINT) * CAST(ceil(((doc_id * 3) % 900 + 100) / 16.0) AS BIGINT) END AS vision_tokens FROM documents), u AS (SELECT doc_id, ws_tokens, vision_tokens, ws_tokens + vision_tokens AS total_tokens, doc_id % 8 AS shard FROM t JOIN v USING (doc_id)), c AS (SELECT *, sum(total_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - total_tokens AS cum FROM u) SELECT doc_id, shard, ws_tokens, vision_tokens, total_tokens, (cum // 4096)::BIGINT AS pack_id, (cum % 4096)::BIGINT AS pack_offset FROM c ORDER BY doc_id""")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val text = docs.select(col("doc_id"), col("text"))
      val ws = TextOps.tokenCount(text, "text").select(col("doc_id"), col("ws_tokens"))
      val vis = visionTokens(
        decodeImageMeta(synthesizeMedia(docs, "doc_id", "text")), patch = 16)
        .select(col("doc_id"), col("vision_tokens"))
      val budgeted = ws.join(vis, "doc_id")
        .withColumn("total_tokens", col("ws_tokens") + col("vision_tokens"))
        .withColumn("shard", pmod(col("doc_id"), lit(8L)))
      TextOps.packSequences(budgeted, idCol = "doc_id", shardCol = "shard",
        tokensCol = "total_tokens", budget = 4096L)
        .select("doc_id", "shard", "ws_tokens", "vision_tokens",
          "total_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }
  )
}
