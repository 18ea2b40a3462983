package graft.operators

import graft.CkptOps

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One multimodal record: an opaque binary payload + typed metadata.
  * (The synthetic corpus has no real media, so the payload is the UTF-8
  * encoding of the document text; the *plumbing* — schema, batching,
  * partition-level decode — is the real thing.)
  */
final case class MediaBlob(doc_id: Long, media_type: String, payload: Array[Byte])

/** One sampled frame: fixed-size chunk `frame_idx` of a blob's payload
  * (`n_frames` = total chunks in the source blob).
  */
final case class MediaFrame(doc_id: Long, frame_idx: Int, n_frames: Int, frame: Array[Byte])

/** One really-decoded image: dimensions + exact per-channel pixel sums
  * (order-independent integers, so the decode output stays
  * oracle-checkable — a float mean is not).
  */
final case class DecodedImage(
    doc_id: Long, png_bytes: Long, width: Int, height: Int,
    n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

/** One really-decoded VIDEO frame (x86): the per-frame sibling of
  * [[DecodedImage]], emitted by the demux→decode composition.
  */
final case class DecodedFrame(
    doc_id: Long, frame_idx: Int, width: Int, height: Int,
    n_px: Long, sum_r: Long, sum_g: Long, sum_b: Long)

/** Multimodal-column handling: media as opaque `binary` columns with typed
  * metadata, decoded per partition in batches.
  *
  * Decode paths — ALL real now (the last stub, x14's fake video decode,
  * was retired by [[videoPixelDecode]]): [[realDecode]] (x79 — genuine
  * PNG encode→decode through the JDK's ImageIO, actual zlib-compressed
  * bytes in the middle), [[wavPcmDecode]] (x80 — real RIFF chunk walk +
  * 16-bit PCM sample statistics), [[mjpegDemux]] (x81 — entropy-scan
  * frame counting for concatenated-JPEG video), [[videoPixelDecode]]
  * (x86 — per-frame PIXEL decode of an intra-frame lossless video
  * stream: real chunk-walk demux, real ImageIO decode per frame), and
  * [[featureSummary]] (x14 — the per-media-type rollup of the three real
  * decode paths). Inter-frame codecs (H.264-class) stay out of scope —
  * no JVM-only container can honestly ship one — but their per-frame
  * statistics shape is exactly x86's. The Spark-side contract (binary
  * in, fixed-schema features out, partition-batched, no driver
  * involvement) is identical for all of them.
  */
object Multimodal {

  /** Documents → binary media column + metadata (the ingest step a real
    * pipeline would do at the edge).
    */
  def toBlobs(spark: SparkSession, docs: DataFrame): Dataset[MediaBlob] = {
    import spark.implicits._
    docs.select(col("doc_id"),
        // Deterministic fake modality from the id; real data carries its own.
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaBlob]
  }

  /** Deterministic planted image for doc `id`: dimensions and every
    * pixel's channel values are closed-form in (id, x, y), so a SQL
    * oracle can recompute the decoded sums without any codec.
    */
  private[graft] def plantedImage(id: Long): java.awt.image.BufferedImage = {
    val w = (4 + id % 13).toInt
    val h = (3 + id % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((3 * id + x) % 256).toInt
        val g = ((id + 7 * y) % 256).toInt
        val b = ((id + x + 2 * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Sum an image's channels: (sum_r, sum_g, sum_b) — the shared pixel
    * loop of x79's still path and x86's per-frame path.
    */
  private def channelSums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** x79's kernel, reusable per id-set: planted image → REAL PNG encode →
    * REAL ImageIO decode → exact channel sums.
    */
  private def decodePlantedPng(spark: SparkSession,
                               ids: Dataset[Long]): Dataset[DecodedImage] = {
    import spark.implicits._
    ids.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no /tmp spill for in-memory blobs
      it.map { id =>
        val baos = new java.io.ByteArrayOutputStream()
        if (!javax.imageio.ImageIO.write(plantedImage(id), "png", baos))
          throw new IllegalStateException("JDK PNG writer unavailable")
        val png = baos.toByteArray
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
        val (w, h) = (img.getWidth, img.getHeight)
        val (sr, sg, sb) = channelSums(img)
        DecodedImage(id, png.length.toLong, w, h, w.toLong * h, sr, sg, sb)
      }
    }
  }

  /** x79: the REAL decode path — each document becomes a genuine PNG
    * (the JDK ImageIO encoder: real zlib deflate, real chunk CRCs), and
    * the features come from genuinely DECODING those bytes back
    * (`ImageIO.read` → pixel loop). PNG is lossless, so the per-channel
    * sums are exact integers a DuckDB oracle recomputes from the plant
    * formula — an encoder/decoder that mangled any pixel, row order, or
    * channel packing hash-mismatches; `png_bytes > 57` (the minimum
    * possible PNG) pins that real compressed bytes existed in the
    * middle without depending on deflate's exact output size. Typed
    * `mapPartitions`, streaming per partition, zero driver involvement.
    * At 100 TB this is the shape that matters: the codec cost is
    * embarrassingly parallel per record, no shuffle until the (optional)
    * rollup.
    */
  def realDecode(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val decoded = decodePlantedPng(spark, docs.select(col("doc_id")).as[Long])
    decoded.toDF()
      .select(col("doc_id"), (col("png_bytes") > 57L).as("png_real"),
        col("width"), col("height"), col("n_px"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy("doc_id")
  }

  /** Frame sampling: the payload split into fixed `frameBytes` chunks
    * ("frames"), keeping every `stride`-th one — a video keyframe skim.
    * Typed flatMap: streams per partition, no driver involvement, output
    * rows carry the real frame bytes.
    */
  def sampleFrames(spark: SparkSession, blobs: Dataset[MediaBlob],
                   frameBytes: Int = 256, stride: Int = 4): Dataset[MediaFrame] = {
    import spark.implicits._
    blobs.flatMap { b =>
      val n = b.payload.length
      val nFrames = (n + frameBytes - 1) / frameBytes
      Iterator.range(0, nFrames, stride).map { i =>
        MediaFrame(b.doc_id, i, nFrames,
          java.util.Arrays.copyOfRange(b.payload, i * frameBytes, math.min(n, (i + 1) * frameBytes)))
      }
    }
  }

  /** Per-document frame-sampling summary (frame counts + sampled byte
    * volume) — the chunking runs for real; the arithmetic is
    * oracle-checkable from the text length alone.
    */
  def frameSampleSummary(spark: SparkSession, docs: DataFrame,
                         frameBytes: Int = 256, stride: Int = 4): DataFrame =
    sampleFrames(spark, toBlobs(spark, docs), frameBytes, stride).toDF()
      .groupBy(col("doc_id"))
      .agg(max(col("n_frames")).cast("bigint").as("n_frames"),
        count(lit(1)).as("n_sampled"),
        sum(length(col("frame"))).cast("bigint").as("sampled_bytes"))
      .orderBy("doc_id")

  import org.apache.spark.sql.Column

  /** 32-bit big-endian byte encoding of an integral column (PNG's int
    * layout): hex → zero-pad to 8 nibbles → bytes.
    */
  private def be32(c: Column): Column = unhex(lpad(hex(c), 8, "0"))

  /** 32/16-bit LITTLE-endian byte encodings (BMP/WAV's int layout):
    * the zero-padded hex with its byte pairs reversed.
    */
  private def le32(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    unhex(concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2)))
  }
  private def le16(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
  }

  /** Parse a big-endian u32 out of a binary column at 1-based `off`. */
  private def beU32At(payload: Column, off: Int): Column =
    conv(hex(substring(payload, off, 4)), 16, 10).cast("bigint")

  /** Parse little-endian u32/u16 at 1-based `off` (reverse the hex pairs). */
  private def leU32At(payload: Column, off: Int): Column = {
    val h = hex(substring(payload, off, 4))
    conv(concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2)),
      16, 10).cast("bigint")
  }
  private def leU16At(payload: Column, off: Int): Column = {
    val h = hex(substring(payload, off, 2))
    conv(concat(substring(h, 3, 2), substring(h, 1, 2)), 16, 10).cast("bigint")
  }

  /** x60 corpus: each document's text re-framed as a REAL media container
    * — a PNG, BMP, or WAV header (by doc_id mod 3) with deterministic
    * planted dimensions/audio params, followed by the text bytes as body.
    * The headers follow the actual formats byte for byte over the parsed
    * region (every real PNG opens sig+IHDR-len+IHDR+w+h exactly like
    * this; BMP's BITMAPINFOHEADER puts LE width/height at offsets 19/23;
    * WAV's canonical fmt chunk puts LE channels/sample-rate at 23/25), so
    * [[sniffMedia]] is a genuine format parser, not a toy — CRCs and
    * trailing chunk structure are the (documented) stub boundary.
    */
  private[graft] def plantedMediaCorpus(docs: DataFrame): DataFrame = {
    val w = (lit(16) + col("doc_id") % 509).cast("int")
    val h = (lit(16) + (col("doc_id") * 7) % 509).cast("int")
    val sr = (lit(8000) + (col("doc_id") % 8) * 4000).cast("int")
    val ch = (lit(1) + col("doc_id") % 2).cast("int")
    val body = encode(col("text"), "UTF-8")
    val png = concat(unhex(lit("89504E470D0A1A0A")), unhex(lit("0000000D")),
      encode(lit("IHDR"), "UTF-8"), be32(w), be32(h), unhex(lit("0806000000")), body)
    val bmp = concat(encode(lit("BM"), "UTF-8"), unhex(lit("000000000000000000000000")),
      le32(lit(40)), le32(w), le32(h), body)
    val wav = concat(encode(lit("RIFF"), "UTF-8"), unhex(lit("00000000")),
      encode(lit("WAVEfmt "), "UTF-8"), le32(lit(16)), le16(lit(1)), le16(ch), le32(sr), body)
    docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, png)
        .when(col("doc_id") % 3 === 1, bmp)
        .otherwise(wav).as("payload"))
  }

  /** x60: media container sniffing + header parsing as PURE columnar byte
    * expressions — magic-byte format detection, then the format's own
    * dimension/audio fields decoded from the payload (PNG big-endian,
    * BMP/WAV little-endian), no UDF and no codec library. This is the
    * metadata-extraction pass a multimodal ingest runs on billions of
    * blobs BEFORE any decode: cheap (a few header bytes per record,
    * whole-stage codegen), schema-typed, and wrong-format-safe (unknown
    * magics yield nulls, not errors). The oracle recomputes every parsed
    * field from the plant formula, so a parse that read the wrong offset
    * or endianness hash-mismatches; ExpressionsSpec pins the parser
    * against REAL file bytes (a genuine 1×1 PNG, a real BMP/WAV header).
    */
  def sniffMedia(docs: DataFrame): DataFrame =
    sniffPayloads(plantedMediaCorpus(docs))

  /** The parse itself, over any (doc_id, payload binary) frame — split
    * from [[sniffMedia]] so ExpressionsSpec can feed REAL file bytes.
    */
  private[graft] def sniffPayloads(blobs: DataFrame): DataFrame = {
    val p = col("payload")
    val fmt = when(hex(substring(p, 1, 8)) === "89504E470D0A1A0A", "png")
      .when(hex(substring(p, 1, 2)) === "424D", "bmp")
      .when(hex(substring(p, 1, 4)) === "52494646" &&
        hex(substring(p, 9, 4)) === "57415645", "wav")
      .otherwise("unknown")
    blobs.select(col("doc_id"), fmt.as("format"),
        length(p).cast("bigint").as("n_bytes"),
        when(fmt === "png", beU32At(p, 17)).when(fmt === "bmp", leU32At(p, 19)).as("width"),
        when(fmt === "png", beU32At(p, 21)).when(fmt === "bmp", leU32At(p, 23)).as("height"),
        when(fmt === "wav", leU32At(p, 25)).as("sample_rate"),
        when(fmt === "wav", leU16At(p, 23)).as("channels"))
      .orderBy("doc_id")
  }

  /** 16-bit big-endian byte encoding (JPEG's u16 layout). */
  private def be16(c: Column): Column = unhex(lpad(hex(c), 4, "0"))

  /** x78 corpus: each document re-framed as a REAL JPEG container —
    * SOI, a byte-exact JFIF APP0 segment, a COM segment whose length
    * varies with doc_id (so the SOF is NOT at a fixed offset and the
    * parser must genuinely walk the segment chain), then a fully-formed
    * SOF0 (even ids) or progressive SOF2 (odd ids) frame header carrying
    * planted u16 dimensions and a standard 3-component YCbCr layout, the
    * text bytes as stand-in entropy payload, and EOI. Every 7th doc
    * (id%7==3) is truncated to its first 20 bytes — SOI+APP0 exactly,
    * the chain cut before any SOF — so the NULL contract of a real
    * dirty-blob ingest rides the driver gate too. Scan realism beyond
    * the walked region (DHT/DQT/SOS entropy coding) is the documented
    * stub boundary, exactly like x60's CRC-less PNG.
    */
  private[graft] def plantedJpegCorpus(docs: DataFrame): DataFrame = {
    val w = (lit(100) + (col("doc_id") * 31) % 64000).cast("int")
    val h = (lit(8) + (col("doc_id") * 7) % 60000).cast("int")
    val body = encode(col("text"), "UTF-8")
    val com = body.substr(lit(1), (col("doc_id") % 40).cast("int"))
    val jpeg = concat(
      unhex(lit("FFD8")), // SOI
      unhex(lit("FFE000104A46494600010100004800480000")), // APP0: JFIF 1.1, 72 dpi
      unhex(lit("FFFE")), be16(length(com) + 2), com, // COM, variable length
      when(col("doc_id") % 2 === 0, unhex(lit("FFC0"))).otherwise(unhex(lit("FFC2"))),
      unhex(lit("0011")), unhex(lit("08")), be16(h), be16(w), // len 17, 8-bit, dims
      unhex(lit("03012200021101031101")), // 3 components, 4:2:0 YCbCr
      body, unhex(lit("FFD9"))) // payload + EOI
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 3, jpeg.substr(lit(1), lit(20))).otherwise(jpeg).as("payload"))
  }

  /** x78: JPEG dimensions via the [[graft.functions.ArrayExpressions
    * .JpegSofDim]] SOF-marker walk — the dominant web-image format's
    * genuine codec path, as a whole-stage-codegen byte kernel (no UDF,
    * no image library). The oracle recomputes width/height/byte-count
    * from the plant formulas, so a walk that mis-skipped one segment,
    * read the wrong endianness, or failed the truncation NULL contract
    * hash-mismatches; ExpressionsSpec pins the parser against bytes from
    * a REAL encoder (`javax.imageio` output parsed exactly).
    */
  def jpegDims(docs: DataFrame): DataFrame = {
    plantedJpegCorpus(docs)
      .select(col("doc_id"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        graft.functions.ArrayExpressions.jpegWidth(col("payload")).as("width"),
        graft.functions.ArrayExpressions.jpegHeight(col("payload")).as("height"))
      .orderBy("doc_id")
  }

  /** x80 corpus: each document re-framed as a fully VALID 16-bit PCM
    * WAV — correct RIFF/data sizes (unlike x60's header-only stub), a
    * LIST chunk of doc_id-varying length (with the RIFF odd-size pad
    * byte when needed) sitting between `fmt ` and `data` so the parser
    * must genuinely walk chunks, and `50 + doc_id % 100` samples whose
    * values are closed-form in (doc_id, i) — so a SQL oracle recomputes
    * the decoded statistics exactly. Every doc with id%9==4 is truncated
    * mid-`fmt ` (first 30 bytes), pinning the NULL contract through the
    * driver gate.
    */
  private[graft] def plantedWavCorpus(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("n_s", (lit(50) + col("doc_id") % 100).cast("int"))
      .withColumn("k", (col("doc_id") % 21).cast("int"))
    val body = encode(col("text"), "UTF-8")
    val junk = body.substr(lit(1), col("k"))
    val junkPad = when(col("k") % 2 === 1, unhex(lit("00"))).otherwise(unhex(lit("")))
    // little-endian 16-bit samples, v(i) = (doc_id*31 + i*7) mod 65536
    val samples = unhex(expr(
      "array_join(transform(sequence(0, n_s - 1), i -> concat(" +
        "substring(lpad(hex((doc_id * 31 + i * 7) % 65536), 4, '0'), 3, 2), " +
        "substring(lpad(hex((doc_id * 31 + i * 7) % 65536), 4, '0'), 1, 2))), '')"))
    // RIFF size counts from "WAVE": 4 + fmt(24) + LIST(8+k+pad) + data(8+2n)
    val riffSize = lit(44) + col("k") + (col("k") % 2) + lit(2) * col("n_s")
    val wav = concat(
      encode(lit("RIFF"), "UTF-8"), le32(riffSize),
      encode(lit("WAVEfmt "), "UTF-8"), le32(lit(16)),
      le16(lit(1)), le16(lit(1)), le32(lit(8000)), le32(lit(16000)),
      le16(lit(2)), le16(lit(16)), // PCM, mono, 8 kHz, 16-bit
      encode(lit("LIST"), "UTF-8"), le32(length(junk)), junk, junkPad,
      encode(lit("data"), "UTF-8"), le32(lit(2) * col("n_s")), samples)
    base.select(col("doc_id"),
      when(col("doc_id") % 9 === 4, wav.substr(lit(1), lit(30))).otherwise(wav).as("payload"))
  }

  /** x80: REAL audio decode — PCM samples ARE the decoded signal, so
    * parsing the RIFF chunk chain and reading every 16-bit LE sample is
    * the genuine WAV decode (the audio sibling of x79's image path),
    * done by the [[graft.functions.ArrayExpressions.WavPcmStats]]
    * codegen kernel: one pass over the payload bytes inside whole-stage
    * codegen, no UDF, no audio library. Ships the order-independent
    * exact integers (count/sum/sum-of-squares/min/max — RMS and peak
    * derive from them); the oracle recomputes all five from the plant
    * formula, and truncated blobs must surface as NULLs, not errors.
    */
  def wavPcmDecode(docs: DataFrame): DataFrame = {
    val st = graft.functions.ArrayExpressions.wavPcmStats(col("payload"))
    plantedWavCorpus(docs)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_samples"),
        element_at(col("st"), 2).as("sum_s"),
        element_at(col("st"), 3).as("sum_sq"),
        element_at(col("st"), 4).as("s_min"),
        element_at(col("st"), 5).as("s_max"))
      .orderBy("doc_id")
  }

  /** x81 corpus: each document re-framed as an MJPEG stream — `1 +
    * doc_id % 4` complete JPEG frames back to back, every frame a full
    * SOI→APP0→SOF→SOS→entropy→EOI chain with per-frame planted
    * dimensions (closed-form in doc_id and the frame index), entropy
    * data that contains an explicit stuffed byte (`FF 00`), a restart
    * marker (`FF D1`), and the document's text bytes (UTF-8 can never
    * produce `FF`, so the planted scans are valid by construction).
    * Baseline/progressive SOF alternates per frame. Every doc with
    * id%11==7 truncates to 25 bytes (mid-header), pinning NULL.
    */
  private[graft] def plantedMjpegCorpus(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("nf", (lit(1) + col("doc_id") % 4).cast("int"))
      .withColumn("b", encode(col("text"), "UTF-8"))
    val mjpeg = unhex(expr(
      "array_join(transform(sequence(0, nf - 1), j -> concat(" +
        "'FFD8', 'FFE000104A46494600010100004800480000', " +
        "CASE WHEN (doc_id + j) % 2 = 0 THEN 'FFC0' ELSE 'FFC2' END, '001108', " +
        "lpad(hex(10 + (doc_id * 2 + j * 3) % 200), 4, '0'), " +
        "lpad(hex(20 + (doc_id + j * 5) % 300), 4, '0'), " +
        "'03012200021101031101', 'FFDA000C03011102110311003F00', " +
        "'AAFF00BB', hex(substr(b, 1, 10 + j * 7)), 'CCFFD1DD', 'FFD9')), '')"))
    base.select(col("doc_id"),
      when(col("doc_id") % 11 === 7, mjpeg.substr(lit(1), lit(25))).otherwise(mjpeg)
        .as("payload"))
  }

  /** x81: MJPEG video demux — the real work of a video ingest for the
    * one format whose frames decode independently: per-record frame
    * COUNT and first/last frame dimensions, which cannot be read
    * without correctly scanning every preceding frame's entropy stream
    * (byte stuffing, restart markers, EOI detection — the
    * [[graft.functions.ArrayExpressions.MjpegStats]] codegen kernel).
    * With x78 (JPEG stills), x79 (real pixel decode), and x80 (real
    * audio decode), this closes the multimodal family's parsing
    * surface; only inter-frame codecs (H.264-class) stay out of scope,
    * which no JVM-only container could honestly ship. Oracle: frame
    * count and dims replay from the plant formulas; truncation → NULL.
    */
  def mjpegDemux(docs: DataFrame): DataFrame = {
    val st = graft.functions.ArrayExpressions.mjpegStats(col("payload"))
    plantedMjpegCorpus(docs)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_frames"),
        element_at(col("st"), 2).as("first_w"),
        element_at(col("st"), 3).as("first_h"),
        element_at(col("st"), 4).as("last_w"),
        element_at(col("st"), 5).as("last_h"))
      .orderBy("doc_id")
  }

  /** Metadata-only pass (no decode): byte length + content hash per blob —
    * pure columnar, oracle-checkable.
    */
  def blobMeta(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast("bigint").as("n_bytes"),
        md5(col("payload")).as("content_md5"))
      .orderBy("doc_id")

  /** x86 corpus: each document re-framed as an intra-frame LOSSLESS video
    * stream — `1 + doc_id % 3` REAL PNG frames (the JDK encoder: genuine
    * zlib deflate, genuine chunk CRCs) concatenated back to back, frame
    * `j` planted from the closed-form [[plantedImage]] formula at
    * `fid = doc_id·4 + j`. Losslessness is what makes per-frame PIXEL
    * sums oracle-recomputable — the reason the stream is M-PNG rather
    * than MJPEG, whose DCT quantization has no closed form (x81 covers
    * the MJPEG container walk; MultimodalSpec composes the two on real
    * ImageIO JPEG frames with a lossy tolerance). Every doc with
    * id%13==5 truncates to 10 bytes (signature + 2), pinning the
    * dirty-blob contract: a cut stream must decode to ZERO frames, not
    * an error.
    */
  private[graft] def plantedVideoCorpus(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { id =>
        val nf = (1 + id % 3).toInt
        val baos = new java.io.ByteArrayOutputStream()
        var j = 0
        while (j < nf) {
          if (!javax.imageio.ImageIO.write(plantedImage(id * 4 + j), "png", baos))
            throw new IllegalStateException("JDK PNG writer unavailable")
          j += 1
        }
        val full = baos.toByteArray
        val payload =
          if (id % 13 == 5) java.util.Arrays.copyOf(full, math.min(10, full.length))
          else full
        (id, payload)
      }
    }.toDF("doc_id", "payload")
  }

  private val PngSig =
    Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)

  private def isPngSigAt(p: Array[Byte], off: Int): Boolean = {
    if (off + 8 > p.length) return false
    var i = 0
    while (i < 8) { if (p(off + i) != PngSig(i)) return false; i += 1 }
    true
  }

  /** End offset (exclusive) of the PNG starting at `off`, by genuinely
    * walking the chunk chain (4-byte BE length + 4-byte type + data +
    * 4-byte CRC) to IEND — the structural demux a concatenated-stream
    * container needs; a signature scan alone could be fooled by the 8
    * magic bytes appearing inside compressed IDAT data. Returns -1 on a
    * truncated / structurally broken stream.
    */
  private def pngEndAt(p: Array[Byte], off: Int): Int = {
    var i = off + 8
    while (i + 8 <= p.length) {
      val len = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
        ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
      if (len < 0) return -1
      val isEnd = p(i + 4) == 'I' && p(i + 5) == 'E' && p(i + 6) == 'N' && p(i + 7) == 'D'
      val next = i.toLong + 12L + len
      if (next > p.length) return -1
      i = next.toInt
      if (isEnd) return i
    }
    -1
  }

  /** x86: VIDEO pixel decode — the composition x81 (container demux) ∘
    * x79 (real per-image pixel decode), runnable end to end because the
    * stream's intra-frame codec is lossless: walk the concatenated-PNG
    * chunk structure to cut exact frame boundaries, `ImageIO.read` each
    * frame's real compressed bytes, and emit exact per-frame channel
    * sums (order-independent integers). One row per decoded frame;
    * truncated/corrupt tails stop the walk, so dirty blobs contribute
    * zero rows and the oracle's id%13 WHERE clause pins exactly that.
    * Typed `mapPartitions` end to end — per-record parallel decode, no
    * shuffle before the terminal sort, the x79 scaling shape.
    */
  def videoPixelDecode(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val frames = plantedVideoCorpus(spark, docs).as[(Long, Array[Byte])]
      .flatMap { case (docId, payload) =>
        javax.imageio.ImageIO.setUseCache(false)
        val out = scala.collection.mutable.ArrayBuffer.empty[DecodedFrame]
        var off = 0
        var idx = 0
        var halt = false
        while (!halt && isPngSigAt(payload, off)) {
          val end = pngEndAt(payload, off)
          if (end < 0) halt = true
          else {
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(
                java.util.Arrays.copyOfRange(payload, off, end)))
            if (img != null) {
              val (sr, sg, sb) = channelSums(img)
              out += DecodedFrame(docId, idx, img.getWidth, img.getHeight,
                img.getWidth.toLong * img.getHeight, sr, sg, sb)
            }
            idx += 1
            off = end
          }
        }
        out
      }
    frames.toDF().orderBy("doc_id", "frame_idx")
  }

  /** x99: video THUMBNAILING — temporal frame-sampling (every 2nd frame)
    * composed with 2× nearest-neighbor spatial decimation over REALLY
    * decoded pixels: the decode → frame-sample → resize chain a
    * multimodal training pipeline runs to turn raw video into
    * fixed-budget visual tokens. Same demux + per-frame ImageIO decode
    * as [[videoPixelDecode]] (x86); the thumbnail keeps pixels at even
    * (x, y) of the kept frames — thumb dims ⌈w/2⌉ × ⌈h/2⌉ — and emits
    * their exact channel sums, so the lossless plant makes even the
    * RESIZED output oracle-recomputable (the oracle re-derives every
    * sampled pixel's planted value in closed form; nearest-neighbor is
    * the one resampling kernel with no float arithmetic to drift).
    * Typed `mapPartitions`, per-record parallel, no shuffle before the
    * terminal sort — x86's scaling shape with strictly less output.
    */
  def videoThumbnails(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val frames = plantedVideoCorpus(spark, docs).as[(Long, Array[Byte])]
      .flatMap { case (docId, payload) =>
        javax.imageio.ImageIO.setUseCache(false)
        val out = scala.collection.mutable.ArrayBuffer.empty[DecodedFrame]
        var off = 0
        var idx = 0
        var halt = false
        while (!halt && isPngSigAt(payload, off)) {
          val end = pngEndAt(payload, off)
          if (end < 0) halt = true
          else {
            if (idx % 2 == 0) { // temporal sampling BEFORE the decode cost
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(
                  java.util.Arrays.copyOfRange(payload, off, end)))
              if (img != null) {
                val (w, h) = (img.getWidth, img.getHeight)
                val (tw, th) = ((w + 1) / 2, (h + 1) / 2)
                var (sr, sg, sb) = (0L, 0L, 0L)
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) {
                    val rgb = img.getRGB(x, y)
                    sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
                    x += 2
                  }
                  y += 2
                }
                out += DecodedFrame(docId, idx, tw, th, tw.toLong * th, sr, sg, sb)
              }
            }
            idx += 1
            off = end
          }
        }
        out
      }
    frames.toDF().orderBy("doc_id", "frame_idx")
  }

  /** x14: full decode pipeline rolled up per media type — every blob
    * routed to its REAL decoder (the deterministic-fake decode stub this
    * row shipped through round 13 is gone): images through x79's PNG
    * encode→decode, audio through x80's RIFF walk + PCM read, video
    * through x86's demux→per-frame decode. The rollup counts decoded
    * units (pixels / samples / pixels-across-frames) and their exact
    * integer value sums, so the whole pipeline stays hash-gated — the
    * oracle recomputes every column from the plant formulas. Truncated
    * blobs (audio id%9==4, video id%13==5) are DROPPED, not errors —
    * n_blobs counts what actually decoded, and the oracle replays the
    * same exclusions.
    */
  def featureSummary(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val image = decodePlantedPng(spark,
        docs.filter(col("doc_id") % 3 === 0).select(col("doc_id")).as[Long]).toDF()
      .select(lit("image").as("media_type"),
        col("n_px").as("n_units"),
        (col("sum_r") + col("sum_g") + col("sum_b")).as("unit_sum"))
    val audio = plantedWavCorpus(docs.filter(col("doc_id") % 3 === 1))
      .select(col("doc_id"),
        graft.functions.ArrayExpressions.wavPcmStats(col("payload")).as("st"))
      .filter(col("st").isNotNull) // truncated blobs: dropped, not failed
      .select(lit("audio").as("media_type"),
        element_at(col("st"), 1).as("n_units"),
        element_at(col("st"), 2).as("unit_sum"))
    val video = videoPixelDecode(spark, docs.filter(col("doc_id") % 3 === 2))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_px")).as("n_units"),
        sum(col("sum_r") + col("sum_g") + col("sum_b")).as("unit_sum"))
      .select(lit("video").as("media_type"), col("n_units"), col("unit_sum"))
    image.unionByName(audio).unionByName(video)
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_blobs"),
        sum(col("n_units")).cast("bigint").as("n_units"),
        sum(col("unit_sum")).cast("bigint").as("unit_sum"))
      .orderBy("media_type")
  }

  /** x64 corpus: every doc's payload, plus a PLANTED perturbed twin for
    * every 5th doc (id + 100000) whose trailing ~1/16 of bytes are
    * rewritten — the x54 planted-probe protocol applied to media: the raw
    * corpus has no truly near (not identical) payloads, so the twins make
    * the near-dup path carry real recall, and the plant is deterministic
    * text arithmetic the oracle replays character-for-character. The
    * byte/char equivalence that replay depends on is GUARDED, not
    * assumed: a non-single-byte character would make the engine's byte
    * sampling diverge from the oracle's char sampling, so it aborts
    * loudly instead.
    */
  private[graft] def plantedAhashCorpus(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"),
      when(octet_length(col("text")) =!= length(col("text")),
          raise_error(lit("x64 requires single-byte (ASCII) text — " +
            "byte sampling and the oracle's char replay would diverge")))
        .otherwise(col("text")).as("text"))
    val twins = src.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        expr("concat(substr(text, 1, length(text) - greatest(1, length(text) div 16)), " +
          "repeat('z', greatest(1, length(text) div 16)))").as("text"))
    src.unionByName(twins)
  }

  /** x64: perceptual-hash (aHash) near-duplicate pairs over BINARY media
    * payloads — image dedup as a pipeline operator. Fingerprint = the
    * fused [[graft.functions.ArrayExpressions.AHash64]] kernel over the
    * payload bytes (on real media: the decoded luminance plane); pair
    * generation is the Manku-style banded Hamming join the simhash
    * operators use — 4×16-bit bands guarantee recall 1 at Hamming ≤ 3,
    * candidates are bounded by band-bucket occupancy (never all-pairs),
    * and the Hamming check runs INSIDE the join condition so failing
    * candidates never leave the probe loop. Integer-exact end to end:
    * sample → mean-threshold → band → xor/popcount all replay in DuckDB.
    */
  def ahashNearDupPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands guarantee recall 1 only up to Hamming distance 3")
    val spark = docs.sparkSession
    val hashed = graft.spreadNarrow(plantedAhashCorpus(docs)
      .select(col("doc_id"),
        graft.functions.ArrayExpressions.ahash64(encode(col("text"), "UTF-8")).as("ahash64")),
      col("doc_id"))
      .select(col("doc_id"), col("ahash64"),
        explode(array((0 until 4).map(b =>
          lit(b.toLong * 65536L) +
            expr(s"shiftright(ahash64, ${48 - 16 * b}) & 65535")): _*)).as("band"))
      .ckpt()
    val a = hashed.select(col("band").as("ba"), col("doc_id").as("doc_a"), col("ahash64").as("ha"))
    val b = hashed.select(col("band").as("bb"), col("doc_id").as("doc_b"), col("ahash64").as("hb"))
    a.join(b, col("ba") === col("bb") && col("doc_a") < col("doc_b") &&
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).as("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }
}
