package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The video-decode surface (x86) and the literal x81∘x79 composition on
  * REAL JPEG bytes.
  *
  * x86's ledger row runs demux→decode over a lossless (M-PNG) stream so
  * the oracle can recompute pixel sums in closed form. This suite closes
  * the remaining honesty gap: the same composition over genuinely
  * ImageIO-ENCODED JPEG frames — real DQT/DHT/SOF/SOS segments, real
  * entropy data with byte stuffing — where the MjpegStats kernel must
  * demux correctly and the per-frame ImageIO decode must reproduce the
  * planted image up to JPEG's (DC-preserving) quantization.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def realJpeg(id: Long): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(
      graft.operators.Multimodal.plantedImage(id), "jpg", baos),
      "JDK JPEG writer unavailable")
    baos.toByteArray
  }

  /** Split a concatenated-JPEG stream at EOI markers, honoring FF00 byte
    * stuffing and FFD0-D7 restart markers (both must NOT terminate a
    * frame) — the test-side reference demux the kernel is checked
    * against.
    */
  private def splitJpegs(p: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var start = 0
    var i = 0
    while (i + 1 < p.length) {
      if ((p(i) & 0xff) == 0xFF && (p(i + 1) & 0xff) == 0xD9) {
        out += java.util.Arrays.copyOfRange(p, start, i + 2)
        start = i + 2
        i += 2
      } else i += 1
    }
    out.toSeq
  }

  test("x81 kernel demuxes REAL ImageIO-encoded JPEG frames (not just the planted stream)") {
    import spark.implicits._
    val ids = Seq(3L, 17L, 40L)
    val stream = ids.flatMap(realJpeg).toArray
    val st = Seq(Tuple1(stream)).toDF("payload")
      .select(graft.functions.ArrayExpressions.mjpegStats(col("payload")).as("st"))
      .head().getAs[scala.collection.Seq[Long]]("st")
    assert(st(0) == ids.length, s"frame count on real JPEG stream: got ${st(0)}")
    // first/last dims from the plant formula (SOF parse on real encoder bytes)
    assert(st(1) == 4 + ids.head % 13 && st(2) == 3 + ids.head % 7, "first frame dims")
    assert(st(3) == 4 + ids.last % 13 && st(4) == 3 + ids.last % 7, "last frame dims")
  }

  test("x81∘x79 on real JPEG: every demuxed frame ImageIO-decodes to the planted dims + DC-close means") {
    val ids = Seq(5L, 23L, 64L, 111L)
    val stream = ids.flatMap(realJpeg).toArray
    val frames = splitJpegs(stream)
    assert(frames.length == ids.length)
    frames.zip(ids).foreach { case (bytes, id) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"frame $id must decode")
      val (w, h) = ((4 + id % 13).toInt, (3 + id % 7).toInt)
      assert(img.getWidth == w && img.getHeight == h)
      // lossy tolerance: JPEG preserves block DC, so per-channel means of
      // the decoded frame sit near the plant's exact means
      var (sr, sg, sb) = (0L, 0L, 0L)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xFF; sg += (rgb >> 8) & 0xFF; sb += rgb & 0xFF
        er += (3 * id + x) % 256; eg += (id + 7 * y) % 256; eb += (id + x + 2 * y) % 256
      }
      val n = (w * h).toDouble
      assert(math.abs(sr / n - er / n) < 24, s"frame $id mean R drift")
      assert(math.abs(sg / n - eg / n) < 24, s"frame $id mean G drift")
      assert(math.abs(sb / n - eb / n) < 24, s"frame $id mean B drift")
    }
  }

  test("x86 videoPixelDecode: exact per-frame sums on a hand-checked doc; truncation → zero rows") {
    import spark.implicits._
    // id 2 → 3 frames; id 18 → 1 frame (18 % 13 == 5 → truncated, must vanish)
    val docs = Seq((2L, "t"), (18L, "t")).toDF("doc_id", "text")
    val rows = graft.operators.Multimodal.videoPixelDecode(spark, docs).collect()
    assert(rows.forall(_.getAs[Long]("doc_id") == 2L), "truncated doc 18 leaked rows")
    assert(rows.length == 3)
    rows.foreach { r =>
      val fid = 2L * 4 + r.getAs[Int]("frame_idx")
      val (w, h) = ((4 + fid % 13).toInt, (3 + fid % 7).toInt)
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        er += (3 * fid + x) % 256; eg += (fid + 7 * y) % 256; eb += (fid + x + 2 * y) % 256
      }
      assert(r.getAs[Long]("sum_r") == er, s"fid $fid sum_r")
      assert(r.getAs[Long]("sum_g") == eg, s"fid $fid sum_g")
      assert(r.getAs[Long]("sum_b") == eb, s"fid $fid sum_b")
    }
  }

  test("x99 videoThumbnails: even frames only, ceil-half dims, exact strided sums; truncation → zero rows") {
    import spark.implicits._
    // id 2 → frames 0,1,2 → thumbnail keeps 0 and 2; id 18 truncated, vanishes
    val docs = Seq((2L, "t"), (18L, "t")).toDF("doc_id", "text")
    val rows = graft.operators.Multimodal.videoThumbnails(spark, docs).collect()
    assert(rows.forall(_.getAs[Long]("doc_id") == 2L), "truncated doc 18 leaked rows")
    assert(rows.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2), "odd frame not sampled out")
    rows.foreach { r =>
      val fid = 2L * 4 + r.getAs[Int]("frame_idx")
      val (w, h) = ((4 + fid % 13).toInt, (3 + fid % 7).toInt)
      val (tw, th) = ((w + 1) / 2, (h + 1) / 2)
      assert(r.getAs[Int]("width") == tw && r.getAs[Int]("height") == th)
      assert(r.getAs[Long]("n_px") == tw.toLong * th)
      var (er, eg, eb) = (0L, 0L, 0L)
      for (y <- 0 until h by 2; x <- 0 until w by 2) {
        er += (3 * fid + x) % 256; eg += (fid + 7 * y) % 256; eb += (fid + x + 2 * y) % 256
      }
      assert(r.getAs[Long]("sum_r") == er && r.getAs[Long]("sum_g") == eg &&
        r.getAs[Long]("sum_b") == eb, s"fid $fid strided sums")
    }
  }

  test("x14 featureSummary: three media types, hand-checked truncation drops") {
    import spark.implicits._
    // ids 0..8: image {0,3,6}; audio {1,4,7} minus 4 (%9==4 truncated);
    // video {2,5,8} minus 5 (%13==5 truncated)
    val docs = (0L to 8L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val rows = graft.operators.Multimodal.featureSummary(spark, docs).collect()
    val byType = rows.map(r => r.getAs[String]("media_type") -> r.getAs[Long]("n_blobs")).toMap
    assert(byType == Map("image" -> 3L, "audio" -> 2L, "video" -> 2L))
  }
}
