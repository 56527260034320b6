package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** The REAL image-codec path (JDK ImageIO) behind the multimodal
  * mapPartitions batch shape: lossless PNG round-trip geometry/pixel
  * recovery, corrupt-blob isolation, and the graded query against an
  * independent from-text reconstruction. */
class ImageCodecSpec extends SparkTestBase {

  private def pngBytes(w: Int, h: Int, samples: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, w, h, 0, samples)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("PNG encode→decode round-trip recovers geometry and pixel sum") {
    import spark.implicits._
    val samples = Array.tabulate(64)(identity)
    val media = Seq(
      Multimodal.MediaRow(7L, pngBytes(32, 2, samples), "image/png")).toDS()
    val out = Multimodal.decodeImages(media).collect()
    assert(out.length == 1)
    val d = out.head
    assert(d.width == 32L && d.height == 2L && d.n_channels == 1L)
    assert(d.pixel_sum == samples.sum.toLong)
  }

  test("undecodable blobs drop their row, not the job") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, Array[Byte](1, 2, 3, 4), "application/junk"),
      Multimodal.MediaRow(2L, pngBytes(4, 1, Array(9, 9, 9, 9)), "image/png")
    ).toDS()
    val out = Multimodal.decodeImages(media).collect()
    assert(out.map(_.media_id).toSeq == Seq(2L))
    assert(out.head.pixel_sum == 36L)
  }

  test("mm_decode_png matches an independent from-text reconstruction") {
    val got = SparkEntry.queries("mm_decode_png")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val expected = graft.core.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("b"))
      .collect()
      .flatMap { r =>
        val b = r.getAs[Array[Byte]]("b")
        val h = math.min(b.length / 32, 8)
        if (h < 1) None
        else Some((r.getLong(0), 32L, h.toLong, 1L,
          b.take(32 * h).map(x => (x & 0xff).toLong).sum))
      }.toSet
    assert(expected.nonEmpty, "fixture should yield at least one image")
    assert(got == expected)
  }

  test("JPEG round-trip: exact geometry, sniffed dispatch, bounded error") {
    // A lossy codec cannot promise pixel equality; it CAN promise
    // geometry and an error budget. The fixture corpus is the worst
    // case for a DCT (high-frequency ASCII noise), so the empirical
    // band here is the evidence behind JpegTolerance.
    val rt = Multimodal.jpegRoundTrip(spark, sf).collect()
    assert(rt.nonEmpty)
    rt.foreach { d =>
      assert(d.width == 32L && d.n_channels == 1L && d.height >= 1L)
      assert(d.mean_abs_err >= 0.0 &&
        d.mean_abs_err <= Multimodal.JpegTolerance,
        s"media ${d.media_id}: mean_abs_err ${d.mean_abs_err} above " +
          s"budget ${Multimodal.JpegTolerance}")
    }
    // error must be genuinely lossy-nonzero somewhere, or the test
    // silently degraded to the PNG path (wrong codec dispatched)
    assert(rt.exists(_.mean_abs_err > 0.0),
      "all-zero error: JPEG encode was lossless — plugin dispatch suspect")
    // the graded projection agrees with the oracle's expectation shape
    val graded = SparkEntry.queries("mm_decode_jpeg")(spark, sf).collect()
    assert(graded.length == rt.length)
    assert(graded.forall(_.getAs[Boolean]("within_tol")))
  }

  test("JPEG blobs carry the SOI magic and decode via format sniffing") {
    import spark.implicits._
    // encode one known image through the jpg writer, then hand the
    // bare bytes to decodeImages (no format hint anywhere): the reader
    // must be selected by content sniffing.
    val img = new java.awt.image.BufferedImage(
      8, 2, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, 8, 2, 0, Array.fill(16)(128))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val bytes = bos.toByteArray
    assert((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
      "missing JPEG SOI marker — jpg writer not dispatched")
    val out = Multimodal.decodeImages(
      Seq(Multimodal.MediaRow(1L, bytes, "image/jpeg")).toDS()).collect()
    assert(out.length == 1 && out.head.width == 8L && out.head.height == 2L)
  }

  test("mm_phash matches a from-text aHash replica through the codec") {
    val out = SparkEntry.queries("mm_phash")(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("y")) ->
        (r.getAs[Long]("row_sum"), r.getAs[Long]("row_hash"))).toMap
    assert(out.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    docs.foreach { case (id, text) =>
      val h = math.min(text.length / 32, 8)
      if (h < 1) assert(!out.exists(_._1._1 == id))
      else {
        val px = text.take(32 * h).map(_.toLong)
        val total = px.sum
        (0 until h).foreach { y =>
          val row = px.slice(y * 32, y * 32 + 32)
          val hash = (0 until 8).map { x =>
            val cs = row.slice(4 * x, 4 * x + 4).sum
            if (cs * 8 * h > total) 1L << x else 0L
          }.sum
          assert(out((id, y.toLong)) == ((row.sum, hash)),
            s"doc $id row $y")
          checked += 1
        }
      }
    }
    assert(checked == out.size)
    // every row hash stays within its 8 bits
    out.values.foreach { case (_, rh) => assert(rh >= 0L && rh <= 255L) }
  }

  test("phashBands (codec-free blocker input) agrees with the " +
      "phashImages codec path bit-for-bit") {
    // mm_phash_neardup hashes straight from the blob bytes — valid
    // only because the grayscale PNG round-trip is byte-exact. This
    // pins the contract: every 16-bit verify band equals the value
    // reconstructed from the codec path's per-row aHashes, for every
    // full-height image, and at q=0 the blocking key IS that band.
    val media = Multimodal.mediaFromDocuments(spark, sf)
    val direct = Multimodal.phashBands(media, 0).collect()
      .map(r => (r.media_id, r.band) -> (r.averify, r.bkey)).toMap
    val codec = Multimodal.phashImages(media).collect()
      .groupBy(_.media_id).filter(_._2.map(_.y).max == 7L)
    assert(direct.nonEmpty && codec.nonEmpty)
    assert(direct.keySet.map(_._1) == codec.keySet)
    codec.foreach { case (id, rows) =>
      val rh = rows.sortBy(_.y).map(_.row_hash)
      (0 until 4).foreach { j =>
        val expected = rh(2 * j) + (rh(2 * j + 1) << 8)
        assert(direct((id, j.toLong)) == ((expected, expected)),
          s"media $id band $j")
      }
    }
  }
}
