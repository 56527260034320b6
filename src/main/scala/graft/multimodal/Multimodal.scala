package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.core.Tables

/** Multimodal column handling: media as opaque `binary` columns with
  * typed metadata, processed with per-partition batch functions.
  *
  * Codec story, in two tiers:
  *  - PNG/JPEG decode is REAL — the JDK ships ImageIO, so
  *    [[decodeImages]] runs an actual image decode (and
  *    [[pngMediaFromDocuments]] an actual encode) with zero extra
  *    dependencies; `mm_decode_png` grades decoded width/height/
  *    channel/pixel stats against the oracle through a lossless
  *    round-trip.
  *  - Audio/video codecs are not in this environment, so that decode
  *    is a clearly marked deterministic STUB — but the Spark-side
  *    plumbing is real and tested: schema (binary + metadata struct),
  *    partition-batched processing via mapPartitions (the Scala
  *    analogue of mapInPandas: one batch iterator per partition, no
  *    per-row serialization round-trips), feature extraction into
  *    `array<float>` ready for the LlmVectors similarity path, and
  *    stride-based frame sampling.
  *
  * Scale notes: media blobs dominate row width, so every operator here
  * prunes the binary column as early as possible and never shuffles
  * blobs — features (tiny) shuffle instead.
  */
object Multimodal {

  /** Typed metadata carried beside the blob. */
  case class MediaMeta(format: String, nBytes: Long, checksum: Long)
  case class MediaRow(media_id: Long, content: Array[Byte], format: String)
  case class MediaFeatures(media_id: Long, nBytes: Long, checksum: Long,
      features: Array[Float])

  /** Media "table" derived from the documents fixture: UTF-8 bytes as
    * the opaque blob (the pipeline treats it as any other codec input). */
  def mediaFromDocuments(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("content"),
        lit("text/plain").as("format"))
      .as[MediaRow]
  }

  /** STUB decode: a real build would call the codec here (e.g. JPEG →
    * pixel array). Deterministic fake: metadata from the raw bytes.
    * Everything around this call — batching, schema, partitioning — is
    * the real production shape. */
  private def decodeStub(content: Array[Byte]): MediaMeta = {
    var sum = 0L
    var i = 0
    while (i < content.length) { sum = sum * 31 + (content(i) & 0xff); i += 1 }
    MediaMeta("decoded/stub", content.length.toLong, sum & 0x7fffffffffffffffL)
  }

  /** Per-partition batched decode + feature extraction. Features are a
    * 16-bin byte histogram (raw counts — integers are exact in float32,
    * so normalization happens downstream in double precision); a
    * stand-in for an embedding that downstream ANN consumes exactly
    * like `embeddings`. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      rows.map { r =>
        val meta = decodeStub(r.content)
        val hist = new Array[Float](16)
        var i = 0
        while (i < r.content.length) {
          hist((r.content(i) & 0xff) / 16) += 1f; i += 1
        }
        MediaFeatures(r.media_id, meta.nBytes, meta.checksum, hist)
      }
    }
  }

  /** Frame sampling: every `stride`-th fixed-size chunk of the blob
    * (for video this is every k-th frame; the chunking math is the
    * real part, the "frame" is whatever the codec stub yields). */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int, stride: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.flatMap { r =>
      val nFrames = r.content.length / frameSize
      (0 until nFrames by stride).map { f =>
        (r.media_id, f.toLong,
          java.util.Arrays.copyOfRange(r.content, f * frameSize, (f + 1) * frameSize))
      }
    }.toDF("media_id", "frame_no", "frame")
  }

  /** Graded query: metadata + first histogram bins per media row.
    * (ASCII input ⇒ the oracle can recompute byte stats from chars.) */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(s, dir)).toDF()
      .select(col("media_id"), col("nBytes").as("n_bytes"),
        // Raw: integer-ratio quotients are bit-identical across
        // engines; a per-engine round(6) flips on boundary rationals.
        (element_at(col("features"), 5).cast("double")
          / col("nBytes")).as("bin4"),
        (element_at(col("features"), 7).cast("double")
          / col("nBytes")).as("bin6"),
        (element_at(col("features"), 8).cast("double")
          / col("nBytes")).as("bin7"))

  /** Resize (downsample) by stride decimation — the nearest-neighbor
    * resize analogue on an opaque blob: keep every `factor`-th byte.
    * Same mapPartitions batch shape as the decode; the blob never
    * shuffles (the query projects size + checksum, not the bytes). */
  def resize(media: Dataset[MediaRow], factor: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val n = r.content.length
        val out = new Array[Byte]((n + factor - 1) / factor)
        var i = 0
        while (i < out.length) { out(i) = r.content(i * factor); i += 1 }
        var sum = 0L
        out.foreach(b => sum += (b & 0xff))
        (r.media_id, n.toLong, out.length.toLong, sum)
      }
    }.toDF("media_id", "n_bytes_in", "n_bytes_out", "byte_sum")
  }

  /** Graded query: 4× downsample, verified via size + byte checksum. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    resize(mediaFromDocuments(s, dir), factor = 4)

  /** Graded query: frame sampling shape over the blob column. */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaFromDocuments(s, dir), frameSize = 32, stride = 4)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(length(col("frame"))).as("bytes_sampled"))

  case class DecodedImage(media_id: Long, width: Long, height: Long,
      n_channels: Long, pixel_sum: Long)

  /** PNG "camera": a real ImageIO ENCODE of fixture-derived pixel
    * data. Each document's first `w×h` text bytes become a grayscale
    * `w×32`-capped raster (ASCII ⇒ byte value == char code, so the
    * oracle can reproduce every pixel from SQL); docs shorter than one
    * row of pixels are skipped, exactly like a camera roll with a
    * corrupt file. PNG, not JPEG, because the round-trip must be
    * LOSSLESS for the decoded stats to be oracle-checkable. */
  def pngMediaFromDocuments(s: SparkSession, dir: String,
      width: Int = 32, maxRows: Int = 8): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    mediaFromDocuments(s, dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val h = math.min(r.content.length / width, maxRows)
        if (h < 1) None
        else {
          val img = new java.awt.image.BufferedImage(
            width, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val px = new Array[Int](width * h)
          var i = 0
          while (i < px.length) { px(i) = r.content(i) & 0xff; i += 1 }
          img.getRaster.setSamples(0, 0, width, h, 0, px)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Some(MediaRow(r.media_id, bos.toByteArray, "image/png"))
        }
      }
    }
  }

  /** REAL codec decode — `ImageIO.read` on the blob bytes (JDK codecs:
    * PNG, JPEG, GIF, BMP), same mapPartitions batch shape as the
    * stubbed tiers. Undecodable blobs are dropped, not failed: at
    * scale a corrupt image must cost one row, not the job. Emits the
    * decoded geometry plus the total pixel-sample sum across all
    * bands — the stats a real ingest would filter/fingerprint on. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    implicit val enc = Encoders.product[DecodedImage]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.content))
        if (img == null) None
        else {
          val raster = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          val nb = raster.getNumBands
          var sum = 0L
          val line = new Array[Int](w)
          var band = 0
          while (band < nb) {
            var y = 0
            while (y < h) {
              raster.getSamples(0, y, w, 1, band, line)
              var x = 0
              while (x < w) { sum += line(x); x += 1 }
              y += 1
            }
            band += 1
          }
          Some(DecodedImage(r.media_id, w.toLong, h.toLong,
            nb.toLong, sum))
        }
      }
    }
  }

  /** Graded query: encode→decode PNG round-trip with decoded
    * width/height/channels/pixel-sum checked against the oracle's
    * from-text reconstruction — the decode is the real JDK codec, not
    * the stub. */
  def mmDecodePng(s: SparkSession, dir: String): DataFrame =
    decodeImages(pngMediaFromDocuments(s, dir)).toDF()

  case class JpegRoundTrip(media_id: Long, width: Long, height: Long,
      n_channels: Long, mean_abs_err: Double)

  /** The LOSSY tier of the real-codec story: gray pixels from the doc
    * bytes → real JPEG ENCODE (`ImageIO.write(_, "jpg", _)`) → real
    * DECODE via `ImageIO.read` on the bare bytes, which exercises the
    * full plugin dispatch (the reader is chosen by sniffing the JPEG
    * SOI magic, not told the format) — a different ImageIO path than
    * PNG's. The decoded geometry is exact even under lossy coding;
    * the pixel VALUES are not, so the query measures mean absolute
    * per-pixel error against the pre-encode samples inside the same
    * partition batch — no second pass, no blob shuffle.
    *
    * Grading is tolerance-based, the only honest contract for a lossy
    * codec: the graded projection exports `within_tol` (mean error ≤
    * [[JpegTolerance]]) rather than the error itself, because the
    * oracle cannot re-run a JPEG DCT in SQL — it CAN assert the
    * geometry and that the codec stayed inside its error budget.
    * High-frequency ASCII noise is the DCT's worst case; the observed
    * band on the fixture corpus tops out near 9/255 mean absolute
    * error at the JDK writer's default quality, so the budget is 12 —
    * tight enough that a mis-dispatched or double-compressed path
    * trips it, loose enough to clear codec-version drift. The spec
    * pins the empirical band. */
  val JpegTolerance = 12.0

  def jpegRoundTrip(s: SparkSession, dir: String,
      width: Int = 32, maxRows: Int = 8): Dataset[JpegRoundTrip] = {
    implicit val enc = Encoders.product[JpegRoundTrip]
    mediaFromDocuments(s, dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val h = math.min(r.content.length / width, maxRows)
        if (h < 1) None
        else {
          val img = new java.awt.image.BufferedImage(
            width, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val px = new Array[Int](width * h)
          var i = 0
          while (i < px.length) { px(i) = r.content(i) & 0xff; i += 1 }
          img.getRaster.setSamples(0, 0, width, h, 0, px)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "jpg", bos)
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (back == null) None
          else {
            val out = new Array[Int](width * back.getHeight)
            back.getRaster.getSamples(0, 0, width, back.getHeight, 0, out)
            var err = 0L
            var j = 0
            while (j < out.length && j < px.length) {
              err += math.abs(out(j) - px(j)); j += 1
            }
            Some(JpegRoundTrip(r.media_id, back.getWidth.toLong,
              back.getHeight.toLong, back.getRaster.getNumBands.toLong,
              err.toDouble / px.length))
          }
        }
      }
    }
  }

  /** Graded projection of [[jpegRoundTrip]]: exact geometry plus the
    * tolerance verdict. */
  def mmDecodeJpeg(s: SparkSession, dir: String): DataFrame =
    jpegRoundTrip(s, dir).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("n_channels"),
        (col("mean_abs_err") <= JpegTolerance).as("within_tol"))

  case class PhashRow(media_id: Long, y: Long, row_sum: Long,
      row_hash: Long)

  /** Perceptual average-hash (aHash) over the REAL PNG round-trip:
    * encode each document's pixels losslessly, decode with the actual
    * JDK codec, then per image compare each 4×1-pixel cell's sum
    * against the global mean — bit x of row y is set when
    * `cell_sum · 8h > total` (the integer-exact spelling of
    * cell_mean > image_mean over a 32×h raster). Emitted one row per
    * raster ROW — 8 bits in `row_hash`, plus the row's pixel sum —
    * so every value is a small exact integer and the oracle (which
    * reproduces each pixel from the document's chars) grades the full
    * decode→hash path bit-for-bit. This is the image half of the
    * near-dup story: at scale, `row_hash` concatenations are the
    * band keys an LSH self-join blocks on — same shape as
    * `llm_minhash_neardup`'s (band, sig) equi-join, never all-pairs.
    * Blobs never shuffle; only (id, y, two longs) leave the decode
    * partition. */
  def phashImages(media: Dataset[MediaRow], width: Int = 32,
      maxRows: Int = 8): Dataset[PhashRow] = {
    implicit val enc = Encoders.product[PhashRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val h = math.min(r.content.length / width, maxRows)
        if (h < 1) Iterator.empty
        else {
          val img = new java.awt.image.BufferedImage(
            width, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val px = new Array[Int](width * h)
          var i = 0
          while (i < px.length) { px(i) = r.content(i) & 0xff; i += 1 }
          img.getRaster.setSamples(0, 0, width, h, 0, px)
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val back = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bos.toByteArray))
          if (back == null) Iterator.empty
          else {
            val bh = back.getHeight
            val v = new Array[Int](width * bh)
            back.getRaster.getSamples(0, 0, width, bh, 0, v)
            var total = 0L
            var j = 0
            while (j < v.length) { total += v(j); j += 1 }
            (0 until bh).iterator.map { y =>
              var rowSum = 0L
              var rowHash = 0L
              var x = 0
              while (x < 8) {
                var cs = 0L
                var k = 0
                while (k < 4) { cs += v(y * width + 4 * x + k); k += 1 }
                if (cs * 8 * bh > total) rowHash |= 1L << x
                x += 1
              }
              var xx = 0
              while (xx < width) { rowSum += v(y * width + xx); xx += 1 }
              PhashRow(r.media_id, y.toLong, rowSum, rowHash)
            }
          }
        }
      }
    }
  }

  /** Graded query: the per-row perceptual hash through the real
    * encode→decode round-trip. */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    phashImages(mediaFromDocuments(s, dir)).toDF()

  /** One banded-LSH key row per (full-height image, band): the 16-bit
    * aHash band value used for Hamming VERIFICATION plus the blocking
    * key that extends it with `q` fine (pixel-vs-row-mean) bits drawn
    * from the band's 64 pixels in stride-23 order — consecutive
    * extension bits come from spread positions, because the FIRST
    * pixels of a row are the least discriminative inside an
    * aHash-collision cluster (templated document openings share
    * them; measured at sf1: stride selection halves the candidate
    * mass of low-bit selection at every q). Computed DIRECTLY from
    * the blob bytes — the grayscale PNG round-trip in [[phashImages]]
    * is byte-exact (`mm_phash`'s spec pins that), so the values are
    * identical and the codec is exercised exactly once per blob in
    * the pipeline (`mm_phash` / ingest), never re-run by every
    * downstream consumer. At 100 TB that is the only sane contract:
    * hash at ingest, join on hashes. Only (id, band, two longs) ever
    * leave the scan partition. */
  private[graft] case class PhashBandRow(media_id: Long, band: Long,
      averify: Long, bkey: Long)

  private[graft] def phashBands(media: Dataset[MediaRow],
      q: Int): Dataset[PhashBandRow] = {
    implicit val enc = Encoders.product[PhashBandRow]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        // Full-height (32×8) rasters only: banded Hamming between
        // different geometries is not meaningful (same gate as the
        // ymax == 7 filter the codec path applied).
        if (r.content.length < 256) Iterator.empty
        else {
          val v = new Array[Int](256)
          var total = 0L
          var i = 0
          while (i < 256) { v(i) = r.content(i) & 0xff; total += v(i); i += 1 }
          val rh = new Array[Long](8)
          val fine = new Array[Long](8)
          var y = 0
          while (y < 8) {
            var rowSum = 0L
            var x = 0
            while (x < 32) { rowSum += v(y * 32 + x); x += 1 }
            var h = 0L
            x = 0
            while (x < 8) {
              var cs = 0L
              var k = 0
              while (k < 4) { cs += v(y * 32 + 4 * x + k); k += 1 }
              if (cs * 64 > total) h |= 1L << x
              x += 1
            }
            var f = 0L
            x = 0
            while (x < 32) {
              if (v(y * 32 + x) * 32L > rowSum) f |= 1L << x
              x += 1
            }
            rh(y) = h; fine(y) = f; y += 1
          }
          (0 until 4).iterator.map { j =>
            val averify = rh(2 * j) + (rh(2 * j + 1) << 8)
            val fa = fine(2 * j)
            val fb = fine(2 * j + 1)
            var ext = 0L
            var b = 0
            while (b < q) {
              val pos = (b * 23) % 64
              val bit =
                if (pos < 32) (fa >>> pos) & 1L
                else (fb >>> (pos - 32)) & 1L
              ext |= bit << b
              b += 1
            }
            PhashBandRow(r.media_id, j.toLong, averify,
              averify + (ext << 16))
          }
        }
      }
    }
  }

  /** Image near-duplicate detection by banded perceptual-hash LSH:
    * the 64-bit aHash (8 rows × 8 bits) splits into 4 fixed 16-bit
    * bands; images sharing ANY band key become candidates via a plain
    * equi-join — the `llm_minhash_neardup` blocking shape, never an
    * all-pairs comparison — and candidates are verified by exact
    * Hamming distance. The near-dup DEFINITION is scale-invariant:
    * hamming ≤ 6 of the full 64-bit aHash, at every corpus size.
    *
    * The blocking key carries a corpus-size dial with 12 positions
    * (the r13 dial had TWO — 4×16-bit bands ≤8k images, 2×32-bit
    * beyond — and saturated: past ~10⁷ images 32-bit occupancy grows
    * again, and its last step had already traded recall by halving
    * the band count). Each band's 16 aHash bits are extended with q
    * fine bits (pixel-vs-row-mean, a finer threshold hash of the
    * SAME rows — the multi-index refinement levels of hierarchical
    * Hamming hashing, applied up front), q = +4 per corpus doubling
    * past 1k ([[LlmVectors.ladderCount]]): the rate is MEASURED, not
    * pigeonholed — fine bits inside an aHash-collision cluster are
    * correlated (templated prefixes), and the sf1 sweep measured
    * ~4.3 fine bits per halving of candidate mass, so +4/doubling is
    * what actually holds Σ n_b² ~linear on this corpus — the
    * SelfJoinCensus measures exactly that curve. Band count never
    * shrinks; exact dups collide at every q. The dial ends at q=46
    * (n > 2M images, 62-bit keys): there the key IS the band's
    * complete threshold signature, and the residual buckets (sf1:
    * max 36 rows, ~0.55M pair mass — measured, near the old dial's
    * 0.7M) are signature-identical images no function of these two
    * rows can split; the step past that is hashing different rows,
    * i.e. more bands. The near-dup DEFINITION (hamming ≤ 6 of 64)
    * never moves; what the dial trades as the corpus grows is
    * blocking recall on hash-COINCIDENTAL pairs — true near-dups
    * share the fine bits too, coincidental aHash collisions don't.
    * The same integer threshold ladder is emitted into the DuckDB
    * twin, so both engines block identically at every scale.
    * Ties/dups: candidates are DISTINCT (a pair sharing 2 bands
    * appears once), pairs are a<b. */
  def mmPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.LlmVectors.ladderCount
    val nFull = Tables.load(s, dir, "documents")
      .filter(length(col("text")) >= 256).count()
    val q = math.min(46, 4 * ladderCount(nFull, 1000L, 12))
    val bands = phashBands(mediaFromDocuments(s, dir), q).toDF()
    // explicit plan aliases, not frame-level column refs: both join
    // inputs derive from `bands`, and disambiguating via Dataset-id
    // metadata trips the analyzer's trivially-true-predicate warning
    // — the alias-qualified names resolve each side unambiguously
    val a = bands.select(col("media_id").as("doc_a"), col("band"),
      col("bkey")).as("pa")
    val b = bands.select(col("media_id").as("doc_b"), col("band"),
      col("bkey").as("bkb")).as("pb")
    val cand = a.join(b, col("pa.band") === col("pb.band") &&
        col("pa.bkey") === col("pb.bkb") &&
        col("pa.doc_a") < col("pb.doc_b"))
      .select("doc_a", "doc_b").distinct()
    val xa = bands.select(col("media_id").as("ja"),
      col("band").as("jband"), col("averify").as("va"))
    val xb = bands.select(col("media_id").as("jb"),
      col("band").as("kband"), col("averify").as("vb"))
    cand.join(xa, col("doc_a") === col("ja"))
      .join(xb, col("doc_b") === col("jb") && col("jband") === col("kband"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(va ^ vb)").cast("long").as("bh"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("bh")).as("hamming"))
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        (col("hamming") <= 6).cast("int").as("is_near"))
  }

  /** Content-addressed blob dedup: hash the opaque media bytes, count
    * unique blobs and the byte savings of storing each once. At 100 TB
    * the blobs are the table — dedup-before-decode is the first thing a
    * multimodal ingest does, and it groups on a 16-byte digest, never
    * shuffling the blob bytes themselves. */
  def mmBlobDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perBlob = mediaFromDocuments(s, dir)
      .select(md5(col("content")).as("h"),
        length(col("content")).as("len"))
      .groupBy("h")
      .agg(count(lit(1)).as("c"), min(col("len")).as("len"))
    perBlob.agg(
      count(lit(1)).as("n_unique"),
      sum(col("c")).cast("long").as("n_total"),
      sum(col("len")).cast("long").as("bytes_unique"),
      sum(col("len") * col("c")).cast("long").as("bytes_total"))
  }

  /** binaryFile-source ingest: blobs land as loose files (the way
    * media actually arrives), are read back through Spark's binaryFile
    * source — (path, modificationTime, length, content) — and joined
    * to the document table by CONTENT DIGEST, the content-addressed
    * identity [[mmBlobDedup]] establishes. The landing zone is built
    * distributed (each task writes its partition's blobs through the
    * Hadoop FS API — HDFS/object store at scale, local FS here); the
    * digest join never shuffles blob bytes, only 16-byte hashes.
    * Exact-duplicate texts share a digest, so a blob matches every doc
    * carrying its content — the oracle mirrors that multiplicity. */
  def mmBinaryIngest(s: SparkSession, dir: String): DataFrame = {
    val landing = graft.core.ScratchDirs.path(s, "graft_blob_landing", dir)
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(lp)) fs.delete(lp, true)
    fs.mkdirs(lp)
    Tables.load(s, dir, "documents").filter(col("doc_id") < 50)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("content"))
      .repartition(8)
      .foreachPartition { (it: Iterator[Row]) =>
        val pfs = new org.apache.hadoop.fs.Path(landing)
          .getFileSystem(new org.apache.hadoop.conf.Configuration())
        it.foreach { r =>
          val out = pfs.create(new org.apache.hadoop.fs.Path(
            landing, f"doc_${r.getLong(0)}%05d.bin"), true)
          out.write(r.getAs[Array[Byte]](1))
          out.close()
        }
      }
    val blobs = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(landing)
      .select(col("length"), md5(col("content")).as("h"))
    val d = Tables.load(s, dir, "documents")
      .select(col("source"), md5(encode(col("text"), "UTF-8")).as("dh"))
    blobs.join(d, blobs("h") === d("dh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_matched"),
        countDistinct(col("h")).as("n_unique_blobs"),
        sum(col("length")).cast("long").as("bytes"))
  }

  case class VadFrame(media_id: Long, frame_no: Long, energy: Long)

  /** Voice-activity-detection segmentation over the audio-shaped view
    * of the blobs: fixed 32-byte frames (the PCM-window analogue),
    * integer frame energy (Σ byte values — with a real PCM codec this
    * would be Σ sample² after the decode, same plumbing), an
    * energy >= 3000 voiced gate, and gaps-and-islands over the voiced
    * frame numbers into contiguous segments. The codec-boundary pass
    * is the house mapPartitions batch shape and emits only
    * (id, frame_no, energy) triples — blobs never shuffle; the
    * segmentation itself is one window + one aggregation keyed by
    * media_id, embarrassingly parallel at 100 TB. On the fixture the
    * gate genuinely alternates: ~1300 segments over ~490 blobs, 62%
    * of frames voiced. */
  def vadFrames(media: Dataset[MediaRow], frameSize: Int = 32): Dataset[VadFrame] = {
    implicit val enc = Encoders.product[VadFrame]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val n = r.content.length / frameSize
        (0 until n).iterator.map { i =>
          var e = 0L
          var j = i * frameSize
          val end = j + frameSize
          while (j < end) { e += r.content(j) & 0xff; j += 1 }
          VadFrame(r.media_id, i.toLong, e)
        }
      }
    }
  }

  /** Graded query: voiced segments (start/end frame, length, total
    * energy) per media blob. */
  def mmVadSegments(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_no")
    vadFrames(mediaFromDocuments(s, dir)).toDF()
      .filter(col("energy") >= 3000)
      .withColumn("isl", col("frame_no") - row_number().over(w))
      .groupBy("media_id", "isl")
      .agg(min("frame_no").as("seg_start"), max("frame_no").as("seg_end"),
        count(lit(1)).as("n_frames"), sum("energy").as("energy"))
      .select(col("media_id"), col("seg_start"), col("seg_end"),
        col("n_frames"), col("energy").cast("long").as("energy"))
  }

  /** Shazam-style constellation fingerprints over the audio-shaped
    * frames: a frame is a PEAK when its energy strictly exceeds its
    * predecessor's and is ≥ its successor's (the asymmetric tie-break
    * keeps plateau runs single-peaked); each peak pairs with the NEXT
    * peak and hashes (energy mod 251, next energy mod 251, capped
    * frame gap) into one integer — the anchor-pair scheme real audio
    * matchers index on. All integer arithmetic; the frame pass is the
    * same never-shuffle-blobs [[vadFrames]] boundary, and the peak
    * windows are keyed per media — embarrassingly parallel. */
  def mmAudioFingerprint(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_no")
    val peaks = vadFrames(mediaFromDocuments(s, dir)).toDF()
      .withColumn("ep", lag("energy", 1).over(w))
      .withColumn("en", lead("energy", 1).over(w))
      .filter(col("ep").isNotNull && col("en").isNotNull &&
        col("energy") > col("ep") && col("energy") >= col("en"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy("media_id").orderBy("frame_no")
    peaks
      .withColumn("f2", lead("frame_no", 1).over(wp))
      .withColumn("e2", lead("energy", 1).over(wp))
      .filter(col("f2").isNotNull)
      .select(col("media_id"), col("frame_no").as("f1"),
        (col("f2") - col("frame_no")).as("dt"),
        (((col("energy") % 251) * 251 + col("e2") % 251) * 64 +
          least(col("f2") - col("frame_no"), lit(63))).as("fp"))
  }

  case class Patch(media_id: Long, patch_row: Long, patch_col: Long,
      n_px: Long, px_sum: Long)

  /** ViT-style patchify THROUGH the real PNG codec: each decoded
    * grayscale raster splits into 8×4 patches (the 32-wide images
    * yield a 4-column grid; only full patch rows emit), one row per
    * patch with its integer pixel sum. The decode is `ImageIO.read`
    * on the encoded bytes — the oracle reconstructs the identical
    * sums from the document characters, so the lossless round-trip is
    * pinned PER PATCH, not just globally. Same never-shuffle-blobs
    * mapPartitions boundary as [[decodeImages]]. */
  def mmPatchify(s: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[Patch]
    pngMediaFromDocuments(s, dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.content))
        if (img == null) Iterator.empty
        else {
          val raster = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          val pw = 8; val ph = 4
          val line = new Array[Int](w)
          for {
            pr <- 0 until h / ph
            pc <- 0 until w / pw
          } yield {
            var sum = 0L
            var dy = 0
            while (dy < ph) {
              raster.getSamples(0, pr * ph + dy, w, 1, 0, line)
              var dx = 0
              while (dx < pw) { sum += line(pc * pw + dx); dx += 1 }
              dy += 1
            }
            Patch(r.media_id, pr.toLong, pc.toLong, (pw * ph).toLong, sum)
          }
        }
      }
    }.toDF()
  }

  case class SceneCuts(media_id: Long, n_frames: Long, n_cuts: Long,
      max_diff: Long)

  /** Scene-change detection by frame differencing: consecutive
    * 32-byte frames' sum-of-absolute-byte-differences, a cut when the
    * difference exceeds 1000 (the fixture's diff distribution spans
    * 189–1256 with median ≈ 916, so the threshold flags the genuinely
    * discontinuous transitions). The whole computation happens INSIDE
    * the mapPartitions codec boundary — the blob never shuffles, one
    * summary row leaves per media — and everything is integer, so
    * oracle parity is exact (ASCII blob ⇒ DuckDB recomputes byte
    * diffs from chars). */
  def mmSceneCuts(s: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[SceneCuts]
    mediaFromDocuments(s, dir).mapPartitions { rows =>
      rows.flatMap { r =>
        val nf = r.content.length / 32
        if (nf < 2) None
        else {
          var cuts = 0L; var maxDiff = 0L
          var f = 1
          while (f < nf) {
            var diff = 0L; var i = 0
            while (i < 32) {
              diff += math.abs((r.content(f * 32 + i) & 0xff) -
                (r.content((f - 1) * 32 + i) & 0xff))
              i += 1
            }
            if (diff > 1000L) cuts += 1
            if (diff > maxDiff) maxDiff = diff
            f += 1
          }
          Some(SceneCuts(r.media_id, nf.toLong, cuts, maxDiff))
        }
      }
    }.toDF()
  }

  case class PixelBlob(media_id: Long, blob_md5: String, pixel_md5: String)

  /** RGB re-encodes of every 7th image: the SAME gray pixels written
    * through `TYPE_INT_RGB` — a byte-for-byte different PNG (color
    * type 2 vs 0) whose decoded band-0 samples are identical. The
    * "same photo exported twice" case byte-level dedup cannot see. */
  private def rgbCopies(s: SparkSession, dir: String,
      width: Int = 32, maxRows: Int = 8): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    mediaFromDocuments(s, dir).filter(_.media_id % 7 == 0)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = math.min(r.content.length / width, maxRows)
          if (h < 1) None
          else {
            val img = new java.awt.image.BufferedImage(
              width, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < width) {
                val v = r.content(y * width + x) & 0xff
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", bos)
            Some(MediaRow(r.media_id + 1000000000L, bos.toByteArray,
              "image/png"))
          }
        }
      }
  }

  /** PIXEL-level exact dedup through the real codec — the operator
    * that catches RE-ENCODED duplicates (same pixels, different
    * container bytes), which byte-level `mm_blob_dedup` structurally
    * cannot: the roll is every document image plus an RGB re-encode
    * of every 7th, and the census compares grouping by blob md5
    * (bytes) against grouping by the md5 of the decoded band-0
    * samples. `n_reencoded_groups` is exactly the pixel groups whose
    * members span both encodings. Blobs never shuffle — both digests
    * are computed in one mapPartitions pass and only the 2×16-byte
    * digests aggregate. The oracle reconstructs every digest from the
    * document text (ASCII byte ⇒ pixel sample, the `mm_decode_png`
    * device), pinning the full encode→decode→digest chain. */
  def mmPixelDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[PixelBlob]
    val all = pngMediaFromDocuments(s, dir).union(rgbCopies(s, dir))
    all.mapPartitions { rows =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      def hex(b: Array[Byte]): String =
        b.map("%02x".format(_)).mkString
      rows.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.content))
        if (img == null) None
        else {
          val raster = img.getRaster
          val w = img.getWidth; val h = img.getHeight
          val px = new Array[Byte](w * h)
          val line = new Array[Int](w)
          var y = 0
          while (y < h) {
            raster.getSamples(0, y, w, 1, 0, line)
            var x = 0
            while (x < w) { px(y * w + x) = line(x).toByte; x += 1 }
            y += 1
          }
          md5.reset()
          val blobDigest = hex(md5.digest(r.content))
          md5.reset()
          val pixelDigest = hex(md5.digest(px))
          Some(PixelBlob(r.media_id, blobDigest, pixelDigest))
        }
      }
    }.toDF()
      .agg(count(lit(1)).as("n_blobs"),
        countDistinct(col("blob_md5")).as("n_blob_groups"),
        countDistinct(col("pixel_md5")).as("n_pixel_groups"),
        (countDistinct(col("blob_md5")) - countDistinct(col("pixel_md5")))
          .as("n_reencoded_groups"),
        (count(lit(1)) - countDistinct(col("pixel_md5")))
          .as("n_dup_pixel_blobs"))
  }

  case class DftCoef(media_id: Long, frame_no: Long, band: Long,
      re: Long, im: Long)

  /** Shared spectral-aggregation statement over a coefficient relation
    * (media_id, frame_no, band, re, im): per-frame power re²+im² as an
    * EXACT DECIMAL(38,0) integer (re ≤ 32·255·10⁶ so re² ≤ 6.8e19 —
    * over int64, inside decimal), summed exactly per (media, band).
    * Only the two derived outputs touch doubles: the band's share of
    * the media's total power (ratio of two exact-integer casts — 1e-16
    * cast noise) and ln(1+energy) — both safe under round(6). */
  private def dftAggSql(coefs: String): String =
    s"""e AS (SELECT media_id, CAST(band AS BIGINT) AS band,
       |    CAST(count(*) AS BIGINT) AS n_frames,
       |    sum(CAST(re AS DECIMAL(19,0)) * CAST(re AS DECIMAL(19,0))
       |        + CAST(im AS DECIMAL(19,0)) * CAST(im AS DECIMAL(19,0)))
       |      AS energy
       |  FROM $coefs GROUP BY 1, 2),
       |tt AS (SELECT media_id, sum(energy) AS tot FROM e GROUP BY 1)
       |SELECT e.media_id, e.band, e.n_frames,
       |  CASE WHEN CAST(tt.tot AS DOUBLE) > 0.0
       |       THEN CAST(e.energy AS DOUBLE) / CAST(tt.tot AS DOUBLE)
       |  END AS energy_share,
       |  ln(1.0 + CAST(e.energy AS DOUBLE)) AS energy_ln
       |FROM e JOIN tt ON tt.media_id = e.media_id""".stripMargin

  /** 32-point DFT band energies (bins k ∈ {1,2,4,8}) over the
    * audio-shaped 32-byte frames, at the mapPartitions codec boundary
    * (blobs never shuffle; only small integer coefficients do). The
    * DFT weights are INTEGER-QUANTIZED — floor(cos(2πkn/32)·10⁶+0.5),
    * the identical spelling in the DuckDB twin — so re/im are exact
    * integer dot products with zero IEEE surface; the quantization
    * boundaries sit ≥0.03 away from every weight (the closest is
    * cos(π/16)·10⁶ = …879.53), far beyond any libm cos/sin ulp. The
    * per-(media,band) energy share profiles the spectral shape — the
    * feature an audio-quality filter thresholds on. */
  def mmDftEnergy(s: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[DftCoef]
    val bands = Array(1, 2, 4, 8)
    val coefs = mediaFromDocuments(s, dir).mapPartitions { rows =>
      val wc = bands.map(k => (0 until 32).map(n => math.floor(
        math.cos(2.0 * math.Pi * (k * n).toDouble / 32.0) * 1000000.0
          + 0.5).toLong).toArray)
      val ws = bands.map(k => (0 until 32).map(n => math.floor(
        math.sin(2.0 * math.Pi * (k * n).toDouble / 32.0) * 1000000.0
          + 0.5).toLong).toArray)
      rows.flatMap { r =>
        val nf = r.content.length / 32
        (0 until nf).iterator.flatMap { f =>
          bands.indices.map { bi =>
            var re = 0L; var im = 0L; var n = 0
            while (n < 32) {
              val sv = (r.content(f * 32 + n) & 0xff).toLong
              re += sv * wc(bi)(n)
              im += sv * ws(bi)(n)
              n += 1
            }
            DftCoef(r.media_id, f.toLong, bands(bi).toLong, re, im)
          }
        }
      }
    }
    Tables.sql(s, dir, "WITH " + dftAggSql("graft_dft_coefs"),
      "graft_dft_coefs" -> coefs.toDF())
  }

  private val dftOracleSql: String =
    """WITH b AS (SELECT doc_id AS media_id,
      |             list_transform(range(1, length(text) + 1),
      |               i -> ord(text[i])) AS bs
      |           FROM documents),
      |fr AS (SELECT media_id, unnest(range(0, len(bs) // 32)) AS frame_no,
      |         bs
      |       FROM b),
      |bd AS (SELECT media_id, frame_no, unnest([1, 2, 4, 8]) AS band, bs
      |       FROM fr),
      |cf AS (SELECT media_id, frame_no, band,
      |         CAST(list_sum(list_transform(range(0, 32), n ->
      |           bs[frame_no * 32 + n + 1]
      |           * CAST(floor(cos(2.0 * pi() * CAST(band * n AS DOUBLE)
      |                            / 32.0) * 1000000.0 + 0.5)
      |                  AS BIGINT))) AS BIGINT) AS re,
      |         CAST(list_sum(list_transform(range(0, 32), n ->
      |           bs[frame_no * 32 + n + 1]
      |           * CAST(floor(sin(2.0 * pi() * CAST(band * n AS DOUBLE)
      |                            / 32.0) * 1000000.0 + 0.5)
      |                  AS BIGINT))) AS BIGINT) AS im
      |       FROM bd),
      |""".stripMargin + dftAggSql("cf")

  val queries: Seq[QueryDef] = Seq(
    QueryDef("mm_dft_energy", mmDftEnergy, dftOracleSql),
    QueryDef("mm_pixel_dedup", mmPixelDedup,
      """WITH imgs AS (SELECT doc_id AS media_id,
        |                substr(text, 1, 32 * least(len(text) // 32, 8)) AS pix
        |              FROM documents WHERE len(text) >= 32),
        |allb AS (SELECT 'g' AS fmt, pix FROM imgs
        |         UNION ALL
        |         SELECT 'c', pix FROM imgs WHERE media_id % 7 = 0)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_blobs,
        |  CAST(COUNT(DISTINCT fmt || md5(pix)) AS BIGINT) AS n_blob_groups,
        |  CAST(COUNT(DISTINCT md5(pix)) AS BIGINT) AS n_pixel_groups,
        |  CAST(COUNT(DISTINCT fmt || md5(pix))
        |       - COUNT(DISTINCT md5(pix)) AS BIGINT) AS n_reencoded_groups,
        |  CAST(COUNT(*) - COUNT(DISTINCT md5(pix)) AS BIGINT)
        |    AS n_dup_pixel_blobs
        |FROM allb""".stripMargin),
    QueryDef("mm_patchify", mmPatchify,
      """WITH m AS (SELECT doc_id AS media_id, text,
        |             least(len(text) // 32, 8) AS h
        |           FROM documents WHERE len(text) >= 32),
        |p AS (SELECT media_id, pr, pc,
        |        sum(ascii(substr(text,
        |          (pr * 4 + dy) * 32 + pc * 8 + dx + 1, 1))) AS px_sum
        |      FROM m,
        |        UNNEST(generate_series(0, m.h // 4 - 1)) AS a(pr),
        |        UNNEST(generate_series(0, 3)) AS b(pc),
        |        UNNEST(generate_series(0, 3)) AS c(dy),
        |        UNNEST(generate_series(0, 7)) AS e(dx)
        |      GROUP BY 1, 2, 3)
        |SELECT media_id, CAST(pr AS BIGINT) AS patch_row,
        |  CAST(pc AS BIGINT) AS patch_col,
        |  CAST(32 AS BIGINT) AS n_px, CAST(px_sum AS BIGINT) AS px_sum
        |FROM p""".stripMargin),
    QueryDef("mm_scene_cuts", mmSceneCuts,
      """WITH m AS (SELECT doc_id AS media_id, text, len(text) // 32 AS nf
        |           FROM documents WHERE len(text) >= 64),
        |d AS (SELECT m.media_id, g,
        |        sum(abs(ascii(substr(m.text, (g - 1) * 32 + i, 1))
        |              - ascii(substr(m.text, (g - 2) * 32 + i, 1)))) AS diff
        |      FROM m, UNNEST(generate_series(2, m.nf)) AS t(g),
        |           UNNEST(generate_series(1, 32)) AS t2(i)
        |      GROUP BY 1, 2)
        |SELECT d.media_id, CAST(m.nf AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN diff > 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts,
        |  CAST(max(diff) AS BIGINT) AS max_diff
        |FROM d JOIN m ON m.media_id = d.media_id
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("mm_audio_fingerprint", mmAudioFingerprint,
      """WITH b AS (SELECT doc_id,
        |             list_transform(range(1, length(text) + 1),
        |               i -> ord(text[i])) AS bs
        |           FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, len(bs) // 32)) AS frame_no,
        |         bs
        |       FROM b),
        |en AS (SELECT doc_id, frame_no,
        |         list_sum(bs[frame_no*32 + 1 : frame_no*32 + 32]) AS energy
        |       FROM fr),
        |pk AS (SELECT doc_id, frame_no, energy,
        |         lag(energy) OVER w AS ep, lead(energy) OVER w AS en
        |       FROM en WINDOW w AS (PARTITION BY doc_id ORDER BY frame_no)),
        |peaks AS (SELECT doc_id, frame_no, energy FROM pk
        |          WHERE ep IS NOT NULL AND en IS NOT NULL
        |            AND energy > ep AND energy >= en),
        |pairs AS (SELECT doc_id, frame_no, energy,
        |            lead(frame_no) OVER w2 AS f2,
        |            lead(energy) OVER w2 AS e2
        |          FROM peaks
        |          WINDOW w2 AS (PARTITION BY doc_id ORDER BY frame_no))
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(frame_no AS BIGINT) AS f1,
        |  CAST(f2 - frame_no AS BIGINT) AS dt,
        |  CAST(((energy % 251) * 251 + e2 % 251) * 64
        |       + least(f2 - frame_no, 63) AS BIGINT) AS fp
        |FROM pairs WHERE f2 IS NOT NULL""".stripMargin),
    // ASCII ⇒ ord(char) == byte value, so the oracle rebuilds each
    // frame's energy from the document text itself.
    QueryDef("mm_vad_segments", mmVadSegments,
      """WITH b AS (SELECT doc_id,
        |             list_transform(range(1, length(text) + 1),
        |               i -> ord(text[i])) AS bs
        |           FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, len(bs) // 32)) AS frame_no,
        |         bs
        |       FROM b),
        |en AS (SELECT doc_id, frame_no,
        |         list_sum(bs[frame_no*32 + 1 : frame_no*32 + 32]) AS energy
        |       FROM fr),
        |v AS (SELECT doc_id, frame_no, energy,
        |        frame_no - row_number() OVER (PARTITION BY doc_id
        |                                      ORDER BY frame_no) AS isl
        |      FROM en WHERE energy >= 3000)
        |SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CAST(MIN(frame_no) AS BIGINT) AS seg_start,
        |  CAST(MAX(frame_no) AS BIGINT) AS seg_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames,
        |  CAST(SUM(energy) AS BIGINT) AS energy
        |FROM v GROUP BY doc_id, isl""".stripMargin),
    // ASCII ⇒ md5(chars) == md5(blob bytes), LENGTH(chars) == file size
    QueryDef("mm_binary_ingest", mmBinaryIngest,
      """WITH blobs AS (SELECT LENGTH(text) AS length, md5(text) AS h
        |               FROM documents WHERE doc_id < 50),
        |d AS (SELECT source, md5(text) AS dh FROM documents)
        |SELECT source, COUNT(*) AS n_matched,
        |  COUNT(DISTINCT h) AS n_unique_blobs,
        |  CAST(SUM(length) AS BIGINT) AS bytes
        |FROM blobs JOIN d ON h = dh
        |GROUP BY source""".stripMargin),
    // Lossless PNG round-trip ⇒ decoded geometry and pixel sum are
    // recomputable from the text chars that became the pixels
    // (ASCII ⇒ ord(char) == byte == gray sample).
    QueryDef("mm_decode_png", mmDecodePng,
      """SELECT doc_id AS media_id,
        |  CAST(32 AS BIGINT) AS width,
        |  CAST(LEAST(length(text) // 32, 8) AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  CAST(list_sum(list_transform(
        |    range(32 * LEAST(length(text) // 32, 8)),
        |    i -> ord(substr(text, CAST(i AS INT) + 1, 1)))) AS BIGINT)
        |    AS pixel_sum
        |FROM documents WHERE length(text) >= 32""".stripMargin),
    // Lossy JPEG: geometry is exact (recomputable from text length),
    // pixel values are not — the oracle asserts the codec stayed
    // inside the documented error budget (within_tol) instead of
    // recomputing a DCT in SQL.
    QueryDef("mm_decode_jpeg", mmDecodeJpeg,
      """SELECT doc_id AS media_id,
        |  CAST(32 AS BIGINT) AS width,
        |  CAST(LEAST(length(text) // 32, 8) AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_channels,
        |  true AS within_tol
        |FROM documents WHERE length(text) >= 32""".stripMargin),
    // ASCII text ⇒ byte value == char code; histogram bin b counts
    // chars with ord/16 == b. Bin 4 = space..'/' (0x20-0x2f), bins 6/7
    // cover a-z ranges.
    QueryDef("mm_features", mmFeatures,
      """SELECT doc_id AS media_id, length(text) AS n_bytes,
        |  len(list_filter(range(length(text)),
        |    i -> ord(substr(text, CAST(i AS INT) + 1, 1)) // 16 = 4))
        |    / CAST(length(text) AS DOUBLE) AS bin4,
        |  len(list_filter(range(length(text)),
        |    i -> ord(substr(text, CAST(i AS INT) + 1, 1)) // 16 = 6))
        |    / CAST(length(text) AS DOUBLE) AS bin6,
        |  len(list_filter(range(length(text)),
        |    i -> ord(substr(text, CAST(i AS INT) + 1, 1)) // 16 = 7))
        |    / CAST(length(text) AS DOUBLE) AS bin7
        |FROM documents""".stripMargin),
    QueryDef("mm_frame_sample", mmFrameSample,
      """SELECT doc_id AS media_id,
        |  CAST(ceil((length(text) // 32) / 4.0) AS BIGINT) AS n_sampled,
        |  CAST(ceil((length(text) // 32) / 4.0) AS BIGINT) * 32 AS bytes_sampled
        |FROM documents WHERE length(text) >= 32""".stripMargin),
    // ASCII ⇒ byte i == char code at position i; every 4th char kept
    QueryDef("mm_resize", mmResize,
      """SELECT doc_id AS media_id,
        |  length(text) AS n_bytes_in,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bytes_out,
        |  CAST(list_sum(list_transform(
        |    list_filter(range(length(text)), i -> i % 4 = 0),
        |    i -> ord(substr(text, CAST(i AS INT) + 1, 1)))) AS BIGINT)
        |    AS byte_sum
        |FROM documents""".stripMargin),
    // ASCII text ⇒ md5 over chars == md5 over the UTF-8 blob bytes and
    // LENGTH(chars) == byte length.
    QueryDef("mm_blob_dedup", mmBlobDedup,
      """WITH b AS (SELECT md5(text) AS h, COUNT(*) AS c,
        |             MIN(LENGTH(text)) AS len
        |           FROM documents GROUP BY 1)
        |SELECT COUNT(*) AS n_unique, CAST(SUM(c) AS BIGINT) AS n_total,
        |  CAST(SUM(len) AS BIGINT) AS bytes_unique,
        |  CAST(SUM(len * c) AS BIGINT) AS bytes_total
        |FROM b""".stripMargin),
    // ASCII ⇒ pixel(p) == ascii(char p); the PNG round-trip is
    // lossless, so the oracle rebuilds every cell sum from the text.
    QueryDef("mm_phash", mmPhash,
      """WITH m AS (SELECT doc_id, text, least(length(text) // 32, 8) AS h
        |           FROM documents WHERE length(text) >= 32),
        |px AS (SELECT doc_id, h, g.p, ascii(substr(text, g.p + 1, 1)) AS v
        |       FROM m CROSS JOIN (SELECT unnest(range(0, 256)) AS p) g
        |       WHERE g.p < h * 32),
        |tot AS (SELECT doc_id, sum(v) AS t FROM px GROUP BY 1),
        |cell AS (SELECT doc_id, h, p // 32 AS y, (p % 32) // 4 AS x,
        |           sum(v) AS cs
        |         FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (SELECT c.doc_id, c.y,
        |           sum(CASE WHEN c.cs * 8 * c.h > t.t
        |               THEN 1 << c.x ELSE 0 END) AS row_hash
        |         FROM cell c JOIN tot t USING (doc_id) GROUP BY 1, 2),
        |rsum AS (SELECT doc_id, p // 32 AS y, sum(v) AS row_sum
        |         FROM px GROUP BY 1, 2)
        |SELECT b.doc_id AS media_id, CAST(b.y AS BIGINT) AS y,
        |  CAST(r.row_sum AS BIGINT) AS row_sum,
        |  CAST(b.row_hash AS BIGINT) AS row_hash
        |FROM bits b JOIN rsum r ON b.doc_id = r.doc_id AND b.y = r.y"""
        .stripMargin),
    // Full-height (h=8) images only; band values, fine bits and
    // Hamming terms are small exact integers in both engines. The
    // fine-bit ladder (q = +4 blocking bits per corpus doubling past
    // 1k, drawn from the band's 64 pixels in stride-23 order) is the
    // same integer CASE ladder the Spark side computes, so both
    // engines block identically at every scale.
    QueryDef("mm_phash_neardup", mmPhashNeardup,
      s"""WITH m AS (SELECT doc_id, text FROM documents
        |           WHERE length(text) >= 256),
        |dial AS (SELECT LEAST(46, 4 * (${graft.queries.LlmVectors
                    .ladderSql("n", 1000L, 12)})) AS q
        |         FROM (SELECT COUNT(*) AS n FROM m)),
        |px AS (SELECT doc_id, g.p, ascii(substr(text, g.p + 1, 1)) AS v
        |       FROM m CROSS JOIN (SELECT unnest(range(0, 256)) AS p) g),
        |tot AS (SELECT doc_id, sum(v) AS t FROM px GROUP BY 1),
        |rs AS (SELECT doc_id, p // 32 AS y, sum(v) AS rsum
        |       FROM px GROUP BY 1, 2),
        |cell AS (SELECT doc_id, p // 32 AS y, (p % 32) // 4 AS x,
        |           sum(v) AS cs
        |         FROM px GROUP BY 1, 2, 3),
        |rh AS (SELECT c.doc_id, c.y,
        |         sum(CASE WHEN c.cs * 64 > t.t
        |             THEN 1 << c.x ELSE 0 END) AS rh
        |       FROM cell c JOIN tot t USING (doc_id) GROUP BY 1, 2),
        |fin AS (SELECT p.doc_id, p.p // 32 AS y,
        |          sum(CASE WHEN p.v * 32 > r.rsum
        |              THEN CAST(1 AS BIGINT) << CAST(p.p % 32 AS INT)
        |              ELSE 0 END) AS f
        |        FROM px p JOIN rs r
        |          ON p.doc_id = r.doc_id AND p.p // 32 = r.y
        |        GROUP BY 1, 2),
        |bnd0 AS (SELECT a.doc_id, a.y // 2 AS band,
        |           CAST(a.rh + b.rh * 256 AS BIGINT) AS averify,
        |           CAST(fa2.f AS BIGINT) AS fa, CAST(fb2.f AS BIGINT) AS fb
        |         FROM rh a JOIN rh b
        |             ON a.doc_id = b.doc_id AND b.y = a.y + 1
        |               AND a.y % 2 = 0
        |           JOIN fin fa2 ON fa2.doc_id = a.doc_id AND fa2.y = a.y
        |           JOIN fin fb2 ON fb2.doc_id = b.doc_id AND fb2.y = b.y),
        |bands AS (SELECT n.doc_id, n.band, n.averify,
        |            CAST(n.averify + 65536 * sum(
        |              CASE WHEN g.i < d.q THEN
        |                (CASE WHEN (g.i * 23) % 64 < 32
        |                      THEN (n.fa >> CAST((g.i * 23) % 64 AS INT)) & 1
        |                      ELSE (n.fb >> CAST((g.i * 23) % 64 - 32 AS INT))
        |                           & 1 END)
        |                * (CAST(1 AS BIGINT) << CAST(g.i AS INT))
        |              ELSE 0 END) AS BIGINT) AS bkey
        |          FROM bnd0 n
        |            CROSS JOIN (SELECT unnest(range(0, 46)) AS i) g
        |            CROSS JOIN dial d
        |          GROUP BY 1, 2, 3),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |         FROM bands a JOIN bands b ON a.band = b.band
        |           AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.doc_a, c.doc_b,
        |          CAST(sum(bit_count(xor(x.averify, y2.averify)))
        |               AS BIGINT) AS hamming
        |        FROM cand c
        |          JOIN bands x ON x.doc_id = c.doc_a
        |          JOIN bands y2 ON y2.doc_id = c.doc_b
        |            AND y2.band = x.band
        |        GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming,
        |  CAST(hamming <= 6 AS INTEGER) AS is_near
        |FROM ham""".stripMargin))
}
