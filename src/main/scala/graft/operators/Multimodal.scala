package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextExpr.{nibbleSpark, nibbleDuck}

/** Multimodal column plumbing (SURVEY.md §2.11).
  *
  * Media (image/audio/video) is carried as an opaque `binary` column plus
  * typed metadata — the Spark-side schema, partitioning and batch shape
  * are real; only the codec itself is stubbed (no image/audio libraries
  * in this container), behind [[MediaDecoder]] with a deterministic fake.
  *
  * Two execution paths, by design:
  *  - [[featureColumns]] — pure column expressions (codegen, zero JVM
  *    object churn) for features derivable without a codec;
  *  - [[decodePartitions]] — `Dataset.mapPartitions` with a pluggable
  *    decoder, the pattern a real codec drops into: per-partition
  *    amortized decoder init, streaming iterator, no driver involvement.
  *    At 100 TB this is the shape that matters — swap StubDecoder for a
  *    JNI/libvips binding and nothing else changes.
  */
object Multimodal {

  /** One media row: id + raw bytes + claimed format. */
  case class MediaRow(doc_id: Long, content: Array[Byte], fmt: String)

  /** Decoded metadata (width/height/channels for images; a real audio
    * decoder would populate its own analog). */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, sig: String,
      width: Int, height: Int, channels: Int)

  /** Codec seam. Implementations must be Serializable (shipped to
    * executors) and cheap to reuse across a partition. */
  trait MediaDecoder extends Serializable {
    def decode(bytes: Array[Byte]): (Int, Int, Int) // width, height, channels
  }

  /** STUB codec: derives deterministic fake dimensions from the md5 of
    * the payload — stands in for the real decode (???) so the pipeline
    * shape is testable end-to-end and oracle-checkable. */
  object StubDecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int) = {
      val h = md5Hex(bytes)
      val w = 16 + Integer.parseInt(h.substring(0, 2), 16)
      val ht = 16 + Integer.parseInt(h.substring(2, 4), 16)
      val c = 1 + (Integer.parseInt(h.substring(4, 5), 16) % 3)
      (w, ht, c)
    }
  }

  // thread-local digest: reused across rows within a task, safe across
  // concurrent tasks sharing this object
  private val threadMd = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  def md5Hex(bytes: Array[Byte]): String = md5Hex(threadMd.get(), bytes)

  def md5Hex(md: java.security.MessageDigest, bytes: Array[Byte]): String = {
    md.reset()
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  /** Wrap a text column as a binary media payload (the test corpus has
    * no real media; UTF-8 bytes stand in for image bytes). */
  def asMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      encode(col(textCol), "UTF-8").as("content"), lit("fake/raw").as("fmt"))

  /** ImageIO.read that is total over arbitrary bytes: returns null for
    * streams no reader claims (ImageIO's own contract) AND for corrupt
    * payloads a reader claims but fails on (where ImageIO.read throws —
    * e.g. a truncated file with a valid PNG magic header, a normal
    * occurrence in a real ingest corpus). */
  private def readImageOrNull(bytes: Array[Byte]): java.awt.image.BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    catch { case _: java.io.IOException | _: RuntimeException => null }

  /** REAL codec: decodes PNG/JPEG/GIF/BMP via the JDK's `javax.imageio`
    * (zero extra dependencies); falls back to [[StubDecoder]] for byte
    * streams the JDK cannot decode — unclaimed OR corrupt — so the seam
    * still total-functions over arbitrary payloads. */
  object ImageIODecoder extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, Int) = {
      val img = readImageOrNull(bytes)
      if (img == null) StubDecoder.decode(bytes)
      else (img.getWidth, img.getHeight, img.getRaster.getNumBands)
    }
  }

  /** Synthesized image fixture: one real grayscale PNG per id, dimensions
    * and pixels pure functions of the id so a SQL oracle can replay them:
    * width = 8 + id % 24, height = 8 + (id/7) % 24,
    * pixel(x,y) = (id*31 + x*7 + y) % 256. PNG is lossless, so a correct
    * decode recovers these exactly. */
  def synthesizePngs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      val baos = new java.io.ByteArrayOutputStream()
      ids.map { id =>
        val w = 8 + (id % 24).toInt
        val h = 8 + ((id / 7) % 24).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((id * 31 + x * 7 + y) % 256).toInt)
            x += 1
          }
          y += 1
        }
        baos.reset()
        javax.imageio.ImageIO.write(img, "png", baos)
        (id, baos.toByteArray, "image/png")
      }
    }.toDF("doc_id", "content", "fmt")
  }

  /** Decoded image metadata + exact pixel checksum (sum over all samples
    * of all bands) — the quantity an arithmetic oracle can verify. */
  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      channels: Int, px_sum: Long)

  /** Full image decode via [[ImageIODecoder]]'s codec: real pixels, real
    * dimensions. mapPartitions so decoder state amortizes per partition;
    * rows with undecodable payloads are dropped (a real pipeline's
    * dead-letter path would collect them). */
  def decodeImages(media: DataFrame): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val img = readImageOrNull(r.content)
        if (img == null) None
        else {
          val raster = img.getRaster
          val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var b = 0
              while (b < bands) { sum += raster.getSample(x, y, b); b += 1 }
              x += 1
            }
            y += 1
          }
          Some(ImageFeatures(r.doc_id, w, h, bands, sum))
        }
      }
    }
  }

  /** One histogram-bin row per (doc, bin): counts of decoded pixel
    * values bucketed into `bins` equal-width bins — the
    * brightness-distribution feature (exposure/contrast filters key off
    * it) computed from REAL decoded pixels. The histogram accumulates
    * IN-ROW (an int array per image), so only bin-cardinality rows per
    * doc leave the decoder — never per-pixel rows. */
  case class PixelHistBin(doc_id: Long, bin: Int, n: Long)

  def pixelHistogram(media: DataFrame, bins: Int = 16)
      : Dataset[PixelHistBin] = {
    require(256 % bins == 0, "bins must divide 256")
    val width = 256 / bins
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val img = readImageOrNull(r.content)
        if (img == null) Iterator.empty
        else {
          val raster = img.getRaster
          val (w, h) = (img.getWidth, img.getHeight)
          val hist = new Array[Long](bins)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // clamp: a >8-bit sample model (16-bit grayscale PNG)
              // lands in the top bin instead of throwing past the
              // array — decode oddities dead-letter, never fail the task
              hist(math.min(bins - 1, raster.getSample(x, y, 0) / width)) += 1
              x += 1
            }
            y += 1
          }
          (0 until bins).iterator.filter(hist(_) > 0)
            .map(b => PixelHistBin(r.doc_id, b, hist(b)))
        }
      }
    }
  }

  /** Per-window audio energy from REAL decoded samples: non-overlapping
    * `frameLen`-sample windows, energy = Σ sample² in exact BIGINTs
    * (8-bit unsigned samples, so a window's energy is bounded at
    * frameLen·255²) — the silence/clipping detector of an audio
    * pipeline, windowed in-row so only frame-cardinality rows leave the
    * decoder. The trailing partial window is emitted with its true
    * sample count. */
  case class AudioFrameEnergy(doc_id: Long, frame_idx: Int, n: Int,
      energy: Long)

  def audioFrameEnergy(media: DataFrame, frameLen: Int = 64)
      : Dataset[AudioFrameEnergy] = {
    require(frameLen >= 1)
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.content))
          try {
            val frames = in.readAllBytes()
            val nFrames = (frames.length + frameLen - 1) / frameLen
            (0 until nFrames).iterator.map { fi =>
              val start = fi * frameLen
              val end = math.min(frames.length, start + frameLen)
              var e = 0L
              var i = start
              while (i < end) {
                val s = (frames(i) & 0xff).toLong
                e += s * s
                i += 1
              }
              AudioFrameEnergy(r.doc_id, fi, end - start, e)
            }.toSeq
          } finally in.close()
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException |
               _: java.io.IOException | _: RuntimeException => Seq.empty
        }
      }
    }
  }

  case class AudioClipStats(doc_id: Long, n_samples: Long, n_rail: Long,
    peak_dev: Long)

  /** Clipping/level audit over truly decoded PCM: per doc, the count
    * of samples pinned to the 8-bit rails (0 or 255 — the signature of
    * clipped or corrupted audio) and the peak deviation from the 128
    * midpoint. The curation gate that drops distorted audio before
    * feature extraction. Same mapPartitions decode discipline as
    * [[audioFrameEnergy]] (codec state amortized per partition, one
    * output row per doc, undecodable inputs skipped). */
  def audioClipStats(media: DataFrame): Dataset[AudioClipStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.content))
          try {
            val frames = in.readAllBytes()
            var rail = 0L
            var peak = 0L
            var i = 0
            while (i < frames.length) {
              val s = frames(i) & 0xff
              if (s == 0 || s == 255) rail += 1
              val dev = math.abs(s - 128).toLong
              if (dev > peak) peak = dev
              i += 1
            }
            Seq(AudioClipStats(r.doc_id, frames.length.toLong, rail, peak))
          } finally in.close()
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException |
               _: java.io.IOException | _: RuntimeException => Seq.empty
        }
      }
    }
  }

  /** Synthesized audio fixture: one real 8-bit PCM mono WAV per id,
    * length and samples pure functions of the id so a SQL oracle can
    * replay them: n_samples = 256 + id % 256, sample(i) =
    * (id*17 + i*5) % 256 (8-bit PCM stores exactly these unsigned
    * bytes). WAV is lossless, so a correct decode recovers them
    * exactly — the audio twin of [[synthesizePngs]]. */
  def synthesizeWavs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
      ids.map { id =>
        val n = 256 + (id % 256).toInt
        val samples = Array.tabulate[Byte](n)(i =>
          ((id * 17 + i.toLong * 5) % 256).toByte)
        val baos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(
          new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(samples), fmt, n.toLong),
          javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
        (id, baos.toByteArray, "audio/wav")
      }
    }.toDF("doc_id", "content", "fmt")
  }

  /** Decoded audio metadata + exact sample checksum — the quantity an
    * arithmetic oracle can verify (the audio analog of
    * [[ImageFeatures]]). */
  case class AudioFeatures(doc_id: Long, n_samples: Long, sample_rate: Int,
      bits: Int, channels: Int, sample_sum: Long)

  /** REAL audio decode via `javax.sound.sampled` (zero extra
    * dependencies): parse the WAV container, stream the PCM frames,
    * checksum the unsigned 8-bit samples. mapPartitions so stream
    * plumbing amortizes; undecodable payloads are dropped (the
    * dead-letter path of a real pipeline). */
  def decodeAudio(media: DataFrame): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        // one try around header parse AND frame read: a corrupt body
        // behind a valid RIFF header throws from readAllBytes, and
        // malformed headers can throw unchecked — both are dead-letter
        // drops, not task failures (same contract as readImageOrNull)
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.content))
          try {
            val fmt = in.getFormat
            val frames = in.readAllBytes()
            var sum = 0L
            var i = 0
            while (i < frames.length) { sum += frames(i) & 0xff; i += 1 }
            Some(AudioFeatures(r.doc_id, in.getFrameLength,
              fmt.getSampleRate.toInt, fmt.getSampleSizeInBits,
              fmt.getChannels, sum))
          } finally in.close()
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException |
               _: java.io.IOException | _: RuntimeException => None
        }
      }
    }
  }

  /** Synthesized VIDEO-like fixture: one real animated GIF per id —
    * a true multi-frame container the JDK can both write and read.
    * 2 + id%4 frames of 8×8 grayscale, frame f's pixel(x,y) =
    * (id·31 + f·11 + x·7 + y) % 256; GIF's 256-entry gray palette
    * stores 8-bit samples losslessly, so a correct container parse +
    * per-frame decode recovers them exactly (the moving-picture twin
    * of [[synthesizePngs]]/[[synthesizeWavs]]). */
  def synthesizeGifs(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long")).as[Long].mapPartitions { ids =>
      import javax.imageio.{IIOImage, ImageIO}
      val baos = new java.io.ByteArrayOutputStream()
      ids.map { id =>
        val nFrames = 2 + (id % 4).toInt
        baos.reset()
        val writer = ImageIO.getImageWritersByFormatName("gif").next()
        val ios = ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        var f = 0
        while (f < nFrames) {
          val img = new java.awt.image.BufferedImage(
            8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              raster.setSample(x, y, 0,
                ((id * 31 + f * 11 + x * 7 + y) % 256).toInt)
              x += 1
            }
            y += 1
          }
          writer.writeToSequence(new IIOImage(img, null, null), null)
          f += 1
        }
        writer.endWriteSequence()
        ios.close()
        writer.dispose()
        (id, baos.toByteArray, "image/gif")
      }
    }.toDF("doc_id", "content", "fmt")
  }

  /** One row per decoded frame of a multi-frame container. */
  case class FrameFeatures(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, px_sum: Long)

  /** REAL multi-frame decode: parse the GIF container with the JDK's
    * ImageIO reader, decode EVERY frame, checksum its pixels (palette
    * index resolved through getRGB so the recovered gray value — not
    * the index — is summed). This retires [[frameSampleStub]]'s
    * byte-slice stand-in for the one container format the JDK really
    * decodes: the fan-out shape (one media row in, n frame rows out),
    * per-partition reader reuse, and dead-letter drop for undecodable
    * payloads are exactly what a JNI video codec drops into. */
  def gifFrames(media: DataFrame): Dataset[FrameFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      import javax.imageio.ImageIO
      rows.flatMap { r =>
        try {
          val iis = ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(r.content))
          val readers = ImageIO.getImageReaders(iis)
          if (!readers.hasNext) { iis.close(); Iterator.empty }
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val n = reader.getNumImages(true)
              (0 until n).iterator.map { f =>
                val img = reader.read(f)
                val (w, h) = (img.getWidth, img.getHeight)
                var sum = 0L
                var y = 0
                while (y < h) {
                  var x = 0
                  while (x < w) { sum += img.getRGB(x, y) & 0xFF; x += 1 }
                  y += 1
                }
                FrameFeatures(r.doc_id, f, w, h, sum)
              }.toVector
            } finally { reader.dispose(); iis.close() }
          }
        } catch {
          case _: java.io.IOException | _: RuntimeException => Iterator.empty
        }
      }
    }
  }

  /** Real plumbing path: partition-wise decode via the codec seam. */
  def decodePartitions(media: DataFrame, decoder: MediaDecoder)
      : Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // a real codec would init its context here, amortized per partition;
      // md5Hex reuses a thread-local digest per row
      rows.map { r =>
        val (w, h, c) = decoder.decode(r.content)
        MediaFeatures(r.doc_id, r.content.length, md5Hex(r.content), w, h, c)
      }
    }
  }

  /** Media resized to w×h×1. */
  case class ResizedMedia(doc_id: Long, width: Int, height: Int,
      pixels: Array[Byte])

  /** REAL image resize: decode with `javax.imageio`, then resample band
    * 0 by nearest-neighbor with explicit floor index arithmetic —
    * srcX = X·w_in DIV w_out, srcY = Y·h_in DIV h_out — real decoded
    * pixels through a rescale whose index math a SQL oracle replays
    * exactly (q84). `AffineTransformOp` would rescale too, but its
    * inverse-transform rounding is not spelled-out arithmetic, so the
    * explicit resample is the oracle-checkable spelling. Payloads the
    * JDK cannot decode fall back to [[resizeStub]]'s deterministic
    * fake, keeping the seam total over arbitrary bytes. */
  def resizeImages(media: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val img = readImageOrNull(r.content)
        if (img == null) stubResize(digest, r, w, h)
        else {
          val raster = img.getRaster
          val (wi, hi) = (img.getWidth, img.getHeight)
          val px = new Array[Byte](w * h)
          var y = 0
          while (y < h) {
            val sy = (y.toLong * hi / h).toInt
            var x = 0
            while (x < w) {
              px(y * w + x) =
                raster.getSample((x.toLong * wi / w).toInt, sy, 0).toByte
              x += 1
            }
            y += 1
          }
          ResizedMedia(r.doc_id, w, h, px)
        }
      }
    }
  }

  /** 64-bit average-hash (aHash) per decodable image: resample band 0
    * to 8×8 with the SAME floor-index arithmetic as [[resizeImages]],
    * threshold each pixel at the image mean in exact integers
    * (px·64 >= Σpx — no float mean), pack the bits row-major
    * (bit i = pixel (i%8, i/8)). Emitted as two unsigned 32-bit halves
    * so neither engine plays sign games with bit 63. This is the
    * perceptual fingerprint of image dedup — identical hashes group
    * visually-identical-structure images; undecodable payloads drop
    * (dead-letter), exactly like [[decodeImages]]. */
  case class AHash(doc_id: Long, ahash_hi: Long, ahash_lo: Long)

  def aHash(media: DataFrame): Dataset[AHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      rows.flatMap { r =>
        val img = readImageOrNull(r.content)
        if (img == null) None
        else {
          val raster = img.getRaster
          val (wi, hi) = (img.getWidth, img.getHeight)
          val px = new Array[Int](64)
          var sum = 0L
          var i = 0
          while (i < 64) {
            val v = raster.getSample(
              ((i % 8).toLong * wi / 8).toInt, ((i / 8).toLong * hi / 8).toInt, 0)
            px(i) = v
            sum += v
            i += 1
          }
          var hb = 0L
          var lb = 0L
          i = 0
          while (i < 64) {
            if (px(i).toLong * 64 >= sum) {
              if (i < 32) lb |= 1L << i else hb |= 1L << (i - 32)
            }
            i += 1
          }
          Some(AHash(r.doc_id, hb, lb))
        }
      }
    }
  }

  /** Denormalized aHash chunk table: one row per (doc, chunk) carrying
    * the full 64-bit hash alongside — 4 rows × ~32 B per image, so the
    * Hamming verify after a chunk collision is ROW-LOCAL (no second
    * join back to a hash table). The image family's band table. */
  def aHashChunkTable(hashes: DataFrame): DataFrame =
    hashes.select(col("doc_id"), col("ahash_hi"), col("ahash_lo"),
      posexplode(expr(
        "array(ahash_lo & 65535, shiftright(ahash_lo, 16) & 65535, " +
          "ahash_hi & 65535, shiftright(ahash_hi, 16) & 65535)"))
        .as(Seq("ci", "cv")))

  /** The chunk table's [[Banded.Layout]]: 4 × 2^16 (ci, cv) buckets. */
  private val chunkLayout =
    Banded.Layout(Seq("ci", "cv"), "doc_id", Some(4L << 16))

  /** The image family runs UNCAPPED: its recall contract is exact
    * (pigeonhole), and chunk buckets at the gated scales already exceed
    * [[BucketCap.DefaultCap]] (largest (ci, cv) bucket: 243 images at
    * sf0.01, 2,378 at sf0.1), so a cap would drop true pairs there. */
  private val ChunkCap = Banded.Uncapped

  /** Row-local Hamming distance of a chunk collision's two hashes. */
  private val hammingXY: Column =
    expr("CAST(bit_count(x.ahash_hi ^ y.ahash_hi)" +
      " + bit_count(x.ahash_lo ^ y.ahash_lo) AS INT)").as("hamming")

  /** NEAR-duplicate image pairs within Hamming distance `maxHamming`
    * over the 64-bit [[aHash]] — the Hamming-ball extension of q165's
    * exact-match clusters, catching re-encodes/minor edits whose hashes
    * differ in a few bits. Same chunk-pigeonhole as the 60-bit simhash
    * pairs ([[Dedup.simhashPairs]]): the 64 bits split into 4 exact
    * 16-bit chunks, and any pair within Hamming 3 differs in at most 3
    * chunks, so it SHARES at least one — candidates come from the
    * [[Banded]] (chunk_idx, chunk_value) equi-join and the popcount
    * verify is row-local on the denormalized chunk rows. Exact recall at
    * maxHamming ≤ 3 (the DuckDB oracle is the brute-force all-pairs
    * join), with no bucket cap ([[ChunkCap]]): a chunk value shared by
    * n images costs n² candidates. The chunk table is cached: decode
    * runs once, not once per plan reference. */
  def aHashPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4,
      "4 chunks only guarantee recall for Hamming <= 3")
    val chunks = Scratch.cache(aHashChunkTable(hashes))
    Banded.selfJoin(chunks, chunkLayout, ChunkCap)
      .select(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"),
        hammingXY)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Persist the corpus aHash chunk index BUCKETED on the (ci, cv)
    * join key ([[Banded.writeIndex]]) — the image twin of
    * [[Dedup.writeBandIndex]]: pay the corpus shuffle once at write
    * time; every later batch probes with zero corpus-side exchange
    * ([[incrementalAHashPairs]]). Uncapped, so no `_sizes` table. */
  def writeAHashIndex(hashes: DataFrame, table: String,
      nBuckets: Int = 32): Unit =
    Banded.writeIndex(aHashChunkTable(hashes), chunkLayout, table,
      nBuckets, banding = None, withSizes = false)

  /** Incremental image near-dup pairs: pairs within Hamming `maxHamming`
    * touching a NEW batch, probed against a [[writeAHashIndex]]-persisted
    * corpus — the daily-ingest shape (the one-shot [[aHashPairs]]
    * re-chunks the whole corpus every time). Candidates come from
    * [[Banded.probe]] (only the batch moves); the popcount verify is
    * row-local thanks to the denormalized chunk rows, and the final
    * distinct dedups multi-chunk agreements. Exact recall at
    * maxHamming ≤ 3 by the same 4×16-bit pigeonhole as [[aHashPairs]] —
    * the oracle brute-forces every batch-touching pair to prove it.
    * `batchBands`: a caller-owned [[aHashChunkTable]] of the batch
    * ([[Banded]]'s storage convention). */
  def incrementalAHashPairs(batchHashes: DataFrame, indexTable: String,
      maxHamming: Int = 3,
      batchBands: Option[DataFrame] = None): DataFrame = {
    require(maxHamming < 4,
      "4 chunks only guarantee recall for Hamming <= 3")
    Banded.probe(indexTable, batchBands, aHashChunkTable(batchHashes),
        chunkLayout, ChunkCap, out = Seq(hammingXY))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  private def stubResize(digest: java.security.MessageDigest, r: MediaRow,
      w: Int, h: Int): ResizedMedia = {
    digest.reset()
    val d = digest.digest(r.content)
    ResizedMedia(r.doc_id, w, h, Array.tabulate[Byte](w * h)(i => d(i % d.length)))
  }

  /** Near-dup VIDEO pairs from decoded frame fingerprints: two
    * containers are near-dups when they share >= `minShared` distinct
    * frame fingerprints — the re-encode / trim / re-title detector a
    * video corpus dedups with (frame-set overlap survives reordering
    * and truncation, which a whole-file hash does not). Candidates
    * come ONLY from the fingerprint equi-join (videos sharing a frame
    * hash), never an all-pairs stage; `overlap_ppm` normalizes shared
    * count by the smaller video (containment semantics, as q159) so a
    * clip fully inside a longer cut still scores 1e6. The synthetic
    * corpus's px_sum fingerprint has a 256-value space (adversarially
    * collision-heavy); production uses a per-frame perceptual hash
    * (q165's aHash) where equi-join fan-out is genuinely rare-key. */
  def frameOverlapPairs(frames: DataFrame, minShared: Int): DataFrame = {
    val fp = frames.select(col("doc_id"), col("px_sum").as("fp")).distinct()
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    fp.as("x").join(fp.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("ida"), col("y.doc_id").as("idb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("doc_id").as("ida"), col("nf").as("nfa")), "ida")
      .join(sizes.select(col("doc_id").as("idb"), col("nf").as("nfb")), "idb")
      .withColumn("overlap_ppm",
        expr("shared * 1000000 DIV least(nfa, nfb)"))
  }

  /** NON-IMAGE fallback resize — output pixels are the md5 digest of
    * the payload cycled to length (deterministic, size-correct), so a
    * resize stage over payloads with no decodable image (audio/video
    * byte streams in this container) still exercises the partitioning,
    * schema and batch shape. Images take [[resizeImages]]'s real path. */
  def resizeStub(media: DataFrame, w: Int, h: Int): Dataset[ResizedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val digestPool = java.security.MessageDigest.getInstance("MD5")
      rows.map { r => stubResize(digestPool, r, w, h) }
    }
  }

  /** Frame sampling — STUB for codec-less byte payloads: frame i is
    * the i-th of n contiguous byte slices (boundaries floor(i·L/n)),
    * exercising the flatMap fan-out shape with oracle-replayable
    * arithmetic. The REAL multi-frame path is [[gifFrames]] (container
    * parse + per-frame decode); this remains the seam for formats the
    * JDK cannot decode. */
  case class MediaFrame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  def frameSampleStub(media: DataFrame, n: Int): Dataset[MediaFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].flatMap { r =>
      val L = r.content.length
      (0 until n).iterator.map { i =>
        val s = (i.toLong * L / n).toInt
        val e = ((i + 1).toLong * L / n).toInt
        MediaFrame(r.doc_id, i, java.util.Arrays.copyOfRange(r.content, s, e))
      }
    }
  }

  /** Expression twin of frameSampleStub over a text payload (ASCII ⇒
    * byte slices == char slices), oracle-gated; MultimodalSpec asserts
    * lockstep with the Dataset path. */
  def frameColumns(df: DataFrame, idCol: String, textCol: String, n: Int)
      : DataFrame =
    df.select(col(idCol).as("doc_id"), col(textCol).as("_t"),
        length(col(textCol)).as("_len"),
        posexplode(sequence(lit(0), lit(n - 1))).as(Seq("_p", "frame_idx")))
      .drop("_p")
      .select(col("doc_id"), col("frame_idx"),
        // FLOOR before the int cast: a bare double→int cast truncates in
        // Spark but rounds in DuckDB
        expr(s"substring(_t, CAST(FLOOR(frame_idx * _len / $n) AS INT) + 1, " +
          s"CAST(FLOOR((frame_idx + 1) * _len / $n) AS INT) - CAST(FLOOR(frame_idx * _len / $n) AS INT))")
          .as("frame"))
      .withColumn("frame_chars", length(col("frame")))
      .withColumn("frame_md5", md5(col("frame")))
      .drop("frame")

  /** Expression twin of StubDecoder (whole-stage codegen; oracle-gated).
    * Must stay in lockstep with StubDecoder — MultimodalSpec asserts it. */
  def featureColumns(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("sig", md5(col(textCol)))
      .select(col(idCol).as("doc_id"),
        octet_length(col(textCol)).as("n_bytes"),
        col("sig"),
        (lit(16) + expr(nibbleSpark("sig", 0)) * 16 +
          expr(nibbleSpark("sig", 1))).as("width"),
        (lit(16) + expr(nibbleSpark("sig", 2)) * 16 +
          expr(nibbleSpark("sig", 3))).as("height"),
        (lit(1) + expr(nibbleSpark("sig", 4)) % 3).as("channels"))

  /** DuckDB twin of featureColumns for the oracle. */
  def featureSqlDuck(table: String, idCol: String, textCol: String): String =
    s"""WITH h AS (SELECT $idCol AS doc_id,
      |  octet_length(encode($textCol)) AS n_bytes, md5($textCol) AS sig
      | FROM $table)
      |SELECT doc_id, n_bytes, sig,
      | 16 + ${nibbleDuck("sig", 0)} * 16 + ${nibbleDuck("sig", 1)} AS width,
      | 16 + ${nibbleDuck("sig", 2)} * 16 + ${nibbleDuck("sig", 3)} AS height,
      | 1 + ${nibbleDuck("sig", 4)} % 3 AS channels
      |FROM h""".stripMargin
}
