package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY §2.10): opaque `binary` payload
  * columns carried with typed metadata structs, plus a batch
  * decode/feature-extract stage.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic fake ([[FakeCodec]]); everything around
  * it — schema (binary + struct metadata), partition-preserving batch
  * shape (`mapPartitions`), and the feature projection — is real and
  * tested. Swap [[FakeCodec.decode]] for a real codec binding on a
  * cluster with the native libs installed.
  */
object Multimodal {

  /** Typed metadata carried beside the opaque payload. */
  case class MediaMeta(mediaType: String, widthPx: Int, heightPx: Int, sourceId: Long)

  case class MediaRecord(docId: Long, payload: Array[Byte], meta: MediaMeta)

  case class MediaFeatures(docId: Long, mediaType: String, nBytes: Int,
                           meanByte: Double, featureHash: Long)

  /** Deterministic fake codec — STUB for the real image/audio decode.
    * Produces stable pseudo-features from the payload bytes so the
    * Spark-side plumbing (batching, schema, shuffle boundaries) is fully
    * exercisable without native codec libraries (none ship in this
    * container). A real deployment swaps these bodies for codec
    * bindings; signatures and batch shapes stay as-is.
    */
  object FakeCodec {
    def decode(payload: Array[Byte]): Array[Double] = {
      // real impl would be e.g. JPEG decode → pixel tensor; here: byte stats
      if (payload.isEmpty) Array(0.0)
      else payload.map(b => (b & 0xFF).toDouble)
    }

    /** STUB resize: nearest-neighbor downsample of the decoded "pixels"
      * to `target` samples (a real impl resamples a H×W×C tensor).
      */
    def resize(decoded: Array[Double], target: Int): Array[Double] = {
      if (decoded.length <= target) decoded
      else Array.tabulate(target)(i => decoded((i.toLong * decoded.length / target).toInt))
    }

    /** STUB frame sampling: split the payload into `n` equal-size frames
      * (a real impl seeks keyframes in a video container).
      */
    def frameSample(payload: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (payload.isEmpty || n <= 0) Seq.empty
      else {
        val size = math.max(1, payload.length / n)
        payload.grouped(size).take(n).toSeq
      }
    }
  }

  /** Build a multimodal table from `documents`: the UTF-8 bytes of the
    * text stand in for an opaque media payload, with a metadata struct
    * derived deterministically. This is the ingest shape: payload stays
    * binary end-to-end, metadata is a first-class nested struct.
    */
  def toMediaTable(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        lit("text/plain").as("media_type"),
        (col("n_chars") % 640).cast("int").as("width_px"),
        (col("n_chars") % 480).cast("int").as("height_px"),
        col("doc_id").as("source_id")).as("meta"))

  /** Batch feature extraction over the media table via `mapPartitions` —
    * the per-partition batch shape a real codec needs (amortize codec
    * init per partition, not per row). No shuffle: narrow transformation.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("meta.media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        // per-partition init site (real codec: open decoder context here)
        it.map { case (id, payload, mt) =>
          val decoded = Multimodal.FakeCodec.decode(payload)
          val mean = decoded.sum / decoded.length
          val fh = decoded.foldLeft(17L)((a, v) => a * 1000003L + java.lang.Double.doubleToLongBits(v))
          MediaFeatures(id, mt, payload.length, mean, fh)
        }
      }
  }

  /** Resize + frame-sample stage over the media table: per-partition
    * batch shape again (`mapPartitions`); emits one row per sampled
    * frame with the resized feature vector — the explode-shaped output a
    * video/image pipeline feeds to embedding models.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame,
                   nFrames: Int = 4, resizeTo: Int = 16): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          FakeCodec.frameSample(payload, nFrames).zipWithIndex.map {
            case (frame, idx) =>
              (id, idx, frame.length, FakeCodec.resize(FakeCodec.decode(frame), resizeTo))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_bytes", "features")
  }

  /** Aspect-ratio bucketing + batch packing — the image/video-training
    * batching trick: group media by aspect-ratio class (so a batch's
    * tensors share a shape and need no padding), then pack each bucket
    * into fixed-size training batches in deterministic doc order.
    * The bucket is an INTEGER aspect decile (`width*10 div height`) —
    * exact on any engine, no float rounding at bucket edges; zero
    * heights land in a NULL bucket instead of dividing by zero. One
    * shuffle on the bucket key; batch ids come from a per-bucket
    * row_number, the same running-total shape as sequence packing.
    */
  def aspectBatches(media: DataFrame, batchSize: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = when(col("meta.height_px") > 0,
      expr("CAST(meta.width_px AS BIGINT) * 10 div meta.height_px"))
    val w = Window.partitionBy(col("aspect_bucket")).orderBy(col("doc_id"))
    media.withColumn("aspect_bucket", bucket)
      .withColumn("rn", row_number().over(w).cast("long") - 1)
      .withColumn("batch_id", expr(s"rn div $batchSize"))
      .groupBy("aspect_bucket", "batch_id").agg(
        count(lit(1)).as("n_items"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("aspect_bucket").asc_nulls_first, col("batch_id"))
  }

  /** Oracle-matched projection of the binary plumbing: payload byte
    * length + SHA-256 content hash, both engine-portable (DuckDB:
    * octet_length / sha256 over the same UTF-8 bytes).
    */
  def binaryStats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
      sha2(encode(col("text"), "UTF-8"), 256).as("sha256_hex"))
      .orderBy("doc_id")

  /** REAL codec tier — PNG via `javax.imageio` (pure JVM, ships with
    * the JDK, no native deps): actual image encode and decode inside
    * the same per-partition batch stages the [[FakeCodec]] paths
    * demonstrate. PNG is lossless, so a deterministic pixel pattern
    * survives the encode→decode round-trip bit-exactly and the decoded
    * aggregates stay DuckDB-oracle-matched in closed form.
    */
  object PngCodec {
    // ImageIO's default stream cache backs every read/write with a TEMP
    // FILE on disk — pure overhead for in-memory byte[] codecs, and a
    // serialization point when 32 tasks decode concurrently (measured:
    // 20k decodes 699 ms -> 51 ms at 32 threads with the cache off,
    // 1347 -> 333 ms single-threaded). Per-JVM, set at object init so
    // every executor that touches a codec path gets it; cache backing
    // does not affect decoded pixels or encoded bytes.
    javax.imageio.ImageIO.setUseCache(false)

    /** Encode a width×height RGB image, pixel (x,y) = `rgb(x,y)`
      * (0xRRGGBB). Codec contexts are cheap for PNG; for stateful
      * codecs, hoist init to the mapPartitions head.
      */
    def encode(width: Int, height: Int, rgb: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }

    def decode(png: Array[Byte]): java.awt.image.BufferedImage =
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))

    /** Baseline-JPEG encode via the same tuned ImageIO entry point
      * (kept here so the no-disk-cache init above covers every image
      * codec path in one place).
      */
    def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }
  }

  /** Synthetic PNG media table: one real PNG per document, dimensions
    * and per-pixel channels derived deterministically from `doc_id`
    * (same fixture pattern as `withSyntheticPii` / `withSyntheticUrl`
    * — the corpus has no image column, so the operator is exercised on
    * synthetic payloads while staying hash-matched). Encode runs in a
    * `mapPartitions` batch stage: narrow, no shuffle.
    */
  def syntheticPngTable(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 9).toInt
          val h = (8 + id % 7).toInt
          val png = PngCodec.encode(w, h, (x, y) => {
            val r = ((id * 7 + x * 3 + y * 5) % 256).toInt
            val g = ((id * 11 + x + y * 2) % 256).toInt
            val b = ((id * 13 + x * 4 + y) % 256).toInt
            (r << 16) | (g << 8) | b
          })
          (id, png, w, h)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px")
      .select(col("doc_id"), col("payload"), struct(
        lit("image/png").as("media_type"),
        col("width_px"), col("height_px"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Synthetic JPEG media table — the LOSSY tier next to
    * [[syntheticPngTable]]. Same deterministic per-doc_id fixture shape,
    * but the pixel pattern is a LOW-FREQUENCY gradient: JPEG's DCT
    * quantization error concentrates in high-frequency content, so a
    * smooth gradient keeps per-channel reconstruction error small and
    * bounded — which is what the tolerance spec (MultimodalSpec) pins.
    * Encoding is `javax.imageio`'s baseline JPEG writer (deterministic
    * for a fixed JVM); decode aggregates are NOT closed-form
    * SQL-expressible (lossy), so `q_jpeg_decode` is a rows-only driver
    * check with the error bound pinned in ScalaTest instead.
    */
  def syntheticJpegTable(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = (16 + id % 9).toInt
          val h = (16 + id % 7).toInt
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // smooth gradients per channel, phase-shifted by doc_id
              val r = (((id * 7) % 64 + x * 2 + y) % 256).toInt
              val g = (((id * 11) % 64 + x + y * 2) % 256).toInt
              val b = (((id * 13) % 64 + x + y) % 256).toInt
              img.setRGB(x, y, (r << 16) | (g << 8) | b)
              x += 1
            }
            y += 1
          }
          (id, PngCodec.encodeJpeg(img), w, h)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px")
      .select(col("doc_id"), col("payload"), struct(
        lit("image/jpeg").as("media_type"),
        col("width_px"), col("height_px"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Decode image payloads with `javax.imageio` (format-sniffing: PNG
    * and JPEG alike) and aggregate the DECODED pixels per image
    * (dimensions + exact per-channel sums — integer math over whatever
    * the codec reconstructed). Same `mapPartitions` batch shape as
    * [[extractFeatures]]; narrow, shuffle-free (plan-tested).
    */
  def decodeImageFeatures(spark: SparkSession, media: DataFrame): DataFrame =
    decodePngFeatures(spark, media)

  /** Decode the PNG payloads with `javax.imageio` and aggregate the
    * DECODED pixels per image (dimensions + exact per-channel sums —
    * integer math, engine-portable). Same `mapPartitions` batch shape
    * as [[extractFeatures]]; narrow, shuffle-free (plan-tested).
    * (`ImageIO.read` sniffs the container, so this decodes any
    * JDK-supported format — [[decodeImageFeatures]] is the
    * format-neutral name.)
    */
  def decodePngFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, png) =>
          val img = PngCodec.decode(png)
          val w = img.getWidth
          val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xFF
              sg += (p >> 8) & 0xFF
              sb += p & 0xFF
              x += 1
            }
            y += 1
          }
          (id, w, h, w.toLong * h, sr, sg, sb)
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** JPEG reconstruction-contract audit — the bounds-twin that puts
    * the LOSSY tier's contract under the DuckDB oracle (the
    * `q_compression_bounds` pattern): `q_jpeg_decode`'s aggregates are
    * codec-defined (not SQL semantics), but the contract they must
    * satisfy IS closed-form — dimensions survive the lossy round-trip
    * exactly, per-channel mean reconstruction error stays within
    * `tolerance` gray levels of the synthetic gradient's closed-form
    * pixel sums ([[syntheticJpegTable]]'s pattern, replayed here as an
    * independent in-pass reference, no codec), and decoding the same
    * payload twice agrees. Emitted per image as TRUE-iff-held
    * booleans beside the exact closed-form dims; the oracle emits the
    * same dims and literal TRUE, so a hash match certifies every bound
    * on every image and a broken codec surfaces as a correctness
    * failure. Same narrow shuffle-free `mapPartitions` batch shape as
    * [[decodeImageFeatures]].
    */
  def jpegBoundsAudit(spark: SparkSession, media: DataFrame,
                      tolerance: Long = 8L): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, jpg) =>
          def sums(img: java.awt.image.BufferedImage): (Long, Long, Long) = {
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            (sr, sg, sb)
          }
          val img = PngCodec.decode(jpg)
          val (sr, sg, sb) = sums(img)
          val img2 = PngCodec.decode(jpg)
          val (sr2, sg2, sb2) = sums(img2)
          // closed-form reference: the generator's gradient, replayed
          // without any codec (the MultimodalSpec reference, in-pass)
          val w = (16 + id % 9).toInt
          val h = (16 + id % 7).toInt
          var er = 0L; var eg = 0L; var eb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              er += ((id * 7) % 64 + x * 2 + y) % 256
              eg += ((id * 11) % 64 + x + y * 2) % 256
              eb += ((id * 13) % 64 + x + y) % 256
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h
          (id, w, h, n,
            img.getWidth == w, img.getHeight == h,
            math.abs(sr - er) <= tolerance * n,
            math.abs(sg - eg) <= tolerance * n,
            math.abs(sb - eb) <= tolerance * n,
            img2.getWidth == img.getWidth && img2.getHeight == img.getHeight &&
              (sr2, sg2, sb2) == ((sr, sg, sb)))
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "width_ok", "height_ok",
        "err_r_ok", "err_g_ok", "err_b_ok", "decode_deterministic")
      .orderBy("doc_id")
  }

  /** REAL audio codec tier — WAV/PCM via `javax.sound.sampled` (pure
    * JVM, ships with the JDK, no native deps): actual audio encode and
    * decode inside the same per-partition batch stages as the PNG/JPEG
    * image tiers. 16-bit PCM is lossless, so a deterministic sample
    * pattern survives the encode→decode round-trip bit-exactly and the
    * decoded aggregates stay DuckDB-oracle-matched in closed form —
    * the audio member of the multimodal family (image: PNG lossless /
    * JPEG lossy; audio: WAV lossless).
    */
  object WavCodec {
    /** Encode 16-bit signed little-endian mono PCM at `sampleRate`. */
    def encode(sampleRate: Float, samples: Array[Short]): Array[Byte] = {
      val bytes = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        bytes(2 * i) = (samples(i) & 0xFF).toByte
        bytes(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val baos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
      baos.toByteArray
    }

    /** Decode a WAV container back to (sampleRate, PCM16 samples). */
    def decode(wav: Array[Byte]): (Float, Array[Short]) = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val frames =
        try ais.readAllBytes()
        finally ais.close()
      val n = frames.length / 2
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = ((frames(2 * i) & 0xFF) | (frames(2 * i + 1) << 8)).toShort
        i += 1
      }
      (ais.getFormat.getSampleRate, out)
    }
  }

  /** Synthetic WAV media table: one real PCM16 WAV per document,
    * sample count, rate, and every sample amplitude closed-form in
    * `doc_id` (`amp(id, i) = (id·31 + i·17) mod 2003 − 1001`) — the
    * same fixture pattern as [[syntheticPngTable]]: the corpus has no
    * audio column, so the codec plumbing is exercised on synthetic
    * payloads while staying hash-matched. Encode runs in a
    * `mapPartitions` batch stage: narrow, no shuffle.
    */
  def syntheticWavTable(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (200 + id % 100).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          val samples = Array.tabulate(n)(i =>
            (((id * 31 + i.toLong * 17) % 2003) - 1001).toShort)
          (id, WavCodec.encode(rate.toFloat, samples), rate, n)
        }
      }
      .toDF("doc_id", "payload", "sample_rate", "n_samples")
      .select(col("doc_id"), col("payload"), struct(
        lit("audio/wav").as("media_type"),
        col("sample_rate"), col("n_samples"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Decode the WAV payloads with `javax.sound.sampled` and aggregate
    * the DECODED samples per clip (rate, count, exact integer
    * amplitude sums/extremes — engine-portable). Same narrow
    * `mapPartitions` batch shape as [[decodePngFeatures]]; PCM is
    * lossless, so the aggregates are a closed-form function of the
    * synthetic pattern and the whole pipeline sits under the DuckDB
    * oracle (`q_wav_decode`).
    */
  def decodeWavFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, wav) =>
          val (rate, samples) = WavCodec.decode(wav)
          var sum = 0L; var sumAbs = 0L
          var mn = Int.MaxValue; var mx = Int.MinValue
          var i = 0
          while (i < samples.length) {
            val v = samples(i).toInt
            sum += v; sumAbs += math.abs(v)
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          (id, rate.toInt, samples.length.toLong, sum, mn, mx, sumAbs)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "sum_amp", "min_amp",
        "max_amp", "sum_abs")
  }

  /** 63-bit energy-difference hash (eHash) of each DECODED audio clip —
    * the audio twin of [[imageDhash]]: split the PCM samples into 64
    * equal windows (sample i → window `i·64 / n`, integer floor — a
    * closed-form layout any engine reproduces), per-window energy =
    * Σ amp² (exact integer math), one bit per neighbor pair
    * (`e(w+1) > e(w)` → bit w). 63 bits keeps the BIGINT oracle exact.
    * Decode + hash run in one narrow `mapPartitions` stage — audio
    * bytes never cross a shuffle. Clips shorter than 64 samples hash
    * to 0 (no stable window layout).
    */
  private[graft] def ehashOf(samples: Array[Short]): Long = {
    val n = samples.length
    if (n < 64) return 0L
    val e = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = (i.toLong * 64 / n).toInt
      val v = samples(i).toLong
      e(w) += v * v
      i += 1
    }
    var hash = 0L
    var w = 0
    while (w < 63) {
      if (e(w + 1) > e(w)) hash |= 1L << w
      w += 1
    }
    hash
  }

  def audioEhash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, wav) =>
        (id, ehashOf(WavCodec.decode(wav)._2))
      })
      .toDF("doc_id", "ehash")
  }

  /** Perceptual near-duplicate audio pairs: Hamming distance over
    * [[audioEhash]] fingerprints at most `maxHamming` — the audio twin
    * of [[imageNearDup]], sharing the pigeonhole banding + safe-by-
    * default heavy-bucket cap core with the simhash/image paths
    * ([[graft.ext.Dedup.bandedHammingPairs]]).
    */
  def audioNearDup(spark: SparkSession, media: DataFrame,
                   maxHamming: Int = 6, maxBandBucket: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    graft.ext.Dedup.bandedHammingPairs(
      audioEhash(spark, media), "ehash", 63, maxHamming, maxBandBucket)
  }

  /** Perceptual duplicate-audio clusters: connected components over the
    * [[audioNearDup]] pair graph (min-doc_id labels), multi-clip
    * clusters only — the audio twin of [[imageClusters]] /
    * [[videoClusters]], completing the clusters cell for every
    * modality; propagation runs over pair-participating clips only.
    */
  def audioClusters(spark: SparkSession, media: DataFrame,
                    maxHamming: Int = 6, maxBandBucket: Int = -1): DataFrame =
    audioClustersFromHashes(audioEhash(spark, media), maxHamming, maxBandBucket)

  /** [[audioClusters]] over PRECOMPUTED `(doc_id, ehash)` fingerprints —
    * the decode-free core, for callers sharing one decode stage across
    * the near-dup path and the quality gate ([[audioStatsEhash]]).
    * Identical eHashes collapse to a star around the min-id rep before
    * the banded join (see [[imageClustersFromHashes]]) — M silent clips
    * cost M−1 edges, not an M²/2 clique, guard on or off.
    */
  private[graft] def audioClustersFromHashes(fp: DataFrame, maxHamming: Int = 6,
                                             maxBandBucket: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    hashGroupClusters(fp.select(col("doc_id"), col("ehash")), "ehash",
      groups => graft.ext.Dedup.bandedHammingPairsLazy(
        groups, "ehash", 63, maxHamming, maxBandBucket))
  }

  /** Synthetic WAV table with PLANTED perceptual duplicates — the audio
    * twin of [[syntheticPngClusters]]: sample pattern, count, and rate
    * derive from `doc_id % nClusters` (one cluster per residue class);
    * members with `doc_id >= nClusters` get the FIRST sample's
    * amplitude shifted by `doc_id / nClusters`, which perturbs only
    * window 0's energy — in-cluster eHash Hamming ≤ 1 (only the
    * `e(1) > e(0)` bit can flip) while distinct clusters' pseudo-random
    * energy profiles sit tens of bits apart. Closed-form per
    * (doc_id, i) in both engines.
    */
  def syntheticWavClusters(spark: SparkSession, documents: DataFrame,
                           nClusters: Int = 50): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % nClusters
          val n = (200 + key % 100).toInt
          val rate = (8000 + (key % 4) * 4000).toInt
          val bump = id / nClusters
          val samples = Array.tabulate(n) { i =>
            val base = ((key * 31 + i.toLong * 17) % 2003) - 1001
            (if (i == 0) base + bump else base).toShort
          }
          (id, WavCodec.encode(rate.toFloat, samples), rate, n)
        }
      }
      .toDF("doc_id", "payload", "sample_rate", "n_samples")
      .select(col("doc_id"), col("payload"), struct(
        lit("audio/wav").as("media_type"),
        col("sample_rate"), col("n_samples"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** [[syntheticWavClusters]] with a PLANTED DEGENERATE fraction —
    * the audio twin of [[syntheticPngSkewed]]: every `silentEvery`-th
    * doc_id is a SILENT clip (all-zero samples — every energy window 0,
    * so ALL of them share the all-zeros eHash, the dead-air mass a real
    * ingest contains). The rest follow the clustered PCM pattern. This
    * is the skew-stress fixture for the audio band-bucket cap A/B:
    * with the guard off, the silent fraction piles into
    * one (band, value) bucket per band and the join goes quadratic in
    * it on the daily incremental path.
    */
  def syntheticWavSkewed(spark: SparkSession, documents: DataFrame,
                         nClusters: Int = 50, silentEvery: Int = 4): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          if (id % silentEvery == 0) {
            val n = 256
            (id, WavCodec.encode(8000f, new Array[Short](n)), 8000, n)
          } else {
            val key = id % nClusters
            val n = (200 + key % 100).toInt
            val rate = (8000 + (key % 4) * 4000).toInt
            val bump = id / nClusters
            val samples = Array.tabulate(n) { i =>
              val base = ((key * 31 + i.toLong * 17) % 2003) - 1001
              (if (i == 0) base + bump else base).toShort
            }
            (id, WavCodec.encode(rate.toFloat, samples), rate, n)
          }
        }
      }
      .toDF("doc_id", "payload", "sample_rate", "n_samples")
      .select(col("doc_id"), col("payload"), struct(
        lit("audio/wav").as("media_type"),
        col("sample_rate"), col("n_samples"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** 63-bit difference hash (dHash) of each DECODED image — the
    * classic perceptual fingerprint (Krawetz's "Kind of Like That"
    * aHash/dHash family): sample integer luma (299·R + 587·G + 114·B,
    * no division — exact) at a nearest-neighbor 10×7 grid
    * (`x_i = (2i+1)·w / 20`, `y_j = (2j+1)·h / 14`, integer floor — a
    * closed-form "resize" that is engine-portable, unlike
    * interpolation), then one bit per horizontal neighbor pair:
    * `luma(x_{i+1}) > luma(x_i)` → bit `j·9 + i`. 9 bits × 7 rows =
    * 63 bits, so the hash never touches the BIGINT sign bit (DuckDB
    * errors on 64-bit shift overflow; 63 bits keeps the oracle exact).
    *
    * Decode runs in the same narrow `mapPartitions` batch stage as
    * [[decodePngFeatures]]; per-row output is one long — at 100 TB the
    * image bytes never cross a shuffle. Lossless payloads (PNG) make
    * the hash a closed-form function of the synthetic pixel pattern,
    * so the whole pipeline sits under the DuckDB oracle
    * (`q_image_dhash`).
    */
  /** The decode + dHash kernel over ONE payload — shared by the batch
    * scan stage and the streaming twin
    * ([[graft.streaming.StreamingOps.imageDedupStream]]).
    */
  private[graft] def dhashOf(payload: Array[Byte]): Long =
    dhashOfImage(PngCodec.decode(payload))

  /** The dHash kernel over an ALREADY-DECODED image — for callers that
    * need several signals from one frame (the quality gate reads
    * per-pixel flatness AND the hash) and must not pay the codec twice.
    */
  private[graft] def dhashOfImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    var hash = 0L
    var j = 0
    while (j < 7) {
      val y = ((2 * j + 1) * h) / 14
      var prev = 0L; var i = 0
      while (i < 10) {
        val x = ((2 * i + 1) * w) / 20
        val p = img.getRGB(x, y)
        val luma = 299L * ((p >> 16) & 0xFF) +
          587L * ((p >> 8) & 0xFF) + 114L * (p & 0xFF)
        if (i > 0 && luma > prev) hash |= 1L << (j * 9 + (i - 1))
        prev = luma
        i += 1
      }
      j += 1
    }
    hash
  }

  def imageDhash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, payload) => (id, dhashOf(payload)) })
      .toDF("doc_id", "dhash")
  }

  /** Perceptual near-duplicate image pairs: Hamming distance over
    * [[imageDhash]] fingerprints at most `maxHamming`. Same pigeonhole
    * banding as the simhash text path: `maxHamming + 1` contiguous
    * bit-slices of the 63-bit hash — any pair within the distance
    * budget agrees on at least one whole band, so candidates come from
    * equi-joins on (band, value) buckets, never all-pairs. The same
    * safe-by-default band-bucket cap applies (auto-derived from corpus
    * size; flat-image corpora would otherwise pile into one bucket);
    * `maxBandBucket > 0` overrides, `0` disables.
    */
  def imageNearDup(spark: SparkSession, media: DataFrame,
                   maxHamming: Int = 6, maxBandBucket: Int = -1): DataFrame =
    imageNearDupImpl(spark, media, maxHamming, maxBandBucket, ordered = true)

  /** `ordered = false` skips the deterministic output sort — for
    * consumers like [[imageClusters]] that only read the pair SET (the
    * sort of the full pair table buys nothing before a groupBy/label
    * propagation).
    */
  private def imageNearDupImpl(spark: SparkSession, media: DataFrame,
                               maxHamming: Int, maxBandBucket: Int,
                               ordered: Boolean): DataFrame =
    imageNearDupFromHashes(imageDhash(spark, media), maxHamming,
      maxBandBucket, ordered)

  /** The banded-Hamming pair join over PRECOMPUTED `(doc_id, dhash)`
    * fingerprints — the decode-free core of [[imageNearDup]], for
    * callers that already hold the hashes (the fused
    * [[imageStatsDhash]] stage, a stored fingerprint table). Same
    * pigeonhole banding and safe-by-default band-bucket cap.
    */
  private[graft] def imageNearDupFromHashes(fpIn: DataFrame,
                                            maxHamming: Int, maxBandBucket: Int,
                                            ordered: Boolean): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    val nb = maxHamming + 1
    val bounds = (0 to nb).map(i => i * 63 / nb)
    val fp = fpIn.select(col("doc_id"), col("dhash")).cache()
    val cap: Long =
      if (maxBandBucket > 0) maxBandBucket.toLong
      else if (maxBandBucket == 0) 0L
      else {
        val bandRows = fp.count() * nb
        math.max(64L, math.ceil(math.sqrt(4.0 * bandRows)).toLong)
      }
    val bandCols = (0 until nb).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      val mask = (1L << width) - 1L
      shiftright(col("dhash"), lo).bitwiseAND(mask)
    }
    val allBands = fp.select(col("doc_id"), col("dhash"),
      posexplode(array(bandCols: _*)))
      .toDF("doc_id", "dhash", "band_idx", "band_val")
    val bands = if (cap <= 0) allBands else {
      val heavy = allBands.groupBy("band_idx", "band_val")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .select("band_idx", "band_val")
      allBands.join(heavy, Seq("band_idx", "band_val"), "left_anti")
    }
    val pairs = bands.as("x").join(bands.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    val result = if (ordered) pairs.orderBy("doc_a", "doc_b") else pairs
    graft.ext.Dedup.scopeCaches(result, fp)
  }

  /** Incremental perceptual dedup: a NEW batch of images against the
    * STORED dHash table — the daily-ingest regime where yesterday's
    * corpus contributes only its (doc_id, dhash) rows, never its
    * payloads (the image twin of
    * [[graft.ext.Dedup.incrementalMinhashNearDup]]). Only the new batch
    * is decoded; banding covers stored ∪ new but candidate pairs
    * require ≥ 1 new side, so stored×stored work is never redone.
    * `is_cross` marks new-vs-stored pairs (true duplicates of already-
    * ingested images) vs new-vs-new. Closed-form fixture ⇒ fully
    * oracle-matched (`q_image_neardup_inc`).
    *
    * The same safe-by-default band-bucket cap as the batch path guards
    * this join: the incremental route runs *every day*, so a corpus of
    * flat/monochrome images (all sharing the all-zeros dHash) would
    * otherwise pile stored ∪ new into one (band, value) bucket and go
    * quadratic in total corpus size on the daily path. Buckets holding
    * more than the cap fingerprints are anti-joined away before the
    * join (`-1` = auto-derive from stored ∪ new size, `0` = off,
    * `> 0` = manual), exactly as in [[imageNearDup]].
    */
  def imageNearDupIncremental(spark: SparkSession, newMedia: DataFrame,
                              storedHashes: DataFrame,
                              maxHamming: Int = 6,
                              maxBandBucket: Int = -1): DataFrame =
    graft.ext.Dedup.bandedHammingPairsIncremental(
      imageDhash(spark, newMedia), storedHashes, "dhash", 63,
      maxHamming, maxBandBucket)

  /** Incremental perceptual audio dedup: a NEW batch of clips against
    * the STORED eHash table — the audio member of the daily-ingest
    * family ([[imageNearDupIncremental]], [[videoNearDupIncremental]]):
    * yesterday's corpus contributes only its (doc_id, ehash) rows,
    * never its WAV payloads; only the new batch is decoded. Shares
    * [[graft.ext.Dedup.bandedHammingPairsIncremental]] (pigeonhole
    * banding, ≥ 1-new-side candidates, safe-by-default bucket cap) with
    * the image path. Closed-form fixture ⇒ fully oracle-matched
    * (`q_audio_neardup_inc`).
    */
  def audioNearDupIncremental(spark: SparkSession, newMedia: DataFrame,
                              storedHashes: DataFrame,
                              maxHamming: Int = 6,
                              maxBandBucket: Int = -1): DataFrame =
    graft.ext.Dedup.bandedHammingPairsIncremental(
      audioEhash(spark, newMedia), storedHashes, "ehash", 63,
      maxHamming, maxBandBucket)

  /** Perceptual duplicate-image clusters: connected components over the
    * [[imageNearDup]] pair graph (min-doc_id labels), multi-image
    * clusters only — the image twin of [[graft.ext.Dedup.dedupClusters]],
    * sharing its adaptive local/distributed component machinery. The
    * propagation runs over pair-participating images only (singletons
    * never enter the loop), so the iterative stage sees the near-dup
    * graph, not the corpus.
    */
  def imageClusters(spark: SparkSession, media: DataFrame,
                    maxHamming: Int = 6, maxBandBucket: Int = -1): DataFrame =
    imageClustersFromHashes(imageDhash(spark, media), maxHamming, maxBandBucket)

  /** [[imageClusters]] over PRECOMPUTED `(doc_id, dhash)` fingerprints —
    * the decode-free core, for callers sharing one decode stage across
    * the near-dup path and the quality gate ([[imageStatsDhash]]).
    *
    * IDENTICAL fingerprints are collapsed BEFORE the banded join: docs
    * sharing a hash are Hamming-0 duplicates by definition, so they
    * enter the component graph as a linear star around their min-id
    * representative, and the quadratic banded join runs over DISTINCT
    * hashes only. Cluster labels are provably unchanged (every member
    * connects to its rep; reps carry all cross-hash connectivity, which
    * depends only on the hash), but an identical-content mass of M docs
    * — the most common degeneracy in a real corpus, and exactly what a
    * flat-image fraction produces — costs M−1 edges instead of an
    * M²/2 clique. This makes the CLUSTER path linear in degenerate mass
    * even with the band-bucket guard off (the oracle configuration);
    * the cap still guards many-DISTINCT-hashes-per-bucket skew.
    */
  private[graft] def imageClustersFromHashes(fp: DataFrame, maxHamming: Int = 6,
                                             maxBandBucket: Int = -1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 63,
      s"maxHamming must be in [0, 63): $maxHamming")
    hashGroupClusters(fp.select(col("doc_id"), col("dhash")), "dhash",
      groups => graft.ext.Dedup.bandedHammingPairsLazy(
        groups, "dhash", 63, maxHamming, maxBandBucket))
  }

  /** The shared collapse-then-cluster core: group identical fingerprints
    * (star edges to the min-id rep), run the LAZY `repPairsOf` banding
    * over the distinct-fingerprint table, connected components over
    * star ∪ rep edges. One materialization (the edge union) feeds the
    * component loop; the component machinery seeds its vertex set from
    * edge endpoints itself, so no separate node table is built.
    */
  private def hashGroupClusters(fp: DataFrame, hashCol: String,
                                repPairsOf: DataFrame => DataFrame): DataFrame = {
    val f = fp.cache()
    val groups = f.groupBy(hashCol).agg(min(col("doc_id")).as("doc_id")).cache()
    val pairs = repPairsOf(groups)
    val memberEdges = f.join(groups.withColumnRenamed("doc_id", "rep"), hashCol)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("src"), col("doc_id").as("dst"))
    // materialize the edge union ONCE while f/groups are hot — the
    // component loop's repeated actions must read a cached table, not
    // re-run the banding and member joins
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(memberEdges).persist()
    edges.count()
    val noNodes = edges.select(col("src").as("doc_id")).limit(0)
    val labels = graft.ext.Dedup.connectedComponents(edges, noNodes)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, "label")
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
    graft.ext.Dedup.scopeCaches(out, f, groups, edges)
  }

  /** Canonicalization for perceptual image clusters — the keep-decision
    * that turns [[imageClusters]] into an actual dedup pass (the media
    * twin of [[graft.ext.Dedup.clusterRepresentatives]]): per
    * multi-image cluster, KEEP the richest member — max distinct-luma
    * count (a decoded-pixel quality signal: re-encodes and flattened
    * copies lose tonal range), ties to the smallest doc_id — and
    * account for what gets dropped. ONE decode serves everything: the
    * fused [[imageStatsDhash]] stage supplies the dHash the clustering
    * bands AND the quality signal the ranking keys on. The ranking
    * window partitions by cluster_id — already the data's key after
    * clustering, so no extra shuffle beyond the stats join. Emits one
    * row per cluster; oracle-matched (`q_image_cluster_reps`).
    */
  def imageClusterRepresentatives(spark: SparkSession, media: DataFrame,
                                  maxHamming: Int = 6,
                                  maxBandBucket: Int = -1): DataFrame = {
    val stats = imageStatsDhash(spark, media).persist()
    val clusters = imageClustersFromHashes(
      stats.select("doc_id", "dhash"), maxHamming, maxBandBucket)
    val member = clusters.join(
      stats.select(col("doc_id"), col("n_pixels"), col("n_distinct_luma")),
      "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_distinct_luma").desc, col("doc_id"))
    val out = member.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id").agg(
        max(col("cluster_size")).cast("int").as("cluster_size"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
        min(when(col("rn") === 1, col("n_distinct_luma"))).cast("int")
          .as("rep_distinct_luma"),
        sum(when(col("rn") > 1, col("n_pixels")).otherwise(0L))
          .as("dropped_pixels"))
      .orderBy("cluster_id")
    graft.ext.Dedup.scopeCaches(out, stats)
  }

  /** Canonicalization for perceptual AUDIO clusters — the audio member
    * of the keep-decision family ([[imageClusterRepresentatives]]):
    * per multi-clip cluster, KEEP the member with the most signal
    * energy (max exact |amplitude| sum — re-encodes and attenuated
    * copies lose energy; ties to the smallest doc_id) and account for
    * the dropped volume. ONE decode: the fused [[audioStatsEhash]]
    * stage supplies both the eHash the clustering bands and the energy
    * signal the ranking keys on. Oracle-matched
    * (`q_audio_cluster_reps`).
    */
  def audioClusterRepresentatives(spark: SparkSession, media: DataFrame,
                                  maxHamming: Int = 6,
                                  maxBandBucket: Int = -1): DataFrame = {
    val stats = audioStatsEhash(spark, media).persist()
    val clusters = audioClustersFromHashes(
      stats.select("doc_id", "ehash"), maxHamming, maxBandBucket)
    val member = clusters.join(
      stats.select(col("doc_id"), col("n_samples"), col("sum_abs")), "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("sum_abs").desc, col("doc_id"))
    val out = member.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id").agg(
        max(col("cluster_size")).cast("int").as("cluster_size"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
        min(when(col("rn") === 1, col("sum_abs"))).as("rep_sum_abs"),
        sum(when(col("rn") > 1, col("n_samples")).otherwise(0L))
          .as("dropped_samples"))
      .orderBy("cluster_id")
    graft.ext.Dedup.scopeCaches(out, stats)
  }

  /** Canonicalization for perceptual VIDEO clusters — completing the
    * keep-decision cell for every modality: per multi-video cluster,
    * KEEP the member with the most DISTINCT frame content (max
    * distinct-frame-hash count — re-encodes that freeze or drop frames
    * lose shots; ties to the smallest doc_id) and account for the
    * dropped frames. ONE full decode: the fused [[videoStatsPhash]]
    * stage supplies the slot signature the clustering bands AND the
    * distinct-hash census the ranking keys on. Oracle-matched
    * (`q_video_cluster_reps`).
    */
  def videoClusterRepresentatives(spark: SparkSession, media: DataFrame,
                                  k: Int = 4, maxTotalHamming: Int = 3,
                                  maxBandBucket: Int = -1): DataFrame = {
    val stats = videoStatsPhash(spark, media, k).persist()
    val vslots = stats.select(col("doc_id"), posexplode(col("sig")))
      .toDF("doc_id", "slot", "dhash")
    val clusters = videoClustersFromSlotHashes(vslots, k,
      maxTotalHamming, maxBandBucket)
    val member = clusters.join(
      stats.select(col("doc_id"), col("n_frames"), col("n_distinct_hashes")),
      "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_distinct_hashes").desc, col("doc_id"))
    val out = member.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id").agg(
        max(col("cluster_size")).cast("int").as("cluster_size"),
        min(when(col("rn") === 1, col("doc_id"))).as("rep_doc"),
        min(when(col("rn") === 1, col("n_distinct_hashes"))).cast("int")
          .as("rep_distinct_hashes"),
        sum(when(col("rn") > 1, col("n_frames")).otherwise(0))
          .cast("long").as("dropped_frames"))
      .orderBy("cluster_id")
    graft.ext.Dedup.scopeCaches(out, stats)
  }

  /** [[syntheticPngClusters]] with a PLANTED DEGENERATE fraction: every
    * `flatEvery`-th doc_id is a constant-color image — luma is constant
    * along each row, so ALL of them share the all-zeros dHash, the
    * flat/monochrome mass a real web crawl contains. The rest follow
    * the high-frequency cluster pattern. This is the skew-stress
    * fixture for the band-bucket cap A/B: with the guard
    * off, the flat fraction piles into one (band, value) bucket per
    * band and the self-join goes quadratic in it.
    */
  def syntheticPngSkewed(spark: SparkSession, documents: DataFrame,
                         nClusters: Int = 50, flatEvery: Int = 4): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          if (id % flatEvery == 0) {
            val c = ((id * 31) % 256).toInt
            val png = PngCodec.encode(16, 16, (_, _) => (c << 16) | (c << 8) | c)
            (id, png, 16, 16)
          } else {
            val key = id % nClusters
            val w = (8 + key % 9).toInt
            val h = (8 + key % 7).toInt
            val bump = (id / nClusters).toInt
            val png = PngCodec.encode(w, h, (x, y) => {
              val r0 = ((key * 7 + x * 37 + y * 59 + x * y * 13) % 256).toInt
              val r = if (x == 0 && y == 0) (r0 + bump) % 256 else r0
              val g = ((key * 11 + x * 23 + y * 41 + x * y * 7) % 256).toInt
              val b = ((key * 13 + x * 29 + y * 31 + x * y * 17) % 256).toInt
              (r << 16) | (g << 8) | b
            })
            (id, png, w, h)
          }
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px")
      .select(col("doc_id"), col("payload"), struct(
        lit("image/png").as("media_type"),
        col("width_px"), col("height_px"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Per-image quality signals over DECODED pixels — the junk-image
    * filter a multimodal curation pipeline runs before any expensive
    * embedding or captioning: integer-luma extremes, exact sums (sum +
    * sum-of-squares, so variance is derivable without float drift), and
    * the distinct-luma count, whose degenerate value 1 IS the
    * flat/monochrome detector (`is_flat`) — the same degenerate mass
    * the near-dup band-bucket cap guards against, caught upstream where
    * it belongs. One narrow `mapPartitions` stage (decode + stats
    * before any shuffle); all-integer outputs keep the DuckDB oracle
    * exact (`q_image_quality`).
    */
  def imageQualityStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, png) =>
          val s = statsOfImage(PngCodec.decode(png))
          (id, s.w, s.h, s.w.toLong * s.h, s.minLuma, s.maxLuma,
            s.sumLuma, s.sumLumaSq, s.nDistinctLuma, s.nDistinctLuma == 1)
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "min_luma", "max_luma",
        "sum_luma", "sum_luma_sq", "n_distinct_luma", "is_flat")
  }

  /** The per-pixel luma-stats kernel over an ALREADY-DECODED image —
    * shared by [[imageQualityStats]] and the fused [[imageStatsDhash]]
    * stage, so every consumer computes the same flatness arithmetic
    * from one decode.
    */
  private[graft] final case class ImageStats(w: Int, h: Int, minLuma: Long,
      maxLuma: Long, sumLuma: Long, sumLumaSq: Long, nDistinctLuma: Int)

  private[graft] def statsOfImage(img: java.awt.image.BufferedImage): ImageStats = {
    val w = img.getWidth; val h = img.getHeight
    var mn = Long.MaxValue; var mx = Long.MinValue
    var sum = 0L; var sumSq = 0L
    val seen = new java.util.HashSet[Long]()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val l = 299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
          114L * (p & 0xFF)
        if (l < mn) mn = l
        if (l > mx) mx = l
        sum += l; sumSq += l * l
        seen.add(l)
        x += 1
      }
      y += 1
    }
    ImageStats(w, h, mn, mx, sum, sumSq, seen.size)
  }

  /** ONE decode pass, every per-image signal: the quality-gate luma
    * stats ([[imageQualityStats]]' columns) AND the 63-bit perceptual
    * dHash fingerprint from the same decoded frame. At 100 TB the codec
    * is THE dominant media cost, so a pipeline that needs both the
    * junk gate and the near-dup fingerprint (curationReport,
    * multimodalFunnel, crossModalDedup) must not run two decode stages
    * over the corpus — this is the shared stage they consume. One
    * narrow `mapPartitions` (decode + stats + hash before any shuffle);
    * all-integer outputs keep the DuckDB oracle exact
    * (`q_image_stats_dhash` = the q_image_quality ⋈ q_image_dhash
    * arithmetic over one decode).
    */
  def imageStatsDhash(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, png) =>
          val img = PngCodec.decode(png)
          val s = statsOfImage(img)
          (id, s.w, s.h, s.w.toLong * s.h, s.minLuma, s.maxLuma,
            s.sumLuma, s.sumLumaSq, s.nDistinctLuma, s.nDistinctLuma == 1,
            dhashOfImage(img))
        }
      }
      .toDF("doc_id", "width", "height", "n_pixels", "min_luma", "max_luma",
        "sum_luma", "sum_luma_sq", "n_distinct_luma", "is_flat", "dhash")
  }

  /** Per-clip quality signals over DECODED PCM — the junk-audio filter:
    * amplitude extremes, exact |amp| sum, near-clipping count (samples
    * with |amp| ≥ `clipThreshold`), near-silence count (|amp| ≤
    * `silenceThreshold`), and the derived flags (`is_clipped`: any
    * near-clipped sample; `is_quiet`: ≥ half the samples near-silent —
    * integer comparison, no float ratio). One narrow stage; exact
    * integer outputs ⇒ DuckDB-oracle-matched (`q_audio_quality`).
    */
  /** The amplitude-stats kernel over ALREADY-DECODED PCM — shared by
    * [[audioQualityStats]], the fused [[audioStatsEhash]], and the
    * streaming gate, so every consumer computes the same flags from
    * one decode.
    */
  private[graft] final case class PcmStats(n: Long, minAmp: Int, maxAmp: Int,
      sumAbs: Long, nClipped: Long, nSilent: Long) {
    def isClipped: Boolean = nClipped > 0
    def isQuiet: Boolean = nSilent * 2 >= n
  }

  private[graft] def statsOfSamples(samples: Array[Short],
                                    clipThreshold: Int = 1000,
                                    silenceThreshold: Int = 50): PcmStats = {
    var mn = Int.MaxValue; var mx = Int.MinValue
    var sumAbs = 0L; var clipped = 0L; var silent = 0L
    var i = 0
    while (i < samples.length) {
      val v = samples(i).toInt
      val a = math.abs(v)
      if (v < mn) mn = v
      if (v > mx) mx = v
      sumAbs += a
      if (a >= clipThreshold) clipped += 1
      if (a <= silenceThreshold) silent += 1
      i += 1
    }
    PcmStats(samples.length.toLong, mn, mx, sumAbs, clipped, silent)
  }

  def audioQualityStats(spark: SparkSession, media: DataFrame,
                        clipThreshold: Int = 1000,
                        silenceThreshold: Int = 50): DataFrame = {
    import spark.implicits._
    require(clipThreshold > 0 && silenceThreshold >= 0,
      s"bad thresholds: clip=$clipThreshold silence=$silenceThreshold")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, wav) =>
          val s = statsOfSamples(WavCodec.decode(wav)._2, clipThreshold,
            silenceThreshold)
          (id, s.n, s.minAmp, s.maxAmp, s.sumAbs, s.nClipped, s.nSilent,
            s.isClipped, s.isQuiet)
        }
      }
      .toDF("doc_id", "n_samples", "min_amp", "max_amp", "sum_abs",
        "n_clipped", "n_silent", "is_clipped", "is_quiet")
  }

  /** ONE decode pass, every per-clip signal — the audio member of the
    * fused-stage family ([[imageStatsDhash]], [[videoStatsPhash]]): the
    * junk-gate amplitude stats ([[audioQualityStats]]' columns) AND the
    * 63-bit eHash fingerprint from the same decoded PCM. The WAV codec
    * runs once; both the quality gate and the near-dup path read this
    * stage, so a composition needing both never decodes the clip
    * corpus twice. One narrow `mapPartitions`; all-integer outputs ⇒
    * DuckDB-oracle-matched (`q_audio_stats_ehash`).
    */
  def audioStatsEhash(spark: SparkSession, media: DataFrame,
                      clipThreshold: Int = 1000,
                      silenceThreshold: Int = 50): DataFrame = {
    import spark.implicits._
    require(clipThreshold > 0 && silenceThreshold >= 0,
      s"bad thresholds: clip=$clipThreshold silence=$silenceThreshold")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, wav) =>
          val samples = WavCodec.decode(wav)._2
          val s = statsOfSamples(samples, clipThreshold, silenceThreshold)
          (id, s.n, s.minAmp, s.maxAmp, s.sumAbs, s.nClipped, s.nSilent,
            s.isClipped, s.isQuiet, ehashOf(samples))
        }
      }
      .toDF("doc_id", "n_samples", "min_amp", "max_amp", "sum_abs",
        "n_clipped", "n_silent", "is_clipped", "is_quiet", "ehash")
  }

  /** REAL video container tier — GVID, a motion-PNG container defined
    * by this engine (magic + fps + frame count + length-prefixed PNG
    * frames): the container parsing is real binary-format work (offset
    * walking, length prefixes, magic validation) and every frame is a
    * real `javax.imageio` PNG, so the whole tier is lossless and the
    * decoded aggregates stay DuckDB-oracle-matched in closed form —
    * the video member of the multimodal family (image: PNG/JPEG;
    * audio: WAV; video: GVID). A production swap-in (MP4/H.264 via a
    * native binding) changes only this codec object; the batch shapes,
    * sampling layout, and fingerprint pipeline stay as-is.
    */
  object VideoCodec {
    private val Magic = Array[Byte]('G', 'V', 'I', 'D', '1')

    /** Encode frames (each an encoded PNG) into one GVID payload. */
    def encode(fps: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(baos)
      out.write(Magic)
      out.writeInt(fps)
      out.writeInt(frames.length)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      out.flush()
      baos.toByteArray
    }

    /** Decode a GVID payload to (fps, PNG frames). */
    def decode(gvid: Array[Byte]): (Int, Vector[Array[Byte]]) = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(gvid))
      val magic = new Array[Byte](Magic.length)
      in.readFully(magic)
      require(java.util.Arrays.equals(magic, Magic), "not a GVID payload")
      val fps = in.readInt()
      val n = in.readInt()
      val frames = Vector.fill(n) {
        val len = in.readInt()
        val f = new Array[Byte](len)
        in.readFully(f)
        f
      }
      (fps, frames)
    }

    /** Header-only metadata probe: (fps, frameCount) without touching
      * frame bytes — the cheap path a planner uses to size frame
      * sampling before paying for any decode.
      */
    def probe(gvid: Array[Byte]): (Int, Int) = {
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(gvid))
      val magic = new Array[Byte](Magic.length)
      in.readFully(magic)
      require(java.util.Arrays.equals(magic, Magic), "not a GVID payload")
      (in.readInt(), in.readInt())
    }

    /** Decode ONLY the frames at `wanted` indices, walking the length
      * prefixes and skipping unwanted frame bytes — the container-level
      * analogue of keyframe seeking: sampling k of n frames reads k
      * PNG decodes, not n.
      */
    def decodeFrames(gvid: Array[Byte], wanted: Seq[Int]): Seq[(Int, Array[Byte])] = {
      val want = wanted.toSet
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(gvid))
      in.skipBytes(Magic.length + 8)
      val n = {
        val hdr = new java.io.DataInputStream(new java.io.ByteArrayInputStream(gvid))
        hdr.skipBytes(Magic.length + 4)
        hdr.readInt()
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      var i = 0
      while (i < n && out.size < want.size) {
        val len = in.readInt()
        if (want(i)) {
          val f = new Array[Byte](len)
          in.readFully(f)
          out += ((i, f))
        } else in.skipBytes(len)
        i += 1
      }
      out.toSeq
    }
  }

  /** Synthetic GVID video table: one real multi-frame container per
    * document — frame count, fps, dimensions, and every frame's pixels
    * closed-form in (`doc_id`, frame, x, y); each frame is a real PNG
    * (lossless), so decode output replays exactly in SQL. Same fixture
    * pattern as [[syntheticPngTable]]/[[syntheticWavTable]]; encode is
    * one narrow `mapPartitions` stage.
    */
  def syntheticVideoTable(spark: SparkSession, documents: DataFrame): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (4 + id % 5).toInt
          val fps = (10 + (id % 3) * 5).toInt
          val w = (8 + id % 9).toInt
          val h = (8 + id % 7).toInt
          val frames = (0 until n).map { f =>
            PngCodec.encode(w, h, (x, y) => {
              val r = ((id * 7 + f * 19 + x * 3 + y * 5) % 256).toInt
              val g = ((id * 11 + f * 23 + x + y * 2) % 256).toInt
              val b = ((id * 13 + f * 29 + x * 4 + y) % 256).toInt
              (r << 16) | (g << 8) | b
            })
          }
          (id, VideoCodec.encode(fps, frames), w, h, n, fps)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px", "n_frames", "fps")
      .select(col("doc_id"), col("payload"), struct(
        lit("video/gvid").as("media_type"),
        col("width_px"), col("height_px"),
        col("n_frames"), col("fps"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Decode every frame of each GVID payload and aggregate the DECODED
    * pixels per frame (dimensions + exact per-channel sums). One narrow
    * `mapPartitions` stage: container parse, n PNG decodes, and the
    * per-frame reduction all happen before any shuffle — video bytes
    * never cross an exchange. Lossless tier ⇒ fully oracle-matched
    * (`q_video_decode`).
    */
  def decodeVideoFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, gvid) =>
          val (fps, frames) = VideoCodec.decode(gvid)
          frames.zipWithIndex.map { case (png, f) =>
            val img = PngCodec.decode(png)
            val w = img.getWidth; val h = img.getHeight
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                x += 1
              }
              y += 1
            }
            (id, f, fps, w, h, sr, sg, sb)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "fps", "width", "height", "sum_r", "sum_g", "sum_b")
  }

  /** Uniform frame sampling: k slots per video, slot j → frame
    * `j·n / k` (integer floor — a closed-form layout any engine
    * reproduces; strictly increasing whenever `n ≥ k`). Only the
    * sampled frames are PNG-decoded ([[VideoCodec.decodeFrames]] skips
    * the rest via the length prefixes), and per sampled frame the
    * integer-luma sum (299·R + 587·G + 114·B — no division, exact) is
    * emitted. Narrow end to end; oracle-matched (`q_video_frames`).
    */
  def videoFrameSample(spark: SparkSession, media: DataFrame, k: Int = 4): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, gvid) =>
          val (_, n) = VideoCodec.probe(gvid)
          // ALWAYS k slots: videos shorter than k frames repeat frames
          // (slot j → frame ⌊j·n/k⌋ maps several slots to one frame),
          // decoded once and emitted per slot — fixed-width signatures
          // keep every downstream pair rule well-defined on any corpus.
          // Zero-frame videos emit nothing.
          val slotFrames = (0 until k).map(j => j * n / k)
          val decoded = VideoCodec.decodeFrames(gvid, slotFrames.distinct)
            .map { case (f, png) =>
              val img = PngCodec.decode(png)
              val w = img.getWidth; val h = img.getHeight
              var luma = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val p = img.getRGB(x, y)
                  luma += 299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
                    114L * (p & 0xFF)
                  x += 1
                }
                y += 1
              }
              f -> ((w, h, luma))
            }.toMap
          slotFrames.zipWithIndex.collect {
            case (f, slot) if decoded.contains(f) =>
              val (w, h, luma) = decoded(f)
              (id, slot, f, w, h, luma)
          }
        }
      }
      .toDF("doc_id", "slot", "frame_idx", "width", "height", "sum_luma")
  }

  /** Per-video perceptual fingerprint: the [[dhashOf]] 63-bit dHash of
    * each sampled frame — k longs per video. Container parse, selective
    * frame decode, and hashing fuse into ONE narrow stage: at 100 TB
    * the video bytes never cross a shuffle, only (doc_id, slot, dhash)
    * rows do (~32 bytes/slot). Lossless frames ⇒ oracle-matched
    * (`q_video_phash`).
    */
  def videoPhash(spark: SparkSession, media: DataFrame, k: Int = 4): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, gvid) =>
          val (_, n) = VideoCodec.probe(gvid)
          // k slots always (short videos repeat frames — hashed once,
          // emitted per slot), so signatures are fixed-width and the
          // near-dup pigeonhole argument holds on any corpus
          val slotFrames = (0 until k).map(j => j * n / k)
          val hashed = VideoCodec.decodeFrames(gvid, slotFrames.distinct)
            .map { case (f, png) => f -> dhashOf(png) }.toMap
          slotFrames.zipWithIndex.collect {
            case (f, slot) if hashed.contains(f) => (id, slot, f, hashed(f))
          }
        }
      }
      .toDF("doc_id", "slot", "frame_idx", "dhash")
  }

  /** Scene-cut detection: dHash EVERY frame (narrow), then compare each
    * frame to its predecessor within the video — a cut is a consecutive
    * pair with Hamming distance ≥ `cutThreshold` bits. The window is
    * partitioned by `doc_id` (no global window: state per video is one
    * previous hash), so the shuffle is one exchange on doc_id carrying
    * (doc_id, frame_idx, dhash) rows only. Output: per-video frame
    * count + cut count, the shot-boundary profile a video-curation
    * pipeline keys on. Oracle-matched (`q_video_scenes`).
    */
  def videoScenes(spark: SparkSession, media: DataFrame,
                  cutThreshold: Int = 10): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    require(cutThreshold > 0, s"cutThreshold must be positive: $cutThreshold")
    val frameHashes = media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, gvid) =>
          val (_, frames) = VideoCodec.decode(gvid)
          frames.zipWithIndex.map { case (png, f) => (id, f, dhashOf(png)) }
        }
      }
      .toDF("doc_id", "frame_idx", "dhash")
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    frameHashes
      .withColumn("prev", lag(col("dhash"), 1).over(w))
      .withColumn("is_cut",
        when(col("prev").isNotNull &&
          bit_count(col("dhash").bitwiseXOR(col("prev"))) >= cutThreshold, 1)
          .otherwise(0))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_frames"),
        sum(col("is_cut")).cast("int").as("n_cuts"))
      .orderBy("doc_id")
  }

  /** Synthetic GVID table with PLANTED scene structure: frames share a
    * scene's pixel pattern (`scene = frame div sceneLen`) — within a
    * scene consecutive frames are IDENTICAL (Hamming 0), across a scene
    * boundary the high-frequency pattern re-rolls (tens of bits). Cuts
    * are therefore exactly the frame indices divisible by `sceneLen`,
    * closed-form in both engines.
    */
  def syntheticVideoScenes(spark: SparkSession, documents: DataFrame,
                           sceneLen: Int = 3): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (6 + id % 7).toInt
          val w = (8 + id % 9).toInt
          val h = (8 + id % 7).toInt
          val frames = (0 until n).map { f =>
            val sc = f / sceneLen
            PngCodec.encode(w, h, (x, y) => {
              val r = ((id * 7 + sc * 97 + x * 37 + y * 59 + x * y * 13) % 256).toInt
              val g = ((id * 11 + sc * 89 + x * 23 + y * 41 + x * y * 7) % 256).toInt
              val b = ((id * 13 + sc * 83 + x * 29 + y * 31 + x * y * 17) % 256).toInt
              (r << 16) | (g << 8) | b
            })
          }
          (id, VideoCodec.encode(12, frames), w, h, n)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px", "n_frames")
      .select(col("doc_id"), col("payload"), struct(
        lit("video/gvid").as("media_type"),
        col("width_px"), col("height_px"), col("n_frames"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Per-video quality signals — the junk-video gate completing the
    * quality cell for every modality: frame count, fps, the number of
    * FLAT frames (single decoded luma — the per-frame
    * [[imageQualityStats]] detector), the number of DISTINCT frame
    * dHashes, and the derived flags (`is_static`: every frame hashes
    * identically — a frozen/slideshow-free video carries one hash;
    * `is_flat`: every frame is flat — the all-black upload). Container
    * parse, per-frame decode, luma scan, and hashing fuse into ONE
    * narrow stage; all-integer outputs ⇒ DuckDB-oracle-matched
    * (`q_video_quality`).
    */
  def videoQualityStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, gvid) =>
          val (fps, frames) = VideoCodec.decode(gvid)
          var flatFrames = 0
          val hashes = new java.util.HashSet[Long]()
          frames.foreach { png =>
            // ONE decode serves both signals (flatness scan + dHash) —
            // the codec is the dominant cost of this stage
            val img = PngCodec.decode(png)
            val w = img.getWidth; val h = img.getHeight
            val seen = new java.util.HashSet[Long]()
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                seen.add(299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
                  114L * (p & 0xFF))
                x += 1
              }
              y += 1
            }
            if (seen.size == 1) flatFrames += 1
            hashes.add(dhashOfImage(img))
          }
          (id, frames.length, fps, flatFrames, hashes.size,
            frames.nonEmpty && hashes.size == 1,
            frames.nonEmpty && flatFrames == frames.length)
        }
      }
      .toDF("doc_id", "n_frames", "fps", "n_flat_frames",
        "n_distinct_hashes", "is_static", "is_flat")
  }

  /** ONE decode pass, every per-video signal — the video member of the
    * fused-stage family ([[imageStatsDhash]], [[audioStatsEhash]]): the
    * junk-gate frame stats ([[videoQualityStats]]' columns) AND the
    * k-slot perceptual signature ([[videoPhash]]'s hashes) from the
    * same full decode. The gate needs every frame decoded anyway, so
    * the slot signature is FREE here — slot j's hash is just the
    * already-computed dHash of frame ⌊j·n/k⌋; a composition that runs
    * both the junk gate and near-dup must use this stage, never the
    * gate plus a second selective-decode pass. Zero-frame videos get an
    * empty `sig` (the near-dup consumers see no slot rows — exactly
    * [[videoPhash]]'s behavior). One narrow `mapPartitions`;
    * all-integer outputs ⇒ DuckDB-oracle-matched
    * (`q_video_stats_phash`).
    */
  def videoStatsPhash(spark: SparkSession, media: DataFrame, k: Int = 4): DataFrame = {
    import spark.implicits._
    require(k > 0, s"k must be positive: $k")
    media.select(col("doc_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, gvid) =>
          val (fps, frames) = VideoCodec.decode(gvid)
          var flatFrames = 0
          val hashes = new java.util.HashSet[Long]()
          val frameHash = new Array[Long](frames.length)
          var fi = 0
          frames.foreach { png =>
            // ONE decode serves all three signals (flatness scan, the
            // distinct-hash census, the slot signature)
            val img = PngCodec.decode(png)
            val w = img.getWidth; val h = img.getHeight
            val seen = new java.util.HashSet[Long]()
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                seen.add(299L * ((p >> 16) & 0xFF) + 587L * ((p >> 8) & 0xFF) +
                  114L * (p & 0xFF))
                x += 1
              }
              y += 1
            }
            if (seen.size == 1) flatFrames += 1
            val dh = dhashOfImage(img)
            hashes.add(dh)
            frameHash(fi) = dh
            fi += 1
          }
          val n = frames.length
          val sig = if (n == 0) Seq.empty[Long]
            else (0 until k).map(j => frameHash(j * n / k))
          (id, n, fps, flatFrames, hashes.size,
            n > 0 && hashes.size == 1, n > 0 && flatFrames == n, sig)
        }
      }
      .toDF("doc_id", "n_frames", "fps", "n_flat_frames",
        "n_distinct_hashes", "is_static", "is_flat", "sig")
  }

  /** Synthetic GVID table with PLANTED junk: every 4th video is a
    * STATIC FLAT clip (all frames one constant color — the all-black
    * upload; color varies per doc so the degeneracy is structural);
    * the rest follow the [[syntheticVideoScenes]] pattern, whose
    * distinct-hash count is exactly the scene count. The junk-gate
    * fixture for `q_video_quality`, closed-form in both engines.
    */
  def syntheticVideoJunk(spark: SparkSession, documents: DataFrame,
                         sceneLen: Int = 3): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val n = (6 + id % 7).toInt
          val frames =
            if (id % 4 == 0) {
              val c = ((id * 31) % 256).toInt
              Vector.fill(n)(PngCodec.encode(12, 12, (_, _) => (c << 16) | (c << 8) | c))
            } else {
              val w = (8 + id % 9).toInt
              val h = (8 + id % 7).toInt
              (0 until n).map { f =>
                val sc = f / sceneLen
                PngCodec.encode(w, h, (x, y) => {
                  val r = ((id * 7 + sc * 97 + x * 37 + y * 59 + x * y * 13) % 256).toInt
                  val g = ((id * 11 + sc * 89 + x * 23 + y * 41 + x * y * 7) % 256).toInt
                  val b = ((id * 13 + sc * 83 + x * 29 + y * 31 + x * y * 17) % 256).toInt
                  (r << 16) | (g << 8) | b
                })
              }.toVector
            }
          (id, VideoCodec.encode(12, frames), n)
        }
      }
      .toDF("doc_id", "payload", "n_frames")
      .select(col("doc_id"), col("payload"), struct(
        lit("video/gvid").as("media_type"), col("n_frames"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Near-duplicate video pairs over [[videoPhash]] signatures (k
    * sampled frame hashes per video): a pair is a near-dup when the
    * TOTAL Hamming distance across its k slots is at most
    * `maxTotalHamming`. Candidates come from EXACT equi-joins on
    * (slot, dhash): requiring `maxTotalHamming < k` makes the slots
    * themselves a pigeonhole banding — any qualifying pair has at least
    * one slot with Hamming 0, i.e. an identical frame hash — so the
    * pair space is bucket joins, never all-pairs. The same
    * safe-by-default heavy-bucket cap as the image/audio paths guards
    * degenerate corpora (all-black videos share the all-zero slot
    * hashes): buckets holding more than the cap signatures are
    * anti-joined away (`-1` auto-derives from corpus size, `0`
    * disables — the oracle path runs guard-off so the exact quadratic
    * DuckDB twin stays valid at any SF, as for images).
    */
  def videoNearDup(spark: SparkSession, media: DataFrame, k: Int = 4,
                   maxTotalHamming: Int = 3, maxBandBucket: Int = -1): DataFrame =
    videoNearDupImpl(spark, media, k, maxTotalHamming, maxBandBucket,
      ordered = true)

  /** `ordered = false` skips the deterministic output sort — for
    * consumers like [[videoClusters]] that only read the pair SET.
    */
  private def videoNearDupImpl(spark: SparkSession, media: DataFrame, k: Int,
                               maxTotalHamming: Int, maxBandBucket: Int,
                               ordered: Boolean): DataFrame =
    videoNearDupFromSlotHashes(videoPhash(spark, media, k), k,
      maxTotalHamming, maxBandBucket, ordered)

  /** The slot-banded pair join over PRECOMPUTED `(doc_id, slot, dhash)`
    * rows — the decode-free core of [[videoNearDup]], for callers that
    * already hold the slot signatures (the fused [[videoStatsPhash]]
    * stage, a stored signature table). Same pigeonhole rule and
    * safe-by-default heavy-bucket cap.
    */
  private[graft] def videoNearDupFromSlotHashes(sigIn: DataFrame, k: Int,
                                                maxTotalHamming: Int,
                                                maxBandBucket: Int,
                                                ordered: Boolean): DataFrame = {
    val sig = sigIn.select(col("doc_id"), col("slot"), col("dhash")).cache()
    val verified = videoSlotPairsLazy(sig, k, maxTotalHamming, maxBandBucket)
    val result = if (ordered) verified.orderBy("doc_a", "doc_b") else verified
    graft.ext.Dedup.scopeCaches(result, sig)
  }

  /** The LAZY core of the slot-banded pair join: assumes `sig` is
    * already cached by the caller, returns the unordered verified pair
    * frame without materializing — for composed consumers (the cluster
    * core) that must not pay an extra job per sub-step.
    */
  private def videoSlotPairsLazy(sig: DataFrame, k: Int,
                                 maxTotalHamming: Int,
                                 maxBandBucket: Int): DataFrame = {
    require(maxTotalHamming >= 0 && maxTotalHamming < k,
      s"pigeonhole banding needs maxTotalHamming in [0, k=$k): $maxTotalHamming")
    val cap: Long =
      if (maxBandBucket > 0) maxBandBucket.toLong
      else if (maxBandBucket == 0) 0L
      else {
        // auto: the count() action doubles as cache materialisation
        val slotRows = sig.count()
        math.max(64L, math.ceil(math.sqrt(4.0 * slotRows)).toLong)
      }
    val buckets = if (cap <= 0) sig else {
      val heavy = sig.groupBy("slot", "dhash")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .select("slot", "dhash")
      sig.join(heavy, Seq("slot", "dhash"), "left_anti")
    }
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.slot") === col("y.slot") &&
        col("x.dhash") === col("y.dhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val verified = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.slot") === col("b.slot"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))))
        .cast("int").as("total_hamming"))
      .filter(col("total_hamming") <= maxTotalHamming)
    verified
  }

  /** Perceptual duplicate-video clusters: connected components over the
    * [[videoNearDup]] pair graph (min-doc_id labels), multi-video
    * clusters only — the video twin of [[imageClusters]], sharing its
    * adaptive local/distributed component machinery; propagation runs
    * over pair-participating videos only.
    */
  def videoClusters(spark: SparkSession, media: DataFrame, k: Int = 4,
                    maxTotalHamming: Int = 3,
                    maxBandBucket: Int = -1): DataFrame =
    videoClustersFromSlotHashes(videoPhash(spark, media, k), k,
      maxTotalHamming, maxBandBucket)

  /** [[videoClusters]] over PRECOMPUTED `(doc_id, slot, dhash)` rows —
    * the decode-free core, for callers sharing one decode stage across
    * the near-dup path and the quality gate ([[videoStatsPhash]]).
    * Identical FULL signatures (every slot hash equal — total Hamming 0
    * by definition) collapse to a star around the min-id rep before the
    * slot-banded join (see [[imageClustersFromHashes]]): M copies of
    * one video cost M−1 edges, not an M²/2 clique of 4-slot verify
    * joins.
    */
  private[graft] def videoClustersFromSlotHashes(sig: DataFrame, k: Int = 4,
                                                 maxTotalHamming: Int = 3,
                                                 maxBandBucket: Int = -1): DataFrame = {
    val sigArr = sig.groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("slot"), col("dhash"))))
        .as("pairs")).cache()
    val groups = sigArr.groupBy("pairs").agg(min(col("doc_id")).as("doc_id")).cache()
    val repSlots = groups.select(col("doc_id"), explode(col("pairs")).as("p"))
      .select(col("doc_id"), col("p.slot").as("slot"), col("p.dhash").as("dhash"))
    val pairs = videoSlotPairsLazy(repSlots, k, maxTotalHamming, maxBandBucket)
    val memberEdges = sigArr.join(groups.withColumnRenamed("doc_id", "rep"), "pairs")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("src"), col("doc_id").as("dst"))
    // materialized once while the signature tables are hot; the
    // component machinery seeds vertices from edge endpoints itself
    // (see hashGroupClusters)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(memberEdges).persist()
    edges.count()
    val noNodes = edges.select(col("src").as("doc_id")).limit(0)
    val labels = graft.ext.Dedup.connectedComponents(edges, noNodes)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    val out = labels.join(sizes, "label")
      .filter(col("cluster_size") > 1)
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
    graft.ext.Dedup.scopeCaches(out, sigArr, groups, edges)
  }

  /** Incremental perceptual video dedup: a NEW batch of videos against
    * the STORED per-slot hash table — the daily-ingest regime where
    * yesterday's corpus contributes only its (doc_id, slot, dhash) rows,
    * never its payloads (the video twin of [[imageNearDupIncremental]]).
    * Only the new batch is container-parsed and selectively decoded;
    * the (slot, dhash) pigeonhole banding covers stored ∪ new but
    * candidate pairs require ≥ 1 new side, so stored×stored work is
    * never redone. `is_cross` marks new-vs-stored pairs. The same
    * safe-by-default heavy-bucket cap guards the daily join
    * (flat/black-frame videos all share the all-zero slot hashes);
    * `-1` auto-derives, `0` disables (the oracle path, as everywhere
    * in the perceptual family).
    */
  def videoNearDupIncremental(spark: SparkSession, newMedia: DataFrame,
                              storedHashes: DataFrame, k: Int = 4,
                              maxTotalHamming: Int = 3,
                              maxBandBucket: Int = -1): DataFrame =
    videoNearDupIncrementalFromSlotHashes(videoPhash(spark, newMedia, k),
      storedHashes, k, maxTotalHamming, maxBandBucket)

  /** [[videoNearDupIncremental]] over PRECOMPUTED new-batch
    * `(doc_id, slot, dhash)` rows — for callers that already decoded
    * the new batch once via the fused [[videoStatsPhash]] stage (the
    * ingest audit) and must not pay a second selective-decode pass.
    */
  private[graft] def videoNearDupIncrementalFromSlotHashes(
      newFp: DataFrame, storedHashes: DataFrame, k: Int = 4,
      maxTotalHamming: Int = 3, maxBandBucket: Int = -1): DataFrame = {
    require(maxTotalHamming >= 0 && maxTotalHamming < k,
      s"pigeonhole banding needs maxTotalHamming in [0, k=$k): $maxTotalHamming")
    val all = storedHashes
      .select(col("doc_id"), col("slot"), col("dhash"), lit(false).as("is_new"))
      .unionByName(newFp
        .select(col("doc_id"), col("slot"), col("dhash"), lit(true).as("is_new")))
      .cache()
    val cap: Long =
      if (maxBandBucket > 0) maxBandBucket.toLong
      else if (maxBandBucket == 0) 0L
      else {
        // auto: the count() action doubles as cache materialisation —
        // the new batch is decoded once, not once per banding pass
        val slotRows = all.count()
        math.max(64L, math.ceil(math.sqrt(4.0 * slotRows)).toLong)
      }
    val buckets = if (cap <= 0) all else {
      val heavy = all.groupBy("slot", "dhash")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > cap)
        .select("slot", "dhash")
      all.join(heavy, Seq("slot", "dhash"), "left_anti")
    }
    // NEW × ALL, never ALL × ALL with the new-side rule as a residual:
    // a stored-heavy slot bucket must cost O(new · stored), not
    // O(stored²) enumerated-then-discarded (see
    // Dedup.bandedHammingPairsIncremental). New/new pairs arrive from
    // both sides; least/greatest + distinct collapses them.
    val cand = buckets.filter(col("is_new")).as("x").join(buckets.as("y"),
        col("x.slot") === col("y.slot") &&
        col("x.dhash") === col("y.dhash") &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(
        least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        (col("x.is_new") =!= col("y.is_new")).as("is_cross"))
      .distinct()
    val result = cand
      .join(all.as("a"), col("doc_a") === col("a.doc_id"))
      .join(all.as("b"),
        col("doc_b") === col("b.doc_id") && col("a.slot") === col("b.slot"))
      .groupBy("doc_a", "doc_b", "is_cross")
      .agg(sum(bit_count(col("a.dhash").bitwiseXOR(col("b.dhash"))))
        .cast("int").as("total_hamming"))
      .filter(col("total_hamming") <= maxTotalHamming)
      .select("doc_a", "doc_b", "total_hamming", "is_cross")
      .orderBy("doc_a", "doc_b")
    graft.ext.Dedup.scopeCaches(result, all)
  }

  /** Synthetic GVID table with PLANTED near-duplicate clusters — the
    * video twin of [[syntheticPngClusters]]/[[syntheticWavClusters]]:
    * frame count, dimensions, and the high-frequency per-frame pattern
    * derive from `doc_id % nClusters`; members with
    * `doc_id >= nClusters` get frame 0's corner pixel's red channel
    * shifted by `doc_id / nClusters` — at most ONE dHash bit of ONE
    * slot moves (in-cluster total Hamming ≤ 1) while distinct clusters'
    * patterns (different frame counts ⇒ different sampled frames, and
    * different pixels everywhere) sit tens of bits apart per slot.
    */
  def syntheticVideoClusters(spark: SparkSession, documents: DataFrame,
                             nClusters: Int = 50): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % nClusters
          val n = (4 + key % 5).toInt
          val w = (8 + key % 9).toInt
          val h = (8 + key % 7).toInt
          val bump = (id / nClusters).toInt
          val frames = (0 until n).map { f =>
            PngCodec.encode(w, h, (x, y) => {
              val r0 = ((key * 7 + f * 19 + x * 37 + y * 59 + x * y * 13) % 256).toInt
              val r = if (f == 0 && x == 0 && y == 0) (r0 + bump) % 256 else r0
              val g = ((key * 11 + f * 23 + x * 23 + y * 41 + x * y * 7) % 256).toInt
              val b = ((key * 13 + f * 29 + x * 29 + y * 31 + x * y * 17) % 256).toInt
              (r << 16) | (g << 8) | b
            })
          }
          (id, VideoCodec.encode(12, frames), w, h, n)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px", "n_frames")
      .select(col("doc_id"), col("payload"), struct(
        lit("video/gvid").as("media_type"),
        col("width_px"), col("height_px"), col("n_frames"),
        col("doc_id").as("source_id")).as("meta"))
  }

  /** Synthetic PNG table with PLANTED perceptual duplicates: the pixel
    * pattern (and dimensions) derive from `doc_id % nClusters`, so each
    * residue class is one image cluster; cluster members with
    * `doc_id >= nClusters` additionally get one corner pixel's red
    * channel shifted by `doc_id / nClusters` — a perturbation that
    * moves at most one dHash sample, keeping in-cluster Hamming
    * distance ≤ 1 while distinct clusters stay tens of bits apart.
    * Closed-form per (doc_id, x, y) in both engines, same fixture
    * pattern as [[syntheticPngTable]].
    */
  def syntheticPngClusters(spark: SparkSession, documents: DataFrame,
                           nClusters: Int = 50): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val key = id % nClusters
          val w = (8 + key % 9).toInt
          val h = (8 + key % 7).toInt
          val bump = (id / nClusters).toInt
          // HIGH-frequency pattern (large multipliers + x·y cross
          // term): a smooth gradient makes luma monotonic along each
          // row, collapsing every image's dHash toward all-ones and
          // drowning the bed in spurious near-pairs (measured: 58k
          // pairs at <=6 bits on the linear pattern vs exactly the
          // 2250 planted ones on this pattern, nearest cross-cluster
          // pair 13 bits)
          val png = PngCodec.encode(w, h, (x, y) => {
            val r0 = ((key * 7 + x * 37 + y * 59 + x * y * 13) % 256).toInt
            val r = if (x == 0 && y == 0) (r0 + bump) % 256 else r0
            val g = ((key * 11 + x * 23 + y * 41 + x * y * 7) % 256).toInt
            val b = ((key * 13 + x * 29 + y * 31 + x * y * 17) % 256).toInt
            (r << 16) | (g << 8) | b
          })
          (id, png, w, h)
        }
      }
      .toDF("doc_id", "payload", "width_px", "height_px")
      .select(col("doc_id"), col("payload"), struct(
        lit("image/png").as("media_type"),
        col("width_px"), col("height_px"),
        col("doc_id").as("source_id")).as("meta"))
  }
}
