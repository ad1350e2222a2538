package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` payloads
  * with a typed metadata struct, plus decode / feature-extract / resize /
  * frame-sample operators.
  *
  * Image payloads get a REAL pixel decode via the pure-JVM `javax.imageio`
  * stack ([[ImageCodec]] — PNG/JPEG/GIF/BMP readers ship with the JDK),
  * audio payloads a REAL PCM decode via `javax.sound.sampled`
  * ([[AudioCodec]], RIFF/WAVE), and video payloads a REAL frame-level
  * decode via [[VideoCodec]] (open MJPEG-style container of length-
  * prefixed stills, each frame through `ImageIO`). Payloads NO codec
  * recognizes get stable content-hash pseudo-features
  * (`hashFeatures` — a fingerprint, not a decode); the schema, batch
  * iteration via `mapPartitions`, and partition-parallel execution are
  * identical for all paths, so swapping in a native bitstream codec
  * (e.g. javacv for H.264) would not touch the plan.
  */
object Multimodal {

  /** media struct: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("kind", StringType),        // image | audio | video
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("duration_ms", LongType))))))

  /** Build a synthetic media column from any source frame (payload = utf8
    * bytes of a text column; metadata derived deterministically). Used to
    * exercise the pipeline without binary fixtures. */
  def synthesize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      struct(
        encode(col(textCol), "UTF-8").as("payload"),
        struct(
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(xxhash64(col(idCol)), lit(3)) + 1).cast("int")).as("kind"),
          (pmod(xxhash64(col(idCol), lit(1)), lit(1920)) + 1).cast("int").as("width"),
          (pmod(xxhash64(col(idCol), lit(2)), lit(1080)) + 1).cast("int").as("height"),
          lit(16000).as("sample_rate"),
          (pmod(xxhash64(col(idCol), lit(3)), lit(60000)) + 1000).as("duration_ms")
        ).as("meta")).as("media"))

  /** Content-hash pseudo-features for payloads NO codec recognizes
    * (neither [[ImageCodec]], [[AudioCodec]] nor [[VideoCodec]] — i.e.
    * corrupt or foreign-format members, the norm in crawled media): `dim`
    * values from a rolling hash over payload bytes. NOT a media decode —
    * a deterministic fingerprint that keeps undecodable members
    * clusterable/dedupable instead of dropping them. Every recognized
    * modality takes a real decode path and never reaches this. */
  private def hashFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    var j = 0
    while (j < dim) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17
      out(j) = (h % 1000L).toFloat / 1000.0f
      j += 1
    }
    out
  }

  /** Synthetic images with REAL bytes: each payload is a structurally
    * valid PNG/JPEG/GIF/BMP (format cycles with the id; dimensions derive
    * deterministically from it), built by [[ImageHeaders]]. Unlike
    * [[synthesize]]'s opaque text-byte payloads, these exercise an actual
    * header decode. */
  def synthesizeImages(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          val w = 1 + (id % 31).toInt
          val h = 1 + (id % 17).toInt
          val payload = (id % 4) match {
            case 0 => ImageHeaders.png(w, h)
            case 1 => ImageHeaders.jpeg(w, h)
            case 2 => ImageHeaders.gif(w, h)
            case _ => ImageHeaders.bmp(w, h)
          }
          Row(id, payload)
        }
      }
    }(enc)
  }

  /** Synthetic images with REAL pixels: each payload is a complete,
    * decodable PNG/GIF/BMP (format cycles with `id % 3` — the three
    * byte-exact lossless formats; JPEG is exercised header-only in
    * [[synthesizeImages]] since its DCT roundtrip is lossy) whose 8-bit
    * grayscale fill follows [[ImageCodec.pixel]]'s closed form
    * `(id + 7x + 13y) mod 256`. Dimensions derive from the id, so both the
    * decoded dims AND the decoded pixel statistics are reproducible as
    * plain integer SQL. GIF heights are `5 + id % 13` (never 2–4): the
    * JDK's GIF *reader* drops rows past the first for heights 2–4 (verified
    * empirically — all widths, heights 2,3,4 only; PNG/BMP roundtrip exact
    * on every 1..31 × 1..17 dim). */
  def synthesizePixelImages(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          val fmt = (id % 3) match {
            case 0 => "png"
            case 1 => "gif"
            case _ => "bmp"
          }
          val w = 1 + (id % 31).toInt
          val h = if (fmt == "gif") 5 + (id % 13).toInt else 1 + (id % 17).toInt
          Row(id, ImageCodec.encode(fmt, id, w, h))
        }
      }
    }(enc)
  }

  /** Typed pixel statistics from a REAL `ImageIO` decode of each payload:
    * (id, format, width, height, px_sum, px_min, px_max). The format string
    * is parsed from the byte-stream header ([[ImageHeaders.dims]]), the
    * stats from the decoded raster ([[ImageCodec.decodeFeatures]]).
    * Corrupt / non-image payloads yield NULL stat columns, not failures. */
  def decodePixelStats(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("px_sum", LongType),
      StructField("px_min", IntegerType),
      StructField("px_max", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          val payload = r.getAs[Array[Byte]](1)
          val fmt = ImageHeaders.dims(payload).map(_._1).orNull
          ImageCodec.decodeFeatures(payload) match {
            case Some(f) => Row(id, fmt,
              Integer.valueOf(f(0).toInt), Integer.valueOf(f(1).toInt),
              java.lang.Long.valueOf(f(3).toLong),
              Integer.valueOf(f(4).toInt), Integer.valueOf(f(5).toInt))
            case None => Row(id, fmt, null, null, null, null, null)
          }
        }
      }(enc)
  }

  /** Synthetic audio with REAL bytes: each payload is a complete RIFF/WAVE
    * clip (16-bit mono PCM) whose sample values follow [[AudioCodec.sample]]'s
    * closed form; length and sample rate derive from the id, so decoded
    * amplitude statistics are reproducible as plain integer SQL. */
  def synthesizeAudio(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          val n = 100 + (id % 900).toInt
          val rate = 8000 * (1 + (id % 3).toInt)
          Row(id, AudioCodec.encodeWav(id, n, rate))
        }
      }
    }(enc)
  }

  /** Typed amplitude statistics from a REAL `javax.sound.sampled` decode of
    * each payload: (id, sample_rate, n_samples, amp_sum, amp_min, amp_max).
    * Corrupt / non-audio payloads yield NULL stat columns, not failures. */
  def decodeAudioStats(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", LongType),
      StructField("amp_sum", LongType),
      StructField("amp_min", IntegerType),
      StructField("amp_max", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          AudioCodec.decodeWav(r.getAs[Array[Byte]](1)) match {
            case Some((rate, n, sum, mn, mx)) => Row(id,
              Integer.valueOf(rate), java.lang.Long.valueOf(n),
              java.lang.Long.valueOf(sum), Integer.valueOf(mn), Integer.valueOf(mx))
            case None => Row(id, null, null, null, null, null)
          }
        }
      }(enc)
  }

  /** Frame-level audio features from a REAL decode of each payload: one
    * row per complete `frameLen`-sample window — (id, frame_idx, zcr,
    * energy_sum, rms). The speech-pipeline front-end shape (voice-activity
    * / silence screening before a corpus feeds ASR pseudo-labeling): zcr
    * and energy are the two classic frame statistics, integer-exact here
    * so the oracle reproduces them from the closed sample form. Corrupt /
    * non-audio payloads contribute zero rows. Same justified
    * `mapPartitions` pattern as [[decodeAudioStats]] — a real codec is
    * imperative byte work no Catalyst expression expresses. */
  def audioFrameFeatures(media: DataFrame, frameLen: Int = 256,
      idCol: String = "id", payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("zcr", IntegerType),
      StructField("energy_sum", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          if (r.isNullAt(0)) Iterator.empty
          else AudioCodec.frameFeatures(r.getAs[Array[Byte]](1), frameLen) match {
            case Some(frames) => frames.iterator.map { case (f, zcr, energy) =>
              Row(r.getLong(0), Integer.valueOf(f), Integer.valueOf(zcr),
                java.lang.Long.valueOf(energy))
            }
            case None => Iterator.empty
          }
        }
      }(enc)
  }

  /** Synthetic audio with PLANTED SILENCE: every `silentEvery`-th
    * 256-sample block is zeroed ([[AudioCodec.encodeWavGated]]) — the
    * speech/silence alternation the VAD segmenter exists for;
    * `384 + id % 1200` samples at 8 kHz, all values closed-form
    * reproducible. `silentEvery = 1` silences EVERY block — the
    * degenerate all-silent clip a voiced-fraction screen must reject. */
  def synthesizeAudioGated(df: DataFrame, idCol: String,
      silentEvery: Int = 3): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          Row(id, AudioCodec.encodeWavGated(id, 384 + (id % 1200).toInt,
            8000, blockLen = 256, silentEvery = silentEvery))
        }
      }
    }(enc)
  }

  /** Energy-threshold voice-activity segments over
    * [[audioFrameFeatures]] — the decode → frame → segment front end of
    * a speech-data pipeline: frames with `energy_sum ≥ energyMin` are
    * voiced, maximal runs of consecutive voiced frames collapse to one
    * segment row (classic gaps-and-islands: `frame_idx − row_number`
    * per clip is constant within a run). Returns (id, seg_idx,
    * start_frame, end_frame, n_frames, seg_energy), seg_idx 1-based in
    * frame order. The windows partition BY CLIP — bounded by a clip's
    * frame count at any corpus size (clips are minutes, not corpora);
    * everything else is one grouped aggregate. */
  def audioVadSegments(media: DataFrame, frameLen: Int = 256,
      energyMin: Long = 1L, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = audioFrameFeatures(media, frameLen, idCol, payloadCol)
    val w = Window.partitionBy(col("id")).orderBy(col("frame_idx"))
    frames.filter(col("energy_sum") >= energyMin)
      .withColumn("__grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy_sum")).as("seg_energy"))
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("start_frame"))))
      .select(col("id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("seg_energy"))
  }

  /** Synthetic video with REAL bytes: each payload is a complete GFV1 clip
    * ([[VideoCodec]] — MJPEG-style concatenated stills) of `2 + id % 6`
    * genuine PNG/BMP frames at `1 + id % 5` fps; frame `f`'s grayscale
    * fill follows [[ImageCodec.pixel]] with seed `id + 97f`, so every
    * decoded per-frame pixel statistic is reproducible as integer SQL. */
  def synthesizeVideos(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          Row(id, VideoCodec.encode(id, nFrames = 2 + (id % 6).toInt,
            fps = 1 + (id % 5).toInt, w = 1 + (id % 31).toInt,
            h = 1 + (id % 17).toInt))
        }
      }
    }(enc)
  }

  /** One row PER DECODED FRAME from a real container parse + `ImageIO`
    * pixel decode of each still: (id, frame_idx, format, width, height,
    * px_sum, px_min, px_max, n_frames, fps). The format string is parsed
    * from the frame's own byte header, the stats from its decoded raster.
    * Corrupt containers yield a single all-NULL-stat row per clip (frame
    * count unknowable), corrupt individual frames a NULL-stat row at
    * their index — never failures. */
  def decodeVideoFrameStats(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("px_sum", LongType),
      StructField("px_min", IntegerType),
      StructField("px_max", IntegerType),
      StructField("n_frames", IntegerType),
      StructField("fps", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          VideoCodec.decode(r.getAs[Array[Byte]](1)) match {
            case None =>
              Iterator.single(Row(id, null, null, null, null, null, null, null,
                null, null))
            case Some((fps, frames)) if frames.isEmpty =>
              // a VALID zero-frame clip must still surface one row (with
              // its true n_frames=0), or it silently vanishes from any
              // per-clip join over the output
              Iterator.single(Row(id, null, null, null, null, null, null,
                null, Integer.valueOf(0), Integer.valueOf(fps)))
            case Some((fps, frames)) =>
              val nf = Integer.valueOf(frames.length)
              val fp = Integer.valueOf(fps)
              frames.iterator.zipWithIndex.map { case (frame, idx) =>
                val fmt = ImageHeaders.dims(frame).map(_._1).orNull
                ImageCodec.decodeFeatures(frame) match {
                  case Some(f) => Row(id, Integer.valueOf(idx), fmt,
                    Integer.valueOf(f(0).toInt), Integer.valueOf(f(1).toInt),
                    java.lang.Long.valueOf(f(3).toLong),
                    Integer.valueOf(f(4).toInt), Integer.valueOf(f(5).toInt),
                    nf, fp)
                  case None => Row(id, Integer.valueOf(idx), fmt,
                    null, null, null, null, null, nf, fp)
                }
              }
          }
        }
      }(enc)
  }

  /** The real header decode: (id, format, width, height) parsed from the
    * payload BYTES via [[ImageHeaders.dims]] — not taken from metadata.
    * Unrecognized/truncated payloads yield NULL columns, not failures
    * (corrupt members are the norm in crawled media at scale). */
  def imageDims(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          // positional access: upstream mapPartitions rows may be schemaless
          ImageHeaders.dims(r.getAs[Array[Byte]](1)) match {
            case Some((f, w, h)) =>
              Row(id, f, Integer.valueOf(w), Integer.valueOf(h))
            case None => Row(id, null, null, null)
          }
        }
      }(enc)
  }

  /** Feature extraction over media payloads: partition-parallel
    * `mapPartitions` (the Scala analogue of `mapInPandas` batch UDFs — one
    * iterator per partition, no per-row SerDe setup). Image payloads are
    * REALLY decoded ([[ImageCodec.decodeFeatures]], `javax.imageio`) into
    * `[w, h, n_px, px_sum, px_min, px_max]`, WAV audio via
    * `javax.sound.sampled` into `[rate, n, amp_sum, amp_min, amp_max]`,
    * GFV1 video via [[VideoCodec]] + per-frame `ImageIO` into
    * `[n_frames, fps, px_sum, px_min, px_max]` (totals across frames);
    * payloads no codec recognizes get the content-hash fingerprint of
    * length `dim`. Output: (id, kind, features array<float>). */
  def extractFeatures(spark: SparkSession, media: DataFrame, idCol: String,
      dim: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("kind", StringType),
      StructField("features", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col(idCol).cast("long").as("id"),
        col("media.payload").as("payload"), col("media.meta.kind").as("kind"))
      .mapPartitions { rows =>
        // per-partition init would open the codec ONCE here (batch shape).
        // Null-safe per row: a null id or payload yields null features
        // instead of an NPE that kills the whole extraction job.
        rows.map { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          val payload = r.getAs[Array[Byte]]("payload")
          val feats =
            if (payload == null) null
            else ImageCodec.decodeFeatures(payload) match {
              case Some(f) => f.toSeq
              case None => AudioCodec.decodeWav(payload) match {
                case Some((rate, n, sum, mn, mx)) =>
                  Seq(rate.toFloat, n.toFloat, sum.toFloat, mn.toFloat, mx.toFloat)
                case None => VideoCodec.decode(payload) match {
                  case Some((fps, frames)) =>
                    // real per-frame pixel decode, folded across the clip
                    val stats = frames.flatMap(ImageCodec.decodeFeatures)
                    if (stats.isEmpty)
                      Seq(frames.length.toFloat, fps.toFloat, 0f, 0f, 0f)
                    else Seq(frames.length.toFloat, fps.toFloat,
                      stats.map(_(3)).sum, stats.map(_(4)).min,
                      stats.map(_(5)).max)
                  case None => hashFeatures(payload, dim).toSeq
                }
              }
            }
          Row(id, if (r.isNullAt(2)) null else r.getString(2), feats)
        }
      }(enc)
  }

  /** Resize TARGET computation: the scale-to-fit dimensions as pure column
    * math over the metadata (what a resize scheduler partitions work by).
    * Pixel remapping itself is the codec layer's job ([[ImageCodec]] /
    * [[VideoCodec]] decode real rasters); this op deliberately leaves the
    * payload untouched. */
  def resize(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("media.meta.width")
    val h = col("media.meta.height")
    val scale = least(lit(maxW) / w, lit(maxH) / h, lit(1.0))
    media.withColumn("resized_width", floor(w * scale).cast("int"))
      .withColumn("resized_height", floor(h * scale).cast("int"))
  }

  /** Perceptual hash of each payload — [[ImageCodec.ahash64]] over a real
    * `ImageIO` decode. NULL `ahash` for undecodable payloads or images
    * under the 8×8 grid. The image-dedup primitive: exact-dedup the 64-bit
    * hashes (or band them LSH-style on 16-bit quarters) instead of
    * comparing pixels. */
  def ahash(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          Row(id, ImageCodec.ahash64(r.getAs[Array[Byte]](1))
            .map(java.lang.Long.valueOf).orNull)
        }
      }(enc)
  }

  /** `df`'s `keep` columns, one row per `64/bands`-bit slice of its 64-bit
    * hash column `h`: `b` is the slice index, `bv` its value. Two hashes
    * within `maxHamming` < `bands` differing bits cannot differ in every
    * slice (pigeonhole), so an equi-join on (b, bv) finds every such pair. */
  private def hashBands(df: DataFrame, h: String, keep: Seq[String],
      maxHamming: Int, bands: Int): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming < bands,
      s"pigeonhole-exact recall needs maxHamming ($maxHamming) < bands ($bands)")
    val width = 64 / bands
    val mask = (1L << width) - 1
    df.select(keep.map(col) :+
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("b"),
            shiftrightunsigned(col(h), b * width)
              .bitwiseAND(lit(mask)).as("bv"))): _*)).as("band"): _*)
      .select(keep.map(col) ++
        Seq(col("band.b").as("b"), col("band.bv").as("bv")): _*)
  }

  /** Banded-Hamming near-duplicate IMAGE pairs over (id, ahash) rows — the
    * cross-image complement of [[ahash]]: the 64-bit hash splits into
    * `bands` contiguous slices, images sharing ANY slice value meet in a
    * bucket join, and candidates verify by exact Hamming distance
    * (`bit_count(a XOR b)`). Pigeonhole: a pair within `maxHamming` <
    * `bands` differing bits cannot differ in every slice, so recall is
    * EXACTLY 1.0 — the output equals the all-pairs result while the
    * shuffle stays linear in corpus size + true candidate volume (bucket
    * fan-out IS the corpus's duplicate-cluster structure, the thing being
    * measured — same shape as the MinHash band probe in `llm/Dedup`).
    * NULL hashes (undecodable payloads) are excluded. */
  def ahashNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    val banded = hashBands(hashes.filter(col("ahash").isNotNull), "ahash",
      Seq("id", "ahash"), maxHamming, bands)
    val left = banded.select(col("b"), col("bv"),
      col("id").as("id_a"), col("ahash").as("ha"))
    val right = banded.select(col("b"), col("bv"),
      col("id").as("id_b"), col("ahash").as("hb"))
    left.join(right, Seq("b", "bv")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      // verify BEFORE the cross-band dedup so the distinct runs on the
      // surviving pairs only
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Probe a batch of image hashes against the durable image-hash STORE
    * ([[DedupStore.readImageHashes]]): both sides band into 64/bands-bit
    * slices, candidates meet in a bucket equi-join, and the exact Hamming
    * verify runs on the candidates only — with maxHamming < bands the
    * pigeonhole makes recall EXACTLY 1.0, so the probe is value-equal to
    * the all-pairs batch×history comparison at a shuffle cost of
    * batch + store/2^slice fan-out, never |batch|·|store|. History hashes
    * are scanned once, 8 bytes per image, and never re-decoded — the d24
    * scale discipline applied to the image modality. Output per batch id:
    * kept (no history image within maxHamming), n_matches, min_ham. */
  def ahashStoreProbe(batch: DataFrame, store: DataFrame,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    def banded(df: DataFrame, id: String, h: String): DataFrame =
      hashBands(df.filter(col(h).isNotNull), h, Seq(id, h), maxHamming, bands)
    val matches = banded(batch, "id", "ahash")
      .join(banded(store.select(col("img_id"), col("ahash").as("h_hash")),
        "img_id", "h_hash"), Seq("b", "bv"))
      .withColumn("hamming",
        bit_count(col("ahash").bitwiseXOR(col("h_hash"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id"))
      .agg(countDistinct(col("img_id")).as("n_matches"),
        min(col("hamming")).as("min_ham"))
    batch.select(col("id"))
      .join(matches, Seq("id"), "left")
      .select(col("id"), col("n_matches").isNull.as("kept"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"), col("min_ham"))
  }

  /** Lossless/lossy perceptual-hash pair probe: for each id, a real PNG
    * and a real JPEG of the SAME closed-form raster (w = 8 + id%24,
    * h = 8 + id%12 — always ≥ the 8×8 grid), both genuinely encoded and
    * decoded through `ImageIO`, hashed by [[ImageCodec.ahash64]]. Output:
    * the PNG hash (integer-exact → SQL-oracle-reproducible) and the
    * hamming distance to the JPEG twin (the perceptual-robustness signal:
    * lossy re-encoding must not move the hash far). One `mapPartitions`
    * pass — the pair never crosses a shuffle. */
  def ahashPair(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ahash", LongType),
      StructField("ham_jpeg", IntegerType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null, null)
        else {
          val id = r.getLong(0)
          val w = 8 + (id % 24).toInt
          val h = 8 + (id % 12).toInt
          val hp = ImageCodec.ahash64(ImageCodec.encode("png", id, w, h))
          val hj = ImageCodec.ahash64(ImageCodec.encode("jpeg", id, w, h))
          (hp, hj) match {
            case (Some(a), Some(b)) => Row(id, java.lang.Long.valueOf(a),
              Integer.valueOf(java.lang.Long.bitCount(a ^ b)))
            case _ => Row(id, hp.map(java.lang.Long.valueOf).orNull, null)
          }
        }
      }
    }(enc)
  }

  /** Video near-dup corpus with REAL bytes and a planted re-encode family:
    * clip `id`'s CONTENT derives from its base `id % 100000` — frame `f`
    * is a genuine `8+base%24 × 8+base%12` still (always ≥ the aHash
    * 8×8 grid) filled by [[ImageCodec.pixel]] with seed `base + 97f`,
    * `2 + base%3` frames at 4 fps — while its container FORMAT choice
    * flips with `id / 100000`: frame f encodes PNG when
    * `(id/100000 + f)` is even, BMP otherwise (both lossless). A clip
    * re-published under `id + 100000` is therefore a true RE-ENCODE:
    * byte-different container, pixel-identical frames — the planted
    * near-duplicate a video dedup must drop — and every frame statistic
    * stays closed-form SQL-reproducible. */
  def synthesizeVideoCorpus(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          val base = id % 100000L
          val gen = id / 100000L
          val w = 8 + (base % 24).toInt
          val h = 8 + (base % 12).toInt
          val frames = (0 until (2 + (base % 3).toInt)).map { f =>
            val fmt = if ((gen + f) % 2 == 0) "png" else "bmp"
            ImageCodec.encode(fmt, base + 97L * f, w, h)
          }
          Row(id, VideoCodec.encodeFrames(frames, fps = 4))
        }
      }
    }(enc)
  }

  /** Per-frame perceptual signatures — the VIDEO dedup primitive: one row
    * per decoded frame, (id, n_frames, frame_idx, ahash), via a real
    * container parse + `ImageIO` decode + [[ImageCodec.ahash64]]. A clip
    * is represented by its ORDERED frame-hash sequence (8 bytes/frame —
    * the only thing a store ever persists; pixels never cross a
    * shuffle). Corrupt containers contribute no rows; an undecodable or
    * sub-8×8 frame yields a NULL hash row (it can then never verify,
    * failing SAFE toward kept). */
  def videoAhashes(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload"): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_frames", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("ahash", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          VideoCodec.decode(r.getAs[Array[Byte]](1)) match {
            case None => Iterator.empty
            case Some((_, frames)) =>
              val nf = Integer.valueOf(frames.length)
              frames.iterator.zipWithIndex.map { case (frame, idx) =>
                Row(id, nf, Integer.valueOf(idx),
                  ImageCodec.ahash64(frame).map(java.lang.Long.valueOf).orNull)
              }
          }
        }
      }(enc)
  }

  /** Probe a batch of video signatures against the durable STORE of
    * frame-hash signatures — the VIDEO modality joining the incremental
    * dedup family (d16 exact / d18 MinHash / d24 embedding / mm09
    * image). A batch clip matches a history clip iff they have the SAME
    * frame count and EVERY aligned frame pair is within `maxHamming`
    * bits — the re-encoded-clip contract (transcodes keep frame count
    * and perceptual content; trims/splices are different videos).
    *
    * Candidates come from FRAME-0 band buckets: a matching pair has
    * frame 0 within maxHamming, and with maxHamming < bands the
    * pigeonhole guarantees a shared frame-0 band slice — recall is
    * EXACTLY 1.0 (the in-query exact twin in mm10 re-proves it per
    * run), while the shuffle stays batch + probed buckets, never
    * |batch|·|store|. The verify leg joins candidates frame-ALIGNED
    * (`frame_idx` equality) so only n_frames rows per candidate pair are
    * compared; history frames are 8-byte hashes, never re-decoded.
    * Output per batch clip: kept (no history match), n_matches, min_ham
    * (the best matching clip's WORST aligned frame distance — NULL when
    * kept). `batch`/`store` carry (id|vid_id, n_frames, frame_idx,
    * ahash). NULL frame hashes never verify (their pair cannot reach
    * full frame coverage), failing safe toward kept. */
  def videoStoreProbe(batch: DataFrame, store: DataFrame,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    def banded0(df: DataFrame, id: String, h: String): DataFrame =
      hashBands(df.filter(col("frame_idx") === 0 && col(h).isNotNull), h,
        Seq(id), maxHamming, bands)
    val cand = banded0(batch, "id", "ahash")
      .join(banded0(store.select(col("vid_id"), col("frame_idx"),
        col("ahash").as("h_hash")), "vid_id", "h_hash"), Seq("b", "bv"))
      .select(col("id"), col("vid_id")).distinct()
    val verified = cand
      .join(batch.select(col("id"), col("n_frames").as("nb"),
        col("frame_idx"), col("ahash")), Seq("id"))
      .join(store.select(col("vid_id"), col("n_frames").as("nh"),
        col("frame_idx"), col("ahash").as("h_hash")),
        Seq("vid_id", "frame_idx"))
      .filter(col("ahash").isNotNull && col("h_hash").isNotNull)
      .groupBy(col("id"), col("vid_id"))
      .agg(first(col("nb")).as("nb"), first(col("nh")).as("nh"),
        count(lit(1)).as("n_aligned"),
        max(bit_count(col("ahash").bitwiseXOR(col("h_hash"))).cast("int"))
          .as("max_ham"))
      .filter(col("nb") === col("nh") && col("n_aligned") === col("nb")
        && col("max_ham") <= maxHamming)
    val matches = verified.groupBy(col("id"))
      .agg(countDistinct(col("vid_id")).as("n_matches"),
        min(col("max_ham")).as("min_ham"))
    batch.select(col("id")).distinct()
      .join(matches, Seq("id"), "left")
      .select(col("id"), col("n_matches").isNull.as("kept"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"), col("min_ham"))
  }

  /** Synthetic AUDIO corpus with planted near-duplicates — the audio
    * sibling of [[synthesizeVideoCorpus]]: clip `id` (base = `id %
    * 100000`) is a real RIFF/WAVE payload of
    * `64·(2 + base%3) + base%7` 16-bit mono PCM samples at 16 kHz
    * following [[AudioCodec.oscSample]]'s closed form (dense sign
    * oscillation — distinct bases disagree on some sample sign with
    * overwhelming probability), ATTENUATED by `id / 100000` bits
    * ([[AudioCodec.encodeWavOscShifted]] — arithmetic shift,
    * sign-preserving). A clip re-published under `id + 100000` is
    * therefore a true volume-changed RE-ENCODE: byte-different payload,
    * sign-pattern-identical samples — the planted near-duplicate an audio
    * dedup must drop — and every sign bit stays closed-form
    * SQL-reproducible. The `base%7` tail exercises the fingerprinter's
    * incomplete-final-frame drop. */
  def synthesizeAudioCorpus(df: DataFrame, idCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.select(col(idCol).cast("long").as("id")).mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(0)) Row(null, null)
        else {
          val id = r.getLong(0)
          val base = id % 100000L
          val shift = (id / 100000L).toInt
          val n = 64 * (2 + (base % 3).toInt) + (base % 7).toInt
          Row(id, AudioCodec.encodeWavOscShifted(base, n, 16000, shift))
        }
      }
    }(enc)
  }

  /** Per-frame sign-pattern fingerprints — the AUDIO dedup primitive: one
    * row per complete 64-sample frame, (id, n_frames, frame_idx, sig),
    * via a real `AudioSystem` decode + [[AudioCodec.frameSignSigs]]. A
    * clip is represented by its ORDERED frame-sig sequence (8 bytes per
    * frame — the only thing a store ever persists; PCM samples never
    * cross a shuffle), and the fingerprint is invariant under positive
    * amplitude scaling, so volume-changed re-publications carry their
    * original's signature. Corrupt payloads contribute no rows. */
  def audioSignSigs(media: DataFrame, idCol: String = "id",
      payloadCol: String = "payload", frameLen: Int = 64): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("n_frames", IntegerType),
      StructField("frame_idx", IntegerType),
      StructField("sig", LongType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col(idCol).cast("long").as("id"), col(payloadCol).as("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
          AudioCodec.frameSignSigs(r.getAs[Array[Byte]](1), frameLen) match {
            case None => Iterator.empty
            case Some(sigs) =>
              val nf = Integer.valueOf(sigs.length)
              sigs.iterator.map { case (f, sig) =>
                Row(id, nf, Integer.valueOf(f), java.lang.Long.valueOf(sig))
              }
          }
        }
      }(enc)
  }

  /** Probe a batch of audio signatures against the durable STORE of
    * frame-sig signatures — the AUDIO modality joining the incremental
    * dedup family (d16 exact / d18 MinHash / d24 embedding / mm09 image /
    * mm10 video). A batch clip matches a history clip iff they have the
    * SAME frame count and EVERY aligned frame signature is EQUAL — the
    * volume-re-encode contract (attenuation keeps every sign bit;
    * trims/splices are different clips), so the match test is exact
    * equality, no Hamming budget. Candidates come from frame-0 signature
    * equality (a matching pair has frame 0 equal by definition — recall
    * is EXACTLY 1.0 with no pigeonhole argument needed), keeping the
    * shuffle at batch + probed buckets, never |batch|·|store|; the verify
    * leg joins candidates frame-ALIGNED so only n_frames rows per
    * candidate pair are compared, and history frames are 8-byte sigs,
    * never re-decoded. Output per batch clip: kept / n_matches.
    * `batch`/`store` carry (id|clip_id, n_frames, frame_idx, sig). */
  def audioStoreProbe(batch: DataFrame, store: DataFrame): DataFrame = {
    val cand = batch.filter(col("frame_idx") === 0)
      .select(col("id"), col("sig"))
      .join(store.filter(col("frame_idx") === 0)
        .select(col("clip_id"), col("sig")), Seq("sig"))
      .select(col("id"), col("clip_id")).distinct()
    val verified = cand
      .join(batch.select(col("id"), col("n_frames").as("nb"),
        col("frame_idx"), col("sig")), Seq("id"))
      .join(store.select(col("clip_id"), col("n_frames").as("nh"),
        col("frame_idx"), col("sig").as("h_sig")),
        Seq("clip_id", "frame_idx"))
      .groupBy(col("id"), col("clip_id"))
      .agg(first(col("nb")).as("nb"), first(col("nh")).as("nh"),
        count(lit(1)).as("n_aligned"),
        sum(when(col("sig") === col("h_sig"), 0L).otherwise(1L))
          .as("n_diff"))
      .filter(col("nb") === col("nh") && col("n_aligned") === col("nb")
        && col("n_diff") === 0L)
    val matches = verified.groupBy(col("id"))
      .agg(countDistinct(col("clip_id")).as("n_matches"))
    batch.select(col("id")).distinct()
      .join(matches, Seq("id"), "left")
      .select(col("id"), col("n_matches").isNull.as("kept"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
  }

  /** Frame sampling for video rows: one output row per sampled frame index
    * at `fps` over the clip duration (pure explode — partition-parallel). */
  def sampleFrames(media: DataFrame, idCol: String, fps: Double): DataFrame =
    media.filter(col("media.meta.kind") === "video")
      .select(col(idCol),
        explode(sequence(lit(0L),
          greatest(floor(col("media.meta.duration_ms") / lit(1000.0 / fps)).cast("long") - 1, lit(0L))))
          .as("frame_idx"))
      .withColumn("frame_ts_ms",
        (col("frame_idx") * lit(1000.0 / fps)).cast("long"))
}
