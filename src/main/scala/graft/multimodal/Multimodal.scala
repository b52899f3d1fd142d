package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for a training-data pipeline.
  *
  * Media (image/audio/video) travels as an opaque `binary` column with a
  * typed metadata struct. The IMAGE codec path is real — JDK-native
  * `javax.imageio` (PNG/JPEG/GIF/BMP) decodes pixels for probing, feature
  * extraction, and resampling — and so is the AUDIO path for WAV/AIFF via
  * JDK-native `javax.sound.sampled` (sample-rate probe, PCM decode, RMS
  * energy features); no external libraries. Compressed audio (mp3/flac)
  * and video codecs are not in the JDK, so those payloads fall back to
  * [[decodeStub]] — deterministic pseudo-features from the raw bytes —
  * keeping the distributed plumbing testable; swap the stub for a real
  * codec (e.g. JNI/javacv) without touching any of the surrounding plan.
  * Undecodable payloads of any kind take the same stub fallback rather
  * than poisoning the batch.
  *
  * Processing uses `mapPartitions` over a typed Dataset deliberately:
  * per-record codec work is imperative, per-partition batching amortizes
  * codec init, and each partition streams — no driver collect, no state,
  * scales linearly with executors.
  */
object Multimodal {

  /** media(id, kind, bytes, meta{width,height,sample_rate}). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true))), nullable = true)))

  final case class MediaMeta(width: Option[Int], height: Option[Int],
                             sample_rate: Option[Int])
  final case class Media(id: Long, kind: String, bytes: Array[Byte],
                         meta: MediaMeta)
  final case class MediaFeatures(id: Long, kind: String, n_bytes: Int,
                                 features: Array[Float])

  /** Ingest raw media files through Spark's binaryFile source: each file
    * becomes one row (path, modificationTime, length, content), mapped into
    * the media schema with kind inferred from the extension. This is the
    * production ingest path for a media corpus — the source supports
    * predicate pushdown on path/length/modificationTime, so e.g. a
    * `length < 10MB` filter prunes oversized blobs before reading content. */
  def ingestFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                  maxBytes: Long = 10L * 1024 * 1024): Dataset[Media] = {
    import spark.implicits._
    val kind = when(col("path").rlike("\\.(png|jpe?g|gif)$"), "image")
      .when(col("path").rlike("\\.(wav|mp3|flac)$"), "audio")
      .when(col("path").rlike("\\.(mp4|avi|webm)$"), "video")
      .otherwise("binary")
    spark.read.format("binaryFile").load(dir)
      .filter(col("length") <= maxBytes) // pushed to the source
      .select(
        xxhash64(col("path")).as("id"),
        kind.as("kind"),
        col("content").as("bytes"))
      .map(r => Media(r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2),
        MediaMeta(None, None, None)))
  }

  /** JDK-native image decode via javax.imageio (PNG/JPEG/GIF/BMP ship with
    * the JDK). None when the payload is absent or not a parseable image.
    * Catches NonFatal, not just IOException: plugin decoders throw
    * RuntimeExceptions (AIOOBE, NegativeArraySize, IllegalArgument) on
    * payloads whose header parses but whose body is malformed, and one bad
    * blob must not kill the task. */
  private[multimodal] def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case scala.util.control.NonFatal(_) => None }

  private[graft] def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Pixel features: mean luminance per `dim` vertical strips — a real
    * (if simple) visual descriptor, deterministic across partitionings. */
  private[multimodal] def pixelFeatures(img: java.awt.image.BufferedImage,
                                        dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val cnt = new Array[Int](dim)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000f / 255f
        val b = x * dim / img.getWidth
        out(b) += lum
        cnt(b) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < dim) { if (cnt(i) > 0) out(i) /= cnt(i); i += 1 }
    out
  }

  /** Audio SPI providers, resolved ONCE per JVM. `AudioSystem.write` /
    * `AudioSystem.getAudioInputStream` re-run the ServiceLoader provider
    * scan (JDK13Services.getProviders → jar-entry lookups under a class-
    * loader lock) on EVERY call — the round-14 thread-dump finding: 92/97
    * busy executor samples of the isolated q_audio_neardup bench sat in
    * JSSecurityManager.getProviders, and the scan-fanout parallelization
    * made it WORSE (32 threads contending on the loader lock, 1.6 → 4.0 s).
    * The spi.AudioFileReader/Writer interfaces are public API; resolving
    * the provider list once and probing it directly is exactly what
    * AudioSystem does per call, so the emitted/decoded bytes are
    * bit-identical. */
  private lazy val audioReaders: List[javax.sound.sampled.spi.AudioFileReader] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileReader]
    while (it.hasNext) b += it.next()
    // Probe MIDI-backed readers LAST: SoftMidiAudioFileReader REJECTS a
    // non-MIDI stream by calling MidiSystem.getSequence — which re-runs
    // the MIDI provider ServiceLoader scan per call (the second half of
    // the round-14 jstack finding; 61/64 busy samples after the writer
    // fix sat there). Readers are mutually exclusive by container magic
    // (a WAV stream is Unsupported to every non-WAV reader), so probe
    // order cannot change which reader accepts — only how much rejection
    // work precedes it.
    //
    // THREAD-SAFETY ASSUMPTION (round-14 advice): these single provider
    // instances are shared across all executor threads, where AudioSystem
    // instantiates per call. The JDK-shipped readers/writers are stateless
    // (their parse/write state is method-local), so sharing is safe; a
    // third-party javax.sound SPI on the classpath is NOT guaranteed
    // re-entrant and would need per-call instantiation here.
    val (midi, rest) = b.result().partition(_.getClass.getName.contains("Midi"))
    rest ++ midi
  }

  private lazy val audioWriters: List[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    val b = List.newBuilder[javax.sound.sampled.spi.AudioFileWriter]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** `AudioSystem.getAudioInputStream(stream)` without the per-call
    * provider re-scan: first provider that parses wins — the same
    * first-match rule AudioSystem applies. */
  private def openAudioStream(in: java.io.InputStream): javax.sound.sampled.AudioInputStream = {
    val it = audioReaders.iterator
    while (it.hasNext) {
      try return it.next().getAudioInputStream(in)
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  /** `AudioSystem.write(ais, type, out)` without the per-call provider
    * re-scan; same first-supporting-provider rule, same bytes. */
  def writeAudio(ais: javax.sound.sampled.AudioInputStream,
                 tpe: javax.sound.sampled.AudioFileFormat.Type,
                 out: java.io.OutputStream): Int = {
    val it = audioWriters.iterator
    while (it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(tpe, ais)) {
        // Mirror AudioSystem.write exactly (round-14 advice): a writer that
        // claims support but rejects the concrete stream falls through to
        // the next provider instead of failing the call.
        try return w.write(ais, tpe, out)
        catch { case _: IllegalArgumentException => () }
      }
    }
    throw new IllegalArgumentException(s"could not write file of type $tpe")
  }

  /** JDK-native audio decode via javax.sound.sampled (WAV/AIFF PCM ship
    * with the JDK): (sample_rate, mono samples in [-1, 1]). Multi-channel
    * audio is downmixed by averaging. None when the payload is absent, a
    * format the JDK can't parse (mp3/flac), or a non-PCM encoding. */
  private[multimodal] def decodeAudio(bytes: Array[Byte]): Option[(Int, Array[Float])] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        val in = openAudioStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val fmt = in.getFormat
          val enc = fmt.getEncoding
          val signed = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          val unsigned = enc == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          // 8/16/24/32-bit integer PCM, either endianness (24-bit is a
          // common studio export — rejecting it would silently hand the
          // caller stub pseudo-features for a perfectly decodable file)
          if ((!signed && !unsigned) || bits < 8 || bits > 32 || bits % 8 != 0 || ch < 1) None
          else {
            val raw = in.readAllBytes()
            val bytesPerSample = bits / 8
            val frameBytes = bytesPerSample * ch
            val nFrames = raw.length / frameBytes
            val half = 1L << (bits - 1)
            val full = 1L << bits
            val out = new Array[Float](nFrames)
            var f = 0
            while (f < nFrames) {
              var acc = 0f
              var c = 0
              while (c < ch) {
                val o = f * frameBytes + c * bytesPerSample
                var u = 0L
                var k = 0
                while (k < bytesPerSample) {
                  val idx = o + (if (fmt.isBigEndian) k else bytesPerSample - 1 - k)
                  u = (u << 8) | (raw(idx) & 0xffL)
                  k += 1
                }
                val sv = if (signed) { if (u >= half) u - full else u } else u - half
                acc += sv.toFloat / half
                c += 1
              }
              out(f) = acc / ch
              f += 1
            }
            Some((fmt.getSampleRate.toInt, out))
          }
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }

  /** Audio features: RMS energy per `dim` time slices — deterministic and
    * partitioning-independent, like [[pixelFeatures]] for images. */
  private[multimodal] def audioFeatures(sampleRate: Int, samples: Array[Float],
                                        dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val cnt = new Array[Int](dim)
    var i = 0
    while (i < samples.length) {
      val b = (i.toLong * dim / samples.length).toInt
      out(b) += samples(i) * samples(i)
      cnt(b) += 1
      i += 1
    }
    var j = 0
    while (j < dim) {
      if (cnt(j) > 0) out(j) = math.sqrt(out(j) / cnt(j)).toFloat
      j += 1
    }
    out
  }

  /** STUB decode for formats the JDK has no codec for (mp3/flac/video) and
    * for undecodable payloads: deterministic pseudo-features from the raw
    * bytes, so the distributed plumbing stays testable without external
    * codec libraries. */
  def decodeStub(bytes: Array[Byte], dim: Int = 8): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) {
      out(i % dim) += (bytes(i) & 0xff) / 255.0f
      i += 1
    }
    out
  }

  /** Feature extraction over a media Dataset: partition-batched map, codec
    * init once per partition. Image rows decode to pixels (ImageIO) and get
    * [[pixelFeatures]]; audio rows decode to PCM (javax.sound) and get
    * [[audioFeatures]]; everything else — and payloads the JDK codecs
    * can't parse — takes [[decodeStub]]. */
  def extractFeatures(media: Dataset[Media], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec init: no disk-backed ImageIO scratch files in
      // executor tasks (close-after-drain would go here for a real codec)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        val bytes = Option(m.bytes).getOrElse(Array.emptyByteArray)
        val feats = m.kind match {
          case "image" => decodeImage(bytes).map(pixelFeatures(_, dim))
            .getOrElse(decodeStub(bytes, dim))
          case "audio" => decodeAudio(bytes)
            .map { case (sr, samples) => audioFeatures(sr, samples, dim) }
            .getOrElse(decodeStub(bytes, dim))
          case _ => decodeStub(bytes, dim)
        }
        MediaFeatures(m.id, m.kind, bytes.length, feats)
      }
    }
  }

  /** Probe image/audio rows for their REAL metadata (ImageIO / javax.sound
    * decode): fills meta.width/height from the pixels and meta.sample_rate
    * from the audio header — the ingest-time metadata pass that lets every
    * later stage filter on dimensions without touching bytes. Other kinds
    * and undecodable payloads pass through unchanged. */
  def probeMedia(media: Dataset[Media]): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { m =>
        m.kind match {
          case "image" => decodeImage(m.bytes).fold(m)(img =>
            m.copy(meta = m.meta.copy(width = Some(img.getWidth),
              height = Some(img.getHeight))))
          case "audio" => decodeAudio(m.bytes).fold(m) { case (sr, _) =>
            m.copy(meta = m.meta.copy(sample_rate = Some(sr)))
          }
          case _ => m
        }
      }
    }
  }

  /** Resize image-kind rows. Decodable payloads are REALLY resampled —
    * bilinear Graphics2D scale to targetW×targetH, re-encoded as PNG — and
    * the metadata struct updated. Payloads ImageIO cannot parse fall back
    * to deterministic byte downsampling (exactly targetW×targetH bytes), so
    * the schema/size contracts hold with or without a decodable image.
    * Non-image rows pass through untouched. */
  def resizeImages(media: Dataset[Media], targetW: Int, targetH: Int): Dataset[Media] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map {
        case m if m.kind == "image" && m.bytes != null && m.bytes.nonEmpty =>
          decodeImage(m.bytes) match {
            case Some(img) =>
              val dst = new java.awt.image.BufferedImage(targetW, targetH,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, targetW, targetH, null)
              g.dispose()
              m.copy(bytes = encodePng(dst),
                meta = m.meta.copy(width = Some(targetW), height = Some(targetH)))
            case None =>
              val n = targetW * targetH
              val out = new Array[Byte](n)
              val step = math.max(1.0, m.bytes.length.toDouble / n)
              var i = 0
              while (i < n) {
                out(i) = m.bytes(math.min(m.bytes.length - 1, (i * step).toInt))
                i += 1
              }
              m.copy(bytes = out,
                meta = m.meta.copy(width = Some(targetW), height = Some(targetH)))
          }
        case m => m
      }
    }
  }

  /** Minimal length-prefixed frame container ("GFV1"): the JDK ships no
    * video codec, so video payloads the pipeline itself produces travel as
    * `'GFV1' | frameCount:int32BE | { frameLen:int32BE | frame bytes }*`
    * where each frame is an independently decodable still (PNG/JPEG via
    * javax.imageio). The container is the honest stub boundary: swap
    * [[decodeVideoFrames]] for a real demuxer (JNI/javacv) and every
    * downstream stage — frame sampling, per-frame hashing, the banded
    * near-dup join — is unchanged, because they only ever see frame bytes. */
  private val VideoMagic = Array[Byte]('G', 'F', 'V', '1')

  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(VideoMagic)
    out.writeInt(frames.length)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  /** Parse a GFV1 container into its frame payloads; None for anything
    * else (absent payload, foreign container, truncated body) — callers
    * fall back to the byte-range stub so one bad blob never kills a task. */
  private[multimodal] def decodeVideoFrames(bytes: Array[Byte]): Option[Array[Array[Byte]]] =
    if (bytes == null || bytes.length < 8 ||
      !java.util.Arrays.equals(bytes.take(4), VideoMagic)) None
    else
      try {
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes, 4, bytes.length - 4))
        val n = in.readInt()
        if (n < 0 || n > (1 << 20)) None
        else {
          val frames = new Array[Array[Byte]](n)
          var i = 0
          while (i < n) {
            val len = in.readInt()
            if (len < 0 || len > bytes.length) return None
            val f = new Array[Byte](len)
            in.readFully(f)
            frames(i) = f
            i += 1
          }
          Some(frames)
        }
      } catch { case scala.util.control.NonFatal(_) => None }

  /** Frame sampling for video-kind rows: GFV1 containers yield n evenly
    * spaced REAL frame payloads (frame j of n reads contained frame
    * `j * count / n` — the production temporal-sampling rule); payloads in
    * any other format keep the deterministic byte-range stub slices, so
    * the distributed plumbing stays testable without an external demuxer. */
  def sampleFrames(media: Dataset[Media], n: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").flatMap { m =>
      val bytes = Option(m.bytes).getOrElse(Array.emptyByteArray)
      if (bytes.isEmpty) Iterator.empty
      else decodeVideoFrames(bytes) match {
        case Some(frames) if frames.nonEmpty =>
          val k = math.min(n, frames.length)
          (0 until k).iterator.map(j =>
            (m.id, j, frames(((j.toLong * frames.length) / k).toInt)))
        case _ =>
          val frameLen = math.max(1, bytes.length / math.max(n, 1))
          (0 until n).iterator
            .map(i => (m.id, i, bytes.slice(i * frameLen,
              math.min(bytes.length, (i + 1) * frameLen))))
            .filter(_._3.nonEmpty)
      }
    }.toDF("id", "frame_idx", "frame_bytes")
  }

  /** Metadata-only projection: never touches the binary column, so the
    * parquet scan prunes `bytes` entirely — the cheap path for filtering a
    * 100 TB media corpus down to the rows worth decoding. */
  def metaOnly(media: DataFrame): DataFrame =
    media.select(col("id"), col("kind"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.sample_rate").as("sample_rate"))

  final case class ImageHash(id: Long, ahash: Long, dhash: Long)

  final case class AudioHash(id: Long, afp: Long)

  /** 64-bit audio fingerprint per decodable audio row: RMS energy over 65
    * equal time slices, bit i = sign of the energy GRADIENT slice i → i+1
    * — [[imageHashes]]' dHash idiom applied in time. Gradient signs are
    * invariant to uniform gain change (scaling every sample scales every
    * slice RMS equally) and to resampling (slices are fractions of the
    * clip, not fixed windows) — the two cheap transforms duplicated audio
    * actually arrives under. Non-audio rows, undecodable payloads
    * (mp3/flac — no JDK codec), and clips shorter than 65 samples are
    * dropped; route those through exact byte dedup. Pure map work. Pairs
    * come from the same Hamming-banded [[nearDupImagePairs]] join (pass
    * hashCol = "afp"). */
  def audioHashes(media: Dataset[Media]): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      if (m.kind != "audio") None
      else decodeAudio(m.bytes).filter(_._2.length >= 65).map {
        case (sr, samples) =>
          val e = audioFeatures(sr, samples, 65)
          var fp = 0L
          var i = 0
          while (i < 64) { if (e(i) < e(i + 1)) fp |= 1L << i; i += 1 }
          AudioHash(m.id, fp)
      }
    }
  }

  /** Bilinear-downscale an image to exactly w × h and return its luminance
    * grid (row-major, [0, 1]) — the shared front half of aHash and dHash. */
  private[multimodal] def luminanceGrid(img: java.awt.image.BufferedImage,
                                        w: Int, h: Int): Array[Float] = {
    val dst = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(img, 0, 0, w, h, null)
    g.dispose()
    val out = new Array[Float](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = dst.getRGB(x, y)
        out(y * w + x) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000f / 255f
        x += 1
      }
      y += 1
    }
    out
  }

  /** 64-bit perceptual hashes per decodable image row: aHash (each cell of
    * an 8×8 luminance downscale vs the grid mean) and dHash (horizontal
    * gradient sign over a 9×8 downscale). Both are invariant to re-encoding
    * and resizing and degrade gracefully under small edits — the standard
    * cheap near-dup signal for an image corpus. Undecodable payloads and
    * non-image rows are dropped (they have no pixels to hash); route those
    * through exact byte dedup instead. Pure map work — scales linearly. */
  /** aHash of one decoded image: each cell of the 8×8 luminance downscale
    * vs the grid mean — shared by the image and per-frame video paths. */
  private[multimodal] def ahashOf(img: java.awt.image.BufferedImage): Long = {
    val a = luminanceGrid(img, 8, 8)
    var mean = 0f
    var i = 0
    while (i < 64) { mean += a(i); i += 1 }
    mean /= 64f
    var ahash = 0L
    i = 0
    while (i < 64) { if (a(i) >= mean) ahash |= 1L << i; i += 1 }
    ahash
  }

  def imageHashes(media: Dataset[Media]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { m =>
        if (m.kind != "image") None
        else decodeImage(m.bytes).map { img =>
          val ahash = ahashOf(img)
          val d = luminanceGrid(img, 9, 8)
          var dhash = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              if (d(y * 9 + x) < d(y * 9 + x + 1)) dhash |= 1L << (y * 8 + x)
              x += 1
            }
            y += 1
          }
          ImageHash(m.id, ahash, dhash)
        }
      }
    }
  }

  final case class VideoFrameHash(id: Long, frame_idx: Int, ahash: Long)

  /** Per-frame perceptual hashes for video-kind rows: [[sampleFrames]]
    * (GFV1 → real frame payloads; anything else → byte-range stub slices)
    * → ImageIO decode per frame → [[ahashOf]]. Frames that don't decode as
    * images (stub slices, corrupt stills) are dropped — they have no
    * pixels to hash; exact byte dedup is their path. Pure map work, one
    * row per (video, sampled frame): scales linearly and never widens
    * beyond n rows per video. */
  def videoHashes(media: Dataset[Media], n: Int): Dataset[VideoFrameHash] = {
    import media.sparkSession.implicits._
    sampleFrames(media, n).as[(Long, Int, Array[Byte])].mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { case (id, f, bytes) =>
        decodeImage(bytes).map(img => VideoFrameHash(id, f, ahashOf(img)))
      }
    }
  }

  /** Video-level near-duplicate pairs from per-frame hashes: the
    * [[nearDupImagePairs]] Hamming banding run PER ALIGNED FRAME INDEX
    * (band keys are (frame_idx, band, slice) — two videos only ever meet
    * on the same temporal sample, so candidate volume is the per-frame
    * image case × n, never n²), then a per-pair rollup: a pair is
    * near-dup when ≥ minFrames sampled frames match within maxHamming.
    * Output: (id_a, id_b, frames_matched, hamming_sum over the matched
    * frames). Same scale shape as the image join — narrow shuffle keys,
    * no all-pairs stage, all codegen'd builtins after the hash map. */
  /** Band-explode per-frame hashes for the pigeonhole Hamming join:
    * (id, frame_idx, h, band, bv) — shared by the batch pair joins and
    * the streaming ingest's corpus probe. */
  private[graft] def frameBands(frameHashes: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7], got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands
    val h = col("ahash")
    val bandStructs = (0 until nBands).map { b =>
      val slice =
        if (b == nBands - 1) shiftright(h, b * width)
        else shiftright(h, b * width).bitwiseAND(lit((1L << width) - 1))
      struct(lit(b).as("band"), slice.as("bv"))
    }
    frameHashes
      .select(col("id"), col("frame_idx"), h.as("h"),
        explode(array(bandStructs: _*)).as("x"))
      .select(col("id"), col("frame_idx"), col("h"),
        col("x.band").as("band"), col("x.bv").as("bv"))
  }

  def nearDupVideoPairs(frameHashes: Dataset[VideoFrameHash],
                        maxHamming: Int = 3, minFrames: Int = 3): DataFrame = {
    val bands = frameBands(frameHashes.toDF(), maxHamming)
    bands.as("a")
      .join(bands.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.frame_idx").as("frame_idx"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // one row per (pair, frame) however many bands agreed
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("frames_matched"),
        sum(col("hamming")).as("hamming_sum"))
      .filter(col("frames_matched") >= minFrames)
  }

  /** Temporal-alignment detection for shifted/clipped video copies: a
    * re-timed copy (intro trimmed, content re-cut) never matches under
    * frame-ALIGNED comparison, but its frames still pair 1:1 at one
    * consistent index offset. The per-frame hashes band-join WITHOUT the
    * frame-index key (candidates are frames agreeing on a hash slice —
    * the image-near-dup candidate volume with frames as items, never
    * frames² within a pair), matched frames within maxHamming vote on
    * their index delta, and each pair reports its best-supported offset
    * (ties → smaller |offset|, then smaller offset). Pairs below
    * minSupport matched frames are dropped. All equi-joins + two narrow
    * aggregates; the corpus is never shuffled wider than the hash-band
    * table. */
  def videoOffsetPairs(frameHashes: Dataset[VideoFrameHash],
                       maxHamming: Int = 3, minSupport: Int = 3): DataFrame = {
    val bands = frameBands(frameHashes.toDF(), maxHamming)
    val votes = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.frame_idx").as("f_a"), col("b.frame_idx").as("f_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // one vote per (pair, frame pair) however many bands agreed
      .groupBy(col("id_a"), col("id_b"),
        (col("f_b").cast("long") - col("f_a").cast("long")).as("offset"))
      .agg(count(lit(1)).as("support"))
    votes
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(struct((-col("support")).as("ns"), abs(col("offset")).as("ao"),
        col("offset").as("off"))).as("best"))
      .select(col("id_a"), col("id_b"), col("best.off").as("best_offset"),
        (-col("best.ns")).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Near-duplicate pairs (id_a < id_b, hamming ≤ maxHamming) by
    * Hamming-banded self-join over ANY 64-bit hash column — image
    * aHash/dHash or the [[audioHashes]] fingerprint alike; only the
    * hash's semantics are image-specific, not this join. The
    * hash splits into `maxHamming + 1` bit-slices, and by pigeonhole any
    * pair within the radius agrees EXACTLY on at least one slice — so an
    * equi-join on (band, slice-value) finds every true pair (recall 1,
    * unlike probabilistic LSH) and the `bit_count(xor)` rerank drops false
    * candidates. Same shape as the text MinHash banding (Dedup.bandPairs):
    * shuffle keys are narrow (band, 64/b bits), never all-pairs, and the
    * whole plan is codegen'd builtins — no UDF. Radius ≤ 7 keeps slices
    * ≥ 8 bits; beyond that band buckets degenerate (a 4-bit slice has 16
    * values) and candidate volume approaches quadratic. */
  def nearDupImagePairs(hashes: DataFrame, hashCol: String = "dhash",
                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7], got $maxHamming")
    val nBands = maxHamming + 1
    val width = 64 / nBands // ≥ 8 bits per slice for radius ≤ 7
    val h = col(hashCol)
    val bandStructs = (0 until nBands).map { b =>
      val slice =
        if (b == nBands - 1) shiftright(h, b * width) // top slice keeps the remainder bits
        else shiftright(h, b * width).bitwiseAND(lit((1L << width) - 1))
      struct(lit(b).as("band"), slice.as("bv"))
    }
    val bands = hashes
      .select(col("id"), h.as("h"), explode(array(bandStructs: _*)).as("x"))
      .select(col("id"), col("h"), col("x.band").as("band"), col("x.bv").as("bv"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.id") < col("b.id"))
      .filter(bit_count(col("a.h").bitwiseXOR(col("b.h"))) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).as("hamming"))
      .distinct()
  }
}
