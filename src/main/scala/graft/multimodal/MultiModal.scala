package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: media as opaque `BinaryType` content plus
  * typed metadata, with decode / feature-extraction / frame-sampling
  * stages shaped for 100 TB (per-partition batch processing, no driver
  * round trips, schema known up front).
  *
  * ALL THREE media kinds decode for REAL with pure-JDK codecs:
  * `decodeImage` parses PNG/JPEG/BMP/GIF bytes with `javax.imageio`,
  * `resizeImage` decodes → `Graphics2D` rescale → PNG re-encode,
  * `decodeWav` parses WAV/PCM containers via `javax.sound.sampled`,
  * and `decodeVideoFrames` extracts every frame of a multi-frame
  * (animated GIF) container — the genuine frame-indexed decode loop a
  * production video pipeline runs, minus only the inter-frame
  * compression an MP4 codec would add (that needs JNI/FFI bindings or
  * a vectorized Python worker; same `mapPartitions` batch shape
  * either way). `decodeStub` survives only as the fallback for
  * UNDECODABLE bytes — corrupt media is data at corpus scale, not an
  * exception.
  */
object MultiModal {

  /** Decoded raster properties: verified dims + per-channel means. */
  case class DecodedImage(width: Int, height: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Decoded PCM properties: verified rate / length / sample stats. */
  case class DecodedAudio(sample_rate: Int, n_samples: Long,
      mean_sample: Double, peak_sample: Int)

  /** One image-bearing row: the opaque multimodal column + its id. */
  case class ImageAsset(doc_id: Long, content: Array[Byte])

  /** `decodeImages` output row (means exact for solid-color fixtures). */
  case class ImageDecoded(doc_id: Long, width: Long, height: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** PER-THREAD cached ImageIO readers/writers. Acquiring a codec via
    * `ImageIO.read/write/getImageReaders` consults the JVM-wide
    * IIORegistry on EVERY call — a synchronized service lookup that
    * serializes parallel decode stages exactly like the AudioSystem
    * registry did for WAV (r13 100x probe: the 16-thread PNG decode ran
    * at ~1.2x single-thread speed). An ImageReader/ImageWriter instance
    * is NOT thread-safe but is perfectly reusable, so each worker
    * thread looks its codec up ONCE and reuses it per record; the
    * stream wrappers are constructed directly (MemoryCacheImage*Stream)
    * rather than via the registry-scanning factory. On any decode
    * failure the instance is disposed and evicted — a fresh one is
    * fetched next call, so a reader wedged by corrupt input cannot
    * poison the thread. */
  private val threadReaders = ThreadLocal.withInitial(
    () => new java.util.HashMap[String, javax.imageio.ImageReader]())
  private val threadWriters = ThreadLocal.withInitial(
    () => new java.util.HashMap[String, javax.imageio.ImageWriter]())

  private def cachedReader(fmt: String): javax.imageio.ImageReader = {
    val m = threadReaders.get()
    var r = m.get(fmt)
    if (r == null) {
      r = javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next()
      m.put(fmt, r)
    }
    r
  }

  private def evictReader(fmt: String): Unit = {
    val m = threadReaders.get()
    val r = m.remove(fmt)
    if (r != null) {
      try r.dispose()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def cachedWriter(fmt: String): javax.imageio.ImageWriter = {
    val m = threadWriters.get()
    var w = m.get(fmt)
    if (w == null) {
      w = javax.imageio.ImageIO.getImageWritersByFormatName(fmt).next()
      m.put(fmt, w)
    }
    w
  }

  private def evictWriter(fmt: String): Unit = {
    val m = threadWriters.get()
    val w = m.remove(fmt)
    if (w != null) {
      try w.dispose()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Container sniff by magic bytes — the formats the corpus carries.
    * Unknown magic falls back to the registry scan (correct for exotic
    * formats, cold-path only). */
  private def sniffFormat(content: Array[Byte]): Option[String] =
    if (content.length >= 8 && content(0) == 0x89.toByte &&
      content(1) == 'P'.toByte && content(2) == 'N'.toByte &&
      content(3) == 'G'.toByte) Some("png")
    else if (content.length >= 4 && content(0) == 'G'.toByte &&
      content(1) == 'I'.toByte && content(2) == 'F'.toByte &&
      content(3) == '8'.toByte) Some("gif")
    else if (content.length >= 2 && content(0) == 0xff.toByte &&
      content(1) == 0xd8.toByte) Some("jpeg")
    else None

  /** Lock-free-path image read: cached per-thread reader for sniffed
    * formats, registry fallback otherwise; null on any failure (the
    * callers' existing corrupt-input contract). */
  private def readImageCached(content: Array[Byte])
      : java.awt.image.BufferedImage =
    sniffFormat(content) match {
      case Some(fmt) =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val r = cachedReader(fmt)
          try { r.setInput(iis, true, true); r.read(0) }
          catch {
            case scala.util.control.NonFatal(_) => evictReader(fmt); null
          } finally {
            try r.setInput(null)
            catch { case scala.util.control.NonFatal(_) => evictReader(fmt) }
          }
        } finally iis.close()
      case None =>
        try javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(content))
        catch { case scala.util.control.NonFatal(_) => null }
    }

  /** Lock-free-path PNG encode via the per-thread cached writer. */
  private def writePngCached(img: java.awt.image.BufferedImage)
      : Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    val w = cachedWriter("png")
    try { w.setOutput(ios); w.write(img) }
    catch {
      case e@scala.util.control.NonFatal(_) => evictWriter("png"); throw e
    } finally {
      try w.setOutput(null)
      catch { case scala.util.control.NonFatal(_) => evictWriter("png") }
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL image decode via javax.imageio: parses the container format,
    * decodes pixels, returns verified dimensions and per-channel means.
    * None when the bytes are not a supported image — callers fall back
    * to the stub (audio/video) or drop the row (corrupt input at scale
    * is data, not an exception). */
  def decodeImage(content: Array[Byte]): Option[DecodedImage] = {
    // ImageIO returns null for unrecognized bytes but THROWS for
    // recognized-but-corrupt containers — and not only IOException: the
    // JDK readers surface CMMException (corrupt ICC profile),
    // IndexOutOfBounds (truncated GIF), IllegalArgument... All of it is
    // data at corpus scale, so every non-fatal failure maps to None.
    val img =
      try readImageCached(content)
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) None
    else {
      val (w, h) = (img.getWidth, img.getHeight)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      Some(DecodedImage(w, h, sr.toDouble / n, sg.toDouble / n,
        sb.toDouble / n))
    }
  }

  /** REAL audio decode via javax.sound.sampled: parses the WAV/AIFF
    * container, streams the PCM frames, returns verified rate, length
    * and sample statistics. Handles 16-bit signed mono (the fixture
    * format and the overwhelmingly common corpus shape); anything the
    * JDK stack cannot parse maps to None — corrupt media at corpus
    * scale is filtered data, not an exception. */
  def decodeWav(content: Array[Byte]): Option[DecodedAudio] = {
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (in == null) None
    else try {
      val fmt = in.getFormat
      val ok = fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
        !fmt.isBigEndian // WAV PCM is little-endian by spec
      if (!ok) None
      else {
        val bytes = in.readAllBytes()
        val n = bytes.length / 2
        var i = 0
        var sum = 0L
        var peak = 0
        while (i < n) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt
          val s = (hi << 8) | lo
          sum += s
          val a = math.abs(s)
          if (a > peak) peak = a
          i += 1
        }
        Some(DecodedAudio(fmt.getSampleRate.toInt, n.toLong,
          if (n == 0) 0.0 else sum.toDouble / n, peak))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    finally in.close()
  }

  /** LOCK-FREE direct RIFF/WAV parser for the hot decode path. The
    * javax.sound route ([[decodeWav]]) goes through AudioSystem's
    * provider registry, which takes a JVM-GLOBAL lock per call — the
    * r13 100x probe measured the 16-thread decode stage running at
    * single-thread speed (126 s parallel vs 99 s on one core; ~1.3x
    * "speedup" on 16 cores). A 100 TB decode pipeline cannot take a
    * process-wide lock per record, so the per-record path parses the
    * container directly: RIFF/WAVE signature, fmt chunk (must be PCM
    * s16le mono — the same acceptance set decodeWav enforces), data
    * chunk walked with chunk-size padding. `MultiModalSpec` pins this
    * parser against the JDK stack in BOTH directions (it must decode
    * JDK-written containers identically, and the JDK stack must decode
    * [[encodeWavDirect]] output identically), so the fast path cannot
    * drift from the real format. */
  def decodeWavDirect(content: Array[Byte]): Option[DecodedAudio] =
    // corrupt-input → None is a CONTRACT (the javax.sound twin honors
    // it); the chunk walk below validates bounds, but a crafted
    // container must degrade to None, never escape as an uncaught
    // throw that fails the whole job from a hot-path task
    try decodeWavDirectImpl(content)
    catch { case scala.util.control.NonFatal(_) => None }

  private def decodeWavDirectImpl(content: Array[Byte]): Option[DecodedAudio] = {
    def le32(o: Int): Int =
      (content(o) & 0xff) | ((content(o + 1) & 0xff) << 8) |
        ((content(o + 2) & 0xff) << 16) | ((content(o + 3) & 0xff) << 24)
    def le16(o: Int): Int =
      (content(o) & 0xff) | ((content(o + 1) & 0xff) << 8)
    def tag(o: Int): String =
      new String(content, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (content.length < 44 || tag(0) != "RIFF" || tag(8) != "WAVE")
      return None
    var off = 12
    var rate = -1
    var fmtOk = false
    var dataOff = -1
    var dataLen = -1
    while (off + 8 <= content.length && (dataOff < 0 || !fmtOk)) {
      val id = tag(off)
      val sz = le32(off + 4)
      // Long arithmetic: sz near 2^31 would wrap `off + 8 + sz`
      // negative and bypass the bound, then index out of range below
      if (sz < 0 || off.toLong + 8L + sz.toLong > content.length) return None
      if (id == "fmt " && sz >= 16) {
        fmtOk = le16(off + 8) == 1 &&     // PCM
          le16(off + 10) == 1 &&          // mono
          le16(off + 22) == 16            // 16-bit
        rate = le32(off + 12)
      } else if (id == "data") {
        dataOff = off + 8
        dataLen = sz
      }
      off += 8 + sz + (sz & 1)            // RIFF pads odd chunks
    }
    if (!fmtOk || dataOff < 0 || rate <= 0) return None
    val n = dataLen / 2
    var i = 0
    var sum = 0L
    var peak = 0
    while (i < n) {
      val lo = content(dataOff + 2 * i) & 0xff
      val hi = content(dataOff + 2 * i + 1).toInt
      val sample = (hi << 8) | lo
      sum += sample
      val a = math.abs(sample)
      if (a > peak) peak = a
      i += 1
    }
    Some(DecodedAudio(rate, n.toLong,
      if (n == 0) 0.0 else sum.toDouble / n, peak))
  }

  /** Lock-free canonical 44-byte-header WAV writer (PCM s16le mono) —
    * the synthesis twin of [[decodeWavDirect]], used on the hot fixture
    * path for the same reason (AudioSystem.write walks the same locked
    * provider registry). Cross-validated against the JDK reader in
    * `MultiModalSpec`. */
  def encodeWavDirect(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def put32(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
      out(o + 2) = ((v >> 16) & 0xff).toByte
      out(o + 3) = ((v >> 24) & 0xff).toByte
    }
    def put16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xff).toByte; out(o + 1) = ((v >> 8) & 0xff).toByte
    }
    def putTag(o: Int, t: String): Unit = {
      var i = 0
      while (i < 4) { out(o + i) = t.charAt(i).toByte; i += 1 }
    }
    putTag(0, "RIFF"); put32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); put32(16, 16)
    put16(20, 1); put16(22, 1)            // PCM, mono
    put32(24, sampleRate); put32(28, sampleRate * 2)
    put16(32, 2); put16(34, 16)           // block align, bits
    putTag(36, "data"); put32(40, dataLen)
    var i = 0
    while (i < samples.length) {
      out(44 + 2 * i) = (samples(i) & 0xff).toByte
      out(44 + 2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Encode a solid-color PNG (test/fixture input for the real decoder:
    * a genuine PNG container the ImageIO reader must parse). */
  def encodePng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    writePngCached(img)
  }

  /** Deterministic PNG ingest: one real PNG per id, whose dimensions and
    * solid fill color are pure functions of the id — which is exactly
    * what makes the decode stage oracle-checkable (the oracle predicts
    * the decoded metadata from the same formulas). */
  def syntheticPngAssets(ids: Dataset[Long])(
      implicit spark: SparkSession): Dataset[ImageAsset] = {
    import spark.implicits._
    // Repartition the skinny id stream to the session's parallelism
    // BEFORE the per-record codec work: the ids come off a parquet scan
    // whose partition count is row-group/byte-sized (the r13 100x probe
    // measured the decode stage running on 2-4 of 16 cores because the
    // grown documents file still splits into a handful of partitions).
    // A CPU-bound stage wants cores-many partitions; the shuffle moves
    // 8 bytes per row, nothing against the codec cost it unlocks.
    ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
      it.map { d =>
        val w = (8 + d % 13).toInt
        val h = (8 + d % 7).toInt
        val rgb = (((d % 256) << 16) | (((d * 7) % 256) << 8) |
          ((d * 13) % 256)).toInt
        ImageAsset(d, encodePng(w, h, rgb))
      }
    }
  }

  /** One on-disk PNG landing directory per sfDir per JVM: the
    * synthetic per-doc PNGs (one per `documents.doc_id` of that sfDir —
    * derived HERE, so the cache key fully determines the contents)
    * written as individual `doc_<id>.png` FILES (executor-side,
    * foreachPartition — no driver collect), so the `binaryFile` SOURCE
    * can ingest them like a real media crawl landing. Single-node this
    * is the local FS; at 100 TB the same layout sits on object storage
    * and the path-injectable read is unchanged. Dirs are removed at
    * JVM exit. ENFORCED local-only (not just documented): executors
    * write through java.nio into a driver-created temp dir, which is
    * only the same filesystem when executors share the driver's — on a
    * cluster the binaryFile scan would silently see an empty dir, so a
    * non-local master fails fast with the object-storage pointer. */
  def pngLandingDir(spark: SparkSession, sfDir: String): String = {
    require(spark.sparkContext.isLocal,
      "pngLandingDir builds its synthetic landing dir on the driver's " +
        "local filesystem (executor-side java.nio writes) — local " +
        "masters only; on a cluster, land media files on shared/object " +
        "storage and point the binaryFile read at that path instead")
    pngLandings.computeIfAbsent(
      java.nio.file.Paths.get(sfDir).toAbsolutePath.toString, { _ =>
        val d = java.nio.file.Files.createTempDirectory("graft_media_landing")
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          try java.nio.file.Files.walk(d)
            .sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          catch { case scala.util.control.NonFatal(_) => () }
        }))
        val ids = {
          import spark.implicits._
          graft.sources.Readers.table(spark, sfDir, "documents")
            .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        }
        val assets = syntheticPngAssets(ids)(spark)
        val dir = d.toString
        assets.foreachPartition { (it: Iterator[ImageAsset]) =>
          it.foreach { a =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(dir, f"doc_${a.doc_id}%09d.png"),
              a.content)
          }
        }
        dir
      })
  }
  private val pngLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** REAL decode stage: per-partition batch map over binary image
    * content — same shape as `extractFeatures`, but the decoder is
    * javax.imageio, not a stub. Undecodable rows are dropped (at corpus
    * scale corrupt media is filtered, not thrown). */
  def decodeImages(assets: Dataset[ImageAsset])(
      implicit spark: SparkSession): Dataset[ImageDecoded] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { a =>
        decodeImage(a.content).map(d =>
          ImageDecoded(a.doc_id, d.width.toLong, d.height.toLong,
            d.mean_r, d.mean_g, d.mean_b))
      }
    }
  }

  /** One audio-bearing row: the opaque multimodal column + its id. */
  case class AudioAsset(doc_id: Long, content: Array[Byte])

  /** `decodeAudio` output row (stats exact for constant-tone fixtures). */
  case class AudioDecoded(doc_id: Long, sample_rate: Long, n_samples: Long,
      mean_sample: Double, peak_sample: Long)

  /** Deterministic WAV ingest: one real RIFF/WAV container per id whose
    * sample rate, length and constant amplitude are pure functions of
    * the id — which is exactly what makes the decode stage
    * oracle-checkable (the oracle predicts the decoded stats from the
    * same formulas). */
  def syntheticWavAssets(ids: Dataset[Long])(
      implicit spark: SparkSession): Dataset[AudioAsset] = {
    import spark.implicits._
    // cores-many partitions before per-record codec work (see
    // syntheticPngAssets)
    ids.repartition(spark.sparkContext.defaultParallelism).map { d =>
      val rate = (8000 + (d % 4) * 4000).toInt
      val n = (64 + d % 97).toInt
      val amp = ((d % 2001) - 1000).toShort
      AudioAsset(d, encodeWavDirect(rate, Array.fill(n)(amp)))
    }
  }

  /** REAL audio decode stage: per-partition batch map over binary WAV
    * content — same shape as `decodeImages`, decoder is the JDK
    * javax.sound.sampled stack. Undecodable rows are dropped. */
  def decodeAudio(assets: Dataset[AudioAsset])(
      implicit spark: SparkSession): Dataset[AudioDecoded] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        decodeWavDirect(a.content).map(d =>
          AudioDecoded(a.doc_id, d.sample_rate.toLong, d.n_samples,
            d.mean_sample, d.peak_sample.toLong))
      }
    }
  }

  /** Encode an animated GIF (one solid-color frame per entry): a real
    * multi-frame media container the frame-decode loop must walk. */
  def encodeGif(width: Int, height: Int, frameColors: Seq[Int]): Array[Byte] = {
    def solid(rgb: Int) = {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    // per-thread cached writer: the registry lookup serializes threads
    // (see the threadReaders scaladoc); the sequence state is closed by
    // endWriteSequence and the output detached after every call, so
    // reuse is clean - any failure evicts the instance instead
    val writer = cachedWriter("gif")
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frameColors.foreach { rgb =>
        writer.writeToSequence(
          new javax.imageio.IIOImage(solid(rgb), null, null), null)
      }
      writer.endWriteSequence()
    } catch {
      case e@scala.util.control.NonFatal(_) => evictWriter("gif"); throw e
    } finally {
      try writer.setOutput(null)
      catch { case scala.util.control.NonFatal(_) => evictWriter("gif") }
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL video-frame decode: walks every frame of a multi-frame
    * container (animated GIF — the one pure-JDK multi-frame codec)
    * and returns per-frame verified dims + channel means, in frame
    * order. Empty for undecodable bytes. */
  def decodeVideoFrames(content: Array[Byte]): Seq[DecodedImage] = {
    // cached per-thread reader for the sniffed container (the registry
    // scan serializes threads - see the threadReaders scaladoc);
    // unknown magic takes the registry path below, cold only
    sniffFormat(content) match {
      case Some(fmt) =>
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(content))
        try {
          val r = cachedReader(fmt)
          try {
            r.setInput(iis)
            val n = r.getNumImages(true)
            (0 until n).flatMap { i =>
              val img = r.read(i)
              val (w, h) = (img.getWidth, img.getHeight)
              var (sr, sg, sb) = (0L, 0L, 0L)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
                  sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
              val np = w.toLong * h
              Some(DecodedImage(w, h, sr.toDouble / np, sg.toDouble / np,
                sb.toDouble / np))
            }
          } catch {
            case scala.util.control.NonFatal(_) => evictReader(fmt); Nil
          } finally {
            try r.setInput(null)
            catch { case scala.util.control.NonFatal(_) => evictReader(fmt) }
          }
        } finally iis.close()
      case None => decodeVideoFramesRegistry(content)
    }
  }

  /** Registry-path frame decode for containers the sniff does not
    * know — correctness fallback, not the hot path. */
  private def decodeVideoFramesRegistry(content: Array[Byte])
      : Seq[DecodedImage] = {
    val iis =
      try javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      catch { case scala.util.control.NonFatal(_) => null }
    if (iis == null) Nil
    else try { // iis closed on EVERY path, including reader-acquisition throws
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) Nil
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val n = r.getNumImages(true)
          (0 until n).flatMap { i =>
            val img = r.read(i)
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff
                sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            val np = w.toLong * h
            Some(DecodedImage(w, h, sr.toDouble / np, sg.toDouble / np,
              sb.toDouble / np))
          }
        } finally r.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => Nil }
    finally {
      // close() itself may throw (it flushes); the 'undecodable bytes
      // yield Nil' contract must hold on that path too
      try iis.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** One video-bearing row: the opaque multimodal column + its id. */
  case class VideoAsset(doc_id: Long, content: Array[Byte])

  /** One sampled frame of a decoded video asset. */
  case class SampledFrame(doc_id: Long, frame_idx: Long, n_frames: Long,
      width: Long, height: Long,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Deterministic animated-GIF ingest: one real multi-frame container
    * per id, whose frame count, dims and per-frame solid colors are
    * pure functions of the id — what makes the frame-decode stage
    * oracle-checkable. */
  def syntheticGifAssets(ids: Dataset[Long])(
      implicit spark: SparkSession): Dataset[VideoAsset] = {
    import spark.implicits._
    // cores-many partitions before per-record codec work (see
    // syntheticPngAssets)
    ids.repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { d =>
        val w = (8 + d % 11).toInt
        val h = (8 + d % 6).toInt
        val n = (2 + d % 5).toInt
        val colors = (0 until n).map { i =>
          ((((d + 17 * i) % 256) << 16) | (((d * 7 + 29 * i) % 256) << 8) |
            ((d * 13 + 23 * i) % 256)).toInt
        }
        VideoAsset(d, encodeGif(w, h, colors))
      }
    }
  }

  /** REAL frame-sampling stage: per-partition batch map that decodes
    * each video container, walks its frames, and emits every
    * `stride`-th frame as a row (the keyframe-sampling shape of a
    * training-data video pipeline). Undecodable rows are dropped. */
  def sampleVideoFrames(assets: Dataset[VideoAsset], stride: Int)(
      implicit spark: SparkSession): Dataset[SampledFrame] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { a =>
        val frames = decodeVideoFrames(a.content)
        frames.zipWithIndex.collect {
          case (f, i) if i % stride == 0 =>
            SampledFrame(a.doc_id, i.toLong, frames.length.toLong,
              f.width.toLong, f.height.toLong, f.mean_r, f.mean_g, f.mean_b)
        }
      }
    }
  }

  /** One media asset: content opaque, metadata typed. */
  case class MediaAsset(
      asset_id: Long,
      kind: String,            // "image" | "audio" | "video"
      content: Array[Byte],
      meta_width: Int,         // declared metadata (may disagree w/ bytes)
      meta_height: Int,
      meta_sample_rate: Int)

  /** Decoder output: fixed-length feature vector + verified properties. */
  case class AssetFeatures(
      asset_id: Long,
      kind: String,
      n_bytes: Long,
      digest: Long,
      feature: Array[Float])

  val FeatureDim = 8

  /** Deterministic FALLBACK pseudo-decoder, used only for UNDECODABLE
    * bytes of any kind — every media kind has a real pure-JDK decode
    * path above (`decodeImage`, `decodeWav`, `decodeVideoFrames`).
    * Corrupt media at corpus scale is data, not an exception: the
    * fallback keeps the row flowing with a stable byte-derived
    * pseudo-feature instead of dropping or throwing mid-batch. */
  def decodeStub(content: Array[Byte]): Array[Float] = {
    var h = 1125899906842597L // fixed seed; per-asset determinism only
    content.foreach { b => h = h * 31 + b }
    val out = new Array[Float](FeatureDim)
    var i = 0
    var s = h
    while (i < FeatureDim) {
      s = s * 6364136223846793005L + 1442695040888963407L
      out(i) = ((s >>> 40).toInt % 1000) / 1000.0f
      i += 1
    }
    out
  }

  private def fnv(content: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    content.foreach { b => h = (h ^ (b & 0xffL)) * 0x100000001b3L }
    h
  }

  /** Feature extraction as a per-partition batch map — the Scala analog
    * of `mapInPandas`: one iterator in, one iterator out, executor-local,
    * no shuffle, preserves partitioning. Image payloads get the REAL
    * javax.imageio decode (verified dims + channel means as the leading
    * feature components), audio payloads the REAL javax.sound.sampled
    * WAV decode (rate / length / sample stats); video and undecodable
    * bytes fall back to the labeled stub. Per-partition init (codec
    * cache config here; model weights in production) is amortized
    * across the batch. */
  def extractFeatures(assets: Dataset[MediaAsset])(
      implicit spark: SparkSession): Dataset[AssetFeatures] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val feature = a.kind match {
          case "image" => decodeImage(a.content) match {
            case Some(d) => Array(d.width.toFloat, d.height.toFloat,
              d.mean_r.toFloat, d.mean_g.toFloat, d.mean_b.toFloat,
              0f, 0f, 0f)
            case None => decodeStub(a.content)
          }
          case "audio" => decodeWavDirect(a.content) match {
            case Some(d) => Array(d.sample_rate.toFloat,
              d.n_samples.toFloat, d.mean_sample.toFloat,
              d.peak_sample.toFloat, 0f, 0f, 0f, 0f)
            case None => decodeStub(a.content)
          }
          case "video" => decodeVideoFrames(a.content) match {
            case fs if fs.nonEmpty =>
              val f0 = fs.head
              Array(f0.width.toFloat, f0.height.toFloat,
                fs.length.toFloat, f0.mean_r.toFloat, f0.mean_g.toFloat,
                f0.mean_b.toFloat, 0f, 0f)
            case _ => decodeStub(a.content)
          }
          case _ => decodeStub(a.content)
        }
        AssetFeatures(a.asset_id, a.kind, a.content.length.toLong,
          fnv(a.content), feature)
      }
    }
  }

  /** REAL image resize: javax.imageio decode → `Graphics2D` bilinear
    * rescale into a fresh RGB raster → PNG re-encode. None when the
    * bytes are not a decodable image (pass-through/drop is the caller's
    * call — resizing non-image media is meaningless). Pure per-row:
    * binary in, binary out, no shared state. */
  def resizeImage(content: Array[Byte], targetW: Int,
      targetH: Int): Option[Array[Byte]] = {
    val src =
      try readImageCached(content)
      catch { case scala.util.control.NonFatal(_) => null }
    if (src == null) None
    else {
      val dst = new java.awt.image.BufferedImage(targetW, targetH,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(
          java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, targetW, targetH, null)
      } finally g.dispose()
      Some(writePngCached(dst))
    }
  }

  /** Resize stage: per-partition batch map; image payloads get the REAL
    * decode→scale→re-encode with metadata rewritten to the target dims,
    * non-image and undecodable payloads pass through untouched. The
    * kind gate matters: ImageIO would happily decode frame 0 of a
    * VIDEO (animated GIF) payload and flatten it to a one-frame PNG —
    * silent data destruction, not a resize. */
  def resize(assets: Dataset[MediaAsset], targetW: Int, targetH: Int)(
      implicit spark: SparkSession): Dataset[MediaAsset] = {
    import spark.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        (if (a.kind == "image") resizeImage(a.content, targetW, targetH)
         else None) match {
          case Some(bytes) => a.copy(content = bytes,
            meta_width = targetW, meta_height = targetH)
          case None => a
        }
      }
    }
  }
}
