package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixture media and the byte-offset sampler [[MultiModalSpec]] checks
  * [[MultiModal]] with. */
object MediaKit {

  /** Encode 16-bit signed mono PCM samples as a genuine WAV container
    * (fixture input for the real decoder — the RIFF header, format
    * chunk and little-endian frames all come from the JDK writer). */
  def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** BYTE-OFFSET frame sampling for opaque assets whose container is
    * not decoded (e.g. a codec the cluster lacks): every `stride`
    * bytes is a candidate offset. posexplode keeps it declarative —
    * one row per sampled offset, no UDTF. For decodable containers the
    * library has [[MultiModal.sampleVideoFrames]], which walks REAL
    * frames. */
  def sampleFrames(assets: DataFrame, stride: Int): DataFrame =
    assets
      .withColumn("n_frames",
        greatest(lit(1), (length(col("content")) / stride).cast(IntegerType)))
      .select(col("asset_id"), col("kind"),
        posexplode(sequence(lit(0), col("n_frames") - 1))
          .as(Seq("frame_idx", "frame_no")))
      .select(col("asset_id"), col("kind"), col("frame_idx"),
        (col("frame_no") * stride).cast(LongType).as("byte_offset"))

  /** Wrap an arbitrary (id, string) DataFrame as assets, to synthesize
    * binary content without media files. */
  def syntheticAssets(src: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    src.select(
      col(idCol).cast(LongType).as("asset_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio").otherwise("video").as("kind"),
      col(payloadCol).cast(BinaryType).as("content"),
      lit(64).as("meta_width"), lit(64).as("meta_height"),
      lit(16000).as("meta_sample_rate"))
}
