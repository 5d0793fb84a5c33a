package graft.ext

import java.io.ByteArrayInputStream
import javax.sound.sampled.{AudioFormat, AudioSystem}

/** RIFF/WAVE PCM-16 audio. [[decode]] reads through the JDK's
  * `javax.sound.sampled.AudioSystem`, which skips unknown chunks
  * (LIST/INFO etc.), and accepts only signed 16-bit little-endian PCM
  * with a complete data chunk, any rate or channel count; anything else
  * (float, 8/24-bit, A-law, truncated data) returns None and degrades
  * to the opaque path. [[encode]] writes the canonical 44-byte header.
  */
object Wav {

  /** Decoded clip: interleaved frames, `samples.length` a multiple of
    * `channels`.
    */
  final case class Audio(sampleRate: Int, channels: Int, samples: Array[Short]) {
    require(sampleRate > 0 && channels > 0, "bad wav geometry")
    require(samples.length % channels == 0, "ragged final frame")
    def frames: Int = samples.length / channels
  }

  /** Canonical 44-byte-header PCM-16 encoding. */
  def encode(a: Audio): Array[Byte] = {
    val dataLen = a.samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(a.channels.toShort)
      .putInt(a.sampleRate)
      .putInt(a.sampleRate * a.channels * 2) // byte rate
      .putShort((a.channels * 2).toShort)    // block align
      .putShort(16)                          // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    a.samples.foreach(out.putShort)
    out.array()
  }

  /** Parse a RIFF/WAVE payload; None unless it is well-formed PCM-16
    * with a complete data chunk.
    */
  def decode(bytes: Array[Byte]): Option[Audio] =
    // RIFF/WAVE magic first: AudioSystem would also try its other
    // readers on the bytes, MIDI synthesis among them
    if (!new String(bytes.take(12), "ISO-8859-1").matches("(?s)RIFF.{4}WAVE")) None
    else try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        // AudioSystem accepts a float tag as PCM_FLOAT, and hands back a
        // short data chunk without an error: check both here
        val data = in.readAllBytes()
        if (f.getEncoding != AudioFormat.Encoding.PCM_SIGNED ||
            f.getSampleSizeInBits != 16 || f.isBigEndian ||
            data.length.toLong != in.getFrameLength * f.getFrameSize) None
        else {
          val s = java.nio.ByteBuffer.wrap(data)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          Some(Audio(f.getSampleRate.toInt, f.getChannels, Array.fill(s.remaining)(s.get)))
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Clip length in microseconds (exact integer arithmetic). */
  def durationMicros(a: Audio): Long =
    a.frames.toLong * 1000000L / a.sampleRate

  /** RMS level in milli-units of full scale (0 = silence, 1000 =
    * constant ±32768) — an integer so downstream comparisons are
    * exact.
    */
  def rmsMilli(a: Audio): Long = {
    if (a.samples.isEmpty) return 0L
    var sum = 0.0
    a.samples.foreach(s => sum += s.toDouble * s.toDouble)
    math.round(1000.0 * math.sqrt(sum / a.samples.length) / 32768.0)
  }

  /** Peak absolute sample value. */
  def peak(a: Audio): Int =
    if (a.samples.isEmpty) 0
    else a.samples.iterator.map(s => math.abs(s.toInt)).max

  /** Keep every `factor`-th FRAME (all channels of it) — the
    * nearest-neighbor resample of audio; sample rate drops by the
    * same factor so duration is preserved to rounding.
    */
  def downsample(a: Audio, factor: Int): Audio = {
    require(factor > 0)
    val ch = a.channels
    val out = Array.tabulate((a.frames + factor - 1) / factor * ch)(i =>
      a.samples((i / ch) * factor * ch + i % ch))
    Audio(math.max(1, a.sampleRate / factor), ch, out)
  }
}
