package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.sound.sampled.{AudioFileFormat, AudioSystem}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AudioOps

/** The real javax.sound decode binding: wav round-trips against the
  * native AudioOps decoder, and a genuinely different container (AU,
  * big-endian, written by the JDK's own encoder) decodes to the same
  * samples — proof the SPI chain is doing format work, not just
  * re-parsing our RIFF bytes. */
class JavaSoundExternalsSpec extends AnyFunSuite {

  private val sr = 8000
  private val samples = Array.tabulate(sr / 2)(i => math.sin(i * 0.02).toFloat * 0.7f)

  test("decodeAudio(wav) matches the native PCM decoder") {
    val wav = AudioOps.encodePcm16Wav(samples, sr)
    val (native, nativeSr) = AudioOps.decodePcm16Wav(wav)
    val (viaSpi, spiSr) = JavaSoundExternals.decodeAudio(wav)
    assert(spiSr == nativeSr)
    assert(viaSpi.sameElements(native))
  }

  test("decodeAudio(au): a non-RIFF container decodes to the same samples") {
    val wav = AudioOps.encodePcm16Wav(samples, sr)
    // Re-encode to AU (big-endian signed PCM) with the JDK encoder
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(wav))
    val au = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.AU, au)
    val (viaAu, auSr) = JavaSoundExternals.decodeAudio(au.toByteArray)
    val (native, _) = AudioOps.decodePcm16Wav(wav)
    assert(auSr == sr)
    assert(viaAu.sameElements(native))
  }

  test("decodeAudio: stereo mixes down to mono by channel average") {
    // hand-build a stereo 16-bit wav: L=16384, R=0 -> mono 0.25
    val frames = 64
    val bb = java.nio.ByteBuffer.allocate(44 + frames * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + frames * 4).put("WAVE".getBytes)
      .put("fmt ".getBytes).putInt(16).putShort(1).putShort(2)
      .putInt(sr).putInt(sr * 4).putShort(4).putShort(16)
      .put("data".getBytes).putInt(frames * 4)
    (0 until frames).foreach { _ => bb.putShort(16384); bb.putShort(0) }
    val (mono, _) = JavaSoundExternals.decodeAudio(bb.array())
    assert(mono.length == frames)
    assert(mono.forall(v => math.abs(v - 0.25f) < 1e-4))
  }
}
