package graft.functions

import java.io.ByteArrayInputStream
import java.net.{URL, URLClassLoader}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import javax.sound.sampled.{AudioFormat, AudioInputStream}
import javax.sound.sampled.spi.FormatConversionProvider

import org.scalatest.funsuite.AnyFunSuite

/** Test-side javax.sound converters, registered through
  * `src/test/resources/META-INF/services`. They only accept the two
  * made-up source encodings below, which no real codec emits, so every
  * other suite's conversions are unaffected. */
object FakeAudio {
  val Torn = "GRAFT_TEST_TORN"
  val Fake = "GRAFT_TEST_FAKE"
  val passCalls = new AtomicInteger()

  def format(encoding: String): AudioFormat =
    new AudioFormat(new AudioFormat.Encoding(encoding), 8000f, 16, 1, 2, 8000f, false)

  def stream(encoding: String, closed: AtomicBoolean = new AtomicBoolean()): AudioInputStream =
    new AudioInputStream(new ByteArrayInputStream(new Array[Byte](64)) {
      override def close(): Unit = closed.set(true)
    }, format(encoding), 32)

  val Pcm = AudioFormat.Encoding.PCM_SIGNED
  def pcm(f: AudioFormat): AudioFormat =
    new AudioFormat(Pcm, f.getSampleRate, 16, f.getChannels, f.getFrameSize, f.getFrameRate, false)
}

/** Converts from `accepts` to PCM_SIGNED via `convert`. */
abstract class FakeConverter(accepts: Set[String]) extends FormatConversionProvider {
  import FakeAudio._
  private def ours(f: AudioFormat) = accepts(f.getEncoding.toString)
  protected def convert(s: AudioInputStream): AudioInputStream
  override def getSourceEncodings: Array[AudioFormat.Encoding] =
    accepts.toArray.map(new AudioFormat.Encoding(_))
  override def getTargetEncodings: Array[AudioFormat.Encoding] = Array(Pcm)
  override def getTargetEncodings(f: AudioFormat): Array[AudioFormat.Encoding] =
    if (ours(f)) Array(Pcm) else Array.empty
  override def getTargetFormats(t: AudioFormat.Encoding, f: AudioFormat): Array[AudioFormat] =
    if (ours(f) && t == Pcm) Array(pcm(f)) else Array.empty
  override def getAudioInputStream(t: AudioFormat.Encoding, s: AudioInputStream): AudioInputStream =
    convert(s)
  override def getAudioInputStream(t: AudioFormat, s: AudioInputStream): AudioInputStream =
    convert(s)
}

/** Listed first: reads part of the stream, then throws. */
class TornConverter extends FakeConverter(Set(FakeAudio.Torn)) {
  override protected def convert(s: AudioInputStream): AudioInputStream = {
    s.read(new Array[Byte](2))
    throw new IllegalStateException("converter failed mid-stream")
  }
}

/** Listed second: converts both made-up encodings and counts its calls. */
class PassConverter extends FakeConverter(Set(FakeAudio.Torn, FakeAudio.Fake)) {
  override protected def convert(s: AudioInputStream): AudioInputStream = {
    FakeAudio.passCalls.incrementAndGet()
    new AudioInputStream(s, FakeAudio.pcm(s.getFormat), s.getFrameLength)
  }
}

class AudioSpiSpec extends AnyFunSuite {
  import FakeAudio._

  test("convert: the first supporting converter throwing is terminal — stream closed, none retried") {
    val ok = AudioSpi.convert(Pcm, stream(Fake))
    assert(ok != null && ok.getFormat.getEncoding == Pcm,
      "the test-side converters must be visible to AudioSpi")
    val before = passCalls.get
    val closed = new AtomicBoolean()
    assert(AudioSpi.convert(Pcm, stream(Torn, closed)) == null)
    assert(passCalls.get == before,
      "a second converter was handed the stream the first one had partly read")
    assert(closed.get, "the torn stream must be closed")
  }

  test("providers come from AudioSpi's own class loader, not the first caller's context loader") {
    // a fresh copy of AudioSpi (its lazy provider snapshot not yet taken),
    // first touched from a thread whose context loader sees no test classes
    def where(c: Class[_]): URL = c.getProtectionDomain.getCodeSource.getLocation
    val urls = Array(where(AudioSpi.getClass), where(classOf[AudioSpiSpec]),
      where(classOf[scala.Option[_]]))
    val fresh = new URLClassLoader(urls, ClassLoader.getPlatformClassLoader)
    val blind = new URLClassLoader(Array.empty[URL], ClassLoader.getPlatformClassLoader)
    val t = Thread.currentThread
    val saved = t.getContextClassLoader
    t.setContextClassLoader(blind)
    val out = try {
      fresh.loadClass("graft.functions.AudioSpi")
        .getMethod("convert", classOf[AudioFormat.Encoding], classOf[AudioInputStream])
        .invoke(null, Pcm, stream(Fake))
    } finally {
      t.setContextClassLoader(saved)
      fresh.close(); blind.close()
    }
    assert(out != null, "the snapshot missed providers visible to AudioSpi's own loader")
  }
}
