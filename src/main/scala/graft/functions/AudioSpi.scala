package graft.functions

import javax.sound.sampled.{AudioFormat, AudioInputStream}
import javax.sound.sampled.spi.{AudioFileReader, FormatConversionProvider}

/** javax.sound SPI access with the provider lookup hoisted out of the
  * per-clip hot path (r18 optimization round, guide §1.2 "per-task work").
  *
  * `AudioSystem.getAudioInputStream` resolves its reader/converter
  * providers through `JDK13Services.getProviders`, a SYNCHRONIZED static
  * the JDK re-enters on EVERY call — measured on the audio-dedup decode
  * stage as a lock convoy: 5000 tiny clips decoded in 0.64 s on ONE core
  * but 1.21 s wall on 32 (negative scaling; OPTIMIZATION_r18.md). The
  * providers themselves are stateless parsers, so resolving them ONCE
  * per JVM via the public `ServiceLoader` SPI and iterating directly
  * gives the same provider classes, the same decode and the same
  * refusals — without the global lock per clip. (ServiceLoader makes its
  * own instances; AudioSystem keeps a separate cache.)
  *
  * Reader order is irrelevant for correctness here: the JDK's WAV/AIFF/AU
  * readers accept disjoint magic bytes, and each refusal leaves the
  * caller-supplied stream untouched because every attempt gets a FRESH
  * ByteArrayInputStream (stricter than AudioSystem's shared mark/reset). */
object AudioSpi {

  /** Every provider of `cls` visible to the class loader that defined
    * this object — an explicit loader, so the snapshot does not depend on
    * the context class loader of whichever thread touches it first. */
  private def load[S](cls: Class[S]): Array[S] = {
    val it = java.util.ServiceLoader.load(cls, getClass.getClassLoader).iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[S]
    while (it.hasNext) buf += it.next()
    buf.toArray(scala.reflect.ClassTag[S](cls))
  }

  private lazy val readers: Array[AudioFileReader] = load(classOf[AudioFileReader])

  private lazy val converters: Array[FormatConversionProvider] =
    load(classOf[FormatConversionProvider])

  /** First reader that accepts the bytes, as an open stream — the
    * `AudioSystem.getAudioInputStream(InputStream)` contract minus the
    * synchronized provider walk; null when every reader refuses (the
    * caller's refuse-don't-guess branch, previously the
    * UnsupportedAudioFileException path). */
  def open(payload: Array[Byte]): AudioInputStream = {
    var i = 0
    while (i < readers.length) {
      try return readers(i).getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case _: Exception => () }
      i += 1
    }
    null
  }

  /** `AudioSystem.getAudioInputStream(targetEncoding, ais)` minus the
    * synchronized provider walk: the source stream when it already
    * carries the encoding, else the stream of the FIRST converter that
    * supports the conversion. Null when none supports it, and null (with
    * `ais` closed) when that converter throws: it may have consumed part
    * of the stream, so no other converter is tried on what is left. */
  def convert(target: AudioFormat.Encoding, ais: AudioInputStream): AudioInputStream = {
    if (ais.getFormat.getEncoding == target) return ais
    var i = 0
    while (i < converters.length && !converters(i).isConversionSupported(target, ais.getFormat))
      i += 1
    if (i == converters.length) return null
    try converters(i).getAudioInputStream(target, ais)
    catch { case _: Exception => ais.close(); null }
  }
}
