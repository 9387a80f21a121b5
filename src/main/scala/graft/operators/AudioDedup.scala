package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Audio deduplication over DECODED samples (SURVEY §2.4, the audio leg of
  * the E1 exact-dedup family beside [[ImageDedup.dedupByPixels]]): the
  * same recording reaches a crawl as WAV (little-endian RIFF, 8-bit
  * stored UNSIGNED) and AIFF (big-endian, signed) — byte-level dedup sees
  * two unrelated blobs, sample-level dedup sees one recording.
  *
  * [[sampleHash]] decodes through javax.sound (the JDK's real PCM reader,
  * the [[Multimodal.JdkAudioCodec]] normalization discipline: per-frame
  * per-channel assembly honoring the container's endianness, then
  * sign-normalization so PCM_UNSIGNED and PCM_SIGNED storages of the same
  * wave hash identically) and md5s (channels, rate, normalized samples) —
  * rate and channel count are part of recording identity, bit DEPTH is
  * not hashed separately because different depths already store different
  * sample values. Undecodable or non-PCM payloads refuse with a null
  * hash and dedup as singletons (the engine-wide refuse-don't-guess +
  * never-merge-the-unread contract). */
object AudioDedup {

  case class AudioSig(doc_id: Long, channels: Int, sample_rate: Int,
                      n_frames: Long, sample_hash: String)

  /** One decoded PCM clip: format identity + the raw frame bytes with the
    * fields needed to read normalized samples out of them. */
  private case class Pcm(channels: Int, rate: Int, nFrames: Int,
                         raw: Array[Byte], bytesPer: Int, frameSize: Int,
                         bigEndian: Boolean, half: Int, unsigned: Boolean) {
    /** Normalized (sign-corrected) sample for (frame, channel) — the ONE
      * place the endianness/sign-storage subtlety lives. */
    def sample(i: Int, c: Int): Int = {
      val off = i * frameSize + c * bytesPer
      var v = 0
      var j = 0
      while (j < bytesPer) {
        val b = raw(off + j) & 0xFF
        v = if (bigEndian) (v << 8) | b else v | (b << (8 * j))
        j += 1
      }
      if (unsigned) v - half
      else if (v >= half) v - (half << 1) else v // sign-extend
    }
  }

  /** javax.sound decode to integer PCM; null when the bytes are not a
    * decodable PCM container (the refuse-don't-guess boundary both the
    * exact and perceptual hashes share).
    *
    * µ-law / A-law containers (WAV format codes 7 / 6 — the G.711
    * telephony encodings real crawls meet in voicemail/IVR corpora) are
    * decoded by routing through the JDK's OWN codec
    * (`AudioSystem.getAudioInputStream(PCM_SIGNED, ais)` — the same
    * native-conversion boundary as the PCM read, r15 verdict #3): the
    * converted stream is 16-bit linear PCM, so a companded spelling of a
    * recording hashes identically to a 16-bit PCM spelling holding the
    * decoded values. Any OTHER encoding still refuses. */
  private def decodePcm(payload: Array[Byte]): Pcm = {
    import javax.sound.sampled._
    if (payload == null) return null
    // AudioSpi = the SAME JDK readers/converters AudioSystem would hand
    // back, resolved once per JVM instead of through the synchronized
    // per-call provider walk that convoyed the 32-way decode stage (r18,
    // guide §1.2 per-task work; measurement in OPTIMIZATION_r18.md)
    val ais0 = graft.functions.AudioSpi.open(payload)
    // the stock JDK refuses ADPCM WAVs, AIFF-C ima4, and FLAC outright
    // (no codec SPI), so those legs route through the from-scratch
    // byte decoders instead — see [[decodeFromScratch]]
    if (ais0 == null) return decodeFromScratch(payload)
    val ais =
      if (ais0.getFormat.getEncoding == AudioFormat.Encoding.ULAW ||
        ais0.getFormat.getEncoding == AudioFormat.Encoding.ALAW) {
        val conv = graft.functions.AudioSpi.convert(AudioFormat.Encoding.PCM_SIGNED, ais0)
        if (conv == null) { ais0.close(); return null }
        conv
      } else ais0
    try {
      val f = ais.getFormat
      // a container the JDK OPENS but reports as a non-PCM encoding
      // (rather than refusing outright) still gets the from-scratch
      // route — the refusal shape differs by JDK reader, the fallback
      // must not (review r17, the ima4 leg)
      if (f.getEncoding != AudioFormat.Encoding.PCM_SIGNED &&
        f.getEncoding != AudioFormat.Encoding.PCM_UNSIGNED)
        return decodeFromScratch(payload)
      val bytesPer = (f.getSampleSizeInBits + 7) / 8
      val frameSize = f.getFrameSize
      // A malformed-but-openable header can claim frameSize < channels *
      // bytesPer (e.g. 12-bit stereo claiming frameSize 3): Pcm.sample
      // would then index past a frame's bytes. Refuse here so every
      // downstream hash loop is total over a well-formed Pcm.
      if (f.getSampleSizeInBits <= 0 || f.getChannels <= 0) return null
      if (frameSize < f.getChannels * bytesPer) return null
      val raw = ais.readAllBytes()
      if (frameSize <= 0 || raw.length % frameSize != 0) return null
      Pcm(f.getChannels, f.getSampleRate.toInt, raw.length / frameSize,
        raw, bytesPer, frameSize, f.isBigEndian,
        1 << (f.getSampleSizeInBits - 1),
        f.getEncoding == AudioFormat.Encoding.PCM_UNSIGNED)
    } catch { case _: Exception => null }
    finally ais.close()
  }

  /** IMA/DVI ADPCM (WAV tag 17) decode to the SAME [[Pcm]] shape the
    * javax.sound paths produce — the decoded 16-bit stream re-packs as
    * little-endian signed PCM, so every downstream hash (exact sample
    * md5, perceptual eHash) treats an ADPCM spelling exactly like a PCM
    * spelling holding the decoded values (qe71c certifies the collapse).
    * [[graft.functions.ImaAdpcm]] refuses with null on anything torn or
    * non-conformant, preserving the singleton contract. */
  private def decodeImaAdpcm(payload: Array[Byte]): Pcm = {
    val d = graft.functions.ImaAdpcm.decode(payload)
    if (d == null) null else pcmFromShorts(d.channels, d.rate, d.samples)
  }

  /** MS ADPCM (WAV tag 2) — the 2nd-order predictive codec (r17), same
    * contract as [[decodeImaAdpcm]]: [[graft.functions.MsAdpcm]] refuses
    * with null on anything torn or non-conformant (qe71d certifies the
    * cross-encoding collapse). */
  private def decodeMsAdpcm(payload: Array[Byte]): Pcm = {
    val d = graft.functions.MsAdpcm.decode(payload)
    if (d == null) null else pcmFromShorts(d.channels, d.rate, d.samples)
  }

  /** AIFF-C "ima4" (Apple's IMA packetization, r17) — same contract;
    * [[graft.functions.Ima4]] walks the SAME step arithmetic as the WAV
    * tag-17 decoder under the AIFC container (qe71e certifies the
    * cross-container collapse). */
  private def decodeIma4(payload: Array[Byte]): Pcm = {
    val d = graft.functions.Ima4.decode(payload)
    if (d == null) null else pcmFromShorts(d.channels, d.rate, d.samples)
  }

  /** FLAC (r17) — same contract; [[graft.functions.FlacDecode]] walks
    * the full Rice/fixed/LPC frame layer for 16-bit streams (qe71g
    * certifies the encode→decode roundtrip collapse). */
  private def decodeFlac(payload: Array[Byte]): Pcm = {
    val d = graft.functions.FlacDecode.decode(payload)
    if (d == null) null else pcmFromShorts(d.channels, d.rate, d.samples)
  }

  /** WAVE_FORMAT_EXTENSIBLE inner-PCM (r17) — the JDK refuses fmt tag
    * 0xFFFE outright, so [[graft.functions.WavExtensible]] reads the
    * frames from scratch; the raw little-endian bytes re-wrap in the
    * SAME [[Pcm]] geometry the JDK emits for the plain tag-1 spelling
    * (8-bit unsigned, wider signed), so the extensible spelling hashes
    * identically with zero normalization glue (qe71h certifies the
    * collapse at 16 AND 24 bits — the 24-bit leg is cross-decoder: JDK
    * reads the plain twin, this decoder the extensible one). */
  private def decodeWavX(payload: Array[Byte]): Pcm = {
    val d = graft.functions.WavExtensible.decode(payload)
    if (d == null) return null
    val bytesPer = d.containerBits / 8
    Pcm(d.channels, d.rate, d.nFrames, d.raw, bytesPer,
      d.channels * bytesPer, bigEndian = false,
      half = 1 << (d.containerBits - 1), unsigned = d.containerBits == 8)
  }

  /** The from-scratch decoder chain — every leg the JDK has no codec
    * for: IMA ADPCM WAV (tag 17), MS ADPCM WAV (tag 2), AIFF-C ima4,
    * FLAC, and extensible-PCM WAV (tag 0xFFFE). Each decoder refuses
    * every other leg's container/tag, so the sequential fallback is
    * format dispatch in effect; the chain returns the first non-null
    * [[Pcm]] or null (the singleton contract). */
  private def decodeFromScratch(payload: Array[Byte]): Pcm = {
    val ima = decodeImaAdpcm(payload)
    if (ima != null) return ima
    val ms = decodeMsAdpcm(payload)
    if (ms != null) return ms
    val q = decodeIma4(payload)
    if (q != null) return q
    val f = decodeFlac(payload)
    if (f != null) f else decodeWavX(payload)
  }

  /** Re-pack a decoded 16-bit stream as the [[Pcm]] shape the
    * javax.sound paths produce (little-endian signed), so every
    * downstream hash treats an ADPCM spelling exactly like a PCM
    * spelling holding the decoded values. */
  private def pcmFromShorts(ch: Int, rate: Int, samples: Array[Short]): Pcm = {
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = (samples(i) & 0xFF).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    Pcm(ch, rate, samples.length / ch, raw,
      bytesPer = 2, frameSize = 2 * ch, bigEndian = false,
      half = 1 << 15, unsigned = false)
  }

  /** md5 hex over (channels, rate, every normalized sample, frame-major
    * channel order); null when javax.sound cannot decode the bytes to
    * integer PCM. */
  def sampleHash(payload: Array[Byte]): AudioSig = try {
    val p = decodePcm(payload)
    if (p == null) return null
    // buffered updates (r18): the previous shape ran a 4-byte
    // MessageDigest.update per SAMPLE (plus a JCA provider lookup and a
    // per-byte "%02x" Formatter per clip) — pure per-task overhead on
    // the same bytes. Samples flush through a BOUNDED 64 KiB buffer, so
    // the digested byte stream is unchanged ((channels, rate) then every
    // normalized sample as a big-endian int, frame-major channel order)
    // while memory stays O(1) per clip for ANY clip length — a single
    // whole-clip buffer would overflow Int.MaxValue past 2^29 samples
    // (silently refusing giant-but-valid clips) and cost up to 4x the
    // raw PCM per concurrent task (review r18).
    // exact-size for ordinary clips (a few hundred bytes — no 64 KiB of
    // garbage per tiny clip), capped chunk size for giant ones
    val need = 8L + p.nFrames.toLong * p.channels * 4L
    val buf = java.nio.ByteBuffer.allocate(math.min(need, 64L * 1024L).toInt)
    buf.putInt(p.channels).putInt(p.rate)
    val hash = graft.functions.Md5.withDigest { md =>
      var i = 0
      while (i < p.nFrames) {
        var c = 0
        while (c < p.channels) {
          if (buf.remaining() < 4) { md.update(buf.array(), 0, buf.position()); buf.clear() }
          buf.putInt(p.sample(i, c))
          c += 1
        }
        i += 1
      }
      md.update(buf.array(), 0, buf.position())
      graft.functions.Md5.hex(md.digest())
    }
    AudioSig(-1L, p.channels, p.rate, p.nFrames, hash)
  } catch {
    // decodePcm's frameSize guard makes Pcm.sample total for every shape
    // the JDK readers are KNOWN to emit; this catch is the contract's
    // last line for shapes they are not — a hash over media bytes must
    // refuse, never kill the Spark task (and with it a whole crawl batch)
    case _: Exception => null
  }

  /** Perceptual audio hash (eHash-64): the dHash discipline transplanted
    * to waveforms. The clip's frames split into 72 equal windows laid out
    * on the same 8×9 grid as [[ImageDedup.dHash64]]; a window's ENERGY is
    * the integer sum of |normalized sample| over its frames × channels
    * (channel-mix by summation — no floats anywhere); bit i*8+j is set
    * iff window (i, j+1) has strictly greater MEAN energy than window
    * (i, j), compared cross-multiplied so unequal window lengths (frame
    * count not divisible by 72) introduce no integer-division bias.
    * Stable under small per-sample perturbations (a ±1 sample moves a
    * window energy by 1 against planted margins of dozens); identical
    * across WAV/AIFF spellings because the decode normalizes endianness
    * and sign storage. Same comparison topology as dHash ⇒ the ×3
    * repetition-code corpus proof and the [[ImageDedup.bandBuckets]]
    * pigeonhole recall guarantee transfer unchanged.
    *
    * Refuses (None) clips shorter than 72 frames: a sub-2ms blip has no
    * energy CONTOUR to hash, and every such clip would pile into a few
    * hot hash buckets, turning the band join cartesian on real crawls —
    * the audio analog of the image leg's tracking-pixel guard. */
  def eHash64(payload: Array[Byte]): Option[Long] = try {
    val p = decodePcm(payload)
    if (p == null || p.nFrames < 72) return None
    val energy = new Array[Long](72)
    val counts = new Array[Long](72)
    var i = 0
    while (i < p.nFrames) {
      val w = math.min(71, (i.toLong * 72 / p.nFrames).toInt)
      var c = 0
      var mag = 0L
      while (c < p.channels) { mag += math.abs(p.sample(i, c).toLong); c += 1 }
      energy(w) += mag
      counts(w) += 1
      i += 1
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var j = 0
      while (j < 8) {
        val w = r * 9 + j
        // 128-bit cross-multiply: energy reaches windowFrames × channels
        // × 2^31 on 32-bit PCM, so energy × counts overflows a Long past
        // ~107 s at 44.1 kHz — a wrapped product flips comparison bits
        // and silently breaks the perturbation-stability guarantee. 64
        // exact BigInteger compares per clip are noise next to the
        // decode.
        val l = java.math.BigInteger.valueOf(energy(w))
          .multiply(java.math.BigInteger.valueOf(counts(w + 1)))
        val rr = java.math.BigInteger.valueOf(energy(w + 1))
          .multiply(java.math.BigInteger.valueOf(counts(w)))
        if (rr.compareTo(l) > 0) bits |= 1L << (r * 8 + j)
        j += 1
      }
      r += 1
    }
    Some(bits)
  } catch {
    // same refuse-don't-kill backstop as [[sampleHash]]
    case _: Exception => None
  }

  /** Perceptual signature stage: (doc_id, payload) → (doc_id, h64) rows
    * for clips that decode and meet the 72-frame floor. */
  def perceptualSignatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) => eHash64(p).map(h => (id, h)) })
      .toDF("doc_id", "h64")
  }

  /** Perceptual near-dup pairs (da < db, true Hamming distance) within
    * `maxHamming` <= 3 — the shared banded-LSH join + bit_count verify
    * ([[ImageDedup.hamming64Pairs]]); never an all-pairs stage. */
  def nearDupPairs(media: DataFrame, maxHamming: Int = 2): DataFrame =
    ImageDedup.hamming64Pairs(
      perceptualSignatures(media).auditedCheckpoint(), maxHamming)

  /** Decode stage: one mapPartitions pass to per-clip signatures. */
  def audioSignatures(media: DataFrame): Dataset[AudioSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val sig = sampleHash(payload)
          if (sig == null) AudioSig(id, -1, -1, -1L, null)
          else sig.copy(doc_id = id)
        }
      }
  }

  /** Exact sample dedup: min-id survivor per sample hash; undecodable
    * rows stay singletons. Checkpointed signatures feed both sides of
    * the survivor join — each clip decodes once per action. */
  def dedupBySamples(media: DataFrame): DataFrame =
    Dedup.minIdSurvivorByKey(
      audioSignatures(media).toDF().auditedCheckpoint(), "sample_hash")

  // ---- planted corpus --------------------------------------------------

  /** 80-bit extended-float encodings of the planted sample rates (the
    * AIFF COMM field; same constants [[Multimodal.audioPayloadHex]]
    * plants, kept in one place per rate). */
  private val Ext80: Map[Int, Array[Byte]] = Map(
    8000 -> "400BFA00000000000000", 16000 -> "400CFA00000000000000",
    22050 -> "400DAC44000000000000", 44100 -> "400EAC44000000000000")
    .map { case (r, hx) =>
      r -> hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    }

  /** The exact-dup corpus opens every clip with this many ID FRAMES that
    * spell the group id verbatim (7 bits per frame, channel 0), because
    * the waveform tail alone is PERIODIC in g: the planted params repeat
    * every lcm(2,3,4,40)=120 groups and `sampleOf` every 201, so groups
    * g and g+8040 would otherwise produce byte-identical clips and
    * silently merge — the audio analog of the image/video corpora's
    * require(g < 2^21), solved by construction instead of by bound
    * (10×7 = 70 bits covers any Long group id). */
  private val IdFrames = 10

  /** Deterministic signed sample value for (group, frame, channel): the
    * first [[IdFrames]] frames carry the group id (channel 0; other
    * channels zero), the rest a planted waveform in [-100, 100] — all
    * inside every depth's range. */
  private def sampleOf(g: Long, i: Int, c: Int): Int =
    if (i < IdFrames) (if (c == 0) ((g >>> (7 * i)) & 0x7F).toInt else 0)
    else (((g * 31 + i * 7 + c * 13) % 201) - 100).toInt

  private def writeWav(sample: (Int, Int) => Int, ch: Int, rate: Int,
                       bits: Int, frames: Int, junk: Boolean): Array[Byte] = {
    val bytesPer = bits / 8
    val dataSize = frames * ch * bytesPer
    val junkLen = if (junk) 12 else 0
    val bb = java.nio.ByteBuffer.allocate(12 + junkLen + 24 + 8 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + junkLen + 24 + 8 + dataSize)
      .put("WAVE".getBytes)
    if (junk) bb.put("JUNK".getBytes).putInt(4).putInt(0xDEADBEEF)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(ch.toShort)
      .putInt(rate).putInt(rate * ch * bytesPer)
      .putShort((ch * bytesPer).toShort).putShort(bits.toShort)
    bb.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < ch) {
        val v = sample(i, c)
        if (bits == 8) bb.put((v + 128).toByte) // WAV 8-bit stores UNSIGNED
        else if (bits == 24) // signed little-endian, 3 bytes (r17, qe71h)
          bb.put(v.toByte).put((v >> 8).toByte).put((v >> 16).toByte)
        else bb.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    bb.array()
  }

  /** WAVE_FORMAT_EXTENSIBLE writer for the planted corpus (r17): the
    * same samples as [[writeWav]] under the 0xFFFE spelling — 40-byte
    * fmt (cbSize 22, wValidBitsPerSample = the container width,
    * dwChannelMask = the low `ch` speaker bits, PCM SubFormat GUID over
    * the published KSDATAFORMAT base). Sample bytes are identical to
    * the plain spelling's, so the collapse certifies header routing +
    * the from-scratch frame read, not a re-quantization. */
  private def writeWavX(sample: (Int, Int) => Int, ch: Int, rate: Int,
                        bits: Int, frames: Int): Array[Byte] = {
    val bytesPer = bits / 8
    val dataSize = frames * ch * bytesPer
    val bb = java.nio.ByteBuffer.allocate(12 + 48 + 8 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 48 + 8 + dataSize).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(40).putShort(0xFFFE.toShort)
      .putShort(ch.toShort).putInt(rate).putInt(rate * ch * bytesPer)
      .putShort((ch * bytesPer).toShort).putShort(bits.toShort)
      .putShort(22).putShort(bits.toShort) // cbSize, wValidBitsPerSample
      .putInt((1 << ch) - 1) // dwChannelMask: low speaker bits
      .putShort(1).putShort(0) // SubFormat Data1: tag 1 (PCM)
      .put(Array[Byte](0x00, 0x00, 0x10, 0x00, 0x80.toByte, 0x00, 0x00,
        0xAA.toByte, 0x00, 0x38, 0x9B.toByte, 0x71)) // Data2-Data4 base GUID
    bb.put("data".getBytes).putInt(dataSize)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < ch) {
        val v = sample(i, c)
        if (bits == 24)
          bb.put(v.toByte).put((v >> 8).toByte).put((v >> 16).toByte)
        else bb.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    bb.array()
  }

  private def writeAiff(sample: (Int, Int) => Int, ch: Int, rate: Int,
                        bits: Int, frames: Int, anno: Boolean): Array[Byte] = {
    val bytesPer = bits / 8
    val dataSize = frames * ch * bytesPer
    val annoLen = if (anno) 12 else 0
    val bb = java.nio.ByteBuffer.allocate(12 + annoLen + 26 + 16 + dataSize)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("FORM".getBytes).putInt(4 + annoLen + 26 + 16 + dataSize)
      .put("AIFF".getBytes)
    if (anno) bb.put("ANNO".getBytes).putInt(4).put("test".getBytes)
    bb.put("COMM".getBytes).putInt(18).putShort(ch.toShort).putInt(frames)
      .putShort(bits.toShort).put(Ext80(rate))
    bb.put("SSND".getBytes).putInt(8 + dataSize).putInt(0).putInt(0)
    var i = 0
    while (i < frames) {
      var c = 0
      while (c < ch) {
        val v = sample(i, c)
        if (bits == 8) bb.put(v.toByte) // AIFF 8-bit stores SIGNED
        else bb.putShort(v.toShort)
        c += 1
      }
      i += 1
    }
    bb.array()
  }

  /** Exact-dup corpus: four docs per group (g = doc_id / 4) carry the
    * SAME recording — same (channels, rate, bits, frames, sample values)
    * — as WAV, AIFF, WAV-with-JUNK-chunk, AIFF-with-ANNO-chunk, so the
    * oracle's survivor/is_kept columns are pure doc_id arithmetic while
    * the engine exercises both endiannesses, both 8-bit sign storages,
    * and the chunk walk. Params rotate per group: channels 1–2, 8/16-bit
    * depth, the four planted rates, [[IdFrames]]+5–44 frames (the id
    * frames keep groups byte-distinct at ANY corpus scale — see
    * [[sampleOf]]). */
  def syntheticDupAudioCorpus(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          val ch = (g % 2 + 1).toInt
          val bits = if (g % 3 == 0) 8 else 16
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val frames = IdFrames + (g % 40 + 5).toInt
          val sample = (i: Int, c: Int) => sampleOf(g, i, c)
          val bytes = (id % 4).toInt match {
            case 0 => writeWav(sample, ch, rate, bits, frames, junk = false)
            case 1 => writeAiff(sample, ch, rate, bits, frames, anno = false)
            case 2 => writeWav(sample, ch, rate, bits, frames, junk = true)
            case _ => writeAiff(sample, ch, rate, bits, frames, anno = true)
          }
          (id, bytes, if (id % 2 == 0) "audio/wav" else "audio/aiff")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** Companded (µ-law / A-law) WAV writer: format code 7 / 6, 8 bits per
    * sample, spec-correct non-PCM shape (18-byte fmt with cbSize 0 + a
    * fact chunk carrying the frame count) — `data` holds the raw G.711
    * code bytes, frame-major channel order. */
  private def writeCompandedWav(ulaw: Boolean, ch: Int, rate: Int,
                                data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 18 + 12 + 8 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 8 + 18 + 12 + 8 + data.length)
      .put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(18).putShort(if (ulaw) 7 else 6)
      .putShort(ch.toShort).putInt(rate).putInt(rate * ch)
      .putShort(ch.toShort).putShort(8).putShort(0)
    bb.put("fact".getBytes).putInt(4).putInt(data.length / ch)
    bb.put("data".getBytes).putInt(data.length).put(data)
    bb.array()
  }

  /** JDK-exact G.711 decode tables, derived by decoding all 256 code
    * bytes through [[decodePcm]] ITSELF once per JVM — planted samples
    * built from these are fixed points of the exact decoder in use, so a
    * PCM spelling of table values and a companded spelling of the codes
    * hash identically by construction, with no hand-copied table to
    * drift from the JDK's. */
  private def compandTable(ulaw: Boolean): Array[Int] = {
    val codes = Array.tabulate[Byte](256)(i => i.toByte)
    val p = decodePcm(writeCompandedWav(ulaw, 1, 8000, codes))
    require(p != null && p.nFrames == 256 && p.channels == 1,
      "JDK G.711 decode unavailable — companded corpus cannot be planted")
    Array.tabulate(256)(i => p.sample(i, 0))
  }
  private lazy val UlawTable: Array[Int] = compandTable(ulaw = true)
  private lazy val AlawTable: Array[Int] = compandTable(ulaw = false)

  /** Deterministic G.711 code byte for (group, frame, channel): the first
    * [[IdFrames]] frames spell the group id on channel 0 through the
    * POSITIVE half of the code space (codes 128..255 decode to 128
    * distinct non-negative values in both laws — injective, the same
    * periodicity armor as [[sampleOf]]); the tail is a planted rotation
    * over the full code space. */
  private def codeOf(g: Long, i: Int, c: Int): Int =
    if (i < IdFrames) (if (c == 0) 128 + ((g >>> (7 * i)) & 0x7F).toInt else 128)
    else ((g * 29 + i * 11 + c * 17) % 256).toInt

  /** Companded-dup corpus (r15 verdict #3): four docs per group
    * (g = doc_id / 4) carry TWO recordings — A as {16-bit PCM WAV of the
    * µ-law table values, µ-law WAV of the codes} (ids 4g, 4g+1) and B as
    * {16-bit PCM WAV of the A-law table values, A-law WAV of the codes}
    * (ids 4g+2, 4g+3). Each cross-encoding pair collapses onto one
    * sample hash (the companded decode is the SAME 16-bit linear stream
    * the PCM twin stores), while A and B stay distinct by construction
    * (one extra frame in B). Survivors are pure doc_id arithmetic:
    * min-id per pair ⇒ is_kept = 1 - doc_id % 2. */
  def syntheticDupAudioCorpusCompanded(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val v = (id % 4).toInt
          val ulaw = v < 2
          // A (µ-law-valued) clips get ODD tail lengths, B (A-law-valued)
          // EVEN: n_frames parity alone guarantees no A/B hash collision
          // at ANY corpus scale — stronger than hoping the two laws'
          // value sets never line up over a whole clip
          val frames = IdFrames + (g % 40 * 2 + (if (ulaw) 5 else 6)).toInt
          val table = if (ulaw) UlawTable else AlawTable
          val codes = Array.tabulate[Byte](frames * ch) { k =>
            codeOf(g, k / ch, k % ch).toByte
          }
          val bytes = if (v % 2 == 0)
            writeWav((i, c) => table(codes(i * ch + c) & 0xFF), ch, rate, 16,
              frames, junk = false)
          else writeCompandedWav(ulaw, ch, rate, codes)
          (id, bytes, if (v % 2 == 0) "audio/wav"
          else if (ulaw) "audio/wav;codec=ulaw" else "audio/wav;codec=alaw")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** The ADPCM corpus opens every clip with this many ID BLOCKS whose
    * predictor seeds spell the group id verbatim (16 bits per block,
    * channel 0 — a block's predictor IS its first output sample, so g's
    * 48 bits land in the decoded stream uncoded and groups stay
    * byte-distinct at any corpus scale, the [[sampleOf]] armor
    * transplanted to the predictive codec). */
  private val AdpcmIdBlocks = 3

  /** IMA ADPCM WAV writer (format tag 17, 20-byte fmt with
    * samplesPerBlock + fact chunk): [[AdpcmIdBlocks]] id blocks then
    * (g%4+1) planted wave blocks — deterministic predictor/index/nibble
    * rotations; one 4-byte nibble group per channel per block
    * (samplesPerBlock 9). */
  private def writeAdpcmWav(g: Long, ch: Int, rate: Int): Array[Byte] = {
    val nBlocks = AdpcmIdBlocks + (g % 4 + 1).toInt
    val blockAlign = 8 * ch
    val spb = 9
    val data = new Array[Byte](nBlocks * blockAlign)
    var blk = 0
    while (blk < nBlocks) {
      val base = blk * blockAlign
      val isId = blk < AdpcmIdBlocks
      var c = 0
      while (c < ch) {
        val h = base + 4 * c
        val pred =
          if (isId && c == 0) ((g >> (16 * blk)) & 0xFFFF).toInt else 0
        data(h) = (pred & 0xFF).toByte
        data(h + 1) = ((pred >> 8) & 0xFF).toByte
        data(h + 2) =
          (if (isId) 0 else ((g * 7 + blk * 11) % 89).toInt).toByte
        data(h + 3) = 0 // reserved, spec-zero (the decoder refuses else)
        c += 1
      }
      var c2 = 0
      while (c2 < ch) {
        var k = 0
        while (k < 4) {
          data(base + 4 * ch + c2 * 4 + k) =
            (if (isId) 0
             else ((g * 13 + blk * 17 + k * 7 + c2 * 5) % 256).toInt).toByte
          k += 1
        }
        c2 += 1
      }
      blk += 1
    }
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 12 + 8 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 8 + 20 + 12 + 8 + data.length)
      .put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(20).putShort(17).putShort(ch.toShort)
      .putInt(rate).putInt(rate * blockAlign / spb)
      .putShort(blockAlign.toShort).putShort(4).putShort(2)
      .putShort(spb.toShort)
    bb.put("fact".getBytes).putInt(4).putInt(nBlocks * spb)
    bb.put("data".getBytes).putInt(data.length).put(data)
    bb.array()
  }

  /** ADPCM-dup corpus (r16): two docs per pair (g = doc_id / 2) carry
    * one recording — a 16-bit PCM WAV of the DECODED samples (id 2g) and
    * the IMA ADPCM spelling itself (id 2g+1). The PCM twin is generated
    * by running [[graft.functions.ImaAdpcm.decode]] on the planted
    * bitstream, so the cross-encoding hash collapse certifies the
    * PREDICTIVE decode end-to-end (step/index tables, clamp, nibble
    * order, stereo interleave) — any decoder drift splits every pair.
    * Survivors are pure doc_id arithmetic, like qe71b. */
  def syntheticDupAudioCorpusAdpcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 2
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val adpcm = writeAdpcmWav(g, ch, rate)
          val bytes =
            if (id % 2 == 1) adpcm
            else {
              val d = graft.functions.ImaAdpcm.decode(adpcm)
              require(d != null, s"planted ADPCM clip failed to decode (g=$g)")
              writeWav((i, c) => d.samples(i * ch + c).toInt, ch, rate, 16,
                d.samples.length / ch, junk = false)
            }
          (id, bytes,
            if (id % 2 == 1) "audio/wav;codec=ima-adpcm" else "audio/wav")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** The MS-ADPCM corpus opens every clip with this many ID BLOCKS whose
    * history samples spell the group id verbatim (32 bits per block,
    * channel 0 — a block's iSamp2/iSamp1 ARE its first two output
    * frames, so g's 64 bits land in the decoded stream uncoded and
    * groups stay byte-distinct at any corpus scale, the
    * [[AdpcmIdBlocks]] armor transplanted to the 2nd-order codec). */
  private val MsAdpcmIdBlocks = 2

  /** The 7 standard MS-ADPCM coefficient pairs (the published table the
    * spec requires every file to lead with). */
  private val MsCoefs: Array[(Int, Int)] = Array(
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208),
    (392, -232))

  /** MS ADPCM WAV writer (format tag 2, 50-byte fmt carrying
    * samplesPerBlock + the 7 standard coefficient pairs + fact chunk):
    * [[MsAdpcmIdBlocks]] id blocks then (g%4+1) planted blocks rotating
    * the PREDICTOR INDEX over all 7 coefficient pairs plus
    * delta/history/nibble rotations — 4 data bytes per channel per block
    * (samplesPerBlock 10). */
  private def writeMsAdpcmWav(g: Long, ch: Int, rate: Int): Array[Byte] = {
    val nBlocks = MsAdpcmIdBlocks + (g % 4 + 1).toInt
    val blockAlign = 11 * ch // 7 header + 4 data bytes per channel
    val spb = 10
    val data = new Array[Byte](nBlocks * blockAlign)
    def putS16(off: Int, v: Int): Unit = {
      data(off) = (v & 0xFF).toByte; data(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    var blk = 0
    while (blk < nBlocks) {
      val base = blk * blockAlign
      val isId = blk < MsAdpcmIdBlocks
      var c = 0
      while (c < ch) {
        // header fields are GROUPED (all predictors, all deltas, all
        // samp1s, all samp2s), channels interleaved within each group
        data(base + c) =
          (if (isId) 0 else ((g + blk + c) % 7).toInt).toByte
        putS16(base + ch + 2 * c,
          if (isId) 16 else 16 + ((g * 3 + blk * 5 + c * 7) % 500).toInt)
        putS16(base + 3 * ch + 2 * c, // iSamp1: the NEWER history sample
          if (isId) (if (c == 0) ((g >>> (32 * blk + 16)) & 0xFFFF).toInt else 0)
          else (((g * 11 + blk * 13 + c * 3) % 2001) - 1000).toInt)
        putS16(base + 5 * ch + 2 * c, // iSamp2: the OLDER, output first
          if (isId) (if (c == 0) ((g >>> (32 * blk)) & 0xFFFF).toInt else 0)
          else (((g * 17 + blk * 7 + c * 9) % 2001) - 1000).toInt)
        c += 1
      }
      var k = 0
      while (k < 4 * ch) {
        data(base + 7 * ch + k) =
          (if (isId) 0
           else ((g * 23 + blk * 19 + k * 9) % 256).toInt).toByte
        k += 1
      }
      blk += 1
    }
    val fmtLen = 18 + 4 + 4 * MsCoefs.length // 50
    val bb = java.nio.ByteBuffer
      .allocate(12 + 8 + fmtLen + 12 + 8 + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 8 + fmtLen + 12 + 8 + data.length)
      .put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(fmtLen).putShort(2).putShort(ch.toShort)
      .putInt(rate).putInt(rate * blockAlign / spb)
      .putShort(blockAlign.toShort).putShort(4)
      .putShort((4 + 4 * MsCoefs.length).toShort) // cbSize 32
      .putShort(spb.toShort).putShort(MsCoefs.length.toShort)
    MsCoefs.foreach { case (c1, c2) =>
      bb.putShort(c1.toShort).putShort(c2.toShort)
    }
    bb.put("fact".getBytes).putInt(4).putInt(nBlocks * spb)
    bb.put("data".getBytes).putInt(data.length).put(data)
    bb.array()
  }

  /** MS-ADPCM-dup corpus (r17): two docs per pair (g = doc_id / 2) carry
    * one recording — a 16-bit PCM WAV of the DECODED samples (id 2g) and
    * the MS ADPCM spelling itself (id 2g+1). The PCM twin is generated
    * by running [[graft.functions.MsAdpcm.decode]] on the planted
    * bitstream, so the cross-encoding hash collapse certifies the
    * 2nd-order predictive decode end-to-end (all 7 coefficient pairs,
    * trunc-toward-zero prediction, step adaptation, clamp, high-first
    * nibble order, stereo rotation) — any decoder drift splits every
    * pair. Survivors are pure doc_id arithmetic, like qe71c. */
  def syntheticDupAudioCorpusMsAdpcm(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 2
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val adpcm = writeMsAdpcmWav(g, ch, rate)
          val bytes =
            if (id % 2 == 1) adpcm
            else {
              val d = graft.functions.MsAdpcm.decode(adpcm)
              require(d != null, s"planted MS ADPCM clip failed to decode (g=$g)")
              writeWav((i, c) => d.samples(i * ch + c).toInt, ch, rate, 16,
                d.samples.length / ch, junk = false)
            }
          (id, bytes,
            if (id % 2 == 1) "audio/wav;codec=ms-adpcm" else "audio/wav")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** The ima4 corpus opens every clip with this many ID PACKETS whose
    * 9-bit predictor fields spell the group id (channel 0; an all-zero
    * nibble body at index 0 holds the predictor for all 64 samples, so
    * 9 bits land in the decoded stream verbatim per packet — 54 bits
    * total, the [[AdpcmIdBlocks]] armor transplanted to the Apple
    * packet layout). */
  private val Ima4IdPackets = 6

  /** AIFF-C ima4 writer (FVER + COMM with the "ima4" compressionType +
    * SSND of 34-byte packets): [[Ima4IdPackets]] id packet groups then
    * (g%4+1) planted groups rotating predictor/index/nibbles; the
    * declared frame count truncates the final packet by g%7 frames so
    * the truncation rule is exercised by the corpus itself. */
  private def writeIma4Aifc(g: Long, ch: Int, rate: Int): Array[Byte] = {
    val groups = Ima4IdPackets + (g % 4 + 1).toInt
    val dataLen = groups * ch * 34
    val frames = groups * 64 - (g % 7).toInt
    val data = new Array[Byte](dataLen)
    var grp = 0
    while (grp < groups) {
      val isId = grp < Ima4IdPackets
      var c = 0
      while (c < ch) {
        val base = (grp * ch + c) * 34
        val h =
          if (isId) (if (c == 0) (((g >> (9 * grp)) & 0x1FF) << 7).toInt else 0)
          else ((((g * 37 + grp * 11 + c * 5) % 512) << 7) |
            ((g * 7 + grp * 3 + c) % 89)).toInt
        data(base) = ((h >> 8) & 0xFF).toByte // packet header is BE
        data(base + 1) = (h & 0xFF).toByte
        var j = 0
        while (j < 32) {
          data(base + 2 + j) =
            (if (isId) 0
             else ((g * 13 + grp * 17 + j * 7 + c * 3) % 256).toInt).toByte
          j += 1
        }
        c += 1
      }
      grp += 1
    }
    val bb = java.nio.ByteBuffer
      .allocate(12 + 12 + 8 + 24 + 8 + 8 + dataLen)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put("FORM".getBytes).putInt(4 + 12 + 8 + 24 + 8 + 8 + dataLen)
      .put("AIFC".getBytes)
    bb.put("FVER".getBytes).putInt(4).putInt(0xA2805140) // AIFC-1990/1991
    bb.put("COMM".getBytes).putInt(24).putShort(ch.toShort).putInt(frames)
      .putShort(16).put(Ext80(rate)).put("ima4".getBytes)
      .put(0.toByte).put(0.toByte) // empty pstring compressionName
    bb.put("SSND".getBytes).putInt(8 + dataLen).putInt(0).putInt(0).put(data)
    bb.array()
  }

  /** ima4-dup corpus (r17): two docs per pair (g = doc_id / 2) carry one
    * recording — a 16-bit PCM WAV of the DECODED samples (id 2g) and the
    * AIFF-C ima4 spelling itself (id 2g+1). The PCM twin is generated by
    * running [[graft.functions.Ima4.decode]] on the planted packets, so
    * the cross-CONTAINER collapse certifies the Apple packet layout
    * end-to-end (9+7-bit header split, low-first nibbles, per-packet
    * channel interleave, final-packet truncation) on top of the shared
    * IMA step arithmetic qe71c already pins. Survivors are pure doc_id
    * arithmetic, like qe71c/qe71d. */
  def syntheticDupAudioCorpusIma4(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 2
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val aifc = writeIma4Aifc(g, ch, rate)
          val bytes =
            if (id % 2 == 1) aifc
            else {
              val d = graft.functions.Ima4.decode(aifc)
              require(d != null, s"planted ima4 clip failed to decode (g=$g)")
              writeWav((i, c) => d.samples(i * ch + c).toInt, ch, rate, 16,
                d.samples.length / ch, junk = false)
            }
          (id, bytes,
            if (id % 2 == 1) "audio/aiff;codec=ima4" else "audio/wav")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** Sun/NeXT AU writer (fixed 24-byte big-endian header): `data` holds
    * the raw sample bytes for the given encoding code (1 = µ-law codes,
    * 3 = s16 big-endian). */
  private def writeAu(enc: Int, ch: Int, rate: Int,
                      data: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(24 + data.length)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put(".snd".getBytes).putInt(24).putInt(data.length).putInt(enc)
      .putInt(rate).putInt(ch)
    bb.put(data)
    bb.array()
  }

  /** AU-dup corpus (r17): four docs per group (g = doc_id / 4) carry TWO
    * recordings spelled across the WAV and AU container families — A as
    * {16-bit PCM WAV of the µ-law table values, AU µ-law of the codes}
    * (ids 4g, 4g+1) and B as {16-bit little-endian PCM WAV, AU 16-bit
    * BIG-endian of the same samples} (ids 4g+2, 4g+3). A certifies the
    * JDK's AU µ-law decode collapses onto the same linear stream as the
    * WAV spelling ([[compandTable]] fixed points, container-independent);
    * B certifies the endianness normalization across containers. A gets
    * ODD tail lengths, B EVEN — the qe71b parity armor, so A and B can
    * never collide at any scale. Survivors are pure doc_id arithmetic:
    * min-id per pair ⇒ is_kept = 1 - doc_id % 2. */
  def syntheticDupAudioCorpusAu(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val v = (id % 4).toInt
          val bytes = if (v < 2) {
            val frames = IdFrames + (g % 40 * 2 + 5).toInt // odd tail
            val codes = Array.tabulate[Byte](frames * ch) { k =>
              codeOf(g, k / ch, k % ch).toByte
            }
            if (v == 0)
              writeWav((i, c) => UlawTable(codes(i * ch + c) & 0xFF),
                ch, rate, 16, frames, junk = false)
            else writeAu(1, ch, rate, codes)
          } else {
            val frames = IdFrames + (g % 40 * 2 + 6).toInt // even tail
            if (v == 2)
              writeWav((i, c) => sampleOf(g, i, c), ch, rate, 16, frames,
                junk = false)
            else {
              val data = new Array[Byte](frames * ch * 2)
              var k = 0
              while (k < frames * ch) {
                val s = sampleOf(g, k / ch, k % ch)
                data(2 * k) = ((s >> 8) & 0xFF).toByte // AU linear is BE
                data(2 * k + 1) = (s & 0xFF).toByte
                k += 1
              }
              writeAu(3, ch, rate, data)
            }
          }
          (id, bytes, if (v % 2 == 0) "audio/wav" else "audio/basic")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** MSB-first bit writer for the FLAC corpus encoder. `bytesSoFar` is
    * only meaningful at byte alignment (frame headers and footers are
    * byte-aligned by construction — the CRC inputs). */
  private final class BitWriter {
    private val buf = collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0; private var nBits = 0
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >>> i) & 1L).toInt
        nBits += 1
        if (nBits == 8) { buf += cur.toByte; cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def align(): Unit = if (nBits != 0) writeBits(0, 8 - nBits)
    def bytesSoFar: Array[Byte] = {
      require(nBits == 0, "bit writer not aligned"); buf.toArray
    }
  }

  /** Rice residual writer: method 00, partition order 0, parameter
    * sized so quotients stay short; zigzag then quotient-unary (zeros,
    * then a one) + parameter-bit remainder — the published layout
    * [[graft.functions.FlacDecode]] walks back. */
  private def writeRice(w: BitWriter, res: Seq[Int]): Unit = {
    w.writeBits(0, 2) // method 00: 4-bit parameters
    w.writeBits(0, 4) // partition order 0
    val us = res.map(v => ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL)
    val maxU = (us :+ 0L).max
    var p = 0
    while ((maxU >> p) > 3 && p < 14) p += 1
    w.writeBits(p, 4)
    us.foreach { u =>
      val q = (u >>> p).toInt
      var i = 0
      while (i < q) { w.writeBits(0, 1); i += 1 }
      w.writeBits(1, 1)
      w.writeBits(u & ((1L << p) - 1), p)
    }
  }

  /** One subframe: mode 0 = VERBATIM, 1/2 = FIXED order 1/2, 3 = LPC
    * order 1 with coefficient 1 and shift 0 (prediction = previous
    * sample — a correct-by-construction exercise of the LPC path). */
  private def writeFlacSubframe(w: BitWriter, s: Array[Int], eff: Int,
                                mode: Int): Unit = {
    def raw(v: Int): Unit = w.writeBits(v.toLong & ((1L << eff) - 1), eff)
    w.writeBits(0, 1) // pad
    mode match {
      case 0 =>
        w.writeBits(1, 6); w.writeBits(0, 1)
        s.foreach(raw)
      case 1 | 2 =>
        w.writeBits(8 + mode, 6); w.writeBits(0, 1)
        (0 until mode).foreach(i => raw(s(i)))
        writeRice(w, (mode until s.length).map(i =>
          s(i) - (if (mode == 1) s(i - 1) else 2 * s(i - 1) - s(i - 2))))
      case _ =>
        w.writeBits(32, 6); w.writeBits(0, 1) // LPC, order 1
        raw(s(0))
        w.writeBits(3, 4) // precision 4 (stored minus one)
        w.writeBits(0, 5) // shift 0
        w.writeBits(1, 4) // the one coefficient: 1
        writeRice(w, (1 until s.length).map(i => s(i) - s(i - 1)))
    }
  }

  /** FLAC encoder for the planted corpus: 16-bit, fixed blocking at
    * 192-sample frames (block-size code 0001 — plus the 8-bit-extension
    * code for the partial final frame), sample-rate code 0000 (from
    * STREAMINFO), channel assignment rotating over independent /
    * left-side / right-side / mid-side for stereo groups, subframe
    * modes rotating over verbatim / fixed-1 / fixed-2 / LPC-1 per
    * (group, frame, channel). Real CRC-8 + CRC-16 via
    * [[graft.functions.FlacDecode]]'s table-free implementations. */
  private def writeFlac(g: Long, ch: Int, rate: Int, frames: Int,
                        sample: (Int, Int) => Int): Array[Byte] = {
    val full = frames / 192
    val rem = frames % 192
    val nF = full + (if (rem > 0) 1 else 0)
    require(nF >= 1 && nF < 128, s"corpus keeps frame numbers 1-byte UTF-8: $nF")
    val minB = if (rem > 0) (if (full > 0) math.min(192, rem) else rem) else 192
    val maxB = if (full > 0) 192 else rem
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes)
    val si = java.nio.ByteBuffer.allocate(4 + 34)
    si.put(0x80.toByte).put(0.toByte).put(0.toByte).put(34.toByte)
    si.putShort(minB.toShort).putShort(maxB.toShort)
    si.put(Array[Byte](0, 0, 0, 0, 0, 0)) // min/max framesize unknown
    si.putLong((rate.toLong << 44) | ((ch - 1).toLong << 41) |
      (15L << 36) | frames.toLong) // 20-bit rate | ch-1 | bps-1=15 | total
    si.put(new Array[Byte](16)) // MD5 unknown (all-zero is the sentinel)
    out.write(si.array())
    var f = 0
    while (f < nF) {
      val bs = if (f < full) 192 else rem
      val base = f * 192
      val assign = if (ch == 1) 0 else Array(1, 8, 9, 10)(((g + f) % 4).toInt)
      val w = new BitWriter
      w.writeBits(0xFF, 8); w.writeBits(0xF8, 8) // sync + fixed blocking
      w.writeBits(if (bs == 192) 1 else 6, 4)
      w.writeBits(0, 4) // rate from STREAMINFO
      w.writeBits(assign, 4)
      w.writeBits(4, 3) // 16-bit
      w.writeBits(0, 1)
      w.writeBits(f, 8) // frame number (single-byte UTF-8 range)
      if (bs != 192) w.writeBits(bs - 1, 8)
      val hdr = w.bytesSoFar
      w.writeBits(graft.functions.FlacDecode.crc8(hdr, 0, hdr.length), 8)
      val subs: Seq[(Array[Int], Int)] = assign match {
        case 0 => Seq((Array.tabulate(bs)(i => sample(base + i, 0)), 16))
        case 1 => (0 until ch).map(c =>
          (Array.tabulate(bs)(i => sample(base + i, c)), 16))
        case 8 => Seq(
          (Array.tabulate(bs)(i => sample(base + i, 0)), 16),
          (Array.tabulate(bs)(i => sample(base + i, 0) - sample(base + i, 1)), 17))
        case 9 => Seq(
          (Array.tabulate(bs)(i => sample(base + i, 0) - sample(base + i, 1)), 17),
          (Array.tabulate(bs)(i => sample(base + i, 1)), 16))
        case _ => Seq(
          (Array.tabulate(bs)(i => (sample(base + i, 0) + sample(base + i, 1)) >> 1), 16),
          (Array.tabulate(bs)(i => sample(base + i, 0) - sample(base + i, 1)), 17))
      }
      subs.zipWithIndex.foreach { case ((s, eff), c) =>
        writeFlacSubframe(w, s, eff, ((g + f + c) % 4).toInt)
      }
      w.align()
      val fb = w.bytesSoFar
      w.writeBits(graft.functions.FlacDecode.crc16(fb, 0, fb.length), 16)
      out.write(w.bytesSoFar)
      f += 1
    }
    out.toByteArray
  }

  /** FLAC-dup corpus (r17): two docs per pair (g = doc_id / 2) carry one
    * recording — a 16-bit PCM WAV of the planted samples (id 2g) and a
    * FLAC encoding of the SAME planted samples (id 2g+1). Unlike the
    * ADPCM corpora (whose PCM twin is the decoder's own output), both
    * spellings here derive from the analytic samples independently, so
    * the hash collapse certifies a TRUE encode→decode roundtrip across
    * every rotated frame shape: multi-frame + truncated-final-frame
    * streams, all four stereo decorrelations, and all four subframe
    * modes (verbatim, fixed-1, fixed-2, LPC-1) with real Rice residuals
    * and real CRCs. Survivors are pure doc_id arithmetic. */
  def syntheticDupAudioCorpusFlac(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 2
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val frames = 192 * (g % 3).toInt + (g % 50).toInt + 30
          val bytes =
            if (id % 2 == 0)
              writeWav((i, c) => sampleOf(g, i, c), ch, rate, 16, frames,
                junk = false)
            else writeFlac(g, ch, rate, frames, (i, c) => sampleOf(g, i, c))
          (id, bytes, if (id % 2 == 0) "audio/wav" else "audio/flac")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** Extensible-dup corpus (r17): two docs per pair (g = doc_id / 2)
    * carry one recording — a plain tag-1 PCM WAV (id 2g) and the
    * WAVE_FORMAT_EXTENSIBLE spelling of the SAME samples (id 2g+1).
    * Depth rotates 16/16/24 by g%3: the 16-bit pairs certify the
    * extensible header routing against the JDK's plain-PCM read, and
    * the 24-bit pairs are CROSS-DECODER — the JDK decodes the plain
    * spelling (it reads 24-bit tag-1 natively) while the from-scratch
    * [[graft.functions.WavExtensible]] leg reads the extensible one, so
    * the hash collapse proves the two independent frame readers agree
    * bit-for-bit. Survivors are pure doc_id arithmetic. */
  def syntheticDupAudioCorpusWavX(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 2
          val ch = (g % 2 + 1).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val bits = if (g % 3 == 2) 24 else 16
          val frames = (g % 50).toInt + 30
          val bytes =
            if (id % 2 == 0)
              writeWav((i, c) => sampleOf(g, i, c), ch, rate, bits, frames,
                junk = false)
            else writeWavX((i, c) => sampleOf(g, i, c), ch, rate, bits, frames)
          (id, bytes, "audio/wav")
        }
      }.toDF("doc_id", "payload", "mime")
  }

  /** Frames per planted perceptual window — 4 exact frames per window
    * (n = 288 = 72·4), so window boundaries are exact and each planted
    * energy step is 4·12 = 48 against a noise budget of ±1. */
  private val NearFramesPerWin = 4

  /** Planted waveform for the near-dup corpus: window w (0..71, laid on
    * the [[ImageDedup.groupGrid]] 8×9 grid) holds an alternating-sign
    * square wave of amplitude = the grid's luminance level for group `g`
    * — the grid's ×3 repetition code thereby lands in the eHash verbatim
    * (same comparison topology), giving >= 3-bit separation between
    * groups. `noisy` bumps the MAGNITUDE of each window's first frame by
    * 1: every sample hash splits, no energy comparison can flip. */
  private def nearSampleOf(grid: Array[Array[Int]], i: Int, noisy: Boolean): Int = {
    val w = i / NearFramesPerWin
    val amp = grid(w / 9)(w % 9) +
      (if (noisy && i % NearFramesPerWin == 0) 1 else 0)
    if (i % 2 == 0) amp else -amp
  }

  /** Near-dup corpus: spellings 0/1 carry the group's planted waveform
    * as WAV/AIFF (16-bit mono — sample hashes MATCH across the pair),
    * spellings 2/3 the same waveform with one +1-magnitude sample per
    * energy window (sample hashes split; every eHash comparison holds) —
    * [[nearDupPairs]] at maxHamming 2 emits exactly the 6 in-group
    * pairs, Hamming 0, oracle-recomputable as doc_id arithmetic. */
  def syntheticNearDupAudioCorpus(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          require(g < (1L << 21),
            s"synthetic audio corpus: group id $g exceeds the 21-bit eHash encoding")
          val v = (id % 4).toInt
          val rate = Array(8000, 16000, 22050, 44100)((g % 4).toInt)
          val frames = 72 * NearFramesPerWin
          val grid = ImageDedup.groupGrid(g)
          val sample = (i: Int, _: Int) => nearSampleOf(grid, i, noisy = v >= 2)
          val bytes =
            if (v % 2 == 0) writeWav(sample, 1, rate, 16, frames, junk = false)
            else writeAiff(sample, 1, rate, 16, frames, anno = false)
          (id, bytes, if (v % 2 == 0) "audio/wav" else "audio/aiff")
        }
      }.toDF("doc_id", "payload", "mime")
  }
}
