package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Video deduplication over DECODED frames (SURVEY §2.4, the video leg of
  * the E1/E2 dedup families, completing the image/audio/video matrix):
  * a crawl stores the same clip under many byte-level spellings — chunk
  * padding and JUNK alignment chunks in the AVI container, different
  * frame-image encoders — so dedup on payload bytes misses exactly the
  * duplicates that matter. Both operators key on decoded frame CONTENT:
  *
  *  - EXACT: [[videoSignatures]] — per video, md5 over the ordered
  *    sequence of per-frame pixel hashes ([[ImageDedup.pixelHash]] on the
  *    [[Multimodal.MjpegAvi]] RIFF walk + real ImageIO frame decode) —
  *    container/encoder-invariant by construction; [[dedupByFrames]] is
  *    the min-id-survivor dedup on that key.
  *  - PERCEPTUAL + TRIM-ROBUST: [[containmentPairs]] — per-frame dHash-64
  *    ([[ImageDedup.dHash64]]), then video pairs where every frame of the
  *    SHORTER video has a counterpart within a Hamming budget in the
  *    other — the re-encoded-with-noise and truncated-tail cases a
  *    sequence-exact key cannot catch. Candidates come from the shared
  *    [[ImageDedup.bandBuckets]] LSH equi-join (exact recall for
  *    Hamming <= 3 by pigeonhole), never an all-pairs stage, so the
  *    shuffle shape is MinHash-LSH's — the 100 TB path. At scale the
  *    frame explosion is bounded per video upstream (sample <= K frames
  *    via [[Multimodal.MjpegAvi.framePayloads]] + take — the operators
  *    consume whatever frame rows they are given).
  *
  * Refuse-don't-guess: a payload that is not an AVI, or any frame that
  * does not decode, yields a null signature — [[dedupByFrames]] keeps it
  * as its own singleton group, and [[frameDHashes]] refuses the whole
  * clip (all-or-nothing), so [[containmentPairs]] never reports
  * containment over a partially-read clip. */
object VideoDedup {

  case class VideoSig(doc_id: Long, n_frames: Int, content_hash: String)
  case class FrameHash(doc_id: Long, frame_idx: Int, dhash: Long)

  /** Unified frame access across the REAL video containers (MJPEG/PNG/BMP
    * -frame AVI via the RIFF walk; animated GIF >= 2 frames via the JDK's
    * multi-frame reader — r14 verdict #4). Null when the payload is
    * neither — an image, audio, or unknown payload, which the callers
    * refuse as not-a-video. Because the hashes downstream key on decoded
    * frame RASTERS, an AVI spelling and a GIF spelling of the same frame
    * sequence hash identically — container invariance extends across
    * container FAMILIES. Callers must `close()` the handle (try/finally)
    * — the GIF side holds an open ImageIO reader + input stream. */
  private[operators] def frameSource(p: Array[Byte]): Multimodal.FrameSrc = {
    if (p == null) return null
    val avi = Multimodal.MjpegAvi.framePayloads(p)
    if (avi != null)
      Multimodal.FrameSrc(avi.length,
        i => Multimodal.JdkImageCodec.read(avi(i)), () => ())
    else Multimodal.AnimatedGif.frameSource(p)
  }

  /** md5 hex over the ordered per-frame pixel hashes (length-prefixed so
    * frame-boundary ambiguity cannot alias two different sequences) —
    * identical for any two container spellings (AVI or animated GIF,
    * any frame encoder) of the same frame rasters; (-1, null) when the
    * payload is not a readable video container, (n, null) when ANY frame
    * refuses to decode (a partial signature would merge videos the
    * engine could not fully read). */
  def contentHash(payload: Array[Byte]): (Int, String) =
    hashFrames(frameSource(payload))

  /** The hashing half of [[contentHash]] over an already-resolved frame
    * source (lets the crawl router reuse its own container triage without
    * a second byte walk). Closes the source. */
  private[graft] def hashFrames(src: Multimodal.FrameSrc): (Int, String) = {
    if (src == null) return (-1, null)
    try {
      // every frame hash first: pixelHash borrows the thread's digest, so
      // the video digest cannot be open while frames are hashed
      val frames = new Array[String](src.n)
      var i = 0
      while (i < src.n) {
        val img = src.read(i)
        if (img == null) return (src.n, null)
        frames(i) = ImageDedup.pixelHash(img)
        i += 1
      }
      graft.functions.Md5.withDigest { md =>
        md.update(s"n=${src.n};".getBytes("US-ASCII"))
        frames.foreach { h => md.update(h.getBytes("US-ASCII")); md.update(';'.toByte) }
        (src.n, graft.functions.Md5.hex(md.digest()))
      }
    } finally src.close()
  }

  /** Decode stage: (doc_id, payload) → one signature row per video, one
    * mapPartitions pass (the [[Multimodal.decodeAll]] shape). */
  def videoSignatures(media: DataFrame): Dataset[VideoSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val (n, h) = contentHash(p)
        VideoSig(id, n, h)
      })
  }

  /** Exact frame-content dedup: min-id survivor per content hash (the
    * [[Dedup.exactDedup]] convention). Null-signature rows are their own
    * singleton groups. One hash aggregation on a uniform md5 key — no
    * skew handling needed. */
  def dedupByFrames(media: DataFrame): DataFrame =
    // checkpoint: the signatures feed BOTH sides of the survivor join and
    // the full frame decode is the dominant per-row cost
    Dedup.minIdSurvivorByKey(
      videoSignatures(media).toDF().auditedCheckpoint(), "content_hash")

  /** STREAMING exact frame dedup twin: stateless signature projection +
    * `dropDuplicates` on the content hash — FIRST-seen survivor (== the
    * batch min-id convention under an id-ordered replay; asserted in
    * StreamingSpec). Emits kept rows only. Pair with a watermark +
    * dropDuplicatesWithinWatermark for bounded state on always-on
    * streams, as with [[ImageDedup.dedupByPixelsStream]]. */
  def dedupByFramesStream(media: DataFrame): DataFrame =
    Dedup.firstSeenByKey(videoSignatures(media).toDF(), "content_hash")

  /** Per-frame dHash rows. ALL-OR-NOTHING per clip: a video emits frame
    * rows only if EVERY considered frame decodes and meets dHash's 9×8
    * minimum ([[ImageDedup.imageSignatures]] refusal rationale) —
    * otherwise the whole clip refuses and drops out. Per-frame silent
    * drops would shrink a clip's frame count, and [[containmentPairs]]
    * would then report containment over only the readable subset —
    * merging what the engine could not read, the exact hazard
    * [[contentHash]]'s null-on-partial-read contract exists to prevent.
    *
    * FRAME BUDGET (r14 verdict #3): `maxFrames > 0` caps the per-clip
    * decode at that many frames, taken at a deterministic even stride
    * over the container's frame list (index k samples original frame
    * ⌊k·n/K⌋ — always includes frame 0, spans the clip, trim-stable for
    * prefix truncation up to the stride). Only SAMPLED frames are
    * decoded — the budget bounds ImageIO cost and the band-join frame
    * explosion at the source, which is what makes the containment join
    * O(K²) per candidate pair instead of O(n²) on hour-long clips. The
    * all-or-nothing contract then applies to the sampled set (unsampled
    * frames are never read, by design), and downstream `na`/`nb` counts
    * are SAMPLED frame counts. `maxFrames = 0` keeps every frame. */
  def frameDHashes(media: DataFrame, maxFrames: Int = 0): Dataset[FrameHash] = {
    require(maxFrames >= 0, s"frameDHashes: maxFrames must be >= 0, got $maxFrames")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, p) =>
        val src = frameSource(p)
        if (src == null) Nil
        else try {
          val n = src.n
          val indices =
            if (maxFrames > 0 && n > maxFrames)
              (0 until maxFrames).map(k => (k.toLong * n / maxFrames).toInt).distinct
            else 0 until n
          // only SAMPLED frames are decoded (the AVI walk hands out frame
          // payloads lazily; the GIF reader's read(i) decodes on demand —
          // its LZW is internally sequential, but the dHash work is
          // bounded either way)
          val frames = indices.map { i =>
            val img = src.read(i)
            if (img == null || img.getWidth < 9 || img.getHeight < 8) None
            else Some(FrameHash(id, i, ImageDedup.dHash64(img)))
          }
          if (frames.exists(_.isEmpty)) Nil else frames.flatten
        } finally src.close()
      })
  }

  /** Perceptual video containment pairs: (da < db) where every frame of
    * the shorter video has a counterpart within `maxHamming` dHash bits
    * in the other — catches both the re-encoded-with-pixel-noise clip
    * (pixel hashes split, dHashes identical) and the truncated-tail clip
    * (prefix frames all match). Emits per-pair evidence columns
    * (na/nb = frame counts, matched_a/matched_b = distinct frames with a
    * counterpart, contained).
    *
    * Plan shape: frame-level banded equi-join on
    * [[ImageDedup.bandBuckets]] (exact recall for maxHamming <= 3 by
    * pigeonhole) → bit_count verify → per-pair distinct-frame counts →
    * broadcast-join the per-video counts. No all-pairs stage at the
    * video OR frame level. */
  def containmentPairs(media: DataFrame, maxHamming: Int = 2,
                       maxFrames: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"containmentPairs: 4x16 banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    // checkpoint before the self-join: both banded sides would otherwise
    // re-run the full container walk + frame decode. maxFrames > 0 is the
    // 100 TB posture (r14 verdict #3): the per-clip decode and the band
    // join's frame rows are both bounded at the source — na/nb and the
    // containment verdict are then over the SAMPLED frame sets (see
    // [[frameDHashes]]); a registered query feeding real crawl data
    // should always pass a budget.
    val frames = frameDHashes(media, maxFrames).toDF().auditedCheckpoint()
    val counts = frames.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"))
    val banded = frames.select(col("doc_id"), col("frame_idx"), col("dhash"),
        explode(array(ImageDedup.bandBuckets(col("dhash"), maxHamming): _*)).as("bb"))
      .select(col("doc_id"), col("frame_idx"), col("dhash"),
        col("bb.band"), col("bb.bucket"))
    val framePairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.frame_idx").as("ia"), col("b.frame_idx").as("ib"),
        col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      // a frame pair can surface from several clean bands — collapse
      // BEFORE the verify so bit_count runs once per genuine pair
      .dropDuplicates("da", "db", "ia", "ib")
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
    val perPair = framePairs.groupBy(col("da"), col("db"))
      .agg(countDistinct(col("ia")).as("matched_a"),
        countDistinct(col("ib")).as("matched_b"))
    perPair
      .join(counts.withColumnRenamed("doc_id", "da")
        .withColumnRenamed("n_frames", "na"), Seq("da"))
      .join(counts.withColumnRenamed("doc_id", "db")
        .withColumnRenamed("n_frames", "nb"), Seq("db"))
      // the SHORTER clip must be fully covered — matched_a===na OR
      // matched_b===nb would also accept the LONGER side being covered,
      // which a looped/frozen-frame clip satisfies trivially ([x,x,x]
      // vs [x,y]: every long-side frame matches x, yet y has no
      // counterpart)
      .withColumn("contained",
        when(col("na") <= col("nb"), col("matched_a") === col("na"))
          .otherwise(col("matched_b") === col("nb")))
      .select(col("da"), col("db"), col("na"), col("nb"),
        col("matched_a"), col("matched_b"), col("contained"))
  }

  // ---- planted corpora ------------------------------------------------

  /** Frame raster for (group, frame index): the [[ImageDedup.groupGrid]]
    * ×3-repetition encoding over key = g*5 + i, so every (group, frame)
    * combination is >= 3 dHash bits from every other — in-group frame i
    * matches ONLY frame i of sibling spellings, and cross-group frames
    * can never pair at maxHamming <= 2. Key space bound: g*5+4 < 2^21. */
  private def frameKey(g: Long, i: Int): Long = g * 5 + i

  /** Frames per group: 2..4 — always >= 2 so the trimmed spelling keeps
    * at least one frame. */
  private[operators] def framesOf(g: Long): Int = (g % 3).toInt + 2

  /** Exact-dup corpus: four docs per group (g = doc_id / 4) carry the
    * SAME frame rasters under four byte-level spellings — PNG frames,
    * BMP frames, PNG frames behind a JUNK alignment chunk, BMP frames
    * via a BGR color-model roundtrip behind a JUNK chunk — so
    * [[dedupByFrames]]'s groups are
    * pure doc_id arithmetic for the oracle (survivor = 4g). Lossless
    * frame encoders on purpose: pixel equality across spellings is
    * provable (the real-JPEG path stays covered by qe5h/MediaFuzzSpec —
    * ImageIO sniffs the frame codec from bytes either way). */
  def syntheticDupVideoCorpus(docs: DataFrame): DataFrame =
    synthCorpus(docs, nearDup = false)

  /** Near-dup corpus: spellings 0/1 carry the group's frames (PNG-frame
    * AVI / animated GIF — cross-container-family since r15),
    * spelling 2 nudges one interior pixel in EVERY frame (pixel hashes
    * split, dHashes provably identical), spelling 3 TRIMS the last frame
    * — [[containmentPairs]] at maxHamming 2 emits exactly the 6 in-group
    * pairs, every one contained, with matched counts that are pure
    * arithmetic: n-1 where spelling 3 is involved, n otherwise. */
  def syntheticNearDupVideoCorpus(docs: DataFrame): DataFrame =
    synthCorpus(docs, nearDup = true)

  private def synthCorpus(docs: DataFrame, nearDup: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ImageIO encode × frames is the per-row cost: spread the single-file
    // scan over the cores (the qe5h lesson)
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          require(frameKey(g, 4) < (1L << 21),
            s"synthetic video corpus: group id $g exceeds the 21-bit dHash encoding")
          val v = (id % 4).toInt
          val n = framesOf(g)
          val keep = if (nearDup && v == 3) n - 1 else n
          val imgs = (0 until keep).map { i =>
            ImageDedup.paint(ImageDedup.groupGrid(frameKey(g, i)),
              cell = 4, perturb = nearDup && v == 2)
          }
          // Spelling 1 is an ANIMATED GIF of the SAME rasters in BOTH
          // corpora (r14 verdict #4): container-FAMILY invariance — the
          // exact frame-sequence hash (dup corpus) and the per-frame
          // dHash path (near-dup corpus) must both collapse an AVI
          // spelling and a GIF spelling of one clip, which byte-level
          // dedup provably cannot. Lossless by construction (the grid
          // rasters hold < 256 colors, so the GIF writer's palette is
          // exact). The BMP-frame AVI coverage lives on in spelling 3
          // (BGR + JUNK).
          if (v == 1) {
            (id, Multimodal.AnimatedGif.build(imgs), "image/gif")
          } else {
            val frames = imgs.map { img =>
              if (nearDup)
                ImageDedup.encodeImg(img, "png", bgr = false)
              else v match {
                case 0 => ImageDedup.encodeImg(img, "png", bgr = false)
                case 2 => ImageDedup.encodeImg(img, "png", bgr = false)
                case _ => ImageDedup.encodeImg(img, "bmp", bgr = true)
              }
            }
            // v2/v3 carry the JUNK alignment chunk: the BGR roundtrip alone
            // does not GUARANTEE different encoder bytes, and the corpus
            // must be provably 4-ways byte-distinct (format magic splits
            // the families; the JUNK chunk splits the rest)
            val bytes = Multimodal.MjpegAvi.build(frames,
              junk = !nearDup && v >= 2)
            (id, bytes, "video/x-msvideo")
          }
        }
      }.toDF("doc_id", "payload", "mime")
  }
}
