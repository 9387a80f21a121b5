package graft.operators

import graft.PlanCapture.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Image deduplication over DECODED pixels (SURVEY §2.4, the image leg of
  * the E1/E2 dedup families): a crawl stores the same image under many
  * byte-level spellings — PNG vs BMP containers, different encoder
  * settings, color-model roundtrips — so dedup on payload bytes misses
  * exactly the duplicates that matter. Both operators here key on pixels
  * ([[Multimodal.JdkImageCodec]] real decode), not bytes:
  *
  *  - EXACT: [[pixelHash]] — md5 over the row-major RGB raster — is
  *    container/encoder-invariant by construction; [[dedupByPixels]] is
  *    the min-id-survivor dedup on that key (the [[Dedup.exactDedup]]
  *    convention).
  *  - PERCEPTUAL: [[dHash64]] — the published difference-hash: area-average
  *    the luminance onto a 9×8 grid, bit (i,j) = [cell(i,j+1) > cell(i,j)]
  *    — is stable under small pixel perturbations; [[nearDupPairs]] finds
  *    pairs within a Hamming budget by LSH-style BANDING: the 64 bits
  *    split into 4 disjoint 16-bit bands and candidates equi-join on
  *    (band index, band value). Pigeonhole: hamming(a,b) <= 3 forces at
  *    least one clean band, so recall is EXACT (not probabilistic) for
  *    maxHamming <= 3; the verify stage then computes true Hamming via
  *    bit_count(a XOR b). No all-pairs stage anywhere: the join is an
  *    equi-join on band values, the same shuffle shape as MinHash-LSH —
  *    the 100 TB path.
  *
  * Undecodable payloads refuse with null signatures (the engine's
  * refuse-don't-guess contract): [[dedupByPixels]] keeps each as its own
  * singleton group; [[nearDupPairs]] excludes them. */
object ImageDedup {

  case class SigRow(doc_id: Long, width: Int, height: Int,
                    pixel_hash: String, dhash: Option[Long])

  /** md5 hex over the row-major 24-bit RGB raster — identical for any two
    * encodings of the same pixels, regardless of container or encoder. */
  def pixelHash(img: java.awt.image.BufferedImage): String = {
    // thread-owned digest + table hex (r18): the JCA provider lookup and
    // the per-byte "%02x" Formatter were per-IMAGE overhead on the decode
    // hot path (guide §1.2 per-task work; same fix as AudioDedup)
    graft.functions.Md5.withDigest { md =>
      val w = img.getWidth; val h = img.getHeight
      val buf = new Array[Byte](w * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          buf(x * 3) = ((rgb >> 16) & 0xFF).toByte
          buf(x * 3 + 1) = ((rgb >> 8) & 0xFF).toByte
          buf(x * 3 + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        md.update(buf)
        y += 1
      }
      graft.functions.Md5.hex(md.digest())
    }
  }

  /** Difference hash on a 9×8 luminance grid. Cell averages use exact
    * integer block sums over the raster (NOT AWT scaling — deterministic
    * on every JVM); bit i*8+j (i = row 0..7, j = col 0..7) is set iff
    * cell (i, j+1) is strictly brighter than cell (i, j). */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val cells = Array.ofDim[Long](8, 9)
    val counts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val i = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val j = math.min(8, x * 9 / w)
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
        cells(i)(j) += lum
        counts(i)(j) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        // compare MEAN luminance scaled to a common denominator so cells
        // of unequal pixel count (w or h not divisible by the grid)
        // compare exactly, with no integer-division bias
        val l = cells(i)(j) * counts(i)(j + 1)
        val r = cells(i)(j + 1) * counts(i)(j)
        if (r > l) bits |= 1L << (i * 8 + j)
        j += 1
      }
      i += 1
    }
    bits
  }

  /** Decode stage: (doc_id, payload) → per-image signatures, one
    * mapPartitions pass (the [[Multimodal.decodeAll]] shape). Undecodable
    * payloads yield null hash columns. */
  def imageSignatures(media: DataFrame): Dataset[SigRow] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val img = if (payload == null) null
            else Multimodal.JdkImageCodec.read(payload)
          if (img == null) SigRow(id, -1, -1, null, None)
          else SigRow(id, img.getWidth, img.getHeight, pixelHash(img),
            // dHash REFUSES sub-grid images (w < 9 or h < 8): a 1x1
            // tracking pixel has no gradients to hash — every such image
            // would share one hash value, turning the band join into an
            // effective cartesian on that hot bucket (a real crawl holds
            // millions of them). The PIXEL hash still covers them: exact
            // dedup of tracking pixels works, perceptual similarity of a
            // gradient-free image is not a meaningful question.
            if (img.getWidth < 9 || img.getHeight < 8) None
            else Some(dHash64(img)))
        }
      }
  }

  /** Exact pixel dedup: min-id survivor per pixel hash. Undecodable rows
    * (null hash) are their own singleton groups — a dedup pass must never
    * merge what it could not read. One hash aggregation; the hash key is
    * uniform, so no skew handling is needed. */
  def dedupByPixels(media: DataFrame): DataFrame =
    // checkpoint the signatures: they feed BOTH sides of the survivor
    // join, and the ImageIO decode is the dominant per-row cost — without
    // it every image decodes twice per action
    Dedup.minIdSurvivorByKey(
      imageSignatures(media).toDF().auditedCheckpoint(), "pixel_hash")

  /** STREAMING exact pixel dedup: the signature stage is a stateless
    * mapPartitions projection (streaming-legal), and the dedup is
    * `dropDuplicates` state on the pixel hash — FIRST-seen survivor
    * (under an id-ordered replay, first-seen == the batch min-id
    * convention; asserted in StreamingSpec). Undecodable rows (null
    * hash) key on their own doc_id, so they always survive. Emits kept
    * rows only — the crawl-ingest shape. Watermark +
    * dropDuplicatesWithinWatermark for bounded state on always-on
    * streams, as with [[UrlOps.dedupByCanonicalStream]]. */
  def dedupByPixelsStream(media: DataFrame): DataFrame =
    Dedup.firstSeenByKey(imageSignatures(media).toDF(), "pixel_hash")

  /** Perceptual near-dup pairs (da < db, true Hamming distance) within
    * `maxHamming` (must be <= 3: the 4-band pigeonhole guarantee's
    * boundary — a larger budget would need more bands or multi-probe).
    * Band equi-join → distinct candidate pairs → bit_count verify.
    *
    * BUCKET WIDTH scales with the Hamming budget (the 100 TB lever the
    * r14 scaling ladder exposed): at maxHamming <= 2 at most 2 of the 4
    * 16-bit bands can be dirty, so at least one of the C(4,2)=6 band
    * PAIRS is fully clean — candidates equi-join on 32-bit pair buckets
    * (cross-corpus collisions ~N²/2³², negligible to ~10⁹ images) with
    * the same EXACT-recall guarantee. Single 16-bit bands remain only
    * for maxHamming == 3 (just 1 clean band guaranteed there) and
    * saturate once N ≫ 2¹⁶ per band: the ladder measured that candidate
    * stage going quadratic past ~20k images before this split. */
  def nearDupPairs(media: DataFrame, maxHamming: Int = 2): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"nearDupPairs: 4x16 banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    // checkpoint before the SELF-join: both banded sides would otherwise
    // re-run the full decode pass
    val sigs = imageSignatures(media).toDF()
      .filter(col("dhash").isNotNull)
      .select(col("doc_id"), col("dhash").as("h64"))
      .auditedCheckpoint()
    hamming64Pairs(sigs, maxHamming)
  }

  /** Near-dup pairs (da < db, true Hamming) for ANY 64-bit perceptual
    * hash frame (doc_id, h64) — the banded-LSH join + bit_count verify
    * shared by the image ([[nearDupPairs]]) and audio
    * ([[AudioDedup.nearDupPairs]]) legs. Callers checkpoint `sigs` when
    * the signature stage is expensive (it feeds both join sides). */
  private[operators] def hamming64Pairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hamming64Pairs: 4x16 banding guarantees recall only for maxHamming <= 3, got $maxHamming")
    val banded = sigs.select(col("doc_id"), col("h64"),
      explode(array(bandBuckets(col("h64"), maxHamming): _*)).as("bb"))
      .select(col("doc_id"), col("h64"), col("bb.band"), col("bb.bucket"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        col("a.h64").as("ha"), col("b.h64").as("hb"))
      .dropDuplicates("da", "db")
    cand.withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** LSH band-bucket columns for a 64-bit dHash column — the shared
    * banding scheme of [[nearDupPairs]] and [[VideoDedup.containmentPairs]]
    * (struct(band, bucket); equi-join both fields). 32-bit band-PAIR
    * buckets when `maxHamming <= 2` (C(4,2)=6 buckets, at least one clean
    * pair by pigeonhole, no saturation past 2^16 rows); single 16-bit
    * bands only at the maxHamming == 3 boundary. */
  private[operators] def bandBuckets(dhash: Column, maxHamming: Int): Seq[Column] = {
    def band16(b: Int) =
      shiftrightunsigned(dhash, b * 16).bitwiseAND(0xFFFFL)
    if (maxHamming <= 2)
      (for (a <- 0 until 4; b <- a + 1 until 4) yield (a, b)).zipWithIndex.map {
        case ((a, b), idx) => struct(lit(idx).as("band"),
          (band16(a) * lit(65536L) + band16(b)).as("bucket"))
      }
    else (0 until 4).map(b =>
      struct(lit(b).as("band"), band16(b).as("bucket")))
  }

  // ---- planted corpora ------------------------------------------------

  /** Luminance grid whose dHash PROVABLY encodes the group id: 64 bits =
    * the low 21 bits of `g`, each repeated 3× (bit k of the hash = bit
    * (k·13 mod 21) of g — SCATTERED, see the inline comment; bit 63 = 0),
    * so two distinct groups differ in >= 3 dHash bits, and the three
    * copies of each g-bit land at k, k+21, k+42 — always spanning three
    * DISTINCT 16-bit bands, which is why every band pair covers all 21
    * g-bits and cross-group band-bucket collisions are structurally zero
    * in the planted corpora. [[nearDupPairs]] at maxHamming 2 can never
    * pair distinct groups, while
    * every in-group spelling hashes identically. Cells step ±12 in
    * luminance per desired bit from a 128 base (range [32, 224], margin
    * 12 ≫ any single-pixel perturbation's <= 1 effect on a cell mean). */
  private[operators] def groupGrid(g: Long): Array[Array[Int]] = {
    val grid = Array.ofDim[Int](8, 9)
    var i = 0
    while (i < 8) {
      grid(i)(0) = 128
      var j = 0
      while (j < 8) {
        val k = i * 8 + j
        // bit k encodes g-bit (k*13 mod 21): 13 is coprime to 21 and
        // 63 = 3*21, so every g-bit still appears EXACTLY 3 times
        // (>= 3-bit group separation preserved) but SCATTERED across the
        // hash — a contiguous k/3 layout packed each 16-bit band with
        // only ~5 g-bits, so thousands of groups shared each band bucket
        // and the ladder's candidate stage read quadratic from CORPUS
        // clustering the operator doesn't have on real (near-uniform)
        // dHashes
        val bit = if (k == 63) 0L else (g >> ((k * 13) % 21)) & 1L
        grid(i)(j + 1) = grid(i)(j) + (if (bit == 1L) 12 else -12)
        j += 1
      }
      i += 1
    }
    grid
  }

  private[operators] def paint(grid: Array[Array[Int]], cell: Int,
                    perturb: Boolean): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      9 * cell, 8 * cell, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 8 * cell) {
      var x = 0
      while (x < 9 * cell) {
        val l = grid(y / cell)(x / cell)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    // one interior pixel nudged +1: flips the PIXEL hash, provably not
    // the dHash (cell mean moves by 1/cell^2 < the 12-step margin)
    if (perturb) {
      val l = math.min(255, grid(0)(0) + 1)
      img.setRGB(1, 1, (l << 16) | (l << 8) | l)
    }
    img
  }

  private[operators] def encodeImg(img: java.awt.image.BufferedImage,
                        fmt: String, bgr: Boolean): Array[Byte] = {
    val src = if (!bgr) img else {
      // repaint into a different color model: same pixels, different
      // encoder input — the roundtrip a pixel-keyed dedup must collapse
      val c = new java.awt.image.BufferedImage(
        img.getWidth, img.getHeight, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val gr = c.createGraphics()
      try gr.drawImage(img, 0, 0, null) finally gr.dispose()
      c
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, fmt, out)
    out.toByteArray
  }

  /** Exact-dup corpus: four docs per group (g = doc_id / 4) carry the SAME
    * raster under four byte-level spellings — PNG, BMP, PNG via a BGR
    * color-model roundtrip, BMP via BGR — so [[dedupByPixels]]'s groups
    * are pure doc_id arithmetic for the oracle (survivor = 4g). */
  def syntheticDupImageCorpus(docs: DataFrame): DataFrame =
    synthCorpus(docs, perturbLast = false)

  /** Near-dup corpus: spellings 0/1 carry the group raster, spellings 2/3
    * carry the SAME raster with one interior pixel nudged — pixel hashes
    * split 2+2 inside each group, but all four dHashes are (provably)
    * identical, and distinct groups differ by >= 3 bits: [[nearDupPairs]]
    * at maxHamming 2 emits exactly the 6 in-group pairs, Hamming 0. */
  def syntheticNearDupImageCorpus(docs: DataFrame): DataFrame =
    synthCorpus(docs, perturbLast = true)

  private def synthCorpus(docs: DataFrame, perturbLast: Boolean): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ImageIO encode is the per-row cost: spread the single-file scan
    // over the cores (the qe5h lesson)
    docs.select(col("doc_id").cast("long")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        it.map { id =>
          val g = id / 4
          // the grid encodes only the LOW 21 BITS of g: past that, two
          // groups would paint identical rasters and the arithmetic
          // oracles (and the >= 3-bit separation proof) silently break —
          // refuse loudly at the corpus bound (8.4M docs; the OPERATORS
          // have no such bound, only this planted test corpus does)
          require(g < (1L << 21),
            s"synthetic image corpus: group id $g exceeds the 21-bit dHash encoding")
          val v = (id % 4).toInt
          val grid = groupGrid(g)
          val perturb = perturbLast && v >= 2
          val img = paint(grid, cell = 4, perturb = perturb)
          val bytes = v match {
            case 0 => encodeImg(img, "png", bgr = false)
            case 1 => encodeImg(img, "bmp", bgr = false)
            case 2 => encodeImg(img, "png", bgr = true)
            case _ => encodeImg(img, "bmp", bgr = true)
          }
          (id, bytes, if (v % 2 == 0) "image/png" else "image/bmp")
        }
      }.toDF("doc_id", "payload", "mime")
  }
}
