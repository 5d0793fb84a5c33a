package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ext.MultiModal.MediaRecord

/** Perceptual image deduplication — dHash (difference hash), the
  * standard near-duplicate image fingerprint: resize the luma plane to
  * a (w+1)×h grid, set bit (r, c) iff luma(r, c) > luma(r, c+1), giving
  * a 64-bit signature (w=8, h=8) whose Hamming distance tracks visual
  * similarity. Two properties make it the pipeline workhorse: exact
  * INVARIANCE under uniform brightness/contrast shifts (only adjacent-
  * pixel ORDER matters — ImageHashSpec pins it), and robustness to
  * re-encoding and small edits (a few flipped bits, not a new hash).
  *
  * Candidate generation at corpus scale is the Hamming-LSH pigeonhole:
  * split the 256-bit hash into its 4 disjoint 64-bit words — any pair
  * within Hamming distance ≤ 3 has 4 bands and at most 3 differing
  * bits, so at least ONE band matches exactly (the x02 band-equi-join
  * shape, never all-pairs). Verification recomputes the true Hamming
  * distance on the candidates only. The hash is 256-bit (17×16 grid)
  * rather than the classic 64-bit 9×8 BECAUSE of the band width:
  * SCALE-IMGDHASH measured that 16-bit band keys carry an
  * n²/2¹⁶-class random-collision floor (content-entropy-dependent,
  * quadratic), while 64-bit band keys push that floor to n²/2⁶⁴ —
  * nonexistent at any corpus size; the [[dHash]] 64-bit form stays
  * for contexts that want the compact fingerprint itself.
  *
  * Decode rides [[MultiModal]]'s real codecs (P6 in plain Scala; PNG,
  * JPEG and GIF through the JDK's `javax.imageio` behind one guarded
  * helper); undecodable payloads yield no hash row — a gate must not
  * invent fingerprints for bytes it cannot read.
  */
object ImageHash {

  /** AREA-MEAN luma grid: `cols`×`rows` cells, each the mean luma of
    * its pixel block. Area mean — not the codec's nearest-neighbor
    * point sampling — is what makes the hashes survive lossy
    * re-encodes: a quality-90 JPEG round trip ripples individual
    * pixels by ±8 but cell MEANS by well under a luma step, so
    * comparisons with any real margin never flip (ImageHashSpec pins
    * the JPEG round trip within the banded join's Hamming-3 reach).
    */
  private def lumaGrid(img: Ppm.Image, cols: Int, rows: Int): Array[Double] = {
    val w = img.width; val h = img.height
    val means = new Array[Double](cols * rows)
    var r = 0
    while (r < rows) {
      val y0 = r * h / rows; val y1 = math.max(y0 + 1, (r + 1) * h / rows)
      var c = 0
      while (c < cols) {
        val x0 = c * w / cols; val x1 = math.max(x0 + 1, (c + 1) * w / cols)
        var s = 0.0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = (y * w + x) * 3
            s += 0.2126 * (img.pixels(p) & 0xff) +
              0.7152 * (img.pixels(p + 1) & 0xff) +
              0.0722 * (img.pixels(p + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        means(r * cols + c) = s / ((y1 - y0) * (x1 - x0))
        c += 1
      }
      r += 1
    }
    means
  }

  /** Classic 64-bit dHash (9×8 area-mean grid, adjacent-cell
    * comparisons) — the compact single-long fingerprint.
    */
  def dHash(img: Ppm.Image): Long = {
    val means = lumaGrid(img, 9, 8)
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (means(r * 9 + c) > means(r * 9 + c + 1))
          hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** 256-bit dHash (17×16 area-mean grid, 16 comparisons × 16 rows)
    * as 4 longs — the BANDING form: its 64-bit words are the LSH band
    * keys, wide enough that random band collisions never happen (see
    * the object doc).
    */
  def dHash256(img: Ppm.Image): Array[Long] = {
    val means = lumaGrid(img, 17, 16)
    val hash = new Array[Long](4)
    var r = 0
    while (r < 16) {
      var c = 0
      while (c < 16) {
        if (means(r * 17 + c) > means(r * 17 + c + 1)) {
          val bit = r * 16 + c
          hash(bit >> 6) |= 1L << (bit & 63)
        }
        c += 1
      }
      r += 1
    }
    hash
  }

  def hamming256(a: Seq[Long], b: Seq[Long]): Int = {
    var d = 0
    var i = 0
    while (i < 4) { d += java.lang.Long.bitCount(a(i) ^ b(i)); i += 1 }
    d
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** (doc_id, dhash: array<long>[4]) for every decodable image in the
    * media set — per-partition batch decode, the
    * [[MultiModal.featurize]] dataflow; the 256-bit banding hash.
    */
  def hashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { batch =>
      batch.flatMap { rec =>
        Ppm.decode(rec.content).orElse(Png.decode(rec.content))
          .orElse(Jpeg.decode(rec.content))
          .orElse(Gif.decode(rec.content))
          .map(img => (rec.doc_id, dHash256(img).toSeq))
      }
    }.toDF("doc_id", "dhash")
  }

  /** Near-duplicate DOC pairs within `maxHamming` (≤ 3 for the 4-band
    * pigeonhole to be exhaustive): band equi-join candidates, exact
    * Hamming verification, then ONE row per (id_a, id_b) carrying the
    * MINIMUM distance across the docs' images — a doc with several
    * images contributes its closest image pair, so the output reads as
    * doc pairs (ADVICE r12: a plain distinct on (pair, dist) leaked one
    * row per distinct per-image distance).
    */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      "4 disjoint 64-bit bands are exhaustive only to Hamming 3")
    bandCandidates(hashes)
      .filter(col("dist") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("dist")).as("dist"))
  }

  /** The raw banded-join candidate stream BEFORE the Hamming filter —
    * one row per (pair, matching band), so its row count is the
    * candidate MASS the band equi-join actually generates (the
    * quantity SCALE-IMGDHASH pins ~linear in the corpus for the
    * 64-bit-band form). nearDupPairs is exactly this, filtered and
    * collapsed per pair.
    */
  def bandCandidates(hashes: DataFrame): DataFrame = {
    val banded = hashes.select(col("doc_id"), col("dhash"),
      posexplode(col("dhash")))
      .select(col("doc_id"), col("dhash"),
        col("pos").as("band"), col("col").as("band_bits"))
    banded.as("a").hint("merge")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("CAST(bit_count(a.dhash[0] ^ b.dhash[0]) " +
          "+ bit_count(a.dhash[1] ^ b.dhash[1]) " +
          "+ bit_count(a.dhash[2] ^ b.dhash[2]) " +
          "+ bit_count(a.dhash[3] ^ b.dhash[3]) AS INT)").as("dist"))
  }
}
