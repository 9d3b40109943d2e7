package graft.operators.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.plans.ImageGridHash

/** One decoded sampled-luminance grid row ([[ImageHash.grids]]); stub
  * rows (undecodable payloads) carry None features.
  */
final case class ImageGridRow(doc_id: Long, width: Option[Int],
    height: Option[Int], format: String, grid: Option[Array[Int]])

/** IMAGE perceptual-hash near-duplication — the multimodal leg of the
  * dedup family (SURVEY §2 items 41b/41c): LAION-class corpora dedup
  * IMAGES before training, and lexical fingerprints see only bytes — a
  * BMP↔PNG re-encode of the same picture shares not one byte. dHash /
  * aHash (difference / average hash — the classic integer perceptual
  * hashes; pHash's DCT floats would not be bitwise cross-engine
  * replayable) over the DECODED pixels are re-encode-invariant by
  * construction, and Hamming-banded retrieval turns pairwise comparison
  * into a bucket join.
  *
  * Stage shape:
  *  1. [[grids]] — REAL decode (javax.imageio, magic-sniffed like
  *     [[BinaryPipeline.decodeFeatures]]) batched per partition, reduced
  *     to a [[ImageGridHash.GridRows]]×[[ImageGridHash.GridCols]]
  *     POINT-SAMPLED luminance grid: sample pixel
  *     (gx·w DIV GridCols, gy·h DIV GridRows), luminance = r+g+b
  *     (0..765, integer — the classic area-average downsample needs a
  *     division whose rounding an external oracle would have to chase;
  *     point sampling is exact everywhere).
  *  2. [[hashes]] — the [[graft.plans.ImageGridHash]] codegen expression
  *     folds each grid into 56-bit dHash/aHash inside whole-stage
  *     codegen.
  *  3. [[nearDupPairs]] — banded Hamming retrieval: split the dHash into
  *     `bands` contiguous bit ranges; pairs sharing ANY band key are
  *     candidates; verify popcount(xor) ≤ maxHamming. With
  *     maxHamming < bands the pigeonhole guarantees a clean band for
  *     every true pair, so retrieval is EXACT (not approximate) at the
  *     configured radius — the oracle can replay it as a plain
  *     quadratic hamming join.
  *
  * Scale shape: decode/hash are one narrow CPU pass (no shuffle beyond
  * the encode-side spread); the pair join shuffles (band, key) tuples —
  * `bands·n` rows. Candidate mass is the real dial: random un-related
  * hashes collide on a `w`-bit band with probability 2^-w, so expected
  * background candidates ≈ bands·n²/2^(56/bands)/2 — WIDE bands (few,
  * at small maxHamming) keep that subquadratic far longer than many
  * 8-bit bands would. Default maxHamming = 2 → 3 bands of ~19 bits:
  * background collisions reach the corpus size n only around
  * n ≈ 2^19·3 ≈ 1.5M per distinct-image population, and true duplicate
  * GROUPS cost group² pairs — inherent to emitting the pair relation
  * (the same contract as every other pair generator here; DupClusters
  * consumes the pairs either way). For a larger radius, raise
  * maxHamming and bands together (exactness needs maxHamming < bands)
  * and budget the narrower-band collision mass accordingly.
  */
object ImageHash {

  /** Hash width in bits (7 rows × 8 difference columns). */
  val Bits: Int = ImageGridHash.Bits

  /** Default Hamming radius / band count: 3 bands of ⌈56/3⌉ bits —
    * exact at radius 2, widest keys (fewest background collisions).
    */
  val DefaultMaxHamming = 2

  /** (idCol, width, height, format, grid) — one row per input; payloads
    * no ImageIO reader decodes carry a null grid and format 'fake/raw'
    * (the [[BinaryPipeline]] stub-labeling contract).
    */
  def grids(spark: SparkSession, df: DataFrame, idCol: String,
            blobCol: String): DataFrame = {
    import spark.implicits._
    val gc = ImageGridHash.GridCols
    val gr = ImageGridHash.GridRows
    df.select(col(idCol).cast("long"), col(blobCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, blob) =>
        val real = BinaryPipeline.sniff(blob).flatMap { fmt =>
          (try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(blob)))
          catch { case scala.util.control.NonFatal(_) => None })
            .map(img => (img, fmt))
        }
        real match {
          case Some((img, fmt)) =>
            ImageGridRow(id, Some(img.getWidth), Some(img.getHeight), fmt,
              Some(gridOf(img)))
          case None => ImageGridRow(id, None, None, "fake/raw", None)
        }
      })
      .toDF()
      .withColumnRenamed("doc_id", idCol)
  }

  /** The point-sampled luminance grid from an ALREADY-decoded frame —
    * exposed so single-decode pipelines (MediaCurationPipeline) derive
    * it and the content fingerprint from ONE ImageIO.read.
    */
  private[graft] def gridOf(img: java.awt.image.BufferedImage): Array[Int] = {
    val gc = ImageGridHash.GridCols
    val gr = ImageGridHash.GridRows
    val w = img.getWidth
    val h = img.getHeight
    val g = new Array[Int](gr * gc)
    var gy = 0
    while (gy < gr) {
      var gx = 0
      while (gx < gc) {
        val rgb = img.getRGB(gx * w / gc, gy * h / gr)
        g(gy * gc + gx) = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
          (rgb & 0xff)
        gx += 1
      }
      gy += 1
    }
    g
  }

  /** (idCol, width, height, format, dhash, ahash): [[grids]] folded by
    * the codegen hash expressions; null grid → null hashes.
    */
  def hashes(spark: SparkSession, df: DataFrame, idCol: String,
             blobCol: String): DataFrame = {
    val g = grids(spark, df, idCol, blobCol)
    def hash(d: Boolean) = ColumnBridge.column(
      ImageGridHash(ColumnBridge.expression(col("grid")), dhash = d))
    g.select(col(idCol), col("width"), col("height"), col("format"),
      hash(d = true).as("dhash"), hash(d = false).as("ahash"))
  }

  /** Contiguous band bit-widths for `bands` bands over [[Bits]] bits
    * (first `Bits mod bands` bands take the extra bit).
    */
  def bandWidths(bands: Int): Seq[Int] = {
    val base = Bits / bands
    val extra = Bits % bands
    (0 until bands).map(b => base + (if (b < extra) 1 else 0))
  }

  /** Exact Hamming-≤maxHamming dHash pairs via band-bucket retrieval:
    * (a_id, b_id, ham_d, ham_a), a_id < b_id, undecodable rows (null
    * hashes) excluded. Exactness: maxHamming < bands ⇒ every qualifying
    * pair shares at least one untouched band (pigeonhole), so the
    * banded candidate set is a superset of the answer and the popcount
    * filter trims it to exactly the Hamming ball.
    */
  def nearDupPairs(hashes: DataFrame, idCol: String,
                   maxHamming: Int = DefaultMaxHamming,
                   bands: Int = DefaultMaxHamming + 1): DataFrame = {
    require(bands >= 1 && bands <= Bits, s"bands in [1,$Bits], got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"banded retrieval is exact only for maxHamming < bands, " +
        s"got maxHamming=$maxHamming bands=$bands")
    // cached: the banded frame feeds both join sides over the whole
    // decode+hash lineage — one decode pass, guaranteed
    val h = graft.operators.OpCache.cache(
      hashes.filter(col("dhash").isNotNull)
        .select(col(idCol).as("hid"), col("dhash"), col("ahash")))
    // VERIFY AT THE JOIN, then dedup narrow rows. Order matters at
    // scale and both ways of getting it wrong were measured on a 100×
    // corpus (500k images, a one-off q167 probe): the hashes must ride the band
    // join so the popcount cut executes against the join output —
    // correlated corpora produce ~25× more band candidates than true
    // pairs (314M vs 12.5M there), and deduplicating ids BEFORE the cut
    // pushes all of them through the exchange (227 s); conversely the
    // multi-band dedup must run on the POST-cut (a_id, b_id, hams)
    // projection — 24 B/row — not on rows still carrying the four 8-byte
    // hash columns (the r18 shape this round narrowed ~2×).
    val banded = bandedPostings(h, "hid", bands)
    val a = banded.select(col("band"), col("key"), col("hid").as("a_id"),
      col("dhash").as("a_d"), col("ahash").as("a_a"))
    val b = banded.select(col("band"), col("key"), col("hid").as("b_id"),
      col("dhash").as("b_d"), col("ahash").as("b_a"))
    a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id") &&
        bit_count(col("a_d").bitwiseXOR(col("b_d"))) <= maxHamming)
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_d").bitwiseXOR(col("b_d"))).cast("int").as("ham_d"),
        bit_count(col("a_a").bitwiseXOR(col("b_a"))).cast("int").as("ham_a"))
      .groupBy(col("a_id"), col("b_id"))
      // hams are functions of the ids: multi-band duplicates agree, min
      // is just the deterministic pick
      .agg(min(col("ham_d")).as("ham_d"), min(col("ham_a")).as("ham_a"))
  }

  /** The array of (band, key) structs for the `hashCol`-named 56-bit
    * hash — exploded by every banded consumer ([[nearDupPairs]], the
    * audio leg, the incremental index), with whatever verify columns
    * the caller carries alongside.
    */
  private[graft] def bandKeys(hashCol: String,
                              bands: Int): org.apache.spark.sql.Column = {
    val widths = bandWidths(bands)
    val offsets = widths.scanLeft(0)(_ + _).init
    array(widths.indices.map { b =>
      struct(lit(b).as("band"),
        shiftright(col(hashCol), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("key"))
    }: _*)
  }

  /** The band-bucket POSTINGS of the `hashCol`-named 56-bit hash WITH
    * the hash columns riding: (carried…, band, key), `bands` rows per
    * input — the substrate the incremental index persists (hashes in
    * the postings so the popcount verify runs AT the bucket join; see
    * [[nearDupPairs]] for why that order is load-bearing).
    */
  private[graft] def bandedPostings(h: DataFrame, idCol: String,
      bands: Int, hashCol: String = "dhash"): DataFrame = {
    val carried = h.columns.map(col)
    h.select(carried :+ explode(bandKeys(hashCol, bands)).as("bk"): _*)
      .select(carried :+ col("bk.band").cast("int").as("band") :+
        col("bk.key").as("key"): _*)
  }
}
