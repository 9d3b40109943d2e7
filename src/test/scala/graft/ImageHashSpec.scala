package graft

import org.apache.spark.sql.functions._

import graft.operators.multimodal.{BinaryPipeline, Bmp, ImageHash}

/** [[ImageHash]]: the invariants the q166/q167 oracle gates cannot
  * phrase — cross-CODEC equality (a re-encoded twin shares no bytes yet
  * must hash identically), planted-near-dup capture vs distinct-image
  * rejection, the hand-computable gradient hash, and the stub contract
  * for undecodable payloads.
  */
class ImageHashSpec extends SparkSpec {
  import spark.implicits._

  private val W = 24
  private val H = 18

  private def bmp(seed: Long) = Bmp.encode(W, H, seed)

  private def hashOf(rows: Seq[(Long, Array[Byte])]) =
    ImageHash.hashes(spark, rows.toDF("doc_id", "blob"), "doc_id", "blob")

  test("a BMP-to-PNG re-encoded twin hashes identically; a distinct image does not") {
    val base = Seq(1L -> bmp(7L), 3L -> bmp(9L))
    val png = BinaryPipeline.transcode(spark,
        Seq(2L -> bmp(7L)).toDF("doc_id", "blob"), "doc_id", "blob", "png")
      .select(col("doc_id"), col("blob"))
    val all = base.toDF("doc_id", "blob").unionByName(png)
    val h = ImageHash.hashes(spark, all, "doc_id", "blob")
      .collect().map(r => r.getLong(0) ->
        (r.getString(3), r.getLong(4), r.getLong(5))).toMap
    assert(h(2L)._1 == "image/png", "transcode must produce a real PNG")
    assert(h(1L)._1 == "image/bmp")
    assert((h(1L)._2, h(1L)._3) == (h(2L)._2, h(2L)._3),
      "byte-disjoint codecs of the SAME pixels must hash identically")
    assert(h(1L)._2 != h(3L)._2, "distinct images must differ in dHash")
    // the pair relation catches exactly the twin
    val pairs = ImageHash.nearDupPairs(
      ImageHash.hashes(spark, all, "doc_id", "blob"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0)),
      s"expected only the cross-codec twin at Hamming 0, got $pairs")
  }

  test("a one-grid-cell corner patch is a caught near-dup at small dHash distance") {
    val twins = Seq(
      (10L, Bmp.encode(W, H, 5L)),
      (11L, Bmp.encodePatched(W, H, 5L, W / 9, H / 7, 128)))
    val pairs = ImageHash.nearDupPairs(hashOf(twins), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.length == 1 && pairs.head._1 == 10L && pairs.head._2 == 11L)
    assert(pairs.head._3 <= 1,
      s"a single patched grid cell flips at most the (0,0) diff bit, got ${pairs.head._3}")
  }

  test("a strict left-to-right luminance gradient sets every dHash bit") {
    // hand-built payload: every channel byte = 5·x, so sampled luminance
    // strictly increases along each grid row → all 56 difference bits set
    val rowSize = (3 * W + 3) / 4 * 4
    val data = new Array[Byte](rowSize * H)
    for (row <- 0 until H; colB <- 0 until rowSize)
      data(row * rowSize + colB) =
        (if (colB < 3 * W) 5 * (colB / 3) else 0).toByte
    val blob = Bmp.wrapDib(W, H, data)
    val h = hashOf(Seq(100L -> blob)).head()
    assert(h.getLong(4) == (1L << 56) - 1,
      s"gradient dHash must be all-ones, got ${h.getLong(4).toHexString}")
  }

  test("undecodable payloads carry null hashes and never pair") {
    val junk = Array.fill[Byte](64)(42)
    val rows = hashOf(Seq(1L -> bmp(3L), 2L -> junk))
    val byId = rows.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getString(3) == "fake/raw" && byId(2L).isNullAt(4) &&
      byId(2L).isNullAt(5))
    assert(ImageHash.nearDupPairs(rows, "doc_id").count() == 0)
  }

  test("banded retrieval rejects maxHamming >= bands loudly") {
    val e = intercept[IllegalArgumentException] {
      ImageHash.nearDupPairs(hashOf(Seq(1L -> bmp(1L))), "doc_id",
        maxHamming = 3, bands = 3)
    }
    assert(e.getMessage.contains("exact only for maxHamming < bands"))
  }

  test("band widths partition the 56 bits for any band count") {
    for (bands <- 1 to 8) {
      val w = ImageHash.bandWidths(bands)
      assert(w.sum == ImageHash.Bits && w.forall(_ >= 1))
    }
  }

  test("verify-at-join, then a narrow dedup: the load-bearing plan order") {
    // Both orders of getting this wrong were measured at 100× (500k
    // images, q167's corpus): the popcount cut must execute AT the band join —
    // BELOW the multi-band dedup aggregate — and the aggregate itself
    // must group on ids with only the 4-byte precomputed ham columns,
    // never the four 8-byte hash columns.
    val df = ImageHash.nearDupPairs(
      hashOf(Seq(1L -> bmp(1L), 2L -> bmp(1L), 3L -> bmp(2L))), "doc_id")
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def aggs(p: SparkPlan): Seq[BaseAggregateExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => aggs(a.executedPlan)
        case q: QueryStageExec        => aggs(q.plan)
        case b: BaseAggregateExec     => Seq(b)
        case _                        => Seq.empty
      }
      self ++ p.children.flatMap(aggs)
    }
    val pairAggs = aggs(df.queryExecution.executedPlan).filter(
      _.groupingExpressions.exists(_.toString.contains("a_id")))
    assert(pairAggs.nonEmpty, "the multi-band dedup must be an aggregate")
    pairAggs.foreach { a =>
      val cols = (a.groupingExpressions ++ a.aggregateExpressions)
        .map(_.toString).mkString(",")
      assert(!cols.contains("dhash") && !cols.contains("ahash") &&
        !cols.contains("a_d#") && !cols.contains("b_d#") &&
        !cols.contains("a_a#") && !cols.contains("b_a#"),
        s"the dedup aggregate must not carry 8-byte hash columns: $cols")
      // the popcount verify sits BELOW the aggregate (at the band join)
      assert(a.toString.contains("bit_count"),
        s"the popcount cut must execute below the dedup aggregate:\n$a")
    }
  }
}
