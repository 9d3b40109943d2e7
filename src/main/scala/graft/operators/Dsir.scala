package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.dedup.TextShingles

/** DSIR-style data selection via hashed n-gram importance weights (Xie
  * et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"): score every document by how target-like its hashed
  * n-gram distribution is, then keep the top `keepPct`% — the
  * statistical sibling of the rule-based filters (#38/#38b): Gopher
  * rules say what good text LOOKS like, DSIR says what the target
  * CORPUS looks like.
  *
  * Exact-arithmetic variant (the repo's libm-free discipline — the paper
  * scores with Σ cnt_f·log(p_tgt(f)/p_raw(f)), but log is libm-bound and
  * a float Σ over a shuffle is order-sensitive): per-bucket weights are
  * SCALED INTEGER likelihood ratios with add-one smoothing,
  * {{{
  *   tw  = (WScale · (rawT + buckets)) DIV (tgtT + buckets)   // totals ratio
  *   w_f = ((tgt_f + 1) · tw) DIV (raw_f + 1)                 // ≤ tw: tgt_f ≤ raw_f
  *   s_d = Σ_f cnt_{d,f} · w_f                                // exact BIGINT sum
  *   spt = (s_d · RScale) DIV n_feat_d                        // per-feature score
  * }}}
  * A MEAN of ratios instead of a sum of logs — a monotone-comparable
  * surrogate with the same "weights features the target over-represents"
  * shape, and every step bit-replayable in integer SQL. The selection
  * cut is an exact-rank threshold ([[Quantiles.exactDiscreteAtRank]],
  * a running count by [[PrefixSum]]):
  * keep spt ≥ the (n − (n·keepPct) DIV 100 + 1)-th smallest — ties at
  * the threshold all survive (deterministic; ≥ keepPct% kept).
  *
  * Features: [[TextShingles.shingleHashesAll]] word-n-grams (every
  * occurrence, md5-mod hashing — the q21/q22 shingle discipline) folded
  * into `buckets` hash buckets.
  *
  * Scale shape: one (doc, bucket) partial-agg shuffle (the q54 tf
  * shape), one `buckets`-row stats agg, a BROADCAST weight join (the
  * weight table is ≤ `buckets` rows by construction), one per-doc agg,
  * and the exact-rank cut. Driver state: the two corpus totals
  * and the node count inside the rank cut — three bounded longs. Two
  * overflow guards, both loud: the [[WScale]] require keeps every
  * summand under 2⁶² (tw < 2³¹ and per-doc counts < 2³¹; tgt_f ≤ raw_f
  * caps every w_f at tw), and the spt projection raise_errors when
  * `score · RScale` would exceed 2⁶³ — score itself can approach
  * n_feat·tw for feature-heavy docs, so the scaling would otherwise
  * wrap around silently.
  */
object Dsir {

  /** Hashed feature-space width. 256 keeps the weight table broadcast-
    * trivial at any corpus size; raise for sharper target modeling (the
    * paper uses 10⁴ — still broadcastable).
    */
  val Buckets = 256

  /** Weight scale: w_f carries 6 digits of the likelihood ratio. */
  val WScale = 1000000L

  /** Per-feature score scale for the final integer division. */
  val RScale = 1000L

  /** Select the top `keepPct`% most target-like documents. `targetPred`
    * marks the target subcorpus (rows of `docs`, e.g. a trusted
    * high-quality source). Returns
    * (doc_id, n_feat, score, score_per_tok) for survivors. Documents
    * whose normalized text is empty carry no features and are excluded
    * from both the statistics and the selection.
    */
  def select(docs: DataFrame, idCol: String, textCol: String,
             targetPred: Column, keepPct: Int, ngram: Int = 2,
             buckets: Int = Buckets): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100, s"keepPct in [1,100], got $keepPct")
    require(buckets >= 2, "need at least 2 hash buckets")
    val norm = graft.functions.TextFns.normalizeText(col(textCol))
    val base = docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull &&
        length(norm) > 0)
      .select(col(idCol).as("doc_id"),
        targetPred.as("__tgt"),
        explode(TextShingles.shingleHashesAll(col(textCol), ngram)).as("__h"))
      .select(col("doc_id"), col("__tgt"), (col("__h") % buckets).as("f"))
    val cnt = OpCache.cache(base.groupBy(col("doc_id"), col("f"))
      .agg(count(lit(1)).as("c"), first(col("__tgt")).as("__tgt")))
    val bucketStats = cnt.groupBy(col("f"))
      .agg(sum(col("c")).as("rf"),
        sum(when(col("__tgt"), col("c")).otherwise(0L)).as("tf"))
    // two bounded driver scalars: the corpus totals behind the ratio
    val tot = bucketStats.agg(
      coalesce(sum(col("rf")), lit(0L)).as("rT"),
      coalesce(sum(col("tf")), lit(0L)).as("tT")).head()
    val (rawT, tgtT) = (tot.getLong(0), tot.getLong(1))
    require(tgtT > 0, "target subcorpus is empty — no distribution to match")
    val tw = (WScale * (rawT + buckets)) / (tgtT + buckets)
    require(tw > 0 && tw < Int.MaxValue.toLong,
      s"totals ratio out of range (tw=$tw): raise the target share or " +
        "lower WScale — cnt*w would overflow past 2^62")
    val weights = bucketStats
      .select(col("f"), expr(s"((tf + 1L) * ${tw}L) DIV (rf + 1L)").as("w"))
    // score can approach n_feat·tw, so score·RScale can pass 2^63 for
    // feature-heavy docs — a silent BIGINT wraparound; fail loudly instead
    // (codegen'd, no extra pass — the ZOrder/RangeJoin guard shape)
    val sptGuarded = when(col("score") > lit(Long.MaxValue / RScale),
      raise_error(concat(
        lit(s"Dsir: score * $RScale overflows BIGINT for doc_id "),
        col("doc_id").cast("string"),
        lit(" (score "), col("score").cast("string"),
        lit(s"); lower WScale or split the document"))))
      .otherwise(expr(s"(score * $RScale) DIV n_feat"))
    val scored = OpCache.cache(cnt
      .join(broadcast(weights), "f")
      .groupBy(col("doc_id"))
      .agg(sum(expr("c * w")).as("score"), sum(col("c")).as("n_feat"))
      .select(col("doc_id"), col("n_feat"), col("score"),
        sptGuarded.as("score_per_tok")))
    val thr = Quantiles.exactDiscreteAtRank(scored, col("score_per_tok"),
      n => n - (n * keepPct) / 100 + 1)
    scored.crossJoin(broadcast(thr.select(col("value").as("__thr"))))
      .filter(col("score_per_tok") >= col("__thr"))
      .select("doc_id", "n_feat", "score", "score_per_tok")
  }
}
