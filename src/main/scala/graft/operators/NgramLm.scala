package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CCNet-style n-gram language-model quality filter (Wenzek et al. 2020,
  * "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
  * Data"): train an n-gram LM on a trusted target corpus, score every
  * document by how well the LM predicts it, keep the best-scoring slice
  * — the third leg of the curation-filter family: Gopher rules (#38b)
  * say what good text LOOKS like, DSIR ([[Dsir]]) says what the target
  * corpus's FEATURE MIX looks like, the LM score says how PREDICTABLE
  * the text is under the target's sequential statistics (boilerplate and
  * gibberish are unpredictable; fluent prose is not).
  *
  * Bigram stupid backoff (Brants et al. 2007, "Large Language Models in
  * Machine Translation" §3): the per-token score is
  * {{{
  *   S(w | prev) = c2(prev,w) / c1(prev)            if c2 > 0
  *               = α · (c1(w)+1) / (N+V)            otherwise (α = 0.4)
  *   S(w | ∅)    = (c1(w)+1) / (N+V)                doc-start: no context
  * }}}
  * with c1/c2 the target-corpus unigram/bigram counts, N the target
  * token total, V the target vocabulary size (add-one smoothing keeps
  * unseen words nonzero; stupid backoff deliberately does not normalize
  * — it is a score, not a probability, which is exactly why it
  * integer-scales cleanly).
  *
  * Exact-arithmetic variant (the repo's libm-free discipline — CCNet
  * scores with KenLM log₁₀-perplexity, but log is libm-bound and a float
  * Σ over a shuffle is order-sensitive): each per-token rational is a
  * SCALED INTEGER `s_t = (SScale·num) DIV den ≤ SScale` (c2 ≤ c1(prev)
  * always — a bigram occurrence IS an occurrence of its context; the
  * backoff numerators are ≤ their denominators by construction), the doc
  * score is the exact BIGINT sum `Σ c·s` over its (prev,w) multiset, and
  * `lm_score_per_tok = (Σ·RScale) DIV n_tok` — an arithmetic-MEAN token
  * score instead of the geometric mean behind perplexity: a monotone-
  * comparable surrogate with the same "unpredictable text scores low"
  * shape, bit-replayable in integer SQL. The keep cut is the exact-rank
  * threshold ([[Quantiles.exactDiscreteAtRank]] on [[PrefixSum]], the
  * [[Dsir]] tail):
  * keep lm_score_per_tok ≥ the (n − (n·keepPct) DIV 100 + 1)-th
  * smallest; threshold ties all survive.
  *
  * Scale shape: ONE (doc, prev, w) partial-agg shuffle (the q54 tf
  * shape — the bigram multiset is built by a single in-projection
  * `transform` over the token array, no self-join, no positional
  * carry-through), two target-side aggs reusing that frame, three
  * broadcast hash joins against the count tables (unigram as word,
  * unigram as context, bigram), one per-doc agg, and the exact-rank
  * cut. Driver state: the (N, V) pair inside one 2-long agg
  * plus the rank cut's P partition totals — all bounded. The count
  * tables are CURATED-TARGET-sized (CCNet's is Wikipedia), so broadcast
  * is the usual route; the DEFAULT is now AUTO ([[JoinRouting]]): the
  * already-paid (N, V) agg sizes the count tables against the session's
  * autoBroadcastJoinThreshold (bigram rows ≤ N) and an unusually wide
  * target vocabulary falls back to shuffle joins with no manual knob —
  * `broadcastCounts = Some(true/false)` remains the override. Overflow is
  * loud twice: a require keeps `AlphaDen·SScale·(N+V)` under 2⁶³ at
  * train time, and the per-token projection raise_errors if the doc sum
  * would wrap under RScale (the [[Dsir]] spt guard shape).
  */
object NgramLm {

  /** Per-token score scale: s_t carries 6 digits of the rational. */
  val SScale = 1000000L

  /** Per-token mean scale for the final integer division. */
  val RScale = 1000L

  /** Stupid-backoff α = AlphaNum/AlphaDen = 0.4 (Brants et al. 2007). */
  val AlphaNum = 2L
  val AlphaDen = 5L

  /** (doc_id, prev, w, c, <flag per stratum>) bigram-multiset counts for
    * all docs with non-empty normalized text. prev is NULL for each
    * document's first token (scored by the context-free unigram rule).
    * Each (name, predicate) in `strata` becomes a doc-constant flag
    * column — so ONE (doc, prev, w) shuffle serves every LM trained over
    * the same corpus ([[contrastiveFlagged]] trains two).
    */
  private def gramCounts(docs: DataFrame, idCol: String, textCol: String,
                         strata: Seq[(String, Column)]): DataFrame = {
    val norm = graft.functions.TextFns.normalizeText(col(textCol))
    val flags = strata.map { case (n, p) => p.as(n) }
    // spread BEFORE the normalize/tokenize/explode pipeline (round 21,
    // guide §2.5 / Spread.wide): a single-split corpus would run the
    // whole-text regex and the bigram explode on one core up to the
    // groupBy's exchange; the guarded spread shuffles the (much smaller)
    // raw text rows once and is a no-op on a many-split scan
    val toks = Spread.wide(
        docs.filter(col(idCol).isNotNull && col(textCol).isNotNull),
        col(idCol))
      .filter(length(norm) > 0)
      .select(col(idCol).as("doc_id") +: split(norm, " ").as("t") +: flags: _*)
    // one projection builds the (w, prev) pair array — element_at is
    // 1-based, so for 0-based index i the previous token is element_at(t, i);
    // the when() guard keeps the i=0 lookup unevaluated (ANSI mode throws
    // on index 0)
    val pairs = transform(col("t"), (w, i) =>
      struct(w.as("w"),
        when(i > lit(0), element_at(col("t"), i)).as("prev")))
    val flagCols = strata.map { case (n, _) => col(n) }
    toks.select(col("doc_id") +: explode(pairs).as("g") +: flagCols: _*)
      .select(Seq(col("doc_id"), col("g.prev").as("prev"),
        col("g.w").as("w")) ++ flagCols: _*)
      .groupBy(col("doc_id"), col("prev"), col("w"))
      .agg(count(lit(1)).as("c"),
        strata.map { case (n, _) => first(col(n)).as(n) }: _*)
  }

  /** Score every document of a prepared gram-count frame under the LM
    * trained on the `flagCol` stratum — the shared core of [[score]]
    * and [[contrastiveFlagged]]. See [[score]] for the contract.
    */
  private def scoreFrom(cnt: DataFrame, flagCol: String,
                        broadcastCounts: Option[Boolean]): DataFrame = {
    val uni = cnt.filter(col(flagCol))
      .groupBy(col("w")).agg(sum(col("c")).as("c1"))
    val big = cnt.filter(col(flagCol) && col("prev").isNotNull)
      .groupBy(col("prev"), col("w")).agg(sum(col("c")).as("c2"))
    // two bounded driver scalars: target token total and vocabulary size
    val tot = uni.agg(coalesce(sum(col("c1")), lit(0L)).as("n"),
      count(lit(1)).as("v")).head()
    val (n, v) = (tot.getLong(0), tot.getLong(1))
    require(n > 0, "target subcorpus is empty — no LM to train")
    require(n + v < Long.MaxValue / (SScale * AlphaDen),
      s"target too large for exact arithmetic (N=$n V=$v): " +
        s"AlphaDen*SScale*(N+V) would overflow BIGINT — lower SScale")
    // auto-routing (JoinRouting): the bigram table is the largest count
    // table and its distinct-row count is bounded by BOTH N (every bigram
    // type occurs at least once) AND V² (there are only V² type pairs) —
    // min of the two, from the already-paid (N, V) agg: V² binds for
    // narrow vocabularies (token-heavy synthetic/templated corpora), N
    // for natural text; the knob stays as an explicit override
    val vv = if (v >= 3037000499L) Long.MaxValue else v * v // v² < 2⁶³ guard
    val bc = JoinRouting.route(cnt.sparkSession, broadcastCounts,
      math.min(n, vv))
    val uw = bc(uni.select(col("w").as("__uw"), col("c1").as("__c1w")))
    val up = bc(uni.select(col("w").as("__up"), col("c1").as("__c1p")))
    val bg = bc(big.select(col("prev").as("__bp"), col("w").as("__bw"),
      col("c2").as("__c2")))
    val c1w = coalesce(col("__c1w"), lit(0L))
    // c2 ≤ c1(prev): a bigram occurrence is an occurrence of its context,
    // so the seen branch is ≤ SScale; both backoff numerators are ≤ their
    // denominators — every s_t ≤ SScale by construction
    val s = when(col("prev").isNull,
        expr(s"($SScale * (__c1w_p1)) DIV ${n + v}"))
      .when(col("__c2").isNotNull,
        expr(s"($SScale * __c2) DIV __c1p"))
      .otherwise(expr(s"($AlphaNum * $SScale * (__c1w_p1)) DIV ${AlphaDen * (n + v)}"))
    val perTok = cnt
      .join(uw, col("w") === col("__uw"), "left")
      .join(up, col("prev") === col("__up"), "left")
      .join(bg, col("prev") === col("__bp") && col("w") === col("__bw"), "left")
      .withColumn("__c1w_p1", c1w + lit(1L))
      .select(col("doc_id"), col("c"), s.as("s"))
    // lm_score ≤ SScale·n_tok, so the RScale product wraps only for docs
    // past ~9·10¹² tokens — fail loudly instead of silently (Dsir's guard)
    val perTokGuarded = when(col("lm_score") > lit(Long.MaxValue / RScale),
      raise_error(concat(
        lit(s"NgramLm: lm_score * $RScale overflows BIGINT for doc_id "),
        col("doc_id").cast("string"),
        lit(" (lm_score "), col("lm_score").cast("string"),
        lit("); lower SScale or split the document"))))
      .otherwise(expr(s"(lm_score * $RScale) DIV n_tok"))
    perTok.groupBy(col("doc_id"))
      .agg(sum(expr("c * s")).as("lm_score"), sum(col("c")).as("n_tok"))
      .select(col("doc_id"), col("n_tok"), col("lm_score"),
        perTokGuarded.as("lm_score_per_tok"))
  }

  /** Score every document: (doc_id, n_tok, lm_score, lm_score_per_tok).
    * `targetPred` marks the trusted target subcorpus (rows of `docs`).
    * Documents whose normalized text is empty carry no tokens and are
    * excluded from both the LM statistics and the scoring.
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
            targetPred: Column,
            broadcastCounts: Option[Boolean] = None): DataFrame = {
    val cnt = OpCache.cache(
      gramCounts(docs, idCol, textCol, Seq("__tgt" -> targetPred)))
    scoreFrom(cnt, "__tgt", broadcastCounts)
  }

  /** [[score]] plus the CCNet head cut as a kept flag: every scored doc
    * with `keep = lm_score_per_tok ≥ the exact-rank threshold` for the
    * top `keepPct`%. Ties at the threshold all survive (deterministic;
    * ≥ keepPct% kept).
    */
  def flagged(docs: DataFrame, idCol: String, textCol: String,
              targetPred: Column, keepPct: Int,
              broadcastCounts: Option[Boolean] = None): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100, s"keepPct in [1,100], got $keepPct")
    val scored = OpCache.cache(
      score(docs, idCol, textCol, targetPred, broadcastCounts))
    val thr = Quantiles.exactDiscreteAtRank(scored, col("lm_score_per_tok"),
      nn => nn - (nn * keepPct) / 100 + 1)
    scored.crossJoin(broadcast(thr.select(col("value").as("__thr"))))
      .select(col("doc_id"), col("n_tok"), col("lm_score"),
        col("lm_score_per_tok"),
        (col("lm_score_per_tok") >= col("__thr")).as("keep"))
  }

  /** Survivors only — the filter the curation pipeline composes. */
  def select(docs: DataFrame, idCol: String, textCol: String,
             targetPred: Column, keepPct: Int): DataFrame =
    flagged(docs, idCol, textCol, targetPred, keepPct)
      .filter(col("keep"))
      .select("doc_id", "n_tok", "lm_score", "lm_score_per_tok")

  /** Moore-Lewis CROSS-ENTROPY-DIFFERENCE selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data" —
    * the classic contrastive upgrade of the single-LM cut, and the
    * n-gram ancestor of RHO-style excess-loss selection): score every
    * document under TWO LMs — one trained on the in-domain stratum,
    * one on a general stratum (typically the whole corpus) — and rank
    * by the DIFFERENCE. The single-LM cut ([[flagged]]) confounds
    * "in-domain" with "generically predictable": short common
    * boilerplate scores high under ANY model. Subtracting the general
    * model's score cancels the generic-predictability term, leaving
    * how much MORE in-domain-like than average the document is.
    *
    * Exact arithmetic carries over unchanged: both per-token means are
    * the integer surrogates of [[score]] over the SAME tokenization
    * (n_tok agrees by construction), `excess = in_spt − gen_spt` is a
    * difference of two bounded non-negative integers, and the keep cut
    * is the exact-rank threshold on excess (ties survive). Scale
    * shape: ONE (doc,prev,w) partial-agg shuffle serves BOTH models —
    * the gram multiset is identical, only the training flag differs,
    * so the cached count frame carries a flag column per stratum and
    * each LM derives its count tables from it — then per model the
    * broadcast count joins + per-doc agg of [[score]], one doc-keyed
    * join of the two bounded score frames, the exact-rank cut.
    * Driver state unchanged from [[score]].
    */
  def contrastiveFlagged(docs: DataFrame, idCol: String, textCol: String,
                         inDomainPred: Column, generalPred: Column,
                         keepPct: Int,
                         broadcastCounts: Option[Boolean] = None): DataFrame = {
    require(keepPct >= 1 && keepPct <= 100, s"keepPct in [1,100], got $keepPct")
    // ONE (doc, prev, w) shuffle serves both LMs: the gram multiset is
    // identical, only the training flag differs — the count frame is
    // cached and each model derives its tables from it
    val cnt = OpCache.cache(gramCounts(docs, idCol, textCol,
      Seq("__in" -> inDomainPred, "__gen" -> generalPred)))
    val in = scoreFrom(cnt, "__in", broadcastCounts)
      .select(col("doc_id"), col("n_tok"),
        col("lm_score_per_tok").as("in_spt"))
    val gen = scoreFrom(cnt, "__gen", broadcastCounts)
      .select(col("doc_id"), col("lm_score_per_tok").as("gen_spt"))
    // inner join is total: both frames score exactly the docs with
    // non-empty normalized text, so the key sets are identical
    val joined = OpCache.cache(in.join(gen, Seq("doc_id"))
      .withColumn("excess", col("in_spt") - col("gen_spt")))
    val thr = Quantiles.exactDiscreteAtRank(joined, col("excess"),
      nn => nn - (nn * keepPct) / 100 + 1)
    joined.crossJoin(broadcast(thr.select(col("value").as("__thr"))))
      .select(col("doc_id"), col("n_tok"), col("in_spt"), col("gen_spt"),
        col("excess"), (col("excess") >= col("__thr")).as("keep"))
  }
}
