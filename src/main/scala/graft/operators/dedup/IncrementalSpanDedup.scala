package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{BloomFilter, OpCache}
import graft.sources.Publish

/** INCREMENTAL exact-substring span removal — the daily-maintenance form
  * of [[SpanDedup]] (the #104/#93 discipline applied to the span grain):
  * each day's document delta is ingested WITHOUT re-hashing or
  * re-cleaning the accumulated corpus, yet the maintained output stays
  * EXACTLY equal to a from-scratch [[SpanDedup.removeDuplicateSpans]]
  * over the union of every delta — the convergence contract the q131
  * oracle replays batch-side.
  *
  * Why this exists: at 100 TB you never re-run span dedup over the whole
  * corpus because a day of crawl arrived. But span duplication is a
  * GLOBAL property — a window that was unique yesterday becomes
  * duplicated the moment today's crawl carries its second copy, and the
  * OLD document holding the first copy must lose the span too (Lee et
  * al. 2021's corpus-wide ≥2 rule, [[SpanDedup]]'s contract). So the
  * state machine tracks, per window hash, how many occurrences the
  * corpus has seen, and re-cleans exactly the old documents whose hash
  * set gained a member.
  *
  * State under `root` (all parquet, all engine-replayable). Every
  * corpus-sized table is HASH-BUCKET PARTITIONED (`pmod(key, Buckets)`
  * as a partition directory — the [[graft.operators.similarity
  * .IvfIncremental.writeAssigned]] discipline), so both the read and the
  * WRITE side of an append are O(delta + crossings), never O(history):
  *  - `counts/seg=K/` — window-hash occurrence counts, APPEND-ONLY
  *    segments (one per ingested day); the logical count is the
  *    segment-sum per hash. Appending a narrow delta frame beats
  *    rewriting a corpus-sized count table every day; segment fan-in is
  *    the [[graft.sources.Compaction]] lever (#49e), and reads are one
  *    partial-agg shuffle either way.
  *  - `postings/__hb=B/` — DISTINCT (hash, doc_id) pairs, append-only
  *    (only new docs add postings), partitioned by `pmod(__h, Buckets)`.
  *    This is the inverted index that answers "which OLD docs must
  *    re-clean": the probe filters to the crossing hashes' buckets
  *    (partition pruning — the filter reaches the scan's
  *    PartitionFilters, spec-pinned) and then through a deterministic
  *    [[BloomFilter]] pre-pass before the exact join (skipped above
  *    [[MaxBloomCrossing]] keys, where the build's driver collect would
  *    outgrow its budget — the exact join alone is still correct), so
  *    probe volume is bounded by the crossing buckets, not the corpus.
  *  - `docs/__db=B/` — accumulated normalized text, append-only,
  *    partitioned by `pmod(doc_id, Buckets)`: the token source for
  *    re-cleans, re-read SELECTIVELY (bucket prune + doc-id semi-join,
  *    never scanned whole).
  *  - `clean/__db=B/` — the maintained output (same row schema as
  *    [[SpanDedup.removeDuplicateSpans]] plus the bucket dir), MERGEd
  *    per append with the #108 partition-pruned discipline: only the
  *    buckets holding changed docs are rewritten (staged + dir-swapped
  *    via [[graft.sources.CleanZone.writePartitionedIsolated]]);
  *    untouched bucket directories keep their exact files, byte for
  *    byte (spec-pinned).
  *
  * Per-append cost: O(delta windows) hashing + one segment append + a
  * crossing-bounded re-clean + a touched-bucket clean rewrite. The only
  * history-sized read left is the counts segment-sum (narrow (h, c)
  * rows — the same shape the incremental-agg #93 gate pays).
  *
  * Equality argument (why N appends ≡ one batch): counts only grow, so a
  * hash enters the duplicated set D = {h : count ≥ 2} at most once. Every
  * doc is cleaned on arrival against the then-current D, and re-cleaned
  * whenever one of ITS hashes crosses into D (postings finds it); a doc
  * whose hash set never gains a D-member keeps a clean text that is
  * already correct under the final D. Self-repeats (one doc carrying a
  * window twice) are occurrence counts ≥ 2 on day one, so they are in D
  * from the doc's first cleaning.
  */
object IncrementalSpanDedup {

  /** Hash-bucket count for the partitioned state tables — a LAYOUT knob,
    * invisible to results, FIXED for the lifetime of a state root (bucket
    * membership is `pmod(key, Buckets)`; changing it mid-root would strand
    * rows in directories the prune no longer looks at). 8 keeps local
    * runs file-light; a 100 TB deployment sizes it like any bucketed
    * table (#48) so one bucket ≈ one executor-sized unit of rewrite.
    */
  val Buckets = 8

  /** Bloom probe hash count for the postings pre-pass (#90's k). */
  private val BloomK = 3

  /** Crossing-set size past which the Bloom pre-pass is SKIPPED and the
    * probe falls back to the plain bucket-pruned exact join. The build's
    * distinct-positions collect is bounded by min(m, n·k) rows; at 2^20
    * crossing hashes that is ≤ ~3M longs (tens of MB) — fine — but
    * [[BloomFilter.mFor]] keeps growing to 2^28 bits, and a crawl-sized
    * delta could otherwise drive a tens-of-millions-row driver collect,
    * exactly the hazard the BloomFilter scaladoc warns to cap. Results
    * are identical either way (the Bloom only pre-reduces the exact join).
    */
  private val MaxBloomCrossing = 1L << 20

  /** State-layout version — bumped whenever the on-disk shape changes
    * incompatibly (v2 = bucket-partitioned clean/__db, postings/__hb,
    * docs/__db).
    */
  private val LayoutVersion = 2

  private def layoutText = s"version=$LayoutVersion\nbuckets=$Buckets\n"

  /** Enforce the layout contract the scaladoc warns about: a `_layout`
    * marker (version + Buckets) is written into the state root the first
    * time state is created, and every later [[append]]/[[compactCounts]]
    * requires it to match — so an append against a pre-v2 root, or after
    * a Buckets change that would strand rows in directories the prune no
    * longer reads, fails loudly instead of resolving phantom columns or
    * silently dropping buckets.
    */
  private def checkOrWriteLayout(spark: SparkSession, root: String): Unit = {
    val fs = hfs(spark, root)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_layout")
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      require(txt == layoutText,
        s"state root $root has layout marker ${txt.trim.replace("\n", " ")} " +
          s"but this build expects ${layoutText.trim.replace("\n", " ")}: " +
          "bucket membership is pmod(key, Buckets), so reading it with a " +
          "different layout would strand rows — migrate the root first")
    } else {
      val stateExists = Seq("counts", "postings", "docs", "clean")
        .exists(d => dirExists(spark, s"$root/$d"))
      require(!stateExists,
        s"state root $root has tables but no _layout marker: it predates " +
          "the bucket-partitioned layout (v2) and cannot be appended to " +
          "in place — rebuild it from the source deltas")
      val out = fs.create(marker, false)
      try out.write(layoutText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** Bounded per-append audit (driver-side scalars, each one aggregate
    * row): what the spec pins to prove the re-clean path really fires.
    */
  final case class AppendStats(deltaDocs: Long, crossingHashes: Long,
                               recleanedOldDocs: Long)

  private def hfs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dirExists(spark: SparkSession, dir: String): Boolean =
    hfs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  private def emptyLike(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def readOr(spark: SparkSession, dir: String, ddl: String): DataFrame =
    if (dirExists(spark, dir)) spark.read.parquet(dir) else emptyLike(spark, ddl)

  /** Next counts segment index: existing segment max + 1 (listing is
    * deterministic and needs no marker file; compaction folds to seg=0).
    */
  private def nextSeg(spark: SparkSession, root: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$root/counts")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 1
    else fs.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("seg=") => n.drop(4).toInt }
      .foldLeft(0)(math.max) + 1
  }

  /** The maintained output: one row per ingested doc,
    * (idCol, n_tokens, n_removed, clean_text) — [[SpanDedup]]'s schema.
    * The bucket dir is layout, not data: it is dropped here.
    */
  def result(spark: SparkSession, root: String, idCol: String): DataFrame =
    readOr(spark, s"$root/clean",
      s"$idCol long, n_tokens long, n_removed long, clean_text string, __db int")
      .select(col(idCol), col("n_tokens"), col("n_removed"), col("clean_text"))

  /** Crash recovery for [[compactCounts]]'s swap, run before every state
    * read ([[Publish.recover]]): a crash mid-swap would otherwise leave no
    * `counts` dir, which reads as "all historical counts are zero" and
    * corrupts every later append.
    */
  private def recoverCounts(spark: SparkSession, root: String): Unit =
    Publish.recover(hfs(spark, root), new org.apache.hadoop.fs.Path(s"$root/counts"))

  /** Fold the count segments back to one (#49e's compaction discipline
    * applied to the span-count state): the logical count is already the
    * segment-sum, so compaction is a pure layout rewrite — one
    * partial-agg shuffle over the narrow (h, c) rows into a single
    * `seg=0`, swapped in by one [[Publish.replace]] of `counts`. Run it on
    * whatever cadence keeps the per-append segment fan-in bounded; the
    * maintained output is invariant (spec-pinned).
    */
  def compactCounts(spark: SparkSession, root: String): Unit = {
    recoverCounts(spark, root)
    if (!dirExists(spark, s"$root/counts")) return
    checkOrWriteLayout(spark, root)
    val merged = spark.read.parquet(s"$root/counts")
      .groupBy(col("__h")).agg(sum(col("__c")).as("__c"))
    Publish.replace(hfs(spark, root), new org.apache.hadoop.fs.Path(s"$root/counts"))(
      staging => merged.write.parquet(s"$staging/seg=0"))
  }

  /** Ingest one day's delta; updates every state table and the maintained
    * clean output. Returns the bounded audit scalars.
    */
  def append(spark: SparkSession, root: String, delta: DataFrame,
             idCol: String, textCol: String, spanTokens: Int): AppendStats = {
    require(spanTokens >= 2, s"span width must be >= 2, got $spanTokens")
    recoverCounts(spark, root)
    checkOrWriteLayout(spark, root)
    OpCache.scoped {
      // --- delta projections (SpanDedup's base/occ shapes) ---
      // spread BEFORE the normalize projection (round 21, guide §2.5 /
      // Spread.wide): a single-split delta (one parquet file = one scan
      // task at gate scale) would run the whole-text normalize regex and
      // every downstream shingle hash on ONE core — measured 1.8 s of
      // q131's first append in one task with 31 idle; no-op on a
      // many-split production delta
      val base = OpCache.cache(graft.operators.Spread.wide(
          delta.filter(col(idCol).isNotNull && col(textCol).isNotNull),
          col(idCol))
        .select(col(idCol).cast("long").as(idCol),
          TextFns.normalizeText(col(textCol)).as("__norm"))
        .filter(length(col("__norm")) > 0))
      val occ = OpCache.cache(base
        .filter(size(split(col("__norm"), " ")) >= spanTokens)
        .select(col(idCol), posexplode(
          TextShingles.shingleHashesAll(col("__norm"), spanTokens)))
        .select(col(idCol), col("pos"), col("col").as("__h")))
      val deltaCounts = OpCache.cache(
        occ.groupBy(col("__h")).agg(count(lit(1)).as("__c")))

      // --- crossing hashes: unique (or absent) before, duplicated now ---
      val oldCounts = readOr(spark, s"$root/counts", "__h long, __c long")
        .groupBy(col("__h")).agg(sum(col("__c")).as("__c"))
      val crossing = OpCache.cache(deltaCounts
        .join(oldCounts.withColumnRenamed("__c", "__old"), Seq("__h"), "left")
        .withColumn("__old", coalesce(col("__old"), lit(0L)))
        .filter(col("__old") < 2 && col("__old") + col("__c") >= 2)
        .select(col("__h")))
      val nCrossing = crossing.count() // bounded: delta-hash-sized scalar

      // --- old docs to re-clean: postings of the crossing hashes, read
      // through (a) partition pruning to the crossing hashes' buckets and
      // (b) the deterministic Bloom pre-pass (#90) — the exact join then
      // removes the Bloom's false positives ---
      val affected = OpCache.cache(
        if (nCrossing == 0) emptyLike(spark, s"$idCol long")
        else {
          val xBuckets = crossing
            .select(pmod(col("__h"), lit(Buckets.toLong)).cast("int").as("__hb"))
            .distinct().collect().map(_.getInt(0)).toSeq // bounded: ≤ Buckets
          val pruned = readOr(spark, s"$root/postings",
              s"__h long, $idCol long, __hb int")
            .filter(col("__hb").isin(xBuckets.map(Int.box): _*))
          val preFiltered =
            if (nCrossing > MaxBloomCrossing) pruned // collect too big: exact join only
            else {
              val m = BloomFilter.mFor(nCrossing)
              val bits = BloomFilter.build(crossing, "__h", m, BloomK)
              pruned.filter(BloomFilter.mightContain(col("__h"), bits, m, BloomK))
            }
          preFiltered
            .join(crossing, Seq("__h"))
            .select(col(idCol)).distinct()
            .join(base.select(col(idCol)), Seq(idCol), "left_anti")
        })

      // --- re-clean set: all delta docs + affected old docs (text from
      // the docs state, read via bucket prune + a selective semi-join,
      // never scanned whole) ---
      val affBuckets = affected
        .select(pmod(col(idCol), lit(Buckets.toLong)).cast("int").as("__db"))
        .distinct().collect().map(_.getInt(0)).toSeq // bounded: ≤ Buckets
      val oldNorm = readOr(spark, s"$root/docs",
          s"$idCol long, __norm string, __db int")
        .filter(col("__db").isin(affBuckets.map(Int.box): _*))
        .drop("__db")
        .join(affected, Seq(idCol))
      val toClean = OpCache.cache(base.unionByName(oldNorm)
        .withColumn("__toks", split(col("__norm"), " "))
        .withColumn("__n", size(col("__toks"))))

      // --- duplicated-position sets under the POST-append counts ---
      val newDups = oldCounts.withColumnRenamed("__c", "__old")
        .join(deltaCounts, Seq("__h"), "full")
        .filter(coalesce(col("__old"), lit(0L)) +
          coalesce(col("__c"), lit(0L)) >= 2)
        .select(col("__h"))
      val cleanOcc = toClean
        .filter(col("__n") >= spanTokens)
        .select(col(idCol), posexplode(
          TextShingles.shingleHashesAll(col("__norm"), spanTokens)))
        .select(col(idCol), col("pos"), col("col").as("__h"))
      val dupPos = cleanOcc.join(newDups, Seq("__h"))
        .groupBy(col(idCol)).agg(collect_list(col("pos")).as("__dup"))
      val span = spanTokens - 1
      val changed = OpCache.cache(toClean.join(dupPos, Seq(idCol), "left")
        .withColumn("__dup", coalesce(col("__dup"), array().cast("array<int>")))
        .withColumn("__kept", filter(col("__toks"),
          (t, j) => !exists(col("__dup"), p => p <= j && j <= p + span)))
        .select(col(idCol),
          col("__n").cast("long").as("n_tokens"),
          (col("__n") - size(col("__kept"))).cast("long").as("n_removed"),
          array_join(col("__kept"), " ").as("clean_text"),
          pmod(col(idCol), lit(Buckets.toLong)).cast("int").as("__db")))

      // --- audits BEFORE the state writes consume the cached frames ---
      val stats = AppendStats(
        deltaDocs = base.count(),
        crossingHashes = nCrossing,
        recleanedOldDocs = affected.count())

      // --- state updates: delta-only appends + the partition-pruned
      // clean MERGE (only the buckets holding changed docs are read,
      // merged, and dir-swapped — #108's mergePruned shape) ---
      deltaCounts.write.mode("overwrite")
        .parquet(s"$root/counts/seg=${nextSeg(spark, root)}")
      occ.select(col("__h"), col(idCol)).distinct()
        .withColumn("__hb", pmod(col("__h"), lit(Buckets.toLong)).cast("int"))
        .write.mode("append").partitionBy("__hb").parquet(s"$root/postings")
      base.withColumn("__db", pmod(col(idCol), lit(Buckets.toLong)).cast("int"))
        .write.mode("append").partitionBy("__db").parquet(s"$root/docs")
      val touched = changed.select(col("__db"))
        .distinct().collect().map(_.getInt(0)).toSeq // bounded: ≤ Buckets
      if (touched.nonEmpty) {
        val prevTouched = readOr(spark, s"$root/clean",
            s"$idCol long, n_tokens long, n_removed long, clean_text string, __db int")
          .filter(col("__db").isin(touched.map(Int.box): _*))
          .select(col(idCol), col("n_tokens"), col("n_removed"),
            col("clean_text"), col("__db").cast("int").as("__db"))
        val merged = prevTouched
          .join(changed.select(col(idCol)), Seq(idCol), "left_anti")
          .unionByName(changed)
        graft.sources.CleanZone.writePartitionedIsolated(
          merged, s"$root/clean", Seq("__db"))
      }
      stats
    }
  }

  /** The pruned clean-bucket read an [[append]] issues for a given
    * touched-bucket set — exposed so the spec can pin that the bucket
    * filter reaches the scan's PartitionFilters (the executable form of
    * the "rewrites only touched buckets" claim, like
    * IvfIncrementalSpec's probe-prune pin).
    */
  private[graft] def cleanBucketScan(spark: SparkSession, root: String,
                                     idCol: String,
                                     buckets: Seq[Int]): DataFrame =
    spark.read.parquet(s"$root/clean")
      .filter(col("__db").isin(buckets.map(Int.box): _*))
}
