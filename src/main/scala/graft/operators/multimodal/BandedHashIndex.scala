package graft.operators.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.OpCache
import graft.sources.Publish

/** The GENERIC incremental banded-hash index — the daily-append
  * discipline (#30h's incremental span state, #36f's incremental IVF)
  * factored over ANY (id, 56-bit hash) frame, so every perceptual-hash
  * modality rides ONE publish/compact/retry protocol: images
  * ([[ImageHashIndex]] — grid dHash + aHash), audio ([[AudioHashIndex]]
  * — the [[graft.plans.EnergyDiffHash]] energy hash), and any future
  * hash family a [[Spec]] can name. Before this existed only the image
  * leg was incremental: every audio append would have re-paired history
  * (the r19-verdict seam this closes).
  *
  * Layout under `indexDir` (BOTH tables batch-keyed, so appends are
  * idempotent and rollback-able per batch):
  *   - `postings/batch=N/band=B/` — the persisted band-bucket postings
  *     (key, hid, hash columns…) WITH the hash columns riding, so the
  *     popcount verify executes AT the delta-vs-store bucket join (the
  *     load-bearing order [[ImageHash.nearDupPairs]] documents:
  *     correlated corpora produce ~25× more bucket candidates than true
  *     pairs, and the cut must kill them before any exchange). 8 extra
  *     bytes per posting row per hash column buys that — the LSH-index
  *     trade every production system makes;
  *   - `pairs/batch=N/` — the PAIRS LEDGER: each append's newly-formed
  *     pairs, frozen; published LAST, so it doubles as the batch's
  *     applied marker (the streaming sink's retry no-op).
  *
  * [[append]] pairs the delta's hashes against themselves AND against
  * the stored postings sharing a band key, persists the result as this
  * batch's ledger entry, THEN appends the delta postings — so the
  * returned frame is exactly the pairs NEW with this batch, and the
  * union of every append's output equals the one-shot batch pairing of
  * the full corpus: a pair is new precisely when its later member
  * arrives (the q126/q131 batching-invariance contract, oracle-gated by
  * q178 for images and q185 for audio).
  *
  * Contracts: ids must be NEW each append (the zone discipline —
  * exact/content dedup runs upstream; re-appending an id would
  * duplicate its postings and re-emit its pairs). The returned frame
  * reads the batch's OWN frozen ledger dir — never the live postings
  * path: a lazy plan over the postings would re-pair against every
  * LATER append when finally evaluated (Spark refreshes file indexes on
  * write — caught live as a 3.5× over-count), and the ledger is also
  * the production artifact: [[graft.operators.dedup.IncrementalClusters]]
  * consumes the pair log incrementally instead of rescanning history.
  *
  * Scale shape: the delta-vs-index join touches only stored buckets
  * whose (band, key) a delta row shares — a hash-partitioned exchange
  * of the delta postings plus the matching index rows; at warehouse
  * scale the postings table is bucketed by `key` so that join is
  * storage-co-located (here partitioned by `band` — the layout knob,
  * not the contract). Nothing rescans yesterday's pairs.
  */
object BandedHashIndex {

  /** The hash family an index instance stores and verifies.
    *
    * @param primary the hash column that is BANDED and popcount-verified
    *                (must be one of `hams`' hash columns)
    * @param hams    (hashCol → output hamCol) in ledger column order;
    *                every hash column is persisted in the postings and
    *                its Hamming distance emitted per pair
    */
  final case class Spec(primary: String, hams: Seq[(String, String)]) {
    require(hams.nonEmpty, "spec needs at least one hash column")
    require(hams.map(_._1).contains(primary),
      s"primary '$primary' must be one of the hash columns ${hams.map(_._1)}")
    def hashCols: Seq[String] = hams.map(_._1)
    def hamCols: Seq[String] = hams.map(_._2)
  }

  private def postingsSchema(spec: Spec) = StructType(
    Seq(StructField("band", IntegerType), StructField("key", LongType),
      StructField("hid", LongType)) ++
      spec.hashCols.map(StructField(_, LongType)))

  private def pairsSchema(spec: Spec) = StructType(
    Seq(StructField("a_id", LongType), StructField("b_id", LongType)) ++
      spec.hamCols.map(StructField(_, IntegerType)))

  /** Index the day's pre-hashed rows (`hid` + the spec's hash columns;
    * null-primary rows are dropped — the undecodable-payload contract);
    * return the pairs NEW with this batch: (a_id, b_id, hams…),
    * a_id < b_id by ID (not arrival).
    *
    * `batchId`: None (the daily-driver path) auto-numbers by
    * max-ledger-id + 1 (NOT dir count: an id gap — e.g. a ledger driven
    * by explicit stream batch ids 0 and 2 — would make a count-derived
    * id COLLIDE with an existing batch, silently returning that batch's
    * frozen ledger instead of appending the new day); Some(id) (the
    * STREAMING foreachBatch path) keys both tables by the stream's
    * batch id and makes the append IDEMPOTENT — a retried micro-batch
    * whose publish completed returns its frozen ledger without touching
    * anything, and a partially-published crash (one table's batch dir
    * present without the other's) is rolled back and redone. Publish
    * protocol: both tables stage under hidden dirs (invisible to the
    * parquet reads), postings rename first, the PAIRS rename LAST — the
    * pairs dir is the applied marker, so the marker can never exist
    * without the postings it was computed against.
    */
  def append(spark: SparkSession, indexDir: String, hashed: DataFrame,
             spec: Spec, maxHamming: Int, bands: Int,
             batchId: Option[Long] = None): DataFrame = {
    require(bands >= 1 && bands <= ImageHash.Bits,
      s"bands in [1,${ImageHash.Bits}], got $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"banded retrieval is exact only for maxHamming < bands, " +
        s"got maxHamming=$maxHamming bands=$bands")
    val postPath = s"$indexDir/postings"
    val fs = recovered(spark, indexDir)
    val bid = batchId.getOrElse(nextBatchId(spark, s"$indexDir/pairs"))
    val pairsDir = new org.apache.hadoop.fs.Path(s"$indexDir/pairs/batch=$bid")
    val postDir = new org.apache.hadoop.fs.Path(s"$postPath/batch=$bid")
    if (fs.exists(pairsDir)) {
      // the marker publishes LAST, so its presence proves the postings
      // landed too — a retried applied batch is a pure read (after a
      // ledger compaction folded this batch's rows away, an EMPTY frame:
      // the marker's no-op contract; pairs() still carries every row)
      return spark.read.schema(pairsSchema(spec)).parquet(pairsDir.toString)
    }
    // crashed partial publish (postings without the marker): roll back
    // so the pair computation below sees a store WITHOUT this batch
    if (fs.exists(postDir)) Publish.delete(fs, postDir)
    // the delta postings feed three consumers (both dd sides, dx, the
    // persist) over the whole decode+hash lineage — decode once
    val deltaPost = OpCache.cache(ImageHash.bandedPostings(
      hashed.filter(col(spec.primary).isNotNull)
        .select(col("hid") +: spec.hashCols.map(col): _*),
      "hid", bands, hashCol = spec.primary)
      .select(Seq(col("band"), col("key"), col("hid")) ++
        spec.hashCols.map(col): _*))
    val storedPost = readPostings(spark, postPath, spec)
    def sided(df: DataFrame, s: String): DataFrame =
      df.select(Seq(col("band"), col("key"), col("hid").as(s + "_id")) ++
        spec.hashCols.zipWithIndex.map { case (c, i) =>
          col(c).as(s"${s}_h$i") } : _*)
    def hamOf(i: Int) =
      bit_count(col(s"a_h$i").bitwiseXOR(col(s"b_h$i")))
    val pIdx = spec.hashCols.indexOf(spec.primary)
    val carried = spec.hashCols.indices
      .flatMap(i => Seq(col(s"a_h$i"), col(s"b_h$i")))
    // delta×delta plus delta×stored as ONE tagged bucket join (round 21;
    // previously two joins — the b-side now unions the delta postings
    // with the stored postings under a `__stored` flag, so the planner
    // builds one exchange over (delta ∪ stored) instead of separate
    // delta-b and stored-b exchanges plus a second join: same shuffled
    // bytes, one fewer Exchange + Join per append, and under AQE one
    // fewer materialization job). Popcount still verifies AT the bucket
    // join; within-delta pairs keep the a_id < b_id arrival-independent
    // rule, delta-vs-stored pairs normalize by least/greatest exactly as
    // the two-join form did — the emitted pair multiset is identical
    // (oracle-gated by q178/q181/q182/q185/q189 and the fold gates).
    val bSide = sided(deltaPost, "b").withColumn("__stored", lit(false))
      .unionByName(sided(storedPost, "b").withColumn("__stored", lit(true)))
    val pairs = sided(deltaPost, "a").join(bSide, Seq("band", "key"))
      .filter((col("__stored") || col("a_id") < col("b_id")) &&
        hamOf(pIdx) <= maxHamming)
      .select(Seq(
        when(col("__stored"), least(col("a_id"), col("b_id")))
          .otherwise(col("a_id")).as("a_id"),
        when(col("__stored"), greatest(col("a_id"), col("b_id")))
          .otherwise(col("b_id")).as("b_id")) ++ carried: _*)
      .select(Seq(col("a_id"), col("b_id")) ++
        spec.hams.zipWithIndex.map { case ((_, hamCol), i) =>
          hamOf(i).cast("int").as(hamCol) } : _*)
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col(spec.hamCols.head)).as(spec.hamCols.head),
        spec.hamCols.tail.map(c => min(col(c)).as(c)): _*)
    // Publish protocol (two [[Publish]] targets):
    //   1. STAGE both tables — the pair plan EXECUTES against the
    //      pre-append store (hidden staging dirs are invisible to the
    //      storedPost read, whose file list was fixed before staging
    //      began). The two staged writes are INDEPENDENT — both read
    //      only the cached delta postings plus the frozen store — so
    //      they run OVERLAPPED (guide §2.6, Par.run): the postings dump
    //      back-fills the pair join's stage tails instead of adding a
    //      serial write per append. Concurrent first-touch of the
    //      cached delta is compute-once (block-level locks); only the
    //      PROMOTE order below is the correctness surface.
    //   2. promote the postings;
    //   3. promote the pairs LAST — the applied marker, so it can never
    //      exist without the postings it was computed against. A crash
    //      in any window leaves either hidden stagings (deleted and
    //      redone on retry) or postings without the marker (rolled back
    //      at the top of this method).
    val sc = spark.sparkContext
    def stage(df: DataFrame, target: org.apache.hadoop.fs.Path,
              partitionCols: Seq[String], what: String): () => Unit = () => {
      sc.setJobDescription(s"banded-index: stage $what batch=$bid")
      try Publish.stage(fs, target) { staging =>
        val w = df.write
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(staging.toString)
      }
      finally sc.setJobDescription(null)
    }
    graft.operators.Par.run(Seq(
      stage(pairs, pairsDir, Nil, "pairs"),
      stage(deltaPost, postDir, Seq("band"), "postings")))
    Publish.promote(fs, postDir)
    Publish.promote(fs, pairsDir)
    spark.read.schema(pairsSchema(spec)).parquet(pairsDir.toString)
  }

  /** All published postings batches (the hidden stagings and the
    * `batch=` partition column stripped): the store the delta joins.
    */
  private def readPostings(spark: SparkSession, postPath: String,
                           spec: Spec): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(postPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
    // explicit schema: an all-junk batch publishes an EMPTY postings dir
    // (no parquet footer to infer from), which is still a valid store
    if (hasData)
      spark.read.schema(postingsSchema(spec)).parquet(postPath)
        .select(Seq(col("band").cast("int").as("band"), col("key"),
          col("hid")) ++ spec.hashCols.map(col): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      postingsSchema(spec))
  }

  /** The full pairs LEDGER (every batch's new pairs, `batch` stripped) —
    * what downstream incremental CC clustering consumes.
    */
  def pairs(spark: SparkSession, indexDir: String, spec: Spec): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/pairs")
    val fs = recovered(spark, indexDir)
    val hasData = fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
    require(hasData, s"no published ledger batches under $p")
    spark.read.schema(pairsSchema(spec)).parquet(p.toString)
      .select(Seq(col("a_id"), col("b_id")) ++
        spec.hamCols.map(c => col(c).cast("int").as(c)): _*)
  }

  /** Fold the published POSTINGS batches into ONE `batch=<maxId>` dir
    * AND the PAIRS ledger's data files into its own `batch=<maxId>` —
    * the table-maintenance step a daily-append index needs (the #49e
    * compaction discipline, and the same reason the stream-offset file
    * log compacts): each append adds a batch dir to BOTH tables, and at
    * crawl cadence every file listing grows linearly with history.
    *
    * Marker semantics are PRESERVED across the pairs fold: every folded
    * ledger batch keeps an EMPTY `batch=N` sentinel dir, so a streaming
    * retry of a pre-compaction batch still finds its applied marker and
    * no-ops (returning an empty frame — the retry surface consumes
    * nothing); [[pairs]] still reads every row from the fold target.
    *
    * ORPHAN postings batches — a crashed append's postings published
    * without their pairs marker — are DELETED before the fold, never
    * folded: folding one in would merge it into the target batch, and
    * the crashed batch's eventual retry would then roll back (delete)
    * the entire folded store, silently losing every stored posting.
    * Deleting is exactly what that retry's own rollback does, so the
    * invariant [[append]] relies on — rollback only ever removes an
    * unpublished batch — holds across compactions.
    *
    * Folding into the MAX covered id can never collide with a future
    * append: stream batch ids only grow, and the manual path numbers by
    * max-ledger-id + 1, which sentinel dirs keep intact.
    *
    * Maintenance-window contract (every file-table OPTIMIZE shares it):
    * the pairs fold moves data files, so lazy frames returned by
    * PRE-compaction [[append]] calls must be materialized (or consumed)
    * before compacting — single-writer discipline, same as [[append]].
    *
    * Each table root is folded by one [[Publish.replace]]: no window
    * exists where readers see doubled rows, and a crash mid-swap is
    * rolled back or finished by the next [[append]], [[pairs]] or
    * [[compact]] call. Returns
    * the number of POSTINGS batch dirs folded (0 = already compact,
    * free to re-run; the pairs ledger folds whenever it has ≥ 2
    * non-empty batch dirs). Single-writer discipline, like [[append]].
    */
  def compact(spark: SparkSession, indexDir: String, spec: Spec): Int = {
    val postRoot = new org.apache.hadoop.fs.Path(s"$indexDir/postings")
    val pairsRoot = new org.apache.hadoop.fs.Path(s"$indexDir/pairs")
    val fs = recovered(spark, indexDir)
    def batchDirs(root: org.apache.hadoop.fs.Path) =
      if (!fs.exists(root)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(root).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch="))
    def idOf(s: org.apache.hadoop.fs.FileStatus): Long =
      s.getPath.getName.stripPrefix("batch=").toLong
    // markers first: only MARKED postings batches may fold (see scaladoc).
    // Orphans (postings without their pairs marker — a crashed append)
    // are DELETED up-front: exactly what their retry's rollback would do,
    // and folding one in would make that rollback delete the whole store
    val markedIds = batchDirs(pairsRoot).map(idOf).toSet
    batchDirs(postRoot).filterNot(s => markedIds.contains(idOf(s)))
      .foreach(o => Publish.delete(fs, o.getPath))
    val postMarked = batchDirs(postRoot)
    val foldedPostings =
      if (postMarked.length < 2) 0
      else {
        val maxId = postMarked.map(idOf).max
        val marked = postMarked.map(_.getPath.toString)
        Publish.replace(fs, postRoot)(staging =>
          // explicit basePath: multiple batch=N inputs would otherwise
          // make partition discovery see conflicting structures
          spark.read.schema(postingsSchema(spec))
            .option("basePath", postRoot.toString).parquet(marked: _*)
            .select(Seq(col("band").cast("int").as("band"), col("key"),
              col("hid")) ++ spec.hashCols.map(col): _*)
            .write.mode("error").partitionBy("band")
            .parquet(s"$staging/batch=$maxId"))
        postMarked.length
      }
    // pairs ledger: fold data files, keep EVERY batch id as a dir
    val pairsAll = batchDirs(pairsRoot)
    val pairsNonEmpty = pairsAll.filter(s =>
      fs.listStatus(s.getPath).exists(f => f.isFile &&
        !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_")))
    if (pairsNonEmpty.length >= 2) {
      val maxId = pairsAll.map(idOf).max
      val nonEmpty = pairsNonEmpty.map(_.getPath.toString)
      val allIds = pairsAll.map(idOf)
      Publish.replace(fs, pairsRoot) { staging =>
        spark.read.schema(pairsSchema(spec))
          .option("basePath", pairsRoot.toString).parquet(nonEmpty: _*)
          .select(Seq(col("a_id"), col("b_id")) ++
            spec.hamCols.map(c => col(c).cast("int").as(c)): _*)
          .write.mode("error").parquet(s"$staging/batch=$maxId")
        allIds.filter(_ != maxId).foreach(i =>
          Publish.mkdirs(fs, new org.apache.hadoop.fs.Path(staging, s"batch=$i")))
      }
    }
    foldedPostings
  }

  /** The index's file system, after [[Publish.recover]] has rolled back
    * or finished an interrupted [[compact]] swap of either table root —
    * every entry point reads the store through it.
    */
  private def recovered(spark: SparkSession, indexDir: String) = {
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("postings", "pairs").foreach(t =>
      Publish.recover(fs, new org.apache.hadoop.fs.Path(s"$indexDir/$t")))
    fs
  }

  /** Next ledger batch number = max existing `batch=` id + 1 (0 when
    * none) — NOT the dir count, which collides on id gaps.
    */
  private def nextBatchId(spark: SparkSession, pairsPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(pairsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val ids = fs.listStatus(p).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
      if (ids.isEmpty) 0L else ids.max + 1L
    }
  }
}
