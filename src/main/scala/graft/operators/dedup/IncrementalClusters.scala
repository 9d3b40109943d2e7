package graft.operators.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Publish

/** INCREMENTAL duplicate-CLUSTER maintenance — the last history-rescan
  * in the media-dedup story closed: the pair LEDGERS
  * ([[graft.operators.multimodal.BandedHashIndex]], q178/q181/q185)
  * made pair GENERATION O(delta), but cluster assignment still ran
  * [[DupClusters.components]] over the FULL ledger on every append. At
  * crawl cadence that recompute dominates everything else that was made
  * incremental. This operator persists the (node → rep) labelling as an
  * on-disk STATE TABLE and folds each append's new edges into it:
  *
  *  1. resolve the delta's endpoints against current state (unseen
  *     nodes start as their own rep);
  *  2. CONTRACT the new edges to the rep grain — an edge between two
  *     nodes already sharing a rep vanishes; what remains is the
  *     (tiny) graph of REPRESENTATIVES the delta bridges;
  *  3. run CC on that contracted graph only ([[DupClusters.components]]
  *     — pre-contracted min-label, O(log star-depth) rounds over
  *     O(delta) edges, never over history);
  *  4. re-label CONFINED to the bridged components: the old→new rep
  *     mapping is broadcast against the state table, and only rows
  *     whose rep is remapped (plus the delta's new nodes) are written —
  *     as this batch's DELTA dir, never a state rewrite.
  *
  * Correctness: every rep in state is its component's MINIMUM id (the
  * [[DupClusters]] fixpoint), so the min over a merged set of reps IS
  * the merged component's min id — each append preserves the invariant,
  * and after any sequence of appends [[clusters]] equals the one-shot
  * CC over the union of all edges (oracle-gated by q186 against q171's
  * recursive-CTE closure replay).
  *
  * Layout under `stateDir`: `state/batch=N/` delta dirs of (node, rep),
  * LATEST batch wins per node (the #30h incremental-span-state
  * discipline). Appends are batch-keyed and idempotent: the published
  * dir is the applied marker (a [[Publish.replace]] of the batch dir),
  * so a streaming retry no-ops and returns the frozen delta. [[compact]]
  * folds the resolved labelling into one dir (empty sentinel dirs
  * preserve the markers).
  *
  * Scale shape per append: one broadcast-mapping join against the state
  * table (narrow — the mapping is bounded by 2·|delta edges| reps) plus
  * CC strictly over the contracted delta graph; written bytes are
  * O(new nodes + members of bridged components). Nothing iterates over,
  * or rewrites, the full history.
  */
object IncrementalClusters {

  private val stateSchema = StructType(Seq(
    StructField("node", LongType), StructField("rep", LongType)))

  /** stateSchema + the `batch=` partition column (populated from the
    * dir name when listed in the read schema — the postings-read trick).
    */
  private val readSchema = StructType(
    stateSchema.fields :+ StructField("batch", LongType))

  /** Fold one ledger append's new edges (long-id pairs; null endpoints
    * dropped) into the persisted labelling; returns this batch's DELTA
    * — exactly the (node, rep) rows the append changed or introduced,
    * read back frozen from its published dir. `batchId` as in
    * [[BandedHashIndex.append]]: None auto-numbers by max id + 1,
    * Some(id) is the idempotent streaming path (a retried applied batch
    * returns its frozen delta untouched).
    */
  def append(spark: SparkSession, stateDir: String, edges: DataFrame,
             aCol: String, bCol: String,
             batchId: Option[Long] = None): DataFrame = {
    require(aCol != bCol, s"pair columns must differ, got '$aCol' twice")
    val root = recovered(spark, stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bid = batchId.getOrElse(nextBatchId(fs, root))
    val dir = new Path(root, s"batch=$bid")
    if (fs.exists(dir)) // applied marker: a retry is a pure read
      return spark.read.schema(stateSchema).parquet(dir.toString)
    val cur = resolve(spark, root)
    val e = graft.operators.OpCache.cache(
      edges.select(col(aCol).cast("long").as("x"),
          col(bCol).cast("long").as("y"))
        .filter(col("x").isNotNull && col("y").isNotNull))
    val nodes = e.select(col("x").as("node"))
      .unionByName(e.select(col("y").as("node"))).distinct()
    // current rep per delta endpoint; unseen endpoints are their own rep.
    // cached: feeds the contraction (twice) and the new-node rows below.
    // __known tags state membership AT this join (round 21) — `entered`
    // below previously re-derived it with a second full state scan + an
    // anti-join exchange per fold; the flag rides the join the fold
    // already pays, so one state pass disappears outright (guide §2.4)
    val withRep = graft.operators.OpCache.cache(
      nodes.join(cur, Seq("node"), "left")
        .select(col("node"), coalesce(col("rep"), col("node")).as("rep"),
          col("rep").isNotNull.as("__known")))
    // contract to the rep grain: only edges BRIDGING two current
    // components survive — the graph CC actually has to look at
    // cached: components() consumes its pair input three times (node
    // universe both ways + the pre-contraction pass)
    val contracted = graft.operators.OpCache.cache(e
      .join(withRep.select(col("node").as("x"), col("rep").as("rx")), Seq("x"))
      .join(withRep.select(col("node").as("y"), col("rep").as("ry")), Seq("y"))
      .filter(col("rx") =!= col("ry"))
      .select(col("rx"), col("ry")))
    // SKIP the CC call outright when the delta bridges nothing (round 21,
    // the realistic steady-state of a crawl append: most days connect no
    // existing components) — with zero contracted edges the mapping is
    // empty by construction, so the delta reduces to the new nodes with
    // their resolved reps; the emptiness probe is one limit-1 job on the
    // cached contracted frame, far cheaper than the checkpoint+seed+round
    // jobs an empty CC run would still schedule
    val delta =
      if (contracted.isEmpty) {
        withRep.filter(!col("__known")).select(col("node"), col("rep"))
      } else {
        // old rep → merged (min) rep, identity rows dropped: the mapping
        // is CONFINED to components the delta bridges. componentLabels,
        // not components: the mapping never reads cluster_size, so the
        // size rollup + row-preserving join would be one dead exchange +
        // join per bridging fold (guide §2.4)
        val mapping = DupClusters.componentLabels(contracted, "rx", "ry")
          .filter(col("node") =!= col("cluster_rep"))
          .select(col("node").as("rep"), col("cluster_rep").as("new_rep"))
        // (a) members of bridged components re-label (broadcast mapping —
        // bounded by the delta's rep count); (b) new nodes enter with
        // their final rep; everything else is untouched and unwritten
        val relabeled = cur.join(broadcast(mapping), Seq("rep"))
          .select(col("node"), col("new_rep").as("rep"))
        val entered = withRep.filter(!col("__known"))
          .join(broadcast(mapping), Seq("rep"), "left")
          .select(col("node"), coalesce(col("new_rep"), col("rep")).as("rep"))
        relabeled.unionByName(entered)
      }
    // publish: stage hidden, rename into place — the dir is the marker
    spark.sparkContext.setJobDescription(s"incr-clusters: fold batch=$bid")
    Publish.replace(fs, dir)(staging => delta.write.parquet(staging.toString))
    spark.sparkContext.setJobDescription(null)
    spark.read.schema(stateSchema).parquet(dir.toString)
  }

  /** The current labelling with sizes: (node, cluster_rep,
    * cluster_size) for every node that ever appeared in an edge — the
    * [[DupClusters.components]] output shape, equal after any batching
    * to the one-shot CC over all appended edges.
    */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    // checkpoint, NOT cache: st feeds two branches, but a cacheManager
    // entry is keyed by the analyzed plan and would be silently
    // substituted into the IDENTICAL resolve plan a later append()
    // builds — serving pre-append state after the state dir has moved on
    // (measured live in the compaction spec). OpCache.checkpoint routes
    // through Checkpoints.truncate (the reliable-checkpoint knob) and
    // releases the blocks with the query's scope.
    val st = graft.operators.OpCache.checkpoint(
      resolve(spark, recovered(spark, stateDir)))
    val sizes = st.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    st.join(sizes, "rep")
      .select(col("node"), col("rep").as("cluster_rep"), col("cluster_size"))
  }

  /** The current labelling WITHOUT sizes: (node, rep), one row per node —
    * for AGGREGATE-ONLY consumers (q191's report rows need only
    * count(nodes) and count_distinct(rep)). [[clusters]] joins the
    * labelling against its own rep-grain size rollup, which preserves
    * rows 1:1 (every rep in the labelling appears in the rollup), so any
    * aggregate over [[clusters]] that ignores cluster_size equals the
    * same aggregate here — minus the size shuffle, the join, and the
    * localCheckpoint job [[clusters]] needs to feed two branches.
    */
  def labelling(spark: SparkSession, stateDir: String): DataFrame =
    resolve(spark, recovered(spark, stateDir))

  /** The state root, after [[Publish.recover]] has rolled back or
    * finished an interrupted [[compact]] swap — every entry point reads
    * the state through it.
    */
  private def recovered(spark: SparkSession, stateDir: String): Path = {
    val root = new Path(s"$stateDir/state")
    Publish.recover(root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
    root
  }

  /** Latest-wins (node → rep) over the published delta dirs. */
  private def resolve(spark: SparkSession, root: Path): DataFrame = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(root) && fs.listStatus(root).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
    if (!hasData)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], stateSchema)
    spark.read.schema(readSchema).parquet(root.toString)
      .groupBy(col("node"))
      .agg(max_by(col("rep"), col("batch")).as("rep"))
  }

  /** Fold every delta dir into one `batch=<maxId>` of the RESOLVED
    * labelling (one row per node), leaving empty `batch=N` sentinel
    * dirs so applied markers — and therefore retry no-ops — survive the
    * fold, through one [[Publish.replace]] of the state root. Returns the
    * number of non-empty dirs folded (0 = already compact).
    */
  def compact(spark: SparkSession, stateDir: String): Int = {
    val root = recovered(spark, stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val all = fs.listStatus(root).filter(s =>
      s.isDirectory && s.getPath.getName.startsWith("batch="))
    def idOf(s: org.apache.hadoop.fs.FileStatus): Long =
      s.getPath.getName.stripPrefix("batch=").toLong
    val nonEmpty = all.filter(s => fs.listStatus(s.getPath).exists(f =>
      f.isFile && !f.getPath.getName.startsWith(".") &&
        !f.getPath.getName.startsWith("_")))
    if (nonEmpty.length < 2) return 0
    val maxId = all.map(idOf).max
    val resolved = resolve(spark, root)
    Publish.replace(fs, root) { staging =>
      resolved.write.parquet(s"$staging/batch=$maxId")
      all.map(idOf).filter(_ != maxId).foreach(i =>
        Publish.mkdirs(fs, new Path(staging, s"batch=$i")))
    }
    nonEmpty.length
  }

  private def nextBatchId(fs: org.apache.hadoop.fs.FileSystem,
                          root: Path): Long = {
    if (!fs.exists(root)) 0L
    else {
      val ids = fs.listStatus(root).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath.getName.stripPrefix("batch=").toLong)
      if (ids.isEmpty) 0L else ids.max + 1L
    }
  }
}
