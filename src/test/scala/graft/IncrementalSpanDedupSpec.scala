package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.dedup.{IncrementalSpanDedup, SpanDedup}
import graft.queries.DedupQueries

/** Contracts of the incremental span-dedup state machine (q131's operator)
  * beyond the oracle gate's convergence check:
  *   - batching invariance: the converged output is the SAME whether the
  *     corpus arrives in one, two, or three appends, and equals the batch
  *     operator row-for-row;
  *   - the crossing-hash re-clean path really fires on the q131 day split
  *     (an old doc whose span becomes duplicated by a later day is found
  *     via postings and re-cleaned) — without this audit the convergence
  *     gate could pass vacuously on a corpus where every duplicate pair
  *     lands within one day;
  *   - hand-built edge semantics: a day-2 second copy strips the span
  *     from the day-1 doc; a within-doc self-repeat is duplicated from
  *     day one; short docs pass through.
  */
class IncrementalSpanDedupSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_isd_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sorted(df: DataFrame) =
    df.select("doc_id", "n_tokens", "n_removed", "clean_text")
      .orderBy("doc_id").collect().toSeq

  test("batching invariance: 1 append == 3 appends == batch operator") {
    val docs = Tables.documents(spark, sf("0.001"))
    val one = scratch("one")
    IncrementalSpanDedup.append(spark, one, docs, "doc_id", "text", 5)
    val three = scratch("three")
    for (day <- 0 to 2)
      IncrementalSpanDedup.append(spark, three,
        docs.filter(pmod(col("doc_id"), lit(3)) === day), "doc_id", "text", 5)
    val batch = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", 5)
    val b = sorted(batch)
    assert(sorted(IncrementalSpanDedup.result(spark, one, "doc_id")) == b)
    assert(sorted(IncrementalSpanDedup.result(spark, three, "doc_id")) == b)
  }

  test("the re-clean path fires on the q131 day split") {
    val docs = Tables.documents(spark, sf("0.001"))
    val root = scratch("audit")
    val stats = (0 until DedupQueries.SpanDays).map { day =>
      IncrementalSpanDedup.append(spark, root,
        docs.filter(pmod(col("doc_id"), lit(DedupQueries.SpanDays)) === day),
        "doc_id", "text", 5)
    }
    assert(stats.map(_.deltaDocs).sum ==
      docs.filter(col("doc_id").isNotNull && col("text").isNotNull &&
        length(graft.functions.TextFns.normalizeText(col("text"))) > 0).count())
    // later days must create crossings AND re-clean earlier docs — the
    // convergence gate is only non-vacuous if duplicate spans straddle days
    assert(stats.tail.map(_.crossingHashes).sum > 0,
      s"no hash crossed the >=2 threshold after day 0: $stats")
    assert(stats.tail.map(_.recleanedOldDocs).sum > 0,
      s"no old doc was re-cleaned by a later day: $stats")
  }

  test("the q131 split is non-vacuous at every shipped SF (data-level audit)") {
    // the full state machine at gate scale is audited above; across SFs a
    // pure-DataFrame replay of the day-boundary condition suffices: some
    // span hash must be unique (or absent) in day 0 yet duplicated by the
    // union, with a day-0 doc carrying it — exactly the crossing re-clean
    // precondition. A testdata regeneration that lands every duplicated
    // span within one day would make the convergence gate vacuous; this
    // fails first, with a readable message.
    for (sfName <- Seq("0.001", "0.01", "0.1")) {
      val docs = Tables.documents(spark, sf(sfName))
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextFns.normalizeText(col("text")).as("n"))
        .filter(length(col("n")) > 0)
      val occ = docs.select(col("doc_id"),
        explode(graft.operators.dedup.TextShingles.shingleHashesAll(col("n"), 5))
          .as("h"),
        pmod(col("doc_id"), lit(DedupQueries.SpanDays)).as("day"))
      val byDay = occ.groupBy(col("h"))
        .agg(sum(when(col("day") === 0, 1L).otherwise(0L)).as("c0"),
          count(lit(1)).as("ct"))
      val crossing = byDay.filter(col("c0") < 2 && col("ct") >= 2 &&
        col("c0") > 0) // day-0 doc carries it AND a later day duplicates it
      val n = crossing.count()
      assert(n > 0, s"sf$sfName: no span hash crosses the q131 day boundary")
    }
  }

  test("count-segment compaction is result-invariant mid-stream") {
    val docs = Tables.documents(spark, sf("0.001"))
    val root = scratch("compact")
    for (day <- 0 to 1)
      IncrementalSpanDedup.append(spark, root,
        docs.filter(pmod(col("doc_id"), lit(3)) === day), "doc_id", "text", 5)
    IncrementalSpanDedup.compactCounts(spark, root)
    // one segment dir remains after the fold
    assert(new java.io.File(s"$root/counts").listFiles()
      .count(_.getName.startsWith("seg=")) == 1)
    IncrementalSpanDedup.append(spark, root,
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", 5)
    val batch = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", 5)
    assert(sorted(IncrementalSpanDedup.result(spark, root, "doc_id")) ==
      sorted(batch))
  }

  test("clean MERGE is partition-pruned: untouched buckets stay byte-identical") {
    val root = scratch("buckets")
    // day 1: docs land in buckets 1, 2, 3 (pmod(doc_id, 8))
    val day1 = Seq(
      (1L, "a b c d e"),
      (2L, "p q r s t"),
      (3L, "u v w x y")).toDF("doc_id", "text")
    IncrementalSpanDedup.append(spark, root, day1, "doc_id", "text", 2)
    def bucketFiles(b: Int): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$root/clean/__db=$b")
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          f.getName -> (f.length(), java.util.Arrays.hashCode(bytes).toLong)
        }.toMap
    }
    val before2 = bucketFiles(2)
    val before3 = bucketFiles(3)
    assert(before2.nonEmpty && before3.nonEmpty)
    // day 2: a second copy of "c d" — changes docs 1 (bucket 1) and 10
    // (bucket 2); bucket 3 must not be rewritten, not even re-committed
    val day2 = Seq((10L, "c d")).toDF("doc_id", "text")
    IncrementalSpanDedup.append(spark, root, day2, "doc_id", "text", 2)
    assert(bucketFiles(3) == before3,
      "bucket 3 held no changed doc but its files changed — the clean " +
        "MERGE rewrote an untouched bucket")
    assert(bucketFiles(2) != before2,
      "bucket 2 holds changed doc 10 but its files did not change")
    // and the merged output is still exactly right
    val r = IncrementalSpanDedup.result(spark, root, "doc_id")
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(r(1L) == "a b e" && r(10L) == "" && r(3L) == "u v w x y")
  }

  test("the pruned bucket read reaches the scan's PartitionFilters") {
    val root = scratch("prune")
    val docs = Tables.documents(spark, sf("0.001"))
    IncrementalSpanDedup.append(spark, root, docs, "doc_id", "text", 5)
    val probed = IncrementalSpanDedup.cleanBucketScan(spark, root, "doc_id",
      Seq(0, 3))
    val plan = probed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*__db[^\\]]*\\].*"),
      s"__db filter did not reach the scan's partition filters:\n$plan")
    def partitionCount(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }.head
    val full = partitionCount(spark.read.parquet(s"$root/clean"))
    val pruned = partitionCount(probed)
    assert(pruned <= 2 && full > pruned,
      s"pruning ineffective: $pruned of $full bucket dirs scanned")
  }

  test("compaction swap recovers from a crash between the renames") {
    val docs = Tables.documents(spark, sf("0.001"))
    val root = scratch("crash")
    for (day <- 0 to 1)
      IncrementalSpanDedup.append(spark, root,
        docs.filter(pmod(col("doc_id"), lit(3)) === day), "doc_id", "text", 5)
    // simulate the compaction crash window of the Publish swap: the
    // staging copy fully written, counts already retired, promote never ran
    val counts = new org.apache.hadoop.fs.Path(s"$root/counts")
    val staging = graft.sources.Publish.staging(counts)
    val retired = graft.sources.Publish.retired(counts)
    val merged = spark.read.parquet(s"$root/counts")
      .groupBy(col("__h")).agg(sum(col("__c")).as("__c"))
    merged.write.mode("overwrite").parquet(s"$staging/seg=0")
    val fs = counts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(counts, retired))
    // next append must recover the counts (NOT treat history as zero)
    IncrementalSpanDedup.append(spark, root,
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), "doc_id", "text", 5)
    assert(!fs.exists(staging))
    assert(!fs.exists(retired))
    val batch = SpanDedup.removeDuplicateSpans(docs, "doc_id", "text", 5)
    assert(sorted(IncrementalSpanDedup.result(spark, root, "doc_id")) ==
      sorted(batch))
  }

  test("a later copy strips the span from the earlier doc; self-repeats and short docs") {
    val root = scratch("edge")
    // day 1: unique span (a..e), a self-repeating doc (x y x y — no 2-gram
    // repeats at width 2? use width 2 with 'p q p q': windows pq,qp,pq ->
    // pq twice = self-dup), and a short doc (single token, no window)
    val day1 = Seq(
      (1L, "a b c d e"),
      (2L, "p q p q"),
      (3L, "z")).toDF("doc_id", "text")
    val s1 = IncrementalSpanDedup.append(spark, root, day1, "doc_id", "text", 2)
    val r1 = IncrementalSpanDedup.result(spark, root, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(r1(1L) == "a b c d e")              // unique so far: untouched
    assert(r1(2L) == "")                       // pq/qp/pq: all positions covered
    assert(r1(3L) == "z")                      // no window: passthrough
    assert(s1.recleanedOldDocs == 0)
    // day 2: a second copy of "c d" arrives — doc 1 must be re-cleaned
    val day2 = Seq((10L, "c d")).toDF("doc_id", "text")
    val s2 = IncrementalSpanDedup.append(spark, root, day2, "doc_id", "text", 2)
    assert(s2.crossingHashes == 1 && s2.recleanedOldDocs == 1)
    val r2 = IncrementalSpanDedup.result(spark, root, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(r2(1L) == "a b e")                  // "c d" span cut from the old doc
    assert(r2(10L) == "")                      // and from the new copy
    assert(r2(2L) == "" && r2(3L) == "z")      // untouched docs carried over
  }

  test("layout marker: written on first append, enforced afterwards") {
    val root = scratch("layout")
    val day1 = Seq((1L, "a b c")).toDF("doc_id", "text")
    IncrementalSpanDedup.append(spark, root, day1, "doc_id", "text", 2)
    val marker = java.nio.file.Paths.get(root, "_layout")
    assert(java.nio.file.Files.exists(marker), "first append must stamp _layout")
    val txt = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
    assert(txt.contains("version=2") &&
      txt.contains(s"buckets=${IncrementalSpanDedup.Buckets}"))
    // a marker written under a different Buckets refuses the append — a
    // silent bucket change would strand rows in unread directories
    // (tampering bypasses Hadoop's local FS, so drop its .crc sidecar too)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, "._layout.crc"))
    java.nio.file.Files.write(marker, "version=2\nbuckets=4\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      IncrementalSpanDedup.append(spark, root, day1, "doc_id", "text", 2)
    }
    assert(e.getMessage.contains("layout"))
    // a pre-marker root (state exists, no marker) refuses instead of
    // resolving phantom __hb/__db columns against the old flat layout
    java.nio.file.Files.delete(marker)
    val e2 = intercept[IllegalArgumentException] {
      IncrementalSpanDedup.append(spark, root, day1, "doc_id", "text", 2)
    }
    assert(e2.getMessage.contains("_layout"))
  }
}
