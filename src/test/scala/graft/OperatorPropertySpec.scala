package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.operators.{IncrementalAgg, Melt, Pivot, Quantiles, Scd2}

/** Property tests binding the round-8 operators to their algebraic
  * contracts: pivot∘melt identity, split-invariance of incremental
  * merges, SCD2 intervals tiling the span, and the histogram sketch's
  * bucket-width error bound against the exact quantiles. Generated
  * inputs, house sample-list style (see ParserPropertySpec).
  */
class OperatorPropertySpec extends SparkSpec {
  import spark.implicits._

  private def rowsSample(n: Int): List[(String, String, Long)] =
    Gen.listOfN(n, for {
      g <- Gen.oneOf("d1", "d2", "d3")
      p <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(-100L, 100L)
    } yield (g, p, v)).sample.get

  test("pivot then melt is the identity on (group, key, sum) cells") {
    (1 to 5).foreach { _ =>
      val rows = rowsSample(30)
      val df = rows.toDF("g", "p", "v")
      val cells = df.groupBy("g", "p").agg(sum("v").as("v"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val wide = Pivot.toWide(df, Seq("g"), "p", Seq("a", "b", "c"),
        Seq(sum(col("v")).as("v")))
      // single-agg pivot names columns by the pivot value alone
      val back = Melt.wideToLong(wide, Seq("g"),
        Seq("a" -> "a", "b" -> "b", "c" -> "c"),
        varName = "p", valueName = "v", valueType = "long")
        .filter(col("v").isNotNull) // absent cell: null wide cell ≡ no input row
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(back == cells, s"cells=$cells back=$back")
    }
  }

  test("IncrementalAgg.merge is split-invariant: any 2-way split equals the direct agg") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val rows = rowsSample(30)
      val (left, right) = rows.partition(_ => rnd.nextBoolean())
      def aggOf(rs: List[(String, String, Long)]) =
        rs.map(t => (t._1, t._3)).toDF("g", "v")
          .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("v"))
      val direct = aggOf(rows).collect().map(_.toSeq).toSet
      if (left.nonEmpty && right.nonEmpty) {
        val merged = IncrementalAgg.merge(aggOf(left), aggOf(right), Seq("g"))
          .collect().map(_.toSeq).toSet
        assert(merged == direct, s"direct=$direct merged=$merged")
      }
    }
  }

  test("Scd2 intervals tile each key's span: no gaps, no overlaps, versions dense") {
    val snapGen = Gen.listOfN(25, for {
      k <- Gen.chooseNum(1, 4)
      d <- Gen.chooseNum(1, 20)
      a <- Gen.oneOf("A", "B")
    } yield (k.toLong, f"2024-01-$d%02d", a))
    (1 to 5).foreach { _ =>
      val rows = snapGen.sample.get.distinctBy(t => (t._1, t._2)) // unique (key, ord)
      val df = rows.toDF("k", "d", "a").withColumn("d", to_date(col("d")))
      val byKey = Scd2.history(df, Seq("k"), "d", Seq("a"))
        .select("k", "version", "valid_from", "valid_to")
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDate(2).toString,
          Option(r.getDate(3)).map(_.toString)))
        .groupBy(_._1)
      byKey.foreach { case (k, vs) =>
        val sorted = vs.sortBy(_._2)
        assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"versions not dense for $k")
        assert(sorted.head._3 == rows.filter(_._1 == k).map(_._2).min,
          s"first interval of $k must open at the first snapshot")
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._4.contains(b._3), s"interval chain broken for $k: $a -> $b")
          case _ =>
        }
        assert(sorted.last._4.isEmpty, s"last interval of $k must be open")
      }
    }
  }

  test("Funnel.userReach equals a reference min-chain on random event sets") {
    import graft.operators.Funnel
    val stages = Seq("view", "click", "purchase")
    val evGen = Gen.listOfN(60, for {
      u <- Gen.chooseNum(1, 5)
      t <- Gen.chooseNum(0, 30)
      s <- Gen.oneOf("view", "click", "purchase", "error", "signup")
    } yield (u.toLong, t.toLong, s))
    (1 to 5).foreach { _ =>
      val rows = evGen.sample.get
      def refReach(evs: List[(Long, Long, String)]): Int = {
        var prev = Long.MinValue
        var reach = 0
        var stalled = false
        for (stage <- stages if !stalled) {
          val cands = evs.filter(e => e._3 == stage && e._2 > prev)
          if (cands.isEmpty) stalled = true
          else { prev = cands.map(_._2).min; reach += 1 }
        }
        reach
      }
      val expected = rows.groupBy(_._1).map { case (u, evs) =>
        u -> refReach(evs)
      }.filter(_._2 > 0)
      val df = rows.map { case (u, t, s) =>
        (u, new java.sql.Timestamp(t * 1000L), s)
      }.toDF("user_id", "ts", "event_type")
      val got = Funnel.userReach(df, "user_id", "ts", "event_type", stages)
        .collect().map(r => r.getLong(0) -> r.getInt(1))
        .filter(_._2 > 0).toMap
      assert(got == expected, s"rows=$rows")
    }
  }

  test("approxByHistogram is within one bucket width of the exact quantile") {
    (1 to 5).foreach { _ =>
      val vals = Gen.listOfN(200, Gen.chooseNum(0L, 9999L)).sample.get
      val df = vals.toDF("v")
      val qs = Seq(0.5, 0.9)
      val width = (10000L + 99) / 100
      val approx = Quantiles.approxByHistogram(df, col("v"), qs,
          lo = 0L, hi = 10000L, buckets = 100)
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val exact = Quantiles.exactDiscrete(df, col("v"), qs)
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      qs.foreach { q =>
        assert(approx(q) <= exact(q) && exact(q) < approx(q) + width,
          s"q=$q approx=${approx(q)} exact=${exact(q)} width=$width")
      }
    }
  }

  test("GlobalRank.rowNumber/ntile equal the window formulation on random data") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.GlobalRank
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      // duplicate sort values force the id tiebreak; id is unique
      val n = 40 + trial * 37
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(12).toLong))
      val df = rows.toDF("id", "v").repartition(5)
      val sortExprs = Seq(col("v").desc, col("id").asc)
      val w = Window.orderBy(sortExprs: _*)
      val expected = df.withColumn("rank", row_number().over(w).cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val got = GlobalRank.rowNumber(df, sortExprs, partitions = 7)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(got == expected, s"trial $trial: distributed rank != window rank")
      (1 to 7).foreach { k =>
        val expTile = df.withColumn("t", ntile(k).over(w))
          .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
        val gotTile = GlobalRank.ntile(df, sortExprs, k, partitions = 7)
          .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
        assert(gotTile == expTile, s"trial $trial k=$k: ntile mismatch")
      }
    }
  }

  /** Spark jobs started while `body` runs (the listener bus is async:
    * wait until the count stops moving).
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      var last = -1
      var stable = 0
      while (stable < 5) {
        Thread.sleep(100)
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      (out, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** (id, g, o, m): unique id, `groups` group keys plus nulls when there
    * is more than one, duplicate-heavy o, signed measure.
    */
  private def prefixRows(seed: Int, groups: Int, n: Int) = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val g = if (groups > 1 && rnd.nextInt(10) == 0) None
        else Some(s"g${rnd.nextInt(groups)}")
      (i.toLong, g, rnd.nextInt(9).toLong, rnd.nextInt(101) - 50L)
    }.toDF("id", "g", "o", "m").repartition(3)
  }

  test("PrefixSum equals the window running sum on random data") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.PrefixSum
    val order = Seq(col("o").desc, col("id").asc)
    val upTo = Window.unboundedPreceding
    // (groups, rows, partitions, jobs): one group spanning every range
    // partition, more groups than partitions, one partition, empty input;
    // jobs = what GlobalRank.rowNumber ran while building on the same
    // input before it moved onto PrefixSum
    val cases = Seq((1, 120, 7, 5), (1, 120, 1, 3), (20, 150, 7, 5),
      (20, 150, 1, 3), (3, 0, 7, 1), (3, 0, 1, 1))
    cases.zipWithIndex.foreach { case ((groups, n, parts, rankJobs), i) =>
      val df = prefixRows(i, groups, n)
      val what = s"groups=$groups rows=$n partitions=$parts"
      def byId(out: org.apache.spark.sql.DataFrame) =
        out.select("id", "s").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (groups == 1 && parts == 7) assert(df.repartitionByRange(parts, order: _*)
        .select(spark_partition_id()).distinct().count() == parts,
        s"$what: the one group must span every range partition")

      val (global, nGlobal) = jobsDuring(PrefixSum.global(df, order, col("m"), "s", parts))
      val (all, total) = global
      assert(all.columns.toSeq == df.columns.toSeq :+ "s", what)
      assert(total == df.agg(coalesce(sum("m"), lit(0L))).first().getLong(0), what)
      assert(byId(all) == byId(df.withColumn("s",
        sum(col("m")).over(Window.orderBy(order: _*).rowsBetween(upTo, 0)))),
        s"$what: global running sum != window")
      // the eager totals collect
      assert(nGlobal <= rankJobs, s"$what: global build ran $nGlobal jobs")

      val (grouped, nGrouped) = jobsDuring(
        PrefixSum.perGroup(df, "g", order, col("m"), "s", parts))
      assert(nGrouped == 0, s"$what: grouped build ran $nGrouped jobs")
      assert(grouped.columns.toSeq == df.columns.toSeq :+ "s", what)
      assert(byId(grouped) == byId(df.withColumn("s", sum(col("m")).over(
        Window.partitionBy("g").orderBy(order: _*).rowsBetween(upTo, 0)))),
        s"$what: grouped running sum != window")
    }
  }
}
