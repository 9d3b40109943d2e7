package graft

import java.io.{File, PrintWriter}

/** Dumps the formatted physical plan of every SparkEntry query to a
  * markdown file — the plan-quality audit trail (pushdown, pruned schemas,
  * broadcast vs shuffle joins, codegen spans). `SPARK_GRAFT_ONLY` narrows
  * it to named queries: a per-query before/after plan is
  * `SPARK_GRAFT_ONLY=q… runMain graft.Explain <sfDir> <out.md>` on each side.
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [outFile]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("EXPLAINS.md")
    // the bench's session (GraftSession.builder), so the dumped plans are
    // the plans Bench and Verify run
    val spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pw = new PrintWriter(new File(outFile))
    pw.println(s"# Physical plans (`explain formatted`) at $sfDir\n")
    pw.println("Generated by `graft.Explain`. Audit points: `PushedFilters`/`ReadSchema`")
    pw.println("on every scan, broadcast vs shuffle join choices, codegen stage spans.\n")
    SparkEntry.selectedQueries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        pw.println(s"## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => pw.println(s"## $name\n\nFAILED: ${e.getMessage}\n")
      }
    }
    pw.close()
    println(s"wrote $outFile")
    spark.stop()
  }
}
