package graft

/** Plan-dump main: writes `.explain("formatted")` for the named queries to
  * files — the optimization-round evidence artifacts (plans/r15/). Reuses the
  * bench's session shape so the plans are the ones the bench actually runs.
  *
  * Usage: runMain graft.Plans <outDir> <suffix> <query>[,<query>...]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain()
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n (known: ${SparkEntry.queries.keySet.toSeq.sorted.take(5).mkString(",")}...)"))
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${n}_$suffix.txt")
      try w.println(plan) finally w.close()
      println(s"[plans] wrote $outDir/${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
