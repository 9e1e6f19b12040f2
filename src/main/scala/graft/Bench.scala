package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: one JSON line of per-query wall-clock seconds.
  *
  * Honesty measures:
  *   - every query is fully CONSUMED through the noop datasource (count()
  *     would let Catalyst prune computed columns out of projection-final
  *     plans and under-measure);
  *   - one untimed warm-up pass runs first (JVM/codegen/FS-cache warm-up —
  *     r1's p17 "6.3s" was really first-query warm-up); it warms codegen
  *     only because Spark's codegen cache holds the whole suite's classes
  *     (build.sbt's javaOptions), which `codegen_compiles` checks;
  *   - each query runs and is consumed in its own [[Pins.scope]], so what
  *     it persists or checkpoints can't leak work across timings.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain()

    def consume(df: => DataFrame): Unit =
      Pins.scope(df.write.mode("overwrite").format("noop").save())

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for local profiling of a
    // single query's wall-clock without the full 266-query suite.
    // Empty / whitespace-only values mean "no filter" — otherwise
    // SPARK_GRAFT_ONLY="" would silently time nothing.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val selected = only.fold(SparkEntry.queries)(f =>
      SparkEntry.queries.filter { case (n, _) => f(n) })
    only.foreach { f =>
      val unknown = f -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING unknown SPARK_GRAFT_ONLY names: ${unknown.mkString(",")}")
    }

    // warm-up (untimed)
    selected.foreach { case (_, fn) =>
      try consume(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    // The tip entries memoize ONE shared checkpointed stream per (JVM, sf
    // dir); the warm pass above already drove it, so without a reset the
    // timed entries would measure stored-table read-back only (the r15
    // accounting flaw — VERDICT r15 #2). Reset so the FIRST timed tip
    // entry drives the real stream; the second reads the shared run's
    // other output surface (pipeline accounting, like the other
    // materialized intermediates).
    graft.streaming.TipInspect.resetTipRuns()

    // Spark's own codegen counters, read around the timed pass: a codegen
    // cache too small for the suite shows as compiles the warm pass did
    // not absorb.
    def codegen(): (Long, Long) =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val (compiles0, compileNs0) = codegen()

    // A query that throws must never record its (fast) exception path as a
    // timing — keep failures out of `queries`/total and list them apart.
    val timed = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { consume(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      (name, dt, ok)
    }
    val (compiles1, compileNs1) = codegen()
    val (compiles, codegenS) = (compiles1 - compiles0, (compileNs1 - compileNs0) / 1e9)
    val results = timed.collect { case (n, dt, true) => n -> dt }.toMap
    val failed = timed.collect { case (n, _, false) => n }.toSeq.sorted
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The tip entry whose timing carries the shared stream: the first one
    // timed (in the map's hash order) that succeeded; the other reads back.
    val tipNames = graft.streaming.TipInspect.defs.map(_.name).toSet
    val tipRun = timed.collectFirst { case (n, _, true) if tipNames(n) => n }
      .fold("null")("\"" + _ + "\"")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line =
      s"""{"metric":"total_full","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"tip_run":$tipRun,"codegen_compiles":$compiles,"codegen_s":$codegenS,"sf":"$sfDir"}"""
    println(line)
    // Compact summary printed LAST: the driver keeps only a ~2000-char
    // stdout TAIL, which the ~10 KB full line above has overflowed four
    // rounds running (PERF per_query/scaling empty, BENCH parsed:null —
    // VERDICT r15 #1). The summary fits the tail and parses; the complete
    // per-query map stays on the full line above and in
    // BENCH_full_latest.json (no more per-round BENCH_full_r{N} minting —
    // the driver's own reruns collided with committed artifacts).
    // It is the only line whose metric is "total"; the full line above is
    // "total_full".
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"failed":$failedJson,"tip_run":$tipRun,"codegen_compiles":$compiles,"codegen_s":$codegenS,"sf":"$sfDir"}""")
    try {
      val repo = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
      // a filtered profiling run — or a smoke run at any other scale
      // factor — must not clobber the sf0.1 full-suite artifact
      if (repo.isDirectory && only.isEmpty && sfDir.contains("sf0.1")) {
        val w = new java.io.PrintWriter(new java.io.File(repo, "BENCH_full_latest.json"))
        try w.println(line) finally w.close()
      }
    } catch { case _: Throwable => () } // never fail the bench over bookkeeping
    spark.stop()
  }
}
