package graft.perfbench

import graft.SparkEntry
import graft.domain.{Accounting, ChainFixture}
import graft.streaming.TipInspect
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** The JVM half of the benchmark: runs one workload as a closed loop with
  * one client over a prepared input directory and writes everything it
  * measured to a JSON file. `run.py` prepares the input, starts this,
  * checks the outputs and turns the file into metrics.
  *
  * Every run has three phases:
  *   1. set-up, timed as a whole: session start, then the warm work of the
  *      workload (see `run`); every output consumed is dumped to parquet
  *      once per run, outside any timing, for the oracle comparison and as
  *      the reference digests of the timed operations;
  *   2. with `--trace 0`, the loop: operations back to back until
  *      `--seconds` have passed, each output consumed by one aggregate that
  *      digests it;
  *   3. with `--trace 1`, in place of the loop, one unit of fixed work with
  *      spans tagging Spark jobs by layer, so its counts repeat from run to
  *      run, then the same unit untraced, for the tracing overhead.
  *
  * Store directories, checkpoints and temp dirs an operation leaves are
  * deleted after its timing stops. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[(String, String)] = a(k).split(",").toSeq.map { kv =>
      val Array(x, y) = kv.split(":"); x -> y
    }
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.graft.matRoot", s"$work/mat/setup/m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val h = new Harness(spark, a("workload"), a("data"), work, a("dump"),
      a("seed").toLong, list("range"), list("mix"), a("tip").split(",").toSeq)
    val out = h.run(t0, a("seconds").toDouble, a("trace") == "1")
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json(out))
    spark.stop()
  }
}

final class Harness(spark: SparkSession, workload: String, data: String,
    work: String, dumpDir: String, seed: Long,
    range: Seq[(String, String)], mix: Seq[(String, String)], tip: Seq[String]) {

  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc)
  private val listener = new LayerListener
  private val queries = SparkEntry.queries
  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))
  private val dumped = mutable.LinkedHashSet[String]()
  private var opSeq = 0

  {
    val unknown = (range.map(_._1) ++ mix.map(_._2) ++ tip).filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
  }

  // ── consuming one output ──────────────────────────────────────────────

  /** One aggregate over every column of `df`, independent of row order:
    * the row count, the sum of a 64-bit hash of the non-float columns, and
    * per float column the sum, the sum of magnitudes and the non-null
    * count (floats are compared with a tolerance, like tools/check.py). */
  private def digestFrame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq.sortBy(_.name)
    def c(n: String) = col(s"`$n`")
    val (floats, exact) = fields.partition(f => f.dataType == DoubleType || f.dataType == FloatType)
    val hashCols: Seq[Column] = exact.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(c(f.name)))
        case _ => c(f.name)
      }
    }
    val aggs = Seq(count(lit(1)).as("rows"),
      sum((if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols: _*)).cast(DecimalType(38, 0)))
        .cast("string").as("hash")) ++
      floats.flatMap { f =>
        val v = c(f.name).cast(DoubleType)
        Seq(sum(v).as(s"s_${f.name}"), sum(abs(v)).as(s"a_${f.name}"), count(v).as(s"n_${f.name}"))
      }
    df.select(fields.map(f => c(f.name)): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def digestOf(frame: DataFrame): Map[String, Any] = {
    val r = frame.collect().head
    val floats = frame.columns.drop(2).grouped(3).map { case Array(s, a, n) =>
      s.drop(2) -> Seq(r.getAs[Any](s), r.getAs[Any](a), r.getAs[Long](n))
    }.toMap
    Map("rows" -> r.getLong(0), "hash" -> Option(r.getString(1)).getOrElse("0"),
      "floats" -> floats)
  }

  /** Runs query `q` through its layer: `fn` (eager work inside it is
    * "build"), planning of the aggregate that consumes it ("plan") and
    * that aggregate's execution ("run"). With `dump` the output is written
    * to parquet instead and the written copy becomes the reference. */
  private def consume(layer: String, q: String, op: Op, dump: Boolean = false): Unit = {
    val df = tracer.span(layer, "build", q) { queries(q)(spark, data) }
    if (dump) tracer.span(layer, "run", q) { dumpOutput(q, df, op) }
    else {
      val frame = digestFrame(df)
      val qe = frame.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      tracer.span(layer, "plan", q) { qe.executedPlan }
      op.put("digests", q, tracer.span(layer, "run", q) { digestOf(frame) })
      op.put("plan_phases", q, qe.tracker.phases.map { case (k, p) => k -> p.durationMs })
    }
  }

  private def dumpOutput(q: String, df: DataFrame, op: Op): Unit = {
    df.write.mode("overwrite").parquet(s"$dumpDir/$q")
    dumped += q
    op.put("dump_digests", q, digestOf(digestFrame(spark.read.parquet(s"$dumpDir/$q"))))
  }

  private def clearCaches(): Unit = spark.sharedState.cacheManager.clearCache()

  // ── one operation ─────────────────────────────────────────────────────

  private def tmpEntries(): Set[String] =
    Option(tmpDir.list()).map(_.toSet).getOrElse(Set.empty)

  /** (parquet files, bytes) under `f`. */
  private def du(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
      .map(du).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.getName.endsWith(".parquet")) (1L, f.length) else (0L, f.length)

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  /** Times `body` as one operation; an exception is the operation's
    * failure. `after` runs once the timing has stopped, before the
    * operation's caches and the temp dirs it created are released. The
    * temp-dir size left afterwards is recorded so run.py can check that it
    * does not grow. Roles: "warm" and "setup" are untimed set-up,
    * "timed" makes the end-to-end samples, "traced" the per-layer unit and
    * "ref" the same unit untraced, for the tracing overhead. */
  private def operation(kind: String, name: String, role: String, traced: Boolean)(
      body: Op => Unit)(after: Op => Unit = _ => ()): Op = {
    val op = new Op(mutable.LinkedHashMap("kind" -> kind, "name" -> name, "role" -> role,
      "traced" -> traced))
    val before = tmpEntries()
    if (traced) { Bus.drain(sc); listener.takeProgress() }
    tracer.traced = traced
    val t0 = System.nanoTime()
    try body(op)
    catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      op.m("error") = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    }
    val t1 = System.nanoTime()
    tracer.traced = false
    op.m("wall_s") = (t1 - t0) / 1e9
    op.m("spans") = tracer.take().map(s =>
      Seq(s.layer, s.kind, s.query, (s.startNs - t0) / 1e9, (s.endNs - t0) / 1e9))
    try after(op)
    catch { case e: Throwable => op.m("error") = s"after timing: $e" }
    clearCaches()
    if (traced) {
      Bus.drain(sc)
      val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      op.m("storage_bytes_after") = infos.map(i => i.memSize + i.diskSize).sum
      op.m("cached_rdds_after") = infos.length
      op.m("progress") = listener.takeProgress()
    }
    val created = tmpEntries() -- before
    created.foreach(n => rmrf(new File(tmpDir, n)))
    op.m("tmp_left") = created.filter(n => new File(tmpDir, n).exists).toSeq
    op.m("tmp_bytes_after") = du(tmpDir)._2
    op
  }

  // ── the workloads ─────────────────────────────────────────────────────

  private def storeSize(root: File, op: Op): Unit = {
    val (files, bytes) = du(root)
    op.m("store_files") = files
    op.m("store_bytes") = bytes
  }

  private def buildStores(): Unit = {
    tracer.span("materialize", "traces", "") { ChainFixture.tracesTable(spark, data) }
    tracer.span("classify", "actions", "") { ChainFixture.actionsTable(spark, data) }
    tracer.span("account", "headers", "") { Accounting.bundleHeaders(spark, data) }
  }

  /** range_cold: a fresh store root, the traces → actions → headers
    * stores, then every range query; the root is deleted afterwards. */
  private def rangeOp(role: String, traced: Boolean = false): Op = {
    opSeq += 1
    val root = new File(s"$work/mat/range$opSeq")
    spark.conf.set("spark.graft.matRoot", s"$root/m")
    operation("range", s"range$opSeq", role, traced) { op =>
      buildStores()
      range.foreach { case (q, layer) =>
        consume(layer, q, op, dump = role == "warm")
        tracer.span(layer, "clear", q) { clearCaches() }
      }
    } { op =>
      storeSize(root, op)
      rmrf(root)
      op.m("store_left") = root.exists
    }
  }

  private def queryOp(module: String, q: String, role: String, traced: Boolean = false): Op = {
    val op = operation("query", q, role, traced) { op =>
      consume("analyst", q, op, dump = role == "warm")
    }()
    op.m("module") = module
    op
  }

  /** tip_stream: forget the memoized tip run, then consume both of its
    * output surfaces, which drives one fresh checkpointed stream. The
    * first stream of a run, the untimed warm one, is the reference: after
    * it ends, the surfaces it stored are read back once more and dumped. */
  private def tipOp(role: String, traced: Boolean = false): Op = {
    val dump = dumped.isEmpty
    opSeq += 1
    operation("tip", s"tip$opSeq", role, traced) { op =>
      TipInspect.resetTipRuns()
      tip.foreach(q => consume("tip", q, op))
    } { op =>
      if (dump) tip.foreach(q => dumpOutput(q, queries(q)(spark, data), op))
    }
  }

  private def shuffled(pass: Int): Seq[(String, String)] =
    new scala.util.Random(seed * 7919 + pass).shuffle(mix)

  /** One unit of fixed work: a range, a pass over the mix, or a stream. */
  private def unit(role: String, traced: Boolean, pass: Int): Seq[Op] = workload match {
    case "range_cold" => Seq(rangeOp(role, traced))
    case "tip_stream" => Seq(tipOp(role, traced))
    case _ => shuffled(pass).map { case (m, q) => queryOp(m, q, role, traced) }
  }

  def run(t0: Long, seconds: Double, trace: Boolean): Map[String, Any] = {
    if (trace) sc.addSparkListener(listener)
    val ops = mutable.ArrayBuffer[Op]()
    new File(dumpDir).mkdirs()
    val sessionS = (System.nanoTime() - t0) / 1e9

    // 1. set-up. Every workload runs one warm unit that dumps every output;
    // tip_stream first builds the traces store, the only store its stream
    // reads.
    workload match {
      case "range_cold" => ops += rangeOp("warm")
      case "analyst_warm" => mix.foreach { case (m, q) => ops += queryOp(m, q, "warm") }
      case "tip_stream" =>
        ops += operation("stores", "stores", "setup", trace) { _ =>
          tracer.span("materialize", "traces", "") { ChainFixture.tracesTable(spark, data) }
        } { op => storeSize(new File(s"$work/mat/setup"), op) }
        ops += tipOp("warm")
      case w => sys.error(s"unknown workload $w")
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    // 2. the closed loop: whole units until `seconds` have passed. A traced
    // run reports no end-to-end metric, so it skips the loop, which keeps a
    // traced tip_stream run (three streams) within the run's time limit.
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    var pass = 0
    while (!trace && (elapsed < seconds || pass == 0)) {
      ops ++= unit("timed", traced = false, pass)
      pass += 1
    }
    val loopS = elapsed

    // 3. one traced unit, then the same unit untraced
    if (trace) {
      ops ++= unit("traced", traced = true, -1)
      ops ++= unit("ref", traced = false, -1)
      Bus.drain(sc)
    }
    val counts = listener.counts.map { case (layer, c) =>
      layer -> Map("jobs" -> c.jobs, "tasks" -> c.tasks, "input_bytes" -> c.inputBytes,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes)
    }.toMap
    Map("workload" -> workload, "session_s" -> sessionS, "setup_s" -> setupS,
      "loop_s" -> loopS, "ops" -> ops.map(_.m), "counts" -> counts,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (q, _) => dumped(q) },
      "dumped" -> dumped.toSeq)
  }
}

/** What one operation recorded. */
final class Op(val m: mutable.LinkedHashMap[String, Any]) {
  /** Sets `q`'s entry of the per-query map under `key`. */
  def put(key: String, q: String, v: Any): Unit =
    m.getOrElseUpdate(key, mutable.LinkedHashMap[String, Any]())
      .asInstanceOf[mutable.Map[String, Any]](q) = v
}
