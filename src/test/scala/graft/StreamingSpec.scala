package graft

import graft.domain.InspectorOps
import graft.streaming.TipStream
import graft.streaming.TipStream.{PoolQuote, PoolUpdate}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** R2/R5/S5: the stateful tip pipeline driven through a real Structured
  * Streaming query (MemoryStream → flatMapGroupsWithState → memory sink),
  * asserting state carries across micro-batches. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("R5 pool state carries across micro-batches and orders within a batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PoolUpdate]
    val q = TipStream.poolQuotes(input.toDS())
      .writeStream.format("memory").queryName("pool_quotes")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two updates to pool A arriving out of tx order
      input.addData(PoolUpdate("A", 1L, 5L, 2.0, 10.0), PoolUpdate("A", 1L, 2L, 1.5, 5.0))
      q.processAllAvailable()
      // batch 2: one more for A (state must remember px=2.0), one for B
      input.addData(PoolUpdate("A", 2L, 0L, 3.0, 1.0), PoolUpdate("B", 2L, 1L, 9.0, 2.0))
      q.processAllAvailable()
      val rows = spark.table("pool_quotes").as[PoolQuote].collect()
        .sortBy(r => (r.pool, r.nUpdates))
      assert(rows.map(_.postPx).toSeq == Seq(1.5, 2.0, 3.0, 9.0))
      // pre of the fold: None, then the in-batch 1.5, then cross-BATCH 2.0
      assert(rows.map(_.prePx).toSeq == Seq(None, Some(1.5), Some(2.0), None))
      assert(rows.find(r => r.pool == "A" && r.nUpdates == 3).get.cumVol == 16.0)
    } finally q.stop()
  }

  test("C3 discovery upsert: a pool created in batch 2 is priced in batch 3") {
    import TipStream.{RegEvent, RegQuote}
    val tmp = java.nio.file.Files.createTempDirectory("graft_c3sd_spec").toString
    val (src, out, reg, ck1, ck2) = (s"$tmp/src", s"$tmp/out", s"$tmp/reg",
      s"$tmp/ck1", s"$tmp/ck2")
    def drop(mode: String, evs: RegEvent*): Unit =
      evs.toSeq.toDF().coalesce(1).write.mode(mode).parquet(src)
    // batch 1: pool X trades BEFORE discovery → quarantined, no state
    drop("overwrite", RegEvent("X", 1L, 0L, isNew = false, 5.0, 2.0))
    val schema = "pool STRING, block BIGINT, txIdx BIGINT, " +
      "isNew BOOLEAN, px DOUBLE, vol DOUBLE"
    val stream = spark.readStream.schema(schema).parquet(src)
    val priceQ = TipStream.registeredQuotes(stream.as[RegEvent]).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck1)
      .outputMode(OutputMode.Append()).start()
    val discQ = TipStream.runDiscoveryUpsert(spark, src, reg, ck2)
    try {
      priceQ.processAllAvailable(); discQ.processAllAvailable()
      // batch 2: the factory deploys X mid-stream → registry upsert
      drop("append", RegEvent("X", 2L, -1L, isNew = true, 0.0, 0.0))
      priceQ.processAllAvailable(); discQ.processAllAvailable()
      // batch 3: X trades again → priced now, state starts fresh
      drop("append", RegEvent("X", 3L, 0L, isNew = false, 7.0, 4.0),
        RegEvent("X", 3L, 1L, isNew = false, 8.0, 1.0))
      priceQ.processAllAvailable(); discQ.processAllAvailable()
    } finally { priceQ.stop(); discQ.stop() }
    val rows = spark.read.parquet(out).as[RegQuote].collect()
      .sortBy(r => (r.block, r.txIdx))
    assert(rows.map(r => (r.block, r.priced)).toSeq ==
      Seq((1L, false), (3L, true), (3L, true)))
    // the pre-discovery update never folded: batch-3 state starts at zero
    assert(rows.filter(_.priced).map(_.nUpdates).toSeq == Seq(1L, 2L))
    assert(rows.filter(_.priced).map(_.prePx).toSeq == Seq(None, Some(7.0)))
    assert(rows.last.cumVol == 5.0)
    // the registry TABLE grew mid-stream via the foreachBatch upsert
    val regRows = spark.read.parquet(reg).collect()
    assert(regRows.map(_.getAs[String]("pool")).toSeq == Seq("X"))
    assert(regRows.head.getAs[Long]("deploy_block") == 2L)
  }

  test("R4 watermark: late-within-delay merges, late-past-watermark drops, append flushes on close") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TipStream.WndUpdate]
    val q = TipStream.lateWindowAgg(input.toDS())
      .writeStream.format("memory").queryName("late_wnd")
      .outputMode(OutputMode.Append()).start()
    try {
      // event time = block seconds (+ txIdx ms); 10 s tumbling, 3.5 s delay
      // batch 1: two units in window [0,10)
      input.addData(TipStream.WndUpdate("A", 0L, 0L, 1.0, 1L),
        TipStream.WndUpdate("A", 1L, 0L, 2.0, 1L))
      q.processAllAvailable()
      // batch 2: wm = 1s − 3.5s < 0 → the t=2s unit is late but MERGES
      // (cnt 2 collapses two combined rows); the t=30s unit advances the
      // watermark to 26.5s at batch end
      input.addData(TipStream.WndUpdate("A", 2L, 0L, 4.0, 2L),
        TipStream.WndUpdate("B", 30L, 0L, 8.0, 1L))
      q.processAllAvailable()
      // batch 3: window [0,10) closed at wm 26.5s → the t=5s unit is DROPPED
      input.addData(TipStream.WndUpdate("A", 5L, 0L, 16.0, 1L))
      q.processAllAvailable()
      // sentinel flushes window [30,40) (its own window stays open)
      input.addData(TipStream.WndUpdate("zz", 1000L, 0L, 0.0, 0L))
      q.processAllAvailable()
      val rows = spark.table("late_wnd")
        .selectExpr("unix_micros(window.start) AS ws", "pool", "n", "sum_vol")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      // [0,10)×A: 1+1+2 underlying rows (1+2+4 vol), the dropped t=5s unit
      // absent; [30,40)×B flushed by the sentinel; sentinel unemitted
      assert(rows == Seq((0L, "A", 4L, 7.0), (30000000L, "B", 1L, 8.0)))
    } finally q.stop()
  }

  test("R5 tick boundary crossings are detected across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[PoolUpdate]
    val q = TipStream.poolQuotes(input.toDS())
      .writeStream.format("memory").queryName("tick_quotes")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: price stays inside tick 0 (√P ∈ [1.0, 1.0001))
      input.addData(PoolUpdate("V3", 1L, 0L, 1.00002, 1.0),
        PoolUpdate("V3", 1L, 1L, 1.00009, 1.0))
      q.processAllAvailable()
      // batch 2: the move into tick 1 happens ACROSS the batch boundary —
      // only carried state can see it; then a drop back down to tick 0
      input.addData(PoolUpdate("V3", 2L, 0L, 1.00013, 1.0),
        PoolUpdate("V3", 2L, 1L, 1.00004, 1.0))
      q.processAllAvailable()
      val rows = spark.table("tick_quotes").as[PoolQuote].collect()
        .sortBy(_.nUpdates)
      assert(rows.map(TipStream.crossedBoundary).toSeq ==
        Seq(false, false, true, true))
      assert(TipStream.tickOf(rows(2).postPx) == 1L &&
        TipStream.tickOf(rows(3).postPx) == 0L)
    } finally q.stop()
  }

  test("R5 tick-liquidity fold: a mint in an earlier batch reprices a later swap's walk") {
    import graft.streaming.TipStream.{TickEvent, TickQuote}
    implicit val sqlCtx = spark.sqlContext
    // drive the same planted scenario twice: with and without a batch-1
    // mint of 2.0 liquidity into range k=-1 of pool 1; the batch-2 swap
    // walks from the EXACT tick(1.0035)=34 (⌊√rate·2^96⌋ through the
    // integer inverse — the linearized coordinate said 35) → clamped
    // cur_t = -6, touching k=-1 first
    def run(withMint: Boolean, name: String): Seq[TickQuote] = {
      val input = MemoryStream[TickEvent]
      val q = TipStream.tickQuotes(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        val mint = TickEvent(1L, 1L, 0L, 0, -1L, 2000000L, 0.0, 0.0)
        val seed = TickEvent(1L, 1L, 1L, 2, 0L, 0L, 1.0035, 1.0)
        input.addData(if (withMint) Seq(mint, seed) else Seq(seed))
        q.processAllAvailable()
        // batch 2: the priced swap — state (lastPx AND the liquidity map)
        // must have carried across the batch boundary. vol=200 exhausts
        // every range below cur_t so ALL ranges resolve full and the
        // liquidity delta shows up undiluted in the output total.
        input.addData(TickEvent(1L, 2L, 0L, 2, 0L, 0L, 1.0010, 200.0))
        q.processAllAvailable()
        spark.table(name).as[TickQuote].collect().toSeq.sortBy(_.block)
      } finally q.stop()
    }
    val boosted = run(withMint = true, "tick_mint")
    val base = run(withMint = false, "tick_base")
    assert(boosted.size == 1 && base.size == 1) // seed swap is unpriced
    val (b, u) = (boosted.head, base.head)
    assert(b.curT == -6L && u.curT == -6L)
    assert(b.nCrossed == 8L && b.exhausted) // k=-1..-8 all crossed fully
    assert(b.tickMoved) // tick(1.0035)=34 → tick(1.0010)=9
    // every range full → out = Σ L_k·(s_px−e_px); only k=-1's L differs, by
    // the carried mint's ΔL=2.0, over the EXACT Q64.96 width
    // √P(-6)−√P(-10) ≈ 2.0·10⁻⁴ → 400 micro-units after the snap
    // (externally cross-checked against the integer chain in
    // tools/tickmath_proto.py: 49437353 vs 49436953 µ)
    assert(b.outMicro == 49437353L && u.outMicro == 49436953L)
    assert(b.outMicro - u.outMicro == 400L)
  }

  test("R2/S5 tip mode follows a directory and write-behinds per micro-batch") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tip").toString
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    // seed the source with chain-fixture swaps, then start following it
    val swaps = graft.domain.ChainFixture.actions(spark, SfDir)
      .filter("action_type = 'swap'")
      .select("pool", "block_number", "tx_idx", "amount_in", "amount_out")
    swaps.limit(100).write.parquet(src)
    val q = TipStream.runTip(spark, src, out, ckpt)
    try {
      q.processAllAvailable()
      // a new "block" lands at the tip
      swaps.orderBy("block_number", "tx_idx").limit(50)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      val written = spark.read.parquet(out)
      assert(written.count() > 0)
      assert(written.select("pool").distinct().count() > 0)
    } finally q.stop()
  }

  test("S5 write-behind replays a crashed batch without duplicating it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val (src, out, ckpt) = (s"$tmp/src", s"$tmp/out", s"$tmp/ckpt")
    val swaps = graft.domain.ChainFixture.actions(spark, SfDir)
      .filter("action_type = 'swap'")
      .select("pool", "block_number", "tx_idx", "amount_in", "amount_out")
    swaps.limit(100).write.parquet(src)
    val q1 = TipStream.runTip(spark, src, out, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val before = spark.read.parquet(out).collect().toSeq
      .map(_.toString).sorted
    assert(before.nonEmpty)
    // simulate a crash AFTER the foreachBatch write but BEFORE the
    // checkpoint commit: drop the newest commit marker, so restart
    // replays that batch id against an output directory that already
    // holds its rows
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // drop the checksum shadow too, or the replayed commit's rename fails
    new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
      .delete(): Unit
    val q2 = TipStream.runTip(spark, src, out, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val after = spark.read.parquet(out).collect().toSeq
      .map(_.toString).sorted
    // overwrite-per-batch-id makes the replay idempotent: the rows are
    // bit-identical, not doubled (mode("append") fails this test)
    assert(after == before, s"replay changed output: ${after.size} vs ${before.size} rows")
  }

  test("D8 streaming dedup suppresses re-occurrences across micro-batches only") {
    import graft.streaming.StreamOracle.DedupEvent
    implicit val sqlCtx = spark.sqlContext
    def ev(h: String, b: Long, rep: Long) =
      DedupEvent(h, b, rep, new java.sql.Timestamp(1700000000000L + b * 3600000L))
    val input = MemoryStream[DedupEvent]
    val q = input.toDS()
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("h")
      .writeStream.format("memory").queryName("d8_planted")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev("a", 0, 10), ev("b", 0, 11))
      q.processAllAvailable()
      // batch 1: "a" re-occurs (state suppresses), "c" is new
      input.addData(ev("a", 1, 20), ev("c", 1, 21))
      q.processAllAvailable()
      // batch 2: "b" and "c" re-occur, "d" is new
      input.addData(ev("b", 2, 30), ev("c", 2, 31), ev("d", 2, 32))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("d8_planted").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(kept == Seq(("a", 0L), ("b", 0L), ("c", 1L), ("d", 2L)), kept.toString)
  }

  test("R8 stream-stream join matches impressions to later-batch purchases") {
    import graft.streaming.StreamOracle.{ConvEvent, ImpEvent}
    import org.apache.spark.sql.functions.expr
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ts(offMin: Long) = new java.sql.Timestamp(t0 + offMin * 60000L)
    val inA = MemoryStream[ImpEvent]
    val inB = MemoryStream[ConvEvent]
    val joined = inA.toDS().drop("batch").withWatermark("a_ts", "48 hours")
      .join(inB.toDS().drop("batch").withWatermark("b_ts", "48 hours"),
        expr("a_user = b_user AND b_ts >= a_ts AND b_ts <= a_ts + INTERVAL 6 HOURS"))
    val q = joined.writeStream.format("memory").queryName("r8_planted")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 0: impressions only — user 1 (view), user 2 (click)
      inA.addData(ImpEvent(1L, "view", ts(0), 0L), ImpEvent(2L, "click", ts(30), 0L))
      q.processAllAvailable()
      // batch 1: purchases — user 1 inside the 6 h window (CROSS-BATCH
      // state carry), user 2 OUTSIDE the window, user 3 with no impression
      inB.addData(ConvEvent(1L, 10.0, ts(120), 1L),
        ConvEvent(2L, 20.0, ts(30 + 361), 1L), ConvEvent(3L, 30.0, ts(60), 1L))
      q.processAllAvailable()
      // batch 2: same-batch pair — user 4 impression + purchase together
      inA.addData(ImpEvent(4L, "view", ts(200), 2L))
      inB.addData(ConvEvent(4L, 40.0, ts(210), 2L))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("r8_planted").collect()
      .map(r => (r.getAs[Long]("a_user"), r.getAs[Double]("b_value")))
      .toSeq.sorted
    assert(pairs == Seq((1L, 10.0), (4L, 40.0)),
      s"expected exactly the in-window cross-batch and same-batch pairs: $pairs")
  }

  /** The whole trace table as ONE uncut slice — the batch side of the
    * tip-parity checks runs the stream's own per-batch code path. */
  private def sliceInputs = InspectorOps.ComposerInputs.ofSlice(spark,
    graft.domain.ChainFixture.tracesTable(spark, SfDir), InspectorOps.NoCut)

  test("R2 tip stream releases every RDD its micro-batches pin") {
    // each micro-batch localCheckpoints its inputs and composer
    // intermediates; a fresh run must unpersist all of them after its
    // writes, or the pinned blocks weigh on every later query in the JVM
    graft.streaming.TipInspect.resetTipRuns()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.queries("r2_tip_composer")(spark, SfDir).count() > 0)
    val left = spark.sparkContext.getPersistentRDDs.keys.filterNot(before).toSet
    assert(left.isEmpty, s"tip stream left ${left.size} persistent RDDs: $left")
  }

  /** Runs `body` with a micro-batch body's output and tail dirs under a
    * fresh temp dir, deleted afterwards. */
  private def withTipDirs(body: (String, String) => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_tipbatch").toFile
    try body(s"$tmp/out", s"$tmp/tail")
    finally org.apache.commons.io.FileUtils.deleteQuietly(tmp): Unit
  }
  private def tipTraces = graft.domain.ChainFixture.tracesTable(spark, SfDir)

  test("R2 tip batch fails loudly when its predecessor's tail is missing") {
    import org.apache.spark.sql.functions.{col, max}
    withTipDirs { (out, tail) =>
      val last = tipTraces.agg(max(col("block_number"))).head().getLong(0)
      val e = intercept[RuntimeException] {
        graft.streaming.TipInspect.tipBatch(
          tipTraces.filter(col("block_number") === last), 1L, out, tail)
      }
      assert(e.getMessage.contains("predecessor tail missing for batch 1"),
        e.getMessage)
      assert(!new java.io.File(out).exists(), "nothing may be written")
    }
  }

  test("R2 tip batch carries its predecessor's tail across an empty batch") {
    import org.apache.spark.sql.functions.{col, lit, max}
    withTipDirs { (out, tail) =>
      val last = tipTraces.agg(max(col("block_number"))).head().getLong(0)
      tipTraces.filter(col("block_number") === last)
        .write.parquet(s"$tail/batch=4")
      graft.streaming.TipInspect.tipBatch(tipTraces.filter(lit(false)), 5L,
        out, tail)
      def rows(batch: Long) = spark.read.parquet(s"$tail/batch=$batch")
        .collect().map(_.toString).sorted.toSeq
      assert(rows(4).nonEmpty)
      assert(rows(5) == rows(4), "the tail must move forward under batch 5")
      assert(!new java.io.File(out).exists(), "an empty batch emits nothing")
    }
  }

  test("a file-drop drive keeps only its output once its stream stops") {
    // the drops, the checkpoint and the tip's tail are deleted at stop;
    // only the output the lazy read-back needs waits for JVM exit
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def drives(tag: String) =
      tmp.listFiles().filter(_.getName.startsWith(s"graft_$tag")).toSet
    def check(q: String, tag: String): Unit = {
      val before = drives(tag)
      Pins.scope(SparkEntry.queries(q)(spark, SfDir)
        .write.mode("overwrite").format("noop").save())
      val made = drives(tag) -- before
      assert(made.size == 1, s"$q: expected one drive dir, got $made")
      assert(made.head.list().toSet == Set("out"),
        s"$q: drive dir holds ${made.head.list().mkString(", ")}")
    }
    check("r5_stream_fold", "r5f")
    graft.streaming.TipInspect.resetTipRuns()
    check("r2_tip_composer", "r2tip")
  }

  test("R2 tip-mode inspection equals the batch composer on the same blocks") {
    // the end-to-end equivalence claim, asserted Spark-vs-Spark: the
    // streamed three-drop classify→price→inspect run (checkpointed file
    // stream, tail-carried 2-block windows) emits EXACTLY the bundle rows
    // the batch pipeline computes over all blocks at once. The DuckDB
    // oracle checks the same equality engine-vs-engine in CORRECTNESS.
    val streamed = SparkEntry.queries("r2_tip_inspect")(spark, SfDir)
    val batch = graft.streaming.TipInspect.inspectBundles(sliceInputs, 0L)
      .orderBy("btype", "block_number", "tx1", "tx2", "pool")
    val (sRows, bRows) = (streamed.collect().toSeq, batch.collect().toSeq)
    assert(sRows.nonEmpty, "streamed tip inspection must emit bundles")
    assert(sRows == bRows,
      s"streamed vs batch bundle mismatch: ${sRows.size} vs ${bRows.size} rows")
  }

  test("R2 tip-mode FULL composition equals the batch composer on the same blocks") {
    // the full-composer equivalence: the streamed three-drop run of all
    // seven candidate surfaces + J10 dedup + A4 rollup emits EXACTLY the
    // rows the batch formulation computes over all blocks at once (the
    // per-anchor-block dedup scope is what makes this equality hold — a
    // micro-batch composes each of its own blocks with the full window
    // carried by the tail table). DuckDB re-checks this in CORRECTNESS.
    val streamed = SparkEntry.queries("r2_tip_composer")(spark, SfDir)
    val batch = graft.streaming.TipInspect
      .composedMevOf(sliceInputs, 0L, InspectorOps.NoCut)
      .orderBy("kind", "block_number", "mev_type", "key")
    val (sRows, bRows) = (streamed.collect().toSeq, batch.collect().toSeq)
    assert(sRows.count(_.getString(0) == "bundle") > 0,
      "streamed composition must emit surviving bundles")
    assert(sRows.count(_.getString(0) == "mev_block") > 0,
      "streamed composition must emit MevBlock rollup rows")
    // at least one bundle must have been composed away for the dedup
    // layers to be exercised end-to-end
    val killed = sRows.filter(_.getString(0) == "type_count")
      .map(r => r.getLong(7) - r.getLong(6)).sum
    assert(killed > 0, "composer dedup must remove at least one bundle")
    assert(sRows == bRows,
      s"streamed vs batch composition mismatch: ${sRows.size} vs ${bRows.size} rows")
  }

  test("W9 streamed session windows equal batch sessionization and merge across drops") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("w9_stream_session")(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // batch replica of session_window's >= gap boundary: byGap splits at
    // gap > g, so g-1 in integer micros is exactly gap >= 30 min
    val ev = graft.streaming.StreamOracle.w9Events(spark, SfDir)
    def rollup(keys: Seq[String]) = graft.ops.Sessionize
      .byGap(ev, keys, "us", "event_id", 1799999999L)
      .groupBy((keys :+ "session_id").map(col): _*).agg(count(lit(1)).as("sn"))
    val batch = rollup(Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), max(col("sn")).as("max_session_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(streamed.toSeq == batch.toSeq,
      s"streamed vs batch sessionization mismatch: ${streamed.length} vs ${batch.length}")
    // the stream must have MERGED sessions across its drops: sessionizing
    // each drop independently (same cuts as the query) yields strictly
    // more sessions
    val cuts = graft.streaming.StreamOracle.w9Cuts(ev)
    val perDrop = graft.ops.Sessionize
      .byGap(ev.withColumn("batch",
        when(col("us") <= cuts._1, 0L).when(col("us") <= cuts._2, 1L)
          .otherwise(2L)),
        Seq("user_id", "batch"), "us", "event_id", 1799999999L)
      .select("user_id", "batch", "session_id").distinct().count()
    val merged = streamed.map(_._2).sum
    assert(perDrop > merged,
      s"no session spans a drop boundary — merge unexercised ($perDrop vs $merged)")
  }
}
