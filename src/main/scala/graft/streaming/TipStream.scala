package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Streaming / incremental mode (SURVEY §2.9 R2/R3/R5/S5): the reference's
  * tip-following executor (bin/src/executors/tip.rs) re-expressed as
  * Structured Streaming.
  *
  *  - R2 tip pipeline: `readStream` → the same per-block transforms the
  *    batch path uses → `foreachBatch` sink (S5 write-behind: ordered,
  *    exactly-once per micro-batch).
  *  - R5 incremental pool state: `flatMapGroupsWithState` keyed by pool,
  *    carrying (last price, cumulative volume, n updates) across batches —
  *    the stateful analog of the per-block pool-state fold
  *    (brontes-pricing/src/graphs/state_tracker.rs).
  *
  * The transform core is shared with batch (same DataFrame function), so
  * tip mode IS the batch pipeline on a different source — the design SURVEY
  * §7.1 step 8 calls for.
  */
object TipStream {

  /** One pool-state update event (what the classifier emits per swap). */
  case class PoolUpdate(pool: String, block: Long, txIdx: Long, px: Double, vol: Double)

  /** Running per-pool state carried across micro-batches. */
  case class PoolState(pool: String, lastPx: Double, cumVol: Double, nUpdates: Long)

  /** Emitted quote row: state AFTER applying a batch's updates. */
  case class PoolQuote(pool: String, block: Long, prePx: Option[Double],
      postPx: Double, cumVol: Double, nUpdates: Long)

  /** Batch/stream-shared transform: action-shaped rows → pool updates. */
  def toPoolUpdates(swaps: DataFrame): Dataset[PoolUpdate] = {
    val s = swaps.sparkSession
    import s.implicits._
    swaps
      .filter(col("pool").isNotNull && col("amount_in").isNotNull &&
        col("amount_out").isNotNull)
      .select(col("pool"), col("block_number").as("block"), col("tx_idx").as("txIdx"),
        (col("amount_out") / col("amount_in")).as("px"), col("amount_in").as("vol"))
      .as[PoolUpdate]
  }

  /** R5: the stateful fold — deterministic within a key because updates are
    * sorted by (block, txIdx) before folding. */
  def updatePoolState(
      pool: String,
      updates: Iterator[PoolUpdate],
      state: GroupState[PoolState]): Iterator[PoolQuote] = {
    val sorted = updates.toSeq.sortBy(u => (u.block, u.txIdx))
    if (sorted.isEmpty) Iterator.empty
    else {
      val prev = state.getOption
      var st = prev.getOrElse(PoolState(pool, Double.NaN, 0.0, 0L))
      val out = sorted.map { u =>
        val pre = if (st.nUpdates == 0) None else Some(st.lastPx)
        st = PoolState(pool, u.px, st.cumVol + u.vol, st.nUpdates + 1)
        PoolQuote(pool, u.block, pre, u.px, st.cumVol, st.nUpdates)
      }
      state.update(st)
      out.iterator
    }
  }

  /** R5 wiring: pool updates (batch or stream) → stateful quote emission. */
  def poolQuotes(updates: Dataset[PoolUpdate]): Dataset[PoolQuote] = {
    val s = updates.sparkSession
    import s.implicits._
    updates.groupByKey(_.pool)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        updatePoolState)
  }

  /** One block's pre-aggregated pool activity (R4 stream input grain). */
  case class BlockVol(pool: String, block: Long, vol: Double, n: Long)

  /** Last-block state carried by the R4 sliding window. */
  case class WndState(block: Long, vol: Double, n: Long)

  /** Emitted multi-block window row: totals over blocks [b-1, b]. */
  case class WndRow(pool: String, block: Long, wndVol: Double, wndN: Long,
      blksInWnd: Int)

  /** R4: the multi-block sliding window as a stateful stream — the
    * reference buffers the last `max(block_window)` blocks and emits
    * `MultiBlockData` per block (bin/src/executors/shared/
    * multi_block_window.rs); here each pool's fold carries the previous
    * block's aggregate and emits the 2-block window on every new block.
    * Input is PRE-AGGREGATED to (pool, block) grain so the window total is
    * one IEEE addition — deterministic and oracle-matchable — rather than
    * an order-dependent refold of raw events. */
  def slideWindow(
      pool: String,
      rows: Iterator[BlockVol],
      state: GroupState[WndState]): Iterator[WndRow] = {
    val sorted = rows.toSeq.sortBy(_.block)
    var prev = state.getOption
    val out = sorted.map { b =>
      val w = prev.filter(_.block == b.block - 1) match {
        case Some(p) => WndRow(pool, b.block, p.vol + b.vol, p.n + b.n, 2)
        case None => WndRow(pool, b.block, b.vol, b.n, 1)
      }
      prev = Some(WndState(b.block, b.vol, b.n))
      w
    }
    prev.foreach(state.update)
    out.iterator
  }

  /** R4 wiring: per-block pool volumes → sliding-window emission. */
  def blockWindows(blocks: Dataset[BlockVol]): Dataset[WndRow] = {
    val s = blocks.sparkSession
    import s.implicits._
    blocks.groupByKey(_.pool)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        slideWindow)
  }

  /** Pre-combined window-agg input: source rows partially aggregated to
    * (pool, window) grain WITHIN one micro-batch — the map-side-combine
    * push-down at the stream source. `block`/`txIdx` come from the unit's
    * max-event-time row (so per-batch watermark advance is unchanged), and
    * since the engine's late-drop decision depends only on (window, batch),
    * dropping/merging a combined unit is bit-identical to doing it row by
    * row. `cnt` carries the collapsed row count. */
  case class WndUpdate(pool: String, block: Long, txIdx: Long,
      vol: Double, cnt: Long)

  /** R4 (watermark arm): EVENT-TIME tumbling windows with a late-data
    * watermark — the standard Structured Streaming shape the stateful folds
    * above deliberately avoid (they key state by pool, not time). Event
    * time is derived from the chain clock (1 s per block + 1 ms per tx so
    * every quantity is whole milliseconds — Spark tracks watermarks in ms,
    * so sub-ms event times would diverge from an external oracle). A unit
    * arriving after the watermark passed its window's end is DROPPED by the
    * engine; a unit arriving out-of-order but within the delay still
    * merges. Append mode: a window only emits once the watermark passes
    * its end. */
  def lateWindowAgg(updates: Dataset[WndUpdate]): DataFrame =
    updates
      .withColumn("ts", timestamp_micros(
        col("block") * 1000000L + col("txIdx") * 1000L))
      .withWatermark("ts", "3500 milliseconds")
      .groupBy(window(col("ts"), "10 seconds"), col("pool"))
      .agg(sum(col("cnt")).as("n"),
        graft.ops.ExactAgg.dsum(col("vol")).as("sum_vol"))

  /** EXACT tick of an observed price — ⌊√px·2^96⌋ through TickMath's
    * integer inverse (tick_math.rs get_tick_at_sqrt_ratio), the coordinate
    * every fold shares with f10_tick_cross's kernel. Engine-portable with
    * no libm dependency: sqrt is IEEE-correctly-rounded, the 2^96 scale is
    * exact, and the inverse is integer arithmetic. Long.MinValue sentinel
    * for rates with no tick (non-positive / off-band) — a bucket of its
    * own, never equal to a real tick. */
  def tickOf(px: Double): Long = {
    val t = graft.functions.TickMath.tickAtRateOrNull(px)
    if (t == null) Long.MinValue else t.intValue.toLong
  }

  // ── V3 tick-liquidity fold (the per-tick state the coordinate-only fold
  //    lacked: uniswap_v3_math/{tick_math,tick_bitmap}.rs — mints/burns
  //    mutate per-range liquidity, swaps consume it walking ranges) ────────

  /** One pool event: kind 0 = mint, 1 = burn (k, deltaMicro set), 2 = swap
    * (px, vol set). deltaMicro is SIGNED micro-units (mint +, burn −) so
    * state accumulation is exact integer math — order-independent and
    * bit-identical to the oracle's BIGINT window sum. */
  case class TickEvent(pool: Long, block: Long, txIdx: Long, kind: Int,
      k: Long, deltaMicro: Long, px: Double, vol: Double)

  /** Per-pool fold state: last swap price (pre-tick source) + net per-range
    * liquidity deltas in exact micro-units. */
  case class TickLiqState(lastPx: Double, hasPx: Boolean,
      liqMicro: Map[Long, Long])

  /** Emitted per priced swap: the walk result through the CURRENT per-tick
    * liquidity. outMicro is the snapped per-range output total in integer
    * micro-units (order-free summation, oracle-matchable). */
  case class TickQuote(pool: Long, block: Long, txIdx: Long, curT: Long,
      nTouched: Long, nCrossed: Long, exhausted: Boolean, tickMoved: Boolean,
      outMicro: Long)

  /** Clamp a tick into the fixture's 16-range band [-40, 39]. */
  def clampTick(t: Long): Long = ((t % 80) + 80) % 80 - 40

  /** The stateful V3 fold: mints/burns mutate the per-range liquidity map;
    * each swap walks ranges downward from the PRE-price tick (f10's
    * kernel: capacity Δx = L·(1/√P_lo − 1/√P_start), crossing initialized
    * boundaries until the 0.997-fee-adjusted input is spent), reading
    * liquidity = base(pool, k) + the net deltas applied so far. Ticks and
    * boundary prices are EXACT: tick-of-price via TickMath's integer
    * inverse, range boundaries via the Q64.96 product chain (band-memoized
    * — a handful of small ticks per pool). All arithmetic mirrors the
    * relational oracle op-for-op: the walk accumulates in k-descending
    * order (the window-sum frame order) and per-range outputs snap to
    * micro-units before totalling; a price whose tick is undefined (out of
    * the shared valid band) prices nothing, like the oracle's NULL-tick
    * row drop. */
  def updateTickState(
      pool: Long,
      events: Iterator[TickEvent],
      state: GroupState[TickLiqState]): Iterator[TickQuote] = {
    import graft.functions.TickMath
    val sorted = events.toSeq.sortBy(e => (e.block, e.txIdx, e.kind))
    var st = state.getOption.getOrElse(TickLiqState(Double.NaN, false, Map.empty))
    val out = scala.collection.mutable.ArrayBuffer.empty[TickQuote]
    sorted.foreach { e =>
      if (e.kind == 2) {
        val preT = if (st.hasPx) TickMath.tickAtRateOrNull(st.lastPx) else null
        val curTickO = TickMath.tickAtRateOrNull(e.px)
        if (preT != null && curTickO != null) {
          val preTick = preT.intValue.toLong
          val curT = clampTick(preTick)
          val amtEff = e.vol * 0.997
          var cum = 0.0
          var nT = 0L; var nC = 0L; var outM = 0L; var exh = false
          var k = math.min(7L, math.floorDiv(curT, 10L))
          var done = false
          while (k >= -8 && !done) {
            if (cum < amtEff) {
              val liq = (10000.0 + pool * 1000.0 + math.abs(k) * 500.0) +
                st.liqMicro.getOrElse(k, 0L) / 1e6
              val sPx = TickMath.sqrtPxBand(math.min((k + 1) * 10, curT))
              val ePx = TickMath.sqrtPxBand(k * 10)
              val cap = liq * (1.0 / ePx - 1.0 / sPx)
              nT += 1
              val full = cum + cap <= amtEff
              val o =
                if (full) liq * (sPx - ePx)
                else liq * (sPx - 1.0 / (1.0 / sPx + (amtEff - cum) / liq))
              outM += math.floor(o * 1e6 + 0.5).toLong
              if (full) { nC += 1; if (k == -8) exh = true }
              cum += cap
            } else done = true
            k -= 1
          }
          out += TickQuote(pool, e.block, e.txIdx, curT, nT, nC, exh,
            preTick != curTickO.intValue.toLong, outM)
        }
        st = st.copy(lastPx = e.px, hasPx = true)
      } else {
        val nv = st.liqMicro.getOrElse(e.k, 0L) + e.deltaMicro
        st = st.copy(liqMicro = st.liqMicro + (e.k -> nv))
      }
    }
    state.update(st)
    out.iterator
  }

  /** Wiring: pool events (batch or stream) → stateful tick-walk emission. */
  def tickQuotes(events: Dataset[TickEvent]): Dataset[TickQuote] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.pool)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        updateTickState)
  }

  // ── C3 discovery in tip mode (streaming registry upsert) ─────────────────

  /** One tip event: a factory NEW-POOL discovery (`isNew = true`, px/vol
    * unused) or a swap update. Discovery rides the SAME total order as the
    * updates (a deploy's txIdx is −1, so it sorts before any same-block
    * update) — the reference's live loop feeds `discovery_impl!` results
    * into the pricing registry as each block arrives
    * (brontes-pricing/src/graphs/state_tracker.rs:1-288). */
  case class RegEvent(pool: String, block: Long, txIdx: Long, isNew: Boolean,
      px: Double, vol: Double)

  /** Registry-gated pool state: `registered` flips on the pool's discovery
    * event. Updates BEFORE registration never fold — the pricing graph
    * only tracks discovered pools. */
  case class RegPoolState(registered: Boolean, lastPx: Double,
      cumVol: Double, nUpdates: Long)

  /** Emission: priced quotes once registered; an unregistered update
    * surfaces as a `priced = false` quarantine row (the R6 failed-data
    * path) without touching state. */
  case class RegQuote(pool: String, block: Long, txIdx: Long, priced: Boolean,
      prePx: Option[Double], postPx: Double, cumVol: Double, nUpdates: Long)

  /** R5 fold with the registry AS KEYED STATE: a pool created mid-stream
    * starts pricing from its discovery event onward, closing the
    * fixed-registry gap ([[poolQuotes]] prices every key from batch 0). */
  def updateRegisteredState(
      pool: String,
      events: Iterator[RegEvent],
      state: GroupState[RegPoolState]): Iterator[RegQuote] = {
    val sorted = events.toSeq
      .sortBy(e => (e.block, e.txIdx, if (e.isNew) 0 else 1))
    if (sorted.isEmpty) Iterator.empty
    else {
      var st = state.getOption
        .getOrElse(RegPoolState(registered = false, Double.NaN, 0.0, 0L))
      val out = scala.collection.mutable.ArrayBuffer.empty[RegQuote]
      sorted.foreach { e =>
        if (e.isNew) st = st.copy(registered = true)
        else if (st.registered) {
          val pre = if (st.nUpdates == 0) None else Some(st.lastPx)
          st = RegPoolState(registered = true, e.px, st.cumVol + e.vol,
            st.nUpdates + 1)
          out += RegQuote(pool, e.block, e.txIdx, priced = true, pre, e.px,
            st.cumVol, st.nUpdates)
        } else out += RegQuote(pool, e.block, e.txIdx, priced = false, None,
          e.px, 0.0, 0L)
      }
      state.update(st)
      out.iterator
    }
  }

  /** Wiring: mixed discovery/update events → registry-gated emission. */
  def registeredQuotes(events: Dataset[RegEvent]): Dataset[RegQuote] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.pool)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        updateRegisteredState)
  }

  /** The registry-TABLE upsert sink (C3 in tip mode): each micro-batch's
    * discoveries land in the shared registry parquet other consumers read
    * (G5's cross-run cache is the batch analog). Batch-id-keyed overwrite
    * makes the at-least-once foreachBatch effectively exactly-once, as in
    * [[writeBehind]]. */
  def runDiscoveryUpsert(spark: SparkSession, srcDir: String,
      registryDir: String, checkpoint: String): StreamingQuery = {
    val schema = "pool STRING, block BIGINT, txIdx BIGINT, " +
      "isNew BOOLEAN, px DOUBLE, vol DOUBLE"
    spark.readStream.schema(schema).parquet(srcDir)
      .filter(col("isNew"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        b.select(col("pool"), col("block").as("deploy_block"))
          .write.mode("overwrite").parquet(s"$registryDir/batch=$batchId")
      }
      .start()
  }

  /** True when a quote's pre→post move crossed an initialized tick
    * boundary — the streaming analog of the tick_bitmap walk: the V3 fold
    * must re-read range liquidity whenever this fires (uniswap_v3_math/
    * tick_bitmap.rs next_initialized_tick_within_one_word). */
  def crossedBoundary(q: PoolQuote): Boolean =
    q.prePx.exists(p => tickOf(p) != tickOf(q.postPx))

  /** The checkpointed write-behind sink: one parquet directory per
    * micro-batch. foreachBatch is AT-LEAST-once (a crash between the write
    * and the checkpoint commit replays the batch on restart), so the write
    * OVERWRITES its batch directory — replaying batch N replaces its own
    * output instead of appending a duplicate copy, which is what makes the
    * sink effectively exactly-once per batch id. The caller sets the
    * checkpoint and starts it. */
  private[streaming] def writeBehind(quotes: Dataset[PoolQuote],
      outDir: String): DataStreamWriter[Row] =
    quotes.toDF()
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  /** R2+S5: follow a parquet directory as the chain tip, maintain pool
    * state, and write each micro-batch through the checkpointed
    * [[writeBehind]] sink. Returns the running query. */
  def runTip(spark: SparkSession, srcDir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    val schema = "pool STRING, block_number BIGINT, tx_idx BIGINT, " +
      "amount_in DOUBLE, amount_out DOUBLE"
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    writeBehind(poolQuotes(toPoolUpdates(stream)), outDir)
      .option("checkpointLocation", checkpoint).start()
  }
}
