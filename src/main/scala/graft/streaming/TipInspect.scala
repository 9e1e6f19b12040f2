package graft.streaming

import graft.{Fork, Pins, QueryDef, QueryModule}
import graft.domain.{Accounting, ChainFixture, InspectorOps}
import graft.domain.InspectorOps.{ComposerInputs, Cut}
import graft.domain.Accounting.{sqlGateFlag, sqlGateProfit}
import graft.ops.ExactAgg.{dsum, sqlSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** R2 tip-mode END-TO-END equivalence (SURVEY §3 second entry point): the
  * reference's `TipInspector` runs the WHOLE classify → price → inspect
  * lifecycle per new block as the chain tip advances
  * (bin/src/executors/tip.rs:23-155, feeding `shared/state_collector.rs:118`
  * and the same inspector set the batch `RangeExecutor` runs). The other
  * streaming entries verify each STAGE's state carry in isolation; the two
  * entries here verify the COMPOSED pipeline: a genuine Structured Streaming
  * query (parquet-drop file source, checkpointed foreachBatch sink, three
  * block-range micro-batches) whose per-batch body is the SAME batch
  * dataflow — [[ComposerInputs.ofSlice]] classifies, prices and inspects
  * the slice through the batch functions, then
  *   - `r2_tip_inspect`: the Q1 sandwich / Q2 atomic-arb / Q7 liquidation
  *     inspector cores, unioned bundle emission;
  *   - `r2_tip_composer`: the FULL composer path the reference's tip
  *     executor runs per block (`processors/mev.rs:34-58`) — ONE composer,
  *     [[InspectorOps.composerOf]], the same function and oracle CTEs
  *     `j10_bundle_dedup` runs over the whole range: all seven candidate
  *     surfaces, the J12 metadata join and the two-layer dedup. The two
  *     differ only in the dedup edge key (range: tx; tip: anchor block|tx)
  *     and their output arms (here: surviving bundles, per-type counts and
  *     the A4 MevBlock rollup) —
  * each hash-matching its batch formulation in DuckDB.
  *
  * Cross-block windows at the tip: Q1's bracket and Q2's trigger search
  * read a 2-block window, so a micro-batch alone cannot verify candidates
  * whose window crosses its leading edge. The reference buffers the last
  * `max(block_window)` blocks between blocks (bin/src/executors/shared/
  * multi_block_window.rs); here each foreachBatch invocation persists its
  * LAST block's traces as a tail table keyed by batch id and the next
  * invocation unions its predecessor's tail before inspecting — then emits
  * only rows anchored in its OWN blocks (back_block / arb block ≥ the
  * batch's min block), so every row is emitted exactly once and with its
  * full window visible. Both the tail and the output are batch-id
  * OVERWRITES, keeping the at-least-once foreachBatch contract effectively
  * exactly-once (the [[TipStream]] write-behind discipline). An EMPTY
  * micro-batch copies its predecessor's tail forward (so a batch-id gap
  * cannot silently strip the next batch's leading-edge windows), and a
  * missing predecessor tail fails loudly instead of degrading (ADVICE r14).
  *
  * Scale shape: per micro-batch work is one block's traces at a real tip
  * (a tercile here only because the fixture replays the corpus in three
  * drops); every stage inside the batch is the batch path's own equi-keyed
  * dataflow, and the tail carry is one block of traces per batch — O(block),
  * not O(history).
  */
object TipInspect extends QueryModule {

  import ChainFixture.{tokenPrice, tokenPriceSql}

  def defs: Seq[QueryDef] = Seq(r2TipInspect, r2TipComposer)

  private def withCtes(sql: String) =
    Some(s"WITH ${Accounting.sqlDomainCtes}, $sql")

  /** Per-batch micro-batch shuffle width (the stream-local analog of the
    * other fold entries' stream partitions — per-block work at a real tip). */
  private val ShufflePartitions = 8

  /** The composed per-slice inspection: run Q1+Q2+Q7 over the slice's
    * [[ComposerInputs]] and emit one normalized bundle row per detection
    * anchored at block ≥ `minOwnBlock` (rows below the bar belong to the
    * PREVIOUS batch, which already emitted them with its own full window).
    * Shared verbatim by the streamed foreachBatch body and the
    * batch-parity check in StreamingSpec — tip mode IS the batch pipeline
    * on a different source. */
  private[graft] def inspectBundles(in: ComposerInputs,
      minOwnBlock: Long): DataFrame = {
    val nullStr = lit(null).cast("string")
    val hdr = in.hdr.get.select("tx_hash", "block_number", "eoa", "revenue_usd",
      "gas_usd", "profit_usd")

    // Q1: verified sandwiches (victim ratio + price sanity + shrink), PnL
    // from the front AND back txs' headers, attributed to the back block
    val sand = in.sand.get
      .filter(col("back_block") >= minOwnBlock)
      .join(hdr.select(col("tx_hash").as("front_tx"),
        col("profit_usd").as("front_profit")), "front_tx")
      .join(hdr.select(col("tx_hash").as("back_tx"),
        col("profit_usd").as("back_profit")), "back_tx")
      .select(lit("sandwich").as("btype"),
        col("back_block").as("block_number"),
        col("front_tx").as("tx1"), col("back_tx").as("tx2"),
        col("pool"), col("eoa"), nullStr.as("tag"),
        (col("front_profit") + col("back_profit")).as("profit_usd"),
        ((col("back_out") - col("sum_in")) * tokenPrice(col("tok_in")))
          .as("aux_usd"),
        col("n_victims").cast("long").as("n1"),
        col("found_at_iter").cast("long").as("n2"),
        lit(1).as("flag"))

    // Q2: atomic arbs with the validity heuristic and the 2-block trigger
    // search (n2: 0 = no trigger, 1 = same block, 2 = previous block)
    val arb = in.arbs.get.join(hdr, "tx_hash")
      .join(broadcast(ChainFixture.searchers(in.acts.get.sparkSession)),
        col("eoa") === col("s_eoa"), "left")
      .join(InspectorOps.triggerPicks(in.arbs.get, in.sw.get), Seq("tx_hash"),
        "left")
      .filter(col("block_number") >= minOwnBlock)
      .select(lit("atomic_arb").as("btype"), col("block_number"),
        col("tx_hash").as("tx1"), nullStr.as("tx2"), nullStr.as("pool"),
        col("eoa"), col("arb_type").as("tag"),
        col("profit_usd"), col("gas_usd").as("aux_usd"),
        col("n_swaps").cast("long").as("n1"),
        when(col("trigger_tx").isNull, 0L)
          .when(col("trig_same_block"), 1L).otherwise(2L).as("n2"),
        when(col("profit_usd") > 0 || col("s_eoa").isNotNull ||
          col("gas_usd") > 50.0, 1).otherwise(0).as("flag"))

    // Q7: per-tx liquidation bundles through the priced-profit gate
    val liq = InspectorOps.liquidationBundlesOf(in.acts.get, hdr)
      .filter(col("block_number") >= minOwnBlock)
      .select(lit("liquidation").as("btype"), col("block_number"),
        col("tx_hash").as("tx1"), nullStr.as("tx2"), nullStr.as("pool"),
        col("eoa"), nullStr.as("tag"),
        col("profit_usd"), col("revenue_usd").as("aux_usd"),
        col("n_liq").as("n1"), col("n_liq_swaps").as("n2"),
        col("has_dex_price").as("flag"))

    sand.unionByName(arb).unionByName(liq)
  }

  /** The reference tip executor's FULL per-block composition
    * (`processors/mev.rs:34-58` runs `run_block_inspection` over the whole
    * inspector set, then the composer): [[InspectorOps.composerOf]] — the
    * SAME seven candidate surfaces, J12 metadata join and two-layer dedup
    * `j10_bundle_dedup` runs — with the per-block edge key
    * [[InspectorOps.BlockEdgeKey]], then the A4 MevBlock rollup. The
    * range and tip composers differ in that key alone: the tip dedups the
    * bundles of one anchor block against each other, never against a prior
    * block's already-emitted bundles, which is also what makes a
    * micro-batch's composition equal the batch formulation restricted to
    * its own blocks. A bundle whose txs straddle blocks (a sandwich with its
    * front in the previous block) can therefore spare an arb on its front
    * tx that the range composer kills.
    *
    * Output rows (one frame, three kinds, all anchored at
    * block ≥ `minOwnBlock`):
    *   kind='bundle'     — each SURVIVING composed bundle
    *                       (block, mev_type, bid, profit, n_txs)
    *   kind='type_count' — per (block, mev_type) raw vs post-dedup counts
    *   kind='mev_block'  — the A4 rollup: builder, tx count, exact-decimal
    *                       gas/profit sums (q9_mev_block's header shape)
    */
  private[graft] def composedMevOf(in: ComposerInputs, minOwnBlock: Long,
      cut: Cut, fork: Fork = Fork.inline): DataFrame = {
    val nullStr = lit(null).cast("string")
    val nullD = lit(null).cast("double")
    val nullL = lit(null).cast("long")
    val flagged =
      InspectorOps.composerOf(in, InspectorOps.BlockEdgeKey, cut, fork)
      .filter(col("blk") >= minOwnBlock)

    val bundleArm = flagged.filter(col("xr").isNull && col("wr").isNull)
      .select(lit("bundle").as("kind"), col("blk").as("block_number"),
        col("mev_type"), col("bid").as("key"),
        col("profit").cast("double").as("d1"), nullD.as("d2"),
        col("n_txs").cast("long").as("n1"), nullL.as("n2"))
    val typeArm = flagged.groupBy(col("blk"), col("mev_type"))
      .agg(sum(when(col("xr").isNull && col("wr").isNull, 1L).otherwise(0L))
        .as("n_final"), count(lit(1)).as("n_raw"))
      .select(lit("type_count").as("kind"), col("blk").as("block_number"),
        col("mev_type"), nullStr.as("key"), nullD.as("d1"), nullD.as("d2"),
        col("n_final").as("n1"), col("n_raw").as("n2"))
    // A4: the MevBlock header row — builder identity is the deterministic
    // per-block metadata dimension, computed inline like txGasOf's base fee
    val blockArm = in.hdr.get.filter(col("block_number") >= minOwnBlock)
      .groupBy("block_number")
      .agg(count(lit(1)).as("n_txs"), dsum(col("gas_usd")).as("sum_gas"),
        dsum(col("profit_usd")).as("sum_profit"))
      .select(lit("mev_block").as("kind"), col("block_number"),
        nullStr.as("mev_type"),
        md5(concat(lit("builder:"),
          col("block_number") % ChainFixture.NumBuilders)).as("key"),
        col("sum_gas").as("d1"), col("sum_profit").as("d2"),
        col("n_txs").as("n1"), nullL.as("n2"))

    bundleArm.unionByName(typeArm).unionByName(blockArm)
  }

  /** ONE tip stream per (JVM, sf dir): the reference runs a SINGLE
    * long-lived `TipInspector` carrying the whole inspector set and the
    * composer (tip.rs:34 — `inspectors: &[&dyn Inspector]`, one
    * `Processor`) and PERSISTS its results; consumers query the stored
    * tables, they never re-run the pipeline. Both tip entries here have
    * that shape: two output surfaces of the SAME streamed run — per
    * micro-batch the slice's [[ComposerInputs]] are built ONCE under
    * [[batchCut]], then the Q1+Q2+Q7 bundle union and the full-composer
    * output are each written batch-id-overwrite under their own directory
    * (`inspect`, `composer`) of the returned output dir. Memoized per sf
    * dir like the batch pipeline intermediates.
    *
    * Bench semantics (r16, fixing the r15 accounting flaw): Bench resets
    * this memo after its untimed warm pass, so the FIRST timed tip entry
    * drives the real checkpointed stream end-to-end and the second reads
    * the shared run's other output surface — the stream's cost is inside
    * the timed region exactly once (pipeline accounting, like the other
    * materialized intermediates). The CORRECTNESS gate always drives the
    * real stream. */
  private val tipRuns = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The per-micro-batch cuts: every input and composer intermediate with
    * several consumers (two emitters, the three bundle arms, the six dedup
    * branches) is localCheckpointed, so each runs once per batch — before
    * the input cuts the sandwich shrink pipeline and the per-tx arb fold
    * each ran once per emitter (`009a401`). The kill sets are read once
    * each and stay lazy. Every cut stays eager: lazy persists, fewer cuts
    * or no cuts all ran slower (ROADMAP direction 2). What [[tipBatch]]
    * changes is when they run: each cut is one branch of the batch's
    * [[Pins.fork]], started once the frames it reads exist. */
  private val batchCut: Cut = {
    case ("xrem" | "surv", df) => df
    case (_, df) => Pins.checkpoint(df)
  }

  /** Rehearsal hook: drop the per-JVM memo so the next invocation drives
    * a FRESH checkpointed stream — the scale rehearsal times the
    * operator, not the stored-table read-back (a tip row therefore times
    * the whole shared run: both output surfaces, and per micro-batch the
    * whole [[tipBatch]] schedule, whose independent cuts and writes run
    * concurrently). */
  private[graft] def resetTipRuns(): Unit = tipRuns.clear()

  /** The shared run's stream: the traces table in three block-tercile
    * drops through [[StreamOracle.driveDrops]], each micro-batch handled by
    * [[tipBatch]]. Tercile cuts derive from (min, max) so a fixture whose
    * block numbers don't start near 0 still splits into three real drops,
    * and the non-empty-drops assertion shares ONE per-block rollup pass
    * with the cut derivation (blocks are dimension-sized). */
  private def sharedTipRun(s: SparkSession, dir: String): String =
    tipRuns.computeIfAbsent(dir, _ => {
      val traces = ChainFixture.tracesTable(s, dir)
      val perBlock = traces.groupBy("block_number").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(perBlock.nonEmpty, "tip stream: source has no blocks")
      val (mn0, mx0) = (perBlock.keys.min, perBlock.keys.max)
      val (cut1, cut2) = (mn0 + (mx0 - mn0) / 3, mn0 + 2 * (mx0 - mn0) / 3)
      def terOf(b: Long) = if (b <= cut1) 0L else if (b <= cut2) 1L else 2L
      val counts = perBlock.groupMapReduce { case (b, _) => terOf(b) } {
        case (_, c) => c }(_ + _)
      require((0L to 2L).forall(counts.getOrElse(_, 0L) > 0),
        s"tip stream: tercile drops must all be non-empty, got $counts")
      val batched = traces.withColumn("batch",
        when(col("block_number") <= cut1, 0L)
          .when(col("block_number") <= cut2, 1L).otherwise(2L))
      StreamOracle.driveDrops(s, Seq(batched), 3, ShufflePartitions, "r2tip") {
        (_, streams, out, tail) => streams.head.writeStream.foreachBatch {
          (b: DataFrame, batchId: Long) => tipBatch(b, batchId, out, tail)
        }
      }
    })

  /** One micro-batch of the shared run, in one [[Pins.scope]] so the batch
    * pins nothing past its writes:
    *   (a) fails loudly on a missing predecessor tail,
    *   (b) fills the batch's cache and finds its (min, max) block in one
    *       job, and on an empty micro-batch carries the predecessor tail
    *       forward under its own batch id,
    *   (c) otherwise unions the tail, builds the slice's inputs ONCE and
    *       writes both output surfaces under `out` with own-block bar = the
    *       batch's min block, and
    *   (d) overwrites the tail (this batch's last block) by batch id.
    * (c) and (d) are one DAG of cut points run by a [[Pins.fork]]: each
    * checkpoint and write starts once the frames it reads exist. The tail
    * write and the slice and actions cuts start together; then the header,
    * swap → sandwich, arb and JIT cuts; then the composer's cexdex base
    * (after the headers) and its six non-sandwich surfaces. The inspect
    * write runs beside the composer chain (bundles → edges → composer
    * write), which is what remains on the critical path. The batch's cache
    * is filled first because every branch reads it: branches that race a
    * lazy cache each derive it again. */
  private[graft] def tipBatch(b: DataFrame, batchId: Long, out: String,
      tail: String): Unit = Pins.scope {
    val ss = b.sparkSession
    val bp = Pins.persist(b)
    val prev = new java.io.File(s"$tail/batch=${batchId - 1}")
    if (batchId > 0 && !prev.exists())
      sys.error(s"tip stream: predecessor tail missing for batch " +
        s"$batchId — refusing to inspect with a truncated window")
    val mm = bp.agg(min(col("block_number")), max(col("block_number"))).head()
    if (mm.isNullAt(0)) {
      // empty micro-batch: the window buffer must survive the gap
      if (batchId > 0)
        ss.read.parquet(prev.toString)
          .write.mode("overwrite").parquet(s"$tail/batch=$batchId")
    } else {
      val (mn, mx) = (mm.getLong(0), mm.getLong(1))
      // union the predecessor's tail so this batch's leading-edge 2-block
      // windows are complete (multi_block_window buffer)
      val full =
        if (batchId > 0) ss.read.parquet(prev.toString).unionByName(bp) else bp
      Pins.fork { fork =>
        // the tail for the NEXT batch: this batch's last block
        fork(full.filter(col("block_number") === mx)
          .write.mode("overwrite").parquet(s"$tail/batch=$batchId"))
        val in = ComposerInputs.ofSlice(ss, full, batchCut, fork)
        fork(inspectBundles(in, mn)
          .write.mode("overwrite").parquet(s"$out/inspect/batch=$batchId"))
        composedMevOf(in, mn, batchCut, fork)
          .write.mode("overwrite").parquet(s"$out/composer/batch=$batchId")
      }
    }
  }

  private val r2TipInspect = QueryDef(
    "r2_tip_inspect",
    (s, dir) => s.read.parquet(s"${sharedTipRun(s, dir)}/inspect").drop("batch")
      .orderBy("btype", "block_number", "tx1", "tx2", "pool"),
    withCtes(s"""${InspectorOps.sandwichOracleCtes},
      ${InspectorOps.arbOracleCtes},
      tipsearchers AS ${ChainFixture.searchersCteBody},
      ${InspectorOps.liqBundleCtes}
      SELECT 'sandwich' AS btype, s.back_block AS block_number,
        s.front_tx AS tx1, s.back_tx AS tx2, s.pool, s.eoa,
        CAST(NULL AS VARCHAR) AS tag,
        hf.profit_usd + hb.profit_usd AS profit_usd,
        (s.back_out - s.sum_in) * ${tokenPriceSql("s.tok_in")} AS aux_usd,
        CAST(s.n_victims AS BIGINT) AS n1,
        CAST(s.found_at_iter AS BIGINT) AS n2,
        CAST(1 AS INTEGER) AS flag
      FROM sand s
      JOIN header hf ON s.front_tx = hf.tx_hash
      JOIN header hb ON s.back_tx = hb.tx_hash
      UNION ALL
      SELECT 'atomic_arb', h.block_number, a.tx_hash,
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), h.eoa, a.arb_type,
        h.profit_usd, h.gas_usd, CAST(a.n_swaps AS BIGINT),
        CAST(CASE WHEN t.trigger_tx IS NULL THEN 0
                  WHEN t.trig_same_block THEN 1 ELSE 2 END AS BIGINT),
        CAST(CASE WHEN h.profit_usd > 0 OR se.s_eoa IS NOT NULL
                    OR h.gas_usd > 50.0e0 THEN 1 ELSE 0 END AS INTEGER)
      FROM arb a JOIN header h ON a.tx_hash = h.tx_hash
      LEFT JOIN tipsearchers se ON h.eoa = se.s_eoa
      LEFT JOIN tpick t ON a.tx_hash = t.tx_hash
      UNION ALL
      SELECT 'liquidation', block_number, tx_hash,
        CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), eoa,
        CAST(NULL AS VARCHAR),
        ${sqlGateProfit("revenue_usd - gas_usd", "priced")},
        revenue_usd, n_liq, n_liq_swaps,
        ${sqlGateFlag("revenue_usd - gas_usd", "priced")}
      FROM liqbase
      ORDER BY 1, 2, 3, 4, 5"""))

  /** The full-composer tip entry: streamed classify → price → ALL seven
    * candidate surfaces → J10 dedup → A4 rollup, per micro-batch, hash-
    * matched against the batch composer formulation over all blocks with
    * the per-block edge key. */
  private val r2TipComposer = QueryDef(
    "r2_tip_composer",
    (s, dir) => s.read.parquet(s"${sharedTipRun(s, dir)}/composer").drop("batch")
      .orderBy("kind", "block_number", "mev_type", "key"),
    withCtes(s"""${InspectorOps.composerCtes("CAST(blk AS VARCHAR) || '|' || utx")}
      SELECT 'bundle' AS kind, blk AS block_number, mev_type, bid AS key,
        CAST(profit AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2,
        CAST(n_txs AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2
      FROM flagged WHERE NOT xk AND NOT wk
      UNION ALL
      SELECT 'type_count', blk, mev_type, CAST(NULL AS VARCHAR),
        CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        CAST(SUM(CASE WHEN NOT xk AND NOT wk THEN 1 ELSE 0 END) AS BIGINT),
        CAST(COUNT(*) AS BIGINT)
      FROM flagged GROUP BY 2, 3
      UNION ALL
      SELECT 'mev_block', h.block_number, CAST(NULL AS VARCHAR),
        b.beneficiary,
        ${sqlSum("h.gas_usd")}, ${sqlSum("h.profit_usd")},
        COUNT(*), CAST(NULL AS BIGINT)
      FROM header h JOIN blocks b ON h.block_number = b.block_number
      GROUP BY 2, 4
      ORDER BY 1, 2, 3, 4"""))
}
