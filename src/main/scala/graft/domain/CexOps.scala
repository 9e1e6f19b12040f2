package graft.domain

import graft.{Pins, QueryDef, QueryModule}
import graft.ops.ExactAgg._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CEX pricing fidelity + cex-dex inspectors (SURVEY §2.4 J1/J3/J4/J5/J12,
  * §2.5 A8/A9, §2.9 R1/R6, §2.11 Q3/Q4): the markout engine's defining
  * behaviors — phase-escalating time windows, optimistic progressive fill,
  * 2-hop intermediary quotes — over a deterministic CEX feed derived from
  * `orders` on the SAME timeline as the chain fixture (block b at b·12s,
  * tx k at +750ms·k).
  *
  * Reference: time_window_vwam.rs:94-470 (phase escalation), optimistic.rs:
  * 100-394 (basket fill), cex_quotes.rs:351-408 (intermediary), most_volume_
  * pair_exchange.sql (A8), cex_dex_markout.rs:47-880 (Q3), cex_dex.rs:77-560
  * (Q4), tree/mod.rs:57-94 (J1), metadata_loader.rs (J12), range.rs (R1),
  * dex_pricing.rs:88 (R6 DisablePricingFor).
  *
  * Scale shape: the trade↔swap match is equi-keyed on (pair, 30s time
  * bucket) with the trade side exploded into the ≤3 buckets its window can
  * touch — never a pair-wide range join; as-of lookups use the one-shuffle
  * union-window formulation (graft.ops.AsOfJoin).
  */
object CexOps extends QueryModule {

  import Accounting._
  import ChainFixture._

  // phase bounds (µs): ±1s → ±5s → ±30s, the escalation ladder
  val P1 = 1000000L
  val P2 = 5000000L
  val P3 = 30000000L
  val TxSpacingUs = 750000L

  def defs: Seq[QueryDef] = Seq(j4StagedVwam, j4Intermediary, j4Multihop,
    j4WeightedVwam,
    q3CexDexMarkout,
    q3Reconstruct, q3MergeSwaps, q3Global, q3TriangularFilter,
    j5Optimistic, j5BasketFill,
    j3Intermediary, q4CexDexQuotes, q4QuoteWindows, a8MostLiquid,
    a9SearcherStats, j1TxInfo, j12MetadataJoin, r1RangeChunks, r6FailedData)

  private def withCtes(sql: String) = Some(s"WITH $sqlDomainCtes, $sql")

  // ── CEX feed fixture (derived from orders; ts aligned with block time) ────

  /** Trades: (exchange, pair_a, pair_b, ts_us, px, amt). */
  private def cexTrades(s: SparkSession, dir: String): DataFrame =
    graft.Tables.orders(s, dir).select(
      concat(lit("ex"), col("o_custkey") % 5).as("exchange"),
      (col("o_orderkey") % PoolRefSpace).as("pp"),
      (col("o_orderkey") * TxSpacingUs +
        expr("CAST(FLOOR(o_totalprice * 7) AS BIGINT)") % 2000001L - 1000000L).as("ts_us"),
      (lit(0.5) + (expr("CAST(FLOOR(o_totalprice) AS BIGINT)") % 1000) / 250.0).as("px"),
      (lit(1.0) + expr("CAST(FLOOR(o_totalprice * 3) AS BIGINT)") % 500).as("amt"))
      .withColumn("ta", col("pp") % NumTokens)
      .withColumn("tb", (col("pp") % NumTokens + 1 + expr("pp div 40")) % TokRefSpace)
      .withColumn("pair_a", least(col("ta"), col("tb")))
      .withColumn("pair_b", greatest(col("ta"), col("tb")))
      .drop("pp", "ta", "tb")

  /** DEX swaps with wall-clock ts and canonical pair. */
  private def dexSwaps(s: SparkSession, dir: String): DataFrame =
    actionsTable(s, dir)
      .filter(col("action_type") === "swap" &&
        col("amount_in").isNotNull && col("amount_out").isNotNull)
      .select(col("block_number"), col("tx_idx"), col("tx_hash"),
        col("trace_idx"), col("from_address"),
        (col("block_number") * BlockTimeUs + col("tx_idx") * TxSpacingUs).as("ts_us"),
        least(col("token_in_id"), col("token_out_id")).as("pair_a"),
        greatest(col("token_in_id"), col("token_out_id")).as("pair_b"),
        (col("amount_out") / col("amount_in")).as("rate"),
        col("amount_in"))

  private val cexTradesCte =
    s"""cex0 AS (
      SELECT 'ex' || (o_custkey % 5) AS exchange,
        o_orderkey % $PoolRefSpace AS pp,
        o_orderkey * $TxSpacingUs
          + CAST(FLOOR(o_totalprice * 7) AS BIGINT) % 2000001 - 1000000 AS ts_us,
        0.5 + (CAST(FLOOR(o_totalprice) AS BIGINT) % 1000) / 250.0 AS px,
        1.0 + CAST(FLOOR(o_totalprice * 3) AS BIGINT) % 500 AS amt
      FROM orders),
    cex AS (
      SELECT exchange, ts_us, px, amt,
        LEAST(pp % $NumTokens, (pp % $NumTokens + 1 + pp // 40) % $TokRefSpace) AS pair_a,
        GREATEST(pp % $NumTokens, (pp % $NumTokens + 1 + pp // 40) % $TokRefSpace) AS pair_b
      FROM cex0),
    dex AS (
      SELECT block_number, tx_idx, tx_hash, trace_idx, from_address,
        block_number * $BlockTimeUs + tx_idx * $TxSpacingUs AS ts_us,
        LEAST(token_in_id, token_out_id) AS pair_a,
        GREATEST(token_in_id, token_out_id) AS pair_b,
        amount_out / amount_in AS rate, amount_in
      FROM actions
      WHERE action_type = 'swap' AND amount_in IS NOT NULL AND amount_out IS NOT NULL)"""

  /** Bucketed swap↔trade pairs within the WIDEST phase window. Spark side
    * of the (pair, bucket) equi-join; trade rows explode into the ≤3
    * buckets their ±P3 reach can touch. */
  private def phasePairs(s: SparkSession, dir: String): DataFrame = {
    val t = cexTrades(s, dir)
      .withColumn("t_bucket", explode(array(
        expr(s"ts_us div $P3") - 1, expr(s"ts_us div $P3"), expr(s"ts_us div $P3") + 1)))
      .select(col("t_bucket"), col("pair_a").as("t_a"), col("pair_b").as("t_b"),
        col("exchange"), col("ts_us").as("t_ts"), col("px"), col("amt"))
    dexSwaps(s, dir)
      .withColumn("d_bucket", expr(s"ts_us div $P3"))
      .join(t, col("d_bucket") === col("t_bucket") &&
        col("pair_a") === col("t_a") && col("pair_b") === col("t_b") &&
        abs(col("t_ts") - col("ts_us")) <= P3)
      .withColumn("dt", abs(col("t_ts") - col("ts_us")))
  }

  private val phasePairsCte =
    s"""tb AS (
      SELECT exchange, pair_a, pair_b, ts_us, px, amt,
        unnest([ts_us // $P3 - 1, ts_us // $P3, ts_us // $P3 + 1]) AS bucket
      FROM cex),
    pp AS (
      SELECT d.block_number, d.tx_hash, d.trace_idx, d.from_address,
        d.pair_a, d.pair_b,
        d.rate, d.amount_in, d.ts_us, t.ts_us AS t_ts, t.exchange, t.px, t.amt,
        ABS(t.ts_us - d.ts_us) AS dt
      FROM dex d JOIN tb t
        ON t.bucket = d.ts_us // $P3 AND t.pair_a = d.pair_a AND t.pair_b = d.pair_b
       AND ABS(t.ts_us - d.ts_us) <= $P3)"""

  // ── queries ───────────────────────────────────────────────────────────────

  /** J4/W5: staged expanding-window VWAM — compute per-phase conditional
    * aggregates in ONE pass over the widest-window pairs, then coalesce
    * narrowest-first (the phase-escalation of time_window_vwam.rs). */
  private val j4StagedVwam = QueryDef(
    "j4_staged_vwam",
    (s, dir) => {
      def pv(bound: Long) = dsum(when(col("dt") <= bound, col("px") * col("amt")))
      def v(bound: Long) = dsum(when(col("dt") <= bound, col("amt")))
      phasePairs(s, dir)
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(pv(P1).as("pv1"), v(P1).as("v1"), pv(P2).as("pv2"), v(P2).as("v2"),
          pv(P3).as("pv3"), v(P3).as("v3"))
        .withColumn("phase",
          when(col("v1") > 0, 1).when(col("v2") > 0, 2).otherwise(3))
        .withColumn("vwam",
          when(col("v1") > 0, col("pv1") / col("v1"))
            .when(col("v2") > 0, col("pv2") / col("v2"))
            .otherwise(col("pv3") / col("v3")))
        .groupBy("phase")
        .agg(count(lit(1)).as("n_swaps"), dsumR(col("vwam")).as("sum_vwam"))
        .orderBy("phase")
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      staged AS (
        SELECT block_number, tx_hash, trace_idx,
          ${sqlSum(s"CASE WHEN dt <= $P1 THEN px * amt END")} AS pv1,
          ${sqlSum(s"CASE WHEN dt <= $P1 THEN amt END")} AS v1,
          ${sqlSum(s"CASE WHEN dt <= $P2 THEN px * amt END")} AS pv2,
          ${sqlSum(s"CASE WHEN dt <= $P2 THEN amt END")} AS v2,
          ${sqlSum(s"CASE WHEN dt <= $P3 THEN px * amt END")} AS pv3,
          ${sqlSum(s"CASE WHEN dt <= $P3 THEN amt END")} AS v3
        FROM pp GROUP BY 1, 2, 3),
      chosen AS (
        SELECT CASE WHEN v1 > 0 THEN 1 WHEN v2 > 0 THEN 2 ELSE 3 END AS phase,
          CASE WHEN v1 > 0 THEN pv1 / v1 WHEN v2 > 0 THEN pv2 / v2
               ELSE pv3 / v3 END AS vwam
        FROM staged)
      SELECT phase, COUNT(*) AS n_swaps, ${sqlSumR("vwam")} AS sum_vwam
      FROM chosen GROUP BY 1 ORDER BY 1"""))

  /** Block-time decay constants (per µs) — the reference's
    * CexDexTradeConfig defaults (trades/config.rs:34-35): trades further
    * from the block time contribute exponentially less. */
  val PreDecayVwap = -5.0e-7
  val PostDecayVwap = -2.0e-7

  /** J4/A6 (weighted arm): block-time-weighted VWAM — calculate_weight
    * (trades/utils.rs:485-499): w = exp(pre·(t_block − t_trade)) before the
    * block, exp(post·(t_trade − t_block)) after (asymmetric: pre-block
    * trades decay faster — they predict the arb less well), applied to
    * maker/taker fee-adjusted prices (time_window_vwam.rs:277-305
    * use_block_time_weights_vwap). Weighted sums go through the same
    * grid-snapped exact reduction as every derived aggregate. */
  private val j4WeightedVwam = QueryDef(
    "j4_weighted_vwam",
    (s, dir) => {
      val fee = (expr("CAST(substring(exchange, 3) AS BIGINT)") + 1) * FeeUnit
      val w = when(col("t_ts") < col("ts_us"),
        exp(lit(PreDecayVwap) * (col("ts_us") - col("t_ts")).cast("double")))
        .otherwise(
          exp(lit(PostDecayVwap) * (col("t_ts") - col("ts_us")).cast("double")))
      val legs = phasePairs(s, dir)
        .withColumn("w", w)
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(
          dsumR(col("px") * (lit(1.0) - fee) * col("w") * col("amt")).as("vxp_mk"),
          dsumR(col("px") * (lit(1.0) + fee) * col("w") * col("amt")).as("vxp_tk"),
          dsumR(col("w") * col("amt")).as("wv"),
          count(lit(1)).as("n_trades"),
          min(col("pair_a")).as("pair_a"))
      legs.groupBy("pair_a")
        .agg(count(lit(1)).as("n_legs"),
          dsumR(col("vxp_mk") / col("wv")).as("sum_vwam_maker"),
          dsumR(col("vxp_tk") / col("wv")).as("sum_vwam_taker"),
          sum(col("n_trades")).as("n_trades"))
        .orderBy("pair_a")
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      wpp AS (
        SELECT *,
          CASE WHEN t_ts < ts_us THEN EXP($PreDecayVwap * CAST(ts_us - t_ts AS DOUBLE))
               ELSE EXP($PostDecayVwap * CAST(t_ts - ts_us AS DOUBLE)) END AS w,
          (CAST(substring(exchange, 3) AS BIGINT) + 1) * 1.0e-4 AS fee
        FROM pp),
      wleg AS (
        SELECT block_number, tx_hash, trace_idx,
          ${sqlSumR("px * (1.0e0 - fee) * w * amt")} AS vxp_mk,
          ${sqlSumR("px * (1.0e0 + fee) * w * amt")} AS vxp_tk,
          ${sqlSumR("w * amt")} AS wv,
          COUNT(*) AS n_trades, MIN(pair_a) AS pair_a
        FROM wpp GROUP BY 1, 2, 3)
      SELECT pair_a, COUNT(*) AS n_legs,
        ${sqlSumR("vxp_mk / wv")} AS sum_vwam_maker,
        ${sqlSumR("vxp_tk / wv")} AS sum_vwam_taker,
        CAST(SUM(n_trades) AS BIGINT) AS n_trades
      FROM wleg GROUP BY 1 ORDER BY 1"""))

  /** J4 (intermediary arm): trades-VWAM through a bridging token — the
    * get_vwap_price_via_intermediary path (time_window_vwam.rs:170-234)
    * that the quotes side already has (j3_intermediary), now on the TRADES
    * path:
    *   - fallback trigger: the direct pair's ±P3 trade volume cannot cover
    *     the swap's input (get_vwap_price returns None on insufficient
    *     volume, :258-378);
    *   - candidates: tokens connected by traded pairs to BOTH ends
    *     (calculate_intermediary_addresses :487-516);
    *   - each leg prices on its OWN phase-escalated window, with the
    *     second leg's required volume scaled by the first leg's price
    *     (second_leg_volume = first_leg.price · volume, :209);
    *   - price = leg1 × leg2, best intermediary wins by price
    *     (max_by_key(global.price_maker), :233).
    * Scale shape: the traded-pair dim and the (a,b,x) candidate table are
    * token-space-sized → broadcast; the only big joins are the two
    * (pair, bucket) equi-joins of swap-legs against bucketed trades. */
  private val j4Intermediary = QueryDef(
    "j4_intermediary",
    (s, dir) => {
      // directed trade-pair edges (tiny: token-space sized)
      val pairsDim = cexTrades(s, dir).select("pair_a", "pair_b").distinct()
      val edges = pairsDim.select(col("pair_a").as("u"), col("pair_b").as("v"))
        .unionByName(pairsDim.select(col("pair_b").as("u"), col("pair_a").as("v")))
      val cands = edges.select(col("u").as("a"), col("v").as("x"))
        .join(edges.select(col("u").as("x2"), col("v").as("b")), col("x") === col("x2"))
        .filter(col("a") =!= col("b") && col("x") =!= col("a") && col("x") =!= col("b"))
        .select("a", "b", "x").distinct()
      // fallback set: swaps whose direct ±P3 window can't cover amount_in
      val direct = phasePairs(s, dir)
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(dsum(col("amt")).as("direct_v"))
      val sw = dexSwaps(s, dir)
        .join(direct, Seq("block_number", "tx_hash", "trace_idx"), "left")
        .filter(col("direct_v").isNull || col("direct_v") < col("amount_in"))
        .select("block_number", "tx_hash", "trace_idx", "ts_us",
          "pair_a", "pair_b", "amount_in")
      // two legs per (swap, candidate), each joined to its pair's buckets
      val legs = sw
        .join(broadcast(cands), col("pair_a") === col("a") && col("pair_b") === col("b"))
        .withColumn("leg", explode(array(
          struct(lit(1).as("leg_no"), least(col("pair_a"), col("x")).as("l_a"),
            greatest(col("pair_a"), col("x")).as("l_b")),
          struct(lit(2).as("leg_no"), least(col("x"), col("pair_b")).as("l_a"),
            greatest(col("x"), col("pair_b")).as("l_b")))))
        .select(col("block_number"), col("tx_hash"), col("trace_idx"),
          col("ts_us"), col("amount_in"), col("x"),
          col("leg.leg_no").as("leg_no"), col("leg.l_a").as("l_a"),
          col("leg.l_b").as("l_b"))
      val t = cexTrades(s, dir)
        .withColumn("t_bucket", explode(array(
          expr(s"ts_us div $P3") - 1, expr(s"ts_us div $P3"), expr(s"ts_us div $P3") + 1)))
        .select(col("t_bucket"), col("pair_a").as("t_a"), col("pair_b").as("t_b"),
          col("ts_us").as("t_ts"), col("px"), col("amt"))
      // BOTH legs aggregate in ONE pass at (swap, x) grain with
      // leg-conditional sums: the old shape grouped at (swap, x, leg_no)
      // and then self-joined leg 1 against leg 2 — Catalyst plans that as
      // TWO full legs×trades joins (no exchange reuse across the branches)
      // plus a sort-merge self-join. Per-leg sums range over exactly the
      // same addends (leg_no partitions the joined rows), decimal-exact
      // reduction is order-free, and a leg with no matched trades yields
      // NULL sums → NULL vwam → filtered, exactly the rows the old inner
      // self-join dropped. One join, one agg, zero self-joins.
      def pvl(leg: Int, bound: Long) = dsum(when(col("leg_no") === leg &&
        abs(col("t_ts") - col("ts_us")) <= bound, col("px") * col("amt")))
      def vl(leg: Int, bound: Long) = dsum(when(col("leg_no") === leg &&
        abs(col("t_ts") - col("ts_us")) <= bound, col("amt")))
      val legAgg = legs
        .withColumn("d_bucket", expr(s"ts_us div $P3"))
        .join(t, col("d_bucket") === col("t_bucket") &&
          col("l_a") === col("t_a") && col("l_b") === col("t_b") &&
          abs(col("t_ts") - col("ts_us")) <= P3)
        .groupBy("block_number", "tx_hash", "trace_idx", "x")
        .agg(min(col("amount_in")).as("amount_in"),
          pvl(1, P1).as("pv1"), vl(1, P1).as("v1"),
          pvl(1, P2).as("pv2"), vl(1, P2).as("v2"),
          pvl(1, P3).as("pv3"), vl(1, P3).as("v3"),
          pvl(2, P1).as("pv1_2"), vl(2, P1).as("v1_2"),
          pvl(2, P2).as("pv2_2"), vl(2, P2).as("v2_2"),
          pvl(2, P3).as("pv3_2"), vl(2, P3).as("v3_2"))
      // phase pick = narrowest window whose volume covers the requirement
      def pick(req: org.apache.spark.sql.Column) =
        when(col("v1") >= req, col("pv1") / col("v1"))
          .when(col("v2") >= req, col("pv2") / col("v2"))
          .when(col("v3") >= req, col("pv3") / col("v3"))
      def pick2(req: org.apache.spark.sql.Column) =
        when(col("v1_2") >= req, col("pv1_2") / col("v1_2"))
          .when(col("v2_2") >= req, col("pv2_2") / col("v2_2"))
          .when(col("v3_2") >= req, col("pv3_2") / col("v3_2"))
      val priced = legAgg
        .withColumn("vwam1", pick(col("amount_in")))
        .filter(col("vwam1").isNotNull)
        .withColumn("vwam2", pick2(col("amount_in") * col("vwam1")))
        .filter(col("vwam2").isNotNull)
        .withColumn("implied", col("vwam1") * col("vwam2"))
      val w = Window.partitionBy("block_number", "tx_hash", "trace_idx")
        .orderBy(col("implied").desc, col("x").asc)
      priced.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy("x")
        .agg(count(lit(1)).as("n_swaps"), dsumR(col("implied")).as("sum_implied"))
        .withColumnRenamed("x", "intermediary")
        .orderBy("intermediary")
    },
    withCtes(s"""$cexTradesCte,
      pdim AS (SELECT DISTINCT pair_a, pair_b FROM cex),
      edges AS (SELECT pair_a AS u, pair_b AS v FROM pdim
                UNION ALL SELECT pair_b, pair_a FROM pdim),
      cands AS (
        SELECT DISTINCT e1.u AS a, e2.v AS b, e1.v AS x
        FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        WHERE e1.u <> e2.v AND e1.v <> e1.u AND e1.v <> e2.v),
      tbi AS (
        SELECT pair_a, pair_b, ts_us, px, amt,
          unnest([ts_us // $P3 - 1, ts_us // $P3, ts_us // $P3 + 1]) AS bucket
        FROM cex),
      direct_v AS (
        SELECT d.block_number, d.tx_hash, d.trace_idx, ${sqlSum("t.amt")} AS dv
        FROM dex d JOIN tbi t
          ON t.bucket = d.ts_us // $P3 AND t.pair_a = d.pair_a AND t.pair_b = d.pair_b
         AND ABS(t.ts_us - d.ts_us) <= $P3
        GROUP BY 1, 2, 3),
      swf AS (
        SELECT d.block_number, d.tx_hash, d.trace_idx, d.ts_us,
          d.pair_a, d.pair_b, d.amount_in
        FROM dex d LEFT JOIN direct_v v USING (block_number, tx_hash, trace_idx)
        WHERE v.dv IS NULL OR v.dv < d.amount_in),
      legsi AS (
        SELECT s.*, c.x, 1 AS leg_no,
          LEAST(s.pair_a, c.x) AS l_a, GREATEST(s.pair_a, c.x) AS l_b
        FROM swf s JOIN cands c ON s.pair_a = c.a AND s.pair_b = c.b
        UNION ALL
        SELECT s.*, c.x, 2,
          LEAST(c.x, s.pair_b), GREATEST(c.x, s.pair_b)
        FROM swf s JOIN cands c ON s.pair_a = c.a AND s.pair_b = c.b),
      legagg AS (
        SELECT block_number, tx_hash, trace_idx, x, leg_no,
          MIN(amount_in) AS amount_in,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P1 THEN px * amt END")} AS pv1,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P1 THEN amt END")} AS v1,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P2 THEN px * amt END")} AS pv2,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P2 THEN amt END")} AS v2,
          ${sqlSum("px * amt")} AS pv3, ${sqlSum("amt")} AS v3
        FROM legsi l JOIN tbi t
          ON t.bucket = l.ts_us // $P3 AND t.pair_a = l.l_a AND t.pair_b = l.l_b
         AND ABS(t.ts_us - l.ts_us) <= $P3
        GROUP BY 1, 2, 3, 4, 5),
      leg1 AS (
        SELECT block_number, tx_hash, trace_idx, x, amount_in,
          CASE WHEN v1 >= amount_in THEN pv1 / v1
               WHEN v2 >= amount_in THEN pv2 / v2
               WHEN v3 >= amount_in THEN pv3 / v3 END AS vwam1
        FROM legagg WHERE leg_no = 1),
      priced AS (
        SELECT a1.block_number, a1.tx_hash, a1.trace_idx, a1.x,
          a1.vwam1 * (CASE WHEN a2.v1 >= a1.amount_in * a1.vwam1 THEN a2.pv1 / a2.v1
                           WHEN a2.v2 >= a1.amount_in * a1.vwam1 THEN a2.pv2 / a2.v2
                           WHEN a2.v3 >= a1.amount_in * a1.vwam1 THEN a2.pv3 / a2.v3
                      END) AS implied
        FROM leg1 a1 JOIN legagg a2
          ON a2.leg_no = 2 AND a1.block_number = a2.block_number
         AND a1.tx_hash = a2.tx_hash AND a1.trace_idx = a2.trace_idx AND a1.x = a2.x
        WHERE a1.vwam1 IS NOT NULL),
      best AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY block_number, tx_hash, trace_idx
            ORDER BY implied DESC, x ASC) AS rn
        FROM priced WHERE implied IS NOT NULL)
      SELECT x AS intermediary, COUNT(*) AS n_swaps,
        ${sqlSumR("implied")} AS sum_implied
      FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1"""))

  /** J4 (multi-hop arm): trades-VWAM through TWO bridging tokens — the
    * reference routes through verified subgraphs of arbitrary depth
    * (time_window_vwam.rs:484 + graphs/subgraph.rs), so long-tail pairs two
    * hops from a quote asset still price; j4_intermediary stops at one
    * bridge. Three legs a→x1→x2→b, each phase-escalated on its own window
    * with the downstream legs' required volume scaled by the upstream
    * prices (second_leg_volume composition, :209, applied twice). Route
    * selection is BEST-LIQUIDITY: the winning route maximizes its
    * bottleneck leg volume (the min full-window volume across legs — the
    * subgraph verifier's liquidity bar), with price then route id as the
    * deterministic tiebreak. Scale shape unchanged from j4_intermediary:
    * the 3-hop route table is token-space-sized → broadcast; the one big
    * join is (pair, bucket)-equi legs×trades. */
  private val j4Multihop = QueryDef(
    "j4_multihop",
    (s, dir) => {
      val pairsDim = cexTrades(s, dir).select("pair_a", "pair_b").distinct()
      val edges = pairsDim.select(col("pair_a").as("u"), col("pair_b").as("v"))
        .unionByName(pairsDim.select(col("pair_b").as("u"), col("pair_a").as("v")))
      val cands = edges.select(col("u").as("a"), col("v").as("x1"))
        .join(edges.select(col("u").as("m1"), col("v").as("x2")),
          col("x1") === col("m1"))
        .join(edges.select(col("u").as("m2"), col("v").as("b")),
          col("x2") === col("m2"))
        .filter(col("a") =!= col("b") && col("x1") =!= col("x2") &&
          col("x1") =!= col("a") && col("x1") =!= col("b") &&
          col("x2") =!= col("a") && col("x2") =!= col("b"))
        .select("a", "b", "x1", "x2").distinct()
      val direct = phasePairs(s, dir)
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(dsum(col("amt")).as("direct_v"))
      val sw = dexSwaps(s, dir)
        .join(direct, Seq("block_number", "tx_hash", "trace_idx"), "left")
        .filter(col("direct_v").isNull || col("direct_v") < col("amount_in"))
        .select("block_number", "tx_hash", "trace_idx", "ts_us",
          "pair_a", "pair_b", "amount_in")
      val legs = sw
        .join(broadcast(cands), col("pair_a") === col("a") && col("pair_b") === col("b"))
        .withColumn("leg", explode(array(
          struct(lit(1).as("leg_no"), least(col("pair_a"), col("x1")).as("l_a"),
            greatest(col("pair_a"), col("x1")).as("l_b")),
          struct(lit(2).as("leg_no"), least(col("x1"), col("x2")).as("l_a"),
            greatest(col("x1"), col("x2")).as("l_b")),
          struct(lit(3).as("leg_no"), least(col("x2"), col("pair_b")).as("l_a"),
            greatest(col("x2"), col("pair_b")).as("l_b")))))
        .select(col("block_number"), col("tx_hash"), col("trace_idx"),
          col("ts_us"), col("amount_in"), col("x1"), col("x2"),
          col("leg.leg_no").as("leg_no"), col("leg.l_a").as("l_a"),
          col("leg.l_b").as("l_b"))
      val t = cexTrades(s, dir)
        .withColumn("t_bucket", explode(array(
          expr(s"ts_us div $P3") - 1, expr(s"ts_us div $P3"), expr(s"ts_us div $P3") + 1)))
        .select(col("t_bucket"), col("pair_a").as("t_a"), col("pair_b").as("t_b"),
          col("ts_us").as("t_ts"), col("px"), col("amt"))
      // ONE leg-conditional aggregation at (swap, x1, x2) grain replaces
      // the (…, leg_no)-grain agg + two key-equi self-joins: the old plan
      // recomputed the legs×trades join THREE times (l1/tail(2)/tail(3)
      // branches share no exchange) and sort-merge-joined the results.
      // Per-leg sums keep identical addends (leg_no partitions the joined
      // rows; decimal reduction is order-free); a leg with no matched
      // trades yields NULL sums → NULL vwam → filtered, matching the rows
      // the old inner self-joins dropped. Same j4_intermediary fusion,
      // one more leg.
      def pvl(leg: Int, bound: Long) = dsum(when(col("leg_no") === leg &&
        abs(col("t_ts") - col("ts_us")) <= bound, col("px") * col("amt")))
      def vl(leg: Int, bound: Long) = dsum(when(col("leg_no") === leg &&
        abs(col("t_ts") - col("ts_us")) <= bound, col("amt")))
      def legCols(leg: Int): Seq[org.apache.spark.sql.Column] = {
        val sfx = if (leg == 1) "" else s"_$leg"
        Seq(pvl(leg, P1).as(s"pv1$sfx"), vl(leg, P1).as(s"v1$sfx"),
          pvl(leg, P2).as(s"pv2$sfx"), vl(leg, P2).as(s"v2$sfx"),
          pvl(leg, P3).as(s"pv3$sfx"), vl(leg, P3).as(s"v3$sfx"))
      }
      val aggCols = min(col("amount_in")).as("amount_in") +:
        (1 to 3).flatMap(legCols)
      val legAgg = legs
        .withColumn("d_bucket", expr(s"ts_us div $P3"))
        .join(t, col("d_bucket") === col("t_bucket") &&
          col("l_a") === col("t_a") && col("l_b") === col("t_b") &&
          abs(col("t_ts") - col("ts_us")) <= P3)
        .groupBy("block_number", "tx_hash", "trace_idx", "x1", "x2")
        .agg(aggCols.head, aggCols.tail: _*)
      def pick(req: org.apache.spark.sql.Column) =
        when(col("v1") >= req, col("pv1") / col("v1"))
          .when(col("v2") >= req, col("pv2") / col("v2"))
          .when(col("v3") >= req, col("pv3") / col("v3"))
      def pickN(n: Int, req: org.apache.spark.sql.Column) =
        when(col(s"v1_$n") >= req, col(s"pv1_$n") / col(s"v1_$n"))
          .when(col(s"v2_$n") >= req, col(s"pv2_$n") / col(s"v2_$n"))
          .when(col(s"v3_$n") >= req, col(s"pv3_$n") / col(s"v3_$n"))
      val priced = legAgg
        .withColumn("vwam1", pick(col("amount_in")))
        .filter(col("vwam1").isNotNull)
        .withColumn("vwam2", pickN(2, col("amount_in") * col("vwam1")))
        .filter(col("vwam2").isNotNull)
        .withColumn("vwam3",
          pickN(3, col("amount_in") * col("vwam1") * col("vwam2")))
        .filter(col("vwam3").isNotNull)
        .withColumn("implied", col("vwam1") * col("vwam2") * col("vwam3"))
        .withColumn("liq", least(col("v3"), col("v3_2"), col("v3_3")))
      val w = Window.partitionBy("block_number", "tx_hash", "trace_idx")
        .orderBy(col("liq").desc, col("implied").desc,
          col("x1").asc, col("x2").asc)
      priced.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .groupBy(col("x1").as("hop1"), col("x2").as("hop2"))
        .agg(count(lit(1)).as("n_swaps"),
          dsumR(col("implied")).as("sum_implied"),
          dsum(col("liq")).as("sum_route_liq"))
        .orderBy("hop1", "hop2")
    },
    withCtes(s"""$cexTradesCte,
      pdim AS (SELECT DISTINCT pair_a, pair_b FROM cex),
      edges AS (SELECT pair_a AS u, pair_b AS v FROM pdim
                UNION ALL SELECT pair_b, pair_a FROM pdim),
      cands AS (
        SELECT DISTINCT e1.u AS a, e3.v AS b, e1.v AS x1, e2.v AS x2
        FROM edges e1 JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e2.v = e3.u
        WHERE e1.u <> e3.v AND e1.v <> e2.v
          AND e1.v <> e1.u AND e1.v <> e3.v
          AND e2.v <> e1.u AND e2.v <> e3.v),
      tbi AS (
        SELECT pair_a, pair_b, ts_us, px, amt,
          unnest([ts_us // $P3 - 1, ts_us // $P3, ts_us // $P3 + 1]) AS bucket
        FROM cex),
      direct_v AS (
        SELECT d.block_number, d.tx_hash, d.trace_idx, ${sqlSum("t.amt")} AS dv
        FROM dex d JOIN tbi t
          ON t.bucket = d.ts_us // $P3 AND t.pair_a = d.pair_a AND t.pair_b = d.pair_b
         AND ABS(t.ts_us - d.ts_us) <= $P3
        GROUP BY 1, 2, 3),
      swf AS (
        SELECT d.block_number, d.tx_hash, d.trace_idx, d.ts_us,
          d.pair_a, d.pair_b, d.amount_in
        FROM dex d LEFT JOIN direct_v v USING (block_number, tx_hash, trace_idx)
        WHERE v.dv IS NULL OR v.dv < d.amount_in),
      legsm AS (
        SELECT s.*, c.x1, c.x2, 1 AS leg_no,
          LEAST(s.pair_a, c.x1) AS l_a, GREATEST(s.pair_a, c.x1) AS l_b
        FROM swf s JOIN cands c ON s.pair_a = c.a AND s.pair_b = c.b
        UNION ALL
        SELECT s.*, c.x1, c.x2, 2,
          LEAST(c.x1, c.x2), GREATEST(c.x1, c.x2)
        FROM swf s JOIN cands c ON s.pair_a = c.a AND s.pair_b = c.b
        UNION ALL
        SELECT s.*, c.x1, c.x2, 3,
          LEAST(c.x2, s.pair_b), GREATEST(c.x2, s.pair_b)
        FROM swf s JOIN cands c ON s.pair_a = c.a AND s.pair_b = c.b),
      legagg AS (
        SELECT block_number, tx_hash, trace_idx, x1, x2, leg_no,
          MIN(amount_in) AS amount_in,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P1 THEN px * amt END")} AS pv1,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P1 THEN amt END")} AS v1,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P2 THEN px * amt END")} AS pv2,
          ${sqlSum(s"CASE WHEN ABS(t.ts_us - l.ts_us) <= $P2 THEN amt END")} AS v2,
          ${sqlSum("px * amt")} AS pv3, ${sqlSum("amt")} AS v3
        FROM legsm l JOIN tbi t
          ON t.bucket = l.ts_us // $P3 AND t.pair_a = l.l_a AND t.pair_b = l.l_b
         AND ABS(t.ts_us - l.ts_us) <= $P3
        GROUP BY 1, 2, 3, 4, 5, 6),
      mleg1 AS (
        SELECT block_number, tx_hash, trace_idx, x1, x2, amount_in, v3 AS liq1,
          CASE WHEN v1 >= amount_in THEN pv1 / v1
               WHEN v2 >= amount_in THEN pv2 / v2
               WHEN v3 >= amount_in THEN pv3 / v3 END AS vwam1
        FROM legagg WHERE leg_no = 1),
      mleg12 AS (
        SELECT a1.block_number, a1.tx_hash, a1.trace_idx, a1.x1, a1.x2,
          a1.amount_in, a1.vwam1, a1.liq1, a2.v3 AS liq2,
          (CASE WHEN a2.v1 >= a1.amount_in * a1.vwam1 THEN a2.pv1 / a2.v1
                WHEN a2.v2 >= a1.amount_in * a1.vwam1 THEN a2.pv2 / a2.v2
                WHEN a2.v3 >= a1.amount_in * a1.vwam1 THEN a2.pv3 / a2.v3
           END) AS vwam2
        FROM mleg1 a1 JOIN legagg a2
          ON a2.leg_no = 2 AND a1.block_number = a2.block_number
         AND a1.tx_hash = a2.tx_hash AND a1.trace_idx = a2.trace_idx
         AND a1.x1 = a2.x1 AND a1.x2 = a2.x2
        WHERE a1.vwam1 IS NOT NULL),
      mpriced AS (
        SELECT p.block_number, p.tx_hash, p.trace_idx, p.x1, p.x2,
          p.vwam1 * p.vwam2 *
          (CASE WHEN a3.v1 >= p.amount_in * p.vwam1 * p.vwam2 THEN a3.pv1 / a3.v1
                WHEN a3.v2 >= p.amount_in * p.vwam1 * p.vwam2 THEN a3.pv2 / a3.v2
                WHEN a3.v3 >= p.amount_in * p.vwam1 * p.vwam2 THEN a3.pv3 / a3.v3
           END) AS implied,
          LEAST(p.liq1, p.liq2, a3.v3) AS liq
        FROM mleg12 p JOIN legagg a3
          ON a3.leg_no = 3 AND p.block_number = a3.block_number
         AND p.tx_hash = a3.tx_hash AND p.trace_idx = a3.trace_idx
         AND p.x1 = a3.x1 AND p.x2 = a3.x2
        WHERE p.vwam2 IS NOT NULL),
      mbest AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY block_number, tx_hash, trace_idx
            ORDER BY liq DESC, implied DESC, x1 ASC, x2 ASC) AS rn
        FROM mpriced WHERE implied IS NOT NULL)
      SELECT x1 AS hop1, x2 AS hop2, COUNT(*) AS n_swaps,
        ${sqlSumR("implied")} AS sum_implied,
        ${sqlSum("liq")} AS sum_route_liq
      FROM mbest WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Q3: cex-dex markout — per-exchange VWAM vs dex execution rate, PnL in
    * the swap's input units × token price (the per-exchange arm of
    * cex_dex_markout.rs). */
  private val q3CexDexMarkout = QueryDef(
    "q3_cexdex_markout",
    (s, dir) => {
      val searchers = ChainFixture.searchers(s)
      phasePairs(s, dir)
        .groupBy("exchange", "block_number", "tx_hash", "trace_idx")
        .agg(dsum(col("px") * col("amt")).as("pv"), dsum(col("amt")).as("v"),
          min(col("rate")).as("rate"), min(col("amount_in")).as("amount_in"),
          min(col("pair_a")).as("pair_a"), min(col("from_address")).as("eoa"))
        .join(broadcast(searchers), col("eoa") === col("s_eoa"), "left")
        .withColumn("markout_usd",
          (col("pv") / col("v") - col("rate")) * col("amount_in") *
            tokenPrice(col("pair_a")))
        // validity (filter_possible_cex_dex): profitable leg OR labeled searcher
        .withColumn("is_valid", col("markout_usd") > 0 || col("s_eoa").isNotNull)
        .groupBy("exchange")
        .agg(count(lit(1)).as("n_legs"),
          dsumR(col("markout_usd")).as("sum_markout"),
          sum(when(col("markout_usd") > 0, 1L).otherwise(0L)).as("n_positive"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"))
        .orderBy("exchange")
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      leg AS (
        SELECT exchange, block_number, tx_hash, trace_idx,
          ${sqlSum("px * amt")} AS pv, ${sqlSum("amt")} AS v,
          MIN(rate) AS rate, MIN(amount_in) AS amount_in, MIN(pair_a) AS pair_a,
          MIN(from_address) AS eoa
        FROM pp GROUP BY 1, 2, 3, 4),
      searchers3 AS $searchersCteBody,
      mk AS (
        SELECT exchange,
          (pv / v - rate) * amount_in * ${tokenPriceSql("pair_a")} AS markout_usd,
          s.s_eoa
        FROM leg LEFT JOIN searchers3 s ON leg.eoa = s.s_eoa)
      SELECT exchange, COUNT(*) AS n_legs,
        ${sqlSumR("markout_usd")} AS sum_markout,
        CAST(SUM(CASE WHEN markout_usd > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        CAST(SUM(CASE WHEN markout_usd > 0 OR s_eoa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      FROM mk GROUP BY 1 ORDER BY 1"""))

  /** Q3 (reconstruction arm): try_create_swaps (shared_utils.rs:160-227) —
    * transfers of one tx grouped by counterparty address; an address that
    * received exactly one token and sent exactly one OTHER token acted as a
    * pool, and the transfer pair reconstructs the swap (in-leg = the
    * transfer INTO the address, out-leg = the transfer OUT). Transfers from
    * labeled searcher EOAs are skipped (the reference's invalid_addresses).
    *
    * The fixture's standalone transfers never round-trip through one
    * address, so the algorithm runs over the swap actions DECOMPOSED into
    * their underlying transfer legs (pool receives token_in from the eoa,
    * pool sends token_out back) — reconstructing the swap set round-trip
    * and exercising the reference's ≠2-candidate rejection (a pool touched
    * by two swaps of one tx yields 4 legs → rejected, as in the reference).
    * Pure groupBy — one shuffle on (tx, counterparty), linear at any SF. */
  /** `is_triangular_arb` (cex_dex_markout.rs:693-706): a candidate tx
    * whose ordered swap legs CLOSE a cycle (first token_in == last
    * token_out, ≥2 swaps) is a misrouted atomic arb, not a CEX-DEX —
    * the reference drops it before the validity gate
    * (cex_dex_markout.rs:192-200, `test_not_triangular_arb_false_positive`).
    * DataFrame-parameterized over a swaps-shaped frame for the goldens:
    * classifies every swap-bearing tx single / multihop_open / triangular. */
  private[graft] def triangularClassOf(swapsDf: DataFrame): DataFrame =
    swapsDf.groupBy("tx_hash")
      .agg(count(lit(1)).as("n_swaps"),
        min_by(col("token_in_id"), col("trace_idx")).as("first_in"),
        max_by(col("token_out_id"), col("trace_idx")).as("last_out"))
      .withColumn("clazz",
        when(col("n_swaps") === 1, "single")
          .when(col("first_in") === col("last_out"), "triangular")
          .otherwise("multihop_open"))

  /** Q3 (triangular filter census): how the false-positive filter cuts
    * the candidate stream — triangular txs are EXCLUDED from the CEX-DEX
    * candidate set (the registered q3 queries' single-swap gate is a
    * structural subset: with one swap the cycle test is vacuously false).
    * One groupBy over the pruned swap scan. */
  private val q3TriangularFilter = QueryDef(
    "q3_triangular_filter",
    (s, dir) => triangularClassOf(
      actionsTable(s, dir).filter(col("action_type") === "swap" &&
        col("amount_in").isNotNull && col("amount_out").isNotNull))
      .groupBy("clazz")
      .agg(count(lit(1)).as("n_txs"),
        sum(col("n_swaps")).as("n_legs"),
        sum(when(col("clazz") === "triangular", 1L).otherwise(0L))
          .as("n_excluded"))
      .orderBy("clazz"),
    withCtes(s"""tri AS (
        SELECT tx_hash, COUNT(*) AS n_swaps,
          ARG_MIN(token_in_id, trace_idx) AS first_in,
          ARG_MAX(token_out_id, trace_idx) AS last_out
        FROM swaps GROUP BY 1)
      SELECT clazz, COUNT(*) AS n_txs,
        CAST(SUM(n_swaps) AS BIGINT) AS n_legs,
        CAST(SUM(CASE WHEN clazz = 'triangular' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_excluded
      FROM (SELECT *, CASE WHEN n_swaps = 1 THEN 'single'
              WHEN first_in = last_out THEN 'triangular'
              ELSE 'multihop_open' END AS clazz FROM tri)
      GROUP BY 1 ORDER BY 1"""))

  private val q3Reconstruct = QueryDef(
    "q3_reconstruct",
    (s, dir) => {
      val searchers = ChainFixture.searchers(s)
      val sw = actionsTable(s, dir)
        .filter(col("action_type") === "swap" && col("pool").isNotNull &&
          col("amount_in").isNotNull && col("amount_out").isNotNull)
        .select(col("tx_hash"), col("from_address"), col("pool"),
          col("token_in_id"), col("token_out_id"),
          col("amount_in"), col("amount_out"), col("trace_idx"))
      // swap → its two underlying transfers: eoa→pool (token_in) and
      // pool→eoa (token_out); the reference's invalid-address skip applies
      // per TRANSFER to its sender
      val xfer = sw.select(col("tx_hash"), col("from_address").as("t_from"),
          col("pool").as("t_to"), col("token_in_id").as("token"),
          col("amount_in").as("amt"), col("trace_idx"))
        .unionByName(sw.select(col("tx_hash"), col("pool").as("t_from"),
          col("from_address").as("t_to"), col("token_out_id").as("token"),
          col("amount_out").as("amt"), col("trace_idx")))
        .join(broadcast(searchers), col("t_from") === col("s_eoa"), "left_anti")
      // every transfer contributes a leg at BOTH endpoints (direction true
      // at the receiver, false at the sender) — the reference's pools map.
      // Non-pool endpoints accumulate ≠2 or same-direction legs and drop
      // out in the HAVING.
      val legs = xfer.select(col("tx_hash"), col("t_to").as("pool_cand"),
          lit(1).as("dir_in"), col("token"), col("amt"),
          col("t_from").as("cp"), col("trace_idx"))
        .unionByName(xfer.select(col("tx_hash"), col("t_from").as("pool_cand"),
          lit(0).as("dir_in"), col("token"), col("amt"),
          col("t_to").as("cp"), col("trace_idx")))
      // n_tok/n_dir as min≠max instead of countDistinct: with the n == 2
      // gate the two are equivalent, and dropping the distinct aggregates
      // keeps the (already 4×-exploded) leg table out of an Expand plan
      legs.groupBy("tx_hash", "pool_cand")
        .agg(count(lit(1)).as("n"),
          min(col("token")).as("tok_min"), max(col("token")).as("tok_max"),
          min(col("dir_in")).as("dir_min"), max(col("dir_in")).as("dir_max"),
          max(when(col("dir_in") === 1, col("token"))).as("token_in"),
          max(when(col("dir_in") === 0, col("token"))).as("token_out"),
          max(when(col("dir_in") === 1, col("amt"))).as("amount_in"),
          max(when(col("dir_in") === 0, col("amt"))).as("amount_out"),
          max(when(col("dir_in") === 1, col("cp"))).as("swap_from"),
          max(when(col("dir_in") === 0, col("cp"))).as("recipient"),
          min(col("trace_idx")).as("trace_idx"))
        .filter(col("n") === 2 && col("tok_min") =!= col("tok_max") &&
          col("dir_min") =!= col("dir_max"))
        .select("tx_hash", "pool_cand", "token_in", "token_out",
          "amount_in", "amount_out", "swap_from", "recipient", "trace_idx")
        .orderBy("tx_hash", "pool_cand")
    },
    withCtes(s"""searchers_r AS $searchersCteBody,
      sw_r AS (
        SELECT tx_hash, from_address, pool, token_in_id, token_out_id,
          amount_in, amount_out, trace_idx
        FROM actions
        WHERE action_type = 'swap' AND pool IS NOT NULL
          AND amount_in IS NOT NULL AND amount_out IS NOT NULL),
      xfer AS (
        SELECT * FROM (
          SELECT tx_hash, from_address AS t_from, pool AS t_to,
            token_in_id AS token, amount_in AS amt, trace_idx FROM sw_r
          UNION ALL
          SELECT tx_hash, pool, from_address, token_out_id, amount_out,
            trace_idx FROM sw_r)
        WHERE t_from NOT IN (SELECT s_eoa FROM searchers_r)),
      recon_legs AS (
        SELECT tx_hash, t_to AS pool_cand, 1 AS dir_in, token, amt,
          t_from AS cp, trace_idx FROM xfer
        UNION ALL
        SELECT tx_hash, t_from, 0, token, amt, t_to, trace_idx
        FROM xfer)
      SELECT tx_hash, pool_cand,
        MAX(CASE WHEN dir_in = 1 THEN token END) AS token_in,
        MAX(CASE WHEN dir_in = 0 THEN token END) AS token_out,
        MAX(CASE WHEN dir_in = 1 THEN amt END) AS amount_in,
        MAX(CASE WHEN dir_in = 0 THEN amt END) AS amount_out,
        MAX(CASE WHEN dir_in = 1 THEN cp END) AS swap_from,
        MAX(CASE WHEN dir_in = 0 THEN cp END) AS recipient,
        MIN(trace_idx) AS trace_idx
      FROM recon_legs
      GROUP BY 1, 2
      HAVING COUNT(*) = 2 AND COUNT(DISTINCT token) = 2
         AND COUNT(DISTINCT dir_in) = 2
      ORDER BY 1, 2"""))

  /** Q3 (merge arm): cex_merge_possible_swaps (shared_utils.rs:725-792) —
    * multihop legs A→B, B→C through an intermediary token collapse into
    * A→C before pricing. Expressed as maximal CONSECUTIVE token-continuous
    * chains per tx (lag-compare + running chain id). Documented divergences:
    * the reference additionally requires exact amount forwarding
    * (amount_out == next amount_in), which never holds in this fixture
    * because swap outputs embed synthetic price/fee noise — token
    * continuity in trace order is the chain signal here; and the chain
    * collapse deterministically merges >2-leg chains where the reference's
    * single pass over an unordered map merges one pair per intermediary.
    * One window + one groupBy, both partitioned by tx. */
  /** The merge core alone, DataFrame-parameterized for the golden battery
    * (`test_cex_dex_merging_swaps_failure`): maximal token-continuous
    * chains per tx; a token-in that does not continue the previous leg's
    * token-out BREAKS the chain — non-adjacent legs never merge. */
  private[graft] def mergeSwapsOf(swapsDf: DataFrame): DataFrame = {
    val w = Window.partitionBy("tx_hash").orderBy("trace_idx")
    swapsDf
      .withColumn("p_tok", lag(col("token_out_id"), 1).over(w))
      .withColumn("brk",
        when(col("p_tok").isNull || col("p_tok") =!= col("token_in_id"), 1L)
          .otherwise(0L))
      .withColumn("chain_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("tx_hash", "chain_id")
      .agg(count(lit(1)).as("n_legs"),
        min_by(col("token_in_id"), col("trace_idx")).as("token_in"),
        max_by(col("token_out_id"), col("trace_idx")).as("token_out"),
        min_by(col("amount_in"), col("trace_idx")).as("amount_in"),
        max_by(col("amount_out"), col("trace_idx")).as("amount_out"),
        min(col("trace_idx")).as("trace_idx"))
      .filter(col("n_legs") >= 2)
      .select("tx_hash", "trace_idx", "token_in", "token_out",
        "amount_in", "amount_out", "n_legs")
  }

  private val q3MergeSwaps = QueryDef(
    "q3_merge_swaps",
    (s, dir) => mergeSwapsOf(
      actionsTable(s, dir)
        .filter(col("action_type") === "swap" &&
          col("amount_in").isNotNull && col("amount_out").isNotNull)
        .select("tx_hash", "trace_idx", "token_in_id", "token_out_id",
          "amount_in", "amount_out"))
      .orderBy("tx_hash", "trace_idx"),
    withCtes("""sw_seq AS (
        SELECT tx_hash, trace_idx, token_in_id, token_out_id, amount_in, amount_out,
          LAG(token_out_id) OVER w AS p_tok
        FROM actions
        WHERE action_type = 'swap' AND amount_in IS NOT NULL AND amount_out IS NOT NULL
        WINDOW w AS (PARTITION BY tx_hash ORDER BY trace_idx)),
      chains AS (
        SELECT *, SUM(CASE WHEN p_tok IS NULL OR p_tok <> token_in_id
                           THEN 1 ELSE 0 END)
          OVER (PARTITION BY tx_hash ORDER BY trace_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chain_id
        FROM sw_seq)
      SELECT tx_hash, MIN(trace_idx) AS trace_idx,
        ARG_MIN(token_in_id, trace_idx) AS token_in,
        ARG_MAX(token_out_id, trace_idx) AS token_out,
        ARG_MIN(amount_in, trace_idx) AS amount_in,
        ARG_MAX(amount_out, trace_idx) AS amount_out,
        COUNT(*) AS n_legs
      FROM chains
      GROUP BY tx_hash, chain_id
      HAVING COUNT(*) >= 2
      ORDER BY 1, 2"""))

  /** Exchange taker/maker fee fraction: deterministic (1+ex_id)·1e-4. */
  private val FeeUnit = 1e-4

  /** Single-profitable-exchange PnL above this is an "outlier" (the
    * reference's HIGH_PROFIT_THRESHOLD = $10,000, markout/types.rs:26,
    * scaled to the fixture's PnL distribution so the arm genuinely
    * bisects). */
  /** The four-arm filter_possible_cex_dex validity gate plus the
    * max_arb_delta sanity clamp, DataFrame-parameterized so golden
    * scenarios drive the SAME column dataflow q3_global runs
    * (cex_dex/markout.rs:639-725; the reference pins each arm in its
    * test battery — test_cex_dex / test_eoa_cex_dex /
    * test_cex_dex_markout_bad_price). Input rows carry the per-leg
    * aggregates (pv_mk, pv_tk, v, rate, amount_in, pair_a, pair_b,
    * n_ex_maker_pos, n_ex_taker_pos, best_tk_pnl, best_tk_ex) and the
    * joined context (n_hist, s_eoa); output appends pnl_maker/pnl_taker,
    * the tiered max_diff clamp with passes_sanity, and the arm_pnl /
    * arm_hist / arm_one_ex / arm_outlier / is_valid flags. */
  private[graft] def cexDexValidityArms(legs: DataFrame): DataFrame = {
    val tokPx = tokenPrice(col("pair_a"))
    legs
      .withColumn("pnl_maker", (col("pv_mk") / col("v") - col("rate")) *
        col("amount_in") * tokPx)
      .withColumn("pnl_taker", (col("pv_tk") / col("v") - col("rate")) *
        col("amount_in") * tokPx)
      // max_arb_delta: base 3, labeled searchers get pnl-tiered slack
      .withColumn("max_diff",
        when(col("s_eoa").isNotNull && col("pnl_maker") < 5.0, lit(10.0))
          .when(col("s_eoa").isNotNull && col("pnl_maker") < 40.0, lit(8.0))
          .when(col("s_eoa").isNotNull && col("pnl_maker") < 100.0, lit(5.0))
          .otherwise(lit(3.0)))
      .withColumn("cex_out", (col("pv_mk") / col("v")) * col("amount_in"))
      .withColumn("dex_out", col("rate") * col("amount_in"))
      .withColumn("passes_sanity",
        least(col("cex_out"), col("dex_out")) * col("max_diff") >=
          greatest(col("cex_out"), col("dex_out")))
      .withColumn("is_stable", isStablePair(col("pair_a"), col("pair_b")))
      .withColumn("arm_pnl", col("pnl_maker") > 0 || col("pnl_taker") > 0 ||
        col("n_ex_maker_pos") >= 2 || col("n_ex_taker_pos") >= 2)
      .withColumn("arm_hist", col("n_hist") > 40 || col("s_eoa").isNotNull)
      .withColumn("arm_one_ex",
        (col("n_ex_maker_pos") === 1 || col("n_ex_taker_pos") === 1) && !col("is_stable"))
      .withColumn("arm_outlier", col("n_ex_taker_pos") === 1 &&
        col("best_tk_pnl") > HighProfitUsd &&
        col("best_tk_ex").isin(OutlierExchanges: _*) && !col("is_stable"))
      .withColumn("is_valid", col("arm_pnl") || col("arm_hist") ||
        col("arm_one_ex") || col("arm_outlier"))
  }

  val HighProfitUsd = 500.0

  /** The exchanges whose lone-profitability marks an outlier (the
    * reference names Kucoin/Okex, types.rs:597-599; fixture analog). */
  val OutlierExchanges = Seq("ex3", "ex4")

  /** Stable legs (F4's stable set: token ids 0..4): pair entirely inside
    * the stable set — the `is_stable_swaps` guard of arb_sanity_check. */
  private def isStablePair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    a < 5 && b < 5

  /** Q3 (global arm): the TimeWindowGlobal leg of the pricing matrix
    * (cex_dex_markout.rs:316-342 + profit_classifier :420-512) — VWAM over
    * ALL exchanges' trades with per-trade maker/taker fee adjustment, PnL
    * both arms, the max_arb_delta sanity clamp (:709-725), and ALL FOUR
    * arms of the filter_possible_cex_dex validity gate (:639-688):
    *   1. pnl — globally profitable on either book side, OR profitable on
    *      MULTIPLE exchanges independently (the multi-exchange arm: a bot
    *      unprofitable on the global window but priced off several
    *      exchanges simultaneously is real). The reference gates at >2 of
    *      its ~8 dense venues; this fixture's ±30s windows contain at most
    *      2 venues, so the scaled arm is ≥2 — same semantics, fixture
    *      density;
    *   2. history/label — known CexDex searcher (FILTER_THRESHOLD·2);
    *   3. single-exchange — profitable on exactly one exchange and the
    *      swap isn't stable↔stable (arb_sanity_check :652,664);
    *   4. profitable outlier — ONE taker-profitable exchange, its PnL
    *      above HIGH_PROFIT_THRESHOLD, on an outlier venue, non-stable
    *      (is_profitable_outlier, types.rs:594-600).
    * The per-exchange PnL matrix comes from a two-level rollup: trades →
    * (leg, exchange) partials → leg, so the global sums REUSE the
    * per-exchange partials (one scan, map-side combine at both levels). */
  private val q3Global = QueryDef(
    "q3_global",
    (s, dir) => {
      val searchers = ChainFixture.searchers(s)
      val hist = dexSwaps(s, dir).groupBy(col("from_address").as("h_eoa"))
        .agg(count(lit(1)).as("n_hist"))
      val fee = (expr("CAST(substring(exchange, 3) AS BIGINT)") + 1) * FeeUnit
      val exLegs = phasePairs(s, dir)
        .groupBy("block_number", "tx_hash", "trace_idx", "exchange")
        .agg(dsum(col("px") * col("amt")).as("pv"), dsum(col("amt")).as("v"),
          dsum(col("px") * (lit(1.0) - fee) * col("amt")).as("pv_mk"),
          dsum(col("px") * (lit(1.0) + fee) * col("amt")).as("pv_tk"),
          min(col("rate")).as("rate"), min(col("amount_in")).as("amount_in"),
          min(col("pair_a")).as("pair_a"), min(col("pair_b")).as("pair_b"),
          min(col("from_address")).as("eoa"))
      val exTokPx = tokenPrice(col("pair_a"))
      val legs = exLegs
        .withColumn("e_pnl_mk",
          (col("pv_mk") / col("v") - col("rate")) * col("amount_in") * exTokPx)
        .withColumn("e_pnl_tk",
          (col("pv_tk") / col("v") - col("rate")) * col("amount_in") * exTokPx)
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(dsum(col("pv")).as("pv"), dsum(col("v")).as("v"),
          dsum(col("pv_mk")).as("pv_mk"), dsum(col("pv_tk")).as("pv_tk"),
          min(col("rate")).as("rate"), min(col("amount_in")).as("amount_in"),
          min(col("pair_a")).as("pair_a"), min(col("pair_b")).as("pair_b"),
          min(col("eoa")).as("eoa"),
          sum(when(col("e_pnl_mk") > 0, 1L).otherwise(0L)).as("n_ex_maker_pos"),
          sum(when(col("e_pnl_tk") > 0, 1L).otherwise(0L)).as("n_ex_taker_pos"),
          max(when(col("e_pnl_tk") > 0, col("e_pnl_tk"))).as("best_tk_pnl"),
          max(when(col("e_pnl_tk") > 0, col("exchange"))).as("best_tk_ex"))
      val arm = cexDexValidityArms(legs
        .join(hist, col("eoa") === col("h_eoa"), "left")
        .join(broadcast(searchers), col("eoa") === col("s_eoa"), "left"))
      arm.groupBy("pair_a")
        .agg(count(lit(1)).as("n_legs"),
          dsumR(col("pnl_maker")).as("sum_pnl_maker"),
          dsumR(col("pnl_taker")).as("sum_pnl_taker"),
          sum(when(col("pnl_maker") > 0, 1L).otherwise(0L)).as("n_maker_pos"),
          sum(when(col("passes_sanity"), 1L).otherwise(0L)).as("n_sane"),
          sum(when(col("n_ex_maker_pos") >= 2 || col("n_ex_taker_pos") >= 2, 1L)
            .otherwise(0L)).as("n_multi_ex"),
          sum(when(col("arm_one_ex"), 1L).otherwise(0L)).as("n_one_ex"),
          sum(when(col("arm_outlier"), 1L).otherwise(0L)).as("n_outlier"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"))
        .orderBy("pair_a")
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      hist AS (SELECT from_address AS h_eoa, COUNT(*) AS n_hist
               FROM dex GROUP BY 1),
      searchers_g AS $searchersCteBody,
      exleg AS (
        SELECT block_number, tx_hash, trace_idx, exchange,
          ${sqlSum("px * amt")} AS pv, ${sqlSum("amt")} AS v,
          ${sqlSum("px * (1.0e0 - (CAST(substring(exchange, 3) AS BIGINT) + 1) * 1.0e-4) * amt")} AS pv_mk,
          ${sqlSum("px * (1.0e0 + (CAST(substring(exchange, 3) AS BIGINT) + 1) * 1.0e-4) * amt")} AS pv_tk,
          MIN(rate) AS rate, MIN(amount_in) AS amount_in,
          MIN(pair_a) AS pair_a, MIN(pair_b) AS pair_b,
          MIN(from_address) AS eoa
        FROM pp GROUP BY 1, 2, 3, 4),
      expnl AS (
        SELECT *,
          (pv_mk / v - rate) * amount_in * ${tokenPriceSql("pair_a")} AS e_pnl_mk,
          (pv_tk / v - rate) * amount_in * ${tokenPriceSql("pair_a")} AS e_pnl_tk
        FROM exleg),
      leg_g AS (
        SELECT block_number, tx_hash, trace_idx,
          ${sqlSum("pv")} AS pv, ${sqlSum("v")} AS v,
          ${sqlSum("pv_mk")} AS pv_mk, ${sqlSum("pv_tk")} AS pv_tk,
          MIN(rate) AS rate, MIN(amount_in) AS amount_in,
          MIN(pair_a) AS pair_a, MIN(pair_b) AS pair_b, MIN(eoa) AS eoa,
          SUM(CASE WHEN e_pnl_mk > 0 THEN 1 ELSE 0 END) AS n_ex_maker_pos,
          SUM(CASE WHEN e_pnl_tk > 0 THEN 1 ELSE 0 END) AS n_ex_taker_pos,
          MAX(CASE WHEN e_pnl_tk > 0 THEN e_pnl_tk END) AS best_tk_pnl,
          MAX(CASE WHEN e_pnl_tk > 0 THEN exchange END) AS best_tk_ex
        FROM expnl GROUP BY 1, 2, 3),
      arm AS (
        SELECT pair_a, pair_b, n_ex_maker_pos, n_ex_taker_pos,
          best_tk_pnl, best_tk_ex,
          (pv_mk / v - rate) * amount_in * ${tokenPriceSql("pair_a")} AS pnl_maker,
          (pv_tk / v - rate) * amount_in * ${tokenPriceSql("pair_a")} AS pnl_taker,
          (pv_mk / v) * amount_in AS cex_out, rate * amount_in AS dex_out,
          h.n_hist, s.s_eoa,
          (pair_a < 5 AND pair_b < 5) AS is_stable
        FROM leg_g
        LEFT JOIN hist h ON leg_g.eoa = h.h_eoa
        LEFT JOIN searchers_g s ON leg_g.eoa = s.s_eoa),
      armx AS (
        SELECT *,
          CASE WHEN s_eoa IS NOT NULL AND pnl_maker < 5.0 THEN 10.0e0
               WHEN s_eoa IS NOT NULL AND pnl_maker < 40.0 THEN 8.0e0
               WHEN s_eoa IS NOT NULL AND pnl_maker < 100.0 THEN 5.0e0
               ELSE 3.0e0 END AS max_diff,
          (pnl_maker > 0 OR pnl_taker > 0
            OR n_ex_maker_pos >= 2 OR n_ex_taker_pos >= 2) AS arm_pnl,
          (COALESCE(n_hist, 0) > 40 OR s_eoa IS NOT NULL) AS arm_hist,
          ((n_ex_maker_pos = 1 OR n_ex_taker_pos = 1) AND NOT is_stable) AS arm_one_ex,
          (n_ex_taker_pos = 1 AND best_tk_pnl > $HighProfitUsd
            AND best_tk_ex IN (${OutlierExchanges.map(e => s"'$e'").mkString(", ")})
            AND NOT is_stable) AS arm_outlier
        FROM arm)
      SELECT pair_a, COUNT(*) AS n_legs,
        ${sqlSumR("pnl_maker")} AS sum_pnl_maker,
        ${sqlSumR("pnl_taker")} AS sum_pnl_taker,
        CAST(SUM(CASE WHEN pnl_maker > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_maker_pos,
        CAST(SUM(CASE WHEN LEAST(cex_out, dex_out) * max_diff >= GREATEST(cex_out, dex_out)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_sane,
        CAST(SUM(CASE WHEN n_ex_maker_pos >= 2 OR n_ex_taker_pos >= 2
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_ex,
        CAST(SUM(CASE WHEN arm_one_ex THEN 1 ELSE 0 END) AS BIGINT) AS n_one_ex,
        CAST(SUM(CASE WHEN arm_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier,
        CAST(SUM(CASE WHEN arm_pnl OR arm_hist OR arm_one_ex OR arm_outlier
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      FROM armx GROUP BY 1 ORDER BY 1"""))

  /** J5/T5: optimistic execution price — progressive fill: trades in the
    * widest window sorted by best price first (with a total tiebreak), take
    * until the swap's input volume is covered, VWAP the taken set
    * (optimistic.rs's basket fill). */
  private val j5Optimistic = QueryDef(
    "j5_optimistic",
    (s, dir) => {
      val w = Window.partitionBy("block_number", "tx_hash", "trace_idx")
        .orderBy(col("px").desc, col("t_ts").asc, col("exchange").asc, col("amt").asc)
      phasePairs(s, dir)
        .withColumn("cum_before",
          coalesce(sum(col("amt")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            lit(0.0)))
        .filter(col("cum_before") < col("amount_in"))
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(dsum(col("px") * col("amt")).as("pv"), dsum(col("amt")).as("v"),
          count(lit(1)).as("n_fills"))
        .withColumn("opt_px", col("pv") / col("v"))
        .groupBy()
        .agg(count(lit(1)).as("n_swaps"), dsum(col("opt_px")).as("sum_opt_px"),
          sum(col("n_fills")).as("n_fills"))
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      filled AS (
        SELECT *, COALESCE(SUM(amt) OVER (
          PARTITION BY block_number, tx_hash, trace_idx
          ORDER BY px DESC, t_ts ASC, exchange ASC, amt ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cum_before
        FROM pp),
      opt AS (
        SELECT block_number, tx_hash, trace_idx,
          ${sqlSum("px * amt")} / ${sqlSum("amt")} AS opt_px,
          COUNT(*) AS n_fills
        FROM filled WHERE cum_before < amount_in
        GROUP BY 1, 2, 3)
      SELECT COUNT(*) AS n_swaps, ${sqlSum("opt_px")} AS sum_opt_px,
        CAST(SUM(n_fills) AS BIGINT) AS n_fills FROM opt"""))

  /** Time-basket size for the true optimistic fill (reference
    * TIME_BASKET_SIZE = 100ms at ms granularity; scaled to the fixture's
    * block clock so the ±30s window yields ~6 baskets per side). */
  val BasketUs = 5000000L

  /** Reference BASE_EXECUTION_QUALITY (optimistic.rs:36): within a basket,
    * the lowest-priced (cnt-1)*80/100 trades are assumed unobtainable. */
  val QualityPct = 80L

  /** J5 (full semantics): time-basket optimistic fill — the reference's
    * TimeBasketQueue allocation (optimistic.rs:250-340, utils.rs:132-176,
    * 285-400) expressed as pure window recurrences, no driver loop:
    *   1. trades bucket into fixed baskets ordered post-block-nearest-first
    *      then pre-block-nearest-first (construct_forward/backward_baskets);
    *   2. each swap's volume allocates to baskets ∝ basket volume, with
    *      unfilled remainder carried to the next basket — the carry
    *      recurrence u_b = max(0, u_{b-1} + alloc_b − avail_b) closes to
    *      u_b = max(0, S_b − min(0, min_{k<b} S_k)) over the running sum
    *      S_b of (alloc − avail), i.e. one cumsum + one cummin window;
    *   3. within a basket, trades sort by price ascending, the bottom
    *      quality quantile is skipped (TradeBasket::new), and the fill
    *      walks the kept set clipping the final trade to the remaining
    *      volume (get_trades_used);
    *   4. taken slices VWAP with per-exchange maker/taker fees
    *      (optimistic.rs:287-307 vxp_maker/vxp_taker).
    * All comparisons run on doubles both engines compute bit-identically
    * (integer-valued volumes, snap()ped allocation ratios, deterministic
    * window order), so the fill set is engine-portable. */
  /** The basket-fill core over a phasePairs-shaped frame (columns:
    * block_number, tx_hash, trace_idx, ts_us, t_ts, exchange, px, amt,
    * amount_in, pair_a) → one row per taken trade slice with its `taken`
    * volume. Unit-tested on planted trades in GoldenScenarioSpec. */
  private[graft] def basketFills(pairs: DataFrame): DataFrame = {
    val keyN = Seq("block_number", "tx_hash", "trace_idx")
    val key = keyN.map(col)
    val wB = Window.partitionBy((key :+ col("bord")): _*)
    val wBq = wB.orderBy(col("px").asc, col("t_ts").asc,
      col("exchange").asc, col("amt").asc)
    val wS = Window.partitionBy(key: _*).orderBy("bord")
    val tk = pairs
      .withColumn("delta", col("t_ts") - col("ts_us"))
      .withColumn("bord",
        when(col("delta") >= 0, expr(s"delta div $BasketUs"))
          .otherwise(lit(1000L) + expr(s"(-delta - 1) div $BasketUs")))
      .withColumn("rn", row_number().over(wBq))
      .withColumn("cnt", count(lit(1)).over(wB))
      .withColumn("kept", col("rn") > expr(s"((cnt - 1) * $QualityPct) div 100"))
    // basket ledger: full volume drives allocation, kept volume caps fill
    val baskets = tk.groupBy((key :+ col("bord")): _*)
      .agg(sum(col("amt")).as("vol_b"),
        sum(when(col("kept"), col("amt")).otherwise(lit(0.0))).as("avail_b"),
        min(col("amount_in")).as("amount_in"))
      .withColumn("total", sum(col("vol_b")).over(Window.partitionBy(key: _*)))
      .withColumn("alloc", snap(col("vol_b") / col("total") * col("amount_in")))
      .withColumn("s_cum", sum(col("alloc") - col("avail_b"))
        .over(wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("u", greatest(lit(0.0), col("s_cum") - least(lit(0.0),
        coalesce(min(col("s_cum"))
          .over(wS.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))))
      .withColumn("to_fill",
        col("alloc") + coalesce(lag(col("u"), 1).over(wS), lit(0.0)))
      .select((key :+ col("bord") :+ col("to_fill")): _*)
    tk.filter(col("kept"))
      .join(baskets, keyN :+ "bord")
      .withColumn("cum_before", coalesce(sum(col("amt"))
        .over(wBq.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .filter(col("cum_before") < col("to_fill"))
      .withColumn("taken", least(col("amt"), col("to_fill") - col("cum_before")))
  }

  private val j5BasketFill = QueryDef(
    "j5_basket_fill",
    (s, dir) => {
      val fee = (expr("CAST(substring(exchange, 3) AS BIGINT)") + 1) * FeeUnit
      val perSwap = basketFills(phasePairs(s, dir))
        .groupBy("block_number", "tx_hash", "trace_idx")
        .agg(dsumR(col("px") * (lit(1.0) - fee) * col("taken")).as("vxp_mk"),
          dsumR(col("px") * (lit(1.0) + fee) * col("taken")).as("vxp_tk"),
          dsumR(col("taken")).as("filled"),
          count(lit(1)).as("n_fills"),
          min(col("amount_in")).as("amount_in"), min(col("pair_a")).as("pair_a"))
      perSwap.groupBy("pair_a")
        .agg(count(lit(1)).as("n_swaps"),
          sum(when(col("filled") + lit(1e-3) >= col("amount_in"), 1L)
            .otherwise(0L)).as("n_filled"),
          dsumR(col("vxp_mk") / col("filled")).as("sum_opt_maker"),
          dsumR(col("vxp_tk") / col("filled")).as("sum_opt_taker"),
          sum(col("n_fills")).as("n_fills"))
        .orderBy("pair_a")
    },
    withCtes(s"""$cexTradesCte, $phasePairsCte,
      bkt AS (
        SELECT *,
          CASE WHEN t_ts - ts_us >= 0 THEN (t_ts - ts_us) // $BasketUs
               ELSE 1000 + (-(t_ts - ts_us) - 1) // $BasketUs END AS bord
        FROM pp),
      tq AS (
        SELECT *, ROW_NUMBER() OVER wq AS rn, COUNT(*) OVER wb AS cnt
        FROM bkt
        WINDOW wq AS (PARTITION BY block_number, tx_hash, trace_idx, bord
                      ORDER BY px ASC, t_ts ASC, exchange ASC, amt ASC),
               wb AS (PARTITION BY block_number, tx_hash, trace_idx, bord)),
      tk AS (SELECT *, rn > ((cnt - 1) * $QualityPct) // 100 AS kept FROM tq),
      bb AS (
        SELECT block_number, tx_hash, trace_idx, bord, SUM(amt) AS vol_b,
          SUM(CASE WHEN kept THEN amt ELSE 0.0e0 END) AS avail_b,
          MIN(amount_in) AS amount_in
        FROM tk GROUP BY 1, 2, 3, 4),
      bf AS (
        SELECT *, ${sqlSnap("vol_b / (SUM(vol_b) OVER wt) * amount_in")} AS alloc
        FROM bb WINDOW wt AS (PARTITION BY block_number, tx_hash, trace_idx)),
      bs AS (
        SELECT *, SUM(alloc - avail_b) OVER ws AS s_cum
        FROM bf WINDOW ws AS (PARTITION BY block_number, tx_hash, trace_idx
          ORDER BY bord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      bu AS (
        SELECT *, GREATEST(0.0e0, s_cum - LEAST(0.0e0,
            COALESCE(MIN(s_cum) OVER wp, 0.0e0))) AS u
        FROM bs WINDOW wp AS (PARTITION BY block_number, tx_hash, trace_idx
          ORDER BY bord ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      bt AS (
        SELECT block_number, tx_hash, trace_idx, bord,
          alloc + COALESCE(LAG(u) OVER (PARTITION BY block_number, tx_hash,
            trace_idx ORDER BY bord), 0.0e0) AS to_fill
        FROM bu),
      fl AS (
        SELECT t.*, b.to_fill, COALESCE(SUM(t.amt) OVER (
            PARTITION BY t.block_number, t.tx_hash, t.trace_idx, t.bord
            ORDER BY t.rn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            0.0e0) AS cum_before
        FROM tk t JOIN bt b USING (block_number, tx_hash, trace_idx, bord)
        WHERE t.kept),
      tkn AS (
        SELECT *, LEAST(amt, to_fill - cum_before) AS taken,
          (CAST(substring(exchange, 3) AS BIGINT) + 1) * 1.0e-4 AS fee
        FROM fl WHERE cum_before < to_fill),
      ps AS (
        SELECT block_number, tx_hash, trace_idx,
          ${sqlSumR("px * (1.0e0 - fee) * taken")} AS vxp_mk,
          ${sqlSumR("px * (1.0e0 + fee) * taken")} AS vxp_tk,
          ${sqlSumR("taken")} AS filled, COUNT(*) AS n_fills,
          MIN(amount_in) AS amount_in, MIN(pair_a) AS pair_a
        FROM tkn GROUP BY 1, 2, 3)
      SELECT pair_a, COUNT(*) AS n_swaps,
        CAST(SUM(CASE WHEN filled + 1e-3 >= amount_in THEN 1 ELSE 0 END)
          AS BIGINT) AS n_filled,
        ${sqlSumR("vxp_mk / filled")} AS sum_opt_maker,
        ${sqlSumR("vxp_tk / filled")} AS sum_opt_taker,
        CAST(SUM(n_fills) AS BIGINT) AS n_fills
      FROM ps GROUP BY 1 ORDER BY 1"""))

  /** J3 intermediary: 2-hop CEX quote through a bridging token for pairs
    * with no direct feed — global per-pair VWAPs joined a→b × b→c with
    * price multiply (cex_quotes.rs:351-408). */
  private val j3Intermediary = QueryDef(
    "j3_intermediary",
    (s, dir) => {
      val vwap = Pins.persist(cexTrades(s, dir)
        .groupBy("pair_a", "pair_b")
        .agg((dsum(col("px") * col("amt")) / dsum(col("amt"))).as("vwap")))
      val hop2 = vwap.select(col("pair_a").as("a"), col("pair_b").as("b"), col("vwap").as("px1"))
        .join(vwap.select(col("pair_a").as("b2"), col("pair_b").as("c"), col("vwap").as("px2")),
          col("b") === col("b2"))
        .filter(col("a") < col("c"))
        .join(vwap.select(col("pair_a").as("da"), col("pair_b").as("dc")),
          col("a") === col("da") && col("c") === col("dc"), "left_anti")
      hop2.groupBy("a", "c")
        .agg(max(col("px1") * col("px2")).as("implied_px"), count(lit(1)).as("n_routes"))
        .filter(col("a") < 5)
        .orderBy("a", "c")
    },
    withCtes(s"""$cexTradesCte,
      vw AS (SELECT pair_a, pair_b,
               ${sqlSum("px * amt")} / ${sqlSum("amt")} AS vwap
             FROM cex GROUP BY 1, 2),
      hop2 AS (
        SELECT x.pair_a AS a, y.pair_b AS c,
          MAX(x.vwap * y.vwap) AS implied_px, COUNT(*) AS n_routes
        FROM vw x JOIN vw y ON x.pair_b = y.pair_a
        WHERE x.pair_a < y.pair_b
          AND NOT EXISTS (SELECT 1 FROM vw d
                          WHERE d.pair_a = x.pair_a AND d.pair_b = y.pair_b)
        GROUP BY 1, 2)
      SELECT a, c, implied_px, n_routes FROM hop2 WHERE a < 5 ORDER BY 1, 2"""))

  /** Q4's FILTER_THRESHOLD (quotes/cex_dex.rs:72): half the trades
    * inspector's history gate. */
  val QuotesFilterThreshold = 20

  /** Q4: cex-dex against book QUOTES — nearest-before mid-price per pair
    * via the one-shuffle as-of join, markout vs dex rate. Bid and ask get
    * INDEPENDENT hash-derived bps offsets (cex_quotes.rs's real books are
    * asymmetric), so the mid genuinely differs from the trade price and the
    * quote path exercises non-cancelling spread math. Validity is the
    * quotes inspector's own filter_possible_cex_dex (quotes/cex_dex.rs:
    * 449-512): pnl > 1.5 outright, OR a known bot (history above
    * FILTER_THRESHOLD ∨ labeled) that is at least breakeven (pnl > 0). */
  private val q4CexDexQuotes = QueryDef(
    "q4_cexdex_quotes",
    (s, dir) => {
      val bidBps = expr("CAST(FLOOR(px * 10000.0) AS BIGINT)") % 20 + 1
      val askBps = expr("CAST(FLOOR(px * 70000.0) AS BIGINT)") % 25 + 2
      val bid = col("px") * (lit(1.0) - bidBps * 1e-4)
      val ask = col("px") * (lit(1.0) + askBps * 1e-4)
      val quotes = cexTrades(s, dir)
        .select(col("pair_a"), col("pair_b"), col("ts_us"),
          ((bid + ask) / 2).as("mid"), ask.as("ask"))
        .groupBy("pair_a", "pair_b", "ts_us")
        .agg(max(col("mid")).as("mid"), max(col("ask")).as("ask"))
        .withColumn("pair_key", concat(col("pair_a"), lit(":"), col("pair_b")))
        // both book arms ride the as-of in ONE struct value: the reference
        // prices quotes PnL at mid AND at ask (cex_dex.rs per_arm outputs)
        .select(col("pair_key"), col("ts_us"),
          struct(col("mid"), col("ask")).as("q"))
      val searchers = ChainFixture.searchers(s)
      val hist = dexSwaps(s, dir).groupBy(col("from_address").as("h_eoa"))
        .agg(count(lit(1)).as("n_hist"))
      val sw = dexSwaps(s, dir)
        .withColumn("pair_key", concat(col("pair_a"), lit(":"), col("pair_b")))
      // ~60 pair keys can't parallelize a bare-key window at scale — salt
      // by 10-minute time buckets with carry-over
      graft.ops.AsOfJoin.backwardSalted(sw, quotes, Seq("pair_key"), "ts_us",
        "q", "qv", bucketSpan = 600000000L)
        .withColumn("q_mid", col("qv.mid"))
        .withColumn("q_ask", col("qv.ask"))
        .join(hist, col("from_address") === col("h_eoa"), "left")
        .join(broadcast(searchers), col("from_address") === col("s_eoa"), "left")
        .withColumn("pnl",
          (col("q_mid") - col("rate")) * col("amount_in") * tokenPrice(col("pair_a")))
        .withColumn("is_valid", col("pnl") > 1.5 ||
          ((col("n_hist") > QuotesFilterThreshold || col("s_eoa").isNotNull) &&
            col("pnl") > 0))
        .groupBy("pair_a")
        .agg(count(lit(1)).as("n_swaps"),
          sum(when(col("q_mid").isNotNull, 1L).otherwise(0L)).as("n_quoted"),
          dsumR((col("q_mid") - col("rate")) * col("amount_in")).as("sum_markout"),
          dsumR((col("q_ask") - col("rate")) * col("amount_in")).as("sum_markout_ask"),
          sum(when(col("pnl") > 1.5, 1L).otherwise(0L)).as("n_pnl_gate"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid"))
        .orderBy("pair_a")
    },
    withCtes(s"""$cexTradesCte,
      q AS (SELECT pair_a, pair_b, ts_us,
              MAX((px * (1.0e0 - (CAST(FLOOR(px * 10000.0e0) AS BIGINT) % 20 + 1) * 1.0e-4)
                 + px * (1.0e0 + (CAST(FLOOR(px * 70000.0e0) AS BIGINT) % 25 + 2) * 1.0e-4)) / 2) AS mid,
              MAX(px * (1.0e0 + (CAST(FLOOR(px * 70000.0e0) AS BIGINT) % 25 + 2) * 1.0e-4)) AS ask
            FROM cex GROUP BY 1, 2, 3),
      hist_q AS (SELECT from_address AS h_eoa, COUNT(*) AS n_hist
                 FROM dex GROUP BY 1),
      searchers_q AS $searchersCteBody,
      mq AS (
        SELECT d.pair_a, d.rate, d.amount_in, q.mid, q.ask,
          (q.mid - d.rate) * d.amount_in * ${tokenPriceSql("d.pair_a")} AS pnl,
          h.n_hist, s.s_eoa
        FROM dex d ASOF LEFT JOIN q
          ON d.pair_a = q.pair_a AND d.pair_b = q.pair_b AND d.ts_us >= q.ts_us
        LEFT JOIN hist_q h ON d.from_address = h.h_eoa
        LEFT JOIN searchers_q s ON d.from_address = s.s_eoa)
      SELECT pair_a, COUNT(*) AS n_swaps,
        CAST(SUM(CASE WHEN mid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quoted,
        ${sqlSumR("(mid - rate) * amount_in")} AS sum_markout,
        ${sqlSumR("(ask - rate) * amount_in")} AS sum_markout_ask,
        CAST(SUM(CASE WHEN pnl > 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_pnl_gate,
        CAST(SUM(CASE WHEN pnl > 1.5 OR ((n_hist > $QuotesFilterThreshold
                   OR s_eoa IS NOT NULL) AND pnl > 0)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
      FROM mq GROUP BY 1 ORDER BY 1"""))

  /** Q4 (multi-window arm): the t2/t12/t60 FORWARD quote mids that ride
    * every valid quotes bundle (quotes/cex_dex.rs:469-508 — into_bundle
    * carries the markout trajectory at +2s/+12s/.../+300s with per-window
    * tolerances). Forward as-of = the salted backward kernel on NEGATED
    * time (largest −t ≤ −target ⇔ smallest t ≥ target, ties inclusive both
    * engines). Windows fixture-scaled: +2s (no tolerance), +12s (±5s),
    * +60s (±30s) — the reference's 2/12/60s with 0.5/4s tolerances on the
    * block clock. */
  private val q4QuoteWindows = QueryDef(
    "q4_quote_windows",
    (s, dir) => {
      val bidBps = expr("CAST(FLOOR(px * 10000.0) AS BIGINT)") % 20 + 1
      val askBps = expr("CAST(FLOOR(px * 70000.0) AS BIGINT)") % 25 + 2
      val mid = (col("px") * (lit(1.0) - bidBps * 1e-4) +
        col("px") * (lit(1.0) + askBps * 1e-4)) / 2
      val quotes = cexTrades(s, dir)
        .select(col("pair_a"), col("pair_b"), col("ts_us"), mid.as("mid"))
        .groupBy("pair_a", "pair_b", "ts_us")
        .agg(max(col("mid")).as("mid"))
        .withColumn("pair_key", concat(col("pair_a"), lit(":"), col("pair_b")))
        .select(col("pair_key"), col("ts_us"), col("mid"))
      val windows = Seq(("t2", 2000000L, None),
        ("t12", 12000000L, Some(5000000L)),
        ("t60", 60000000L, Some(30000000L)))
      // all three forward windows ride ONE as-of join: each swap explodes
      // into a (tag, target-time) row and the shared quote stream is joined
      // once — 3·L+R rows through one window pipeline instead of three
      // sequential 3-stage salted joins each dragging the full swap schema
      val sw0 = dexSwaps(s, dir)
        .withColumn("pair_key", concat(col("pair_a"), lit(":"), col("pair_b")))
        .select("pair_key", "pair_a", "ts_us", "rate", "amount_in")
      val tagged = sw0
        .select(col("*"), explode(array(windows.map { case (tag, w, _) =>
          struct(lit(tag).as("tag"), lit(w).as("w"))
        }: _*)).as("tw"))
        .withColumn("tag", col("tw.tag"))
        .withColumn("__fts", -(col("ts_us") + col("tw.w")))
        .drop("tw")
      val r = quotes.select(col("pair_key"), (-col("ts_us")).as("__fts"),
        struct(col("mid"), col("ts_us").as("qts")).as("qv"))
      val joined = graft.ops.AsOfJoin.backwardSalted(tagged, r,
        Seq("pair_key"), "__fts", "qv", "qv", bucketSpan = 600000000L)
      def inTol(tag: String, w: Long, tol: Option[Long]) = {
        val isTag = col("tag") === tag && col("qv").isNotNull
        tol match {
          case Some(t) => isTag && col("qv.qts") <= col("ts_us") + w + t
          case None => isTag
        }
      }
      val aggs = windows.flatMap { case (tag, w, tol) =>
        val ok = inTol(tag, w, tol)
        Seq(
          sum(when(ok, 1L).otherwise(0L)).as(s"n_$tag"),
          dsumR(when(ok, (col("qv.mid") - col("rate")) * col("amount_in")))
            .as(s"mk_$tag"))
      }
      joined.groupBy("pair_a")
        .agg(sum(when(col("tag") === "t2", 1L).otherwise(0L)).as("n_swaps"),
          aggs: _*)
        .orderBy("pair_a")
    },
    withCtes(s"""$cexTradesCte,
      qw AS (SELECT pair_a, pair_b, ts_us,
              MAX((px * (1.0e0 - (CAST(FLOOR(px * 10000.0e0) AS BIGINT) % 20 + 1) * 1.0e-4)
                 + px * (1.0e0 + (CAST(FLOOR(px * 70000.0e0) AS BIGINT) % 25 + 2) * 1.0e-4)) / 2) AS mid
            FROM cex GROUP BY 1, 2, 3),
      dexw AS (SELECT *, ts_us + 2000000 AS tgt2, ts_us + 12000000 AS tgt12,
                 ts_us + 60000000 AS tgt60
               FROM dex),
      mw AS (
        SELECT d.pair_a, d.rate, d.amount_in, d.ts_us,
          q2.mid AS mid2, q2.ts_us AS qts2,
          q12.mid AS mid12, q12.ts_us AS qts12,
          q60.mid AS mid60, q60.ts_us AS qts60
        FROM dexw d
        ASOF LEFT JOIN qw q2 ON d.pair_a = q2.pair_a AND d.pair_b = q2.pair_b
          AND d.tgt2 <= q2.ts_us
        ASOF LEFT JOIN qw q12 ON d.pair_a = q12.pair_a AND d.pair_b = q12.pair_b
          AND d.tgt12 <= q12.ts_us
        ASOF LEFT JOIN qw q60 ON d.pair_a = q60.pair_a AND d.pair_b = q60.pair_b
          AND d.tgt60 <= q60.ts_us)
      SELECT pair_a, COUNT(*) AS n_swaps,
        CAST(SUM(CASE WHEN mid2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_t2,
        ${sqlSumR("CASE WHEN mid2 IS NOT NULL THEN (mid2 - rate) * amount_in END")} AS mk_t2,
        CAST(SUM(CASE WHEN qts12 <= ts_us + 12000000 + 5000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_t12,
        ${sqlSumR("CASE WHEN qts12 <= ts_us + 12000000 + 5000000 THEN (mid12 - rate) * amount_in END")} AS mk_t12,
        CAST(SUM(CASE WHEN qts60 <= ts_us + 60000000 + 30000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_t60,
        ${sqlSumR("CASE WHEN qts60 <= ts_us + 60000000 + 30000000 THEN (mid60 - rate) * amount_in END")} AS mk_t60
      FROM mw GROUP BY 1 ORDER BY 1"""))

  /** A8: most-liquid-exchange quote — rank exchanges by traded volume per
    * pair, keep the top exchange's VWAP. */
  private val a8MostLiquid = QueryDef(
    "a8_most_liquid",
    (s, dir) => {
      val vol = cexTrades(s, dir)
        .groupBy("pair_a", "pair_b", "exchange")
        .agg(dsum(col("amt")).as("vol"),
          (dsum(col("px") * col("amt")) / dsum(col("amt"))).as("vwap"))
      val w = Window.partitionBy("pair_a", "pair_b")
        .orderBy(col("vol").desc, col("exchange").asc)
      vol.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("pair_a", "pair_b", "exchange", "vol", "vwap")
        .orderBy("pair_a", "pair_b")
    },
    withCtes(s"""$cexTradesCte,
      vol AS (SELECT pair_a, pair_b, exchange, ${sqlSum("amt")} AS vol,
                ${sqlSum("px * amt")} / ${sqlSum("amt")} AS vwap
              FROM cex GROUP BY 1, 2, 3),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pair_a, pair_b
               ORDER BY vol DESC, exchange ASC) AS rn FROM vol)
      SELECT pair_a, pair_b, exchange, vol, vwap FROM rk
      WHERE rn = 1 ORDER BY 1, 2"""))

  /** A9: searcher-stats incremental update — per-batch partial aggregates
    * (decimal-exact, so they re-merge bit-identically) unioned and
    * re-aggregated; equals a direct one-pass rollup. */
  private val a9SearcherStats = QueryDef(
    "a9_searcher_stats",
    (s, dir) => {
      val h = bundleHeaders(s, dir)
        .withColumn("batch", when(col("block_number") < 500, 0).otherwise(1))
      h.groupBy("eoa", "batch")
        .agg(count(lit(1)).as("n"), dsum(col("profit_usd")).as("p"))
        .groupBy("eoa")
        .agg(sum(col("n")).as("n_txs"), dsum(col("p")).as("sum_profit"),
          count(lit(1)).as("n_batches"))
        .orderBy("eoa")
    },
    withCtes(s"""batches AS (
        SELECT eoa, CASE WHEN block_number < 500 THEN 0 ELSE 1 END AS batch,
          COUNT(*) AS n, ${sqlSum("profit_usd")} AS p
        FROM header GROUP BY 1, 2)
      SELECT eoa, CAST(SUM(n) AS BIGINT) AS n_txs, ${sqlSum("p")} AS sum_profit,
        COUNT(*) AS n_batches
      FROM batches GROUP BY 1 ORDER BY 1"""))

  /** J1: get_tx_info_batch — tx headers enriched by three broadcast dims
    * (searcher EOAs, builders, address metadata), rolled up per fund. */
  private val j1TxInfo = QueryDef(
    "j1_tx_info",
    (s, dir) => {
      val searchers = ChainFixture.searchers(s).withColumn("is_searcher", lit(true))
      val meta = ChainFixture.fundMeta(s)
      val b = blocks(s, dir).select(col("block_number").as("b_block"), col("beneficiary"))
      bundleHeaders(s, dir)
        .join(broadcast(searchers), col("eoa") === col("s_eoa"), "left")
        .join(broadcast(meta), col("eoa") === col("m_eoa"), "left")
        .join(broadcast(b), col("block_number") === col("b_block"))
        .groupBy("fund")
        .agg(count(lit(1)).as("n_txs"),
          sum(when(col("is_searcher"), 1L).otherwise(0L)).as("n_searcher_txs"),
          countDistinct(col("beneficiary")).as("n_builders"))
        .orderBy("fund")
    },
    withCtes(s"""searchers AS $searchersCteBody,
      meta AS $fundMetaCteBody
      SELECT m.fund, COUNT(*) AS n_txs,
        CAST(SUM(CASE WHEN s.s_eoa IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_searcher_txs,
        CAST(COUNT(DISTINCT b.beneficiary) AS BIGINT) AS n_builders
      FROM header h
      LEFT JOIN searchers s ON h.eoa = s.s_eoa
      LEFT JOIN meta m ON h.eoa = m.m_eoa
      JOIN blocks b ON h.block_number = b.block_number
      GROUP BY 1 ORDER BY 1"""))

  /** J12: per-block metadata broadcast join — traces × blocks dim, rolled
    * up by base-fee decile. */
  private val j12MetadataJoin = QueryDef(
    "j12_metadata_join",
    (s, dir) => {
      val b = blocks(s, dir).select(col("block_number").as("b_block"),
        col("base_fee"), col("block_time_us"))
      tracesTable(s, dir)
        .join(broadcast(b), col("block_number") === col("b_block"))
        .groupBy(expr("base_fee div 10").as("fee_decile"))
        .agg(count(lit(1)).as("n_traces"),
          countDistinct(col("block_number")).as("n_blocks"),
          sum(col("gas_used")).as("sum_gas"))
        .orderBy("fee_decile")
    },
    withCtes("""meta_j AS (
        SELECT t.*, b.base_fee FROM trace t
        JOIN blocks b ON t.block_number = b.block_number)
      SELECT base_fee // 10 AS fee_decile, COUNT(*) AS n_traces,
        CAST(COUNT(DISTINCT block_number) AS BIGINT) AS n_blocks,
        CAST(SUM(gas_used) AS BIGINT) AS sum_gas
      FROM meta_j GROUP BY 1 ORDER BY 1"""))

  /** R1: range-executor chunking — block range split into fixed chunks,
    * per-chunk workload stats (the unit the range executor schedules). */
  private val r1RangeChunks = QueryDef(
    "r1_range_chunks",
    (s, dir) => bundleHeaders(s, dir)
      .groupBy(expr("block_number div 250").as("chunk"))
      .agg(countDistinct(col("block_number")).as("n_blocks"),
        count(lit(1)).as("n_txs"), dsum(col("gas_usd")).as("sum_gas"))
      .orderBy("chunk"),
    withCtes(s"""chunks AS (
        SELECT block_number // 250 AS chunk, block_number, gas_usd FROM header)
      SELECT chunk, CAST(COUNT(DISTINCT block_number) AS BIGINT) AS n_blocks,
        COUNT(*) AS n_txs, ${sqlSum("gas_usd")} AS sum_gas
      FROM chunks GROUP BY 1 ORDER BY 1"""))

  /** R6: late/failed-data handling — blocks whose unclassified-trace ratio
    * exceeds 50% get the no_pricing flag (DisablePricingFor); quarantined
    * counts reported. */
  private val r6FailedData = QueryDef(
    "r6_failed_data",
    (s, dir) => actionsTable(s, dir)
      .groupBy("block_number")
      .agg(count(lit(1)).as("n"),
        sum(when(col("action_type") === "unclassified", 1L).otherwise(0L)).as("n_uncls"))
      .withColumn("no_pricing", col("n_uncls") * 2 > col("n"))
      .groupBy("no_pricing")
      .agg(count(lit(1)).as("n_blocks"), sum(col("n")).as("n_actions"))
      .orderBy("no_pricing"),
    withCtes("""blkq AS (
        SELECT block_number, COUNT(*) AS n,
          SUM(CASE WHEN action_type = 'unclassified' THEN 1 ELSE 0 END) AS n_uncls
        FROM actions GROUP BY 1)
      SELECT (n_uncls * 2 > n) AS no_pricing, COUNT(*) AS n_blocks,
        CAST(SUM(n) AS BIGINT) AS n_actions
      FROM blkq GROUP BY 1 ORDER BY 1"""))
}
