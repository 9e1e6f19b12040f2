package graft.domain

import graft.{Pins, QueryDef, QueryModule}
import graft.ops.ExactAgg._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classification layer (SURVEY §2.3, C1–C9): the decode/normalize stage
  * that turns raw call traces into the canonical `actions` table every
  * inspector consumes.
  *
  * Reference shape being matched (all under /root/reference/crates/):
  *   C1 `action_impl!` decoders        brontes-macros/src/lib.rs:95
  *   C2 `action_dispatch!` router      brontes-macros/src/lib.rs:137
  *   C3 `discovery_impl!` discovery    brontes-classifier/src/classifiers/curve/discovery.rs
  *   C4 ERC-20 fallback decode         brontes-classifier/src/classifiers/erc20.rs
  *   C5 multi-frame classification     brontes-classifier/src/multi_frame_classification/
  *   C6 tax-token fixup                brontes-classifier/src/tree_builder/tree_pruning.rs:13
  *   C7 duplicate-transfer prune       tree_pruning.rs:123
  *   C8 coinbase-transfer extraction   tree_builder/utils.rs
  *   C9 missing-token backfill         brontes-core/src/missing_token_info.rs
  *
  * Spark shape: the trace fact joins ONLY broadcast dimensions (pools,
  * registry, tokens) and the decode itself is a codegen'd `when()` cascade —
  * at 100 TB the fact streams through map-side joins without a shuffle
  * until each query's final rollup.
  */
object ClassifyOps extends QueryModule {

  import ChainFixture._

  private def acts(s: SparkSession, dir: String): DataFrame = actionsTable(s, dir)

  private def withCtes(sql: String) = Some(s"WITH $sqlCtes $sql")

  def defs: Seq[QueryDef] = Seq(c1DecodeSwap, c2Dispatch, c3Discovery,
    c3FactoryDecode, c4TransferDecode, c5MultiframePair, c5BatchSolver,
    c5Aggregator, c5Liquidation, c6TaxFixup, c7DupTransferPrune, c8Coinbase,
    c9MissingToken)

  /** C5 (liquidations arm): Aave-style multi-frame stitching — the
    * reference marks a liquidation start node, harvests the frame's child
    * TRANSFERS (`TreeSearchBuilder::with_action(is_transfer)`,
    * multi_frame_classification/liquidations/aave.rs:13-38, harvest
    * mod.rs:34), and fills `liquidated_collateral` from the transfers
    * paid to the liquidator (`parse_v2_v3`, aave.rs:41-59) — OVERWRITING
    * the decoded value, because Aave may return aTokens instead of the
    * collateral asset (aave.rs:48-51). The closure inside `find_map`
    * always returns `None`, so it never short-circuits: EVERY
    * liquidator-bound transfer overwrites the field and the LAST one in
    * trace order wins (aave.rs:44-57).
    *
    * Fixture mapping (identical in both engines): a frame is a liquidation
    * span root (depth 1); the liquidator-bound legs are the direction-1
    * child transfers in trace order (the fixture's outbound direction —
    * its `to == liquidator` analog); the LAST leg's amount and token
    * replace the decoded collateral (last-write-wins, as above). When the
    * root's own decode carried NULL (unknown collateral token, the C9
    * path), the stitch is the ONLY source of the amount — the case this
    * arm exists for.
    *
    * Scale shape: one tx_hash+span equi-join between two pruned scans of
    * the same actions fact, then a frame-grain min_by — block-local, no
    * cross-tx state. */
  private[graft] def stitchedLiquidations(actionsDf: DataFrame): DataFrame = {
    val liq = actionsDf.filter(col("action_type") === "liquidation" &&
        size(col("trace_address")) === 1)
      .select(col("block_number"), col("tx_hash"), col("protocol"),
        element_at(col("trace_address"), 1).as("span"), col("trace_idx"),
        col("from_address").as("liquidator"),
        col("token_in_id").as("debt_tok"), col("token_out_id").as("coll_tok"),
        col("amount_in").as("covered_debt"),
        col("amount_out").as("decoded_collateral"))
    val tr = actionsDf.filter(col("action_type") === "transfer" &&
        size(col("trace_address")) > 1 && col("direction") === 1 &&
        col("amount_in").isNotNull)
      .select(col("tx_hash"), element_at(col("trace_address"), 1).as("span"),
        col("trace_idx").as("t_idx"), col("token_in_id").as("t_tok"),
        col("amount_in").as("t_amt"))
    liq.join(tr, Seq("tx_hash", "span"), "left")
      .groupBy("block_number", "tx_hash", "protocol", "span", "trace_idx",
        "liquidator", "debt_tok", "coll_tok", "covered_debt",
        "decoded_collateral")
      .agg(max_by(struct(col("t_amt"), col("t_tok")), col("t_idx")).as("h"))
      .withColumn("stitched", col("h.t_amt").isNotNull)
      .withColumn("liquidated_collateral",
        coalesce(col("h.t_amt"), col("decoded_collateral")))
      .withColumn("coll_tok_eff",
        coalesce(when(col("stitched"), col("h.t_tok")), col("coll_tok")))
      .drop("h")
  }

  /** Oracle CTE twin of [[stitchedLiquidations]] (emits `liq_st`). */
  private[domain] val stitchedLiqCte: String = s"""liq_f AS (
      SELECT block_number, tx_hash, protocol, trace_address[1] AS span,
        trace_idx, from_address AS liquidator,
        token_in_id AS debt_tok, token_out_id AS coll_tok,
        amount_in AS covered_debt, amount_out AS decoded_collateral
      FROM actions
      WHERE action_type = 'liquidation' AND len(trace_address) = 1),
    liq_tr AS (
      SELECT tx_hash, trace_address[1] AS span, trace_idx AS t_idx,
        token_in_id AS t_tok, amount_in AS t_amt
      FROM actions
      WHERE action_type = 'transfer' AND len(trace_address) > 1
        AND direction = 1 AND amount_in IS NOT NULL),
    liq_st AS (
      SELECT block_number, tx_hash, protocol, span, trace_idx, liquidator,
        debt_tok, coll_tok, covered_debt, decoded_collateral,
        h_amt IS NOT NULL AS stitched,
        COALESCE(h_amt, decoded_collateral) AS liquidated_collateral,
        COALESCE(CASE WHEN h_amt IS NOT NULL THEN h_tok END, coll_tok)
          AS coll_tok_eff
      FROM (
        SELECT f.block_number, f.tx_hash, f.protocol, f.span, f.trace_idx,
          f.liquidator, f.debt_tok, f.coll_tok, f.covered_debt,
          f.decoded_collateral,
          (ARG_MAX({'a': t.t_amt, 'b': t.t_tok}, t.t_idx)).a AS h_amt,
          (ARG_MAX({'a': t.t_amt, 'b': t.t_tok}, t.t_idx)).b AS h_tok
        FROM liq_f f LEFT JOIN liq_tr t
          ON t.tx_hash = f.tx_hash AND t.span = f.span
        GROUP BY ALL))"""

  private val c5Liquidation = QueryDef(
    "c5_liquidation",
    (s, dir) => stitchedLiquidations(acts(s, dir))
      .groupBy("protocol")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("stitched").cast("long")).as("n_stitched"),
        sum((col("stitched") && col("decoded_collateral").isNull)
          .cast("long")).as("n_healed_null"),
        dsum(col("liquidated_collateral")).as("sum_collateral"),
        dsum(col("covered_debt")).as("sum_debt"))
      .orderBy("protocol"),
    withCtes(s""", $stitchedLiqCte
      SELECT protocol, COUNT(*) AS n_frames,
        CAST(SUM(CASE WHEN stitched THEN 1 ELSE 0 END) AS BIGINT) AS n_stitched,
        CAST(SUM(CASE WHEN stitched AND decoded_collateral IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_healed_null,
        ${sqlSum("liquidated_collateral")} AS sum_collateral,
        ${sqlSum("covered_debt")} AS sum_debt
      FROM liq_st GROUP BY 1 ORDER BY 1"""))

  /** C3 (byte-level discovery decode): the `discovery_impl!` pattern —
    * factory `createPair(tokenA, tokenB)` calldata decoded from REAL
    * packed bytes through the same codegen'd word expressions the C1
    * family uses, then canonicalized by the reference's swap rule
    * (token_a > token_b → swap, classifiers/uniswap/discovery.rs:10-14)
    * into a NewPool row per deployment. Tokens ride the calldata in
    * DEPLOY order (odd pools deploy reversed), so the swap arm is
    * exercised on ~half the registry; the oracle recomputes the canonical
    * pair from the pool dimension's SOURCE integer columns —
    * decode-vs-ground-truth, the c1_ext_family pattern. One broadcast
    * dimension scan, decode inside whole-stage codegen. */
  private val c3FactoryDecode = QueryDef(
    "c3_factory_decode",
    (s, dir) => {
      import graft.functions.AbiCalldata.{abi_selector, abi_word, word}
      val dec = pools(s)
        .withColumn("token_a", when(pmod(col("pool_id"), lit(2)) === 0,
          col("t0_id")).otherwise(col("t1_id")))
        .withColumn("token_b", when(pmod(col("pool_id"), lit(2)) === 0,
          col("t1_id")).otherwise(col("t0_id")))
        .withColumn("fsel", substring(md5(concat(lit("fac:"), col("protocol"))), 1, 8))
        .withColumn("calldata",
          unhex(concat(col("fsel"), word(col("token_a")), word(col("token_b")))))
        .withColumn("dec_a", abi_word(col("calldata"), 0))
        .withColumn("dec_b", abi_word(col("calldata"), 1))
        .withColumn("sel_ok",
          (abi_selector(col("calldata")) === col("fsel")).cast("long"))
        .withColumn("tok0", least(col("dec_a"), col("dec_b")))
        .withColumn("tok1", greatest(col("dec_a"), col("dec_b")))
        .withColumn("deploy_swapped", (col("dec_a") > col("dec_b")).cast("long"))
      dec.groupBy("protocol")
        .agg(count(lit(1)).as("n_new_pools"),
          sum(col("sel_ok")).as("n_sel_ok"),
          sum(when(col("tok0") === least(col("t0_id"), col("t1_id")) &&
            col("tok1") === greatest(col("t0_id"), col("t1_id")), 1L)
            .otherwise(0L)).as("n_canonical_ok"),
          sum(col("deploy_swapped")).as("n_deploy_swapped"),
          sum(col("tok0") + col("tok1")).as("sum_token_ids"))
        .orderBy("protocol")
    },
    withCtes(s"""SELECT protocol, COUNT(*) AS n_new_pools,
        COUNT(*) AS n_sel_ok, COUNT(*) AS n_canonical_ok,
        CAST(SUM(CASE WHEN
            (CASE WHEN pool_id % 2 = 0 THEN t0_id ELSE t1_id END) >
            (CASE WHEN pool_id % 2 = 0 THEN t1_id ELSE t0_id END)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_deploy_swapped,
        CAST(SUM(t0_id + t1_id) AS BIGINT) AS sum_token_ids
      FROM pool GROUP BY 1 ORDER BY 1"""))

  /** C1: per-protocol decoded swap amounts — broadcast-join decode with
    * decimal scaling; NULL amounts mark the missing-token path. */
  private val c1DecodeSwap = QueryDef(
    "c1_decode_swap",
    (s, dir) => acts(s, dir)
      .filter(col("action_type") === "swap")
      .groupBy("protocol")
      .agg(count(lit(1)).as("n_swaps"),
        dsum(col("amount_in")).as("sum_in"),
        dsum(col("amount_out")).as("sum_out"),
        sum(when(col("amount_in").isNull || col("amount_out").isNull, 1L)
          .otherwise(0L)).as("n_undecoded"))
      .orderBy("protocol"),
    withCtes(s"""SELECT protocol, COUNT(*) AS n_swaps,
      ${sqlSum("amount_in")} AS sum_in, ${sqlSum("amount_out")} AS sum_out,
      CAST(SUM(CASE WHEN amount_in IS NULL OR amount_out IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_undecoded
      FROM actions WHERE action_type = 'swap' GROUP BY 1 ORDER BY 1"""))

  /** C2: dispatch router coverage — every trace lands in exactly one
    * action_type (incl. the unmatched → 'unclassified' path). */
  private val c2Dispatch = QueryDef(
    "c2_dispatch",
    (s, dir) => acts(s, dir)
      .groupBy("action_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("tx_hash")).as("n_txs"),
        countDistinct(col("protocol")).as("n_protocols"))
      .orderBy("action_type"),
    withCtes("""SELECT action_type, COUNT(*) AS n,
      CAST(COUNT(DISTINCT tx_hash) AS BIGINT) AS n_txs,
      CAST(COUNT(DISTINCT protocol) AS BIGINT) AS n_protocols
      FROM actions GROUP BY 1 ORDER BY 1"""))

  /** C3: factory discovery — first block each pool is observed in, rolled
    * up per protocol (the `NormalizedNewPool` upsert analog). */
  private val c3Discovery = QueryDef(
    "c3_discovery",
    (s, dir) => acts(s, dir)
      .filter(col("pool").isNotNull)
      .groupBy("pool", "protocol")
      .agg(min(col("block_number")).as("first_block"))
      .groupBy("protocol")
      .agg(count(lit(1)).as("n_pools"),
        min(col("first_block")).as("earliest"),
        max(col("first_block")).as("latest"),
        sum(col("first_block")).as("sum_first_blocks"))
      .orderBy("protocol"),
    withCtes("""SELECT protocol, COUNT(*) AS n_pools,
      MIN(first_block) AS earliest, MAX(first_block) AS latest,
      CAST(SUM(first_block) AS BIGINT) AS sum_first_blocks
      FROM (SELECT pool, protocol, MIN(block_number) AS first_block
            FROM actions WHERE pool IS NOT NULL GROUP BY 1, 2)
      GROUP BY 1 ORDER BY 1"""))

  /** C4: ERC-20 transfer fallback decode with fee-on-transfer (tax token)
    * detection — the classifier path taken when the registry misses. */
  private val c4TransferDecode = QueryDef(
    "c4_transfer_decode",
    (s, dir) => acts(s, dir)
      .filter(col("action_type") === "transfer")
      .withColumn("is_tax", col("token_in_id") % 10 === 0)
      .groupBy("is_tax")
      .agg(count(lit(1)).as("n"),
        dsum(col("amount_in")).as("sum_amount"),
        dsum(col("fee")).as("sum_fee"),
        sum(when(col("amount_in").isNull, 1L).otherwise(0L)).as("n_missing_token"))
      .orderBy("is_tax"),
    withCtes(s"""SELECT (token_in_id % 10 = 0) AS is_tax, COUNT(*) AS n,
      ${sqlSum("amount_in")} AS sum_amount, ${sqlSum("fee")} AS sum_fee,
      CAST(SUM(CASE WHEN amount_in IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_token
      FROM actions WHERE action_type = 'transfer' GROUP BY 1 ORDER BY 1"""))

  /** C5: multi-frame classification — flash-loan BORROW↔REPAY leg matching
    * within call-frame span ranges (multi_frame_classification/, the
    * reference walks a frame range and pairs the loan's outbound leg with
    * the covering repayment). Here: transfers split by direction (0 =
    * funds arrive / borrow leg, 1 = funds return / repay leg), rank-paired
    * per (tx, token, depth-1 span head) in frame order, and a pair counts
    * as REPAID only when the repay frame comes after the borrow frame AND
    * its amount covers the loan — the reference's amount-coverage check.
    * Two rank windows + one equi-join on (tx, token, span, rank); no
    * cross-tx state. */
  private val c5MultiframePair = QueryDef(
    "c5_multiframe_pair",
    (s, dir) => {
      val tr = acts(s, dir)
        .filter(col("action_type") === "transfer" && col("amount_in").isNotNull)
        .withColumn("span_head", element_at(col("trace_address"), 1))
      val w = Window.partitionBy("tx_hash", "token_in_id", "span_head")
        .orderBy("trace_idx")
      def side(d: Int, pfx: String) = tr.filter(col("direction") === d)
        .withColumn("rk", row_number().over(w))
        .select(col("tx_hash"), col("token_in_id"), col("span_head"), col("rk"),
          col("trace_idx").as(s"${pfx}_idx"), col("amount_in").as(s"${pfx}_amt"))
      side(0, "b").join(side(1, "r"),
          Seq("tx_hash", "token_in_id", "span_head", "rk"), "full")
        .withColumn("repaid", col("r_idx") > col("b_idx") &&
          col("r_amt") >= col("b_amt"))
        .groupBy((col("token_in_id") % 5).as("token_bucket"))
        .agg(sum(when(col("b_idx").isNotNull, 1L).otherwise(0L)).as("n_borrows"),
          sum(when(col("r_idx").isNotNull, 1L).otherwise(0L)).as("n_repays"),
          sum(when(col("b_idx").isNotNull && col("r_idx").isNotNull, 1L)
            .otherwise(0L)).as("n_pairs"),
          sum(when(col("repaid"), 1L).otherwise(0L)).as("n_repaid_pairs"),
          dsumR(when(col("repaid"), col("r_amt") - col("b_amt"))).as("sum_excess"))
        .orderBy("token_bucket")
    },
    withCtes(""", tr5 AS (
        SELECT tx_hash, token_in_id, trace_address[1] AS span_head,
          direction, trace_idx, amount_in
        FROM actions
        WHERE action_type = 'transfer' AND amount_in IS NOT NULL),
      b5 AS (
        SELECT tx_hash, token_in_id, span_head,
          ROW_NUMBER() OVER (PARTITION BY tx_hash, token_in_id, span_head
                             ORDER BY trace_idx) AS rk,
          trace_idx AS b_idx, amount_in AS b_amt
        FROM tr5 WHERE direction = 0),
      r5 AS (
        SELECT tx_hash, token_in_id, span_head,
          ROW_NUMBER() OVER (PARTITION BY tx_hash, token_in_id, span_head
                             ORDER BY trace_idx) AS rk,
          trace_idx AS r_idx, amount_in AS r_amt
        FROM tr5 WHERE direction = 1),
      pairs5 AS (
        SELECT COALESCE(b.token_in_id, r.token_in_id) AS token_in_id,
          b.b_idx, b.b_amt, r.r_idx, r.r_amt,
          (r.r_idx > b.b_idx AND r.r_amt >= b.b_amt) AS repaid
        FROM b5 b FULL JOIN r5 r
          ON b.tx_hash = r.tx_hash AND b.token_in_id = r.token_in_id
         AND b.span_head = r.span_head AND b.rk = r.rk)
      SELECT token_in_id % 5 AS token_bucket,
        CAST(SUM(CASE WHEN b_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_borrows,
        CAST(SUM(CASE WHEN r_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_repays,
        CAST(SUM(CASE WHEN b_idx IS NOT NULL AND r_idx IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        CAST(SUM(CASE WHEN repaid THEN 1 ELSE 0 END) AS BIGINT) AS n_repaid_pairs,
        """ + sqlSumR("CASE WHEN repaid THEN r_amt - b_amt END") + """ AS sum_excess
      FROM pairs5 GROUP BY 1 ORDER BY 1"""))

  /** C5 (batch-solver arm): settlement-to-user matching inside the solver
    * frame — the reference's `multi_frame_classification/batch/
    * {cowswap,uni_x,zero_x}.rs` pattern: a start node marks the settlement
    * frame, child TRANSFERS pair into user orders (user→solver leg fills
    * token_in/amount_in, solver→user leg fills token_out/amount_out,
    * uni_x.rs:37-68) and child SWAPS are collected as solver swaps and
    * PRUNED from the user-level stream (cowswap.rs:35-57).
    *
    * Fixture mapping (identical in both engines): a frame is a depth-1
    * span root left `unclassified` by single-frame dispatch (the marked
    * start node) on an even span, with ≥1 child swap and ≥1 child
    * transfer; within the frame, direction-0 transfers are user→solver
    * legs and direction-1 transfers solver→user, rank-paired in trace
    * order per (tx, frame). All work is windows + equi-joins on
    * (tx, frame) — block-local at any scale; frames never nest in the
    * fixture (the reference processes inner frames first,
    * mod.rs:56-60). */
  private val c5BatchSolver = QueryDef(
    "c5_batch_solver",
    (s, dir) => {
      // no persist: the consumers are pruned scans of the compact
      // actions store; caching the full-width table costs more than
      // the re-scans and defeats column pruning (q5_jit A/B: 4.1->2.0s)
      val a = acts(s, dir)
      val roots = a.filter(size(col("trace_address")) === 1 &&
          col("action_type") === "unclassified" && col("tx_idx") % 2 === 0)
        .select(col("block_number"), col("tx_hash"),
          element_at(col("trace_address"), 1).as("span"))
      val ch = a.filter(size(col("trace_address")) > 1)
        .withColumn("span", element_at(col("trace_address"), 1))
      val chagg = ch.groupBy("tx_hash", "span")
        .agg(sum(when(col("action_type") === "swap" &&
            col("amount_in").isNotNull && col("amount_out").isNotNull, 1L)
            .otherwise(0L)).as("n_swaps"),
          sum(when(col("action_type") === "transfer" &&
            col("amount_in").isNotNull, 1L).otherwise(0L)).as("n_transfers"))
      val frames = Pins.persist(roots.join(chagg, Seq("tx_hash", "span"))
        .filter(col("n_swaps") >= 1)
        .select("block_number", "tx_hash", "span"))
      val tr = ch.filter(col("action_type") === "transfer" &&
          col("amount_in").isNotNull)
        .drop("block_number")
        .join(frames, Seq("tx_hash", "span"))
      val w = Window.partitionBy("tx_hash", "span", "direction")
        .orderBy("trace_idx")
      def leg(d: Int, pfx: String) = tr.filter(col("direction") === d)
        .withColumn("rk", row_number().over(w))
        .select(col("block_number"), col("tx_hash"), col("span"), col("rk"),
          col("token_in_id").as(s"${pfx}_tok"), col("amount_in").as(s"${pfx}_amt"))
      val orders = leg(0, "u").join(leg(1, "o"),
        Seq("block_number", "tx_hash", "span", "rk"), "full")
      val solver = ch.filter(col("action_type") === "swap" &&
          col("amount_in").isNotNull && col("amount_out").isNotNull)
        .drop("block_number")
        .join(frames, Seq("tx_hash", "span"))
        .groupBy("block_number")
        .agg(count(lit(1)).as("n_solver_swaps"),
          dsum(col("amount_in")).as("sum_solver_in"))
      frames.groupBy("block_number").agg(count(lit(1)).as("n_frames"))
        .join(orders.groupBy("block_number")
          .agg(count(lit(1)).as("n_user_orders"),
            sum(when(col("u_tok").isNotNull && col("o_tok").isNotNull, 1L)
              .otherwise(0L)).as("n_matched"),
            dsum(col("u_amt")).as("sum_order_in"),
            dsum(col("o_amt")).as("sum_order_out")), Seq("block_number"), "left")
        .join(solver, "block_number")
        .withColumn("n_user_orders", coalesce(col("n_user_orders"), lit(0L)))
        .withColumn("n_matched", coalesce(col("n_matched"), lit(0L)))
        .withColumn("sum_order_in", coalesce(col("sum_order_in"), lit(0.0e0)))
        .withColumn("sum_order_out", coalesce(col("sum_order_out"), lit(0.0e0)))
        .orderBy("block_number")
    },
    withCtes(""", cb_roots AS (
        SELECT block_number, tx_hash, trace_address[1] AS span
        FROM actions
        WHERE len(trace_address) = 1 AND action_type = 'unclassified'
          AND tx_idx % 2 = 0),
      cb_ch AS (
        SELECT tx_hash, trace_address[1] AS span, action_type, trace_idx,
          direction, token_in_id, amount_in, amount_out
        FROM actions WHERE len(trace_address) > 1),
      cb_chagg AS (
        SELECT tx_hash, span,
          SUM(CASE WHEN action_type = 'swap' AND amount_in IS NOT NULL
                    AND amount_out IS NOT NULL THEN 1 ELSE 0 END) AS n_swaps,
          SUM(CASE WHEN action_type = 'transfer' AND amount_in IS NOT NULL
                   THEN 1 ELSE 0 END) AS n_transfers
        FROM cb_ch GROUP BY 1, 2),
      cb_frames AS (
        SELECT r.block_number, r.tx_hash, r.span
        FROM cb_roots r JOIN cb_chagg c USING (tx_hash, span)
        WHERE c.n_swaps >= 1),
      cb_tr AS (
        SELECT f.block_number, c.tx_hash, c.span, c.direction, c.trace_idx,
          c.token_in_id, c.amount_in
        FROM cb_ch c JOIN cb_frames f USING (tx_hash, span)
        WHERE c.action_type = 'transfer' AND c.amount_in IS NOT NULL),
      cb_u AS (
        SELECT block_number, tx_hash, span,
          ROW_NUMBER() OVER (PARTITION BY tx_hash, span, direction
                             ORDER BY trace_idx) AS rk,
          token_in_id AS u_tok, amount_in AS u_amt
        FROM cb_tr WHERE direction = 0),
      cb_o AS (
        SELECT block_number, tx_hash, span,
          ROW_NUMBER() OVER (PARTITION BY tx_hash, span, direction
                             ORDER BY trace_idx) AS rk,
          token_in_id AS o_tok, amount_in AS o_amt
        FROM cb_tr WHERE direction = 1),
      cb_orders AS (
        SELECT COALESCE(u.block_number, o.block_number) AS block_number,
          u.u_tok, u.u_amt, o.o_tok, o.o_amt
        FROM cb_u u FULL JOIN cb_o o
          ON u.tx_hash = o.tx_hash AND u.span = o.span AND u.rk = o.rk),
      cb_solver AS (
        SELECT f.block_number, COUNT(*) AS n_solver_swaps,
          """ + sqlSum("c.amount_in") + """ AS sum_solver_in
        FROM cb_ch c JOIN cb_frames f USING (tx_hash, span)
        WHERE c.action_type = 'swap' AND c.amount_in IS NOT NULL
          AND c.amount_out IS NOT NULL
        GROUP BY 1),
      cb_f AS (
        SELECT block_number, COUNT(*) AS n_frames FROM cb_frames GROUP BY 1),
      cb_ord AS (
        SELECT block_number, COUNT(*) AS n_user_orders,
          CAST(SUM(CASE WHEN u_tok IS NOT NULL AND o_tok IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          """ + sqlSum("u_amt") + """ AS sum_order_in,
          """ + sqlSum("o_amt") + """ AS sum_order_out
        FROM cb_orders GROUP BY 1)
      SELECT f.block_number, f.n_frames,
        COALESCE(o.n_user_orders, 0) AS n_user_orders,
        COALESCE(o.n_matched, 0) AS n_matched,
        COALESCE(o.sum_order_in, 0.0e0) AS sum_order_in,
        COALESCE(o.sum_order_out, 0.0e0) AS sum_order_out,
        s.n_solver_swaps, s.sum_solver_in
      FROM cb_f f LEFT JOIN cb_ord o USING (block_number)
      JOIN cb_solver s USING (block_number)
      ORDER BY 1"""))

  /** C5 (aggregator arm): collapse aggregator wrapper frames to their
    * routed child actions — `multi_frame_classification/aggregator/
    * {one_inch,zero_x}.rs`: the aggregator node absorbs every child swap
    * and transfer into `child_actions` and prunes them
    * (one_inch.rs:57-93); the effective route is first-leg in → last-leg
    * out. Fixture frames are the odd-span unclassified roots with ≥1
    * child swap; per frame the collapse reports the absorbed child count
    * and the (first amount_in, last amount_out) route legs. */
  private val c5Aggregator = QueryDef(
    "c5_aggregator",
    (s, dir) => {
      // no persist: the consumers are pruned scans of the compact
      // actions store; caching the full-width table costs more than
      // the re-scans and defeats column pruning (q5_jit A/B: 4.1->2.0s)
      val a = acts(s, dir)
      val roots = a.filter(size(col("trace_address")) === 1 &&
          col("action_type") === "unclassified" && col("tx_idx") % 2 === 1)
        .select(col("block_number"), col("tx_hash"),
          element_at(col("trace_address"), 1).as("span"))
      val ch = a.filter(size(col("trace_address")) > 1)
        .withColumn("span", element_at(col("trace_address"), 1))
      val sw = ch.filter(col("action_type") === "swap" &&
        col("amount_in").isNotNull && col("amount_out").isNotNull)
      val absorb = ch.filter(col("action_type").isin("swap", "transfer") &&
          col("amount_in").isNotNull)
        .groupBy("tx_hash", "span").agg(count(lit(1)).as("n_absorbed"))
      val route = sw.groupBy("tx_hash", "span")
        .agg(count(lit(1)).as("n_legs"),
          min_by(col("amount_in"), col("trace_idx")).as("route_in"),
          max_by(col("amount_out"), col("trace_idx")).as("route_out"),
          min_by(col("token_in_id"), col("trace_idx")).as("route_tok_in"),
          max_by(col("token_out_id"), col("trace_idx")).as("route_tok_out"))
      roots.join(route, Seq("tx_hash", "span"))
        .join(absorb, Seq("tx_hash", "span"))
        .groupBy("block_number")
        .agg(count(lit(1)).as("n_frames"),
          sum(col("n_absorbed")).as("n_pruned_children"),
          sum(when(col("n_legs") > 1, 1L).otherwise(0L)).as("n_multi_leg"),
          dsum(col("route_in")).as("sum_route_in"),
          dsum(col("route_out")).as("sum_route_out"),
          sum(when(col("route_tok_in") === col("route_tok_out"), 1L)
            .otherwise(0L)).as("n_cyclic_routes"))
        .orderBy("block_number")
    },
    withCtes(""", ca_roots AS (
        SELECT block_number, tx_hash, trace_address[1] AS span
        FROM actions
        WHERE len(trace_address) = 1 AND action_type = 'unclassified'
          AND tx_idx % 2 = 1),
      ca_ch AS (
        SELECT tx_hash, trace_address[1] AS span, action_type, trace_idx,
          token_in_id, token_out_id, amount_in, amount_out
        FROM actions WHERE len(trace_address) > 1),
      ca_absorb AS (
        SELECT tx_hash, span, COUNT(*) AS n_absorbed
        FROM ca_ch
        WHERE action_type IN ('swap', 'transfer') AND amount_in IS NOT NULL
        GROUP BY 1, 2),
      ca_route AS (
        SELECT tx_hash, span, COUNT(*) AS n_legs,
          ARG_MIN(amount_in, trace_idx) AS route_in,
          ARG_MAX(amount_out, trace_idx) AS route_out,
          ARG_MIN(token_in_id, trace_idx) AS route_tok_in,
          ARG_MAX(token_out_id, trace_idx) AS route_tok_out
        FROM ca_ch
        WHERE action_type = 'swap' AND amount_in IS NOT NULL
          AND amount_out IS NOT NULL
        GROUP BY 1, 2)
      SELECT r.block_number, COUNT(*) AS n_frames,
        CAST(SUM(a.n_absorbed) AS BIGINT) AS n_pruned_children,
        CAST(SUM(CASE WHEN t.n_legs > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_multi_leg,
        """ + sqlSum("t.route_in") + """ AS sum_route_in,
        """ + sqlSum("t.route_out") + """ AS sum_route_out,
        CAST(SUM(CASE WHEN t.route_tok_in = t.route_tok_out THEN 1 ELSE 0 END)
          AS BIGINT) AS n_cyclic_routes
      FROM ca_roots r
      JOIN ca_route t USING (tx_hash, span)
      JOIN ca_absorb a USING (tx_hash, span)
      GROUP BY 1 ORDER BY 1"""))

  /** C6: tax-token fixup — subtract sibling same-tx transfer fees from the
    * swap's received amount (span-join + conditional rewrite). */
  private val c6TaxFixup = QueryDef(
    "c6_tax_fixup",
    (s, dir) => {
      // no persist: two pruned scans beat one full-width cache materialize
      // (sf1 rehearsal r10: the cached form ran 10.5x at 10x data)
      val a = acts(s, dir)
      val fees = a.filter(col("action_type") === "transfer" && col("fee").isNotNull)
        .groupBy(col("tx_hash").as("f_tx"), col("token_in_id").as("f_tok"))
        .agg(dsum(col("fee")).as("fee_sum"))
      a.filter(col("action_type") === "swap" && col("amount_out").isNotNull)
        .join(fees, col("tx_hash") === col("f_tx") &&
          col("token_out_id") === col("f_tok"), "left")
        .withColumn("adjusted_out", col("amount_out") - coalesce(col("fee_sum"), lit(0.0)))
        .groupBy("protocol")
        .agg(count(lit(1)).as("n_swaps"),
          sum(when(col("fee_sum").isNotNull, 1L).otherwise(0L)).as("n_adjusted"),
          dsum(col("adjusted_out")).as("sum_adjusted_out"))
        .orderBy("protocol")
    },
    withCtes(s"""SELECT s.protocol, COUNT(*) AS n_swaps,
      CAST(SUM(CASE WHEN f.fee_sum IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_adjusted,
      ${sqlSum("s.amount_out - COALESCE(f.fee_sum, 0.0)")} AS sum_adjusted_out
      FROM (SELECT * FROM actions WHERE action_type = 'swap' AND amount_out IS NOT NULL) s
      LEFT JOIN (SELECT tx_hash AS f_tx, token_in_id AS f_tok,
                   ${sqlSum("fee")} AS fee_sum
                 FROM actions WHERE action_type = 'transfer' AND fee IS NOT NULL
                 GROUP BY 1, 2) f
        ON s.tx_hash = f.f_tx AND s.token_out_id = f.f_tok
      GROUP BY 1 ORDER BY 1"""))

  /** C7: duplicate-transfer prune — identical (tx, dest, token, amount)
    * rows keep only the outermost frame (lowest trace_idx). */
  private val c7DupTransferPrune = QueryDef(
    "c7_dup_transfer_prune",
    (s, dir) => {
      val w = Window
        .partitionBy(col("tx_hash"), col("to_address"), col("token_in_id"), col("amount_in"))
        .orderBy(col("trace_idx").asc)
      acts(s, dir)
        .filter(col("action_type") === "transfer" && col("amount_in").isNotNull)
        .withColumn("rn", row_number().over(w))
        .agg(sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_pruned"))
    },
    withCtes("""SELECT
      CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned
      FROM (SELECT ROW_NUMBER() OVER (
              PARTITION BY tx_hash, to_address, token_in_id, amount_in
              ORDER BY trace_idx ASC) AS rn
            FROM actions WHERE action_type = 'transfer' AND amount_in IS NOT NULL)"""))

  /** C8: coinbase-transfer extraction — frames whose destination is the
    * block's beneficiary (builder bribes). Blocks dim broadcasts. */
  private val c8Coinbase = QueryDef(
    "c8_coinbase",
    (s, dir) => {
      val t = tracesTable(s, dir)
      val b = blocks(s, dir).select(col("block_number").as("b_block"), col("beneficiary"))
      t.join(broadcast(b), t("block_number") === col("b_block"))
        .filter(col("to_address") === col("beneficiary"))
        .groupBy("beneficiary")
        .agg(count(lit(1)).as("n_bribes"),
          countDistinct(col("tx_hash")).as("n_txs"),
          sum(col("priority_fee")).as("sum_priority"))
        .orderBy("beneficiary")
    },
    withCtes("""SELECT b.beneficiary, COUNT(*) AS n_bribes,
      CAST(COUNT(DISTINCT t.tx_hash) AS BIGINT) AS n_txs,
      CAST(SUM(t.priority_fee) AS BIGINT) AS sum_priority
      FROM trace t JOIN blocks b ON t.block_number = b.block_number
      WHERE t.to_address = b.beneficiary
      GROUP BY 1 ORDER BY 1"""))

  /** C9: missing-token quarantine — token ids referenced by classified
    * actions whose decimals are unknown (decode → NULL, row → quarantine). */
  private val c9MissingToken = QueryDef(
    "c9_missing_token",
    (s, dir) => {
      // no persist: the consumers are pruned scans of the compact
      // actions store; caching the full-width table costs more than
      // the re-scans and defeats column pruning (q5_jit A/B: 4.1->2.0s)
      val a = acts(s, dir)
      val ins = a.filter(col("token_in_id").isNotNull && col("dec_in").isNull)
        .select(col("token_in_id").as("token_id"), col("action_type"))
      val outs = a.filter(col("token_out_id").isNotNull && col("dec_out").isNull)
        .select(col("token_out_id").as("token_id"), col("action_type"))
      ins.unionByName(outs)
        .groupBy("token_id")
        .agg(count(lit(1)).as("n_refs"),
          countDistinct(col("action_type")).as("n_action_types"))
        .orderBy("token_id")
    },
    withCtes("""SELECT token_id, COUNT(*) AS n_refs,
      CAST(COUNT(DISTINCT action_type) AS BIGINT) AS n_action_types
      FROM (SELECT token_in_id AS token_id, action_type FROM actions
            WHERE token_in_id IS NOT NULL AND dec_in IS NULL
            UNION ALL
            SELECT token_out_id AS token_id, action_type FROM actions
            WHERE token_out_id IS NOT NULL AND dec_out IS NULL)
      GROUP BY 1 ORDER BY 1"""))
}
