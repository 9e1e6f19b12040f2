package graft.domain

import graft.QueryDef
import graft.functions.AbiLayout.{address, bytes, bytes32, calldata, int,
  uint, words}
import graft.ops.ExactAgg.{dsum, sqlSum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL public ABI layouts, round-13 tail: the swap-family shapes still
  * unexercised by real bytes after the r12/r13 ports.
  *
  *   - ClipperExchange (classifiers/clipper/clipper_exchange.rs:8-160):
  *     FIVE selectors — `swap`, `sellEthForToken`, `sellTokenForEth`,
  *     `transmitAndSwap`, `transmitAndSellTokenForEth` — that all fan
  *     into ONE decode arm reading ONLY the `Swapped` event; the decode
  *     never touches calldata. And uniquely among the ported layouts,
  *     the identifying fields are INDEXED event parameters: `inAsset` /
  *     `outAsset` / `recipient` ride the log's TOPICS (three bare
  *     32-byte words), while only `inAmount` / `outAmount` /
  *     `auxiliaryData` sit in the data section
  *     (classifier-abis/ClipperExchange.json `Swapped`). The repo
  *     models topics as their own bytes column — the same bare-word
  *     geometry as log data, so the codegen'd log decoders apply
  *     unchanged; nothing about topic words needs a new expression.
  *
  * Reference semantics pinned per arm:
  *   - `logs.swapped_field?` fails FIRST — a frame with no Swapped
  *     event quarantines before any token fetch (n_no_log; those
  *     frames never count token-missing);
  *   - `try_fetch_token_info(logs.inAsset)?` / `(logs.outAsset)?` —
  *     EITHER missing token quarantines the frame (n_quarantined);
  *   - `recipient = logs.recipient` — the RECIPIENT comes from the
  *     log topic, not msg_sender (clipper_exchange.rs:18-20), unlike
  *     every other ported swap;
  *   - `pool = info.target_address`, amounts scale by each token's
  *     own decimals.
  */
object RealAbiSwapOps extends graft.QueryModule {

  import ChainFixture._
  import RealAbiOps.{decimalsOf, framesOf}
  import RealAbiOps.{pow10d, sqlPow10}

  def defs: Seq[QueryDef] = Seq(c1ClipperSwap, c1BalancerV1Swap,
    c3BalancerV1Bind, c5UniswapXBatch, c2RealFanout)

  private def withCtes(sql: String) = Some(s"WITH ${ChainFixture.sqlCtes} $sql")

  /** The five Clipper method names, indexed by the fixture arm. The
    * selectors are fixture-derived (md5 prefixes — no keccak
    * in-container); what the reference's selector table buys is ONE
    * shared decode body behind five entries, and that fan-in is what
    * the arm dimension exercises. */
  private[domain] val ClipperMethods: Seq[String] = Seq(
    "swap", "sell_eth_for_token", "sell_token_for_eth",
    "transmit_and_swap", "transmit_and_sell_token_for_eth")

  private[graft] val ClipperTopics =
    words(address("in_asset"), address("out_asset"), address("recip_dec"))
  private[graft] val ClipperLog =
    words(uint("amt_in"), uint("amt_out"), bytes("aux"))
  /** The Clipper decode core on any frame with (log_topics, log_data):
    * everything from the Swapped EVENT — assets + recipient from the
    * three topic words (indexed params), amounts from data words 0/1,
    * and the auxiliaryData head offset at data word 2 (= 96 on a
    * well-formed 3-static-word data section, validating the bytes tail
    * is where ABI puts it). */
  private[graft] def clipperDecode(t: DataFrame): DataFrame =
    ClipperLog.decode(ClipperTopics.decode(t, "log_topics"), "log_data")
      .withColumn("aux_off", ClipperLog.offset(col("log_data"), "aux"))

  /** C1 (ClipperExchange, all five selectors → Swap): the log-only,
    * topics-sourced swap. Fixture: every SelV3Swap frame becomes one
    * Clipper frame; arm = (q6+p2) % 5 picks the method; p2 % 6 == 0
    * models the absent-event arm; the out-asset steps +3 through the
    * token ref space so BOTH fetch arms cross the missing-token ids
    * (in: 40/41, out: 37/38 → ids 40/41 after the step).
    *
    * Scale shape: one pruned trace scan, two broadcast token joins,
    * one 5-group rollup — no fact shuffle before the agg; every decode
    * is a codegen'd bare-word read. */
  private val c1ClipperSwap = QueryDef(
    "c1_clipper_swap",
    (s, dir) => {
      val t = framesOf(s, dir, SelV3Swap)
        .withColumn("arm", ((col("q6l") + col("p2l")) % 5).cast("int"))
        .withColumn("method",
          element_at(array(ClipperMethods.map(lit): _*), col("arm") + 1))
        .withColumn("has_log", col("p2l") % 6 =!= 0)
        .withColumn("out_tid", (col("tok_id") + 3) % TokRefSpace)
      val packed = t
        .withColumn("log_topics", when(col("has_log"), ClipperTopics.pack(
            md5(concat(lit("tok:"), col("tok_id"))),
            md5(concat(lit("tok:"), col("out_tid"))), col("from_address")))
          .otherwise(unhex(lit(""))))
        .withColumn("log_data", when(col("has_log"),
            ClipperLog.pack(col("q6l"), col("p2l"), lit("")))
          .otherwise(unhex(lit(""))))
      val tkIn = tokens(s).select(col("address").as("in_a"),
        col("decimals").as("in_dec"))
      val tkOut = tokens(s).select(col("address").as("out_a"),
        col("decimals").as("out_dec"))
      clipperDecode(packed)
        .join(broadcast(tkIn),
          col("in_asset") === concat(lit("0" * 8), col("in_a")), "left")
        .join(broadcast(tkOut),
          col("out_asset") === concat(lit("0" * 8), col("out_a")), "left")
        .withColumn("status",
          when(col("in_asset").isNull, "no_log") // swapped_field? FIRST
            .when(col("in_dec").isNull || col("out_dec").isNull,
              "quarantined")
            .otherwise("ok"))
        .groupBy("method")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "no_log", 1L).otherwise(0L))
            .as("n_no_log"),
          sum(when(col("status") === "quarantined", 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("recip_dec") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recip_ok"),
          sum(when(col("status") =!= "no_log" && col("aux_off") === 96L, 1L)
            .otherwise(0L)).as("n_aux_ok"),
          dsum(when(col("status") === "ok",
            col("amt_in").cast("double") / pow10d(col("in_dec")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("status") === "ok",
            col("amt_out").cast("double") / pow10d(col("out_dec")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("method")
    },
    withCtes(s""", clf AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 5 AS arm,
          CAST(t.p2 AS BIGINT) % 6 <> 0 AS has_log,
          t.tok_id AS in_tid, (t.tok_id + 3) % $TokRefSpace AS out_tid
        FROM trace t WHERE t.selector = '$SelV3Swap'),
      cls AS (
        SELECT f.*,
          ['swap', 'sell_eth_for_token', 'sell_token_for_eth',
           'transmit_and_swap', 'transmit_and_sell_token_for_eth'][arm + 1]
            AS method,
          i.decimals AS in_dec, o.decimals AS out_dec,
          CASE WHEN NOT f.has_log THEN 'no_log'
            WHEN i.decimals IS NULL OR o.decimals IS NULL THEN 'quarantined'
            ELSE 'ok' END AS status
        FROM clf f LEFT JOIN tok i ON i.token_id = f.in_tid
          LEFT JOIN tok o ON o.token_id = f.out_tid)
      SELECT method, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN status = 'no_log' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_no_log,
        CAST(SUM(CASE WHEN status = 'quarantined' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(SUM(CASE WHEN has_log THEN 1 ELSE 0 END) AS BIGINT)
          AS n_recip_ok,
        CAST(SUM(CASE WHEN has_log THEN 1 ELSE 0 END) AS BIGINT)
          AS n_aux_ok,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN q6l / ${sqlPow10.format("in_dec")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN p2l / ${sqlPow10.format("out_dec")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM cls GROUP BY 1 ORDER BY 1"""))

  private[graft] val BalV1Call = calldata(address("in_asset"), uint("cd_in"),
    address("out_asset"), uint("cd_out"), uint("")) // maxPrice
  private[graft] val BalV1Ret = words(int("ret_amt"), int("spot_after"))
  /** The Balancer V1 swap decode core on any frame with (calldata,
    * ret_data, arm): the MIRROR PAIR — both selectors share one 5-word
    * calldata geometry (tokenIn ‖ bound-in ‖ tokenOut ‖ bound-out ‖
    * maxPrice), but the EXECUTED amount of the unbound side arrives in
    * RETURN word 0. exactIn (arm 0): amount_in = calldata word 1,
    * amount_out = return word 0 (balancer_v1.rs:20-24); exactOut
    * (arm 1): amount_in = return word 0, amount_out = calldata word 3
    * (:50-56). cd_bound echoes the OTHER side's calldata word so the
    * flip itself is observable. */
  private[graft] def balV1SwapDecode(t: DataFrame): DataFrame =
    BalV1Ret.decode(BalV1Call.decode(t, "calldata"), "ret_data")
      .withColumn("amt_in",
        when(col("arm") === 0, col("cd_in")).otherwise(col("ret_amt")))
      .withColumn("amt_out",
        when(col("arm") === 0, col("ret_amt")).otherwise(col("cd_out")))
      .withColumn("cd_bound",
        when(col("arm") === 0, col("cd_out")).otherwise(col("cd_in")))

  /** C1 (Balancer V1 `swapExactAmountIn`/`swapExactAmountOut` → Swap):
    * the calldata↔return MIRROR pair (balancer_v1.rs:9-71). Reference
    * semantics pinned:
    *   - the two selectors share one calldata geometry; which side's
    *     EXECUTED amount rides the RETURN flips with the selector — the
    *     only ported family where the same word slot changes meaning
    *     (bound limit vs executed amount) across two methods;
    *   - the return decode (`return_data:` arm of action_impl!) fails
    *     BEFORE the closure — an absent return buffer quarantines the
    *     frame before any token fetch (n_no_ret);
    *   - `try_fetch_token_info(tokenIn/tokenOut)?` — either missing
    *     quarantines (n_quarantined);
    *   - `recipient = info.msg_sender`, `pool = info.target_address` —
    *     no log is consulted at all (the [Swap] event passes unused).
    *
    * Fixture: SelCurveSwap frames; arm = p2 % 2; p2 % 9 == 0 models the
    * absent-return arm; the out-asset steps +5 through the token ref
    * space so both fetch arms cross the missing ids. Scale shape: one
    * pruned trace scan, two broadcast token joins, one 2-group rollup. */
  private val c1BalancerV1Swap = QueryDef(
    "c1_balv1_swap",
    (s, dir) => {
      val t = framesOf(s, dir, SelCurveSwap)
        .withColumn("arm", (col("p2l") % 2).cast("int")) // q6 is always
        // even in this fixture (quantity-derived) - parity comes from p2
        .withColumn("method",
          when(col("arm") === 0, "exact_in").otherwise("exact_out"))
        .withColumn("has_ret", col("p2l") % 9 =!= 0)
        .withColumn("out_tid", (col("tok_id") + 5) % TokRefSpace)
      val packed = t
        .withColumn("calldata", BalV1Call.pack(col("selector"),
          md5(concat(lit("tok:"), col("tok_id"))),
          when(col("arm") === 0, col("q6l"))
            .otherwise(col("q6l") * 2), // maxAmountIn bound
          md5(concat(lit("tok:"), col("out_tid"))),
          when(col("arm") === 0, expr("q6l div 2"))
            .otherwise(col("p2l")), // minAmountOut bound / exact out
          col("p2l") + 3)) // maxPrice
        .withColumn("ret_data", when(col("has_ret"), BalV1Ret.pack(
            when(col("arm") === 0, col("p2l")).otherwise(col("q6l")),
            col("p2l") + 7)) // spotPriceAfter
          .otherwise(unhex(lit(""))))
      val tkIn = tokens(s).select(col("address").as("in_a"),
        col("decimals").as("in_dec"))
      val tkOut = tokens(s).select(col("address").as("out_a"),
        col("decimals").as("out_dec"))
      balV1SwapDecode(packed)
        .join(broadcast(tkIn),
          col("in_asset") === concat(lit("0" * 8), col("in_a")), "left")
        .join(broadcast(tkOut),
          col("out_asset") === concat(lit("0" * 8), col("out_a")), "left")
        .withColumn("status",
          when(col("spot_after").isNull, "no_ret") // return decode FIRST
            .when(col("in_dec").isNull || col("out_dec").isNull,
              "quarantined")
            .otherwise("ok"))
        .groupBy("method")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "no_ret", 1L).otherwise(0L))
            .as("n_no_ret"),
          sum(when(col("status") === "quarantined", 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          // the bound (limit) word reads from the OPPOSITE slot per arm
          sum(when((col("arm") === 0 &&
              col("cd_bound") === expr("q6l div 2")) ||
            (col("arm") === 1 && col("cd_bound") === col("q6l") * 2), 1L)
            .otherwise(0L)).as("n_bound_ok"),
          dsum(when(col("status") === "ok",
            col("amt_in").cast("double") / pow10d(col("in_dec")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("status") === "ok",
            col("amt_out").cast("double") / pow10d(col("out_dec")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("method")
    },
    withCtes(s""", bv1 AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          CAST(t.p2 AS BIGINT) % 2 AS arm,
          CAST(t.p2 AS BIGINT) % 9 <> 0 AS has_ret,
          t.tok_id AS in_tid, (t.tok_id + 5) % $TokRefSpace AS out_tid
        FROM trace t WHERE t.selector = '$SelCurveSwap'),
      bv1s AS (
        SELECT f.*,
          CASE WHEN arm = 0 THEN 'exact_in' ELSE 'exact_out' END AS method,
          i.decimals AS in_dec, o.decimals AS out_dec,
          CASE WHEN NOT f.has_ret THEN 'no_ret'
            WHEN i.decimals IS NULL OR o.decimals IS NULL THEN 'quarantined'
            ELSE 'ok' END AS status
        FROM bv1 f LEFT JOIN tok i ON i.token_id = f.in_tid
          LEFT JOIN tok o ON o.token_id = f.out_tid)
      SELECT method, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN status = 'no_ret' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_no_ret,
        CAST(SUM(CASE WHEN status = 'quarantined' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(COUNT(*) AS BIGINT) AS n_bound_ok,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN q6l / ${sqlPow10.format("in_dec")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN p2l / ${sqlPow10.format("out_dec")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM bv1s GROUP BY 1 ORDER BY 1"""))

  /** `bind(address token, uint balance, uint denorm)`. */
  private[graft] val BindCall =
    calldata(address("tok_dec"), uint("bal_dec"), uint("denorm_dec"))
  /** C3 (Balancer V1 `bind(token, balance, denorm)` → NewPool): the
    * ACCRETIVE discovery shape (balancer_v1.rs:73-97) — no factory
    * event: each bind call on a pool re-reads the pool's CURRENT
    * registry tokens (`get_protocol_details(...).get_tokens()`) and
    * emits a NewPool with the bound token APPENDED. Since each
    * emission upserts the registry, the k-th bind on a pool (in block /
    * tx / trace order) emits 2 + k tokens on the fixture's 2-token base
    * pairs — the token vector GROWS across binds, unlike every
    * factory-style discovery port where the deployment carries the
    * whole set at once. The push is unconditional (no dedup, no token
    * fetch — no quarantine arm exists in this classifier).
    *
    * Scale shape: one pruned trace scan, one broadcast pool join, one
    * window rank keyed (pool_id) — dimension-cardinality partitions,
    * block-spread within each — then a per-pool rollup (60 rows). */
  private val c3BalancerV1Bind = QueryDef(
    "c3_balv1_bind",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = framesOf(s, dir, SelMint)
        .withColumn("bind_tid", (col("tok_id") + 11) % TokRefSpace)
      val packed = BindCall.decode(t.withColumn("calldata", BindCall.pack(
        col("selector"), md5(concat(lit("tok:"), col("bind_tid"))),
        col("q6l"), col("p2l") % 50 + 1)), "calldata")
      val po = pools(s).select(col("address").as("p_addr"),
        col("pool_id").as("pid"))
      val w = Window.partitionBy("pid")
        .orderBy("block_number", "tx_idx", "trace_idx")
      packed
        .join(broadcast(po), col("to_address") === col("p_addr"))
        .withColumn("k", row_number().over(w).cast("long"))
        .withColumn("n_tokens_emit", lit(2L) + col("k"))
        .groupBy("pid")
        .agg(count(lit(1)).as("n_binds"),
          max(col("n_tokens_emit")).as("final_n_tokens"),
          sum(col("n_tokens_emit")).as("sum_emitted_sizes"),
          sum(when(col("tok_dec") === concat(lit("0" * 8),
            md5(concat(lit("tok:"), col("bind_tid")))), 1L).otherwise(0L))
            .as("n_tok_ok"),
          sum(col("bal_dec")).as("sum_balance"),
          sum(col("denorm_dec")).as("sum_denorm"))
        .orderBy("pid")
    },
    withCtes(s""", bnd AS (
        SELECT p.pool_id AS pid, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l,
          CAST(ROW_NUMBER() OVER (PARTITION BY p.pool_id
            ORDER BY t.block_number, t.tx_idx, t.trace_idx) AS BIGINT) AS k
        FROM trace t JOIN pool p ON p.address = t.to_address
        WHERE t.selector = '$SelMint')
      SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_binds,
        CAST(MAX(2 + k) AS BIGINT) AS final_n_tokens,
        CAST(SUM(2 + k) AS BIGINT) AS sum_emitted_sizes,
        CAST(COUNT(*) AS BIGINT) AS n_tok_ok,
        CAST(SUM(q6l) AS BIGINT) AS sum_balance,
        CAST(SUM(p2l % 50 + 1) AS BIGINT) AS sum_denorm
      FROM bnd GROUP BY 1 ORDER BY 1"""))

  private[graft] val FillTopics = words(bytes32("ohash_dec"),
    address("filler_dec"), address("swapper_dec"))
  private[graft] val FillLog = words(uint("nonce_dec"))
  /** The UniswapX per-fill decode on exploded (fill_topics, fill_data)
    * rows: orderHash / filler / swapper are the Fill event's three
    * INDEXED params (topic words 0-2,
    * classifier-abis/UniswapXExclusiveDutchOrderReactor.json), the
    * nonce its single data word. */
  private[graft] def unixFillDecode(t: DataFrame): DataFrame =
    FillLog.decode(FillTopics.decode(t, "fill_topics"), "fill_data")

  /** C5 (UniswapX `execute`/`executeBatch`/`executeWithCallback`/
    * `executeBatchWithCallback` → Batch): the LOG-MULTIPLICITY batch
    * (uniswap_x.rs:13-131). Reference semantics pinned:
    *   - `[..Fill*]` collects EVERY Fill event under the frame; the
    *     `fill_field?` on an EMPTY collection fails the classification
    *     (n_no_fill) — multiplicity-with-?, the shape no single-log
    *     port exercises;
    *   - `solver = fill_logs[0].filler` — the solver identity is the
    *     FIRST fill's filler in log order (n_solver_first_ok);
    *   - one user swap PER fill: `Fill::into_swap` sets from =
    *     recipient = the fill's swapper topic and pool = the
    *     settlement contract, but token_in/token_out/amounts are
    *     DEFAULT-EMPTY — "we don't yet have the full trade
    *     information" (:135-151), so every emitted leg is a
    *     placeholder (n_default_legs == n_fills) completed downstream;
    *   - four selectors share the one body — single-vs-batch is only
    *     how many fills the frame carries.
    *
    * Fixture: SelBurn frames; n_fills = 1 + (q6+p2) % 3 (0 on the
    * p2 % 8 == 0 no-fill arm); fill k's topics are (orderHash(tx,k),
    * filler(p2), swapper(p2+k)). Scale shape: one pruned trace scan,
    * one bounded explode (≤3), one 4-group rollup — no joins at all
    * (the reference body never touches the DB). */
  private val c5UniswapXBatch = QueryDef(
    "c5_unix_batch",
    (s, dir) => {
      val t = framesOf(s, dir, SelBurn)
        .withColumn("arm", ((col("q6l") + col("p2l")) % 4).cast("int"))
        .withColumn("method", element_at(array(
          lit("execute"), lit("execute_batch"),
          lit("execute_batch_with_callback"), lit("execute_with_callback")),
          col("arm") + 1))
        .withColumn("n_fills",
          when(col("p2l") % 8 === 0, 0L)
            .otherwise(lit(1L) + (col("q6l") + col("p2l")) % 3))
      def fillAt(k: Int) = struct(
        lit(k).as("k"),
        when(col("n_fills") > k, FillTopics.pack(
          concat(md5(concat(lit("oh:"), col("tx_hash"), lit(s":$k"))),
            md5(concat(lit("oh2:"), col("tx_hash"), lit(s":$k")))),
          md5(concat(lit("filler:"), col("p2l") % 7)),
          md5(concat(lit("eoa:"), (col("p2l") + k) % NumEoas))))
          .otherwise(unhex(lit(""))).as("fill_topics"),
        when(col("n_fills") > k, FillLog.pack(col("q6l") + k))
          .otherwise(unhex(lit(""))).as("fill_data"))
      val legs = t
        .select(col("method"), col("tx_hash"), col("to_address"),
          col("q6l"), col("p2l"), col("n_fills"),
          explode(array(fillAt(0), fillAt(1), fillAt(2))).as("f"))
        .select(col("method"), col("tx_hash"), col("to_address"),
          col("q6l"), col("p2l"), col("n_fills"),
          col("f.k").as("k"), col("f.fill_topics").as("fill_topics"),
          col("f.fill_data").as("fill_data"))
      unixFillDecode(legs)
        .withColumn("is_fill", col("k") < col("n_fills"))
        .groupBy("method")
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_frames"),
          sum(when(col("k") === 0 && col("n_fills") === 0L, 1L)
            .otherwise(0L)).as("n_no_fill"),
          sum(when(col("is_fill"), 1L).otherwise(0L)).as("n_fills_total"),
          // solver = fill_logs[0].filler — checked on the FIRST fill
          sum(when(col("k") === 0 && col("is_fill") &&
            col("filler_dec") === concat(lit("0" * 8),
              md5(concat(lit("filler:"), col("p2l") % 7))), 1L)
            .otherwise(0L)).as("n_solver_first_ok"),
          sum(when(col("is_fill") &&
            col("swapper_dec") === concat(lit("0" * 8),
              md5(concat(lit("eoa:"), (col("p2l") + col("k")) % NumEoas))),
            1L).otherwise(0L)).as("n_swapper_ok"),
          // into_swap leaves token/amount DEFAULT-empty on every leg
          sum(when(col("is_fill"), 1L).otherwise(0L)).as("n_default_legs"),
          sum(when(col("is_fill"), col("nonce_dec")).otherwise(0L))
            .as("sum_nonce"))
        .orderBy("method")
    },
    withCtes(s""", uxf AS (
        SELECT t.tx_hash, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l,
          ['execute', 'execute_batch', 'execute_batch_with_callback',
           'execute_with_callback']
            [(CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 4 + 1]
            AS method,
          CASE WHEN CAST(t.p2 AS BIGINT) % 8 = 0 THEN 0
            ELSE 1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 END
            AS n_fills
        FROM trace t WHERE t.selector = '$SelBurn'),
      uxl AS (
        SELECT f.*, k.k FROM uxf f
        JOIN (SELECT UNNEST([0, 1, 2]) AS k) k ON k.k < 3)
      SELECT method,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN k = 0 AND n_fills = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_no_fill,
        CAST(SUM(CASE WHEN k < n_fills THEN 1 ELSE 0 END) AS BIGINT)
          AS n_fills_total,
        CAST(SUM(CASE WHEN k = 0 AND n_fills > 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_solver_first_ok,
        CAST(SUM(CASE WHEN k < n_fills THEN 1 ELSE 0 END) AS BIGINT)
          AS n_swapper_ok,
        CAST(SUM(CASE WHEN k < n_fills THEN 1 ELSE 0 END) AS BIGINT)
          AS n_default_legs,
        CAST(SUM(CASE WHEN k < n_fills THEN q6l + k ELSE 0 END) AS BIGINT)
          AS sum_nonce
      FROM uxl GROUP BY 1 ORDER BY 1"""))

  /** C2 (PancakeSwap V2/V3 + SushiSwap V2/V3 → the re-instantiation
    * surface): the reference's four pancake/sushi classifier files are
    * BYTE-IDENTICAL re-instantiations of the Uniswap bodies under
    * different Protocol tags — `pancakeswap_v3.rs:9-50` is
    * `uniswap_v3.rs:10-60` with `Protocol::PancakeSwapV3`, and likewise
    * for `pancakeswap_v2.rs` / `sushiswap_v2.rs` / `sushiswap_v3.rs`
    * (18 action_impl! sites, zero new decode logic). The Spark analog
    * is structural: the (protocol, selector) dispatch registry routes
    * all six tags into the SAME two codegen'd decode bodies — this
    * query drives REAL bytes through [[RealAbiOps.v2SwapDecode]] and
    * [[RealAbiOps.v3SwapDecode]] (the very helpers the uniswap queries
    * use) under all six tags and proves per-tag semantics are identical
    * to the uniswap rows: the decoder column is a GROUP KEY, so a tag
    * accidentally forking decode behavior would split its group.
    *
    * Scale shape: one pruned trace scan, one broadcast pool join, two
    * codegen'd decode projections unioned, broadcast token joins, one
    * 6-group rollup. The union is two passes over disjoint slices of
    * one scan — no fact shuffle before the agg. */
  private val c2RealFanout = QueryDef(
    "c2_real_fanout",
    (s, dir) => {
      val po = pools(s).select(col("address").as("p_addr"),
        col("pool_id").as("pid"), col("t0_id"), col("t1_id"))
      val base = framesOf(s, dir, SelV2Swap)
        .join(broadcast(po), col("to_address") === col("p_addr"))
        // same parity contract as c1_univ2_swap/c1_univ3_swap: the
        // zero-side / sign-side direction resolutions need q6,p2 > 0
        .filter(assert_true(col("q6l") > 0 && col("p2l") > 0,
          lit("c2_real_fanout fixture invariant: q6 > 0 AND p2 > 0")).isNull)
        .withColumn("family", (col("p2l") % 2).cast("int"))
        .withColumn("tag_idx", (col("pid") % 3 + 1).cast("int"))
        .withColumn("protocol", when(col("family") === 0,
            element_at(array(lit("uniswap_v2"), lit("sushiswap_v2"),
              lit("pancakeswap_v2")), col("tag_idx")))
          .otherwise(element_at(array(lit("uniswap_v3"), lit("sushiswap_v3"),
            lit("pancakeswap_v3")), col("tag_idx"))))
        .withColumn("t1x", col("t1_id"))
      val v2d = RealAbiOps.v2SwapDecode(
        RealAbiOps.v2SwapPacked(base.filter(col("family") === 0)))
        .select(col("protocol"), lit("v2_swap").as("decoder"),
          col("token_in_id"), col("token_out_id"),
          col("in_raw"), col("out_raw"), col("direction"))
      val v3d = RealAbiOps.v3SwapDecode(
        RealAbiOps.v3SwapPacked(base.filter(col("family") === 1)))
        .select(col("protocol"), lit("v3_swap").as("decoder"),
          col("token_in_id"), col("token_out_id"),
          col("in_raw"), col("out_raw"), col("direction"))
      val ti = decimalsOf(s, "ti_id", "dec_in")
      val to = decimalsOf(s, "to_id", "dec_out")
      v2d.unionByName(v3d)
        .join(broadcast(ti), col("token_in_id") === col("ti_id"), "left")
        .join(broadcast(to), col("token_out_id") === col("to_id"), "left")
        .withColumn("ok", col("dec_in").isNotNull && col("dec_out").isNotNull)
        .groupBy("protocol", "decoder")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("direction") === 1, 1L).otherwise(0L)).as("n_alt_dir"),
          dsum(when(col("ok"),
            col("in_raw").cast("double") / pow10d(col("dec_in")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("ok"),
            col("out_raw").cast("double") / pow10d(col("dec_out")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("protocol")
    },
    withCtes(s""", fan AS (
        SELECT t.direction, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.q6, t.p2,
          p.pool_id AS pid, p.t0_id, p.t1_id,
          CAST(t.p2 AS BIGINT) % 2 AS family
        FROM trace t JOIN pool p ON t.to_address = p.address
        WHERE t.selector = '$SelV2Swap'),
      fanp AS (
        SELECT f.*,
          CASE WHEN family = 0
            THEN ['uniswap_v2', 'sushiswap_v2', 'pancakeswap_v2'][pid % 3 + 1]
            ELSE ['uniswap_v3', 'sushiswap_v3', 'pancakeswap_v3'][pid % 3 + 1]
            END AS protocol,
          CASE WHEN family = 0 THEN 'v2_swap' ELSE 'v3_swap' END AS decoder,
          CASE WHEN direction = 0 THEN t0_id ELSE t1_id END AS tin,
          CASE WHEN direction = 0 THEN t1_id ELSE t0_id END AS tout
        FROM fan f)
      SELECT protocol, decoder, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN i.token_id IS NULL OR o.token_id IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN i.token_id IS NOT NULL AND o.token_id IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        CAST(SUM(CASE WHEN direction = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_alt_dir,
        ${sqlSum(s"""CASE WHEN i.token_id IS NOT NULL AND o.token_id IS NOT NULL
          THEN q6 / ${sqlPow10.format("i.decimals")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN i.token_id IS NOT NULL AND o.token_id IS NOT NULL
          THEN p2 / ${sqlPow10.format("o.decimals")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM fanp LEFT JOIN tok i ON i.token_id = tin
        LEFT JOIN tok o ON o.token_id = tout
      GROUP BY 1, 2 ORDER BY 1"""))
}
