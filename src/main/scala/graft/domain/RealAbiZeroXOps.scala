package graft.domain

import graft.QueryDef
import graft.functions.AbiLayout.{address, bytes, bytes32, calldata, uint,
  words}
import graft.ops.ExactAgg.{dsum, sqlSum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL public ABI layouts, the ZeroX close-out: the three arm families
  * of `classifiers/zerox/mod.rs` still without a real-byte port after
  * the r13 swap-family tail, plus the OneInchFusion no-decode body.
  * With these, all 24 `action_impl!` sites of the reference's zerox
  * file (and both oneinch files) route through a live decode path.
  *
  *   - Native orders (zerox/mod.rs:471-596): `fillLimitOrder` /
  *     `fillRfqOrder` / `fillOrKill{Limit,Rfq}Order` — four selectors,
  *     TWO event layouts sharing one closure body. `LimitOrderFilled`
  *     inserts `feeRecipient` at data word 3 and appends
  *     `takerTokenFeeFilledAmount` / `protocolFeePaid` before the pool
  *     word, so every field past `taker` sits ONE WORD LATER than in
  *     `RfqOrderFilled` (classifier-abis/zero-x/ZeroXInterface.json) —
  *     the only ported family where the SAME body reads its fields at
  *     event-keyed word positions (makerToken 4 vs 3, takerToken 5 vs
  *     4, fills 6/7 vs 5/6, pool 10 vs 7), with `orderHash`/`maker`/
  *     `taker` (words 0-2) the shared prefix.
  *
  *   - The aggregator fan-out (zerox/mod.rs:11-123,338-466 +
  *     one_inch_fusion.rs:6-22): fourteen methods, ONE output shape
  *     (NormalizedAggregator), FOUR recipient sources —
  *     `info.msg_sender` (sellToUniswap, transformERC20,
  *     sellToPancakeSwap, the six multiplex arms), a CALLDATA head word
  *     (the three UniswapV3-feature sells — word 2 after a bytes-offset
  *     word for sellEthForToken, word 3 for the two token sells),
  *     the `LiquidityProviderSwap` LOG (sellToLiquidityProvider — and
  *     uniquely, `from` is the log's provider, not the caller), and
  *     `Address::default()` (OneInchFusion settleOrders). Only the log
  *     arm can fail (`liquidity_provider_swap_field?`); the other
  *     thirteen bodies are infallible.
  *
  *   - `batchFillTakerSignedOtcOrders` (zerox/mod.rs:291-335): the
  *     log-MULTIPLICITY batch whose per-fill token fetch sits INSIDE
  *     the fill loop — one missing token fails the WHOLE batch (the
  *     third gate discipline, vs Aave V2's per-pair filter_map and
  *     UniswapX's no-fetch default-empty legs). The per-fill decode is
  *     the SAME OtcOrderFilled body as the single-fill arms, so this
  *     query drives [[RealAbiOps.otcFilledDecode]] — shared exactly as
  *     the reference shares the event struct.
  */
object RealAbiZeroXOps extends graft.QueryModule {

  import ChainFixture._
  import RealAbiOps.{decimalsOf, framesOf}
  import RealAbiOps.{pow10d, sqlPow10}

  def defs: Seq[QueryDef] =
    Seq(c1ZeroxOrders, c2ZeroxFanout, c5ZeroxBatchFill)

  private def withCtes(sql: String) = Some(s"WITH ${ChainFixture.sqlCtes} $sql")

  private def pad(c: Column): Column = concat(lit("0" * 8), c)

  // ── Native orders: event-keyed word dispatch ──────────────────────────────

  private[domain] val OrderMethods: Seq[String] = Seq(
    "fill_limit_order", "fill_rfq_order",
    "fill_or_kill_limit_order", "fill_or_kill_rfq_order")

  /** LimitOrderFilled: orderHash, maker, taker, feeRecipient, makerToken,
    * takerToken, takerFill, makerFill, takerFeeFilled, protocolFeePaid,
    * pool. */
  private[graft] val LimitFilledLog = words(bytes32(""), address(""),
    address("taker_dec"), address(""), address("maker_tok"),
    address("taker_tok"), uint("taker_fill"), uint("maker_fill"), uint(""),
    uint("proto_fee"), bytes32("pool_dec"))
  /** RfqOrderFilled: orderHash, maker, taker, makerToken, takerToken,
    * takerFill, makerFill, pool. */
  private[graft] val RfqFilledLog = words(bytes32(""), address(""),
    address("taker_dec"), address("maker_tok"), address("taker_tok"),
    uint("taker_fill"), uint("maker_fill"), bytes32("pool_dec"))
  /** The native-order decode core on any frame with (log_data,
    * is_limit): `orderHash`/`maker`/`taker` read the SHARED word 0-2
    * prefix; every later field dispatches its position on the event —
    * LimitOrderFilled {makerToken 4, takerToken 5, takerFill 6,
    * makerFill 7, protocolFeePaid 9, pool 10} vs RfqOrderFilled
    * {3, 4, 5, 6, —, 7}. Note both Interface events order makerToken
    * BEFORE takerToken and takerFill BEFORE makerFill — the OPPOSITE
    * field order of OtcOrderFilled ([[RealAbiOps.otcFilledDecode]]),
    * which is exactly the kind of near-miss the per-event dispatch has
    * to get right. */
  private[graft] def zeroxOrderDecode(t: DataFrame): DataFrame = {
    def read(name: String) = when(col("is_limit"),
      LimitFilledLog.read(col("log_data"), name))
      .otherwise(RfqFilledLog.read(col("log_data"), name))
    Seq("taker_dec", "maker_tok", "taker_tok", "taker_fill", "maker_fill")
      .foldLeft(t)((d, n) => d.withColumn(n, read(n)))
      .withColumn("proto_fee", when(col("is_limit"),
        LimitFilledLog.read(col("log_data"), "proto_fee")))
      .withColumn("pool_dec", read("pool_dec"))
  }

  /** C1 (ZeroX native orders, 4 selectors → Swap): reference semantics
    * pinned (zerox/mod.rs:471-596):
    *   - `limit_order_filled_field?` / `rfq_order_filled_field?` fails
    *     FIRST — no event, no token fetch (n_no_log);
    *   - `try_fetch_token_info(takerToken/makerToken)?` — either
    *     missing quarantines (n_quarantined);
    *   - `from = recipient = logs.taker` (the shared word-2 slot);
    *   - `token_in = takerToken`, `amount_in = takerTokenFilledAmount`
    *     — the taker pays the taker token;
    *   - `protocolFeePaid` EXISTS only in the limit event — the rfq
    *     arms contribute nothing to sum_protocol_fee, pinning that the
    *     dispatch reads a field one family doesn't have.
    *
    * Fixture: SelLiquidation frames; arm = (q6+p2) % 4 (even arms →
    * limit); p2 % 7 == 0 models the absent event; makerToken steps +9
    * through the token ref space so both fetch arms cross the missing
    * ids. Scale shape: one pruned trace scan, two broadcast token
    * joins, one 4-group rollup — no fact shuffle before the agg; every
    * decode is a codegen'd bare-word read. */
  private val c1ZeroxOrders = QueryDef(
    "c1_zerox_orders",
    (s, dir) => {
      val t = framesOf(s, dir, SelLiquidation)
        .withColumn("arm", ((col("q6l") + col("p2l")) % 4).cast("int"))
        .withColumn("method",
          element_at(array(OrderMethods.map(lit): _*), col("arm") + 1))
        .withColumn("is_limit", col("arm") % 2 === 0)
        .withColumn("has_log", col("p2l") % 7 =!= 0)
        .withColumn("out_tid", (col("tok_id") + 9) % TokRefSpace)
      val hash = concat(md5(concat(lit("oh:"), col("tx_hash"))),
        md5(concat(lit("oh2:"), col("tx_hash"))))
      val maker = md5(concat(lit("mkr:"), col("p2l") % 9))
      val makerTok = md5(concat(lit("tok:"), col("out_tid")))
      val takerTok = md5(concat(lit("tok:"), col("tok_id")))
      val poolB32 = concat(md5(concat(lit("pl:"), col("tx_hash"))),
        md5(concat(lit("pl2:"), col("tx_hash"))))
      val packed = t
        .withColumn("log_data", when(!col("has_log"), unhex(lit("")))
          .when(col("is_limit"), LimitFilledLog.pack(hash, maker,
            col("from_address"), md5(concat(lit("fee:"), col("p2l") % 4)),
            makerTok, takerTok, col("q6l"), col("p2l"), col("p2l") % 1000,
            col("q6l") % 777, poolB32))
          .otherwise(RfqFilledLog.pack(hash, maker, col("from_address"),
            makerTok, takerTok, col("q6l"), col("p2l"), poolB32)))
      val tkIn = decimalsOf(s, "in_id", "in_dec")
      val tkOut = decimalsOf(s, "out_id", "out_dec")
      zeroxOrderDecode(packed)
        .join(broadcast(tkIn),
          substring(col("taker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("in_id"))), "left")
        .join(broadcast(tkOut),
          substring(col("maker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("out_id"))), "left")
        .withColumn("status",
          when(!col("has_log"), "no_log") // *_filled_field? fails FIRST
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
          sum(when(col("taker_dec") === pad(col("from_address")), 1L)
            .otherwise(0L)).as("n_taker_ok"),
          sum(when(col("pool_dec") === concat(
            md5(concat(lit("pl:"), col("tx_hash"))),
            substring(md5(concat(lit("pl2:"), col("tx_hash"))), 1, 8)), 1L)
            .otherwise(0L)).as("n_pool_ok"),
          sum(when(col("status") === "ok" && col("is_limit"),
            col("proto_fee")).otherwise(0L)).as("sum_protocol_fee"),
          dsum(when(col("status") === "ok",
            col("taker_fill").cast("double") / pow10d(col("in_dec")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("status") === "ok",
            col("maker_fill").cast("double") / pow10d(col("out_dec")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("method")
    },
    withCtes(s""", zon AS (
        SELECT t.tx_hash, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.tok_id,
          (t.tok_id + 9) % $TokRefSpace AS out_tid,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 4 AS arm,
          CAST(t.p2 AS BIGINT) % 7 <> 0 AS has_log
        FROM trace t WHERE t.selector = '$SelLiquidation'),
      zos AS (
        SELECT z.*,
          ['fill_limit_order', 'fill_rfq_order', 'fill_or_kill_limit_order',
           'fill_or_kill_rfq_order'][arm + 1] AS method,
          arm % 2 = 0 AS is_limit,
          i.decimals AS in_dec, o.decimals AS out_dec,
          CASE WHEN NOT z.has_log THEN 'no_log'
            WHEN i.decimals IS NULL OR o.decimals IS NULL THEN 'quarantined'
            ELSE 'ok' END AS status
        FROM zon z LEFT JOIN tok i ON i.token_id = z.tok_id
          LEFT JOIN tok o ON o.token_id = z.out_tid)
      SELECT method, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN status = 'no_log' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_no_log,
        CAST(SUM(CASE WHEN status = 'quarantined' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(SUM(CASE WHEN has_log THEN 1 ELSE 0 END) AS BIGINT)
          AS n_taker_ok,
        CAST(SUM(CASE WHEN has_log THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pool_ok,
        CAST(SUM(CASE WHEN status = 'ok' AND is_limit
          THEN q6l % 777 ELSE 0 END) AS BIGINT) AS sum_protocol_fee,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN q6l / ${sqlPow10.format("in_dec")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN p2l / ${sqlPow10.format("out_dec")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM zos GROUP BY 1 ORDER BY 1"""))

  // ── The aggregator fan-out: four recipient sources, one output shape ──────

  private[domain] val FanoutMethods: Seq[String] = Seq(
    "sell_to_uniswap", "transform_erc20", "sell_to_pancake_swap",
    "multiplex_batch_sell_eth_for_token",
    "multiplex_batch_sell_token_for_eth",
    "multiplex_batch_sell_token_for_token",
    "multiplex_multi_hop_sell_eth_for_token",
    "multiplex_multi_hop_sell_token_for_eth",
    "multiplex_multi_hop_sell_token_for_token",
    "sell_eth_for_token_to_uniswap_v3",
    "sell_token_for_eth_to_uniswap_v3",
    "sell_token_for_token_to_uniswap_v3",
    "sell_to_liquidity_provider", "settle_orders")

  /** `sellEthForTokenToUniswapV3(bytes encodedPath, uint minBuyAmount,
    * address recipient)`. */
  private[graft] val SellEthCall =
    calldata(bytes("path"), uint(""), address("recip_cd"))
  /** `sellTokenFor{Eth,Token}ToUniswapV3(bytes encodedPath, uint
    * sellAmount, uint minBuyAmount, address recipient)`. */
  private[graft] val SellTokenCall =
    calldata(bytes("path"), uint(""), uint(""), address("recip_cd"))
  /** LiquidityProviderSwap: inputToken, outputToken, inputAmount,
    * outputAmount, provider, recipient. */
  private[graft] val LpSwapLog = words(address(""), address(""), uint(""),
    uint(""), address("from_lp"), address("recip_lp"))
  /** The fan-out decode core on any frame with (calldata, log_data, m):
    * the bytes-typed `encodedPath` contributes only its HEAD OFFSET
    * word (96 = 3 head words for sellEthForToken, 128 = 4 for the two
    * token sells), so the recipient still reads at a STATIC head
    * position — word 2 or 3 by method; the LiquidityProviderSwap
    * fields are all non-indexed data words (provider 4, recipient 5,
    * classifier-abis/zero-x/ZeroXLiquidityProviderFeature.json). */
  private[graft] def zeroxFanoutDecode(t: DataFrame): DataFrame =
    LpSwapLog.decode(t, "log_data")
      .withColumn("off_dec", SellEthCall.offset(col("calldata"), "path"))
      .withColumn("recip_cd",
        when(col("m") === 9, SellEthCall.read(col("calldata"), "recip_cd"))
          .when(col("m") === 10 || col("m") === 11,
            SellTokenCall.read(col("calldata"), "recip_cd")))

  /** C2 (the ZeroX aggregator registry + OneInchFusion → Aggregator):
    * fourteen (protocol, selector) entries, one output shape, four
    * recipient resolutions — the dispatch surface itself is the thing
    * under test, so `recip_src` joins the GROUP KEY: a method routed to
    * the wrong source column mismatches its expected recipient and
    * drops n_recip_ok. Reference semantics pinned:
    *   - msg_sender arms (9): `recipient = info.msg_sender`, no decode
    *     at all (zerox/mod.rs:11-27,88-123,362-466);
    *   - calldata arms (3): `recipient = call_data.recipient`, read
    *     PAST the encodedPath offset word (:30-85);
    *   - the log arm: `from = logs.provider`, `recipient =
    *     logs.recipient` — the only arm where `from` is NOT the caller,
    *     and the only fallible body (`liquidity_provider_swap_field?`,
    *     :338-359);
    *   - settleOrders: `recipient = Address::default()` — the zero
    *     address, child_actions filled downstream
    *     (one_inch_fusion.rs:6-22).
    *
    * Scale shape: one pruned trace scan, zero joins (none of the
    * fourteen bodies touches the DB), one 14-group rollup. */
  private val c2ZeroxFanout = QueryDef(
    "c2_zerox_fanout",
    (s, dir) => {
      val t = framesOf(s, dir, SelTransfer)
        .withColumn("m", ((col("q6l") + col("p2l")) % 14).cast("int"))
        .withColumn("method",
          element_at(array(FanoutMethods.map(lit): _*), col("m") + 1))
        .withColumn("recip_src",
          when(col("m") <= 8, "msg_sender")
            .when(col("m") <= 11, "calldata")
            .when(col("m") === 12, "log")
            .otherwise("default"))
        .withColumn("protocol",
          when(col("m") === 13, "one_inch_fusion").otherwise("zero_x"))
        .withColumn("has_log",
          col("m") =!= 12 || col("p2l") % 6 =!= 0)
        .withColumn("out_tid", (col("tok_id") + 7) % TokRefSpace)
      val rcp = md5(concat(lit("rcp:"), col("p2l") % 11))
      val path = concat(md5(concat(lit("path:"), col("tx_hash"))),
        md5(concat(lit("path2:"), col("tx_hash"))))
      val packed = t
        .withColumn("calldata",
          when(col("m") === 9,
            SellEthCall.pack(col("selector"), path, col("p2l"), rcp))
          .when(col("m") === 10 || col("m") === 11, SellTokenCall.pack(
            col("selector"), path, col("q6l"), col("p2l"), rcp))
          .otherwise(unhex(col("selector"))))
        .withColumn("log_data",
          when(col("m") === 12 && col("has_log"), LpSwapLog.pack(
            md5(concat(lit("tok:"), col("tok_id"))),
            md5(concat(lit("tok:"), col("out_tid"))), col("q6l"), col("p2l"),
            md5(concat(lit("lp:"), col("p2l") % 5)),
            md5(concat(lit("lpr:"), (col("q6l") + col("p2l")) % 8))))
          .otherwise(unhex(lit(""))))
      zeroxFanoutDecode(packed)
        .withColumn("ok",
          col("recip_src") =!= "log" || col("has_log"))
        .withColumn("recip_resolved",
          when(col("recip_src") === "msg_sender", pad(col("from_address")))
            .when(col("recip_src") === "calldata", col("recip_cd"))
            .when(col("recip_src") === "log", col("recip_lp"))
            .otherwise(lit("0" * 40)))
        .withColumn("recip_expected",
          when(col("recip_src") === "msg_sender", pad(col("from_address")))
            .when(col("recip_src") === "calldata",
              pad(md5(concat(lit("rcp:"), col("p2l") % 11))))
            .when(col("recip_src") === "log",
              pad(md5(concat(lit("lpr:"), (col("q6l") + col("p2l")) % 8))))
            .otherwise(lit("0" * 40)))
        .groupBy("protocol", "recip_src", "method")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_no_log"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("ok") &&
            col("recip_resolved") === col("recip_expected"), 1L)
            .otherwise(0L)).as("n_recip_ok"),
          sum(when(col("recip_src") === "log" && col("ok") &&
            col("from_lp") === pad(md5(concat(lit("lp:"), col("p2l") % 5))),
            1L).otherwise(0L)).as("n_from_provider_ok"),
          sum(when(col("recip_src") === "calldata" && col("off_dec") ===
            when(col("m") === 9, 96L).otherwise(128L), 1L).otherwise(0L))
            .as("n_off_ok"),
          sum(when(col("ok"), col("q6l")).otherwise(0L)).as("sum_msg_value"))
        .orderBy("protocol", "method")
    },
    withCtes(s""", zfx AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 14 AS m
        FROM trace t WHERE t.selector = '$SelTransfer'),
      zfs AS (
        SELECT z.*,
          ['sell_to_uniswap', 'transform_erc20', 'sell_to_pancake_swap',
           'multiplex_batch_sell_eth_for_token',
           'multiplex_batch_sell_token_for_eth',
           'multiplex_batch_sell_token_for_token',
           'multiplex_multi_hop_sell_eth_for_token',
           'multiplex_multi_hop_sell_token_for_eth',
           'multiplex_multi_hop_sell_token_for_token',
           'sell_eth_for_token_to_uniswap_v3',
           'sell_token_for_eth_to_uniswap_v3',
           'sell_token_for_token_to_uniswap_v3',
           'sell_to_liquidity_provider', 'settle_orders'][m + 1] AS method,
          CASE WHEN m <= 8 THEN 'msg_sender' WHEN m <= 11 THEN 'calldata'
            WHEN m = 12 THEN 'log' ELSE 'default' END AS recip_src,
          CASE WHEN m = 13 THEN 'one_inch_fusion' ELSE 'zero_x' END
            AS protocol,
          (m <> 12 OR p2l % 6 <> 0) AS ok
        FROM zfx z)
      SELECT protocol, recip_src, method,
        CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_no_log,
        CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_recip_ok,
        CAST(SUM(CASE WHEN recip_src = 'log' AND ok THEN 1 ELSE 0 END)
          AS BIGINT) AS n_from_provider_ok,
        CAST(SUM(CASE WHEN recip_src = 'calldata' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_off_ok,
        CAST(SUM(CASE WHEN ok THEN q6l ELSE 0 END) AS BIGINT)
          AS sum_msg_value
      FROM zfs GROUP BY 1, 2, 3 ORDER BY 1, 3"""))

  // ── batchFill: multiplicity with the all-or-nothing per-fill gate ─────────

  /** C5 (ZeroX `batchFillTakerSignedOtcOrders` → Batch): `[..
    * OtcOrderFilled*]` collects every fill; `otc_order_filled_field?`
    * fails an EMPTY collection (n_no_log); then the loop body runs
    * `try_fetch_token_info(...)?` PER FILL — the `?` propagates out of
    * the whole closure, so ONE missing token on ANY fill kills the
    * ENTIRE batch (n_quarantined), the strictest of the three gate
    * disciplines (Aave V2 flash loans drop just the bad pair; UniswapX
    * never fetches at all). Each surviving fill emits a COMPLETE user
    * swap (from = recipient = that fill's taker, real tokens and
    * amounts — unlike UniswapX's default-empty placeholders);
    * `solver = info.from_address`. Per-fill decode =
    * [[RealAbiOps.otcFilledDecode]], the single-fill arms' body.
    *
    * Fixture: SelMint frames; n_fills = 1 + (q6+p2) % 3, zero on the
    * p2 % 8 == 0 arm; fill k's tokens step (tok_id + 2k, +2k+1) through
    * the ref space so batches straddle the missing ids. Scale shape:
    * one pruned scan, a bounded ×3 explode, broadcast token joins, one
    * tx-local window (the any-fill-missing flag), one 4-group rollup. */
  private val c5ZeroxBatchFill = QueryDef(
    "c5_zerox_batchfill",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = framesOf(s, dir, SelMint)
        .withColumn("n_fills",
          when(col("p2l") % 8 === 0, 0L)
            .otherwise(lit(1L) + (col("q6l") + col("p2l")) % 3))
      def fillAt(k: Int) = struct(
        lit(k).as("k"),
        when(col("n_fills") > k, RealAbiOps.OtcFilledLog.pack(
          concat(md5(concat(lit("oh:"), col("tx_hash"), lit(s":$k"))),
            md5(concat(lit("oh2:"), col("tx_hash"), lit(s":$k")))),
          md5(concat(lit("mkr:"), col("p2l") % 9)), col("from_address"),
          md5(concat(lit("tok:"), (col("tok_id") + 2 * k + 1) % TokRefSpace)),
          md5(concat(lit("tok:"), (col("tok_id") + 2 * k) % TokRefSpace)),
          col("p2l") + k, col("q6l") + k))
          .otherwise(unhex(lit(""))).as("log_data"))
      val legs = t
        .select(col("tx_hash"), col("trace_idx"), col("from_address"),
          col("q6l"), col("p2l"), col("n_fills"),
          explode(array(fillAt(0), fillAt(1), fillAt(2))).as("f"))
        .select(col("tx_hash"), col("trace_idx"), col("from_address"),
          col("q6l"), col("p2l"), col("n_fills"),
          col("f.k").as("k"), col("f.log_data").as("log_data"))
        .withColumn("is_fill", col("k") < col("n_fills"))
      val tkIn = decimalsOf(s, "in_id", "in_dec")
      val tkOut = decimalsOf(s, "out_id", "out_dec")
      val w = Window.partitionBy("tx_hash", "trace_idx")
      RealAbiOps.otcFilledDecode(legs)
        .join(broadcast(tkIn),
          substring(col("taker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("in_id"))), "left")
        .join(broadcast(tkOut),
          substring(col("maker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("out_id"))), "left")
        .withColumn("leg_missing", when(col("is_fill") &&
          (col("in_dec").isNull || col("out_dec").isNull), 1L)
          .otherwise(0L))
        // the ? inside the fill loop: ANY missing leg fails the batch
        .withColumn("batch_missing", max(col("leg_missing")).over(w))
        .withColumn("batch_ok",
          col("n_fills") > 0 && col("batch_missing") === 0L)
        .groupBy("n_fills")
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_frames"),
          sum(when(col("k") === 0 && col("n_fills") === 0L, 1L)
            .otherwise(0L)).as("n_no_log"),
          sum(when(col("k") === 0 && col("n_fills") > 0L &&
            col("batch_missing") === 1L, 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("k") === 0 && col("batch_ok"), 1L).otherwise(0L))
            .as("n_ok"),
          sum(when(col("is_fill") && col("batch_ok"), 1L).otherwise(0L))
            .as("n_swaps_emitted"),
          sum(when(col("is_fill") && col("batch_ok") &&
            col("taker_dec") === pad(col("from_address")), 1L)
            .otherwise(0L)).as("n_taker_ok"),
          dsum(when(col("is_fill") && col("batch_ok"),
            col("taker_fill").cast("double") / pow10d(col("in_dec")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("is_fill") && col("batch_ok"),
            col("maker_fill").cast("double") / pow10d(col("out_dec")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("n_fills")
    },
    withCtes(s""", zbf AS (
        SELECT t.tx_hash, t.trace_idx, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.tok_id,
          CASE WHEN CAST(t.p2 AS BIGINT) % 8 = 0 THEN 0
            ELSE 1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 END
            AS n_fills
        FROM trace t WHERE t.selector = '$SelMint'),
      zbl AS (
        SELECT f.*, k.k, k.k < f.n_fills AS is_fill,
          i.decimals AS in_dec, o.decimals AS out_dec,
          CASE WHEN k.k < f.n_fills
            AND (i.decimals IS NULL OR o.decimals IS NULL)
            THEN 1 ELSE 0 END AS leg_missing
        FROM zbf f
        JOIN (SELECT UNNEST([0, 1, 2]) AS k) k ON k.k < 3
        LEFT JOIN tok i ON i.token_id = (f.tok_id + 2 * k.k) % $TokRefSpace
        LEFT JOIN tok o ON o.token_id = (f.tok_id + 2 * k.k + 1) % $TokRefSpace),
      zbw AS (
        SELECT l.*,
          MAX(leg_missing) OVER (PARTITION BY tx_hash, trace_idx)
            AS batch_missing,
          n_fills > 0 AND MAX(leg_missing)
            OVER (PARTITION BY tx_hash, trace_idx) = 0 AS batch_ok
        FROM zbl l)
      SELECT n_fills, CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_frames,
        CAST(SUM(CASE WHEN k = 0 AND n_fills = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_no_log,
        CAST(SUM(CASE WHEN k = 0 AND n_fills > 0 AND batch_missing = 1
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN k = 0 AND batch_ok THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(SUM(CASE WHEN is_fill AND batch_ok THEN 1 ELSE 0 END)
          AS BIGINT) AS n_swaps_emitted,
        CAST(SUM(CASE WHEN is_fill AND batch_ok THEN 1 ELSE 0 END)
          AS BIGINT) AS n_taker_ok,
        ${sqlSum(s"""CASE WHEN is_fill AND batch_ok
          THEN (q6l + k) / ${sqlPow10.format("in_dec")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN is_fill AND batch_ok
          THEN (p2l + k) / ${sqlPow10.format("out_dec")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM zbw GROUP BY 1 ORDER BY 1"""))
}
