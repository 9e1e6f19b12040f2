package graft.domain

import graft.QueryDef
import graft.functions.{AbiLayout, AbiRead}
import graft.functions.AbiLayout.{address, arr, bytes, bytes32, calldata,
  elems, fields, int, string, tuple, uint, words}
import graft.ops.ExactAgg.{dsum, sqlSum}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** REAL public ABI layouts ported end-to-end from the reference's
  * classifier corpus (VERDICT r11 stretch #8) — not the five synthetic
  * breadth layouts, but the concrete argument/event shapes of two named
  * protocols, decoded from real bytes through codegen'd expressions:
  *
  *   - Maker PSM `buyGem(address usr, uint256 gemAmt)` /
  *     `sellGem(address usr, uint256 gemAmt)`
  *     (brontes-classifier/src/classifiers/maker/psm.rs): word0 is an
  *     ADDRESS (12-byte zero pad + 20 address bytes — a decode shape no
  *     other layout here has,
  *     [[graft.functions.AbiCalldata.abi_address]]), word1 the
  *     gem amount; the FEE rides the BuyGem/SellGem EVENT LOG, and the
  *     DAI-side amount COMBINES calldata and log: buy `amount_in =
  *     gemAmt + gemAmt·fee`, sell `amount_out = gemAmt − gemAmt·fee`
  *     (psm.rs:40-47, :90-97). token0 is always DAI, token1 the gem,
  *     both resolved from the pool registry (psm.rs:29-34).
  *
  *   - Curve metapool-impl `exchange_underlying(int128 i, int128 j,
  *     uint256 dx, uint256 min_dy)`
  *     (classifiers/curve/swaps/v1_meta.rs exchange_underlying_0):
  *     amounts AND coin ids come from the `TokenExchangeUnderlying` LOG
  *     (sold_id ‖ tokens_sold ‖ bought_id ‖ tokens_bought — v1_meta.rs
  *     `log.tokens_sold`), token identity resolves through the (pool,
  *     coin_index) registry, and — the impl is DELEGATECALLED — the pool
  *     is the CALLING contract, `info.from_address`, not the call target
  *     (v1_meta.rs `pool: info.from_address`). The calldata is decoded
  *     too and cross-checked against the log, since the reference trusts
  *     the log over the args.
  *
  * Selectors stay fixture-derived (no keccak in-container); the WORD
  * layouts, decode sources, and amount math are the reference's. Packing
  * is in-query (builtin concat/hex stay codegen'd) and every oracle
  * recomputes the aggregates from the SOURCE integer columns —
  * decode-vs-ground-truth, the c1_ext_family pattern.
  *
  * Scale shape: one trace scan each, broadcast dimension joins only, all
  * decode expressions inside whole-stage codegen (PlanSpec pins
  * no-fallback for the f5 family; these reuse the same expression set
  * plus [[graft.functions.AbiCalldata.abi_address]]).
  */
object RealAbiOps extends graft.QueryModule {

  import ChainFixture._

  def defs: Seq[QueryDef] = Seq(c1PsmSwap, c1CurveUnderlying, c1UniV3Swap,
    c1BalancerOnSwap, c1AaveLiquidation, c1UniV2Swap, c1CompoundLiquidation,
    c1UniV3Mint, c1UniV3BurnCollect, q5JitReal, c3CurveFactory,
    c1AaveFlashloan, c5FlashloanReal, c5SettleReal, c1BalancerJoinExit,
    c1BalancerRegister, c1BalancerFlashloan, c1OneinchRouter,
    c1UniV2MintBurn, c1ZeroxOtc, c1DssFlash, c1DodoShares,
    c3DiscoveryBreadth, c5OneinchCollapse)

  private def withCtes(sql: String) = Some(s"WITH ${ChainFixture.sqlCtes} $sql")

  /** Exact 10^dec as DOUBLE: every power of ten through 10^22 is exactly
    * representable, so `raw / pow10d(dec)` is ONE correctly-rounded IEEE op
    * — bit-identical across engines without trusting either engine's
    * pow(). Spark side: a literal array built from exact BigDecimal powers
    * (element_at is codegen'd); DuckDB side: a correctly-rounded
    * decimal-string parse of the same values. */
  private val pow10Lits: Column =
    array((0 to 22).map(d => lit(BigDecimal(10).pow(d).toDouble)): _*)
  private[domain] def pow10d(dec: Column) = element_at(pow10Lits, dec.cast("int") + 1)

  private[domain] val sqlPow10 = "CAST('1' || REPEAT('0', %s) AS DOUBLE)"

  /** The `sel` trace frames with the two fixture integers every layout
    * here packs, as BIGINT: q6l (quantity-derived) and p2l (price). */
  private[domain] def framesOf(s: org.apache.spark.sql.SparkSession, dir: String,
      sel: String) = tracesTable(s, dir).filter(col("selector") === sel)
    .withColumn("q6l", col("q6").cast("long"))
    .withColumn("p2l", col("p2").cast("long"))

  /** The token registry as (`id`, `dec`): id and decimals. */
  private[domain] def decimalsOf(s: org.apache.spark.sql.SparkSession, id: String,
      dec: String) = tokens(s).select(col("token_id").as(id), col("decimals").as(dec))

  /** The registry pairs of one protocol's pools. */
  private def pairsOf(s: org.apache.spark.sql.SparkSession, protocol: String) =
    pools(s).filter(col("protocol") === protocol)
      .select(col("address").as("p_addr"), col("t0_id"), col("t1_id"))

  /** The C9 hook: a deterministic sliver of rows models a stale registry
    * entry whose token1 resolves to an unregistered id (40/41). */
  private val staleT1 = when((col("q6l") + col("p2l")) % 41 === 0,
    lit(NumTokens.toLong) + col("p2l") % 2).otherwise(col("t1_id"))

  private[graft] val PsmCall = calldata(address("usr"), uint("gem_amt"))
  /** BuyGem/SellGem data: the gem amount echo, then the fee. */
  private[graft] val PsmLog = words(uint(""), uint("fee_dec"))
  /** The PSM decode core on any frame with (calldata, log_data, is_buy):
    * usr from the address word, gemAmt from calldata word1, fee (bps, DAI
    * side) from the event log's word1, and the DAI leg combining them —
    * buy `amount_in = out + out·fee`, sell `amount_out = in − in·fee`
    * (psm.rs:40-47, :90-97). Unit-tested on planted bytes in the
    * reference's per-classifier test shape (psm equality asserts like
    * v1_meta.rs:228-340). */
  private[graft] def psmDecode(t: org.apache.spark.sql.DataFrame) =
    PsmLog.decode(PsmCall.decode(t, "calldata"), "log_data")
    .withColumn("gem_scaled", col("gem_amt").cast("double") / 1000000.0)
    .withColumn("dai_leg", when(col("is_buy"),
        col("gem_scaled") +
          col("gem_scaled") * (col("fee_dec").cast("double") / 10000.0))
      .otherwise(col("gem_scaled") -
        col("gem_scaled") * (col("fee_dec").cast("double") / 10000.0)))

  private[graft] val UnderlyingLog =
    words(uint("sid"), uint("amt_in"), uint("bid"), uint("amt_out"))
  /** `exchange_underlying(int128 i, int128 j, uint256 dx, uint256 min_dy)`. */
  private[graft] val UnderlyingCall =
    calldata(uint("cd_i"), uint(""), uint("cd_dx"), uint(""))
  /** The exchange_underlying decode core on any frame with (log_data,
    * calldata, caller_pool): coin ids and amounts from the
    * TokenExchangeUnderlying LOG, calldata echo for the cross-check; the
    * POOL is the frame's CALLER (v1_meta.rs `pool: info.from_address` —
    * the metapool impl is delegatecalled). */
  private[graft] def underlyingDecode(t: org.apache.spark.sql.DataFrame) =
    UnderlyingCall.decode(UnderlyingLog.decode(t, "log_data"), "calldata")

  /** C1 (Maker PSM): buyGem on direction-0 frames, sellGem on direction-1.
    * The usr ADDRESS word round-trips through
    * [[graft.functions.AbiCalldata.abi_address]] (fixture md5
    * addresses are 16 bytes → the packed 20-byte address is 4 zero bytes ‖
    * md5); the fee (basis-point integer, DAI side) rides the log's word1
    * next to the echoed gem amount. The gem is the pool's token1, DAI its
    * token0 (psm.rs:29-34); gem token ids 40/41 cross the C9 missing-token
    * path through a real address-word decode. */
  private val c1PsmSwap = QueryDef(
    "c1_psm_swap",
    (s, dir) => {
      val t = framesOf(s, dir, SelV2Swap)
        .withColumn("is_buy", col("direction") === 0)
        .withColumn("fee_bps", col("p2l") % 100)
        // address word: 12 zero bytes ‖ (4 zero bytes ‖ 16 md5 bytes)
        .withColumn("calldata",
          PsmCall.pack(col("selector"), col("from_address"), col("q6l")))
        .withColumn("log_data", PsmLog.pack(col("q6l"), col("fee_bps")))
      val dec = psmDecode(t)
      val p = pools(s).select(col("address").as("p_addr"),
        col("t0_id").as("dai_id"), col("t1_id").as("gem_id"))
      val tk = decimalsOf(s, "tk_id", "decimals")
      dec.join(broadcast(p), col("to_address") === col("p_addr"))
        .join(broadcast(tk), col("gem_id") === col("tk_id"), "left")
        .groupBy(when(col("is_buy"), "buy_gem").otherwise("sell_gem")
          .as("action"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("usr") === concat(lit("0" * 8), col("from_address")),
            1L).otherwise(0L)).as("n_usr_ok"),
          sum(when(col("gem_amt") === col("q6l") &&
            col("fee_dec") === col("fee_bps"), 1L).otherwise(0L))
            .as("n_roundtrip_ok"),
          dsum(col("gem_scaled")).as("sum_gem"),
          dsum(col("dai_leg")).as("sum_dai"),
          countDistinct(col("dai_id")).as("n_dai_ids"),
          sum(when(col("decimals").isNull, 1L).otherwise(0L))
            .as("n_missing_gem_dec"))
        .orderBy("action")
    },
    withCtes(s"""SELECT
        CASE WHEN t.direction = 0 THEN 'buy_gem' ELSE 'sell_gem' END AS action,
        COUNT(*) AS n,
        COUNT(*) AS n_usr_ok,
        COUNT(*) AS n_roundtrip_ok,
        ${sqlSum("t.q6 / 1000000.0e0")} AS sum_gem,
        ${sqlSum("""CASE WHEN t.direction = 0
            THEN t.q6 / 1000000.0e0
               + (t.q6 / 1000000.0e0) * ((CAST(t.p2 AS BIGINT) % 100) / 10000.0e0)
            ELSE t.q6 / 1000000.0e0
               - (t.q6 / 1000000.0e0) * ((CAST(t.p2 AS BIGINT) % 100) / 10000.0e0)
          END""")} AS sum_dai,
        CAST(COUNT(DISTINCT p.t0_id) AS BIGINT) AS n_dai_ids,
        CAST(SUM(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_missing_gem_dec
      FROM trace t
      JOIN pool p ON t.to_address = p.address
      LEFT JOIN tok tk ON p.t1_id = tk.token_id
      WHERE t.selector = '$SelV2Swap'
      GROUP BY 1 ORDER BY 1"""))

  /** C1 (Curve exchange_underlying): the impl frame is synthesized as the
    * DELEGATECALL the reference sees — the metapool (the trace's target)
    * becomes the impl call's FROM, and the pool identity is that caller
    * (v1_meta.rs `pool: info.from_address`). Coin ids and amounts decode
    * from the TokenExchangeUnderlying LOG; the calldata's (i, j, dx) are
    * cross-checked against the log's (sold_id, bought_id, tokens_sold). */
  private val c1CurveUnderlying = QueryDef(
    "c1_curve_underlying",
    (s, dir) => {
      val t = IndirectOps.curveSwapFrames(s, dir)
        // the impl frame: caller = the metapool (delegatecall shape)
        .withColumn("caller_pool", col("to_address"))
        .withColumn("calldata", UnderlyingCall.pack(col("selector"),
          col("i"), col("j"), col("q6l"), col("p2l")))
        .withColumn("log_data",
          UnderlyingLog.pack(col("i"), col("q6l"), col("j"), col("p2l")))
      val dec = underlyingDecode(t)
      val pcIn = IndirectOps.poolCoins(s).select(col("address").as("in_addr"),
        col("coin_idx").as("in_idx"), col("coin_token_id").as("token_in_id"))
      val pcOut = IndirectOps.poolCoins(s).select(col("address").as("out_addr"),
        col("coin_idx").as("out_idx"), col("coin_token_id").as("token_out_id"))
      dec
        .join(broadcast(pcIn), col("caller_pool") === col("in_addr") &&
          col("sid") === col("in_idx"))
        .join(broadcast(pcOut), col("caller_pool") === col("out_addr") &&
          col("bid") === col("out_idx"))
        .groupBy(col("token_in_id"))
        .agg(count(lit(1)).as("n"),
          dsum(col("amt_in").cast("double") / 1000000.0).as("sum_sold"),
          dsum(col("amt_out").cast("double") / 1000000.0).as("sum_bought"),
          countDistinct(col("token_out_id")).as("n_out_tokens"),
          // the reference trusts the LOG; the calldata echo must agree
          sum(when(col("cd_i") === col("sid") && col("cd_dx") === col("amt_in"),
            1L).otherwise(0L)).as("n_log_matches_calldata"))
        .orderBy("token_in_id")
    },
    withCtes(s""", pcu AS (
        SELECT p.address, k AS coin_idx,
          (p.pool_id % $NumTokens + k) % $TokRefSpace AS coin_token_id
        FROM pool p CROSS JOIN range(4) t(k)
        WHERE p.protocol = 'curve' AND k < 2 + p.pool_id % 3),
      cuw AS (
        SELECT t.*, CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          2 + p.pool_id % 3 AS n_coins
        FROM trace t JOIN pool p
          ON t.to_address = p.address AND p.protocol = 'curve'
        WHERE t.selector = '$SelCurveSwap'),
      cuij AS (
        SELECT *, q6l % n_coins AS i,
          (q6l % n_coins + 1 + p2l % (n_coins - 1)) % n_coins AS j
        FROM cuw)
      SELECT ci.coin_token_id AS token_in_id, COUNT(*) AS n,
        ${sqlSum("q6 / 1000000.0e0")} AS sum_sold,
        ${sqlSum("p2 / 1000000.0e0")} AS sum_bought,
        CAST(COUNT(DISTINCT cj.coin_token_id) AS BIGINT) AS n_out_tokens,
        COUNT(*) AS n_log_matches_calldata
      FROM cuij c
      JOIN pcu ci ON c.to_address = ci.address AND c.i = ci.coin_idx
      JOIN pcu cj ON c.to_address = cj.address AND c.j = cj.coin_idx
      GROUP BY 1 ORDER BY 1"""))

  private[graft] val V3SwapCall = calldata(address("recipient"),
    uint(""), int("spec_dec"), uint("")) // zeroForOne, sqrtPriceLimitX96
  /** V3 `swap`/`mint`/`burn`/`collect` return the pool's two deltas. */
  private[graft] val V3Deltas = words(int("a0"), int("a1"))
  /** A V3 `swap` frame's calldata and return deltas from (direction,
    * q6l, p2l): direction 0 pays q6l of token0 for p2l of token1. */
  private[graft] def v3SwapPacked(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("zero_for_one", col("direction") === 0)
    // pool-view deltas: input side positive, trader-bound side negative
    .withColumn("a0_src",
      when(col("zero_for_one"), col("q6l")).otherwise(-col("p2l")))
    .withColumn("a1_src",
      when(col("zero_for_one"), -col("p2l")).otherwise(col("q6l")))
    // exact-input (positive) vs exact-output (negative) alternates
    .withColumn("spec_src",
      when((col("q6l") + col("p2l")) % 2 === 0, col("q6l")).otherwise(-col("p2l")))
    .withColumn("calldata", V3SwapCall.pack(col("selector"),
      col("from_address"), when(col("zero_for_one"), 1L).otherwise(0L),
      col("spec_src"), col("p2l") % 1000000)) // sqrtPriceLimitX96 stand-in
    .withColumn("ret_data", V3Deltas.pack(col("a0_src"), col("a1_src")))
  /** The V3 swap decode core on any frame with (calldata, ret_data, t0_id,
    * t1x): recipient from the calldata address word, amountSpecified as
    * SIGNED calldata int256, the two pool-view deltas as SIGNED return
    * words, then the reference's sign resolution — `amount0 < 0` ⇒ token1
    * in / token0 out with `in = amount1, out = |amount0|`, else the
    * converse (uniswap_v3.rs:31-46). Unit-tested on planted bytes for both
    * sign arms in the reference's per-classifier test shape. */
  private[graft] def v3SwapDecode(t: org.apache.spark.sql.DataFrame) =
    V3Deltas.decode(V3SwapCall.decode(t, "calldata"), "ret_data")
    .withColumn("token_in_id",
      when(col("a0") < 0, col("t1x")).otherwise(col("t0_id")))
    .withColumn("token_out_id",
      when(col("a0") < 0, col("t0_id")).otherwise(col("t1x")))
    .withColumn("in_raw", when(col("a0") < 0, col("a1")).otherwise(col("a0")))
    .withColumn("out_raw",
      when(col("a0") < 0, -col("a0")).otherwise(-col("a1")))

  /** The SwapRequest struct, offset-passed for its `bytes userData`. */
  private[graft] val SwapRequest =
    tuple("", uint("kind"), address("tok_in_dec"), address("tok_out_dec"),
      uint("amt_dec"), bytes32("pool_dec"), uint(""), address("from_dec"),
      address(""), bytes("")) // lastChangeBlock, to, userData
  private[graft] val OnSwapCall = calldata(SwapRequest,
    uint("bal_in"), uint("")) // balanceTokenIn, balanceTokenOut
  private[graft] val OnSwapRet = words(uint("out_dec"))
  /** The onSwap decode core on any frame with (calldata, ret_data): the
    * SwapRequest tuple fields through the offset indirection (kind,
    * tokenIn/tokenOut/from as validated addresses, amount, the poolId's
    * LEADING 20 bytes as the pool), plus head word1 (balanceTokenIn) and
    * the single-word return amount (balancer_v2.rs:20-47). */
  private[graft] def onSwapDecode(t: org.apache.spark.sql.DataFrame) =
    OnSwapRet.decode(OnSwapCall.decode(t, "calldata"), "ret_data")

  private[graft] val LiquidationCall = calldata(address("coll_dec"),
    address("debt_dec"), address("debtor"), uint("debt_to_cover"),
    uint("receive_atoken"))
  /** The liquidationCall decode core on any frame with (calldata): five
    * static words — three validated addresses, the debt amount, and the
    * receiveAToken bool (aave/v3.rs:10-40). */
  private[graft] def liquidationCallDecode(t: org.apache.spark.sql.DataFrame) =
    LiquidationCall.decode(t, "calldata")
      .withColumn("receive_atoken", col("receive_atoken") === 1)

  /** C1 (Uniswap V3 `swap`): the reference decodes amounts from the call's
    * RETURN data as SIGNED int256 deltas — `(int256 amount0, int256
    * amount1)`, the POOL's view, where the trader-bound side is NEGATIVE —
    * and resolves direction from the SIGN: `amount0 < 0` ⇒ token1 in /
    * token0 out, else token0 in / token1 out
    * (classifiers/uniswap/uniswap_v3.rs:22-46 `return_data.amount0/
    * amount1`, `is_negative()` branch). Calldata carries `swap(address
    * recipient, bool zeroForOne, int256 amountSpecified, uint160
    * sqrtPriceLimitX96, bytes)` — amountSpecified is NEGATIVE for
    * exact-output swaps, exercising the signed CALLDATA decode on both
    * sign arms; the reference reads only `recipient` from it (:24).
    * Amounts scale by each token's OWN decimals
    * (`to_scaled_rational(t0_info.decimals)`, :33-45) — real per-token
    * scaling, not the fixture's fixed 1e6 — and a missing token info
    * fails the whole classification (`try_fetch_token_info(...)?`,
    * :28-29), so rows touching the unregistered ids 40/41 quarantine
    * instead of summing (the C9 path).
    *
    * Scale shape: one pruned trace scan, two broadcast dim joins, every
    * decode codegen'd; the signed return decode is the innermost loop. */
  private val c1UniV3Swap = QueryDef(
    "c1_univ3_swap",
    (s, dir) => {
      val up = pairsOf(s, "uniswap_v3")
      val t = framesOf(s, dir, SelV3Swap)
        .join(broadcast(up), col("to_address") === col("p_addr"))
        // C9 hook: the uniswap_v3 pool subspace never references the
        // unregistered ids 40/41 itself, so a deterministic sliver of rows
        // models a stale registry entry — token1 resolves to a missing id
        // and try_fetch_token_info fails (quarantine, not a sum)
        .withColumn("t1x", staleT1)
        // PARITY CONTRACT: the sign-resolved direction (a0 < 0 ⇒ token1
        // in) agrees with the oracle's direction-column resolution ONLY
        // because q6/p2 are strictly positive (TPC-H l_quantity ≥ 1,
        // l_extendedprice > 0) — a zero amount would make the two
        // resolutions disagree and out_raw negative. Fail LOUDLY if a
        // future fixture/scale breaks that invariant.
        .filter(assert_true(col("q6l") > 0 && col("p2l") > 0,
          lit("c1_univ3_swap fixture invariant: q6 > 0 AND p2 > 0")).isNull)
      val dec = v3SwapDecode(v3SwapPacked(t))
      val ti = decimalsOf(s, "ti_id", "dec_in")
      val to = decimalsOf(s, "to_id", "dec_out")
      dec
        .join(broadcast(ti), col("token_in_id") === col("ti_id"), "left")
        .join(broadcast(to), col("token_out_id") === col("to_id"), "left")
        .withColumn("ok", col("dec_in").isNotNull && col("dec_out").isNotNull)
        .groupBy("token_in_id")
        .agg(count(lit(1)).as("n"),
          sum(when(col("spec_dec") < 0, 1L).otherwise(0L)).as("n_exact_out"),
          sum(when(col("recipient") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recipient_ok"),
          dsum(when(col("ok"),
            col("in_raw").cast("double") / pow10d(col("dec_in")))
            .otherwise(lit(0.0))).as("sum_amount_in"),
          dsum(when(col("ok"),
            col("out_raw").cast("double") / pow10d(col("dec_out")))
            .otherwise(lit(0.0))).as("sum_amount_out"),
          countDistinct(col("token_out_id")).as("n_out_tokens"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("token_in_id")
    },
    withCtes(s""", v3w AS (
        SELECT t.direction, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.q6, t.p2, p.t0_id,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'uniswap_v3'
        WHERE t.selector = '$SelV3Swap')
      SELECT
        CASE WHEN v.direction = 0 THEN v.t0_id ELSE v.t1x END AS token_in_id,
        COUNT(*) AS n,
        CAST(SUM(CASE WHEN (v.q6l + v.p2l) % 2 = 1
          THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_out,
        COUNT(*) AS n_recipient_ok,
        ${sqlSum(s"""CASE WHEN ti.token_id IS NOT NULL AND tt.token_id IS NOT NULL
          THEN v.q6 / ${sqlPow10.format("ti.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_in,
        ${sqlSum(s"""CASE WHEN ti.token_id IS NOT NULL AND tt.token_id IS NOT NULL
          THEN v.p2 / ${sqlPow10.format("tt.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_out,
        CAST(COUNT(DISTINCT CASE WHEN v.direction = 0 THEN v.t1x
          ELSE v.t0_id END) AS BIGINT) AS n_out_tokens,
        CAST(SUM(CASE WHEN ti.token_id IS NULL OR tt.token_id IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
      FROM v3w v
      LEFT JOIN tok ti
        ON ti.token_id = CASE WHEN v.direction = 0 THEN v.t0_id ELSE v.t1x END
      LEFT JOIN tok tt
        ON tt.token_id = CASE WHEN v.direction = 0 THEN v.t1x ELSE v.t0_id END
      GROUP BY 1 ORDER BY 1"""))

  /** C1 (Balancer V2 `onSwap`): the SwapRequest STRUCT carries a dynamic
    * `bytes userData` member, so the whole tuple is ABI-passed by OFFSET —
    * head word0 points at the tail where the struct's static fields sit as
    * consecutive words `(kind, tokenIn, tokenOut, amount, poolId,
    * lastChangeBlock, from, to, userData-offset)`
    * (classifiers/balancer/balancer_v2.rs:20-47, IPoolSwapStructs). The
    * pool identity is NOT an argument address: it is the LEADING 20 bytes
    * of the `bytes32 poolId` field (`pool_id_to_address`, :219-226 — the
    * trailing 12 bytes are specialization + nonce, free-form). amount_in
    * rides the CALLDATA (`swapRequest.amount`), amount_out the single-word
    * RETURN (`return_data.amount`, :32); token infos resolve from the
    * DECODED tokenIn/tokenOut addresses and a missing token fails the
    * classification (`try_fetch_token_info(...)?`). from/to come from the
    * struct, not the frame (:37-38).
    *
    * Fixture casting: sushiswap-protocol pools play the Balancer pools on
    * SelV3Swap frames (disjoint from [[c1UniV3Swap]]'s uniswap_v3 set); the
    * 12 junk poolId bytes derive from p2 so they are nonzero and varied.
    *
    * Scale shape: one pruned trace scan + broadcast dims; the decode is
    * four offset-following expressions, all codegen'd. */
  private val c1BalancerOnSwap = QueryDef(
    "c1_balancer_onswap",
    (s, dir) => {
      val bp = pairsOf(s, "sushiswap")
      val t = framesOf(s, dir, SelV3Swap)
        .join(broadcast(bp), col("to_address") === col("p_addr"))
        // C9 hook, same rotation as c1_univ3_swap: sushiswap pools never
        // reference ids 40/41, so a sliver of rows models a stale entry
        .withColumn("t1x", staleT1)
        .withColumn("tin_id",
          when(col("direction") === 0, col("t0_id")).otherwise(col("t1x")))
        .withColumn("tout_id",
          when(col("direction") === 0, col("t1x")).otherwise(col("t0_id")))
        .withColumn("kind_src", col("p2l") % 2) // GIVEN_IN / GIVEN_OUT
        .withColumn("calldata", OnSwapCall.pack(col("selector"),
          fields(col("kind_src"), md5(concat(lit("tok:"), col("tin_id"))),
            md5(concat(lit("tok:"), col("tout_id"))), col("q6l"),
            concat(lit("0" * 8), col("p_addr"),
              lpad(lower(hex(col("p2l"))), 24, "0")),
            col("block_number"), col("from_address"), col("from_address"),
            lit("")),
          col("q6l") * 2, col("p2l") * 2))
        .withColumn("ret_data", OnSwapRet.pack(col("p2l")))
      val dec = onSwapDecode(t)
      val ti = tokens(s).select(col("address").as("ti_addr"),
        col("token_id").as("token_in_id"), col("decimals").as("dec_in"))
      val to = tokens(s).select(col("address").as("to_addr"),
        col("decimals").as("dec_out"))
      dec
        // token info from the DECODED addresses (try_fetch_token_info)
        .join(broadcast(ti),
          substring(col("tok_in_dec"), 9, 32) === col("ti_addr"), "left")
        .join(broadcast(to),
          substring(col("tok_out_dec"), 9, 32) === col("to_addr"), "left")
        .withColumn("ok", col("dec_in").isNotNull && col("dec_out").isNotNull)
        .groupBy(when(col("kind") === 0, "given_in").otherwise("given_out")
          .as("kind"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pool_dec") === concat(lit("0" * 8), col("p_addr")),
            1L).otherwise(0L)).as("n_pool_ok"),
          sum(when(col("amt_dec") === col("q6l") &&
            col("bal_in") === col("q6l") * 2 &&
            col("from_dec") === concat(lit("0" * 8), col("from_address")),
            1L).otherwise(0L)).as("n_roundtrip_ok"),
          dsum(when(col("ok"),
            col("amt_dec").cast("double") / pow10d(col("dec_in")))
            .otherwise(lit(0.0))).as("sum_amount_in"),
          dsum(when(col("ok"),
            col("out_dec").cast("double") / pow10d(col("dec_out")))
            .otherwise(lit(0.0))).as("sum_amount_out"),
          countDistinct(col("token_in_id")).as("n_in_tokens"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("kind")
    },
    withCtes(s""", bw AS (
        SELECT t.direction, CAST(t.p2 AS BIGINT) AS p2l, t.q6, t.p2, p.t0_id,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'sushiswap'
        WHERE t.selector = '$SelV3Swap')
      SELECT
        CASE WHEN b.p2l % 2 = 0 THEN 'given_in' ELSE 'given_out' END AS kind,
        COUNT(*) AS n,
        COUNT(*) AS n_pool_ok,
        COUNT(*) AS n_roundtrip_ok,
        ${sqlSum(s"""CASE WHEN ti.token_id IS NOT NULL AND tt.token_id IS NOT NULL
          THEN b.q6 / ${sqlPow10.format("ti.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_in,
        ${sqlSum(s"""CASE WHEN ti.token_id IS NOT NULL AND tt.token_id IS NOT NULL
          THEN b.p2 / ${sqlPow10.format("tt.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_out,
        CAST(COUNT(DISTINCT ti.token_id) AS BIGINT) AS n_in_tokens,
        CAST(SUM(CASE WHEN ti.token_id IS NULL OR tt.token_id IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
      FROM bw b
      LEFT JOIN tok ti
        ON ti.token_id = CASE WHEN b.direction = 0 THEN b.t0_id ELSE b.t1x END
      LEFT JOIN tok tt
        ON tt.token_id = CASE WHEN b.direction = 0 THEN b.t1x ELSE b.t0_id END
      GROUP BY 1 ORDER BY 1"""))

  private[graft] val V2SwapLog =
    words(uint("a0in"), uint("a1in"), uint("a0out"), uint("a1out"))
  private[graft] val V2SwapCall = calldata(uint("cd_a0out"), uint("cd_a1out"),
    address("recipient"), bytes(""))
  /** A V2 `swap` frame's calldata and Swap log from (direction, q6l,
    * p2l): direction 0 pays q6l of token0 in for p2l of token1 out. */
  private[graft] def v2SwapPacked(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("a0in_src",
      when(col("direction") === 0, col("q6l")).otherwise(lit(0L)))
    .withColumn("a1in_src",
      when(col("direction") === 0, lit(0L)).otherwise(col("q6l")))
    .withColumn("a0out_src",
      when(col("direction") === 0, lit(0L)).otherwise(col("p2l")))
    .withColumn("a1out_src",
      when(col("direction") === 0, col("p2l")).otherwise(lit(0L)))
    .withColumn("calldata", V2SwapCall.pack(col("selector"),
      col("a0out_src"), col("a1out_src"), col("from_address"), lit("")))
    .withColumn("log_data", V2SwapLog.pack(col("a0in_src"), col("a1in_src"),
      col("a0out_src"), col("a1out_src")))
  /** The V2 swap decode core on any frame with (calldata, log_data, t0_id,
    * t1x): the four Swap-event amounts from the LOG, recipient + the two
    * calldata amountOut echoes, then the reference's zero-side direction
    * resolution — `amount0In == 0` ⇒ token1 in / token0 out, else the
    * converse (uniswap_v2.rs:32-65). A missing log (empty `log_data`)
    * NULLs every log field, and `log_ok` carries the
    * `log_data.swap_field?` failure: token identity resolves to NULL, the
    * row quarantines. */
  private[graft] def v2SwapDecode(t: org.apache.spark.sql.DataFrame) =
    V2SwapCall.decode(V2SwapLog.decode(t, "log_data"), "calldata")
    .withColumn("log_ok", col("a0in").isNotNull)
    // -1 sentinel (not NULL) for the failed-classification group: the two
    // engines disagree on NULL-first vs NULL-last ordering
    .withColumn("token_in_id",
      when(!col("log_ok"), lit(-1L))
        .when(col("a0in") === 0, col("t1x")).otherwise(col("t0_id")))
    .withColumn("token_out_id",
      when(!col("log_ok"), lit(-1L))
        .when(col("a0in") === 0, col("t0_id")).otherwise(col("t1x")))
    .withColumn("in_raw",
      when(col("a0in") === 0, col("a1in")).otherwise(col("a0in")))
    .withColumn("out_raw",
      when(col("a0in") === 0, col("a0out")).otherwise(col("a1out")))

  /** C1 (Uniswap V2 `swap`): calldata is `swap(uint256 amount0Out, uint256
    * amount1Out, address to, bytes data)` but the AMOUNTS the reference
    * trusts ride the Swap EVENT — `(amount0In, amount1In, amount0Out,
    * amount1Out)` — and direction resolves from which `amountIn` side is
    * ZERO: `amount0In == 0` ⇒ token1 in / token0 out, else the converse
    * (classifiers/uniswap/uniswap_v2.rs:32-65). The log is an OPTION: the
    * `[..Swap]` pattern searches the subtree and `log_data.swap_field?`
    * FAILS the classification when absent — a second quarantine shape
    * (missing log, before any token fetch) next to the missing-token one
    * (both `try_fetch_token_info(...)?`, :28-29). The calldata's
    * amount0Out/amount1Out echo the log's out side and the recipient is
    * `call_data.to` (:23).
    *
    * Fixture casting: a (q6+p2) % 37 sliver carries an EMPTY log payload
    * (the log-missing arm); the % 41 sliver rotates token1 onto the
    * unregistered ids (the C9 arm), as in [[c1UniV3Swap]].
    *
    * Scale shape: one pruned trace scan + broadcast dims, all decode
    * codegen'd. */
  private val c1UniV2Swap = QueryDef(
    "c1_univ2_swap",
    (s, dir) => {
      val vp = pairsOf(s, "uniswap_v2")
      val t = framesOf(s, dir, SelV2Swap)
        .join(broadcast(vp), col("to_address") === col("p_addr"))
        .withColumn("t1x", staleT1)
        .withColumn("log_missing", (col("q6l") + col("p2l")) % 37 === 0)
        // PARITY CONTRACT (same as c1_univ3_swap): the zero-side direction
        // resolution (amount0In == 0 ⇒ token1 in) agrees with the oracle's
        // direction column only while q6/p2 are strictly positive — a zero
        // q6 would make BOTH in-sides zero and the resolutions diverge.
        .filter(assert_true(col("q6l") > 0 && col("p2l") > 0,
          lit("c1_univ2_swap fixture invariant: q6 > 0 AND p2 > 0")).isNull)
      val dec = v2SwapDecode(v2SwapPacked(t).withColumn("log_data",
        when(col("log_missing"), unhex(lit(""))).otherwise(col("log_data"))))
      val ti = decimalsOf(s, "ti_id", "dec_in")
      val to = decimalsOf(s, "to_id", "dec_out")
      dec
        .join(broadcast(ti), col("token_in_id") === col("ti_id"), "left")
        .join(broadcast(to), col("token_out_id") === col("to_id"), "left")
        .withColumn("ok", col("log_ok") &&
          col("dec_in").isNotNull && col("dec_out").isNotNull)
        .groupBy("token_in_id")
        .agg(count(lit(1)).as("n"),
          sum(when(!col("log_ok"), 1L).otherwise(0L)).as("n_log_missing"),
          sum(when(col("log_ok") && (col("dec_in").isNull ||
            col("dec_out").isNull), 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("ok") && col("a0in") === 0, 1L).otherwise(0L))
            .as("n_t1_in"),
          sum(when(col("log_ok") &&
            col("cd_a0out") === col("a0out") &&
            col("cd_a1out") === col("a1out") &&
            col("recipient") === concat(lit("0" * 8), col("from_address")),
            1L).otherwise(0L)).as("n_echo_ok"),
          dsum(when(col("ok"),
            col("in_raw").cast("double") / pow10d(col("dec_in")))
            .otherwise(lit(0.0))).as("sum_amount_in"),
          dsum(when(col("ok"),
            col("out_raw").cast("double") / pow10d(col("dec_out")))
            .otherwise(lit(0.0))).as("sum_amount_out"))
        .orderBy("token_in_id")
    },
    withCtes(s""", v2w AS (
        SELECT t.direction, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.q6, t.p2, p.t0_id,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 37 = 0 AS log_missing
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'uniswap_v2'
        WHERE t.selector = '$SelV2Swap'),
      v2k AS (
        SELECT *,
          CASE WHEN log_missing THEN -1
               WHEN direction = 1 THEN t1x ELSE t0_id END AS tin,
          CASE WHEN log_missing THEN -1
               WHEN direction = 1 THEN t0_id ELSE t1x END AS tout
        FROM v2w)
      SELECT v.tin AS token_in_id, COUNT(*) AS n,
        CAST(SUM(CASE WHEN v.log_missing THEN 1 ELSE 0 END) AS BIGINT)
          AS n_log_missing,
        CAST(SUM(CASE WHEN NOT v.log_missing
          AND (ti.token_id IS NULL OR tt.token_id IS NULL)
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN NOT v.log_missing AND ti.token_id IS NOT NULL
          AND tt.token_id IS NOT NULL AND v.direction = 1
          THEN 1 ELSE 0 END) AS BIGINT) AS n_t1_in,
        CAST(SUM(CASE WHEN NOT v.log_missing THEN 1 ELSE 0 END) AS BIGINT)
          AS n_echo_ok,
        ${sqlSum(s"""CASE WHEN NOT v.log_missing AND ti.token_id IS NOT NULL
          AND tt.token_id IS NOT NULL
          THEN v.q6 / ${sqlPow10.format("ti.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_in,
        ${sqlSum(s"""CASE WHEN NOT v.log_missing AND ti.token_id IS NOT NULL
          AND tt.token_id IS NOT NULL
          THEN v.p2 / ${sqlPow10.format("tt.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount_out
      FROM v2k v
      LEFT JOIN tok ti ON ti.token_id = v.tin
      LEFT JOIN tok tt ON tt.token_id = v.tout
      GROUP BY 1 ORDER BY 1"""))

  private[graft] val LiquidateBorrowCall =
    calldata(address("borrower"), uint("repay_cd"), address("ctok_coll"))
  private[graft] val LiquidateBorrowLog = words(address("liq_log"),
    address("borrower_log"), uint("repay_amt"), address("ctok_coll_log"),
    uint("seize_toks"))
  /** The liquidateBorrow decode core on any frame with (calldata,
    * log_data): borrower + cTokenCollateral from the CALLDATA (words 0
    * and 2, addresses); the LiquidateBorrow EVENT carries FIVE data
    * words `(liquidator, borrower, repayAmount, cTokenCollateral,
    * seizeTokens)` (classifier-abis/CompoundV2CToken.json) — liquidator
    * word 0, borrower echo word 1, repayAmount word 2, the collateral
    * cToken ADDRESS word 3, seizeTokens word 4. Log-missing carried as
    * `log_ok` (compound/compound_v2.rs:7-38). */
  private[graft] def liquidateBorrowDecode(t: org.apache.spark.sql.DataFrame) =
    LiquidateBorrowLog.decode(LiquidateBorrowCall.decode(t, "calldata"), "log_data")
    .withColumn("log_ok", col("repay_amt").isNotNull)

  /** C1 (Compound V2 `liquidateBorrow`): the MIXED-source liquidation
    * shape — every field comes from a different place
    * (compound/compound_v2.rs:7-38):
    *   - the DEBT asset is the call's TARGET (`info.target_address` — a
    *     cToken IS its own market), its token info fetched for the
    *     target address itself;
    *   - the LIQUIDATOR is a LOG data word (`logs.liquidator`, decoded by
    *     the codegen'd [[graft.functions.AbiCalldata.abi_log_address]] —
    *     not `msg_sender`, unlike
    *     Aave);
    *   - the DEBTOR and the COLLATERAL cToken ride the CALLDATA
    *     (`call_data.borrower`, `call_data.cTokenCollateral`);
    *   - BOTH amounts ride the LiquidateBorrow EVENT (`logs.repayAmount`
    *     scaled by the debt cToken's decimals, `logs.seizeTokens` by the
    *     collateral cToken's) — `liquidated_collateral` is FILLED here,
    *     not zeroed for a later stitch as in Aave V3;
    *   - failure ladder: absent log first (`liquidate_borrow_field?`),
    *     then debt info, then collateral info — each `?` quarantines the
    *     whole row.
    *
    * Fixture casting: depth-2 liquidation frames play the cToken markets
    * (disjoint from [[c1AaveLiquidation]]'s depth-1 span roots); the
    * cToken dimension derives decimals from the pool id; a (q6+p2) % 43
    * sliver drops the log and a % 41 sliver rotates the collateral onto
    * unregistered cToken addresses — all three quarantine arms live.
    *
    * Scale shape: one pruned trace scan + broadcast cToken dims, decode
    * codegen'd. */
  private val c1CompoundLiquidation = QueryDef(
    "c1_compound_liquidation",
    (s, dir) => {
      val cdim = pools(s).select(col("address").as("c_addr"),
        col("protocol"), (lit(6L) + col("pool_id") % 5).as("c_dec"),
        col("pool_id"))
      val t = framesOf(s, dir, SelLiquidation)
        .filter(size(col("trace_address")) === 2)
        .join(broadcast(cdim), col("to_address") === col("c_addr"))
        .withColumn("log_missing", (col("q6l") + col("p2l")) % 43 === 0)
        // collateral cToken: another registered market, except the % 41
        // sliver which points at an unregistered address (stale registry)
        .withColumn("coll_src", md5(concat(lit("pool:"),
          when((col("q6l") + col("p2l")) % 41 === 0,
            lit(NumPools.toLong) + col("pool_id"))
            .otherwise((col("pool_id") + 7) % 60))))
        .withColumn("debtor_src",
          md5(concat(lit("eoa:"), (col("q6l") + col("p2l")) % 12)))
        .withColumn("calldata", LiquidateBorrowCall.pack(col("selector"),
          col("debtor_src"), col("q6l"), col("coll_src")))
        .withColumn("log_data",
          when(col("log_missing"), unhex(lit("")))
            .otherwise(LiquidateBorrowLog.pack(col("from_address"),
              col("debtor_src"), col("q6l"), col("coll_src"), col("p2l"))))
      val dec = liquidateBorrowDecode(t)
      val coll = pools(s).select(col("address").as("k_addr"),
        (lit(6L) + col("pool_id") % 5).as("k_dec"))
      dec
        .join(broadcast(coll),
          substring(col("ctok_coll"), 9, 32) === col("k_addr"), "left")
        .withColumn("ok", col("log_ok") && col("k_dec").isNotNull)
        .groupBy("protocol")
        .agg(count(lit(1)).as("n"),
          sum(when(!col("log_ok"), 1L).otherwise(0L)).as("n_log_missing"),
          sum(when(col("log_ok") && col("k_dec").isNull, 1L).otherwise(0L))
            .as("n_unknown_ctoken"),
          sum(when(col("ok") &&
            col("liq_log") === concat(lit("0" * 8), col("from_address")) &&
            col("borrower_log") === col("borrower") &&
            col("ctok_coll_log") === col("ctok_coll") &&
            col("repay_amt") === col("repay_cd"), 1L).otherwise(0L))
            .as("n_log_consistent"),
          dsum(when(col("ok"),
            col("repay_amt").cast("double") / pow10d(col("c_dec")))
            .otherwise(lit(0.0))).as("sum_covered_debt"),
          dsum(when(col("ok"),
            col("seize_toks").cast("double") / pow10d(col("k_dec")))
            .otherwise(lit(0.0))).as("sum_liquidated_collateral"),
          countDistinct(when(col("ok"), col("borrower"))).as("n_debtors"))
        .orderBy("protocol")
    },
    withCtes(s""", cl_w AS (
        SELECT t.direction, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.q6, t.p2, t.from_address,
          p.protocol, 6 + p.pool_id % 5 AS c_dec, p.pool_id,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 43 = 0
            AS log_missing,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            AS coll_unknown,
          md5('eoa:' || ((CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 12))
            AS debtor
        FROM trace t
        JOIN pool p ON t.to_address = p.address
        WHERE t.selector = '$SelLiquidation' AND len(t.trace_address) = 2)
      SELECT w.protocol, COUNT(*) AS n,
        CAST(SUM(CASE WHEN w.log_missing THEN 1 ELSE 0 END) AS BIGINT)
          AS n_log_missing,
        CAST(SUM(CASE WHEN NOT w.log_missing AND w.coll_unknown
          THEN 1 ELSE 0 END) AS BIGINT) AS n_unknown_ctoken,
        CAST(SUM(CASE WHEN NOT w.log_missing AND NOT w.coll_unknown
          THEN 1 ELSE 0 END) AS BIGINT) AS n_log_consistent,
        ${sqlSum(s"""CASE WHEN NOT w.log_missing AND NOT w.coll_unknown
          THEN w.q6 / ${sqlPow10.format("w.c_dec")} ELSE 0.0e0 END""")}
          AS sum_covered_debt,
        ${sqlSum(s"""CASE WHEN NOT w.log_missing AND NOT w.coll_unknown
          THEN w.p2 / ${sqlPow10.format("6 + ((w.pool_id + 7) % 60) % 5")}
          ELSE 0.0e0 END""")} AS sum_liquidated_collateral,
        CAST(COUNT(DISTINCT CASE WHEN NOT w.log_missing AND NOT w.coll_unknown
          THEN w.debtor END) AS BIGINT) AS n_debtors
      FROM cl_w w
      GROUP BY 1 ORDER BY 1"""))

  /** C1 (Aave V3 `liquidationCall`): five static words — `(address
    * collateralAsset, address debtAsset, address user, uint256 debtToCover,
    * bool receiveAToken)` (classifiers/aave/v3.rs:10-40). The reference
    * fills the bundle fields asymmetrically: `pool` is the CALLING contract
    * (`info.from_address` — the searcher's contract, NOT the call target),
    * `liquidator` is the tx sender (`info.msg_sender`), `debtor` is the
    * decoded `user` arg, `covered_debt` scales `debtToCover` by the DEBT
    * token's decimals, and `liquidated_collateral` is ZERO at this stage —
    * "filled in later" by the multi-frame child-transfer stitch, the C5
    * arm this feeds ([[ClassifyOps.stitchedLiquidations]]). Fetching the
    * COLLATERAL token info happens before construction, so an unregistered
    * collateral (ids 40/41) fails the whole classification
    * (`try_fetch_token_info(call_data.collateralAsset)?`, :22) — the rows
    * quarantine, they don't sum.
    *
    * Fixture casting: the caller of a depth-1 frame is the tx's ROOT
    * contract (trace_idx 1's target) — one per-tx equi-join, block-local.
    * Debt = the pool's t0 (always registered), collateral = t1 (crosses
    * 40/41), debtor EOA derives from (q6+p2). */
  private val c1AaveLiquidation = QueryDef(
    "c1_aave_liquidation",
    (s, dir) => {
      val tr = tracesTable(s, dir)
      val roots = tr.filter(col("trace_idx") === 1)
        .select(col("tx_hash"), col("to_address").as("caller"))
      val lp = pools(s).select(col("address").as("p_addr"), col("protocol"),
        col("t0_id"), col("t1_id"))
      val t = framesOf(s, dir, SelLiquidation)
        .filter(size(col("trace_address")) === 1)
        .join(broadcast(lp), col("to_address") === col("p_addr"))
        .join(roots, Seq("tx_hash"))
        .withColumn("debtor_src",
          md5(concat(lit("eoa:"), (col("q6l") + col("p2l")) % 12)))
        .withColumn("calldata", LiquidationCall.pack(col("selector"),
          md5(concat(lit("tok:"), col("t1_id"))), // collateral
          md5(concat(lit("tok:"), col("t0_id"))), // debt
          col("debtor_src"), col("q6l"), col("p2l") % 2))
      val dec = liquidationCallDecode(t)
      val td = tokens(s).select(col("address").as("td_addr"),
        col("decimals").as("dec_debt"))
      val tc = tokens(s).select(col("address").as("tc_addr"),
        col("token_id").as("coll_id"))
      dec
        .join(broadcast(td),
          substring(col("debt_dec"), 9, 32) === col("td_addr"), "left")
        .join(broadcast(tc),
          substring(col("coll_dec"), 9, 32) === col("tc_addr"), "left")
        // collateral info is fetched FIRST (v3.rs:22) — missing ⇒ the whole
        // classification errors out, the row never becomes an action
        .withColumn("ok", col("coll_id").isNotNull)
        .groupBy("protocol")
        .agg(count(lit(1)).as("n"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_classified"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("ok") && col("debtor") === concat(lit("0" * 8),
            col("debtor_src")), 1L).otherwise(0L)).as("n_debtor_ok"),
          sum(when(col("ok") && col("receive_atoken"), 1L).otherwise(0L))
            .as("n_receive_atoken"),
          dsum(when(col("ok"),
            col("debt_to_cover").cast("double") / pow10d(col("dec_debt")))
            .otherwise(lit(0.0))).as("sum_covered_debt"),
          countDistinct(when(col("ok"), col("caller"))).as("n_pools"),
          countDistinct(when(col("ok"), col("from_address")))
            .as("n_liquidators"))
        .orderBy("protocol")
    },
    withCtes(s""", liq_roots AS (
        SELECT tx_hash, to_address AS caller FROM trace WHERE trace_idx = 1)
      SELECT p.protocol, COUNT(*) AS n,
        CAST(SUM(CASE WHEN p.t1_id < $NumTokens THEN 1 ELSE 0 END) AS BIGINT)
          AS n_classified,
        CAST(SUM(CASE WHEN p.t1_id >= $NumTokens THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quarantined,
        CAST(SUM(CASE WHEN p.t1_id < $NumTokens THEN 1 ELSE 0 END) AS BIGINT)
          AS n_debtor_ok,
        CAST(SUM(CASE WHEN p.t1_id < $NumTokens
          AND CAST(t.p2 AS BIGINT) % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_receive_atoken,
        ${sqlSum(s"""CASE WHEN p.t1_id < $NumTokens
          THEN t.q6 / ${sqlPow10.format("td.decimals")} ELSE 0.0e0 END""")}
          AS sum_covered_debt,
        CAST(COUNT(DISTINCT CASE WHEN p.t1_id < $NumTokens THEN r.caller END)
          AS BIGINT) AS n_pools,
        CAST(COUNT(DISTINCT CASE WHEN p.t1_id < $NumTokens
          THEN t.from_address END) AS BIGINT) AS n_liquidators
      FROM trace t
      JOIN pool p ON t.to_address = p.address
      JOIN liq_roots r ON r.tx_hash = t.tx_hash
      JOIN tok td ON td.token_id = p.t0_id
      WHERE t.selector = '$SelLiquidation' AND len(t.trace_address) = 1
      GROUP BY 1 ORDER BY 1"""))

  // ── Uniswap V3 position lifecycle: mint / burn / collect ──────────────────

  private[graft] val MintCall = calldata(address("recipient"),
    int("tick_lower"), int("tick_upper"), uint("liq_amount"), bytes("data"))
  private[graft] val V3Amounts = words(int("a0_ret"), int("a1_ret"))
  /** The V3 `mint` decode core on any frame with (calldata, ret_data):
    * `mint(address recipient, int24 tickLower, int24 tickUpper, uint128
    * amount, bytes data)` — recipient from the ADDRESS word 0, BOTH ticks
    * as SIGNED int24s (sign-extended to the full word, so the in-range
    * lower tick of a full-range position is NEGATIVE), liquidity from
    * word 3, and the amounts from the RETURN pair `(uint256 amount0,
    * uint256 amount1)` — the reference reads `return_data.amount0/amount1`
    * and `call_data.recipient`, ignoring the logs arm entirely
    * (classifiers/uniswap/uniswap_v3.rs:61-95, `_logs`). */
  private[graft] def v3MintDecode(t: org.apache.spark.sql.DataFrame) =
    V3Amounts.decode(MintCall.decode(t, "calldata"), "ret_data")
      .withColumn("data_off", MintCall.offset(col("calldata"), "data"))

  private[graft] val BurnCall =
    calldata(int("tick_lower"), int("tick_upper"), uint("liq_amount"))
  /** The V3 `burn` decode core: `burn(int24 tickLower, int24 tickUpper,
    * uint128 amount)` → `(uint256 amount0, uint256 amount1)` — the ticks
    * lead the calldata (no recipient: the reference fills BOTH recipient
    * and from with `info.from_address`), amounts from the return pair
    * (uniswap_v3.rs:96-126). */
  private[graft] def v3BurnDecode(t: org.apache.spark.sql.DataFrame) =
    V3Amounts.decode(BurnCall.decode(t, "calldata"), "ret_data")

  private[graft] val CollectCall = calldata(address("recipient"),
    int("tick_lower"), int("tick_upper"), uint("a0_req"), uint("a1_req"))
  /** The V3 `collect` decode core: `collect(address recipient, int24
    * tickLower, int24 tickUpper, uint128 amount0Requested, uint128
    * amount1Requested)` → `(uint128 amount0, uint128 amount1)` — five
    * static calldata words, amounts again from the RETURN pair
    * (uniswap_v3.rs:127-161 `return_data.amount0/amount1`,
    * `call_data.recipient`). */
  private[graft] def v3CollectDecode(t: org.apache.spark.sql.DataFrame) =
    V3Amounts.decode(CollectCall.decode(t, "calldata"), "ret_data")

  /** Shared tick-range derivation for the V3 position fixtures: a
    * spacing-10 range centered anywhere in [-8870, 8870] with half-width
    * 10..500, so tickLower goes genuinely NEGATIVE on about half the rows
    * (exercising the signed int24 calldata decode on both arms) and
    * tickLower < tickUpper always holds. */
  private def tickCols(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("t_center", col("p2l") % 1775 - 887)
    .withColumn("t_half", col("q6l") % 50 + 1)
    .withColumn("tick_lo_src", (col("t_center") - col("t_half")) * 10)
    .withColumn("tick_hi_src", (col("t_center") + col("t_half")) * 10)
  /** `sel` frames on the `up` pools with their ticks, the C9 token1 and
    * the position call's return amounts: the V3 position fixture. */
  private def v3PositionFrames(s: org.apache.spark.sql.SparkSession, dir: String,
      sel: String, up: org.apache.spark.sql.DataFrame) = tickCols(framesOf(s, dir, sel)
    .join(broadcast(up), col("to_address") === col("p_addr"))
    .withColumn("t1x", staleT1))
    .withColumn("ret_data", V3Amounts.pack(col("q6l"), col("p2l")))
  private val tickLoSql =
    "((p2l % 1775) - 887 - (q6l % 50 + 1)) * 10"

  /** The three V3 position-call packings (selector ‖ words), shared by the
    * c1 entries and the [[q5JitReal]] feed. */
  private def mintCalldata(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("calldata", MintCall.pack(col("selector"), col("from_address"),
      col("tick_lo_src"), col("tick_hi_src"), col("q6l"), lit("")))
  private def burnCalldata(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("calldata", BurnCall.pack(col("selector"),
      col("tick_lo_src"), col("tick_hi_src"), col("q6l")))
  private def collectCalldata(t: org.apache.spark.sql.DataFrame) = t
    .withColumn("calldata", CollectCall.pack(col("selector"), col("from_address"),
      col("tick_lo_src"), col("tick_hi_src"), col("q6l"), col("p2l")))

  /** C1 (Uniswap V3 `mint`): the position-OPEN layout. Calldata is
    * `(recipient, int24 tickLower, int24 tickUpper, uint128 amount, bytes
    * data)` — the dynamic `data` member rides a tail offset (head word 4 =
    * 160) — but the AMOUNTS the reference trusts are the RETURN pair
    * (uniswap_v3.rs:61-95): `token: vec![t0, t1], amount: vec![am0, am1]`,
    * each scaled by its token's OWN decimals, and a missing token info
    * fails the whole classification (`try_fetch_token_info(...)?`).
    * These NormalizedMint frames are exactly what the JIT inspector
    * brackets (jit_liquidity.rs:186-196) — [[q5JitReal]] consumes this
    * same decode.
    *
    * Fixture casting: SelMint frames on uniswap_v3-protocol pools; ticks
    * from [[tickCols]] (signed, ordered); the (q6+p2) % 41 sliver rotates
    * token1 onto the unregistered ids (C9 quarantine).
    *
    * Scale shape: one pruned trace scan + broadcast dims, decode
    * codegen'd. */
  private val c1UniV3Mint = QueryDef(
    "c1_univ3_mint",
    (s, dir) => {
      val up = pairsOf(s, "uniswap_v3")
      val dec = v3MintDecode(mintCalldata(v3PositionFrames(s, dir, SelMint, up)))
      val t0d = decimalsOf(s, "d0_id", "dec0")
      val t1d = decimalsOf(s, "d1_id", "dec1")
      dec
        .join(broadcast(t0d), col("t0_id") === col("d0_id"), "left")
        .join(broadcast(t1d), col("t1x") === col("d1_id"), "left")
        .withColumn("ok", col("dec0").isNotNull && col("dec1").isNotNull)
        .groupBy(col("t0_id").as("token0_id"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("recipient") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recipient_ok"),
          sum(when(col("tick_lower") < col("tick_upper") &&
            col("liq_amount") === col("q6l") &&
            col("data_off") === 160L, 1L).otherwise(0L)).as("n_shape_ok"),
          sum(when(col("tick_lower") < 0, 1L).otherwise(0L)).as("n_neg_lower"),
          dsum(when(col("ok"),
            col("a0_ret").cast("double") / pow10d(col("dec0")))
            .otherwise(lit(0.0))).as("sum_amount0"),
          dsum(when(col("ok"),
            col("a1_ret").cast("double") / pow10d(col("dec1")))
            .otherwise(lit(0.0))).as("sum_amount1"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("token0_id")
    },
    withCtes(s""", m3 AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          t.q6, t.p2, p.t0_id,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'uniswap_v3'
        WHERE t.selector = '$SelMint')
      SELECT m.t0_id AS token0_id, COUNT(*) AS n,
        COUNT(*) AS n_recipient_ok,
        COUNT(*) AS n_shape_ok,
        CAST(SUM(CASE WHEN $tickLoSql < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_neg_lower,
        ${sqlSum(s"""CASE WHEN d0.token_id IS NOT NULL AND d1.token_id IS NOT NULL
          THEN m.q6 / ${sqlPow10.format("d0.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount0,
        ${sqlSum(s"""CASE WHEN d0.token_id IS NOT NULL AND d1.token_id IS NOT NULL
          THEN m.p2 / ${sqlPow10.format("d1.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount1,
        CAST(SUM(CASE WHEN d0.token_id IS NULL OR d1.token_id IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
      FROM m3 m
      LEFT JOIN tok d0 ON d0.token_id = m.t0_id
      LEFT JOIN tok d1 ON d1.token_id = m.t1x
      GROUP BY 1 ORDER BY 1"""))

  /** C1 (Uniswap V3 `burn` + `collect`): the position-CLOSE layouts,
    * decoded arm-wise. `burn(int24, int24, uint128)` has NO recipient (the
    * reference fills it with `info.from_address`, uniswap_v3.rs:96-126);
    * `collect(address recipient, int24, int24, uint128 amount0Requested,
    * uint128 amount1Requested)` carries one (uniswap_v3.rs:127-161). Both
    * take their amounts from the RETURN pair. The reference's JIT
    * back-side PREFERS collects over burns when both exist
    * (jit_liquidity.rs:322-340 `backrun_burns: Some(collect)... .unwrap_or
    * (burns)`) — [[q5JitReal]] applies exactly that precedence over these
    * two decodes.
    *
    * Fixture casting: SelBurn frames on uniswap_v3 pools; depth-2 frames
    * (the nested child calls) play the `collect`s — the reference sees
    * collect as the position manager's inner call next to burn — the rest
    * are `burn`s. Same tick derivation and C9 rotation as
    * [[c1UniV3Mint]]. */
  private val c1UniV3BurnCollect = QueryDef(
    "c1_univ3_burn_collect",
    (s, dir) => {
      val up = pairsOf(s, "uniswap_v3")
      val base = v3PositionFrames(s, dir, SelBurn, up)
        .withColumn("is_collect", size(col("trace_address")) === 2)
      val burns = v3BurnDecode(burnCalldata(base.filter(!col("is_collect"))))
        .withColumn("action", lit("burn"))
        .withColumn("recipient", concat(lit("0" * 8), col("from_address")))
        .withColumn("req_ok", lit(true)) // burn has no requested amounts
      val colls = v3CollectDecode(collectCalldata(base.filter(col("is_collect"))))
        .withColumn("action", lit("collect"))
        .withColumn("req_ok",
          col("a0_ret") === col("a0_req") && col("a1_ret") === col("a1_req"))
      val shape = Seq("action", "block_number", "from_address", "t0_id",
        "t1x", "q6l", "p2l", "tick_lower", "tick_upper", "recipient",
        "req_ok", "a0_ret", "a1_ret")
      val all = burns.select(shape.map(col): _*)
        .unionByName(colls.select(shape.map(col): _*))
      val t0d = decimalsOf(s, "d0_id", "dec0")
      val t1d = decimalsOf(s, "d1_id", "dec1")
      all
        .join(broadcast(t0d), col("t0_id") === col("d0_id"), "left")
        .join(broadcast(t1d), col("t1x") === col("d1_id"), "left")
        .withColumn("ok", col("dec0").isNotNull && col("dec1").isNotNull)
        .groupBy("action")
        .agg(count(lit(1)).as("n"),
          sum(when(col("recipient") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recipient_ok"),
          sum(when(col("tick_lower") < col("tick_upper") && col("req_ok"),
            1L).otherwise(0L)).as("n_shape_ok"),
          sum(when(col("tick_lower") < 0, 1L).otherwise(0L)).as("n_neg_lower"),
          dsum(when(col("ok"),
            col("a0_ret").cast("double") / pow10d(col("dec0")))
            .otherwise(lit(0.0))).as("sum_amount0"),
          dsum(when(col("ok"),
            col("a1_ret").cast("double") / pow10d(col("dec1")))
            .otherwise(lit(0.0))).as("sum_amount1"),
          sum(when(!col("ok"), 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("action")
    },
    withCtes(s""", bc3 AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          t.q6, t.p2, p.t0_id,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x,
          CASE WHEN len(t.trace_address) = 2 THEN 'collect' ELSE 'burn' END
            AS action
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'uniswap_v3'
        WHERE t.selector = '$SelBurn')
      SELECT b.action, COUNT(*) AS n,
        COUNT(*) AS n_recipient_ok,
        COUNT(*) AS n_shape_ok,
        CAST(SUM(CASE WHEN $tickLoSql < 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_neg_lower,
        ${sqlSum(s"""CASE WHEN d0.token_id IS NOT NULL AND d1.token_id IS NOT NULL
          THEN b.q6 / ${sqlPow10.format("d0.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount0,
        ${sqlSum(s"""CASE WHEN d0.token_id IS NOT NULL AND d1.token_id IS NOT NULL
          THEN b.p2 / ${sqlPow10.format("d1.decimals")} ELSE 0.0e0 END""")}
          AS sum_amount1,
        CAST(SUM(CASE WHEN d0.token_id IS NULL OR d1.token_id IS NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined
      FROM bc3 b
      LEFT JOIN tok d0 ON d0.token_id = b.t0_id
      LEFT JOIN tok d1 ON d1.token_id = b.t1x
      GROUP BY 1 ORDER BY 1"""))

  /** C3 (Curve factory discovery): the real deploy layouts of
    * `classifiers/curve/discovery.rs:10-64` and their VARIABLE-length
    * token vectors into the registry. Two arms:
    *
    *   - `deploy_plain_pool(string _name, string _symbol, address[4]
    *     _coins, uint256 _A, uint256 _fee)`
    *     (classifier-abis/CurveMetapoolFactoryV2.json): the two strings
    *     are DYNAMIC members (head words 0/1 are tail offsets — the
    *     [[graft.functions.AbiCalldata.abi_array_len]] walk reads each length through
    *     its offset), `_coins` is a FIXED address[4] inlined at head
    *     words 2-5 whose unused slots are ZERO — the reference derives
    *     the variable-length token vector by FILTERING the zero
    *     addresses (`parse_plain_pool`: `tokens.into_iter().filter(|t|
    *     t != &Address::ZERO)`), so a 2-coin deployment yields a
    *     2-vector from a 4-slot array;
    *
    *   - `deploy_metapool(address _base_pool, string _name, string
    *     _symbol, address _coin, uint256 _A, uint256 _fee)`: the token
    *     vector is NOT in the calldata at all — `parse_meta_pool` calls
    *     `query_base_pool(base_pool)` (an on-chain `coins(i)` loop — a
    *     REGISTRY lookup, modeled as the broadcast pool-dimension join)
    *     and APPENDS the calldata's `_coin`, so the vector length is the
    *     base pool's coin count + 1.
    *
    * Both arms land one NormalizedNewPool row per deployment whose token
    * vector length VARIES (plain 2-4, metapool 3-5) — `n_vector_lens`
    * pins three distinct lengths per arm, and `sum_token_ids` resolves
    * every decoded address through the token registry (discovery does
    * NOT fetch token info, so ids 40/41 resolve here — no quarantine,
    * unlike the C1 family).
    *
    * Scale shape: the deployment scan is dimension-sized; all joins
    * broadcast; the string/address decodes are offset-followed byte
    * reads inside codegen. */
  private[graft] val CreatePoolCall =
    calldata(address("ta"), address("tb"), uint("fee_dec"))
  private[graft] val CreatePoolRet = words(address("pool_dec"))
  /** Dodo DVM/DSP/DPP NewPool data: base, quote, creator, pool. */
  private[graft] val NewPoolLog = words(address("ta"), address("tb"),
    address("creator_dec"), address("pool_dec"))
  /** C3 (discovery breadth — four more real `discovery_impl!` layouts):
    *
    *   - Uniswap V3 `createPool(tokenA, tokenB, fee)`
    *     (uniswap/discovery.rs:25-44): the pair is CANONICALLY SWAPPED
    *     when `tokenA > tokenB` (address order — `n_swapped` counts
    *     reorders), the fee tier is calldata word 2, and the POOL is the
    *     deployment result (modeled as the create frame's RETURN word);
    *   - Dodo DVM/DSP/DPP factories (dodo/discovery.rs:5-61): all three
    *     NewPool layouts ride their factory EVENT — four unindexed data
    *     words `(baseToken, quoteToken, creator, pool)`, identical
    *     positions across the three events.
    *
    * The distinctive discovery_impl semantic is the FACTORY-ADDRESS
    * GATE: `discovery_impl!` binds each decoder to ONE factory address
    * (discovery.rs's `0x5C69bE…`/`0x1F9843…` literals), so a frame with
    * the same selector on any other target NEVER classifies —
    * `n_gated_out` counts those, and they contribute no pool.
    *
    * Scale shape: one pruned trace scan, zero joins, one 4-group
    * rollup; all decode codegen'd. */
  private val c3DiscoveryBreadth = QueryDef(
    "c3_discovery_breadth",
    (s, dir) => {
      val t = framesOf(s, dir, SelBurn)
        .withColumn("arm", (col("q6l") + col("p2l")) % 4)
        .withColumn("is_factory", col("p2l") % 4 =!= 0)
        .withColumn("protocol",
          when(col("arm") === 0, "uniswap_v3")
            .when(col("arm") === 1, "dodo_dvm")
            .when(col("arm") === 2, "dodo_dsp").otherwise("dodo_dpp"))
      val tokA = md5(concat(lit("tok:"), col("tok_id")))
      val tokB = md5(concat(lit("tok:"), (col("tok_id") + 9) % TokRefSpace))
      val dep = md5(concat(lit("dep:"), col("tx_hash"), col("trace_idx")))
      val feeTier = element_at(
        array(lit(500L), lit(3000L), lit(10000L)),
        (col("p2l") % 3 + 1).cast("int"))
      val packed = t
        .withColumn("calldata", when(col("arm") === 0,
          CreatePoolCall.pack(col("selector"), tokA, tokB, feeTier)))
        .withColumn("ret_data", when(col("arm") === 0, CreatePoolRet.pack(dep)))
        .withColumn("log_data", when(col("arm") =!= 0,
          NewPoolLog.pack(tokA, tokB, col("from_address"), dep)))
      def call(name: String) = CreatePoolCall.read(col("calldata"), name)
      def log(name: String) = NewPoolLog.read(col("log_data"), name)
      val dec = packed
        .withColumn("ta", when(col("arm") === 0, call("ta")).otherwise(log("ta")))
        .withColumn("tb", when(col("arm") === 0, call("tb")).otherwise(log("tb")))
        .withColumn("fee_dec", when(col("arm") === 0, call("fee_dec")))
        .withColumn("pool_dec", when(col("arm") === 0,
          CreatePoolRet.read(col("ret_data"), "pool_dec")).otherwise(log("pool_dec")))
        .withColumn("creator_dec", when(col("arm") =!= 0, log("creator_dec")))
        // createPair/createPool canonical order: swap when tokenA > tokenB
        // (uniswap/discovery.rs:11-14, :30-34); dodo keeps (base, quote)
        .withColumn("swapped", col("arm") === 0 && col("ta") > col("tb"))
        .withColumn("t0_dec",
          when(col("swapped"), col("tb")).otherwise(col("ta")))
        .withColumn("t1_dec",
          when(col("swapped"), col("ta")).otherwise(col("tb")))
      dec.groupBy("protocol")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(!col("is_factory"), 1L).otherwise(0L)).as("n_gated_out"),
          sum(when(col("is_factory"), 1L).otherwise(0L)).as("n_pools"),
          sum(when(col("is_factory") && col("swapped"), 1L).otherwise(0L))
            .as("n_swapped"),
          sum(when(col("is_factory") && col("arm") === 0, col("fee_dec"))
            .otherwise(0L)).as("sum_fee"),
          sum(when(col("is_factory") && col("t0_dec").isNotNull &&
            col("t1_dec").isNotNull && col("pool_dec").isNotNull &&
            (col("arm") === 0 ||
              col("creator_dec") === concat(lit("0" * 8),
                col("from_address"))), 1L).otherwise(0L)).as("n_pair_ok"))
        .orderBy("protocol")
    },
    withCtes(s""", db13 AS (
        SELECT (CAST(q6 AS BIGINT) + CAST(p2 AS BIGINT)) % 4 AS arm,
          CAST(p2 AS BIGINT) % 4 <> 0 AS is_factory,
          CAST(p2 AS BIGINT) AS p2l, tok_id
        FROM trace WHERE selector = '$SelBurn'),
      db2 AS (
        SELECT CASE arm WHEN 0 THEN 'uniswap_v3' WHEN 1 THEN 'dodo_dvm'
            WHEN 2 THEN 'dodo_dsp' ELSE 'dodo_dpp' END AS protocol,
          is_factory,
          arm = 0 AND '00000000' || md5('tok:' || tok_id) >
            '00000000' || md5('tok:' || (tok_id + 9) % $TokRefSpace)
            AS swapped,
          CASE WHEN arm = 0
            THEN list_value(500, 3000, 10000)[CAST(p2l % 3 + 1 AS INT)]
            ELSE 0 END AS fee
        FROM db13)
      SELECT protocol, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN NOT is_factory THEN 1 ELSE 0 END) AS BIGINT)
          AS n_gated_out,
        CAST(SUM(CASE WHEN is_factory THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pools,
        CAST(SUM(CASE WHEN is_factory AND swapped THEN 1 ELSE 0 END)
          AS BIGINT) AS n_swapped,
        CAST(SUM(CASE WHEN is_factory THEN fee ELSE 0 END) AS BIGINT)
          AS sum_fee,
        CAST(SUM(CASE WHEN is_factory THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pair_ok
      FROM db2 GROUP BY 1 ORDER BY 1"""))

  /** `deploy_plain_pool(string _name, string _symbol, address[4] _coins,
    * uint256 _A, uint256 _fee)`: the fixed `_coins` array is inline. */
  private[graft] val PlainPoolCall = calldata(string("name"), string("sym"),
    address("coin0"), address("coin1"), address("coin2"), address("coin3"),
    uint("amp"), uint("fee"))
  /** `deploy_metapool(address _base_pool, string _name, string _symbol,
    * address _coin, uint256 _A, uint256 _fee)`. */
  private[graft] val MetaPoolCall = calldata(address("base_addr"),
    string("name"), string("sym"), address("meta_coin"), uint("amp"), uint("fee"))
  private val c3CurveFactory = QueryDef(
    "c3_curve_factory",
    (s, dir) => {
      val tokReg = s.range(TokRefSpace).select(
        md5(concat(lit("tok:"), col("id"))).as("r_addr"),
        col("id").as("r_id"))
      val nameStr = concat(lit("crv-"), col("pool_id").cast("string"))
      val symStr = concat(lit("c"), col("pool_id").cast("string"))
      def coinId(k: Int): Column = k match {
        case 0 => col("t0_id")
        case 1 => col("t1_id")
        case 2 => (col("t0_id") + 7) % TokRefSpace
        case _ => (col("t0_id") + 13) % TokRefSpace
      }
      // an unused coin slot is the zero address
      def coin(k: Int) =
        when(col("n_src") > k, md5(concat(lit("tok:"), coinId(k)))).otherwise(lit(""))
      val aCol = col("pool_id") * 100 + 1
      val feeCol = col("pool_id") % 100

      val plain = pools(s).filter(col("pool_id") % 2 === 0)
        .withColumn("n_src", lit(2L) + col("pool_id") % 3)
        .withColumn("fsel", substring(md5(lit("fac:curve_plain")), 1, 8))
        .withColumn("calldata", PlainPoolCall.pack(col("fsel"), nameStr, symStr,
          coin(0), coin(1), coin(2), coin(3), aCol, feeCol))
      val pdec = PlainPoolCall.decode(plain, "calldata")
        .withColumn("sel_ok",
          PlainPoolCall.selector(col("calldata")) === col("fsel"))
        .withColumn("coin_arr",
          array(col("coin0"), col("coin1"), col("coin2"), col("coin3")))
      // the zero-address filter IS the variable length (parse_plain_pool)
      val pTok = pdec
        .select(col("pool_id"), explode(col("coin_arr")).as("addr"))
        .filter(col("addr") =!= lit("0" * 40))
        .join(broadcast(tokReg),
          substring(col("addr"), 9, 32) === col("r_addr"), "left")
        .groupBy("pool_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("r_id")).as("sum_ids"),
          (count(col("r_id")) === count(lit(1))).as("resolved"))
      val pRec = pdec.join(pTok, "pool_id")
        .select(lit("plain_pool").as("kind"),
          (col("name") === nameStr &&
            col("name_len") === length(nameStr)).as("name_ok"),
          (col("sym") === symStr &&
            col("sym_len") === length(symStr)).as("sym_ok"),
          (col("sel_ok") && col("amp") === aCol && col("fee") === feeCol)
            .as("shape_ok"),
          col("resolved"), col("n_tokens"), col("sum_ids"))

      // metapool arm: tokens = query_base_pool(base) ++ [_coin]
      val meta = pools(s).filter(col("pool_id") % 2 === 1)
        .withColumn("fsel", substring(md5(lit("fac:curve_meta")), 1, 8))
        .withColumn("calldata", MetaPoolCall.pack(col("fsel"),
          md5(concat(lit("pool:"), (col("pool_id") + 1) % NumPools)),
          nameStr, symStr, md5(concat(lit("tok:"), col("t1_id"))), aCol, feeCol))
      val mdec = MetaPoolCall.decode(meta, "calldata")
        .withColumn("sel_ok",
          MetaPoolCall.selector(col("calldata")) === col("fsel"))
      val baseDim = pools(s).select(col("address").as("b_addr"),
        col("pool_id").as("b_id"), col("t0_id").as("b_t0"),
        col("t1_id").as("b_t1"))
      val mRec = mdec
        .join(broadcast(baseDim),
          substring(col("base_addr"), 9, 32) === col("b_addr"), "left")
        .join(broadcast(tokReg),
          substring(col("meta_coin"), 9, 32) === col("r_addr"), "left")
        .withColumn("n_base", lit(2L) + col("b_id") % 3)
        .withColumn("base_sum", col("b_t0") + col("b_t1") +
          when(col("n_base") >= 3, (col("b_t0") + 7) % TokRefSpace)
            .otherwise(0L) +
          when(col("n_base") >= 4, (col("b_t0") + 13) % TokRefSpace)
            .otherwise(0L))
        .select(lit("metapool").as("kind"),
          (col("name") === nameStr &&
            col("name_len") === length(nameStr)).as("name_ok"),
          (col("sym") === symStr &&
            col("sym_len") === length(symStr)).as("sym_ok"),
          (col("sel_ok") && col("amp") === aCol && col("fee") === feeCol)
            .as("shape_ok"),
          (col("b_id").isNotNull && col("r_id").isNotNull).as("resolved"),
          (col("n_base") + 1).as("n_tokens"),
          (col("base_sum") + col("r_id")).as("sum_ids"))

      pRec.unionByName(mRec)
        .groupBy("kind")
        .agg(count(lit(1)).as("n"),
          sum(when(col("name_ok"), 1L).otherwise(0L)).as("n_name_ok"),
          sum(when(col("sym_ok"), 1L).otherwise(0L)).as("n_sym_ok"),
          sum(when(col("shape_ok"), 1L).otherwise(0L)).as("n_shape_ok"),
          sum(when(col("resolved"), 1L).otherwise(0L)).as("n_resolved"),
          countDistinct(col("n_tokens")).as("n_vector_lens"),
          sum(col("n_tokens")).as("sum_n_tokens"),
          sum(col("sum_ids")).as("sum_token_ids"))
        .orderBy("kind")
    },
    withCtes(s""", cf_p AS (
        SELECT 'plain_pool' AS kind, 2 + pool_id % 3 AS n_tokens,
          t0_id + t1_id
            + CASE WHEN 2 + pool_id % 3 >= 3
                THEN (t0_id + 7) % $TokRefSpace ELSE 0 END
            + CASE WHEN 2 + pool_id % 3 >= 4
                THEN (t0_id + 13) % $TokRefSpace ELSE 0 END AS sum_ids
        FROM pool WHERE pool_id % 2 = 0),
      cf_m AS (
        SELECT 'metapool' AS kind, 2 + b.pool_id % 3 + 1 AS n_tokens,
          b.t0_id + b.t1_id
            + CASE WHEN 2 + b.pool_id % 3 >= 3
                THEN (b.t0_id + 7) % $TokRefSpace ELSE 0 END
            + CASE WHEN 2 + b.pool_id % 3 >= 4
                THEN (b.t0_id + 13) % $TokRefSpace ELSE 0 END
            + p.t1_id AS sum_ids
        FROM pool p JOIN pool b ON b.pool_id = (p.pool_id + 1) % $NumPools
        WHERE p.pool_id % 2 = 1),
      cf_all AS (SELECT * FROM cf_p UNION ALL SELECT * FROM cf_m)
      SELECT kind, COUNT(*) AS n, COUNT(*) AS n_name_ok, COUNT(*) AS n_sym_ok,
        COUNT(*) AS n_shape_ok, COUNT(*) AS n_resolved,
        CAST(COUNT(DISTINCT n_tokens) AS BIGINT) AS n_vector_lens,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_n_tokens,
        CAST(SUM(sum_ids) AS BIGINT) AS sum_token_ids
      FROM cf_all GROUP BY 1 ORDER BY 1"""))

  // ── Aave V2 flashLoan: parallel dynamic arrays + repayment matching ──────

  private[graft] val FlashLoanCall = calldata(address("receiver"),
    arr("n_assets", AbiRead.Address, "asset0", "asset1", "asset2"),
    arr("n_amounts", AbiRead.Uint, "amt0", "amt1", "amt2"),
    arr("n_modes", AbiRead.Uint, "mode0", "mode1", "mode2"),
    address("on_behalf"), bytes("params"), uint("ref_code"))
  /** The flashLoan decode core on any frame with `calldata`:
    * `flashLoan(address receiverAddress, address[] assets, uint256[]
    * amounts, uint256[] modes, address onBehalfOf, bytes params, uint16
    * referralCode)` (classifier-abis/AaveV2Pool.json) — head words 1/2/3
    * are tail OFFSETS to three PARALLEL dynamic arrays; the element
    * decoders follow each offset, bound every read by the DECODED length,
    * and the address elements validate the 12-zero-byte pad
    * ([[graft.functions.AbiCalldata.abi_array_address]]). Up to three elements decoded
    * statically (the fixture's width; a wider frame would NULL past
    * elem2 by the length bound, never misread). */
  private[graft] def flashLoanDecode(t: org.apache.spark.sql.DataFrame) =
    FlashLoanCall.decode(t, "calldata")

  /** Shared flashLoan fixture packing + pair explode. Frames:
    * SelCurveSwap traces play `flashLoan` calls on the Aave pool (the
    * trace target). n = 1..3 assets; asset ids rotate over the FULL
    * 42-id space so the unregistered ids 40/41 hit the reference's
    * PER-PAIR quarantine — `filter_map(|(asset, amount)|
    * try_fetch_token_info(*asset).ok()?  ...)` DROPS THE PAIR, not the
    * classification (aave/v2.rs:50-57) — the opposite arm of the C1
    * whole-row `?` ladder. */
  private def flashLoanPairs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val t = framesOf(s, dir, SelCurveSwap)
      .withColumn("n_src", lit(1L) + (col("q6l") + col("p2l")) % 3)
    def aid(k: Int) = (col("tok_id") + 11 * k) % TokRefSpace
    val n = col("n_src")
    val packed = t.withColumn("calldata", FlashLoanCall.pack(col("selector"),
      col("from_address"), // receiverAddress
      elems(n, (0 to 2).map(k => md5(concat(lit("tok:"), aid(k)))): _*),
      elems(n, (0 to 2).map(k => col("q6l") + 1000000L * k): _*),
      elems(n, (0 to 2).map(k => (col("p2l") + k) % 3): _*),
      col("from_address"), lit(""), col("p2l") % 65536)) // onBehalfOf, params, referralCode
    val dec = flashLoanDecode(packed)
      .withColumn("frame_ok",
        col("receiver") === concat(lit("0" * 8), col("from_address")) &&
        col("on_behalf") === col("receiver") &&
        col("n_assets") === col("n_src") &&
        col("n_amounts") === col("n_src") &&
        col("n_modes") === col("n_src") &&
        col("params_len") === 0 && col("ref_code") === col("p2l") % 65536)
    // pair explode: element decoders NULL past the decoded length, so
    // the length bound (not n_src) drives which pairs exist
    dec.select(col("tx_hash"), col("trace_idx").as("fl_idx"),
      col("n_assets"), col("frame_ok"),
      explode(array((0 to 2).map(k => struct(col(s"asset$k").as("asset"),
        col(s"amt$k").as("amt"), col(s"mode$k").as("mode"))): _*)).as("pair"))
      .filter(col("pair.asset").isNotNull)
      .select(col("tx_hash"), col("fl_idx"), col("n_assets"), col("frame_ok"),
        col("pair.asset").as("asset"), col("pair.amt").as("amt"),
        col("pair.mode").as("mode"))
  }
  /** Oracle-side pair CTE shared by the two flashLoan queries. */
  private val flPairsCtes = s"""fl13 AS (
        SELECT t.tx_hash, t.trace_idx AS fl_idx, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.tok_id,
          1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 AS n_assets
        FROM trace t WHERE t.selector = '$SelCurveSwap'),
      flp13 AS (
        SELECT f.*, k.k, (f.tok_id + 11 * k.k) % $TokRefSpace AS aid,
          f.q6l + 1000000 * k.k AS amt, (f.p2l + k.k) % 3 AS mode
        FROM fl13 f JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
          ON k.k < f.n_assets)"""

  /** C1 (Aave V2 `flashLoan`): THREE parallel dynamic arrays decoded
    * through head offsets 1/2/3 with the new
    * [[graft.functions.AbiCalldata.abi_array_address]] element decoder, plus the two
    * frame addresses, the empty `bytes params`, and the uint16
    * referralCode word. The distinctive reference semantics is the
    * PER-PAIR quarantine: `assets.iter().zip(amounts).filter_map(...
    * .ok()?)` silently drops a (asset, amount) pair whose token info is
    * missing and KEEPS the rest of the loan (aave/v2.rs:50-57) —
    * `n_dropped_pairs` counts those, and the frame itself never fails.
    * `aave_mode = (modes, onBehalfOf)` rides along (`sum_modes`).
    *
    * Scale shape: one pruned trace scan, pairs explode ×≤3, one
    * broadcast token join; all decode codegen'd. */
  private val c1AaveFlashloan = QueryDef(
    "c1_aave_flashloan",
    (s, dir) => {
      val tk = decimalsOf(s, "tk_id", "tk_dec")
      flashLoanPairs(s, dir)
        .join(broadcast(tk),
          substring(col("asset"), 9, 32) === md5(concat(lit("tok:"), col("tk_id"))), "left")
        .groupBy("n_assets")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("frame_ok"), 1L).otherwise(0L)).as("n_frame_ok"),
          sum(when(col("tk_dec").isNotNull, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("tk_dec").isNull, 1L).otherwise(0L))
            .as("n_dropped_pairs"),
          dsum(when(col("tk_dec").isNotNull,
            col("amt").cast("double") / pow10d(col("tk_dec")))
            .otherwise(lit(0.0))).as("sum_scaled_amounts"),
          sum(when(col("tk_dec").isNotNull, col("mode")).otherwise(0L))
            .as("sum_modes"))
        .orderBy("n_assets")
    },
    withCtes(s""", $flPairsCtes
      SELECT p.n_assets, COUNT(*) AS n_pairs, COUNT(*) AS n_frame_ok,
        CAST(COUNT(tk.token_id) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropped_pairs,
        ${sqlSum(s"""CASE WHEN tk.token_id IS NOT NULL
          THEN p.amt / ${sqlPow10.format("tk.decimals")} ELSE 0.0e0 END""")}
          AS sum_scaled_amounts,
        CAST(SUM(CASE WHEN tk.token_id IS NOT NULL THEN p.mode ELSE 0 END)
          AS BIGINT) AS sum_modes
      FROM flp13 p LEFT JOIN tok tk ON tk.token_id = p.aid
      GROUP BY 1 ORDER BY 1"""))

  /** C5 (flash-loan repayment matching on REAL frames): the multi-frame
    * pass over [[c1AaveFlashloan]]'s decoded loans — a child TRANSFER is
    * a REPAYMENT iff its sender is the receiver contract, its token sits
    * in the loan's (POST-quarantine) asset vector, and its amount COVERS
    * that asset's borrowed amount (`t.amount >= this.amounts[i]`,
    * multi_frame_classification/flash_loan/balancer.rs:37-47); an
    * under-covering match stays a child action. Fixture casting: the
    * tx's SelTransfer frames AFTER the loan frame play the child
    * transfers (same-tx ⇒ same EOA ⇒ the `t.from == receiver_contract`
    * gate holds structurally; `n_from_ok` pins it).
    *
    * Scale shape: pairs × transfers is a (tx_hash, token) equi-join —
    * tx-local at any scale — then two grouped rollups. */
  private val c5FlashloanReal = QueryDef(
    "c5_flashloan_real",
    (s, dir) => {
      val tk = decimalsOf(s, "tk_id", "tk_dec")
      val loans = flashLoanPairs(s, dir)
        .join(broadcast(tk),
          substring(col("asset"), 9, 32) === md5(concat(lit("tok:"), col("tk_id"))))
        .withColumn("bucket", col("tk_id") % 5)
      val tr = tracesTable(s, dir).filter(col("selector") === SelTransfer)
        .select(col("tx_hash").as("t_tx"), col("trace_idx").as("t_idx"),
          col("to_address").as("t_tok"), col("q6").cast("long").as("t_amt"),
          col("from_address").as("t_from"))
      val perPair = loans
        .join(tr, col("t_tx") === col("tx_hash") &&
          col("t_tok") === substring(col("asset"), 9, 32) &&
          col("t_idx") > col("fl_idx"), "left")
        .groupBy("tx_hash", "fl_idx", "asset", "amt", "bucket")
        .agg(count(col("t_idx")).as("n_matched"),
          sum(when(col("t_amt") >= col("amt"), 1L).otherwise(0L))
            .as("n_covered"),
          dsum(when(col("t_amt") >= col("amt"),
            (col("t_amt") - col("amt")).cast("double") / 1000000.0)
            .otherwise(lit(0.0))).as("excess"))
      perPair.groupBy("bucket")
        .agg(count(lit(1)).as("n_loan_pairs"),
          sum(when(col("n_covered") > 0, 1L).otherwise(0L))
            .as("n_repaid_pairs"),
          sum(col("n_covered")).as("n_repayments"),
          sum(col("n_matched")).as("n_matched_transfers"),
          dsum(col("excess")).as("sum_excess"))
        .orderBy("bucket")
    },
    withCtes(s""", $flPairsCtes,
      fltr AS (
        SELECT tx_hash AS t_tx, trace_idx AS t_idx, to_address AS t_tok,
          CAST(q6 AS BIGINT) AS t_amt
        FROM trace WHERE selector = '$SelTransfer'),
      flpp AS (
        SELECT p.tx_hash, p.fl_idx, p.aid, p.amt, p.aid % 5 AS bucket,
          COUNT(t.t_idx) AS n_matched,
          CAST(SUM(CASE WHEN t.t_amt >= p.amt THEN 1 ELSE 0 END) AS BIGINT)
            AS n_covered,
          ${sqlSum("""CASE WHEN t.t_amt >= p.amt
            THEN (t.t_amt - p.amt) / 1000000.0e0 ELSE 0.0e0 END""")} AS excess
        FROM flp13 p
        JOIN tok tk ON tk.token_id = p.aid
        LEFT JOIN fltr t ON t.t_tx = p.tx_hash
          AND t.t_tok = md5('tok:' || p.aid) AND t.t_idx > p.fl_idx
        GROUP BY 1, 2, 3, 4, 5)
      SELECT bucket, COUNT(*) AS n_loan_pairs,
        CAST(SUM(CASE WHEN n_covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_repaid_pairs,
        CAST(SUM(n_covered) AS BIGINT) AS n_repayments,
        CAST(SUM(n_matched) AS BIGINT) AS n_matched_transfers,
        ${sqlSum("excess")} AS sum_excess
      FROM flpp GROUP BY 1 ORDER BY 1"""))

  // ── Cowswap GPv2 settle: Trade-log batch decode ───────────────────────────

  private[graft] val TradeTopic = words(address("owner_dec"))
  private[graft] val TradeLog = words(address("sell_tok"), address("buy_tok"),
    uint("sell_amt"), uint("buy_amt"), uint("fee_amt"), bytes("uid"))
  /** The Trade EVENT decode core on any frame with (topic1, log_data):
    * `Trade(address indexed owner, address sellToken, address buyToken,
    * uint256 sellAmount, uint256 buyAmount, uint256 feeAmount, bytes
    * orderUid)` (classifier-abis/cowswap/GPv2Settlement.json) — the OWNER
    * rides the indexed TOPIC (not the data section), the two tokens and
    * three amounts are data words 0-4, and the orderUid is a dynamic
    * bytes member (data word 5 is its offset; a real GPv2 orderUid is
    * exactly 56 bytes: digest ‖ owner ‖ validTo). The offset/length/
    * content walk reads through the DECODED offset. */
  private[graft] def tradeLogDecode(t: org.apache.spark.sql.DataFrame) =
    TradeLog.decode(TradeTopic.decode(t, "topic1"), "log_data")
      .withColumn("uid_off", TradeLog.offset(col("log_data"), "uid"))

  /** C5 (Cowswap `settle` on REAL bytes): the batch classifier reads the
    * user orders from the TRADE EVENT LOGS, not the settle calldata —
    * `[..Trade*]` collects every Trade in the subtree and `_call_data:
    * settleCall` is deliberately unused (classifiers/cowswap/mod.rs:
    * 66-90). Three reference semantics ride the decode:
    *
    *   - `log_data.trade_field?`: a settlement with NO Trade logs fails
    *     classification (the n_trades = 0 sliver);
    *   - the per-trade token fetches COLLECT into one Result and
    *     `user_swaps?` fails the WHOLE batch on any missing token
    *     (`n_failed_token`) — all-or-nothing, the opposite arm of
    *     [[c1AaveFlashloan]]'s per-pair drop;
    *   - each swap's from AND recipient are the trade's OWNER, decoded
    *     from the indexed topic (`create_normalized_swap`: `from:
    *     trade.owner, recipient: trade.owner`); the solver is the frame's
    *     msg_sender and the settlement contract the target.
    *
    * Fixture casting: SelV2Swap frames on curve-protocol pools (the
    * registry mismatch leaves them unclassified — exactly the frames the
    * batch pass owns); (q6+p2) % 4 Trade logs each, orderUids 56 bytes.
    *
    * Scale shape: one pruned trace scan, trades explode ×≤3, broadcast
    * token joins, one per-frame rollup — tx-local keys throughout. */
  private val c5SettleReal = QueryDef(
    "c5_settle_real",
    (s, dir) => {
      val cp = pools(s).filter(col("protocol") === "curve")
        .select(col("address").as("p_addr"))
      val base = tracesTable(s, dir)
        .filter(col("selector") === SelV2Swap)
        .join(broadcast(cp), col("to_address") === col("p_addr"))
        .withColumn("q6l", col("q6").cast("long"))
        .withColumn("p2l", col("p2").cast("long"))
        .withColumn("n_trades", (col("q6l") + col("p2l")) % 4)
      def sid(k: Int) = (col("tok_id") + 5 * k) % TokRefSpace
      def bid(k: Int) = (col("tok_id") + 5 * k + 1) % TokRefSpace
      def uidSrc(k: Int) = substring(concat(
        md5(concat(lit(s"uid:$k:a:"), col("tx_hash"))),
        md5(concat(lit(s"uid:$k:b:"), col("tx_hash"))),
        md5(concat(lit(s"uid:$k:c:"), col("tx_hash"))),
        md5(concat(lit(s"uid:$k:d:"), col("tx_hash")))), 1, 112)
      def topicK(k: Int) = when(col("n_trades") > k,
        TradeTopic.pack(md5(concat(lit("eoa:"), (col("p2l") + k) % 12))))
      def dataK(k: Int) = when(col("n_trades") > k, TradeLog.pack(
        md5(concat(lit("tok:"), sid(k))), md5(concat(lit("tok:"), bid(k))),
        col("q6l") + 1000L * k, col("p2l") + 1000L * k, (col("q6l") + k) % 1000,
        uidSrc(k)))
      val frames = base.select(col("tx_hash"), col("trace_idx"),
        col("n_trades"), col("q6l"), col("p2l"), col("tok_id"),
        explode(array((0 to 2).map(k =>
          struct(lit(k).as("k"), topicK(k).as("topic1"),
            dataK(k).as("log_data"), uidSrc(k).as("uid_src"))): _*))
          .as("t"))
        .select(col("tx_hash"), col("trace_idx"), col("n_trades"),
          col("q6l"), col("p2l"), col("tok_id"), col("t.k").as("k"),
          col("t.topic1").as("topic1"), col("t.log_data").as("log_data"),
          col("t.uid_src").as("uid_src"))
        .filter(col("log_data").isNotNull)
      val sd = tokens(s).select(md5(concat(lit("tok:"), col("token_id")))
        .as("s_addr"), col("decimals").as("s_dec"))
      val bd = tokens(s).select(md5(concat(lit("tok:"), col("token_id")))
        .as("b_addr"), col("decimals").as("b_dec"))
      val dec = tradeLogDecode(frames)
        .join(broadcast(sd), substring(col("sell_tok"), 9, 32) === col("s_addr"), "left")
        .join(broadcast(bd), substring(col("buy_tok"), 9, 32) === col("b_addr"), "left")
        .withColumn("owner_exp", concat(lit("0" * 8),
          md5(concat(lit("eoa:"), (col("p2l") + col("k")) % 12))))
      val perFrame = dec.groupBy("tx_hash", "trace_idx", "n_trades")
        .agg(count(lit(1)).as("n_dec"),
          sum(when(col("s_dec").isNull || col("b_dec").isNull, 1L)
            .otherwise(0L)).as("n_missing"),
          sum(when(col("owner_dec") === col("owner_exp"), 1L).otherwise(0L))
            .as("n_owner_ok"),
          sum(when(col("uid_len") === 56 && col("uid") === col("uid_src"),
            1L).otherwise(0L)).as("n_uid_ok"),
          dsum(when(col("s_dec").isNotNull && col("b_dec").isNotNull,
            col("sell_amt").cast("double") / pow10d(col("s_dec")))
            .otherwise(lit(0.0))).as("f_sell"),
          dsum(when(col("s_dec").isNotNull && col("b_dec").isNotNull,
            col("buy_amt").cast("double") / pow10d(col("b_dec")))
            .otherwise(lit(0.0))).as("f_buy"))
      base.select(col("tx_hash"), col("trace_idx"), col("n_trades"))
        .join(perFrame, Seq("tx_hash", "trace_idx", "n_trades"), "left")
        .withColumn("status",
          when(col("n_trades") === 0, "no_trades") // trade_field? fails
            .when(col("n_missing") > 0, "failed_token") // user_swaps? fails
            .otherwise("ok"))
        .groupBy("n_trades")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "failed_token", 1L).otherwise(0L))
            .as("n_failed_token"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("status") === "ok", col("n_dec")).otherwise(0L))
            .as("n_user_swaps"),
          sum(coalesce(col("n_owner_ok"), lit(0L))).as("n_owner_ok"),
          sum(coalesce(col("n_uid_ok"), lit(0L))).as("n_uid_ok"),
          dsum(when(col("status") === "ok", col("f_sell"))
            .otherwise(lit(0.0))).as("sum_sell"),
          dsum(when(col("status") === "ok", col("f_buy"))
            .otherwise(lit(0.0))).as("sum_buy"))
        .orderBy("n_trades")
    },
    withCtes(s""", st13 AS (
        SELECT t.tx_hash, t.trace_idx, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.tok_id,
          (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 4 AS n_trades
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'curve'
        WHERE t.selector = '$SelV2Swap'),
      sttr AS (
        SELECT f.tx_hash, f.trace_idx, f.n_trades,
          (f.tok_id + 5 * k.k) % $TokRefSpace AS s_id,
          (f.tok_id + 5 * k.k + 1) % $TokRefSpace AS b_id,
          f.q6l + 1000 * k.k AS sell_amt, f.p2l + 1000 * k.k AS buy_amt
        FROM st13 f JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
          ON k.k < f.n_trades),
      stfr AS (
        SELECT t.tx_hash, t.trace_idx, t.n_trades, COUNT(*) AS n_dec,
          CAST(SUM(CASE WHEN st.token_id IS NULL OR bt.token_id IS NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
          COUNT(*) AS n_owner_ok, COUNT(*) AS n_uid_ok,
          ${sqlSum(s"""CASE WHEN st.token_id IS NOT NULL AND bt.token_id IS NOT NULL
            THEN t.sell_amt / ${sqlPow10.format("st.decimals")}
            ELSE 0.0e0 END""")} AS f_sell,
          ${sqlSum(s"""CASE WHEN st.token_id IS NOT NULL AND bt.token_id IS NOT NULL
            THEN t.buy_amt / ${sqlPow10.format("bt.decimals")}
            ELSE 0.0e0 END""")} AS f_buy
        FROM sttr t
        LEFT JOIN tok st ON st.token_id = t.s_id
        LEFT JOIN tok bt ON bt.token_id = t.b_id
        GROUP BY 1, 2, 3),
      stst AS (
        SELECT f.n_trades,
          CASE WHEN f.n_trades = 0 THEN 'no_trades'
               WHEN r.n_missing > 0 THEN 'failed_token'
               ELSE 'ok' END AS status,
          r.n_dec, r.n_owner_ok, r.n_uid_ok, r.f_sell, r.f_buy
        FROM st13 f LEFT JOIN stfr r
          ON r.tx_hash = f.tx_hash AND r.trace_idx = f.trace_idx)
      SELECT n_trades, COUNT(*) AS n_frames,
        CAST(SUM(CASE WHEN status = 'failed_token' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_failed_token,
        CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(SUM(CASE WHEN status = 'ok' THEN n_dec ELSE 0 END) AS BIGINT)
          AS n_user_swaps,
        CAST(SUM(COALESCE(n_owner_ok, 0)) AS BIGINT) AS n_owner_ok,
        CAST(SUM(COALESCE(n_uid_ok, 0)) AS BIGINT) AS n_uid_ok,
        ${sqlSum("CASE WHEN status = 'ok' THEN f_sell ELSE 0.0e0 END")}
          AS sum_sell,
        ${sqlSum("CASE WHEN status = 'ok' THEN f_buy ELSE 0.0e0 END")}
          AS sum_buy
      FROM stst GROUP BY 1 ORDER BY 1"""))

  /** The reference's back-side precedence over classified burn/collect
    * rows (`is_collect`-tagged, per (block_number, from_address, pool)):
    * when the group has ANY collect, the collects ARE the back side and
    * the burns are discarded; otherwise the burns stand —
    * `backrun_burns: Some(collect).filter(|f| !f.is_empty()).map(...)
    * .unwrap_or(burns)` (jit_liquidity.rs:322-340). */
  private[graft] def collectPrecedence(backs: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val wGrp = Window.partitionBy("block_number", "from_address", "pool")
    backs
      .withColumn("n_coll",
        sum(when(col("is_collect"), 1).otherwise(0)).over(wGrp))
      .filter(col("is_collect") || col("n_coll") === 0)
      .drop("n_coll")
  }

  /** Q5 on REAL BYTES: the JIT bracket fed by the [[v3MintDecode]] /
    * [[v3BurnDecode]] / [[v3CollectDecode]] layouts instead of the
    * synthetic actions table — the decode → NormalizedMint/Burn/Collect →
    * inspector chain the reference runs (uniswap_v3.rs:61-161 feeding
    * jit_liquidity.rs:186-196). Two reference semantics ride on top of
    * the shared [[InspectorOps.jitBracketsOf]] core:
    *
    *   - classification failure IS row disappearance: a frame whose
    *     token info is missing (`try_fetch_token_info(...)?`) never
    *     becomes an action, so it can neither open nor close a bracket
    *     (INNER token joins before bracketing);
    *   - the back side PREFERS collects: when a (block, eoa, pool) group
    *     has any classified collect, the burn-leg amounts come from the
    *     collects and the burns are discarded — `backrun_burns:
    *     Some(collect).filter(|f| !f.is_empty()).map(...).unwrap_or
    *     (burns)` (jit_liquidity.rs:322-340). `n_collect_backed` counts
    *     brackets that took the collect arm.
    *
    * Fixture casting: EVERY registered pool plays a V3 pool here (the
    * bracket needs mint+burn+victim coincidence on one (block, eoa,
    * pool) — the v3-protocol quarter of the pool space alone leaves no
    * victims in range at small SF), mirroring q5_jit's all-protocol
    * mint/burn feed; the DECODE layouts are strictly uniswap_v3.rs.
    *
    * Scale shape: the frame scans prune on selector + pool broadcast
    * join; the precedence window and bracket joins key on (block, eoa,
    * pool) — block-grained keys, so a hot searcher EOA spreads across
    * blocks (the q1_bigmac skew argument applies unchanged). */
  private val q5JitReal = QueryDef(
    "q5_jit_real",
    (s, dir) => {
      val up = pools(s)
        .select(col("address").as("p_addr"), col("t0_id"), col("t1_id"))
      val t0d = decimalsOf(s, "d0_id", "dec0")
      val t1d = decimalsOf(s, "d1_id", "dec1")
      def v3Frames(sel: String) = v3PositionFrames(s, dir, sel, up)
      // try_fetch_token_info? — INNER joins: a failed classification is
      // a frame that never becomes an action
      def classify(dec: org.apache.spark.sql.DataFrame) = dec
        .join(broadcast(t0d), col("t0_id") === col("d0_id"))
        .join(broadcast(t1d), col("t1x") === col("d1_id"))
        .withColumn("amount_in",
          col("a0_ret").cast("double") / pow10d(col("dec0")))
        .withColumn("amount_out",
          col("a1_ret").cast("double") / pow10d(col("dec1")))
        .withColumn("token_in_id", col("t0_id"))
        .withColumn("token_out_id", col("t1x"))
        .withColumn("pool", col("to_address"))
      val actShape = Seq("block_number", "from_address", "pool", "tx_idx",
        "trace_idx", "action_type", "token_in_id", "token_out_id",
        "amount_in", "amount_out")
      val mints = classify(v3MintDecode(mintCalldata(v3Frames(SelMint))))
        .withColumn("action_type", lit("mint"))
        .select(actShape.map(col): _*)
      val backBase = v3Frames(SelBurn)
        .withColumn("is_collect", size(col("trace_address")) === 2)
      val backDec = v3BurnDecode(burnCalldata(backBase.filter(!col("is_collect"))))
        .unionByName(
          v3CollectDecode(collectCalldata(backBase.filter(col("is_collect")))),
          allowMissingColumns = true)
      // collect precedence AFTER classification: only classified collects
      // can displace the burns (jit_liquidity.rs:322-340)
      val backs = collectPrecedence(classify(backDec))
        .withColumn("action_type", lit("burn"))
      val collFlag = backs
        .groupBy(col("block_number"), col("from_address").as("eoa"), col("pool"))
        .agg((max(when(col("is_collect"), 1).otherwise(0)) === 1)
          .as("coll_backed"))
      val mb = mints.unionByName(backs.select(actShape.map(col): _*))
      InspectorOps.jitBracketsOf(mb, InspectorOps.swTxOf(s, dir))
        .join(collFlag, Seq("block_number", "eoa", "pool"))
        .groupBy("block_number")
        .agg(count(lit(1)).as("n_jit"),
          sum(col("n_victims")).as("n_victims"),
          sum(when(col("coll_backed"), 1L).otherwise(0L))
            .as("n_collect_backed"),
          dsum(col("fee_usd")).as("sum_fee_usd"))
        .orderBy("block_number")
    },
    Some(s"""WITH ${Accounting.sqlDomainCtes}, ${InspectorOps.swTxCteShared},
      v3p AS (SELECT address, t0_id, t1_id FROM pool),
      jrm AS (
        SELECT t.block_number, t.from_address AS eoa, t.to_address AS pool,
          t.tx_idx, t.trace_idx, p.t0_id AS tk0,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x,
          t.q6, t.p2
        FROM trace t JOIN v3p p ON t.to_address = p.address
        WHERE t.selector = '$SelMint'),
      jrm_ok AS (
        SELECT m.*, m.q6 / ${sqlPow10.format("d0.decimals")} AS a0,
          m.p2 / ${sqlPow10.format("d1.decimals")} AS a1
        FROM jrm m JOIN tok d0 ON d0.token_id = m.tk0
        JOIN tok d1 ON d1.token_id = m.t1x),
      jrb AS (
        SELECT t.block_number, t.from_address AS eoa, t.to_address AS pool,
          t.tx_idx, t.trace_idx, p.t0_id AS tk0,
          CASE WHEN (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 41 = 0
            THEN $NumTokens + CAST(t.p2 AS BIGINT) % 2 ELSE p.t1_id END AS t1x,
          t.q6, t.p2, len(t.trace_address) = 2 AS is_coll
        FROM trace t JOIN v3p p ON t.to_address = p.address
        WHERE t.selector = '$SelBurn'),
      jrb_ok AS (
        SELECT b.*, b.q6 / ${sqlPow10.format("d0.decimals")} AS a0,
          b.p2 / ${sqlPow10.format("d1.decimals")} AS a1
        FROM jrb b JOIN tok d0 ON d0.token_id = b.tk0
        JOIN tok d1 ON d1.token_id = b.t1x),
      jrb_p AS (
        SELECT *, SUM(CASE WHEN is_coll THEN 1 ELSE 0 END)
          OVER (PARTITION BY block_number, eoa, pool) AS n_coll
        FROM jrb_ok),
      jrb_f AS (SELECT * FROM jrb_p WHERE is_coll OR n_coll = 0),
      jrms AS (
        SELECT block_number, eoa, pool, MIN(tx_idx) AS mint_idx,
          ARG_MIN(tk0, trace_idx) AS mint_t0,
          ARG_MIN(t1x, trace_idx) AS mint_t1,
          ${sqlSum("a0")} AS mint_in, ${sqlSum("a1")} AS mint_out
        FROM jrm_ok GROUP BY 1, 2, 3),
      jrbs AS (
        SELECT block_number, eoa, pool, MAX(tx_idx) AS burn_idx,
          ${sqlSum("a0")} AS burn_in, ${sqlSum("a1")} AS burn_out,
          MAX(CASE WHEN is_coll THEN 1 ELSE 0 END) AS coll_backed
        FROM jrb_f GROUP BY 1, 2, 3),
      jrj AS (
        SELECT m.*, b.burn_idx, b.burn_in, b.burn_out, b.coll_backed
        FROM jrms m JOIN jrbs b USING (block_number, eoa, pool)
        WHERE m.mint_idx < b.burn_idx),
      jrv AS (
        SELECT j.block_number, j.eoa, j.pool, j.mint_idx, j.burn_idx,
          j.mint_t0, j.mint_t1, j.mint_in, j.mint_out, j.burn_in,
          j.burn_out, j.coll_backed, COUNT(*) AS n_victims
        FROM jrj j JOIN sw_tx v
          ON v.block_number = j.block_number AND v.pool = j.pool
         AND v.tx_idx > j.mint_idx AND v.tx_idx < j.burn_idx
         AND v.eoa <> j.eoa
        GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12)
      SELECT block_number, COUNT(*) AS n_jit,
        CAST(SUM(n_victims) AS BIGINT) AS n_victims,
        CAST(SUM(coll_backed) AS BIGINT) AS n_collect_backed,
        ${sqlSum(s"""(burn_in - mint_in) * ${tokenPriceSql("mint_t0")}
          + (burn_out - mint_out) * ${tokenPriceSql("mint_t1")}""")}
          AS sum_fee_usd
      FROM jrv GROUP BY 1 ORDER BY 1"""))

  // ── MakerDssFlash: the ERC-3156 single-asset mixed-source loan ────────────

  /** `flashLoan(address receiver, address token, uint256 amount, bytes
    * data)`. */
  private[graft] val DssFlashCall = calldata(address("recv_cd"),
    address("tok_cd"), uint("amt_cd"), bytes(""))
  /** FlashLoan's indexed receiver topic, then its data words. */
  private[graft] val DssFlashTopic = words(address("recv_topic"))
  private[graft] val DssFlashLog =
    words(address("tok_log"), uint("amt_log"), uint("fee_log"))
  private[graft] def dssFlashDecode(t: org.apache.spark.sql.DataFrame) =
    DssFlashLog.decode(DssFlashTopic.decode(
      DssFlashCall.decode(t, "calldata"), "topic1"), "log_data")
  /** C1 (MakerDssFlash `flashLoan` → FlashLoan): the ERC-3156 shape —
    * `flashLoan(receiver, token, amount, data)` — where the classified
    * fields come from THREE sources (maker/dss_flash.rs:6-39): token and
    * amount from CALLDATA words 1/2, the receiver contract from the
    * FlashLoan event's INDEXED topic (`logs.receiver` — topic1, not a
    * data word), and the fee from log data word 2. `flash_loan_field?`
    * fails FIRST on an absent event; the single `try_fetch_token_info?`
    * quarantines after it. `n_echo_ok` pins the calldata↔log token and
    * amount echoes plus the topic↔calldata receiver agreement.
    *
    * Scale shape: one pruned trace scan, one broadcast token join, one
    * rollup. */
  private val c1DssFlash = QueryDef(
    "c1_dss_flash",
    (s, dir) => {
      val t = framesOf(s, dir, SelLiquidation)
        .withColumn("has_log", col("p2l") % 7 =!= 0)
        .withColumn("bucket", col("tok_id") % 5)
      val tokA = md5(concat(lit("tok:"), col("tok_id")))
      val packed = t
        .withColumn("calldata", DssFlashCall.pack(col("selector"),
          col("from_address"), tokA, col("q6l"), lit("")))
        .withColumn("topic1",
          when(col("has_log"), DssFlashTopic.pack(col("from_address"))))
        .withColumn("log_data", when(col("has_log"),
          DssFlashLog.pack(tokA, col("q6l"), col("p2l") % 500)))
      val dec = dssFlashDecode(packed)
      val tk = decimalsOf(s, "tk_id", "tk_dec")
      dec
        .join(broadcast(tk),
          substring(col("tok_cd"), 9, 32) ===
            md5(concat(lit("tok:"), col("tk_id"))), "left")
        .withColumn("status",
          when(col("amt_log").isNull, "no_log") // flash_loan_field? first
            .when(col("tk_dec").isNull, "quarantined")
            .otherwise("ok"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "no_log", 1L).otherwise(0L))
            .as("n_no_log"),
          sum(when(col("status") === "quarantined", 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("status") === "ok" &&
            col("tok_log") === col("tok_cd") &&
            col("amt_log") === col("amt_cd") &&
            col("recv_topic") === col("recv_cd"), 1L).otherwise(0L))
            .as("n_echo_ok"),
          dsum(when(col("status") === "ok",
            col("amt_cd").cast("double") / pow10d(col("tk_dec")))
            .otherwise(lit(0.0))).as("sum_amount_scaled"),
          dsum(when(col("status") === "ok",
            col("fee_log").cast("double") / pow10d(col("tk_dec")))
            .otherwise(lit(0.0))).as("sum_fee_scaled"))
        .orderBy("bucket")
    },
    withCtes(s""", df13 AS (
        SELECT t.tok_id % 5 AS bucket, t.tok_id,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          CAST(t.p2 AS BIGINT) % 7 <> 0 AS has_log, tk.decimals AS dec
        FROM trace t LEFT JOIN tok tk ON tk.token_id = t.tok_id
        WHERE t.selector = '$SelLiquidation')
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN NOT has_log THEN 1 ELSE 0 END) AS BIGINT)
          AS n_no_log,
        CAST(SUM(CASE WHEN has_log AND dec IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN has_log AND dec IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_ok,
        CAST(SUM(CASE WHEN has_log AND dec IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_echo_ok,
        ${sqlSum(s"""CASE WHEN has_log AND dec IS NOT NULL
          THEN q6l / ${sqlPow10.format("dec")} ELSE 0.0e0 END""")}
          AS sum_amount_scaled,
        ${sqlSum(s"""CASE WHEN has_log AND dec IS NOT NULL
          THEN (p2l % 500) / ${sqlPow10.format("dec")} ELSE 0.0e0 END""")}
          AS sum_fee_scaled
      FROM df13 GROUP BY 1 ORDER BY 1"""))

  // ── Dodo buyShares: return-data Mint with LAZY per-side fetch ─────────────

  private[graft] val BuySharesCall = calldata(address("to_dec"))
  private[graft] val BuySharesRet =
    words(int("shares_dec"), int("base_dec"), int("quote_dec"))
  private[graft] def buySharesDecode(t: org.apache.spark.sql.DataFrame) =
    BuySharesRet.decode(BuySharesCall.decode(t, "calldata"), "ret_data")
  /** C1 (Dodo DSP `buyShares` → Mint): the amounts ride the RETURN data
    * — `buyShares(address to)` returns `(shares, baseInput, quoteInput)`
    * (dodo/dodo_v2.rs:109-156) — and the token fetches are LAZY: each
    * side fetches its token ONLY when its input is nonzero (`if
    * return_data.baseInput > U256::ZERO { try_fetch(...)? ... }`), so a
    * MISSING token on a ZERO side does not quarantine — a finer ladder
    * than Balancer's loop-wide `?`. The pair is registry-sorted
    * ([[c1UniV2MintBurn]]'s `get_protocol_details_sorted` again).
    *
    * Scale shape: one pruned trace scan, one broadcast pool join, two
    * broadcast token joins, one rollup. */
  private val c1DodoShares = QueryDef(
    "c1_dodo_shares",
    (s, dir) => {
      val t = framesOf(s, dir, SelMint)
        .withColumn("base_in",
          when(col("p2l") % 3 === 0, lit(0L)).otherwise(col("q6l")))
        .withColumn("quote_in",
          when(col("p2l") % 5 === 0, lit(0L)).otherwise(col("q6l") + 7))
      val packed = t
        .withColumn("calldata",
          BuySharesCall.pack(col("selector"), col("from_address")))
        .withColumn("ret_data",
          BuySharesRet.pack(col("p2l"), col("base_in"), col("quote_in")))
      val dec = buySharesDecode(packed)
      val po = pools(s).select(col("address").as("p_addr"),
        col("t0_id").as("p_t0"), col("t1_id").as("p_t1"))
      val tkA = decimalsOf(s, "a_id", "a_dec")
      val tkB = decimalsOf(s, "b_id", "b_dec")
      dec
        .join(broadcast(po), col("to_address") === col("p_addr"))
        .withColumn("swapped", md5(concat(lit("tok:"), col("p_t0"))) >
          md5(concat(lit("tok:"), col("p_t1"))))
        .withColumn("s0_id",
          when(col("swapped"), col("p_t1")).otherwise(col("p_t0")))
        .withColumn("s1_id",
          when(col("swapped"), col("p_t0")).otherwise(col("p_t1")))
        .join(broadcast(tkA), col("s0_id") === col("a_id"), "left")
        .join(broadcast(tkB), col("s1_id") === col("b_id"), "left")
        .withColumn("sides",
          when(col("base_dec") > 0 && col("quote_dec") > 0, "both")
            .when(col("base_dec") > 0, "base")
            .when(col("quote_dec") > 0, "quote").otherwise("none"))
        // LAZY fetch: a missing token only quarantines when ITS side is
        // live (dodo_v2.rs:124-138)
        .withColumn("quarantined",
          (col("base_dec") > 0 && col("a_dec").isNull) ||
            (col("quote_dec") > 0 && col("b_dec").isNull))
        .groupBy("sides")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("quarantined"), 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(!col("quarantined") &&
            col("to_dec") === concat(lit("0" * 8), col("from_address")),
            1L).otherwise(0L)).as("n_ok"),
          sum(when(!col("quarantined"), col("shares_dec")).otherwise(0L))
            .as("sum_shares"),
          dsum(when(!col("quarantined") && col("base_dec") > 0,
            col("base_dec").cast("double") / pow10d(col("a_dec")))
            .otherwise(lit(0.0))).as("sum_base_scaled"),
          dsum(when(!col("quarantined") && col("quote_dec") > 0,
            col("quote_dec").cast("double") / pow10d(col("b_dec")))
            .otherwise(lit(0.0))).as("sum_quote_scaled"))
        .orderBy("sides")
    },
    withCtes(s""", ds13 AS (
        SELECT CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          CASE WHEN CAST(t.p2 AS BIGINT) % 3 = 0 THEN 0
            ELSE CAST(t.q6 AS BIGINT) END AS base_in,
          CASE WHEN CAST(t.p2 AS BIGINT) % 5 = 0 THEN 0
            ELSE CAST(t.q6 AS BIGINT) + 7 END AS quote_in,
          CASE WHEN md5('tok:' || p.t0_id) > md5('tok:' || p.t1_id)
            THEN p.t1_id ELSE p.t0_id END AS s0_id,
          CASE WHEN md5('tok:' || p.t0_id) > md5('tok:' || p.t1_id)
            THEN p.t0_id ELSE p.t1_id END AS s1_id
        FROM trace t JOIN pool p ON p.address = t.to_address
        WHERE t.selector = '$SelMint'),
      ds2 AS (
        SELECT d.*, a.decimals AS a_dec, b.decimals AS b_dec,
          CASE WHEN d.base_in > 0 AND d.quote_in > 0 THEN 'both'
            WHEN d.base_in > 0 THEN 'base'
            WHEN d.quote_in > 0 THEN 'quote' ELSE 'none' END AS sides,
          (d.base_in > 0 AND a.decimals IS NULL)
            OR (d.quote_in > 0 AND b.decimals IS NULL) AS quarantined
        FROM ds13 d LEFT JOIN tok a ON a.token_id = d.s0_id
          LEFT JOIN tok b ON b.token_id = d.s1_id)
      SELECT sides, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN quarantined THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quarantined,
        CAST(SUM(CASE WHEN NOT quarantined THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(SUM(CASE WHEN NOT quarantined THEN p2l ELSE 0 END) AS BIGINT)
          AS sum_shares,
        ${sqlSum(s"""CASE WHEN NOT quarantined AND base_in > 0
          THEN base_in / ${sqlPow10.format("a_dec")} ELSE 0.0e0 END""")}
          AS sum_base_scaled,
        ${sqlSum(s"""CASE WHEN NOT quarantined AND quote_in > 0
          THEN quote_in / ${sqlPow10.format("b_dec")} ELSE 0.0e0 END""")}
          AS sum_quote_scaled
      FROM ds2 GROUP BY 1 ORDER BY 1"""))

  // ── ZeroX fillOtcOrder: log-only swap + DELEGATED-log collection ──────────

  private[graft] val OtcFilledLog = words(bytes32(""), address("maker_dec"),
    address("taker_dec"), address("maker_tok"), address("taker_tok"),
    uint("maker_fill"), uint("taker_fill"))
  /** The OtcOrderFilled decode core on any frame with `log_data`:
    * `OtcOrderFilled(bytes32 orderHash, address maker, address taker,
    * address makerToken, address takerToken, uint128
    * makerTokenFilledAmount, uint128 takerTokenFilledAmount)` — NOTHING
    * indexed, all seven fields ride the data section
    * (classifier-abis/zero-x/ZeroXOtcOrdersFeature.json). */
  private[graft] def otcFilledDecode(t: org.apache.spark.sql.DataFrame) =
    OtcFilledLog.decode(t, "log_data")

  /** C1 (ZeroX `fillOtcOrder` → Swap): the swap decodes ENTIRELY from
    * the OtcOrderFilled EVENT — `from = recipient = logs.taker`, amounts
    * and both tokens are log words, the calldata contributes nothing
    * (zerox/mod.rs:126-157). The distinctive tree arm is
    * `include_delegated_logs: true`: the event is emitted by the
    * DELEGATECALLED OtcOrders feature contract, so the classifier
    * collects logs from the frame AND its delegatecall children, taking
    * the first match — modeled here as a two-candidate (self, child)
    * equi-join over the trace tree with self-precedence, `log_src`
    * splitting the rollup into self/child/none. A frame with no event in
    * either slot fails (`otc_order_filled_field?` → the none row); a
    * missing takerToken/makerToken quarantines (two `?` fetches).
    *
    * Scale shape: the candidate explode is ×2 and the log join is
    * (tx_hash, trace_idx) equi-keyed — tx-local at any scale; token
    * joins broadcast; one rollup. */
  private val c1ZeroxOtc = QueryDef(
    "c1_zerox_otc",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tr = tracesTable(s, dir)
        .withColumn("q6l", col("q6").cast("long"))
        .withColumn("p2l", col("p2").cast("long"))
      val roots = tr
        .filter(col("trace_idx") % 5 === 0 && col("selector") === SelV2Swap)
        .select(col("tx_hash"), col("trace_idx").as("f_idx"),
          col("from_address").as("f_from"))
      // log-bearing rows: a root emits the event itself when its own
      // p2 is even; a depth-1 child (the delegated feature contract)
      // emits it when its own p2 is odd (q6 is quantity-derived and
      // always even in this fixture - parity must come from p2)
      val logs = tr
        .filter((col("trace_idx") % 5 === 0 && col("p2l") % 2 === 0) ||
          (col("trace_idx") % 5 === 1 && col("p2l") % 2 === 1))
        .withColumn("log_data", OtcFilledLog.pack(
          concat(md5(concat(lit("oh:"), col("tx_hash"), col("trace_idx"))),
            md5(concat(lit("oh2:"), col("tx_hash"), col("trace_idx")))),
          md5(concat(lit("mkr:"), col("p2l") % 9)),
          col("from_address"), // taker
          md5(concat(lit("tok:"), (col("tok_id") + 1) % TokRefSpace)),
          md5(concat(lit("tok:"), col("tok_id"))),
          col("q6l"), col("p2l") + 1))
        .select(col("tx_hash").as("l_tx"), col("trace_idx").as("l_idx"),
          col("log_data"), col("tok_id").as("l_tok"))
      val cand = roots.select(col("tx_hash"), col("f_idx"), col("f_from"),
        explode(array(col("f_idx"), col("f_idx") + 1)).as("cand_idx"))
      val wFirst = Window.partitionBy("tx_hash", "f_idx").orderBy("l_idx")
      val firstLog = cand
        .join(logs, col("l_tx") === col("tx_hash") &&
          col("l_idx") === col("cand_idx"))
        .withColumn("rn", row_number().over(wFirst)) // self precedes child
        .filter(col("rn") === 1)
        .select(col("tx_hash"), col("f_idx"), col("l_idx"),
          col("log_data"), col("l_tok"))
      val tkIn = decimalsOf(s, "in_id", "in_dec")
      val tkOut = decimalsOf(s, "out_id", "out_dec")
      otcFilledDecode(
        roots.join(firstLog, Seq("tx_hash", "f_idx"), "left"))
        .withColumn("log_src",
          when(col("l_idx").isNull, "none")
            .when(col("l_idx") === col("f_idx"), "self").otherwise("child"))
        .join(broadcast(tkIn),
          substring(col("taker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("in_id"))), "left")
        .join(broadcast(tkOut),
          substring(col("maker_tok"), 9, 32) ===
            md5(concat(lit("tok:"), col("out_id"))), "left")
        .withColumn("status",
          when(col("log_src") === "none", "no_log")
            .when(col("in_dec").isNull || col("out_dec").isNull,
              "quarantined")
            .otherwise("ok"))
        .groupBy("log_src")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "quarantined", 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("taker_dec") ===
            concat(lit("0" * 8), col("f_from")), 1L).otherwise(0L))
            .as("n_taker_ok"),
          dsum(when(col("status") === "ok",
            col("taker_fill").cast("double") / pow10d(col("in_dec")))
            .otherwise(lit(0.0))).as("sum_in_scaled"),
          dsum(when(col("status") === "ok",
            col("maker_fill").cast("double") / pow10d(col("out_dec")))
            .otherwise(lit(0.0))).as("sum_out_scaled"))
        .orderBy("log_src")
    },
    withCtes(s""", zxr AS (
        SELECT tx_hash, trace_idx AS f_idx
        FROM trace
        WHERE trace_idx % 5 = 0 AND selector = '$SelV2Swap'),
      zxl AS (
        SELECT tx_hash AS l_tx, trace_idx AS l_idx, tok_id AS l_tok,
          CAST(q6 AS BIGINT) AS l_q6, CAST(p2 AS BIGINT) AS l_p2
        FROM trace
        WHERE (trace_idx % 5 = 0 AND CAST(p2 AS BIGINT) % 2 = 0)
           OR (trace_idx % 5 = 1 AND CAST(p2 AS BIGINT) % 2 = 1)),
      zxm AS (
        SELECT r.tx_hash, r.f_idx, l.l_idx, l.l_tok, l.l_q6, l.l_p2,
          ROW_NUMBER() OVER (PARTITION BY r.tx_hash, r.f_idx
            ORDER BY l.l_idx) AS rn
        FROM zxr r JOIN zxl l ON l.l_tx = r.tx_hash
          AND (l.l_idx = r.f_idx OR l.l_idx = r.f_idx + 1)),
      zxf AS (
        SELECT r.tx_hash, r.f_idx, m.l_idx, m.l_tok, m.l_q6, m.l_p2,
          CASE WHEN m.l_idx IS NULL THEN 'none'
            WHEN m.l_idx = r.f_idx THEN 'self' ELSE 'child' END AS log_src,
          i.decimals AS in_dec, o.decimals AS out_dec
        FROM zxr r LEFT JOIN (SELECT * FROM zxm WHERE rn = 1) m
          ON m.tx_hash = r.tx_hash AND m.f_idx = r.f_idx
        LEFT JOIN tok i ON i.token_id = m.l_tok
        LEFT JOIN tok o ON o.token_id = (m.l_tok + 1) % $TokRefSpace)
      SELECT log_src, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN log_src <> 'none'
          AND (in_dec IS NULL OR out_dec IS NULL) THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN log_src <> 'none'
          AND in_dec IS NOT NULL AND out_dec IS NOT NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_ok,
        CAST(SUM(CASE WHEN log_src <> 'none' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_taker_ok,
        ${sqlSum(s"""CASE WHEN log_src <> 'none' AND in_dec IS NOT NULL
            AND out_dec IS NOT NULL
          THEN (l_p2 + 1) / ${sqlPow10.format("in_dec")} ELSE 0.0e0 END""")}
          AS sum_in_scaled,
        ${sqlSum(s"""CASE WHEN log_src <> 'none' AND in_dec IS NOT NULL
            AND out_dec IS NOT NULL
          THEN l_q6 / ${sqlPow10.format("out_dec")} ELSE 0.0e0 END""")}
          AS sum_out_scaled
      FROM zxf GROUP BY 1 ORDER BY 1"""))

  // ── Uniswap V2 mint/burn: registry-SORTED pair + strict failure ladder ────

  /** `mint(address to)` / `burn(address to)`; Mint/Burn carry the two
    * amounts. */
  private[graft] val V2MintCall = calldata(address("recip_dec"))
  private[graft] val V2MintLog = words(uint("am0_dec"), uint("am1_dec"))
  /** C1 (Uniswap V2 `mint`/`burn` → Mint/Burn): the thinnest real layout
    * — `mint(address to)` / `burn(address to)` carry ONE calldata word;
    * both amounts ride the Mint/Burn EVENT's two data words
    * (uniswap_v2.rs:68-134). Three reference semantics:
    *
    *   - `log_data.mint_field?` / `burn_field?` fails FIRST — an absent
    *     event quarantines before any registry or token fetch
    *     (`n_no_log`, and those frames never count as token-missing);
    *   - the pair comes from `get_protocol_details_sorted(target)` — the
    *     registry pair CANONICALLY ORDERED BY ADDRESS, not by the pool's
    *     storage order (`n_sorted_swapped` counts pairs the sort
    *     actually reorders; amount0 scales by the sorted-FIRST token's
    *     decimals);
    *   - both token fetches are `?` — either missing quarantines the
    *     whole frame (`n_quarantined`), the all-or-nothing arm.
    *
    * Scale shape: one pruned trace scan, one broadcast pool join, two
    * broadcast token joins, one rollup — no fact shuffle before the
    * 6-group agg. */
  private val c1UniV2MintBurn = QueryDef(
    "c1_univ2_mint_burn",
    (s, dir) => {
      val t = tracesTable(s, dir)
        .filter(col("selector") === SelMint || col("selector") === SelBurn)
        .withColumn("kind",
          when(col("selector") === SelMint, "mint").otherwise("burn"))
        .withColumn("q6l", col("q6").cast("long"))
        .withColumn("p2l", col("p2").cast("long"))
        .withColumn("has_log", col("p2l") % 7 =!= 0)
      val packed = V2MintLog.decode(V2MintCall.decode(t
        .withColumn("calldata", V2MintCall.pack(col("selector"), col("from_address")))
        .withColumn("log_data",
          when(col("has_log"), V2MintLog.pack(col("q6l"), col("p2l")))
            .otherwise(unhex(lit("")))), "calldata"), "log_data")
      val po = pools(s).select(col("address").as("p_addr"),
        col("t0_id").as("p_t0"), col("t1_id").as("p_t1"))
      val tkA = decimalsOf(s, "a_id", "a_dec")
      val tkB = decimalsOf(s, "b_id", "b_dec")
      packed
        .join(broadcast(po), col("to_address") === col("p_addr"))
        // get_protocol_details_sorted: canonical ADDRESS order, which is
        // NOT the fixture's id order (md5 strings don't sort like ids)
        .withColumn("t0a", md5(concat(lit("tok:"), col("p_t0"))))
        .withColumn("t1a", md5(concat(lit("tok:"), col("p_t1"))))
        .withColumn("swapped", col("t0a") > col("t1a"))
        .withColumn("s0_id",
          when(col("swapped"), col("p_t1")).otherwise(col("p_t0")))
        .withColumn("s1_id",
          when(col("swapped"), col("p_t0")).otherwise(col("p_t1")))
        .join(broadcast(tkA), col("s0_id") === col("a_id"), "left")
        .join(broadcast(tkB), col("s1_id") === col("b_id"), "left")
        .withColumn("status",
          when(col("am0_dec").isNull, "no_log") // mint_field? fails FIRST
            .when(col("a_dec").isNull || col("b_dec").isNull, "quarantined")
            .otherwise("ok"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("status") === "no_log", 1L).otherwise(0L))
            .as("n_no_log"),
          sum(when(col("status") === "quarantined", 1L).otherwise(0L))
            .as("n_quarantined"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("recip_dec") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recip_ok"),
          sum(when(col("status") =!= "no_log" && col("swapped"), 1L)
            .otherwise(0L)).as("n_sorted_swapped"),
          dsum(when(col("status") === "ok",
            col("am0_dec").cast("double") / pow10d(col("a_dec")))
            .otherwise(lit(0.0))).as("sum_am0_scaled"),
          dsum(when(col("status") === "ok",
            col("am1_dec").cast("double") / pow10d(col("b_dec")))
            .otherwise(lit(0.0))).as("sum_am1_scaled"))
        .orderBy("kind")
    },
    withCtes(s""", u2mb AS (
        SELECT CASE WHEN t.selector = '$SelMint' THEN 'mint' ELSE 'burn' END
            AS kind,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          CAST(t.p2 AS BIGINT) % 7 <> 0 AS has_log,
          CASE WHEN md5('tok:' || p.t0_id) > md5('tok:' || p.t1_id)
            THEN p.t1_id ELSE p.t0_id END AS s0_id,
          CASE WHEN md5('tok:' || p.t0_id) > md5('tok:' || p.t1_id)
            THEN p.t0_id ELSE p.t1_id END AS s1_id,
          md5('tok:' || p.t0_id) > md5('tok:' || p.t1_id) AS swapped
        FROM trace t JOIN pool p ON p.address = t.to_address
        WHERE t.selector IN ('$SelMint', '$SelBurn')),
      u2st AS (
        SELECT u.*, a.decimals AS a_dec, b.decimals AS b_dec,
          CASE WHEN NOT u.has_log THEN 'no_log'
            WHEN a.decimals IS NULL OR b.decimals IS NULL THEN 'quarantined'
            ELSE 'ok' END AS status
        FROM u2mb u LEFT JOIN tok a ON a.token_id = u.s0_id
          LEFT JOIN tok b ON b.token_id = u.s1_id)
      SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN status = 'no_log' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_no_log,
        CAST(SUM(CASE WHEN status = 'quarantined' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ok,
        CAST(COUNT(*) AS BIGINT) AS n_recip_ok,
        CAST(SUM(CASE WHEN status <> 'no_log' AND swapped THEN 1 ELSE 0 END)
          AS BIGINT) AS n_sorted_swapped,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN q6l / ${sqlPow10.format("a_dec")} ELSE 0.0e0 END""")}
          AS sum_am0_scaled,
        ${sqlSum(s"""CASE WHEN status = 'ok'
          THEN p2l / ${sqlPow10.format("b_dec")} ELSE 0.0e0 END""")}
          AS sum_am1_scaled
      FROM u2st GROUP BY 1 ORDER BY 1"""))

  // ── 1inch AggregationRouterV5: four method layouts, one dispatch ──────────

  /** C1 (1inch V5 router → Aggregator): FOUR real method layouts behind
    * one selector dispatch, the aggregator family's real input shape
    * (oneinch/one_inch_aggregation_router_v5.rs; NormalizedAggregator
    * carries only from/to/recipient — no token fetch, so no quarantine
    * arm exists in this family):
    *
    *   - `swap(executor, desc, permit, data)` (:5-26): `desc` is a
    *     STATIC SwapDescription tuple (7 word fields, none dynamic), so
    *     it is INLINED in the head — dstReceiver is plain word 4, the
    *     opposite encoding of Balancer's offset-passed SwapRequest;
    *   - `fillOrderTo(order_, sig, interaction, ...)` (:28-49): the
    *     order tuple HAS a dynamic member (`bytes interactions`), so it
    *     IS offset-passed — recipient = order_.receiver rides tuple
    *     field 4 through the head-offset walk;
    *   - `unoswapTo(recipient, srcToken, amount, minReturn, pools[])`
    *     (:93-115): recipient is word 0, and the route is a dynamic
    *     uint256[] pool-id array;
    *   - `clipperSwapTo(...)` (:70-91): nine flat static words.
    *
    * The same physical byte layouts hold on-chain; the dispatch mirrors
    * the router's selector table. Scale shape: one pruned trace scan,
    * zero joins, all four decodes in one codegen'd projection, one
    * 4-group rollup. */
  private[graft] val OneinchSwapCall = calldata(address("executor"),
    address("src_dec"), address(""), address(""), address("recip_dec"),
    uint("amt_dec"), uint(""), uint("flags"), bytes("permit"), bytes(""))
  /** The order tuple: salt, makerAsset, takerAsset, maker, receiver,
    * allowedSender, making, taking, offsets, interactions. */
  private[graft] val OneinchFillCall = calldata(
    tuple("", uint(""), address("src_dec"), address(""), address(""),
      address("recip_dec"), address(""), uint("amt_dec"), uint("taking"),
      uint(""), bytes("")),
    bytes(""), bytes(""), uint(""), uint(""), uint(""), address("target"))
  private[graft] val OneinchUnoswapCall = calldata(address("recip_dec"),
    address("src_dec"), uint("amt_dec"), uint(""),
    arr("n_pools_dec", AbiRead.Uint, "pool0"))
  /** clipperExchange, recipient, srcToken, dstToken, inputAmount,
    * outputAmount, goodUntil, r, vs. */
  private[graft] val OneinchClipperCall = calldata(address(""),
    address("recip_dec"), address("src_dec"), address(""), uint("amt_dec"),
    uint(""), uint("good_until"), uint(""), uint(""))
  private val oneinchArms = Seq(OneinchSwapCall, OneinchFillCall,
    OneinchUnoswapCall, OneinchClipperCall)
  // `name` read through the layout of the frame's arm
  private def oneinchRead(name: String): Column = {
    val reads = oneinchArms.map(_.read(col("calldata"), name))
    (1 until 3).foldLeft(when(col("arm") === 0, reads.head)) {
      (w, k) => w.when(col("arm") === k, reads(k))
    }.otherwise(reads(3))
  }
  /** The per-method router decode on any frame with (calldata, arm): the
    * selector table's field positions — swap's desc is INLINE (recipient
    * = word 4), fillOrderTo's order is OFFSET-passed (receiver = tuple
    * field 4), unoswapTo/clipperSwapTo are flat words. */
  private[graft] def oneinchRouterDecode(t: org.apache.spark.sql.DataFrame) =
    Seq("recip_dec", "src_dec", "amt_dec")
      .foldLeft(t)((d, n) => d.withColumn(n, oneinchRead(n)))

  /** Shared 1inch fixture: packs one of the four V5 method calldatas on
    * every SelCurveSwap trace (arm = (q6+p2) % 4). */
  private def oneinchFrames(s: org.apache.spark.sql.SparkSession,
      dir: String) = {
      val t = framesOf(s, dir, SelCurveSwap)
        .withColumn("arm", (col("q6l") + col("p2l")) % 4)
        .withColumn("half", expr("q6l div 2"))
        .withColumn("n_pools", lit(1L) + col("p2l") % 2)
      val eoa = col("from_address")
      val tok = md5(concat(lit("tok:"), col("tok_id")))
      val tok2 = md5(concat(lit("tok:"), (col("tok_id") + 1) % TokRefSpace))
      val (q6l, half) = (col("q6l"), col("half"))
      t.withColumn("calldata",
        // swap: executor, desc inline (src, dst, srcRecv, dstRecv, amount,
        // minReturn, flags), permit, data
        when(col("arm") === 0, OneinchSwapCall.pack(lit("12aa3caf"), eoa,
          tok, tok2, eoa, eoa, q6l, half, col("p2l") % 1000, lit(""), lit("")))
        .when(col("arm") === 1, OneinchFillCall.pack(lit("e5d7bde6"),
          fields(col("p2l"), tok, tok2, eoa, eoa, lit(""), q6l, half,
            lit(0L), lit("")),
          lit(""), lit(""), q6l, half, lit(0L), eoa))
        .when(col("arm") === 2, OneinchUnoswapCall.pack(lit("f78dc253"), eoa,
          tok, q6l, half, elems(col("n_pools"), q6l, q6l + 1)))
        .otherwise(OneinchClipperCall.pack(lit("093d4fa5"), col("to_address"),
          eoa, tok, tok2, q6l, half, col("p2l"), lit(1L), lit(2L))))
        .withColumn("method",
          when(col("arm") === 0, "swap")
            .when(col("arm") === 1, "fill_order")
            .when(col("arm") === 2, "unoswap").otherwise("clipper"))
  }

  /** C5 (aggregator collapse on REAL router bytes): the tree pass that
    * absorbs a 1inch frame's subtree into its NormalizedAggregator
    * (`child_actions`, one_inch.rs collapse; route = first-in/last-out
    * legs as in [[graft.queries.MiscOps]]'s synthetic c5_aggregator) —
    * here KEYED BY THE DECODE: the aggregator frames are the
    * [[oneinchFrames]] roots and the recipient each route is checked
    * against comes from the REAL calldata ([[oneinchRouterDecode]], all
    * four method arms), not a fixture column. Subtree membership uses
    * the trace tree's group geometry (root `idx%5==0` owns `idx..idx+4`,
    * ChainFixture trace_address construction); legs are the child
    * SelTransfer frames in trace order. Frames with NO child legs still
    * classify (`child_actions: vec![]` — the reference fills them during
    * tree building), split out as `n_childless`.
    *
    * Scale shape: roots and legs join (tx_hash, grp)-equi-keyed —
    * tx-local; one rollup by method. */
  private val c5OneinchCollapse = QueryDef(
    "c5_oneinch_collapse",
    (s, dir) => {
      val roots = oneinchRouterDecode(
        oneinchFrames(s, dir).filter(col("trace_idx") % 5 === 0))
        .withColumn("grp", expr("trace_idx div 5"))
        .select(col("tx_hash"), col("grp"), col("method"),
          col("recip_dec"), col("from_address"))
      val legs = tracesTable(s, dir)
        .filter(col("selector") === SelTransfer && col("trace_idx") % 5 =!= 0)
        .withColumn("grp", expr("trace_idx div 5"))
        .withColumn("q6l", col("q6").cast("long"))
        .groupBy(col("tx_hash").as("l_tx"), col("grp").as("l_grp"))
        .agg(count(lit(1)).as("n_absorbed"),
          min_by(col("q6l"), col("trace_idx")).as("route_in"),
          max_by(col("q6l"), col("trace_idx")).as("route_out"))
      roots
        .join(legs, col("l_tx") === col("tx_hash") &&
          col("l_grp") === col("grp"), "left")
        .groupBy("method")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("n_absorbed").isNull, 1L).otherwise(0L))
            .as("n_childless"),
          sum(when(col("recip_dec") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recip_ok"),
          sum(coalesce(col("n_absorbed"), lit(0L))).as("n_pruned_children"),
          dsum(coalesce(col("route_in"), lit(0L)).cast("double") / 1000000.0)
            .as("sum_route_in"),
          dsum(coalesce(col("route_out"), lit(0L)).cast("double") / 1000000.0)
            .as("sum_route_out"))
        .orderBy("method")
    },
    withCtes(s""", oir AS (
        SELECT tx_hash, trace_idx // 5 AS grp,
          CASE (CAST(q6 AS BIGINT) + CAST(p2 AS BIGINT)) % 4
            WHEN 0 THEN 'swap' WHEN 1 THEN 'fill_order'
            WHEN 2 THEN 'unoswap' ELSE 'clipper' END AS method
        FROM trace
        WHERE selector = '$SelCurveSwap' AND trace_idx % 5 = 0),
      oil AS (
        SELECT tx_hash AS l_tx, trace_idx // 5 AS l_grp,
          COUNT(*) AS n_absorbed,
          ARG_MIN(CAST(q6 AS BIGINT), trace_idx) AS route_in,
          ARG_MAX(CAST(q6 AS BIGINT), trace_idx) AS route_out
        FROM trace
        WHERE selector = '$SelTransfer' AND trace_idx % 5 <> 0
        GROUP BY 1, 2)
      SELECT method, CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN l.n_absorbed IS NULL THEN 1 ELSE 0 END)
          AS BIGINT) AS n_childless,
        CAST(COUNT(*) AS BIGINT) AS n_recip_ok,
        CAST(SUM(COALESCE(l.n_absorbed, 0)) AS BIGINT) AS n_pruned_children,
        ${sqlSum("COALESCE(l.route_in, 0) / 1000000.0e0")} AS sum_route_in,
        ${sqlSum("COALESCE(l.route_out, 0) / 1000000.0e0")}
          AS sum_route_out
      FROM oir r LEFT JOIN oil l
        ON l.l_tx = r.tx_hash AND l.l_grp = r.grp
      GROUP BY 1 ORDER BY 1"""))

  private val c1OneinchRouter = QueryDef(
    "c1_oneinch_router",
    (s, dir) => {
      val packed = oneinchFrames(s, dir)
      val cd = col("calldata")
      val dec = oneinchRouterDecode(packed)
        .withColumn("shape_ok",
          when(col("arm") === 0,
            OneinchSwapCall.read(cd, "flags") === col("p2l") % 1000 &&
              OneinchSwapCall.read(cd, "permit_len") === 0)
          .when(col("arm") === 1,
            OneinchFillCall.read(cd, "target") ===
              concat(lit("0" * 8), col("from_address")) &&
              OneinchFillCall.read(cd, "taking") === col("half"))
          .when(col("arm") === 2,
            OneinchUnoswapCall.read(cd, "n_pools_dec") === col("n_pools") &&
              OneinchUnoswapCall.read(cd, "pool0") === col("q6l"))
          .otherwise(OneinchClipperCall.read(cd, "good_until") === col("p2l")))
      dec.groupBy("method")
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("recip_dec") ===
            concat(lit("0" * 8), col("from_address")), 1L).otherwise(0L))
            .as("n_recip_ok"),
          sum(when(col("src_dec") === concat(lit("0" * 8),
            md5(concat(lit("tok:"), col("tok_id")))), 1L).otherwise(0L))
            .as("n_src_ok"),
          sum(when(col("shape_ok"), 1L).otherwise(0L)).as("n_shape_ok"),
          sum(col("amt_dec")).as("sum_amt"))
        .orderBy("method")
    },
    withCtes(s"""
      SELECT CASE (CAST(q6 AS BIGINT) + CAST(p2 AS BIGINT)) % 4
          WHEN 0 THEN 'swap' WHEN 1 THEN 'fill_order'
          WHEN 2 THEN 'unoswap' ELSE 'clipper' END AS method,
        CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(COUNT(*) AS BIGINT) AS n_recip_ok,
        CAST(COUNT(*) AS BIGINT) AS n_src_ok,
        CAST(COUNT(*) AS BIGINT) AS n_shape_ok,
        CAST(SUM(CAST(q6 AS BIGINT)) AS BIGINT) AS sum_amt
      FROM trace WHERE selector = '$SelCurveSwap'
      GROUP BY 1 ORDER BY 1"""))

  // ── Balancer V2 flashLoan: the ALL-OR-NOTHING parallel-array loan ─────────

  private[graft] val BalancerFlashCall = calldata(address("receiver"),
    arr("n_tokens_dec", AbiRead.Address, "tok0", "tok1", "tok2"),
    arr("n_amounts", AbiRead.Uint, "amt0", "amt1", "amt2"), bytes("userdata"))
  /** The Balancer V2 flashLoan decode core on any frame with `calldata`:
    * `flashLoan(address recipient, address[] tokens, uint256[] amounts,
    * bytes userData)` (classifier-abis/balancer/BalancerV2Vault.json) —
    * head words 1/2/3 are tail offsets to the two PARALLEL arrays and
    * the userData bytes. Same element decoders as [[flashLoanDecode]];
    * the SEMANTIC difference is downstream (the token-fetch gate). */
  private[graft] def balancerFlashDecode(t: org.apache.spark.sql.DataFrame) =
    BalancerFlashCall.decode(t, "calldata")

  /** C1 (Balancer V2 `flashLoan`): the same parallel `tokens[]`/
    * `amounts[]` calldata shape as [[c1AaveFlashloan]], but the OPPOSITE
    * failure arm — the reference zips the pairs into ONE
    * `collect::<Result<Vec<_>, _>>()?` (balancer_v2.rs:106-116), so a
    * SINGLE missing token fails the WHOLE loan classification, where
    * Aave's `filter_map(... .ok()?)` drops just the pair (aave/v2.rs:
    * 50-57). `n_failed_frames` vs Aave's `n_dropped_pairs` pins the
    * contrast; the pool is the call TARGET (`pool: info.target_address`)
    * and the receiver contract the decoded recipient word.
    *
    * Scale shape: one pruned trace scan, pairs explode ×≤3, one
    * broadcast token join, one tx-local window, one rollup. */
  private val c1BalancerFlashloan = QueryDef(
    "c1_balancer_flashloan",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = framesOf(s, dir, SelV3Swap)
        .withColumn("n_src", lit(1L) + (col("q6l") + col("p2l")) % 3)
      def tid(k: Int) = (col("tok_id") + 13 * k) % TokRefSpace
      val packed = t.withColumn("calldata", BalancerFlashCall.pack(col("selector"),
        col("from_address"), // recipient (IFlashLoanRecipient)
        elems(col("n_src"), (0 to 2).map(k => md5(concat(lit("tok:"), tid(k)))): _*),
        elems(col("n_src"), (0 to 2).map(k => col("q6l") + 500000L * k): _*),
        lit("")))
      val dec = balancerFlashDecode(packed)
        .withColumn("frame_ok",
          col("receiver") === concat(lit("0" * 8), col("from_address")) &&
          col("n_tokens_dec") === col("n_src") &&
          col("n_amounts") === col("n_src") && col("userdata_len") === 0)
      val pairs = dec.select(col("tx_hash"), col("trace_idx"),
        col("n_src").as("n_assets"), col("frame_ok"),
        explode(array((0 to 2).map(k => struct(lit(k).as("k"),
          col(s"tok$k").as("asset"), col(s"amt$k").as("amt"))): _*)).as("p"))
        .select(col("tx_hash"), col("trace_idx"), col("n_assets"),
          col("frame_ok"), col("p.k").as("k"), col("p.asset").as("asset"),
          col("p.amt").as("amt"))
        .filter(col("asset").isNotNull)
      val tk = tokens(s).select(
        md5(concat(lit("tok:"), col("token_id"))).as("tk_addr"),
        col("decimals").as("tk_dec"))
      val wFrame = Window.partitionBy("tx_hash", "trace_idx")
      pairs
        .join(broadcast(tk), substring(col("asset"), 9, 32) === col("tk_addr"),
          "left")
        // collect::<Result<...>>()? — ONE missing token fails the WHOLE
        // loan (balancer_v2.rs:106-116), the anti-Aave arm
        .withColumn("frame_missing",
          max(when(col("tk_dec").isNull, 1).otherwise(0)).over(wFrame))
        .groupBy("n_assets")
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_frames"),
          sum(when(col("k") === 0 && col("frame_ok"), 1L).otherwise(0L))
            .as("n_frame_ok"),
          sum(when(col("k") === 0 && col("frame_missing") === 1, 1L)
            .otherwise(0L)).as("n_failed_frames"),
          sum(when(col("frame_missing") === 0, 1L).otherwise(0L))
            .as("n_pairs_kept"),
          dsum(when(col("frame_missing") === 0,
            col("amt").cast("double") / pow10d(col("tk_dec")))
            .otherwise(lit(0.0))).as("sum_scaled_amounts"))
        .orderBy("n_assets")
    },
    withCtes(s""", bf13 AS (
        SELECT t.tx_hash, t.trace_idx, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) AS p2l, t.tok_id,
          1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 AS n_assets
        FROM trace t WHERE t.selector = '$SelV3Swap'),
      bfp13 AS (
        SELECT f.*, k.k, (f.tok_id + 13 * k.k) % $TokRefSpace AS tid,
          f.q6l + 500000 * k.k AS amt
        FROM bf13 f JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
          ON k.k < f.n_assets),
      bfw13 AS (
        SELECT p.*, tk.decimals AS dec,
          MAX(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END)
            OVER (PARTITION BY p.tx_hash, p.trace_idx) AS frame_missing
        FROM bfp13 p LEFT JOIN tok tk ON tk.token_id = p.tid)
      SELECT n_assets,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frame_ok,
        CAST(SUM(CASE WHEN k = 0 AND frame_missing = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_failed_frames,
        CAST(SUM(CASE WHEN frame_missing = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_pairs_kept,
        ${sqlSum(s"""CASE WHEN frame_missing = 0
          THEN amt / ${sqlPow10.format("dec")} ELSE 0.0e0 END""")}
          AS sum_scaled_amounts
      FROM bfw13 GROUP BY 1 ORDER BY 1"""))

  // ── Balancer V2 joinPool/exitPool + registerTokens: LOG-side arrays ──────

  /** `joinPool`/`exitPool(bytes32 poolId, address sender, address
    * recipient, (…) request)`; the request is never read. */
  private[graft] val JoinExitCall = calldata(bytes32("pool_dec"),
    address("sender_dec"), address("recip_dec"), tuple("", uint("")))
  private[graft] val PoolBalanceChangedLog = words(
    arr("n_tok", AbiRead.Address, "tok0", "tok1", "tok2"),
    arr("n_del", AbiRead.Sint, "del0", "del1", "del2"),
    arr("n_fee", AbiRead.Uint, "fee0", "fee1", "fee2"))
  /** The joinPool/exitPool + PoolBalanceChanged decode core on any frame
    * with (calldata, log_data): the POOL is the leading 20 bytes of the
    * STATIC `bytes32 poolId` calldata slot (balancer_v2.rs
    * `pool_id_to_address(call_data.poolId)` :219-226 — no tuple
    * indirection, unlike onSwap's SwapRequest), sender/recipient are
    * calldata words 1/2, and the token/amount vectors ride the
    * PoolBalanceChanged EVENT's data section as THREE parallel dynamic
    * arrays at base-0 offsets — `address[] tokens`, SIGNED `int256[]
    * deltas`, `uint256[] protocolFeeAmounts`
    * (classifier-abis/balancer/BalancerV2Vault.json; balancer_v2.rs
    * `logs.tokens` / `logs.deltas[i]`). The delta elements decode under
    * the sign-extension contract ([[graft.functions.AbiCalldata.abi_array_int]]) —
    * join deltas are positive, exit deltas negative, and the classifier
    * takes `.abs()` AFTER the zero skip (:85-96). */
  private[graft] def poolChangeDecode(t: org.apache.spark.sql.DataFrame) =
    PoolBalanceChangedLog.decode(JoinExitCall.decode(t, "calldata"), "log_data")

  /** C1 (Balancer V2 `joinPool`/`exitPool` → Mint/Burn): the amounts ride
    * the PoolBalanceChanged LOG, not the request tuple — the calldata's
    * JoinPoolRequest is deliberately undecoded, as in the reference
    * (balancer_v2.rs:137-180 uses only poolId/sender/recipient from the
    * args). Three reference semantics ride the log decode:
    *
    *   - ZERO deltas are SKIPPED before any token fetch
    *     (`if logs.deltas[i].is_zero() { continue }` :86-88) — a zero
    *     delta on a MISSING token does NOT quarantine (`n_zero_skipped`);
    *   - `try_fetch_token_info(token_address)?` inside the loop fails the
    *     WHOLE classification on the first missing nonzero-delta token
    *     (:90) — all-or-nothing like [[c5SettleReal]], the opposite arm
    *     of [[c1AaveFlashloan]]'s per-pair drop (`n_quarantined`);
    *   - the amount is `deltas[i].abs()` scaled by the token's decimals
    *     (:91) — the SIGN survives the decode (`n_sign_ok` pins join ⇒
    *     positive, exit ⇒ negative on every nonzero pair).
    *
    * Scale shape: one pruned trace scan, pairs explode ×≤3, one broadcast
    * token join, one tx-local window for the frame gate, one rollup —
    * all decode codegen'd. */
  private val c1BalancerJoinExit = QueryDef(
    "c1_balancer_join_exit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = tracesTable(s, dir)
        .filter(col("selector") === SelMint || col("selector") === SelBurn)
        .withColumn("kind",
          when(col("selector") === SelMint, "mint").otherwise("burn"))
        .withColumn("q6l", col("q6").cast("long"))
        .withColumn("p2l", col("p2").cast("long"))
        .withColumn("n_src", lit(1L) + (col("q6l") + col("p2l")) % 3)
        .withColumn("zero1",
          col("n_src") >= 2 && col("p2l") % 3 === 0)
      def tid(k: Int) = (col("tok_id") + 7 * k) % TokRefSpace
      def magK(k: Int) =
        if (k == 1) when(col("zero1"), lit(0L))
          .otherwise(col("q6l") + 1000000L * k)
        else col("q6l") + 1000000L * k
      def deltaK(k: Int) =
        when(col("kind") === "mint", magK(k)).otherwise(-magK(k))
      val n = col("n_src")
      val packed = t
        .withColumn("calldata", JoinExitCall.pack(col("selector"),
          // bytes32 poolId: 20-byte pool address (= the frame's pool
          // target, to_address) ‖ 12-byte spec+nonce junk
          concat(lit("0" * 8), col("to_address"),
            substring(md5(concat(lit("nonce:"), col("tx_hash"))), 1, 24)),
          col("from_address"), col("from_address"), fields(lit(1L))))
        .withColumn("log_data", PoolBalanceChangedLog.pack(
          elems(n, (0 to 2).map(k => md5(concat(lit("tok:"), tid(k)))): _*),
          elems(n, (0 to 2).map(deltaK): _*),
          elems(n, (0 to 2).map(k => col("p2l") % 1000 + 7 * k): _*)))
      val dec = poolChangeDecode(packed)
        .withColumn("frame_ok",
          col("pool_dec") === concat(lit("0" * 8), col("to_address")) &&
          col("sender_dec") === concat(lit("0" * 8), col("from_address")) &&
          col("recip_dec") === col("sender_dec") &&
          col("n_tok") === col("n_src") &&
          col("n_del") === col("n_src") && col("n_fee") === col("n_src"))
      val pairs = dec.select(col("tx_hash"), col("trace_idx"), col("kind"),
        col("n_src").as("n_tokens"), col("frame_ok"),
        explode(array((0 to 2).map(k => struct(lit(k).as("k"),
          col(s"tok$k").as("tok"), col(s"del$k").as("del"),
          col(s"fee$k").as("fee"))): _*)).as("p"))
        .select(col("tx_hash"), col("trace_idx"), col("kind"),
          col("n_tokens"), col("frame_ok"), col("p.k").as("k"),
          col("p.tok").as("tok"), col("p.del").as("del"),
          col("p.fee").as("fee"))
        .filter(col("tok").isNotNull)
      val tk = tokens(s).select(
        md5(concat(lit("tok:"), col("token_id"))).as("tk_addr"),
        col("decimals").as("tk_dec"))
      val wFrame = Window.partitionBy("tx_hash", "trace_idx")
      pairs
        .join(broadcast(tk), substring(col("tok"), 9, 32) === col("tk_addr"),
          "left")
        // try_fetch_token_info(...)? — ONE missing nonzero-delta token
        // fails the whole frame (balancer_v2.rs:90)
        .withColumn("frame_missing", max(
          when(col("del") =!= 0 && col("tk_dec").isNull, 1).otherwise(0))
          .over(wFrame))
        .groupBy("kind", "n_tokens")
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_frames"),
          sum(when(col("k") === 0 && col("frame_ok"), 1L).otherwise(0L))
            .as("n_frame_ok"),
          sum(when(col("del") === 0, 1L).otherwise(0L)).as("n_zero_skipped"),
          sum(when(col("k") === 0 && col("frame_missing") === 1, 1L)
            .otherwise(0L)).as("n_quarantined"),
          sum(when(col("del") =!= 0 &&
            ((col("kind") === "mint" && col("del") > 0) ||
             (col("kind") === "burn" && col("del") < 0)), 1L).otherwise(0L))
            .as("n_sign_ok"),
          dsum(when(col("frame_missing") === 0 && col("del") =!= 0 &&
            col("tk_dec").isNotNull,
            abs(col("del")).cast("double") / pow10d(col("tk_dec")))
            .otherwise(lit(0.0))).as("sum_scaled"),
          sum(col("fee")).as("sum_fees"))
        .orderBy("kind", "n_tokens")
    },
    withCtes(s""", bj13 AS (
        SELECT t.tx_hash, t.trace_idx,
          CASE WHEN t.selector = '$SelMint' THEN 'mint' ELSE 'burn' END
            AS kind,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          t.tok_id,
          1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 AS n_tokens
        FROM trace t WHERE t.selector IN ('$SelMint', '$SelBurn')),
      bjp13 AS (
        SELECT f.*, k.k, (f.tok_id + 7 * k.k) % $TokRefSpace AS tid,
          CASE WHEN f.n_tokens >= 2 AND f.p2l % 3 = 0 AND k.k = 1 THEN 0
            ELSE f.q6l + 1000000 * k.k END AS mag,
          f.p2l % 1000 + 7 * k.k AS fee
        FROM bj13 f JOIN (SELECT UNNEST([0, 1, 2]) AS k) k
          ON k.k < f.n_tokens),
      bjw13 AS (
        SELECT p.*, tk.decimals AS dec,
          MAX(CASE WHEN p.mag <> 0 AND tk.token_id IS NULL THEN 1 ELSE 0 END)
            OVER (PARTITION BY p.tx_hash, p.trace_idx) AS frame_missing
        FROM bjp13 p LEFT JOIN tok tk ON tk.token_id = p.tid)
      SELECT kind, n_tokens,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frame_ok,
        CAST(SUM(CASE WHEN mag = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_zero_skipped,
        CAST(SUM(CASE WHEN k = 0 AND frame_missing = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_quarantined,
        CAST(SUM(CASE WHEN mag <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sign_ok,
        ${sqlSum(s"""CASE WHEN frame_missing = 0 AND mag <> 0
            AND dec IS NOT NULL
          THEN mag / ${sqlPow10.format("dec")} ELSE 0.0e0 END""")}
          AS sum_scaled,
        CAST(SUM(fee) AS BIGINT) AS sum_fees
      FROM bjw13 GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** TokensRegistered: the indexed poolId topic, then `address[] tokens`
    * and `address[] assetManagers`. */
  private[graft] val TokensRegisteredTopic = words(bytes32("pool_dec"))
  private[graft] val TokensRegisteredLog = words(
    arr("n_tok", AbiRead.Address, "tok0", "tok1", "tok2"),
    arr("n_mgr", AbiRead.Address, "mgr0", "mgr1", "mgr2"))
  private[graft] def registerDecode(t: org.apache.spark.sql.DataFrame) =
    TokensRegisteredLog.decode(TokensRegisteredTopic.decode(t, "topic1"), "log_data")
  /** C1 (Balancer V2 `registerTokens` → PoolConfigUpdate): the pool rides
    * the TokensRegistered event's INDEXED `bytes32 poolId` TOPIC (decoded
    * with [[graft.functions.AbiCalldata.abi_log_b32_prefix]] — first 20 bytes,
    * balancer_v2.rs:203-216 `pool_id_to_address(logs.poolId)`), and the
    * data section is TWO parallel dynamic address arrays — `address[]
    * tokens` and `address[] assetManagers`. Distinctively, the tokens
    * pass through RAW (`tokens: logs.tokens` — no token-info fetch, so
    * there is NO quarantine arm here; an unregistered token id still
    * updates the config). `n_parallel_ok` pins the two decoded lengths
    * agreeing; `n_mgr_ok` the manager echo.
    *
    * Scale shape: one pruned trace scan, no joins at all — the decode is
    * row-local and the single rollup groups on a 3-value key. */
  private val c1BalancerRegister = QueryDef(
    "c1_balancer_register",
    (s, dir) => {
      val t = framesOf(s, dir, SelLiquidation)
        .withColumn("n_src", lit(1L) + (col("q6l") + col("p2l")) % 3)
      def tid(k: Int) = (col("tok_id") + 7 * k) % TokRefSpace
      val n = col("n_src")
      val packed = t
        .withColumn("topic1", TokensRegisteredTopic.pack(concat(
          lit("0" * 8), col("to_address"),
          substring(md5(concat(lit("nonce:"), col("tx_hash"))), 1, 24))))
        .withColumn("log_data", TokensRegisteredLog.pack(
          elems(n, (0 to 2).map(k => md5(concat(lit("tok:"), tid(k)))): _*),
          elems(n, (0 to 2).map(k =>
            md5(concat(lit("mgr:"), (col("p2l") + k) % 12))): _*)))
      val dec = registerDecode(packed)
      val pairs = dec.select(col("n_src").as("n_tokens"),
        col("pool_dec"), col("to_address"), col("p2l"),
        col("n_tok"), col("n_mgr"),
        explode(array((0 to 2).map(k => struct(lit(k).as("k"),
          col(s"tok$k").as("tok"), col(s"mgr$k").as("mgr"))): _*))
          .as("p"))
        .select(col("n_tokens"), col("pool_dec"), col("to_address"),
          col("p2l"), col("n_tok"), col("n_mgr"), col("p.k").as("k"),
          col("p.tok").as("tok"), col("p.mgr").as("mgr"))
        .filter(col("tok").isNotNull)
      pairs.groupBy("n_tokens")
        .agg(
          sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_frames"),
          sum(when(col("k") === 0 &&
            col("pool_dec") === concat(lit("0" * 8), col("to_address")), 1L)
            .otherwise(0L)).as("n_pool_ok"),
          sum(when(col("k") === 0 && col("n_tok") === col("n_mgr"), 1L)
            .otherwise(0L)).as("n_parallel_ok"),
          count(lit(1)).as("n_tok_dec"),
          sum(when(col("mgr") === concat(lit("0" * 8),
            md5(concat(lit("mgr:"), (col("p2l") + col("k")) % 12))), 1L)
            .otherwise(0L)).as("n_mgr_ok"))
        .orderBy("n_tokens")
    },
    withCtes(s""", br13 AS (
        SELECT t.tx_hash, t.trace_idx,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          1 + (CAST(t.q6 AS BIGINT) + CAST(t.p2 AS BIGINT)) % 3 AS n_tokens
        FROM trace t WHERE t.selector = '$SelLiquidation'),
      brp13 AS (
        SELECT f.*, k.k FROM br13 f
        JOIN (SELECT UNNEST([0, 1, 2]) AS k) k ON k.k < f.n_tokens)
      SELECT n_tokens,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_frames,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pool_ok,
        CAST(SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_parallel_ok,
        CAST(COUNT(*) AS BIGINT) AS n_tok_dec,
        CAST(COUNT(*) AS BIGINT) AS n_mgr_ok
      FROM brp13 GROUP BY 1 ORDER BY 1"""))
}
