package graft.domain

import graft.QueryDef
import graft.functions.{AbiLayout, AbiValue}
import graft.functions.AbiLayout.{address, calldata, int, string, uint, words}
import graft.ops.ExactAgg.{dsumPartial, sqlSum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL public ABI layouts, round-13 breadth: the Curve BASE-POOL
  * liquidity family — the reference's `classifiers/curve/{mints,burns}/
  * base/base{2,3,4}.rs`, one classifier per pool WIDTH, whose
  * distinguishing shape is FIXED-SIZE `uint256[N]` arrays living INLINE
  * in both the calldata and the event data (no offset words — the
  * dynamic-array walk does not apply):
  *
  *   - `add_liquidity(uint256[N] amounts, uint256 min_mint_amount)` with
  *     the `AddLiquidity` event `(address indexed provider, uint256[N]
  *     token_amounts, uint256[N] fees, uint256 invariant, uint256
  *     token_supply)` (classifier-abis/CurveBase{2,3,4}.json). The
  *     reference takes the amounts from the LOG (`log.token_amounts`,
  *     base3.rs:19-40) and resolves the token VECTOR from the pool
  *     registry by coin index (`get_protocol_details(...)` +
  *     `enumerate()`); ANY missing token info fails the WHOLE row — the
  *     `collect::<eyre::Result<...>>()?` lifts one bad coin into a
  *     whole-classification error (the opposite arm of Aave V2
  *     flashLoan's per-pair drop).
  *
  *   - `remove_liquidity(uint256 _amount, uint256[N] min_amounts)` with
  *     `RemoveLiquidity(provider, token_amounts[N], fees[N],
  *     token_supply)` — the burn event has NO `invariant` word, so the
  *     tail scalar sits at word 2N, not 2N+1 (base3.rs:46-84); and
  *     `remove_liquidity_one_coin(uint256 _token_amount, int128 i,
  *     uint256 min_amount)` with `RemoveLiquidityOne(provider,
  *     token_amount, coin_amount)`, where the burned token is the
  *     CALLDATA's signed `i` resolved through the registry
  *     (`details.tokenI`, base3.rs:86-130) and the reference scales
  *     `log.token_amount` by that coin's decimals.
  *
  * The width dispatch (base2 vs base3 vs base4) is the registry's
  * n_coins — exactly the reference's per-protocol classifier selection —
  * so the decode below branches into three STATIC word layouts, each
  * fully codegen'd; no dynamic index arithmetic reaches the byte reads.
  *
  * Scale shape: one pruned trace scan per width arm, broadcast
  * dimension joins only (pool registry, poolCoins, tokens), a per-frame
  * hash aggregation keyed (n_coins, tx_hash, trace_idx) — block-local,
  * no skew — then a 3-row rollup. Decimal partials between the two
  * stages keep the double sums order-independent (ExactAgg).
  */
object RealAbiExtOps extends graft.QueryModule {

  import ChainFixture._
  import RealAbiOps.framesOf
  import RealAbiOps.{pow10d, sqlPow10}

  def defs: Seq[QueryDef] = Seq(c1CurveMint, c1CurveBurn, c3CompoundInit)

  private def withCtes(sql: String) = Some(s"WITH ${ChainFixture.sqlCtes} $sql")

  /** Curve pools with their registry coin count (2-4, the base2/3/4
    * split), broadcast side of every join here. */
  private[domain] def curvePools(s: SparkSession) =
    pools(s).filter(col("protocol") === "curve")
      .withColumn("n_coins", lit(2L) + col("pool_id") % 3)
      .select(col("address").as("cp_addr"), col("pool_id").as("cp_pid"),
        col("n_coins"))

  /** Shared frame base: selector-pruned traces on curve pools, with the
    * source integers and the indexed-provider topic. */
  private def liqFrames(s: SparkSession, dir: String, sel: String) =
    framesOf(s, dir, sel)
      .join(broadcast(curvePools(s)), col("to_address") === col("cp_addr"))
      .withColumn("topic1", ProviderTopic.pack(col("from_address")))

  /** Source amount/fee formulas (the oracle recomputes these from q6/p2):
    * amounts step 1e6 per coin so every coin's word is distinct; fees are
    * sub-1000 so they can never collide with an amount word. */
  private def amtSrc(k: Int): Column = col("q6l") + lit(1000000L * k)
  private def feeSrc(k: Int): Column = (col("p2l") + lit(k.toLong)) % 1000L

  /** The `add_liquidity` decode core for ONE static width `n` — the
    * base{n} classifier. Amounts ride LOG words 0..n-1, fees n..2n-1,
    * invariant 2n, token_supply 2n+1; the calldata echoes the amounts
    * inline (fixed array: words 0..n-1) with min_mint_amount at word n.
    * Unit-tested on planted bytes (GoldenScenarioSpec). */
  private[graft] def curveAddLiquidityDecode(t: DataFrame, n: Int): DataFrame =
    addLiquidityLog(n).decode(addLiquidityCall(n).decode(
      ProviderTopic.decode(t, "topic1"), "calldata"), "log_data")

  /** The indexed provider topic of AddLiquidity/RemoveLiquidity*. */
  private[graft] val ProviderTopic = words(address("provider"))
  // `name_k` for each of the n coins
  private def coins(name: String, n: Int) = (0 until n).map(k => uint(s"${name}_$k"))
  /** `add_liquidity(uint256[n] amounts, uint256 min_mint_amount)`. */
  private[graft] def addLiquidityCall(n: Int): AbiLayout =
    calldata(coins("cd_amt", n) :+ uint("min_mint_dec"): _*)
  /** AddLiquidity data: amounts[n], fees[n], invariant, token_supply. */
  private[graft] def addLiquidityLog(n: Int): AbiLayout = words(coins("amt_dec", n) ++
    coins("fee_dec", n) ++ Seq(uint("inv_dec"), uint("supply_dec")): _*)
  /** `remove_liquidity(uint256 _amount, uint256[n] min_amounts)`. */
  private[graft] def removeLiquidityCall(n: Int): AbiLayout =
    calldata(uint("cd_lp_dec") +: coins("cd_min", n): _*)
  /** RemoveLiquidity data: amounts[n], fees[n], token_supply. */
  private[graft] def removeLiquidityLog(n: Int): AbiLayout =
    words(coins("amt_dec", n) ++ coins("fee_dec", n) :+ uint("supply_dec"): _*)
  /** `remove_liquidity_one_coin(uint256 _token_amount, int128 i, uint256
    * _min_amount)`. */
  private[graft] val OneCoinCall =
    calldata(uint("cd_lp_dec"), int("i_dec"), uint("cd_min_dec"))
  private[graft] val OneCoinLog = words(uint("tok_amt_dec"), uint("coin_amt_dec"))

  /** The `remove_liquidity` decode core for width `n`: same inline
    * arrays but the event tail is `token_supply` at word 2n — NO
    * invariant word (base3.rs RemoveLiquidity vs AddLiquidity). The
    * calldata leads with the LP amount; the min_amounts array follows. */
  private[graft] def curveRemoveLiquidityDecode(t: DataFrame, n: Int): DataFrame =
    removeLiquidityLog(n).decode(removeLiquidityCall(n).decode(
      ProviderTopic.decode(t, "topic1"), "calldata"), "log_data")

  /** The `remove_liquidity_one_coin` decode core (width-independent —
    * three static calldata words, two log words): the coin INDEX is the
    * calldata's `int128 i` (signed decode), the burn amount is the LOG's
    * `token_amount` (word 0; the reference scales THIS by the selected
    * coin's decimals, base3.rs:86-130), `coin_amount` rides word 1. */
  private[graft] def curveOneCoinDecode(t: DataFrame): DataFrame =
    OneCoinLog.decode(OneCoinCall.decode(
      ProviderTopic.decode(t, "topic1"), "calldata"), "log_data")

  /** Per-coin explode of a width-n decoded add/remove frame into
    * (coin_k, amt_dec, fee_dec) rows, carrying the frame-grain columns. */
  private def explodeCoins(d: DataFrame, n: Int, frameCols: Seq[String]) =
    d.select(frameCols.map(col) :+
      explode(array((0 until n).map(k =>
        struct(lit(k.toLong).as("coin_k"),
          col(s"amt_dec_$k").as("amt_dec"),
          col(s"fee_dec_$k").as("fee_dec"))): _*)).as("c"): _*)
      .select(frameCols.map(col) :+ col("c.coin_k") :+ col("c.amt_dec") :+
        col("c.fee_dec"): _*)

  private val padFrom = concat(lit("0" * 8), col("from_address"))

  /** C1 (Curve base-pool `add_liquidity`): the mint family's inline
    * fixed-array layout across all three widths, amounts from the LOG,
    * the token VECTOR resolved per coin index through the registry, and
    * the reference's WHOLE-ROW quarantine — one unregistered coin voids
    * the entire mint (`collect::<Result>()?`, base3.rs:24-31), in
    * contrast to Aave V2's per-pair drop (c1_aave_flashloan).
    * `sum_invariant_raw`/`sum_supply_raw` pin the two tail scalars at
    * words 2n/2n+1 — the layout read that distinguishes mint from burn. */
  private val c1CurveMint = QueryDef(
    "c1_curve_mint",
    (s, dir) => {
      val frameCols = Seq("n_coins", "tx_hash", "trace_idx", "cp_addr",
        "provider_ok", "echo_ok", "inv_dec", "supply_dec")
      val arms = (2 to 4).map { n =>
        val packed = liqFrames(s, dir, SelMint).filter(col("n_coins") === n)
          .withColumn("calldata", addLiquidityCall(n).pack((lit(SelMint) +:
            (0 until n).map(amtSrc) :+ col("p2l")).map(AbiValue.ofColumn): _*))
          .withColumn("log_data", addLiquidityLog(n).pack(
            ((0 until n).map(amtSrc) ++ (0 until n).map(feeSrc) ++
              Seq(col("q6l") * 2 + col("p2l"), col("q6l") + col("p2l")))
              .map(AbiValue.ofColumn): _*))
        val dec = curveAddLiquidityDecode(packed, n)
          .withColumn("provider_ok", col("provider") === padFrom)
          .withColumn("echo_ok",
            (0 until n).map(k =>
              col(s"cd_amt_$k") === col(s"amt_dec_$k")).reduce(_ && _) &&
              col("min_mint_dec") === col("p2l"))
        explodeCoins(dec, n, frameCols)
      }
      val coins = arms.reduce(_ unionByName _)
        .join(broadcast(IndirectOps.poolCoins(s)
          .select(col("address").as("pc_addr"), col("coin_idx"),
            col("coin_token_id"))),
          col("cp_addr") === col("pc_addr") &&
            col("coin_k") === col("coin_idx"))
        .join(broadcast(tokens(s)
          .select(col("token_id").as("tk_id"), col("decimals"))),
          col("coin_token_id") === col("tk_id"), "left")
      val perFrame = coins
        .groupBy(frameCols.head, frameCols.tail: _*)
        .agg(
          sum(when(col("decimals").isNull, 1L).otherwise(0L)).as("miss"),
          dsumPartial(when(col("decimals").isNotNull,
            col("amt_dec").cast("double") / pow10d(col("decimals")))
            .otherwise(lit(0.0))).as("sp"),
          sum(col("fee_dec")).as("fr"))
      perFrame.groupBy("n_coins")
        .agg(count(lit(1)).as("n"),
          sum(when(col("provider_ok"), 1L).otherwise(0L)).as("n_provider_ok"),
          sum(when(col("echo_ok"), 1L).otherwise(0L)).as("n_echo_ok"),
          sum(when(col("miss") === 0, col("sp"))).cast("double")
            .as("sum_scaled"),
          sum(when(col("miss") === 0, col("fr"))).as("sum_fees_raw"),
          sum(col("inv_dec")).as("sum_invariant_raw"),
          sum(col("supply_dec")).as("sum_supply_raw"),
          sum(when(col("miss") > 0, 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("n_coins")
    },
    withCtes(s""", cmf AS (
        SELECT t.tx_hash, t.trace_idx, 2 + p.pool_id % 3 AS n_coins,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l, p.pool_id
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'curve'
        WHERE t.selector = '$SelMint'),
      cme AS (
        SELECT f.*, k.k, f.q6l + 1000000 * k.k AS amt,
          (f.p2l + k.k) % 1000 AS fee,
          (f.pool_id % $NumTokens + k.k) % $TokRefSpace AS cid
        FROM cmf f JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k
          ON k.k < f.n_coins),
      cmg AS (
        SELECT e.n_coins, e.tx_hash, e.trace_idx,
          MAX(e.q6l) AS q6l, MAX(e.p2l) AS p2l,
          SUM(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END) AS miss,
          SUM(CAST(CASE WHEN tk.token_id IS NOT NULL
            THEN e.amt / ${sqlPow10.format("tk.decimals")} ELSE 0.0e0 END
            AS DECIMAL(38,6))) AS sp,
          SUM(e.fee) AS fr
        FROM cme e LEFT JOIN tok tk ON tk.token_id = e.cid
        GROUP BY 1, 2, 3)
      SELECT n_coins, COUNT(*) AS n, COUNT(*) AS n_provider_ok,
        COUNT(*) AS n_echo_ok,
        CAST(CAST(SUM(CASE WHEN miss = 0 THEN sp END) AS VARCHAR) AS DOUBLE)
          AS sum_scaled,
        CAST(SUM(CASE WHEN miss = 0 THEN fr END) AS BIGINT) AS sum_fees_raw,
        CAST(SUM(q6l * 2 + p2l) AS BIGINT) AS sum_invariant_raw,
        CAST(SUM(q6l + p2l) AS BIGINT) AS sum_supply_raw,
        CAST(SUM(CASE WHEN miss > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quarantined
      FROM cmg GROUP BY 1 ORDER BY 1"""))

  /** C1 (Curve base-pool burns, both arms): `remove_liquidity` (inline
    * arrays, event tail = token_supply at word 2N — `n_layout_ok` pins
    * the MISSING-invariant offset against the mint layout) and
    * `remove_liquidity_one_coin` (the burned token is the CALLDATA's
    * SIGNED `int128 i` resolved through the registry; the amount is the
    * LOG's `token_amount` scaled by that coin's decimals —
    * base3.rs:86-130). Arm A quarantines on ANY missing coin (whole-row
    * `?`), arm B only on coin `i`'s token. Depth-2 frames play the
    * one-coin calls (the position-manager inner-call convention shared
    * with c1_univ3_burn_collect). */
  private val c1CurveBurn = QueryDef(
    "c1_curve_burn",
    (s, dir) => {
      val base = liqFrames(s, dir, SelBurn)
        .withColumn("is_one", size(col("trace_address")) === 2)
      // arm A: remove_liquidity, one static decode per width
      val armA = (2 to 4).map { n =>
        val packed = base.filter(!col("is_one") && col("n_coins") === n)
          .withColumn("calldata", removeLiquidityCall(n).pack((lit(SelBurn) +:
            col("p2l") +: (0 until n).map(k => shiftright(amtSrc(k), 1)))
            .map(AbiValue.ofColumn): _*))
          .withColumn("log_data", removeLiquidityLog(n).pack(
            ((0 until n).map(amtSrc) ++ (0 until n).map(feeSrc) :+
              (col("q6l") + col("p2l"))).map(AbiValue.ofColumn): _*))
        val dec = curveRemoveLiquidityDecode(packed, n)
          .withColumn("provider_ok", col("provider") === padFrom)
          .withColumn("echo_ok",
            col("cd_lp_dec") === col("p2l") &&
              (0 until n).map(k => col(s"cd_min_$k") ===
                shiftright(col(s"amt_dec_$k"), 1)).reduce(_ && _))
          .withColumn("layout_ok",
            col("supply_dec") === col("q6l") + col("p2l"))
        val frameCols = Seq("n_coins", "tx_hash", "trace_idx", "cp_addr",
          "provider_ok", "echo_ok", "layout_ok", "supply_dec")
        explodeCoins(dec, n, frameCols)
      }
      val aCoins = armA.reduce(_ unionByName _)
        .join(broadcast(IndirectOps.poolCoins(s)
          .select(col("address").as("pc_addr"), col("coin_idx"),
            col("coin_token_id"))),
          col("cp_addr") === col("pc_addr") &&
            col("coin_k") === col("coin_idx"))
        .join(broadcast(tokens(s)
          .select(col("token_id").as("tk_id"), col("decimals"))),
          col("coin_token_id") === col("tk_id"), "left")
      val aFrames = aCoins
        .groupBy("tx_hash", "trace_idx", "provider_ok", "echo_ok",
          "layout_ok", "supply_dec")
        .agg(sum(when(col("decimals").isNull, 1L).otherwise(0L)).as("miss"),
          dsumPartial(when(col("decimals").isNotNull,
            col("amt_dec").cast("double") / pow10d(col("decimals")))
            .otherwise(lit(0.0))).as("sp"))
        .select(lit("remove_liquidity").as("action"),
          col("provider_ok"), col("echo_ok"), col("layout_ok"),
          col("miss"), col("sp"), col("supply_dec").as("secondary_raw"))
      // arm B: remove_liquidity_one_coin — frame-grain already
      val packedB = base.filter(col("is_one"))
        .withColumn("i_src", col("p2l") % col("n_coins"))
        .withColumn("calldata", OneCoinCall.pack(lit(SelBurn),
          col("q6l"), col("i_src"), col("p2l")))
        .withColumn("log_data",
          OneCoinLog.pack(col("q6l"), col("q6l") - col("p2l") % 1000))
      val bFrames = curveOneCoinDecode(packedB)
        .join(broadcast(IndirectOps.poolCoins(s)
          .select(col("address").as("pc_addr"), col("coin_idx"),
            col("coin_token_id"))),
          col("cp_addr") === col("pc_addr") &&
            col("i_dec") === col("coin_idx"))
        .join(broadcast(tokens(s)
          .select(col("token_id").as("tk_id"), col("decimals"))),
          col("coin_token_id") === col("tk_id"), "left")
        .select(lit("remove_liquidity_one").as("action"),
          (col("provider") === padFrom).as("provider_ok"),
          (col("cd_lp_dec") === col("q6l") &&
            col("cd_min_dec") === col("p2l")).as("echo_ok"),
          (col("i_dec") === col("i_src")).as("layout_ok"),
          when(col("decimals").isNull, 1L).otherwise(0L).as("miss"),
          when(col("decimals").isNotNull,
            col("tok_amt_dec").cast("double") / pow10d(col("decimals")))
            .otherwise(lit(0.0)).cast(
              org.apache.spark.sql.types.DecimalType(38, 6)).as("sp"),
          col("coin_amt_dec").as("secondary_raw"))
      aFrames.unionByName(bFrames)
        .groupBy("action")
        .agg(count(lit(1)).as("n"),
          sum(when(col("provider_ok"), 1L).otherwise(0L)).as("n_provider_ok"),
          sum(when(col("echo_ok"), 1L).otherwise(0L)).as("n_echo_ok"),
          sum(when(col("layout_ok"), 1L).otherwise(0L)).as("n_layout_ok"),
          sum(when(col("miss") === 0, col("sp"))).cast("double")
            .as("sum_scaled"),
          sum(col("secondary_raw")).as("sum_secondary_raw"),
          sum(when(col("miss") > 0, 1L).otherwise(0L)).as("n_quarantined"))
        .orderBy("action")
    },
    withCtes(s""", cbf AS (
        SELECT t.tx_hash, t.trace_idx, 2 + p.pool_id % 3 AS n_coins,
          CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          p.pool_id, len(t.trace_address) = 2 AS is_one
        FROM trace t
        JOIN pool p ON t.to_address = p.address AND p.protocol = 'curve'
        WHERE t.selector = '$SelBurn'),
      cba AS (
        SELECT f.tx_hash, f.trace_idx, f.q6l, f.p2l,
          SUM(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END) AS miss,
          SUM(CAST(CASE WHEN tk.token_id IS NOT NULL
            THEN (f.q6l + 1000000 * k.k) / ${sqlPow10.format("tk.decimals")}
            ELSE 0.0e0 END AS DECIMAL(38,6))) AS sp
        FROM cbf f
        JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) k ON k.k < f.n_coins
        LEFT JOIN tok tk
          ON tk.token_id = (f.pool_id % $NumTokens + k.k) % $TokRefSpace
        WHERE NOT f.is_one
        GROUP BY 1, 2, 3, 4),
      cbb AS (
        SELECT f.*,
          CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END AS miss,
          CAST(CASE WHEN tk.token_id IS NOT NULL
            THEN f.q6l / ${sqlPow10.format("tk.decimals")} ELSE 0.0e0 END
            AS DECIMAL(38,6)) AS sp
        FROM cbf f
        LEFT JOIN tok tk ON tk.token_id =
          (f.pool_id % $NumTokens + f.p2l % f.n_coins) % $TokRefSpace
        WHERE f.is_one),
      cbu AS (
        SELECT 'remove_liquidity' AS action, miss, sp,
          q6l + p2l AS secondary_raw FROM cba
        UNION ALL
        SELECT 'remove_liquidity_one' AS action, miss, sp,
          q6l - p2l % 1000 AS secondary_raw FROM cbb)
      SELECT action, COUNT(*) AS n, COUNT(*) AS n_provider_ok,
        COUNT(*) AS n_echo_ok, COUNT(*) AS n_layout_ok,
        CAST(CAST(SUM(CASE WHEN miss = 0 THEN sp END) AS VARCHAR) AS DOUBLE)
          AS sum_scaled,
        CAST(SUM(secondary_raw) AS BIGINT) AS sum_secondary_raw,
        CAST(SUM(CASE WHEN miss > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_quarantined
      FROM cbu GROUP BY 1 ORDER BY 1"""))
// ── Compound initialize: discovery of the SELF, behind an overload pair ───

  /** C3 (Compound V2 `initialize` ×2 → NewPool): the initialize-time
    * SELF-discovery (compound/discovery.rs:5-36) — no factory involved:
    * the cToken PROXY delegatecalls into CErc20Delegate, so
    * `pool_address = info.from_address` (the CALLER discovers ITSELF)
    * and `tokens = vec![info.from_address]` (the cToken IS the listed
    * token; the `underlying_` calldata word is present but UNUSED by
    * the reference body). Every factory-style discovery port resolves
    * the callee/deployed address — this is the one shape where the
    * discovered pool is the frame's FROM side.
    *
    * The selector pair is an OVERLOAD: `initialize(address underlying_,
    * address comptroller_, address interestRateModel_, uint256
    * initialExchangeRateMantissa_, string name_, string symbol_, uint8
    * decimals_)` for CErc20 vs the 6-param CEther form without
    * `underlying_` (classifier-abis/CErc20Delegate.json) — same method
    * name, two selectors, and the ENTIRE head shifts one word left on
    * the CEther arm, including both dynamic-string head offsets
    * (name 4→3, symbol 5→2+3... i.e. 5→4) and the trailing `decimals_`
    * scalar (6→5). The decode below reads every field at its
    * arm-dispatched position and walks both string tails, so a
    * selector routed to the wrong layout mismatches name/symbol/rate
    * and drops the *_ok counts.
    *
    * Scale shape: one pruned trace scan, ZERO joins (the reference
    * body touches no DB), one 2-group rollup. */
  /** CErc20 `initialize(address underlying_, address comptroller_,
    * address interestRateModel_, uint initialExchangeRateMantissa_,
    * string name_, string symbol_, uint8 decimals_)`. */
  private[graft] val InitErc20Call = calldata(address("underlying_dec"),
    address(""), address(""), uint("rate_dec"), string("dec_name"),
    string("dec_sym"), uint("decimals_dec"))
  /** CEther `initialize`: the same without `underlying_`. */
  private[graft] val InitEtherCall = calldata(address(""), address(""),
    uint("rate_dec"), string("dec_name"), string("dec_sym"), uint("decimals_dec"))
  /** The initialize decode core on any frame with (calldata, arm):
    * arm 0 = the 7-param CErc20 overload (underlying_ leads the head),
    * arm 1 = the 6-param CEther overload — every field, including both
    * dynamic-string head offsets and the trailing decimals_ scalar,
    * reads ONE WORD earlier on arm 1. */
  private[graft] def compoundInitDecode(t: DataFrame): DataFrame = {
    def read(name: String) = when(col("arm") === 0,
      InitErc20Call.read(col("calldata"), name))
      .otherwise(InitEtherCall.read(col("calldata"), name))
    t.withColumn("underlying_dec", when(col("arm") === 0,
        InitErc20Call.read(col("calldata"), "underlying_dec")))
      .withColumn("rate_dec", read("rate_dec"))
      .withColumn("name_len", read("dec_name_len"))
      .withColumn("sym_len", read("dec_sym_len"))
      .withColumn("decimals_dec", read("decimals_dec"))
      .withColumn("dec_name", read("dec_name"))
      .withColumn("dec_sym", read("dec_sym"))
  }

  private val c3CompoundInit = QueryDef(
    "c3_compound_init",
    (s, dir) => {
      val nameStr = lit("Compound Wrapped Token")
      val symStr = lit("cTOK")
      val t = framesOf(s, dir, SelBurn)
        .withColumn("arm", (col("p2l") % 2).cast("int"))
        .withColumn("method",
          when(col("arm") === 0, "initialize_cerc20")
            .otherwise("initialize_cether"))
        .withColumn("dec_exp", col("p2l") % 18 + 6)
      val cmp = md5(concat(lit("cmp:"), col("p2l") % 2))
      val irm = md5(concat(lit("irm:"), col("p2l") % 3))
      val und = md5(concat(lit("tok:"), col("tok_id")))
      val packed = t
        .withColumn("fsel", when(col("arm") === 0,
            substring(md5(lit("sel:init_cerc20")), 1, 8))
          .otherwise(substring(md5(lit("sel:init_cether")), 1, 8)))
        .withColumn("calldata", when(col("arm") === 0,
          InitErc20Call.pack(col("fsel"), und, cmp, irm, col("q6l"),
            nameStr, symStr, col("dec_exp")))
          .otherwise(InitEtherCall.pack(col("fsel"), cmp, irm, col("q6l"),
            nameStr, symStr, col("dec_exp"))))
      compoundInitDecode(packed)
        // pool_address = info.from_address; tokens = [pool] — the
        // self-discovery semantic, carried as columns so the rollup
        // pins it rather than a comment
        .withColumn("pool_addr", col("from_address"))
        .withColumn("tok_vec", array(col("pool_addr")))
        .groupBy("method")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct(col("pool_addr")).as("n_pools"),
          sum(when(col("pool_addr") === col("from_address") &&
            size(col("tok_vec")) === 1 &&
            element_at(col("tok_vec"), 1) === col("from_address"), 1L)
            .otherwise(0L)).as("n_self_ok"),
          sum(when(col("arm") === 0 && col("underlying_dec") ===
            concat(lit("0" * 8), md5(concat(lit("tok:"), col("tok_id")))),
            1L).otherwise(0L)).as("n_underlying_ok"),
          sum(when(col("dec_name") === nameStr &&
            col("name_len") === length(nameStr) &&
            col("dec_sym") === symStr &&
            col("sym_len") === length(symStr), 1L).otherwise(0L))
            .as("n_str_ok"),
          sum(when(col("decimals_dec") === col("dec_exp"), 1L)
            .otherwise(0L)).as("n_dec_ok"),
          sum(col("rate_dec")).as("sum_rate"))
        .orderBy("method")
    },
    withCtes(s""", cmi AS (
        SELECT t.from_address, CAST(t.q6 AS BIGINT) AS q6l,
          CAST(t.p2 AS BIGINT) % 2 AS arm
        FROM trace t WHERE t.selector = '$SelBurn')
      SELECT CASE WHEN arm = 0 THEN 'initialize_cerc20'
          ELSE 'initialize_cether' END AS method,
        CAST(COUNT(*) AS BIGINT) AS n_frames,
        CAST(COUNT(DISTINCT from_address) AS BIGINT) AS n_pools,
        CAST(COUNT(*) AS BIGINT) AS n_self_ok,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_underlying_ok,
        CAST(COUNT(*) AS BIGINT) AS n_str_ok,
        CAST(COUNT(*) AS BIGINT) AS n_dec_ok,
        CAST(SUM(q6l) AS BIGINT) AS sum_rate
      FROM cmi GROUP BY 1 ORDER BY 1"""))
}
