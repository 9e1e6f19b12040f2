package graft.domain

import graft.QueryDef
import graft.functions.AbiRead
import graft.functions.AbiLayout.{bytes32, calldata, fields, int, rows, string,
  tuples, uint}
import graft.ops.ExactAgg.{dsum, sqlSum}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Decoders whose token identity is NOT in the calldata bytes — it takes a
  * join-time INDIRECTION through a registry dimension (VERDICT r8 Missing
  * #1/#2; the decode pattern of two of the top-5 DEX families):
  *
  *   - Curve index-addressed swaps: `exchange(int128 i, int128 j, uint256
  *     dx, uint256 min_dy)` carries coin INDICES; the tokens come from a
  *     (pool, coin_index) registry lookup
  *     (brontes-classifier/src/classifiers/curve/swaps/base/base2.rs:23-38
  *     `match log.sold_id { 0 => details.token0, … }`).
  *   - Balancer V2 poolId indirection: `onSwap` carries a bytes32 poolId
  *     whose leading bytes ARE the pool address; the pair comes from the
  *     pool registry (classifiers/balancer/balancer_v2.rs:219-225
  *     `pool_id_to_address`).
  *   - Dynamic ABI types: `string`/`bytes` decoded by walking the
  *     head-offset table, and array-of-struct calldata exploded to rows
  *     (the alloy `sol!` dynamic decode the reference leans on throughout
  *     brontes-classifier/src/lib.rs:33-80).
  *
  * Spark-first shape: packing and decoding are codegen'd expressions
  * ([[graft.functions.AbiLayout]] over one ABI kernel); every
  * registry is a broadcast dimension, so the fact table never shuffles —
  * at 100 TB the decode stays an embarrassingly parallel scan ⟕ broadcast
  * joins, exactly like the non-indirected C1 path.
  */
object IndirectOps extends graft.QueryModule {

  import ChainFixture._
  import RealAbiOps.{decimalsOf, framesOf}

  def defs: Seq[QueryDef] =
    Seq(c1CurveIndexed, c1BalancerPoolId, f5AbiString, f5AbiTuple)

  private def withCtes(sql: String) = Some(s"WITH ${ChainFixture.sqlCtes} $sql")

  /** Per-(pool, coin_index) coin registry for curve-style multi-coin pools:
    * pool p has n_coins = 2 + p % 3 coins, coin k = (t0 + k) mod tokens —
    * the Spark analog of the reference's ProtocolDetails token0..token4
    * fields (db/address_to_protocol_info.rs). Tiny dimension → broadcast. */
  def poolCoins(s: SparkSession): DataFrame =
    pools(s).filter(col("protocol") === "curve")
      .withColumn("n_coins", lit(2L) + col("pool_id") % 3)
      .select(col("pool_id"), col("address"), col("n_coins"),
        explode(sequence(lit(0L), col("n_coins") - 1)).as("coin_idx"))
      .withColumn("coin_token_id",
        (col("pool_id") % NumTokens + col("coin_idx")) % TokRefSpace)

  /** Curve `exchange` frames with the coin indices the fixture trades:
    * i = q6 mod n_coins, j any other coin. The registry dispatch: only
    * curve-protocol targets take these decoders. */
  private[domain] def curveSwapFrames(s: SparkSession, dir: String): DataFrame =
    framesOf(s, dir, SelCurveSwap)
      .join(broadcast(RealAbiExtOps.curvePools(s)), col("to_address") === col("cp_addr"))
      .withColumn("i", col("q6l") % col("n_coins"))
      .withColumn("j",
        (col("i") + 1 + col("p2l") % (col("n_coins") - 1)) % col("n_coins"))

  /** Oracle CTE body matching [[poolCoins]]. */
  private val poolCoinsCte: String =
    s"""pc AS (
      SELECT p.pool_id, p.address, 2 + p.pool_id % 3 AS n_coins,
        k AS coin_idx, (p.pool_id % $NumTokens + k) % $TokRefSpace AS coin_token_id
      FROM pool p CROSS JOIN range(4) t(k)
      WHERE p.protocol = 'curve' AND k < 2 + p.pool_id % 3)"""

  /** `exchange(int128 i, int128 j, uint256 dx, uint256 min_dy)`. */
  private[graft] val ExchangeCall =
    calldata(int("di"), int("dj"), uint("dx"), uint("min_dy"))
  /** C1 (index-addressed): Curve `exchange(int128 i, int128 j, dx, min_dy)`.
    * The calldata words are COIN INDICES — the decoder reads them with the
    * signed-word expression, then resolves token identity through TWO
    * broadcast joins against the (pool, coin_index) registry; token ids
    * 40/41 land on missing decimals (the C9 path crosses the indirection). */
  private val c1CurveIndexed = QueryDef(
    "c1_curve_indexed",
    (s, dir) => {
      val t = curveSwapFrames(s, dir)
        .withColumn("calldata", ExchangeCall.pack(col("selector"),
          col("i"), col("j"), col("q6l"), col("p2l")))
      val dec = ExchangeCall.decode(t, "calldata")
      val pcIn = poolCoins(s).select(col("address").as("in_addr"),
        col("coin_idx").as("in_idx"), col("coin_token_id").as("token_in_id"))
      val pcOut = poolCoins(s).select(col("address").as("out_addr"),
        col("coin_idx").as("out_idx"), col("coin_token_id").as("token_out_id"))
      val tk = decimalsOf(s, "tk_id", "decimals")
      dec
        .join(broadcast(pcIn),
          col("to_address") === col("in_addr") && col("di") === col("in_idx"), "left")
        .join(broadcast(pcOut),
          col("to_address") === col("out_addr") && col("dj") === col("out_idx"), "left")
        .join(broadcast(tk), col("token_in_id") === col("tk_id"), "left")
        .groupBy(col("token_in_id"))
        .agg(count(lit(1)).as("n"),
          dsum(col("dx").cast("double") / 1000000.0).as("sum_dx"),
          countDistinct(col("token_out_id")).as("n_tokens_out"),
          sum(when(col("decimals").isNull, 1L).otherwise(0L)).as("n_missing_dec"),
          sum(when(col("di") === col("i") && col("dj") === col("j") &&
            col("min_dy") === col("p2l"), 1L).otherwise(0L)).as("n_roundtrip_ok"))
        .orderBy("token_in_id")
    },
    withCtes(s""", $poolCoinsCte,
      cur AS (
        SELECT t.*, CAST(t.q6 AS BIGINT) AS q6l, CAST(t.p2 AS BIGINT) AS p2l,
          2 + p.pool_id % 3 AS n_coins
        FROM trace t JOIN pool p
          ON t.to_address = p.address AND p.protocol = 'curve'
        WHERE t.selector = '$SelCurveSwap'),
      curij AS (
        SELECT *, q6l % n_coins AS i,
          (q6l % n_coins + 1 + p2l % (n_coins - 1)) % n_coins AS j
        FROM cur)
      SELECT ci.coin_token_id AS token_in_id, COUNT(*) AS n,
        ${sqlSum("q6 / 1000000.0e0")} AS sum_dx,
        CAST(COUNT(DISTINCT cj.coin_token_id) AS BIGINT) AS n_tokens_out,
        CAST(SUM(CASE WHEN tk.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_missing_dec,
        COUNT(*) AS n_roundtrip_ok
      FROM curij c
      JOIN pc ci ON c.to_address = ci.address AND c.i = ci.coin_idx
      JOIN pc cj ON c.to_address = cj.address AND c.j = cj.coin_idx
      LEFT JOIN tok tk ON ci.coin_token_id = tk.token_id
      GROUP BY 1 ORDER BY 1"""))

  /** The live balancer_v2 swap selector from the extended registry. */
  private val BalSwapSel: String =
    extRegistryRows.collectFirst {
      case ("balancer_v2", sel, "swap", _) => sel
    }.getOrElse(sys.error("balancer_v2 swap selector missing from registry"))

  private[graft] val PoolIdSwapCall = calldata(bytes32("pool_word"), uint("amount"))
  /** C1 (poolId indirection): Balancer-style `onSwap` whose word0 is a
    * bytes32 poolId — the leading bytes ARE the pool address (the fixture's
    * 16-byte md5 analog of balancer_v2.rs:223 `Address::from_slice(
    * &pool_id[0..20])`), the tail packs specialization bits. The decoder
    * slices the address out of the word, then one broadcast registry join
    * yields the PAIR the swap trades — nothing in the bytes names a token. */
  private val c1BalancerPoolId = QueryDef(
    "c1_balancer_poolid",
    (s, dir) => {
      val t = tracesTable(s, dir)
        .filter(col("selector") === BalSwapSel)
        .withColumn("q6l", col("q6").cast("long"))
        .withColumn("calldata", PoolIdSwapCall.pack(col("selector"),
          // poolId word: 16-byte pool address ‖ 16-byte specialization tail
          concat(col("to_address"), lpad(lower(hex(col("q6l") % 1000)), 32, "0")),
          col("q6l")))
      val dec = PoolIdSwapCall.decode(t, "calldata")
        // the fixture's pool address is the poolId's leading 16 bytes, the
        // specialization its low 8
        .withColumn("pool_addr", substring(col("pool_word"), 1, 32))
        .withColumn("spec", PoolIdSwapCall.read(col("calldata"), "pool_word", AbiRead.Uint))
      val p = pools(s).select(col("address").as("p_addr"), col("pool_id"),
        col("protocol"), col("t0_id"), col("t1_id"))
      dec.join(broadcast(p), col("pool_addr") === col("p_addr"), "left")
        .groupBy(col("protocol"))
        .agg(count(lit(1)).as("n"),
          count(col("pool_id")).as("n_resolved"),
          countDistinct(col("pool_id")).as("n_pools"),
          dsum(col("amount").cast("double") / 1000000.0).as("sum_amount"),
          sum(col("spec")).as("sum_spec"),
          sum(when(col("t0_id").isNotNull && col("t1_id").isNotNull, 1L)
            .otherwise(0L)).as("n_pair_ok"))
        .orderBy("protocol")
    },
    withCtes(s"""SELECT p.protocol, COUNT(*) AS n,
        COUNT(p.pool_id) AS n_resolved,
        CAST(COUNT(DISTINCT p.pool_id) AS BIGINT) AS n_pools,
        ${sqlSum("t.q6 / 1000000.0e0")} AS sum_amount,
        CAST(SUM(CAST(t.q6 AS BIGINT) % 1000) AS BIGINT) AS sum_spec,
        COUNT(*) AS n_pair_ok
      FROM trace t JOIN pool p ON t.to_address = p.address
      WHERE t.selector = '$BalSwapSel'
      GROUP BY 1 ORDER BY 1"""))

  /** `label(uint256 id, string s)`. */
  private[graft] val LabelCall = calldata(uint("id"), string("dstr"))
  /** F5 (dynamic string): `label(uint256 id, string s)` — the decoder walks
    * the head-offset table: head word1 is an OFFSET into the tail, the tail
    * is len ‖ utf8 bytes padded to a word. Offset, length, and content are
    * all read from the bytes by one codegen'd string read; the round-trip
    * column proves content fidelity byte-for-byte. */
  private val f5AbiString = QueryDef(
    "f5_abi_string",
    (s, dir) => {
      val t = framesOf(s, dir, SelMint)
        // p2 drives the length: q6 is a multiple of 2^6·5^6, so q6 % 32 ≡ 0
        .withColumn("slen", lit(1L) + col("p2l") % 32)
        .withColumn("s_str",
          expr("substring(md5(concat('s:', tx_hash)), 1, CAST(slen AS INT))"))
        .withColumn("calldata",
          LabelCall.pack(col("selector"), col("q6l"), col("s_str")))
      LabelCall.decode(t, "calldata")
        .groupBy(col("dstr_len").as("len"))
        .agg(count(lit(1)).as("n"),
          sum(col("id")).as("sum_id"),
          countDistinct(col("dstr")).as("n_distinct_str"),
          sum(when(col("dstr") === col("s_str"), 1L).otherwise(0L))
            .as("n_roundtrip_ok"))
        .orderBy("len")
    },
    withCtes(s""", ds AS (
        SELECT CAST(q6 AS BIGINT) AS q6l,
          substring(md5('s:' || tx_hash), 1,
            CAST(1 + CAST(p2 AS BIGINT) % 32 AS INT)) AS s
        FROM trace WHERE selector = '$SelMint')
      SELECT CAST(length(s) AS BIGINT) AS len, COUNT(*) AS n,
        CAST(SUM(q6l) AS BIGINT) AS sum_id,
        CAST(COUNT(DISTINCT s) AS BIGINT) AS n_distinct_str,
        COUNT(*) AS n_roundtrip_ok
      FROM ds GROUP BY 1 ORDER BY 1"""))

  /** `route((uint256 coin, uint256 amt, uint256 out)[] steps)`. */
  private[graft] val RouteCall = calldata(
    tuples("dn", 3, uint("coin"), uint("amt"), uint("out")))
  /** F5 (array-of-struct): `route((uint256 coin, uint256 amt, uint256 out)[])`
    * — offset-followed length, per-struct words addressed THROUGH the
    * decoded offset (not assumed positions) and NULL past the decoded
    * length, exploded to one row per step, and each step's coin resolved against
    * the token dimension (the aggregator/batch calldata shape —
    * multi_frame_classification/batch, cowswap/0x). */
  private val f5AbiTuple = QueryDef(
    "f5_abi_tuple",
    (s, dir) => {
      val t = framesOf(s, dir, SelV2Swap)
        .withColumn("nsteps", lit(1L) + col("q6l") % 3)
      val packed = t.withColumn("calldata", RouteCall.pack(col("selector"),
        rows(col("nsteps"), (0 to 2).map(k => fields((col("tok_id") + k) % TokRefSpace,
          col("q6l") + 13L * k, col("p2l") + 17L * k)): _*)))
      // one row per decoded step: a step past the decoded length reads
      // NULL (the element bound), so the explode keeps the first `dn`
      val dec = RouteCall.decode(packed, "calldata")
        .select(col("q6l"), col("p2l"), explode(array((0 to 2).map(k =>
          struct(lit(k).as("step_idx"), col(s"coin$k").as("coin"),
            col(s"amt$k").as("amt"), col(s"out$k").as("out"))): _*)).as("step"))
        .filter(col("step.coin").isNotNull)
        .select(col("q6l"), col("p2l"), col("step.step_idx").as("step_idx"),
          col("step"))
      val tk = decimalsOf(s, "tk_id", "decimals")
      dec
        .withColumn("coin", col("step.coin"))
        .join(broadcast(tk), col("coin") === col("tk_id"), "left")
        .groupBy((col("coin") % 5).as("coin_bucket"))
        .agg(count(lit(1)).as("n_steps"),
          sum(col("step.amt")).as("sum_amt"),
          sum(col("step.out")).as("sum_out"),
          sum(when(col("decimals").isNull, 1L).otherwise(0L)).as("n_missing_dec"),
          sum(when(col("step.amt") === col("q6l") + lit(13L) * col("step_idx") &&
            col("step.out") === col("p2l") + lit(17L) * col("step_idx"), 1L)
            .otherwise(0L)).as("n_roundtrip_ok"))
        .orderBy("coin_bucket")
    },
    withCtes(s""", st AS (
        SELECT (tok_id + k) % $TokRefSpace AS coin,
          CAST(q6 AS BIGINT) + 13 * k AS amt,
          CAST(p2 AS BIGINT) + 17 * k AS out
        FROM trace CROSS JOIN range(3) r(k)
        WHERE selector = '$SelV2Swap' AND k < 1 + CAST(q6 AS BIGINT) % 3)
      SELECT st.coin % 5 AS coin_bucket, COUNT(*) AS n_steps,
        CAST(SUM(st.amt) AS BIGINT) AS sum_amt,
        CAST(SUM(st.out) AS BIGINT) AS sum_out,
        CAST(SUM(CASE WHEN t.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_missing_dec,
        COUNT(*) AS n_roundtrip_ok
      FROM st LEFT JOIN tok t ON st.coin = t.token_id
      GROUP BY 1 ORDER BY 1"""))
}
