package graft.domain

import graft.{Pins, QueryDef, QueryModule}
import graft.ops.ExactAgg._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Q1 "Big Mac" multi-frontrun sandwich assembly — the reference's full
  * `PossibleSandwich{possible_frontruns: Vec, victims: Vec<Vec>}` shape
  * (sandwich/mod.rs:851-1148), which the single-bracket machinery in
  * [[InspectorOps]] cannot express: a searcher stacking N frontruns with
  * per-gap victim sets must assemble into ONE bundle, not N-1 overlapping
  * 2-tx brackets (golden test `test_big_mac_sandwich`, mod.rs:1149-1510).
  *
  * Candidate assembly mirrors both reference keyings per block (the
  * reference walks one block's tx_roots):
  *   - duplicate SENDERS (mod.rs:1014-1070): chain a sender's swap txs in
  *     tx order; each consecutive pair is a link whose gap victims are all
  *     universe txs strictly between.
  *   - duplicate CONTRACTS (mod.rs:1076-1135): the same chain keyed by the
  *     tx's root `to` contract; the bundle's EOA is the first caller's.
  * `partition_into_gaps` (mod.rs:903-952): an EMPTY gap splits the chain —
  * the frontrun after the split's gap is PROMOTED to backrun of the left
  * segment. Segments carry the reference's size caps (≤10 gaps, ≤30 total
  * victims, mod.rs:893-897) and its victim-set nullification: a gap victim
  * whose root call targets the chain's mev contract kills the candidate
  * (get_victim_swap_transfer, mod.rs:989-1009).
  *
  * Verification is the per-GAP overlap of `has_pool_overlap` /
  * `verify_sandwich_victims` (mod.rs:556-701): victims group by EOA; a
  * victim-EOA "was victimized" in gap g of range [i,j] through the pool,
  * token, or generated-pool arm (see [[bigmacBundlesOf]]); every gap
  * needs ≥ 25% victimized EOAs (`victim_pct >= 0.25`,
  * [[InspectorOps.MinVictimRatioDen]]) AND the reference's `has_sandwich`
  * strong condition — at least one victim whose overlap is BOTH-sided
  * (front AND back reach; for the generated arm, an inferred pool in the
  * front∩back searcher pool intersection, mod.rs:644-697). A gap whose
  * only victims reach through one-sided inferred pools does NOT verify.
  *
  * The shrink recursion (`recursive_possible_sandwiches`,
  * mod.rs:447-555) becomes a 6-level reachability recurrence over
  * contiguous link ranges: a failing range of ≥ 2 frontruns spawns its
  * front-shrink (drop first frontrun + first gap) and back-shrink (drop
  * last gap, POP the last frontrun and promote it to backrun — the exact
  * boundary semantics [[InspectorOps.sandwichesOf]] documents as its
  * divergence); a range is emitted iff it verifies and some all-failing
  * shrink path reaches it (bounded at 6 drops, mod.rs:462-464). Pricing
  * does not gate emission — as in the reference, `valid_pricing` failure
  * zeroes `profit_usd` and clears `has_dex_price` (mod.rs:322-347).
  *
  * Fixture-scale adaptations (documented, both engines identical): the
  * chain/link/segment universe is the swap-tx set (`sw_tx`), the chain's
  * mev contract is the root `to` of the segment's second tx (the
  * reference captures it when the first repeat creates the
  * PossibleSandwich), and the contract-keyed EOA is the segment's first
  * caller. Victim verification carries ALL THREE reference overlap arms:
  * pool-level reach, the transfer-victim / token-overlap fallbacks
  * (`get_victim_swap_transfer` mod.rs:989-1009, `check_for_overlap`
  * mod.rs:701-760 with `generate_tokens`' direction flags), and
  * counterparty-grain generated pools with the frontrun accounting
  * black list (`generate_possible_pools_from_transfers` mod.rs:819-838,
  * black list mod.rs:152-153) — see [[bigmacBundlesOf]].
  *
  * Scale shape: every step is equi-keyed on (block, keying, key[, seg]) —
  * a 100 TB backfill parallelizes by block; range enumeration is bounded
  * by the reference's own ≤10-gap / ≤6-drop caps, so per-segment work is
  * O(1) and nothing is ever joined across blocks.
  */
object BigMacOps extends QueryModule {

  import ChainFixture._
  import InspectorOps.{MaxPriceDiff, MinVictimRatioDen, ShrinkRounds}

  def defs: Seq[QueryDef] = Seq(q1Bigmac)

  private def withCtes(sql: String) =
    Some(s"WITH ${Accounting.sqlDomainCtes}, $sql")

  private val segKeys = Seq("block_number", "ktype", "k", "seg")

  /** The shrink-reachability recursion as one SQL array expression over a
    * per-segment `rs: array<struct<i,j,m,ok>>` column: level 0 is the full
    * range [1,m]; a failing level-d range of ≥ 2 links spawns its
    * front-drop (i+1,j) and back-drop (i,j-1) children at level d+1; the
    * result is every `ok` range reached within `rounds` drops. Stepped via
    * aggregate() so each level's array is MATERIALIZED in the accumulator
    * (naively nesting the levels as filter/exists lambdas re-evaluates the
    * whole inner level per outer element — O(n^rounds) per segment).
    * Property-tested against a direct BFS in BigMacShrinkSpec. */
  private[graft] def shrinkEmitExpr(rounds: Int): String =
    s"""aggregate(
      sequence(1, $rounds),
      named_struct(
        'lvl', filter(rs, r -> r.i = 1 AND r.j = r.m),
        'em', filter(rs, r -> false)),
      (acc, d) -> named_struct(
        'lvl', filter(rs, r -> exists(acc.lvl, p ->
          (NOT p.ok) AND p.j - p.i + 1 >= 2 AND
          ((r.i = p.i + 1 AND r.j = p.j) OR (r.i = p.i AND r.j = p.j - 1)))),
        'em', concat(acc.em, filter(acc.lvl, r -> r.ok))),
      acc -> concat(acc.em, filter(acc.lvl, r -> r.ok)))"""

  /** Root `to` contract per tx (trace_idx = 1 is the root frame). */
  private[domain] def rootTo(s: SparkSession, dir: String): DataFrame =
    actionsTable(s, dir)
      .groupBy("block_number", "tx_idx")
      .agg(min_by(col("to_address"), col("trace_idx")).as("root_to"))

  /** The full assembly on any swTx-shaped frame (block_number, tx_idx,
    * tx_hash, eoa, pool, tok_in, tok_out, sum_in, sum_out) plus a per-tx
    * (block_number, tx_idx, root_to) frame and a per-tx profit lookup
    * (tx_hash, profit_usd). Unit-testable on planted ladders.
    *
    * `transfersDf` (optional, transfer LEGS with endpoints: block_number,
    * tx_idx, eoa, token, t_from, t_to — the reference's
    * NormalizedTransfer {from, to, token} triple, with `eoa` the victim
    * EOA the leg groups under) enables the reference's three victim
    * fallbacks:
    *   - TRANSFER-ONLY victims (`get_victim_swap_transfer`,
    *     sandwich/mod.rs:989-1009, harvest `:127`): a gap tx with no swap
    *     still joins the victim-EOA universe through its transfer legs —
    *     and is subject to the same mev-contract nullification;
    *   - TOKEN-level overlap (`check_for_overlap`'s matched_tokens arm,
    *     mod.rs:701-760): the searcher side is `generate_tokens`
    *     (mod.rs:803-817) — swap legs as (tok_in, pool, true) /
    *     (tok_out, pool, false) PLUS transfer legs as (token, to, true) /
    *     (token, from, false) — and a victim transfer leg (token, to,
    *     from) front-matches an entry (token, to, TRUE) or (token, from,
    *     FALSE) and back-matches (token, to, FALSE) or (token, from,
    *     TRUE); the matched key is the (token, counterparty) pair and a
    *     victim counts when some pair matches on the front side (≤ g)
    *     AND the back side (≥ g+1);
    *   - GENERATED pools (`generate_possible_pools_from_transfers`,
    *     mod.rs:819-838) at COUNTERPARTY grain: over a leg set (the
    *     victim EOA's gap legs; a searcher tx's legs), every endpoint
    *     address incident to EXACTLY two legs of different tokens whose
    *     `to`s differ is an unclassified pool — several per tx is fine —
    *     excluding the frontruns' accounting address set (the black list,
    *     mod.rs:152-153: each frontrun position's EOA and root contract).
    *     Searcher positions chain their inferred pools into the pool set
    *     (collect_frontrun_data, mod.rs:758-762), and a victim's inferred
    *     pool victimizes on EITHER side's reach (mod.rs:678-684), though
    *     only a front∩back one raises `has_sandwich` (mod.rs:674-684).
    *     FRONT-side inference is per searcher tx (collect_frontrun_data
    *     maps each tx separately before the union); BACK-side inference
    *     is range-dependent — the reference FLATTENS the remaining
    *     frontruns + backrun into one leg multiset per (gap, boundary)
    *     (collect_backrun_data, mod.rs:784-800) — computed here per
    *     bounded (g, j) window (`backGen`), so a counterparty split
    *     across two suffix txs infers and one with a third suffix leg
    *     does not. */
  private[graft] def bigmacBundlesOf(swTxDf: DataFrame, rootToDf: DataFrame,
      profit: DataFrame, transfersDf: Option[DataFrame] = None): DataFrame = {
    def px(t: Column): Column = tokenPrice(t)

    // tx-grain searcher/victim universe with block-local dense rank.
    // txu / links / pos each feed 4+ downstream joins — Pins.checkpoint
    // (eager, plan-truncating) computes the window chains ONCE instead of
    // once per consumer (31.6 s → the assembly's real cost at sf0.1).
    val txu = swTxDf
      .groupBy("block_number", "tx_idx", "tx_hash", "eoa")
      .agg(bool_and(
        abs((col("sum_out") / col("sum_in")) /
          (px(col("tok_in")) / px(col("tok_out"))) - 1) <= MaxPriceDiff)
        .as("price_ok"))
      .join(rootToDf, Seq("block_number", "tx_idx"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("block_number").orderBy("tx_idx")))
      .transform(Pins.checkpoint)
    val txpool = swTxDf.select("block_number", "tx_idx", "pool").distinct()

    // both keyings, stacked
    val ck = txu.withColumn("ktype", lit("eoa")).withColumn("k", col("eoa"))
      .unionByName(txu.withColumn("ktype", lit("contract"))
        .withColumn("k", col("root_to")))
    val wK = Window.partitionBy("block_number", "ktype", "k").orderBy("rnk")
    val links0 = ck
      .withColumn("nxt_rnk", lead(col("rnk"), 1).over(wK))
      .withColumn("nxt_idx", lead(col("tx_idx"), 1).over(wK))
      .withColumn("nxt_hash", lead(col("tx_hash"), 1).over(wK))
      .withColumn("nxt_pok", lead(col("price_ok"), 1).over(wK))
      .withColumn("nxt_eoa", lead(col("eoa"), 1).over(wK))
      .withColumn("nxt_root", lead(col("root_to"), 1).over(wK))
      .filter(col("nxt_rnk").isNotNull)
      .withColumn("n_between", col("nxt_rnk") - col("rnk") - 1)
    // partition_into_gaps: empty links split; running empty count = seg id
    val links = links0
      .withColumn("seg", sum(when(col("n_between") === 0, 1).otherwise(0))
        .over(wK.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("n_between") > 0)
      .withColumn("li", row_number().over(
        Window.partitionBy(segKeys.map(col): _*).orderBy("rnk")))
      .transform(Pins.checkpoint)
    val seg0 = links.groupBy(segKeys.map(col): _*)
      .agg(max(col("li")).as("m"), sum(col("n_between")).as("tot_v"))

    // searcher positions 1..m+1 (link fronts + the last link's back)
    val pos = links
      .select(segKeys.map(col) ++ Seq(col("li").as("pos"), col("tx_idx"),
        col("rnk"), col("tx_hash"), col("price_ok"), col("eoa"),
        col("root_to")): _*)
      .unionByName(links.join(seg0, segKeys).filter(col("li") === col("m"))
        .select(segKeys.map(col) ++ Seq((col("m") + 1).as("pos"),
          col("nxt_idx").as("tx_idx"), col("nxt_rnk").as("rnk"),
          col("nxt_hash").as("tx_hash"), col("nxt_pok").as("price_ok"),
          col("nxt_eoa").as("eoa"), col("nxt_root").as("root_to")): _*))
      .transform(Pins.checkpoint)
    val mevc = pos.filter(col("pos") === 2)
      .select(segKeys.map(col) :+
        when(col("ktype") === "contract", col("k"))
          .otherwise(col("root_to")).as("mevc"): _*)
    val eoa1 = pos.filter(col("pos") === 1)
      .select(segKeys.map(col) :+ col("eoa").as("eoa1"): _*)

    // gap victims (all universe txs strictly inside a link's gap)
    val v = txu.select(col("block_number").as("v_block"), col("rnk").as("v_rnk"),
      col("tx_idx").as("vtx"), col("eoa").as("veoa"), col("root_to").as("vroot"))
    val gapv = links.join(v, col("v_block") === col("block_number") &&
        col("v_rnk") > col("rnk") && col("v_rnk") < col("nxt_rnk"))
      .select(segKeys.map(col) ++ Seq(col("li").as("g"), col("vtx"),
        col("veoa"), col("vroot")): _*)

    // transfer legs in gaps (get_victim_swap_transfer): legs strictly
    // inside a link's gap by tx_idx — a tx with no swap still enters the
    // victim-EOA universe through them. Carries the leg ENDPOINTS for the
    // token-overlap probes and the counterparty-grain pool inference.
    val gapt = transfersDf.map { tf =>
      val t = tf.join(rootToDf, Seq("block_number", "tx_idx"))
        .select(col("block_number").as("t_block"), col("tx_idx").as("t_idx"),
          col("eoa").as("veoa"), col("token").as("vtok"),
          col("t_from"), col("t_to"), col("root_to").as("vroot"))
      // feeds killed + probes + victim inference — checkpoint like
      // txu/links/pos so the window chain behind links runs once
      links.join(t, col("t_block") === col("block_number") &&
          col("t_idx") > col("tx_idx") && col("t_idx") < col("nxt_idx"))
        .select(segKeys.map(col) ++ Seq(col("li").as("g"), col("veoa"),
          col("vtok"), col("t_from"), col("t_to"), col("vroot")): _*)
        .transform(Pins.checkpoint)
    }

    // frontrun accounting black list (collect_address_set_for_accounting
    // over possible_frontruns_info only, mod.rs:152-153): per segment,
    // each FRONTRUN position's EOA and root contract. Built once from the
    // ORIGINAL full frontrun set and shared by every shrink range, as the
    // reference clones it through the recursion.
    val black = pos
      .join(seg0.select(segKeys.map(col) :+ col("m"): _*), segKeys)
      .filter(col("pos") <= col("m"))
      .select(segKeys.map(col) :+
        explode(array(col("eoa"), col("root_to"))).as("baddr"): _*)
      .distinct()
    def notBlacklisted(df: DataFrame, addr: String): DataFrame =
      df.join(black.withColumnsRenamed(Map("block_number" -> "b_block",
          "ktype" -> "b_ktype", "k" -> "b_k", "seg" -> "b_seg")),
        col("b_block") === col("block_number") &&
          col("b_ktype") === col("ktype") && col("b_k") === col("k") &&
          col("b_seg") === col("seg") && col(addr) === col("baddr"),
        "left_anti")

    // generate_possible_pools_from_transfers at COUNTERPARTY grain
    // (mod.rs:819-838): over a leg set, each leg is incident to both its
    // endpoints; an address with EXACTLY two incident legs, different
    // tokens, different `to`s is an inferred pool — several per group is
    // fine. min/max comparisons stand in for countDistinct (no Expand).
    def inferPools(legs: DataFrame, grain: Seq[String]): DataFrame = {
      val g = grain.map(col)
      legs.select(g ++ Seq(col("t_from").as("addr"), col("vtok"),
          col("t_to")): _*)
        .unionByName(legs.select(g ++ Seq(col("t_to").as("addr"),
          col("vtok"), col("t_to")): _*))
        .groupBy((g :+ col("addr")): _*)
        .agg(count(lit(1)).as("nlegs"),
          min(col("vtok")).as("tmin"), max(col("vtok")).as("tmax"),
          min(col("t_to")).as("omin"), max(col("t_to")).as("omax"))
        .filter(col("nlegs") === 2 && col("tmin") =!= col("tmax") &&
          col("omin") =!= col("omax"))
        .select((g :+ col("addr")): _*)
    }

    // searcher-side inference per TX for the FRONT side only
    // (collect_frontrun_data maps each frontrun tx separately and unions,
    // mod.rs:744-782); the BACK side gets the range-dependent FLATTENED
    // inference below (collect_backrun_data, mod.rs:784-800)
    val sinf = transfersDf.map { tf =>
      inferPools(tf.select(col("block_number"), col("tx_idx"),
          col("token").as("vtok"), col("t_from"), col("t_to")),
        Seq("block_number", "tx_idx"))
        .transform(Pins.checkpoint)
    }

    // segment caps + mev-contract victim nullification (transfer-only
    // victims nullify too — the reference checks every harvested victim's
    // root, mod.rs:989-1009)
    val killed = gapv.join(mevc, segKeys)
      .filter(col("vroot") === col("mevc")).select(segKeys.map(col): _*)
      .unionByName(gapt.map(_.join(mevc, segKeys)
          .filter(col("vroot") === col("mevc")).select(segKeys.map(col): _*))
        .getOrElse(gapv.limit(0).select(segKeys.map(col): _*)))
      .distinct()
    val segs = seg0.filter(col("m") <= 10 && col("tot_v") <= 30)
      .join(mevc, segKeys).join(killed, segKeys, "left_anti")

    // Searcher-side key positions and victim-side keys STACK across the
    // three overlap arms (`fam` ∈ pool / tok) so the whole reach surface
    // costs ONE equi-join on (chain, fam, key) + one grain agg — not
    // three of each:
    //   - pool arm (has_pool_overlap): victim SWAP pools vs searcher
    //     pools (swap pools + the searcher's inferred counterparty
    //     pools, collect_frontrun_data mod.rs:758-762, black-list
    //     excluded), front AND back reach;
    //   - token arm (check_for_overlap's matched_tokens + generate_tokens
    //     direction flags): victim transfer-leg (token, counterparty)
    //     probes vs searcher swap-leg AND transfer-leg entries — a leg's
    //     `to` probe front-matches flag TRUE / back-matches flag FALSE,
    //     its `from` probe the reverse; front AND back reach on the same
    //     (token, counterparty) pair;
    //   - generated arm (mod.rs:678-684): the victim's inferred
    //     counterparty pools vs the same searcher pool set, EITHER
    //     side's reach suffices (`need_both` = false) — but only a
    //     front∩back inferred pool raises `has_sandwich`.
    def onChainFam(s: DataFrame) = s.withColumnsRenamed(Map(
      "block_number" -> "s_block", "ktype" -> "s_ktype",
      "k" -> "s_k", "seg" -> "s_seg", "fam" -> "s_fam", "skey" -> "s_skey"))
    val sPoolSwap = pos.join(txpool, Seq("block_number", "tx_idx"))
      .select(segKeys.map(col) ++ Seq(col("pos").as("s_pos"),
        lit("pool").as("fam"), col("pool").as("skey"),
        lit(null).cast("boolean").as("s_flg"),
        lit(false).as("s_inf")): _*)
    // per-tx inferred pools are FRONT-side-only entries (s_inf excludes
    // them from bmin): the reference's back side re-infers over the
    // flattened [g+1, j+1] leg window instead (backGen below)
    val sPool = sinf match {
      case None => sPoolSwap
      case Some(inf) => sPoolSwap.unionByName(
        notBlacklisted(pos.join(inf, Seq("block_number", "tx_idx")), "addr")
          .select(segKeys.map(col) ++ Seq(col("pos").as("s_pos"),
            lit("pool").as("fam"), col("addr").as("skey"),
            lit(null).cast("boolean").as("s_flg"),
            lit(true).as("s_inf")): _*))
    }
    val vPool = gapv.join(txpool.withColumnRenamed("tx_idx", "vtx"),
        Seq("block_number", "vtx"))
      .select(segKeys.map(col) ++ Seq(col("g"), col("veoa"),
        lit("pool").as("fam"), col("pool").as("vkey"),
        lit(null).cast("boolean").as("v_to"),
        lit(true).as("need_both")): _*)
    def tkey(t: Column, a: Column): Column =
      concat(t.cast("string"), lit("|"), a)
    val (sAll, vAll) = (transfersDf, gapt) match {
      case (Some(tf), Some(gt)) =>
        // generate_tokens (mod.rs:803-817): swap legs (tok_in, pool,
        // true) / (tok_out, pool, false) + transfer legs (token, to,
        // true) / (token, from, false); matched key = (token, cp) pair
        val sTokE = swTxDf.select(col("block_number"), col("tx_idx"),
            col("tok_in").as("tok"), col("pool").as("addr"),
            lit(true).as("flg"))
          .unionByName(swTxDf.select(col("block_number"), col("tx_idx"),
            col("tok_out").as("tok"), col("pool").as("addr"),
            lit(false).as("flg")))
          .unionByName(tf.select(col("block_number"), col("tx_idx"),
            col("token").as("tok"), col("t_to").as("addr"),
            lit(true).as("flg")))
          .unionByName(tf.select(col("block_number"), col("tx_idx"),
            col("token").as("tok"), col("t_from").as("addr"),
            lit(false).as("flg")))
        val sTok = pos.join(sTokE, Seq("block_number", "tx_idx"))
          .select(segKeys.map(col) ++ Seq(col("pos").as("s_pos"),
            lit("tok").as("fam"), tkey(col("tok"), col("addr")).as("skey"),
            col("flg").as("s_flg"), lit(false).as("s_inf")): _*)
        // victim probes (check_for_overlap mod.rs:725-740): a leg's
        // (token, to) probe front-matches flag TRUE / back-matches flag
        // FALSE; its (token, from) probe the reverse
        val vTok = gt.select(segKeys.map(col) ++ Seq(col("g"), col("veoa"),
            lit("tok").as("fam"), tkey(col("vtok"), col("t_to")).as("vkey"),
            lit(true).as("v_to"), lit(true).as("need_both")): _*)
          .unionByName(gt.select(segKeys.map(col) ++ Seq(col("g"),
            col("veoa"), lit("tok").as("fam"),
            tkey(col("vtok"), col("t_from")).as("vkey"),
            lit(false).as("v_to"), lit(true).as("need_both")): _*))
        // victim generated pools: the EOA's gap legs at counterparty
        // grain, black-list-excluded; EITHER side's reach victimizes
        val vGen = notBlacklisted(
            inferPools(gt, segKeys ++ Seq("g", "veoa")), "addr")
          .select(segKeys.map(col) ++ Seq(col("g"), col("veoa"),
            lit("pool").as("fam"), col("addr").as("vkey"),
            lit(null).cast("boolean").as("v_to"),
            lit(false).as("need_both")): _*)
        (sPool.unionByName(sTok),
          vPool.unionByName(vTok).unionByName(vGen))
      case _ => (sPool, vPool)
    }
    // the direction-flag conditions live in the aggregate (the same
    // (token, cp) pair may match front through one probe side and back
    // through the other — the pair, not the probe, is the matched unit).
    // The searcher side is PRE-AGGREGATED to one position ARRAY per
    // (chain, fam, key, s_flg, s_inf) class before the victim join — at
    // most ~5 class rows per key instead of one row per position, so the
    // join's fan-out drops by the position multiplicity while fmax/bmin
    // (order statistics over the array, g-bounded per victim row) lose
    // nothing. collect_set IS the dedup the old pre-distinct provided —
    // one map-side-combined shuffle instead of a full-row distinct
    // shuffle feeding a second one (r14 profile: the two stacks cost
    // 11.7 s of the ~32 s residual; fmax/bmin are order/dup-insensitive).
    val sAgg = sAll
      .groupBy((segKeys.map(col) ++ Seq(col("fam"), col("skey"),
        col("s_flg"), col("s_inf"))): _*)
      .agg(collect_set(col("s_pos")).as("s_poss"))
    // no victim-side distinct either: the grain agg below collapses
    // duplicate probe rows with idempotent max/min, so the pre-shuffle
    // bought nothing but a second exchange of the whole probe stack
    val reach = vAll.join(onChainFam(sAgg),
        col("s_block") === col("block_number") && col("s_ktype") === col("ktype") &&
          col("s_k") === col("k") && col("s_seg") === col("seg") &&
          col("fam") === col("s_fam") && col("s_skey") === col("vkey"), "left")
      .groupBy((segKeys.map(col) ++ Seq(col("g"), col("veoa"), col("fam"),
        col("vkey"), col("need_both"))): _*)
      .agg(
        max(when(col("fam") === "pool" || col("s_flg") === col("v_to"),
          array_max(filter(col("s_poss"), _ <= col("g"))))).as("fmax"),
        // per-tx inferred pools (s_inf) are excluded here: the back side's
        // inferred pools come from the flattened window (backGen)
        min(when(!col("s_inf") &&
          (col("fam") === "pool" || col("s_flg") === !col("v_to")),
          array_min(filter(col("s_poss"), _ >= col("g") + 1)))).as("bmin"))

    // all ranges within the 6-drop reachability envelope, verified per gap
    val ranges = segs
      .select(segKeys.map(col) ++ Seq(col("m"),
        explode(sequence(lit(1), col("m"))).as("i")): _*)
      .select(segKeys.map(col) ++ Seq(col("m"), col("i"),
        explode(sequence(col("i"), col("m"))).as("j")): _*)
      .filter((col("i") - 1) + (col("m") - col("j")) <= ShrinkRounds)
    val rKeys = segKeys ++ Seq("i", "j")

    // back-side FLATTENED pool inference (collect_backrun_data,
    // mod.rs:784-800): for each candidate (gap g, back boundary j) the
    // reference pools the LEG MULTISET of positions [g+1, j+1] — the
    // remaining frontruns plus the (possibly promoted) backrun — and
    // infers counterparties over that union, so a counterparty split
    // across two suffix txs IS a pool and one with a third leg elsewhere
    // in the suffix is NOT. Per-tx inference (sinf) stays front-side-only,
    // as collect_frontrun_data maps each tx separately. Windows per
    // segment are bounded by the gap×drop caps (≤ ~55), so the window
    // join explodes legs by a small constant; everything stays equi-keyed
    // on the segment.
    val backGen = transfersDf.map { tf =>
      val legsPos = pos.join(tf.select(col("block_number"), col("tx_idx"),
          col("token").as("vtok"), col("t_from"), col("t_to")),
        Seq("block_number", "tx_idx"))
      // the (g, j) window set generated DIRECTLY from the segment bound:
      // (g, j) appears for some range (i, j) iff ∃ i ≤ g with
      // (i−1) + (m−j) ≤ ShrinkRounds, and i = 1 always qualifies, so the
      // set is exactly {1 ≤ g ≤ j, m − ShrinkRounds ≤ j ≤ m}. Enumerating
      // it from `segs` (r14 VERDICT's named lever) replaces the previous
      // shape — re-deriving the (i, j) enumeration, tripling it by g and
      // DISTINCT-ing the fan-out — with two explodes and no shuffle.
      val windows = segs
        .select(segKeys.map(col) :+ explode(sequence(
          greatest(lit(1), col("m") - ShrinkRounds), col("m"))).as("j"): _*)
        .select(segKeys.map(col) ++ Seq(col("j"),
          explode(sequence(lit(1), col("j"))).as("g")): _*)
      val winLegs = windows.join(legsPos, segKeys)
        .filter(col("pos").between(col("g") + 1, col("j") + 1))
      notBlacklisted(inferPools(winLegs, segKeys ++ Seq("g", "j")), "addr")
        .withColumnsRenamed(Map("block_number" -> "bg_block",
          "ktype" -> "bg_ktype", "k" -> "bg_k", "seg" -> "bg_seg",
          "g" -> "bg_g", "j" -> "bg_j", "addr" -> "bg_addr"))
    }

    // ── per-gap VECTORIZED range verification ─────────────────────────────
    // The naive shape materializes ranges ⋈ reach (every candidate (i, j)
    // × every reach row with g ∈ [i, j] — a ≤28× row fan-out, the
    // query's dominant shuffle). The conditions are threshold tests
    // (fOk ⇔ i ≤ fmax; bOk ⇔ bmin ≤ j+1 or j ∈ the gap's back-generated
    // set), so the fan-out carries no information the per-gap entry set
    // doesn't: roll reach up to ONE row per (gap, veoa) with its entry
    // array, nest to one row per gap, and evaluate every containing
    // range inside a single higher-order expression — the same
    // collapse-the-loop-into-an-array-expression move as the shrink
    // recursion below. Semantics are row-for-row those of the old join:
    //   was(veoa)   = ∃ entry: need_both ? fOk ∧ bOk : fOk ∨ bOk
    //   has_sw      = ∃ (veoa, entry): fOk ∧ bOk   (mod.rs:644-697)
    //   n_veoas     = victims with any reach row at g (range-independent)
    // and a range appears for a gap iff that gap has reach rows — the
    // inner join's presence semantics, which the shrink relies on.
    val bgenSets = backGen.map { bg =>
      bg.groupBy(col("bg_block"), col("bg_ktype"), col("bg_k"),
          col("bg_seg"), col("bg_g"), col("bg_addr"))
        .agg(collect_set(col("bg_j").cast("long")).as("bjs"))
    }
    val reachB = bgenSets.fold(
        reach.withColumn("bjs", lit(null).cast("array<bigint>"))) { bs =>
      reach.join(bs,
          col("bg_block") === col("block_number") &&
            col("bg_ktype") === col("ktype") && col("bg_k") === col("k") &&
            col("bg_seg") === col("seg") && col("bg_g") === col("g") &&
            col("bg_addr") === col("vkey"), "left")
        .drop("bg_block", "bg_ktype", "bg_k", "bg_seg", "bg_g", "bg_addr")
    }
    val perVeoa = reachB
      .groupBy((segKeys.map(col) ++ Seq(col("g"), col("veoa"))): _*)
      .agg(collect_list(struct(col("need_both"),
        col("fmax").cast("long").as("fmax"),
        col("bmin").cast("long").as("bmin"), col("bjs"))).as("es"))
    val perGap = perVeoa
      .groupBy((segKeys.map(col) :+ col("g")): _*)
      .agg(collect_list(col("es")).as("ves"))
      .join(segs.select((segKeys.map(col) :+ col("m")): _*), segKeys)
    val fokSql = "(e.fmax IS NOT NULL AND e.fmax >= i)"
    val bokSql = """((e.bmin IS NOT NULL AND e.bmin <= j + 1) OR
      | (e.bjs IS NOT NULL AND array_contains(e.bjs, j)))"""
      .stripMargin.replace("\n", "")
    // j enumeration: greatest() keeps the sequence ascending and the
    // j <= m lambda guard drops the bogus j = g row it introduces, so a
    // gap that ever carried g > m yields zero verdict rows HERE rather
    // than leaning on the downstream inner join with `ranges` to drop
    // descending-sequence output
    val verdictArr = s"""
      flatten(transform(sequence(CAST(1 AS BIGINT), CAST(g AS BIGINT)),
        i -> transform(
          filter(sequence(CAST(g AS BIGINT),
              greatest(CAST(g AS BIGINT), CAST(m AS BIGINT))),
            j -> j <= CAST(m AS BIGINT)
              AND (i - 1) + (CAST(m AS BIGINT) - j) <= $ShrinkRounds),
          j -> named_struct(
            'i', i, 'j', j,
            'nv', CAST(size(ves) AS BIGINT),
            'nw', CAST(size(filter(ves, v -> exists(v, e ->
              IF(e.need_both, $fokSql AND $bokSql,
                $fokSql OR $bokSql)))) AS BIGINT),
            'st', IF(exists(ves, v -> exists(v, e ->
              $fokSql AND $bokSql)), 1, 0)))))"""
      .replace("\n", " ")
    val gok = perGap
      .select(segKeys.map(col) :+ explode(expr(verdictArr)).as("r"): _*)
      .select(segKeys.map(col) ++ Seq(col("r.i").as("i"),
        col("r.j").as("j"), col("r.nv").as("n_veoas"),
        col("r.nw").as("n_was"), col("r.st").as("has_sw")): _*)
    // per-gap verdict (verify_sandwich_victims tail, mod.rs:692-697):
    // victim_pct >= 0.25 AND has_sandwich — a strong victim implies a
    // victimized one, so has_sw subsumes the old n_was >= 1 floor
    val verd = gok.groupBy(rKeys.map(col): _*)
      .agg(bool_and(col("has_sw") === 1 &&
        col("n_was") * MinVictimRatioDen >= col("n_veoas")).as("ok"))
      .join(ranges, rKeys)

    // 6-level shrink reachability: failing ranges of ≥2 links spawn their
    // front-drop and back-drop children; emit every verified reached range.
    // A segment holds ≤ ~28 candidate ranges, so the recursion runs INSIDE
    // one array expression per segment (roll ranges up with collect_list,
    // step the levels with aggregate() so each level is MATERIALIZED in the
    // accumulator — naively nesting the levels as filter/exists lambdas
    // re-evaluates every inner level per outer element, O(n^drops)/segment,
    // and cost 30+ s at sf0.1 — then explode the emitted set): one shuffle,
    // versus the 14 a per-level join/distinct loop costs. A range at drops
    // d is reachable only at level d, so the emit concat cannot duplicate.
    val emitExpr = shrinkEmitExpr(ShrinkRounds)
    // emit is ~hundreds of rows but feeds BOTH detail rollups (pagg, vagg);
    // the checkpoint runs the whole verification chain once, not twice.
    val emit = verd
      .groupBy(segKeys.map(col): _*)
      .agg(collect_list(struct(col("i"), col("j"), col("m"), col("ok")))
        .as("rs"))
      .select(segKeys.map(col) :+ explode(expr(emitExpr)).as("r"): _*)
      .select(segKeys.map(col) ++
        Seq(col("r.i").as("i"), col("r.j").as("j"), col("r.m").as("m")): _*)
      .transform(Pins.checkpoint)

    // details: position rollup, gap victim totals, profit, dedup signature
    val pr = pos.join(profit.select(col("tx_hash").as("p_hash"),
      col("profit_usd")), col("tx_hash") === col("p_hash"), "left")
    val pagg = emit.join(pr, segKeys)
      .filter(col("pos").between(col("i"), col("j") + 1))
      .groupBy((rKeys :+ "m").map(col): _*)
      .agg(min_by(col("tx_idx"), col("pos")).as("front_idx"),
        max_by(col("tx_idx"), col("pos")).as("back_idx"),
        bool_and(col("price_ok")).as("has_dex_price"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("pos"), col("tx_idx")))),
          x => x.getField("tx_idx").cast("string"))).as("chain_sig"),
        dsumR(col("profit_usd")).as("profit_raw"))
    val vagg = emit.join(links.select(segKeys.map(col) ++
        Seq(col("li"), col("n_between")): _*), segKeys)
      .filter(col("li").between(col("i"), col("j")))
      .groupBy(rKeys.map(col): _*)
      .agg(sum(col("n_between")).as("n_victim_txs"))
    val all = pagg.join(vagg, rKeys)
      .join(segs.select(segKeys.map(col) :+ col("mevc"): _*), segKeys)
      .join(eoa1, segKeys)
      .select(col("block_number"), col("ktype").as("key_type"),
        when(col("ktype") === "eoa", col("k")).otherwise(col("eoa1")).as("eoa"),
        col("mevc").as("contract"), col("front_idx"), col("back_idx"),
        (col("j") - col("i") + 1).cast("long").as("n_frontruns"),
        col("n_victim_txs"),
        (col("i") - 1).cast("long").as("drops_front"),
        (col("m") - col("j")).cast("long").as("drops_back"),
        col("has_dex_price"),
        when(col("has_dex_price"), col("profit_raw")).otherwise(lit(0.0e0))
          .as("profit_usd"),
        col("chain_sig"))
    // senders/contracts dedup: identical emitted chains keep the senders row
    all.withColumn("rn", row_number().over(
        Window.partitionBy("block_number", "chain_sig")
          .orderBy(col("key_type").desc)))
      .filter(col("rn") === 1).drop("rn")
  }

  // ── DuckDB oracle: the same computation as generated CTEs ────────────────

  private val segK = "block_number, ktype, k, seg"
  private def onSeg(a: String, b: String) =
    s"$a.block_number = $b.block_number AND $a.ktype = $b.ktype AND $a.k = $b.k AND $a.seg = $b.seg"

  private val bigmacCtes: String = {
    val exRounds = (0 until ShrinkRounds).map { d =>
      s"""bm_ex${d + 1} AS (
        SELECT DISTINCT v.* FROM bm_ex$d e JOIN bm_verd v
          ON ${onSeg("v", "e")}
         AND ((v.i = e.i + 1 AND v.j = e.j) OR (v.i = e.i AND v.j = e.j - 1))
        WHERE NOT e.ok AND e.j - e.i + 1 >= 2)"""
    }.mkString(",\n      ")
    val emitUnion = (0 to ShrinkRounds)
      .map(d => s"SELECT * FROM bm_ex$d WHERE ok").mkString(" UNION ALL ")
    s"""bm_rt AS (
      SELECT block_number, tx_idx, ARG_MIN(to_address, trace_idx) AS root_to
      FROM actions GROUP BY 1, 2),
    bm_txu0 AS (
      SELECT t.block_number, t.tx_idx, t.tx_hash, t.eoa, r.root_to,
        BOOL_AND(ABS((t.sum_out / t.sum_in) /
          (${tokenPriceSql("t.tok_in")} / ${tokenPriceSql("t.tok_out")}) - 1)
          <= $MaxPriceDiff) AS price_ok
      FROM sw_tx t JOIN bm_rt r
        ON r.block_number = t.block_number AND r.tx_idx = t.tx_idx
      GROUP BY 1, 2, 3, 4, 5),
    bm_txu AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY block_number ORDER BY tx_idx)
        AS rnk
      FROM bm_txu0),
    bm_txpool AS MATERIALIZED (SELECT DISTINCT block_number, tx_idx, pool FROM sw_tx),
    bm_ck AS (
      SELECT *, 'eoa' AS ktype, eoa AS k FROM bm_txu
      UNION ALL SELECT *, 'contract', root_to FROM bm_txu),
    bm_lk0 AS (
      SELECT *, LEAD(rnk) OVER w AS nxt_rnk, LEAD(tx_idx) OVER w AS nxt_idx,
        LEAD(tx_hash) OVER w AS nxt_hash, LEAD(price_ok) OVER w AS nxt_pok,
        LEAD(eoa) OVER w AS nxt_eoa, LEAD(root_to) OVER w AS nxt_root
      FROM bm_ck
      WINDOW w AS (PARTITION BY block_number, ktype, k ORDER BY rnk)),
    bm_lk1 AS (
      SELECT *, nxt_rnk - rnk - 1 AS n_between,
        SUM(CASE WHEN nxt_rnk - rnk - 1 = 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY block_number, ktype, k ORDER BY rnk
                ROWS UNBOUNDED PRECEDING) AS seg
      FROM bm_lk0 WHERE nxt_rnk IS NOT NULL),
    bm_lnk AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY $segK ORDER BY rnk) AS li
      FROM bm_lk1 WHERE n_between > 0),
    bm_seg0 AS MATERIALIZED (
      SELECT $segK, MAX(li) AS m, SUM(n_between) AS tot_v
      FROM bm_lnk GROUP BY 1, 2, 3, 4),
    bm_pos AS MATERIALIZED (
      SELECT $segK, li AS pos, tx_idx, rnk, tx_hash, price_ok, eoa, root_to
      FROM bm_lnk
      UNION ALL
      SELECT l.block_number, l.ktype, l.k, l.seg, s.m + 1, l.nxt_idx,
        l.nxt_rnk, l.nxt_hash, l.nxt_pok, l.nxt_eoa, l.nxt_root
      FROM bm_lnk l JOIN bm_seg0 s ON ${onSeg("l", "s")}
      WHERE l.li = s.m),
    bm_mevc AS (
      SELECT $segK,
        CASE WHEN ktype = 'contract' THEN k ELSE root_to END AS mevc
      FROM bm_pos WHERE pos = 2),
    bm_eoa1 AS (SELECT $segK, eoa AS eoa1 FROM bm_pos WHERE pos = 1),
    bm_gapv AS MATERIALIZED (
      SELECT l.block_number, l.ktype, l.k, l.seg, l.li AS g,
        v.tx_idx AS vtx, v.eoa AS veoa, v.root_to AS vroot
      FROM bm_lnk l JOIN bm_txu v
        ON v.block_number = l.block_number
       AND v.rnk > l.rnk AND v.rnk < l.nxt_rnk),
    bm_cpw AS (
      SELECT block_number, tx_idx, trace_idx,
        LAST_VALUE(CASE WHEN action_type IS NULL OR action_type <> 'transfer'
            THEN to_address END IGNORE NULLS)
          OVER (PARTITION BY block_number, tx_idx ORDER BY trace_idx
                ROWS UNBOUNDED PRECEDING) AS cp0
      FROM actions),
    bm_tf AS MATERIALIZED (
      SELECT a.block_number, a.tx_idx, a.from_address AS eoa,
        a.token_in_id AS vtok, r.root_to,
        CASE WHEN a.direction = 0 THEN a.from_address
             ELSE COALESCE(c.cp0, r.root_to) END AS t_from,
        CASE WHEN a.direction = 0 THEN COALESCE(c.cp0, r.root_to)
             ELSE a.from_address END AS t_to
      FROM actions a
      JOIN bm_cpw c ON c.block_number = a.block_number
        AND c.tx_idx = a.tx_idx AND c.trace_idx = a.trace_idx
      JOIN bm_rt r
        ON r.block_number = a.block_number AND r.tx_idx = a.tx_idx
      WHERE a.action_type = 'transfer' AND a.amount_in IS NOT NULL),
    bm_gapt AS MATERIALIZED (
      SELECT l.block_number, l.ktype, l.k, l.seg, l.li AS g,
        t.eoa AS veoa, t.vtok, t.t_from, t.t_to, t.root_to AS vroot
      FROM bm_lnk l JOIN bm_tf t
        ON t.block_number = l.block_number
       AND t.tx_idx > l.tx_idx AND t.tx_idx < l.nxt_idx),
    bm_segs AS MATERIALIZED (
      SELECT s.*, c.mevc FROM bm_seg0 s JOIN bm_mevc c ON ${onSeg("s", "c")}
      WHERE s.m <= 10 AND s.tot_v <= 30
        AND NOT EXISTS (SELECT 1 FROM bm_gapv gv
          WHERE ${onSeg("gv", "s")} AND gv.vroot = c.mevc)
        AND NOT EXISTS (SELECT 1 FROM bm_gapt gt
          WHERE ${onSeg("gt", "s")} AND gt.vroot = c.mevc)),
    bm_black AS MATERIALIZED (
      SELECT DISTINCT block_number, ktype, k, seg, addr FROM (
        SELECT p.block_number, p.ktype, p.k, p.seg, p.eoa AS addr
        FROM bm_pos p JOIN bm_seg0 s ON ${onSeg("p", "s")}
        WHERE p.pos <= s.m
        UNION ALL
        SELECT p.block_number, p.ktype, p.k, p.seg, p.root_to
        FROM bm_pos p JOIN bm_seg0 s ON ${onSeg("p", "s")}
        WHERE p.pos <= s.m)),
    bm_sinf AS MATERIALIZED (
      SELECT block_number, tx_idx, addr FROM (
        SELECT block_number, tx_idx, t_from AS addr, vtok, t_to FROM bm_tf
        UNION ALL
        SELECT block_number, tx_idx, t_to, vtok, t_to FROM bm_tf)
      GROUP BY 1, 2, 3
      HAVING COUNT(*) = 2 AND MIN(vtok) <> MAX(vtok)
         AND MIN(t_to) <> MAX(t_to)),
    bm_sp AS MATERIALIZED (
      SELECT DISTINCT p.block_number, p.ktype, p.k, p.seg, p.pos, tp.pool,
        false AS inf
      FROM bm_pos p JOIN bm_txpool tp
        ON tp.block_number = p.block_number AND tp.tx_idx = p.tx_idx
      UNION
      SELECT p.block_number, p.ktype, p.k, p.seg, p.pos, i.addr, true
      FROM bm_pos p JOIN bm_sinf i
        ON i.block_number = p.block_number AND i.tx_idx = p.tx_idx
      WHERE NOT EXISTS (SELECT 1 FROM bm_black b
        WHERE ${onSeg("b", "p")} AND b.addr = i.addr)),
    bm_vp AS (
      SELECT DISTINCT g.block_number, g.ktype, g.k, g.seg, g.g, g.veoa, tp.pool
      FROM bm_gapv g JOIN bm_txpool tp
        ON tp.block_number = g.block_number AND tp.tx_idx = g.vtx),
    bm_fb AS (
      SELECT v.block_number, v.ktype, v.k, v.seg, v.g, v.veoa, v.pool,
        MAX(CASE WHEN s.pos <= v.g THEN s.pos END) AS fmax,
        MIN(CASE WHEN s.pos >= v.g + 1 AND NOT s.inf THEN s.pos END) AS bmin
      FROM bm_vp v LEFT JOIN bm_sp s
        ON ${onSeg("s", "v")} AND s.pool = v.pool
      GROUP BY 1, 2, 3, 4, 5, 6, 7),
    bm_stok AS (
      SELECT block_number, tx_idx, tok_in AS tok, pool AS addr, true AS flg
      FROM sw_tx
      UNION ALL SELECT block_number, tx_idx, tok_out, pool, false FROM sw_tx
      UNION ALL SELECT block_number, tx_idx, vtok, t_to, true FROM bm_tf
      UNION ALL SELECT block_number, tx_idx, vtok, t_from, false FROM bm_tf),
    bm_st AS MATERIALIZED (
      SELECT DISTINCT p.block_number, p.ktype, p.k, p.seg, p.pos,
        s.tok, s.addr, s.flg
      FROM bm_pos p JOIN bm_stok s
        ON s.block_number = p.block_number AND s.tx_idx = p.tx_idx),
    bm_vt AS (
      SELECT DISTINCT block_number, ktype, k, seg, g, veoa, vtok AS tok,
        t_to AS addr, true AS v_to
      FROM bm_gapt
      UNION
      SELECT DISTINCT block_number, ktype, k, seg, g, veoa, vtok,
        t_from, false
      FROM bm_gapt),
    bm_ft AS (
      SELECT v.block_number, v.ktype, v.k, v.seg, v.g, v.veoa, v.tok, v.addr,
        MAX(CASE WHEN s.pos <= v.g AND s.flg = v.v_to
          THEN s.pos END) AS fmax,
        MIN(CASE WHEN s.pos >= v.g + 1 AND s.flg = (NOT v.v_to)
          THEN s.pos END) AS bmin
      FROM bm_vt v LEFT JOIN bm_st s
        ON ${onSeg("s", "v")} AND s.tok = v.tok AND s.addr = v.addr
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
    bm_vg AS (
      SELECT c.block_number, c.ktype, c.k, c.seg, c.g, c.veoa, c.addr
      FROM (
        SELECT block_number, ktype, k, seg, g, veoa, addr FROM (
          SELECT block_number, ktype, k, seg, g, veoa, t_from AS addr,
            vtok, t_to
          FROM bm_gapt
          UNION ALL
          SELECT block_number, ktype, k, seg, g, veoa, t_to, vtok, t_to
          FROM bm_gapt)
        GROUP BY 1, 2, 3, 4, 5, 6, 7
        HAVING COUNT(*) = 2 AND MIN(vtok) <> MAX(vtok)
           AND MIN(t_to) <> MAX(t_to)) c
      WHERE NOT EXISTS (SELECT 1 FROM bm_black b
        WHERE ${onSeg("b", "c")} AND b.addr = c.addr)),
    bm_fg AS (
      SELECT v.block_number, v.ktype, v.k, v.seg, v.g, v.veoa, v.addr,
        MAX(CASE WHEN s.pos <= v.g THEN s.pos END) AS fmax,
        MIN(CASE WHEN s.pos >= v.g + 1 AND NOT s.inf THEN s.pos END) AS bmin
      FROM bm_vg v LEFT JOIN bm_sp s
        ON ${onSeg("s", "v")} AND s.pool = v.addr
      GROUP BY 1, 2, 3, 4, 5, 6, 7),
    bm_reach AS MATERIALIZED (
      SELECT block_number, ktype, k, seg, g, veoa, fmax, bmin,
        true AS need_both, pool AS vkey FROM bm_fb
      UNION ALL
      SELECT block_number, ktype, k, seg, g, veoa, fmax, bmin,
        true AS need_both, CAST(NULL AS VARCHAR) FROM bm_ft
      UNION ALL
      SELECT block_number, ktype, k, seg, g, veoa, fmax, bmin,
        false AS need_both, addr FROM bm_fg),
    bm_rng AS MATERIALIZED (
      SELECT s.*, i.i, j.j FROM bm_segs s,
        LATERAL unnest(generate_series(1, s.m)) i(i),
        LATERAL unnest(generate_series(i.i, s.m)) j(j)
      WHERE (i.i - 1) + (s.m - j.j) <= $ShrinkRounds),
    bm_win AS (
      SELECT DISTINCT r.block_number, r.ktype, r.k, r.seg, g.g, r.j
      FROM bm_rng r, LATERAL unnest(generate_series(r.i, r.j)) g(g)),
    bm_wleg AS (
      SELECT w.block_number, w.ktype, w.k, w.seg, w.g, w.j,
        t.vtok, t.t_from, t.t_to
      FROM bm_win w
      JOIN bm_pos p ON ${onSeg("p", "w")}
        AND p.pos BETWEEN w.g + 1 AND w.j + 1
      JOIN bm_tf t
        ON t.block_number = p.block_number AND t.tx_idx = p.tx_idx),
    bm_bgen AS MATERIALIZED (
      SELECT c.block_number, c.ktype, c.k, c.seg, c.g, c.j, c.addr FROM (
        SELECT block_number, ktype, k, seg, g, j, addr FROM (
          SELECT block_number, ktype, k, seg, g, j, t_from AS addr,
            vtok, t_to
          FROM bm_wleg
          UNION ALL
          SELECT block_number, ktype, k, seg, g, j, t_to, vtok, t_to
          FROM bm_wleg)
        GROUP BY 1, 2, 3, 4, 5, 6, 7
        HAVING COUNT(*) = 2 AND MIN(vtok) <> MAX(vtok)
           AND MIN(t_to) <> MAX(t_to)) c
      WHERE NOT EXISTS (SELECT 1 FROM bm_black b
        WHERE ${onSeg("b", "c")} AND b.addr = c.addr)),
    bm_gv AS (
      SELECT r.block_number, r.ktype, r.k, r.seg, r.i, r.j, f.g, f.veoa,
        MAX(CASE WHEN CASE WHEN f.need_both
                 THEN (f.fmax IS NOT NULL AND f.fmax >= r.i)
                  AND ((f.bmin IS NOT NULL AND f.bmin <= r.j + 1)
                       OR bg.addr IS NOT NULL)
                 ELSE (f.fmax IS NOT NULL AND f.fmax >= r.i)
                   OR (f.bmin IS NOT NULL AND f.bmin <= r.j + 1)
                   OR bg.addr IS NOT NULL END
                 THEN 1 ELSE 0 END) AS was,
        MAX(CASE WHEN (f.fmax IS NOT NULL AND f.fmax >= r.i)
                  AND ((f.bmin IS NOT NULL AND f.bmin <= r.j + 1)
                       OR bg.addr IS NOT NULL)
                 THEN 1 ELSE 0 END) AS strong
      FROM bm_rng r JOIN bm_reach f
        ON ${onSeg("f", "r")} AND f.g BETWEEN r.i AND r.j
      LEFT JOIN bm_bgen bg ON ${onSeg("bg", "r")}
        AND bg.g = f.g AND bg.j = r.j AND bg.addr = f.vkey
      GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
    bm_gok AS (
      SELECT $segK, i, j, g, COUNT(*) AS n_veoas, SUM(was) AS n_was,
        MAX(strong) AS has_sw
      FROM bm_gv GROUP BY 1, 2, 3, 4, 5, 6, 7),
    bm_verd AS MATERIALIZED (
      SELECT r.block_number, r.ktype, r.k, r.seg, r.m, r.i, r.j,
        BOOL_AND(g.has_sw = 1 AND g.n_was * $MinVictimRatioDen >= g.n_veoas)
          AS ok
      FROM bm_rng r JOIN bm_gok g
        ON ${onSeg("g", "r")} AND g.i = r.i AND g.j = r.j
      GROUP BY 1, 2, 3, 4, 5, 6, 7),
    bm_ex0 AS (SELECT * FROM bm_verd WHERE i = 1 AND j = m),
    $exRounds,
    bm_emit AS MATERIALIZED ($emitUnion),
    bm_pagg AS (
      SELECT e.block_number, e.ktype, e.k, e.seg, e.i, e.j, e.m,
        ARG_MIN(p.tx_idx, p.pos) AS front_idx,
        ARG_MAX(p.tx_idx, p.pos) AS back_idx,
        BOOL_AND(p.price_ok) AS has_dex_price,
        STRING_AGG(CAST(p.tx_idx AS VARCHAR), ',' ORDER BY p.pos) AS chain_sig,
        ${sqlSumR("h.profit_usd")} AS profit_raw
      FROM bm_emit e JOIN bm_pos p
        ON ${onSeg("p", "e")} AND p.pos BETWEEN e.i AND e.j + 1
      LEFT JOIN header h ON h.tx_hash = p.tx_hash
      GROUP BY 1, 2, 3, 4, 5, 6, 7),
    bm_vagg AS (
      SELECT e.block_number, e.ktype, e.k, e.seg, e.i, e.j,
        SUM(l.n_between) AS n_victim_txs
      FROM bm_emit e JOIN bm_lnk l
        ON ${onSeg("l", "e")} AND l.li BETWEEN e.i AND e.j
      GROUP BY 1, 2, 3, 4, 5, 6),
    bm_all AS (
      SELECT p.block_number, p.ktype AS key_type,
        CASE WHEN p.ktype = 'eoa' THEN p.k ELSE e1.eoa1 END AS eoa,
        s.mevc AS contract, p.front_idx, p.back_idx,
        p.j - p.i + 1 AS n_frontruns, v.n_victim_txs,
        p.i - 1 AS drops_front, p.m - p.j AS drops_back, p.has_dex_price,
        CASE WHEN p.has_dex_price THEN p.profit_raw ELSE 0.0e0 END
          AS profit_usd,
        p.chain_sig
      FROM bm_pagg p
      JOIN bm_vagg v ON ${onSeg("v", "p")} AND v.i = p.i AND v.j = p.j
      JOIN bm_segs s ON ${onSeg("s", "p")}
      JOIN bm_eoa1 e1 ON ${onSeg("e1", "p")})"""
  }

  private val q1Bigmac = QueryDef(
    "q1_bigmac",
    (s, dir) => {
      val hdr = Accounting.bundleHeaders(s, dir).select("tx_hash", "profit_usd")
      // roots feeds tf + txu + gapt; tf feeds gapt + sinf + backGen —
      // checkpoint both so the grouped/windowed full-actions scans behind
      // them run once, not once per consumer (the same plan-truncation
      // rationale as txu/links/pos/gapt/sinf/emit inside the assembly)
      val roots = Pins.checkpoint(rootTo(s, dir))
      // leg endpoints (NormalizedTransfer {from, to}): the counterparty is
      // the nearest PRECEDING non-transfer frame's contract in trace order
      // (the frame that issued the transfer — a pool calling
      // token.transfer), falling back to the root contract; direction-0
      // legs run eoa→cp, direction-1 legs cp→eoa
      val wCp = Window.partitionBy("block_number", "tx_idx")
        .orderBy("trace_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tf = Pins.checkpoint(actionsTable(s, dir)
        .withColumn("cp0", last(when(col("action_type").isNull ||
          col("action_type") =!= "transfer", col("to_address")),
          ignoreNulls = true).over(wCp))
        .filter(col("action_type") === "transfer" && col("amount_in").isNotNull)
        .join(roots, Seq("block_number", "tx_idx"))
        .withColumn("cp", coalesce(col("cp0"), col("root_to")))
        .select(col("block_number"), col("tx_idx"),
          col("from_address").as("eoa"), col("token_in_id").as("token"),
          when(col("direction") === 0, col("from_address"))
            .otherwise(col("cp")).as("t_from"),
          when(col("direction") === 0, col("cp"))
            .otherwise(col("from_address")).as("t_to")))
      bigmacBundlesOf(InspectorOps.swTxOf(s, dir), roots, hdr, Some(tf))
        .orderBy("block_number", "front_idx", "back_idx", "n_frontruns",
          "chain_sig")
    },
    withCtes(s"""${InspectorOps.swTxCteShared}, $bigmacCtes
      SELECT block_number, key_type, eoa, contract, front_idx, back_idx,
        CAST(n_frontruns AS BIGINT) AS n_frontruns,
        CAST(n_victim_txs AS BIGINT) AS n_victim_txs,
        CAST(drops_front AS BIGINT) AS drops_front,
        CAST(drops_back AS BIGINT) AS drops_back,
        has_dex_price, profit_usd, chain_sig
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY block_number, chain_sig ORDER BY key_type DESC) AS rn
        FROM bm_all)
      WHERE rn = 1
      ORDER BY block_number, front_idx, back_idx, n_frontruns, chain_sig"""))
}
