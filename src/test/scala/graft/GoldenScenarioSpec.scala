package graft

import graft.domain.InspectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FIXTURES.md §C golden scenarios: hand-planted patterns with
  * closed-form expected outputs (the Spark analog of the reference's
  * pinned-tx-hash inspector tests, sandwich/mod.rs:1149-1510). */
class GoldenScenarioSpec extends SparkTestBase {
  import spark.implicits._

  // swTx-shaped rows:
  // (block, tx_idx, tx_hash, eoa, pool, dir, tok_in, tok_out, in, out)
  private def swTxOf(
      rows: (Long, Long, String, String, String, Long, Long, Long, Double, Double)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "tx_hash", "eoa", "pool",
      "dir", "tok_in", "tok_out", "sum_in", "sum_out")

  test("simple_sandwich: 1 frontrun + 2 victims + 1 backrun on one pool") {
    val df = swTxOf(
      (1L, 0L, "f", "attacker", "P", 0L, 7L, 8L, 100.0, 90.0), // frontrun buys
      (1L, 1L, "v1", "victimA", "P", 0L, 7L, 8L, 50.0, 44.0), // same direction
      (1L, 2L, "v2", "victimB", "P", 0L, 7L, 8L, 30.0, 26.0),
      (1L, 3L, "b", "attacker", "P", 1L, 8L, 7L, 90.0, 120.0)) // backrun sells
    val out = InspectorOps.sandwichesOf(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_victims") == 2)
    assert(r.getAs[String]("front_tx") == "f" && r.getAs[String]("back_tx") == "b")
    assert(r.getAs[Int]("found_at_iter") == 0)
  }

  test("big_mac_sandwich: two stacked frontruns each keep their own victim set") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vic1", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "b1", "atk", "P", 1L, 8L, 7L, 9.0, 11.0),
      (1L, 3L, "v2", "vic2", "P", 1L, 8L, 7L, 5.0, 4.4), // matches 2nd bracket dir
      (1L, 4L, "f2", "atk", "P", 0L, 7L, 8L, 10.0, 9.0))
    val out = InspectorOps.sandwichesOf(df).orderBy("front_idx").collect()
    // brackets: (f1→b1) with v1 (dir 0) and (b1→f2) with v2 (dir 1)
    assert(out.length == 2)
    assert(out.map(_.getAs[Long]("n_victims")).toSeq == Seq(1L, 1L))
  }

  test("sandwich_not: no pool overlap → no sandwich") {
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P1", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v", "vic", "P2", 0L, 7L, 8L, 50.0, 44.0), // different pool
      (1L, 3L, "b", "atk", "P1", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("sandwich_not: same direction back-run is not a bracket") {
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0),
      (1L, 3L, "b", "atk", "P", 0L, 7L, 8L, 90.0, 80.0)) // same dir as front
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("sandwich_not: opposite-direction victim does not count") {
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v", "vic", "P", 1L, 8L, 7L, 50.0, 44.0), // counter-trading victim
      (1L, 3L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("sandwich_not: price-manipulated leg fails MAX_PRICE_DIFF") {
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 9000.0), // eff 90 vs ~0.94 true
      (1L, 1L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0),
      (1L, 3L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("block-boundary sandwich matches inside the 2-block window") {
    val df = swTxOf(
      (1L, 15L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0), // last tx of block 1
      (2L, 0L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0),
      (2L, 1L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    val out = InspectorOps.sandwichesOf(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("front_block") == 1L)
    assert(out.head.getAs[Long]("back_block") == 2L)
  }

  test("sandwich_not: brackets further apart than the 2-block window never pair") {
    val df = swTxOf(
      (1L, 15L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (3L, 0L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0), // two blocks later
      (3L, 1L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("sandwich_not: the attacker's own mid-bracket tx is never a victim") {
    // the only "victim" swap between the brackets is the attacker's —
    // v.eoa <> c.eoa excludes it, so no sandwich forms
    // (the reference's related-victim guard, sandwich/mod.rs victim sets)
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "s", "atk", "P", 0L, 7L, 8L, 50.0, 44.0), // own tx inside
      (1L, 3L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  test("back-shrink pops the last frontrun and promotes it to backrun") {
    // chain f1(buy) → f2(sell) → b(buy): the full range fails (its boundary
    // legs f1/b share direction 0), spawning back-drop [1,1] = (f1 → f2)
    // and front-drop [2,2] = (f2 → b). [1,1] sandwiches the true victim;
    // [2,2] has only unrelated-pool noise between. The emitted back tx is
    // the REAL promoted frontrun f2 — the reference's pop-and-promote
    // (recursive_possible_sandwiches, sandwich/mod.rs:472-504).
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0),
      (1L, 2L, "f2", "atk", "P", 1L, 8L, 7L, 90.0, 120.0),
      (1L, 3L, "n1", "oth1", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 4L, "n2", "oth2", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 6L, "b", "atk", "P", 0L, 7L, 8L, 100.0, 90.0))
    val out = InspectorOps.sandwichesOf(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("front_tx") == "f1")
    assert(r.getAs[String]("back_tx") == "f2") // real tx, not a halved ord
    assert(r.getAs[Int]("found_at_iter") == 1)
    assert(r.getAs[Long]("n_victims") == 1)
  }

  test("sandwich_not: a single-link candidate admits no shrink") {
    // 1 frontrun + 1 backrun failing the victim ratio: the reference only
    // recurses when possible_front_runs_info.len() > 1 (mod.rs:465) — a
    // 2-tx bracket that fails is dropped, never healed by moving its
    // boundary (the retired halved-back_ord divergence used to heal this).
    val df = swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v", "vic", "P", 0L, 7L, 8L, 50.0, 44.0), // 1 victim of 5
      (1L, 2L, "n1", "oth1", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 3L, "n2", "oth2", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 4L, "n3", "oth3", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 5L, "n4", "oth4", "Q", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 6L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0))
    assert(InspectorOps.sandwichesOf(df).count() == 0)
  }

  // swaps-shaped rows for the arb classifier: (tx_hash, trace_idx, in, out)
  private def swapsOf(rows: (String, Long, Long, Long)*): DataFrame =
    rows.toDF("tx_hash", "trace_idx", "token_in_id", "token_out_id")

  test("triangle_arb: three chained swaps closing the cycle") {
    val out = InspectorOps.arbsOf(swapsOf(
      ("t", 1L, 10L, 11L), ("t", 2L, 11L, 12L), ("t", 3L, 12L, 10L))).collect()
    assert(out.length == 1 && out.head.getAs[String]("arb_type") == "triangle")
  }

  test("cross_pair_arb: two swaps there-and-back") {
    val out = InspectorOps.arbsOf(swapsOf(
      ("t", 1L, 10L, 11L), ("t", 2L, 11L, 10L))).collect()
    assert(out.length == 1 && out.head.getAs[String]("arb_type") == "cross_pair")
  }

  test("stable_arb vs long_tail: 4-leg cycles split on stable membership") {
    val out = InspectorOps.arbsOf(swapsOf(
      ("s", 1L, 2L, 11L), ("s", 2L, 11L, 12L), ("s", 3L, 12L, 13L), ("s", 4L, 13L, 2L),
      ("l", 1L, 20L, 21L), ("l", 2L, 21L, 22L), ("l", 3L, 22L, 23L), ("l", 4L, 23L, 20L)))
      .orderBy("tx_hash").collect()
    assert(out.map(_.getAs[String]("arb_type")).toSeq == Seq("long_tail", "stablecoin"))
  }

  test("arb_not: broken chain or open cycle is not an arb") {
    val out = InspectorOps.arbsOf(swapsOf(
      ("a", 1L, 10L, 11L), ("a", 2L, 12L, 13L), // discontinuous
      ("b", 1L, 10L, 11L), ("b", 2L, 11L, 12L))) // open-ended
    assert(out.count() == 0)
  }

  // swap-grain rows for the trigger search:
  // (block, tx_idx, tx_hash, pool, direction, trace_idx, token_in, token_out)
  private def trigSwapsOf(
      rows: (Long, Long, String, String, Long, Long, Long, Long)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "tx_hash", "pool", "direction",
      "trace_idx", "token_in_id", "token_out_id")

  test("trigger search prefers the arb's own block, then walks one block back") {
    val swaps = trigSwapsOf(
      // prev-block opposite-direction swap on the arb's pool
      (1L, 4L, "prev", "P", 1L, 1L, 11L, 10L),
      // same-block opposite-direction swap — must win over "prev"
      (2L, 1L, "same", "P", 1L, 1L, 11L, 10L),
      // the arb tx itself: two swaps closing a cycle through pool P
      (2L, 5L, "arb", "P", 0L, 1L, 10L, 11L),
      (2L, 5L, "arb", "Q", 0L, 2L, 11L, 10L))
    val arbs = InspectorOps.arbsOf(swaps)
    val picks = InspectorOps.triggerPicks(arbs, swaps).collect()
    assert(picks.length == 1)
    assert(picks.head.getAs[String]("trigger_tx") == "same")
    assert(picks.head.getAs[Boolean]("trig_same_block"))
  }

  test("trigger search falls back to the previous block only") {
    val swaps = trigSwapsOf(
      (1L, 4L, "prev", "P", 1L, 1L, 11L, 10L),
      (2L, 5L, "arb", "P", 0L, 1L, 10L, 11L),
      (2L, 5L, "arb", "Q", 0L, 2L, 11L, 10L))
    val picks = InspectorOps.triggerPicks(InspectorOps.arbsOf(swaps), swaps).collect()
    assert(picks.length == 1)
    assert(picks.head.getAs[String]("trigger_tx") == "prev")
    assert(!picks.head.getAs[Boolean]("trig_same_block"))
  }

  test("trigger_not: two blocks back is outside the window; same direction never triggers") {
    val swaps = trigSwapsOf(
      (0L, 4L, "old", "P", 1L, 1L, 11L, 10L), // two blocks before the arb
      (2L, 3L, "sd", "P", 0L, 1L, 10L, 11L), // same direction as the arb leg
      (2L, 5L, "arb", "P", 0L, 1L, 10L, 11L),
      (2L, 5L, "arb", "Q", 0L, 2L, 11L, 10L))
    assert(InspectorOps.triggerPicks(InspectorOps.arbsOf(swaps), swaps).count() == 0)
  }

  test("arb_tree: the reference decision tree over planted leg sequences") {
    val legs = Seq(
      // cyclic 2-leg with a discontinuity → cross_pair(1)
      ("A", 1L, 10L, 11L), ("A", 2L, 12L, 10L),
      // non-cyclic 2-leg with stable endpoints (ids < 5) → stablecoin
      ("B", 1L, 1L, 7L), ("B", 2L, 7L, 2L),
      // cyclic continuous 3-leg → triangle
      ("C", 1L, 5L, 6L), ("C", 2L, 6L, 7L), ("C", 3L, 7L, 5L),
      // cyclic 3-leg, discontinuity at the 2nd leg → cross_pair(1)
      ("D", 1L, 8L, 9L), ("D", 2L, 6L, 7L), ("D", 3L, 7L, 8L),
      // non-cyclic, non-stable endpoints → long_tail
      ("E", 1L, 9L, 8L), ("E", 2L, 8L, 7L),
      // single leg → not a candidate
      ("F", 1L, 6L, 7L))
      .toDF("tx_hash", "trace_idx", "token_in_id", "token_out_id")
    val out = graft.domain.InspectorOps.arbTreeOf(legs)
      .select("tx_hash", "arb_type", "jump_index").orderBy("tx_hash").collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(out == Seq(
      ("A", "cross_pair", 1L), ("B", "stablecoin", -1L),
      ("C", "triangle", -1L), ("D", "cross_pair", 1L),
      ("E", "long_tail", -1L)), out)
  }

  test("basket_fill: proportional allocation, quality skip, carry-over, partial clip") {
    // One swap (amount_in = 90) at ts 0; trades in three baskets:
    //  A (post, bord 0): 5×amt-10 trades px 1..5 → vol 50; quality skips
    //    the 3 cheapest (skip = (5-1)*80/100), kept px 4,5 → avail 20
    //  B (post, bord 1): 2×amt-40 at px 1.5, 2.5 → vol 80, both kept
    //  C (pre, bord 1000): 1×amt-50 at px 9 → vol 50, kept
    // total 180 → allocs A=25 B=40 C=25; A fills only 20 → carry 5 into B
    // (to_fill 45: 40 + a 5-unit PARTIAL clip of the px-2.5 trade); C takes
    // a 25-unit partial of its 50-unit trade. Total filled = 90 = amount_in.
    val trades = Seq(
      (1L, "s", 0L, 0L, 1000000L, "ex0", 1.0, 10.0, 90.0),
      (1L, "s", 0L, 0L, 1000000L, "ex0", 2.0, 10.0, 90.0),
      (1L, "s", 0L, 0L, 1000000L, "ex0", 3.0, 10.0, 90.0),
      (1L, "s", 0L, 0L, 1000000L, "ex0", 4.0, 10.0, 90.0),
      (1L, "s", 0L, 0L, 1000000L, "ex0", 5.0, 10.0, 90.0),
      (1L, "s", 0L, 0L, 6000000L, "ex0", 1.5, 40.0, 90.0),
      (1L, "s", 0L, 0L, 6000000L, "ex0", 2.5, 40.0, 90.0),
      (1L, "s", 0L, 0L, -1000000L, "ex0", 9.0, 50.0, 90.0))
      .toDF("block_number", "tx_hash", "trace_idx", "ts_us", "t_ts",
        "exchange", "px", "amt", "amount_in")
    val out = graft.domain.CexOps.basketFills(trades)
      .select("bord", "px", "taken").orderBy("bord", "px").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(out == Seq(
      (0L, 4.0, 10.0), (0L, 5.0, 10.0),
      (1L, 1.5, 40.0), (1L, 2.5, 5.0),
      (1000L, 9.0, 25.0)), out)
  }

  // route pricer frames: swaps (tx, ts, pair_a, pair_b, amount_in) in
  // block 1, trades (ts, pair_a, pair_b, px, amt) on ex0
  private def routeSwapsOf(rows: (String, Long, Long, Long, Double)*): DataFrame =
    rows.map { case (tx, ts, a, b, amt) => (1L, tx, 0L, ts, a, b, amt) }
      .toDF("block_number", "tx_hash", "trace_idx", "ts_us", "pair_a", "pair_b", "amount_in")
  private def routeTradesOf(rows: (Long, Long, Long, Double, Double)*): DataFrame =
    rows.map { case (ts, a, b, px, amt) => ("ex0", ts, a, b, px, amt) }
      .toDF("exchange", "ts_us", "pair_a", "pair_b", "px", "amt")

  test("route pricer, one hop: fallback set, phase escalation, scaled leg-2 requirement") {
    // Pair (0, 9), bridge 5. S1 (t = 100 s, amount_in 10) sees 4 units of
    // direct (0, 9) volume within ±30 s → falls back to the route; S2
    // (t = 400 s, amount_in 3) sees 4 ≥ 3 → covered, never routed, though
    // its legs have ample volume.
    //  leg 1 (0, 5): ±1 s holds 6 < 10 → phase 2 (±5 s, 12 units):
    //    vwam1 = (2·6 + 3·6) / 12 = 2.5
    //  leg 2 (5, 9): requirement 10 · 2.5 = 25. ±1 s holds 12 (px 4), which
    //    would cover the unscaled 10 at 4.0; 25 needs phase 2 (32 units):
    //    vwam2 = (4·12 + 1·20) / 32 = 2.125
    // implied = 2.5 · 2.125 = 5.3125; liq = min(12, 32) = 12
    val s = 1000000L
    val swaps = routeSwapsOf(("S1", 100 * s, 0L, 9L, 10.0), ("S2", 400 * s, 0L, 9L, 3.0))
    val trades = routeTradesOf(
      (100 * s, 0L, 9L, 1.0, 4.0),
      (100 * s + s / 2, 0L, 5L, 2.0, 6.0), (103 * s, 0L, 5L, 3.0, 6.0),
      (100 * s + s / 5, 5L, 9L, 4.0, 12.0), (102 * s, 5L, 9L, 1.0, 20.0),
      (400 * s, 0L, 9L, 1.0, 4.0),
      (400 * s, 0L, 5L, 2.0, 10.0), (400 * s, 5L, 9L, 2.0, 10.0))
    val out = graft.domain.CexOps.routeVwamOf(swaps, trades, 1)
      .select("tx_hash", "x1", "implied", "liq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(out == Seq(("S1", 5L, 5.3125, 12.0)), out)
  }

  test("route pricer, two hops: the larger bottleneck volume wins over the better price") {
    // Pair (20, 29), one unit of direct volume → falls back. Two routes:
    //  20→21→22→29: every leg 100 units at px 1 → implied 1, liq 100
    //  20→23→24→29: every leg 50 units at px 2; requirements 10, 20, 40
    //    all fit → implied 8, liq 50
    val t = 200000000L
    val swaps = routeSwapsOf(("T", t, 20L, 29L, 10.0))
    val trades = routeTradesOf(
      (t, 20L, 29L, 1.0, 1.0),
      (t, 20L, 21L, 1.0, 100.0), (t, 21L, 22L, 1.0, 100.0), (t, 22L, 29L, 1.0, 100.0),
      (t, 20L, 23L, 2.0, 50.0), (t, 23L, 24L, 2.0, 50.0), (t, 24L, 29L, 2.0, 50.0))
    def rows(df: DataFrame) = df.select("x1", "x2", "implied", "liq")
      .orderBy("x1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    val routes = graft.domain.CexOps.routeVwamOf(swaps, trades, 2)
    assert(rows(routes) == Seq((21L, 22L, 1.0, 100.0), (23L, 24L, 8.0, 50.0)), rows(routes))
    val best = rows(graft.domain.CexOps.mostLiquidRoute(routes))
    assert(best == Seq((21L, 22L, 1.0, 100.0)), best)
  }

  // edge-frame rows for the composer matrix:
  // (bid, mev_type, tx, n_txs, profit, arb_type, labeled)
  private def edgesOf(
      rows: (String, String, String, Int, Double, String, Boolean)*): DataFrame =
    rows.toDF("bid", "mev_type", "tx", "n_txs", "profit", "arb_type", "labeled")

  test("composer matrix: pairwise dominance, not a total order") {
    // sandwich and jit SHARE tx s1 — both must survive (no pair between
    // them); the arb sharing a tx with the jit is removed (jit => arb)
    val e = edgesOf(
      ("S", "sandwich", "s1", 2, 10.0, null, false),
      ("S", "sandwich", "s2", 2, 10.0, null, false),
      ("J", "jit", "s1", 2, 0.0, null, false),
      ("A", "arb", "s1", 1, 5.0, null, false),
      ("L", "liquidation", "s2", 1, 0.0, null, false))
    val killed = InspectorOps.matrixCrossKills(e).as[String].collect().toSet
    assert(killed == Set("A"), killed) // sandwich, jit, liquidation coexist
  }

  test("composer matrix: conditional arb->cexdex kill and sequenced reply") {
    // tx t1: non-triangle arb out-earns an unlabeled cexdex -> e1 kills the
    //   cexdex, and the DEAD cexdex cannot kill the arb back (sequencing).
    // tx t2: TRIANGLE arb vs cexdex -> atomic_dedup_fn vetoes e1; the
    //   surviving cexdex then kills the arb (e2).
    // tx t3: arb out-earns a LABELED cexdex -> veto again, arb dies.
    val e = edgesOf(
      ("A1", "arb", "t1", 1, 100.0, "cross_pair", false),
      ("C1", "cexdex", "t1", 1, 1.0, null, false),
      ("A2", "arb", "t2", 1, 100.0, "triangle", false),
      ("C2", "cexdex", "t2", 1, 1.0, null, false),
      ("A3", "arb", "t3", 1, 100.0, "cross_pair", false),
      ("C3", "cexdex", "t3", 1, 1.0, null, true))
    val killed = InspectorOps.matrixCrossKills(e).as[String].collect().toSet
    assert(killed == Set("C1", "A2", "A3"), killed)
  }

  test("composer edge key: a block-straddling sandwich kills its front-block arb under the range key only") {
    // sandwich S: front f in block 9, back b in block 10, so its anchor
    // blk is 10; the arb on f is anchored in block 9. Under the range key
    // (tx) S and the arb share f and sandwich ⇒ arb kills the arb; under
    // the tip's per-block key the edges are 10|f and 9|f, so it survives
    val in = InspectorOps.ComposerInputs.of(
      acts = Seq(("swap", "f")).toDF("action_type", "tx_hash"),
      hdr = Seq(("f", 5.0, "atk", 9L), ("b", 3.0, "atk", 10L))
        .toDF("tx_hash", "profit_usd", "eoa", "block_number"),
      sw = Seq("f", "f").toDF("tx_hash"),
      swTx = swTxOf(),
      brackets = Seq.empty[(Long, String, String, String, Double, Double)]
        .toDF("back_block", "eoa", "front_tx", "back_tx", "back_out", "sum_in"),
      sand = Seq((10L, "f", "b", "P", 120.0, 100.0))
        .toDF("back_block", "front_tx", "back_tx", "pool", "back_out", "sum_in"),
      arbs = Seq(("f", "cross_pair")).toDF("tx_hash", "arb_type"),
      jitp = Seq.empty[(Long, String, String, String, String)]
        .toDF("block_number", "eoa", "tx_hash", "burn_tx", "pool"))
    def survivors(key: Column): Set[(String, Long)] =
      InspectorOps.composerOf(in, key, InspectorOps.NoCut)
        .filter(col("xr").isNull && col("wr").isNull)
        .select("mev_type", "blk").as[(String, Long)].collect().toSet
    assert(survivors(InspectorOps.RangeEdgeKey) == Set(("sandwich", 10L)))
    assert(survivors(InspectorOps.BlockEdgeKey) ==
      Set(("sandwich", 10L), ("arb", 9L)))
  }

  test("v3_tick_boundary: one-ulp prices straddle tick 25 exactly") {
    import graft.streaming.TipStream
    import TipStream.{TickEvent, TickQuote}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    // smallest double whose ⌊√rate·2^96⌋ quantization reaches the tick-25
    // ratio, and its one-ulp predecessor (tick 24) — only the exact
    // integer tick math separates them; a linearized or libm-log
    // coordinate puts both on the same side. Golden outputs cross-checked
    // externally against tools/tickmath_proto.py.
    val rateA = java.lang.Double.parseDouble("0x1.00a4096906978p0")
    val rateB = Math.nextDown(rateA)
    assert(graft.functions.TickMath.tickAtRateOrNull(rateA).intValue == 25)
    assert(graft.functions.TickMath.tickAtRateOrNull(rateB).intValue == 24)
    def run(seed: Double, swap: Double, name: String): TickQuote = {
      val input = MemoryStream[TickEvent]
      val q = TipStream.tickQuotes(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        input.addData(TickEvent(3L, 1L, 0L, 2, 0L, 0L, seed, 1.0))
        input.addData(TickEvent(3L, 1L, 1L, 2, 0L, 0L, swap, 1.0))
        q.processAllAvailable()
        val rows = spark.table(name).as[TickQuote].collect()
        assert(rows.length == 1) // the seed swap has no prior price
        rows.head
      } finally q.stop()
    }
    val a = run(rateA, rateB, "tick_ulp_a") // pre-tick 25 → band cur_t −15
    assert(a.curT == -15L && a.tickMoved && a.nCrossed == 0L)
    assert(a.outMicro == 995435L)
    val b = run(rateB, rateA, "tick_ulp_b") // one ulp down → cur_t −16
    assert(b.curT == -16L && b.tickMoved && b.nCrossed == 0L)
    assert(b.outMicro == 995335L)
  }

  // ── Big Mac multi-frontrun assembly (domain.BigMacOps) ───────────────────

  // per-tx root contract + per-tx profit lookups for bigmacBundlesOf
  private def rootsOf(df: DataFrame): DataFrame =
    df.select(col("block_number"), col("tx_idx"),
      concat(lit("r_"), col("tx_hash")).as("root_to")).distinct()
  private val noProfit =
    Seq(("none", 0.0)).toDF("tx_hash", "profit_usd").limit(0)

  test("big_mac: a 3-frontrun ladder assembles into ONE bundle, not brackets") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "v2", "vicB", "P", 0L, 7L, 8L, 3.0, 2.6),
      (1L, 3L, "f2", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 4L, "v3", "vicC", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 6L, "f3", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 7L, "v4", "vicD", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 9L, "bk", "atk", "P", 1L, 8L, 7L, 27.0, 33.0))
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, rootsOf(df), noProfit).collect()
    // the reference's test_big_mac_sandwich shape: one bundle with the
    // full frontrun stack and per-gap victims — NOT three 2-tx brackets
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[Long]("n_frontruns") == 3L)
    assert(r.getAs[Long]("n_victim_txs") == 4L)
    assert(r.getAs[Long]("front_idx") == 0L && r.getAs[Long]("back_idx") == 9L)
    assert(r.getAs[String]("key_type") == "eoa")
    assert(r.getAs[Long]("drops_front") == 0L && r.getAs[Long]("drops_back") == 0L)
  }

  test("big_mac back-shrink POPS the last frontrun and promotes it to backrun") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "f2", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 3L, "v2", "vicB", "Q", 0L, 7L, 8L, 5.0, 4.4), // no pool overlap
      (1L, 5L, "bk", "atk", "P", 1L, 8L, 7L, 18.0, 22.0))
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, rootsOf(df), noProfit).collect()
    // full chain fails on the Q-only gap; the back-shrink's bundle reports
    // the POPPED frontrun f2 (tx 2) as its backrun — an actual boundary
    // tx, unlike the halved-ord divergence sandwichesOf documents
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[Long]("front_idx") == 0L && r.getAs[Long]("back_idx") == 2L)
    assert(r.getAs[Long]("n_frontruns") == 1L)
    assert(r.getAs[Long]("drops_back") == 1L && r.getAs[Long]("drops_front") == 0L)
  }

  test("big_mac duplicate-CONTRACT keying catches a multi-EOA bundle") {
    val df = swTxOf(
      (1L, 0L, "f1", "eoaA", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "bk", "eoaB", "P", 1L, 8L, 7L, 9.0, 11.0))
    val roots = df.select(col("block_number"), col("tx_idx"),
      when(col("eoa").startsWith("eoa"), lit("C"))
        .otherwise(concat(lit("r_"), col("tx_hash"))).as("root_to")).distinct()
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit).collect()
    assert(out.length == 1, out.mkString("; "))
    val r = out.head
    assert(r.getAs[String]("key_type") == "contract")
    assert(r.getAs[String]("eoa") == "eoaA") // the first caller's EOA
    assert(r.getAs[String]("contract") == "C")
  }

  test("big_mac_not: a gap victim calling the mev contract kills the candidate") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    // the victim's root call targets the chain's mev contract (= the root
    // of the segment's second tx) -> get_victim_swap_transfer nullifies
    val roots = df.select(col("block_number"), col("tx_idx"),
      when(col("tx_hash") === "v1", lit("r_bk"))
        .otherwise(concat(lit("r_"), col("tx_hash"))).as("root_to")).distinct()
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit)
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  // transfer legs with endpoints (NormalizedTransfer {from, to}): the
  // production entry derives them from (direction, counterparty) — the
  // same mapping here keeps goldens at the production grain
  private def tfOf(rows: (Long, Long, String, Long, Long, String)*): DataFrame =
    rows.map { case (b, tx, eoa, tok, dir, cp) =>
      if (dir == 0L) (b, tx, eoa, tok, eoa, cp) else (b, tx, eoa, tok, cp, eoa)
    }.toDF("block_number", "tx_idx", "eoa", "token", "t_from", "t_to")

  test("big_mac: a transfer-only victim flips a dead candidate live via token overlap") {
    // the only swap victim trades an unrelated pool AND tokens (dead:
    // no pool reach, no token reach — n_was 0). The transfer-only tx "tv"
    // never swaps, but sends token 7 TO the pool P that the searcher
    // swaps on both sides: the victim's (7, P) `to`-probe front-matches
    // f1's (tok_in=7, P, TRUE) entry and back-matches bk's (tok_out=7, P,
    // FALSE) entry → the token-overlap arm victimizes its EOA, both-sided
    // (has_sandwich): n_was 1 of n_veoas 2 → live
    // (get_victim_swap_transfer + check_for_overlap tokens arm)
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf((1L, 2L, "vicT", 7L, 0L, "P"))
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val dead = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit).collect()
    assert(dead.isEmpty, dead.mkString("; ")) // without the fallback: dead
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("front_idx") == 0L)
    assert(out.head.getAs[Long]("back_idx") == 3L)
  }

  test("big_mac: a generated COUNTERPARTY pool flips a victim live (root ≠ counterparty)") {
    // the swap victim trades unrelated pool Q / tokens 20,21 (dead on the
    // pool and token arms). The transfer-only tx "tv" has EXACTLY two
    // legs sharing the counterparty P, different tokens (30,31 — outside
    // the searcher's token set), opposite directions →
    // generate_possible_pools_from_transfers infers P as an unclassified
    // pool AT COUNTERPARTY GRAIN — the tx's root contract is r_tv, NOT P,
    // so root-grain inference would stay dead. P is the searcher's pool
    // on BOTH sides (front∩back → has_sandwich) → vicT victimized:
    // n_was 1 of n_veoas 2 → live
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf((1L, 2L, "vicT", 30L, 0L, "P"), (1L, 2L, "vicT", 31L, 1L, "P"))
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val dead = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit).collect()
    assert(dead.isEmpty, dead.mkString("; "))
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("front_idx") == 0L)
    assert(out.head.getAs[Long]("back_idx") == 3L)
  }

  test("big_mac: back-side inference FLATTENS suffix legs — a counterparty split across two txs infers") {
    // collect_backrun_data (mod.rs:784-800) pools the legs of the
    // remaining frontruns + backrun into ONE multiset before inferring.
    // Searcher legs at counterparty C: ONE leg in f2's tx, ONE in bk's —
    // no single tx has two, so per-tx inference never finds C, but the
    // flattened [g+1, j+1] window does. Gap 1 holds 5 victim EOAs:
    // vicA (strong pool reach), 3 dead swaps, and vicG whose generated
    // pool is C — per-tx C fails (1/5 < 25% → the full range dies, only
    // the front-dropped child emits); flattened C reaches (2/5 ≥ 25% →
    // the FULL range verifies, drops_front 0).
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "d1", "dA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "d2", "dB", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 4L, "d3", "dC", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 6L, "f2", "atk", "P", 0L, 7L, 8L, 11.0, 9.8),
      (1L, 7L, "v2", "vicB", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 8L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf(
      (1L, 5L, "vicG", 30L, 0L, "CP1"), (1L, 5L, "vicG", 31L, 1L, "CP1"),
      (1L, 6L, "atk", 40L, 0L, "CP1"), // one C leg in f2's tx
      (1L, 8L, "atk", 41L, 1L, "CP1")) // one C leg in bk's tx
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_d1"),
      (1L, 3L, "r_d2"), (1L, 4L, "r_d3"), (1L, 5L, "r_g"), (1L, 6L, "r_f2"),
      (1L, 7L, "r_v2"), (1L, 8L, "r_bk"))
      .toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("front_idx") == 0L, out.head.toString)
    assert(out.head.getAs[Long]("back_idx") == 8L)
    assert(out.head.getAs[Long]("drops_front") == 0L,
      "per-tx back inference would have dropped f1 (front 6); the " +
        "flattened window must keep the full range")
  }

  test("big_mac: a third suffix leg at the counterparty blocks the flattened inference") {
    // the same shape, but f2's tx carries EXACTLY TWO legs at C and bk a
    // THIRD: per-tx inference would accept f2's pair and verify the full
    // range; the reference's flattened [g+1, j+1] multiset counts 3 legs
    // → C is NOT a back pool there (mod.rs:827-830). The full range dies
    // and the recursion emits the two shrink children instead — the
    // back-dropped [1,1] heals because ITS window is f2's tx alone
    // (exactly 2 legs again), the front-dropped [2,2] passes on vicB.
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "d1", "dA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "d2", "dB", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 4L, "d3", "dC", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 6L, "f2", "atk", "P", 0L, 7L, 8L, 11.0, 9.8),
      (1L, 7L, "v2", "vicB", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 8L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf(
      (1L, 5L, "vicG", 30L, 0L, "CP1"), (1L, 5L, "vicG", 31L, 1L, "CP1"),
      (1L, 6L, "atk", 40L, 0L, "CP1"), (1L, 6L, "atk", 41L, 1L, "CP1"),
      (1L, 8L, "atk", 42L, 0L, "CP1")) // the pile-up third leg
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_d1"),
      (1L, 3L, "r_d2"), (1L, 4L, "r_d3"), (1L, 5L, "r_g"), (1L, 6L, "r_f2"),
      (1L, 7L, "r_v2"), (1L, 8L, "r_bk"))
      .toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
      .sortBy(_.getAs[Long]("front_idx"))
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getAs[Long]("front_idx") == 0L &&
      out(0).getAs[Long]("back_idx") == 6L &&
      out(0).getAs[Long]("drops_back") == 1L, out(0).toString)
    assert(out(1).getAs[Long]("front_idx") == 6L &&
      out(1).getAs[Long]("back_idx") == 8L &&
      out(1).getAs[Long]("drops_front") == 1L, out(1).toString)
  }

  test("big_mac_not: one transfer leg, same tokens, or same direction never infers a pool") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 5L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    // three gap txs, each failing ONE of the exactly-2 / diff-token /
    // differing-`to` requirements (mod.rs:827-836) at counterparty grain
    val tf = tfOf(
      (1L, 2L, "t1", 30L, 0L, "P"), // one leg only
      (1L, 3L, "t2", 30L, 0L, "P"), (1L, 3L, "t2", 30L, 1L, "P"), // same token
      (1L, 4L, "t3", 30L, 0L, "P"), (1L, 4L, "t3", 31L, 0L, "P")) // both legs TO P
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_t1"),
      (1L, 3L, "r_t2"), (1L, 4L, "r_t3"), (1L, 5L, "r_bk"))
      .toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  test("big_mac_not: a transfer-only victim calling the mev contract still kills") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf((1L, 2L, "vicT", 7L, 0L, "P"))
    // the transfer-only tx's root call targets the chain's mev contract
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_bk"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  test("big_mac_not: a gap whose only victim is a ONE-SIDED generated reach fails has_sandwich") {
    // verify_sandwich_victims (mod.rs:644-697): the per-gap verdict needs
    // victim_pct >= 0.25 AND has_sandwich, where has_sandwich is raised
    // only by a BOTH-sided pool/token overlap or a generated pool in the
    // front∩back searcher pool intersection. tv's inferred pool P is
    // traded by the searcher on the FRONT side only (bk swaps R) — it
    // victimizes tv (mod.rs:678-684 tests either side) but does NOT raise
    // has_sandwich, and no other victim does → the gap fails.
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "R", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf((1L, 2L, "vicT", 30L, 0L, "P"), (1L, 2L, "vicT", 31L, 1L, "P"))
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  test("big_mac: a one-sided generated victim still counts toward victim_pct when a strong victim coexists") {
    // f1 swaps pools P and X; bk swaps P only. vicB (pool P) overlaps
    // both sides → has_sandwich. tv's inferred pool X reaches the front
    // only → was_victim but not strong (mod.rs:678-691). Six dead swap
    // victims push n_veoas to 8, so the >= 25% gate needs BOTH vicB and
    // tv counted (2·4 >= 8) — dropping tv's one-sided credit would kill
    // the bundle.
    val deadVics = (2L to 7L).map(i =>
      (1L, i, s"v$i", s"vic$i", "Q", 0L, 20L, 21L, 5.0, 4.2))
    val df = swTxOf(Seq(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 0L, "f1", "atk", "X", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicB", "P", 0L, 7L, 8L, 5.0, 4.4)) ++ deadVics ++ Seq(
      (1L, 9L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0)): _*)
    val tf = tfOf((1L, 8L, "vicT", 30L, 0L, "X"), (1L, 8L, "vicT", 31L, 1L, "X"))
    val roots = (Seq(0L -> "r_f1", 1L -> "r_v1", 8L -> "r_tv", 9L -> "r_bk") ++
      (2L to 7L).map(i => i -> s"r_v$i"))
      .map { case (tx, r) => (1L, tx, r) }
      .toDF("block_number", "tx_idx", "root_to")
    val dead = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit).collect()
    assert(dead.isEmpty, dead.mkString("; ")) // vicB alone: 1·4 < 8
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("front_idx") == 0L)
    assert(out.head.getAs[Long]("back_idx") == 9L)
  }

  test("big_mac_not: a BLACK-LISTED counterparty (frontrun accounting address) is never inferred") {
    // the frontrun's root contract IS its pool P (an EOA calling the pool
    // directly), so the segment's black list (mod.rs:152-153 —
    // collect_address_set_for_accounting over the frontruns) holds
    // {atk, P}. tv's two legs share counterparty P, which WOULD infer P —
    // a both-sided searcher pool — but the black list excludes it
    // (mod.rs:827-830) → no victim, no bundle. The sibling golden above
    // (root r_f1 ≠ P) is the unblacklisted control that DOES emit.
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val tf = tfOf((1L, 2L, "vicT", 30L, 0L, "P"), (1L, 2L, "vicT", 31L, 1L, "P"))
    val roots = Seq((1L, 0L, "P"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  test("big_mac: a searcher TRANSFER leg victimizes through token overlap (generate_tokens)") {
    // the searcher's frontrun leg is a TRANSFER, not a swap: f1 sends
    // token 9 to counterparty A (entry (9, A, TRUE)), bk receives token 9
    // from A (entry (9, A, FALSE)). The victim sends token 9 TO A: its
    // (9, A) `to`-probe front-matches the TRUE entry and back-matches the
    // FALSE one → both-sided token overlap (generate_tokens
    // mod.rs:803-817 + check_for_overlap :725-740). Without the searcher
    // transfer legs the searcher token set is {7,8} only → dead.
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val tfVictimOnly = tfOf((1L, 2L, "vicT", 9L, 0L, "A"))
    val dead = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tfVictimOnly))
      .filter(col("key_type") === "eoa").collect()
    assert(dead.isEmpty, dead.mkString("; "))
    val tfFull = tfOf(
      (1L, 0L, "atk", 9L, 0L, "A"), // searcher frontrun transfer leg
      (1L, 2L, "vicT", 9L, 0L, "A"),
      (1L, 3L, "atk", 9L, 1L, "A")) // searcher backrun transfer leg
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tfFull))
      .filter(col("key_type") === "eoa").collect()
    assert(out.length == 1, out.mkString("; "))
    assert(out.head.getAs[Long]("front_idx") == 0L)
    assert(out.head.getAs[Long]("back_idx") == 3L)
  }

  test("big_mac_not: a reversed victim leg fails the token-overlap direction flags") {
    // same shape as above but the victim RECEIVES token 9 from A — its
    // probes are (9, vicT, to) and (9, A, from); the (9, A) from-probe
    // needs a FALSE entry on the front (searcher has TRUE there) and a
    // TRUE entry on the back (searcher has FALSE) → no match either side
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "Q", 0L, 20L, 21L, 5.0, 4.2),
      (1L, 3L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val roots = Seq((1L, 0L, "r_f1"), (1L, 1L, "r_v1"), (1L, 2L, "r_tv"),
      (1L, 3L, "r_bk")).toDF("block_number", "tx_idx", "root_to")
    val tf = tfOf(
      (1L, 0L, "atk", 9L, 0L, "A"),
      (1L, 2L, "vicT", 9L, 1L, "A"), // reversed: A → vicT
      (1L, 3L, "atk", 9L, 1L, "A"))
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, roots, noProfit, Some(tf))
      .filter(col("key_type") === "eoa").collect()
    assert(out.isEmpty, out.mkString("; "))
  }

  test("big_mac partition_into_gaps: an EMPTY gap splits the chain in two") {
    val df = swTxOf(
      (1L, 0L, "f1", "atk", "P", 0L, 7L, 8L, 10.0, 9.0),
      (1L, 1L, "v1", "vicA", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 2L, "m1", "atk", "P", 1L, 8L, 7L, 9.0, 11.0),
      (1L, 3L, "m2", "atk", "P", 0L, 7L, 8L, 10.0, 9.0), // empty gap m1->m2
      (1L, 4L, "v2", "vicB", "P", 0L, 7L, 8L, 5.0, 4.4),
      (1L, 5L, "bk", "atk", "P", 1L, 8L, 7L, 9.0, 11.0))
    val out = graft.domain.BigMacOps
      .bigmacBundlesOf(df, rootsOf(df), noProfit)
      .orderBy("front_idx").collect()
    // two segments: (f1 -> m1) around v1, (m2 -> bk) around v2
    assert(out.length == 2, out.mkString("; "))
    assert(out(0).getAs[Long]("front_idx") == 0L && out(0).getAs[Long]("back_idx") == 2L)
    assert(out(1).getAs[Long]("front_idx") == 3L && out(1).getAs[Long]("back_idx") == 5L)
  }

  // actions-shaped mint/burn rows for the JIT core
  // (jit/jit_liquidity.rs:701-803's planted-block battery):
  // (block, tx_idx, trace_idx, action_type, eoa, pool, tok_in, tok_out, in, out)
  private def mbOf(
      rows: (Long, Long, Long, String, String, String, Long, Long, Double, Double)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "trace_idx", "action_type",
      "from_address", "pool", "token_in_id", "token_out_id",
      "amount_in", "amount_out")

  test("only_jit: mint → victim swaps → burn brackets with counted victims") {
    val mb = mbOf(
      (1L, 1L, 0L, "mint", "jitter", "P", 3L, 4L, 100.0, 200.0),
      (1L, 5L, 0L, "burn", "jitter", "P", 3L, 4L, 110.0, 220.0))
    val v = swTxOf(
      (1L, 2L, "v1", "vicA", "P", 0L, 3L, 4L, 10.0, 9.0),
      (1L, 3L, "v2", "vicB", "P", 0L, 3L, 4L, 10.0, 9.0))
    val out = InspectorOps.jitBracketsOf(mb, v).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("n_victims") == 2)
    // fee-delta: (110−100)·price(3) + (220−200)·price(4) = 10·1.3 + 20·1.4
    assert(math.abs(out.head.getAs[Double]("fee_usd") - 41.0) < 1e-9)
  }

  test("misclassified_jit: a bracket with no victim swap inside is not JIT") {
    val mb = mbOf(
      (1L, 1L, 0L, "mint", "jitter", "P", 3L, 4L, 100.0, 200.0),
      (1L, 2L, 0L, "burn", "jitter", "P", 3L, 4L, 110.0, 220.0)) // adjacent
    val v = swTxOf(
      (1L, 3L, "v1", "vicA", "P", 0L, 3L, 4L, 10.0, 9.0), // after the burn
      (1L, 0L, "v2", "vicB", "Q", 0L, 3L, 4L, 10.0, 9.0)) // other pool
    assert(InspectorOps.jitBracketsOf(mb, v).count() == 0)
  }

  test("misclassified_jit2: burn before mint never brackets") {
    val mb = mbOf(
      (1L, 1L, 0L, "burn", "jitter", "P", 3L, 4L, 110.0, 220.0),
      (1L, 5L, 0L, "mint", "jitter", "P", 3L, 4L, 100.0, 200.0))
    val v = swTxOf(
      (1L, 3L, "v1", "vicA", "P", 0L, 3L, 4L, 10.0, 9.0)) // between, in vain
    assert(InspectorOps.jitBracketsOf(mb, v).count() == 0)
  }

  test("jit_not: the searcher's own swap inside the bracket is not a victim") {
    val mb = mbOf(
      (1L, 1L, 0L, "mint", "jitter", "P", 3L, 4L, 100.0, 200.0),
      (1L, 5L, 0L, "burn", "jitter", "P", 3L, 4L, 110.0, 220.0))
    val v = swTxOf(
      (1L, 3L, "sw", "jitter", "P", 0L, 3L, 4L, 10.0, 9.0)) // self-swap
    assert(InspectorOps.jitBracketsOf(mb, v).count() == 0)
  }

  // leg-aggregate rows for the cex-dex validity gate
  // (cex_dex/markout.rs:639-725's filter_possible_cex_dex battery):
  // (pv_mk, pv_tk, v, rate, amount_in, pair_a, pair_b,
  //  n_ex_maker_pos, n_ex_taker_pos, best_tk_pnl, best_tk_ex, n_hist, s_eoa)
  private def legsOf(
      rows: (Double, Double, Double, Double, Double, Long, Long,
        Long, Long, Double, String, Long, String)*): DataFrame =
    rows.toDF("pv_mk", "pv_tk", "v", "rate", "amount_in", "pair_a", "pair_b",
      "n_ex_maker_pos", "n_ex_taker_pos", "best_tk_pnl", "best_tk_ex",
      "n_hist", "s_eoa")

  private def armsOf(df: DataFrame) =
    graft.domain.CexOps.cexDexValidityArms(df).collect().head

  test("cex_dex validity: a profitable maker leg passes on the pnl arm alone") {
    val r = armsOf(legsOf(
      (1.1, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 0L, null)))
    assert(r.getAs[Boolean]("arm_pnl") && r.getAs[Boolean]("is_valid"))
    assert(!r.getAs[Boolean]("arm_hist") && !r.getAs[Boolean]("arm_one_ex") &&
      !r.getAs[Boolean]("arm_outlier"))
    // pnl_maker = (1.1 − 1.0) · 10 · price(7) = 1 · 1.7
    assert(math.abs(r.getAs[Double]("pnl_maker") - 1.7) < 1e-9)
  }

  test("cex_dex_not: a losing leg with no history or venue signal is invalid") {
    val r = armsOf(legsOf(
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 0L, null)))
    assert(!r.getAs[Boolean]("is_valid"))
  }

  test("eoa_cex_dex: a labeled searcher validates a losing leg (hist arm)") {
    val r = armsOf(legsOf(
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 0L, "s1")))
    assert(r.getAs[Boolean]("arm_hist") && r.getAs[Boolean]("is_valid"))
    val h = armsOf(legsOf( // 41 prior mev txs validate the same leg
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 41L, null)))
    assert(h.getAs[Boolean]("arm_hist") && h.getAs[Boolean]("is_valid"))
  }

  test("multi_exchange arm: losing globally but priced off 2 venues is real") {
    val r = armsOf(legsOf(
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 2L, 0L, 0.0, "ex1", 0L, null)))
    assert(r.getAs[Boolean]("arm_pnl") && r.getAs[Boolean]("is_valid"))
  }

  test("one_ex and outlier arms fire on a lone venue — unless the pair is stable") {
    val r = armsOf(legsOf(
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 1L, 600.0, "ex3", 0L, null)))
    assert(r.getAs[Boolean]("arm_one_ex") && r.getAs[Boolean]("arm_outlier") &&
      r.getAs[Boolean]("is_valid"))
    val st = armsOf(legsOf( // same signal on a stable-stable pair: suppressed
      (0.9, 0.9, 1.0, 1.0, 10.0, 1L, 2L, 0L, 1L, 600.0, "ex3", 0L, null)))
    assert(!st.getAs[Boolean]("arm_one_ex") && !st.getAs[Boolean]("arm_outlier") &&
      !st.getAs[Boolean]("is_valid"))
    val nx = armsOf(legsOf( // high profit on a NON-outlier venue: one_ex only
      (0.9, 0.9, 1.0, 1.0, 10.0, 7L, 8L, 0L, 1L, 600.0, "ex1", 0L, null)))
    assert(nx.getAs[Boolean]("arm_one_ex") && !nx.getAs[Boolean]("arm_outlier"))
  }

  test("markout_bad_price: the max_arb_delta clamp is tiered by searcher label") {
    // cex_out = 2, dex_out = 10 — a 5× spread fails the base ×3 clamp but
    // passes a labeled searcher's ×10 tier (pnl_maker < 5)
    val unlabeled = armsOf(legsOf(
      (0.2, 0.2, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 0L, null)))
    assert(!unlabeled.getAs[Boolean]("passes_sanity"))
    val labeled = armsOf(legsOf(
      (0.2, 0.2, 1.0, 1.0, 10.0, 7L, 8L, 0L, 0L, 0.0, "ex1", 0L, "s1")))
    assert(labeled.getAs[Boolean]("passes_sanity"))
  }

  test("multihop_jit: one EOA bracketing two pools yields two brackets") {
    val mb = mbOf(
      (1L, 1L, 0L, "mint", "jitter", "P", 3L, 4L, 100.0, 200.0),
      (1L, 1L, 1L, "mint", "jitter", "Q", 5L, 6L, 50.0, 60.0),
      (1L, 5L, 0L, "burn", "jitter", "P", 3L, 4L, 110.0, 220.0),
      (1L, 5L, 1L, "burn", "jitter", "Q", 5L, 6L, 55.0, 66.0))
    val v = swTxOf(
      (1L, 2L, "v1", "vicA", "P", 0L, 3L, 4L, 10.0, 9.0),
      (1L, 3L, "v2", "vicB", "Q", 0L, 5L, 6L, 10.0, 9.0))
    val out = InspectorOps.jitBracketsOf(mb, v).orderBy("pool").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("pool")).toSeq == Seq("P", "Q"))
    assert(out.forall(_.getAs[Long]("n_victims") == 1L))
  }

  // actions-shaped rows for the liquidation / searcher-tx bundle cores
  // (liquidations.rs:76-156, searcher_activity.rs:54-138):
  // (tx_hash, action_type, amount_in, amount_out, tok_in, tok_out,
  //  dec_in, dec_out) — a None decimal marks the token unpriceable (C9)
  private def bundleActsOf(
      rows: (String, String, Double, Double, Option[Long], Option[Long],
        Option[Int], Option[Int])*): DataFrame =
    rows.toDF("tx_hash", "action_type", "amount_in", "amount_out",
      "token_in_id", "token_out_id", "dec_in", "dec_out")

  // A3-header-shaped rows: (tx_hash, block, eoa, revenue_usd, gas_usd)
  private def headersOf(
      rows: (String, Long, String, Double, Double)*): DataFrame =
    rows.toDF("tx_hash", "block_number", "eoa", "revenue_usd", "gas_usd")

  private def liqOf(acts: DataFrame, hdr: DataFrame) =
    InspectorOps.liquidationBundlesOf(acts, hdr).collect()

  // actions-shaped rows for the C5 liquidation stitch:
  // (tx, trace_idx, action_type, trace_address, direction, tok_in, tok_out,
  //  amount_in, amount_out)
  private def liqActsOf(rows: (String, Long, String, Seq[Long], Long,
      Option[Long], Option[Long], Option[Double], Option[Double])*): DataFrame =
    rows.toDF("tx_hash", "trace_idx", "action_type", "trace_address",
        "direction", "token_in_id", "token_out_id", "amount_in", "amount_out")
      .withColumn("block_number", lit(1L))
      .withColumn("protocol", lit("aave"))
      .withColumn("from_address", lit("liquidator"))

  test("c5 stitch: the LAST liquidator-bound child transfer fills a NULL collateral") {
    val out = graft.domain.ClassifyOps.stitchedLiquidations(liqActsOf(
      // liq root whose collateral decode is NULL (unknown token — the
      // amounts-only-in-child-frames case the arm exists for)
      ("t1", 0L, "liquidation", Seq(0L), 0L, Some(3L), None, Some(500.0), None),
      ("t1", 1L, "transfer", Seq(0L, 1L), 1L, Some(8L), None, Some(123.456), None),
      // parse_v2_v3's find_map closure always returns None (aave.rs:44-57),
      // so it never short-circuits: every matching transfer overwrites and
      // the LATER direction-1 transfer wins (last-write-wins)
      ("t1", 2L, "transfer", Seq(0L, 2L), 1L, Some(9L), None, Some(999.0), None)))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Boolean]("stitched"))
    assert(r.getAs[Double]("liquidated_collateral") == 999.0)
    assert(r.getAs[Long]("coll_tok_eff") == 9L)
  }

  test("c5 stitch: the harvested transfer OVERWRITES a decoded collateral (aToken case)") {
    val out = graft.domain.ClassifyOps.stitchedLiquidations(liqActsOf(
      ("t3", 0L, "liquidation", Seq(0L), 0L, Some(3L), Some(4L), Some(10.0), Some(20.0)),
      ("t3", 1L, "transfer", Seq(0L, 1L), 1L, Some(9L), None, Some(55.0), None)))
      .collect()
    assert(out.length == 1)
    // aave.rs:48-51: the transfer amount replaces the decode unconditionally
    assert(out.head.getAs[Double]("liquidated_collateral") == 55.0)
    assert(out.head.getAs[Long]("coll_tok_eff") == 9L)
  }

  test("c5 stitch_not: no liquidator-bound child leaves the decode untouched") {
    val out = graft.domain.ClassifyOps.stitchedLiquidations(liqActsOf(
      ("t2", 0L, "liquidation", Seq(0L), 0L, Some(3L), Some(4L), Some(10.0), Some(20.0)),
      // direction-0 child (inbound) is not a liquidator-bound leg
      ("t2", 1L, "transfer", Seq(0L, 1L), 0L, Some(9L), None, Some(77.0), None),
      // a transfer in ANOTHER span never harvests into this frame
      ("t2", 2L, "transfer", Seq(5L, 1L), 1L, Some(9L), None, Some(88.0), None)))
      .collect()
    assert(out.length == 1)
    assert(!out.head.getAs[Boolean]("stitched"))
    assert(out.head.getAs[Double]("liquidated_collateral") == 20.0)
    assert(out.head.getAs[Long]("coll_tok_eff") == 4L)
  }

  test("aave_liquidation: a priced liq tx yields one bundle, profit = rev − gas") {
    val out = liqOf(
      bundleActsOf(
        ("L", "liquidation", 10.0, 9.0, Some(3L), Some(4L), Some(18), Some(18)),
        ("L", "swap", 5.0, 4.5, Some(3L), Some(4L), Some(18), Some(18)),
        ("L", "swap", 2.0, 1.8, Some(4L), Some(3L), Some(18), Some(18))),
      headersOf(("L", 7L, "liquidator", 2865.5, 2793.9)))
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_liq") == 1 && r.getAs[Long]("n_liq_swaps") == 2)
    assert(math.abs(r.getAs[Double]("profit_usd") - 71.6) < 1e-9)
    assert(r.getAs[Int]("has_dex_price") == 1)
  }

  test("liquidation_not: a tx with swaps but no liquidation event is no bundle") {
    val out = liqOf(
      bundleActsOf(("S", "swap", 5.0, 4.5, Some(3L), Some(4L), Some(18), Some(18))),
      headersOf(("S", 7L, "eoa1", 100.0, 1.0)))
    assert(out.isEmpty) // liquidations.rs:87-90: liqs.is_empty() → None
  }

  test("liquidation unpriced: an unknown-decimals token zeroes the profit") {
    val out = liqOf(
      bundleActsOf(
        ("L", "liquidation", 10.0, 9.0, Some(3L), Some(40L), Some(18), None)),
      headersOf(("L", 7L, "liquidator", 500.0, 10.0)))
    assert(out.length == 1) // the bundle still emits (rev falls to Zero)…
    assert(out.head.getAs[Double]("profit_usd") == 0.0) // …but unpriced
    assert(out.head.getAs[Int]("has_dex_price") == 0)
  }

  test("profit clamp: |profit| at or past 15M is a pricing artifact → zeroed") {
    def one(rev: Double, gas: Double) = liqOf(
      bundleActsOf(("L", "liquidation", 1.0, 1.0, Some(3L), Some(4L), Some(18), Some(18))),
      headersOf(("L", 7L, "e", rev, gas))).head
    val hi = one(2.0e7, 100.0) // ≥ MAX_PROFIT (mod.rs:12)
    assert(hi.getAs[Double]("profit_usd") == 0.0 && hi.getAs[Int]("has_dex_price") == 0)
    val lo = one(-1.6e7, 100.0) // ≤ MIN_PROFIT (mod.rs:13)
    assert(lo.getAs[Double]("profit_usd") == 0.0 && lo.getAs[Int]("has_dex_price") == 0)
    val edge = one(1.5e7, 0.0) // boundary inclusive: >= zeroes
    assert(edge.getAs[Double]("profit_usd") == 0.0 && edge.getAs[Int]("has_dex_price") == 0)
    val under = one(1.5e7 - 1.0, 0.0) // one dollar inside survives
    assert(under.getAs[Double]("profit_usd") == 1.5e7 - 1.0 &&
      under.getAs[Int]("has_dex_price") == 1)
  }

  test("searcher_tx: only labeled EOAs with transfers emit bundles") {
    val acts = bundleActsOf(
      ("T1", "transfer", 5.0, 5.0, Some(3L), None, Some(18), None),
      ("T1", "transfer", 2.0, 2.0, Some(4L), None, Some(18), None),
      ("T2", "transfer", 5.0, 5.0, Some(3L), None, Some(18), None),
      ("T3", "swap", 5.0, 4.5, Some(3L), Some(4L), Some(18), Some(18)))
    val hdr = headersOf(
      ("T1", 7L, "searcher1", 120.0, 20.0), // labeled + transfers → bundle
      ("T2", 7L, "normie", 120.0, 20.0), //    unlabeled → dropped
      ("T3", 7L, "searcher1", 120.0, 20.0)) // no transfers → dropped
    val out = InspectorOps.searcherTxOf(acts, hdr,
      Seq("searcher1").toDF("s_eoa")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("tx_hash") == "T1" && r.getAs[Long]("n_transfers") == 2)
    assert(math.abs(r.getAs[Double]("profit_usd") - 100.0) < 1e-9)
    assert(r.getAs[Int]("has_dex_price") == 1)
  }

  // per-tx discovery rows (discovery.rs:33-74):
  // (block, tx_idx, tx_hash, priority_fee, is_private, coinbase_transfer)
  private def pmTxOf(rows: (Long, Long, String, Long, Int, Int)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "tx_hash", "priority_fee",
      "is_private", "coinbase_transfer")

  private val noClaims = Seq.empty[String].toDF("tx_hash")

  test("possible_mev: a 2-sigma priority-fee outlier triggers discovery") {
    // 7 zero-fee txs + one at 70: mean 8.75, population sd 23.15,
    // threshold 55.05 — only the outlier crosses it
    val txs = pmTxOf((0L to 6L).map(i => (1L, i, s"t$i", 0L, 0, 0)) :+
      (1L, 7L, "mev", 70L, 0, 0): _*)
    val out = InspectorOps.possibleMevOf(txs, noClaims).collect()
    assert(out.map(_.getAs[String]("tx_hash")).toSeq == Seq("mev"))
    assert(out.head.getAs[Int]("high_priority_fee") == 1)
  }

  test("possible_mev: a coinbase transfer triggers regardless of fee") {
    val txs = pmTxOf(
      (1L, 0L, "bribe", 0L, 0, 1), // zero fee, paid the builder directly
      (1L, 1L, "t1", 10L, 0, 0),
      (1L, 2L, "t2", 10L, 0, 0))
    val out = InspectorOps.possibleMevOf(txs, noClaims).collect()
    assert(out.map(_.getAs[String]("tx_hash")).toSeq == Seq("bribe"))
    assert(out.head.getAs[Int]("high_priority_fee") == 0)
  }

  test("possible_mev_not: private alone never triggers (was_triggered)") {
    // mev/block.rs:350-354: coinbase || high fee — is_private is a
    // reported flag, not a trigger
    val txs = pmTxOf(
      (1L, 0L, "priv", 10L, 1, 0),
      (1L, 1L, "t1", 10L, 0, 0))
    assert(InspectorOps.possibleMevOf(txs, noClaims).count() == 0)
  }

  test("possible_mev_not: a flat-fee block has no outliers") {
    val txs = pmTxOf((0L to 4L).map(i => (1L, i, s"t$i", 100L, 0, 0)): _*)
    assert(InspectorOps.possibleMevOf(txs, noClaims).count() == 0)
  }

  test("possible_mev: bundle-claimed txs are removed from the collection") {
    // composer/mod.rs:118-127: every classified bundle's tx hashes drop
    val txs = pmTxOf(
      (1L, 0L, "claimed", 0L, 0, 1),
      (1L, 1L, "free", 0L, 1, 1),
      (1L, 2L, "t2", 5L, 0, 0))
    val out = InspectorOps.possibleMevOf(txs,
      Seq("claimed").toDF("tx_hash")).collect()
    assert(out.map(_.getAs[String]("tx_hash")).toSeq == Seq("free"))
    assert(out.head.getAs[Int]("is_private") == 1) // flag reported through
  }

  // builder-PnL shapes (composer/utils.rs:199-443)
  private def bpTxOf(rows: (Long, Long, String, Long, Long, Long)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "eoa", "gas_used", "priority_fee",
      "coinbase_value")
  private def bpXferOf(rows: (Long, Long, String, String, Long, Int)*): DataFrame =
    rows.toDF("block_number", "tx_idx", "from_address", "to_address", "value",
      "is_root")
  private def bpMetaOf(rows: (Long, String, String, Long, Option[String])*): DataFrame =
    rows.toDF("block_number", "beneficiary", "proposer_recipient",
      "fallback_reward", "collateral")
  private def bpBundlesOf(rows: (Long, String, Double, Double, String)*): DataFrame =
    rows.toDF("block_number", "eoa", "profit_usd", "gas_paid", "mev_type")
  private val noXfers = bpXferOf()
  private val noBundles = bpBundlesOf()
  private val noOwned = Seq.empty[(String, String)].toDF("builder_addr", "s_eoa")
  private def pnlOf(perTx: DataFrame, xfer: DataFrame, bundles: DataFrame,
      meta: DataFrame, owned: DataFrame) =
    InspectorOps.builderPnlOf(perTx, xfer, bundles, meta, owned).collect().head

  test("builder_pnl: relay fallback when the last tx pays no proposer") {
    val r = pnlOf(
      bpTxOf((1L, 0L, "a", 100L, 10L, 0L), (1L, 1L, "b", 200L, 5L, 50L)),
      noXfers, noBundles,
      bpMetaOf((1L, "bld", "prop", 500L, None)), noOwned)
    assert(r.getAs[Long]("total_priority_fee") == 2000L) // Σ fee·gas
    assert(r.getAs[Long]("total_bribe") == 50L)
    assert(r.getAs[Long]("proposer_reward") == 500L) // utils.rs:269-273 fallback
    assert(r.getAs[String]("proposer_recipient") == "prop")
    assert(r.getAs[Int]("bid_adjusted") == 0)
    assert(r.getAs[Long]("builder_eth_profit") == 2000L + 50L - 500L)
  }

  test("builder_pnl: the LAST tx's root transfer from the builder pays the proposer") {
    val r = pnlOf(
      bpTxOf((1L, 0L, "a", 100L, 10L, 0L), (1L, 1L, "b", 100L, 10L, 0L)),
      bpXferOf(
        (1L, 0L, "bld", "early", 999L, 1), // not the last tx — never counts
        (1L, 1L, "bld", "actual_prop", 300L, 1)),
      noBundles, bpMetaOf((1L, "bld", "prop", 500L, None)), noOwned)
    assert(r.getAs[Long]("proposer_reward") == 300L)
    assert(r.getAs[String]("proposer_recipient") == "actual_prop") // transfer.to
    assert(r.getAs[Long]("builder_eth_profit") == 2000L - 300L)
  }

  test("builder_pnl: a collateral-address payment marks the bid ultrasound-adjusted") {
    val r = pnlOf(
      bpTxOf((1L, 0L, "a", 100L, 10L, 0L)),
      bpXferOf((1L, 0L, "coll", "prop", 200L, 1)),
      noBundles, bpMetaOf((1L, "bld", "prop", 500L, Some("coll"))), noOwned)
    assert(r.getAs[Long]("proposer_reward") == 200L)
    assert(r.getAs[Int]("bid_adjusted") == 1) // utils.rs:320 is_from_collateral
  }

  test("builder_pnl: sponsorship counts only net-positive refunds, never the proposer") {
    val r = pnlOf(
      bpTxOf((1L, 0L, "A", 10L, 100L, 0L), (1L, 1L, "B", 10L, 100L, 0L)),
      bpXferOf(
        (1L, 0L, "bld", "A", 40L, 0), //  A paid 100 > 40 → sponsored
        (1L, 1L, "bld", "B", 500L, 0), // B paid 100 < 500 → not
        (1L, 0L, "bld", "prop", 99L, 0)), // proposer recipient → ignored
      noBundles, bpMetaOf((1L, "bld", "prop", 500L, None)), noOwned)
    assert(r.getAs[Long]("sponsorship") == 40L)
    assert(r.getAs[Long]("builder_eth_profit") == 2000L - 40L - 500L)
  }

  test("builder_pnl: vertically-integrated searchers tip profit, SearcherTx only gas") {
    val r = pnlOf(
      bpTxOf((1L, 0L, "a", 10L, 1L, 0L)),
      noXfers,
      bpBundlesOf(
        (1L, "s1", 30.0, 5.0, "jit"), //         owned → profit + tip
        (1L, "s1", 99.0, 7.0, "searcher_tx"), // owned → tip only (utils.rs:348-352)
        (1L, "other", 88.0, 9.0, "arb")), //     unowned → neither
      bpMetaOf((1L, "bld", "prop", 0L, None)),
      Seq(("bld", "s1")).toDF("builder_addr", "s_eoa"))
    assert(math.abs(r.getAs[Double]("builder_mev_profit_usd") - 30.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("searcher_tip_usd") - 12.0) < 1e-9)
  }

  test("mev_count filter: losing sandwiches/arbs drop unless unpriced; others pass") {
    // composer/utils.rs:158-165: Sandwich|AtomicArb keep iff
    // profit_usd > 0 || no_pricing_calculated; every other type passes
    val bundles = Seq(
      ("sandwich", 10.0, 0), //  profitable → kept
      ("sandwich", -5.0, 0), //  loser, priced → dropped
      ("sandwich", -5.0, 1), //  loser, UNPRICED → kept for review
      ("arb", 0.0, 0), //        zero profit is not profit → dropped
      ("jit", -9.0, 0), //       filter never applies → kept
      ("liquidation", -9.0, 0))
      .toDF("mev_type", "profit_usd", "no_pricing")
    val out = InspectorOps.filterCountBundlesOf(bundles).collect()
      .map(r => r.getAs[String]("mev_type") ->
        (r.getAs[Long]("n_raw"), r.getAs[Long]("n_final"))).toMap
    assert(out("sandwich") == (3L, 2L))
    assert(out("arb") == (1L, 0L))
    assert(out("jit") == (1L, 1L) && out("liquidation") == (1L, 1L))
  }

  test("jit_sandwich composes on shared tx hashes with per-position attachment") {
    // compose_sandwich_jit (jit_sandwich.rs:109-180): trigger is tx-hash
    // overlap; mints/burns attach only where the position's hash matches
    val sand = InspectorOps.sandwichesOf(swTxOf(
      (1L, 0L, "f", "atk", "P", 0L, 7L, 8L, 100.0, 90.0),
      (1L, 1L, "v1", "vic", "P", 0L, 7L, 8L, 50.0, 44.0),
      (1L, 3L, "b", "atk", "P", 1L, 8L, 7L, 90.0, 120.0)))
    def jpOf(rows: (Long, String, String, String, String)*) =
      rows.toDF("block_number", "eoa", "pool", "tx_hash", "burn_tx")
    // exact: front tx mints, back tx burns → both positions attach
    val exact = InspectorOps.composeJitSandwichOf(sand,
      jpOf((1L, "atk", "P", "f", "b"))).collect()
    assert(exact.length == 1)
    assert(exact.head.getAs[Int]("mint_at_front") == 1 &&
      exact.head.getAs[Int]("burn_at_back") == 1)
    // partial: only the mint tx is shared → composition still forms,
    // burn side attaches nothing (jit_sandwich.rs:146-155 → None)
    val partial = InspectorOps.composeJitSandwichOf(sand,
      jpOf((1L, "atk", "P", "f", "other_burn"))).collect()
    assert(partial.length == 1)
    assert(partial.head.getAs[Int]("mint_at_front") == 1 &&
      partial.head.getAs[Int]("burn_at_back") == 0)
    // disjoint: block/EOA overlap without a shared hash never composes
    assert(InspectorOps.composeJitSandwichOf(sand,
      jpOf((1L, "atk", "P", "m_other", "b_other"))).count() == 0)
  }

  test("revert prune drops the reverted frame's whole subtree, never siblings") {
    // tree_builder/mod.rs:330-332: an errored frame classifies to Revert;
    // the EVM propagates the error to the whole call subtree
    val t = Seq(
      ("tx", 1L, Seq(1L)), //     reverted root
      ("tx", 2L, Seq(1L, 1L)), // child → drops
      ("tx", 3L, Seq(1L, 2L)), // child → drops
      ("tx", 4L, Seq(2L)), //     sibling → survives
      ("tx", 5L, Seq(12L)), //    [12] is NOT prefixed by [1] — survives
      ("tx2", 6L, Seq(1L, 1L))) // other tx → survives
      .toDF("tx_hash", "trace_idx", "trace_address")
    val rev = Seq(("tx", Seq(1L))).toDF("r_tx", "r_addr")
    val dropped = graft.queries.MiscOps.revertDroppedOf(t, rev)
      .select("trace_idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(dropped == Seq(1L, 2L, 3L))
  }

  test("cex_dex_not: a closed swap cycle is a triangular arb, not a CEX-DEX") {
    // is_triangular_arb (cex_dex_markout.rs:693-706): first token_in ==
    // last token_out over the ORDERED legs, ≥2 swaps → excluded
    val sw = Seq(
      ("cyc", 0L, 7L, 8L), ("cyc", 1L, 8L, 9L), ("cyc", 2L, 9L, 7L), // closes
      ("open", 0L, 7L, 8L), ("open", 1L, 8L, 9L), //   open chain → kept
      ("one", 0L, 7L, 7L)) // single swap: cycle test vacuous → single
      .toDF("tx_hash", "trace_idx", "token_in_id", "token_out_id")
    val out = graft.domain.CexOps.triangularClassOf(sw).collect()
      .map(r => r.getAs[String]("tx_hash") -> r.getAs[String]("clazz")).toMap
    assert(out("cyc") == "triangular")
    assert(out("open") == "multihop_open")
    assert(out("one") == "single")
  }

  test("merge_swaps: token-continuous legs collapse; a break never merges") {
    // cex_merge_possible_swaps (shared_utils.rs:725-792) + the
    // test_cex_dex_merging_swaps_failure negative: A→B,B→C merges to A→C;
    // a leg whose token_in does not continue the chain starts a new one
    def swOf(rows: (String, Long, Long, Long, Double, Double)*) =
      rows.toDF("tx_hash", "trace_idx", "token_in_id", "token_out_id",
        "amount_in", "amount_out")
    val merged = graft.domain.CexOps.mergeSwapsOf(swOf(
      ("m", 0L, 7L, 8L, 100.0, 90.0),
      ("m", 1L, 8L, 9L, 90.0, 80.0))).collect()
    assert(merged.length == 1)
    assert(merged.head.getAs[Long]("token_in") == 7L &&
      merged.head.getAs[Long]("token_out") == 9L &&
      merged.head.getAs[Long]("n_legs") == 2L)
    // failure case: 7→8 then 9→10 — no shared intermediary, NO merge
    assert(graft.domain.CexOps.mergeSwapsOf(swOf(
      ("f", 0L, 7L, 8L, 100.0, 90.0),
      ("f", 1L, 9L, 10L, 50.0, 45.0))).count() == 0)
    // break in the middle: 7→8, 8→9, then 3→4 → one 2-leg merge only
    val part = graft.domain.CexOps.mergeSwapsOf(swOf(
      ("p", 0L, 7L, 8L, 100.0, 90.0),
      ("p", 1L, 8L, 9L, 90.0, 80.0),
      ("p", 2L, 3L, 4L, 10.0, 9.0))).collect()
    assert(part.length == 1 && part.head.getAs[Long]("token_out") == 9L)
  }

  test("searcher_tx loser: a labeled searcher's losing tx stays a bundle") {
    // searcher_activity has no profitability arm — the label IS the gate
    val out = InspectorOps.searcherTxOf(
      bundleActsOf(("T", "transfer", 5.0, 5.0, Some(3L), None, Some(18), None)),
      headersOf(("T", 7L, "s1", 10.0, 90.0)),
      Seq("s1").toDF("s_eoa")).collect()
    assert(out.length == 1)
    assert(math.abs(out.head.getAs[Double]("profit_usd") + 80.0) < 1e-9)
    assert(out.head.getAs[Int]("has_dex_price") == 1)
  }

  // ── REAL ABI layouts (domain.RealAbiOps — maker/psm.rs, curve/v1_meta.rs) ──

  private def w64(v: Long): String = f"$v%064x"

  test("real_abi: abi_address decodes the trailing 20 bytes and REJECTS nonzero padding") {
    // buyGem(address usr, uint256 gemAmt) word layout (psm.rs): the
    // address word is 12 zero bytes ‖ 20 address bytes
    val addr20 = "00000000" + "ab" * 16
    val good = "aabbccdd" + ("00" * 12) + addr20 + w64(1000000L)
    val bad = "aabbccdd" + "01" + ("00" * 11) + addr20 + w64(5L)
    val short = "aabbccdd" + "00" * 16
    val out = Seq(good, bad, short).toDF("h")
      .select(
        graft.functions.AbiCalldata.abi_address(unhex(col("h")), 0).as("usr"),
        graft.functions.AbiCalldata.abi_word(unhex(col("h")), 1).as("amt"))
      .collect()
    assert(out(0).getString(0) == addr20 && out(0).getLong(1) == 1000000L)
    assert(out(1).isNullAt(0), "nonzero pad byte must decode to NULL, not truncate")
    assert(out(2).isNullAt(0))
  }

  test("real_abi psm: buy/sell DAI legs combine the calldata amount with the LOG fee") {
    // per-classifier shape (the reference plants a tx and asserts the
    // NormalizedSwap equality, v1_meta.rs:228+): gemAmt 2_000_000 (2.0
    // scaled), fee 25 bps → buy amount_in 2.005, sell amount_out 1.995
    // (psm.rs:40-47, :90-97)
    def frame(isBuy: Boolean) = Seq(("eoa" * 10 + "42", 2000000L, 25L, isBuy))
      .toDF("from_address", "gem", "fee", "is_buy")
      .select(col("is_buy"),
        unhex(concat(lit("aabbccdd"), lit("0" * 32),
          md5(col("from_address")), lpad(lower(hex(col("gem"))), 64, "0")))
          .as("calldata"),
        unhex(concat(lpad(lower(hex(col("gem"))), 64, "0"),
          lpad(lower(hex(col("fee"))), 64, "0"))).as("log_data"),
        md5(col("from_address")).as("from_address"))
    val buy = graft.domain.RealAbiOps.psmDecode(frame(isBuy = true)).head()
    assert(buy.getAs[String]("usr") ==
      "00000000" + buy.getAs[String]("from_address"))
    assert(buy.getAs[Long]("gem_amt") == 2000000L)
    assert(buy.getAs[Long]("fee_dec") == 25L)
    assert(buy.getAs[Double]("dai_leg") == 2.0 + 2.0 * 0.0025)
    val sell = graft.domain.RealAbiOps.psmDecode(frame(isBuy = false)).head()
    assert(sell.getAs[Double]("dai_leg") == 2.0 - 2.0 * 0.0025)
  }

  test("real_abi curve: exchange_underlying amounts ride the LOG and the pool is the CALLER") {
    // TokenExchangeUnderlying data = sold_id ‖ tokens_sold ‖ bought_id ‖
    // tokens_bought (v1_meta.rs exchange_underlying_0: log.tokens_sold /
    // log.tokens_bought); the calldata's dx intentionally DISAGREES here —
    // the decode must surface the log's values and flag the mismatch
    val df = Seq(("mp", 1L, 500L, 0L, 480L, 999L))
      .toDF("caller_pool", "i", "dx_log", "j", "dy_log", "dx_calldata")
      .select(col("caller_pool"),
        unhex(concat(lit("3df02124"), lit(w64(1L)), lit(w64(0L)),
          lpad(lower(hex(col("dx_calldata"))), 64, "0"), lit(w64(7L))))
          .as("calldata"),
        unhex(concat(lit(w64(1L)), lpad(lower(hex(col("dx_log"))), 64, "0"),
          lit(w64(0L)), lpad(lower(hex(col("dy_log"))), 64, "0")))
          .as("log_data"))
    val r = graft.domain.RealAbiOps.underlyingDecode(df).head()
    assert(r.getAs[Long]("sid") == 1L && r.getAs[Long]("bid") == 0L)
    assert(r.getAs[Long]("amt_in") == 500L && r.getAs[Long]("amt_out") == 480L)
    assert(r.getAs[Long]("cd_i") == 1L && r.getAs[Long]("cd_dx") == 999L)
    assert(r.getAs[Long]("cd_dx") != r.getAs[Long]("amt_in"),
      "the log is the amount source; the calldata echo must be separable")
    assert(r.getAs[String]("caller_pool") == "mp") // pool = info.from_address
  }

  test("real_abi univ3: RETURN deltas are signed and the SIGN resolves direction") {
    // uniswap_v3.rs:31-46 — amount0 < 0 ⇒ token1 in / token0 out with
    // in = amount1, out = |amount0|; the other arm is the converse. Both
    // arms planted; amountSpecified is negative (exact-output) on row B.
    val rows = Seq(
      // (a0, a1, spec): pool receives 500 of token0, sends 480 of token1
      (500L, -480L, 500L),
      // pool receives 500 of token1, sends 480 of token0; exact-output
      (-480L, 500L, -480L))
    val df = rows.toDF("a0_src", "a1_src", "spec_src")
      .select(col("a0_src"), col("spec_src"),
        unhex(concat(lit("128acb08"), lit("0" * 32), lit("ab" * 16),
          lit(w64(1L)),
          when(col("spec_src") >= 0,
            lpad(lower(hex(col("spec_src"))), 64, "0"))
            .otherwise(concat(lit("f" * 48), lower(hex(col("spec_src"))))),
          lit(w64(0L)))).as("calldata"),
        unhex(concat(
          when(col("a0_src") >= 0, lpad(lower(hex(col("a0_src"))), 64, "0"))
            .otherwise(concat(lit("f" * 48), lower(hex(col("a0_src"))))),
          when(col("a1_src") >= 0, lpad(lower(hex(col("a1_src"))), 64, "0"))
            .otherwise(concat(lit("f" * 48), lower(hex(col("a1_src")))))))
          .as("ret_data"),
        lit(10L).as("t0_id"), lit(20L).as("t1x"))
    val out = graft.domain.RealAbiOps.v3SwapDecode(df)
      .orderBy(col("a0_src").desc).collect()
    val zfo = out(0) // a0 = +500: token0 in
    assert(zfo.getAs[Long]("a0") == 500L && zfo.getAs[Long]("a1") == -480L)
    assert(zfo.getAs[Long]("token_in_id") == 10L &&
      zfo.getAs[Long]("token_out_id") == 20L)
    assert(zfo.getAs[Long]("in_raw") == 500L && zfo.getAs[Long]("out_raw") == 480L)
    assert(zfo.getAs[Long]("spec_dec") == 500L)
    assert(zfo.getAs[String]("recipient") == "00000000" + "ab" * 16)
    val ozf = out(1) // a0 = −480: token1 in
    assert(ozf.getAs[Long]("token_in_id") == 20L &&
      ozf.getAs[Long]("token_out_id") == 10L)
    assert(ozf.getAs[Long]("in_raw") == 500L && ozf.getAs[Long]("out_raw") == 480L)
    assert(ozf.getAs[Long]("spec_dec") == -480L, "exact-output arrives negative")
  }

  test("real_abi univ3: a >64-bit return delta decodes to NULL, not a truncated value") {
    // non-uniform sign-extension bytes ⇒ magnitude needs >64 bits ⇒
    // explicit NULL quarantine (abi_ret_int's contract)
    val big = "00" * 16 + "01" + "00" * 15 // 2^120: word 0 invalid
    val out = Seq(big + w64(7L)).toDF("h")
      .select(
        graft.functions.AbiCalldata.abi_ret_int(unhex(col("h")), 0).as("a0"),
        graft.functions.AbiCalldata.abi_ret_int(unhex(col("h")), 1).as("a1"))
      .head()
    assert(out.isNullAt(0), "2^120 must quarantine, not truncate")
    assert(out.getAs[Long]("a1") == 7L)
  }

  test("real_abi balancer: SwapRequest rides ONE offset indirection; pool = poolId[0..20]") {
    // balancer_v2.rs:20-47 + pool_id_to_address :219-226. Head: offset
    // 0x60 ‖ balanceIn ‖ balanceOut; tail tuple: kind ‖ tokenIn ‖ tokenOut
    // ‖ amount ‖ poolId ‖ lastChangeBlock ‖ from ‖ to ‖ userData-offset ‖
    // empty bytes. The poolId's trailing 12 bytes are junk ON PURPOSE —
    // only the leading 20 identify the pool.
    val tokIn = "00000000" + "aa" * 16
    val tokOut = "00000000" + "bb" * 16
    val poolAddr = "00000000" + "cd" * 16
    val eoa = "00000000" + "ee" * 16
    val good = "aabbccdd" + w64(96L) + w64(1000L) + w64(2000L) +
      w64(1L) + "0" * 24 + tokIn + "0" * 24 + tokOut + w64(555L) +
      poolAddr + "deadbeef" * 3 + w64(17L) + "0" * 24 + eoa + "0" * 24 + eoa +
      w64(288L) + w64(0L)
    // same layout but the tokenIn word's pad is NONZERO: address decode
    // must NULL through the indirection, the non-address fields still read
    val badPad = good.patch(8 + 64 * 4, "01", 2)
    // buffer truncated BEFORE the tuple tail: every tuple field NULLs
    val short = good.take(8 + 64 * 3)
    val out = graft.domain.RealAbiOps.onSwapDecode(
      Seq(good, badPad, short).toDF("h")
        .select(unhex(col("h")).as("calldata"),
          unhex(lit(w64(480L))).as("ret_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[Long]("kind") == 1L)
    assert(g.getAs[String]("tok_in_dec") == tokIn)
    assert(g.getAs[String]("tok_out_dec") == tokOut)
    assert(g.getAs[Long]("amt_dec") == 555L)
    assert(g.getAs[String]("pool_dec") == poolAddr,
      "the junk trailing 12 bytes must not affect the pool identity")
    assert(g.getAs[String]("from_dec") == eoa)
    assert(g.getAs[Long]("bal_in") == 1000L)
    assert(g.getAs[Long]("out_dec") == 480L)
    val b = out(1)
    assert(b.isNullAt(b.fieldIndex("tok_in_dec")),
      "nonzero pad must NULL through the tuple indirection")
    assert(b.getAs[Long]("amt_dec") == 555L)
    val s = out(2)
    for (f <- Seq("kind", "tok_in_dec", "amt_dec", "pool_dec"))
      assert(s.isNullAt(s.fieldIndex(f)), s"$f must NULL on a short buffer")
    assert(s.getAs[Long]("bal_in") == 1000L, "head words still read")
  }

  test("real_abi univ2: the ZERO amountIn side resolves direction; a missing log quarantines") {
    // uniswap_v2.rs:32-65 — amounts ride the Swap EVENT (amount0In ‖
    // amount1In ‖ amount0Out ‖ amount1Out); amount0In == 0 ⇒ token1 in /
    // token0 out. An absent log is log_data.swap_field? — classification
    // fails BEFORE any token fetch (the -1 sentinel group downstream).
    def cd(a0o: Long, a1o: Long) = "022c0d9f" + w64(a0o) + w64(a1o) +
      "0" * 24 + "00000000" + "ee" * 16 + w64(128L)
    val rows = Seq(
      // token0 in: amount0In = 500, amount1Out = 480
      (cd(0L, 480L), w64(500L) + w64(0L) + w64(0L) + w64(480L)),
      // token1 in: amount1In = 500, amount0Out = 480
      (cd(480L, 0L), w64(0L) + w64(500L) + w64(480L) + w64(0L)),
      // log missing: every log field NULLs, classification fails
      (cd(0L, 480L), ""))
    val out = graft.domain.RealAbiOps.v2SwapDecode(
      rows.toDF("c", "l").select(unhex(col("c")).as("calldata"),
        unhex(col("l")).as("log_data"),
        lit(10L).as("t0_id"), lit(20L).as("t1x")))
      .collect()
    val t0in = out(0)
    assert(t0in.getAs[Boolean]("log_ok"))
    assert(t0in.getAs[Long]("token_in_id") == 10L &&
      t0in.getAs[Long]("token_out_id") == 20L)
    assert(t0in.getAs[Long]("in_raw") == 500L && t0in.getAs[Long]("out_raw") == 480L)
    assert(t0in.getAs[Long]("cd_a1out") == 480L, "calldata echoes the out side")
    assert(t0in.getAs[String]("recipient") == "00000000" + "ee" * 16)
    val t1in = out(1)
    assert(t1in.getAs[Long]("token_in_id") == 20L &&
      t1in.getAs[Long]("token_out_id") == 10L)
    assert(t1in.getAs[Long]("in_raw") == 500L && t1in.getAs[Long]("out_raw") == 480L)
    val miss = out(2)
    assert(!miss.getAs[Boolean]("log_ok"))
    assert(miss.getAs[Long]("token_in_id") == -1L,
      "a missing Swap log fails classification before any token fetch")
  }

  private def sw64(v: Long): String =
    if (v >= 0) w64(v) else "f" * 48 + f"$v%016x"

  test("real_abi univ3 mint: signed int24 ticks + return-pair amounts + bytes-data tail") {
    // uniswap_v3.rs:61-95 — mint(recipient, int24 tickLower, int24
    // tickUpper, uint128 amount, bytes data) with amounts from the
    // RETURN pair; a full-range-ish position has a NEGATIVE lower tick
    // (sign-extended across the word).
    val rcpt = "00000000" + "aa" * 16
    val cd = "3c8a7d8d" + "0" * 24 + rcpt + sw64(-1200L) + sw64(600L) +
      w64(5000L) + w64(160L) + w64(0L)
    val ret = w64(111L) + w64(222L)
    val retShort = w64(111L) // truncated return: amount1 must NULL
    val out = graft.domain.RealAbiOps.v3MintDecode(
      Seq((cd, ret), (cd, retShort)).toDF("c", "r")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("recipient") == rcpt)
    assert(g.getAs[Long]("tick_lower") == -1200L,
      "negative int24 must sign-extend through the full word")
    assert(g.getAs[Long]("tick_upper") == 600L)
    assert(g.getAs[Long]("liq_amount") == 5000L)
    assert(g.getAs[Long]("data_off") == 160L,
      "the bytes data member rides a 5-head-word tail offset")
    assert(g.getAs[Long]("a0_ret") == 111L && g.getAs[Long]("a1_ret") == 222L,
      "amounts come from the RETURN pair, not calldata")
    val s = out(1)
    assert(s.getAs[Long]("a0_ret") == 111L)
    assert(s.isNullAt(s.fieldIndex("a1_ret")), "short return NULLs amount1")
  }

  test("real_abi univ3 burn/collect: burn has NO recipient arg; collect echoes requested amounts") {
    // uniswap_v3.rs:96-126 (burn) / :127-161 (collect)
    val burnCd = "89afcb44" + sw64(-60L) + sw64(60L) + w64(777L)
    val ret = w64(10L) + w64(20L)
    val b = graft.domain.RealAbiOps.v3BurnDecode(
      Seq((burnCd, ret)).toDF("c", "r")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data")))
      .collect()(0)
    assert(b.getAs[Long]("tick_lower") == -60L && b.getAs[Long]("tick_upper") == 60L,
      "burn calldata LEADS with the ticks — no recipient word")
    assert(b.getAs[Long]("liq_amount") == 777L)
    assert(b.getAs[Long]("a0_ret") == 10L && b.getAs[Long]("a1_ret") == 20L)
    val rcpt = "00000000" + "bb" * 16
    val collCd = "4f1eb3d8" + "0" * 24 + rcpt + sw64(-60L) + sw64(60L) +
      w64(10L) + w64(20L)
    val c = graft.domain.RealAbiOps.v3CollectDecode(
      Seq((collCd, ret)).toDF("c", "r")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data")))
      .collect()(0)
    assert(c.getAs[String]("recipient") == rcpt)
    assert(c.getAs[Long]("a0_req") == 10L && c.getAs[Long]("a1_req") == 20L)
    assert(c.getAs[Long]("a0_ret") == c.getAs[Long]("a0_req") &&
      c.getAs[Long]("a1_ret") == c.getAs[Long]("a1_req"),
      "fixture collects return exactly the requested amounts")
  }

  test("real_abi univ3 jit: classified collects DISPLACE burns on the back side; burns stand alone") {
    // jit_liquidity.rs:322-340 — backrun_burns: Some(collect)
    //   .filter(|f| !f.is_empty()).map(...).unwrap_or(burns)
    val rows = Seq(
      // group A: two burns + one collect → only the collect survives
      (1L, "e1", "pA", false, "burn1"),
      (1L, "e1", "pA", false, "burn2"),
      (1L, "e1", "pA", true, "coll1"),
      // group B: burns only → both stand
      (1L, "e1", "pB", false, "burn3"),
      (1L, "e1", "pB", false, "burn4"))
      .toDF("block_number", "from_address", "pool", "is_collect", "tag")
    val kept = graft.domain.RealAbiOps.collectPrecedence(rows)
      .select("tag").collect().map(_.getString(0)).sorted
    assert(kept.toSeq == Seq("burn3", "burn4", "coll1"),
      "collects displace burns per (block, eoa, pool); burn-only groups keep burns")
  }

  test("real_abi balancer join/exit: deltas are SIGNED, zeros skip, pool = STATIC poolId[0..20]") {
    // balancer_v2.rs:78-180 — joinPool/exitPool take only poolId/sender/
    // recipient from the calldata; tokens and amounts ride the
    // PoolBalanceChanged EVENT's three base-0 dynamic arrays, deltas are
    // int256 (negative on exit), zero deltas skip BEFORE the token fetch.
    // Values from the reference's own txs: test_balancer_v2_join_pool
    // (ffed34d6…) and test_balancer_v2_exit_pool (ad13973e…).
    val pool = "848a5564158d84b8a8fb68ab5d004fae11619a54"
    val weeth = "cd5fe23c85820f7b72d0926fc9b05b43e359b7ee"
    val ezeth = "bf5495efe5db9ce00f80364c8b423567e58d2110"
    val rsweth = "fae103dc9cf190ed75350761e95403b7b8afa6c0"
    val joinFrom = "750c31d2290c456fcca1c659b6add80e7a88f881"
    val exitFrom = "f4283d13ba1e17b33bb3310c3149136a2ef79ef7"
    // poolId = pool address ‖ 12 junk bytes (specialization + nonce —
    // NOT validated, only the leading 20 identify the pool)
    def cd(sel: String, sender: String) = sel + pool + "deadbeef" * 3 +
      "0" * 24 + sender + "0" * 24 + sender + w64(128L) + w64(1L)
    def sw64(v: Long) = if (v >= 0) w64(v) else "f" * 48 + f"$v%016x"
    def logData(toks: Seq[String], dels: Seq[Long], fees: Seq[Long]) = {
      val n = toks.size
      w64(96L) + w64(128L + 32 * n) + w64(160L + 64 * n) +
        w64(n.toLong) + toks.map("0" * 24 + _).mkString +
        w64(n.toLong) + dels.map(sw64).mkString +
        w64(n.toLong) + fees.map(w64).mkString
    }
    // join: TWO tokens in the log, ONE nonzero delta → Mint keeps weETH only
    val join = (cd("b95cac28", joinFrom),
      logData(Seq(weeth, ezeth), Seq(1935117712922949743L, 0L), Seq(0L, 0L)))
    // exit: three NEGATIVE deltas → Burn with the abs amounts
    val exit = (cd("8bdb3913", exitFrom),
      logData(Seq(ezeth, weeth, rsweth),
        Seq(-471937215318872937L, -757823171697267931L, -699970729674926490L),
        Seq(1L, 2L, 3L)))
    // corrupt: the delta element's high bytes are NOT a sign extension
    // (0x01 ‖ zeros ‖ value) — must NULL, never a wrapped magnitude.
    // n=1 geometry: deltas tail at byte 160, element word at 192.
    val corrupt = (cd("b95cac28", joinFrom),
      logData(Seq(weeth), Seq(5L), Seq(0L)).patch(192 * 2, "01", 2))
    val out = graft.domain.RealAbiOps.poolChangeDecode(
      Seq(join, exit, corrupt).toDF("c", "l")
        .select(unhex(col("c")).as("calldata"), unhex(col("l")).as("log_data")))
      .collect()
    val j = out(0)
    assert(j.getAs[String]("pool_dec") == pool,
      "the junk trailing 12 bytes must not affect the pool identity")
    assert(j.getAs[String]("sender_dec") == joinFrom &&
      j.getAs[String]("recip_dec") == joinFrom)
    assert(j.getAs[Long]("n_tok") == 2L && j.getAs[Long]("n_del") == 2L)
    assert(j.getAs[String]("tok0") == weeth && j.getAs[String]("tok1") == ezeth)
    assert(j.getAs[Long]("del0") == 1935117712922949743L)
    assert(j.getAs[Long]("del1") == 0L, "the zero delta decodes AS zero (the skip arm)")
    assert(j.isNullAt(j.fieldIndex("tok2")), "past the decoded length")
    val e = out(1)
    assert(e.getAs[String]("sender_dec") == exitFrom)
    assert(e.getAs[Long]("n_tok") == 3L)
    assert(e.getAs[Long]("del0") == -471937215318872937L &&
      e.getAs[Long]("del1") == -757823171697267931L &&
      e.getAs[Long]("del2") == -699970729674926490L,
      "exit deltas decode NEGATIVE — abs() happens downstream, as in the reference")
    val c = out(2)
    assert(c.isNullAt(c.fieldIndex("del0")),
      "a corrupt sign extension must NULL, not decode a wrapped magnitude")
    assert(c.getAs[String]("tok0") == weeth, "the token array still reads")
  }

  test("real_abi 1inch: swap's desc tuple is INLINE; fillOrderTo's order is OFFSET-passed") {
    // one_inch_aggregation_router_v5.rs:5-49 — SwapDescription has no
    // dynamic member so ABI inlines it (dstReceiver = plain word 4);
    // the limit order HAS `bytes interactions` so it rides an offset
    // (receiver = tuple field 4). Addresses from the reference's fusion
    // test tx 83860dfe… (recipient d10F1769…).
    val recip = "d10f17699137dd6215c01f539726227fc042c9b2"
    val src = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48" // USDC
    val dst = "dac17f958d2ee523a2206206994597c13d831ec7" // USDT
    val exec = "235d3afac42f5e5ff346cb6c19af13194988551f"
    def a(x: String) = "0" * 24 + x
    val swapCd = "12aa3caf" + a(exec) +
      a(src) + a(dst) + a(exec) + a(recip) + // desc INLINE
      w64(269875186L) + w64(100L) + w64(4L) +
      w64(320L) + w64(352L) + w64(0L) + w64(0L)
    val fillCd = "e5d7bde6" + w64(224L) + w64(576L) + w64(608L) +
      w64(269875186L) + w64(100L) + w64(0L) + a(exec) +
      // order_ tail: salt ‖ makerAsset ‖ takerAsset ‖ maker ‖ receiver ‖
      // allowedSender ‖ making ‖ taking ‖ offsets ‖ interactions-off ‖ len
      w64(7L) + a(src) + a(dst) + a(exec) + a(recip) + w64(0L) +
      w64(269875186L) + w64(100L) + w64(0L) + w64(320L) + w64(0L) +
      w64(0L) + w64(0L)
    // corrupt: the order_ head offset's HIGH bytes nonzero — the tuple
    // walk must NULL, not resolve a wrong base
    val corrupt = fillCd.patch(8, "01", 2)
    val out = graft.domain.RealAbiOps.oneinchRouterDecode(
      Seq((swapCd, 0L), (fillCd, 1L), (corrupt, 1L)).toDF("h", "arm")
        .select(unhex(col("h")).as("calldata"), col("arm")))
      .collect()
    val sw = out(0)
    assert(sw.getAs[String]("recip_dec") == recip,
      "dstReceiver must read from INLINE word 4 - no indirection")
    assert(sw.getAs[String]("src_dec") == src)
    assert(sw.getAs[Long]("amt_dec") == 269875186L)
    val fo = out(1)
    assert(fo.getAs[String]("recip_dec") == recip,
      "order_.receiver must resolve THROUGH the head offset")
    assert(fo.getAs[String]("src_dec") == src)
    assert(fo.getAs[Long]("amt_dec") == 269875186L)
    val c = out(2)
    assert(c.isNullAt(c.fieldIndex("recip_dec")) &&
      c.isNullAt(c.fieldIndex("amt_dec")),
      "a corrupt tuple offset must NULL every tuple field")
  }

  test("real_abi balancer flashLoan: ONE missing token fails the WHOLE loan (anti-Aave arm)") {
    // balancer_v2.rs:99-134 — flashLoan(recipient, tokens[], amounts[],
    // userData); the pairs zip into one collect::<Result<_,_>>()? so the
    // loan is all-or-nothing, unlike Aave V2's per-pair filter_map.
    // Values from the reference's test_balancer_v2_flash_loan
    // (0feed8bd…): one WETH asset, amount 653220647374307183.
    val recip = "97c1a26482099363cb055f0f3ca1d6057fe55447"
    val weth = "c02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
    def cd(nToks: Int, toks: Seq[String], amts: Seq[Long]) =
      "5c38449e" + "0" * 24 + recip +
        w64(128L) + w64(160L + 32 * nToks) + w64(192L + 64 * nToks) +
        w64(nToks.toLong) + toks.map("0" * 24 + _).mkString +
        w64(nToks.toLong) + amts.map(w64).mkString + w64(0L)
    val good = cd(1, Seq(weth), Seq(653220647374307183L))
    // truncated before the amounts tail: lens/tokens read, amounts NULL
    val short = good.take(8 + 64 * 6)
    val out = graft.domain.RealAbiOps.balancerFlashDecode(
      Seq(good, short).toDF("h")
        .select(unhex(col("h")).as("calldata")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("receiver") == recip)
    assert(g.getAs[Long]("n_tokens_dec") == 1L &&
      g.getAs[Long]("n_amounts") == 1L)
    assert(g.getAs[String]("tok0") == weth)
    assert(g.getAs[Long]("amt0") == 653220647374307183L)
    assert(g.getAs[Long]("userdata_len") == 0L)
    assert(g.isNullAt(g.fieldIndex("tok1")), "past the decoded length")
    val s = out(1)
    assert(s.getAs[Long]("n_tokens_dec") == 1L, "tokens length still reads")
    assert(s.isNullAt(s.fieldIndex("amt0")),
      "amounts past the truncation must NULL, never misread")
  }

  test("real_abi curve discovery: plain-pool zero slots filter out; strings walk head offsets") {
    // curve/discovery.rs parse_plain_pool — deploy_plain_pool(string,
    // string, address[4], uint256, uint256): _coins is a FIXED 4-slot
    // array whose unused slots are ZERO; the token vector is the
    // zero-filtered slots. The two strings are dynamic members: head
    // words 0/1 hold tail offsets, each tail is len ‖ padded content.
    import graft.functions.AbiCalldata.{abi_address, abi_array_len, abi_word}
    val c0 = "00000000" + "aa" * 16
    val c1 = "00000000" + "bb" * 16
    val name = "crv-42" // 6 bytes
    val sym = "c42" // 3 bytes
    def strTail(s: String) =
      w64(s.length.toLong) + s.map(c => f"${c.toInt}%02x").mkString.padTo(64, '0')
    val cd = "ab12cd34" + w64(256L) + w64(320L) +
      "00" * 12 + c0 + "00" * 12 + c1 + "0" * 64 + "0" * 64 + // 2 live + 2 zero
      w64(99L) + w64(4L) + strTail(name) + strTail(sym)
    val out = Seq(cd).toDF("h").select(unhex(col("h")).as("calldata"))
      .select(
        abi_array_len(col("calldata"), 0).as("name_len"),
        abi_array_len(col("calldata"), 1).as("sym_len"),
        abi_word(col("calldata"), 0).as("name_off"),
        expr("CAST(substring(calldata, CAST(4 + 256 + 32 + 1 AS INT), 6) AS STRING)").as("dec_name"),
        abi_address(col("calldata"), 2).as("a0"),
        abi_address(col("calldata"), 3).as("a1"),
        abi_address(col("calldata"), 4).as("a2"),
        abi_address(col("calldata"), 5).as("a3"),
        abi_word(col("calldata"), 6).as("amp"))
      .collect()(0)
    assert(out.getAs[Long]("name_off") == 256L)
    assert(out.getAs[Long]("name_len") == 6L,
      "abi_array_len walks the string head offset to the tail length word")
    assert(out.getAs[Long]("sym_len") == 3L)
    assert(out.getAs[String]("dec_name") == name)
    assert(out.getAs[String]("a0") == c0 && out.getAs[String]("a1") == c1)
    assert(out.getAs[String]("a2") == "0" * 40 && out.getAs[String]("a3") == "0" * 40,
      "unused fixed-array slots decode as the ZERO address (then filter out)")
    assert(Seq(out.getAs[String]("a0"), out.getAs[String]("a1"),
      out.getAs[String]("a2"), out.getAs[String]("a3"))
      .count(_ != "0" * 40) == 2,
      "the zero filter yields the 2-token vector from the 4-slot array")
    assert(out.getAs[Long]("amp") == 99L)
  }

  test("real_abi aave v2 flashLoan: three parallel dynamic arrays; elements bound by DECODED length") {
    // aave/v2.rs:41-80 — flashLoan(receiver, address[] assets, uint256[]
    // amounts, uint256[] modes, onBehalfOf, bytes params, uint16
    // referralCode): head words 1/2/3 are offsets to parallel tails.
    val rcpt = "00000000" + "aa" * 16
    val a0 = "00000000" + "bb" * 16
    val a1 = "00000000" + "cc" * 16
    val cd = "ab99cd11" +
      "0" * 24 + rcpt + // receiver
      w64(224L) + w64(320L) + w64(416L) + // assets/amounts/modes offsets
      "0" * 24 + rcpt + // onBehalfOf
      w64(512L) + w64(77L) + // params offset, referralCode
      w64(2L) + "0" * 24 + a0 + "0" * 24 + a1 + // assets[2]
      w64(2L) + w64(1000L) + w64(2000L) + // amounts[2]
      w64(2L) + w64(0L) + w64(1L) + // modes[2]
      w64(0L) // params: len 0
    // corrupt variant: asset[1]'s pad byte nonzero → that ELEMENT nulls
    val bad = cd.substring(0, 8 + 64 * 9) + "01" + "0" * 22 + a1 +
      cd.substring(8 + 64 * 10)
    val out = graft.domain.RealAbiOps.flashLoanDecode(
      Seq(cd, bad).toDF("h").select(unhex(col("h")).as("calldata")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("receiver") == rcpt)
    assert(g.getAs[Long]("n_assets") == 2L && g.getAs[Long]("n_amounts") == 2L &&
      g.getAs[Long]("n_modes") == 2L)
    assert(g.getAs[String]("asset0") == a0 && g.getAs[String]("asset1") == a1)
    assert(g.isNullAt(g.fieldIndex("asset2")),
      "element reads are bound by the DECODED length, not a fixed width")
    assert(g.getAs[Long]("amt0") == 1000L && g.getAs[Long]("amt1") == 2000L)
    assert(g.isNullAt(g.fieldIndex("amt2")))
    assert(g.getAs[Long]("mode0") == 0L && g.getAs[Long]("mode1") == 1L)
    assert(g.getAs[String]("on_behalf") == rcpt)
    assert(g.getAs[Long]("params_len") == 0L, "empty bytes params decodes len 0")
    assert(g.getAs[Long]("ref_code") == 77L)
    val b = out(1)
    assert(b.getAs[String]("asset0") == a0)
    assert(b.isNullAt(b.fieldIndex("asset1")),
      "nonzero pad on an array address element NULLs that element only")
    assert(b.getAs[Long]("amt1") == 2000L, "sibling arrays are unaffected")
  }

  test("real_abi cowswap: Trade-log owner rides the TOPIC; orderUid walks its data offset") {
    // cowswap/mod.rs:66-90 + GPv2Settlement.json — Trade(address indexed
    // owner, sellToken, buyToken, sellAmount, buyAmount, feeAmount, bytes
    // orderUid): the owner is NOT in the data section, and a real
    // orderUid is exactly 56 bytes.
    val owner = "00000000" + "aa" * 16
    val sellT = "00000000" + "bb" * 16
    val buyT = "00000000" + "cc" * 16
    val uid = "de" * 56 // 56-byte orderUid
    val topic = "0" * 24 + owner
    val data = "0" * 24 + sellT + "0" * 24 + buyT +
      w64(5000L) + w64(4900L) + w64(13L) +
      w64(192L) + w64(56L) + uid.padTo(128, '0')
    val out = graft.domain.RealAbiOps.tradeLogDecode(
      Seq((topic, data)).toDF("t", "d")
        .select(unhex(col("t")).as("topic1"), unhex(col("d")).as("log_data")))
      .collect()(0)
    assert(out.getAs[String]("owner_dec") == owner,
      "the order owner decodes from the indexed TOPIC, not the data words")
    assert(out.getAs[String]("sell_tok") == sellT &&
      out.getAs[String]("buy_tok") == buyT)
    assert(out.getAs[Long]("sell_amt") == 5000L &&
      out.getAs[Long]("buy_amt") == 4900L && out.getAs[Long]("fee_amt") == 13L)
    assert(out.getAs[Long]("uid_off") == 192L)
    assert(out.getAs[Long]("uid_len") == 56L,
      "a GPv2 orderUid is exactly 56 bytes: digest ‖ owner ‖ validTo")
    assert(out.getAs[String]("uid") == uid)
  }

  test("real_abi compound: liquidateBorrow is MIXED-source — liquidator from the LOG, amounts filled") {
    // compound_v2.rs:7-38 — borrower + cTokenCollateral from calldata,
    // liquidator/repayAmount/seizeTokens from the LiquidateBorrow event;
    // liquidated_collateral is FILLED here (no later stitch), and an
    // absent log quarantines before any token fetch.
    val borrower = "00000000" + "aa" * 16
    val ctok = "00000000" + "bb" * 16
    val liq = "00000000" + "cc" * 16
    val cd = "f5e3c462" + "0" * 24 + borrower + w64(900L) + "0" * 24 + ctok
    // event data per classifier-abis/CompoundV2CToken.json: liquidator ‖
    // borrower ‖ repayAmount ‖ cTokenCollateral ‖ seizeTokens (5 words —
    // seizeTokens is word 4, NOT 3)
    val logGood = "0" * 24 + liq + "0" * 24 + borrower + w64(900L) +
      "0" * 24 + ctok + w64(777L)
    // liquidator word with a NONZERO pad byte: the address decode NULLs
    val logBadPad = "01" + "0" * 22 + liq + "0" * 24 + borrower +
      w64(900L) + "0" * 24 + ctok + w64(777L)
    val out = graft.domain.RealAbiOps.liquidateBorrowDecode(
      Seq((cd, logGood), (cd, ""), (cd, logBadPad)).toDF("c", "l")
        .select(unhex(col("c")).as("calldata"), unhex(col("l")).as("log_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("borrower") == borrower)
    assert(g.getAs[String]("ctok_coll") == ctok)
    assert(g.getAs[String]("liq_log") == liq, "liquidator rides the LOG")
    assert(g.getAs[String]("borrower_log") == borrower)
    assert(g.getAs[Long]("repay_amt") == 900L)
    assert(g.getAs[String]("ctok_coll_log") == ctok,
      "log word 3 is the collateral cToken ADDRESS echoing the calldata")
    assert(g.getAs[Long]("seize_toks") == 777L,
      "liquidated_collateral fills from seizeTokens (log word 4) — no stitch")
    assert(g.getAs[Boolean]("log_ok"))
    val miss = out(1)
    assert(!miss.getAs[Boolean]("log_ok"),
      "an absent LiquidateBorrow log quarantines before any token fetch")
    assert(miss.getAs[String]("borrower") == borrower, "calldata still reads")
    val bad = out(2)
    assert(bad.isNullAt(bad.fieldIndex("liq_log")),
      "nonzero pad on the log address word must NULL, not truncate")
    assert(bad.getAs[Long]("seize_toks") == 777L)
  }

  test("real_abi aave: liquidationCall decodes five words; the bool gates receiveAToken") {
    // aave/v3.rs:10-40 — (collateralAsset, debtAsset, user, debtToCover,
    // receiveAToken); pool/liquidator fill from the FRAME (caller /
    // msg_sender), not the args, so the decode core only surfaces these.
    val coll = "00000000" + "11" * 16
    val debt = "00000000" + "22" * 16
    val user = "00000000" + "33" * 16
    def cd(flag: Long) = "00a718a9" + "0" * 24 + coll + "0" * 24 + debt +
      "0" * 24 + user + w64(900000L) + w64(flag)
    val out = graft.domain.RealAbiOps.liquidationCallDecode(
      Seq(cd(1L), cd(0L)).toDF("h").select(unhex(col("h")).as("calldata")))
      .collect()
    assert(out(0).getAs[String]("coll_dec") == coll)
    assert(out(0).getAs[String]("debt_dec") == debt)
    assert(out(0).getAs[String]("debtor") == user)
    assert(out(0).getAs[Long]("debt_to_cover") == 900000L)
    assert(out(0).getAs[Boolean]("receive_atoken"))
    assert(!out(1).getAs[Boolean]("receive_atoken"))
  }

  test("real_abi curve base: add_liquidity arrays are INLINE; the event tail is invariant ‖ supply") {
    // base3.rs add_liquidity — AddLiquidity data = token_amounts[3] ‖
    // fees[3] ‖ invariant ‖ token_supply (8 words for a 3-pool); the
    // calldata's fixed array is inline (words 0-2), min_mint at word 3.
    // Amounts must come from the LOG — the calldata echo here DISAGREES
    // on coin 1 and the decode must surface the log's value.
    val provider = "00000000" + "ab" * 16
    val cd = "6a627842" + w64(100L) + w64(999L) + w64(300L) + w64(42L)
    val log = w64(100L) + w64(200L) + w64(300L) + // token_amounts
      w64(1L) + w64(2L) + w64(3L) + // fees
      w64(7777L) + w64(8888L) // invariant ‖ token_supply
    val topic = "0" * 24 + provider.drop(8) + "0" * 8
    // provider topic: 12 zero bytes ‖ 20 address bytes
    val topicOk = "0" * 24 + provider
    val r = graft.domain.RealAbiExtOps.curveAddLiquidityDecode(
      Seq((cd, log, topicOk)).toDF("c", "l", "t")
        .select(unhex(col("c")).as("calldata"), unhex(col("l")).as("log_data"),
          unhex(col("t")).as("topic1")), 3).head()
    assert(r.getAs[String]("provider") == provider)
    assert(r.getAs[Long]("amt_dec_0") == 100L &&
      r.getAs[Long]("amt_dec_1") == 200L && r.getAs[Long]("amt_dec_2") == 300L,
      "amounts ride the LOG's token_amounts array")
    assert(r.getAs[Long]("cd_amt_1") == 999L &&
      r.getAs[Long]("cd_amt_1") != r.getAs[Long]("amt_dec_1"),
      "the calldata echo is separable — the reference trusts the log")
    assert(r.getAs[Long]("fee_dec_0") == 1L && r.getAs[Long]("fee_dec_2") == 3L,
      "fees are the SECOND inline array (words n..2n-1)")
    assert(r.getAs[Long]("inv_dec") == 7777L, "invariant at word 2n")
    assert(r.getAs[Long]("supply_dec") == 8888L, "token_supply at word 2n+1")
    assert(r.getAs[Long]("min_mint_dec") == 42L)
    assert(topic != topicOk) // the misaligned form above is not a valid topic
  }

  test("real_abi curve base: remove_liquidity has NO invariant word; one_coin resolves the SIGNED index") {
    // base3.rs remove_liquidity — RemoveLiquidity data = token_amounts[2]
    // ‖ fees[2] ‖ token_supply for a 2-pool: the supply sits at word 2n
    // (= 4), one word EARLIER than the mint layout. A decoder assuming
    // the mint offset would read past the buffer and NULL.
    val log2 = w64(10L) + w64(20L) + w64(1L) + w64(2L) + w64(5555L)
    val cd2 = "89afcb44" + w64(77L) + w64(5L) + w64(10L)
    val topicOk = "0" * 24 + "00000000" + "cd" * 16
    val rA = graft.domain.RealAbiExtOps.curveRemoveLiquidityDecode(
      Seq((cd2, log2, topicOk)).toDF("c", "l", "t")
        .select(unhex(col("c")).as("calldata"), unhex(col("l")).as("log_data"),
          unhex(col("t")).as("topic1")), 2).head()
    assert(rA.getAs[Long]("amt_dec_0") == 10L && rA.getAs[Long]("amt_dec_1") == 20L)
    assert(rA.getAs[Long]("supply_dec") == 5555L,
      "token_supply at word 2n — the burn event has no invariant")
    assert(rA.getAs[Long]("cd_lp_dec") == 77L, "calldata leads with the LP amount")
    assert(rA.getAs[Long]("cd_min_0") == 5L && rA.getAs[Long]("cd_min_1") == 10L)
    // one_coin: int128 i is a SIGNED word (abi_int_word); the log's
    // token_amount (word 0) is the amount the reference scales
    // (base3.rs:86-130), coin_amount rides word 1
    val cdOne = "89afcb44" + w64(900L) + w64(2L) + w64(880L)
    val logOne = w64(900L) + w64(870L)
    val rB = graft.domain.RealAbiExtOps.curveOneCoinDecode(
      Seq((cdOne, logOne, topicOk)).toDF("c", "l", "t")
        .select(unhex(col("c")).as("calldata"), unhex(col("l")).as("log_data"),
          unhex(col("t")).as("topic1"))).head()
    assert(rB.getAs[Long]("i_dec") == 2L, "the burned coin is the CALLDATA's i")
    assert(rB.getAs[Long]("tok_amt_dec") == 900L,
      "the reference scales log.token_amount, not coin_amount")
    assert(rB.getAs[Long]("coin_amt_dec") == 870L)
    assert(rB.getAs[Long]("cd_lp_dec") == 900L && rB.getAs[Long]("cd_min_dec") == 880L)
  }

  test("real_abi clipper: every field rides the Swapped event — assets and recipient from TOPICS") {
    // clipper_exchange.rs:8-160 — five selectors, one decode body that
    // reads nothing from calldata: inAsset/outAsset/recipient are
    // INDEXED params (topic words 0-2), amounts are data words 0/1.
    // Values from the reference's
    // test_clipper_exchange_transmit_and_sell_token_for_eth
    // (tx 3d9186d1…): USDC → WETH, recipient aeaC71B0…,
    // amounts 1213920000 / 360342259234585088.
    val usdc = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    val weth = "c02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
    val recip = "aeac71b09aeaedc6a52cee06373a648cad620c20"
    def a(x: String) = "0" * 24 + x
    val topics = a(usdc) + a(weth) + a(recip)
    val data = w64(1213920000L) + w64(360342259234585088L) +
      w64(96L) + w64(0L)
    // corrupt arm 1: a topic word with a NONZERO address pad — the
    // indexed param is not an address, must NULL, not truncate
    val badPad = ("11" + "0" * 22 + usdc) + a(weth) + a(recip)
    // corrupt arm 2: topics truncated after two words — recipient NULL,
    // assets still read
    val short = a(usdc) + a(weth)
    val out = graft.domain.RealAbiSwapOps.clipperDecode(
      Seq((topics, data), (badPad, data), (short, data)).toDF("t", "d")
        .select(unhex(col("t")).as("log_topics"), unhex(col("d")).as("log_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("in_asset") == usdc &&
      g.getAs[String]("out_asset") == weth,
      "the asset identities decode from topic words 0/1")
    assert(g.getAs[String]("recip_dec") == recip,
      "recipient = logs.recipient — the topic, NOT msg_sender")
    assert(g.getAs[Long]("amt_in") == 1213920000L &&
      g.getAs[Long]("amt_out") == 360342259234585088L)
    assert(g.getAs[Long]("aux_off") == 96L,
      "auxiliaryData's head offset sits after the three static data words")
    val b = out(1)
    assert(b.isNullAt(b.fieldIndex("in_asset")),
      "a nonzero 12-byte pad means the topic is not an address — NULL")
    assert(b.getAs[String]("out_asset") == weth, "the other topics still read")
    val s2 = out(2)
    assert(s2.isNullAt(s2.fieldIndex("recip_dec")),
      "a 2-topic log cannot yield a recipient — NULL, never a misread")
    assert(s2.getAs[String]("in_asset") == usdc)
  }

  test("real_abi balancer v1: the mirror pair flips which side's amount rides the RETURN") {
    // balancer_v1.rs:9-71 — swapExactAmountIn and swapExactAmountOut
    // share ONE 5-word calldata geometry (tokenIn ‖ w1 ‖ tokenOut ‖
    // w3 ‖ maxPrice); the selector decides whether w1 is the EXECUTED
    // amount_in (exactIn) or only the maxAmountIn bound (exactOut,
    // where the executed amount_in arrives in RETURN word 0). Values
    // from the reference's test_balancer_v1_swap (tx c832c2dc…):
    // USDC → FRONT, 72712976 in, 229136254468181839981 out.
    val usdc = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    val front = "f8c3527cc04340b208c854e985240c02f7b7793f"
    def a(x: String) = "0" * 24 + x
    // amount_out exceeds int64 — the w64 golden uses the low-8-byte
    // contract the decoders implement, so plant a 64-bit-safe echo of
    // the real value's low bits alongside the real amount_in
    val outLo = 229136254468181839L
    val cdIn = "8201aa3f" + a(usdc) + w64(72712976L) + a(front) +
      w64(outLo / 2) + w64(999L) // minAmountOut bound ‖ maxPrice
    val retIn = w64(outLo) + w64(1234L)
    val cdOut = "7c5e9ea4" + a(usdc) + w64(72712976L * 2) + a(front) +
      w64(outLo) + w64(999L) // exact tokenAmountOut ‖ maxPrice
    val retOut = w64(72712976L) + w64(1234L)
    val out = graft.domain.RealAbiSwapOps.balV1SwapDecode(
      Seq((cdIn, retIn, 0), (cdOut, retOut, 1), (cdIn, "", 0))
        .toDF("c", "r", "arm")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data"),
          col("arm")))
      .collect()
    val i = out(0)
    assert(i.getAs[String]("in_asset") == usdc &&
      i.getAs[String]("out_asset") == front)
    assert(i.getAs[Long]("amt_in") == 72712976L,
      "exactIn: the executed amount_in IS calldata word 1")
    assert(i.getAs[Long]("amt_out") == outLo,
      "exactIn: amount_out arrives in RETURN word 0")
    assert(i.getAs[Long]("cd_bound") == outLo / 2,
      "exactIn: word 3 is only the minAmountOut bound")
    val o = out(1)
    assert(o.getAs[Long]("amt_in") == 72712976L,
      "exactOut: amount_in arrives in RETURN word 0")
    assert(o.getAs[Long]("amt_out") == outLo,
      "exactOut: the executed amount_out IS calldata word 3")
    assert(o.getAs[Long]("cd_bound") == 72712976L * 2,
      "exactOut: word 1 is only the maxAmountIn bound")
    val n = out(2)
    assert(n.isNullAt(n.fieldIndex("amt_out")) &&
      n.isNullAt(n.fieldIndex("spot_after")),
      "an absent return buffer fails the return-decoded side, never misreads")
    assert(n.getAs[Long]("amt_in") == 72712976L,
      "the calldata side still decodes — the ladder can distinguish no_ret")
  }

  test("real_abi uniswapx: fills decode from topics; the first fill names the solver") {
    // uniswap_x.rs:13-131 — [..Fill*] collects every Fill event; the
    // Fill's orderHash/filler/swapper are all INDEXED (topic words
    // 0-2), only the nonce rides data. solver = fill_logs[0].filler —
    // order matters. Filler from the reference's
    // test_batch_classifier_with_call_back_eth (tx 3d8fbccb…):
    // 919f9173E2Dc833Ec708812B4f1CB11B1a17eFDe.
    val filler = "919f9173e2dc833ec708812b4f1cb11b1a17efde"
    val swapA = "aeac71b09aeaedc6a52cee06373a648cad620c20"
    val swapB = "0eae044f00b0af300500f090ea00027097d03000"
    def a(x: String) = "0" * 24 + x
    val ohash = "ab" * 32
    val fillA = (ohash + a(filler) + a(swapA), w64(7L))
    val fillB = (ohash + a(filler) + a(swapB), w64(9L))
    // truncated topics: only orderHash + filler — swapper must NULL
    val fillShort = (ohash + a(filler), w64(1L))
    val out = graft.domain.RealAbiSwapOps.unixFillDecode(
      Seq(fillA, fillB, fillShort).toDF("t", "d")
        .select(unhex(col("t")).as("fill_topics"),
          unhex(col("d")).as("fill_data")))
      .collect()
    val fa = out(0)
    assert(fa.getAs[String]("ohash_dec") == "ab" * 20,
      "the orderHash topic reads as a b32 (leading-20 identity)")
    assert(fa.getAs[String]("filler_dec") == filler,
      "solver = the fill's filler topic")
    assert(fa.getAs[String]("swapper_dec") == swapA &&
      fa.getAs[Long]("nonce_dec") == 7L)
    val fb = out(1)
    assert(fb.getAs[String]("filler_dec") == filler &&
      fb.getAs[String]("swapper_dec") == swapB,
      "each fill emits its own placeholder user swap keyed by its swapper")
    val fs = out(2)
    assert(fs.isNullAt(fs.fieldIndex("swapper_dec")),
      "a 2-topic Fill cannot yield a swapper — NULL, never a misread")
    assert(fs.getAs[String]("filler_dec") == filler)
  }
  test("real_abi zerox orders: the SAME body reads event-keyed word positions") {
    // zerox/mod.rs:471-596 — LimitOrderFilled inserts feeRecipient at
    // data word 3 and shifts every later field one word right of
    // RfqOrderFilled (ZeroXInterface.json); orderHash/maker/taker
    // (words 0-2) are the shared prefix. Plant ONE logical fill (USDC
    // taker side, WETH maker side, 1213920000 in / 360342259234585088
    // out) in BOTH geometries and assert the dispatched decode reads
    // identical values from different word slots.
    val usdc = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    val weth = "c02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
    val taker = "aeac71b09aeaedc6a52cee06373a648cad620c20"
    val feeR = "00000000000000000000000000000000000000ff"
    def a(x: String) = "0" * 24 + x
    val oh = "ab" * 32
    val pool = "cd" * 32
    val limit = oh + a("11" * 20) + a(taker) + a(feeR) + a(weth) +
      a(usdc) + w64(1213920000L) + w64(360342259234585088L) +
      w64(55L) + w64(777L) + pool
    val rfq = oh + a("11" * 20) + a(taker) + a(weth) + a(usdc) +
      w64(1213920000L) + w64(360342259234585088L) + pool
    // corrupt arm 1: the LIMIT buffer fed through the RFQ positions —
    // the shared prefix still reads, but "makerToken" lands on the
    // feeRecipient word: a silent one-word skew the dispatch exists to
    // prevent, made visible
    // corrupt arm 2: an rfq buffer truncated before its pool word
    val shortRfq = oh + a("11" * 20) + a(taker) + a(weth) + a(usdc) +
      w64(1L) + w64(2L)
    val out = graft.domain.RealAbiZeroXOps.zeroxOrderDecode(
      Seq((limit, true), (rfq, false), (limit, false), (shortRfq, false))
        .toDF("d", "l")
        .select(unhex(col("d")).as("log_data"), col("l").as("is_limit")))
      .collect()
    val lm = out(0)
    assert(lm.getAs[String]("taker_dec") == taker &&
      lm.getAs[String]("maker_tok") == weth &&
      lm.getAs[String]("taker_tok") == usdc,
      "limit: makerToken/takerToken read words 4/5")
    assert(lm.getAs[Long]("taker_fill") == 1213920000L &&
      lm.getAs[Long]("maker_fill") == 360342259234585088L)
    assert(lm.getAs[Long]("proto_fee") == 777L,
      "protocolFeePaid is word 9 of the limit event")
    assert(lm.getAs[String]("pool_dec") == "cd" * 20)
    val rf = out(1)
    assert(rf.getAs[String]("taker_dec") == taker,
      "word 2 is the shared prefix slot both events agree on")
    assert(rf.getAs[String]("maker_tok") == weth &&
      rf.getAs[String]("taker_tok") == usdc,
      "rfq: the SAME tokens decode from words 3/4")
    assert(rf.getAs[Long]("taker_fill") == 1213920000L &&
      rf.getAs[Long]("maker_fill") == 360342259234585088L,
      "rfq: the SAME amounts decode from words 5/6")
    assert(rf.isNullAt(rf.fieldIndex("proto_fee")),
      "rfq has no protocolFeePaid — the arm yields NULL, not a misread")
    assert(rf.getAs[String]("pool_dec") == "cd" * 20)
    val skew = out(2)
    assert(skew.getAs[String]("taker_dec") == taker)
    assert(skew.getAs[String]("maker_tok") == feeR,
      "a limit buffer read at rfq positions lands makerToken on the " +
        "feeRecipient word — the exact skew the event dispatch prevents")
    val sr = out(3)
    assert(sr.isNullAt(sr.fieldIndex("pool_dec")),
      "a 7-word rfq buffer has no pool word — NULL")
    assert(sr.getAs[Long]("taker_fill") == 1L)
  }

  test("real_abi zerox fan-out: four recipient sources behind one dispatch") {
    // zerox/mod.rs:11-123,338-466 + one_inch_fusion.rs:6-22 — the
    // recipient rides msg_sender (no decode), a calldata head word
    // PAST the bytes-offset word (96 = 3 head words for
    // sellEthForToken, 128 = 4 for the token sells), or the
    // LiquidityProviderSwap log's words 4/5. The bytes param
    // contributes ONLY its offset word to the head — static reads
    // stay static.
    val recip = "aeac71b09aeaedc6a52cee06373a648cad620c20"
    val prov = "655edce464cc797526600a462a8154650eee4b77"
    val usdc = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    def a(x: String) = "0" * 24 + x
    val path = w64(32L) + "ee" * 32
    val cd9 = "3598d8ab" + w64(96L) + w64(5000L) + a(recip) + path
    val cd10 = "803ba26d" + w64(128L) + w64(7777L) + w64(5000L) +
      a(recip) + path
    val lp = a(usdc) + a(usdc) + w64(1L) + w64(2L) + a(prov) + a(recip)
    // corrupt arm: a recipient word with a NONZERO pad must NULL
    val cdBad = "3598d8ab" + w64(96L) + w64(5000L) +
      ("11" + "0" * 22 + recip) + path
    val out = graft.domain.RealAbiZeroXOps.zeroxFanoutDecode(
      Seq((cd9, "", 9), (cd10, "", 10), ("", lp, 12), (cdBad, "", 9))
        .toDF("c", "d", "mi")
        .select(unhex(col("c")).as("calldata"),
          unhex(col("d")).as("log_data"), col("mi").as("m")))
      .collect()
    val r9 = out(0)
    assert(r9.getAs[Long]("off_dec") == 96L,
      "sellEthForToken: 3 head words, tail at byte 96")
    assert(r9.getAs[String]("recip_cd") == recip,
      "recipient reads head word 2, past the offset word")
    val r10 = out(1)
    assert(r10.getAs[Long]("off_dec") == 128L,
      "sellTokenForEth: 4 head words, tail at byte 128")
    assert(r10.getAs[String]("recip_cd") == recip,
      "recipient reads head word 3 when sellAmount is present")
    val r12 = out(2)
    assert(r12.getAs[String]("from_lp") == prov,
      "sellToLiquidityProvider: from = logs.provider, NOT the caller")
    assert(r12.getAs[String]("recip_lp") == recip,
      "recipient = logs.recipient, data word 5")
    val rb = out(3)
    assert(rb.isNullAt(rb.fieldIndex("recip_cd")),
      "a nonzero 12-byte pad is not an address — NULL, never truncate")
    assert(rb.getAs[Long]("off_dec") == 96L)
  }
test("real_abi compound init: the overload pair shifts the whole head one word") {
    // compound/discovery.rs:5-36 — initialize(address underlying_, ...)
    // for CErc20 vs the 6-param CEther overload; pool_address =
    // info.from_address (the delegatecalling cToken discovers ITSELF).
    // Both string head offsets and the trailing decimals_ word read one
    // word earlier on the CEther arm. cDAI values from the reference's
    // test_compound_v2_discovery (tx 090ce7d3…: pool 5d3a536e…).
    val dai = "6b175474e89094c44da98b954eedeac495271d0f"
    val cmp = "3d9819210a31b4961b30ef54be2aed79b9c9cd3b"
    val irm = "000000000000000000000000000000000000abcd"
    def a(x: String) = "0" * 24 + x
    val name = "Compound Dai"
    val sym = "cDAI"
    def strTail(s: String) = w64(s.length.toLong) +
      s.getBytes("UTF-8").map("%02x".format(_)).mkString.padTo(64, '0')
    val cdErc = "1a31d465" + a(dai) + a(cmp) + a(irm) +
      w64(20000000000000000L) + w64(224L) + w64(288L) + w64(8L) +
      strTail(name) + strTail(sym)
    val cdEth = "99d8c1b4" + a(cmp) + a(irm) +
      w64(20000000000000000L) + w64(192L) + w64(256L) + w64(8L) +
      strTail(name) + strTail(sym)
    // skew arm: the CErc20 buffer read at CEther positions — "name_off"
    // lands on the exchange-rate word, far past the buffer, so the
    // string walk must NULL rather than misread
    val out = graft.domain.RealAbiExtOps.compoundInitDecode(
      Seq((cdErc, 0), (cdEth, 1), (cdErc, 1)).toDF("c", "arm")
        .select(unhex(col("c")).as("calldata"), col("arm")))
      .collect()
    val e = out(0)
    assert(e.getAs[String]("underlying_dec") == dai,
      "CErc20: underlying_ leads the head")
    assert(e.getAs[Long]("rate_dec") == 20000000000000000L &&
      e.getAs[Long]("decimals_dec") == 8L)
    assert(e.getAs[String]("dec_name") == name &&
      e.getAs[String]("dec_sym") == sym,
      "both dynamic strings walk from head words 4/5")
    val h = out(1)
    assert(h.isNullAt(h.fieldIndex("underlying_dec")),
      "CEther has no underlying_ — NULL by arm, not a misread of word 0")
    assert(h.getAs[Long]("rate_dec") == 20000000000000000L &&
      h.getAs[Long]("decimals_dec") == 8L,
      "every scalar reads one word earlier on the 6-param overload")
    assert(h.getAs[String]("dec_name") == name &&
      h.getAs[String]("dec_sym") == sym,
      "the string offsets shift with the head (words 3/4)")
    val k = out(2)
    assert(k.isNullAt(k.fieldIndex("name_len")),
      "a CErc20 buffer at CEther positions points the name walk at the " +
        "exchange-rate word — out of bounds, NULL, never a garbled string")
  }
test("census: the onSwap overload pair differs ONLY in its head tail") {
    // balancer_v2.rs:20-77 - the onSwap_0 (IGeneralPool) and onSwap_1
    // (IMinimalSwapInfoPool) closures are character-identical; the
    // overload changes the selector and the words AFTER the SwapRequest
    // offset: a balances ARRAY + two indices (general) vs two scalar
    // balances (minimal). Pack the SAME SwapRequest under the general
    // head and assert the tuple fields decode identically while word 1
    // reads the balances array's OFFSET, not a balance.
    val usdc = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    val weth = "c02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
    val from = "aeac71b09aeaedc6a52cee06373a648cad620c20"
    def a(x: String) = "0" * 24 + x
    val poolId = "cd" * 32
    val tuple = w64(1L) + a(usdc) + a(weth) + w64(72712976L) + poolId +
      w64(17L) + a(from) + a(from) + w64(288L)
    val general = "01ec954a" + w64(128L) + w64(416L) + w64(0L) + w64(1L) +
      tuple + w64(2L) + w64(1000L) + w64(2000L)
    val minimal = "9d2c110c" + w64(96L) + w64(1000L) + w64(2000L) + tuple
    val out = graft.domain.RealAbiOps.onSwapDecode(
      Seq((general, "00"), (minimal, "00")).toDF("c", "r")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("tok_in_dec") == usdc &&
      g.getAs[String]("tok_out_dec") == weth &&
      g.getAs[Long]("amt_dec") == 72712976L,
      "the SwapRequest tuple decodes identically under the general head")
    assert(g.getAs[String]("pool_dec") == "cd" * 20)
    assert(g.getAs[Long]("bal_in") == 416L,
      "general overload: word 1 is the balances array OFFSET - the one " +
        "head difference the shared closure never reads")
    val m = out(1)
    assert(m.getAs[String]("tok_in_dec") == usdc &&
      m.getAs[Long]("amt_dec") == 72712976L,
      "minimal overload: same tuple fields through its 3-word head")
    assert(m.getAs[Long]("bal_in") == 1000L,
      "minimal overload: word 1 IS a scalar balance")
  }

  // ── planted bytes for the layouts whose queries carry no other golden ──

  test("real_abi dss flash: token/amount from CALLDATA, receiver from the TOPIC, fee from LOG data") {
    // maker/dss_flash.rs:6-39 — flashLoan(receiver, token, amount, data)
    // with FlashLoan(address indexed receiver, token, amount, fee)
    val recv = "00000000" + "aa" * 16
    val tok = "6b175474e89094c44da98b954eedeac495271d0f"
    def a(x: String) = "0" * 24 + x
    val cd = "5cffe9de" + a(recv) + a(tok) + w64(1000000L) + w64(128L) + w64(0L)
    val log = a(tok) + w64(1000000L) + w64(90L)
    val out = graft.domain.RealAbiOps.dssFlashDecode(
      Seq((cd, Option(a(recv)), Option(log)), (cd, None, None),
        (cd.patch(8, "01", 2), Option(a(recv)), Option(log)))
        .toDF("c", "t", "l")
        .select(unhex(col("c")).as("calldata"), unhex(col("t")).as("topic1"),
          unhex(col("l")).as("log_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("recv_cd") == recv && g.getAs[String]("tok_cd") == tok &&
      g.getAs[Long]("amt_cd") == 1000000L)
    assert(g.getAs[String]("recv_topic") == recv,
      "the receiver rides the indexed topic, not a data word")
    assert(g.getAs[String]("tok_log") == tok && g.getAs[Long]("amt_log") == 1000000L &&
      g.getAs[Long]("fee_log") == 90L)
    val n = out(1)
    assert(n.isNullAt(n.fieldIndex("amt_log")) && n.getAs[Long]("amt_cd") == 1000000L,
      "an absent event NULLs the log side only: flash_loan_field? fails first")
    val bad = out(2)
    assert(bad.isNullAt(bad.fieldIndex("recv_cd")),
      "a nonzero pad byte in the receiver word is not an address")
  }

  test("real_abi dodo buyShares: the three amounts ride the RETURN words") {
    // dodo/dodo_v2.rs:109-156 — buyShares(address to) returns
    // (shares, baseInput, quoteInput); a short return NULLs the missing word
    val to = "00000000" + "bb" * 16
    val cd = "4c85b425" + "0" * 24 + to
    val out = graft.domain.RealAbiOps.buySharesDecode(
      Seq((cd, w64(77L) + w64(0L) + w64(5000L)), (cd, w64(77L) + w64(12L)))
        .toDF("c", "r")
        .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret_data")))
      .collect()
    val g = out(0)
    assert(g.getAs[String]("to_dec") == to)
    assert(g.getAs[Long]("shares_dec") == 77L && g.getAs[Long]("base_dec") == 0L &&
      g.getAs[Long]("quote_dec") == 5000L, "a zero base side decodes AS zero")
    val s = out(1)
    assert(s.getAs[Long]("base_dec") == 12L && s.isNullAt(s.fieldIndex("quote_dec")),
      "a two-word return has no quoteInput")
  }

  test("real_abi zerox otc: OtcOrderFilled carries every field in its data words") {
    // ZeroXOtcOrdersFeature.json — OtcOrderFilled(bytes32 orderHash,
    // maker, taker, makerToken, takerToken, uint128 makerTokenFilledAmount,
    // uint128 takerTokenFilledAmount): nothing indexed, and makerToken
    // precedes takerToken
    val maker = "00000000" + "11" * 16
    val taker = "00000000" + "22" * 16
    val mTok = "a0b86991c6218b36c1d19d4a2e9eb0ce3606eb48"
    val tTok = "c02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
    def a(x: String) = "0" * 24 + x
    val log = "ef" * 32 + a(maker) + a(taker) + a(mTok) + a(tTok) +
      w64(2500000000L) + w64(1000000000000000000L)
    val r = graft.domain.RealAbiOps.otcFilledDecode(
      Seq(log).toDF("l").select(unhex(col("l")).as("log_data"))).head()
    assert(r.getAs[String]("maker_dec") == maker && r.getAs[String]("taker_dec") == taker)
    assert(r.getAs[String]("maker_tok") == mTok && r.getAs[String]("taker_tok") == tTok,
      "the order hash word is skipped, not read as an address")
    assert(r.getAs[Long]("maker_fill") == 2500000000L &&
      r.getAs[Long]("taker_fill") == 1000000000000000000L)
  }

  test("real_abi balancer register: poolId from the TOPIC, two parallel address arrays") {
    // balancer_v2.rs:203-216 — TokensRegistered(bytes32 indexed poolId,
    // address[] tokens, address[] assetManagers)
    val pool = "ba12222222228d8ba445958a75a0704d566bf2c8"
    def a(x: String) = "0" * 24 + x
    val (t0, t1) = ("11" * 20, "22" * 20)
    val (m0, m1) = ("33" * 20, "44" * 20)
    // tokens at 64 (2 head words), managers at 64 + 32 + 2*32 = 160
    val log = w64(64L) + w64(160L) + w64(2L) + a(t0) + a(t1) +
      w64(2L) + a(m0) + a(m1)
    val r = graft.domain.RealAbiOps.registerDecode(
      Seq((pool + "0002" + "00" * 10, log)).toDF("t", "l")
        .select(unhex(col("t")).as("topic1"), unhex(col("l")).as("log_data")))
      .head()
    assert(r.getAs[String]("pool_dec") == pool,
      "the poolId's leading 20 bytes are the pool; specialization is free")
    assert(r.getAs[Long]("n_tok") == 2L && r.getAs[Long]("n_mgr") == 2L)
    assert(r.getAs[String]("tok0") == t0 && r.getAs[String]("tok1") == t1)
    assert(r.getAs[String]("mgr0") == m0 && r.getAs[String]("mgr1") == m1)
    assert(r.isNullAt(r.fieldIndex("tok2")), "past the decoded length")
  }

  test("real_abi discovery: createPool calldata + return, Dodo NewPool data words") {
    // uniswap/discovery.rs:25-44 — createPool(tokenA, tokenB, fee) →
    // pool; dodo/discovery.rs:5-61 — NewPool(base, quote, creator, pool)
    import graft.domain.RealAbiOps.{CreatePoolCall, CreatePoolRet, NewPoolLog}
    def a(x: String) = "0" * 24 + x
    val (tA, tB) = ("c0" * 20, "a0" * 20)
    val (creator, pool) = ("cc" * 20, "dd" * 20)
    val r = Seq(("a1671295" + a(tA) + a(tB) + w64(3000L), a(pool),
        a(tA) + a(tB) + a(creator) + a(pool))).toDF("c", "r", "l")
      .select(unhex(col("c")).as("calldata"), unhex(col("r")).as("ret"),
        unhex(col("l")).as("log"))
    val call = CreatePoolCall.decode(r, "calldata").head()
    assert(call.getAs[String]("ta") == tA && call.getAs[String]("tb") == tB &&
      call.getAs[Long]("fee_dec") == 3000L)
    assert(CreatePoolRet.decode(r, "ret").head().getAs[String]("pool_dec") == pool,
      "the deployed pool is the create call's RETURN word")
    val log = NewPoolLog.decode(r, "log").head()
    assert(log.getAs[String]("ta") == tA && log.getAs[String]("tb") == tB &&
      log.getAs[String]("creator_dec") == creator && log.getAs[String]("pool_dec") == pool)
  }
}
