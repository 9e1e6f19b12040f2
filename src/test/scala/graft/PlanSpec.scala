package graft

import graft.domain.InspectorOps

/** Physical-plan assertions for the scale-critical queries: the properties
  * VERDICT r1 flagged must hold in `explain` output, not just in intent. */
class PlanSpec extends SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, SfDir).queryExecution.executedPlan.toString

  /** Asserts that the expression behind each facade column implements
    * `doGenCode` itself rather than falling back to interpreted eval. */
  private def assertNotFallback(cs: org.apache.spark.sql.Column*): Unit =
    for (c <- cs) {
      val e = org.apache.spark.sql.GraftColumnBridge.expression(c)
      assert(!e.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback], e)
    }

  private val dummyBin = org.apache.spark.sql.functions.lit(Array[Byte](1, 2, 3, 4))

  test("d12 reads its chunk table through the cache it pins") {
    // the chunk table feeds the shared-chunk rollup and the per-source
    // rollup; released before the lazy result runs, it is derived twice
    val p = Pins.scope(plan("d12_cdc_chunks"))
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q6 filter is pushed down to the parquet scan") {
    val p = plan("q6_filtered_sum")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_discount") && p.contains("l_quantity"), p)
  }

  test("j6 sandwich-pattern victim match is NOT a nested-loop join") {
    assert(!plan("j6_sandwich_pattern").contains("BroadcastNestedLoopJoin"))
  }

  test("q1 sandwich inspector victim match is NOT a nested-loop join") {
    assert(!plan("q1_sandwich").contains("BroadcastNestedLoopJoin"))
  }

  test("q3/q5 do not broadcast fact-derived join sides") {
    // With size-based broadcasting disabled, any remaining BroadcastExchange
    // comes from an explicit broadcast() hint — only the dimension tables
    // (customer filter, nation, region) may carry one, so the fact⋈fact
    // joins must appear as shuffle joins.
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val p3 = plan("q3_top_orders")
      val p5 = plan("q5_region_revenue")
      assert(p3.contains("SortMergeJoin") || p3.contains("ShuffledHashJoin"), p3)
      assert(p5.contains("SortMergeJoin") || p5.contains("ShuffledHashJoin"), p5)
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("s1 ANN brute force never shuffles exploded vector elements") {
    val p = plan("s1_ann_bruteforce")
    assert(!p.contains("Generate posexplode"), p)
  }

  test("s3 trained-IVF probe never shuffles exploded vector elements") {
    // training's (cell, pos) rollup runs in its own jobs; the PROBE plan
    // must stay a broadcast-fold: no element explode, no nested loop on
    // the inverted-list join
    val p = plan("s3_ann_ivf")
    assert(!p.contains("Generate posexplode"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("actions block-range scan prunes partitions at the source") {
    val p = plan("s2_actions_range_scan")
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("block_bucket"), p)
  }

  test("a5 wide BlockAnalysis has no Expand node anywhere in the plan") {
    // the ~128-column matrix must come from grain passes + pivots, never
    // from multi-countDistinct Expand (which multiplies every action row)
    assert(!plan("a5_block_analysis_wide").contains("Expand"))
  }

  test("JIT and composer candidate joins are never nested-loop") {
    assert(!plan("q5_jit").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q5_jit_real").contains("BroadcastNestedLoopJoin"))
    // loans × child transfers is a (tx, token) equi-join, never nested-loop
    assert(!plan("c5_flashloan_real").contains("BroadcastNestedLoopJoin"))
    // settle frames × per-frame trade rollup joins on (tx, trace_idx)
    assert(!plan("c5_settle_real").contains("BroadcastNestedLoopJoin"))
    assert(!plan("j10_composer_dedup").contains("BroadcastNestedLoopJoin"))
    assert(!plan("j10_bundle_dedup").contains("BroadcastNestedLoopJoin"))
    assert(!plan("j4_staged_vwam").contains("BroadcastNestedLoopJoin"))
  }

  test("q3 validity matrix and j4 intermediary stay equi-keyed") {
    // the per-exchange PnL rollup and the two leg joins must be shuffle/
    // broadcast hash joins on their keys, never a nested loop
    assert(!plan("q3_global").contains("BroadcastNestedLoopJoin"))
    assert(!plan("j4_intermediary").contains("BroadcastNestedLoopJoin"))
  }

  test("g2 path enumeration expands frontiers by equi-join, never nested-loop") {
    assert(!plan("g2_paths_enum").contains("BroadcastNestedLoopJoin"))
  }

  test("j4 multihop legs join trades equi-keyed; the route table is broadcast") {
    for (q <- Seq("j4_intermediary", "j4_multihop")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      // the route table (one or two hops) is token-space-sized and must
      // reach the legs by broadcast, never by shuffling the trades fact
      // on a tiny side
      assert(p.contains("BroadcastExchange"), p)
    }
  }

  test("s3 SQL-text decode plans the same codegen'd expressions as the Column API") {
    val q = SparkEntry.queries("s3_sql_decode")(spark, SfDir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) [^\n]*abi_word""".r.findFirstIn(p).isDefined, p)
  }

  test("classification decode plan joins only broadcast dimensions") {
    val p = plan("c2_dispatch")
    // the trace fact reaches its rollup through broadcast joins only: no
    // sort-merge join anywhere in the decode path
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("indirected decodes stay broadcast-only and never fall out of codegen") {
    // Curve (pool, coin_index) registry joins, Balancer poolId->pair join,
    // and the array-of-struct explode: all dimensions broadcast, the trace
    // fact never shuffles into a sort-merge join
    val broadcastOnly = Set("c1_curve_indexed", "c1_balancer_poolid",
      "f5_abi_tuple", "f5_abi_string", "c1_psm_swap", "c1_curve_underlying",
      "c1_univ3_swap", "c1_balancer_onswap", "c1_univ2_swap",
      "c1_compound_liquidation", "c1_univ3_mint",
      "c1_univ3_burn_collect", "c3_curve_factory", "c1_aave_flashloan",
      "c1_clipper_swap", "c1_balv1_swap", "c3_balv1_bind",
      "c5_unix_batch", "c2_real_fanout", "c1_zerox_orders",
      "c2_zerox_fanout", "c5_zerox_batchfill", "c3_compound_init",
      "c2_census_curve", "c2_census_misc")
    // every whole-stage span of every ABI-layout query must COMPILE: a
    // span whose generated method grows past 64 KB stays in the plan
    // while Spark runs it interpreted, so a rendered `*(n)` proves nothing
    val modules = Seq(graft.domain.RealAbiOps, graft.domain.RealAbiSwapOps,
      graft.domain.RealAbiZeroXOps, graft.domain.RealAbiExtOps,
      graft.domain.IndirectOps, graft.domain.CensusOps)
    val queries = modules.flatMap(_.defs.map(_.name))
    assert(queries.size == 41 && broadcastOnly.subsetOf(queries.toSet))
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val failed = queries.flatMap(q => Pins.scope {
      val df = SparkEntry.queries(q)(spark, SfDir)
      df.collect() // finalize the AQE plan so codegen spans are rendered
      val plan = df.queryExecution.executedPlan
      val p = plan.toString
      if (broadcastOnly(q)) {
        assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      }
      val spans = Plans.collect(plan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(spans.nonEmpty, s"$q has no whole-stage span:\n$p")
      spans.flatMap { w =>
        scala.util.Try(org.apache.spark.sql.catalyst.expressions.codegen
          .CodeGenerator.compile(w.doCodeGen()._2)).failed.toOption
          .map(e => s"$q *(${w.codegenStageId}): ${e.getMessage.take(200)}")
      }
    })
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("abi decode expressions are codegen'd, not fallback") {
    import graft.functions.AbiCalldata.{abi_selector, abi_word}
    import org.apache.spark.sql.functions._
    // the expressions implement doGenCode directly
    assertNotFallback(abi_word(dummyBin, 0), abi_selector(dummyBin))
    // eval parity: codegen'd projection == hand-computed ground truth
    val df = spark.range(5).select(
      unhex(concat(lit("a9059cbb"),
        lpad(lower(hex(col("id") * 7)), 64, "0"),
        lpad(lower(hex(col("id") + 100)), 64, "0"))).as("cd"),
      col("id"))
    val out = df.select(
        graft.functions.AbiCalldata.abi_selector(col("cd")).as("sel"),
        graft.functions.AbiCalldata.abi_word(col("cd"), 0).as("w0"),
        graft.functions.AbiCalldata.abi_word(col("cd"), 1).as("w1"),
        graft.functions.AbiCalldata.abi_word(col("cd"), 2).as("w2"),
        col("id"))
      .collect()
    out.foreach { r =>
      assert(r.getString(0) == "a9059cbb")
      assert(r.getLong(1) == r.getLong(4) * 7)
      assert(r.getLong(2) == r.getLong(4) + 100)
      assert(r.isNullAt(3)) // word 2 is past the end
    }
    // the decode projection stays inside whole-stage codegen (execute
    // first: under AQE the codegen spans only appear in the final plan)
    val q = SparkEntry.queries("f5_abi_decode_bin")(spark, SfDir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // `*(N)` is the WholeStageCodegen marker in the final-plan rendering;
    // the Project carrying the decode expressions must sit inside a span
    assert("""\*\(\d+\) Project \[[^\n]*abi_word""".r.findFirstIn(p).isDefined, p)
  }

  test("heterogeneous-layout abi expressions are codegen'd, not fallback") {
    import org.apache.spark.sql.functions._
    import graft.functions.AbiCalldata._
    assertNotFallback(abi_int_word(dummyBin, 0), abi_log_word(dummyBin, 0),
      abi_array_len(dummyBin, 0), abi_array_elem(dummyBin, 0, 0),
      abi_array_address(dummyBin, 0, 0), abi_address(dummyBin, 0),
      abi_log_array_len(dummyBin, 0), abi_log_array_elem(dummyBin, 0, 0),
      abi_log_array_address(dummyBin, 0, 0))
    // eval parity over all four layouts, including the signed negative
    // word and the offset-followed tail: id>=1 so -id is genuinely negative
    val df = spark.range(1, 6).select(
      // int256 pair: +7id ‖ −id
      unhex(concat(lit("128acb08"),
        lpad(lower(hex(col("id") * 7)), 64, "0"),
        concat(lit("f" * 48), lower(hex(-col("id")))))).as("cd_int"),
      // dyn array: offset(0x40) ‖ scalar(id+100) ‖ len(2) ‖ id ‖ id+7
      unhex(concat(lit("3df02124"),
        lpad(lit("40"), 64, "0"),
        lpad(lower(hex(col("id") + 100)), 64, "0"),
        lpad(lit("2"), 64, "0"),
        lpad(lower(hex(col("id"))), 64, "0"),
        lpad(lower(hex(col("id") + 7)), 64, "0"))).as("cd_arr"),
      // bare log words: 3id ‖ 5id
      unhex(concat(
        lpad(lower(hex(col("id") * 3)), 64, "0"),
        lpad(lower(hex(col("id") * 5)), 64, "0"))).as("lg"),
      col("id"))
    val out = df.select(
        abi_int_word(col("cd_int"), 0).as("i0"),
        abi_int_word(col("cd_int"), 1).as("i1"),
        abi_array_len(col("cd_arr"), 0).as("alen"),
        abi_array_elem(col("cd_arr"), 0, 0).as("e0"),
        abi_array_elem(col("cd_arr"), 0, 1).as("e1"),
        abi_array_elem(col("cd_arr"), 0, 2).as("e2"),
        abi_word(col("cd_arr"), 1).as("scalar"),
        abi_log_word(col("lg"), 0).as("l0"),
        abi_log_word(col("lg"), 1).as("l1"),
        col("id"))
      .collect()
    out.foreach { r =>
      val id = r.getLong(9)
      assert(r.getLong(0) == id * 7)
      assert(r.getLong(1) == -id) // two's-complement sign decode
      assert(r.getLong(2) == 2L)
      assert(r.getLong(3) == id)
      assert(r.getLong(4) == id + 7)
      assert(r.isNullAt(5)) // past the decoded length
      assert(r.getLong(6) == id + 100)
      assert(r.getLong(7) == id * 3)
      assert(r.getLong(8) == id * 5)
    }
    // decode projection stays inside whole-stage codegen for the new paths
    for (name <- Seq("f5_abi_int256", "f5_abi_dyn_array", "c1_log_decode")) {
      val q = SparkEntry.queries(name)(spark, SfDir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) (Project|Filter) \[?[^\n]*abi_""".r.findFirstIn(p).isDefined,
        s"$name:\n$p")
    }
  }

  test("tuple/return-data abi expressions are codegen'd, not fallback") {
    import graft.functions.AbiCalldata._
    assertNotFallback(abi_ret_int(dummyBin, 0), abi_tuple_word(dummyBin, 0, 0),
      abi_tuple_address(dummyBin, 0, 0), abi_pool_id_address(dummyBin, 0, 0),
      abi_log_address(dummyBin, 0), abi_array_int(dummyBin, 0, 0),
      abi_log_array_int(dummyBin, 0, 0), abi_b32_prefix(dummyBin, 0),
      abi_log_b32_prefix(dummyBin, 0))
    // the new real-layout decode queries keep their projections inside
    // whole-stage codegen spans
    for (name <- Seq("c1_univ3_swap", "c1_balancer_onswap",
        "c1_compound_liquidation", "c1_balancer_join_exit")) {
      val q = SparkEntry.queries(name)(spark, SfDir)
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert("""\*\(\d+\) (Project|Filter) \[?[^\n]*abi_""".r.findFirstIn(p).isDefined,
        s"$name:\n$p")
    }
  }

  test("c1_aave_liquidation: the only shuffle join is the per-tx roots equi-join") {
    // pool/token dims broadcast; the trace-grain roots lookup is a keyed
    // equi-join (block-local at scale), never a nested-loop join
    val df = SparkEntry.queries("c1_aave_liquidation")(spark, SfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert("""\*\(\d+\)""".r.findFirstIn(p).isDefined, p)
  }

  test("c8/c3 scans prune unused fixture columns at the parquet source") {
    // The round-4 fixture widening (trace_address arrays, calldata bytes)
    // must not be paid by queries that never reference those columns: the
    // parquet ReadSchema has to carry only what the query touches.
    val p8 = plan("c8_coinbase")
    val rs8 = "ReadSchema: ([^\n]*)".r.findAllMatchIn(p8).map(_.group(1)).toSeq
    assert(rs8.nonEmpty, p8)
    assert(!rs8.exists(_.contains("trace_address")), rs8.mkString("\n"))
    val p3 = plan("c3_discovery")
    val rs3 = "ReadSchema: ([^\n]*)".r.findAllMatchIn(p3).map(_.group(1)).toSeq
    assert(rs3.nonEmpty, p3)
    assert(!rs3.exists(s => s.contains("trace_address") || s.contains("selector")),
      rs3.mkString("\n"))
  }

  test("q4 forward-markout windows share ONE fused as-of join") {
    // the t2/t12/t60 windows ride a single salted as-of over exploded
    // (tag, target) rows — three sequential joins would show three
    // event-volume window pipelines (6+ __b-salted specs vs the fused 2:
    // carry + in-bucket) and no Generate
    val p = plan("q4_quote_windows")
    assert(p.contains("Generate explode"), p)
    val salted = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).filter(_.contains("__b")).toSeq
    assert(salted.nonEmpty && salted.size <= 2,
      s"expected the single fused as-of (<=2 salted specs), got ${salted.size}")
  }

  test("low-cardinality as-of windows are salted by a time bucket") {
    // The event-volume as-of window must partition by (key, __b) — a bare
    // 42-token or 60-pair key would sort each key's entire history in one
    // task at scale. The salted window spec carries the __b bucket column.
    for (name <- Seq("j2_dex_asof", "q4_cexdex_quotes")) {
      val p = plan(name)
      val specs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(p).map(_.group(1)).toSeq
      assert(specs.nonEmpty, s"$name: no window specs in plan")
      val salted = specs.filter(s => s.contains("__b"))
      assert(salted.nonEmpty, s"$name: no bucket-salted window spec:\n$p")
    }
  }

  test("PQ ADC probe broadcasts the query tables and never cross-joins") {
    // The codes scan is the big side at scale: the per-query distance
    // tables must arrive by broadcast, and nothing may degrade to a
    // cartesian/nested-loop pairing of queries x corpus.
    val p = plan("s5_ann_pq")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("s6 random projection is one scan with a constant folded sign matrix") {
    // the sign matrix is a literal: no join of any kind may appear, and the
    // only exchange is the partial->final label rollup
    val p = plan("s6_rp_reduce")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(p.count(_ == '\n') < 40, s"plan unexpectedly deep:\n$p")
  }

  test("d12 CDC boundary kernel is codegen'd and matches the SQL-form predicate") {
    val p = plan("d12_cdc_chunks")
    assert(p.contains("cdc_boundaries"), p)
    // the native kernel must agree position-for-position with the
    // SQL-expressible lambda it replaced, on every fixture document
    import org.apache.spark.sql.functions.col
    val df = Tables.documents(spark, SfDir)
      .withColumn("n", org.apache.spark.sql.functions.length(col("text")))
    val native = df.select(col("doc_id"),
        graft.functions.TextHash.cdc_boundaries(col("text")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val sqlForm = df.select(col("doc_id"), org.apache.spark.sql.functions.expr(
        """filter(transform(sequence(1, n),
             i -> IF(i = 1 OR (i + 7 <= n
               AND substring(md5(substring(text, i, 8)), 1, 1) = '0'),
               i, CAST(NULL AS INT))),
           x -> x IS NOT NULL)""").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(native == sqlForm)
  }

  test("funnel, cohort, and retrieval joins never degrade to nested loops") {
    // w5's stage joins are user-keyed; w6's cohort join is user-keyed;
    // rt1/rt2 join query terms/vectors against posting-shaped tables.
    // The only nested-loop allowed anywhere is a broadcast of a
    // SINGLE-ROW statistics table (rt1/rt2's avgdl / corpus-count sides).
    for (q <- Seq("w5_funnel", "w6_cohort_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    for (q <- Seq("rt1_bm25_topk", "rt2_hybrid_rrf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("sketch and dedup block joins stay equi-keyed") {
    for (q <- Seq("sk1_kmv_distinct", "d12_cdc_chunks")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: $p")
    }
    // d11 scores every vector against the CELLS-sized centroid table by a
    // broadcast cross — the intended assignment shape (like s1's broadcast
    // query side); only a SHUFFLE cartesian would be a scale bug
    assert(!plan("d11_semantic_dedup").contains("CartesianProduct"))
  }

  test("multimodal codec passes are single-scan: one shuffle to the rollup") {
    // decode/resize/frame-sample/audio are row-local mapPartitions passes;
    // the only exchange allowed is the final partial->final aggregation.
    for (name <- Seq("mm_resize", "mm_frame_sample", "mm_audio_features")) {
      val p = plan(name)
      val exchanges = "Exchange ".r.findAllMatchIn(p).size
      assert(exchanges <= 2, s"$name: $exchanges exchanges in plan:\n$p")
    }
  }

  test("q2 requirement ladder joins facts equi-keyed, dimensions broadcast") {
    val p = plan("q2_requirement_arms")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q1_bigmac chain assembly joins are all equi-keyed (no nested loop)") {
    // candidate chains, gap victims, pool-reach and range verification all
    // key on (block, keying, key, seg) — a nested-loop anywhere means the
    // per-block assembly degenerated to a cross product
    assert(!plan("q1_bigmac").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q1_bigmac").contains("CartesianProduct"))
  }

  test("c5 batch/aggregator frame joins are equi-keyed on (tx, span)") {
    assert(!plan("c5_batch_solver").contains("BroadcastNestedLoopJoin"))
    assert(!plan("c5_aggregator").contains("BroadcastNestedLoopJoin"))
  }

  test("q9_possible_mev removes claimed txs by anti-join, stats by equi-join") {
    // the claimed-set removal must plan as a LeftAnti (semi-join shape, no
    // row multiplication) and the block-stats attach as an equi-join —
    // a nested loop would mean the per-block σ lookup degenerated
    val p = plan("q9_possible_mev")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q7/q8 bundle emissions never nested-loop the unpriced-tx flag") {
    assert(!plan("q7_liq_bundles").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q8_searcher_tx").contains("BroadcastNestedLoopJoin"))
  }

  test("q9_builder_pnl joins block-keyed only; searcher set is a semi-join") {
    val p = plan("q9_builder_pnl")
    assert(p.contains("LeftSemi"), p) // vertically-integrated ownership
    assert(!p.contains("CartesianProduct"), p)
  }

  test("rt1/rt2 read the materialized BM25 score table, not a rebuilt pipeline") {
    // after materialization the ranking consumes a parquet scan of the
    // compact (q_doc, cand, bm25) table: the corpus tf/df explode
    // (Generate over the split text) must be absent from the query plan
    val p = plan("rt1_bm25_topk")
    assert(!p.contains("Generate explode"), p)
  }

  test("p18 revert prune drops subtrees via semi-join, counts via equi-join") {
    val p = plan("p18_revert_subtree")
    assert(p.contains("LeftSemi"), p)
  }

  test("c3_factory_decode is a single dimension pass, decode in codegen") {
    val p = plan("c3_factory_decode")
    // the whole decode runs over the Range-sourced pool dimension — no
    // fact scan, no join of any kind in the plan
    assert(p.contains("Range ("), p)
    assert(!p.contains("Join"), p)
  }

  test("a1_delta_decimal never touches a DOUBLE op between source and output") {
    // the decimal chain's point is NO floating arithmetic: the only
    // double appearance allowed is the micro-unit recovery ROUND(x*1e6)
    // at the leaves (the source columns are double)
    val p = plan("a1_delta_decimal")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("DECIMAL") || p.toLowerCase.contains("decimal"), p)
  }

  test("d15 line dedup: dup set is a broadcast probe, no nested loop") {
    // the corpus-wide state is the line-hash df table; the surviving-text
    // rebuild must join the (small) dup set broadcast and never pair
    // lines against lines
    val p = plan("d15_line_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("incremental passes (t_decontaminate_incr, d16) stay equi-keyed") {
    // both snapshots' probes are gram-/canon-keyed equi-joins bounded by
    // the new batch — a nested loop here would rescan the corpus per row
    for (n <- Seq("t_decontaminate_incr", "d16_incremental_url")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
      assert(!p.contains("CartesianProduct"), s"$n:\n$p")
    }
  }

  /** The foreachBatch body's inputs over the whole trace table, uncut, so
    * the plans below are the full classify → sandwich → composer lineage
    * from the trace slice, not a store scan. */
  private def sliceInputs = InspectorOps.ComposerInputs.ofSlice(spark,
    graft.domain.ChainFixture.tracesTable(spark, SfDir), InspectorOps.NoCut)

  test("r2 tip inspection emits through a checkpointed stream, batch cores intact") {
    // the composed per-batch body must keep the batch path's shapes: no
    // nested-loop victim match and no cartesian anywhere in the bundle
    // union that lands in the sink
    val out = SparkEntry.queries("r2_tip_inspect")(spark, SfDir)
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the streamed result was written per micro-batch: reading it back
    // is a plain scan, so the heavy assertion rides the shared core —
    // inspectBundles IS the foreachBatch body
    val core = graft.streaming.TipInspect.inspectBundles(sliceInputs, 0L)
      .queryExecution.executedPlan.toString
    assert(!core.contains("BroadcastNestedLoopJoin"), core)
    assert(!core.contains("CartesianProduct"), core)
  }

  test("r2 tip composer core: seven candidate surfaces, dedup, no cartesian") {
    // the full-composer foreachBatch body — same discipline as the
    // inspect core: every candidate build, both dedup layers, and the
    // MevBlock rollup stay equi-keyed
    val core = graft.streaming.TipInspect
      .composedMevOf(sliceInputs, 0L, InspectorOps.NoCut)
      .queryExecution.executedPlan.toString
    assert(!core.contains("BroadcastNestedLoopJoin"), core)
    assert(!core.contains("CartesianProduct"), core)
  }

  test("mm_phash_dedup pairs via the banded equi-join, never all-pairs") {
    // the Hamming-LSH discipline: candidates come from a (band, value)
    // hash join; a nested loop or cartesian would pair every image
    // against every image
    val p = plan("mm_phash_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t_decontaminate_span stays gram-keyed with broadcast eval sides") {
    // the eval gram index and eval texts are dimension-sized broadcasts;
    // the corpus side joins by gram hash — never a corpus scan per pair
    val p = plan("t_decontaminate_span")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
  }
}
