package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 scale rehearsal (VERDICT r8 task #7): synthesize a ~10× copy of the
  * sf0.1 fixture under /tmp and measure the heavy queries at both scales so
  * super-linear blowups that plan inspection can't show are caught by a
  * measured sf0.1→sf1 wall-clock ratio (linear scaling ⇒ ratio ≈ copies).
  *
  * Scaling model — facts scale, dimensions don't (the TPC-H SF contract,
  * and how a chain grows: more blocks, same pools/tokens):
  *   - lineitem/orders: K key-shifted copies. The shift is a multiple of
  *     192 above the max key, so `block_number = l_orderkey div 16`, the
  *     EOA rotation (`%4`, `div 64 % 3`) and builder frames extend the
  *     timeline with identical per-block structure.
  *   - events: K copies; event_id/user_id shifted (new users), ts shifted
  *     by the span so the stream timeline extends instead of densifying.
  *   - documents: K copies with every WORD copy-tagged (`c3_the`), so
  *     shingles across copies are disjoint — the near-dup RATE stays
  *     constant while the corpus grows K× (replicating text verbatim would
  *     inflate LSH bucket fan-out quadratically — a different experiment).
  *   - embeddings: K copies, vectors rotated by k positions (norm
  *     preserved, direction new) — a K×-corpus ANN workload, not K
  *     duplicate point-clouds.
  *   - region/nation/customer/supplier/part: copied as-is (dimensions).
  *
  * This writes ONLY under /tmp (testdata is read-only) and is evidence
  * tooling, not a registered query — oracles still run on driver data.
  *
  * Usage: runMain graft.ScaleRehearsal gen|run|both [q1,q2,...]
  *
  * The retired sf10, skew, cluster-branch and Big Mac profile probes keep
  * their results in SF1_REHEARSAL.json (`sf10_probe`, `skew_probe`,
  * `skew_domain`, `skew_domain_jit`, `cluster_branch`, `cluster_crossover`)
  * and their code at commit `09ecbec`.
  */
object ScaleRehearsal {
  val SrcDir = "/root/testdata/sf0.1"
  val OutDir = "/tmp/graft_sf1"
  val Copies = 10

  /** The heavy set: slowest legitimate queries of BENCH_full_r07 plus the
    * dedup/ANN scale paths whose behavior is corpus-size-sensitive. */
  val Heavy: Seq[String] = Seq(
    "r4_late_data", "a5_block_analysis_wide", "s5_write_behind",
    "d7_dedup_pipeline", "j2_dex_asof", "r4_stream_window",
    "d4_jaccard_verify", "j5_basket_fill", "r5_stream_fold", "r5_tick_fold",
    "q1_sandwich", "q5_jit", "d2_minhash_lsh", "s1_ann_bruteforce",
    "s3_ann_ivf",
    // round-9 second-half additions whose cost scales with the corpus
    // (the memoized trainers t_bpe_*/s7 are excluded: their timed pass
    // would measure the per-JVM cache, not the training)
    "t_decontaminate", "d10_substring_dedup", "t_bigram_lm",
    "d9_keep_best", "t_idf_top_terms",
    // third-wave additions (retrieval, sketches, trainers, scans). The
    // r8 stream joins were excluded at this point because their then
    // MemoryStream drive collected the feed to the driver; they joined
    // the list in round 10 once the drive went file-drop-driven (below)
    "rt1_bm25_topk", "rt2_hybrid_rrf", "sk1_kmv_distinct",
    "sk2_bloom_filter", "t_quality_lr", "s8_int8_quant",
    // fourth wave: block-bounded SemDeDup, CDC chunking, pixel dedup
    "d11_semantic_dedup", "d12_cdc_chunks", "mm_pixel_dedup",
    // round 10: the stream-stream joins + streaming dedup are now
    // file-drop-driven (no driver-collected feed), so the rehearsal
    // finally measures the OPERATOR; plus the Big Mac assembly, the
    // decimal accounting chain, and breadth to the full bench top-50
    "r8_stream_join", "r8_outer_join", "d8_stream_dedup", "q1_bigmac",
    "a1_delta_decimal", "j4_multihop", "j4_intermediary",
    "q4_cexdex_quotes", "j10_bundle_dedup", "q4_quote_windows",
    "j10_composer_dedup", "q3_global", "q2_requirement_arms",
    "j9_trigger_domain", "d5_dedup_clusters", "q3_reconstruct",
    "q2_atomic_arb", "d3_simhash", "f5_abi_tuple", "j7_pool_overlap",
    "p13_frontend_prunes", "j5_optimistic", "c6_tax_fixup",
    "r3_rendezvous", "j4_weighted_vwam", "q9_mev_block", "t_zipf_fit",
    "t_repetition_stats", "q3_cexdex_markout", "j4_staged_vwam",
    "q6_jit_cex_dex", "c5_multiframe_pair", "g6_price_emission",
    "q3_merge_swaps",
    // round 10, session 3: the new sketches — constant-size summaries
    // whose build pass must stay a linear scan at 10× corpus
    "sk3_hll_distinct", "sk4_cms_topk",
    // round 10, session 4: the inspector bundle/census surfaces — all
    // block-keyed equi-joins that must stay linear in the chain length
    "q7_liq_bundles", "q8_searcher_tx", "q9_possible_mev",
    "q9_builder_pnl", "q9_mev_count",
    // the trace-scale revert prune (prefix semi-join over the call tree)
    // and the hash-matched JitSandwich composition over bundle tables
    "p18_revert_subtree", "j11_composed",
    // round 11: the C5 liquidation stitch, the per-block collateral
    // valuation it feeds, and the registry-gated streaming discovery fold
    "c5_liquidation", "q7_liquidations", "c3_stream_discovery",
    // round 14: the streamed end-to-end tip inspection and the two new
    // continuous-corpus passes
    "r2_tip_inspect", "d15_line_dedup", "t_decontaminate_incr",
    "d16_incremental_url", "d17_stream_line_dedup",
    // round 15: the full-composer tip stream and the two new corpus passes
    "r2_tip_composer", "t_decontaminate_span", "mm_phash_dedup")

  private val Usage = "Usage: runMain graft.ScaleRehearsal gen|run|both [q1,q2,...]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("both")
    if (!Set("gen", "run", "both")(mode)) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val only = args.drop(1).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.forMain("32")
    if (mode != "run") gen(spark, Copies, OutDir)
    if (mode != "gen") run(spark, only)
    spark.stop()
  }

  private def keySpan(s: SparkSession): Long = {
    val mx = s.read.parquet(s"$SrcDir/orders.parquet")
      .agg(max("o_orderkey")).head().getLong(0)
    (mx / 192 + 1) * 192
  }

  def gen(spark: SparkSession, copiesN: Int, outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[sfgen $outDir] $name done")
    }
    def src(name: String) = spark.read.parquet(s"$SrcDir/$name.parquet")
    // dimensions: verbatim
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(t, src(t)))
    val span = keySpan(spark)
    def copies(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(copiesN).select(col("id").as("copy_k")))
    write("lineitem", copies(src("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("copy_k") * span)
      .drop("copy_k"))
    write("orders", copies(src("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy_k") * span)
      .drop("copy_k"))
    // the fixture types ts as TIMESTAMP_NTZ (or INT64 nanos in other
    // driver generations) — normalize through TIMESTAMP for the micros math
    val ev = src("events").withColumn("ts", col("ts").cast("timestamp"))
    val tsSpanUs = ev.agg((unix_micros(max("ts")) - unix_micros(min("ts")) +
      3600L * 1000000L).as("s")).head().getLong(0)
    write("events", copies(ev)
      .withColumn("event_id", col("event_id") + col("copy_k") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("copy_k") * 1000000L)
      .withColumn("ts", timestamp_micros(unix_micros(col("ts")) +
        col("copy_k") * tsSpanUs).cast("timestamp_ntz"))
      .drop("copy_k"))
    write("documents", copies(src("documents"))
      .withColumn("doc_id", col("doc_id") + col("copy_k") * 1000000000L)
      .withColumn("text", when(col("copy_k") === 0, col("text")).otherwise(
        concat_ws(" ", transform(split(col("text"), " "),
          w => concat(lit("c"), col("copy_k"), lit("_"), w)))))
      .withColumn("n_chars", length(col("text")))
      .drop("copy_k"))
    write("embeddings", copies(src("embeddings"))
      .withColumn("vec_id", col("vec_id") + col("copy_k") * 1000000000L)
      .withColumn("embedding", expr(
        """concat(slice(embedding, cast(copy_k % size(embedding) + 1 as int),
             size(embedding) - cast(copy_k % size(embedding) as int)),
           slice(embedding, 1, cast(copy_k % size(embedding) as int)))"""))
      .drop("copy_k"))
  }

  /** Wall-clock seconds of one query, run and consumed in its own
    * [[Pins.scope]]. The tip entries memoize their shared stream per JVM,
    * so the memo is reset first: a rehearsal times the STREAM, not the
    * stored-table read-back. */
  private def timeQuery(spark: SparkSession, name: String, dir: String): Double = {
    graft.streaming.TipInspect.resetTipRuns()
    val t0 = System.nanoTime()
    Pins.scope(SparkEntry.queries(name)(spark, dir)
      .write.mode("overwrite").format("noop").save())
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, only: Option[Set[String]]): Unit = {
    val names = Heavy.filter(n => only.forall(_.contains(n)))
    // untimed warm-up at each scale: JVM/codegen + the one-time fixture
    // materialization for the dir (actions/traces parquet store)
    names.foreach { n =>
      try { timeQuery(spark, n, SrcDir); timeQuery(spark, n, OutDir) }
      catch { case e: Throwable =>
        println(s"[sf1-warm] $n FAILED: ${e.getMessage}") }
    }
    val rows = names.flatMap { n =>
      try {
        val a = timeQuery(spark, n, SrcDir); val b = timeQuery(spark, n, OutDir)
        println(f"[sf1] $n%-28s sf0.1 $a%7.2fs  sf1 $b%7.2fs  ratio ${b / a}%5.2f")
        Some((n, a, b))
      } catch { case e: Throwable =>
        println(s"[sf1] $n FAILED: ${e.getMessage}"); None }
    }
    val js = rows.map { case (n, a, b) =>
      f""""$n":{"sf01":$a%.3f,"sf1":$b%.3f,"ratio":${b / a}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"sf1_rehearsal","copies":$Copies,"queries":$js}""")
  }
}
