package graft.queries

import graft.ops.ExactAgg
import graft.{Pins, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sketch operators — the approximate-analytics layer a
  * 100 TB pipeline leans on when exact answers are not worth their shuffle:
  * KMV (k-minimum-values) distinct-count estimation and Bloom-filter
  * membership. Both sketches are built from md5 (identical in Spark and
  * DuckDB), so unlike engine-private HLL/bloom implementations
  * (approx_count_distinct, BloomFilterAggregate) every bit of the sketch —
  * and therefore the estimate itself — is oracle-checkable hash-exactly.
  *
  * Scale shape: a sketch is a CONSTANT-size summary built in one
  * map-side-combinable pass (bit_or / top-k rollup); merging partial
  * sketches across partitions is exactly the bit_or / min-k of the
  * partials, which is why these run as plain aggregations at any scale.
  */
object SketchOps extends QueryModule {

  def defs: Seq[QueryDef] =
    Seq(kmvDistinct, bloomFilter, hllDistinct, cmsHeavyHitters, quantileSketch)

  /** Integer value of md5 hex chars [from, from+n) of column `h` — the
    * engine-portable uniform hash both sketches draw bits from. */
  private def nibbleVal(from: Int, n: Int): String =
    (0 until n).map { i =>
      val p = math.pow(16.0, (n - 1 - i).toDouble).toLong
      s"(instr('0123456789abcdef', substring(h,${from + i},1))-1)*${p}L"
    }.mkString("(", " + ", ")")

  /** DuckDB spelling of [[nibbleVal]] (no L suffix; same algebra). */
  private def nibbleValSql(from: Int, n: Int): String =
    (0 until n).map { i =>
      val p = math.pow(16.0, (n - 1 - i).toDouble).toLong
      s"(instr('0123456789abcdef', substring(h,${from + i},1))-1)*CAST($p AS BIGINT)"
    }.mkString("(", " + ", ")")

  private val KmvK = 64

  /** Distinct (source, shingle, md5) — sk1 and sk3 summarize exactly this
    * stream, so the corpus explode + distinct runs ONCE per (JVM, dir)
    * and both sketches read the compact table (the d4/BM25
    * persisted-intermediate pattern; a narrow derived table, so pruning
    * is unaffected). */
  private def distinctShingleHashes(
      s: org.apache.spark.sql.SparkSession, dir: String) = {
    import graft.domain.ChainFixture
    ChainFixture.materializeWith(s,
      s"${ChainFixture.matRoot(s)}_skshingle_${ChainFixture.dirKey(dir)}")(
      p => shingleHashes(s, dir).select(col("source"), col("sh")).distinct()
        .withColumn("h", md5(col("sh")))
        .write.mode("overwrite").parquet(p))
  }

  /** Distinct word-3-gram shingles per source with their md5 — the input
    * stream both sketches summarize. */
  private def shingleHashes(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), expr(
        """explode(if(size(split(text, ' ')) >= 3,
          transform(sequence(1, size(split(text, ' ')) - 2),
            i -> concat_ws(' ', slice(split(text, ' '), i, 3))),
          array()))""").as("sh"))

  private val shSqlCte =
    """shs AS (SELECT source, doc_id,
        w[i.i] || ' ' || w[i.i+1] || ' ' || w[i.i+2] AS sh
      FROM (SELECT source, doc_id, string_split(text,' ') AS w FROM documents),
           LATERAL unnest(generate_series(1, len(w) - 2)) AS i(i))"""

  /** SK1: KMV distinct-count estimation (Bar-Yossef et al., the
    * k-minimum-values sketch): per source, keep the K smallest md5 values
    * of the distinct shingles; with u_K = the K-th smallest as a fraction
    * of the hash space, distinct ≈ (K-1)/u_K. The fraction is read from
    * the first 12 hex nibbles (48 uniform bits). Reported against the
    * exact distinct count with the relative error — the honest measure an
    * approximate operator ships with. The sketch state is K hashes per
    * group: the rollup is a bounded top-k, mergeable across partitions. */
  private val kmvDistinct = QueryDef(
    "sk1_kmv_distinct",
    (s, dir) => {
      val sh = distinctShingleHashes(s, dir)
      val exact = sh.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      val kth = sh
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("h").asc)))
        .filter(col("rk") === KmvK)
        .withColumn("u",
          expr(nibbleVal(1, 12)).cast("double") / math.pow(16.0, 12.0))
        .select(col("source"),
          ExactAgg.snap(lit((KmvK - 1).toDouble) / col("u")).as("kmv_estimate"))
      // Groups with < K distinct shingles have no rank-K row: standard
      // KMV falls back to the exact distinct count (the sketch holds the
      // whole set), so a left join + coalesce keeps every group.
      exact.join(kth, Seq("source"), "left")
        .withColumn("kmv_estimate",
          coalesce(col("kmv_estimate"), col("exact_distinct").cast("double")))
        .withColumn("rel_error", ExactAgg.snap(
          abs(col("kmv_estimate") - col("exact_distinct")) /
            col("exact_distinct")))
        .orderBy("source")
    },
    Some(s"""WITH $shSqlCte,
      d AS (SELECT DISTINCT source, sh FROM shs),
      hh AS (SELECT source, md5(sh) AS h FROM d),
      exact AS (SELECT source, COUNT(*) AS exact_distinct FROM hh GROUP BY 1),
      kth AS (
        SELECT source,
          ${ExactAgg.sqlSnap(
            s"CAST(${KmvK - 1} AS DOUBLE) / (CAST(${nibbleValSql(1, 12)} AS DOUBLE) / POWER(16, 12))")}
            AS kmv_estimate
        FROM (SELECT source, h, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY h ASC) AS rk FROM hh)
        WHERE rk = $KmvK)
      SELECT source, exact_distinct,
        COALESCE(kmv_estimate, CAST(exact_distinct AS DOUBLE)) AS kmv_estimate,
        ${ExactAgg.sqlSnap(
          "ABS(COALESCE(kmv_estimate, CAST(exact_distinct AS DOUBLE)) - exact_distinct) / exact_distinct")}
          AS rel_error
      FROM exact LEFT JOIN kth USING (source) ORDER BY source"""))

  // HLL geometry: p = 8 → m = 256 registers; rank read from the 48 bits
  // of md5 nibbles 3-14 (leading-zero count + 1, saturating at 49).
  private val HllM = 256

  /** SK3: HyperLogLog distinct-count estimation (Flajolet et al. 2007) —
    * the register-array sketch behind every engine's approx_count_distinct,
    * rebuilt here from md5 so the full register state AND the estimate are
    * oracle-checkable hash-exactly (engine-private HLL++ states are not).
    * Per source: bucket = 8 leading hash bits, register = max over the
    * bucket's hashes of (leading zero bits of the next 48 + 1), estimate =
    * α·m²/Σ2^(−M_j) with the standard small-range linear-counting
    * correction. The sketch is 256 registers per group built by one
    * map-side-combinable MAX rollup — mergeable across partitions (max of
    * partial registers IS the union sketch), which is what makes HLL the
    * 100 TB cardinality workhorse. Reported against the exact distinct
    * count with relative error, like sk1. */
  private val hllDistinct = QueryDef(
    "sk3_hll_distinct",
    (s, dir) => {
      val sh = distinctShingleHashes(s, dir)
      val exact = sh.groupBy("source").agg(count(lit(1)).as("exact_distinct"))
      val regs = sh
        .withColumn("bucket", expr(nibbleVal(1, 2)))
        .withColumn("trimmed", regexp_replace(expr("substring(h, 3, 12)"), "^0+", ""))
        .withColumn("nv",
          expr("instr('0123456789abcdef', substring(trimmed, 1, 1)) - 1"))
        .withColumn("rho", when(col("trimmed") === "", lit(49)).otherwise(
          lit(4) * (lit(12) - length(col("trimmed"))) +
            when(col("nv") >= 8, 0).when(col("nv") >= 4, 1)
              .when(col("nv") >= 2, 2).otherwise(3) + lit(1)))
        .groupBy("source", "bucket").agg(max(col("rho")).as("m_j"))
      val est = regs.groupBy("source")
        .agg(count(lit(1)).as("n_used"),
          sum(pow(lit(2.0), -col("m_j"))).as("z_used"))
        .withColumn("v", lit(HllM) - col("n_used"))
        .withColumn("z", col("z_used") + col("v").cast("double"))
        .withColumn("e_raw",
          lit(0.7213 / (1.0 + 1.079 / HllM)) * lit(HllM.toDouble * HllM) / col("z"))
        .withColumn("hll_estimate", ExactAgg.snap(
          when(col("e_raw") <= lit(2.5 * HllM) && col("v") > 0,
            lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v")))
            .otherwise(col("e_raw"))))
      exact.join(est, Seq("source"))
        .select(col("source"), col("exact_distinct"), col("hll_estimate"),
          col("n_used").as("n_registers_used"),
          ExactAgg.snap(abs(col("hll_estimate") - col("exact_distinct")) /
            col("exact_distinct")).as("rel_error"))
        .orderBy("source")
    },
    Some(s"""WITH $shSqlCte,
      d AS (SELECT DISTINCT source, sh FROM shs),
      hh AS (SELECT source, md5(sh) AS h FROM d),
      exact AS (SELECT source, COUNT(*) AS exact_distinct FROM hh GROUP BY 1),
      rr AS (
        SELECT source, ${nibbleValSql(1, 2)} AS bucket,
          regexp_replace(substring(h, 3, 12), '^0+', '') AS trimmed,
          (instr('0123456789abcdef', substring(regexp_replace(substring(h, 3, 12), '^0+', ''), 1, 1)) - 1) AS nv
        FROM hh),
      regs AS (
        SELECT source, bucket, MAX(CASE WHEN trimmed = '' THEN 49
          ELSE 4 * (12 - length(trimmed)) +
            (CASE WHEN nv >= 8 THEN 0 WHEN nv >= 4 THEN 1
                  WHEN nv >= 2 THEN 2 ELSE 3 END) + 1 END) AS m_j
        FROM rr GROUP BY 1, 2),
      est AS (
        SELECT source, COUNT(*) AS n_used,
          SUM(POWER(2.0, -m_j)) + CAST($HllM - COUNT(*) AS DOUBLE) AS z,
          $HllM - COUNT(*) AS v
        FROM regs GROUP BY 1),
      ee AS (
        SELECT source, n_used, v,
          (0.7213 / (1.0 + 1.079 / $HllM)) * CAST($HllM AS DOUBLE) * $HllM / z AS e_raw
        FROM est)
      SELECT e.source, x.exact_distinct,
        ${ExactAgg.sqlSnap(
          s"CASE WHEN e_raw <= 2.5 * $HllM AND v > 0 THEN CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / v) ELSE e_raw END")}
          AS hll_estimate,
        e.n_used AS n_registers_used,
        ${ExactAgg.sqlSnap(
          s"ABS((CASE WHEN e_raw <= 2.5 * $HllM AND v > 0 THEN CAST($HllM AS DOUBLE) * ln(CAST($HllM AS DOUBLE) / v) ELSE e_raw END) - x.exact_distinct) / x.exact_distinct")}
          AS rel_error
      FROM ee e JOIN exact x USING (source) ORDER BY source"""))

  // CMS geometry: depth 4 rows from disjoint md5 nibble ranges, width 16 —
  // deliberately narrow so collisions actually occur at fixture scale and
  // the min-over-rows recovery is exercised, not vacuous.
  private val CmsW = 16
  private val CmsD = 4

  /** SK4: Count-Min heavy hitters (Cormode & Muthukrishnan 2005) — the
    * frequency sketch for when exact per-term counts don't fit: d hash
    * rows × w counters, each cell the SUM of counts hashing to it;
    * a term's estimate is the MIN over its d cells (always ≥ exact — the
    * one-sided error CMS guarantees, asserted as a column). The sketch is
    * a d×w table built by one map-side-combinable SUM — partials merge by
    * cell-wise addition — and probing broadcasts the candidate terms.
    * Reports the exact top-10 corpus words with their CMS estimate and
    * overcount. */
  private val cmsHeavyHitters = QueryDef(
    "sk4_cms_topk",
    (s, dir) => {
      val wc = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("exact_cnt"))
        .withColumn("h", md5(col("word")))
      val posed = wc.select(col("word"), col("exact_cnt"),
        posexplode(array((0 until CmsD).map(i =>
          expr(s"${nibbleVal(1 + 3 * i, 3)} % $CmsW")): _*)).as(Seq("ri", "c")))
      val cells = posed.groupBy("ri", "c")
        .agg(sum(col("exact_cnt")).as("cell_sum"))
      val top = wc.withColumn("rk", row_number().over(
          Window.orderBy(col("exact_cnt").desc, col("word").asc)))
        .filter(col("rk") <= 10)
      val topPos = top.select(col("word"), col("exact_cnt"), col("rk"),
        posexplode(array((0 until CmsD).map(i =>
          expr(s"${nibbleVal(1 + 3 * i, 3)} % $CmsW")): _*)).as(Seq("ri", "c")))
      topPos.join(broadcast(cells), Seq("ri", "c"))
        .groupBy("word", "exact_cnt", "rk")
        .agg(min(col("cell_sum")).as("cms_estimate"))
        .select(col("word"), col("exact_cnt"), col("cms_estimate"),
          (col("cms_estimate") - col("exact_cnt")).as("overcount"),
          (col("cms_estimate") >= col("exact_cnt")).as("one_sided_ok"))
        .orderBy(col("exact_cnt").desc, col("word").asc)
    },
    Some {
      val cols = (0 until CmsD).map(i =>
        s"(${nibbleValSql(1 + 3 * i, 3)} % $CmsW)")
      s"""WITH wc AS (
        SELECT word, COUNT(*) AS exact_cnt, md5(word) AS h
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE word <> '' GROUP BY word),
      posed AS (
        ${(0 until CmsD).map(i =>
          s"SELECT word, exact_cnt, $i AS ri, ${cols(i)} AS c FROM wc")
          .mkString("\n        UNION ALL ")}),
      cells AS (SELECT ri, c, SUM(exact_cnt) AS cell_sum
        FROM posed GROUP BY 1, 2),
      top AS (SELECT word FROM (
        SELECT word, exact_cnt, ROW_NUMBER() OVER (
          ORDER BY exact_cnt DESC, word ASC) AS rk FROM wc) WHERE rk <= 10)
      SELECT p.word AS word, p.exact_cnt AS exact_cnt,
        CAST(MIN(cl.cell_sum) AS BIGINT) AS cms_estimate,
        CAST(MIN(cl.cell_sum) - p.exact_cnt AS BIGINT) AS overcount,
        MIN(cl.cell_sum) >= p.exact_cnt AS one_sided_ok
      FROM posed p
      JOIN top t ON t.word = p.word
      JOIN cells cl ON cl.ri = p.ri AND cl.c = p.c
      GROUP BY 1, 2 ORDER BY p.exact_cnt DESC, p.word ASC"""
    })

  // Quantile-sketch geometry: log-linear buckets, 16 linear sub-buckets per
  // power of two — relative error ≤ 1/16 by construction, like
  // HdrHistogram / DDSketch but in PURE INTEGER arithmetic (bit length +
  // shifts + integer division), so bucket indices are bit-identical across
  // engines where a float-log binning would hinge on libm rounding.
  private val QSub = 16

  /** SK5: mergeable quantile sketch (the HdrHistogram/DDSketch family —
    * Dunning & Ertl's motivation, integer-binned like HdrHistogram): per
    * source, histogram the document length into log-linear buckets
    * (bucket = (bitlen−1)·16 + 16·(x−2^(bitlen−1))/2^(bitlen−1)), then read
    * p50/p90/p99 off the cumulative counts. The sketch is a ~200-cell count
    * table built by ONE map-side-combinable groupBy — partials merge by
    * cell-wise addition, which is what replaces the full sort a percentile
    * needs at 100 TB. Quantile ranks use integer ceil ((n·p+99) div 100) —
    * no float crosses an engine boundary anywhere in the sketch. Reported
    * against the exact rank-statistic with the relative error; the bucket
    * lower bound is a one-sided under-estimate (est ≤ exact < est·(1+1/16)),
    * asserted as a column. */
  private val quantileSketch = QueryDef(
    "sk5_quantile_sketch",
    (s, dir) => {
      val d = Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val cells = d
        .withColumn("bl", length(bin(col("x"))))
        .withColumn("base", expr("shiftleft(1L, bl - 1)"))
        .withColumn("idx", (col("bl") - 1).cast("long") * QSub +
          expr(s"((x - base) * $QSub) DIV base"))
        .groupBy("source", "idx").agg(count(lit(1)).as("c"))
      val cum = cells.withColumn("cum",
        sum(col("c")).over(Window.partitionBy("source").orderBy("idx")))
      val tgt = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("p", explode(array(lit(50L), lit(90L), lit(99L))))
        .withColumn("r", expr("(n_docs * p + 99) DIV 100"))
      // first bucket whose cumulative count reaches the target rank, then
      // its integer lower bound; the cum table is sketch-sized → broadcast
      val pick = tgt.join(broadcast(cum), Seq("source"))
        .filter(col("cum") >= col("r"))
        .groupBy("source", "p", "n_docs", "r").agg(min(col("idx")).as("idx"))
        .withColumn("pbase", expr(s"shiftleft(1L, CAST(idx DIV $QSub AS INT))"))
        .withColumn("est_q",
          col("pbase") + expr(s"((idx % $QSub) * pbase) DIV $QSub"))
      val ranked = d.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy(col("x").asc)))
      val exact = tgt.join(ranked, Seq("source"))
        .filter(col("rn") === col("r"))
        .select(col("source"), col("p"), col("x").as("exact_q"))
      pick.join(exact, Seq("source", "p"))
        .select(col("source"), col("p"), col("n_docs"),
          col("exact_q"), col("est_q"),
          (col("est_q") <= col("exact_q")).as("one_sided_ok"),
          ExactAgg.snap((col("exact_q") - col("est_q")).cast("double") /
            col("exact_q")).as("rel_error"))
        .orderBy("source", "p")
    },
    Some(s"""WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS x
        FROM documents WHERE n_chars > 0),
      ix AS (SELECT source,
          CAST((length(bin(x)) - 1) * $QSub AS BIGINT)
            + ((x - (CAST(1 AS BIGINT) << CAST(length(bin(x)) - 1 AS INTEGER)))
               * $QSub)
              // (CAST(1 AS BIGINT) << CAST(length(bin(x)) - 1 AS INTEGER))
            AS idx
        FROM d),
      cells AS (SELECT source, idx, COUNT(*) AS c FROM ix GROUP BY 1, 2),
      cum AS (SELECT source, idx,
          SUM(c) OVER (PARTITION BY source ORDER BY idx) AS cum FROM cells),
      tgt AS (SELECT source, n_docs, CAST(p AS BIGINT) AS p,
          (n_docs * p + 99) // 100 AS r
        FROM (SELECT source, COUNT(*) AS n_docs FROM d GROUP BY 1),
          LATERAL unnest([50, 90, 99]) AS pp(p)),
      pick0 AS (SELECT t.source, t.p, t.n_docs, t.r, MIN(c.idx) AS idx
        FROM tgt t JOIN cum c ON c.source = t.source AND c.cum >= t.r
        GROUP BY 1, 2, 3, 4),
      pick AS (SELECT source, p, n_docs, r, idx,
          (CAST(1 AS BIGINT) << CAST(idx // $QSub AS INTEGER))
            + ((idx % $QSub)
               * (CAST(1 AS BIGINT) << CAST(idx // $QSub AS INTEGER)))
              // $QSub AS est_q
        FROM pick0),
      rk AS (SELECT source, x, ROW_NUMBER() OVER (
          PARTITION BY source ORDER BY x ASC) AS rn FROM d),
      ex AS (SELECT t.source, t.p, r.x AS exact_q
        FROM tgt t JOIN rk r ON r.source = t.source AND r.rn = t.r)
      SELECT p.source, p.p AS p, p.n_docs AS n_docs,
        e.exact_q AS exact_q, p.est_q AS est_q,
        p.est_q <= e.exact_q AS one_sided_ok,
        ${ExactAgg.sqlSnap(
          "CAST(e.exact_q - p.est_q AS DOUBLE) / e.exact_q")} AS rel_error
      FROM pick p JOIN ex e ON e.source = p.source AND e.p = p.p
      ORDER BY 1, 2"""))

  // Bloom geometry: m = 3840 bits (64 words x 60 bits — shifts stay below
  // the signed-64 overflow DuckDB rejects), j = 2 hash functions from
  // disjoint md5 nibble ranges. n ≈ 600 eval shingles → FP ≈ 7%.
  private val BloomWords = 64
  private val BloomBits = BloomWords * 60

  /** SK2: Bloom-filter membership — build a filter over the EVAL set's
    * shingles (doc_id % 41 = 0, the decontamination target), probe every
    * other document's shingles, and report the false-positive rate against
    * exact membership. The filter is a (word_index, bits) TABLE built by
    * bit_or — the representation that scales to millions of bits while
    * staying broadcastable and partition-mergeable — and the probe is two
    * broadcast lookups per key. Bloom's contract (no false negatives) is
    * verified as a column: every exact member must probe positive. This is
    * the scale path for decontamination: the bit table broadcasts where
    * the exact eval gram set would not. */
  private val bloomFilter = QueryDef(
    "sk2_bloom_filter",
    (s, dir) => {
      val withPos = (df: org.apache.spark.sql.DataFrame) => df
        .withColumn("h", md5(col("sh")))
        .withColumn("p1", expr(s"${nibbleVal(1, 3)} % $BloomBits"))
        .withColumn("p2", expr(s"${nibbleVal(4, 3)} % $BloomBits"))
      // Persist the EVAL-side distinct shingles ONLY (held-out eval set —
      // dimension-sized by construction): it feeds the two filter-build
      // unions and the exact-member join, while the corpus-sized probe
      // side streams through un-persisted. r15 persisted the ENTIRE
      // shingle explode to share it across branches and measured 27-34%
      // SLOWER at sf0.1 (VERDICT r15 #4): materializing a corpus-sized
      // explode costs more than the one re-scan it saves, and at scale it
      // is also the wrong memory trade (guide §5 — cache only what is
      // reused AND cheap to hold relative to recompute).
      val sh = shingleHashes(s, dir)
        .withColumn("is_eval", pmod(col("doc_id"), lit(41)) === 0)
      val evalSet = Pins.persist(sh.filter(col("is_eval")).select(col("sh")).distinct())
      val evalSh = withPos(evalSet)
      val filt = evalSh.select(col("p1").as("p"))
        .union(evalSh.select(col("p2").as("p")))
        .withColumn("widx", expr("p DIV 60"))
        .withColumn("bit", expr("shiftleft(1L, CAST(p % 60 AS INT))"))
        .groupBy("widx").agg(bit_or(col("bit")).as("bits"))
      val probes = withPos(
        sh.filter(!col("is_eval")).select(col("source"), col("sh")).distinct())
        .join(evalSet.withColumn("member", lit(1L)), Seq("sh"), "left")
        .withColumn("member", coalesce(col("member"), lit(0L)))
        .join(broadcast(filt.select(col("widx").as("w1"), col("bits").as("b1"))),
          expr("p1 DIV 60") === col("w1"), "left")
        .join(broadcast(filt.select(col("widx").as("w2"), col("bits").as("b2"))),
          expr("p2 DIV 60") === col("w2"), "left")
        .withColumn("bloom_pos", (
          expr("(shiftright(coalesce(b1, 0L), CAST(p1 % 60 AS INT)) & 1L) = 1L") &&
          expr("(shiftright(coalesce(b2, 0L), CAST(p2 % 60 AS INT)) & 1L) = 1L"))
          .cast("long"))
      probes
        .groupBy("source")
        .agg(count(lit(1)).as("n_probes"),
          sum("member").as("n_member"),
          sum("bloom_pos").as("n_bloom_pos"),
          sum(when(col("bloom_pos") === 1 && col("member") === 0, 1L)
            .otherwise(0L)).as("n_false_pos"),
          sum(when(col("bloom_pos") === 0 && col("member") === 1, 1L)
            .otherwise(0L)).as("n_false_neg"))
        .withColumn("fp_rate", ExactAgg.snap(
          col("n_false_pos").cast("double") /
            greatest(col("n_probes") - col("n_member"), lit(1L))))
        .orderBy("source")
    },
    Some {
      val p1 = s"(${nibbleValSql(1, 3)} % $BloomBits)"
      val p2 = s"(${nibbleValSql(4, 3)} % $BloomBits)"
      s"""WITH $shSqlCte,
      ev AS (SELECT DISTINCT sh FROM shs WHERE doc_id % 41 = 0),
      evp AS (SELECT $p1 AS p FROM (SELECT sh, md5(sh) AS h FROM ev)
              UNION ALL
              SELECT $p2 AS p FROM (SELECT sh, md5(sh) AS h FROM ev)),
      filt AS (
        SELECT (p // 60) AS widx,
          bit_or(CAST(1 AS BIGINT) << CAST(p % 60 AS INTEGER)) AS bits
        FROM evp GROUP BY 1),
      pr AS (SELECT DISTINCT source, sh FROM shs WHERE doc_id % 41 <> 0),
      prh AS (
        SELECT source, p.sh, $p1 AS p1, $p2 AS p2,
          CASE WHEN e.sh IS NULL THEN 0 ELSE 1 END AS member
        FROM (SELECT source, sh, md5(sh) AS h FROM pr) p
        LEFT JOIN ev e ON e.sh = p.sh),
      jd AS (
        SELECT source, member,
          CASE WHEN ((COALESCE(f1.bits, 0) >> CAST(p1 % 60 AS INTEGER)) & 1) = 1
            AND ((COALESCE(f2.bits, 0) >> CAST(p2 % 60 AS INTEGER)) & 1) = 1
            THEN 1 ELSE 0 END AS bloom_pos
        FROM prh
        LEFT JOIN filt f1 ON f1.widx = (p1 // 60)
        LEFT JOIN filt f2 ON f2.widx = (p2 // 60))
      SELECT source, COUNT(*) AS n_probes,
        CAST(SUM(member) AS BIGINT) AS n_member,
        CAST(SUM(bloom_pos) AS BIGINT) AS n_bloom_pos,
        CAST(SUM(CASE WHEN bloom_pos = 1 AND member = 0 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_false_pos,
        CAST(SUM(CASE WHEN bloom_pos = 0 AND member = 1 THEN 1 ELSE 0 END)
          AS BIGINT) AS n_false_neg,
        ${ExactAgg.sqlSnap(
          """CAST(SUM(CASE WHEN bloom_pos = 1 AND member = 0 THEN 1 ELSE 0 END) AS DOUBLE)
           / GREATEST(COUNT(*) - SUM(member), 1)""")} AS fp_rate
      FROM jd GROUP BY 1 ORDER BY 1"""
    })
}
