package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity/text core:
  * benchmark decontamination, cross-document substring dedup, Gopher-style
  * repetition quality, PII scrubbing, deterministic corpus splits, and
  * sequence packing.
  *
  * Scale stances (the 100 TB story, per op):
  *   - decontamination: the eval-set gram table is dimension-sized and
  *     BROADCAST; the corpus side is one explode + hash join, never a
  *     corpus×corpus product.
  *   - substring dedup: stride-sampled fixed-length grams (the standard
  *     approximation when a suffix array over the corpus doesn't fit —
  *     Lee et al., "Deduplicating Training Data Makes Language Models
  *     Better"), with a document-frequency cap so boilerplate grams can't
  *     quadratically inflate the pair join.
  *   - repetition stats: entirely row-local lambda algebra (no explode, no
  *     shuffle before the per-source rollup).
  *   - PII / splits / packing: single scans; packing's only shuffle is the
  *     per-source window.
  *
  * Only engine-portable expressions (md5 buckets, list lambdas, window
  * sums) so every op is DuckDB-oracle-checkable bit-for-bit.
  */
object PipelineOps extends QueryModule {

  def defs: Seq[QueryDef] = Seq(decontaminate, substringDedup, repetitionStats,
    piiScrub, hashSplit, seqPacking, shuffleShard, decontaminateSpan)

  /** Word n-grams of length `n` as a portable column over `ws` (split
    * text). Fixture docs have ≥10 words, so `size(ws)-n+1 ≥ 1` always and
    * the descending-`sequence` foot-gun cannot trigger. */
  private[queries] def gramsExpr(n: Int): String =
    s"transform(sequence(1, size(ws) - ${n - 1}), i -> array_join(slice(ws, i, $n), ' '))"

  /** DuckDB equivalent of [[gramsExpr]] as a LATERAL-unnest CTE body. */
  private[queries] def gramsSql(n: Int): String =
    s"""SELECT doc_id, source, array_to_string(ws[i.i:i.i + ${n - 1}], ' ') AS gram
        FROM w, LATERAL unnest(generate_series(1, len(ws) - ${n - 1})) AS i(i)"""

  private[queries] val wCte =
    "w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)"

  /** T: benchmark decontamination — flag every training document sharing a
    * word 4-gram with the held-out eval set (docs with doc_id % 41 = 0),
    * the n-gram-overlap policy of GPT-3 appendix C / PaLM scaled to the
    * fixture's 10-99-word documents. Overlap is measured on DISTINCT grams;
    * the eval gram table is broadcast. */
  private val decontaminate = QueryDef(
    "t_decontaminate",
    (s, dir) => {
      // ONE gram derivation shared by the eval and train branches: the
      // split + 4-gram transform + array_distinct is the dominant cost and
      // the old shape re-ran it per branch (the oracle's own `g` CTE shape).
      // n_grams = per-doc row count of the distinct-gram table — identical
      // to size(array_distinct(grams)); cast back to INT to keep the schema.
      // A persist, not withPersisted: the returned plan must stay
      // inspectable for the PlanSpec broadcast assertion; the runner's
      // scope releases it.
      val gt = Pins.persist(Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"),
          explode(array_distinct(expr(gramsExpr(4)))).as("gram")))
      val ev = gt.filter(pmod(col("doc_id"), lit(41)) === 0)
        .select("gram").distinct()
      val tr = gt.filter(pmod(col("doc_id"), lit(41)) =!= 0)
      val sz = tr.groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_grams"))
      tr.join(broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"), max(col("gram")).as("worst_gram"))
        .join(sz, "doc_id")
        .withColumn("overlap_frac",
          col("n_hit").cast("double") / col("n_grams"))
        .select("doc_id", "n_grams", "n_hit", "overlap_frac", "worst_gram")
        .orderBy("doc_id")
    },
    Some(s"""WITH $wCte,
      g AS (SELECT DISTINCT doc_id, gram FROM (${gramsSql(4)})),
      ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0),
      tr AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY doc_id) AS n_grams, gram
             FROM g WHERE doc_id % 41 <> 0)
      SELECT doc_id, CAST(MAX(n_grams) AS INTEGER) AS n_grams,
        CAST(COUNT(*) AS BIGINT) AS n_hit,
        CAST(COUNT(*) AS DOUBLE) / MAX(n_grams) AS overlap_frac,
        MAX(gram) AS worst_gram
      FROM tr JOIN ev USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** D10: cross-document substring dedup — documents sharing long exact
    * word spans (10-grams), the signal suffix-array dedup extracts.
    * Approximated at scale by STRIDE sampling (every 3rd start offset —
    * any shared run of ≥ 12 words still yields an aligned sampled gram)
    * plus a document-frequency cap (grams in > 16 docs are boilerplate,
    * not copies — dropping them bounds the self-join fan-out). Pairs need
    * ≥ 2 shared sampled grams. */
  private val substringDedup = QueryDef(
    "d10_substring_dedup",
    (s, dir) => {
      val grams = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"),
          explode(expr(
            s"filter(transform(sequence(1, size(ws) - 9), " +
              "i -> IF((i - 1) % 3 = 0, array_join(slice(ws, i, 10), ' '), NULL)), " +
              "x -> x IS NOT NULL)")).as("gram"))
        .distinct()
      val rare = grams.groupBy("gram")
        .agg(count(lit(1)).as("df"))
        .filter(col("df") between (2, 16))
        .select("gram")
      // Persist the DF-CAPPED gram table (df 2..16 — boilerplate and
      // singletons removed, a small fraction of the corpus), which feeds
      // BOTH self-join sides. r15 persisted the full corpus-sized explode
      // instead and measured flat-to-worse at sf0.1 (VERDICT r15 #4): the
      // full materialization costs more than the re-scan it saves. This
      // shape pays two explode passes (df rollup + the join's probe side)
      // but caches only the capped table the self-join actually reuses.
      val g = Pins.persist(grams.join(rare, "gram"))
      val a = g.select(col("gram"), col("doc_id").as("doc_a"))
      val b = g.select(col("gram").as("gram_b"), col("doc_id").as("doc_b"))
      a.join(b, col("gram") === col("gram_b") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH $wCte,
      g AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, array_to_string(ws[i.i:i.i + 9], ' ') AS gram
        FROM w, LATERAL unnest(generate_series(1, len(ws) - 9)) AS i(i)
        WHERE (i.i - 1) % 3 = 0)),
      rare AS (SELECT gram FROM g GROUP BY gram
               HAVING COUNT(*) BETWEEN 2 AND 16),
      gr AS (SELECT doc_id, gram FROM g JOIN rare USING (gram))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY 1, 2"""))

  /** T: exact-substring eval decontamination — the GPT-3/Llama-style
    * policy: a training document is contaminated when it shares a long
    * VERBATIM SPAN with the eval set (t_decontaminate's 4-gram overlap is
    * the cheap screen; this is the span-level rule production pipelines
    * actually remove on). Machinery reuses d10's stride-sampled gram
    * discipline with the production asymmetry: the EVAL side (doc_id % 7,
    * tiny, dimension-sized) indexes EVERY 8-gram start; the corpus side
    * samples every 3rd start — so any shared run of ≥ 10 words contains a
    * sampled train gram whose exact eval twin is indexed, regardless of
    * phase. Boilerplate grams are document-frequency-capped (> 16 eval
    * docs) before the join. Each anchor hit is then VERIFIED and
    * ATTRIBUTED by extending the 8-gram match word-by-word in both
    * directions over the two texts (first-mismatch via array_position
    * over a comparison lambda — portable to DuckDB's list_position) to
    * the maximal verbatim span; a pair is flagged only when the max span
    * reaches 30 words (the fixture-scaled analog of GPT-3's 13-token rule
    * — its 10-99-word docs overlap heavily by construction, and 30 sits
    * inside the measured span distribution at every sf), so shorter
    * matches stay clean and BOTH flag arms are live.
    *
    * Output grain (doc, eval_doc): anchor count, max span length, the max
    * span's train-side start (min on ties), flagged. Scale shape: the
    * eval gram index and eval texts are broadcast dimensions; the corpus
    * side is one stride-sampled explode + hash join; span extension is
    * per-candidate row-local lambda work — the corpus is never
    * self-joined and never re-scanned per eval doc. */
  private val decontaminateSpan = QueryDef(
    "t_decontaminate_span",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
      val ev = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id").as("e_doc"), col("ws").as("e_ws"))
      val evg = ev.select(col("e_doc"),
          explode(expr("sequence(1, size(e_ws) - 7)")).as("e_pos"),
          expr("e_ws").as("e_ws"))
        .withColumn("gram", expr("array_join(slice(e_ws, e_pos, 8), ' ')"))
        .select("e_doc", "e_pos", "gram")
      val capped = evg.groupBy("gram")
        .agg(countDistinct(col("e_doc")).as("dfc"))
        .filter(col("dfc") <= 16).select("gram")
      val evg2 = evg.join(capped, "gram")
      // two consumers (the stride-gram explode and the span-extension
      // join) otherwise re-split every training text
      val tr = Pins.persist(docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .select(col("doc_id"), col("ws")))
      val trg = tr.select(col("doc_id"), col("ws"),
          explode(expr("filter(transform(sequence(1, size(ws) - 7), " +
            "i -> IF((i - 1) % 3 = 0, i, NULL)), x -> x IS NOT NULL)"))
            .as("pos"))
        .withColumn("gram", expr("array_join(slice(ws, pos, 8), ' ')"))
        .select("doc_id", "pos", "gram")
      val anchors = trg.join(broadcast(evg2), "gram")
        .select("doc_id", "pos", "e_doc", "e_pos")
      def firstMismatch(k: String, cmp: String) =
        s"IF($k < 1, 0, coalesce(nullif(array_position(" +
          s"transform(sequence(1, $k), d -> $cmp), false), 0) - 1, $k))"
      val ext = anchors.join(tr, "doc_id").join(broadcast(ev), "e_doc")
        .withColumn("lm", expr(firstMismatch("least(pos, e_pos) - 1",
          "element_at(ws, pos - d) = element_at(e_ws, e_pos - d)")))
        .withColumn("rm", expr(firstMismatch(
          "least(size(ws) - (pos + 7), size(e_ws) - (e_pos + 7))",
          "element_at(ws, pos + 7 + d) = element_at(e_ws, e_pos + 7 + d)")))
        .withColumn("span_len", lit(8) + col("lm") + col("rm"))
        .withColumn("span_start", col("pos") - col("lm"))
      val w = Window.partitionBy("doc_id", "e_doc")
      ext.withColumn("mx", max(col("span_len")).over(w))
        .withColumn("na", count(lit(1)).over(w))
        .filter(col("span_len") === col("mx"))
        .groupBy("doc_id", "e_doc")
        .agg(first(col("na")).as("n_anchors"),
          first(col("mx")).cast("long").as("max_span"),
          min(col("span_start")).cast("long").as("span_start"))
        .withColumn("flagged", (col("max_span") >= 30).cast("int"))
        .orderBy("doc_id", "e_doc")
    },
    Some(s"""WITH $wCte,
      sp_ev AS (SELECT doc_id AS e_doc, ws AS e_ws FROM w WHERE doc_id % 7 = 0),
      sp_evg AS (
        SELECT e_doc, i.i AS e_pos,
          array_to_string(e_ws[i.i:i.i + 7], ' ') AS gram
        FROM sp_ev, LATERAL unnest(generate_series(1, len(e_ws) - 7)) AS i(i)),
      sp_cap AS (SELECT gram FROM sp_evg GROUP BY gram
                 HAVING COUNT(DISTINCT e_doc) <= 16),
      sp_evg2 AS (SELECT g.* FROM sp_evg g JOIN sp_cap USING (gram)),
      sp_tr AS (SELECT doc_id, ws FROM w WHERE doc_id % 7 <> 0),
      sp_trg AS (
        SELECT doc_id, i.i AS pos,
          array_to_string(ws[i.i:i.i + 7], ' ') AS gram
        FROM sp_tr, LATERAL unnest(generate_series(1, len(ws) - 7)) AS i(i)
        WHERE (i.i - 1) % 3 = 0),
      sp_anchor AS (
        SELECT t.doc_id, t.pos, e.e_doc, e.e_pos
        FROM sp_trg t JOIN sp_evg2 e USING (gram)),
      sp_ext AS (
        SELECT doc_id, e_doc, pos, e_pos,
          8 + lm + rm AS span_len, pos - lm AS span_start
        FROM (
          SELECT a.doc_id, a.e_doc, a.pos, a.e_pos,
            COALESCE(NULLIF(list_position(list_transform(
              generate_series(1, least(a.pos, a.e_pos) - 1),
              d -> t.ws[a.pos - d] = v.e_ws[a.e_pos - d]), false), 0) - 1,
              least(a.pos, a.e_pos) - 1) AS lm,
            COALESCE(NULLIF(list_position(list_transform(
              generate_series(1, least(len(t.ws) - (a.pos + 7),
                len(v.e_ws) - (a.e_pos + 7))),
              d -> t.ws[a.pos + 7 + d] = v.e_ws[a.e_pos + 7 + d]), false), 0) - 1,
              least(len(t.ws) - (a.pos + 7), len(v.e_ws) - (a.e_pos + 7))) AS rm
          FROM sp_anchor a
          JOIN sp_tr t ON a.doc_id = t.doc_id
          JOIN sp_ev v ON a.e_doc = v.e_doc)),
      sp_win AS (
        SELECT *, MAX(span_len) OVER (PARTITION BY doc_id, e_doc) AS mx,
          COUNT(*) OVER (PARTITION BY doc_id, e_doc) AS na
        FROM sp_ext)
      SELECT doc_id, e_doc, CAST(MAX(na) AS BIGINT) AS n_anchors,
        CAST(MAX(mx) AS BIGINT) AS max_span,
        CAST(MIN(span_start) AS BIGINT) AS span_start,
        CAST(CASE WHEN MAX(mx) >= 30 THEN 1 ELSE 0 END AS INTEGER) AS flagged
      FROM sp_win WHERE span_len = mx
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** T: Gopher-style repetition quality — per-document duplicate-word
    * fraction, duplicate-bigram fraction, and top-bigram coverage
    * (Rae et al., Gopher §A1.1.2 repetition filters), with thresholds set
    * at the fixture's p75-p85 so every flag arm is live. ALL metrics are
    * row-local list-lambda algebra — zero explode, zero shuffle before the
    * 20-row per-source rollup; the shape that streams through 100 TB. */
  private val repetitionStats = QueryDef(
    "t_repetition_stats",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .withColumn("bg", expr(gramsExpr(2)))
        .withColumn("dup_word_frac",
          lit(1.0) - size(array_distinct(col("ws"))).cast("double") / size(col("ws")))
        .withColumn("dup_bigram_frac",
          lit(1.0) - size(array_distinct(col("bg"))).cast("double") / size(col("bg")))
        .withColumn("top_bigram_cov", expr(
          """aggregate(array_distinct(bg), 0,
             (acc, g) -> greatest(acc, size(filter(bg, x -> x = g))))""")
          .cast("double") * 2 / size(col("ws")))
        .withColumn("flag_dupword", (col("dup_word_frac") > 0.6).cast("long"))
        .withColumn("flag_dupbigram", (col("dup_bigram_frac") > 0.05).cast("long"))
        .withColumn("flag_topcov", (col("top_bigram_cov") > 0.1).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("flag_dupword").as("n_flag_dupword"),
          sum("flag_dupbigram").as("n_flag_dupbigram"),
          sum("flag_topcov").as("n_flag_topcov"),
          sum(greatest(col("flag_dupword"), col("flag_dupbigram"),
            col("flag_topcov"))).as("n_flag_any"),
          sum("dup_word_frac").as("sum_dup_word_frac"))
        .orderBy("source")
    },
    Some(s"""WITH m AS (
        SELECT source,
          1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
          1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) AS dup_bigram_frac,
          CAST(list_max(list_transform(list_distinct(bg),
            g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE) * 2 / len(ws)
            AS top_bigram_cov
        FROM (SELECT source, ws,
            list_transform(generate_series(1, len(ws) - 1),
              i -> array_to_string(ws[i:i + 1], ' ')) AS bg
          FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)))
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN dup_word_frac > 0.6 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flag_dupword,
        CAST(SUM(CASE WHEN dup_bigram_frac > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flag_dupbigram,
        CAST(SUM(CASE WHEN top_bigram_cov > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_flag_topcov,
        CAST(SUM(CASE WHEN dup_word_frac > 0.6 OR dup_bigram_frac > 0.05
          OR top_bigram_cov > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_any,
        SUM(dup_word_frac) AS sum_dup_word_frac
      FROM m GROUP BY 1 ORDER BY 1"""))

  /** T: PII detection + redaction — emails, phone numbers, and IPv4
    * addresses planted deterministically (the fixture corpus is pure
    * `[a-z ]`), detected and redacted with Java∩RE2-portable regexes, and
    * verified by a byte-exact roundtrip against the expected redaction.
    * Row-local; one 20-row rollup. */
  private val piiScrub = QueryDef(
    "t_pii_scrub",
    (s, dir) => {
      val dirty = Tables.documents(s, dir)
        .withColumn("dirty", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@mail.example please"))).otherwise(""),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
              lit(" today"))).otherwise(""),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"),
              lit(".0."), pmod(col("doc_id") * 7, lit(256)).cast("string"),
              lit(" up"))).otherwise("")))
        .withColumn("redacted",
          regexp_replace(regexp_replace(regexp_replace(col("dirty"),
            "[a-z0-9]+@[a-z.]+", "<EMAIL>"),
            "555-[0-9]{4}", "<PHONE>"),
            "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"))
        .withColumn("expected", concat(
          col("text"),
          when(pmod(col("doc_id"), lit(5)) === 0, " contact <EMAIL> please")
            .otherwise(""),
          when(pmod(col("doc_id"), lit(7)) === 0, " call <PHONE> today")
            .otherwise(""),
          when(pmod(col("doc_id"), lit(11)) === 0, " host <IP> up")
            .otherwise("")))
      dirty.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("redacted").contains("<EMAIL>").cast("long")).as("n_email_docs"),
          sum(col("redacted").contains("<PHONE>").cast("long")).as("n_phone_docs"),
          sum(col("redacted").contains("<IP>").cast("long")).as("n_ip_docs"),
          sum(length(col("dirty"))).as("sum_dirty_chars"),
          sum(length(col("redacted"))).as("sum_redacted_chars"),
          sum((col("redacted") === col("expected")).cast("long"))
            .as("n_roundtrip_ok"))
        .orderBy("source")
    },
    Some("""WITH dirty AS (
        SELECT source, text,
          text
          || (CASE WHEN doc_id % 5 = 0 THEN ' contact user'
               || CAST(doc_id AS VARCHAR) || '@mail.example please' ELSE '' END)
          || (CASE WHEN doc_id % 7 = 0 THEN ' call 555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
               ELSE '' END)
          || (CASE WHEN doc_id % 11 = 0 THEN ' host 10.'
               || CAST(doc_id % 256 AS VARCHAR) || '.0.'
               || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up' ELSE '' END) AS d,
          text
          || (CASE WHEN doc_id % 5 = 0 THEN ' contact <EMAIL> please' ELSE '' END)
          || (CASE WHEN doc_id % 7 = 0 THEN ' call <PHONE> today' ELSE '' END)
          || (CASE WHEN doc_id % 11 = 0 THEN ' host <IP> up' ELSE '' END)
            AS expected
        FROM documents),
      red AS (
        SELECT source, d, expected,
          regexp_replace(regexp_replace(regexp_replace(d,
            '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
            '555-[0-9]{4}', '<PHONE>', 'g'),
            '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS r
        FROM dirty)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN r LIKE '%<EMAIL>%' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_email_docs,
        CAST(SUM(CASE WHEN r LIKE '%<PHONE>%' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_phone_docs,
        CAST(SUM(CASE WHEN r LIKE '%<IP>%' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_ip_docs,
        CAST(SUM(length(d)) AS BIGINT) AS sum_dirty_chars,
        CAST(SUM(length(r)) AS BIGINT) AS sum_redacted_chars,
        CAST(SUM(CASE WHEN r = expected THEN 1 ELSE 0 END) AS BIGINT)
          AS n_roundtrip_ok
      FROM red GROUP BY 1 ORDER BY 1"""))

  /** T: deterministic train/valid/test split — the hash-bucket assignment
    * a pipeline uses so a document's split never depends on partitioning,
    * ordering, or corpus growth (md5 of the stable id: first hex nibble
    * ≤ 'b' → train 75%, 'c'/'d' → valid 12.5%, else test). Pure
    * projection + one rollup. */
  private val hashSplit = QueryDef(
    "t_hash_split",
    (s, dir) => {
      Tables.documents(s, dir)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .withColumn("split",
          when(col("h") <= "b", "train")
            .when(col("h") <= "d", "valid")
            .otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          min("doc_id").as("min_doc"),
          max("doc_id").as("max_doc"))
        .orderBy("source", "split")
    },
    Some("""SELECT source,
        CASE WHEN h <= 'b' THEN 'train' WHEN h <= 'd' THEN 'valid'
          ELSE 'test' END AS split,
        COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM (SELECT source, doc_id, n_chars,
          substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h FROM documents)
      GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** T: sequence packing — concat-and-chunk documents into fixed
    * 256-token training sequences in stable (source, doc_id) order: a
    * running token cumsum assigns each document to the bin its first token
    * lands in. The only shuffle is the per-source window; bins report fill
    * and how many documents straddle a bin boundary (the overflow a loss
    * mask must handle). */
  private val seqPacking = QueryDef(
    "t_seq_packing",
    (s, dir) => {
      val win = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("cum", sum("n_tok").over(win))
        .withColumn("bin", floor((col("cum") - col("n_tok")) / 256))
        .withColumn("straddles",
          (floor((col("cum") - 1) / 256) > col("bin")).cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"),
          sum("straddles").as("n_straddle"))
        .orderBy("source", "bin")
    },
    Some("""WITH t AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok,
          SUM(len(string_split(text, ' '))) OVER (PARTITION BY source
            ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum
        FROM documents),
      b AS (SELECT source, doc_id, n_tok, cum,
          CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS bin,
          CASE WHEN floor((cum - 1) / 256.0) > floor((cum - n_tok) / 256.0)
            THEN 1 ELSE 0 END AS straddles
        FROM t)
      SELECT source, bin, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        CAST(SUM(straddles) AS BIGINT) AS n_straddle
      FROM b GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** T: deterministic epoch shuffle + shard assignment — the last step of
    * training-data prep. Every document gets a pseudo-random but
    * REPRODUCIBLE position: key = md5("ep<e>:" || doc_id) (re-salting by
    * epoch gives each epoch an independent order without re-materializing
    * the corpus), shard = first hex nibble of the key (16 shards), and the
    * within-shard order is the key itself.
    *
    * 100 TB story: this is exactly
    * `repartition(shard).sortWithinPartitions(key)` — one hash shuffle and
    * a PER-PARTITION sort; no global sort/range-exchange ever happens, and
    * shard sizes concentrate around n/16 (md5 uniformity), so no shard
    * becomes a straggler. The rollup emits per-(epoch, shard) doc/token
    * totals plus the first five doc_ids in shuffled order — the head
    * preview pins the actual ordering (not just the partition sizes) to
    * the oracle, proving determinism across engines. */
  private val shuffleShard = QueryDef(
    "t_shuffle_shard",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .withColumn("epoch", explode(array(lit(1), lit(2))))
        .withColumn("key", md5(concat(lit("ep"), col("epoch"),
          lit(":"), col("doc_id").cast("string"))))
        .withColumn("shard", substring(col("key"), 1, 1))
        .withColumn("n_toks", size(split(col("text"), " ")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("epoch", "shard").orderBy("key", "doc_id")))
      base.groupBy("epoch", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("sum_tokens"),
          concat_ws(",", transform(
            array_sort(collect_list(when(col("rk") <= 5,
              struct(col("rk"), col("doc_id"))))),
            x => x.getField("doc_id").cast("string"))).as("head_docs"))
        .orderBy("epoch", "shard")
    },
    Some("""WITH b AS (
        SELECT e.e AS epoch, doc_id,
          md5('ep' || CAST(e.e AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
            AS key,
          len(string_split(text, ' ')) AS n_toks
        FROM documents, LATERAL unnest([1, 2]) AS e(e)),
      r AS (SELECT *, substr(key, 1, 1) AS shard,
          ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY key, doc_id)
            AS rk
        FROM b)
      SELECT epoch, shard, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
        STRING_AGG(CASE WHEN rk <= 5 THEN CAST(doc_id AS VARCHAR) END, ','
          ORDER BY rk) AS head_docs
      FROM r GROUP BY 1, 2 ORDER BY 1, 2"""))
}
