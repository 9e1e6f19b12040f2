package graft.queries

import graft.{Pins, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-maintenance operators a production training-data pipeline runs
  * continuously, beyond the one-shot dedup/quality battery:
  *
  *   - INCREMENTAL dedup (`d13`): dedup a NEW batch against a persisted
  *     corpus index without recomputing the corpus — at 100 TB nobody
  *     re-LSHes the whole corpus per ingest; the index side is a stored
  *     band table and the join output is new-batch-sized;
  *   - URL canonicalization dedup (`d14`): crawl corpora carry the same
  *     page under case-varied hosts, tracking parameters, fragments,
  *     and trailing-slash variants — canonicalize-then-group is the
  *     standard first dedup pass (cheaper than any content hash);
  *   - per-domain caps (`t_domain_cap`): diversity control — no single
  *     registered domain may contribute more than K documents, the
  *     Gopher/C4-style crawl-balance rule, with the kept set chosen by
  *     deterministic hash rank so reruns are reproducible.
  */
object CorpusOps extends graft.QueryModule {

  def defs: Seq[QueryDef] =
    Seq(d13IncrementalDedup, d14UrlDedup, tDomainCap, d15LineDedup,
      tDecontaminateIncr, d16IncrementalUrl)

  /** D16 (incremental URL dedup): the d13 continuous-ingest pattern
    * applied to d14's canonicalization — a NEW crawl batch (doc_id % 3 =
    * 0) dedups against the persisted canonical-URL index of the existing
    * corpus without recomputing it. The page identity is a syndicated
    * article id (a 2-hex md5 bucket in the path, so the same page
    * appears under case/www/utm/fragment/trailing-slash noise across
    * BOTH snapshots — a consecutive integer path would correlate with
    * the %-3 split and starve one status class); canonicalization is the
    * SAME [[canonicalUrl]] both d14 and the oracle run. A new URL is
    * `dup_vs_index` if its canon exists in the index, else
    * `dup_within_batch` if an earlier new doc shares it (earlier-id
    * wins, the d13/d9 survivor convention), else it survives and its
    * canon would be appended to the index.
    *
    * Scale shape: the canon computation is row-local on the NEW batch;
    * the index is a stored distinct-canon table at scale (modeled by the
    * split); both probes are canon-keyed equi-joins whose output is
    * new-batch-bounded — the corpus is never rescanned per ingest. */
  private val d16IncrementalUrl = QueryDef(
    "d16_incremental_url",
    (s, dir) => {
      val bucket = substring(md5(concat(lit("u:"), col("doc_id"))), 1, 2)
      val raw = concat(lit("HTTPS://WwW.syndic.Example.COM/a/"), bucket,
        when(col("doc_id") % 3 === 0, "/").otherwise(""),
        lit("?utm_source=feed&ref="), col("lang"),
        when(col("doc_id") % 2 === 0,
          concat(lit("&id="), col("doc_id") % 7)).otherwise(""),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(""))
      val docs = Tables.documents(s, dir)
        .withColumn("canon", canonicalUrl(raw))
      val newB = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("source"), col("canon"))
      val idx = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("canon").as("canon_i")).distinct()
      val idxDup = newB
        .join(idx, col("canon") === col("canon_i"), "left_semi")
        .select(col("doc_id")).withColumn("idx_dup", lit(true))
      val earlier = newB.select(col("canon").as("canon_e"),
        col("doc_id").as("doc_e"))
      val priorDup = newB
        .join(earlier, col("canon") === col("canon_e") &&
          col("doc_e") < col("doc_id"))
        .select(col("doc_id")).distinct()
        .withColumn("prior_dup", lit(true))
      newB
        .join(idxDup, Seq("doc_id"), "left")
        .join(priorDup, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("idx_dup"), "dup_vs_index")
            .when(col("prior_dup"), "dup_within_batch")
            .otherwise("survivor"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("status") === "dup_vs_index", 1L).otherwise(0L))
            .as("n_dup_vs_index"),
          sum(when(col("status") === "dup_within_batch", 1L).otherwise(0L))
            .as("n_dup_within"),
          sum(when(col("status") === "survivor", 1L).otherwise(0L))
            .as("n_survivors"),
          sum(when(col("status") === "survivor", col("doc_id"))
            .otherwise(0L)).as("survivor_id_sum"))
        .orderBy("source")
    },
    Some("""WITH u AS (
        SELECT doc_id, source,
          'HTTPS://WwW.syndic.Example.COM/a/' || substring(md5('u:' || doc_id), 1, 2)
            || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
            || '?utm_source=feed&ref=' || lang
            || CASE WHEN doc_id % 2 = 0 THEN '&id=' || (doc_id % 7) ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS raw_url
        FROM documents),
      c AS (
        SELECT doc_id, source,
          regexp_replace(regexp_replace(
            lower(string_split(string_split(raw_url, '#')[1], '?')[1]),
            '://www\.', '://'), '/$', '')
          || CASE WHEN regexp_extract(raw_url, '[?&]id=([0-9]+)', 1) <> ''
               THEN '?id=' || regexp_extract(raw_url, '[?&]id=([0-9]+)', 1)
               ELSE '' END AS canon
        FROM u),
      idx AS (SELECT DISTINCT canon FROM c WHERE doc_id % 3 <> 0),
      nw AS (SELECT * FROM c WHERE doc_id % 3 = 0),
      st AS (
        SELECT nw.doc_id, nw.source,
          CASE WHEN i.canon IS NOT NULL THEN 'dup_vs_index'
               WHEN EXISTS (SELECT 1 FROM nw e WHERE e.canon = nw.canon
                            AND e.doc_id < nw.doc_id)
                 THEN 'dup_within_batch'
               ELSE 'survivor' END AS status
        FROM nw LEFT JOIN idx i ON nw.canon = i.canon)
      SELECT source, COUNT(*) AS n_new,
        CAST(SUM(CASE WHEN status = 'dup_vs_index' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_vs_index,
        CAST(SUM(CASE WHEN status = 'dup_within_batch' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dup_within,
        CAST(SUM(CASE WHEN status = 'survivor' THEN 1 ELSE 0 END) AS BIGINT)
          AS n_survivors,
        CAST(SUM(CASE WHEN status = 'survivor' THEN doc_id ELSE 0 END) AS BIGINT)
          AS survivor_id_sum
      FROM st GROUP BY 1 ORDER BY 1"""))

  /** D15 (line-level dedup): the CCNet/RefinedWeb cross-document pass —
    * a LINE occurring in more than one document is boilerplate (headers,
    * navigation, license blurbs) and is removed from every document that
    * carries it, leaving the surviving text byte-exact. Distinct from
    * d10's span detection: d10 finds copied SPANS between document pairs;
    * this pass removes individual repeated lines corpus-wide. Fixture
    * docs carry no newlines, so the line unit is the deterministic
    * 8-word segmentation of the word stream (the oracle mirrors it).
    *
    * Scale shape: one groupBy on the 16-byte line hash computes the
    * document frequency (the only corpus-wide state — content-addressed
    * and mergeable); the duplicate set (df > 1) is a small fraction of
    * lines and joins back broadcast, exactly the d10 document-frequency
    * cap discipline — the corpus is never self-joined and the rebuild is
    * one per-doc rollup. */
  private val d15LineDedup = QueryDef(
    "d15_line_dedup",
    (s, dir) => {
      val lines = Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          posexplode(expr(
            "transform(sequence(1, (size(ws) + 7) div 8), " +
              "i -> array_join(slice(ws, (i - 1) * 8 + 1, 8), ' '))"))
            .as(Seq("ln", "line")))
        .withColumn("lh", md5(col("line")))
      // Persist the DUP-LINE SET (df > 1 — corpus-wide boilerplate, the
      // small side the broadcast gate below already has to count): it is
      // consumed by the gate count AND the rebuild join. r15 persisted the
      // full corpus-sized line explode instead and measured flat-to-worse
      // at sf0.1 (VERDICT r15 #4) — the full materialization costs more
      // than the one extra explode pass this shape pays on the rebuild.
      val dup = Pins.persist(lines.groupBy("lh")
        .agg(countDistinct(col("doc_id")).as("dfc"))
        .filter(col("dfc") > 1)
        .select(col("lh"), lit(1).as("is_dup")))
      // Unlike d10's df-capped gram set, the dup-line set is UNBOUNDED
      // (corpus-wide boilerplate grows with the corpus), so the broadcast
      // hint is gated on a counted size: small sets probe broadcast, a
      // 100-TB-scale dup table falls back to the hash-keyed shuffle join
      // instead of failing the driver (ADVICE r14).
      // The count covers the whole set (bounded by the df > 1 rollup), so
      // it fills the persist the join then reads.
      val dupSide = if (dup.count() <= 2000000L) broadcast(dup) else dup
      lines.join(dupSide, Seq("lh"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_lines"),
          sum(coalesce(col("is_dup"), lit(0)).cast("long")).as("n_dropped"),
          array_join(expr(
            "transform(array_sort(collect_list(IF(is_dup IS NULL, " +
              "struct(ln, line), NULL))), x -> x.line)"), " ")
            .as("clean_text"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${PipelineOps.wCte},
      l AS (
        SELECT doc_id, source, i.i AS ln,
          array_to_string(ws[(i.i - 1) * 8 + 1:i.i * 8], ' ') AS line
        FROM w, LATERAL unnest(generate_series(1, (len(ws) + 7) // 8)) AS i(i)),
      dup AS (
        SELECT line FROM (
          SELECT line, COUNT(DISTINCT doc_id) AS dfc FROM l GROUP BY 1)
        WHERE dfc > 1)
      SELECT l.doc_id, l.source, COUNT(*) AS n_lines,
        CAST(SUM(CASE WHEN d.line IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS n_dropped,
        COALESCE(string_agg(CASE WHEN d.line IS NULL THEN l.line END, ' '
          ORDER BY l.ln), '') AS clean_text
      FROM l LEFT JOIN dup d ON l.line = d.line
      GROUP BY 1, 2 ORDER BY 1"""))

  /** T (incremental decontamination): the two-snapshot variant of
    * `t_decontaminate` — the corpus was already screened against the OLD
    * eval snapshot (doc_id % 41 = 0); a NEW eval release lands (doc_id
    * % 43 = 0 among the rest) and only its DELTA grams (new-minus-old)
    * are joined against the training grams, the d13 new-batch-bounded
    * pattern applied to the eval-gram index. Attribution is per side:
    * `flagged_by_old` rides the stored prior screen (recomputed here from
    * the split, as d13 models its index side), `flagged_by_new` is the
    * incremental join's output, `clean` survives both.
    *
    * Scale shape: the incremental work is train-grams ⨯ DELTA grams only
    * — the old eval index is a stored broadcast dimension, never re-joined
    * at corpus scale; a re-screen of the whole corpus happens exactly
    * once per eval snapshot, not per ingest. */
  private val tDecontaminateIncr = QueryDef(
    "t_decontaminate_incr",
    (s, dir) => {
      // ONE gram derivation (split + 4-gram transform + array_distinct —
      // the dominant cost) shared by all five consumers; the old shape
      // re-ran it per branch (oldEv, newEv, tg×2, train-size). This is the
      // oracle's own `g` CTE shape. n_grams = per-doc count of the
      // distinct-gram rows, identical to size(array_distinct(grams)).
      // A persist, not a checkpoint, keeps the returned plan inspectable
      // for PlanSpec; the runner's scope releases it.
      val gt = Pins.persist(Tables.documents(s, dir)
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), col("source"),
          explode(array_distinct(expr(PipelineOps.gramsExpr(4))))
            .as("gram")))
      val oldEv = gt.filter(pmod(col("doc_id"), lit(41)) === 0)
        .select("gram").distinct()
      val newEv = gt.filter(pmod(col("doc_id"), lit(41)) =!= 0 &&
          pmod(col("doc_id"), lit(43)) === 0)
        .select("gram").distinct()
      val delta = newEv.join(oldEv, Seq("gram"), "left_anti")
      val tg = gt.filter(pmod(col("doc_id"), lit(41)) =!= 0 &&
        pmod(col("doc_id"), lit(43)) =!= 0)
      val hitsOld = tg.join(broadcast(oldEv), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("ho"))
      val hitsNew = tg.join(broadcast(delta), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("hn"))
      tg.groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_grams"))
        .join(hitsOld, Seq("doc_id"), "left")
        .join(hitsNew, Seq("doc_id"), "left")
        .withColumn("n_hit_old", coalesce(col("ho"), lit(0L)))
        .withColumn("n_hit_new", coalesce(col("hn"), lit(0L)))
        .withColumn("status",
          when(col("n_hit_old") > 0, "flagged_by_old")
            .when(col("n_hit_new") > 0, "flagged_by_new")
            .otherwise("clean"))
        .select("doc_id", "source", "n_grams", "n_hit_old", "n_hit_new",
          "status")
        .orderBy("doc_id")
    },
    Some(s"""WITH ${PipelineOps.wCte},
      g AS (SELECT DISTINCT doc_id, source, gram
            FROM (${PipelineOps.gramsSql(4)})),
      oldev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 41 = 0),
      delta AS (
        SELECT DISTINCT gram FROM g
        WHERE doc_id % 41 <> 0 AND doc_id % 43 = 0
        EXCEPT SELECT gram FROM oldev),
      tr AS (SELECT doc_id, source, gram FROM g
             WHERE doc_id % 41 <> 0 AND doc_id % 43 <> 0),
      sz AS (SELECT doc_id, source, COUNT(*) AS n_grams FROM tr GROUP BY 1, 2),
      ho AS (SELECT doc_id, COUNT(*) AS n_hit_old FROM tr
             JOIN oldev USING (gram) GROUP BY 1),
      hn AS (SELECT doc_id, COUNT(*) AS n_hit_new FROM tr
             JOIN delta USING (gram) GROUP BY 1)
      SELECT s.doc_id, s.source, CAST(s.n_grams AS BIGINT) AS n_grams,
        CAST(COALESCE(ho.n_hit_old, 0) AS BIGINT) AS n_hit_old,
        CAST(COALESCE(hn.n_hit_new, 0) AS BIGINT) AS n_hit_new,
        CASE WHEN COALESCE(ho.n_hit_old, 0) > 0 THEN 'flagged_by_old'
             WHEN COALESCE(hn.n_hit_new, 0) > 0 THEN 'flagged_by_new'
             ELSE 'clean' END AS status
      FROM sz s
      LEFT JOIN ho ON s.doc_id = ho.doc_id
      LEFT JOIN hn ON s.doc_id = hn.doc_id
      ORDER BY 1"""))

  /** D13 (incremental MinHash dedup): the corpus index is the band table
    * of the EXISTING docs (doc_id % 3 != 0 plays the persisted side);
    * the new batch (doc_id % 3 == 0) joins its bands against the index
    * AND against its own earlier docs. A new doc is `dup_vs_index` if it
    * shares any band with an indexed doc, else `dup_within` if it shares
    * one with an EARLIER new doc (the deterministic one-pass batch
    * policy: earlier-id wins, matching the d9 survivor convention),
    * else it survives and its bands would be appended to the index.
    *
    * Scale shape: the shingle→minhash lineage runs ONCE over the new
    * batch; the index side is a stored table at scale (modeled by the
    * split here). Both joins are band-hash equi-joins whose output is
    * bounded by the new batch's candidate fan-out — the corpus is never
    * self-joined. */
  private val d13IncrementalDedup = QueryDef(
    "d13_incremental_dedup",
    (s, dir) => {
      import DedupOps.{bandHashes, minhashSig, shinglesOf}
      val docs = Tables.documents(s, dir)
      // the band table feeds three branches (index join, within-batch
      // join, and the new-batch filter); withPersisted checkpoints the
      // per-source rollup and releases the band blocks deterministically
      Pins.withPersisted(
        bandHashes(minhashSig(shinglesOf(docs)))) { bands =>
      val newB = bands.filter(col("doc_id") % 3 === 0)
      val oldB = bands.filter(col("doc_id") % 3 =!= 0)
        .select(col("band").as("band_o"), col("bh").as("bh_o"))
      val idxDup = newB
        .join(oldB, col("band") === col("band_o") && col("bh") === col("bh_o"))
        .select(col("doc_id")).distinct()
        .withColumn("idx_dup", lit(true))
      val earlier = bands.filter(col("doc_id") % 3 === 0)
        .select(col("band").as("band_e"), col("bh").as("bh_e"),
          col("doc_id").as("doc_e"))
      val priorDup = newB
        .join(earlier, col("band") === col("band_e") &&
          col("bh") === col("bh_e") && col("doc_e") < col("doc_id"))
        .select(col("doc_id")).distinct()
        .withColumn("prior_dup", lit(true))
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("source"))
        .join(idxDup, Seq("doc_id"), "left")
        .join(priorDup, Seq("doc_id"), "left")
        .withColumn("status",
          when(col("idx_dup"), "dup_vs_index")
            .when(col("prior_dup"), "dup_within_batch")
            .otherwise("survivor"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_new"),
          sum(when(col("status") === "dup_vs_index", 1L).otherwise(0L))
            .as("n_dup_vs_index"),
          sum(when(col("status") === "dup_within_batch", 1L).otherwise(0L))
            .as("n_dup_within"),
          sum(when(col("status") === "survivor", 1L).otherwise(0L))
            .as("n_survivors"),
          sum(when(col("status") === "survivor", col("doc_id"))
            .otherwise(0L)).as("survivor_id_sum"))
        .orderBy("source")
      }
    },
    Some(s"""WITH ${DedupOps.shinglesCte}, ${DedupOps.sigCte},
      ${DedupOps.bandsCte},
      idx AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands o
          ON a.band = o.band AND a.bh = o.bh
        WHERE a.doc_id % 3 = 0 AND o.doc_id % 3 <> 0),
      prior AS (
        SELECT DISTINCT a.doc_id FROM bands a JOIN bands e
          ON a.band = e.band AND a.bh = e.bh AND e.doc_id < a.doc_id
        WHERE a.doc_id % 3 = 0 AND e.doc_id % 3 = 0),
      nd AS (
        SELECT d.doc_id, d.source,
          CASE WHEN i.doc_id IS NOT NULL THEN 'dup_vs_index'
            WHEN p.doc_id IS NOT NULL THEN 'dup_within_batch'
            ELSE 'survivor' END AS status
        FROM documents d
        LEFT JOIN idx i ON i.doc_id = d.doc_id
        LEFT JOIN prior p ON p.doc_id = d.doc_id
        WHERE d.doc_id % 3 = 0)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_new,
        CAST(SUM(CASE WHEN status = 'dup_vs_index' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dup_vs_index,
        CAST(SUM(CASE WHEN status = 'dup_within_batch' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_dup_within,
        CAST(SUM(CASE WHEN status = 'survivor' THEN 1 ELSE 0 END)
          AS BIGINT) AS n_survivors,
        CAST(SUM(CASE WHEN status = 'survivor' THEN doc_id ELSE 0 END)
          AS BIGINT) AS survivor_id_sum
      FROM nd GROUP BY 1 ORDER BY 1"""))

  /** D14 (URL canonicalization dedup): deterministic synthetic URLs per
    * doc carry every variance class the canonicalizer must fold — a
    * CASE-varied scheme/host, a `www.` prefix, a trailing-slash variant
    * (doc_id % 3), tracking parameters (`utm_source`, `ref`), an
    * OPTIONAL content-bearing `id` parameter (kept, doc_id % 2), and a
    * fragment (doc_id % 5). Canonical form: lowercase, fragment and
    * query stripped, `www.` dropped, trailing slash trimmed, the `id`
    * parameter re-appended in canonical position. Docs sharing
    * (source, doc_id % 500) collide exactly when their kept-id presence
    * matches — the oracle recomputes the same fold.
    *
    * Scale shape: row-local string work + one hash groupBy per source —
    * the cheapest dedup pass a crawl corpus gets, run before any
    * content hashing. */
  /** The canonical fold on a raw URL column: lowercase the
    * scheme+host+path, strip the fragment and the query (tracking
    * params die with it), drop the `www.` host prefix, trim one
    * trailing slash, then re-append the content-bearing `id` parameter
    * in canonical position if the raw query carried one. */
  private[graft] def canonicalUrl(raw: Column): Column = {
    val base = lower(element_at(split(element_at(split(raw, "#"), 1),
      "\\?"), 1))
    val stripped = regexp_replace(
      regexp_replace(base, "://www\\.", "://"), "/$", "")
    val keptId = regexp_extract(raw, "[?&]id=([0-9]+)", 1)
    concat(stripped,
      when(keptId =!= "", concat(lit("?id="), keptId)).otherwise(""))
  }

  private val d14UrlDedup = QueryDef(
    "d14_url_dedup",
    (s, dir) => {
      val raw = concat(lit("HTTPS://WwW."), col("source"),
        lit(".Example.COM/a/"), col("doc_id") % 500,
        when(col("doc_id") % 3 === 0, "/").otherwise(""),
        lit("?utm_source=feed&ref="), col("lang"),
        when(col("doc_id") % 2 === 0,
          concat(lit("&id="), col("doc_id") % 500)).otherwise(""),
        when(col("doc_id") % 5 === 0, "#frag").otherwise(""))
      val docs = Tables.documents(s, dir).withColumn("raw_url", raw)
        .withColumn("canon", canonicalUrl(col("raw_url")))
      docs.groupBy("source", "canon")
        .agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_canonical"),
          sum(col("c") - 1).as("n_dup_docs"),
          max(col("c")).as("max_collision"),
          min(col("canon")).as("first_canon"))
        .orderBy("source")
    },
    Some("""WITH u AS (
        SELECT source,
          'HTTPS://WwW.' || source || '.Example.COM/a/' || (doc_id % 500)
            || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
            || '?utm_source=feed&ref=' || lang
            || CASE WHEN doc_id % 2 = 0 THEN '&id=' || (doc_id % 500)
                 ELSE '' END
            || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS raw_url
        FROM documents),
      c AS (
        SELECT source,
          regexp_replace(regexp_replace(
            lower(string_split(string_split(raw_url, '#')[1], '?')[1]),
            '://www\.', '://'), '/$', '')
          || CASE WHEN regexp_extract(raw_url, '[?&]id=([0-9]+)', 1) <> ''
               THEN '?id=' || regexp_extract(raw_url, '[?&]id=([0-9]+)', 1)
               ELSE '' END AS canon
        FROM u),
      g AS (SELECT source, canon, COUNT(*) AS c FROM c GROUP BY 1, 2)
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
        CAST(COUNT(*) AS BIGINT) AS n_canonical,
        CAST(SUM(c - 1) AS BIGINT) AS n_dup_docs,
        CAST(MAX(c) AS BIGINT) AS max_collision,
        MIN(canon) AS first_canon
      FROM g GROUP BY 1 ORDER BY 1"""))

  /** T (per-domain caps): no registered domain contributes more than
    * K = 10 docs. The kept set is the first 10 by md5 rank (salted,
    * doc_id tiebreak — a total order, so both engines pick the same
    * docs); `kept_id_sum` checksums the SELECTION, not just the counts.
    *
    * Scale shape: one window partitioned by domain (high-cardinality —
    * domains at web scale are tens of millions, so per-partition state
    * is tiny) + one per-source rollup. */
  private val tDomainCap = QueryDef(
    "t_domain_cap",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
        .withColumn("domain",
          concat(col("source"), lit("."), col("doc_id") % 37, lit(".com")))
      val w = Window.partitionBy("domain")
        .orderBy(md5(concat(lit("rk:"), col("doc_id"))), col("doc_id"))
      docs.withColumn("rk", row_number().over(w))
        .withColumn("kept", col("rk") <= 10)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("domain")).as("n_domains"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("kept"), col("doc_id")).otherwise(0L))
            .as("kept_id_sum"))
        .orderBy("source")
    },
    Some("""WITH d AS (
        SELECT source, doc_id,
          source || '.' || (doc_id % 37) || '.com' AS domain
        FROM documents),
      r AS (
        SELECT source, doc_id, domain,
          ROW_NUMBER() OVER (PARTITION BY domain
            ORDER BY md5('rk:' || doc_id), doc_id) AS rk
        FROM d)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
        CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(SUM(CASE WHEN rk > 10 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_dropped,
        CAST(SUM(CASE WHEN rk <= 10 THEN doc_id ELSE 0 END) AS BIGINT)
          AS kept_id_sum
      FROM r GROUP BY 1 ORDER BY 1"""))
}
