package graft.queries

import graft.{Pins, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH banding, SimHash, and shingle-Jaccard verification.
  *
  * Hashing is md5-based on BOTH engines (Spark `md5` == DuckDB `md5`,
  * lowercase hex), so every stage is oracle-checkable — no engine-private
  * murmur seeds. MinHash "values" are the lexicographic min of md5 hex
  * strings, which is a perfectly valid uniform hash family (md5(i||'|'||s)
  * for band seed i).
  *
  * Scale shape (the point of LSH): signatures are per-doc (linear scan),
  * candidate pairs come from an equi-join on (band, band_hash) — never an
  * all-pairs product. At 100 TB the band join is the only shuffle and its
  * fan-out is bounded by bucket sizes; the exact-Jaccard verify runs only
  * on LSH survivors.
  */
object DedupOps extends QueryModule {

  private[queries] val NumHashes = 8
  private[queries] val NumBands = 4 // 2 hashes per band

  def defs: Seq[QueryDef] = Seq(d1ExactDedup, d2MinhashLsh, d3Simhash,
    d4JaccardVerify, d5DedupClusters, d6EmbeddingNearDup, d7DedupPipeline,
    d9KeepBest, d12CdcChunks)

  // ── shared shingle machinery (Spark side) ────────────────────────────────

  /** (doc_id, shingle) — distinct word-3-gram shingles per document.
    * Documents with fewer than 3 words yield no shingles (empty array, not
    * a crash): `sequence(1, 0)` would step backwards in Spark, so the
    * short-doc case is branched out explicitly — matching the oracle CTE's
    * `range(1, len-1)` empty-range behavior. */
  private[graft] def shingles(s: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(s, dir))

  /** Same shingling over any (doc_id, text) frame — unit-testable. */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(
        """explode(if(size(split(text, ' ')) >= 3,
          transform(sequence(1, size(split(text, ' ')) - 2),
            i -> concat_ws(' ', slice(split(text, ' '), i, 3))),
          array()))""").as("shingle"))
      .distinct()

  /** Per-doc MinHash signature columns h0..h{k-1}. The hash family is 8-hex
    * SLICES of two md5s (md5('a|'‖s), md5('b|'‖s)) — 2 digest computations
    * per shingle instead of 8, same uniform-family property (each 32-bit
    * slice of md5 is independently uniform). */
  private[queries] def minhashSig(sh: DataFrame): DataFrame = {
    val m = Seq(md5(concat(lit("a|"), col("shingle"))),
      md5(concat(lit("b|"), col("shingle"))))
    val hs = (0 until NumHashes).map(i =>
      min(substring(m(i / 4), 8 * (i % 4) + 1, 8)).as(s"h$i"))
    sh.groupBy("doc_id").agg(hs.head, hs.tail: _*)
  }

  /** (doc_id, band, bh): band hash per doc — md5 of the band's minhashes.
    * All bands emitted in ONE pass (explode of a literal struct array), not
    * N unions — the signature lineage is computed once, not NumBands times. */
  private[queries] def bandHashes(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}"))).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Distinct candidate pairs (doc_a < doc_b) sharing any LSH band. The
    * band table feeds both sides of the self-join, so it is persisted —
    * Catalyst would otherwise recompute the whole shingle→minhash lineage
    * per side (SURVEY §4's one-pass-split caveat). */
  private[graft] def lshCandidates(sh: DataFrame): DataFrame = {
    val bands = Pins.persist(bandHashes(minhashSig(sh)))
    val a = bands.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"), col("bh").as("bh_b"), col("doc_id").as("doc_b"))
    a.join(b, col("band") === col("band_b") && col("bh") === col("bh_b") &&
        col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  // ── shared SQL CTEs (oracle side) ────────────────────────────────────────

  private[queries] val shinglesCte =
    """sh AS (
      SELECT DISTINCT doc_id,
        unnest(list_transform(range(1, len(w) - 1),
          i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))"""

  private[queries] val sigCte = {
    val pfx = Seq("a", "b")
    val mins = (0 until NumHashes)
      .map(i => s"MIN(substring(md5('${pfx(i / 4)}|' || shingle), ${8 * (i % 4) + 1}, 8)) AS h$i")
      .mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM sh GROUP BY 1)"
  }

  private[queries] val bandsCte = {
    val rows = (0 until NumBands)
      .map(b => s"SELECT doc_id, $b AS band, md5(h${2 * b} || h${2 * b + 1}) AS bh FROM sig")
      .mkString(" UNION ALL ")
    s"bands AS ($rows)"
  }

  private[queries] val candCte =
    """cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""

  // ── queries ──────────────────────────────────────────────────────────────

  /** Exact dedup: hash-groupBy on content fingerprint — the map-side-combine
    * friendly baseline. One row of corpus stats. */
  private val d1ExactDedup = QueryDef(
    "d1_exact_dedup",
    (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("h"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_unique"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("n_dup_docs"))
    },
    Some("""SELECT CAST(SUM(c) AS BIGINT) AS n_docs, COUNT(*) AS n_unique,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters,
      CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
      FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)"""))

  /** MinHash + LSH banding: candidate near-dup pairs from the band
    * equi-join. */
  private val d2MinhashLsh = QueryDef(
    "d2_minhash_lsh",
    (s, dir) => lshCandidates(shingles(s, dir)).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $shinglesCte, $sigCte, $bandsCte, $candCte
      SELECT doc_a, doc_b FROM cand ORDER BY 1, 2"""))

  /** SimHash: 16-bit signature via per-bit majority vote over shingle
    * hashes; docs sharing a signature are near-dup candidates. One linear
    * pass + groupBy — no pairs materialized at all. */
  private val d3Simhash = QueryDef(
    "d3_simhash",
    (s, dir) => {
      val sh = shingles(s, dir).withColumn("h", md5(col("shingle")))
      val bitSums = (1 to 16).map(p =>
        sum(when(substring(col("h"), p, 1) >= "8", 1).otherwise(-1)).as(s"s$p"))
      val bits = (1 to 16).map(p => when(col(s"s$p") > 0, "1").otherwise("0"))
      sh.groupBy("doc_id")
        .agg(bitSums.head, bitSums.tail: _*)
        .select(col("doc_id"), concat(bits: _*).as("simhash"))
        .groupBy("simhash")
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy("simhash")
    },
    Some {
      val sums = (1 to 16)
        .map(p => s"SUM(CASE WHEN substring(md5(shingle), $p, 1) >= '8' THEN 1 ELSE -1 END) AS s$p")
        .mkString(", ")
      val bits = (1 to 16)
        .map(p => s"CASE WHEN s$p > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH $shinglesCte,
        sums AS (SELECT doc_id, $sums FROM sh GROUP BY 1),
        sigs AS (SELECT doc_id, $bits AS simhash FROM sums)
        SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
        FROM sigs GROUP BY 1 ORDER BY 1"""
    })

  /** Distributed connected components by ITERATIVE MIN-LABEL PROPAGATION:
    * each node starts at min(self, neighbors) and every round takes the
    * minimum label across its neighborhood, until a round changes nothing
    * (≤ cluster diameter, capped at [[MaxLabelRounds]]). Per-round state is
    * one label row per node plus the edge set — rows stay LINEAR in
    * nodes+edges every round, unlike a transitive closure whose reach set
    * grows O(Σ cluster²). This is the 100 TB path when the LSH candidate
    * graph outgrows the driver. */
  private[graft] val MaxLabelRounds = 10
  private[graft] def distributedClusters(cand: DataFrame): DataFrame =
    distributedLabels(cand)
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .select(col("lbl").as("cluster_rep"), col("n_members"))
      .orderBy("cluster_rep")

  /** The label-propagation loop of [[distributedClusters]], exposed at
    * per-node grain: (doc_id, lbl) for every node of the edge set. */
  private[graft] def distributedLabels(cand: DataFrame): DataFrame = {
    val sym = Pins.persist(cand.unionByName(
      cand.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    var labels = Pins.persist(sym.groupBy("doc_a")
      .agg(least(min(col("doc_b")), col("doc_a")).as("lbl")))
    labels.count()
    var converged = false
    var iters = 0
    while (!converged && iters < MaxLabelRounds) {
      val nbMin = sym
        .join(labels.select(col("doc_a").as("m"), col("lbl").as("nb_lbl")),
          col("doc_b") === col("m"))
        .groupBy("doc_a").agg(min(col("nb_lbl")).as("prop_lbl"))
      val next = Pins.persist(labels.join(nbMin, Seq("doc_a"), "left")
        .select(col("doc_a"),
          least(col("lbl"), coalesce(col("prop_lbl"), col("lbl"))).as("lbl"),
          (col("prop_lbl") < col("lbl")).as("changed")))
      val nChanged = next.filter(col("changed")).count()
      labels.unpersist(false)
      labels = next.drop("changed")
      converged = nChanged == 0
      iters += 1
    }
    labels.select(col("doc_a").as("doc_id"), col("lbl"))
  }

  /** Driver-union-find cutover: edge sets at or below this size collect to
    * the driver (dimension-sized iterative work, the G2 pattern); larger
    * sets run the distributed min-label propagation. */
  private val EdgeGate = 1000000L

  /** Per-node labels (doc_id, lbl = the component's min doc_id) of an edge
    * frame (doc_a, doc_b), sorted by doc_id: Right from a driver union-find
    * when the edge set is within [[EdgeGate]], else Left with the persisted
    * edge frame for the distributed arm. */
  private def driverLabels(edgeDf: DataFrame): Either[DataFrame, Seq[(Long, Long)]] = {
    val cand = Pins.persist(edgeDf)
    if (cand.count() > EdgeGate) Left(cand)
    else {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      cand.collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      Right(parent.keys.toSeq.map(x => (x, find(x))).sortBy(_._1))
    }
  }

  /** Connected components over an edge frame (doc_a, doc_b) →
    * (cluster_rep, n_members ≥ 2), ordered by cluster_rep: the driver
    * labels counted locally, or [[distributedClusters]] past the gate.
    * Shared by d5 (raw LSH candidates) and d7 (Jaccard-verified edges).
    * Oracle: DuckDB recursive CTE computing the same components. */
  private[graft] def clusterEdges(s: SparkSession, edgeDf: DataFrame): DataFrame = {
    import s.implicits._
    driverLabels(edgeDf) match {
      case Right(labels) =>
        labels.groupBy(_._2).map { case (lbl, xs) => (lbl, xs.size.toLong) }
          .filter(_._2 >= 2).toSeq.sortBy(_._1)
          .toDF("cluster_rep", "n_members")
      case Left(cand) => distributedClusters(cand)
    }
  }

  /** Per-node cluster membership (doc_id, lbl) over an edge frame — the
    * same driver/distributed split as [[clusterEdges]], but keeping the
    * member grain so a downstream policy (d9, d11) can choose WHICH doc
    * survives each cluster. */
  private[graft] def clusterLabels(s: SparkSession, edgeDf: DataFrame): DataFrame = {
    import s.implicits._
    driverLabels(edgeDf).fold(distributedLabels, _.toDF("doc_id", "lbl"))
  }

  private val d5DedupClusters = QueryDef(
    "d5_dedup_clusters",
    (s, dir) => clusterEdges(s, lshCandidates(shingles(s, dir))),
    Some(s"""WITH RECURSIVE $shinglesCte, $sigCte, $bandsCte, $candCte,
      sym AS (SELECT doc_a, doc_b FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
      reach(doc_a, doc_b) AS (
        SELECT doc_a, doc_b FROM sym
        UNION
        SELECT r.doc_a, s.doc_b FROM reach r JOIN sym s ON r.doc_b = s.doc_a
        WHERE r.doc_a <> s.doc_b),
      labels AS (SELECT doc_a, LEAST(MIN(doc_b), doc_a) AS lbl
                 FROM reach GROUP BY doc_a)
      SELECT lbl AS cluster_rep, COUNT(*) AS n_members
      FROM labels GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1"""))

  /** Embedding-cosine near-duplicates: sign-LSH buckets propose candidate
    * pairs (same 8-bit signature), exact cosine verifies ≥ 0.9 — the
    * embedding-space analog of d2→d4. Vectors ride along the bucket join
    * as array columns; dots are per-row folds, never an exploded shuffle. */
  private val d6EmbeddingNearDup = QueryDef(
    "d6_embedding_neardup",
    (s, dir) => {
      val planes = (0 until 8).map { h =>
        expr(s"""aggregate(zip_with(embedding, sequence(1, size(embedding)),
          (a, pos) -> CASE WHEN substring(md5(concat('$h:', pos)), 1, 1) >= '8'
            THEN CAST(a AS DOUBLE) ELSE -CAST(a AS DOUBLE) END),
          0D, (acc, x) -> acc + x)""").as(s"p$h")
      }
      val bits = (0 until 8).map(h => when(col(s"p$h") > 0, "1").otherwise("0"))
      val sigs = Pins.persist(Tables.embeddings(s, dir)
        .select(col("vec_id") +: col("embedding") +: planes: _*)
        .select(col("vec_id"), col("embedding"), concat(bits: _*).as("sig"),
          sqrt(expr("""aggregate(transform(embedding,
            a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), 0D, (acc, x) -> acc + x)"""))
            .as("nrm")))
      val a = sigs.select(col("sig"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = sigs.select(col("sig").as("sig_b"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      a.join(b, col("sig") === col("sig_b") && col("vec_a") < col("vec_b"))
        .withColumn("cos", expr("""aggregate(zip_with(emb_a, emb_b,
            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)""")
          / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= 0.35)
        .select("vec_a", "vec_b", "cos")
        .orderBy("vec_a", "vec_b")
    },
    Some {
      val sums = (0 until 8).map(h =>
        s"SUM(CASE WHEN substring(md5('$h:' || pos), 1, 1) >= '8' THEN x ELSE -x END) AS p$h")
        .mkString(", ")
      val bits = (0 until 8)
        .map(h => s"CASE WHEN p$h > 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""WITH el AS (
          SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS x
          FROM (SELECT vec_id, embedding,
                  unnest(generate_series(1, len(embedding))) AS pos FROM embeddings)),
        proj AS (SELECT vec_id, $sums, SQRT(SUM(x * x)) AS nrm FROM el GROUP BY 1),
        sigs AS (SELECT vec_id, nrm, $bits AS sig FROM proj),
        cand AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            a.nrm AS nrm_a, b.nrm AS nrm_b
          FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id),
        dots AS (
          SELECT c.vec_a, c.vec_b, SUM(ea.x * eb.x) / (c.nrm_a * c.nrm_b) AS cos
          FROM cand c
          JOIN el ea ON ea.vec_id = c.vec_a
          JOIN el eb ON eb.vec_id = c.vec_b AND eb.pos = ea.pos
          GROUP BY 1, 2, c.nrm_a, c.nrm_b)
        SELECT vec_a, vec_b, cos FROM dots WHERE cos >= 0.35 ORDER BY 1, 2"""
    })

  /** Exact shingle-Jaccard verification of the LSH candidates (the
    * verify-stage of the classic dedup pipeline): J = |A∩B| / |A∪B|,
    * computed only for pairs the bands surfaced. */
  /** Exact shingle-Jaccard score for every LSH candidate pair:
    * (doc_a, doc_b, n_inter, jaccard). The shingle set feeds four branches
    * (candidates, both join sides, sizes) — callers pass a PERSISTED sh or
    * Catalyst recomputes the explode per branch. The candidate set is
    * LSH-bounded (tiny vs the corpus) — broadcast, so the shingle table
    * streams through map-side joins. Shared by d4 (report) and d7
    * (pipeline verify stage). */
  private[queries] def jaccardScored(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val cand = broadcast(lshCandidates(sh))
    val shA = sh.select(col("doc_id").as("doc_a"), col("shingle"))
    val shB = sh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = cand.join(shA, "doc_a").join(shB, Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
  }

  /** D12: content-defined chunking dedup — the storage-dedup classic
    * (Muthitacharoen et al., LBFS): chunk boundaries fall where the hash
    * of the 8-char window opens with nibble '0' (p = 1/16 → ~16-char
    * average chunks), so INSERTIONS only reshape the chunks they touch —
    * unlike fixed-width blocks, identical content re-chunks identically at
    * any offset. Chunks dedup by hash across the whole corpus; per-source
    * report includes chunk-char conservation (Σ chunk lengths = Σ doc
    * lengths) and the cross-document shared-chunk count. Row-local chunking
    * (one explode + per-doc window); the only corpus-wide state is the
    * chunk-hash table — content-addressed and mergeable, the scale story
    * of every dedup store. */
  private val d12CdcChunks = QueryDef(
    "d12_cdc_chunks",
    (s, dir) => {
      val ch = Pins.persist(Tables.documents(s, dir)
        .withColumn("n", length(col("text")))
        // one-pass native boundary kernel (codegen'd Catalyst expression;
        // bit-equal to the oracle's per-position md5 predicate — see
        // functions.TextHash)
        .select(col("doc_id"), col("source"), col("n"), col("text"),
          explode(graft.functions.TextHash.cdc_boundaries(col("text"))).as("st"))
        .withColumn("clen",
          coalesce(lead(col("st"), 1).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy("st")), col("n") + 1) - col("st"))
        .withColumn("ch", md5(expr("substring(text, st, clen)")))
        .select("doc_id", "source", "clen", "ch"))
      val shared = ch.groupBy("ch")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1)
        .select(col("ch"), lit(1L).as("is_shared"))
      ch.join(broadcast(shared), Seq("ch"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("ch")).as("n_unique"),
          sum(col("clen")).as("sum_chunk_chars"),
          sum(coalesce(col("is_shared"), lit(0L))).as("n_shared_chunks"))
        .withColumn("avg_chunk_len", graft.ops.ExactAgg.snap(
          col("sum_chunk_chars").cast("double") / col("n_chunks")))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT doc_id, source, text, len(text) AS n
        FROM documents),
      st AS (SELECT doc_id, source, n, text, i.i AS st
        FROM d, LATERAL unnest(generate_series(1, n)) AS i(i)
        WHERE i.i = 1 OR (i.i + 7 <= n
          AND substring(md5(substring(text, i.i, 8)), 1, 1) = '0')),
      ch AS (SELECT doc_id, source,
          COALESCE(LEAD(st) OVER (PARTITION BY doc_id ORDER BY st), n + 1)
            - st AS clen,
          md5(substring(text, st,
            COALESCE(LEAD(st) OVER (PARTITION BY doc_id ORDER BY st), n + 1)
              - st)) AS ch
        FROM st),
      sh AS (SELECT ch FROM (SELECT ch, COUNT(DISTINCT doc_id) AS nd
             FROM ch GROUP BY 1) WHERE nd > 1)
      SELECT source, COUNT(*) AS n_chunks,
        CAST(COUNT(DISTINCT c.ch) AS BIGINT) AS n_unique,
        CAST(SUM(clen) AS BIGINT) AS sum_chunk_chars,
        CAST(SUM(CASE WHEN sh.ch IS NULL THEN 0 ELSE 1 END) AS BIGINT)
          AS n_shared_chunks,
        ${graft.ops.ExactAgg.sqlSnap("CAST(SUM(clen) AS DOUBLE) / COUNT(*)")}
          AS avg_chunk_len
      FROM ch c LEFT JOIN sh ON sh.ch = c.ch
      GROUP BY 1 ORDER BY 1"""))

  /** Verified near-dup edge table (jaccard ≥ 0.5), MATERIALIZED once per
    * (matRoot, fixture dir) — the persisted-intermediate pattern the
    * reference pipeline uses between stages (classified trees / inspector
    * bundles are stored; downstream reads the store). The verify stage
    * (d4) publishes this table, the survivor policy (d9) reads it; d7
    * deliberately keeps the WHOLE chain live because it is the end-to-end
    * pipeline-cost measure. At cluster scale the table lands on the shared
    * matRoot and every later stage — and every later RUN — skips the
    * shingle/band/verify recompute. */
  private[queries] def verifiedEdges(s: SparkSession, dir: String): DataFrame =
    graft.domain.ChainFixture.materializeWith(s,
      s"${graft.domain.ChainFixture.matRoot(s)}_dedupver_" +
        graft.domain.ChainFixture.dirKey(dir)) { p =>
      val sh = Pins.persist(shingles(s, dir))
      jaccardScored(sh).filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
        .write.parquet(p)
    }

  private val d4JaccardVerify = QueryDef(
    "d4_jaccard_verify",
    (s, dir) => verifiedEdges(s, dir).orderBy("doc_a", "doc_b"),
    Some(s"""WITH $shinglesCte, $sigCte, $bandsCte, $candCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_inter,
        CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
      ORDER BY 1, 2"""))

  /** The END-TO-END dedup pipeline a training-data run executes: LSH
    * candidates → exact-Jaccard VERIFY (≥ 0.5) → connected components over
    * the VERIFIED edges only → keep the min-id representative per cluster,
    * drop the rest. Differs from d5 in that clustering runs on verified
    * edges, not raw LSH candidates — an LSH false positive (band collision
    * below the Jaccard bar) must NOT glue two clusters together, which is
    * exactly how production dedup avoids over-merging. Output: one row per
    * surviving near-dup cluster with its removal count. */
  private val d7DedupPipeline = QueryDef(
    "d7_dedup_pipeline",
    (s, dir) => {
      val sh = Pins.persist(shingles(s, dir))
      val verified = jaccardScored(sh)
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
      clusterEdges(s, verified)
        .withColumn("n_removed", col("n_members") - 1)
        .orderBy("cluster_rep")
    },
    Some(s"""WITH RECURSIVE $shinglesCte, $sigCte, $bandsCte, $candCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      ver AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
      sym AS (SELECT doc_a, doc_b FROM ver
              UNION SELECT doc_b, doc_a FROM ver),
      reach(doc_a, doc_b) AS (
        SELECT doc_a, doc_b FROM sym
        UNION
        SELECT r.doc_a, s.doc_b FROM reach r JOIN sym s ON r.doc_b = s.doc_a
        WHERE r.doc_a <> s.doc_b),
      labels AS (SELECT doc_a, LEAST(MIN(doc_b), doc_a) AS lbl
                 FROM reach GROUP BY doc_a)
      SELECT lbl AS cluster_rep, COUNT(*) AS n_members,
        COUNT(*) - 1 AS n_removed
      FROM labels GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1"""))

  /** D9: quality-aware survivor selection — the POLICY stage after
    * clustering: instead of d7's keep-min-id, each verified near-dup
    * cluster keeps its best member by (lexical diversity, length, id) —
    * the "keep the richest version" rule a training-data pipeline applies
    * so boilerplate-heavy variants are the ones dropped. Lexical diversity
    * = |distinct words| / |words|, an IEEE division both engines compute
    * bit-identically; the argmax runs as ONE max_by over a struct ordering
    * (no per-cluster sort), so the policy is a single aggregation at
    * cluster grain regardless of corpus size. */
  private val d9KeepBest = QueryDef(
    "d9_keep_best",
    (s, dir) => {
      val verified = verifiedEdges(s, dir).select("doc_a", "doc_b")
      val quality = Tables.documents(s, dir)
        .withColumn("words", split(col("text"), " "))
        .withColumn("quality", size(array_distinct(col("words"))).cast("double")
          / size(col("words")))
        .select(col("doc_id").as("q_doc"), col("quality"), col("n_chars"))
      clusterLabels(s, verified)
        .join(quality, col("doc_id") === col("q_doc"))
        .groupBy("lbl")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"),
            struct(col("quality"), col("n_chars"), -col("doc_id"))).as("kept_doc"),
          max(col("quality")).as("best_quality"),
          (count(lit(1)) - 1).as("n_removed"))
        .filter(col("n_members") >= 2)
        .select(col("lbl").as("cluster_rep"), col("n_members"), col("kept_doc"),
          col("best_quality"), col("n_removed"))
        .orderBy("cluster_rep")
    },
    Some(s"""WITH RECURSIVE $shinglesCte, $sigCte, $bandsCte, $candCte,
      sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2),
      ver AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5),
      sym AS (SELECT doc_a, doc_b FROM ver
              UNION SELECT doc_b, doc_a FROM ver),
      reach(doc_a, doc_b) AS (
        SELECT doc_a, doc_b FROM sym
        UNION
        SELECT r.doc_a, s.doc_b FROM reach r JOIN sym s ON r.doc_b = s.doc_a
        WHERE r.doc_a <> s.doc_b),
      labels AS (SELECT doc_a AS doc_id, LEAST(MIN(doc_b), doc_a) AS lbl
                 FROM reach GROUP BY doc_a),
      qual AS (
        SELECT doc_id AS q_doc,
          CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
            / len(string_split(text, ' ')) AS quality,
          n_chars
        FROM documents),
      ranked AS (
        SELECT l.lbl, l.doc_id, q.quality, q.n_chars,
          ROW_NUMBER() OVER (PARTITION BY l.lbl
            ORDER BY q.quality DESC, q.n_chars DESC, l.doc_id ASC) AS rk
        FROM labels l JOIN qual q ON l.doc_id = q.q_doc)
      SELECT lbl AS cluster_rep, COUNT(*) AS n_members,
        MAX(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
        MAX(quality) AS best_quality,
        COUNT(*) - 1 AS n_removed
      FROM ranked GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY 1"""))
}
