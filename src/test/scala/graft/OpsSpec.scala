package graft

import graft.ops.{AsOfJoin, ExactAgg, Sessionize, TopK}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden-output specs for the core ops/ helpers — the library pieces every
  * query composes (mirrors the reference's operator micro-tests, e.g.
  * frontend_prunes.rs:137, shared_utils.rs:809). */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("AsOfJoin.backward takes the right row at EQUAL timestamp (<= semantics)") {
    val left = Seq((1L, 100L, "a")).toDF("k", "ts", "tag")
    val right = Seq((1L, 100L, 10.0), (1L, 99L, 9.0)).toDF("k", "ts", "px")
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "px", "last_px").collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("last_px") == 10.0)
  }

  test("AsOfJoin.backward yields null when no right row precedes") {
    val left = Seq((1L, 50L)).toDF("k", "ts")
    val right = Seq((1L, 100L, 10.0)).toDF("k", "ts", "px")
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "px", "last_px").collect()
    assert(out.head.isNullAt(out.head.fieldIndex("last_px")))
  }

  test("AsOfJoin.backward forwards the LATEST of several earlier right rows, per key") {
    val left = Seq((1L, 200L), (2L, 200L)).toDF("k", "ts")
    val right = Seq((1L, 10L, 1.0), (1L, 150L, 2.0), (2L, 199L, 7.0))
      .toDF("k", "ts", "px")
    val out = AsOfJoin.backward(left, right, Seq("k"), "ts", "px", "last_px")
      .orderBy("k").collect()
    assert(out.map(_.getAs[Double]("last_px")).toSeq == Seq(2.0, 7.0))
  }

  test("AsOfJoin.backwardSalted equals backward across buckets, carries, ties, negatives") {
    // right values land in buckets {-1, 0, 2}; left probes hit: a tie in
    // the same bucket, an EMPTY bucket (1 → carry from 0), a later bucket
    // with its own rows, and a negative-time probe before everything
    val left = Seq((1L, -30L), (1L, 5L), (1L, 17L), (1L, 25L), (2L, 9L))
      .toDF("k", "ts")
    val right = Seq((1L, -5L, 0.5), (1L, 5L, 1.0), (1L, 8L, 2.0),
      (1L, 21L, 3.0), (2L, 9L, 9.0)).toDF("k", "ts", "px")
    val plain = AsOfJoin.backward(left, right, Seq("k"), "ts", "px", "p")
      .orderBy("k", "ts").collect().map(r => Option(r.getAs[java.lang.Double]("p")))
    val salted = AsOfJoin.backwardSalted(left, right, Seq("k"), "ts", "px", "p",
      bucketSpan = 10L).orderBy("k", "ts").collect()
      .map(r => Option(r.getAs[java.lang.Double]("p")))
    assert(plain.toSeq == salted.toSeq)
    assert(salted.toSeq ==
      Seq(None, Some(1.0), Some(2.0), Some(3.0), Some(9.0)).map(_.map(Double.box)))
  }

  test("forward as-of via negated time: smallest right ts >= target, ties inclusive") {
    // the q4_quote_windows trick: negate both sides and run the backward
    // kernel — must pick the EARLIEST right row at-or-after the probe,
    // including an exact tie, and null when nothing follows
    val left = Seq((1L, 100L), (1L, 205L), (1L, 300L)).toDF("k", "ts0")
      .withColumn("ts", -col("ts0"))
    val right = Seq((1L, 100L, 1.0), (1L, 150L, 2.0), (1L, 250L, 3.0))
      .toDF("k", "ts0", "px").withColumn("ts", -col("ts0"))
    val out = AsOfJoin.backwardSalted(left, right, Seq("k"), "ts", "px", "p",
      bucketSpan = 60L).orderBy(col("ts0")).collect()
      .map(r => Option(r.getAs[java.lang.Double]("p")))
    // probe 100 → tie at 100 (inclusive); 205 → 250; 300 → nothing after
    assert(out.toSeq == Seq(Some(1.0), Some(3.0), None).map(_.map(Double.box)))
  }

  test("Sessionize splits strictly AFTER the gap threshold (gap == limit stays joined)") {
    val df = Seq((1L, 0L, 1L), (1L, 1000L, 2L), (1L, 2000L, 3L), (1L, 3001L, 4L))
      .toDF("k", "us", "id")
    val out = Sessionize.byGap(df, Seq("k"), "us", "id", gapMicros = 1000L)
      .orderBy("us").select("session_id").as[Long].collect()
    // gaps: 1000 (==limit, same session), 1000, 1001 (> limit, new session)
    assert(out.toSeq == Seq(0L, 0L, 0L, 1L))
  }

  test("TopK.perGroup is deterministic under ties via the tiebreak column") {
    val df = Seq(("g", 5.0, 2L), ("g", 5.0, 1L), ("g", 4.0, 3L))
      .toDF("grp", "score", "id")
    val out = TopK.perGroup(df, Seq("grp"), Seq(col("score").desc, col("id").asc), 2)
      .orderBy("rank").select("id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("ExactAgg.dsum is bit-identical across partitionings") {
    val xs = (1 to 10000).map(i => math.sin(i) * 1e6)
    val one = xs.toDF("x").coalesce(1)
      .agg(ExactAgg.dsum(col("x"))).as[Double].head()
    val many = xs.toDF("x").repartition(32)
      .agg(ExactAgg.dsum(col("x"))).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(one) ==
      java.lang.Double.doubleToLongBits(many))
  }

  test("ExactAgg.dstddevPop matches a reference computation") {
    val xs = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0)
    val sd = xs.toDF("x").agg(ExactAgg.dstddevPop(col("x"))).as[Double].head()
    assert(math.abs(sd - 2.0) < 1e-12)
  }

  test("DedupOps shingling yields no rows for docs under 3 words") {
    val docs = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = graft.queries.DedupOps.shinglesOf(docs)
      .groupBy("doc_id").count().orderBy("doc_id").collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L)))
  }

  test("DedupOps distributed min-label propagation finds components incl. long chains") {
    // three components: a triangle path, a pair, and a 5-node chain whose
    // diameter forces several propagation rounds
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (20L, 21L), (21L, 22L),
      (22L, 23L), (23L, 24L)).toDF("doc_a", "doc_b")
    val out = graft.queries.DedupOps.distributedClusters(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L), (5L, 2L), (20L, 5L)))
  }

  test("DedupOps clusterLabels agrees per-node between driver and distributed paths") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (20L, 21L), (21L, 22L),
      (22L, 23L), (23L, 24L)).toDF("doc_a", "doc_b")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val driver = norm(graft.queries.DedupOps.clusterLabels(spark, edges))
    val dist = norm(graft.queries.DedupOps.distributedLabels(edges))
    assert(driver == dist, s"driver=$driver dist=$dist")
    assert(driver == Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L),
      (20L, 20L), (21L, 20L), (22L, 20L), (23L, 20L), (24L, 20L)))
  }

  test("DedupOps driver and distributed clustering agree on the fixture's d5 LSH edges") {
    import graft.queries.DedupOps
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    Pins.scope {
      val edges =
        Pins.persist(DedupOps.lshCandidates(DedupOps.shingles(spark, SfDir)))
      val clusters = rows(DedupOps.clusterEdges(spark, edges))
      assert(rows(DedupOps.clusterLabels(spark, edges)) ==
        rows(DedupOps.distributedLabels(edges)))
      assert(clusters == rows(DedupOps.distributedClusters(edges)))
      assert(clusters.nonEmpty, "no multi-member component: the check is vacuous")
    }
  }
}
