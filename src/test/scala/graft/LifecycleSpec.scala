package graft

/** The cache lifecycle end to end: each query below persists or
  * local-checkpoints frames (in its `fn`, its stream drive or its tip
  * micro-batches); run and consumed inside a runner's [[Pins.scope]], it
  * must leave no persistent RDD and no cached block behind. Consuming and
  * then clearing the cache manager does not pass this for the
  * checkpointing queries: a local checkpoint is not in the cache manager. */
class LifecycleSpec extends SparkTestBase {

  private val queries = Seq("q1_bigmac", "q1_sandwich", "j10_bundle_dedup",
    "c2_census_curve", "d13_incremental_dedup", "d12_cdc_chunks",
    "r5_stream_fold", "r8_stream_join", "s5_write_behind",
    "w9_stream_session", "r2_tip_composer")

  /** Drops what earlier suites left cached, so each case starts clean. */
  private def releaseAll(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  queries.foreach { q =>
    test(s"$q leaves nothing pinned after its runner scope") {
      releaseAll()
      graft.streaming.TipInspect.resetTipRuns() // a fresh tip stream
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Pins.scope(SparkEntry.queries(q)(spark, SfDir)
        .write.mode("overwrite").format("noop").save())
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"$q left ${left.size} persistent RDDs: $left")
      val held = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
      assert(held.isEmpty, s"$q left cached blocks: ${held.map(_.name).mkString(", ")}")
    }
  }
}
