package graft

import graft.domain.ChainFixture
import org.apache.hadoop.fs.Path
import java.nio.file.{Files, Paths}

/** The atomic-publish contract of the materialization store (ADVICE r7):
  * when two writers race one `matRoot`, the loser must never corrupt the
  * winner's published table — in particular RawLocalFileSystem's
  * move-INTO rename semantics must not nest a half-written attempt
  * inside the existing target. And the relation registry every store and
  * input is read through: a path resolves once per JVM, each read is a
  * fresh frame of the caller's session. */
class MaterializeSpec extends SparkTestBase {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def mkTable(dir: String, marker: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, marker), marker): Unit
  }

  test("publish wins when no target exists") {
    val root = Files.createTempDirectory("graft_pub").toString
    val tmp = s"$root/t.inprogress_1"; val target = s"$root/t"
    mkTable(tmp, "winner")
    ChainFixture.publish(conf, new Path(tmp), new Path(target))
    assert(Files.exists(Paths.get(target, "winner")))
    assert(!Files.exists(Paths.get(tmp)))
  }

  test("publish loser deletes its attempt and never nests inside the winner") {
    val root = Files.createTempDirectory("graft_pub").toString
    val target = s"$root/t"
    mkTable(target, "winner")
    val tmp = s"$root/t.inprogress_2"
    mkTable(tmp, "loser")
    ChainFixture.publish(conf, new Path(tmp), new Path(target))
    // winner's table intact, loser's attempt gone, nothing nested
    assert(Files.exists(Paths.get(target, "winner")))
    assert(!Files.exists(Paths.get(tmp)))
    val children = new java.io.File(target).listFiles().map(_.getName).toSet
    assert(children == Set("winner"), s"unexpected children: $children")
  }

  test("concurrent racers over one fresh target leave exactly one clean table") {
    val root = Files.createTempDirectory("graft_pub").toString
    val target = new Path(s"$root/t")
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        val tmp = s"$root/t.inprogress_$i"
        mkTable(tmp, s"w$i")
        try ChainFixture.publish(conf, new Path(tmp), target)
        catch { case _: java.io.IOException => () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val children = new java.io.File(s"$root/t").listFiles().map(_.getName).toSet
    assert(children.size == 1 && children.head.startsWith("w"), s"corrupt table: $children")
    val leftovers = new java.io.File(root).listFiles().map(_.getName).filter(_.contains("inprogress"))
    assert(leftovers.isEmpty, s"leftover attempts: ${leftovers.toSeq}")
  }

  test("a versioned store finds the older layouts of its table, nothing else") {
    val root = s"${Files.createTempDirectory("graft_orphans")}/graft_mat_1"
    Seq("traces_d", "traces_v1_d", "traces_v2_d", "traces_v1_e", "calldata_d",
      "bundles_v3_d").foreach(k => mkTable(s"${root}_$k", "t"))
    assert(ChainFixture.olderVersions(conf, root, "traces_v2_d") ==
      Seq(s"${root}_traces_d", s"${root}_traces_v1_d"))
    assert(ChainFixture.olderVersions(conf, root, "calldata_v2_d") ==
      Seq(s"${root}_calldata_d"))
    assert(ChainFixture.olderVersions(conf, root, "bundles_v2_d").isEmpty,
      "a newer layout is not an orphan")
    assert(ChainFixture.olderVersions(conf, root, "sand_d").isEmpty)
    assert(new java.io.File(s"${root}_traces_d").exists(), "nothing is deleted")
  }

  test("g5 registry survives as a cross-run parquet cache: built once, reread after") {
    import graft.domain.PricingOps
    val q = SparkEntry.queries("g5_cross_run_cache")
    val first = q(spark, SfDir).collect()
    val path = PricingOps.g5CachePath(spark, SfDir)
    val dirF = new java.io.File(path)
    assert(dirF.isDirectory, s"registry cache not persisted at $path")
    val mtimes = dirF.listFiles().map(f => f.getName -> f.lastModified()).toMap
    val second = q(spark, SfDir).collect()
    val after = dirF.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(after == mtimes, "second run rewrote the registry instead of reusing it")
    assert(second.map(_.toString).sorted.sameElements(first.map(_.toString).sorted))
  }

  test("registry: a store or input read again starts no Spark job") {
    ChainFixture.tracesTable(spark, SfDir)
    Tables.lineitem(spark, SfDir)
    val counter = JobCounter(spark.sparkContext)
    try {
      ChainFixture.tracesTable(spark, SfDir)
      Tables.lineitem(spark, SfDir)
      assert(counter.jobs == 0, "a second read listed the files or inferred the schema again")
    } finally counter.close()
  }

  test("registry: two reads of one store self-join without ambiguity") {
    import org.apache.spark.sql.functions.{col, sum}
    val a = ChainFixture.tracesTable(spark, SfDir)
    val b = ChainFixture.tracesTable(spark, SfDir)
    // a non-equality term: Dataset.join rewrites only a trivially true
    // `x === x`, so shared attribute ids would make this one ambiguous
    val pairs = a.join(b, a("tx_hash") === b("tx_hash") && a("trace_idx") < b("trace_idx"))
      .count()
    val perTx = a.groupBy("tx_hash").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0).toLong
    assert(pairs == perTx)
  }

  test("registry: a frame read from another session belongs to that session") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    ChainFixture.tracesTable(spark, SfDir)
    val other = spark.newSession()
    val df = ChainFixture.tracesTable(other, SfDir)
    assert(df.sparkSession eq other)
    val rel = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    assert(rel.exists(_.sparkSession eq other), s"relation bound to another session: $rel")
  }
}
