package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** [[Pins]]: what a scope releases, and what a call outside any scope
  * leaves alone. Each case uses frames of its own size, so no two cases
  * share a cached plan. */
class PinsSpec extends SparkTestBase {

  private def frame(n: Int): DataFrame = spark.range(n).toDF("x")
  private def cached(df: DataFrame) = df.storageLevel != StorageLevel.NONE
  private def persistent = spark.sparkContext.getPersistentRDDs.keySet

  test("a nested scope releases only its own pins") {
    val before = persistent
    Pins.scope {
      val outer = Pins.persist(frame(11))
      outer.count()
      val outerCp = Pins.checkpoint(frame(12))
      val withOuter = persistent
      Pins.scope {
        Pins.persist(frame(13)).count()
        Pins.checkpoint(frame(14))
        assert(cached(frame(13)))
        assert((persistent -- withOuter).size == 2)
      }
      assert(!cached(frame(13)), "the inner persist outlived its scope")
      assert(persistent == withOuter, "the inner checkpoint outlived its scope")
      assert(cached(outer))
      assert(outerCp.count() == 12)
    }
    assert(!cached(frame(11)))
    assert(persistent == before)
  }

  test("a throwing body still releases its pins") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Pins.scope {
        Pins.persist(frame(21)).count()
        Pins.checkpoint(frame(22))
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(frame(21)))
    assert(persistent == before)
  }

  test("outside any scope the calls are plain persist and localCheckpoint") {
    val before = persistent
    val p = Pins.persist(frame(31))
    val cp = Pins.checkpoint(frame(32))
    val plain = frame(32).localCheckpoint()
    Pins.scope(()) // an unrelated scope releases none of them
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cp.collect().toSeq == plain.collect().toSeq)
    assert(cp.queryExecution.logical.isInstanceOf[LogicalRDD])
    val added = (persistent -- before).toSeq.map(spark.sparkContext.getPersistentRDDs)
    assert(added.size == 2, "one RDD per local checkpoint, none released")
    assert(added.map(_.getStorageLevel).distinct.size == 1)
    p.unpersist(blocking = true)
    added.foreach(_.unpersist(blocking = true))
  }

  test("a scope opened inside foreachBatch releases that batch's pins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val before = persistent
    val input = MemoryStream[Long]
    val inBatch = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    Pins.scope {
      val mainPin = Pins.persist(frame(41))
      mainPin.count()
      val withMain = persistent
      val q = input.toDF().writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        Pins.scope {
          Pins.persist(b).count()
          Pins.checkpoint(b.select(($"value" * 2).as("v")))
          inBatch.add((persistent -- withMain).size): Unit
        }
      }.start()
      try {
        input.addData(1L, 2L)
        q.processAllAvailable()
        input.addData(3L)
        q.processAllAvailable()
      } finally q.stop()
      assert(inBatch.asScala.toSeq == Seq(2, 2), "each batch pins two RDDs")
      assert(persistent == withMain,
        "the batch scopes must release their pins and keep the main thread's")
      assert(cached(mainPin))
    }
    assert(persistent == before)
  }

  test("what a fork's branches pin belongs to the caller's scope") {
    val sc = spark.sparkContext
    val before = persistent
    sc.setLocalProperty("graft.pins.spec", "caller")
    try Pins.scope {
      val (threads, props) = Pins.fork { f =>
        val cp = f(Pins.checkpoint(frame(51)))
        val p = f(Pins.persist(frame(52)).count())
        val dep = f { cp.get.count(); Pins.checkpoint(frame(53)) }
        val seen = f((Thread.currentThread, sc.getLocalProperty("graft.pins.spec")))
        dep.get
        assert(p.get == 52)
        (Set(seen.get._1), Set(seen.get._2))
      }
      assert(!threads.contains(Thread.currentThread), "branches run on workers")
      assert(props == Set("caller"), "workers inherit the caller's local properties")
      assert((persistent -- before).size == 3, "two checkpoints and a persist")
      assert(cached(frame(52)))
    } finally sc.setLocalProperty("graft.pins.spec", null)
    assert(!cached(frame(52)))
    assert(persistent == before)
  }

  test("a failing branch reaches the caller after its siblings finish") {
    val before = persistent
    val siblingDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Pins.scope {
        Pins.fork { f =>
          f(Pins.checkpoint(frame(61)))
          val failed = f[Long](throw new IllegalStateException("branch boom"))
          // a sibling that pins only after the failure: the scope may
          // release only once it is done
          f {
            Thread.sleep(300)
            Pins.persist(frame(62)).count()
            siblingDone.set(true)
          }
          val dependent = f(failed.get + 1)
          dependent.get
        }
      }
    }
    assert(e.getMessage == "branch boom")
    assert(siblingDone.get, "the failure must wait for the running sibling")
    assert(!cached(frame(62)))
    assert(persistent == before)
  }

  test("a failing branch nobody waits for still fails the fork") {
    val before = persistent
    val e = intercept[IllegalStateException] {
      Pins.scope {
        Pins.fork { f =>
          f[Unit](throw new IllegalStateException("unread boom"))
          f(Pins.persist(frame(71)).count())
          ()
        }
      }
    }
    assert(e.getMessage == "unread boom")
    assert(persistent == before)
  }
}
