package graft

import graft.Materialize._
import graft.operators.DedupClusters
import org.apache.spark.sql.functions._

/** The compute-once barrier's mode dispatch: local masters keep
  * localCheckpoint; forced-reliable mode (the cluster path, testable in
  * one JVM via spark.graft.barrier.mode) writes real checkpoint files
  * and stays row-identical — including through an iterative consumer
  * (DedupClusters, whose per-round barrier is the lineage guard). */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set("spark.graft.barrier.mode", mode)
    try body
    finally spark.conf.set("spark.graft.barrier.mode", "auto")
  }

  test("auto mode on a local master takes the localCheckpoint arm") {
    assert(!Materialize.isReliable(spark))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1, 2, 3).toDF("x").materialize()
    assert(df.count() == 3)
    // localCheckpoint persists an internal RDD — the arm's signature
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
    ModelCheckpoint.sweep(spark)
  }

  test("reliable mode writes checkpoint files and preserves rows") {
    withMode("reliable") {
      assert(Materialize.isReliable(spark))
      val dir = tmpDir("ckpt")
      spark.conf.set("spark.graft.checkpoint.dir", dir)
      spark.sparkContext.setCheckpointDir(dir)
      val df = spark.range(100).withColumn("y", col("id") * 2).materialize()
      assert(df.agg(sum("y")).head().getLong(0) == 9900L)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try assert(files.filter(java.nio.file.Files.isRegularFile(_)).count() > 0,
        "reliable barrier wrote no checkpoint files")
      finally files.close()
    }
  }

  test("ModelCheckpoint.pin routes through the reliable barrier off-local") {
    withMode("reliable") {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val df = ModelCheckpoint.pin(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      assert(df.count() == 2)
      // no block-manager blocks to pin — checkpoint files are the copy
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("tmp-fallback cleanup: registration is per-dir idempotent and the hook's deletion is recursive") {
    val dir = tmpDir("ckpt_cleanup")
    val nested = java.nio.file.Paths.get(dir, "a", "b")
    java.nio.file.Files.createDirectories(nested)
    java.nio.file.Files.write(nested.resolve("f.bin"), Array[Byte](1, 2, 3))
    Materialize.registerTmpCleanup(dir)
    Materialize.registerTmpCleanup(dir) // second call: no second hook
    assert(Materialize.registeredTmpCleanups.contains(dir))
    // the hook body, invoked directly (JVM shutdown can't run in-test)
    Materialize.deleteRecursively(new java.io.File(dir))
    assert(!new java.io.File(dir).exists())
  }

  test("pin discovers its own RDD id under a concurrent unpinned barrier (r13 what's-wrong #4)") {
    import java.util.concurrent.{Callable, CyclicBarrier, Executors}
    import org.apache.spark.sql.DataFrame
    ModelCheckpoint.sweep(spark)
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 5) {
        val gate = new CyclicBarrier(2)
        val fa = pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            gate.await()
            ModelCheckpoint.pin(spark.range(1000L * i).toDF("a"))
          }
        })
        val fb = pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = {
            gate.await()
            spark.range(1000L * i).toDF("b").materialize()
          }
        })
        val (pinnedDf, unpinnedDf) = (fa.get(), fb.get())
        assert(pinnedDf.count() == 1000L * i && unpinnedDf.count() == 1000L * i)
        ModelCheckpoint.sweep(spark)
        // after the sweep only PINNED blocks survive: a mis-pin (the old
        // global before/after diff racing the concurrent barrier) would
        // leave the unpinned barrier's RDD resident here
        val surviving = spark.sparkContext.getPersistentRDDs.keySet
        assert(surviving.forall(ModelCheckpoint.isPinned),
          s"sweep left unpinned RDDs resident: $surviving")
        // and the pinned frame was NOT swept (its blocks still serve)
        assert(pinnedDf.count() == 1000L * i)
      }
    } finally pool.shutdown()
  }

  test("iterative consumer (DedupClusters) is mode-identical") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    // the distributed star-contraction arm, whose per-round barrier is
    // what reliable mode must survive
    val local = DedupClusters.starComponents(edges, "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reliable = withMode("reliable") {
      DedupClusters.starComponents(edges, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(local == reliable)
    assert(local.map(_._2).toSeq.distinct.size == 2) // {1,2,3,4} {5,6}
  }
}
