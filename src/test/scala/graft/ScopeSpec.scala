package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Scope

/** The one owner of a query's scratch state: what a scope releases,
  * in which order, what it leaves alone, and that only it makes
  * temp directories.
  */
class ScopeSpec extends SparkSpec {

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `f` in a scope that registers a persist, a checkpoint and a
    * second persist (each materialized) and a temp dir; returns the
    * three RDD ids in registration order, the temp dir, the ids
    * unpersisted during close in their order, and `f`'s outcome.
    */
  private def registered(f: (DataFrame, DataFrame) => DataFrame)
      : (Seq[Int], Path, Seq[Int], Either[Throwable, DataFrame]) = {
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        unpersisted.add(e.rddId); ()
      }
    }
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    var dir: Path = null
    def track(df: => DataFrame): DataFrame = {
      val before = persistentIds
      val out = df
      out.count()
      ids ++= persistentIds -- before
      out
    }
    spark.sparkContext.addSparkListener(listener)
    val outcome = try Right(Scope.run { sc =>
      val a = track(sc.persist(spark.range(50).toDF("x")))
      dir = sc.tempDir("scope_spec")
      val b = track(sc.checkpoint(a.select((col("x") * 2).as("y"))))
      track(sc.persist(b.filter(col("y") > 10)))
      f(a, b)
    }) catch { case e: Throwable => Left(e) }
    val deadline = System.nanoTime() + 20e9.toLong
    while (unpersisted.asScala.count(ids.contains) < ids.size &&
        System.nanoTime() < deadline) Thread.sleep(50)
    spark.sparkContext.removeSparkListener(listener)
    (ids.toSeq, dir, unpersisted.asScala.toSeq.filter(ids.contains), outcome)
  }

  test("a scope releases its persists, checkpoints and temp dirs newest " +
      "first when the body returns") {
    val (ids, dir, released, outcome) = registered((_, b) => b.limit(1))
    assert(outcome.isRight)
    assert(ids.size == 3, ids)
    assert(released == ids.reverse)
    assert(persistentIds.intersect(ids.toSet).isEmpty)
    assert(!Files.exists(dir))
  }

  test("a scope releases everything newest first when the body throws") {
    val (ids, dir, released, outcome) =
      registered((_, _) => throw new IllegalStateException("boom"))
    assert(outcome.left.exists(_.getMessage == "boom"))
    assert(ids.size == 3, ids)
    assert(released == ids.reverse)
    assert(persistentIds.intersect(ids.toSet).isEmpty)
    assert(!Files.exists(dir))
  }

  test("an input the caller had already cached stays cached") {
    val in = spark.range(20).toDF("x").persist(
      org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      in.count()
      val n = Scope.run { sc =>
        assert(sc.persist(in) eq in)
        sc.persist(in).filter(col("x") % 2 === 0).count()
      }
      assert(n == 10)
      assert(in.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    } finally { in.unpersist(); () }
  }

  test("a materialized result returned from the body collects after close") {
    val before = persistentIds
    val out = Scope.run { sc =>
      val a = sc.persist(spark.range(10).toDF("x"))
      val b = sc.checkpoint(a.select((col("x") + 1).as("x")))
      a.join(b, "x").localCheckpoint(true)
    }
    // only the unregistered result checkpoint outlives the scope
    assert((persistentIds -- before).size == 1)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 9L))
  }

  test("tempDir is a graft_ directory under java.io.tmpdir, gone after close") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    val dir = Scope.run { sc =>
      val d = sc.tempDir("scope_spec")
      Files.writeString(Files.createDirectories(d.resolve("t/u")).resolve("f"), "x")
      assert(d.toRealPath().getParent == tmp)
      assert(d.getFileName.toString.startsWith("graft_scope_spec_"))
      d
    }
    assert(!Files.exists(dir))
  }

  test("only core/Scope.scala creates temp directories in src/main") {
    val root = Paths.get("src/main/scala")
    val uses = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("createTempDirectory"))
      .map(root.relativize(_).toString)
    assert(uses == Seq("graft/core/Scope.scala"), uses)
  }
}
