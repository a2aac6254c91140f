package graft

import org.apache.spark.sql.functions._
import graft.core.Rounds

/** The one iteration operator: how many steps it runs, where a
  * convergence test stops it, what it keeps cached, and that a
  * round's size estimate does not compound across rounds.
  */
class RoundsSpec extends SparkSpec {

  test("a fixed-round loop runs its step exactly n times") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = Rounds.run(spark.range(3).toDF("x"), 5) { (df, i) =>
      seen += i
      df.select((col("x") + 1).as("x"))
    }
    assert(seen.toSeq == (1 to 5))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(5L, 6L, 7L))
    // rounds 1-4 are released; only the returned round stays cached
    assert(sc.getPersistentRDDs.size <= before + 1)
  }

  test("a convergence test stops at the first unchanged round") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val tested = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // rows 0..3; round i keeps x >= min(i, 2): 3 rows, 2 rows, 2 rows
    val out = Rounds.run(spark.range(4).toDF("x"), 10,
        Some((prev: Rounds.Round, next: Rounds.Round) => {
          tested += ((prev.rows, next.rows))
          prev.rows == next.rows
        })) { (df, i) =>
      seen += i
      df.filter(col("x") >= math.min(i, 2))
    }
    assert(seen.toSeq == Seq(1, 2, 3))
    assert(tested.toSeq == Seq((4L, 3L), (3L, 2L), (2L, 2L)))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("a 20-round self-join chain keeps its size estimate within Long range") {
    // without the rebuild the estimate compounds: this check fails
    // after 20 rounds, and by ~25 computing the estimate takes minutes
    val init = spark.range(4).select(col("id").as("k"), (col("id") * 10).as("v"))
    val out = Rounds.run(init, 20) { (s, _) =>
      s.as("a").join(s.as("b"), col("a.k") === col("b.k"))
        .select(col("a.k").as("k"), (col("a.v") + col("b.v")).as("v"))
    }
    val size = out.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size <= BigInt(Long.MaxValue), s"sizeInBytes has ${size.toString.length} digits")
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 4L).map(k => k -> k * 10 * (1L << 20)).toMap)
  }
}
