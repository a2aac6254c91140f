package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core.DriverTier
import graft.llm.{Dedup, TextAnalysis}
import graft.queries.{Extended, Mining}

/** The one driver-vs-distributed tier rule: which arm runs for a given
  * row count and cutover, which jobs the gate itself launches, and that
  * every tiered entry point agrees across tiers on empty input.
  */
class DriverTierSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `f` under a fresh job group and returns its result with the
    * number of Spark jobs it launched. */
  private def jobsOf[A](group: String)(f: => A): (A, Int) = {
    val marker = group + "-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = f
      // the listener bus delivers in order: once the marker job is
      // seen, every job of `f` has been counted
      sc.setJobGroup(marker, marker)
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker))
      (out, seen.toArray.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Which arm ran, and what it was handed. */
  private def tierOf(df: DataFrame, maxRows: Long): Either[Array[Row], Long] =
    DriverTier.run[Either[Array[Row], Long]](df, maxRows, "spec")(
      rows => Left(rows))(n => Right(n))

  test("rule: maxRows = n runs the driver arm, maxRows = n - 1 the " +
      "distributed arm (ScalaCheck over row counts)") {
    val prop = Prop.forAll(Gen.choose(1, 40)) { n =>
      val df = spark.range(n).toDF("id")
      val atN = tierOf(df, n.toLong)
      val below = tierOf(df, n - 1L)
      // below the unprobed threshold the distributed arm gets -1
      val wantBelow = if (n - 1L <= 0) -1L else n.toLong
      atN.left.exists(_.map(_.getLong(0)).toSeq == (0L until n)) &&
        below == Right(wantBelow)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("a non-positive cutover launches no job before the distributed arm") {
    val df = spark.range(5).toDF("id")
    Seq(0L, -1L).foreach { cut =>
      val (tier, jobs) = jobsOf(s"driver-tier-spec-unprobed$cut")(tierOf(df, cut))
      assert(tier == Right(-1L))
      assert(jobs == 0, s"cutover $cut launched $jobs jobs")
    }
  }

  test("the driver arm launches exactly one count and one collect") {
    val df = spark.range(5).toDF("id")
    // under AQE a count is a shuffle-stage job plus a result job, so
    // the reference is what a bare count and a bare collect launch
    val (_, countJobs) = jobsOf("driver-tier-spec-count")(df.count())
    val (_, collectJobs) = jobsOf("driver-tier-spec-collect")(df.collect())
    val (tier, jobs) = jobsOf("driver-tier-spec-driver")(tierOf(df, 5L))
    assert(tier.left.exists(_.length == 5))
    assert(countJobs >= 1 && collectJobs >= 1)
    assert(jobs == countJobs + collectJobs,
      s"driver arm launched $jobs jobs; count $countJobs, collect $collectJobs")
  }

  test("all eight tiered entry points return the same empty result on " +
      "empty input at both tiers") {
    val pairs = Seq.empty[(Long, Long)]
    val noSeeds = Seq.empty[Long].toDF("node")
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
    val sites: Seq[(String, Long => Seq[Any])] = Seq(
      "pageRankOf" -> (cut => rows(Extended.pageRankOf(
        pairs.toDF("src", "dst"), 3, cut))),
      "trianglesOf" -> (cut => rows(Extended.trianglesOf(
        pairs.toDF("u", "v"), cut))),
      "kcoreOf" -> (cut => rows(Extended.kcoreOf(
        pairs.toDF("u", "v"), 2, 8, cut))),
      "bfsLevelsOf" -> (cut => rows(Extended.bfsLevelsOf(
        pairs.toDF("src", "dst"), noSeeds, 3, cut))),
      "ssspOf" -> (cut => rows(Extended.ssspOf(
        Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"), noSeeds, 3,
        cut))),
      "labelPropagate" -> (cut => rows(Mining.labelPropagate(
        pairs.toDF("src", "dst"), 3, cut))),
      "connectedComponents" -> (cut => rows(Dedup.connectedComponents(
        pairs.toDF("doc_a", "doc_b"), driverMaxEdges = cut))),
      "trainBpeFrom" -> (cut => TextAnalysis.trainBpeFrom(
        Seq.empty[(String, Long)].toDF("w", "cnt"), 5, cut)))
    sites.foreach { case (site, f) =>
      assert(f(Long.MaxValue).isEmpty, s"$site driver arm")
      assert(f(-1L).isEmpty, s"$site distributed arm")
    }
  }
}
