package graft

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, UnivariateFeatureSelector, VarianceThresholdSelector, VectorAssembler}
import org.apache.spark.ml.linalg.{Matrix, Vector}
import org.apache.spark.ml.stat.{Correlation, Summarizer}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.etl.{AirlineFixture, Cleaning}
import graft.ml.{Evaluate, Features, Models, TrainJob, Tuning}
import graft.stats.Statistics

/** Golden pipeline tests (SURVEY §5.2): fixture → clean → statistics /
  * feature selection → train → evaluate, asserting structure and
  * metric sanity (exact values are Spark-version dependent; SURVEY
  * §7.4 item 3 mandates tolerance/structure checks, not hashes).
  */
class StatsMlSpec extends SparkSpec {

  private lazy val cleaned =
    Cleaning.cleaned(AirlineFixture.generate(spark, 3000)).cache()

  test("reflective cat/num split excludes Year and label") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    assert(cat.contains("Airline") && cat.contains("OriginCityName"))
    assert(!num.contains("Year") && !num.contains("Delay_Status"))
    assert(num.contains("AirTime") && num.contains("DepTimeHour"))
  }

  test("full statistical analysis: chi-square, selectors, variance rule") {
    val sel = Statistics.analyze(cleaned)
    // chi² over the five surviving categoricals, all results populated
    assert(sel.chi.nonEmpty)
    sel.chi.foreach { case (_, p, dof, stat) =>
      assert(p >= 0 && p <= 1 && dof >= 0 && stat >= 0)
    }
    assert(sel.uniCat.size == 3)
    assert(sel.uniNum.size == 7)
    // 6th-largest-variance threshold keeps >= 6 features (ties may add)
    assert(sel.varNum.size >= 6)
    // correlation matrices are square over their input widths
    assert(sel.corrBefore.numRows == sel.corrBefore.numCols)
    assert(sel.corrAfter.numRows < sel.corrBefore.numRows)
  }

  test("LR end-to-end: pipeline fit, temporal split, six metrics") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val r = TrainJob.run(cleaned, cat, num,
      new org.apache.spark.ml.classification.LogisticRegression(), None)
    val m = r.metrics
    assert(m.areaRoc > 0.3 && m.areaRoc <= 1.0)
    Seq(m.accuracy, m.tpr, m.fpr, m.precision, m.f1)
      .foreach(v => assert(v >= 0 && v <= 1))
    // its label-renamed frame is the same cached result as the caller's
    // input, so persisting and unpersisting it would drop that cache
    assert(cleaned.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
  }

  test("TVS grid search picks a best param set") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.1, 0.01)).build()
    val r = TrainJob.run(cleaned, cat.take(2), num, lr, Some(grid))
    assert(r.best.isDefined)
    assert(r.metrics.areaRoc > 0.0)
  }

  test("CV (2-fold smoke) returns best params and metrics") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
    val grid = new org.apache.spark.ml.tuning.ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.1, 0.01)).build()
    val r = TrainJob.run(cleaned, cat.take(1), num, lr, Some(grid), cvFolds = Some(2))
    assert(r.best.isDefined && r.metrics.areaRoc > 0.0)
  }

  test("decision tree variant trains (estimator family smoke)") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val dt = new org.apache.spark.ml.classification.DecisionTreeClassifier()
      .setSeed(777L).setMaxDepth(5)
    val r = TrainJob.run(cleaned, cat.take(1), num, dt, None)
    assert(r.metrics.accuracy > 0.0)
  }

  // The fused one-pass paths against Spark's library path, computed
  // here as the reference.

  private def chainIndexed(df: DataFrame, cat: Seq[String]): DataFrame =
    cat.foldLeft(df) { (d, c) =>
      new StringIndexer().setInputCol(c).setOutputCol(c + "_string")
        .setHandleInvalid("skip").fit(d).transform(d)
    }

  private def assemble(df: DataFrame, cols: Seq[String], out: String) =
    new VectorAssembler().setInputCols(cols.toArray).setOutputCol(out).transform(df)

  test("fused indexing: one multi-column indexer equals the per-column chain") {
    val (cat, _) = Statistics.catNumCols(cleaned)
    val fused = Statistics.indexCategoricals(cleaned, cat)
    val chained = chainIndexed(cleaned, cat)
    assert(fused.columns.toSeq == chained.columns.toSeq)
    assert(fused.collect().toSeq == chained.collect().toSeq)
    assert(Statistics.indexCategoricals(cleaned, Nil) eq cleaned)
  }

  test("fused analyze: corrAfter, uniCat and varNum equal the library path") {
    val sel = Statistics.analyze(cleaned)
    // analyze's kept frame, categoricals and numerics, from the
    // per-column library indexers
    val drop = Seq("Origin", "Dest", "Distance", "Quarter", "Diverted")
    val df = chainIndexed(cleaned, Statistics.catNumCols(cleaned)._1)
      .drop(drop ++ drop.map(_ + "_string"): _*)
    val (cat, num) = {
      val (c, n) = Statistics.catNumCols(df)
      (c.filterNot(_.endsWith("_string")), n.filterNot(_.endsWith("_string")))
    }
    val after = cat.map(_ + "_string") ++ num :+ "Delay_Status"
    val corr = Correlation.corr(assemble(df, after, "v"), "v").head().getAs[Matrix](0)
    assert(sel.corrAfter.numRows == corr.numRows && sel.corrAfter.numCols == corr.numCols)
    sel.corrAfter.toArray.zip(corr.toArray)
      .foreach { case (a, b) => assert(math.abs(a - b) <= 1e-12, s"$a vs $b") }

    val withCat = assemble(df, cat.map(_ + "_string"), "vc")
    val uni = new UnivariateFeatureSelector().setFeaturesCol("vc")
      .setLabelCol("Delay_Status").setSelectionMode("numTopFeatures")
      .setFeatureType("categorical").setLabelType("categorical")
      .setSelectionThreshold(3).fit(withCat)
    assert(sel.uniCat == uni.selectedFeatures.toSeq.map(cat))

    val withNum = assemble(df, num, "vn")
    val variances = withNum.select(Summarizer.variance(col("vn")))
      .head().getAs[Vector](0).toArray
    val vts = new VarianceThresholdSelector().setFeaturesCol("vn")
      .setVarianceThreshold(Math.nextDown(variances.sorted(Ordering[Double].reverse)(5)))
      .fit(withNum)
    assert(sel.varNum == vts.selectedFeatures.toSeq.map(num))
  }

  private lazy val trainTest = TrainJob.split(cleaned.withColumnRenamed("Delay_Status", "label"))

  test("one-pass evaluation equals the five multiclass evaluators") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val (train, test) = trainTest
    val preds = Features.pipelineCreator(cat, num, new LogisticRegression())
      .fit(train).transform(test).cache()
    try {
      val m = Evaluate.metrics(preds)
      def mc(name: String) = new MulticlassClassificationEvaluator()
        .setMetricName(name).evaluate(preds)
      assert(m.accuracy == mc("accuracy"))
      assert(m.tpr == mc("truePositiveRateByLabel"))
      assert(m.fpr == mc("falsePositiveRateByLabel"))
      assert(m.precision == mc("precisionByLabel"))
      assert(m.f1 == mc("f1"))
    } finally { preds.unpersist(); () }
  }

  test("multi-column feature stages equal the per-column stages") {
    val (cat, num) = Statistics.catNumCols(cleaned)
    val (train, test) = trainTest
    val perColumn: Seq[PipelineStage] =
      cat.map(c => new StringIndexer().setInputCol(c).setOutputCol(c + "_string")
        .setHandleInvalid("skip")) ++
      cat.map(c => new OneHotEncoder().setInputCol(c + "_string").setOutputCol(c + "_encoded")) ++
      Seq(new VectorAssembler().setInputCols(num.toArray).setOutputCol("vector_num"),
        new StandardScaler().setInputCol("vector_num").setOutputCol("vector_num_scaled"),
        new VectorAssembler()
          .setInputCols((cat.map(_ + "_encoded") :+ "vector_num_scaled").toArray)
          .setOutputCol("features"))
    def features(stages: Seq[PipelineStage]) =
      new Pipeline().setStages(stages.toArray).fit(train).transform(test)
        .select("features").collect().toSeq.map(_.getAs[Vector](0))
    assert(features(Features.featureStages(cat, num)) == features(perColumn))
  }

  /** Spark jobs launched by `Statistics.analyze(df)`. */
  private def analyzeJobs(df: org.apache.spark.sql.DataFrame): Int = {
    val group = "stats-ml-spec-analyze"
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
      sc.setJobGroup(group, "analyze")
      Statistics.analyze(df)
      // the listener bus delivers in order: once the marker job is
      // seen, every analyze job has been counted
      sc.setJobGroup(marker, "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker))
      seen.toArray.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("analyze runs in 14 Spark jobs on the fixture") {
    // uncached, so analyze persists its input itself
    cleaned.unpersist(blocking = true)
    try {
      val jobs = analyzeJobs(cleaned)
      assert(jobs == 14, s"analyze launched $jobs jobs")
    } finally cleaned.cache()
  }

  test("analyze runs in 13 Spark jobs on the cached fixture") {
    cleaned.count()
    // a cached input is used as it is: no persist of analyze's own
    val jobs = analyzeJobs(cleaned)
    assert(jobs == 13, s"analyze launched $jobs jobs")
  }

  test("model registry: all eight families expose estimator + grid") {
    assert(Models.logisticRegression()._2.length == 9)
    assert(Models.decisionTree()._2.length == 8)
    assert(Models.randomForest()._2.length == 32)
    assert(Models.gbt()._2.length == 4)
    assert(Models.linearSvc()._2.length == 5)
    assert(Models.naiveBayes()._2.length == 5)
    assert(Models.mlpTopologies(10).map(_.length).toSeq == Seq(4, 5, 5))
  }
}
