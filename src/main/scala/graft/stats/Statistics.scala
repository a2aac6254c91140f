package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.ml.feature.{StringIndexer, UnivariateFeatureSelector, VectorAssembler}
import org.apache.spark.ml.linalg.{DenseMatrix, Matrix, Vector}
import org.apache.spark.ml.stat.{ChiSquareTest, Correlation, Summarizer}
import graft.core.Scope

/** Statistical-analysis & feature-selection surface (SURVEY §2.5
  * M1/M3/M5–M9; reference `Scripts/2_cs_777_statistical_analysis_
  * feature_selection.py`). Distributed aggregates run on executors;
  * only tiny matrices/vectors come back to the driver, which sorts /
  * thresholds / maps indices to names — the reference's two-tier shape
  * kept in one JVM.
  */
object Statistics {

  /** Reflective categorical/numeric split (`Scripts/2_...py:39-52`):
    * string dtype ⇒ categorical; everything else numeric except Year
    * and the label.
    */
  def catNumCols(df: DataFrame, label: String = "Delay_Status")
      : (Seq[String], Seq[String]) = {
    val (cat, rest) = df.dtypes.toSeq.partition(_._2 == "StringType")
    (cat.map(_._1),
      rest.map(_._1).filterNot(c => c == "Year" || c == label))
  }

  /** M1: frequency-descending string indexing of every categorical
    * column, appended as `<col>_string` (`Scripts/2_...py:56-57`). One
    * multi-column indexer: a single counting job fits every column.
    */
  def indexCategoricals(df: DataFrame, catCols: Seq[String]): DataFrame =
    if (catCols.isEmpty) df
    else new StringIndexer().setInputCols(catCols.toArray)
      .setOutputCols(catCols.map(_ + "_string").toArray)
      .setHandleInvalid("skip").fit(df).transform(df)

  /** M3+M5: assemble `cols` and compute the Pearson correlation matrix
    * (`Scripts/2_...py:59-61`). Executors run one treeAggregate; only
    * the N×N matrix reaches the driver.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
      vecCol: String = "vector_assem_all"): Matrix = {
    val assembled = new VectorAssembler()
      .setInputCols(cols.toArray).setOutputCol(vecCol)
      .setHandleInvalid("skip").transform(df)
    Correlation.corr(assembled, vecCol).head().getAs[Matrix](0)
  }

  /** The correlation matrix over a subset of `m`'s columns, in the
    * order of `keep`. A Pearson entry depends only on its two columns,
    * so this equals a fresh correlation over `keep` whenever the other
    * columns drop no extra rows (no null or NaN in them).
    */
  def subMatrix(m: Matrix, keep: Seq[Int]): Matrix = {
    val k = keep.size
    new DenseMatrix(k, k, Array.tabulate(k * k)(i => m(keep(i % k), keep(i / k))))
  }

  /** M6: χ² independence of each indexed categorical vs the label
    * (`Scripts/2_...py:89-93`). Returns (feature, pValue, dof, stat).
    */
  def chiSquare(df: DataFrame, catCols: Seq[String],
      label: String = "Delay_Status"): Seq[(String, Double, Int, Double)] = {
    val assembled = new VectorAssembler()
      .setInputCols(catCols.map(_ + "_string").toArray)
      .setOutputCol("vector_assem_cat").transform(df)
    val r = ChiSquareTest.test(assembled, "vector_assem_cat", label).head()
    val p = r.getAs[Vector]("pValues").toArray
    val d = r.getSeq[Int](r.fieldIndex("degreesOfFreedom"))
    val s = r.getAs[Vector]("statistics").toArray
    catCols.indices.map(i => (catCols(i), p(i), d(i), s(i)))
  }

  /** M7, categorical arm: the `k` features of lowest χ² p-value, ties
    * by feature index, NaN last, in that order — the rule (and the
    * order) of `UnivariateFeatureSelector`'s categorical
    * `numTopFeatures` mode, read off an already computed [[chiSquare]].
    */
  def chiSquareTopK(chi: Seq[(String, Double, Int, Double)], k: Int): Seq[String] =
    chi.zipWithIndex
      .sortBy { case ((_, p, _, _), i) => (p, i) }(
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .take(k).map(_._1._1)

  /** M7, continuous arm: ANOVA-F top-k selection vs the categorical
    * label (`Scripts/2_...py:103-118`). Returns the selected column
    * names in the selector's order.
    */
  def univariateSelect(df: DataFrame, cols: Seq[String], vecCol: String,
      k: Int, label: String = "Delay_Status"): Seq[String] = {
    val selector = new UnivariateFeatureSelector()
      .setFeaturesCol(vecCol).setOutputCol(vecCol + "_selected")
      .setLabelCol(label).setSelectionMode("numTopFeatures")
      .setFeatureType("continuous").setLabelType("categorical")
      .setSelectionThreshold(k)
    selector.fit(df).selectedFeatures.toSeq.map(cols)
  }

  /** M8+M9: variance-threshold selection with the reference's
    * "threshold = 6th-largest variance ⇒ keep the top-(keep)" rule
    * (`Scripts/2_...py:124-131`). One Summarizer pass computes variance,
    * max and min per feature; the driver sorts the tiny vectors and
    * applies `VarianceThresholdSelector`'s own rule (a feature whose
    * max equals its min counts as variance 0, and a feature is kept
    * when its variance is strictly above the threshold).
    */
  def varianceTopK(df: DataFrame, numCols: Seq[String],
      vecCol: String = "vector_assem_num", keep: Int = 6): Seq[String] = {
    val s = df
      .select(Summarizer.metrics("variance", "max", "min").summary(col(vecCol)).as("s"))
      .select("s.variance", "s.max", "s.min").head()
    val Seq(variance, max, min) = (0 to 2).map(s.getAs[Vector](_).toArray)
    // Spark 4's selector keeps variance strictly > threshold; the
    // reference (Spark 3.3) observably kept the k-th feature itself
    // (report lists 6 kept with the 6th-largest as threshold), so step
    // just below the k-th value to preserve reference behavior across
    // the version drift (SURVEY §7.4 item 3).
    val threshold = Math.nextDown(variance.sorted(Ordering[Double].reverse)(keep - 1))
    numCols.indices
      .filter(i => (if (max(i) == min(i)) 0.0 else variance(i)) > threshold)
      .map(numCols)
  }

  /** The result of [[analyze]]: the three selected-feature lists
    * (uniCat, uniNum, varNum) — the driver-feedback values that
    * parameterize training (kept as in-process Scala values; SURVEY
    * §7.4 item 5) — plus the χ² rows and both correlation matrices.
    */
  case class Selection(uniCat: Seq[String], uniNum: Seq[String], varNum: Seq[String],
      chi: Seq[(String, Double, Int, Double)], corrBefore: Matrix, corrAfter: Matrix)

  /** The full script-2 flow on a cleaned table: index, correlate,
    * drop the reference's high-correlation columns, χ², univariate ×2,
    * variance-threshold. Each statistic family is one pass: one
    * indexer fit, one correlation (`corrAfter` is its sub-matrix), one
    * χ² test (uniCat is its top-3), one ANOVA fit and one Summarizer
    * pass.
    *
    * Precondition: no null or NaN in `cleanedDf`, which
    * `Cleaning.cleaned`'s `na.drop()` guarantees. Otherwise the dropped
    * columns could remove rows from `corrBefore` that `corrAfter`
    * should keep.
    */
  def analyze(cleanedDf: DataFrame, label: String = "Delay_Status",
      dropCols: Seq[String] = Seq("Origin", "Dest", "Distance", "Quarter", "Diverted"))
      : Selection = Scope.run { sc =>
    // The indexer fit, the correlation and the cached feature frame
    // each rescan the input — persist it for library callers that
    // didn't (an already-cached caller's frame is left as it is).
    val in = sc.persist(cleanedDf)
    val (cat0, num0) = catNumCols(in, label)
    val indexed0 = indexCategoricals(in, cat0)
    val before = cat0.map(_ + "_string") ++ num0 :+ label
    val corrBefore = correlationMatrix(indexed0, before)

    val df = indexed0.drop(dropCols ++ dropCols.map(_ + "_string"): _*)
    val (cat, num) = {
      val (c, n) = catNumCols(df, label)
      (c.filterNot(_.endsWith("_string")), n.filterNot(_.endsWith("_string")))
    }
    val corrAfter = subMatrix(corrBefore,
      (cat.map(_ + "_string") ++ num :+ label).map(before.indexOf))

    // χ², the ANOVA selector and the variance pass read this frame —
    // cache it once.
    val withNum = sc.persist(new VectorAssembler()
      .setInputCols(num.toArray).setOutputCol("vector_assem_num")
      .transform(df))

    val chi = chiSquare(withNum, cat, label)
    Selection(
      uniCat = chiSquareTopK(chi, 3),
      uniNum = univariateSelect(withNum, num, "vector_assem_num", 7, label),
      varNum = varianceTopK(withNum, num),
      chi = chi, corrBefore = corrBefore, corrAfter = corrAfter)
  }
}
