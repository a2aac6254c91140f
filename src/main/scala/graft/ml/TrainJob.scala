package graft.ml

import org.apache.spark.ml.PipelineStage
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.core.Scope
import graft.stats.Statistics

/** End-to-end training flow (reference `Scripts/3_...py` template and
  * its 7 estimator variants): temporal split (train Year≠2022, test
  * Year=2022), feature pipeline per feature set, TVS or CV search,
  * six-metric evaluation. The reference reruns this ×3 feature sets
  * per estimator; [[run]] is one (estimator, feature-set) cell.
  *
  * The input stays persisted MEMORY_ONLY across the grid's many fit
  * passes (reference M24) — at cluster scale this is the difference
  * between one scan and |grid|+1 scans of the cleaned table.
  */
object TrainJob {

  case class Result(best: Option[ParamMap], metrics: Evaluate.Metrics)

  /** Temporal holdout (`Scripts/3_...py:52-53`). */
  def split(df: DataFrame): (DataFrame, DataFrame) =
    (df.filter(col("Year") =!= 2022), df.filter(col("Year") === 2022))

  /** One training cell. `grid=None` fits the bare pipeline (the
    * reference's `reg == 0` arm); otherwise TVS (or CV when
    * `cvFolds` is set) searches the grid on ROC-AUC.
    */
  def run(cleaned: DataFrame, catCols: Seq[String], numCols: Seq[String],
      estimator: PipelineStage, grid: Option[Array[ParamMap]],
      cvFolds: Option[Int] = None, labelCol: String = "Delay_Status")
      : Result = Scope.run { sc =>
    val df = sc.persist(cleaned.withColumnRenamed(labelCol, "label"),
      StorageLevel.MEMORY_ONLY)
    val (train, test) = split(df)
    val pipeline = Features.pipelineCreator(catCols, numCols, estimator)
    val evaluator = new BinaryClassificationEvaluator().setMetricName("areaUnderROC")
    grid match {
      case Some(g) if cvFolds.isDefined =>
        val m = Tuning.crossValidate(pipeline, g, evaluator, train,
          folds = cvFolds.get)
        Result(Some(Tuning.bestParams(m)), Evaluate.metrics(m.transform(test)))
      case Some(g) =>
        val m = Tuning.trainValidationSplit(pipeline, g, evaluator, train)
        Result(Some(Tuning.bestParams(m)), Evaluate.metrics(m.transform(test)))
      case None =>
        val m = pipeline.fit(train)
        Result(None, Evaluate.metrics(m.transform(test)))
    }
  }

  /** The three feature sets of every reference training script: full
    * (reflective cat/num), univariate-selected, variance-selected.
    */
  def featureSets(cleaned: DataFrame, sel: Statistics.Selection)
      : Seq[(String, Seq[String], Seq[String])] = {
    val (cat, num) = Statistics.catNumCols(cleaned)
    Seq(
      ("full", cat, num),
      ("uni", sel.uniCat, sel.uniNum),
      ("var", cat, sel.varNum))
  }

  /** MLP topology sweep (`Scripts/9_...py:83-110`): size the input
    * layer from the fitted feature pipeline, fit each topology, keep
    * the ROC-AUC argmax. No grid search — the topology IS the grid.
    */
  def runMlp(cleaned: DataFrame, catCols: Seq[String], numCols: Seq[String],
      labelCol: String = "Delay_Status"): (Array[Int], Evaluate.Metrics) =
    Scope.run { sc =>
      val df = sc.persist(cleaned.withColumnRenamed(labelCol, "label"),
        StorageLevel.MEMORY_ONLY)
      val (train, test) = split(df)
      val inputSize = Features.featureSize(train, catCols, numCols)
      Models.mlpTopologies(inputSize)
        .map { layers =>
          val m = Features.pipelineCreator(catCols, numCols, Models.mlp(layers))
            .fit(train)
          (layers, Evaluate.metrics(m.transform(test)))
        }
        .maxBy(_._2.areaRoc)
    }
}
