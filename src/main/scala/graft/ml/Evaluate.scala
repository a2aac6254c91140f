package graft.ml

import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.mllib.evaluation.MulticlassMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.DoubleType

/** The reference's six-metric evaluation block (SURVEY §2.5 M21–M22;
  * `Scripts/3_...py:74-79,106-111`): ROC-AUC plus five multiclass
  * metrics over the scored predictions. Two distributed jobs: the
  * ROC-AUC pass, and one confusion-matrix pass from which the driver
  * derives all five multiclass metrics, exactly as
  * `MulticlassClassificationEvaluator` computes each of them (label
  * 0.0 for the by-label metrics, unit weights, F-beta with beta 1).
  */
object Evaluate {

  case class Metrics(areaRoc: Double, accuracy: Double, tpr: Double,
      fpr: Double, precision: Double, f1: Double)

  def metrics(predictions: DataFrame, labelCol: String = "label"): Metrics = {
    val mc = new MulticlassMetrics(predictions
      .select(col("prediction"), col(labelCol).cast(DoubleType), lit(1.0))
      .rdd.map { case Row(p: Double, l: Double, w: Double) => (p, l, w) })
    Metrics(
      areaRoc = new BinaryClassificationEvaluator().setLabelCol(labelCol)
        .setMetricName("areaUnderROC").evaluate(predictions),
      accuracy = mc.accuracy,
      tpr = mc.truePositiveRate(0.0),
      fpr = mc.falsePositiveRate(0.0),
      precision = mc.precision(0.0),
      f1 = mc.weightedFMeasure(1.0))
  }
}
