package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.feature.{OneHotEncoder, StandardScaler, StringIndexer, VectorAssembler}

/** Feature pipeline builder (SURVEY §2.5 M1–M4, M10; reference
  * `pipeline_creator`, `Scripts/3_...py:56-72`): one multi-column
  * StringIndexer (+skip) → one multi-column OneHotEncoder, numeric
  * VectorAssembler → StandardScaler (unit std-dev, no centering —
  * reference default), final assembler over encoded + scaled, then the
  * estimator.
  *
  * All six stage families are executor-side MLlib transforms; the only
  * driver work is the indexer's one distinct-count fit over every
  * categorical column.
  */
object Features {

  /** The five feature-stage families, estimator-less (shared by
    * [[pipelineCreator]] and [[featureSize]]). With no categorical
    * columns the indexer and encoder stages are left out.
    */
  def featureStages(categoricalCols: Seq[String], numericalCols: Seq[String])
      : Seq[PipelineStage] = {
    val indexed = categoricalCols.map(_ + "_string").toArray
    val encoded = categoricalCols.map(_ + "_encoded").toArray
    val categorical =
      if (categoricalCols.isEmpty) Nil
      else Seq(
        new StringIndexer().setInputCols(categoricalCols.toArray)
          .setOutputCols(indexed).setHandleInvalid("skip"),
        new OneHotEncoder().setInputCols(indexed).setOutputCols(encoded))
    val assembleNum = new VectorAssembler()
      .setInputCols(numericalCols.toArray).setOutputCol("vector_num")
    val scale = new StandardScaler()
      .setInputCol("vector_num").setOutputCol("vector_num_scaled")
    val assembleAll = new VectorAssembler()
      .setInputCols(encoded :+ "vector_num_scaled")
      .setOutputCol("features")
    categorical ++ Seq(assembleNum, scale, assembleAll)
  }

  def pipelineCreator(categoricalCols: Seq[String], numericalCols: Seq[String],
      estimator: PipelineStage): Pipeline =
    new Pipeline().setStages(
      (featureStages(categoricalCols, numericalCols) :+ estimator).toArray)

  /** Assembled `features` dimensionality on `df` — the MLP input-layer
    * size the reference hard-codes per feature set (827/438/823 at its
    * data; `Scripts/9_...py:113-115`). One feature-stage fit + a
    * single-row transform; OHE widths depend on observed cardinality,
    * so this is data-dependent by design.
    */
  def featureSize(df: org.apache.spark.sql.DataFrame,
      categoricalCols: Seq[String], numericalCols: Seq[String]): Int = {
    val fitted = new Pipeline()
      .setStages(featureStages(categoricalCols, numericalCols).toArray).fit(df)
    fitted.transform(df).select("features").head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
  }
}
