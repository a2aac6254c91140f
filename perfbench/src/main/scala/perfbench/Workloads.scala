package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.core.Tables

/** What one op hands back: its result rows, plus named scalar details
  * the checker bounds (AUC, row counts, selected features).
  */
final case class Out(rows: Seq[Row], schema: StructType,
    detail: Map[String, String] = Map.empty, bytesWritten: Long = 0L)

object Out {
  private val lineSchema = StructType(Seq(StructField("line", StringType)))
  def lines(ls: Seq[String], detail: Map[String, String] = Map.empty,
      bytesWritten: Long = 0L): Out =
    Out(ls.map(Row(_)), lineSchema, detail, bytesWritten)
  def frame(df: DataFrame): Out = Out(df.collect().toSeq, df.schema)
}

/** One public call into a layer, timed as a unit. */
final case class Op(name: String, layer: String, run: SparkSession => Out)

trait Workload {
  def ops: IndexedSeq[Op]
  /** Read every input once so its files are cached and its plan warm. */
  def materialize(spark: SparkSession): Unit
  /** Threads for the warm-up passes; 1 when ops consume each other's output. */
  def warmThreads: Int
}

object Digest {
  /** Order-insensitive digest: each row rendered canonically (doubles
    * rounded to 1e-6), the rendered rows sorted, then hashed.
    */
  def of(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val r = math.rint(d * 1e6) / 1e6
      if (r == 0.0) "0.0" else r.toString
    }
}

/** star_mix: registered engine queries over the generated tables, each
  * op one `SparkEntry.queries` entry collected.
  */
final class QueryMix(dataDir: String, opLayers: Seq[(String, String)]) extends Workload {
  val ops: IndexedSeq[Op] = opLayers.map { case (name, layer) =>
    val fn = graft.SparkEntry.queries(name)
    Op(name, layer, s => Out.frame(fn(s, dataDir)))
  }.toIndexedSeq

  def materialize(spark: SparkSession): Unit =
    Tables.all.foreach(t => Tables.load(spark, dataDir, t).count())

  val warmThreads = 3
}

/** airline_batch: the paper's pipeline — CSV ingest, cleaning, statistics
  * and feature selection, a validated logistic regression, and the viz
  * aggregates — over generated flights. Ops run in this fixed order
  * because each consumes the previous one's output.
  */
final class AirlineBatch(rowsFile: String, workDir: Path) extends Workload {
  import graft.{etl, io, ml, stats, viz}

  private var generated: DataFrame = _
  private var raw: DataFrame = _
  private var vizDf: DataFrame = _
  private var cleanedDf: DataFrame = _
  private var sel: stats.Statistics.Selection = _
  private def dir(n: String) = workDir.resolve(n).toString
  private def bytesIn(dirs: String*): Long = dirs.map(n => Files.walk(Paths.get(dir(n)))
    .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()).sum

  def materialize(spark: SparkSession): Unit = {
    generated = spark.read.parquet(rowsFile).persist(StorageLevel.MEMORY_ONLY)
    generated.count()
  }

  val warmThreads = 1

  private def dtypes(df: DataFrame): Seq[String] =
    df.dtypes.toSeq.map { case (c, t) => s"$c:$t" }

  private def metricsOut(r: ml.TrainJob.Result): Out = {
    val m = r.metrics
    val d = Map("auc" -> m.areaRoc, "accuracy" -> m.accuracy, "tpr" -> m.tpr,
      "fpr" -> m.fpr, "precision" -> m.precision, "f1" -> m.f1)
    Out.lines(d.toSeq.map { case (k, v) => s"$k=${Digest.render(v)}" } ++
      r.best.toSeq.map(p => "best=" + p.toSeq.map(x => s"${x.param.name}=${x.value}").sorted.mkString(",")),
      d.map { case (k, v) => k -> v.toString })
  }

  private def vizOp(name: String, f: DataFrame => DataFrame): Op =
    Op(name, "viz", _ => Out.frame(f(vizDf)))

  val ops: IndexedSeq[Op] = IndexedSeq(
    Op("write_raw_csv", "io", _ => {
      io.Sinks.csv(generated, dir("raw_csv"))
      Out.lines(Seq("written"), bytesWritten = bytesIn("raw_csv"))
    }),
    Op("read_raw_csv", "io", s => {
      raw = io.Sources.csvInferred(s, dir("raw_csv"))
      Out.lines(dtypes(raw))
    }),
    Op("clean", "etl", _ => {
      vizDf = etl.Cleaning.vizDataset(raw).persist(StorageLevel.MEMORY_ONLY)
      cleanedDf = etl.Cleaning.cleaned(raw).persist(StorageLevel.MEMORY_ONLY)
      val (nv, nc) = (vizDf.count(), cleanedDf.count())
      Out.lines(Seq(s"viz_rows=$nv", s"cleaned_rows=$nc") ++ dtypes(cleanedDf),
        Map("viz_rows" -> nv.toString, "cleaned_rows" -> nc.toString))
    }),
    Op("write_clean_csv", "io", _ => {
      io.Sinks.csv(vizDf, dir("viz_csv"))
      io.Sinks.csv(cleanedDf, dir("clean_csv"))
      vizDf.unpersist(); cleanedDf.unpersist()
      Out.lines(Seq("written"), bytesWritten = bytesIn("viz_csv", "clean_csv"))
    }),
    Op("read_clean_csv", "io", s => {
      cleanedDf = io.Sources.csvInferred(s, dir("clean_csv"))
      vizDf = io.Sources.csvInferred(s, dir("viz_csv"))
      Out.lines(dtypes(cleanedDf) ++ dtypes(vizDf))
    }),
    Op("analyze", "stats", _ => {
      sel = stats.Statistics.analyze(cleanedDf)
      def mat(m: org.apache.spark.ml.linalg.Matrix) = m.toArray.map(Digest.render).mkString(",")
      Out.lines(Seq("uniCat=" + sel.uniCat.mkString(","), "uniNum=" + sel.uniNum.mkString(","),
        "varNum=" + sel.varNum.mkString(","), "corrBefore=" + mat(sel.corrBefore),
        "corrAfter=" + mat(sel.corrAfter)) ++
        sel.chi.map { case (f, p, d, st) => s"chi=$f,${Digest.render(p)},$d,${Digest.render(st)}" },
        Map("uniCat" -> sel.uniCat.mkString(","), "uniNum" -> sel.uniNum.mkString(","),
          "varNum" -> sel.varNum.mkString(","),
          "chi_p_max" -> sel.chi.map(_._2).max.toString,
          "chi_p_min" -> sel.chi.map(_._2).min.toString))
    }),
    Op("tvs_logistic_regression", "ml", _ => {
      // One point of the grid (regParam 0.1, elasticNet 0): each point
      // costs ~20 Spark jobs of fixed scheduling cost, and the full
      // nine-point search alone outlasts a run's time budget.
      val (lr, grid) = ml.Models.logisticRegression()
      val point = grid.filter(p => p.get(lr.elasticNetParam).contains(0.0) &&
        p.get(lr.regParam).contains(0.1))
      metricsOut(ml.TrainJob.run(cleanedDf, sel.uniCat, sel.uniNum, lr, Some(point)))
    }),
    vizOp("flights_per_month", viz.VizQueries.flightsPerMonth),
    vizOp("flights_per_weekday", viz.VizQueries.flightsPerWeekday),
    vizOp("flights_per_delay_group", viz.VizQueries.flightsPerDelayGroup(_)),
    vizOp("distance_per_year", viz.VizQueries.distancePerYear),
    vizOp("airline_delay_group_count", viz.VizQueries.airlineDelayGroupCount(_)),
    vizOp("airline_delay_group_pivot", viz.VizQueries.airlineDelayGroupPivot(_)))
}
