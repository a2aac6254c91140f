package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional third arg: regex over query names, for targeted local
    // re-checks (the driver always passes two args = run everything)
    val (sfDir, outDir) = (args(0), args(1))
    val pattern = if (args.length > 2) args(2) else ".*"
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a query that throws leaves no output dir; failed.json names it
    // and its message so the gate reports it instead of missing it
    val failed = SparkEntry.queries.toSeq.flatMap {
      case (name, fn) if name.matches(pattern) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      case _ => None
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"), failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // rows-only queries carry no SQL oracle by declared design — their
    // statistical envelopes (binomial bounds, sketch error bounds,
    // recall/metric floors) are computed HERE so the correctness
    // artifact records a machine-checkable verdict for every query,
    // not an `err: no_oracle` blank (VERDICT r11 #5)
    val envRows = graft.tools.Envelopes.check(spark, sfDir)
      .filter { case (name, _, _) => name.matches(pattern) }
    envRows.foreach { case (name, ok, detail) =>
      println(s"[envelope] $name pass=$ok $detail")
    }
    val envJson = envRows.map { case (name, ok, detail) =>
      s"${q(name)}: {${q("envelope_pass")}: $ok, ${q("detail")}: ${q(detail)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/envelope.json"), envJson)
    spark.stop()
  }
}
