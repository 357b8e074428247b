package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for a DuckDB compare. Each oracle is wrapped over the
  * DOUBLE columns of its query's result ([[graft.util.NegZero]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional query-name filter (dev use; the driver passes none)
    val wanted = if (rest.nonEmpty) SparkEntry.queries.view.filterKeys(rest.contains).toMap
                 else SparkEntry.queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // NegZero.normalize: −0.0 → +0.0 on double outputs, mirroring the
    // `* REPLACE (c + 0)` wrap on the oracle side — the compare hashes
    // BYTES, and the two engines disagree on round()'s sign of zero
    val doubleCols = wanted.toSeq.flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        graft.util.NegZero.normalize(df).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name -> graft.util.NegZero.doubleCols(df))
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
    }.toMap
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
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${q(k)}: ${q(graft.util.NegZero.wrapOracle(v, doubleCols.getOrElse(k, Seq.empty)))}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
