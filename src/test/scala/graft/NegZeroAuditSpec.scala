package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * The −0.0 hash-flake guard (CORRECTNESS_r11's only red row): Spark's
 * round() yields +0.0 where DuckDB's yields −0.0 — equal values,
 * different bytes, so the driver's byte-hash gate stays red. The fix is
 * double-sided canonicalization ([[graft.util.NegZero]]): Verify adds
 * `+ 0.0` to every double output column and wraps the query's oracle in
 * `* REPLACE (CAST(c + 0 AS DOUBLE) AS c)` over the same columns, both
 * read off the query result's schema.
 */
class NegZeroAuditSpec extends SparkSpec {

  test("no query emits float32 / float-array / float-struct outputs (wrap covers top-level doubles only)") {
    def floatsBelow(dt: DataType): Boolean = dt match {
      case FloatType => true
      case DoubleType => true
      case ArrayType(et, _) => floatsBelow(et)
      case StructType(fs) => fs.exists(f => floatsBelow(f.dataType))
      case MapType(k, v, _) => floatsBelow(k) || floatsBelow(v)
      case _ => false
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, SF).schema.fields.collect {
        case f if f.dataType != DoubleType && floatsBelow(f.dataType) => s"$name.${f.name}"
      }
    }
    assert(offenders.isEmpty,
      s"non-top-level-double float outputs need NegZero.wrapOracle extended: ${offenders.mkString(", ")}")
  }

  test("wrapOracle wraps exactly the result's top-level DOUBLE columns") {
    val df = spark.range(1).select(col("id"), lit(1.5).as("x"), lit("s").as("s"),
      lit(-0.0).as("y"))
    val cols = graft.util.NegZero.doubleCols(df)
    assert(cols == Seq("x", "y"))
    assert(graft.util.NegZero.wrapOracle("SELECT 1", cols) ==
      """SELECT * REPLACE (CAST("x" + 0 AS DOUBLE) AS "x", CAST("y" + 0 AS DOUBLE) AS "y") """ +
        "FROM (SELECT 1) __negzero")
    assert(graft.util.NegZero.wrapOracle("SELECT 1", Seq.empty) == "SELECT 1")
  }

  test("NegZero.normalize canonicalizes -0.0 and preserves null/NaN/values") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, -0.0, "a"), Row(2L, 0.0, "b"), Row(3L, Double.NaN, "c"),
        Row(4L, null, "d"), Row(5L, -1.25, "e"))),
      StructType(Seq(StructField("id", LongType), StructField("x", DoubleType),
        StructField("s", StringType))))
    val out = graft.util.NegZero.normalize(df).orderBy("id")
      .collect().map(r => if (r.isNullAt(1)) null else r.getDouble(1))
    assert(java.lang.Double.doubleToRawLongBits(out(0).asInstanceOf[Double]) ==
      java.lang.Double.doubleToRawLongBits(0.0), "-0.0 must canonicalize to +0.0")
    assert(out(1) == 0.0 && out(2).asInstanceOf[Double].isNaN && out(3) == null
      && out(4) == -1.25)
    // schema and non-double columns untouched
    assert(graft.util.NegZero.normalize(df).schema == df.schema)
  }
}
