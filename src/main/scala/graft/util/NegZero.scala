package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

/**
 * IEEE-754 negative-zero canonicalization for the oracle gate.
 *
 * `round(x, n)` of a tiny negative yields −0.0 in DuckDB but +0.0 in
 * Spark: the two compare EQUAL (so value-level gates pass) yet their
 * bytes differ, so a byte-hash compare of the two engines' outputs
 * stays red forever (CORRECTNESS_r11: emb_covariance cell (5,9)).
 * `x + 0.0` maps −0.0 → +0.0 under round-to-nearest and is the
 * identity on every other double (NaN stays NaN, null stays null), so
 * applying it on BOTH engines canonicalizes the sign of zero without
 * changing any value. [[graft.Verify]] reads each query's double
 * columns off its result schema ([[doubleCols]]) for both sides.
 */
object NegZero {

  /** The top-level DOUBLE columns of `df`, in schema order (the audit
    * spec proves top-level doubles are the only float-typed outputs). */
  def doubleCols(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect { case StructField(n, DoubleType, _, _) => n }

  /** Spark side: `c + 0.0` on every top-level DOUBLE column. */
  def normalize(df: DataFrame): DataFrame = {
    if (doubleCols(df).isEmpty) df
    else df.select(df.schema.fields.map {
      case StructField(n, DoubleType, _, _) => (col(n) + lit(0.0)).as(n)
      case f => col(f.name)
    }.toIndexedSeq: _*)
  }

  /** Oracle side: wrap the SQL so each named DOUBLE column passes
    * through `+ 0` (DuckDB `* REPLACE` keeps every other column
    * untouched, names and order included). Identity when the query has
    * no double outputs. */
  def wrapOracle(sql: String, doubleCols: Seq[String]): String =
    if (doubleCols.isEmpty) sql
    else {
      val repl = doubleCols
        .map(c => s"""CAST("$c" + 0 AS DOUBLE) AS "$c"""")
        .mkString(", ")
      s"SELECT * REPLACE ($repl) FROM ($sql) __negzero"
    }
}
