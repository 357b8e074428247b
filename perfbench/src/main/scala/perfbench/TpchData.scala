package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fixed TPC-H-shaped source tables the benchmark graph is derived from:
  * the same row counts and uniform key distributions as a TPC-H sf0.1
  * extract (15k customers, 1k suppliers, 20k parts, 150k orders, 600k
  * lineitems), with the columns [[graft.sources.TpchGraph]] and the oracle
  * queries read. Every value is a hash of (row key, column salt), so the
  * tables are identical on every host and independent of partitioning. The
  * tables do not depend on the workload seed: the seed draws the operations
  * run against them. Generated once per checkout, like the build. */
object TpchData {
  val Version = "tpch-sf0.1-v2"
  val Customers = 15000L
  val Suppliers = 1000L
  val Parts = 20000L
  val Orders = 150000L
  val Lineitems = 600000L
  val FileCount = 4
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Uniform double in [0, 1) from (key, salt). */
  private def u(key: Column, salt: Int): Column =
    pmod(xxhash64(key, lit(salt)), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)

  private def below(key: Column, salt: Int, n: Long): Column = floor(u(key, salt) * n).cast("long")

  private def money(key: Column, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(key, salt) * (hi - lo), 2)

  private def named(prefix: String, key: Column): Column =
    format_string(prefix + "#%09d", key)

  def ensure(spark: SparkSession, dir: String): Unit = {
    val ready = Paths.get(dir, "_READY")
    if (Files.exists(ready)) return
    val k = col("id")
    // tables past a few thousand rows in several files, so a scan is not one task
    def write(df: DataFrame, name: String): Unit =
      df.repartition(if (df.count() > 5000) FileCount else 1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write(spark.range(5).select(k.cast("int").as("r_regionkey"),
      concat(lit("REGION_"), k).as("r_name")), "region")
    write(spark.range(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k).as("n_name"), pmod(k, lit(5L)).cast("int").as("n_regionkey")), "nation")
    write(spark.range(Customers).select(k.as("c_custkey"), named("Customer", k).as("c_name"),
      below(k, 1, 25).cast("int").as("c_nationkey"), money(k, 2, -999.99, 9999.99).as("c_acctbal")),
      "customer")
    write(spark.range(Suppliers).select(k.as("s_suppkey"), named("Supplier", k).as("s_name"),
      below(k, 11, 25).cast("int").as("s_nationkey"), money(k, 12, -999.99, 9999.99).as("s_acctbal")),
      "supplier")
    write(spark.range(Parts).select(k.as("p_partkey"), named("Part", k).as("p_name"),
      round(lit(900.0) + pmod(k, lit(1000L)) * 0.1, 2).as("p_retailprice")), "part")
    write(spark.range(Orders).select(k.as("o_orderkey"), below(k, 21, Customers).as("o_custkey"),
      money(k, 22, 1000.0, 500000.0).as("o_totalprice")), "orders")
    write(spark.range(Lineitems).select(below(k, 31, Orders).as("l_orderkey"),
      below(k, 32, Parts).as("l_partkey"), below(k, 33, Suppliers).as("l_suppkey"),
      (below(k, 34, 50) + 1).cast("double").as("l_quantity")), "lineitem")
    Files.createFile(ready)
  }
}
