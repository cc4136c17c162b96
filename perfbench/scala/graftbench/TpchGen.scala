package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded TPC-H-style `customer` and `orders` tables with the column names,
 * types and value domains the table-lifecycle contract queries
 * (`SparkEntry.queries` q30-q49) read from them. Every value is a pure
 * function of (seed, row id), so the same seed writes the same parquet.
 */
object TpchGen {
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val statuses = Seq("F", "O", "P")

  private def u(id: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1000000L)).cast(DoubleType) / 1e6
  private def pick(xs: Seq[String], id: Column, salt: Int, seed: Long): Column =
    element_at(lit(xs.toArray), (floor(u(id, salt, seed) * xs.size) + 1).cast(IntegerType))
  private def day(id: Column, salt: Int, seed: Long, span: Int): Column =
    date_add(lit("1995-01-01").cast(DateType), floor(u(id, salt, seed) * span).cast(IntegerType))
      .cast(TimestampNTZType)

  def customer(s: SparkSession, n: Long, seed: Long): DataFrame =
    s.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(col("id"), 1, seed) * 25).cast(IntegerType).as("c_nationkey"),
      round(u(col("id"), 2, seed) * 10998.99 - 999.99, 2).as("c_acctbal"),
      pick(segments, col("id"), 3, seed).as("c_mktsegment"))

  def orders(s: SparkSession, n: Long, customers: Long, seed: Long): DataFrame =
    s.range(n).select(
      col("id").as("o_orderkey"),
      floor(u(col("id"), 11, seed) * customers).cast(LongType).as("o_custkey"),
      pick(statuses, col("id"), 12, seed).as("o_orderstatus"),
      round(u(col("id"), 13, seed) * 498000.0 + 1000.0, 2).as("o_totalprice"),
      day(col("id"), 14, seed, 2400).as("o_orderdate"),
      pick(priorities, col("id"), 15, seed).as("o_orderpriority"))

  /** Write both tables as `<dir>/<name>.parquet`, one file each. */
  def write(s: SparkSession, dir: String, customers: Long, seed: Long): Unit = {
    customer(s, customers, seed).coalesce(1).write.parquet(s"$dir/customer.parquet")
    orders(s, customers * 10, customers, seed).coalesce(1).write.parquet(s"$dir/orders.parquet")
  }
}
