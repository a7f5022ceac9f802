package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic TPC-H-shaped tables with the schema and value domains the
  * engine's queries are written against (seven tables, uniform independent
  * columns, two-decimal measures). Every value is a hash of (row id, column
  * salt, [[DataSeed]]), so the data is identical on every machine and every
  * run, whatever the partitioning. The benchmark generates it once per
  * checkout; the per-run inputs (parameters, COPY rows) come from `--seed`.
  */
object DataGen {
  val DataSeed = 20261017L
  /** bump when the generator changes, so stale data is regenerated */
  val Version = 1
  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, lineitem: Long)

  /** Row counts at scale factor `sf` (sf 1 = 6M lineitem rows). */
  def sizes(sf: Double): Sizes = {
    def n(base: Long) = math.max(1L, math.round(base * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(6000000))
  }

  val Regions: Seq[String] = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Colors = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  /** uniform draw in [0, n) for column `salt` of the current row */
  private def u(salt: Int, n: Long): Column =
    pmod(xxhash64(col("id"), lit(salt), lit(DataSeed)), lit(n))

  private def pick(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (u(salt, values.size.toLong) + 1).cast(IntegerType))

  /** a two-decimal double in [lo, hi] */
  private def money(salt: Int, lo: Double, hi: Double): Column = {
    val cents = math.round((hi - lo) * 100) + 1
    ((u(salt, cents) + math.round(lo * 100)) / 100.0).cast(DoubleType)
  }

  /** midnight of `from` plus a uniform number of days in [0, days) */
  private def day(salt: Int, from: String, days: Long): Column =
    timestamp_seconds(lit(java.time.LocalDate.parse(from).toEpochDay * 86400L) +
      u(salt, days) * 86400L)

  private def tables(spark: SparkSession, s: Sizes): Seq[(String, DataFrame)] = {
    def ids(n: Long) = spark.range(0, n, 1, numPartitions = 4)
    Seq(
      "region" -> ids(5).select(col("id").cast(IntegerType).as("r_regionkey"),
        element_at(array(Regions.map(lit): _*), (col("id") + 1).cast(IntegerType)).as("r_name")),
      "nation" -> ids(25).select(col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast(IntegerType).as("n_regionkey")),
      "customer" -> ids(s.customer).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        u(1, 25).cast(IntegerType).as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        pick(3, Segments).as("c_mktsegment")),
      "supplier" -> ids(s.supplier).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        u(1, 25).cast(IntegerType).as("s_nationkey"),
        money(2, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids(s.part).select(col("id").as("p_partkey"),
        concat_ws(" ", pick(1, Colors), pick(2, Nouns)).as("p_name"),
        concat(lit("Brand#"), u(3, 25) + 1).as("p_brand"),
        pick(4, Types).as("p_type"),
        (u(5, 50) + 1).cast(IntegerType).as("p_size"),
        ((pmod(col("id"), lit(1000L)) + 9000) / 10.0).as("p_retailprice")),
      "orders" -> ids(s.orders).select(col("id").as("o_orderkey"),
        u(1, s.customer).as("o_custkey"),
        pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
        money(3, 1000.0, 500000.0).as("o_totalprice"),
        day(4, "1995-01-01", 2404).as("o_orderdate"),
        pick(5, Priorities).as("o_orderpriority")),
      "lineitem" -> ids(s.lineitem).select(u(1, s.orders).as("l_orderkey"),
        u(2, s.part).as("l_partkey"),
        u(3, s.supplier).as("l_suppkey"),
        (u(4, 7) + 1).cast(IntegerType).as("l_linenumber"),
        (u(5, 50) + 1).cast(DoubleType).as("l_quantity"),
        money(6, 900.0, 105000.0).as("l_extendedprice"),
        (u(7, 11) / 100.0).as("l_discount"),
        (u(8, 9) / 100.0).as("l_tax"),
        pick(9, Seq("A", "N", "R")).as("l_returnflag"),
        pick(10, Seq("F", "O")).as("l_linestatus"),
        day(11, "1995-01-02", 2498).as("l_shipdate")))
  }

  private def marker(dir: Path): Path = dir.resolve("_GENERATED")

  def present(dir: Path, sf: Double): Boolean = {
    val m = marker(dir)
    Files.exists(m) && Files.readString(m).trim == s"v$Version sf=$sf seed=$DataSeed"
  }

  /** Write the tables under `dir` (one parquet directory each). The data
    * is written to a sibling temp directory and renamed into place, so a
    * killed generation never leaves a half-written table behind.
    */
  def generate(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Fs.deleteTree(tmp)
    tables(spark, sizes(sf)).foreach { case (name, df) =>
      df.write.parquet(tmp.resolve(s"$name.parquet").toString)
    }
    Files.writeString(marker(tmp), s"v$Version sf=$sf seed=$DataSeed\n")
    Fs.deleteTree(dir)
    Files.move(tmp, dir)
  }
}
