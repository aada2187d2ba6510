package perfbench

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Seeded input generators. Every value is a hash of (seed, salt, row
  * key), so the same seed gives the same tables at any parallelism. */
object Data {
  def hash(seed: Long, salt: Int, key: Column): Column =
    F.xxhash64(F.lit(seed), F.lit(salt), key)
  /** Uniform in [0, n). */
  def uni(seed: Long, salt: Int, key: Column, n: Long): Column =
    F.pmod(hash(seed, salt, key), F.lit(n))
  private def pick(seed: Long, salt: Int, key: Column, xs: Seq[String]): Column =
    F.element_at(F.array(xs.map(F.lit): _*), (uni(seed, salt, key, xs.size) + 1).cast("int"))
  private def money(seed: Long, salt: Int, key: Column, lo: Double, hi: Double): Column =
    (F.lit(lo) + uni(seed, salt, key, ((hi - lo) * 100).toLong) / 100.0)
  private val day0 = 694224000L // 1992-01-01 UTC
  private def day(seed: Long, salt: Int, key: Column, span: Long): Column =
    F.timestamp_seconds(F.lit(day0) + uni(seed, salt, key, span) * 86400L)
      .cast("timestamp_ntz")

  final case class TpchSizes(customers: Long, orders: Long, parts: Long,
                             suppliers: Long, linesPerOrder: Int)
  def tpchSizes(sf: Double): TpchSizes = TpchSizes(
    math.max(10L, (150000 * sf).toLong), math.max(100L, (1500000 * sf).toLong),
    math.max(20L, (200000 * sf).toLong), math.max(5L, (10000 * sf).toLong), 4)

  /** The star-schema tables the ORM catalog declares, one parquet file
    * each under `dir` (`<table>.parquet`). */
  def tpch(spark: SparkSession, dir: String, seed: Long, sf: Double): TpchSizes = {
    val z = tpchSizes(sf)
    val id = F.col("id")
    // the tables are independent: write them as concurrent jobs
    val pending = mutable.ArrayBuffer.empty[Future[Unit]]
    def write(name: String, df: DataFrame): Unit =
      pending += Future(df.write.mode("overwrite").parquet(s"$dir/$name.parquet"))(ExecutionContext.global)
    def rows(lo: Long, hi: Long) = spark.range(lo, hi, 1, if (hi - lo > 100000) 4 else 1)
    write("region", rows(0, 5).select(id.cast("int").as("r_regionkey"),
      F.element_at(F.array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .map(F.lit): _*), (id + 1).cast("int")).as("r_name")))
    write("nation", rows(0, 25).select(id.cast("int").as("n_nationkey"),
      F.concat(F.lit("NATION"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")))
    write("customer", rows(1, z.customers + 1).select(id.as("c_custkey"),
      F.format_string("Customer#%09d", id).as("c_name"),
      uni(seed, 1, id, 25).cast("int").as("c_nationkey"),
      money(seed, 2, id, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", rows(1, z.suppliers + 1).select(id.as("s_suppkey"),
      F.format_string("Supplier#%09d", id).as("s_name"),
      uni(seed, 4, id, 25).cast("int").as("s_nationkey"),
      money(seed, 5, id, -999.99, 9999.99).as("s_acctbal")))
    write("part", rows(1, z.parts + 1).select(id.as("p_partkey"),
      F.concat_ws(" ", pick(seed, 6, id, Seq("almond", "blush", "coral", "khaki", "linen")),
        pick(seed, 7, id, Seq("drab", "frosted", "navy", "plum", "steel"))).as("p_name"),
      F.concat(F.lit("Brand#"), uni(seed, 8, id, 5) + 1, uni(seed, 9, id, 5) + 1).as("p_brand"),
      pick(seed, 10, id, Seq("ECONOMY ANODIZED", "LARGE BRUSHED", "MEDIUM PLATED",
        "PROMO BURNISHED", "STANDARD POLISHED")).as("p_type"),
      (uni(seed, 11, id, 50) + 1).cast("int").as("p_size"),
      money(seed, 12, id, 900.0, 2000.0).as("p_retailprice")))
    write("orders", orders(spark, seed, 1, z.orders + 1, z.customers))
    write("lineitem", rows(0, z.orders * z.linesPerOrder).select(
      (id / z.linesPerOrder + 1).as("l_orderkey"),
      (uni(seed, 20, id, z.parts) + 1).as("l_partkey"),
      (uni(seed, 21, id, z.suppliers) + 1).as("l_suppkey"),
      (id % z.linesPerOrder + 1).cast("int").as("l_linenumber"),
      (uni(seed, 22, id, 50) + 1).cast("double").as("l_quantity"),
      money(seed, 23, id, 900.0, 100000.0).as("l_extendedprice"),
      (uni(seed, 24, id, 11) / 100.0).as("l_discount"),
      (uni(seed, 25, id, 9) / 100.0).as("l_tax"),
      pick(seed, 26, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 27, id, Seq("F", "O")).as("l_linestatus"),
      day(seed, 28, id, 2526).as("l_shipdate")))
    pending.foreach(Await.result(_, Duration.Inf))
    z
  }

  /** Orders rows with keys [lo, hi). */
  def orders(spark: SparkSession, seed: Long, lo: Long, hi: Long, customers: Long): DataFrame = {
    val id = F.col("id")
    spark.range(lo, hi, 1, if (hi - lo > 100000) 4 else 1).select(id.as("o_orderkey"),
      (uni(seed, 13, id, customers) + 1).as("o_custkey"),
      pick(seed, 14, id, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, 15, id, 800.0, 500000.0).as("o_totalprice"),
      day(seed, 16, id, 2406).as("o_orderdate"),
      pick(seed, 17, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
  }
}
