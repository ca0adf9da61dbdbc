package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.TokenTables

/** Seeded input generation. Everything here is a pure function of the
  * seed, so the same seed always yields the same rows. */
object Inputs {

  /** Smallest document count whose synthetic token total reaches
    * `targetTokens`, with that total. Fixing the payload instead of the
    * document count keeps one operation's work the same across seeds
    * (document lengths are log-normal, so a fixed count would not). */
  def docsForTokens(seed: Long, targetTokens: Long): (Long, Long) = {
    var n = 0L
    var toks = 0L
    while (toks < targetTokens) {
      toks += TokenTables.syntheticRow(seed, n).n_tok
      n += 1
    }
    (n, toks)
  }

  /** An independent random stream per (seed, stream): java.util.Random
    * seeded with neighbouring values starts with correlated draws, so the
    * pair is mixed (splitmix64 finalizer) first. */
  def rng(seed: Long, stream: Long): java.util.Random = {
    var z = seed * 0x9e3779b97f4a7c15L + stream
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  private def h(seed: Long, salt: Int): Column =
    xxhash64(lit(seed), col("id"), lit(salt))

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(seed, salt), lit(values.length.toLong)) + 1).cast("int"))

  private def between(seed: Long, salt: Int, lo: Long, hi: Long): Column =
    pmod(h(seed, salt), lit(hi - lo + 1)) + lit(lo)

  private def money(c: Column): Column = (c / 100).cast("decimal(15,2)")

  private val Words = Seq("furiously", "carefully", "quickly", "final", "regular",
    "express", "pending", "special", "ironic", "bold", "even", "silent",
    "deposits", "packages", "requests", "accounts", "theodolites", "foxes",
    "pinto", "beans", "instructions", "dependencies", "asymptotes", "ideas")

  private def comment(seed: Long, salt: Int, words: Int): Column =
    concat_ws(" ", (0 until words).map(i => pick(seed, salt + i, Words)): _*)

  /** TPC-H `orders` shape: 150,000 x sf rows, keys 4i+1 (sparse, as in
    * TPC-H), dates over 1992-01-01 .. 1998-08-02. */
  def orders(spark: SparkSession, sf: Double, seed: Long, partitions: Int): DataFrame = {
    val n = math.max(1L, (150000 * sf).toLong)
    spark.range(0L, n, 1L, partitions).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      between(seed, 1, 1, math.max(1L, (15000 * sf).toLong)).as("o_custkey"),
      pick(seed, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      money(between(seed, 3, 90000, 50000000)).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), between(seed, 4, 0, 2405).cast("int")).as("o_orderdate"),
      pick(seed, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
      format_string("Clerk#%09d", between(seed, 6, 1, math.max(1L, (1000 * sf).toLong))).as("o_clerk"),
      lit(0).as("o_shippriority"),
      comment(seed, 7, 5).as("o_comment"))
  }

  /** TPC-H `lineitem` shape: four lines per order (600,000 x sf rows). */
  def lineitem(spark: SparkSession, sf: Double, seed: Long, partitions: Int): DataFrame = {
    val n = 4 * math.max(1L, (150000 * sf).toLong)
    val ship = date_add(lit(java.sql.Date.valueOf("1992-01-02")), between(seed, 20, 0, 2525).cast("int"))
    spark.range(0L, n, 1L, partitions).select(
      ((col("id") / 4).cast("long") * 4 + 1).as("l_orderkey"),
      between(seed, 11, 1, math.max(1L, (200000 * sf).toLong)).as("l_partkey"),
      between(seed, 12, 1, math.max(1L, (10000 * sf).toLong)).as("l_suppkey"),
      (pmod(col("id"), lit(4L)) + 1).cast("int").as("l_linenumber"),
      between(seed, 13, 1, 50).cast("decimal(15,2)").as("l_quantity"),
      money(between(seed, 14, 90000, 10000000)).as("l_extendedprice"),
      money(between(seed, 15, 0, 10)).as("l_discount"),
      money(between(seed, 16, 0, 8)).as("l_tax"),
      pick(seed, 17, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 18, Seq("F", "O")).as("l_linestatus"),
      ship.as("l_shipdate"),
      date_add(ship, between(seed, 21, -60, 60).cast("int")).as("l_commitdate"),
      date_add(ship, between(seed, 22, 1, 30).cast("int")).as("l_receiptdate"),
      pick(seed, 23, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")).as("l_shipinstruct"),
      pick(seed, 24, Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")).as("l_shipmode"),
      comment(seed, 25, 4).as("l_comment"))
  }

  /** Bytes of the data files under a directory, skipping the hidden and
    * marker files Hadoop writes beside them. */
  def dirBytes(f: java.io.File): Long =
    if (f.isFile) { if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L else f.length() }
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else 0L

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
