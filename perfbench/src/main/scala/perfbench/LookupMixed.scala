package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._

import graft.engine.TokenTables
import graft.sources.GraftTableBridge

/** Seeded selective queries over a bloom-indexed token table and two
  * TPC-H-shaped tables stored through [[GraftTableBridge]], with a small
  * `format("graft")` append every [[AppendEvery]]th operation. Every answer
  * is compared with the same query over a plain parquet copy of the same
  * rows as of that operation (appends included), and every lookup's
  * executed plan must carry the pushdown its query shape allows. */
final class LookupMixed(c: Ctx) extends Workload {
  import c.spark.implicits._

  private val TargetTokens = 1000000L
  private val (nDocs, nTokens) = Inputs.docsForTokens(c.seed, TargetTokens)
  private val Sf = 0.05
  private val AppendEvery = 17
  private val AppendDocs = 64
  private val buckets = c.cores
  private val BloomColumns = "doc_id,tokens"

  private var tokens: String = _
  private var tokensPq: String = _
  private var lineitem: String = _
  private var lineitemPq: String = _
  private var orders: String = _
  private var ordersPq: String = _
  private var appends = 0
  private var tokenBytesAtSetup = 0L
  private var sizeInfo: Seq[(String, Long)] = Nil

  /** The table carries doc_id and tokens blooms the ORC copy has no
    * counterpart for, so its ratio is reported but not gated. */
  override def gateCompression: Boolean = false
  def plannedBytes: Long = Workloads.tokenBytesEstimate(nTokens) * 4 + (400L << 20)
  def sizes: Seq[(String, Long)] = Seq("rows" -> nDocs, "tokens" -> nTokens,
    "token_payload_bytes" -> 4 * nTokens, "buckets" -> buckets.toLong) ++ sizeInfo

  def setup(dir: String): Unit = {
    tokens = s"$dir/tokens"; tokensPq = s"$dir/tokens_pq"
    lineitem = s"$dir/lineitem"; lineitemPq = s"$dir/lineitem_pq"
    orders = s"$dir/orders"; ordersPq = s"$dir/orders_pq"
    appends = 0
    copies.values.foreach(_.unpersist())
    copies.clear()
    val tokenDf = TokenTables.synthetic(c.spark, nDocs, c.seed, partitions = c.cores).toDF()
    tokenDf.write.parquet(s"$tokensPq/base")
    c.spark.read.parquet(s"$tokensPq/base").write.format("graft")
      .option("graft.codec.bloomColumns", BloomColumns)
      .option("buckets", buckets.toString)
      .mode(SaveMode.Append).save(tokens)
    Inputs.lineitem(c.spark, Sf, c.seed, c.cores).write.parquet(lineitemPq)
    GraftTableBridge.write(c.spark.read.parquet(lineitemPq), lineitem, "lineitem", buckets)
    Inputs.orders(c.spark, Sf, c.seed, c.cores).write.parquet(ordersPq)
    GraftTableBridge.write(c.spark.read.parquet(ordersPq), orders, "orders", buckets)
    tokenBytesAtSetup = Workloads.dataBytes(tokens)
    sizeInfo = Seq(
      "lineitem_rows" -> 4L * (150000 * Sf).toLong, "orders_rows" -> (150000 * Sf).toLong,
      "token_table_data_bytes" -> tokenBytesAtSetup,
      "lineitem_table_data_bytes" -> Workloads.dataBytes(lineitem),
      "orders_table_data_bytes" -> Workloads.dataBytes(orders))
  }

  // ---- the seeded operation mix ---------------------------------------

  /** One round of [[AppendEvery]] operations: every lookup kind twice, in
    * a seeded order, then one append. The kinds are weighted equally: no
    * production query log fixes their proportions, and equal weights keep
    * each pruning layer's share of `op_ms` visible in
    * `op_p50_ms_by_kind`. Two of each kind make the append land on about
    * every 20th operation (every 17th) with a whole number of lookups of
    * each kind per round; the seed picks order and parameters. */
  private val Kinds: Seq[String] = Seq("doc_point", "token_contains", "token_range", "limit",
    "header_agg", "group_sum", "shipdate_range", "orderkey_point")
  private val Round: Seq[String] = Kinds ++ Kinds
  require(Round.length == AppendEvery - 1)

  override def opsPerRound: Int = AppendEvery

  private def rnd(i: Int) = Inputs.rng(c.seed, i)

  def kindOf(i: Int): String =
    if (i % AppendEvery == AppendEvery - 1) "append"
    else {
      val order = Round.indices.toArray
      val r = Inputs.rng(c.seed, -1L - i / AppendEvery)
      for (k <- order.length - 1 to 1 by -1) { // Fisher-Yates
        val j = r.nextInt(k + 1); val t = order(k); order(k) = order(j); order(j) = t
      }
      Round(order(i % AppendEvery))
    }

  /** The token table: the graft table, or its parquet copy as of
    * `state` appends. The copies serve only the untimed checks, so each is
    * cached once (in memory, from the parquet files) to keep checks short. */
  private def tokenTable(graft: Boolean, state: Int): DataFrame =
    if (graft) c.spark.read.format("graft").load(tokens)
    else copy(s"tokens@$state",
      s"$tokensPq/base" +: (1 to state).map(j => s"$tokensPq/app$j"))

  private def lineitemTable(graft: Boolean): DataFrame =
    if (graft) GraftTableBridge.read(c.spark, lineitem) else copy("lineitem", Seq(lineitemPq))

  private def ordersTable(graft: Boolean): DataFrame =
    if (graft) GraftTableBridge.read(c.spark, orders) else copy("orders", Seq(ordersPq))

  private val copies = scala.collection.mutable.HashMap.empty[String, DataFrame]
  private def copy(key: String, paths: Seq[String]): DataFrame = copies.synchronized {
    copies.getOrElseUpdate(key, c.spark.read.parquet(paths: _*).cache())
  }

  /** A lookup: its query over either store, and the plan marker the graft
    * plan must show. `exact = false` (limit) accepts any `k` rows of the
    * table. */
  private class Lookup(val query: Boolean => DataFrame, val marker: String, val table: String,
                       val exact: Boolean = true)

  private def lookup(kind: String, r: java.util.Random, state: Int): Lookup = {
    def docId(): String = {
      val id = if (state > 0 && r.nextInt(10) == 0) nDocs + r.nextInt(state * AppendDocs)
               else (r.nextDouble() * nDocs).toLong
      f"doc_$id%012d"
    }
    val orderRows = (150000 * Sf).toLong
    kind match {
      case "doc_point" =>
        val d = docId()
        new Lookup(g => tokenTable(g, state).filter(col("doc_id") === d).select("doc_id", "n_tok", "source"),
          """PushedFilters: \[[^\]]*doc_id""", tokens)
      case "token_contains" =>
        val t = 40000 + r.nextInt(TokenTables.VocabSize - 40000)
        new Lookup(g => tokenTable(g, state).filter(array_contains(col("tokens"), t)).select("doc_id"),
          """PushedTokenPoints: \[""", tokens)
      case "token_range" =>
        val lo = 45000 + r.nextInt(TokenTables.VocabSize - 45000 - 4)
        new Lookup(g => tokenTable(g, state).filter(expr(s"exists(tokens, x -> x >= $lo AND x <= ${lo + 3})"))
          .select("doc_id", "n_tok"), """PushedTokenRange: \[""", tokens)
      case "limit" =>
        val k = 1 + r.nextInt(50)
        new Lookup(g => tokenTable(g, state).select("doc_id", "n_tok").limit(k), """PushedLimit: """, tokens,
          exact = false)
      case "header_agg" =>
        new Lookup(g => tokenTable(g, state).agg(count(lit(1)), min("n_tok"), max("n_tok"),
          min("doc_id"), max("source")), """PushedAggregation: \[""", tokens)
      case "group_sum" =>
        val lo = 1500 + r.nextInt(3000)
        new Lookup(g => tokenTable(g, state).filter(col("n_tok").between(lo, lo + 800))
          .groupBy("source").agg(sum(col("n_tok").cast("long")), count(lit(1))),
          """PushedFilters: \[[^\]]*n_tok""", tokens)
      case "shipdate_range" =>
        val from = java.sql.Date.valueOf("1992-01-02").toLocalDate.plusDays(r.nextInt(2500).toLong)
        val (a, b) = (java.sql.Date.valueOf(from), java.sql.Date.valueOf(from.plusDays(6)))
        new Lookup(g => lineitemTable(g).filter(col("l_shipdate").between(a, b))
          .agg(count(lit(1)), sum("l_extendedprice"), sum("l_quantity")),
          """PushedFilters: \[[^\]]*l_shipdate""", lineitem)
      case "orderkey_point" =>
        val k = (r.nextDouble() * orderRows).toLong * 4 + 1
        new Lookup(g => ordersTable(g).filter(col("o_orderkey") === k),
          """PushedFilters: \[[^\]]*o_orderkey""", orders)
    }
  }

  private def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  def run(i: Int): OpResult = kindOf(i) match {
    case "append" => append()
    case kind =>
      val state = appends
      val q = lookup(kind, rnd(i), state)
      val (rows, ns, plan) = Workloads.timedRead(c, q.query(true))
      OpResult(kind, ns, 0L, rows.length.toLong, Some(plan), isWrite = false, 0L, q.table, () => {
        val planText = plan.toString
        require(q.marker.r.findFirstIn(planText).isDefined,
          s"$kind: executed plan lacks /${q.marker}/:\n$planText")
        val expected = q.query(false).collect()
        if (q.exact) require(canon(rows) == canon(expected),
          s"$kind: graft returned ${rows.length} rows ${canon(rows).take(5)}, " +
            s"parquet ${expected.length} rows ${canon(expected).take(5)}")
        else {
          val got = canon(rows)
          require(got.length == expected.length && got.distinct.length == got.length,
            s"$kind: ${got.length} rows (${got.distinct.length} distinct), expected ${expected.length}")
          val ids = rows.map(_.getString(0)).toSeq
          val found = canon(tokenTable(graft = false, state).select("doc_id", "n_tok")
            .filter(col("doc_id").isin(ids: _*)).collect())
          require(found == got, s"$kind: rows not in the table: ${got.diff(found).take(5)}")
        }
      })
  }

  private def append(): OpResult = {
    val j = appends + 1
    val first = nDocs + (j - 1).toLong * AppendDocs
    val rows = (0 until AppendDocs).map(k => TokenTables.syntheticRow(c.seed, first + k))
    val df = c.spark.createDataset(rows).toDF()
    val t0 = System.nanoTime()
    c.tracer.span("append") {
      df.write.format("graft").option("graft.codec.bloomColumns", BloomColumns)
        .mode(SaveMode.Append).save(tokens)
    }
    val ns = System.nanoTime() - t0
    appends = j
    val toks = rows.map(_.n_tok.toLong).sum
    // The parquet copy of this append is written when the checks replay,
    // in operation order, so each lookup is compared with its own state.
    OpResult("append", ns, 4 * toks, 0L, None, isWrite = true, toks, tokens,
      () => df.write.parquet(s"$tokensPq/app$j"))
  }

  /** The token table as set up, before any append. */
  def stored(): Stored = Stored(tokenBytesAtSetup,
    Workloads.orcZlibBytes(c.spark.read.parquet(s"$tokensPq/base"), c.dir("orc-zlib")))

  def ledgerTables: Seq[String] = Seq(tokens, lineitem, orders)
}
