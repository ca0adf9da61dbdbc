package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.engine.{TokenRow, TokenTables}
import graft.lineage.SegmentStore

/** What one timed operation reports. `nanos` covers only the call a user
  * would make; `check` runs after the measured window and throws when the
  * answer was wrong. `plan` is the executed plan of a read (its connector
  * metrics feed the traced run). */
final case class OpResult(
    kind: String,
    nanos: Long,
    payloadBytes: Long,
    rowsReturned: Long,
    plan: Option[SparkPlan],
    isWrite: Boolean,
    tokensWritten: Long,
    table: String,
    check: () => Unit)

/** Shared context of one benchmark run. */
final case class Ctx(spark: SparkSession, seed: Long, cores: Int, work: File, tracer: Tracer) {
  def dir(name: String): String = new File(work, name).getPath
}

/** A data-file size pair for the compression check. */
final case class Stored(graftBytes: Long, orcZlibBytes: Long) {
  def ratio: Double = graftBytes.toDouble / orcZlibBytes
}

trait Workload {
  /** Generate inputs and build tables under `dir` (timed as `setup_s`). */
  def setup(dir: String): Unit
  /** Bytes the setup and the measured window will write, for the disk check. */
  def plannedBytes: Long
  /** Input sizes recorded in the output (rows, tokens, bytes). */
  def sizes: Seq[(String, Long)]
  /** Operation kind of operation `i`. */
  def kindOf(i: Int): String
  def run(i: Int): OpResult
  /** Untimed: compressed graft bytes against ORC-zlib for the same rows. */
  def stored(): Stored
  /** Tables whose lineage ledgers record the chunks chosen per codec, and
    * whose stored chunks the kernel timings run on. */
  def ledgerTables: Seq[String]
  /** The operation sequence repeats in rounds of this many; warm-up and
    * the measured window end on a round boundary. */
  def opsPerRound: Int = 1
  /** Whether stored bytes must not exceed ORC-zlib's. */
  def gateCompression: Boolean = true
  /** Untimed operations before the window: enough that operation latency
    * has stopped falling as the JIT compiles the path. A count, not a time:
    * a slow host would run fewer operations in a fixed time, measure less
    * compiled code, and so amplify its own slowness. */
  def warmupOps: Int = 2 * opsPerRound
}

object Workloads {
  val Names: Seq[String] = Seq("token_ingest", "token_scan", "lookup_mixed")

  def apply(name: String, c: Ctx): Workload = name match {
    case "token_ingest" => new TokenIngest(c)
    case "token_scan" => new TokenScan(c)
    case "lookup_mixed" => new LookupMixed(c)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }

  /** Per-table digest that touches every column of every row. */
  def checksumFrame(df: DataFrame): DataFrame = df.agg(
    count(lit(1)),
    sum(col("n_tok").cast("long")),
    sum(size(col("tokens")).cast("long")),
    expr("bit_xor(xxhash64(doc_id, tokens, n_tok, source))"))

  def checksum(df: DataFrame): Row = checksumFrame(df).head()

  def orcZlibBytes(df: DataFrame, dir: String): Long = {
    df.write.mode(SaveMode.Overwrite).option("compression", "zlib").orc(dir)
    Inputs.dirBytes(new File(dir))
  }

  def dataBytes(table: String): Long = Inputs.dirBytes(new File(table, "data"))

  /** Time a read: plan (DataFrame construction through the executed plan)
    * then execute, each its own span. */
  def timedRead(c: Ctx, build: => DataFrame): (Array[Row], Long, SparkPlan) = {
    val t0 = System.nanoTime()
    val (df, plan) = c.tracer.span("plan") {
      val d = build
      (d, d.queryExecution.executedPlan)
    }
    val rows = c.tracer.span("execute")(df.collect())
    (rows, System.nanoTime() - t0, plan)
  }

  /** Roughly 4 B/token in parquet and twice that for graft + ORC copies. */
  def tokenBytesEstimate(tokens: Long): Long = tokens * 4L * 3L
}

/** Encode + commit a parquet token table into a fresh graft table per
  * operation. */
final class TokenIngest(c: Ctx) extends Workload {
  import c.spark.implicits._
  private val TargetTokens = 4000000L
  private val (nDocs, nTokens) = Inputs.docsForTokens(c.seed, TargetTokens)
  private val buckets = 2 * c.cores
  private var input: String = _
  private var expected: Row = _
  /** Setup never encodes, and commit latency falls by ~40% on a 4-core
    * host through the first ~7 commits, then more slowly, for tens of
    * commits, while the JIT keeps compiling. Fifteen take the steep part
    * out of the window at ~20 s of warm-up. */
  override def warmupOps: Int = 15
  private var inputBytes = 0L
  private var firstTable: Option[String] = None
  private var firstBytes = -1L

  def plannedBytes: Long = Workloads.tokenBytesEstimate(nTokens) * 6
  def sizes: Seq[(String, Long)] = Seq("rows" -> nDocs, "tokens" -> nTokens,
    "token_payload_bytes" -> 4 * nTokens, "input_parquet_bytes" -> inputBytes,
    "buckets" -> buckets.toLong)

  def setup(dir: String): Unit = {
    input = s"$dir/input.parquet"
    TokenTables.synthetic(c.spark, nDocs, c.seed, partitions = c.cores)
      .write.mode(SaveMode.Overwrite).parquet(input)
    inputBytes = Inputs.dirBytes(new File(input))
  }

  def kindOf(i: Int): String = "commit"

  def run(i: Int): OpResult = {
    val table = c.dir(s"ingest/t$i")
    val t0 = System.nanoTime()
    c.tracer.span("encode_commit") {
      SegmentStore.encodeCommit(c.spark.read.parquet(input).as[TokenRow], table, 1L, buckets)
    }
    val ns = System.nanoTime() - t0
    OpResult("commit", ns, 4 * nTokens, 0L, None, isWrite = true, nTokens, table, () => verify(table))
  }

  /** Ledger totals on every commit; stored bytes identical across commits
    * (encode is deterministic); a full round-trip checksum on the first. */
  private def verify(table: String): Unit = {
    val ledger = SegmentStore.readLineage(c.spark, table).collect()
    val rows = ledger.map(_.nRows).sum
    val toks = ledger.map(_.nTokens).sum
    require(rows == nDocs && toks == nTokens,
      s"ledger of $table records $rows rows / $toks tokens, expected $nDocs / $nTokens")
    require(ledger.map(_.bucket).toSet == (0 until buckets).toSet,
      s"ledger of $table misses buckets")
    val bytes = Workloads.dataBytes(table)
    if (firstTable.isEmpty) {
      if (expected == null) expected = Workloads.checksum(c.spark.read.parquet(input))
      val got = Workloads.checksum(c.spark.read.format("graft").load(table))
      require(got == expected, s"round-trip checksum of $table: $got, expected $expected")
      firstTable = Some(table)
      firstBytes = bytes
    } else {
      require(bytes == firstBytes,
        s"$table stores $bytes data bytes, the first commit stored $firstBytes")
      Inputs.deleteTree(new File(table))
    }
  }

  def stored(): Stored = {
    val t = firstTable.getOrElse(throw new IllegalStateException("no verified commit"))
    Stored(Workloads.dataBytes(t),
      Workloads.orcZlibBytes(c.spark.read.parquet(input), c.dir("orc-zlib")))
  }

  def ledgerTables: Seq[String] = firstTable.toSeq
}

/** Full scans of one committed table, every column folded into a checksum. */
final class TokenScan(c: Ctx) extends Workload {
  private val TargetTokens = 4000000L
  private val (nDocs, nTokens) = Inputs.docsForTokens(c.seed, TargetTokens)
  private val buckets = 2 * c.cores
  private var table: String = _
  private def rows = TokenTables.synthetic(c.spark, nDocs, c.seed, partitions = c.cores)
  private lazy val expected: Row = Workloads.checksum(rows.toDF())

  def plannedBytes: Long = Workloads.tokenBytesEstimate(nTokens) * 4
  def sizes: Seq[(String, Long)] = Seq("rows" -> nDocs, "tokens" -> nTokens,
    "token_payload_bytes" -> 4 * nTokens,
    "table_data_bytes" -> Option(table).map(Workloads.dataBytes).getOrElse(0L),
    "buckets" -> buckets.toLong)

  /** Commits the generated rows straight from their Dataset: the scan
    * needs the table, not a parquet input. */
  def setup(dir: String): Unit = {
    table = s"$dir/table"
    SegmentStore.encodeCommit(rows, table, 1L, buckets)
  }

  /** Scan latency keeps falling through the first ~20 scans. */
  override def warmupOps: Int = 24

  def kindOf(i: Int): String = "scan"

  def run(i: Int): OpResult = {
    val (rows, ns, plan) = Workloads.timedRead(c,
      Workloads.checksumFrame(c.spark.read.format("graft").load(table)))
    val got = rows.head
    OpResult("scan", ns, 4 * nTokens, rows.length.toLong, Some(plan), isWrite = false, 0L, table,
      () => require(got == expected, s"scan checksum $got, expected $expected"))
  }

  def stored(): Stored = Stored(Workloads.dataBytes(table),
    Workloads.orcZlibBytes(rows.toDF(), c.dir("orc-zlib")))

  def ledgerTables: Seq[String] = Seq(table)
}
