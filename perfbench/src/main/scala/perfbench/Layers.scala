package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.codec._
import graft.engine.{GraftEncoder, Segment, TokenRow}
import graft.lineage.SegmentStore
import graft.select.CodecSelector
import graft.sources.SegmentLayoutV2

/** Single-thread timings of the `codec`, `select` and `engine` kernels on
  * chunks captured from a workload's own data, plus the readers of the
  * per-layer counts the library itself records (ledger codecs, connector
  * SQL metrics). */
object Layers {

  final val CodecNames: Seq[String] =
    (IntCodecs.all.map(_.name) ++ StringCodecs.all.map(_.name)) :+ "zlib"

  private val MinPassNs = 40L * 1000 * 1000

  /** Median over passes of `bytes / pass time`, in MB/s: at least three
    * passes, and passes until 3 x [[MinPassNs]] was spent. */
  private def rate(bytes: Long)(pass: => Unit): Double = {
    pass // warm
    val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spent = 0L
    while (rates.length < 3 || spent < 3 * MinPassNs) {
      val t0 = System.nanoTime()
      pass
      val dt = System.nanoTime() - t0
      spent += dt
      rates += bytes / 1e6 / (dt / 1e9)
    }
    Stats.median(rates.toSeq)
  }

  private def medianNs(n: Int)(body: => Unit): Double = {
    body
    Stats.median((0 until math.max(3, n)).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble
    })
  }

  /** Int chunk with its logical width in bytes (4 for int32 streams). */
  final case class IntChunk(name: String, values: Array[Long], width: Int) {
    lazy val asInt: Array[Int] = values.map(_.toInt)
    def bytes: Long = values.length.toLong * width
  }

  final case class Chunks(ints: Seq[IntChunk], strings: Seq[(String, Array[String])], segments: Seq[Segment])

  /** The chunks as the encoder cut and stored them: every visible segment
    * of bucket 0 of each table, read back with
    * [[SegmentStore.readSegmentsAll]], each stream decoded on its own. A
    * segment's canonical streams count when it carries tokens (a
    * [[graft.sources.GraftTableBridge]] table only synthesizes doc_id and
    * source); its metadata streams always count, as their present values in
    * the stored domain. `segments` are the token-carrying ones. */
  def chunks(spark: SparkSession, tables: Seq[String]): Chunks = {
    import spark.implicits._
    val segs = tables.flatMap(t =>
      SegmentStore.readSegmentsAll(spark, t).filter($"bucket" === 0).collect().sortBy(_.segmentId).toSeq)
    val canonical = SegmentLayoutV2.CanonicalStreams.toSet
    val streams = segs.flatMap(s => s.cols.filter(c => !canonical(c.col) || s.nTokens > 0))
    val intCodec = IntCodecs.all.map(_.name).toSet
    val (intStreams, strStreams) = streams.partition(c => intCodec(c.codecName))
    val ints = intStreams.map { c =>
      if (canonical(c.col)) IntChunk(c.col, IntCodecs.decodeChunk(c.payload), 4)
      else {
        val (vs, present) = Nullable.decodeInts(c.payload)
        IntChunk(c.col, Nullable.compactLongs(vs, present), (c.bytesIn / math.max(1L, c.nValues)).toInt)
      }
    }
    val strings = strStreams.map { c =>
      c.col -> (if (canonical(c.col)) StringCodecs.decodeChunk(c.payload)
                else Nullable.decodeStrings(c.payload).filter(_ != null))
    }
    Chunks(ints, strings, segs.filter(_.nTokens > 0))
  }

  private def utf8Bytes(vs: Array[String]): Long =
    vs.iterator.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum

  /** `codec.<name>.encode_mb_s` / `decode_mb_s`, MB of logical input per
    * second. Every codec must round-trip every chunk it is timed on. */
  def codecRates(ch: Chunks): Seq[(String, Double)] = {
    val intBytes = ch.ints.map(_.bytes).sum
    val ints = IntCodecs.all.flatMap { codec =>
      val enc = ch.ints.map(c => if (c.width == 4) codec.encodeInt(c.asInt) else codec.encode(c.values))
      ch.ints.zip(enc).foreach { case (c, e) =>
        require(java.util.Arrays.equals(codec.decode(e), c.values),
          s"${codec.name} does not round-trip a ${c.name} chunk")
      }
      Seq(
        s"codec.${codec.name}.encode_mb_s" -> rate(intBytes) {
          ch.ints.foreach(c => if (c.width == 4) codec.encodeInt(c.asInt) else codec.encode(c.values))
        },
        s"codec.${codec.name}.decode_mb_s" -> rate(intBytes) {
          ch.ints.zip(enc).foreach { case (c, e) => if (c.width == 4) codec.decodeInt(e) else codec.decode(e) }
        })
    }
    val strBytes = ch.strings.map(s => utf8Bytes(s._2)).sum
    val strs = StringCodecs.all.flatMap { codec =>
      val enc = ch.strings.map(s => codec.encode(s._2))
      ch.strings.zip(enc).foreach { case ((n, vs), e) =>
        require(codec.decode(e).sameElements(vs), s"${codec.name} does not round-trip a $n chunk")
      }
      Seq(
        s"codec.${codec.name}.encode_mb_s" -> rate(strBytes)(ch.strings.foreach(s => codec.encode(s._2))),
        s"codec.${codec.name}.decode_mb_s" -> rate(strBytes)(enc.foreach(codec.decode)))
    }
    // zlib sees what the block wrapper sees: each chunk's selected codec payload
    val payloads = ch.ints.map { c =>
      val codec = CodecSelector.chooseInt(CodecSelector.sampleBlocks(c.values))
      codec.encode(c.values)
    } ++ ch.strings.map(s => CodecSelector.chooseString(s._2).encode(s._2))
    val level = CodecConf.Default.zlibLevel
    val deflated = payloads.map(BlockCompression.deflate(_, level))
    payloads.zip(deflated).foreach { case (p, d) =>
      require(java.util.Arrays.equals(BlockCompression.inflate(d, 0, d.length, p.length), p),
        "zlib does not round-trip a payload")
    }
    val zBytes = payloads.map(_.length.toLong).sum
    ints ++ strs ++ Seq(
      "codec.zlib.encode_mb_s" -> rate(zBytes)(payloads.foreach(BlockCompression.deflate(_, level))),
      "codec.zlib.decode_mb_s" -> rate(zBytes)(payloads.zip(deflated).foreach { case (p, d) =>
        BlockCompression.inflate(d, 0, d.length, p.length) }))
  }

  /** Selector cost per chunk and chosen bytes against the smallest
    * candidate's bytes (all codecs, each through the block wrapper). */
  def selectMetrics(ch: Chunks): Seq[(String, Double)] = {
    val chooseInt = Stats.median(ch.ints.map { c =>
      if (c.width == 4) medianNs(5)(CodecSelector.chooseInt(CodecSelector.sampleBlocksInt(c.asInt)))
      else medianNs(5)(CodecSelector.chooseInt(c.values))
    }) / 1e3
    val chooseStr = Stats.median(ch.strings.map(s => medianNs(5)(CodecSelector.chooseString(s._2)))) / 1e3
    val intPairs = ch.ints.map { c =>
      val chosen = if (c.width == 4) CodecSelector.encodeIntsAutoInt(c.asInt)._2.length
                   else CodecSelector.encodeIntsAuto(c.values)._2.length
      (chosen.toLong, IntCodecs.all.map(k => IntCodecs.encodeChunk(c.values, k).length).min.toLong)
    }
    val strPairs = ch.strings.map { case (_, vs) =>
      (CodecSelector.encodeStringsAuto(vs)._2.length.toLong,
        StringCodecs.all.map(k => StringCodecs.encodeChunk(vs, k).length).min.toLong)
    }
    val all = intPairs ++ strPairs
    Seq("select.choose_int_us" -> chooseInt, "select.choose_string_us" -> chooseStr,
      "select.bytes_vs_best" -> all.map(_._1).sum.toDouble / all.map(_._2).sum)
  }

  /** Whole-segment decode of the stored segments, and whole-chunk encode
    * of their rows, through the engine. Re-encoding a chunk must give back
    * the stored streams (encode is deterministic), so the encode timed is
    * the one that produced the table. */
  def engineKernels(ch: Chunks): Seq[(String, Double)] = {
    def encode(s: Segment, rows: Array[TokenRow]) =
      GraftEncoder.encodeChunk(rows, s.partitionId, s.chunkIdx, s.bucket)
    val rows = ch.segments.map(GraftEncoder.decodeSegment(_).toArray)
    ch.segments.zip(rows).foreach { case (s, rs) =>
      val again = encode(s, rs).cols.map(c => c.col -> c.payload).toMap
      s.cols.filter(c => again.contains(c.col)).foreach { c =>
        require(java.util.Arrays.equals(again(c.col), c.payload),
          s"re-encoding segment ${s.segmentId} changes its ${c.col} stream")
      }
    }
    Seq(
      "engine.encode_chunk_ms" -> Stats.median(ch.segments.zip(rows).map { case (s, rs) =>
        medianNs(3)(encode(s, rs)) }) / 1e6,
      "engine.decode_segment_ms" -> Stats.median(ch.segments.map(s =>
        medianNs(3)(GraftEncoder.decodeSegment(s).foreach(_ => ())))) / 1e6)
  }

  /** Chunks per codec from the ledgers' `codecs` column
    * (`col:codec=n,...`). zlib is not a codec in the ledger: its count is
    * the canonical-stream chunks whose block flag says deflated. */
  def ledgerChunks(spark: SparkSession, tables: Seq[String]): Map[String, Long] = {
    val counts = tables.flatMap(t => SegmentStore.readLineage(spark, t).collect())
      .flatMap(r => Option(r.codecs).toSeq.flatMap(_.split(','))).filter(_.contains('='))
      .map { e =>
        val Array(colCodec, n) = e.split('=')
        colCodec.substring(colCodec.lastIndexOf(':') + 1) -> n.toLong
      }.groupMapReduce(_._1)(_._2)(_ + _)
    val zlib = tables.map { t =>
      val df = spark.read.parquet(SegmentStore.dataDir(t))
      val payloads = graft.sources.SegmentLayoutV2.CanonicalStreams
        .map(graft.sources.SegmentLayoutV2.field(_, "payload")).filter(df.columns.contains)
      if (payloads.isEmpty) 0L
      else df.select(payloads.map(p => when(substring(col(p), 2, 1) === lit(Array[Byte](1)), 1L)
        .otherwise(0L)).reduce(_ + _).as("z")).agg(sum("z")).head().getLong(0)
    }.sum
    counts + ("zlib" -> zlib)
  }

  /** Every physical node of an executed plan, through adaptive stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** The connector's SQL metrics of one executed plan, summed by name. */
  def scanMetrics(plan: SparkPlan): Map[String, Long] =
    planNodes(plan).collect { case b: BatchScanExec => b.metrics.toSeq }.flatten
      .filter(_._1.startsWith("graft")).groupMapReduce(_._1)(_._2.value)(_ + _)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
