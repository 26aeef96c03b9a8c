package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.functions.col

import graft.api.StockApi
import graft.ops.Indicators
import graft.sources.PartitionedStore

/** `stock_api`: one closed-loop client issuing a seeded sequence of
  * `StockApi.aggregate`, `summarize` and `summarizeMultiple` calls, each
  * over `PartitionedStore.readRange` of the day-partitioned `stock_data`
  * store. Periods of 60, 1,440, 10,080 and 43,200 minutes make a request
  * touch 1 to 30 day partitions.
  *
  * Set-up builds the store from the candles (`Indicators.enrich`, then
  * `PartitionedStore.write`). Every response is checked against an answer
  * computed on the driver with plain Scala from the enriched rows handed to
  * the store, not through `StockApi` or the store.
  */
object StockApiLoad {
  val Periods: Seq[Int] = Seq(60, 1440, 10080, 43200)
  val Fields: Seq[String] = Seq("open", "high", "low", "close", "volume",
    "sma_5", "ema_10", "delta", "gain", "loss", "avg_gain_10", "avg_loss_10",
    "rs", "rsi_10")
  val Kinds = 3
  /** Requests come in blocks holding each (kind, period) pair once, in a
    * seeded order, so every run serves the same mix.
    */
  val BlockSize: Int = Kinds * Periods.length
  val MinRequests: Int = 2 * BlockSize
  /** One block, so each (kind, period) pair is warm before timing; the
    * first request of a pair runs up to half again as slow.
    */
  val WarmupRequests: Int = BlockSize

  sealed trait Req { def kind: String; def period: Int; def now: Timestamp }
  final case class Aggregate(agg: String, symbol: String, period: Int,
      field: String, now: Timestamp) extends Req { def kind = "aggregate" }
  final case class Summarize(symbol: String, period: Int, now: Timestamp)
      extends Req { def kind = "summarize" }
  final case class SummarizeMultiple(symbols: Seq[String], period: Int,
      now: Timestamp) extends Req { def kind = "summarize_multiple" }

  /** The enriched rows, per symbol, in time order: times in microseconds
    * and one column per field (NaN for null).
    */
  final class Reference(rows: Array[org.apache.spark.sql.Row]) {
    private val bySymbol: Map[String, (Array[Long], Array[Array[Double]])] =
      rows.groupBy(_.getString(0)).map { case (s, rs) =>
        val sorted = rs.sortBy(_.getTimestamp(1).getTime)
        val times = sorted.map(r => micros(r.getTimestamp(1)))
        val cols = Fields.indices.map { i =>
          sorted.map(r => if (r.isNullAt(i + 2)) Double.NaN else r.getDouble(i + 2))
        }.toArray
        s -> (times, cols)
      }
    val symbols: Seq[String] = bySymbol.keys.toSeq.sorted
    val (minTime, maxTime) = {
      val ts = bySymbol.values.flatMap(_._1)
      (ts.min, ts.max)
    }

    /** Non-null values of `field` for `symbol` in [now - period, now]. */
    def values(symbol: String, field: String, period: Int, now: Timestamp)
        : Seq[Double] = bySymbol.get(symbol).toSeq.flatMap { case (ts, cols) =>
      val hi = micros(now)
      val lo = hi - period * 60L * 1000000L
      val c = cols(Fields.indexOf(field))
      ts.indices.filter(i => ts(i) >= lo && ts(i) <= hi).map(c(_))
        .filterNot(_.isNaN)
    }

    def stat(symbol: String, field: String, period: Int, now: Timestamp)
        : StockApi.Stat = {
      val v = values(symbol, field, period, now)
      if (v.isEmpty) StockApi.Stat(None, None, None)
      else StockApi.Stat(Some(v.sum / v.length), Some(v.max), Some(v.min))
    }

    def hasRows(symbol: String, period: Int, now: Timestamp): Boolean =
      bySymbol.get(symbol).exists { case (ts, _) =>
        val hi = micros(now)
        val lo = hi - period * 60L * 1000000L
        ts.exists(t => t >= lo && t <= hi)
      }

    def summary(symbol: String, period: Int, now: Timestamp)
        : StockApi.StockSummary = {
      def top(f: String) = stat(symbol, f, period, now).highest
      StockApi.StockSummary(
        stat(symbol, "close", period, now), stat(symbol, "sma_5", period, now),
        stat(symbol, "ema_10", period, now), stat(symbol, "rsi_10", period, now),
        StockApi.GainLoss(top("gain"), top("loss")))
    }
  }

  private def micros(t: Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000

  /** `StockApi` averages through a 1e-6 fixed-point sum, so an average may
    * differ from the plain double mean by the quantization step.
    */
  private def sameAvg(a: Option[Double], b: Option[Double]): Boolean =
    (a, b) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 2e-6 + 1e-9 * math.abs(y)
      case _ => a == b
    }

  private def sameStat(a: StockApi.Stat, b: StockApi.Stat): Boolean =
    sameAvg(a.avg, b.avg) && a.highest == b.highest && a.lowest == b.lowest

  private def sameSummary(a: StockApi.StockSummary, b: StockApi.StockSummary) =
    sameStat(a.close, b.close) && sameStat(a.sma5, b.sma5) &&
      sameStat(a.ema10, b.ema10) && sameStat(a.rsi10, b.rsi10) &&
      a.gainLoss == b.gainLoss

  def requests(ref: Reference, rng: Random): Iterator[Req] = {
    val pairs = for (k <- 0 until Kinds; p <- Periods) yield (k, p)
    Iterator.continually(rng.shuffle(pairs)).flatten.map { case (kind, period) =>
      val span = ref.maxTime - ref.minTime
      val nowMicros = ref.minTime + (rng.nextDouble() * span).toLong
      val now = new Timestamp(nowMicros / 1000000L * 1000L)
      val symbol = ref.symbols(rng.nextInt(ref.symbols.length))
      kind match {
        case 0 =>
          Aggregate(Seq("avg", "highest", "lowest")(rng.nextInt(3)), symbol,
            period, Fields(rng.nextInt(Fields.length)), now)
        case 1 => Summarize(symbol, period, now)
        case _ =>
          val some = rng.shuffle(ref.symbols).take(2 + rng.nextInt(4))
          // sometimes ask for a symbol that has no data, to exercise the
          // per-symbol error path
          SummarizeMultiple(
            if (rng.nextInt(4) == 0) some :+ "NO_SUCH_SYMBOL" else some,
            period, now)
      }
    }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val r = new Result("stock_api")
    val tracer = ctx.tracer

    // set-up: build stock_data (enrich + day-partitioned write), 3 times
    val enriched = Indicators.enrich(
      CandleStream.candles(spark, ctx.data.toString),
      col("stock_symbol"), col("local_time"), col("close"))
    var store = ""
    for (k <- 0 until 3) {
      store = ctx.dir(s"store-$k")
      val (_, ms) = Main.timeIt(tracer.span("sources", "PartitionedStore.write",
        "setup", s"setup:$k")(PartitionedStore.write(enriched, store)))
      r.setupSeconds += ms / 1e3
    }
    r.mark("setup")
    val ref = new Reference(
      enriched.select(("stock_symbol" +: "local_time" +: Fields).map(col): _*)
        .collect())

    /** Serve one request: (response, ms in readRange, ms in the call). */
    def serve(req: Req, group: String): (Any, Double, Double) = {
      val start = new Timestamp(req.now.getTime - req.period * 60000L)
      val (data, readMs) = Main.timeIt(tracer.span("sources", "readRange",
        group, group)(PartitionedStore.readRange(spark, store, start, req.now)))
      val (response, apiMs) = Main.timeIt(tracer.span("api", req.kind,
        group, group) {
        req match {
          case Aggregate(agg, s, p, f, now) =>
            StockApi.aggregate(data, agg, s, p, f, now)
          case Summarize(s, p, now) => StockApi.summarize(data, s, p, now)
          case SummarizeMultiple(ss, p, now) =>
            StockApi.summarizeMultiple(data, ss, p, now)
        }
      })
      (response, readMs, apiMs)
    }

    /** Check a response against the reference: (ok, rows returned). */
    def check(req: Req, response: Any): (Boolean, Int) =
      (req, response) match {
        case (Aggregate(agg, s, p, f, now), got: StockApi.AggResult) =>
          val v = ref.stat(s, f, p, now)
          (agg match {
            case "avg" => sameAvg(got.value, v.avg)
            case "highest" => got.value == v.highest
            case _ => got.value == v.lowest
          }, 1)
        case (Summarize(s, p, now), got: StockApi.SingleSummaryResponse) =>
          (got.stockSymbol == s &&
            sameSummary(got.summary, ref.summary(s, p, now)), 1)
        case (SummarizeMultiple(ss, p, now), got: StockApi.MultiSummaryResponse) =>
          val (have, missing) = ss.partition(ref.hasRows(_, p, now))
          (got.summaries.keySet == have.toSet &&
            got.errors.keySet == missing.toSet &&
            have.forall(s => sameSummary(got.summaries(s), ref.summary(s, p, now))),
            got.summaries.size)
        case _ => (false, 0)
      }

    /** Serve (timed) and check (untimed) one request: (ok, rows returned,
      * total ms, ms in readRange, ms in the call).
      */
    def attempt(req: Req, group: String): (Boolean, Int, Double, Double, Double) =
      try {
        val ((response, readMs, apiMs), ms) = Main.timeIt(serve(req, group))
        val (ok, rows) = check(req, response)
        (ok, rows, ms, readMs, apiMs)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] stock_api ${req.kind} failed: $e")
          (false, 0, 0.0, 0.0, 0.0)
      }

    requests(ref, Main.rng(ctx.seed, "stock_api-warmup")).take(WarmupRequests)
      .zipWithIndex.foreach { case (q, i) => attempt(q, s"warmup:$i") }
    tracer.drain()
    tracer.scans.drain()
    r.mark("warmup")

    val gc0 = Stats.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val perKind = collection.mutable.Map[String, List[Double]]()
    val reads, scanFiles, scanParts, rowsPerRow = collection.mutable.ArrayBuffer[Double]()
    val okOps = collection.mutable.ArrayBuffer[(Double, Seq[String])]()
    var n = 0
    val reqs = requests(ref, Main.rng(ctx.seed, "stock_api"))
    val minRequests = if (ctx.quick) BlockSize else MinRequests
    while (n < minRequests || System.nanoTime() < deadline ||
        n % BlockSize != 0) {
      val req = reqs.next()
      val group = s"req:$n"
      val (ok, rows, ms, readMs, apiMs) = attempt(req, group)
      r.op(req.kind, ms, ok, "period" -> req.period)
      if (ok) okOps += ((ms, Seq(group)))
      n += 1
      if (tracer.enabled) {
        // outside the timed call: wait for this request's scan metrics
        tracer.drain()
        val scans = tracer.scans.drain()
        reads += readMs
        perKind(req.kind) = apiMs :: perKind.getOrElse(req.kind, Nil)
        scanFiles += scans.map(_.files).sum.toDouble
        scanParts += scans.map(_.partitions).sum.toDouble
        rowsPerRow += scans.map(_.rows).sum.toDouble / rows.max(1)
      }
    }
    r.mark("measure")
    r.info("measured_s") = (System.nanoTime() - t0) / 1e9
    r.info("measure_gc_s") = Stats.gcSeconds() - gc0

    if (tracer.enabled) {
      val g = tracer.groups
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val writes = r.setupSeconds.toSeq
      r.detail ++= Seq(
        "sources.read_range_ms" -> med(reads.toSeq),
        "sources.scan.files_read" -> med(scanFiles.toSeq),
        "sources.scan.partitions_read" -> med(scanParts.toSeq),
        "sources.scan.rows_read_per_row_returned" -> med(rowsPerRow.toSeq),
        "api.aggregate_ms" -> med(perKind.getOrElse("aggregate", Nil)),
        "api.summarize_ms" -> med(perKind.getOrElse("summarize", Nil)),
        "api.summarize_multiple_ms" ->
          med(perKind.getOrElse("summarize_multiple", Nil)),
        "api.jobs_per_request" ->
          med((0 until n).map(i => g.get(s"req:$i").jobs.toDouble)),
        "api.tasks_per_request" ->
          med((0 until n).map(i => g.get(s"req:$i").tasks.toDouble)),
        "sources.store_write_s" -> med(writes))
      r.layer ++= tracer.opMetrics(okOps.toSeq, (0 until 3).map(k => s"setup:$k"))
    }
    r.info("requests") = n
    r
  }
}
