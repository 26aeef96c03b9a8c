package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.DoubleType

import graft.model.{Candle, EnrichedCandle, Tables}
import graft.ops.Indicators
import graft.streaming.StreamingIndicators

/** `candle_stream`: the indicator pipeline (`StreamingIndicators.pipeline`)
  * into the production parquet sink (`sinkToStore`), fed through a
  * MemoryStream by one closed-loop feeder.
  *
  * Backfill: a seeded 52-56% of the history arrives in four large
  * triggers, as when the job restarts from the earliest offsets. Live:
  * the rest arrives in small triggers (40-80 candles) until the run's
  * time is up, and at least [[MinLiveTriggers]] of them. Every trigger
  * after the first re-sends a seeded 5-30-row tail of the previous one, as
  * the reference poller's overlap does, so the dedup gate has real
  * duplicates to drop.
  *
  * Each trigger is checked on arrival (the dedup gate stored exactly the
  * new candles and dropped exactly the re-sent ones), and the sink is
  * checked at the end against batch `Indicators.enrich` over the distinct
  * input, with doubles rounded to 1e-9.
  */
object CandleStream {
  val BackfillTriggers = 4
  val MinLiveTriggers = 10
  val WarmupLiveTriggers = 4

  /** events -> candles, mapped as `graft.Bench.streamReplay` does. */
  def candles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_type").as("stock_symbol"),
      col("ts").as("local_time"),
      col("value").as("open"),
      col("value").as("high"),
      col("value").as("low"),
      col("value").as("close"),
      lit(1.0).as("volume"))

  /** One feeder step: send `rows(from - resend, until)`. */
  final case class Trigger(phase: String, from: Int, until: Int, resend: Int)

  private final case class Sent(t: Trigger, ms: Double, ok: Boolean,
      progress: Seq[StreamingQueryProgress], sinkFiles: (Long, Long))

  private def stateOp(p: StreamingQueryProgress, dedup: Boolean) =
    p.stateOperators.find(_.operatorName.toLowerCase.contains("dedup") == dedup)

  private def dropped(p: StreamingQueryProgress): Long =
    stateOp(p, dedup = true).flatMap(o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")))
      .map(_.longValue).getOrElse(0L)

  private def runStream(
      ctx: Ctx, input: Array[Candle], name: String,
      plan: Iterator[Trigger]): (Seq[Sent], StreamingQuery, String) = {
    val spark = ctx.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[Candle]
    val store = ctx.dir(s"$name-store")
    val query = ctx.tracer.span("streaming", "sinkToStore", name) {
      StreamingIndicators.sinkToStore(
        StreamingIndicators.pipeline(source.toDS()), store,
        ctx.dir(s"$name-checkpoint"))
    }
    var lastBatch = -1L
    val sent = plan.map { t =>
      val rows = input.slice(t.from - t.resend, t.until).toIndexedSeq
      val (ok, ms) = Main.timeIt {
        try {
          ctx.tracer.span("streaming", s"trigger.${t.phase}", name) {
            source.addData(rows)
            query.processAllAvailable()
          }
          true
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $name trigger failed: $e")
            false
        }
      }
      val progress = query.recentProgress.filter(_.batchId > lastBatch).toSeq
      progress.foreach(p => lastBatch = lastBatch.max(p.batchId))
      val stored = progress.flatMap(stateOp(_, dedup = true))
        .map(_.numRowsUpdated).sum
      val checked = ok && progress.nonEmpty &&
        stored == t.until - t.from && progress.map(dropped).sum == t.resend
      // the sink's parquet files so far, counted in the traced run only
      Sent(t, ms, checked, progress,
        if (ctx.trace) filesUnder(store) else (0L, 0L))
    }.toVector
    (sent, query, store)
  }

  /** Backfill triggers, then live triggers until the deadline has passed
    * and at least [[MinLiveTriggers]] have run.
    */
  def plan(n: Int, rng: Random, minLive: Int, deadline: () => Boolean)
      : Iterator[Trigger] = {
    // a narrow range: each trigger also pays a fixed cost, so the trigger
    // size moves the per-candle time that `bulk_ms` reports
    val nBackfill = (n * (0.52 + 0.04 * rng.nextDouble())).toInt
    val step = (nBackfill + BackfillTriggers - 1) / BackfillTriggers
    val backfill = (0 until BackfillTriggers).map { k =>
      Trigger("backfill", k * step, ((k + 1) * step).min(nBackfill),
        if (k == 0) 0 else 5 + rng.nextInt(26))
    }
    var pos = nBackfill
    var live = 0
    val liveIt = Iterator.continually {
      val size = 40 + rng.nextInt(41)
      val t = Trigger("live", pos, (pos + size).min(n), 5 + rng.nextInt(26))
      pos = t.until
      live += 1
      t
    }.takeWhile(t => t.until > t.from &&
      (live <= minLive || !deadline()))
    backfill.iterator ++ liveIt
  }

  private def filesUnder(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq
    (files.length.toLong, files.map(Files.size).sum)
  }

  private def medianOf(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    import spark.implicits._
    val r = new Result("candle_stream")
    val data = ctx.data.toString

    // set-up: read and map the history, three times; keep the last copy
    var input = Array.empty[Candle]
    for (k <- 0 until 3) {
      val (c, ms) = Main.timeIt(ctx.tracer.span("sources", "Tables.events",
        "setup", s"setup:$k")(candles(spark, data).as[Candle].orderBy("local_time")
          .collect()))
      input = c
      r.setupSeconds += ms / 1e3
    }
    r.mark("setup")

    // warm-up on a separate query, sink and checkpoint: class loading and
    // JIT for the stateful operators, outside the measured window. Two
    // large triggers, without which the first backfill trigger runs about
    // twice as slow as the rest, then live-sized ones, without which live
    // triggers keep speeding up through the run.
    val warmPlan = (0 until 2).iterator.map(k =>
      Trigger("warmup", k * 3000, (k + 1) * 3000, 0)) ++
      (0 until WarmupLiveTriggers).iterator.map(k =>
        Trigger("warmup", 6000 + k * 60, 6000 + (k + 1) * 60, 10))
    val (_, warmQuery, _) = runStream(ctx, input, "warmup", warmPlan)
    warmQuery.stop()
    r.mark("warmup")

    val rng = Main.rng(ctx.seed, "candle_stream")
    val gc0 = Stats.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val triggers = plan(input.length, rng,
      if (ctx.quick) 2 else MinLiveTriggers, () => System.nanoTime() > deadline)
    val (sent, query, store) = runStream(ctx, input, "stream", triggers)
    query.stop()
    r.mark("measure")
    r.info("measured_s") = (System.nanoTime() - t0) / 1e9
    r.info("measure_gc_s") = Stats.gcSeconds() - gc0

    // end-to-end check: the sink hash-equals batch enrich over the distinct
    // input (multiset fingerprint: row count plus two sums of row hashes)
    val delivered = sent.map(_.t.until).max
    val sinkOk = try {
      val cols = classOf[EnrichedCandle].getDeclaredFields.map(_.getName).toSeq
      def fingerprint(df: DataFrame) = {
        val rounded = cols.map { c =>
          if (df.schema(c).dataType == DoubleType) round(col(c), 9) else col(c)
        }
        df.select(xxhash64(rounded: _*).as("h1"), hash(rounded: _*).as("h2"))
          .agg(count(lit(1)), sum(col("h1").cast("decimal(38,0)")),
            sum(col("h2").cast("long")))
          .head().toSeq
      }
      val got = fingerprint(spark.read.parquet(store))
      val want = fingerprint(Indicators.enrich(
        input.take(delivered).toSeq.toDS().toDF(),
        col("stock_symbol"), col("local_time"), col("close")))
      got == want && got.head == delivered.toLong
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] candle_stream sink check failed: $e")
        false
    }
    r.correct = sinkOk
    sent.foreach { s =>
      r.op(s.t.phase, s.ms, s.ok && sinkOk, "candles" -> (s.t.until - s.t.from))
    }
    r.info("candles_delivered") = delivered
    r.info("sink_check") = sinkOk
    r.mark("check")

    if (ctx.trace) {
      ctx.tracer.drain()
      val g = ctx.tracer.groups
      def phase(p: String) = sent.filter(_.t.phase == p).flatMap(_.progress)
      def dur(ps: Seq[StreamingQueryProgress], k: String) =
        medianOf(ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue)
          .getOrElse(0.0)))
      def commit(ps: Seq[StreamingQueryProgress], dedup: Boolean) =
        medianOf(ps.flatMap(stateOp(_, dedup)).map(_.commitTimeMs.toDouble))
      val live = phase("live")
      val backfill = phase("backfill")
      r.detail ++= Seq(
        "streaming.live.query_planning_ms" -> dur(live, "queryPlanning"),
        "streaming.live.add_batch_ms" -> dur(live, "addBatch"),
        "streaming.live.wal_commit_ms" -> dur(live, "walCommit"),
        "streaming.live.commit_offsets_ms" -> dur(live, "commitOffsets"),
        "streaming.live.dedup_commit_ms" -> commit(live, dedup = true),
        "streaming.live.fold_commit_ms" -> commit(live, dedup = false),
        "streaming.live.jobs_per_trigger" ->
          medianOf(live.map(p => g.get(s"batch:${p.batchId}").jobs.toDouble)),
        "streaming.live.tasks_per_trigger" ->
          medianOf(live.map(p => g.get(s"batch:${p.batchId}").tasks.toDouble)),
        "streaming.live.state_rows" -> medianOf(live.map(
          _.stateOperators.map(_.numRowsTotal).sum.toDouble)),
        "streaming.live.state_bytes" -> medianOf(live.map(
          _.stateOperators.map(_.memoryUsedBytes).sum.toDouble)),
        "streaming.backfill.add_batch_ms" -> dur(backfill, "addBatch"),
        "streaming.backfill.dedup_commit_ms" -> commit(backfill, dedup = true),
        "streaming.backfill.fold_commit_ms" -> commit(backfill, dedup = false),
        "streaming.backfill.shuffle_write_bytes" -> backfill.map(p =>
          g.get(s"batch:${p.batchId}").shuffleWriteBytes.toDouble).sum,
        "streaming.dedup.duplicates_sent" -> sent.map(_.t.resend).sum.toDouble,
        "streaming.dedup.rows_dropped" ->
          sent.flatMap(_.progress).map(dropped).sum.toDouble,
        "streaming.dedup.rows_evicted" -> sent.flatMap(_.progress)
          .flatMap(stateOp(_, dedup = true)).map(_.numRowsRemoved).sum.toDouble)
      val (files, bytes) = sent.filter(_.t.phase == "backfill").last.sinkFiles
      r.detail("sources.sink.files_written") = files.toDouble
      r.detail("sources.sink.bytes_written") = bytes.toDouble
      r.layer ++= ctx.tracer.opMetrics(
        sent.filter(s => s.ok && s.t.phase == "live")
          .map(s => (s.ms, s.progress.map(p => s"batch:${p.batchId}"))),
        (0 until 3).map(k => s"setup:$k"))
    }
    r
  }
}
