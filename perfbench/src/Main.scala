package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String =>
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => d.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Order statistics over one run's samples. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim
    catch { case _: Exception => "" }

  /** CPU time the hypervisor gave to others (the `steal` column of
    * /proc/stat), in seconds; a busy host shows here, not in loadavg.
    */
  def stealSeconds(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toDouble / 100).getOrElse(0.0)
    catch { case _: Exception => 0.0 }

  /** Largest heap in use right after a collection, over the JVM's life:
    * the most live data the driver held. Steadier than peak RSS, which
    * follows how far the collector chose to grow the heap.
    */
  @volatile private var heapAfterGc = 0L

  def watchHeap(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          n.getUserData match {
            case d: javax.management.openmbean.CompositeData =>
              val used = com.sun.management.GarbageCollectionNotificationInfo
                .from(d).getGcInfo.getMemoryUsageAfterGc.asScala.values
                .map(_.getUsed).sum
              heapAfterGc = heapAfterGc.max(used)
            case _ =>
          }
        }, null, null)
      case _ =>
    }

  def peakHeapMb(): Double = heapAfterGc / 1048576.0

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Exception => 0.0 }
}

/** What one workload hands back: its timed operations, its set-up times,
  * the per-layer metrics of a traced run (`layer`: the ones every workload
  * reports; `detail`: the ones of this workload's own modules), and
  * free-form run facts.
  *
  * An op is one user-visible operation (a trigger, a request, a query
  * run); `ok` is false when it threw or its output was wrong, and a
  * failed op is counted but never timed.
  */
final class Result(val workload: String) {
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val setupSeconds = mutable.ArrayBuffer[Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val detail = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, Any]()
  var correct = true
  private val born = System.nanoTime()
  private val phases = mutable.LinkedHashMap[String, Double]()
  info("phase_end_s") = phases

  /** Note that phase `name` ended now (seconds since the workload began). */
  def mark(name: String): Unit =
    phases(name) = (System.nanoTime() - born) / 1e9

  def op(kind: String, ms: Double, ok: Boolean, extra: (String, Any)*): Unit =
    ops += (Map("kind" -> kind, "ms" -> ms, "ok" -> ok) ++ extra)

  def toJson: String = Json.obj(Seq(
    "workload" -> workload, "correct" -> correct, "ops" -> ops,
    "setup_s" -> setupSeconds, "layer" -> layer, "detail" -> detail,
    "info" -> info))
}

/** Everything a workload needs from the command line and the session. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    tracer: Tracer,
    data: Path,
    out: Path,
    cores: Int,
    quick: Boolean) {
  def trace: Boolean = tracer.enabled
  def dir(name: String): String = out.resolve(name).toString
}

/** Benchmark driver inside the JVM. Runs the named workloads in one
  * SparkSession and writes one JSON result file per workload; the Python
  * runner turns those into metrics and checks the batch outputs.
  *
  * Usage: perfbench.Main --workload <w[,w...]> --seed <n> --seconds <s>
  *   --trace <0|1> --data-<w> <dir> ... --out <dir> --cores <n> [--quick 1]
  *
  * `--quick 1` cuts the minimum sample counts and repeated rounds to a few
  * ops: it is for the build's class-loading training run, not for
  * measuring.
  */
object Main {
  /** A generator for one use of the seed; nearby seeds given straight to
    * java.util.Random start with nearly equal draws.
    */
  def rng(seed: Long, use: String): scala.util.Random =
    new scala.util.Random(scala.util.hashing.MurmurHash3.stringHash(s"$use:$seed"))

  def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def main(args: Array[String]): Unit = {
    Stats.watchHeap()
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workloads = opts("workload").split(",").toSeq
    val cores = opts("cores").toInt
    val out = Paths.get(opts("out")).toAbsolutePath
    val tmp = out.resolve("spark-tmp")
    Files.createDirectories(tmp)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val tracer = new Tracer(opts("trace") == "1", spark)
    try {
      for (w <- workloads) {
        val wOut = out.resolve(w)
        Files.createDirectories(wOut)
        val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
          tracer, Paths.get(opts(s"data-$w")).toAbsolutePath, wOut, cores,
          opts.get("quick").contains("1"))
        val load0 = Stats.loadavg()
        val steal0 = Stats.stealSeconds()
        val gc0 = Stats.gcSeconds()
        val r = w match {
          case "candle_stream" => CandleStream.run(ctx)
          case "stock_api" => StockApiLoad.run(ctx)
          case "analytics_batch" => AnalyticsBatch.run(ctx)
          case other => sys.error(s"unknown workload $other")
        }
        r.layer("jvm.gc_s") = Stats.gcSeconds() - gc0
        r.layer("jvm.peak_heap_mb") = Stats.peakHeapMb()
        r.info ++= Seq(
          "nproc" -> Runtime.getRuntime.availableProcessors,
          "cores" -> cores,
          "loadavg_before" -> load0,
          "loadavg_after" -> Stats.loadavg(),
          "cpu_steal_s" -> (Stats.stealSeconds() - steal0),
          "jvm_flags" -> ManagementFactory.getRuntimeMXBean
            .getInputArguments.asScala.mkString(" "),
          "jvm_gc_s" -> (Stats.gcSeconds() - gc0),
          "spark_version" -> spark.version,
          "jvm_session_ready_s" -> sessionReady,
          "peak_rss_mb" -> Stats.peakRssMb(),
          "peak_heap_mb" -> Stats.peakHeapMb())
        if (tracer.enabled) tracer.writeSpans(wOut.resolve("spans.jsonl"))
        Files.writeString(wOut.resolve("result.json"), r.toJson)
      }
    } finally spark.stop()
  }
}
