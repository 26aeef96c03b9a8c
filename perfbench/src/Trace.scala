package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work Spark did for one job group: jobs, tasks and bytes. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  /** (start, end) in epoch ms of each finished job. */
  var jobSpans = List.empty[(Long, Long)]

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; tasks += o.tasks; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; resultBytes += o.resultBytes
    jobSpans = o.jobSpans ++ jobSpans
    this
  }

  /** Wall time during which at least one of these jobs was running. */
  def jobMs: Double = jobSpans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
    case ((sum, until), (s, e)) =>
      if (e <= until) (sum, until)
      else (sum + e - s.max(until), e)
  }._1.toDouble
}

/** Counts jobs and task metrics per job group through Spark's public
  * listener API. A job belongs to the group set with `setJobGroup` on the
  * thread that started it; a streaming micro-batch job belongs to the
  * group `batch:<batchId>`.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val groups = new ConcurrentHashMap[String, GroupStats]()

  private def stats(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a stream sets both properties (its job group is the run id), so the
    // batch id goes first
    val props = Option(e.properties)
    val group = props
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("batch:" + _)
      .orElse(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, group))
    jobStart.put(e.jobId, (group, e.time))
    stats(group).synchronized { stats(group).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (group, start) =>
      val s = stats(group)
      s.synchronized { s.jobSpans = (start, e.time) :: s.jobSpans }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = Option(stageGroup.get(e.stageId)).getOrElse("none")
    val s = stats(group)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.resultBytes += m.resultSize
      }
    }
  }

  def get(group: String): GroupStats =
    Option(groups.get(group)).getOrElse(new GroupStats)

  def sum(names: Iterable[String]): GroupStats =
    names.foldLeft(new GroupStats)((acc, g) => acc.add(get(g)))
}

/** File-scan SQL metrics of one query: files, partitions and rows read. */
final case class Scan(files: Long, partitions: Long, rows: Long)

/** File-scan SQL metrics of every successful query, in completion order. */
final class ScanListener extends QueryExecutionListener {
  val scans = new java.util.concurrent.ConcurrentLinkedQueue[Scan]()

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(fileScans) ++ other.subqueries.flatMap(fileScans)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
    val ss = fileScans(qe.executedPlan)
    def m(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    scans.add(Scan(ss.map(m(_, "numFiles")).sum,
      ss.map(m(_, "numPartitions")).sum, ss.map(m(_, "numOutputRows")).sum))
  }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Remove and return everything recorded so far. */
  def drain(): Seq[Scan] = Iterator.continually(scans.poll())
    .takeWhile(_ != null).toSeq
}

/** One timed span around a call into a module of the engine. */
final case class Span(
    id: Int, parent: Int, trace: String, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Span recorder for the traced run; a no-op when tracing is off, so the
  * untraced run pays nothing but a branch. Spans stay in memory and are
  * written out once, when the workload ends. Each span also sets the job
  * group, so the listener can attribute Spark's work to it.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)]
  private var nextId = 1
  val groups: GroupListener = new GroupListener
  val scans: ScanListener = new ScanListener
  private val t0 = System.nanoTime()

  if (enabled) {
    spark.sparkContext.addSparkListener(groups)
    spark.listenerManager.register(scans)
  }

  /** Time `body` as span `name` of `layer`; its Spark jobs go to job group
    * `group` (default: the span's own `layer:name#id`).
    */
  def span[T](layer: String, name: String, trace: String,
      group: String = null)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val g = Option(group).getOrElse(s"$layer:$name#$id")
    val sc = spark.sparkContext
    sc.setJobGroup(g, name, interruptOnCancel = false)
    val parent = stack.headOption.map(_._1).getOrElse(0)
    stack = (id, g) :: stack
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((_, pg)) => sc.setJobGroup(pg, pg, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent, trace, layer, name, start, end)
    }
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (enabled) org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)

  /** The per-layer metrics every workload reports. Each measured op (a
    * live trigger, a request, a batch pass) is given with its wall time
    * and job groups; its time splits into time with at least one of its
    * Spark jobs running and driver-only time (planning, state commits,
    * listing, driver-local work). Medians over the ops.
    */
  def opMetrics(ops: Seq[(Double, Seq[String])], setupGroups: Seq[String])
      : Seq[(String, Double)] = {
    drain()
    val per = ops.map { case (ms, gs) => (ms, groups.sum(gs)) }
    def med(f: ((Double, GroupStats)) => Double) = Stats.median(per.map(f))
    Seq(
      "op.job_ms" -> med(_._2.jobMs),
      "op.driver_ms" -> med { case (ms, s) => (ms - s.jobMs).max(0.0) },
      "op.jobs" -> med(_._2.jobs.toDouble),
      "op.tasks" -> med(_._2.tasks.toDouble),
      "op.shuffle_write_bytes" -> med(_._2.shuffleWriteBytes.toDouble),
      "op.driver_result_bytes" -> med(_._2.resultBytes.toDouble),
      "op.spill_bytes" -> med(_._2.spillBytes.toDouble),
      "setup.jobs" -> Stats.median(setupGroups.map(groups.get(_).jobs.toDouble)))
  }

  /** Write the spans recorded so far as JSON lines, then forget them. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.toSeq.map { s =>
      Json.obj(Seq("trace" -> s.trace, "span" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6,
        "dur_ms" -> (s.endNs - s.startNs) / 1e6))
    }
    java.nio.file.Files.write(path, lines.asJava)
    spans.clear()
  }
}
