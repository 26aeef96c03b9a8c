package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.SparkEntry
import graft.model.Tables

/** `analytics_batch`: 13 registry queries in four families. Each op builds
  * the frame with its `QueryDef.fn` (construction, where the iterative and
  * local-tail queries run their eager jobs and driver collects) and then
  * materializes it fully with a `noop` write (execution). Passes over the
  * 13 queries repeat until the run's time is up, at least one pass; within
  * a pass the short relational family runs [[RelationalRounds]] times, so
  * its total is a sum of per-query medians.
  *
  * Outside the timed region every op's result is written to parquet; the
  * runner compares each against the query's DuckDB oracle.
  */
object AnalyticsBatch {
  /** In run order: the relational control family runs last, so the first
    * query's JIT warm-up lands in the bulk families and not in the short
    * relational total.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "iterative" -> Seq("q_pagerank", "q_hits"),
    "ann" -> Seq("q_knn_pq", "q_knn_ivfpq"),
    "local_tail" -> Seq("q_diameter", "q_sssp", "q_cc_sizes", "q_mst",
      "q_suffix_array"),
    "relational" -> Seq("q_indicators", "q1_pricing", "q3_shipping",
      "q5_local_supplier"))

  val RelationalRounds = 4

  val Tables10: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** 1 when the frame plans as a scan of driver-local rows only. */
  def localPlan(df: DataFrame): Double =
    if (df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])) 1.0 else 0.0

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val r = new Result("analytics_batch")
    val tracer = ctx.tracer
    val data = ctx.data.toString

    // set-up: scan every input table once through model.Tables, 3 times
    for (k <- 0 until 3) {
      val (_, ms) = Main.timeIt(Tables10.foreach { t =>
        tracer.span("sources", s"Tables.$t", "setup", s"setup:$k") {
          noop(if (t == "events") Tables.events(spark, data)
            else Tables.table(spark, data, t))
        }
      })
      r.setupSeconds += ms / 1e3
    }
    r.mark("setup")

    val oracle = SparkEntry.oracleSql
    val queries = SparkEntry.queries
    val names = Families.flatMap(_._2)
    java.nio.file.Files.writeString(ctx.out.resolve("oracle_sql.json"),
      Json.value(names.map(q => q -> oracle(q)).toMap))

    val construct, execute = collection.mutable.Map[String, List[Double]]()
    val localPlans = collection.mutable.Map[String, Double]()
    val countVsNoop = collection.mutable.ArrayBuffer[Map[String, Any]]()
    val gc0 = Stats.gcSeconds()
    val t0 = System.nanoTime()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    def rounds(family: String): Int =
      if (family != "relational") 1 else if (ctx.quick) 1 else RelationalRounds
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      for ((family, qs) <- Families; round <- 0 until rounds(family);
           q <- qs) {
        val run = s"$pass.$round"
        val trace = s"$q#$run"
        val outDir = ctx.dir(s"results/p$run/$q")
        val result = try {
          val (df, cMs) = Main.timeIt(tracer.span("queries", s"$q.fn", trace,
            s"q:$q:construct:$run")(queries(q)(spark, data)))
          val (_, eMs) = Main.timeIt(tracer.span("queries", s"$q.noop", trace,
            s"q:$q:execute:$run")(noop(df)))
          Some((df, cMs, eMs))
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] $q failed: $e")
            None
        }
        result match {
          case Some((df, cMs, eMs)) =>
            construct(q) = cMs :: construct.getOrElse(q, Nil)
            execute(q) = eMs :: execute.getOrElse(q, Nil)
            r.op(family, cMs + eMs, ok = true, "query" -> q, "pass" -> pass,
              "run" -> run, "output" -> outDir)
            if (tracer.enabled && run == "0.0") {
              if (family == "local_tail") localPlans(q) = localPlan(df)
              // the historic bench timed count(); set it against the noop
              // write of the same frame
              val (_, countMs) = Main.timeIt(df.count())
              countVsNoop += Map("query" -> q, "family" -> family,
                "construct_s" -> cMs / 1e3, "noop_s" -> eMs / 1e3,
                "count_s" -> countMs / 1e3,
                "noop_over_count" -> eMs / countMs.max(1e-3))
            }
            // for the oracle check, outside the timed region
            df.write.mode("overwrite").parquet(outDir)
          case None =>
            r.op(family, 0.0, ok = false, "query" -> q, "pass" -> pass,
              "run" -> run)
        }
      }
      pass += 1
    }
    r.mark("measure")
    r.info("measured_s") = (System.nanoTime() - t0) / 1e9
    r.info("measure_gc_s") = Stats.gcSeconds() - gc0
    r.info("passes") = pass

    if (tracer.enabled) {
      tracer.drain()
      val g = tracer.groups
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      def stats(q: String, phase: String) = g.get(s"q:$q:$phase:0.0")
      for ((family, qs) <- Families) {
        val both = qs.flatMap(q => Seq(stats(q, "construct"), stats(q, "execute")))
          .foldLeft(new GroupStats)(_ add _)
        val p = s"queries.$family"
        r.detail ++= Seq(
          s"$p.construct_s" -> qs.map(q => med(construct.getOrElse(q, Nil)) / 1e3).sum,
          s"$p.execute_s" -> qs.map(q => med(execute.getOrElse(q, Nil)) / 1e3).sum,
          s"$p.construct_jobs" -> qs.map(stats(_, "construct").jobs).sum.toDouble,
          s"$p.execute_jobs" -> qs.map(stats(_, "execute").jobs).sum.toDouble,
          s"$p.tasks" -> both.tasks.toDouble,
          s"$p.shuffle_write_bytes" -> both.shuffleWriteBytes.toDouble,
          s"$p.spill_bytes" -> both.spillBytes.toDouble,
          s"$p.driver_result_bytes" -> both.resultBytes.toDouble)
      }
      for (q <- names) {
        r.detail(s"queries.$q.construct_s") = med(construct.getOrElse(q, Nil)) / 1e3
        r.detail(s"queries.$q.execute_s") = med(execute.getOrElse(q, Nil)) / 1e3
      }
      for ((q, v) <- localPlans) {
        r.detail(s"queries.$q.local_plan") = v
        r.detail(s"queries.$q.driver_result_bytes") =
          stats(q, "construct").resultBytes.toDouble
      }
      // a pass is the op: all its query runs, when every one succeeded
      val passes = r.ops.groupBy(_("pass").asInstanceOf[Int]).toSeq
        .filter(_._2.forall(_("ok") == true))
        .map { case (_, ops) =>
          (ops.map(_("ms").asInstanceOf[Double]).sum, ops.flatMap { o =>
            Seq("construct", "execute").map(ph => s"q:${o("query")}:$ph:${o("run")}")
          }.toSeq)
        }
      if (passes.nonEmpty)
        r.layer ++= tracer.opMetrics(passes, (0 until 3).map(k => s"setup:$k"))
      java.nio.file.Files.writeString(ctx.out.resolve("count_vs_noop.json"),
        Json.value(countVsNoop))
    }
    r
  }
}
