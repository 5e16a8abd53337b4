package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one traced pass, from the [[Tracer]]'s spans and
  * the Spark counters attributed to them. Span metrics are inclusive of
  * child spans. Per span name it also gives `self.<span>` (duration minus
  * what child spans cover), `jobs.<span>` and `catalyst_ms.<span>` (work
  * attributed to the span while it was the innermost one). */
object Layers {
  def apply(t: Tracer, w: Workload, passS: Double, cores: Int): Map[String, Double] = {
    val spans = t.recorded
    val byId = spans.map(s => s.id -> s).toMap
    def under(id: Int, name: String): Boolean =
      Iterator.iterate(id)(i => byId.get(i).map(_.parent).getOrElse(-1))
        .takeWhile(_ >= 0).exists(i => byId(i).name == name)
    val kids = spans.groupBy(_.parent)
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    val jobs = t.jobs.asScala.toSeq
    val tasks = t.tasks.asScala.toSeq
    val phaseSpans = t.phaseSpans
    val phases = phaseSpans.map(_._2)
    def jobsUnder(name: String) = jobs.count(j => j.span >= 0 && under(j.span, name)).toDouble
    val sinkTasks = tasks.filter(k => k.span >= 0 && under(k.span, "sources.sink"))
    val sinkRecords = sinkTasks.map(_.outRecords).sum
    val changedRows = w match { case e: TseEtl => e.changedRows; case _ => 0L }
    // Spark-driver time with no job running, per job
    val covered = jobs.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) {
      case ((acc, end), j) =>
        val s = math.max(j.startMs, end)
        (acc + math.max(0L, j.endMs - s), math.max(end, j.endMs))
    }._1
    val taskS = tasks.map(_.runMs).sum / 1e3
    def serveMs(name: String) = {
      val d = spans.filter(_.name == name).map(_.seconds * 1e3).sorted
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    val mb = 1048576.0
    val layer = Map(
      "sources.land_s" -> total("sources.land"),
      "sources.csv_schema_s" -> total("sources.csv_schema"),
      "sources.sink_s" -> total("sources.sink"),
      "sources.sink_bytes_written" -> sinkTasks.map(_.outBytes).sum.toDouble,
      "sources.sink_files_written" -> sinkTasks.count(_.outBytes > 0).toDouble,
      "sources.sink_unchanged_row_share" ->
        (if (sinkRecords > 0) 1.0 - changedRows.toDouble / sinkRecords else 0.0),
      "pipelines.seed_parties_s" -> total("pipelines.seed_parties"),
      "pipelines.seed_politicians_s" -> total("pipelines.seed_politicians"),
      "pipelines.seed_candidacies_s" -> total("pipelines.seed_candidacies"),
      "pipelines.update_results_s" -> total("pipelines.update_results"),
      "catalog.construct_s" -> total("catalog.construct"),
      "catalog.construct_jobs" -> jobsUnder("catalog.construct"),
      "catalog.sink_s" -> total("catalog.sink"),
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> tasks.map(_.stage).distinct.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.utilization" -> taskS / (passS * cores),
      "spark.uncovered_ms_per_job" ->
        (if (jobs.isEmpty) 0.0 else (passS * 1e3 - covered) / jobs.size),
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> tasks.map(_.spill).sum / mb,
      "spark.failed_tasks" -> tasks.count(!_.ok).toDouble,
      "spark.analysis_ms" -> phases.map(_.analysisMs).sum.toDouble,
      "spark.optimization_ms" -> phases.map(_.optimizationMs).sum.toDouble,
      "spark.planning_ms" -> phases.map(_.planningMs).sum.toDouble,
      "store.ivfpq.build_s" -> total("store.ivfpq.build"),
      "store.ivfpq.append_s" -> total("store.ivfpq.append"),
      "store.ivfpq.serve_ms" -> serveMs("store.ivfpq.serve"))
    val ops = Workloads.Iterative.flatMap(q => Seq(
      s"op.$q.s" -> total(s"op.$q"), s"op.$q.jobs" -> jobsUnder(s"op.$q")))
    // per span name, for the detail line: self time, jobs started while it
    // was the innermost span, Catalyst time of the queries it ran
    val perSpan = spans.groupBy(_.name).toSeq.flatMap { case (n, ss) =>
      val ids = ss.map(_.id).toSet
      Seq(s"self.$n" -> ss.map(s => s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum).sum,
        s"jobs.$n" -> jobs.count(j => ids(j.span)).toDouble,
        s"catalyst_ms.$n" -> phaseSpans.collect { case (id, p) if ids(id) =>
          p.analysisMs + p.optimizationMs + p.planningMs }.sum.toDouble)
    }
    layer ++ ops ++ perSpan
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
