package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side: `perfbench.Main <workDir> <workload> <seconds>
  * <trace 0|1> <cores>`. Reads the generated inputs under
  * `<workDir>/inputs`, writes `<workDir>/result.json`.
  *
  * The session is `GraftSession.local(cores)`, the configuration the
  * engine ships. Set-up is the JVM's start, the session's boot, the
  * workload's own set-up and its untimed warm passes; the last one's
  * outputs are the ones checked against the catalog oracle. Then timed
  * passes run for `seconds` (at least [[MinPasses]]), all from the Spark
  * driver's one thread. Every pass starts from the state the workload's
  * set-up left. With tracing on, timed passes alternate untraced and
  * traced, so the tracing overhead is measured inside the same run.
  */
object Main {
  /** Timed passes a run makes at least, however long they take. */
  val MinPasses = 2
  final case class Timed(seconds: Double, failed: Boolean, traced: Boolean,
                         layers: Map[String, Double], pass: Pass)

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workArg, name, secArg, traceArg, coresArg) = args
    val work = Paths.get(workArg)
    val seconds = secArg.toDouble
    val trace = traceArg == "1"
    val cores = coresArg.toInt
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val expected = mapper.readTree(work.resolve("inputs").resolve("expected.json").toFile)
    val workload = Workloads(name, work.resolve("inputs"), expected)
    val tracer = new Tracer

    val spark = GraftSession.local(cores)
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val warm = (1 to workload.warmPasses).map(i =>
      new Pass(spark, tracer, work.resolve("pass"), check = i == workload.warmPasses))
    val setup0 = System.nanoTime()
    workload.setup(warm.head)
    val workloadSetupS = (System.nanoTime() - setup0) / 1e9
    val warmS = warm.map { p =>
      workload.reset(p)
      val s0 = System.nanoTime()
      workload.pass(p)
      (System.nanoTime() - s0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    workload.check(warm.last)

    val timed = mutable.ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    // traced runs bracket each traced pass with untraced ones, so the
    // passes' own warming does not bias the overhead
    val minPasses = if (trace) 3 else MinPasses
    while (timed.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && timed.size % 2 == 1
      val p = new Pass(spark, tracer, work.resolve("pass"), check = false)
      workload.reset(p)
      if (traced) tracer.begin(spark)
      val s0 = System.nanoTime()
      tracer.span("pass") { workload.pass(p) }
      val secs = (System.nanoTime() - s0) / 1e9
      if (traced) tracer.end()
      val layers = if (traced) Layers(tracer, workload, secs, cores) else Map.empty[String, Double]
      workload.check(p)
      p.values("output_bytes") = workload.outputs(p).map(Pass.treeSize(_)._1).sum.toDouble
      timed += Timed(secs, p.failedTotal > 0, traced, layers, p)
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val all = warm ++ timed.map(_.pass)
    // the context cleaner frees blocks of collected RDDs on its own thread
    // after each GC, so collect until its work has been collected too
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val env = Map(
      "nproc" -> cores,
      "heap_max_mb" -> rt.maxMemory / 1048576,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "master" -> spark.sparkContext.master)
    spark.stop()

    val oracle = workload match {
      case _: IterativeOps =>
        val sql = graft.SparkEntry.oracleSql
        Workloads.Iterative.map(q => q -> sql.get(q).orNull).toMap
      case _ => Map.empty[String, String]
    }
    val out = Map(
      "setup_s" -> setupS,
      "setup_failed" -> warm.exists(_.failedTotal > 0),
      "boot_s" -> bootS,
      "workload_setup_s" -> workloadSetupS,
      "warm_s" -> warmS,
      "timed_s" -> timedS,
      "passes" -> timed.toSeq.map(t => Map("s" -> t.seconds, "failed" -> t.failed,
        "traced" -> t.traced, "layers" -> t.layers, "values" -> t.pass.values.toMap,
        "latencies" -> t.pass.latencies.toSeq)),
      "attempted" -> all.map(_.attemptedTotal).sum,
      "failed" -> all.map(_.failedTotal).sum,
      "ops" -> all.flatMap(_.attempted.keys).distinct.map(k =>
        k -> Map("attempted" -> all.map(_.attempted(k)).sum,
          "failed" -> all.map(_.failed(k)).sum)).toMap,
      "notes" -> all.flatMap(_.notes).take(20),
      "heap_retained_mb" -> heapMb,
      "env" -> env,
      "oracle" -> oracle)
    mapper.writeValue(work.resolve("result.json").toFile, out)
  }
}
