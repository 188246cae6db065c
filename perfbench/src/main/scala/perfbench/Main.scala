package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The measuring JVM. `perfbench/run.py` generates the inputs, starts this
  * process and times it to its READY line (the set-up time), then reads the
  * result file it writes.
  *
  * Arguments: `--workload sanctions_bulk|catalog_heavy` `--inputs DIR` (one
  * input set; for `--trace 1` the parent of both, one subdirectory per
  * workload) `--work DIR` `--seconds S` `--trace 0|1` `--result FILE`
  * [`--probe`].
  *
  * With `--probe` the process only sets up (session plus registered inputs),
  * prints READY and exits. Otherwise an untraced run times one cold
  * execution, then warm executions for `--seconds`; a traced run times
  * every workload's layers span by span. Both check every execution's
  * output and count the failures. */
object Main {
  val Workloads: Seq[(String, String)] =
    Seq("sanctions_bulk" -> "bulk.", "catalog_heavy" -> "catalog.")

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val probe = argv.contains("--probe")
    val workload = args("workload")
    require(Workloads.exists(_._1 == workload), s"unknown workload $workload")
    val trace = args("trace") == "1"
    val work = args("work")
    Files.createDirectories(Paths.get(work))
    val spark = graft.Sessions.local("perfbench")
    spark.sparkContext.setLogLevel("WARN")
    def make(w: String, dir: String): Workload =
      if (w == "catalog_heavy") new Catalog(spark, dir, work) else new Sanctions(spark, dir, work)
    val workloads =
      if (trace) Workloads.map { case (w, prefix) => (prefix, make(w, s"${args("inputs")}/$w")) }
      else Seq(("", make(workload, args("inputs"))))
    workloads.foreach(_._2.register())
    println("READY")
    System.out.flush()
    if (probe) Runtime.getRuntime.halt(0)

    val run = new Run(new JobMetrics(spark.sparkContext))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (trace) workloads.foreach { case (prefix, wl) => metrics ++= run.tracedSuite(prefix, wl) }
    else {
      metrics ++= run.untraced(workloads.head._2, args("seconds").toDouble)
      metrics("retained_heap_mb") = (retainedHeapMb(), "MB")
    }
    val m = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val fails = run.failures.map(Json.str).mkString("[", ",", "]")
    Files.writeString(Paths.get(args("result")),
      s"""{"attempted":${run.attempted},"failed":${run.failed},"failures":$fails,""" +
        s""""samples":${run.samplesJson},"metrics":$m}""")
    if (trace) Files.writeString(Paths.get(s"$work/spans.json"),
      run.spans.map(_.json).mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }

  /** Driver heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One workload as the runner drives it. */
trait Workload {
  /** Make the inputs known to the session (part of the set-up time). */
  def register(): Unit
  /** One execution, from the inputs on disk to the complete result. */
  def execute(): Unit
  /** Checks of the last execution's output; returns the failures. */
  def check(): Seq[String]
  /** Checks made once per run, outside the timed executions. */
  def checkOnce(): Seq[String]
  /** Units of work in one execution (entities, or queries). */
  def items: Int
  /** One execution, layer by layer: the layer facts that are not times,
    * and any failed checks. */
  def traced(tr: Tracer): (Map[String, Double], Seq[String])
}

/** One timed execution: wall seconds, epoch-ms bounds and its jobs. */
final case class Exec(wallS: Double, startMs: Long, endMs: Long, counters: GroupCounters) {
  def driverOnlyS: Double = counters.driverOnlySeconds(startMs, endMs)
}

object Run {
  def releaseCaches(): Unit = {
    val spark = SparkSession.active
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(jm: JobMetrics) {
  import Run._

  var attempted = 0
  var failed = 0
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty[String]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private var execId = 0
  private val t0 = System.nanoTime()

  def samplesJson: String = samples.map { case (k, v) =>
    s"${Json.str(k)}:${v.map(Json.num).mkString("[", ",", "]")}"
  }.mkString("{", ",", "}")

  /** A progress line in the run log, seconds since the runner started. */
  private def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%8.2f s  $what")

  private def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Runs `body`, counting a throw or any returned problem as one failure;
    * frees the session's caches after. */
  private def checked[T](label: String)(body: => (T, Seq[String])): Option[T] = {
    note(label)
    try {
      val (result, problems) = body
      if (problems.nonEmpty) fail(s"$label: ${problems.mkString("; ")}")
      Some(result)
    } catch {
      case e: Exception =>
        fail(s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally releaseCaches()
  }

  /** One execution, timed, then checked outside the timing; None when it
    * threw. A failed check counts as a failure but keeps the timing. */
  def timed(label: String, wl: Workload): Option[Exec] = {
    execId += 1
    attempted += 1
    val group = s"exec-$execId"
    checked(label) {
      val ms0 = System.currentTimeMillis()
      val start = System.nanoTime()
      jm.inGroup(group)(wl.execute())
      val wall = (System.nanoTime() - start) / 1e9
      val exec = Exec(wall, ms0, System.currentTimeMillis(), jm.counters(group))
      releaseCaches()
      val problems = wl.check()
      (exec, problems)
    }
  }

  /** Cold execution, the once-per-run checks (an untimed pass that also
    * warms the JIT), then warm executions for `seconds`, at least one. */
  def untraced(wl: Workload, seconds: Double): Seq[(String, (Double, String))] = {
    val cold = timed("cold execution", wl)
    attempted += 1
    checked("run checks")(((), wl.checkOnce()))
    val warm = mutable.ArrayBuffer.empty[Exec]
    val start = System.nanoTime()
    while ((System.nanoTime() - start) / 1e9 < seconds || warm.isEmpty) {
      timed(s"warm execution ${warm.size + 1}", wl).foreach(warm += _)
      if (warm.isEmpty && failed > 2) throw new IllegalStateException(failures.mkString("; "))
    }
    note("done")
    samples("cold_run_s") = cold.map(_.wallS).toSeq
    samples("wall_s") = warm.map(_.wallS).toSeq
    samples("task_s") = warm.map(_.counters.taskSeconds).toSeq
    val wall = median(samples("wall_s"))
    Seq(
      "cold_run_s" -> (cold.map(_.wallS).getOrElse(Double.NaN), "s"),
      "wall_s" -> (wall, "s"),
      "throughput_per_s" -> (wl.items / wall, "1/s"),
      "task_s" -> (median(samples("task_s")), "s"))
  }

  /** The traced suite for one workload: a cold and a warm untraced
    * execution (the warm one is the reference for the tracing overhead and
    * gives the whole-execution Spark counters), then one traced execution,
    * checked like any other. Metric names start with `prefix`. */
  def tracedSuite(prefix: String, wl: Workload): Seq[(String, (Double, String))] = {
    timed(s"${prefix}cold execution", wl)
    val warm = timed(s"${prefix}warm execution", wl)
    execId += 1
    attempted += 1
    val tr = new Tracer(jm, execId, s"${prefix}execution")
    val facts = checked(s"${prefix}traced execution") {
      val (f, problems) = wl.traced(tr)
      releaseCaches()
      (f, problems ++ wl.check())
    }.getOrElse(Map.empty)
    spans ++= tr.spans.map(s => s.copy(name = prefix + s.name))
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    tr.spans.foreach { s =>
      val key = prefix + s.name
      val isQuery = s.name.startsWith("queries.")
      out(s"$key.${if (isQuery) "wall_s" else "self_s"}") = (s.wallS, "s")
      out(s"$key.jobs") = (s.counters.jobs.toDouble, "count")
      out(s"$key.task_s") = (s.counters.taskSeconds, "s")
      out(s"$key.shuffle_bytes") = (s.counters.shuffleWriteBytes.toDouble, "bytes")
      if (!isQuery) out(s"$key.driver_only_s") = (s.driverOnlyS, "s")
    }
    facts.foreach { case (k, v) =>
      val unit = if (k.endsWith("_share")) "share" else if (k.contains("bytes")) "bytes" else "count"
      out(prefix + k) = (v, unit)
    }
    warm.foreach { w =>
      out(s"${prefix}spark.jobs") = (w.counters.jobs.toDouble, "count")
      out(s"${prefix}spark.driver_only_s") = (w.driverOnlyS, "s")
      out(s"${prefix}spark.spill_bytes") = (w.counters.spillBytes.toDouble, "bytes")
      out(s"${prefix}trace_overhead_s") = (tr.totalS - w.wallS, "s")
    }
    out.toSeq
  }
}
