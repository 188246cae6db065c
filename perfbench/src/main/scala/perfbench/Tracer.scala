package perfbench

import scala.collection.mutable

/** One traced call: its name, wall-clock bounds (epoch ms), parent span,
  * execution id, wall seconds and the jobs Spark ran inside it. */
final case class Span(exec: Int, name: String, parent: String, startMs: Long, endMs: Long,
    wallS: Double, counters: GroupCounters) {
  def driverOnlyS: Double = counters.driverOnlySeconds(startMs, endMs)

  def json: String =
    s"""{"exec":$exec,"name":"$name","parent":"$parent","start_ms":$startMs,"end_ms":$endMs,""" +
      s""""wall_s":$wallS,"jobs":${counters.jobs},"stages":${counters.stages},""" +
      s""""tasks":${counters.tasks},"task_s":${counters.taskSeconds},""" +
      s""""input_bytes":${counters.inputBytes},""" +
      s""""shuffle_write_bytes":${counters.shuffleWriteBytes},""" +
      s""""shuffle_read_bytes":${counters.shuffleReadBytes},""" +
      s""""spill_bytes":${counters.spillBytes},"driver_only_s":$driverOnlyS}"""
}

/** Spans of one traced execution, kept in memory; the caller writes them
  * out when the run ends. Each span's jobs run in a job group of its own,
  * so the listener attributes them to it. */
final class Tracer(jm: JobMetrics, val exec: Int, parent: String) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val group = s"trace-$exec-$name"
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = jm.inGroup(group)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    spans += Span(exec, name, parent, ms0, ms1, wall, jm.counters(group))
    result
  }

  def totalS: Double = spans.map(_.wallS).sum
}
