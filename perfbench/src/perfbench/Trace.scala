package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShims
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution counters summed over every task that ends while the
  * listener is registered. */
final class ExecStats extends SparkListener {
  private val sums = mutable.LinkedHashMap(
    "jobs" -> 0.0, "stages" -> 0.0, "tasks" -> 0.0, "task_run_ms" -> 0.0,
    "task_cpu_ms" -> 0.0, "gc_ms" -> 0.0, "input_bytes" -> 0.0,
    "shuffle_read_bytes" -> 0.0, "shuffle_write_bytes" -> 0.0,
    "spill_bytes" -> 0.0, "peak_exec_mem_bytes" -> 0.0)

  private def add(k: String, v: Double): Unit = synchronized { sums(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    sums("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      sums("task_run_ms") += m.executorRunTime
      sums("task_cpu_ms") += m.executorCpuTime / 1e6
      sums("gc_ms") += m.jvmGCTime
      sums("input_bytes") += m.inputMetrics.bytesRead
      sums("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      sums("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      sums("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      sums("peak_exec_mem_bytes") =
        math.max(sums("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
    }
  }

  def snapshot(): Map[String, Double] = synchronized { sums.toMap }
}

/** Spans and counters of a traced run, held in memory and written
  * as one JSON file at the end. A span's counters are the
  * [[ExecStats]] deltas over its interval (peak memory: the running
  * maximum at its end). */
final class Tracer(spark: SparkSession) {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int, pass: Int, exec: Map[String, Double])

  private val t0 = System.nanoTime()
  private val stats = new ExecStats
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var pass = -1

  /** One traced pass: a root span named "pass"; the listener is
    * registered only while it runs, so untraced passes pay nothing. */
  def tracedPass[T](body: => T): T = {
    pass += 1
    spark.sparkContext.addSparkListener(stats)
    try span("pass")(body)
    finally spark.sparkContext.removeSparkListener(stats)
  }

  private def drained(): Map[String, Double] = {
    PerfbenchShims.drainListeners(spark.sparkContext)
    stats.snapshot()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val before = drained()
    val start = System.nanoTime()
    stack = id :: stack
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      val after = drained()
      val delta = after.map { case (k, v) =>
        k -> (if (k == "peak_exec_mem_bytes") v else v - before(k)) }
      spans += Span(id, name, start, end, parent, pass, delta)
    }
  }

  def count(name: String, value: Double): Unit = counters += ((pass, name, value))

  /** Spans of one pass with this name. */
  def find(p: Int, name: String): Seq[Span] = spans.filter(s => s.pass == p && s.name == name).toSeq

  def write(path: java.io.File, meta: Seq[(String, String)]): Unit = {
    def ms(ns: Long) = (ns - t0) / 1e6
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val sb = new StringBuilder("{")
    meta.foreach { case (k, v) => sb.append(str(k)).append(':').append(v).append(",\n") }
    sb.append("\"spans\":[\n")
    sb.append(spans.map { s =>
      val exec = s.exec.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
      s"""{"id":${s.id},"name":${str(s.name)},"start_ms":${ms(s.start)},"end_ms":${ms(s.end)},"parent":${s.parent},"pass":${s.pass},"exec":$exec}"""
    }.mkString(",\n"))
    sb.append("],\n\"counters\":[\n")
    sb.append(counters.map { case (p, n, v) =>
      s"""{"pass":$p,"name":${str(n)},"value":$v}""" }.mkString(",\n"))
    sb.append("]}\n")
    path.getParentFile.mkdirs()
    java.nio.file.Files.write(path.toPath, sb.toString.getBytes("UTF-8"))
  }
}
