package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one result line.
  *
  * Usage: perfbench.Main --workload <tweets_text|tweets_pairs|surface>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --bench <dir>
  *
  * `--work` receives inputs, outputs and traces; `--bench` is the
  * benchmark's directory (committed tables and expected digests).
  * Workload `record-digests` prints a fresh expected-digest file.
  *
  * The last stdout line is the result JSON: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics from a
  * traced run (plus the trace artifact written under `--work`). */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: java.io.File, bench: java.io.File) {
    def data: String = new java.io.File(bench, "data/sf0.01").getPath
  }

  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
    def json: String = {
      val ms = metrics.map(m =>
        s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
    }
  }

  /** Full-precision JSON number (NaN/∞ cannot occur in a valid run). */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** How many units of `unitS` seconds (on the reference host) fill a
    * window of `seconds`: the fixed repeat count of a traced run. */
  def units(seconds: Double, unitS: Double): Int = math.max(1, (seconds / unitS).toInt)

  /** Whether an untraced run starts measured pass `i` (0-based),
    * `elapsedS` into its window of `seconds`: passes repeat until the
    * window is filled, and there are at least three, so the median
    * never rests on one or two. */
  def another(i: Int, elapsedS: Double, seconds: Double): Boolean = i < 3 || elapsedS < seconds

  /** Heap still in use after a full collection, in MB: what the run
    * holds (caches, fixtures, engine state), not what it allocated. */
  def liveHeapMb(): Double = {
    // the second collection frees what Spark's ContextCleaner released
    // in reaction to the first (unreachable RDDs, shuffles, broadcasts)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  /** Process peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The session `graft.Bench` builds: local[cores], shuffle
    * partitions = cores, UTC, UI off, scratch policy applied. */
  def session(): SparkSession = {
    val spark = graft.io.Scratch.configure(SparkSession.builder()
      .master(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new java.io.File(m("work")), new java.io.File(m("bench")))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    // first job outside any timed region: JIT, codegen and thread pools
    spark.range(0, 100000, 1, cores).selectExpr("sum(id % 7)").collect()
    val readyS = (System.currentTimeMillis() - jvmStart) / 1e3
    val result =
      try o.workload match {
        case "tweets_text" => Some(Tweets.run(spark, o, TweetGen.TextShape, readyS))
        case "tweets_pairs" => Some(Tweets.run(spark, o, TweetGen.PairsShape, readyS))
        case "surface" => Some(Surface.run(spark, o, readyS))
        case "record-digests" => Surface.record(spark, o); None
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally spark.stop()
    result.foreach(r => println(r.json))
  }
}
