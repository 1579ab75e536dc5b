package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the harness mains (Probe, OpBench,
  * AnnEval, Datagen). Bench and Verify keep their own builders: they
  * belong to the SparkEntry contract and stay byte-identical.
  *
  * Every session it builds runs `local[cpus]` with shuffle partitions
  * = cpus, the session time zone pinned to UTC (the NTZ→LTZ events
  * cast in io/Sources is then wall-clock identity on any host), the
  * UI off, scratch I/O routed by [[io.Scratch.configure]], and log
  * level WARN. Callers that need more set runtime confs on the
  * session they get back.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set to a positive integer, else every
    * core this JVM sees. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = io.Scratch.configure(SparkSession.builder()
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
