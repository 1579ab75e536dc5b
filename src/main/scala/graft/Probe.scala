package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** The diagnostic main over the SparkEntry query surface. Never part
  * of the bench or verify surfaces.
  *
  * {{{
  * graft.Probe profile <sfDir> [queries…]  cold run + 3 warm runs per query
  * graft.Probe stages  <sfDir> [queries…]  per-stage task table of a warm run
  * graft.Probe explain <sfDir> [queries…]  formatted physical plan, not executed
  * graft.Probe plans   <sfDir> [outFile]   plan-shape table of every query
  *                                         (default PLANS.md)
  * }}}
  *
  * No query names means every query; an unknown name is rejected
  * before any session starts. `profile`, `stages` and `explain` run
  * on [[Session.local]] (`SPARK_GRAFT_CPUS` or every core); `plans`
  * is pinned to local[4], 4 shuffle partitions and AQE off, so
  * PLANS.md does not depend on the host. Construction of a few
  * queries runs bounded jobs (e.g. qB4's corpus count), so `explain`
  * and `plans` are cheap but not strictly zero-job.
  */
object Probe {

  private val usage =
    "usage: graft.Probe <profile|stages|explain> <sfDir> [queries...]\n" +
      "       graft.Probe plans <sfDir> [outFile]"

  def main(args: Array[String]): Unit = {
    if (args.length < 2) fail(usage)
    val (mode, sfDir, rest) = (args(0), args(1), args.drop(2).toSeq)
    mode match {
      case "plans" => plans(sfDir, rest.headOption.getOrElse("PLANS.md"))
      case "profile" | "stages" | "explain" =>
        val names = queryNames(rest).fold(fail, identity)
        val spark = Session.local()
        try mode match {
          case "profile" => profile(spark, sfDir, names)
          case "stages" => stages(spark, sfDir, names)
          case _ => explain(spark, sfDir, names)
        } finally spark.stop()
      case other => fail(s"unknown mode '$other'\n$usage")
    }
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"[probe] $msg")
    sys.exit(2)
  }

  /** The named queries, or every query (sorted) when none is named;
    * Left carries the message naming the unknown ones. */
  def queryNames(args: Seq[String]): Either[String, Seq[String]] = {
    val known = SparkEntry.queries.keySet
    val unknown = args.filterNot(known)
    if (unknown.nonEmpty)
      Left(s"unknown query name(s): ${unknown.mkString(", ")} " +
        "(names come from SparkEntry.queries)")
    else Right(if (args.isEmpty) known.toSeq.sorted else args)
  }

  /** The timed action of `profile` and `stages`: the query's full
    * output into Spark's `noop` sink. Under `count()` column pruning
    * drops projected work (q38's NER and q31's sentiment never run);
    * `noop` computes every column of every row and discards them. */
  def runFull(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Cold run then 3 warm runs per query, in seconds. Min-of-warm is
    * the steady-state number; cold includes planning and codegen. */
  private def profile(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = names.foreach { n =>
    val fn = SparkEntry.queries(n)
    def t(): Double = {
      val t0 = System.nanoTime(); runFull(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val c = t(); val ws = Seq(t(), t(), t())
    println(f"$n%-28s cold=$c%6.2f warm=${ws.map(w => f"$w%5.2f").mkString(" ")} min=${ws.min}%5.2f")
  }

  private case class StageRow(id: Int, name: String, var tasks: Int = 0,
    times: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
    var inputB: Long = 0, var srB: Long = 0, var swB: Long = 0,
    var wallMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0)

  /** Headless stand-in for the Spark UI's stage table: per query, one
    * warm pass, then one measured pass under a listener, printing per-
    * stage task counts, task-time sums, max/median task skew, and
    * input/shuffle volumes. */
  private def stages(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    // JIT warm-up, as Bench does
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      SparkEntry.staging.get(n).foreach(_(spark, sfDir))
      // one warm pass so codegen/JIT don't pollute stage attribution
      try runFull(fn(spark, sfDir)) catch { case e: Throwable =>
        println(s"==== $n FAILED: ${e.getMessage}") }
      val rows = mutable.LinkedHashMap.empty[Int, StageRow]
      val starts = mutable.Map.empty[Int, Long]
      def row(id: Int, name: => String) =
        rows.getOrElseUpdate(id, StageRow(id, name.takeWhile(_ != '\n')))
      val listener = new SparkListener {
        override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
          starts(s.stageInfo.stageId) = System.nanoTime()
          row(s.stageInfo.stageId, s.stageInfo.name); ()
        }
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
          row(s.stageInfo.stageId, s.stageInfo.name).wallMs =
            starts.get(s.stageInfo.stageId)
              .map(t0 => (System.nanoTime() - t0) / 1000000).getOrElse(-1)
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          val r = row(t.stageId, "?")
          r.tasks += 1
          val m = t.taskMetrics
          if (m != null) {
            r.times += m.executorRunTime
            r.inputB += m.inputMetrics.bytesRead
            r.srB += m.shuffleReadMetrics.totalBytesRead
            r.swB += m.shuffleWriteMetrics.bytesWritten
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
          }
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try runFull(fn(spark, sfDir)) catch { case _: Throwable => () }
      val wall = (System.nanoTime() - t0) / 1e9
      // task-end events land after the action returns
      GraftShims.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"==== $n  wall=${wall}%.2f s  (warm run)")
      println("  stage tasks  wall_ms  run_ms  cpu_ms   gc_ms   max_ms  med_ms    input   shufR   shufW  name")
      rows.values.toSeq.sortBy(-_.wallMs).foreach { r =>
        val sorted = r.times.sorted
        val (max, med) =
          if (sorted.isEmpty) (0L, 0L) else (sorted.last, sorted(sorted.size / 2))
        def mb(b: Long) = f"${b / 1048576.0}%7.1f"
        println(f"  ${r.id}%5d ${r.tasks}%5d ${r.wallMs}%8d ${sorted.sum}%7d ${r.cpuNs / 1000000}%7d ${r.gcMs}%7d ${max}%8d ${med}%7d ${mb(r.inputB)} ${mb(r.srB)} ${mb(r.swB)}  ${r.name.take(60)}")
      }
    }
  }

  private def explain(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = names.foreach { name =>
    println(s"==== $name")
    try println(SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode))
    catch { case e: Throwable =>
      println(s"[explain] $name failed: ${e.getMessage}")
    }
  }

  /** Shape of a physical plan: shuffle exchanges, whole-stage-codegen
    * spans, parquet scans, scans with pushed filters, the widest
    * scan's column count (pruning check) and Cartesian products.
    * Reads the tree as given; under AQE pass the non-adaptive plan. */
  final case class PlanShape(exchanges: Int, codegenSpans: Int,
      scans: Int, pushedScans: Int, widestScanCols: Int, cartesians: Int)

  def planShape(plan: SparkPlan): PlanShape = {
    val scans = plan.collect { case f: FileSourceScanExec => f }
    PlanShape(
      exchanges = plan.collect { case e: ShuffleExchangeLike => e }.size,
      codegenSpans = plan.collect { case w: WholeStageCodegenExec => w }.size,
      scans = scans.size,
      pushedScans =
        scans.count(_.metadata.get("PushedFilters").exists(_ != "[]")),
      widestScanCols = scans.map(_.requiredSchema.length).maxOption.getOrElse(0),
      cartesians = plan.collect { case c: CartesianProductExec => c }.size)
  }

  /** Every query's plan shape as a markdown table (committed as
    * PLANS.md, so plan regressions show up in review). */
  private def plans(sfDir: String, outFile: String): Unit = {
    val spark = Session.local(4)
    // AQE's wrapper hides the plan tree from collect() and defers
    // exchange/codegen decisions: audit the plan AQE starts from
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sb = new StringBuilder
    sb ++= "# Physical-plan audit\n\n"
    sb ++= s"Generated by `graft.Probe plans` on `$sfDir` (AQE initial plans,\n"
    sb ++= "local[4]). Columns: shuffle exchanges, whole-stage-codegen\n"
    sb ++= "spans, parquet scans, scans with pushed filters, widest scan\n"
    sb ++= "schema (pruning check).\n\n"
    sb ++= "| query | exchanges | codegen spans | scans | pushed | widest scan cols |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = planShape(fn(spark, sfDir).queryExecution.executedPlan)
        sb ++= s"| $name | ${p.exchanges} | ${p.codegenSpans} | ${p.scans} | ${p.pushedScans} | ${p.widestScanCols} |\n"
      } catch {
        case e: Throwable => sb ++= s"| $name | ERROR ${e.getClass.getSimpleName} | | | | |\n"
      }
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
