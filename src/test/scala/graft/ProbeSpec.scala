package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.NerExtract

class ProbeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Executed plans of every action `run` triggers. */
  private def executedPlans(run: => Unit) = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized { seen += qe; () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { run; GraftShims.drainListenerBus(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList).map(_.executedPlan)
  }

  private def runsNer(run: => Unit): Boolean =
    executedPlans(run).exists(p => find(p)(
      _.expressions.exists(_.exists(_.isInstanceOf[NerExtract]))).isDefined)

  test("the timed action runs q38's NER, which count() prunes away") {
    def q38: DataFrame =
      SparkEntry.queries("q38_ner_full_dict")(spark, "/root/testdata/sf0.01")
    assert(runsNer(Probe.runFull(q38)),
      "Probe's noop-sink action must execute every projected column")
    assert(!runsNer { q38.count(); () },
      "count() is expected to prune the NER projection")
  }

  test("unknown query names are rejected, none means every query") {
    val Left(msg) = Probe.queryNames(Seq("q38_ner_full_dict", "q_nope"))
    assert(msg.contains("q_nope") && !msg.contains("q38_ner_full_dict"))
    assert(Probe.queryNames(Seq("q38_ner_full_dict")) === Right(Seq("q38_ner_full_dict")))
    assert(Probe.queryNames(Nil) === Right(SparkEntry.queries.keys.toSeq.sorted))
  }
}
