package graftbench

import scala.collection.mutable
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{GraftSession, SparkEntry}

/** Executed-plan summary of a query through the benchmark's noop sink and
  * through `count()`, for the sink-honesty test.
  *
  * Usage: `SinkHonesty <dataDir> <query>...`; prints one JSON line per query:
  * `{"query", "noop": {"windows", "aggregates", "functions"}, "count": {..}}`.
  */
object SinkHonesty {

  /** Every node of an executed plan, through AQE wrappers, query stages and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def summary(plan: SparkPlan): Map[String, Any] = {
    val ns = nodes(plan)
    val fns = ns.collect { case agg: BaseAggregateExec =>
      agg.aggregateExpressions.map(_.aggregateFunction.prettyName) }.flatten
    Map("windows" -> ns.count(_.nodeName == "Window"), "aggregates" -> fns.size,
      "functions" -> fns.distinct.sorted)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.build(s"local[$cores]", "graftbench-sink", Some(dir), cores)
    spark.sparkContext.setLogLevel("ERROR")
    val writes = mutable.ArrayBuffer.empty[SparkPlan]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        synchronized { writes += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    try args.drop(1).foreach { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.write.format("noop").mode("overwrite").save()
      val counted = df.groupBy().count()
      counted.collect()
      // the listener runs on the listener bus; wait for the write's event
      val deadline = System.nanoTime() + 30000000000L
      while (synchronized(writes.isEmpty) && System.nanoTime() < deadline) Thread.sleep(50)
      val noop = synchronized { val p = writes.head; writes.clear(); p }
      println(Json(Map("query" -> q, "noop" -> summary(noop),
        "count" -> summary(counted.queryExecution.executedPlan))))
    } finally spark.stop()
  }
}
