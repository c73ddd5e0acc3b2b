package graft.tools

import graft.queries.QueryCatalog
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue

/** Dumps formatted physical plans for named catalog queries — the
  * plan-review loop (pushdown / broadcast / shuffle audit). A query
  * that runs actions while it is built (q_approx_quantile's bracket
  * aggregation, index builds) returns a driver-side result whose final
  * plan is a LocalTableScan, so the executed plan of each such action
  * is printed first.
  * Usage: runMain graft.tools.PlanDump <sfDir> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val defs = QueryCatalog.resolve(
      if (args.length > 1) args.tail.toSeq else QueryCatalog.defs.map(_.name).sorted)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val actions = new ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        actions.add(s"----- action: $funcName -----\n${qe.explainString(FormattedMode)}")
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    defs.foreach { d =>
      println(s"\n===== ${d.name} =====")
      try {
        val df = d.plan(spark, sfDir)
        GraftBridge.drainListenerBus(spark)
        while (!actions.isEmpty) println(actions.poll())
        println("----- result -----")
        df.explain("formatted")
      } catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
