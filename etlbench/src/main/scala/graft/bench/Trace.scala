package graft.bench

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spans around the benchmark's calls into each library layer, and the
  * Spark work attributed to them. A span sets a fresh job group; the
  * SparkListener maps every job, stage and task of that group to the
  * span's layer, and the QueryExecutionListener adds the rows each
  * executed plan scanned and produced. The program itself carries no
  * instrumentation.
  *
  * Spans nest: a layer's self time is its wall time minus the time of
  * the spans opened inside it. With tracing off, `span` only runs its
  * body, so the untraced run does exactly the same work.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val layers = mutable.LinkedHashMap(Layers.map(l => l -> new Acc): _*)
  private val groupLayer = mutable.Map.empty[String, String]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stack = mutable.Stack.empty[(String, String, Array[Long])] // (layer, group, childNs)
  private var nextId = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      groupLayer.get(g).foreach { l =>
        layers(l).jobs += 1
        e.stageIds.foreach(stageLayer(_) = l)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageLayer.get(e.stageInfo.stageId).foreach(layers(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageLayer.get(e.stageId).foreach { l =>
        val a = layers(l)
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.bytesRead += m.inputMetrics.bytesRead
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

    private def record(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      val root = outputNode(plan)
      Tracer.this.synchronized {
        stack.headOption.foreach { case (l, _, _) =>
          val a = layers(l)
          scans.foreach { s =>
            a.rowsIn += metric(s, "numOutputRows")
            a.scans += 1
            a.partitionsRead += metric(s, "numPartitions")
          }
          a.rowsOut += root.map(metric(_, "numOutputRows")).getOrElse(0L)
        }
      }
    }

    /** The first node from the root down that counts its output rows. */
    private def outputNode(plan: SparkPlan): Option[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => outputNode(a.executedPlan)
      case q: QueryStageExec => outputNode(q.plan)
      case w: DataWritingCommandExec => Some(w)
      case p if p.metrics.contains("numOutputRows") => Some(p)
      case p => p.children.headOption.flatMap(outputNode)
    }

    private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Run `body` as one call into `layer`. */
  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      require(layers.contains(layer), s"unknown layer $layer")
      val group = synchronized {
        nextId += 1
        val g = s"bench-$layer-$nextId"
        groupLayer(g) = layer
        stack.push((layer, g, Array(0L)))
        g
      }
      sc.setJobGroup(group, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        // every listener event of this span is delivered before it closes
        BenchBus.drain(sc)
        synchronized {
          val (_, _, child) = stack.pop()
          val a = layers(layer)
          a.wallNs += dt
          a.selfNs += dt - child(0)
          stack.headOption.foreach(_._3(0) += dt)
          stack.headOption match {
            case Some((_, g, _)) => sc.setJobGroup(g, layer)
            case None => sc.clearJobGroup()
          }
        }
      }
    }

  /** A layer-specific count or ratio measured by the benchmark. */
  def extra(layer: String, name: String, value: Double): Unit = synchronized {
    layers(layer).extras(name) = value
  }

  def acc(layer: String): Acc = synchronized(layers(layer))

  def stop(): Unit = if (enabled) {
    BenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** `layer.metric` → value for every layer, base metrics then extras. */
  def metrics: Seq[(String, Double)] = synchronized {
    layers.toSeq.flatMap { case (l, a) =>
      val base = Seq(
        "wall_s" -> a.wallNs / 1e9,
        "self_s" -> a.selfNs / 1e9,
        "cpu_s" -> a.cpuNs / 1e9,
        "tasks" -> a.tasks.toDouble,
        "shuffle_read_bytes" -> a.shuffleRead.toDouble,
        "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "spill_bytes" -> a.spill.toDouble,
        "rows_in" -> a.rowsIn.toDouble,
        "rows_out" -> a.rowsOut.toDouble,
        "failed_tasks" -> a.failedTasks.toDouble
      )
      (if (l == "jvm") Nil else base).map { case (k, v) => s"$l.$k" -> v } ++
        a.extras.toSeq.map { case (k, v) => s"$l.$k" -> v }
    }
  }
}

object Tracer {

  /** Layers are the library's modules under `graft/`; `jvm` holds
    * process-wide figures.
    */
  val Layers: Seq[String] =
    Seq("sources", "chunk", "dedup", "embed", "store", "index", "search", "quality", "text", "jvm")

  final class Acc {
    var wallNs, selfNs, cpuNs = 0L
    var tasks, failedTasks, jobs, stages, scans = 0L
    var shuffleRead, shuffleWrite, spill, bytesRead, bytesWritten = 0L
    var rowsIn, rowsOut, partitionsRead = 0L
    val extras: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }
}
