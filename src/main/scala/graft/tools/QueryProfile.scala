package graft.tools

import graft.queries.QueryCatalog
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Per-stage profile of named catalog queries — the measure-first loop
  * of the optimization guide (§1): where inside a query the time goes
  * (stage wall, summed task time, shuffle bytes, spill), not just the
  * query total that Bench reports.
  *
  * Usage: runMain graft.tools.QueryProfile <sfDir> <iters> <query...>
  * Env: SPARK_GRAFT_CPUS like Bench (default 32).
  *
  * Each query is warmed once (untimed, same dir — JIT/codegen), then
  * run `iters` times through the noop sink; stage rows are printed for
  * the LAST timed run only (earlier runs' stages are discarded), with
  * per-run walls so attempt variance is visible.
  */
object QueryProfile {

  private final case class StageRow(
      id: Int,
      name: String,
      wallMs: Long,
      taskTimeMs: Long,
      cpuMs: Long,
      tasks: Int,
      shuffleReadMB: Double,
      shuffleWriteMB: Double,
      inputMB: Double,
      spillMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: QueryProfile <sfDir> <iters> <query...>")
    val sfDir = args(0)
    val iters = args(1).toInt
    val defs = QueryCatalog.resolve(args.drop(2).toSeq)
    val cpus = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // mirror Bench's shuffle-writer choice so profiles see the same
      // per-stage fixed costs the bench pays (see Bench.scala)
      .config("spark.shuffle.sort.bypassMergeThreshold",
        sys.env.getOrElse("SPARK_GRAFT_BYPASS_THRESHOLD", "200"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val stages = ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(
            si.stageId,
            si.name.takeWhile(_ != '\n').take(90),
            wall,
            m.executorRunTime,
            m.executorCpuTime / 1000000L,
            si.numTasks,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.bytesRead / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    }

    graft.SparkEntry.prepare(spark, sfDir)
    // GRAFT_PROFILE_NOLISTENER=1 drops the stage listener — a control
    // for checking the listener itself isn't distorting the walls.
    if (!sys.env.get("GRAFT_PROFILE_NOLISTENER").contains("1"))
      spark.sparkContext.addSparkListener(listener)

    defs.foreach { d =>
      val (n, fn) = (d.name, d.plan)
      // warm (JIT/codegen/footers) — untimed. GRAFT_PROFILE_NOWARM=1
      // skips it so iteration 1 shows the first-touch-at-this-sf cost
      // (attempt-1-vs-2 asymmetry diagnosis).
      if (!sys.env.get("GRAFT_PROFILE_NOWARM").contains("1"))
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val walls = (1 to iters).map { i =>
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$n#$i")
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // single-thread calibration leg (Bench's loop) so each profile
      // is labeled with the host state it measured under — this host
      // shows hypervisor steal bursts that triple all-core walls.
      val cal = graft.Bench.calibrate()._1
      val totCpu = stages.synchronized(stages.map(_.cpuMs).sum)
      println(f"\n===== $n  walls=${walls.map(w => f"$w%.3f").mkString(", ")}  cal=$cal%.3f  sumCpu=${totCpu}ms =====")
      println(f"${"stage"}%-6s ${"wall_ms"}%8s ${"task_ms"}%9s ${"cpu_ms"}%8s ${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"in_MB"}%8s ${"spill"}%6s  name")
      stages.synchronized(stages.sortBy(_.id)).foreach { r =>
        println(f"${r.id}%-6d ${r.wallMs}%8d ${r.taskTimeMs}%9d ${r.cpuMs}%8d ${r.tasks}%6d ${r.shuffleReadMB}%9.2f ${r.shuffleWriteMB}%9.2f ${r.inputMB}%8.2f ${r.spillMB}%6.1f  ${r.name}")
      }
    }
    spark.stop()
  }
}
