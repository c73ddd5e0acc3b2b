package graft.bench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end ETL benchmark entry point.
  *
  *   graft.bench.EtlBench --workload ingest|search|curate --seed N --seconds S
  *                        --trace 0|1 --work DIR --record FILE
  *
  * One process, `local[N]` with N = available cores (at most 4), one
  * closed-loop client. Set-up (session, input generation, an untimed
  * warm-up pass, and for `search` the store and index build) is timed
  * as `setup_s`; the measured phase then repeats the workload for
  * `--seconds`. The last stdout line is the result object; the full
  * record (metrics, checks, per-layer trace) goes to `--record`.
  */
object EtlBench {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String, record: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "record")
    require(argv.length % 2 == 0 && m.keySet.subsetOf(known), s"usage: ${known.map("--" + _).mkString(" ")}")
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("record"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  val Workloads: Seq[String] = Seq("ingest", "search", "curate")

  /** End-to-end metrics with their units; every workload reports all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "ops_per_s" -> "ops/s",
    "cpu_s_per_kop" -> "s",
    "op_p50_ms" -> "ms",
    "live_heap_mb" -> "MB"
  )

  /** Per-layer metrics printed by a traced run (the record keeps all). */
  val PerLayer: Seq[(String, String)] = {
    val base = Seq("wall_s" -> "s", "self_s" -> "s", "cpu_s" -> "s", "tasks" -> "count",
      "shuffle_read_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
      "rows_in" -> "rows", "rows_out" -> "rows", "failed_tasks" -> "count")
    val extras = Map(
      "sources" -> Seq("bytes_read" -> "bytes", "drop_frac" -> "ratio"),
      "chunk" -> Seq("chunks_per_doc" -> "ratio"),
      "dedup" -> Seq("drop_frac" -> "ratio", "pairs_verified" -> "count"),
      "store" -> Seq("bytes_written" -> "bytes", "files_written" -> "count", "bytes_read_per_query" -> "bytes",
        "bytes_per_input_byte" -> "ratio"),
      "index" -> Seq("jobs" -> "count"),
      "search" -> Seq("jobs_per_query" -> "count", "stages_per_query" -> "count", "cpu_ms_per_query" -> "ms",
        "rows_scanned_per_result" -> "rows", "clusters_probed_frac" -> "ratio", "p95_ms" -> "ms",
        "recall_at_k" -> "ratio", "batch_qps" -> "queries/s"),
      "quality" -> Seq("keep_frac" -> "ratio"),
      "text" -> Seq("redactions" -> "count"),
      "jvm" -> Seq("gc_s" -> "s")
    )
    Tracer.Layers.flatMap { l =>
      (if (l == "jvm") Nil else base.map { case (k, u) => s"$l.$k" -> u }) ++
        extras.getOrElse(l, Nil).map { case (k, u) => s"$l.$k" -> u }
    } ++ EndToEnd.filterNot(_._1 == "setup_s").map { case (k, u) => s"traced.$k" -> u }
  }

  /** Summed executor CPU of every finished task; always on, so traced
    * and untraced runs pay for it alike.
    */
  final class CpuMeter extends SparkListener {
    val ns = new AtomicLong()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => ns.addAndGet(m.executorCpuTime))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Heap still reachable after a full collection: what the process
    * keeps (caches, pinned blocks, listener state) once the work is done.
    */
  def liveHeapMb: Double = {
    // the second collection reclaims what the context cleaner released
    // after the first one (broadcasts, checkpoint blocks)
    System.gc(); Thread.sleep(1000); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** What a workload measured, checked and wants kept in the record. */
  final class Outcome {
    var opsPerS, cpuSPerKop, opP50Ms, liveHeapMb, gcS = Double.NaN
    var attempted, failed = 0L
    val failures: mutable.Buffer[String] = mutable.Buffer.empty
    val details: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
    def check(errors: Seq[String]): Unit = { attempted += 1; if (errors.nonEmpty) { failed += 1; failures ++= errors } }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(a.work).getAbsoluteFile
    FileUtils.deleteQuietly(work)
    work.mkdirs()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // the status store keeps every job and SQL execution by default, so
      // the live heap would grow with the number of requests a run made
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .appName(s"etlbench-${a.workload}")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val cpu = new CpuMeter
    spark.sparkContext.addSparkListener(cpu)
    val tracer = new Tracer(spark, a.trace)
    val out = new Outcome
    val ctx = Workload.Ctx(spark, tracer, cpu, work.toString, a.seed, a.seconds, out)
    val setupS = try {
      sessionS + (a.workload match {
        case "ingest" => Workload.ingest(ctx)
        case "search" => Workload.search(ctx)
        case "curate" => Workload.curate(ctx)
      })
    } finally {
      tracer.stop()
    }
    tracer.extra("jvm", "gc_s", out.gcS)
    out.details("peak_rss_mb") = peakRssMb
    spark.stop()

    val e2e = Seq(setupS, out.opsPerS, out.cpuSPerKop, out.opP50Ms, out.liveHeapMb)
    val mapper = new ObjectMapper()
    def metricsNode(ms: Seq[(String, String, Double)]): ObjectNode = {
      val n = mapper.createObjectNode()
      ms.foreach { case (k, u, v) => n.putObject(k).put("value", v).put("unit", u) }
      n
    }
    val printed: Seq[(String, String, Double)] =
      if (!a.trace) EndToEnd.zip(e2e).map { case ((k, u), v) => (k, u, v) }
      else {
        val layer = tracer.metrics.toMap ++ EndToEnd.zip(e2e).map { case ((k, _), v) => s"traced.$k" -> v }
        PerLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
      }
    val correct = out.failed == 0 && printed.forall(m => !m._3.isNaN && !m._3.isInfinite)
    val result = mapper.createObjectNode()
    result.put("correct", correct).put("attempted", out.attempted).put("failed", out.failed)
    result.set[ObjectNode]("metrics", metricsNode(printed))

    val record = mapper.createObjectNode()
    record.put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds).put("trace", a.trace)
    record.put("cores", cores)
    record.set[ObjectNode]("result", result.deepCopy())
    record.set[ObjectNode]("end_to_end", metricsNode(EndToEnd.zip(e2e).map { case ((k, u), v) => (k, u, v) }))
    if (a.trace) record.set[ObjectNode]("layers", metricsNode(tracer.metrics.map { case (k, v) =>
      (k, PerLayer.toMap.getOrElse(k, ""), v) }))
    record.putPOJO("failures", out.failures.asJava)
    val det = record.putObject("details")
    out.details.foreach {
      case (k, v: Double) => det.put(k, v)
      case (k, v: Long) => det.put(k, v)
      case (k, v: Int) => det.put(k, v)
      case (k, v) => det.put(k, v.toString)
    }
    Files.createDirectories(Paths.get(a.record).toAbsolutePath.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(a.record), record)
    FileUtils.deleteQuietly(work)
    out.failures.foreach(f => System.err.println(s"[etlbench] check failed: $f"))
    println(mapper.writeValueAsString(result))
  }
}
