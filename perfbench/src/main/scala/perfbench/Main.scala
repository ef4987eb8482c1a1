package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Times `graft.Pipeline.run` / `graft.CurationPipeline.run` as single
  * calls and writes what it measured to `<work>/record.json`, for
  * `perfbench/run.py` to check and summarise.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <inDir> <cut> <workDir>
  *
  * `inDir` holds this seed's input tables (and, for the ETL workloads,
  * `<inDir>_prior` the ledger up to the checkpoint `cut`). */
object Main {
  val WORKLOADS = Set("etl_full", "etl_incremental", "curation")

  /** The registry query whose DuckDB oracle checks each written report. */
  val REPORT_ORACLES: Map[String, String] = Map(
    "dead_stock_report" -> "q09_dead_stock_report",
    "inventory_summary" -> "q10_inventory_summary",
    "daily_trends" -> "q11_daily_trends",
    "weekly_trends" -> "q12_weekly_trends",
    "monthly_trends" -> "q13_monthly_trends",
    "peak_day_of_week" -> "q14_peak_day_of_week",
    "peak_month" -> "q15_peak_month",
    "abc_analysis" -> "q02_abc_analysis",
    "stock_value_report" -> "q05_stock_value",
    "financial_summary" -> "q07_financial_summary",
    "transfer_patterns" -> "q17_transfer_patterns",
    "warehouse_io_summary" -> "q18_warehouse_io_pivot")

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6,
      "usage: Main <workload> <seconds> <trace 0|1> <inDir> <cut> <workDir>")
    val Array(workload, secondsS, traceS, in, cut, work) = argv
    require(WORKLOADS(workload), s"unknown workload $workload")
    require(REPORT_ORACLES.keySet == graft.Pipeline.REPORTS.map(_._1).toSet,
      "report list changed: update REPORT_ORACLES")
    val spark = graft.Sessions.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new Probe
    // registration order matters: see Probe's class comment
    if (traceS == "1") spark.listenerManager.register(probe.queryListener)
    spark.sparkContext.addSparkListener(probe)
    try {
      val rec = new Run(spark, probe, workload, secondsS.toDouble,
        traceS == "1", in, cut, work).record()
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(Paths.get(work, "record.json").toFile, rec)
    } finally spark.stop()
  }

  def files(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }
  }

  def bytesUnder(dir: String): Long = files(dir).map(Files.size).sum

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    files(from).foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f))
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

/** One benchmark run: the rest of set-up (stored state, warm-up), the
  * timed calls, and (when tracing) the traced calls and the per-report
  * compute times. */
final class Run(spark: SparkSession, probe: Probe, workload: String,
    seconds: Double, trace: Boolean, in: String, cut: String, work: String) {
  import Main._

  private val etl = workload.startsWith("etl")
  private val cpus = graft.Sessions.cpus.toInt
  private val stored = s"$work/stored"
  private var calls = 0

  private def now(): Double = System.nanoTime() / 1e9
  private def cpuNow(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9
  private def timed(f: => Unit): Double = {
    val t0 = now(); f; now() - t0
  }
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def callOnce(kind: String, out: String): Map[String, Any] =
    kind match {
      case "full" =>
        graft.Pipeline.run(spark, in, out, dqFanout = true)
      case "incremental" =>
        graft.Pipeline.run(spark, in, out, incrementalSince = Some(cut))
      case "curation" =>
        val m = graft.CurationPipeline.run(spark, in, out).head()
        m.schema.fieldNames.map(f => f -> m.getAs[Any](f)).toMap
    }

  /** One call into the program: fresh output dir (for an incremental
    * call, a fresh copy of the stored reports, made before the clock
    * starts), wall and process CPU time, storage-memory peak, bytes left
    * on disk. A call that throws is recorded, not retried. */
  private def call(kind: String, traced: Boolean): Map[String, Any] = {
    calls += 1
    val out = s"$work/out/call$calls-$kind"
    if (kind == "incremental") copyTree(stored, out)
    ListenerBusDrain(spark.sparkContext)
    probe.begin(traced)
    val startMs = System.currentTimeMillis()
    val c0 = cpuNow(); val t0 = now()
    val result = try Right(callOnce(kind, out))
      catch { case e: Throwable => Left(e.toString) }
    val wall = now() - t0; val cpu = cpuNow() - c0
    val endMs = System.currentTimeMillis()
    ListenerBusDrain(spark.sparkContext)
    val s = probe.end()
    val rec = Map[String, Any](
      "kind" -> kind, "out" -> out, "traced" -> traced,
      "wall_s" -> wall, "cpu_s" -> cpu,
      "cache_peak_bytes" -> s.blockPeak, "out_bytes" -> bytesUnder(out),
      "error" -> result.left.toOption, "result" -> result.toOption)
    if (!traced) rec
    else rec ++ Map(
      "start_ms" -> startMs, "end_ms" -> endMs,
      "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "job_intervals" -> s.jobIntervals.map { case (a, b) => Seq(a, b) },
      "task_run_s" -> s.taskRunMs / 1000.0, "task_cpu_s" -> s.taskCpuNs / 1e9,
      "gc_s" -> s.gcMs / 1000.0,
      "shuffle_read_bytes" -> s.shuffleReadBytes,
      "shuffle_write_bytes" -> s.shuffleWriteBytes,
      "spill_bytes" -> s.spillBytes,
      "execs" -> s.execs.values.toSeq.map { x =>
        Map[String, Any]("id" -> x.id, "root" -> x.root,
          "start_ms" -> x.startMs, "end_ms" -> x.endMs,
          "description" -> x.description,
          "qe" -> x.qe.map(q => Map[String, Any](
            "func" -> q.func, "phases" -> q.phases, "failed" -> q.failed,
            "write_path" -> q.writePath, "write_rows" -> q.writeRows,
            "write_bytes" -> q.writeBytes, "write_files" -> q.writeFiles,
            "scans" -> q.scans.map(sc => Map[String, Any](
              "paths" -> sc.paths, "rows" -> sc.rows,
              "bytes" -> sc.bytes)))))
      })
  }

  /** A bench-side span around a direct call into one layer. */
  private def span(name: String, call: String)(f: => Unit): Map[String, Any] = {
    val s = System.currentTimeMillis(); val dt = timed(f)
    Map("name" -> name, "call" -> call, "start_ms" -> s,
      "end_ms" -> System.currentTimeMillis(), "seconds" -> dt)
  }

  /** The fixed synthetic job: a host-speed reading taken with every
    * run, not a program metric. */
  private def calib(): Double = timed(noop(
    spark.range(0, 1000000L, 1, cpus).selectExpr("xxhash64(id) AS h")
      .repartition(cpus).selectExpr("bit_xor(h) AS s")))

  def record(): Map[String, Any] = {
    val kind = workload match {
      case "etl_full" => "full"
      case "etl_incremental" => "incremental"
      case _ => "curation"
    }
    // set-up: stored state — the previous night's full run
    val storedS = if (kind == "incremental")
      timed(graft.Pipeline.run(spark, s"${in}_prior", stored)) else 0.0
    // set-up: one warm-up call, outside the clock
    val warm = call(kind, traced = false)
    require(warm("error") == None, s"warm-up call failed: ${warm("error")}")

    // the timed calls: closed loop, one call after another, until
    // `seconds` have passed (at least one). A traced run makes one, the
    // untraced reference for the tracing overhead.
    val t0 = now()
    val measured = scala.collection.mutable.ArrayBuffer(
      call(kind, traced = false))
    while (!trace && now() - t0 < seconds)
      measured += call(kind, traced = false)

    val traceRec: Map[String, Any] = if (!trace) Map.empty else {
      val traced = scala.collection.mutable.ArrayBuffer(
        call(kind, traced = true))
      val spans = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      if (kind == "full") {
        // the nightly increment over the same inputs, traced: the only
        // call that reaches Incremental.hasNewData, Movement.trendDelta
        // and Sinks.overwriteInPlace
        spans += span("setup.stored_state", "incremental") {
          graft.Pipeline.run(spark, s"${in}_prior", stored)
        }
        traced += call("incremental", traced = true)
      }
      if (etl) graft.Pipeline.REPORTS.foreach { case (name, fn) =>
        spans += span(s"report.$name.compute", "compute")(noop(fn(spark, in)))
      } else {
        spans += span("curation.verdict", "compute") {
          noop(graft.ops.TextPipeline.curationVerdict(spark, in))
        }
        graft.Caches.release(graft.ops.TextPipeline.dedupBaseTag(in))
      }
      Map("calls" -> traced.toSeq, "spans" -> spans.toSeq)
    }

    Map("workload" -> workload, "cpus" -> cpus, "seconds" -> seconds,
      "oracles" -> (if (etl) {
        val sql = graft.SparkEntry.oracleSql
        REPORT_ORACLES.map { case (r, q) => r -> sql(q) }
      } else Map.empty),
      "stored_s" -> storedS,
      "warmup" -> warm, "calls" -> measured.toSeq,
      "calib_s" -> calib(), "trace" -> traceRec)
  }
}
