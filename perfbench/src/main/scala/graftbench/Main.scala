package graftbench

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Benchmark client: runs one seeded workload in one `local[nproc]` Spark
  * JVM with one closed-loop client, and writes a raw run record (samples,
  * spans, listener totals, inputs, host stamps) as JSON. `run.py` launches
  * it and derives the reported metrics from that record.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file>
  */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "search" -> SearchWorkload.run,
    "ingest" -> IngestWorkload.run,
    "pipelines" -> PipelinesWorkload.run)

  def main(args: Array[String]): Unit =
    try {
      runMain(args)
      // Halting skips Spark's shutdown hooks (seconds per run); the launcher
      // removes the work directory, and the record is already on disk.
      Runtime.getRuntime.halt(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Runtime.getRuntime.halt(1)
    }

  private def runMain(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = need("work")
    val nproc = Host.nproc

    val load0 = Host.loadavg1
    val probe0 = Host.probe()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", work)
    val listener = if (run.trace) Some(new SparkCounts) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val cpu0 = Host.cpuJiffies
    val t0 = System.nanoTime()
    body(run)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu1 = Host.cpuJiffies
    val probe1 = Host.probe()
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

    val host = Map(
      "nproc" -> nproc,
      "loadavg1_before" -> load0,
      "steal_share" -> Host.stealShare(cpu0, cpu1),
      "probe_before_mmix_s" -> probe0,
      "probe_after_mmix_s" -> probe1,
      "workload_wall_s" -> wall)
    run.counts("cache_mb") = cacheMb
    val record = Map(
      "workload" -> workload,
      "seed" -> run.seed,
      "trace" -> run.trace,
      "seconds" -> run.seconds,
      "host" -> host,
      "setup_s" -> run.setupS.toList,
      "setup_cpu_s" -> run.setupCpuS.toList,
      "ops" -> run.ops.toList.map { o =>
        Map("id" -> o.id, "kind" -> o.kind, "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "docs" -> o.docs,
          "traced" -> o.traced, "ok" -> o.ok, "parts" -> o.parts.toMap)
      },
      "failures" -> run.failures.toList,
      "unattributed_failures" -> run.unattributedFailures,
      "counts" -> run.counts.toMap,
      "spans" -> run.tracer.spans.toList.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)
      },
      "spark" -> listener.toList.flatMap(_.totals).map { case (span, v) =>
        span.toString -> SparkCounts.Keys.zip(v).toMap
      }.toMap,
      "jobs" -> listener.toList.flatMap(_.jobs).map { case (s, a, b) => List(s, a, b) },
      "inputs" -> run.inputs.toMap)
    val out = new java.io.PrintWriter(need("out"), "UTF-8")
    try out.println(Serialization.write(record)(DefaultFormats)) finally out.close()
  }
}
