package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run shares: its arguments, its scratch
  * directory and its correctness bookkeeping.
  */
final class RunContext(val seed: Long, val seconds: Int, val work: Path, val cpus: Int) {

  val checks = new Checks

  /** Wall seconds per harness phase, for the run record. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** A local session for input generation only, stopped before the
    * engine runs. It writes through the engine's NIO local file system
    * (no forked `chmod`, no `.crc` files) and without code generation,
    * to keep generation short; the Hadoop file-system cache is cleared
    * when it stops, so the sessions under test never see that file
    * system unless they configure it.
    */
  def withGenSession[T](f: SparkSession => T): T = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName("perfbench-gen")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
      // a few thousand rows: interpreting beats compiling on a cold JVM
      .config("spark.sql.codegen.wholeStage", "false")
      .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    try f(s) finally stopSession(s)
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    org.apache.hadoop.fs.FileSystem.closeAll()
  }

  def generate(tag: String, specs: Seq[ClipSpec]): Map[Int, Path] =
    phase("generate")(withGenSession(s => Gen.writeClipFiles(s, specs, work.resolve(tag))))
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --result <file>`. Writes the run's full record (metrics,
  * sample counts, host and engine facts, failures) as JSON to
  * `--result`; `run.py` turns it into the benchmark's result line.
  */
object Main {

  val Workloads: Seq[String] = Seq("pipeline", "query_mix")

  private val EndToEndUnits = Map("setup_s" -> "s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms", "throughput_per_s" -> "1/s")

  private def layerUnit(name: String): String =
    if (name.endsWith("over_median")) "ratio"
    else if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_per_s") || name.endsWith("_per_s_1t") || name.endsWith("_1cpu")) "1/s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_written_per_batch")) "bytes"
    else if (name.endsWith(".s")) "s"
    else "count"

  def main(args: Array[String]): Unit = {
    val exit =
      try { run(args); 0 }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; the run is over
    Runtime.getRuntime.halt(exit)
  }

  private def run(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (${Workloads.mkString(", ")})")
    val trace = opt.getOrElse("trace", "0") == "1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val ctx = new RunContext(opt("seed").toLong, opt("seconds").toInt,
      Files.createDirectories(Paths.get(opt("work"))), cpus)

    def body(tag: String, traced: Boolean): BodyResult = workload match {
      case "pipeline" => PipelineWorkload.run(ctx, tag, traced)
      case "query_mix" => QueryMix.run(ctx, tag, traced)
    }
    val workloadFacts =
      if (workload == "pipeline") PipelineWorkload.facts(ctx.seconds) else QueryMix.facts

    val (metrics, record) =
      if (!trace) {
        val r = body("e2e", traced = false)
        (r.endToEnd.map { case (k, v) => k -> (v, EndToEndUnits(k)) },
          Map("samples" -> r.samples, "end_to_end" -> r.endToEnd))
      } else {
        Trace.reset()
        Trace.enabled = true
        val runSpan = Trace.newId()
        val t0 = Clock.wallNs()
        Trace.parent = runSpan
        val traced = Trace.span(s"workload:$workload")(body("t", traced = true))
        val byQuery = Seq("t:ingest", "t:backfill", "t:q:").map(t => t -> Layers.streamingByQuery(t))
          .filter(_._2.nonEmpty).toMap
        val batchRows = byQuery.get("t:ingest").flatMap(_.get("graft_mapped"))
          .map(_("input_rows_per_batch_p50")).filter(x => !x.isNaN).map(_.toInt).getOrElse(500)
        val sweep = Trace.span("sweep") {
          Sweep.run(ctx, batchRows, queryPass = workload != "query_mix")
        }
        Trace.add(Trace.Span(runSpan, 0L, s"run:$workload", t0, Clock.wallNs(),
          Map("seed" -> ctx.seed)))
        val layers = Layers.streaming("t", _ => true) ++ Layers.shuffle("t") ++
          Map("bench.lander_late_ms_max" -> 0.0, "bench.backlog_files_max" -> 0.0) ++
          traced.layers ++ sweep
        val spanFile = ctx.work.resolve("spans.json")
        Files.writeString(spanFile, Json(Trace.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
            "end_ns" -> s.endNs, "attrs" -> s.attrs)
        }))
        (layers.map { case (k, v) => k -> (v, layerUnit(k)) },
          Map("samples" -> traced.samples, "end_to_end_traced" -> traced.endToEnd,
            "streaming_by_query" -> byQuery,
            "shuffle_fetch_wait_ms" -> Layers.fetchWaitMs("t"),
            "span_file" -> spanFile.toString, "spans" -> Trace.spans.size))
      }

    val c = ctx.checks
    val facts = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_threads" -> cpus,
      "memory_bytes" -> java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "shuffle_partitions" -> cpus,
      "seed" -> ctx.seed, "seconds" -> ctx.seconds, "workload" -> workload,
      "trace" -> trace,
      "note" -> ("PipelineMain runs at local[SPARK_GRAFT_CPUS] with shuffle partitions = " +
        "SPARK_GRAFT_CPUS (32 when unset); this benchmark sets it to nproc, so its numbers " +
        "are not comparable with local[32] records")) ++ workloadFacts
    val result = Map(
      "correct" -> (c.failed == 0), "attempted" -> c.attempted, "failed" -> c.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "record" -> (record ++ Map("facts" -> facts, "failures" -> c.failures.toSeq,
        "phase_s" -> ctx.phases.toMap)))
    Files.writeString(Paths.get(opt("result")), Json(result))
  }
}
