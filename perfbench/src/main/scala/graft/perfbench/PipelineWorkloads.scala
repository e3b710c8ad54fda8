package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.sink.ExactlyOnceSink

/** Correctness bookkeeping: every checked operation or law counts as
  * attempted; a failed one counts as failed and is described.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.Buffer[String] = mutable.Buffer.empty

  def law(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$name $detail".trim
    }
  }
}

/** What one workload body measured: its end-to-end metrics, sample
  * counts for the record, and per-layer metrics only the body itself
  * can see (the lander, the tracing overhead).
  */
final case class BodyResult(
    endToEnd: Map[String, Double],
    samples: Map[String, Any],
    layers: Map[String, Double] = Map.empty)

object PipelineRuns {

  /** Setups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** How long a file may stay uncommitted after the last landing. */
  val DrainTimeoutMs = 30000L

  def mainArgs(input: Path, out: Path, pipelines: Seq[String], trigger: Option[String],
      extra: Seq[String] = Nil): Seq[String] =
    Seq("--input", input.toString, "--output", out.toString,
      "--checkpoint", out.resolve("_checkpoints").toString,
      "--window", "1 minute", "--pipelines", pipelines.mkString(",")) ++
      trigger.map(t => Seq("--interval", t)).getOrElse(Seq("--once")) ++ extra

  /** Polls until every pipeline's sink has committed a first batch;
    * returns that instant.
    */
  def awaitFirstCommits(m: MainRun, tree: OutputTree, timeoutMs: Long): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    @annotation.tailrec
    def poll(): Long = {
      tree.refresh()
      val firsts = tree.pipelines.map(tree.firstCommitNs)
      if (firsts.forall(_.isDefined)) firsts.flatten.max
      else {
        m.error.foreach(e => throw new IllegalStateException("PipelineMain failed", e))
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException("first batches not committed in time")
        Thread.sleep(10)
        poll()
      }
    }
    poll()
  }

  /** PipelineMain's reconciliation laws, checked from its summary and
    * again from outside (sink lineage against parquet footers), plus
    * the generator's conservation laws for the clips landed.
    */
  def reconcile(c: Checks, m: MainRun, tree: OutputTree, landed: Seq[ClipSpec],
      tag: String): Unit = {
    tree.refresh()
    val sum = m.summary
    c.law(s"$tag: PipelineMain printed its summary", sum.isDefined)
    sum.foreach { s =>
      tree.pipelines.foreach { p =>
        val e = s.get("lineage").get(p)
        c.law(s"$tag: $p reconciled in PipelineMain's summary",
          e != null && e.get("reconciled").asBoolean(false), String.valueOf(e))
      }
    }
    tree.pipelines.foreach { p =>
      val lin = new ExactlyOnceSink(tree.sinkDir(p).toString, Nil).lineage
      val rows = lin.map(_.rows).sum
      val footer = tree.committedFooterRows(p)
      c.law(s"$tag: $p partition rows sum to batch rows",
        lin.forall(b => b.partitionRows.sum == b.rows))
      c.law(s"$tag: $p lineage rows = committed footer rows", rows == footer,
        s"($rows vs $footer)")
      if (p == "mapped") {
        val want = landed.count(_.decodable).toLong
        c.law(s"$tag: mapped committed = landed - unknown codec", footer == want,
          s"($footer vs $want)")
      }
      if (p == "dedup")
        c.law(s"$tag: dedup committed = landed", footer == landed.size.toLong,
          s"($footer vs ${landed.size})")
    }
  }

  /** One setup: a fresh `PipelineMain` over a one-file input, timed
    * from the start of `main` (session build) until every enabled
    * query has committed its first batch. Unless `keepRunning`, it is
    * then stopped and reconciled.
    */
  def setup(work: Path, tag: String, file: Path, fileSpecs: Seq[ClipSpec],
      pipelines: Seq[String], trigger: String, c: Checks,
      keepRunning: Boolean): (Double, MainRun, OutputTree, Path) = {
    val dir = work.resolve(tag)
    val input = Files.createDirectories(dir.resolve("input"))
    val out = dir.resolve("out")
    Gen.land(file, input, 0)
    val tree = new OutputTree(out, pipelines)
    val m = new MainRun(mainArgs(input, out, pipelines, Some(trigger)))
    val first = awaitFirstCommits(m, tree, 90000L)
    val setupS = (first - m.startNs) / 1e9
    if (!keepRunning) {
      m.stopQueries()
      m.await(120000L)
      reconcile(c, m, tree, fileSpecs, tag)
    }
    (setupS, m, tree, input)
  }
}

/** `PipelineMain` with its four default pipelines (mapped, dedup,
  * rollup, sessions), HDFS-backed state and the real exactly-once
  * sinks, in two phases on one run's seeded inputs.
  *
  *  - Steady ingest, open loop: a `ProcessingTime` trigger, and a lander
  *    that moves one pre-generated parquet file into the input directory
  *    every `ClipsPerFile / ClipsPerSec` seconds, on schedule whatever
  *    the engine does. The first `WarmupSeconds` of landings are not
  *    sampled. A file's latency runs from its scheduled landing time to
  *    the commit marker of the batch that consumed it, taking the last
  *    enabled sink to commit.
  *  - Backfill, closed loop: `PipelineMain --once` (AvailableNow) drains
  *    a pre-landed table once to warm up, then `Drains` sampled times.
  *    A drain is timed from the start of `main` (session build included,
  *    as a backfill job pays it) to the last sink commit.
  */
object PipelineWorkload {
  val Pipelines: Seq[String] = Seq("mapped", "dedup", "rollup", "sessions")
  val ClipsPerSec = 100
  val ClipsPerFile = 10
  val WarmupSeconds = 2
  val Trigger = "2 seconds"
  val TableClips = 2000
  val TableClipsPerFile = 500
  val Drains = 3

  private val intervalNs = 1000000000L * ClipsPerFile / ClipsPerSec

  private def filesIn(seconds: Int): Int = seconds * ClipsPerSec / ClipsPerFile

  def facts(seconds: Int): Map[String, Any] = Map(
    "Pipelines" -> Pipelines, "state_store" -> "HDFSBackedStateStoreProvider",
    "ingest" -> Map("loop" -> "open", "offered_clips_per_s" -> ClipsPerSec,
      "clips_per_file" -> ClipsPerFile, "sampled_files" -> filesIn(seconds),
      "warmup_files" -> filesIn(WarmupSeconds), "trigger" -> s"ProcessingTime($Trigger)"),
    "backfill" -> Map("loop" -> "closed", "clients" -> 1, "table_clips" -> TableClips,
      "table_files" -> TableClips / TableClipsPerFile, "trigger" -> "AvailableNow",
      "drains" -> Drains))

  /** With `traced`, the sampled drains alternate untraced and traced
    * (U T T U) so the tracing overhead is measured on the same warm JVM.
    */
  def run(ctx: RunContext, tag: String, traced: Boolean): BodyResult = {
    val reps = PipelineRuns.SetupReps
    val nWarm = filesIn(WarmupSeconds)
    val nLand = nWarm + filesIn(ctx.seconds)
    val nTable = TableClips / TableClipsPerFile
    // files r < reps: the setup file of repetition r; then the landed
    // files, continuing the last setup's event time; then the table
    val ingestSpecs = Gen.clipSpecs(ctx.seed, reps + nLand, ClipsPerFile)
    val tableSpecs = Gen.clipSpecs(ctx.seed ^ 0x5eedL, nTable, TableClipsPerFile)
      .map(s => s.copy(file = s.file + reps + nLand))
    val files = ctx.generate(s"$tag-gen", ingestSpecs ++ tableSpecs)
    val byFile = ingestSpecs.groupBy(_.file)
    val c = ctx.checks
    if (traced) TraceListeners.attachToNewSessions()
    Trace.tag = s"$tag:ingest"

    val setups = (0 until reps - 1).map { r =>
      ctx.phase("setups")(Trace.span(s"setup:$r")(PipelineRuns.setup(ctx.work,
        s"$tag-setup$r", files(r), byFile(r), Pipelines, Trigger, c, keepRunning = false)._1))
    }
    val (lastSetup, m, tree, input) = ctx.phase("setups")(PipelineRuns.setup(ctx.work,
      s"$tag-run", files(reps - 1), byFile(reps - 1), Pipelines, Trigger, c, keepRunning = true))

    // the lander: atomic renames on schedule, nothing else
    val scheduled = new Array[Long](nLand)
    val actual = new Array[Long](nLand)
    val anchor = Clock.wallNs() + 200000000L
    val lander = new Thread(() => {
      var i = 0
      while (i < nLand) {
        scheduled(i) = anchor + i * intervalNs
        Clock.sleepUntil(scheduled(i))
        Gen.land(files(reps + i), input, i + 1)
        actual(i) = Clock.wallNs()
        i += 1
      }
    }, "lander")
    lander.setDaemon(true)
    lander.start()
    val names = (1 to nLand).map(i => f"f-$i%05d.parquet")
    ctx.phase("landing")(Trace.span("ingest:landing") {
      while (lander.isAlive) { tree.refresh(); Thread.sleep(100) }
    })
    lander.join()
    val drainDeadline = System.currentTimeMillis() + PipelineRuns.DrainTimeoutMs
    def pending = names.count(n => tree.allCommittedNs(n).isEmpty)
    ctx.phase("ingest_drain") {
      tree.refresh()
      while (pending > 0 && System.currentTimeMillis() < drainDeadline) {
        Thread.sleep(50)
        tree.refresh()
      }
    }
    ctx.phase("stop")(m.stopQueries())
    ctx.phase("reconcile")(m.await(120000L))
    tree.refresh()

    val committed = names.map(tree.allCommittedNs)
    committed.zipWithIndex.foreach { case (t, i) =>
      c.law(s"$tag: ${names(i)} committed by every sink before the drain timeout", t.isDefined)
    }
    val landed = byFile(reps - 1) ++ (0 until nLand).flatMap(i => byFile(reps + i))
    ctx.phase("check")(PipelineRuns.reconcile(c, m, tree, landed, s"$tag-run"))

    val sampled = nWarm until nLand
    val lat = sampled.flatMap(i => committed(i).map(t => (t - scheduled(i)) / 1e6))
    val lateMs = sampled.map(i => (actual(i) - scheduled(i)) / 1e6)
    // backlog at each landing: files landed so far, not yet committed everywhere
    val backlog = sampled.map(i => (0 to i).count(j => committed(j).forall(_ > actual(i))))

    // backfill: the table pre-landed once, drained by fresh applications
    val table = Files.createDirectories(ctx.work.resolve(s"$tag-table"))
    (0 until nTable).foreach(i => Gen.land(files(reps + nLand + i), table, i))
    val tableNames = (0 until nTable).map(i => f"f-$i%05d.parquet")
    Trace.tag = s"$tag:backfill"
    // drain 0 warms the backfill path up and is not sampled; traced runs
    // then alternate untraced and traced drains (U T T U)
    val drainS = (0 to (if (traced) 4 else Drains)).map { d =>
      val withTrace = traced && (d == 2 || d == 3)
      if (traced) {
        if (withTrace) TraceListeners.attachToNewSessions()
        else TraceListeners.detachFromNewSessions()
      }
      val out = ctx.work.resolve(s"$tag-drain$d")
      val t = new OutputTree(out, Pipelines)
      val run = new MainRun(PipelineRuns.mainArgs(table, out, Pipelines, None))
      ctx.phase("backfill")(Trace.span(s"backfill:drain$d", Map("traced" -> withTrace))(
        run.await(150000L)))
      t.refresh()
      tableNames.foreach { n =>
        c.law(s"$tag: drain $d committed $n in every sink", t.allCommittedNs(n).isDefined)
      }
      ctx.phase("check")(PipelineRuns.reconcile(c, run, t, tableSpecs, s"$tag-drain$d"))
      Fs.deleteRecursively(out)
      withTrace -> (t.lastCommitNs.getOrElse(run.startNs) - run.startNs) / 1e9
    }
    TraceListeners.detachFromNewSessions()
    Trace.tag = ""
    val untracedDrains = drainS.tail.filterNot(_._1).map(_._2)
    val tracedDrains = drainS.tail.filter(_._1).map(_._2)
    val setupAll = setups :+ lastSetup
    val drainMedian = Stats.median(if (traced) tracedDrains else untracedDrains)
    BodyResult(
      Map("setup_s" -> Stats.median(setupAll), "latency_p50_ms" -> Stats.median(lat),
        "latency_p90_ms" -> Stats.quantile(lat, 0.90),
        "throughput_per_s" -> TableClips / drainMedian),
      Map("latency_samples" -> lat.size, "setup_samples" -> setupAll,
        "latency_ms_max" -> lat.maxOption.getOrElse(Double.NaN),
        "lander_late_ms_max" -> lateMs.max, "backlog_files_max" -> backlog.max,
        "ingest_batches" -> Pipelines.map(p => p -> tree.plannedBatches(p)).toMap,
        "drain_s" -> drainS.map { case (tr, s) => Map("traced" -> tr, "s" -> s) },
        "throughput_samples" -> (if (traced) tracedDrains else untracedDrains).size),
      Map("bench.lander_late_ms_max" -> lateMs.max,
        "bench.backlog_files_max" -> backlog.max.toDouble) ++
        (if (traced) Map("bench.tracing_overhead_pct" ->
          (Stats.median(tracedDrains) / Stats.median(untracedDrains) - 1.0) * 100.0)
        else Map.empty))
  }
}
