package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The batch and streaming query library (`SparkEntry.queries`) on a
  * seeded events table: one client, closed loop, the fixed list in a
  * seeded shuffled order per pass, each query run to completion through
  * the `noop` sink. One query per family that reads only `events` and
  * the clip table derived from it.
  */
object QueryMix {

  val Queries: Seq[String] = Seq(
    "p01_decode_full", "p03_quarantine", "q16_asof_join", "q18_tumbling_window",
    "q43_json_extract", "q67_audio_keeplist", "s02_stream_dedup",
    "s22_session_merge_tws", "s24_stream_full_join")

  val WarmupQuery = "q18_tumbling_window"

  val Events = 500

  def facts: Map[String, Any] = Map(
    "loop" -> "closed", "clients" -> 1, "events_rows" -> Events,
    "queries" -> Queries, "warmup_query" -> WarmupQuery, "warmup_passes" -> 1)

  /** The seeded table directory (`events.parquet`, `orders.parquet`, one
    * parquet file each, the testdata layout), with the clip table staged
    * from it by `ClipGen.stagedClips`. Both are written by a session
    * built as the queries' own and stopped before the setups: staging
    * in the interpreting generation session took about twice as long.
    */
  def tables(ctx: RunContext, tag: String): Path = {
    val sf = Files.createDirectories(ctx.work.resolve(s"$tag-sf"))
    val tmp = ctx.work.resolve(s"$tag-sf-tmp")
    val s = session(ctx)
    try {
      Gen.writeEventTables(s, ctx.seed, Events, tmp)
      Seq("events", "orders").foreach { t =>
        val part = Fs.list(tmp.resolve(s"$t.parquet"))
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, sf.resolve(s"$t.parquet"))
      }
      graft.synth.ClipGen.stagedClips(s, sf.toString).head(1)
    } finally ctx.stopSession(s)
    Fs.deleteRecursively(tmp)
    sf
  }

  def session(ctx: RunContext): SparkSession = {
    val s = GraftSession.builder(s"local[${ctx.cpus}]", ctx.cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `name` to completion, writing its result as parquet under
    * `out` (the last run's result is what the oracle compare reads).
    * Returns wall seconds.
    */
  def runQuery(spark: SparkSession, name: String, sf: Path, out: Path): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sf.toString)
      .write.mode("overwrite").parquet(out.resolve(name).toString)
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs `name` with the trace listeners registered and tag `tag`,
    * draining the listener bus so every event of the query is
    * attributed to it, then unregisters them.
    */
  def tracedQuery(spark: SparkSession, name: String, sf: Path, out: Path,
      tag: String): Double = {
    val ls = TraceListeners.register(spark)
    Trace.tag = tag
    try Trace.span(s"query:$name")(runQuery(spark, name, sf, out))
    finally {
      org.apache.spark.graftbridge.ListenerBridge.drainListenerBus(spark.sparkContext, 30000L)
      Trace.tag = ""
      TraceListeners.unregister(spark, ls)
    }
  }

  /** The oracle SQL of the listed queries, with the staged clip table's
    * expected-statistics path substituted as `graft.Verify` does.
    */
  def writeOracle(sf: Path, out: Path): Unit = {
    val expected = graft.synth.ClipGen.clipsExpectedPath(sf.toString)
    Files.writeString(out.resolve("oracle_sql.json"), Json(SparkEntry.oracleSql.collect {
      case (k, v) if Queries.contains(k) => k -> v.replace("__CLIPS_EXPECTED__", expected)
    }))
  }

  /** queries.<name>.{s, plan_ms, jobs} from the records tagged `prefix<name>`. */
  def layerMetrics(prefix: String, times: Map[String, Seq[Double]]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    Queries.flatMap { q =>
      val tag = prefix + q
      val execs = Trace.execs.asScala.filter(_.tag == tag)
      val runs = math.max(1, times.getOrElse(q, Nil).size)
      Seq(
        s"queries.$q.s" -> Stats.median(times.getOrElse(q, Nil)),
        s"queries.$q.plan_ms" -> execs.map(_.planMs).sum / runs,
        s"queries.$q.jobs" -> Trace.jobs.asScala.count(_ == tag).toDouble / runs)
    }.toMap
  }

  /** Latency is per pass: the wall time of one run over the whole list
    * (the client's unit of work), so the metric does not jump between
    * queries of very different cost; throughput is the list's length
    * over the median pass, so one slow pass does not set it. The timed
    * passes follow an untimed warm-up pass. With `traced`, every query of a
    * pass runs twice, once with the trace listeners and once without,
    * in alternating order, so the tracing overhead is measured on the
    * same warm session; the pass then counts the traced runs.
    */
  def run(ctx: RunContext, tag: String, traced: Boolean): BodyResult = {
    val sf = ctx.phase("generate")(tables(ctx, tag))
    val out = Files.createDirectories(ctx.work.resolve(s"$tag-out"))
    val c = ctx.checks
    // setups: session build + the first (warm-up) query
    val setups = ctx.phase("setups")((0 until PipelineRuns.SetupReps).map { r =>
      val t0 = System.nanoTime()
      val s = session(ctx)
      val setup = (System.nanoTime() - t0) / 1e9 + runQuery(s, WarmupQuery, sf, out)
      if (r < PipelineRuns.SetupReps - 1) ctx.stopSession(s)
      setup
    })
    val spark = SparkSession.getDefaultSession.get

    def checked(q: String)(f: => Unit): Unit =
      try f catch { case e: Exception => c.law(s"$tag: $q ran", ok = false, e.toString) }

    // an untimed warm-up pass: a query's first run in the JVM compiles
    // its generated code and loads its classes, work the timed passes
    // would otherwise pay once each and unevenly; traced, it also keeps
    // either side of a traced/untraced pair from being a first run
    val rng = new scala.util.Random(ctx.seed)
    ctx.phase("warmup")(rng.shuffle(Queries).foreach(q => checked(q)(runQuery(spark, q, sf, out))))
    val passS = mutable.Buffer.empty[Double]
    val byQuery = mutable.Map.empty[String, mutable.Buffer[Double]]
    var plainS, tracedS = 0.0
    val t0 = System.nanoTime()
    while (passS.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      var pass = 0.0
      rng.shuffle(Queries).zipWithIndex.foreach { case (q, i) =>
        checked(q) {
          if (traced) {
            val order = if ((i + passS.size) % 2 == 0) Seq(false, true) else Seq(true, false)
            order.foreach { tr =>
              if (tr) {
                val s = tracedQuery(spark, q, sf, out, s"$tag:q:$q")
                tracedS += s
                pass += s
                byQuery.getOrElseUpdate(q, mutable.Buffer.empty) += s
              } else {
                plainS += runQuery(spark, q, sf, out)
                // the same pause the traced side takes for its drain
                org.apache.spark.graftbridge.ListenerBridge.drainListenerBus(spark.sparkContext, 30000L)
              }
            }
          } else {
            val s = runQuery(spark, q, sf, out)
            pass += s
            byQuery.getOrElseUpdate(q, mutable.Buffer.empty) += s
          }
        }
      }
      passS += pass
    }
    ctx.phases("passes") = (System.nanoTime() - t0) / 1e9
    writeOracle(sf, out)
    ctx.stopSession(spark)

    val passMs = passS.map(_ * 1000.0).toSeq
    BodyResult(
      Map("setup_s" -> Stats.median(setups), "latency_p50_ms" -> Stats.median(passMs),
        "latency_p90_ms" -> Stats.quantile(passMs, 0.90),
        "throughput_per_s" -> Queries.size / Stats.median(passS.toSeq)),
      Map("pass_samples" -> passS.size, "pass_s" -> passS.toSeq,
        "setup_samples" -> setups,
        "query_s_p50" -> byQuery.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        "oracle_check" -> Map("sf_dir" -> sf.toString, "out_dir" -> out.toString,
          "queries" -> Queries)),
      if (traced)
        layerMetrics(s"$tag:q:", byQuery.map { case (k, v) => k -> v.toSeq }.toMap) +
          ("bench.tracing_overhead_pct" -> (tracedS / plainS - 1.0) * 100.0)
      else Map.empty)
  }
}
