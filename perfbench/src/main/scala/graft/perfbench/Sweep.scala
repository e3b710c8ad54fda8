package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.audio.Codecs
import graft.model.{Clip, Schemas}
import graft.sink.{ExactlyOnceSink, UpsertSink}
import graft.streaming.ClipPipeline

/** The traced run's direct calls into single layers, identical for
  * every workload except for the batch sizes replayed into the sinks:
  * a `PipelineMain` backfill slice at `local[1]` (the base of the
  * parallel speedup), decode and summarize throughput, timed sink
  * writes, and one pass of the query list.
  */
object Sweep {

  val SliceFiles = 4
  val SliceClipsPerFile = 500
  val SinkBatches = 8

  def run(ctx: RunContext, batchRows: Int, queryPass: Boolean): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    val specs = Gen.clipSpecs(ctx.seed ^ 0x51ceL, SliceFiles, SliceClipsPerFile)
    val files = ctx.generate("sweep-gen", specs)
    val slice = Files.createDirectories(ctx.work.resolve("sweep-slice"))
    files.foreach { case (i, f) => Gen.land(f, slice, i) }

    Trace.tag = "sweep:1cpu"
    Trace.span("layer:backfill_1cpu") {
      val pipelines = PipelineWorkload.Pipelines
      val dir = ctx.work.resolve("sweep-1cpu")
      val tree = new OutputTree(dir, pipelines)
      // PipelineMain takes its master from `spark.master` when set
      System.setProperty("spark.master", "local[1]")
      val m =
        try {
          val r = new MainRun(PipelineRuns.mainArgs(slice, dir, pipelines, None,
            Seq("--shuffle-partitions", "1")))
          r.await(150000L)
          r
        } finally System.clearProperty("spark.master")
      tree.refresh()
      PipelineRuns.reconcile(ctx.checks, m, tree, specs, "sweep-1cpu")
      out("backfill.clips_per_s_1cpu") =
        specs.size / ((tree.lastCommitNs.getOrElse(m.startNs) - m.startNs) / 1e9)
    }

    val spark = QueryMix.session(ctx)
    TraceListeners.register(spark)
    import spark.implicits._
    val clips = spark.read.schema(Schemas.clips).parquet(slice.toString).as[Clip]

    Trace.tag = "sweep:audio"
    Trace.span("layer:audio.decode_stage") {
      val secs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        ClipPipeline.decodeStage(clips).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      out("audio.decode_stage_clips_per_s") = specs.size / Stats.median(secs)
    }
    Trace.span("layer:audio.summarize_1t") {
      val payloads = clips.filter(col("codec") =!= "unknown")
        .select("codec", "bytes").as[(String, Array[Byte])].collect()
      var n = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 1000000000L) {
        val (codec, bytes) = payloads((n % payloads.length).toInt)
        require(Codecs.summarize(codec, bytes).isRight, s"summarize failed on a $codec clip")
        n += 1
      }
      out("audio.summarize_clips_per_s_1t") = n / ((System.nanoTime() - t0) / 1e9)
    }

    // sinks: the workload's batch size replayed through direct writes
    Trace.tag = "sweep:sink"
    val rows = math.max(1, math.min(batchRows, specs.size))
    val mapped = ClipPipeline.decodeStage(clips).toDF()
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .limit(rows).cache()
    mapped.count()
    val eoDir = ctx.work.resolve("sweep-sink-eo")
    val eo = new ExactlyOnceSink(eoDir.toString, Seq("out_id"))
    val eoMs = (0 until SinkBatches).map { i =>
      Trace.span("layer:sink.exactly_once.write", Map("rows" -> rows)) {
        val t0 = System.nanoTime()
        eo.write(mapped, i.toLong)
        (System.nanoTime() - t0) / 1e6
      }
    }
    out("sink.exactly_once.write_ms_p50") = Stats.median(eoMs)
    out("sink.bytes_written_per_batch") = Stats.median((0 until SinkBatches).map(i =>
      Fs.bytesUnder(eoDir.resolve("data").resolve(s"batch=$i")).toDouble))
    mapped.unpersist()

    val keyed = clips.toDF()
      .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"), col("transcript"),
        col("event_time").cast("timestamp").as("event_time"))
      .withColumn("ver", unix_micros(col("event_time")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ver"))) - 1)
      .cache()
    keyed.count()
    val upDir = ctx.work.resolve("sweep-sink-upsert")
    val up = new UpsertSink(upDir.toString, Seq("clip_id"), "ver")
    val upMs = (0 until SinkBatches).map { i =>
      val lo = (i.toLong * rows) % specs.size
      val batch = keyed.filter(col("rn") >= lo && col("rn") < lo + rows).drop("rn")
      Trace.span("layer:sink.upsert.write", Map("rows" -> rows)) {
        val t0 = System.nanoTime()
        up.write(batch, i.toLong)
        (System.nanoTime() - t0) / 1e6
      }
    }
    out("sink.upsert.write_ms_p50") = Stats.median(upMs)
    out("sink.upsert.buckets_rewritten_per_batch") = Stats.median((0 until SinkBatches).map(i =>
      Fs.list(upDir.resolve("data").resolve(s"v=$i"))
        .count(_.getFileName.toString.startsWith("__bucket=")).toDouble))
    keyed.unpersist()

    if (queryPass) {
      ctx.stopSession(spark)
      val sf = QueryMix.tables(ctx, "sweep")
      val s = QueryMix.session(ctx)
      val qOut = Files.createDirectories(ctx.work.resolve("sweep-out"))
      val times = QueryMix.Queries.map { q =>
        q -> Seq(QueryMix.tracedQuery(s, q, sf, qOut, s"sweep:q:$q"))
      }.toMap
      out ++= QueryMix.layerMetrics("sweep:q:", times)
      ctx.stopSession(s)
    } else ctx.stopSession(spark)
    Trace.tag = ""
    out.toMap
  }
}
