package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic bench (NOT part of the frozen driver contract —
  * `Bench.scala` stays the artifact of record): runs named queries
  * under the exact Bench session configuration with
  *
  *  - per-pass wall time (gc + min-of-reps, the Bench discipline),
  *  - a StreamingQueryListener dump of every micro-batch's
  *    durationMs breakdown (addBatch / getBatch / queryPlanning /
  *    walCommit / commitOffsets / triggerExecution) and state-store
  *    metrics — the per-operator evidence guide §1 asks for, which
  *    the noop-sink wall number alone cannot attribute.
  *
  * Usage: `runMain graft.BenchExtra <query> [query...]` with
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_REPS`.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchExtra <query> [query...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })

    // `ccprof` mode: time q61's phases separately — pair generation vs
    // connected-components rounds — so the round overhead is attributable
    if (args.headOption.contains("ccprof")) {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until reps).foreach { i =>
        System.gc()
        var t0 = System.nanoTime()
        val mh = graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleN = 3, k = 8, bands = 4, threshold = 0.25, maxBucketSize = 64)
          .select(col("id_a"), col("id_b"))
        val sp = graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6)
          .select(col("id_a"), col("id_b"))
        val pairs = mh.unionByName(sp).localCheckpoint(true)
        val n = pairs.count()
        println(f"pass $i pairs: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n edges)")
        t0 = System.nanoTime()
        val cc = graft.operators.Dedup.connectedComponents(pairs, "id_a", "id_b")
        cc.write.format("noop").mode("overwrite").save()
        println(f"pass $i cc: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop()
      return
    }

    args.foreach { name =>
      println(s"=== $name @ $sfDir (local[$cpus]) ===")
      (0 until reps).foreach { i =>
        progress.clear()
        System.gc()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"pass $i: $sec%.3f s")
        // give the async listener bus a moment to drain this pass's
        // events before dumping (diagnostic tool — a fixed pause is fine)
        Thread.sleep(1000)
        import scala.jdk.CollectionConverters._
        progress.asScala.foreach(j => println(s"  progress: $j"))
      }
    }
    spark.stop()
  }
}
