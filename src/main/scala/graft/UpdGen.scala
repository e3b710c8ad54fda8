package graft

/** Writes the transcript-update table to parquet for `PipelineMain
  * --updates` runs: `runMain graft.UpdGen <outDir> [sfDir]`.
  */
object UpdGen {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.synth.ClipGen.transcriptUpdates(spark, sfDir)
      .write.mode("overwrite").parquet(args(0))
    spark.stop()
  }
}
