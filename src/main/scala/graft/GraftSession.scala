package graft

import org.apache.spark.sql.SparkSession

/** The engine's session configuration, in ONE place, in two layers.
  *
  * [[engine]] is what every session running engine queries gets,
  * the deployed [[PipelineMain]] included (BENCH.md §0/§3):
  *
  *  - `shuffle.partitions` = the worker-thread count (not 200)
  *  - [[GraftExtensions]] (custom functions + as-of join strategy)
  *  - UTC session time zone, AQE on
  *  - 256-row columnar reader batches (binary-payload tables OOM the
  *    4096-row default on ~60 KB blobs)
  *  - [[QueryConfs]]
  *  - [[LocalFsConfs]]: local `file:` IO without forked shell commands,
  *    every checksum kept
  *
  * [[builder]] adds what only suits a local harness whose checkpoints
  * are throwaway — Bench, ScalingBench, Verify, Explain, RunOne,
  * BenchExtra, UpdGen and the test session: no UI, shuffle scratch
  * under `java.io.tmpdir`, and checkpoint IO without corruption checks
  * (no checkpoint checksums, no `.crc` files via
  * [[graft.hadoop.NioLocalFileSystem]], the `FileSystem`-based
  * checkpoint manager).
  */
object GraftSession {

  /** Query confs every engine query relies on, also set by
    * [[GraftExtensions.install]] on sessions the engine did not build:
    *
    *  - ObjectHashAggregate fallback threshold 65536 (ANN top-k: keep
    *    thousands of query_id groups on the hash partial path)
    *  - `InferFiltersFromGenerate` excluded (it re-evaluates expensive
    *    generator inputs in an interpreted filter: 13× on the shingle
    *    explodes)
    */
  val QueryConfs: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** The `file:` scheme bound, for both Hadoop filesystem APIs, to
    * Hadoop's checksummed local filesystem over NIO — no forked `chmod`
    * per created file, no forked `readlink` per rename:
    * [[graft.hadoop.NioChecksumLocalFileSystem]] for `FileSystem`,
    * [[graft.hadoop.NioLocalFs]] for `FileContext` (what Spark's
    * default checkpoint manager writes through). `.crc` twins and
    * Spark's checkpoint file checksums stay on: a deployment resumes
    * from its checkpoints. Other schemes keep Hadoop's bindings.
    */
  val LocalFsConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> "graft.hadoop.NioChecksumLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.hadoop.NioLocalFs")

  def engine(master: String, partitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config(QueryConfs)
      .config(LocalFsConfs)

  def builder(master: String, partitions: String): SparkSession.Builder =
    engine(master, partitions)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", "graft.hadoop.NioLocalFileSystem")
      // Spark's own default is the literal "/tmp", which ignores the
      // JVM's tmpdir (build.sbt points it at tmpfs when available)
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.ui.enabled", "false")
}
