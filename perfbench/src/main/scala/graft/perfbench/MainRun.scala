package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One `graft.PipelineMain.main` invocation, run on its own thread so
  * the harness can watch the file system while it runs and stop its
  * queries. Driving `main` itself means the session is built exactly
  * as the deployed application builds it. The summary line `main`
  * prints is captured instead of reaching standard output.
  */
final class MainRun(args: Seq[String]) {
  val startNs: Long = Clock.wallNs()
  private val out = new java.io.ByteArrayOutputStream()
  @volatile private var failure: Option[Throwable] = None

  private val thread: Thread = {
    val ps = new java.io.PrintStream(out, true, "UTF-8")
    Console.withOut(ps) {
      // created inside withOut: the thread inherits the redirected Console
      val t = new Thread(() =>
        try graft.PipelineMain.main(args.toArray)
        catch { case e: Throwable => failure = Some(e) }, "pipeline-main")
      t.setDaemon(true)
      t.start()
      t
    }
  }

  def error: Option[Throwable] = failure

  def alive: Boolean = thread.isAlive

  /** The live session `main` built (polls until it exists). */
  def session(timeoutMs: Long = 60000L): SparkSession = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var s: Option[SparkSession] = None
    while (s.isEmpty) {
      s = SparkSession.getDefaultSession.filter(x => !x.sparkContext.isStopped)
      if (s.isEmpty) {
        failure.foreach(e => throw new IllegalStateException("PipelineMain failed", e))
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException("PipelineMain built no session in time")
        Thread.sleep(5)
      }
    }
    s.get
  }

  /** Stops every running query; `main` then reconciles and exits. */
  def stopQueries(): Unit = if (alive) session().streams.active.foreach(_.stop())

  def await(timeoutMs: Long): Unit = {
    thread.join(timeoutMs)
    if (thread.isAlive) throw new IllegalStateException(s"PipelineMain did not finish within $timeoutMs ms")
    failure.foreach(e => throw new IllegalStateException("PipelineMain failed", e))
  }

  /** The `{"pipeline":"done",...}` record `main` printed, if any. */
  def summary: Option[com.fasterxml.jackson.databind.JsonNode] =
    out.toString("UTF-8").linesIterator
      .find(_.startsWith("{\"pipeline\":\"done\"")).map(Json.parse)
}

/** Reads one streaming query's checkpoint to map each input file to
  * the query batch that consumed it: the file source log
  * (`sources/0/<n>`, entries carry the source's log offset) gives the
  * file's log offset, and the offset log (`offsets/<batchId>`, line
  * `{"logOffset":N}`) gives the first batch whose end offset covers
  * it. The source log's own `batchId` field is the source's sequence,
  * not the query's batch id: the two diverge as soon as a stateful
  * query runs a no-data batch. Parsed files are cached.
  */
final class QueryCheckpoint(dir: Path) {
  private val offsets = mutable.Map.empty[Long, Long]
  private val fileOffset = mutable.Map.empty[String, Long]
  private val parsedLogs = mutable.Set.empty[String]

  def refresh(): Unit = {
    Fs.list(dir.resolve("offsets")).foreach { p =>
      val n = p.getFileName.toString
      if (n.nonEmpty && n.forall(_.isDigit) && !offsets.contains(n.toLong))
        logOffset(p).foreach(o => offsets(n.toLong) = o)
    }
    Fs.list(dir.resolve("sources").resolve("0")).foreach { p =>
      val n = p.getFileName.toString
      val isLog = n.nonEmpty && (n.forall(_.isDigit) || n.endsWith(".compact"))
      if (isLog && !parsedLogs(n)) {
        try {
          val entries = Files.readAllLines(p).asScala.drop(1).filter(_.trim.nonEmpty)
            .map(Json.parse)
          entries.foreach { e =>
            val name = new java.net.URI(e.get("path").asText()).getPath
            fileOffset(name.substring(name.lastIndexOf('/') + 1)) = e.get("batchId").asLong()
          }
          parsedLogs += n
        } catch { case _: Exception => () } // mid-write: retried on the next refresh
      }
    }
  }

  private def logOffset(p: Path): Option[Long] =
    try Files.readAllLines(p).asScala.find(_.contains("\"logOffset\""))
      .map(l => Json.parse(l).get("logOffset").asLong())
    catch { case _: Exception => None }

  def batchOf(file: String): Option[Long] =
    fileOffset.get(file).flatMap { l =>
      offsets.collect { case (b, o) if o >= l => b }.minOption
    }

  def batches: Int = offsets.size
}

/** The pipelines `PipelineMain` runs: sink directory under `--output`,
  * checkpoint under `<output>/_checkpoints/<name>`.
  */
object Pipelines {
  val SinkDir: Map[String, String] = Map("mapped" -> "mapped", "dedup" -> "dedup",
    "rollup" -> "rollups", "sessions" -> "sessions")
}

/** File-system view of one `PipelineMain` output tree: per pipeline,
  * which batch consumed each landed file and when its sink committed
  * it (`_commits/<batchId>` marker mtime).
  */
final class OutputTree(out: Path, val pipelines: Seq[String]) {
  private val ckpts =
    pipelines.map(p => p -> new QueryCheckpoint(out.resolve("_checkpoints").resolve(p))).toMap
  private val commits = mutable.Map.empty[String, mutable.Map[Long, Long]]

  def sinkDir(p: String): Path = out.resolve(Pipelines.SinkDir(p))

  def refresh(): Unit = pipelines.foreach { p =>
    ckpts(p).refresh()
    val m = commits.getOrElseUpdate(p, mutable.Map.empty)
    Fs.list(sinkDir(p).resolve("_commits")).foreach { f =>
      val id = f.getFileName.toString.toLong
      if (!m.contains(id)) m(id) = Clock.mtimeNs(f)
    }
  }

  def commitTimes(p: String): Map[Long, Long] = commits.get(p).map(_.toMap).getOrElse(Map.empty)

  def firstCommitNs(p: String): Option[Long] = commits.get(p).flatMap(_.values.minOption)

  def lastCommitNs: Option[Long] =
    pipelines.flatMap(p => commits.get(p).flatMap(_.values.maxOption)).maxOption

  /** When every pipeline's sink had committed `file`, if all have. */
  def allCommittedNs(file: String): Option[Long] = {
    val ts = pipelines.map(p => ckpts(p).batchOf(file).flatMap(b => commits.get(p).flatMap(_.get(b))))
    if (ts.forall(_.isDefined)) Some(ts.flatten.max) else None
  }

  /** Batches each query has planned so far (offset-log entries). */
  def plannedBatches(p: String): Int = ckpts(p).batches

  /** Rows in the committed data of an exactly-once sink, counted from
    * the parquet footers (independently of the engine's own counts).
    */
  def committedFooterRows(p: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    commitTimes(p).keys.toSeq.map { id =>
      Fs.list(sinkDir(p).resolve("data").resolve(s"batch=$id"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toUri), conf))
          try r.getRecordCount finally r.close()
        }.sum
    }.sum
  }
}
