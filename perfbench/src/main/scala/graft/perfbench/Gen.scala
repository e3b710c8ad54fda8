package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.audio.Codecs
import graft.synth.ClipGen

/** One generated clip: its `event_id` (which fixes every other column
  * through [[ClipGen.metaProjection]]), its event time in microseconds
  * after [[Gen.Epoch]], and the landing unit (file) it belongs to.
  */
final case class ClipSpec(eventId: Long, tsUs: Long, file: Int) {
  /** [[ClipGen.metaProjection]] gives codec `unknown` to these. */
  def decodable: Boolean = eventId % 20 != 19
}

/** Seeded input generation. Everything here runs before any timing
  * starts; the engine only ever sees the files it writes.
  */
object Gen {

  val Epoch: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  def ldt(us: Long): LocalDateTime = Epoch.plusNanos(us * 1000L)

  /** Event time between consecutive generated clips. */
  val SpacingUs = 200000L

  /** `files` × `perFile` clips in event-time order, [[SpacingUs]] of
    * event time apart with seeded jitter below half a spacing (so times
    * stay strictly increasing and no row is ever behind the watermark).
    * Each clip gets a distinct seeded `event_id`, which fixes its codec,
    * rate, duration and key (one in five rows lands on a hot key).
    */
  def clipSpecs(seed: Long, files: Int, perFile: Int): IndexedSeq[ClipSpec] = {
    val rng = new java.util.SplittableRandom(seed)
    IndexedSeq.tabulate(files * perFile) { i =>
      ClipSpec(i * 1000L + rng.nextInt(1000), i * SpacingUs + rng.nextLong(SpacingUs / 2),
        i / perFile)
    }
  }

  /** Writes one parquet file per landing unit, in the clip table schema
    * (`graft.model.Schemas.clips`): metadata from
    * [[ClipGen.metaProjection]] over the seeded `(event_id, ts)` rows,
    * audio from `Codecs.encode(samplesFor(...))` exactly as
    * [[ClipGen.clips]] synthesizes it. Returns file index → file.
    */
  def writeClipFiles(spark: SparkSession, specs: Seq[ClipSpec],
      stageDir: Path): Map[Int, Path] = {
    import spark.implicits._
    // (event_id, event time) is unique per generated clip
    val fileOf = specs.map(s => (s.eventId, ldt(s.tsUs)) -> s.file).toMap
    val nFiles = fileOf.values.toSet.size
    // partition the small metadata rows by file before synthesizing the
    // audio, so each file's rows are written by one task with no shuffle
    val ev = specs.map(s => (s.eventId, ldt(s.tsUs), s.file)).toDF("event_id", "ts", "file")
      .repartition(math.min(nFiles, 64), col("file"))
    ClipGen.metaProjection(ev)
      .as[(String, Int, Int, String, String, LocalDateTime, Long)]
      .map { case (clipId, srHz, durMs, codec, transcript, eventTime, eventId) =>
        val bytes =
          if (codec == "unknown") Array.tabulate[Byte](16)(i => ((eventId + i) % 251).toByte)
          else Codecs.encode(codec, ClipGen.samplesFor(eventId, srHz, durMs))
        (clipId, bytes, srHz, durMs, codec, transcript, eventTime, fileOf((eventId, eventTime)))
      }
      .toDF("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "event_time", "file")
      .write.partitionBy("file").parquet(stageDir.toString)
    Fs.list(stageDir).filter(_.getFileName.toString.startsWith("file=")).map { d =>
      val parts = Fs.list(d).filter(_.getFileName.toString.endsWith(".parquet"))
      require(parts.size == 1, s"expected one parquet file in $d, found ${parts.size}")
      d.getFileName.toString.stripPrefix("file=").toInt -> parts.head
    }.toMap
  }

  /** Moves generated files into `inputDir` as `f-<index>.parquet`
    * (atomic renames, nothing else).
    */
  def land(file: Path, inputDir: Path, index: Int): Path =
    Files.move(file, inputDir.resolve(f"f-$index%05d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

  val EventTypes: Seq[String] = Seq("click", "view", "purchase", "signup", "error")

  /** A seeded `events` table in the testdata schema
    * (`graft.model.Schemas.events`) and an `orders` table for the as-of
    * join, written as single-file parquet datasets under `sfDir`.
    */
  def writeEventTables(spark: SparkSession, seed: Long, nEvents: Int,
      sfDir: Path): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    val month = 30L * 24 * 3600 * 1000000L
    val users = math.max(5, nEvents / 67)
    val events = (0 until nEvents).map { i =>
      (i.toLong, ldt(rng.nextLong(month)), rng.nextInt(users).toLong,
        EventTypes(rng.nextInt(EventTypes.size)),
        math.round((0.01 + rng.nextDouble() * 490.0) * 100.0) / 100.0,
        s"""{"k": ${rng.nextInt(100)}}""")
    }
    events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(sfDir.resolve("events.parquet").toString)
    val statuses = Seq("O", "F", "P")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (1 to nEvents / 2).map { k =>
      (k.toLong, rng.nextInt(users).toLong, statuses(rng.nextInt(3)),
        math.round(rng.nextDouble() * 50000.0 * 100.0) / 100.0,
        ldt(rng.nextLong(month)), prios(rng.nextInt(prios.size)))
    }
    orders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .coalesce(1).write.parquet(sfDir.resolve("orders.parquet").toString)
  }
}
