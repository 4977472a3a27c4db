package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.stream.Pipeline
import graft.table.IcebergLite

/** The two stream workloads, driven through `Pipeline.runRedactionToTable`. */
final class StreamRuns(a: Args, meta: Map[String, Any], ops: Ops, progress: ProgressLog) {
  private val slices = a.inputs.resolve("slices")
  private val expected = meta("expected_digest").toString
  val drains = new ArrayBuffer[Map[String, Any]]()
  val epochs = new ArrayBuffer[(String, Epoch)]() // (run tag, epoch)
  val tables = new ArrayBuffer[(Path, Path)]() // (table, checkpoint)

  private def start(spark: SparkSession, src: Path, dir: Path, trigger: Trigger,
                    maxFiles: Int): StreamingQuery =
    Pipeline.runRedactionToTable(spark, src.toString, dir.resolve("table").toString,
      dir.resolve("ckpt").toString, maxFilesPerTrigger = maxFiles, trigger = trigger)

  private def drainBus(spark: SparkSession): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Set-up: a fresh session drains the first slice; done when epoch 0 is
    * committed. Returns seconds from session build. */
  def setup(i: Int, keep: Boolean): (Double, SparkSession) = {
    val dir = Files2.fresh(a.work.resolve(s"setup-$i"))
    val src = Files.createDirectories(dir.resolve("src"))
    Files.copy(a.inputs.resolve("setup").resolve("slice-0000.parquet"),
      src.resolve("slice-0000.parquet"))
    val t0 = Clock.ms
    val spark = Session.build(a)
    spark.streams.addListener(progress)
    val q = start(spark, src, dir, Trigger.AvailableNow(), 1)
    q.awaitTermination()
    drainBus(spark)
    val first = progress.of(q.id.toString).headOption
      .getOrElse(throw new IllegalStateException("set-up stream ran no epoch"))
    val s = (first.endMs - t0) / 1000.0
    if (!keep) Session.stop(spark)
    (s, spark)
  }

  private def tableDigest(spark: SparkSession, dir: Path): String =
    Digest.of(new IcebergLite(dir.resolve("table").toString).read(spark), StreamInputs.OutCols)

  /** Untimed: a drain of the first slice on a fresh table, so the timed
    * drains run compiled code; a first drain in the JVM is about a fifth
    * slower per epoch than the ones after it. */
  def warmUp(spark: SparkSession): Unit = {
    val dir = Files2.fresh(a.work.resolve("warm-up"))
    val src = Files.createDirectories(dir.resolve("src"))
    Files.copy(slices.resolve("slice-0000.parquet"), src.resolve("slice-0000.parquet"))
    ops.run("warm", "warm-drain") {
      start(spark, src, dir, Trigger.AvailableNow(), 1).awaitTermination()
    }
    Files2.deleteRecursively(dir)
  }

  /** Closed loop: drain the whole backlog with AvailableNow, one slice per
    * epoch, on a fresh table each time. A run makes a fixed number of drains
    * for its `--seconds` (one per 10 s, at least one; a warm drain takes
    * 8-10 s on 4 cores), so every run has the same mix of first and later
    * epochs. The tables are checked after the measured window
    * ([[checkBacklog]]). */
  def backlog(spark: SparkSession): Unit = {
    val n = math.max(1, math.round(a.seconds / 10).toInt)
    (0 until n).foreach { d =>
      val tag = s"d$d"
      val dir = Files2.fresh(a.work.resolve(s"drain-$d"))
      val cpu0 = Proc.cpuMs
      val t0 = Clock.ms
      try {
        val q = start(spark, slices, dir, Trigger.AvailableNow(), 1)
        q.awaitTermination()
        val t1 = Clock.ms
        val cpu = Proc.cpuMs - cpu0
        drainBus(spark)
        val es = progress.of(q.id.toString)
        es.zipWithIndex.foreach { case (e, i) =>
          epochs += tag -> e
          ops.add(Op("epoch", s"$tag-b${e.batchId}", ok = true, null, e.startMs, e.endMs,
            e.inputRows, Map("first" -> (i == 0))))
        }
        drained += Map("tag" -> tag, "dir" -> dir, "wall_ms" -> (t1 - t0), "cpu_ms" -> cpu,
          "dropped_late" -> es.map(_.droppedLate).sum)
      } catch {
        case NonFatal(e) => ops.fail("epoch", s"$tag-failed", e)
      }
    }
  }

  private val drained = new ArrayBuffer[Map[String, Any]]()

  /** Output check of the timed drains, after the measured window: each
    * committed table against the expected digest. */
  def checkBacklog(spark: SparkSession): Unit = drained.foreach { d =>
    val tag = d("tag").toString
    val dir = d("dir").asInstanceOf[Path]
    val got = try tableDigest(spark, dir) catch { case NonFatal(e) => s"unreadable: $e" }
    if (got != expected)
      ops.failWhere(s"table digest $got != expected $expected")(_.id.startsWith(s"$tag-"))
    drains += (d - "dir") ++ Map("digest_ok" -> (got == expected),
      "committed" -> got.takeWhile(_ != ':').toLongOption.getOrElse(0L))
    tables += ((dir.resolve("table"), dir.resolve("ckpt")))
  }

  /** Open loop: a generator thread publishes one slice file every interval,
    * on schedule whatever the stream does; each slice's latency runs from
    * its due time to the commit of the epoch that consumed it. */
  def paced(spark: SparkSession): Unit = {
    val tag = "p0"
    val dir = Files2.fresh(a.work.resolve("paced"))
    val stage = Files.createDirectories(dir.resolve("stage"))
    val src = Files.createDirectories(dir.resolve("src"))
    val n = meta("slices").toString.toInt
    val perSlice = meta("turns_per_slice").asInstanceOf[Seq[Any]].map(_.toString.toLong)
    (0 to n).foreach { i =>
      val f = f"slice-$i%04d.parquet"
      Files.copy(slices.resolve(f), stage.resolve(f))
    }
    val interval = StreamInputs.PacedIntervalMs.toDouble
    val due = new Array[Double](n + 1)
    val sent = new Array[Double](n + 1)
    try {
      val q = start(spark, src, dir, Trigger.ProcessingTime(0L), 100000)
      def publish(i: Int): Unit = {
        val f = f"slice-$i%04d.parquet"
        Files.move(stage.resolve(f), src.resolve(f))
        sent(i) = Clock.ms
      }
      (0 until StreamInputs.PreludeSlices).foreach { i => publish(i); q.processAllAvailable() }
      val first = StreamInputs.PreludeSlices
      val cpu0 = Proc.cpuMs
      val t0 = Clock.ms + 20
      val gen = new Thread(() => {
        (first to n).foreach { i =>
          due(i) = t0 + (i - first) * interval
          val wait = due(i) - Clock.ms
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          publish(i)
        }
      }, "perfbench-paced-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      q.processAllAvailable()
      // the stateful timeouts the flush slice releases fire in the next batch
      val flushBatch = q.lastProgress.batchId
      val limit = Clock.ms + 60000
      while (q.lastProgress.batchId <= flushBatch && Clock.ms < limit && q.isActive)
        Thread.sleep(10)
      q.stop()
      val cpu = Proc.cpuMs - cpu0
      drainBus(spark)
      val es = progress.of(q.id.toString)
      val byBatch = es.map(e => e.batchId -> e).toMap
      es.foreach(e => epochs += tag -> e)
      val batchOf = SourceLog.batchOfFile(dir.resolve("ckpt"))
      (first until n).foreach { i =>
        val b = batchOf.get(f"slice-$i%04d.parquet").flatMap(byBatch.get)
        b match {
          case Some(e) =>
            ops.add(Op("slice", f"s$i%04d", ok = true, null, due(i), e.endMs, perSlice(i),
              Map("batch" -> e.batchId, "sent_ms" -> sent(i))))
          case None =>
            ops.fail("slice", f"s$i%04d", new IllegalStateException("slice never committed"))
        }
      }
      val got = tableDigest(spark, dir)
      val dropped = es.map(_.droppedLate).sum
      val planted = meta("late_turns").toString.toLong
      if (got != expected)
        ops.failWhere(s"table digest $got != expected $expected")(_.kind == "slice")
      if (dropped != planted)
        ops.failWhere(s"dropped late rows $dropped != planted $planted")(_.kind == "slice")
      drains += Map("tag" -> tag, "wall_ms" -> (es.last.endMs - due(first)), "cpu_ms" -> cpu,
        "committed" -> got.takeWhile(_ != ':').toLong, "digest_ok" -> (got == expected),
        "dropped_late" -> dropped, "planted_late" -> planted,
        "timed_turns" -> (first until n).map(perSlice).sum,
        "gen_late_ms_max" -> (first to n).map(i => sent(i) - due(i)).max,
        "backlog_slices_max" -> batchOf.values.groupBy(identity).values.map(_.size).max)
      tables += ((dir.resolve("table"), dir.resolve("ckpt")))
    } catch {
      case NonFatal(e) => ops.fail("slice", "failed", e)
    }
  }
}

/** Reads the file-source log of a streaming checkpoint: which micro-batch
  * consumed which file. */
object SourceLog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def batchOfFile(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap(p => Files.readAllLines(p).asScala.drop(1))
      .filter(_.startsWith("{"))
      .map { l =>
        val n = mapper.readTree(l)
        val path = n.get("path").asText()
        path.substring(path.lastIndexOf('/') + 1) -> n.get("batchId").asLong()
      }.toMap
  }
}
