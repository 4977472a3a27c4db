package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Defaults, Turn}
import graft.gen.{GenSpec, Mix, TranscriptGen}
import graft.operators.Validation
import graft.stream.{Pipeline, RedactedTurn}
import graft.text.Oracle

/** Seeded inputs of the two stream workloads, with their expected output
  * computed once per seed by the single-threaded reference
  * (`graft.text.Oracle.redactAll`), conversation by conversation. */
object StreamInputs {
  val OutCols = Seq("conv_id", "turn_idx", "session_id", "text_redacted")

  // redact_backlog: a seeded three-quarter sample of a seed-free pool of
  // conversations from the engine's generator (uniform keys), cut by event
  // time into a few large slices
  val PoolConvs = 9600
  val BacklogSlices = 3

  // redact_paced
  val PacedRate = 4000         // turns per second, offered
  val PacedIntervalMs = 100    // one slice file every interval
  val SliceEventSec = 120L     // event time covered by one slice
  val HotShare = 0.05          // share of turns on the one hot conv_id
  val HotPeriodSec = 3000L     // the hot conversation talks in bursts:
  val HotActiveSec = 900L      //   active 900 s of every 3000 s
  val LateShare = 0.005        // planted share of turns behind the watermark
  // Slices 0 and 1 are a prelude, drained before the schedule starts. Spark
  // drops a row as late against the watermark of the batch before its own,
  // which two committed batches have fixed: turns taken from slice 0 and
  // planted in slices >= 2 are late however the later slices are batched.
  val PreludeSlices = 2

  final case class PacedTurn(slice: Int, late: Boolean, t: Turn)

  def pacedSlices(seconds: Double): Int = math.max(20, (seconds * 1000 / PacedIntervalMs).toInt)

  /** Conversations of the paced stream: conv 0 is the hot key, the rest start
    * at seeded offsets so about 900 conversations interleave at any time. */
  final case class PacedSpec(seed: Long, slices: Int) {
    val totalTurns: Long = (PacedRate.toLong * slices * PacedIntervalMs) / 1000
    val spanSec: Long = slices * SliceEventSec
    val hotTurns: Int = (totalTurns * HotShare).toInt
    val nConvs: Int = ((totalTurns - hotTurns) / 25).toInt
    val gen = GenSpec(nConvs = nConvs, seed = seed)
    val hotGen = GenSpec(nConvs = hotTurns / 25 + 1, seed = seed, skewed = true)
    // share of slice-0 turns moved late so that LateShare of all turns is late
    val lateProb: Double = math.min(1.0, LateShare * slices / 0.85)
  }

  def pacedTurns(p: PacedSpec, conv: Long): Seq[PacedTurn] = {
    val base = TranscriptGen.BaseEpochSec * 1000L
    def slice(tsMs: Long) = ((tsMs - base) / (SliceEventSec * 1000L)).toInt
    if (conv == 0L) {
      val turns = TranscriptGen.turnsFor(0L, p.hotGen).take(p.hotTurns)
      val bursts = math.max(1L, p.spanSec / HotPeriodSec)
      val activeMs = bursts * HotActiveSec * 1000L
      turns.zipWithIndex.map { case (t, i) =>
        val off = activeMs * i / turns.size
        val ts = base + (off / (HotActiveSec * 1000L)) * HotPeriodSec * 1000L +
          off % (HotActiveSec * 1000L)
        PacedTurn(slice(ts), late = false, t.copy(ts = new Timestamp(ts)))
      }.filter(_.slice < p.slices)
    } else {
      val turns = TranscriptGen.turnsFor(conv, p.gen)
      val t0 = turns.head.ts.getTime
      val start = base - 400000L + Mix.draw(p.seed, conv, 77L, ((p.spanSec + 400) * 1000).toInt)
      turns.flatMap { t =>
        val ts = start + (t.ts.getTime - t0)
        if (ts < base || slice(ts) >= p.slices) None
        else {
          val s = slice(ts)
          // only valid turns reach the stateful operator's watermark filter
          val late = s == 0 && ts - base < (SliceEventSec - 15) * 1000L &&
            Validation.isValidTurn(t) &&
            Mix.draw(p.seed, conv, 60000L + t.turn_idx, 1000000) < p.lateProb * 1000000
          val dest = if (late)
            PreludeSlices + Mix.draw(p.seed, conv, 61000L + t.turn_idx, p.slices - PreludeSlices)
          else s
          Some(PacedTurn(dest, late, t.copy(ts = new Timestamp(ts))))
        }
      }
    }
  }

  val SetupTurns = 500

  /** The set-up slice: the first turns of slice 0, drained by each set-up. */
  private def setupSlice(spark: SparkSession, dir: Path): Unit = {
    val tmp = dir.resolve(".tmp-setup")
    spark.read.parquet(dir.resolve("slices").resolve("slice-0000.parquet").toString)
      .orderBy("ts", "conv_id", "turn_idx").limit(SetupTurns)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val dst = Files.createDirectories(dir.resolve("setup"))
    Files.move(Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get,
      dst.resolve("slice-0000.parquet"))
    Files2.deleteRecursively(tmp)
  }

  private def expectedDigest(spark: SparkSession, turns: Dataset[RedactedTurn]): String =
    Digest.of(turns.toDF(), OutCols)

  /** The seed-free pool of `redact_backlog`, built once per checkout: the
    * generated conversations cut by event time into the backlog's slices
    * (as `StreamFixtures.writeSlices` does: each slice one file of
    * splittable row groups, sorted by event time), the flush slice, the
    * set-up slice, and the reference output of every conversation. A seed
    * keeps a sample of each slice, so a new seed costs one filtered copy
    * per slice instead of a generator pass, a sort and a reference pass. */
  def pool(spark: SparkSession, dir: Path): Map[String, Any] = {
    import spark.implicits._
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val spec = GenSpec(nConvs = PoolConvs)
    val turns = TranscriptGen.dataset(spark, spec).toDF()
    val slices = Files.createDirectories(dir.resolve("slices"))
    val tmp = dir.resolve(".tmp-slices")
    turns.repartitionByRange(BacklogSlices, col("ts"), col("conv_id"), col("turn_idx"))
      .sortWithinPartitions("ts", "conv_id", "turn_idx")
      .write.option("parquet.block.size", 4 * 1024 * 1024).mode(SaveMode.Overwrite)
      .parquet(tmp.toString)
    val parts = Files.list(tmp).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    require(parts.size == BacklogSlices, s"${parts.size} slices, expected $BacklogSlices")
    parts.zipWithIndex.foreach { case (p, i) => publish(p, slices, i) }
    Files2.deleteRecursively(tmp)
    // the flush slice pushes the watermark past every session gap
    val maxTs = turns.agg(max(col("ts"))).head().getTimestamp(0).getTime
    single(Seq(Pipeline.flushTurn(maxTs + (Defaults.SessionGapSec + 3600L) * 1000L)).toDS().toDF(),
      dir.resolve(".tmp-flush"), slices, BacklogSlices)
    setupSlice(spark, dir)
    spark.range(0, PoolConvs.toLong, 1, 16).as[Long]
      .flatMap(c => Oracle.redactAll(TranscriptGen.turnsFor(c, spec).filter(Validation.isValidTurn)))
      .select(OutCols.map(col): _*).write.parquet(dir.resolve("expected").toString)
    Map("pool_convs" -> PoolConvs)
  }

  /** The conversations of the pool a seed keeps: three in four, by a seeded hash. */
  private def kept(seed: Long) = pmod(xxhash64(col("conv_id"), lit(seed)), lit(4L)) =!= 0

  /** Writes the backlog slices of one seed, the setup slice, and returns the
    * input description with the expected digest. */
  def backlog(spark: SparkSession, seed: Long, pool: Path, dir: Path): Map[String, Any] = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val slices = Files.createDirectories(dir.resolve("slices"))
    (0 until BacklogSlices).foreach { i =>
      val f = f"slice-$i%04d.parquet"
      // a filter keeps the pool slice's order; the local sort makes sure
      single(spark.read.parquet(pool.resolve("slices").resolve(f).toString).where(kept(seed))
        .coalesce(1).sortWithinPartitions("ts", "conv_id", "turn_idx"), dir.resolve(".tmp-slice"),
        slices, i)
    }
    val flush = f"slice-$BacklogSlices%04d.parquet"
    Files.copy(pool.resolve("slices").resolve(flush), slices.resolve(flush),
      StandardCopyOption.COPY_ATTRIBUTES)
    Files2.copyTree(pool.resolve("setup"), dir.resolve("setup"))
    val perSlice = spark.read.parquet(slices.toString).where(col("conv_id") =!= Pipeline.FlushConvId)
      .groupBy(input_file_name()).count().collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1).map(_._2).toSeq
    val expected = spark.read.parquet(pool.resolve("expected").toString).where(kept(seed))
    Map("turns" -> perSlice.sum, "pool_convs" -> PoolConvs, "kept_share" -> 0.75,
      "slices" -> BacklogSlices, "files" -> (BacklogSlices + 1), "turns_per_slice" -> perSlice,
      "late_turns" -> 0L, "hot_share" -> 0.0, "expected_digest" -> Digest.of(expected, OutCols))
  }

  /** Writes `df` as one slice file of splittable row groups, published as slice `i`. */
  private def single(df: DataFrame, tmp: Path, slices: Path, i: Int): Unit = {
    df.coalesce(1).write.option("parquet.block.size", 4 * 1024 * 1024).mode(SaveMode.Overwrite)
      .parquet(tmp.toString)
    publish(Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get, slices, i)
    Files2.deleteRecursively(tmp)
  }

  /** Moves a slice file into place with an mtime that orders it for the file source. */
  private def publish(part: Path, slices: Path, i: Int): Unit = {
    val dst = slices.resolve(f"slice-$i%04d.parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000000000L + i * 60000L))
  }

  /** Writes the paced slices (staged, published later on schedule) and
    * returns the input description. */
  def paced(spark: SparkSession, seed: Long, seconds: Double, dir: Path): Map[String, Any] = {
    import spark.implicits._
    val p = PacedSpec(seed, pacedSlices(seconds))
    val all = spark.range(0, p.nConvs.toLong, 1, 16).as[Long].flatMap(c => pacedTurns(p, c))
    val tmp = dir.resolve(".tmp")
    all.select(col("slice"), col("t.*"))
      .repartition(col("slice")).sortWithinPartitions("slice", "ts", "conv_id", "turn_idx")
      .write.mode(SaveMode.Overwrite).partitionBy("slice").parquet(tmp.toString)
    val slices = Files.createDirectories(dir.resolve("slices"))
    (0 until p.slices).foreach { i =>
      val d = tmp.resolve(s"slice=$i")
      val parts = if (Files.exists(d))
        Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq else Nil
      require(parts.size == 1, s"slice $i has ${parts.size} files")
      Files.move(parts.head, slices.resolve(f"slice-$i%04d.parquet"))
    }
    Files2.deleteRecursively(tmp)
    setupSlice(spark, dir)
    val stats = all.groupBy("slice").agg(count(lit(1)).as("n"),
      sum(when(col("late"), 1L).otherwise(0L)).as("late"),
      sum(when(col("t.conv_id") === "conv-000000", 1L).otherwise(0L)).as("hot"),
      max(col("t.ts")).as("max_ts")).collect()
    val perSlice = stats.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val late = stats.map(_.getLong(2)).sum
    val hot = stats.map(_.getLong(3)).sum
    val maxTs = stats.map(_.getTimestamp(4).getTime).max
    val flushTs = maxTs + (Defaults.SessionGapSec + 3600L) * 1000L
    val f = dir.resolve(".tmp-flush")
    Seq(Pipeline.flushTurn(flushTs)).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(f.toString)
    Files.move(Files.list(f).iterator().asScala.find(_.toString.endsWith(".parquet")).get,
      slices.resolve(f"slice-${p.slices}%04d.parquet"))
    Files2.deleteRecursively(f)
    val expected = all.where(!col("late")).select("t.*").as[Turn]
      .filter(t => Validation.isValidTurn(t))
      .groupByKey(_.conv_id).flatMapGroups((_, ts) => Oracle.redactAll(ts.toSeq))
    // event-time span of a session, in slices, over a sample of conversations
    val spans = (1L to math.min(400L, p.nConvs - 1L)).flatMap { c =>
      Oracle.sessionize(pacedTurns(p, c).filter(!_.late).map(_.t))
        .map(s => (s.last.ts.getTime - s.head.ts.getTime) / 1000.0 + Defaults.SessionGapSec)
    }
    val total = perSlice.values.sum
    Map("turns" -> total, "slices" -> p.slices, "files" -> (p.slices + 1),
      "turns_per_slice" -> (0 until p.slices).map(i => perSlice.getOrElse(i, 0L)),
      "late_turns" -> late, "late_share" -> late.toDouble / total,
      "hot_turns" -> hot, "hot_share" -> hot.toDouble / total,
      "rate_turns_per_s" -> PacedRate, "interval_ms" -> PacedIntervalMs,
      "slice_event_s" -> SliceEventSec,
      "session_open_slices_median" -> Stats.median(spans.map(_ / SliceEventSec)),
      "expected_digest" -> expectedDigest(spark, expected))
  }
}
