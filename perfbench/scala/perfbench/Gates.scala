package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.gen.Fixtures

/** batch_gates: passes over a fixed set of the oracle-checked
  * `SparkEntry.queries` gates. The set covers the three modules only gates
  * reach (operators, ops, functions) and fits three passes in a run; gates
  * q26-q44 could not be in it anyway, as they keep their warehouse under a
  * fixed /tmp path, outside the benchmark's root. */
object Gates {
  val SfName = "sf0.001"
  val Docs = 200
  val Vecs = 200
  val Dim = 64

  def gateNo(name: String): Int = name.drop(1).takeWhile(_.isDigit).toInt

  val names: Seq[String] = Seq("q1_redact", "q5_session_stats", "q8_token_count",
    "q13_simhash_pairs", "q17_media_stats", "q22_shingle_detect", "q24_cms_profile")
  val MinPasses = 3
  val WarmUpPasses = 2

  /** The module each gate's work runs in. */
  def module(name: String): String = gateNo(name) match {
    case 22 | 24 => "functions"
    case 11 | 12 | 13 | 14 | 15 | 16 | 17 | 25 => "ops"
    case _ => "operators"
  }

  def sfDir(inputs: Path): Path = inputs.resolve(SfName)

  private val Words = ("the a and of to in is for on it le la les et de un une pour der die " +
    "das und ist ein el los las y es una para data table query stream window join value " +
    "scan merge sort hash batch turn token model plan row key group filter 2026 42 7").split(' ')

  /** Seeded `documents` and `embeddings` tables for the sf directory, and
    * the oracle SQL of the gates. */
  def prepare(spark: SparkSession, seed: Long, inputs: Path): Map[String, Any] = {
    val dir = Files.createDirectories(sfDir(inputs))
    val rng = new java.util.Random(seed)
    val docs = (0 until Docs).map { i =>
      val n = 8 + rng.nextInt(90)
      val text = (0 until n).map(_ => Words(rng.nextInt(Words.length))).mkString(" ")
      Row(i.toLong, text, Seq("en", "fr", "de", "es")(rng.nextInt(4)), s"src${i % 7}",
        text.length.toLong)
    }
    single(spark.createDataFrame(docs.asJava, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))), dir.resolve("documents.parquet"))
    val vecs = (0 until Vecs).map { i =>
      Row(i.toLong, (0 until Dim).map(_ => (rng.nextGaussian() * 0.12).toFloat), rng.nextInt(4))
    }
    single(spark.createDataFrame(vecs.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))), dir.resolve("embeddings.parquet"))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(inputs.resolve("oracle_sql.json"), oracle)
    Map("gates" -> names, "docs" -> Docs, "vecs" -> Vecs, "sf" -> SfName,
      "fixtures" -> Fixtures.DataRoot)
  }

  /** The engine's own gate fixtures (seed-free), under GRAFT_DATA_DIR. */
  def fixtures(spark: SparkSession, dir: Path): Unit = {
    val sf = dir.resolve(SfName).toString
    Fixtures.transcripts(spark, sf); Fixtures.transcriptsSkew(spark, sf)
    Fixtures.transcriptsLate(spark, sf); Fixtures.docs(spark, sf)
    Fixtures.embs(spark, sf); Fixtures.media(spark, sf)
  }

  private def single(df: DataFrame, dst: Path): Unit = {
    val tmp = dst.resolveSibling(dst.getFileName.toString + ".tmp")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.move(part, dst)
    Files2.deleteRecursively(tmp)
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

final class GateRun(a: Args, ops: Ops) {
  import Gates._
  private val sf = sfDir(a.inputs).toString
  val passes = mutable.ArrayBuffer[Double]()

  def order: Seq[String] = {
    val r = new scala.util.Random(a.seed)
    r.shuffle(names)
  }

  def setup(i: Int, keep: Boolean): (Double, SparkSession) = {
    val t0 = Clock.ms
    val spark = Session.build(a)
    force(SparkEntry.queries("q1_redact")(spark, sf))
    val s = (Clock.ms - t0) / 1000.0
    if (!keep) Session.stop(spark)
    (s, spark)
  }

  /** One pass over the gates; `out` set, each result is written there as
    * parquet for the oracle check, else forced through the noop sink. */
  private def pass(spark: SparkSession, kind: String, p: String, out: Option[Path]): Unit = {
    order.foreach { q =>
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.setLocalProperty("perfbench.op", s"$p-$q")
      ops.run(kind, s"$p-$q") {
        val df = SparkEntry.queries(q)(spark, sf)
        out match {
          case Some(dir) => df.write.mode(SaveMode.Overwrite).parquet(dir.resolve(q).toString)
          case None => force(df)
        }
      }
    }
    spark.sparkContext.setLocalProperty("perfbench.op", null)
  }

  /** Untimed first passes: the first runs of each gate in the JVM load its
    * classes and compile its code; one pass left the next still 1.5x slower.
    * The last one writes the results the DuckDB oracle checks. */
  def warmUp(spark: SparkSession): Unit = {
    val out = Files2.fresh(a.work.resolve("gates-out"))
    (1 to WarmUpPasses).foreach(p => pass(spark, "warm", s"w$p", Some(out).filter(_ => p == WarmUpPasses)))
  }

  /** Timed passes over every gate, each forced through the noop sink, a
    * fixed number for the run's `--seconds` (one per 4.5 s, at least
    * [[Gates.MinPasses]]; a warm pass takes 2-3 s on 4 cores); metrics take
    * each gate's median over the passes. */
  def run(spark: SparkSession): Unit =
    (1 to math.max(MinPasses, math.round(a.seconds / 4.5).toInt)).foreach { p =>
      val t0 = Clock.ms
      pass(spark, "gate", p.toString, None)
      passes += Clock.ms - t0
    }
}
