package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.gen.{GenSpec, TranscriptGen}
import graft.table.IcebergLite

/** table_ops: one closed-loop client issuing a seeded statement mix through
  * the graft catalog's SQL surface against a table pre-loaded with hundreds
  * of small epoch commits. The pre-loaded table is the same for every seed
  * (it is built once per checkout); the seed draws the statement sequence. */
object TableOps {
  val Epochs = 120            // pre-loaded epoch commits
  val ConvsPerEpoch = 4
  val Buckets = 2
  val Table = "graft.db.t"
  val Cols = Seq("conv_id", "turn_idx", "role", "tool", "text", "ts")
  val Schema = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("tool", StringType),
    StructField("text", StringType), StructField("ts", TimestampType)))

  /** Statement mix of one block; every block holds exactly this multiset in
    * a seeded order, so runs differ in which conversations they touch and in
    * what order, never in the share of each statement kind. */
  val Block: Seq[String] = Seq.fill(9)("point_read") ++ Seq.fill(5)("asof_read") ++
    Seq.fill(3)("update") ++ Seq("delete", "merge", "compact")
  /** Untimed first statements, one of each kind, so no timed one is the
    * first of its kind in the JVM. */
  val WarmUp: Seq[String] = Block.distinct

  def nConvs: Int = Epochs * ConvsPerEpoch
  def conv(c: Int): String = f"conv-$c%06d"

  val spec = GenSpec(nConvs = nConvs)

  def epochRows(e: Int): Seq[Row] =
    (e * ConvsPerEpoch until (e + 1) * ConvsPerEpoch).flatMap { c =>
      TranscriptGen.turnsFor(c.toLong, spec)
        .map(t => Row(t.conv_id, t.turn_idx, t.role, t.tool, t.text, t.ts))
    }

  /** Builds the pre-loaded warehouse. */
  def preload(a: Args, dir: Path): Map[String, Any] = {
    val wh = Files.createDirectories(dir.resolve("warehouse"))
    val spark = Session.build(a, graftSql = true, warehouse = wh)
    try {
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
      spark.sql(s"""CREATE TABLE $Table (conv_id STRING, turn_idx INT, role STRING,
                   |  tool STRING, text STRING, ts TIMESTAMP)
                   |TBLPROPERTIES ('buckets'='$Buckets')""".stripMargin)
      var rows = 0L
      (0 until Epochs).foreach { e =>
        val rs = epochRows(e)
        rows += rs.size
        spark.createDataFrame(rs.asJava, Schema).writeTo(Table)
          .option("epoch", e.toString).option("queryId", "preload").append()
      }
      Map("epochs" -> Epochs, "rows" -> rows, "convs" -> nConvs, "buckets" -> Buckets,
        "block" -> Block, "warm_up" -> WarmUp)
    } finally Session.stop(spark)
  }

  /** A key-value model of the table, changed by the same statements. */
  final class Model {
    val rows = mutable.HashMap[(String, Int), Row]()
    (0 until Epochs).foreach(e => epochRows(e).foreach(r => rows((r.getString(0), r.getInt(1))) = r))
    /** Rows of the pre-loaded table as of each of its epochs: statements
      * commit later epochs and never change these. */
    val asOfCount: IndexedSeq[Long] =
      (0 until Epochs).map(epochRows(_).size.toLong).scanLeft(0L)(_ + _).tail

    def convCount(c: String): Int = rows.keysIterator.count(_._1 == c)
    def delete(c: String): Unit = rows.keys.filter(_._1 == c).toSeq.foreach(rows.remove)
    def update(c: String, tag: String): Unit =
      rows.filter { case ((cc, i), _) => cc == c && i < 3 }.toSeq.foreach { case (k, r) =>
        rows(k) = Row(r.get(0), r.get(1), r.get(2), r.get(3), r.getString(4) + tag, r.get(5))
      }
    def merge(src: Seq[Row]): Unit = src.foreach { s =>
      val k = (s.getString(0), s.getInt(1))
      rows.get(k) match {
        case Some(r) => rows(k) = Row(r.get(0), r.get(1), s.get(2), r.get(3), s.get(4), r.get(5))
        case None => rows(k) = s
      }
    }
  }

  final case class Stmt(kind: String, sql: String, conv: String, src: Seq[Row], version: Int = -1)

  /** Statement `n` of kind `kind`, on a seeded conversation. */
  def stmt(rng: java.util.Random, n: Int, kind: String): Stmt = {
    val c = conv(rng.nextInt(nConvs))
    kind match {
      case "compact" => Stmt(kind, "CALL graft.system.compact('db.t')", c, Nil)
      case "point_read" =>
        Stmt(kind, s"SELECT ${Cols.mkString(", ")} FROM $Table WHERE conv_id = '$c'", c, Nil)
      case "asof_read" =>
        val v = rng.nextInt(Epochs)
        Stmt(kind, s"SELECT count(*) FROM $Table VERSION AS OF $v", c, Nil, v)
      case "update" =>
        Stmt(kind, s"UPDATE $Table SET text = concat(text, ' [u$n]') " +
          s"WHERE conv_id = '$c' AND turn_idx < 3", c, Nil)
      case "delete" =>
        Stmt(kind, s"DELETE FROM $Table WHERE conv_id = '$c'", c, Nil)
      case "merge" =>
        val ts = new Timestamp(TranscriptGen.BaseEpochSec * 1000L + n * 1000L)
        val src = Seq(Row(c, 0, "merged", null, s"merged turn $n", ts),
          Row(c, 1, "merged", null, s"merged turn $n", ts),
          Row(c, 1000 + n, "user", null, s"inserted turn $n", ts))
        Stmt(kind,
          s"""MERGE INTO $Table t USING merge_src s
             |ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
             |WHEN MATCHED THEN UPDATE SET role = s.role, text = s.text
             |WHEN NOT MATCHED THEN INSERT (conv_id, turn_idx, role, tool, text, ts)
             |  VALUES (s.conv_id, s.turn_idx, s.role, s.tool, s.text, s.ts)""".stripMargin,
          c, src)
    }
  }
}

final class TableRun(a: Args, ops: Ops) {
  import TableOps._
  val perKind = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  var warehouse: Path = _
  var stmts = 0
  var filesBefore = 0L

  def tableRoot: Path = warehouse.resolve("db").resolve("t")

  def setup(i: Int, keep: Boolean): (Double, SparkSession) = {
    val dir = Files2.fresh(a.work.resolve(s"tops-$i"))
    Files2.copyTree(a.shared.resolve("table_ops").resolve("warehouse"), dir.resolve("warehouse"))
    warehouse = dir.resolve("warehouse")
    val t0 = Clock.ms
    val spark = Session.build(a, graftSql = true, warehouse = warehouse)
    spark.conf.set("spark.sql.graft.deleteMode", "mor")
    val n = spark.sql(s"SELECT ${Cols.mkString(", ")} FROM $Table WHERE conv_id = '${conv(1)}'")
      .collect().length
    require(n > 0, "set-up point read found no rows")
    val s = (Clock.ms - t0) / 1000.0
    if (!keep) Session.stop(spark)
    (s, spark)
  }

  private def dataFiles: Long =
    Files.list(tableRoot.resolve("data")).iterator().asScala.count(_.toString.endsWith(".parquet"))

  private lazy val model = new Model
  private val rng = new java.util.Random(a.seed)
  private var n = 0
  var digestOk = false

  private def exec(spark: SparkSession, kind: String, stmtKind: String): Unit = {
    val s = stmt(rng, n, stmtKind)
    val id = s"$n-${s.kind}"
    n += 1
    spark.sparkContext.setLocalProperty("perfbench.op", id)
    if (s.src.nonEmpty)
      spark.createDataFrame(s.src.asJava, Schema).createOrReplaceTempView("merge_src")
    val t0 = Clock.ms
    try {
      val out = spark.sql(s.sql).collect()
      val t1 = Clock.ms
      s.kind match {
        case "delete" => model.delete(s.conv)
        case "update" => model.update(s.conv, s" [u${n - 1}]")
        case "merge" => model.merge(s.src)
        case _ =>
      }
      val wrong = s.kind match {
        case "point_read" =>
          val expect = model.convCount(s.conv)
          Option.when(out.length != expect)(
            s"point read of ${s.conv}: ${out.length} rows, model has $expect")
        case "asof_read" =>
          val (got, expect) = (out.head.getLong(0), model.asOfCount(s.version))
          Option.when(got != expect)(s"count as of epoch ${s.version}: $got, model has $expect")
        case _ => None
      }
      if (wrong.isDefined) ops.fail(kind, id, new IllegalStateException(wrong.get))
      else {
        ops.add(Op(kind, id, ok = true, null, t0, t1, 1L, Map("stmt_kind" -> s.kind)))
        if (kind == "stmt") perKind.getOrElseUpdate(s.kind, mutable.ArrayBuffer()) += t1 - t0
      }
    } catch {
      case scala.util.control.NonFatal(e) => ops.fail(kind, id, e)
    } finally spark.sparkContext.setLocalProperty("perfbench.op", null)
  }

  /** Untimed: one statement of each kind. */
  def warmUp(spark: SparkSession): Unit = WarmUp.foreach(exec(spark, "warm", _))

  /** Timed: a fixed number of whole blocks for the run's `--seconds` (one
    * per 15 s, at least one; a warm block takes about 10 s on 4 cores), so
    * every run has the same statement mix. */
  def run(spark: SparkSession): Unit = {
    filesBefore = dataFiles
    val first = n
    (0 until math.max(1, math.round(a.seconds / 15).toInt)).foreach { _ =>
      new scala.util.Random(rng.nextLong()).shuffle(Block).foreach(exec(spark, "stmt", _))
    }
    stmts = n - first
  }

  /** The table against the model that ran the same statements. */
  def check(spark: SparkSession): Unit = {
    val got = Digest.of(spark.table(Table), Cols)
    val want = Digest.of(spark.createDataFrame(model.rows.values.toSeq.asJava, Schema), Cols)
    digestOk = got == want
    if (!digestOk)
      ops.failWhere(s"table digest $got != model $want")(o => o.kind == "stmt" || o.kind == "warm")
  }

  def manifestFiles: Long =
    Files.walk(tableRoot.resolve("metadata")).iterator().asScala.count(Files.isRegularFile(_))

  def filesWritten: Long = dataFiles - filesBefore

  /** Median of timed direct reads of the table's manifests. */
  def manifestReadMs: Double = {
    val t = new IcebergLite(tableRoot.toString)
    Stats.median((1 to 5).map { _ =>
      val t0 = Clock.ms
      t.snapshots; t.deletes; t.effectiveFileSets
      Clock.ms - t0
    })
  }
}
