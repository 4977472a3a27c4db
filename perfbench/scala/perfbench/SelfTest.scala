package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.table.IcebergLite

/** Checks of the benchmark's own accounting, run by perfbench/tests:
  *  - an operation that throws is recorded as failed, with no timing;
  *  - a committed table whose data file was corrupted no longer matches its
  *    expected digest.
  * Prints one JSON object. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val work = Files2.fresh(Paths.get(argv(0)))
    val ops = new Ops
    ops.run("stmt", "ok")(Thread.sleep(5))
    ops.run("stmt", "throws")(throw new IllegalStateException("boom"))
    val a = Args("selftest", 0L, 1, trace = false, 1, work, work, work, work.resolve("r.json"))
    val spark = Session.build(a)
    import spark.implicits._
    val cols = Seq("conv_id", "turn_idx", "text")
    val rows = (0 until 20).map(i => (f"conv-$i%06d", i, s"turn text $i")).toDF(cols: _*)
    val root = work.resolve("table").toString
    val t = new IcebergLite(root)
    t.create("conv_id string, turn_idx int, text string", 2)
    t.commitEpoch(rows, "selftest", 0L, 2)
    val expected = Digest.of(rows, cols)
    val before = Digest.of(t.read(spark), cols)
    // rewrite one data file in place with one text value changed
    val f = Files.list(Paths.get(root, "data")).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val tmp = work.resolve("rewrite").toString
    spark.read.parquet(f.toString)
      .withColumn("text", when(col("turn_idx") === spark.read.parquet(f.toString)
        .agg(min("turn_idx")).head().getInt(0), lit("corrupted")).otherwise(col("text")))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    Files.copy(part, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val after = Digest.of(t.read(spark), cols)
    Session.stop(spark)
    println(Json.render(Map("ops" -> ops.json, "expected" -> expected, "before" -> before,
      "after" -> after)))
  }
}
