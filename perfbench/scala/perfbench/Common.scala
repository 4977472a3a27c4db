package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command line of the benchmark JVM; run.py builds it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, inputs: Path, shared: Path, work: Path, out: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("inputs")),
      Paths.get(need("shared")), Paths.get(need("work")), Paths.get(need("out")))
  }
}

/** Monotonic clock in milliseconds, shared by every record of one run. */
object Clock {
  private val origin = System.nanoTime()
  def ms: Double = (System.nanoTime() - origin) / 1e6
  /** Spark stamps events with wall-clock millis; this maps them onto [[ms]]. */
  private val wallOrigin = System.currentTimeMillis() - (System.nanoTime() - origin) / 1000000L
  def fromWall(wallMs: Double): Double = wallMs - wallOrigin
}

/** One unit of work: an epoch, a statement or a gate. A failed op has no
  * timing — it can never become a latency sample. */
final case class Op(kind: String, id: String, ok: Boolean, err: String,
                    startMs: Double, endMs: Double, units: Long,
                    extra: Map[String, Any] = Map.empty)

/** Runs operations and records each as ok-with-timing or failed. */
final class Ops {
  val all = new ArrayBuffer[Op]()

  def run[A](kind: String, id: String, units: Long = 1L)(f: => A): Option[A] = {
    val t0 = Clock.ms
    try {
      val r = f
      all.synchronized { all += Op(kind, id, ok = true, null, t0, Clock.ms, units) }
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(kind, id, e)
        None
    }
  }

  def fail(kind: String, id: String, e: Throwable): Unit = all.synchronized {
    all += Op(kind, id, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}"
      .take(300), Double.NaN, Double.NaN, 0L)
  }

  def add(op: Op): Unit = all.synchronized { all += op }

  /** Mark every ok op of `kind` whose id satisfies `p` as failed (its output
    * did not match), dropping its timing. */
  def failWhere(reason: String)(p: Op => Boolean): Unit = all.synchronized {
    for (i <- all.indices if all(i).ok && p(all(i)))
      all(i) = all(i).copy(ok = false, err = reason, startMs = Double.NaN, endMs = Double.NaN)
  }

  def json: Seq[Map[String, Any]] = all.synchronized {
    all.toSeq.map { o =>
      Map("kind" -> o.kind, "id" -> o.id, "ok" -> o.ok, "err" -> o.err,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "units" -> o.units) ++ o.extra
    }
  }
}

/** Process-level counters: CPU time and the heap retained after a run. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuMs: Double = os.getProcessCpuTime / 1e6

  /** Heap in use after a full collection, in MB: what the run left live
    * (state, caches, metadata), free of the timing of earlier GCs. Spark's
    * cleaner drops what a collection released (broadcasts, shuffle state of
    * collected plans) on its own thread, and the next collection frees it;
    * the least of four collections 250 ms apart is taken. */
  def liveHeapMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(250)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min
}

object Session {
  /** A fresh local SparkSession on `cores` threads with every scratch path
    * under `work`. `graftSql` adds the graft catalog and the SQL extensions
    * that give UPDATE / MERGE INTO. */
  def build(a: Args, graftSql: Boolean = false, warehouse: Path = null): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("hadoop-tmp").toString)
    if (graftSql)
      b.withExtensions(new graft.catalog.GraftExtensions())
        .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        .config("spark.sql.catalog.graft.warehouse", warehouse.toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  def fresh(p: Path): Path = { deleteRecursively(p); Files.createDirectories(p) }
}

/** Order-independent content digest: row count plus the sum of a 64-bit hash
  * of every row. Any changed, lost or duplicated row changes it. */
object Digest {
  def of(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}"
  }
}

/** Minimal JSON writer for the result file run.py reads. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, render(v).getBytes("UTF-8"))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
