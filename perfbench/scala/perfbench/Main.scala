package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.Turn
import graft.gen.Fixtures
import graft.table.IcebergLite

/** Entry point of the benchmark JVM: builds (or reuses) the inputs of one
  * workload and seed, measures the workload, and writes a result file with
  * every raw record. run.py turns that file into metrics and checks. */
object Main {
  /** Set-ups per run; `setup_s` is their median, so the first (cold JVM)
    * one never sets it. Five where a set-up takes under a second; three for
    * the stream, whose set-up (a stream start and its first epoch) takes
    * about 2 s and spreads less. */
  def setupReps(workload: String): Int = if (workload.startsWith("redact_")) 3 else 5

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val meta = inputs(a)
    if (a.workload == "prepare") return
    val ops = new Ops
    val progress = new ProgressLog
    val trace = if (a.trace) Some(new JobTrace) else None
    val layers = mutable.LinkedHashMap[String, Double]()
    var spans = Seq.empty[Span]
    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "meta" -> meta)

    def setups(f: (Int, Boolean) => (Double, SparkSession)): SparkSession = {
      val n = setupReps(a.workload)
      val rs = (0 until n).map(i => f(i, i == n - 1))
      result("setup_s") = rs.map(_._1)
      val spark = rs.last._2
      trace.foreach(spark.sparkContext.addSparkListener(_))
      spark
    }
    def measured[A](spark: SparkSession)(body: => A): A = {
      val cpu0 = Proc.cpuMs
      val t0 = Clock.ms
      val r = body
      result("measured_start_ms") = t0
      result("measured_ms") = Clock.ms - t0
      result("cpu_ms") = Proc.cpuMs - cpu0
      result("live_heap_mb") = Proc.liveHeapMb()
      org.apache.spark.BusDrain(spark.sparkContext)
      r
    }

    val spark: SparkSession = a.workload match {
      case "redact_backlog" | "redact_paced" =>
        val sr = new StreamRuns(a, meta, ops, progress)
        val spark = setups(sr.setup)
        if (a.workload == "redact_backlog") sr.warmUp(spark)
        measured(spark) {
          if (a.workload == "redact_backlog") sr.backlog(spark) else sr.paced(spark)
        }
        if (a.workload == "redact_backlog") sr.checkBacklog(spark)
        result("drains") = sr.drains.toSeq
        trace.foreach { t =>
          spans = StreamLayers(a, t, sr, layers)
          layers ++= Replay.run(sampleTurns(spark, a.inputs.resolve("slices")))
        }
        spark
      case "table_ops" =>
        val tr = new TableRun(a, ops)
        val spark = setups(tr.setup)
        tr.warmUp(spark)
        measured(spark)(tr.run(spark))
        tr.check(spark)
        result("table_ok") = tr.digestOk
        trace.foreach { t =>
          spans = TableLayers(t, tr, ops, layers)
          layers ++= Replay.run((0 until TableOps.nConvs).iterator
            .flatMap(c => graft.gen.TranscriptGen.turnsFor(c.toLong, TableOps.spec))
            .take(3000).toSeq)
        }
        spark
      case "batch_gates" =>
        val gr = new GateRun(a, ops)
        val spark = setups(gr.setup)
        gr.warmUp(spark)
        measured(spark)(gr.run(spark))
        result("gate_passes_ms") = gr.passes.toSeq
        result("gate_modules") = Gates.names.map(q => q -> Gates.module(q)).toMap
        trace.foreach { t =>
          spans = GateLayers(a, t, ops, layers)
          layers ++= Replay.run(sampleTurns(spark,
            java.nio.file.Paths.get(Fixtures.transcriptsPath(Gates.SfName))))
        }
        spark
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    result("ops") = ops.json
    trace.foreach { t =>
      exec(a, t, result("measured_start_ms").asInstanceOf[Double],
        result("measured_ms").asInstanceOf[Double], layers)
      layers("trace.spans") = spans.size.toDouble
      result("layers") = layers.toMap
      val sp = a.out.resolveSibling("spans.jsonl")
      Files.write(sp, spans.map(s => Json.render(s.json)).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    result("env") = Map("cores" -> a.cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version)
    Session.stop(spark)
    Json.write(a.out, result.toMap)
  }

  private def sampleTurns(spark: SparkSession, dir: Path): Seq[Turn] = {
    import spark.implicits._
    spark.read.parquet(dir.toString).as[Turn].filter(_.conv_id != graft.stream.Pipeline.FlushConvId)
      .orderBy("conv_id", "turn_idx").limit(3000).collect().toSeq
  }

  /** Idle cores of the measured window: task time of the jobs that started
    * in it (not of set-ups, warm-ups or checks) against cores x its length. */
  private def exec(a: Args, t: JobTrace, startMs: Double, wallMs: Double,
                   layers: mutable.Map[String, Double]): Unit = {
    val st = t.stagesOf(t.jobsBetween(startMs, startMs + wallMs))
    layers("exec.idle_core_pct") = 100.0 * (1 - st.map(_.runMs).sum / (a.cores * wallMs))
  }

  /** Inputs of one (workload, seed), built once and reused. The seed-free
    * ones (the pre-loaded table, the engine's gate fixtures) are built by the
    * `prepare` workload, once per checkout. */
  def inputs(a: Args): Map[String, Any] = {
    val metaFile = a.inputs.resolve("meta.json")
    if (Files.exists(metaFile)) return JsonRead.map(metaFile)
    Files2.fresh(a.inputs)
    val meta = a.workload match {
      case "prepare" =>
        withSession(a) { spark =>
          Gates.fixtures(spark, a.inputs)
          StreamInputs.pool(spark, a.inputs.resolve("backlog_pool"))
        }
        TableOps.preload(a, a.inputs.resolve("table_ops"))
      case "redact_backlog" =>
        withSession(a)(StreamInputs.backlog(_, a.seed, a.shared.resolve("backlog_pool"), a.inputs))
      case "redact_paced" => withSession(a)(StreamInputs.paced(_, a.seed, a.seconds, a.inputs))
      case "table_ops" => JsonRead.map(a.shared.resolve("meta.json"))
      case "batch_gates" => withSession(a)(Gates.prepare(_, a.seed, a.inputs))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Json.write(metaFile, meta)
    JsonRead.map(metaFile)
  }

  private def withSession[A](a: Args)(f: SparkSession => A): A = {
    val spark = Session.build(a)
    try f(spark) finally Session.stop(spark)
  }
}

object JsonRead {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def conv(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> conv(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(conv).toSeq
    case x => x
  }
  def map(p: Path): Map[String, Any] =
    conv(mapper.readValue(p.toFile, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]
}

/** Per-layer figures of the stream workloads. */
object StreamLayers {
  def apply(a: Args, t: JobTrace, sr: StreamRuns, l: mutable.Map[String, Double]): Seq[Span] = {
    val spans = Seq.newBuilder[Span]
    // epochs that carry data, after each run's first
    val eps = sr.epochs.groupBy(_._1).values.flatMap(_.sortBy(_._2.batchId).drop(1))
      .map(_._2).filter(_.inputRows > 1).toSeq
    val per = eps.map { e =>
      val js = t.jobsOfEpoch(e.queryId, e.batchId)
      val st = t.stagesOf(js)
      val scan = st.filter(_.inputBytes > 0)
      val stateful = st.filter(s => s.shuffleReadBytes > 0)
      val skew = stateful.filter(_.tasks > 0).map { s =>
        s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.toSeq))
      }
      // Progress reports phase lengths, not times: lay them out in
      // MicroBatchExecution order, the first four from the epoch's start and
      // the last two back from its end, where the jobs run. The self time of
      // addBatch is the driver-side sink commit.
      val root = s"${e.queryId.take(8)}-${e.batchId}"
      def len(ph: String) = e.phases.getOrElse(ph, 0L).toDouble
      var cur = e.startMs
      spans += Span("epoch", root, null, root, e.startMs, e.endMs)
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").foreach { ph =>
        spans += Span(ph, s"$root-$ph", root, root, cur, cur + len(ph))
        cur += len(ph)
      }
      val commitStart = e.endMs - len("commitOffsets")
      val addBatch = Span("addBatch", s"$root-addBatch", root, root,
        commitStart - len("addBatch"), commitStart)
      val jobSpans = Spans.jobs(t, root, addBatch.id, js)
      spans += addBatch
      spans ++= jobSpans
      spans += Span("commitOffsets", s"$root-commitOffsets", root, root, commitStart, e.endMs)
      val commitMs = Spans.selfMs(addBatch, jobSpans.filter(_.name == "job"))
      Map(
        "scan_task_ms" -> scan.map(_.runMs).sum,
        "input_mb" -> st.map(_.inputBytes).sum / 1048576.0,
        "stateful_task_ms" -> stateful.map(_.runMs).sum,
        "stateful_cpu_ms" -> stateful.map(_.cpuMs).sum,
        "gc_ms" -> stateful.map(_.gcMs).sum,
        "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1048576.0,
        "fetch_wait_ms" -> st.map(_.fetchWaitMs).sum,
        "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "driver_commit_ms" -> commitMs,
        "offset_ms" -> (e.phases.getOrElse("latestOffset", 0L) + e.phases.getOrElse("getBatch", 0L)).toDouble,
        "plan_ms" -> e.phases.getOrElse("queryPlanning", 0L).toDouble,
        "wal_ms" -> (e.phases.getOrElse("walCommit", 0L) + e.phases.getOrElse("commitOffsets", 0L)).toDouble,
        "state_rows" -> e.stateRowsTotal.toDouble,
        "state_rows_updated" -> e.stateRowsUpdated.toDouble,
        "state_mem_mb" -> e.stateMemBytes / 1048576.0,
        "state_commit_ms" -> e.stateCommitMs.toDouble)
    }
    def med(k: String) = Stats.median(per.map(_(k)))
    Seq("scan_task_ms", "input_mb", "offset_ms").foreach(k => l(s"sources.$k") = med(k))
    Seq("stateful_task_ms", "stateful_cpu_ms", "gc_ms", "state_rows", "state_rows_updated",
      "state_mem_mb", "state_commit_ms", "task_skew", "plan_ms", "wal_ms")
      .foreach(k => l(s"stream.$k") = med(k))
    l("exchange.shuffle_write_mb") = med("shuffle_write_mb")
    l("exchange.fetch_wait_ms") = med("fetch_wait_ms")
    l("sink.driver_commit_ms") = med("driver_commit_ms")
    l("stream.dropped_late_rows") = sr.drains.map(_("dropped_late").toString.toDouble).sum /
      math.max(1, sr.drains.size)
    sr.drains.headOption.foreach { d =>
      l("gen.late_ms_max") = d.getOrElse("gen_late_ms_max", 0.0).toString.toDouble
      l("sources.backlog_slices_max") = d.getOrElse("backlog_slices_max", 1).toString.toDouble
    }
    sr.tables.headOption.foreach { case (table, ckpt) =>
      val snaps = new IcebergLite(table.toString).snapshots.filter(_.files.nonEmpty)
      l("sink.files_per_epoch") = Stats.median(snaps.map(_.files.size.toDouble))
      l("sink.mb_per_epoch") = Stats.median(snaps.map(_.files.map(_.sizeBytes).sum / 1048576.0))
      l("stream.state_delta_mb") = Stats.median(stateDeltaBytes(ckpt).map(_ / 1048576.0))
    }
    spans.result()
  }

  /** New state-store bytes written per epoch: delta files grouped by version. */
  def stateDeltaBytes(ckpt: Path): Seq[Double] = {
    val st = ckpt.resolve("state")
    if (!Files.exists(st)) return Nil
    Files.walk(st).iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.matches("""\d+\.(delta|snapshot)"""))
      .toSeq.groupBy(_.getFileName.toString.takeWhile(_.isDigit).toLong)
      .toSeq.sortBy(_._1).map(_._2.map(Files.size).sum.toDouble)
  }
}

/** Per-layer figures of table_ops. */
object TableLayers {
  def apply(t: JobTrace, tr: TableRun, ops: Ops, l: mutable.Map[String, Double]): Seq[Span] = {
    val stmts = ops.all.filter(o => o.kind == "stmt" && o.ok).toSeq
    val spans = Seq.newBuilder[Span]
    val per = stmts.map { o =>
      val js = t.jobsOfOp(o.id)
      val span = Span("stmt", o.id, null, o.id, o.startMs, o.endMs)
      val jobSpans = Spans.jobs(t, o.id, o.id, js)
      spans += span
      spans ++= jobSpans
      val driverMs = Spans.selfMs(span, jobSpans.filter(_.name == "job"))
      (driverMs, o.endMs - o.startMs - driverMs, js.size.toDouble, t.stagesOf(js))
    }
    l("table.driver_ms_per_stmt") = Stats.median(per.map(_._1))
    l("table.job_ms_per_stmt") = Stats.median(per.map(_._2))
    l("table.jobs_per_stmt") = Stats.median(per.map(_._3))
    l("table.manifest_files") = tr.manifestFiles.toDouble
    l("table.manifest_read_ms") = tr.manifestReadMs
    l("table.files_written_per_stmt") = tr.filesWritten.toDouble / math.max(1, tr.stmts)
    Seq("point_read", "delete", "update", "merge", "asof_read", "compact").foreach { k =>
      l(s"table.${k}_ms") = Stats.median(tr.perKind.getOrElse(k, Nil).toSeq)
    }
    l("sources.scan_task_ms") = Stats.median(per.map(_._4.filter(_.inputBytes > 0).map(_.runMs).sum))
    l("sources.input_mb") = Stats.median(per.map(_._4.map(_.inputBytes).sum / 1048576.0))
    l("exchange.shuffle_write_mb") = Stats.median(per.map(_._4.map(_.shuffleWriteBytes).sum / 1048576.0))
    l("exchange.fetch_wait_ms") = Stats.median(per.map(_._4.map(_.fetchWaitMs).sum))
    spans.result()
  }
}

/** Per-layer figures of batch_gates. */
object GateLayers {
  def apply(a: Args, t: JobTrace, ops: Ops, l: mutable.Map[String, Double]): Seq[Span] = {
    val gates = ops.all.filter(o => o.kind == "gate" && o.ok).toSeq
    val passes = math.max(1, gates.map(_.id.takeWhile(_ != '-')).distinct.size)
    val spans = Seq.newBuilder[Span]
    val per = gates.map { o =>
      val js = t.jobsOfOp(o.id)
      val span = Span("gate", o.id, null, o.id, o.startMs, o.endMs)
      val jobSpans = Spans.jobs(t, o.id, o.id, js)
      spans += span
      spans ++= jobSpans
      val q = o.id.dropWhile(_ != '-').drop(1)
      (q, o.endMs - o.startMs, Spans.selfMs(span, jobSpans.filter(_.name == "job")),
        t.stagesOf(js))
    }
    val byGate = per.groupBy(_._1)
    def perPass(f: ((String, Double, Double, Seq[StageAgg])) => Double) = per.map(f).sum / passes
    Seq("operators", "ops", "functions").foreach { m =>
      l(s"$m.gates_s") = byGate.filter(g => Gates.module(g._1) == m)
        .values.map(g => Stats.median(g.map(_._2))).sum / 1000
    }
    l("gates.driver_s") = perPass(_._3) / 1000
    l("gates.exec_cpu_s") = perPass(_._4.map(_.cpuMs).sum) / 1000
    l("gates.gc_s") = perPass(_._4.map(_.gcMs).sum) / 1000
    l("gates.shuffle_mb") = perPass(_._4.map(_.shuffleWriteBytes).sum) / 1048576.0
    l("sources.scan_task_ms") = Stats.median(per.map(_._4.filter(_.inputBytes > 0).map(_.runMs).sum))
    l("sources.input_mb") = Stats.median(per.map(_._4.map(_.inputBytes).sum / 1048576.0))
    l("exchange.shuffle_write_mb") = Stats.median(per.map(_._4.map(_.shuffleWriteBytes).sum / 1048576.0))
    l("exchange.fetch_wait_ms") = Stats.median(per.map(_._4.map(_.fetchWaitMs).sum))
    spans.result()
  }
}
