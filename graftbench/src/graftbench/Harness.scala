package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload is: a fixture it builds on a fresh session, and rounds of
  * ops it issues one after another from the client thread (closed loop, one
  * client). The op stream is a function of the seed alone. */
trait Workload {
  /** Build and load the fixture under `dir`. Called once per set-up. */
  def setup(spark: SparkSession, dir: String): Unit
  /** Ops run before timing starts, so code paths are compiled and caches
    * warm; they go through the same checks as timed ops. */
  def warmup(ctx: Ctx): Unit
  def round(ctx: Ctx, r: Int): Unit
  /** A round's duration on the 4-CPU box the benchmark was defined on: a
    * run makes round(seconds / nominalRoundS) rounds, at least two, so the
    * parent and a change do the same work. */
  def nominalRoundS: Double
  /** End-of-run work and output checks, untimed. */
  def finish(ctx: Ctx): Unit
  /** storage bytes under the workload's roots ÷ user bytes live. */
  def storageAmp: Double
  /** Fixed tail percentiles (the highest with ten samples beyond at the
    * sample counts a run makes). */
  def writeTailPct: Double
  def readTailPct: Double
  /** Per-layer metrics this workload computes itself (from its model and
    * the op records); the runner adds the spark/fs/bench layers. */
  def layerMetrics(ctx: Ctx, traced: Seq[OpRec]): Map[String, Double]
  /** Extra lines for the human-readable report. */
  def info: Map[String, String] = Map.empty
}

final case class OpRec(id: Int, kind: String, name: String, round: Int, traced: Boolean,
                       startMs: Long, endMs: Long, ns: Long, fs: FsStats, rows: Long,
                       var ok: Boolean) {
  def ms: Double = ns / 1e6
}

/** The client: issues ops, times them, attributes counters to them, and
  * keeps the failure count. */
final class Ctx(val spark: SparkSession, val tracing: Boolean) {
  val tracer = new Tracer
  val counters = new SparkCounters
  val phases = new PlanPhases
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var round = -1

  private val seen = mutable.Map.empty[String, Int].withDefaultValue(0)

  def beginRound(r: Int): Unit = round = r

  /** In a traced run every other occurrence of each op name is traced, so
    * traced and untraced samples of one op interleave in time and their
    * difference is the tracing overhead. */
  private def traceNext(name: String): Boolean = {
    val k = seen(name)
    seen(name) = k + 1
    tracing && round >= 0 && k % 2 == 0
  }

  def write[T](name: String, rows: Long)(call: => T): Option[T] = op("write", name, rows)(call)
  def read[T](name: String)(call: => T): Option[T] = op("read", name, 0L)(call)

  /** A call into a layer, inside an op. */
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  private def op[T](kind: String, name: String, rows: Long)(call: => T): Option[T] = {
    val id = ops.length
    val traced = traceNext(name)
    tracer.active = traced
    attempted += 1
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(SparkCounters.OpProperty, id.toString)
    tracer.beginOp(id)
    val fs0 = if (traced) FsStats.snapshot() else FsStats.zero
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(tracer.span(s"op.$kind")(call)) catch { case NonFatal(e) => Left(e) }
    val ns = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    val fs = if (traced) FsStats.snapshot() - fs0 else FsStats.zero
    if (traced) sc.setLocalProperty(SparkCounters.OpProperty, null)
    ops += OpRec(id, kind, name, round, traced, startMs, endMs, ns, fs, rows, ok = true)
    res match {
      case Right(v) => Some(v)
      case Left(e) =>
        markFailed(s"$name raised ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** An output check on the most recent op: a false check fails that op. */
  def check(ok: Boolean, msg: => String): Unit = if (!ok) markFailed(msg)

  private def markFailed(msg: String): Unit = {
    val last = ops.lastOption
    if (last.forall(_.ok)) { failed += 1; last.foreach(_.ok = false) }
    if (failures.length < 20) failures += msg
    System.err.println(s"[graftbench] FAILED: $msg")
  }

  /** A check not tied to one op (end-of-run verification): counted as one
    * attempted operation of its own. */
  def verify(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.length < 20) failures += msg
      System.err.println(s"[graftbench] FAILED: $msg")
    }
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cpus: Int, work: String, out: String)

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("cpus").toInt, m("work"), m("out"))
  }

  def workload(name: String, seed: Long, cpus: Int): Workload = name match {
    case "fhir_ingest" => new FhirIngest(seed)
    case "table_dml"   => new TableDml(seed)
    case "llm_curate"  => new LlmCurate(seed, cpus)
    case other         => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cpus: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code = try run(a) catch {
      case NonFatal(e) =>
        System.err.println(s"[graftbench] run aborted: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  private def run(a: Args): Int = {
    Files.createDirectories(new File(a.work).toPath)
    val wl = workload(a.workload, a.seed, a.cpus)

    // set-up: session start + fixture generation + loading, several times.
    // The first also starts the SparkContext; later ones start a fresh
    // SparkSession on it, with the previous set-up's cached data dropped.
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      val t0 = System.nanoTime()
      spark = if (spark == null) session(a.cpus, a.work) else {
        spark.catalog.clearCache()
        val next = spark.newSession()
        SparkSession.setActiveSession(next)
        SparkSession.setDefaultSession(next)
        next
      }
      wl.setup(spark, s"${a.work}/setup$i")
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val ctx = new Ctx(spark, a.trace)
    if (a.trace) {
      spark.sparkContext.addSparkListener(ctx.counters)
      spark.listenerManager.register(ctx.phases)
    }
    val tWarm = System.nanoTime()
    ctx.beginRound(-1)
    wl.warmup(ctx)
    val warmOps = ctx.ops.length
    val heap = new HeapWatch
    System.gc()
    heap.arm()

    // the timed closed loop: a fixed number of whole rounds
    val tRounds = System.nanoTime()
    val rounds = math.max(2, math.round(a.seconds / wl.nominalRoundS).toInt)
    for (r <- 0 until rounds) {
      ctx.beginRound(r)
      wl.round(ctx, r)
      System.gc() // one live-set sample per round, outside every timed call
    }
    ctx.beginRound(-2)
    val peakHeapMb = heap.peakBytes / (1024.0 * 1024.0)
    heap.close()
    val tFinish = System.nanoTime()
    wl.finish(ctx)
    val phases = Seq(setupS.sum, (tRounds - tWarm) / 1e9, (tFinish - tRounds) / 1e9,
      (System.nanoTime() - tFinish) / 1e9)

    val timed = ctx.ops.drop(warmOps).filter(_.round >= 0).toSeq
    val writes = timed.filter(_.kind == "write").map(_.ms)
    val reads = timed.filter(_.kind == "read").map(_.ms)
    val wTail = tailFor(wl.writeTailPct, writes.length)
    val rTail = tailFor(wl.readTailPct, reads.length)
    val timedS = timed.map(_.ns).sum / 1e9
    val rows = timed.map(_.rows).sum

    val e2e = Seq(
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("write_p50_ms", Stats.median(writes), "ms"),
      ("write_tail_ms", Stats.pct(writes, wTail), "ms"),
      ("read_p50_ms", Stats.median(reads), "ms"),
      ("read_tail_ms", Stats.pct(reads, rTail), "ms"),
      ("rows_per_s", if (timedS > 0) rows / timedS else 0.0, "1/s"),
      ("storage_amp", wl.storageAmp, "ratio"),
      ("live_heap_peak_mb", peakHeapMb, "MB"))

    val layer: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
        layerMetrics(ctx, wl, timed)
      }

    val info = Map(
      "workload" -> a.workload, "seed" -> a.seed.toString, "rounds" -> rounds.toString,
      "writes" -> writes.length.toString, "reads" -> reads.length.toString,
      "write_tail_pct" -> wTail.toString, "read_tail_pct" -> rTail.toString,
      "setup_runs_s" -> setupS.map(x => f"$x%.3f").mkString(","),
      "setup_warmup_rounds_finish_s" -> phases.map(x => f"$x%.1f").mkString(","),
      "error_rate" -> (if (ctx.attempted > 0) (ctx.failed.toDouble / ctx.attempted).toString else "0"))
    Result.write(a.out, ctx, e2e, layer, info ++ wl.info)
    if (a.trace) ctx.tracer.write(s"${a.work}/spans.jsonl")
    writeOps(s"${a.work}/ops.tsv", ctx)
    spark.stop()
    0
  }

  private def writeOps(path: String, ctx: Ctx): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println("id\tround\tkind\tname\ttraced\tms\trows\tok\tjobs\tstages\ttasks\tfs_read\tfs_write\tfs_list")
      ctx.ops.foreach { o =>
        val c = ctx.counters.byOp.getOrElse(o.id, new OpCounters)
        out.println(s"${o.id}\t${o.round}\t${o.kind}\t${o.name}\t${o.traced}\t${o.ms}\t${o.rows}\t${o.ok}\t" +
          s"${c.jobs}\t${c.stages}\t${c.tasks}\t${o.fs.readOps}\t${o.fs.writeOps}\t${o.fs.listOps}")
      }
    } finally out.close()
  }

  private def tailFor(fixed: Double, n: Int): Double =
    if (n * (1 - fixed / 100.0) >= 10.0 - 1e-9) fixed else Stats.tailPct(n)

  /** The spark / fs / bench layers, common to every workload; the rest come
    * from the workload itself. */
  private def layerMetrics(ctx: Ctx, wl: Workload, timed: Seq[OpRec]): Seq[(String, Double, String)] = {
    val traced = timed.filter(_.traced)
    val byOp = ctx.counters.byOp
    def per(f: OpCounters => Double): Double =
      Stats.mean(traced.map(o => byOp.get(o.id).map(f).getOrElse(0.0)))
    val selfMs = ctx.tracer.selfMs(traced.map(_.id).toSet)
    def selfPerOp(prefixes: String*): Double =
      if (traced.isEmpty) 0.0
      else selfMs.collect { case (n, ms) if prefixes.exists(p => n == p || n.startsWith(p + ".")) => ms }
        .sum / traced.length
    // tracing overhead: per op name, traced median against untraced median,
    // weighted by the untraced occurrences' count
    val untraced = timed.filterNot(_.traced).groupBy(_.name)
    val pairs = traced.groupBy(_.name).collect { case (n, t) if untraced.contains(n) =>
      (Stats.median(t.map(_.ms)), Stats.median(untraced(n).map(_.ms)), untraced(n).length)
    }
    val base = pairs.map { case (_, u, n) => u * n }.sum
    val overhead = if (base <= 0) 0.0 else pairs.map { case (t, u, n) => (t - u) * n }.sum / base * 100.0

    val common = Seq(
      ("spark.jobs", per(_.jobs.toDouble)),
      ("spark.stages", per(_.stages.toDouble)),
      ("spark.tasks", per(_.tasks.toDouble)),
      ("spark.task_s", per(_.taskMs / 1000.0)),
      ("spark.gc_s", per(_.gcMs / 1000.0)),
      ("spark.shuffle_write_bytes", per(_.shuffleWrite.toDouble)),
      ("spark.shuffle_read_bytes", per(_.shuffleRead.toDouble)),
      ("fs.read_ops", Stats.mean(traced.map(_.fs.readOps.toDouble))),
      ("fs.write_ops", Stats.mean(traced.map(_.fs.writeOps.toDouble))),
      ("fs.list_ops", Stats.mean(traced.map(_.fs.listOps.toDouble))),
      ("fs.bytes_written", Stats.mean(traced.map(_.fs.bytesWritten.toDouble))),
      ("bench.tracing_overhead_pct", overhead),
      ("bench.self_ms_per_op", selfPerOp("op")),
      ("core.self_ms_per_op", selfPerOp("core.publish", "core.retrieve", "core.read_fhir")),
      ("core.log.self_ms_per_op", selfPerOp("core.log")),
      ("catalog.self_ms_per_op", selfPerOp("catalog")),
      ("sources.self_ms_per_op", selfPerOp("sources")),
      ("operators.self_ms_per_op", selfPerOp("operators")))
    val own = wl.layerMetrics(ctx, traced)
    val planMs = Layer.planMsByOp(traced, ctx.phases)
    val catalog = Layer.catalog(ctx, traced, byOp, planMs)
    // every workload reports every layer; a layer the workload never calls reads 0
    val got = common.map(m => m._1 -> m._2).toMap ++ own ++ catalog
    val unknown = got.keySet -- Layer.All.map(_._1)
    require(unknown.isEmpty, s"layer metrics missing from Layer.All: $unknown")
    Layer.All.map { case (n, u) => (n, got.getOrElse(n, 0.0), u) }
  }
}

/** Helpers shared by the workloads' layer metrics. */
object Layer {
  /** Every per-layer metric with its unit, in report order. Counts and
    * bytes of the spark and fs layers are per op; the rest are per call
    * of the named layer. */
  val All: Seq[(String, String)] = Seq(
    "core.publish.ms" -> "ms", "core.publish.spark_jobs" -> "count", "core.publish.fs_write_ops" -> "count",
    "core.retrieve.ms" -> "ms", "core.retrieve.fs_ops" -> "count", "core.retrieve.hit_ratio" -> "ratio",
    "core.read_fhir.ms" -> "ms", "core.read_fhir.files_listed" -> "count",
    "core.read_fhir.files_opened_ratio" -> "ratio",
    "core.log.current_version.ms" -> "ms", "core.log.state_recent.ms" -> "ms", "core.log.state_old.ms" -> "ms",
    "core.log.markers_written" -> "count", "core.log.checkpoints_written" -> "count",
    "core.log.bytes_per_commit" -> "B", "core.log.versions_per_write" -> "count",
    "catalog.plan.ms" -> "ms", "catalog.job_wait.ms" -> "ms", "catalog.driver_gap.ms" -> "ms",
    "catalog.jobs_per_stmt" -> "count", "catalog.stages_per_stmt" -> "count", "catalog.tasks_per_stmt" -> "count",
    "catalog.files_rewritten_per_dml" -> "count", "catalog.rewrite_efficiency" -> "ratio",
    "catalog.scan.files_read_ratio" -> "ratio",
    "sources.keyedlog.write.ms" -> "ms", "sources.keyedlog.journal_entries_written" -> "count",
    "sources.keyedlog.read.ms" -> "ms",
    "operators.minhash_lsh.ms" -> "ms", "operators.components.ms" -> "ms", "operators.components.rounds" -> "count",
    "operators.lsh.candidate_precision" -> "ratio", "operators.lsh.dup_recall" -> "ratio",
    "operators.ivf_topk.ms" -> "ms",
    "spark.jobs" -> "count/op", "spark.stages" -> "count/op", "spark.tasks" -> "count/op",
    "spark.task_s" -> "s/op", "spark.gc_s" -> "s/op",
    "spark.shuffle_write_bytes" -> "B/op", "spark.shuffle_read_bytes" -> "B/op",
    "fs.read_ops" -> "count/op", "fs.write_ops" -> "count/op", "fs.list_ops" -> "count/op",
    "fs.bytes_written" -> "B/op",
    "bench.tracing_overhead_pct" -> "%", "bench.self_ms_per_op" -> "ms/op", "core.self_ms_per_op" -> "ms/op",
    "core.log.self_ms_per_op" -> "ms/op", "catalog.self_ms_per_op" -> "ms/op", "sources.self_ms_per_op" -> "ms/op",
    "operators.self_ms_per_op" -> "ms/op")

  /** Median span duration of the named layer call over traced ops. */
  def spanMs(ctx: Ctx, name: String): Double =
    Stats.median(ctx.tracer.spans.filter(s => s != null && s.name == name).map(_.ms).toSeq)

  def planMsByOp(traced: Seq[OpRec], phases: PlanPhases): Map[Int, Double] = {
    val sorted = traced.sortBy(_.startMs).toIndexedSeq
    val acc = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    phases.seen.foreach { case (start, ms) =>
      sorted.find(o => start >= o.startMs && start <= o.endMs).foreach(o => acc(o.id) += ms)
    }
    acc.toMap
  }

  /** Spans that are one SQL statement each, on either table format. */
  val StmtSpans = Set("catalog.stmt", "sources.keyedlog.write", "sources.keyedlog.read")

  /** The catalog layer, one span per SQL statement: planning, waiting on
    * jobs, and the driver time left between them. */
  def catalog(ctx: Ctx, traced: Seq[OpRec], byOp: mutable.Map[Int, OpCounters],
              planMs: Map[Int, Double]): Map[String, Double] = {
    val stmtMs = ctx.tracer.spans.filter(s => s != null && StmtSpans(s.name))
      .groupBy(_.op).map { case (op, ss) => op -> ss.map(_.ms).sum }
    val stmts = traced.filter(o => stmtMs.contains(o.id))
    def c(o: OpRec) = byOp.getOrElse(o.id, new OpCounters)
    def plan(o: OpRec) = planMs.getOrElse(o.id, 0.0)
    Map(
      "catalog.plan.ms" -> Stats.median(stmts.map(plan)),
      "catalog.job_wait.ms" -> Stats.median(stmts.map(c(_).jobWaitMs)),
      "catalog.driver_gap.ms" -> Stats.median(stmts.map(o => math.max(0.0, stmtMs(o.id) - plan(o) - c(o).jobWaitMs))),
      "catalog.jobs_per_stmt" -> Stats.mean(stmts.map(c(_).jobs.toDouble)),
      "catalog.stages_per_stmt" -> Stats.mean(stmts.map(c(_).stages.toDouble)),
      "catalog.tasks_per_stmt" -> Stats.mean(stmts.map(c(_).tasks.toDouble)))
  }
}

object Result {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def write(path: String, ctx: Ctx, e2e: Seq[(String, Double, String)],
            layer: Seq[(String, Double, String)], info: Map[String, String]): Unit = {
    def metrics(ms: Seq[(String, Double, String)]) =
      ms.map { case (k, v, u) => s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }
        .mkString("{", ",", "}")
    val json =
      s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""end_to_end":${metrics(e2e)},"per_layer":${metrics(layer)},""" +
        s""""info":${info.toSeq.sorted.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")},""" +
        s""""failures":${ctx.failures.map(str).mkString("[", ",", "]")}}"""
    val tmp = new File(path + ".tmp")
    Files.write(tmp.toPath, json.getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(path).toPath, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }
}

object Dirs {
  def sizeUnder(dir: String): Long = {
    val root = new File(dir)
    if (!root.exists()) 0L
    else {
      var total = 0L
      val it = Files.walk(root.toPath).iterator()
      while (it.hasNext) { val p = it.next(); if (Files.isRegularFile(p)) total += Files.size(p) }
      total
    }
  }

  /** Names in one directory (not recursive) starting with `prefix`. */
  def count(dir: String, prefix: String): Int = {
    val f = new File(dir)
    Option(f.list()).map(_.count(_.startsWith(prefix))).getOrElse(0)
  }

  def bytesOf(dir: String, prefix: String): Map[String, Long] = {
    val f = new File(dir)
    Option(f.listFiles()).map(_.filter(_.getName.startsWith(prefix))
      .map(x => x.getName -> x.length()).toMap).getOrElse(Map.empty)
  }

  def localPath(uri: String): String = uri.stripPrefix("file://")
}
