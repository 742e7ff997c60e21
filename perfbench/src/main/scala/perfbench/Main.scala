package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, Sessions}

/** One benchmark run of one workload, single client, one JVM. Started by
  * `perfbench/run.py`, which generates the inputs before and checks the
  * oracle outputs after; this side stages per-pass copies, runs set-up, the
  * timed window and (traced runs only) the span dump and kernel probe, and
  * writes everything it measured to `<work>/result.json`.
  *
  * Arguments: --workload --seed --seconds --trace --work
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val wl = Workloads.all.find(_.name == a("workload"))
      .getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val variants = new java.io.File(s"$work/variants").list().length
    val cores = Runtime.getRuntime.availableProcessors
    val r = new Runner(wl, seed, seconds, trace, work, variants, cores)
    val code = try r.run() finally r.stop()
    sys.exit(code)
  }
}

object Runner {
  /** Draws per pass of a Zipf workload. */
  val ZipfPass = 20

  /** Per-rank counts summing to `total`, proportional to 1/rank, each >= 1. */
  def zipfQuota(kinds: Int, total: Int): Seq[Int] = {
    val w = (1 to kinds).map(1.0 / _)
    val extra = total - kinds
    val exact = w.map(_ / w.sum * extra)
    val base = exact.map(_.toInt)
    val left = extra - base.sum
    val bump = exact.indices.sortBy(i => -(exact(i) - base(i))).take(left).toSet
    base.indices.map(i => 1 + base(i) + (if (bump(i)) 1 else 0))
  }
}

final class Runner(wl: Workload, seed: Long, seconds: Double, trace: Boolean,
    work: String, variants: Int, cores: Int) {
  private val mb = 1024.0 * 1024.0
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var attempted = 0
  private var spark: SparkSession = _
  /** The permuted variant the current staged copy was made from. */
  private var source = ""

  def stop(): Unit = if (spark != null) spark.stop()

  def run(): Int = {
    out("workload") = wl.name
    out("seed") = seed
    out("env") = Env.describe(cores)
    val t0 = System.nanoTime()
    spark = Sessions.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    Log.note(f"session started in $sessionStart%.3f s")
    out("session_start_s") = sessionStart
    if (spark.sparkContext.defaultParallelism != cores) {
      System.err.println(s"defaultParallelism ${spark.sparkContext.defaultParallelism} != $cores cores")
      return 4
    }
    val tracer = new Tracer(false)
    val probe = if (trace) Some(new SparkProbe(spark)) else None
    probe.foreach(_.install())
    val ctx = new Ctx(spark, work, s"$work/base", s"$work/inputs", tracer, seed)

    // ---- set-up, on its own staged copy: the load ops (timed, each then
    // checked), then one cold round that checks every op's output; it is
    // also the warm-up. The write-path ops (`etl`) feed per-layer metrics
    // only, so they run in traced runs only. With the C1-only JIT (run.py)
    // later passes are within about 10% of each other, and the reported
    // pass time takes each op's fastest run, so no further warm pass is
    // spent.
    val checks = new Checks(s"$work/check")
    val setupDir = stage(0, "setup")
    ctx.dir = setupDir; ctx.source = source; ctx.out = setupDir; ctx.pass = -1
    val load = (wl.load ++ (if (trace) wl.etl else Nil)).map { op =>
      val s = runOp(op, ctx, None)
      checkOp(op, ctx, checks)
      op -> s.getOrElse(0.0)
    }
    val loadS = load.map(_._2).sum
    ctx.out = s"$work/out/setup"
    val roundS = wl.ops.map { op =>
      val t = System.nanoTime()
      if (op.checkAfterRun) runOp(op, ctx, None) else attempted += 1
      checkOp(op, ctx, checks)
      (System.nanoTime() - t) / 1e9
    }.sum
    if (!wl.zipf) cleanup(setupDir)
    Log.note(f"set-up: load $loadS%.3f s, check round $roundS%.3f s")
    out("setup_work_s") = loadS + roundS
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json.render(
      wl.ops.flatMap(o => Modules.lanes.get(o.name).flatMap(_._2.oracle).map(o.name -> _)).toMap))
    out("checks") = checks.items.toSeq
    out("load") = loadMetrics(load, ctx)
    ctx.releaseNs = 0L

    // ---- timed window
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val acc = new LayerAcc
    var heapPeak = 0.0
    var timed = 0.0
    var pass = 0
    def tracedDone = !trace || (passes.exists(_("traced") == true) &&
      passes.exists(_("traced") == false))
    while (timed < seconds || !tracedDone) {
      val traced = trace && pass % 2 == 1
      tracer.enabled = traced
      ctx.pass = pass
      ctx.dir = if (wl.zipf) setupDir else stage(pass % variants, s"pass$pass")
      ctx.out = s"$work/out/pass$pass"
      val order = drawOrder(pass)
      val cpu0 = Env.processCpuNs
      val (gc0, jit0) = (Env.gcMs, Env.jitMs)
      val ps = order.flatMap { op =>
        runOp(op, ctx, if (traced) Some((probe.get, acc)) else None).map(op -> _)
      }
      val passS = ps.map(_._2).sum
      timed += passS
      if (!traced) samples ++= ps.map { case (op, s) => (op.name, s * 1e3) }
      if (traced) ps.foreach { case (op, s) => acc.opTime(op, s) }
      passes += Map("traced" -> traced, "s" -> passS, "ops" -> ps.size,
        "cpu_s" -> (Env.processCpuNs - cpu0) / 1e9,
        "gc_s" -> (Env.gcMs - gc0) / 1e3, "jit_s" -> (Env.jitMs - jit0) / 1e3)
      Log.note(f"pass $pass (traced $traced): $passS%.3f s, ${ps.size} ops")
      if (!wl.zipf) cleanup(ctx.dir)
      heapPeak = math.max(heapPeak, Env.liveOldGenMb())
      pass += 1
    }
    out("passes") = passes.toSeq
    out("op_samples_ms") = samples.map(_._2).toSeq
    out("op_names") = samples.map(_._1).toSeq
    out("live_heap_mb") = heapPeak
    out("attempted") = attempted
    out("failures") = failures.toSeq

    tracer.enabled = false
    if (trace) {
      val tracedPasses = passes.count(_("traced") == true)
      val layer = acc.result(tracedPasses, tracer)
      layer("sessions.start_s") = sessionStart
      val tp = passes.filter(_("traced") == true).map(_("s").asInstanceOf[Double])
      val up = passes.filter(_("traced") == false).map(_("s").asInstanceOf[Double])
      layer("trace.overhead_frac") = Stats.median(tp.toSeq) / Stats.median(up.toSeq) - 1.0
      layer ++= Kernels.probe(ctx)
      out("layer") = layer.toMap
      val spanFile = s"$work/spans.jsonl"
      val w = Files.newBufferedWriter(Paths.get(spanFile))
      try tracer.spans.foreach { s =>
        w.write(Json.render(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.t0, "end_ns" -> s.t1)))
        w.newLine()
      } finally w.close()
      out("span_file") = spanFile
    }
    Files.writeString(Paths.get(s"$work/result.json"), Json.render(out.toMap))
    Log.note("result written")
    0
  }

  /** Runs one op, timed; returns its seconds, or None if it threw. With a
    * probe, listener counters and job spans are attributed to the op. */
  private def runOp(op: Op, ctx: Ctx, traced: Option[(SparkProbe, LayerAcc)])
      : Option[Double] = {
    attempted += 1
    try op.prep.foreach(_(ctx))
    catch { case e: Throwable => fail(op.name, e); return None }
    val tracer = ctx.tracer
    val on = traced.isDefined
    if (on) tracer.op += 1
    // events of untraced work (prep, earlier passes) must not reach this op
    traced.foreach(_._1.take(0L, 0L, cores))
    val memoBefore = if (on) Caches.memoBuildSecs else Map.empty[String, Double]
    val relBefore = ctx.releaseNs
    val w0 = Clock.now()
    val t0 = System.nanoTime()
    val res = try {
      if (on) tracer.span(op.name, "op")(op.run(ctx)) else op.run(ctx)
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => fail(op.name, e); None }
    val w1 = Clock.now()
    traced.foreach { case (probe, acc) =>
      val (c, jobs) = probe.take(w0, w1, cores)
      jobs.foreach { case (a, b) => tracer.addObserved("spark.job", "exec", tracer.op, a, b) }
      acc.counters.addAll(c)
      val memoAfter = Caches.memoBuildSecs
      memoAfter.foreach { case (k, v) =>
        if (!memoBefore.get(k).contains(v)) acc.memo(k, v)
      }
      acc.releaseS += (ctx.releaseNs - relBefore) / 1e9
      acc.blocks(blocksMb())
    }
    res
  }

  /** Runs an op's output check, untimed; an exception is a failed op. */
  private def checkOp(op: Op, ctx: Ctx, checks: Checks): Unit =
    try op.check(ctx, checks)
    catch { case e: Throwable => fail(s"${op.name} (check)", e) }

  /** Per-layer write-path metrics of the load ops, measured once per run. */
  private def loadMetrics(load: Seq[(Op, Double)], ctx: Ctx): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val n = ctx.opNotes
    load.foreach { case (op, s) =>
      op.writer.foreach(w => m(s"io.write.${w.split('.').last}.s") = s)
      op.parser.foreach(p => m(s"io.parse.${p.split('.').last}.rows_per_s") =
        if (s > 0) n(s"${op.name}.rows") / s else 0.0)
    }
    val names = load.map(_._1.name)
    val written = names.map(o => n(s"$o.bytes_written")).sum
    val readIn = names.map(o => n(s"$o.bytes_in")).sum
    m("io.bytes_written_mb") = written / mb
    m("io.files_written") = names.map(o => n(s"$o.files_written")).sum
    m("io.compact.files_in") = n("compact.files_in")
    m("io.compact.files_out") = n("compact.files_out")
    m("etl.write_amp") = if (readIn > 0) written / readIn else 0.0
    val lat = ctx.batchLatMs.toSeq.sorted
    val events = names.map(o => n(s"$o.events")).sum
    m("stream.ingest_events_per_s") = if (lat.nonEmpty) events / (lat.sum / 1e3) else 0.0
    m("stream.batch_p50_ms") = Stats.pct(lat, 50)
    m("stream.batch_p90_ms") = Stats.pct(lat, 90)
    val sp = ctx.streamProgress
    if (sp.nonEmpty) {
      Seq("stream.trigger_ms", "stream.add_batch_ms", "stream.wal_commit_ms")
        .foreach(k => m(k) = Stats.mean(sp.map(_(k)).toSeq))
      Seq("stream.state_rows", "stream.state_mb").foreach(k => m(k) = sp.map(_(k)).max)
    }
    m.toMap
  }

  private def blocksMb(): Double = {
    val memo = Caches.memoRddIds
    spark.sparkContext.getRDDStorageInfo.filterNot(i => memo(i.id))
      .map(i => (i.memSize + i.diskSize) / mb).sum
  }

  private def fail(op: String, e: Throwable): Unit = {
    Log.note(s"$op failed: $e")
    failures += Map("op" -> op, "error" -> String.valueOf(e).take(500))
  }

  /** The ops of one pass in seeded order: every op once, or (Zipf
    * workloads) `ZipfPass` draws where op rank r gets a quota proportional
    * to 1/r (largest remainder, at least one each), so every pass has the
    * same mix and the seed only sets the order. */
  private def drawOrder(pass: Int): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    if (!wl.zipf) rnd.shuffle(wl.ops)
    else rnd.shuffle(Runner.zipfQuota(wl.ops.size, Runner.ZipfPass).zip(wl.ops)
      .flatMap { case (n, op) => Seq.fill(n)(op) })
  }

  /** A fresh copy of permuted variant `v` under a new directory name, so
    * memos keyed on the input directory rebuild. Untimed. */
  private def stage(v: Int, name: String): String = {
    val src = Paths.get(s"$work/variants/v$v")
    val dst = Paths.get(s"$work/staged/$name")
    source = src.toString
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    dst.toString
  }

  private def cleanup(dir: String): Unit =
    Seq(Paths.get(dir), Paths.get(s"$work/out")).foreach(deleteTree)

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}

/** Accumulates per-layer counters over the traced passes. */
final class LayerAcc {
  private val mb = 1024.0 * 1024.0
  val counters = new OpCounters
  private val modS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val memoS = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var memoBuilds = 0
  var releaseS = 0.0
  private val blockSamples = mutable.ArrayBuffer.empty[Double]

  def opTime(op: Op, s: Double): Unit = modS(s"ops.${op.module}.s") += s
  def memo(name: String, s: Double): Unit = { memoS(name) += s; memoBuilds += 1 }
  def blocks(v: Double): Unit = blockSamples += v

  def result(passes: Int, tracer: Tracer)
      : mutable.Map[String, Double] = {
    val n = math.max(passes, 1).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    val c = counters.c
    Seq("exec.s", "exec.task_busy_s", "exec.task_cpu_s", "exec.jobs", "exec.stages",
      "exec.tasks", "exec.sched_delay_s", "exec.driver_gap_s", "exec.shuffle_write_mb",
      "exec.shuffle_read_mb", "exec.shuffle_fetch_wait_s", "exec.spill_mb", "exec.gc_s",
      "exec.result_mb", "exec.failed_tasks", "plan.s", "plan.exchanges", "io.input_mb",
      "io.rows_read", "io.scan_s", "io.files_read", "io.partitions_read",
    ).foreach(k => m(k) = c(k) / n)
    m("exec.core_util") = if (c("exec.core_capacity_s") > 0)
      c("exec.task_busy_s") / c("exec.core_capacity_s") else 0.0
    m("exec.max_task_over_median") = if (c("exec.skew_stages") > 0)
      c("exec.skew_sum") / c("exec.skew_stages") else 1.0
    m("plan.nodes") = if (c("plan.queries") > 0) c("plan.nodes") / c("plan.queries") else 0.0
    modS.foreach { case (k, v) => m(k) = v / n }
    m("caches.memo_build_s") = memoS.values.sum / n
    memoS.foreach { case (k, v) => m(s"caches.memo_build_s.$k") = v / n }
    m("caches.memo_builds_per_name") = if (memoS.nonEmpty) memoBuilds / n / memoS.size else 0.0
    m("caches.release_s") = releaseS / n
    m("caches.blocks_after_release_mb") = Stats.mean(blockSamples.toSeq)
    // self time per layer, from the spans of traced ops
    val byLayer = Intervals.layerTimes(tracer.spans.toSeq).map { case (l, ns) => l -> ns / 1e9 }
    Seq("op" -> "self.harness_s", "ops.build" -> "self.ops_build_s",
      "action" -> "self.plan_submit_s", "exec" -> "self.exec_s",
      "caches.release" -> "self.caches_release_s",
    ).foreach { case (l, k) => m(k) = byLayer.getOrElse(l, 0.0) / n }
    val opTotal = tracer.spans.filter(_.layer == "op").map(s => s.t1 - s.t0).sum / 1e9
    m("trace.accounted_frac") = if (opTotal > 0) byLayer.values.sum / opTotal else 0.0
    m("ops.build_s") = tracer.spans.filter(_.layer == "ops.build")
      .map(s => s.t1 - s.t0).sum / 1e9 / n
    m
  }
}

object Kernels {
  /** ns per row of each registered SQL kernel, called through SQL on a
    * cached column built from the base tables: noop-executed `SELECT call`
    * minus `SELECT arg`. The row count is sized from a warm-up run so the
    * kernel's share is about 0.1 s (4k to 64k rows). */
  def probe(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    Workloads.kernels.flatMap { case (fn, table, arg, call) =>
      val t0 = System.nanoTime()
      try {
        def input(rows: Long) = {
          val t = graft.io.Tables.load(spark, ctx.base, table).limit(rows.toInt)
          val reps = math.max(1L, rows / math.max(1L, t.count()))
          val df = t.crossJoin(spark.range(reps).toDF("rep")).persist()
          (df, df.count())
        }
        def time(df: DataFrame, e: String): Double = {
          val t0 = System.nanoTime(); Ops.noop(df.selectExpr(e))
          (System.nanoTime() - t0).toDouble
        }
        val (small, n0) = input(4096)
        time(small, call)
        val est = math.max(1.0, (time(small, call) - time(small, arg)) / n0)
        small.unpersist()
        val (df, rows) = input(math.min(65536L, math.max(4096L, (1e8 / est).toLong)))
        time(df, call)
        val ns = math.max(0.0, time(df, call) - time(df, arg)) / rows
        df.unpersist()
        Log.note(f"kernel $fn%s: $ns%.1f ns/row over $rows%d rows " +
          f"(${(System.nanoTime() - t0) / 1e9}%.2f s)")
        Some(s"functions.$fn.ns_per_row" -> ns)
      } catch { case e: Throwable =>
        Log.note(s"kernel $fn: $e"); None }
    }.toMap
  }
}

/** Progress notes on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
  def note(s: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - t0) / 1e3}%7.2f] $s")
}

object Stats {
  def median(xs: Seq[Double]): Double = pct(xs.sorted, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Percentile by linear interpolation over sorted values. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val x = (sorted.size - 1) * p / 100.0
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }
}

object Env {
  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Throwable => "" }

  def describe(cores: Int): Map[String, Any] = {
    val mhz = read("/proc/cpuinfo").linesIterator.filter(_.startsWith("cpu MHz"))
      .map(_.split(":")(1).trim.toDouble).toSeq
    Map("cores" -> cores,
      "loadavg" -> read("/proc/loadavg").trim,
      "cpu_mhz" -> Stats.mean(mhz),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION)
  }

  /** Collection time of all garbage collectors, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Time the JIT compilers have spent compiling, ms. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** CPU time of this JVM, all threads. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Old-generation occupancy in MB after a full GC. Spark's cleaner frees
    * broadcast and shuffle blocks asynchronously once a GC has found them
    * unreachable, so a second GC follows a 100 ms pause. */
  def liveOldGenMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = if (pools.nonEmpty) pools.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    used / 1048576.0
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
