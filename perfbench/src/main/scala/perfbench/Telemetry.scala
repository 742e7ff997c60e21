package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Times are epoch nanoseconds from
  * [[Clock]]; every span of one op carries that op's id. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, t0: Long, t1: Long)

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so spans
  * line up with Spark's millisecond task and job timestamps. */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNanos + (System.nanoTime() - baseNanos)
  def fromMillis(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder. Disabled, `span` is a plain call. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op = 0

  def span[A](name: String, layer: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, op, name, layer, t0, Clock.now())
      }
    }

  /** Adds a span observed after the fact (a Spark job), parented to the
    * innermost recorded span of `op` that contains its start. */
  def addObserved(name: String, layer: String, opId: Int, t0: Long, t1: Long)
      : Unit = {
    val parent = spans.iterator
      .filter(s => s.op == opId && s.t0 <= t0 && t0 <= s.t1)
      .minByOption(s => s.t1 - s.t0).map(_.id).getOrElse(0)
    spans += Span(nextId, parent, opId, name, layer, t0, t1)
    nextId += 1
  }
}

/** Per-op counters gathered from Spark's listener bus and the query
  * execution listener. All fields are sums over the op. */
final class OpCounters {
  val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(k: String, v: Double): Unit = c(k) += v
  def addAll(o: OpCounters): Unit = o.c.foreach { case (k, v) => c(k) += v }
}

/** The benchmark's own Spark listener plus query-execution listener. Events
  * are buffered; [[take]] drains the bus and returns what arrived since the
  * previous call, so the single client can attribute them to one op. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private case class TaskRec(stage: Int, launch: Long, finish: Long,
      ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long, schedMs: Long,
      resultB: Long, shufW: Long, shufR: Long, fetchWaitMs: Long,
      spillB: Long, inB: Long)
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private var stages = 0
  private val plans = mutable.ArrayBuffer.empty[Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobs += ((t0, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val sched = math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        e.reason == org.apache.spark.Success, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, sched, m.resultSize,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead)
    } else tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, ok = false,
      0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val s = SparkProbe.planSummary(qe)
      SparkProbe.this.synchronized { plans += s }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  /** Drains the bus, then folds everything since the previous call into
    * counters for one op spanning [t0, t1] (epoch ns); returns the job
    * intervals (epoch ns) so the tracer can record them as spans. */
  def take(t0: Long, t1: Long, cores: Int): (OpCounters, Seq[(Long, Long)]) = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val (ts, js, ns, ps) = synchronized {
      val r = (tasks.toList, jobs.toList, stages, plans.toList)
      tasks.clear(); jobs.clear(); stages = 0; plans.clear()
      r
    }
    val c = new OpCounters
    val mb = 1024.0 * 1024.0
    c.add("exec.jobs", js.size)
    c.add("exec.stages", ns)
    c.add("exec.tasks", ts.size)
    c.add("exec.failed_tasks", ts.count(!_.ok))
    val jobNs = js.map { case (a, b) => (Clock.fromMillis(a), Clock.fromMillis(b)) }
    val execS = Intervals.union(jobNs) / 1e9
    c.add("exec.s", execS)
    val busy = ts.map(t => (t.finish - t.launch) / 1e3).sum
    c.add("exec.task_busy_s", busy)
    c.add("exec.task_cpu_s", ts.map(_.cpuNs).sum / 1e9)
    c.add("exec.core_capacity_s", execS * cores)
    c.add("exec.sched_delay_s", ts.map(_.schedMs).sum / 1e3)
    c.add("exec.gc_s", ts.map(_.gcMs).sum / 1e3)
    c.add("exec.result_mb", ts.map(_.resultB).sum / mb)
    c.add("exec.shuffle_write_mb", ts.map(_.shufW).sum / mb)
    c.add("exec.shuffle_read_mb", ts.map(_.shufR).sum / mb)
    c.add("exec.shuffle_fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1e3)
    c.add("exec.spill_mb", ts.map(_.spillB).sum / mb)
    c.add("io.input_mb", ts.map(_.inB).sum / mb)
    // Skew: max/median task time per stage with at least two tasks.
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val d = g.map(t => (t.finish - t.launch).toDouble).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }
    c.add("exec.skew_sum", skews.sum)
    c.add("exec.skew_stages", skews.size)
    // Driver gap: op wall time during which no task of the op was running.
    val taskNs = ts.map(t => (Clock.fromMillis(t.launch), Clock.fromMillis(t.finish)))
    val covered = Intervals.union(taskNs.map { case (a, b) =>
      (math.max(a, t0), math.min(b, t1)) }.filter { case (a, b) => b > a })
    c.add("exec.driver_gap_s", math.max(0.0, (t1 - t0 - covered) / 1e9))
    ps.foreach(_.foreach { case (k, v) => c.add(k, v) })
    c.add("plan.queries", ps.size)
    (c, jobNs)
  }
}

object SparkProbe {
  /** Planning time and shape of one executed query, plus its scan-node
    * metrics; AQE stages are walked so the final plan is counted. */
  def planSummary(qe: QueryExecution): Map[String, Double] = {
    val phases = qe.tracker.phases
    val planMs = phases.values.map(_.durationMs).sum.toDouble
    val nodes = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => nodes += s; walk(s.plan)
      case other =>
        nodes += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    Map(
      "plan.s" -> planMs / 1e3,
      "plan.nodes" -> nodes.count(!_.isInstanceOf[QueryStageExec]).toDouble,
      "plan.exchanges" -> nodes.count(_.isInstanceOf[Exchange]).toDouble,
      "io.files_read" -> scans.map(metric(_, "numFiles")).sum,
      "io.partitions_read" -> scans.map(metric(_, "numPartitions")).sum,
      "io.rows_read" -> scans.map(metric(_, "numOutputRows")).sum,
      "io.scan_s" -> scans.map(s => metric(s, "scanTime") + metric(s, "metadataTime")).sum / 1e3,
    )
  }
}

object Intervals {
  /** Total length covered by a set of [a, b) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Time per layer over each op's span: at every instant the time goes to
    * `exec` while a Spark job of the op runs, else to the deepest benchmark
    * span open then. The layers' times sum to the ops' wall time. */
  def layerTimes(spans: Seq[Span]): Map[String, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(byId(s.parent))
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    spans.groupBy(_.op).values.foreach { ss =>
      ss.find(_.layer == "op").foreach { root =>
        val (jobs, calls) = ss.partition(_.layer == "exec")
        val cuts = (ss.flatMap(s => Seq(s.t0, s.t1)) :+ root.t0 :+ root.t1)
          .filter(t => t >= root.t0 && t <= root.t1).distinct.sorted
        cuts.sliding(2).foreach {
          case Seq(a, b) if b > a =>
            val layer =
              if (jobs.exists(j => j.t0 <= a && j.t1 >= b)) "exec"
              else calls.filter(c => c.t0 <= a && c.t1 >= b).maxBy(depth).layer
            out(layer) += b - a
          case _ => ()
        }
      }
    }
    out.toMap
  }
}
