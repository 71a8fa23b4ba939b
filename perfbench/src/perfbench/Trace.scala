package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Named accumulators: the per-layer figures a workload records itself
  * (call counts and times of each public call, counts from returned
  * stats). Insertion-ordered so dumps read in the order things happen. */
final class Acc {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
  def set(k: String, v: Double): Unit = values(k) = v
  def get(k: String): Double = values.getOrElse(k, 0.0)
}

final case class Span(id: Long, parent: Long, name: String, module: String,
                      startNs: Long, endNs: Long)

/** Times every public call the benchmark makes; with tracing on, also
  * keeps a span per call (parent = the enclosing span on this thread)
  * and tags the Spark jobs a call runs with the span's id through a
  * local property, so [[LayerListener]] can tie jobs to calls. Spans stay
  * in memory until [[Tracer.write]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, String)] {
    override def initialValue(): (Long, String) = (0L, "")
  }
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  val layers: Option[LayerListener] =
    if (enabled) {
      val l = new LayerListener
      sc.addSparkListener(l)
      spark.listenerManager.register(l.plans)
      Some(l)
    } else None

  /** Run `body` as one call into `module`; returns its value and wall
    * seconds. */
  def span[T](name: String, module: String)(body: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val v = body
      return (v, (System.nanoTime() - t0) / 1e9)
    }
    val (parent, parentModule) = current.get()
    val id = ids.incrementAndGet()
    current.set((id, module))
    sc.setLocalProperty(LayerListener.SpanProp, id.toString)
    sc.setLocalProperty(LayerListener.ModuleProp, module)
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      spans.synchronized { spans += Span(id, parent, name, module, t0, t1) }
      current.set((parent, parentModule))
      sc.setLocalProperty(LayerListener.SpanProp,
        if (parent == 0L) null else parent.toString)
      sc.setLocalProperty(LayerListener.ModuleProp,
        if (parent == 0L) null else parentModule)
    }
  }

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover (children of one span never overlap here:
    * every call is made from the one client thread). */
  def selfTimes(): Map[String, Double] = {
    val childNs = mutable.Map[Long, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0L) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum
    }
  }

  /** Write spans and job records as one JSON document. */
  def write(path: String, workload: String, seed: Long): Unit = {
    val sb = new StringBuilder
    sb ++= s"""{"run_id": ${Json.str(runId)}, "workload": ${Json.str(workload)}, "seed": $seed,\n "spans": ["""
    sb ++= spans.map(s =>
      s"""\n  {"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "module": ${Json.str(s.module)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
      .mkString(",")
    sb ++= "],\n \"jobs\": ["
    sb ++= layers.toSeq.flatMap(_.jobsDone).map(j =>
      s"""\n  {"job": ${j.id}, "span": ${j.span}, "module": ${Json.str(j.module)}, "site": ${Json.str(j.site)}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}}""")
      .mkString(",")
    sb ++= "],\n \"self_s\": "
    sb ++= Json.obj(selfTimes().toSeq.sortBy(-_._2))
    sb ++= "}\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object LayerListener {
  val SpanProp = "perfbench.span"
  val ModuleProp = "perfbench.module"
  /** The `graft` packages job time is split by; anything else is `other`. */
  val Modules: Seq[String] = Seq("store", "run", "views", "operators", "queries",
    "streaming", "flatten", "functions", "expressions", "core", "other")

  /** The module a job belongs to: the `graft.<module>` package of the
    * innermost program frame of the call site Spark recorded for it. A job
    * whose call site reaches the benchmark's own frame first (it ran the
    * action on a frame the program returned) belongs to the module the
    * benchmark was calling at the time. */
  def moduleOf(callSite: String, spanModule: String): String = {
    val m = programFrame(callSite) match {
      case Some(l) if l.startsWith("graft.") =>
        val p = l.split('.')
        if (p.length > 2 && p(1).headOption.exists(_.isLower)) p(1) else "other"
      case _ => Option(spanModule).getOrElse("other")
    }
    if (Modules.contains(m)) m else "other"
  }

  /** The innermost program or benchmark frame of a call site. */
  def programFrame(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench."))

  /** Shuffle exchanges in an executed plan, looking inside adaptive
    * query stages and subqueries. */
  object Exchanges extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
  }
}

/** Spark-side layer counters, gathered from outside the program: jobs
  * (with the span and module they belong to), stage task metrics, and
  * query planning phases. Everything is kept with its timestamp, so a
  * caller asks for the figures of one time window. */
final class LayerListener extends SparkListener {
  import LayerListener._

  final case class Job(id: Int, span: Long, module: String, site: String, startMs: Long, endMs: Long)
  final case class Stage(endMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
                         gcMs: Long, shufWrite: Long, shufRead: Long, spill: Long,
                         input: Long, output: Long)
  final case class Plan(endMs: Long, analysisMs: Long, optimizationMs: Long,
                        planningMs: Long, exchanges: Int)

  private val started = mutable.Map[Int, (Long, Long, String, String)]()
  val jobsDone: mutable.ArrayBuffer[Job] = mutable.ArrayBuffer()
  val stages: mutable.ArrayBuffer[Stage] = mutable.ArrayBuffer()
  val plansDone: mutable.ArrayBuffer[Plan] = mutable.ArrayBuffer()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
    val spanModule = props.flatMap(p => Option(p.getProperty(ModuleProp))).orNull
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    started(e.jobId) = (e.time, span, moduleOf(site, spanModule), programFrame(site).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (t0, span, module, site) =>
      jobsDone += Job(e.jobId, span, module, site, t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += Stage(i.completionTime.getOrElse(System.currentTimeMillis()),
      i.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  val plans: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val exch = try Exchanges.count(qe.executedPlan) catch { case _: Throwable => 0 }
      LayerListener.this.synchronized {
        plansDone += Plan(System.currentTimeMillis(), ms(QueryPlanningTracker.ANALYSIS),
          ms(QueryPlanningTracker.OPTIMIZATION), ms(QueryPlanningTracker.PLANNING), exch)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Engine and planner figures for jobs, stages and plans that ended in
    * [w0Ms, w1Ms], as totals. */
  def window(w0Ms: Long, w1Ms: Long): Map[String, Double] = synchronized {
    def in(t: Long) = t >= w0Ms && t <= w1Ms
    val js = jobsDone.filter(j => in(j.endMs))
    val ss = stages.filter(s => in(s.endMs))
    val ps = plansDone.filter(p => in(p.endMs))
    val mb = 1024.0 * 1024.0
    // Wall time of the window that no job covers: the driver working alone.
    val covered = js.map(j => (math.max(j.startMs, w0Ms), j.endMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - math.max(s, reach), e)
      }._1
    val perModule = Modules.map(m =>
      s"jobs_s.$m" -> js.filter(_.module == m).map(j => j.endMs - j.startMs).sum / 1e3)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> ss.size.toDouble,
      "spark.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.executor_run_s" -> ss.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "driver.outside_jobs_s" -> (w1Ms - w0Ms - covered) / 1e3,
      "spark.shuffle_write_mb" -> ss.map(_.shufWrite).sum / mb,
      "spark.shuffle_read_mb" -> ss.map(_.shufRead).sum / mb,
      "spark.spill_mb" -> ss.map(_.spill).sum / mb,
      "spark.input_mb" -> ss.map(_.input).sum / mb,
      "spark.output_mb" -> ss.map(_.output).sum / mb,
      "plan.analysis_s" -> ps.map(_.analysisMs).sum / 1e3,
      "plan.optimization_s" -> ps.map(_.optimizationMs).sum / 1e3,
      "plan.planning_s" -> ps.map(_.planningMs).sum / 1e3,
      "plan.exchanges" -> ps.map(_.exchanges).sum.toDouble) ++ perModule
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")
}
