package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** One span: a call from the benchmark into one layer's public function.
  * Times are milliseconds on one clock shared with Spark's event times. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      startMs: Double, var endMs: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** Spark work attributed to one span (the innermost open span when the
  * job was submitted), from the public listener events. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  val stageWindows: ArrayBuffer[(Double, Double)] = ArrayBuffer.empty
}

/** Listener attributing jobs, stages and tasks to spans through a local
  * property set while a span is open (jobs inherit the submitting
  * thread's local properties). Also counts AQE re-plans. */
final class WorkListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Int, SparkWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  @volatile var aqeUpdates = 0L

  private def work(span: Int) =
    bySpan.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val w = work(span)
    w.synchronized(w.jobs += 1)
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, -1)
    val w = work(span)
    w.synchronized {
      w.stages += 1
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
        w.stageWindows += ((s.toDouble, c.toDouble))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.getOrDefault(e.stageId, -1)
    val w = work(span)
    val m = e.taskMetrics
    w.synchronized {
      w.tasks += 1
      if (m != null) {
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => aqeUpdates += 1
    case _ => ()
  }
}

/** Counts jobs, for the set-up phase's `setup.layout_jobs`. */
final class JobCounter extends SparkListener {
  @volatile var jobs = 0L
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
}

/** Per-DataFrame plan facts read after the drain: Catalyst phase times
  * from the QueryPlanningTracker, exchanges and scanned rows from the
  * final (post-AQE) physical plan. */
final case class PlanFacts(analyzeMs: Double, optimizeMs: Double,
                           physicalMs: Double, exchanges: Int,
                           rowsScanned: Long, rowsOut: Long)

object PlanFacts extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame, rowsOut: Long): PlanFacts = {
    val qe = df.queryExecution
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val plan: SparkPlan = qe.executedPlan
    val exchanges = collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    val scanned = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("numOutputRows")
      case s: BatchScanExec => s.metrics.get("numOutputRows")
    }.flatten.map(_.value).sum
    PlanFacts(ms(QueryPlanningTracker.ANALYSIS),
      ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING), exchanges, scanned, rowsOut)
  }
}

/** Records spans around the benchmark's calls into the program. When
  * disabled every method is a plain call-through: the untraced run pays
  * for nothing but the `enabled` test. Spans stay in memory and are
  * written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val plans: ArrayBuffer[(Int, PlanFacts)] = ArrayBuffer.empty
  /** (op, name, value) side counts, e.g. cells per bounded query. */
  val counts: ArrayBuffer[(Int, String, Double)] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  val listener = new WorkListener
  /** Whether the current op is traced (the traced run alternates). */
  var active = false
  var op: Int = -1

  def attach(context: SparkContext): Unit = {
    sc = context
    if (enabled) sc.addSparkListener(listener)
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body else record(name)(body)

  /** A span outside the loop's ops (op -1), recorded whenever enabled. */
  def always[T](name: String)(body: => T): T = {
    op = -1
    if (!enabled) body else record(name)(body)
  }

  private def record[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
      name, nowMs)
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, prev)
    }
  }

  /** Drain `df` to the driver inside an `exec.drain` span; when traced,
    * record its plan facts and add the Catalyst phases as child spans of
    * whichever open span each phase started in. */
  def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rows = span("exec.drain")(df.collect())
    if (active) {
      plans += ((op, PlanFacts.of(df, rows.length)))
      phaseSpans(df)
    }
    rows
  }

  private def phaseSpans(df: DataFrame): Unit = {
    val names = Map(QueryPlanningTracker.ANALYSIS -> "plan.analyze",
      QueryPlanningTracker.OPTIMIZATION -> "plan.optimize",
      QueryPlanningTracker.PLANNING -> "plan.physical")
    for ((k, ph) <- df.queryExecution.tracker.phases; n <- names.get(k)) {
      val st = ph.startTimeMs.toDouble
      val parent = spans.filter(s => s.op == op && s.startMs <= st &&
        st <= s.endMs).lastOption
      parent.foreach { p =>
        spans += Span(spans.size, p.id, op, n, st, ph.endTimeMs.toDouble)
      }
    }
  }

  def count(name: String, v: Double): Unit =
    if (active) countAlways(name, v)

  /** A side count outside any traced op (e.g. from an output check). */
  def countAlways(name: String, v: Double): Unit = counts += ((op, name, v))

  /** Run one operation: a root span `op.<kind>` when traced, plus the
    * codegen and GC deltas the op caused. */
  def operation[T](index: Int, kind: String, traced: Boolean)(body: => T): T = {
    op = index
    active = enabled && traced
    if (!active) body
    else {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = CodeGenerator.compileTime
      val g0 = Tracer.gcMs
      try span(s"op.$kind")(body)
      finally {
        count("codegen.compiles",
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0).toDouble)
        count("codegen.compile_s", (CodeGenerator.compileTime - t0) / 1e9)
        count("jvm.gc_s", (Tracer.gcMs - g0) / 1e3)
        active = false
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Old-generation use right after a full GC, at fixed checkpoints of the
  * run. Sampling the use after whichever GC last ran instead reads
  * wherever the collector happened to stop (run-to-run it moved 2x).
  * The first GC lets Spark's ContextCleaner release the broadcasts and
  * shuffles it was holding only weakly; the second collects them. */
final class HeapCheckpoints {
  private var peakBytes = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    pools.foreach(p => Option(p.getCollectionUsage)
      .foreach(u => peakBytes = math.max(peakBytes, u.getUsed)))
  }
  def peakMb: Double = peakBytes / 1048576.0
}

/** Union length of possibly overlapping [start, end] windows, clipped
  * to [lo, hi]. */
object Windows {
  def covered(ws: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ws.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    for ((a, b) <- clipped) cur match {
      case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
      case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
      case None => cur = Some((a, b))
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}

/** Per-layer metrics from a traced run: averages per traced operation or
  * per call, as each metric's name says (see perfbench/README.md). */
object LayerReport {
  def apply(t: Tracer, opWall: Map[Int, (Double, Double)],
            opKind: Map[Int, String]): (Map[String, Double], String) = {
    val spans = t.spans.filter(_.op >= 0).toSeq
    val children = spans.groupBy(_.parent)
    def self(s: Span) = s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum
    val work = t.listener.bySpan.asScala
    def sub(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(sub)
    def jobsIn(s: Span) = sub(s).flatMap(x => work.get(x.id)).map(_.jobs).sum
    val ops = opWall.keys.toSeq.sorted
    val nOps = math.max(1, ops.size).toDouble
    val m = mutable.LinkedHashMap.empty[String, Double]
    def calls(n: String) = spans.filter(_.name == n)
    def meanS(n: String) = {
      val c = calls(n); if (c.isEmpty) 0.0 else c.map(_.durMs).sum / c.size / 1e3
    }
    def meanJobs(n: String) = {
      val c = calls(n); if (c.isEmpty) 0.0 else c.map(jobsIn).sum.toDouble / c.size
    }
    def prefixed(p: String) = spans.filter(_.name.startsWith(p))
    def countSum(n: String) = t.counts.filter(_._2 == n).map(_._3).sum
    def countMean(n: String) = {
      val c = t.counts.filter(_._2 == n); if (c.isEmpty) 0.0 else c.map(_._3).sum / c.size
    }
    m("ql.query_s") = meanS("ql.query")
    m("ql.query_jobs") = meanJobs("ql.query")
    val builds = prefixed("operators.")
    m("operators.build_s") =
      if (builds.isEmpty) 0.0 else builds.map(_.durMs).sum / builds.size / 1e3
    m("operators.build_jobs") =
      if (builds.isEmpty) 0.0 else builds.map(jobsIn).sum.toDouble / builds.size
    val pl = t.plans.map(_._2)
    val nPl = math.max(1, pl.size).toDouble
    m("plan.analyze_s") = pl.map(_.analyzeMs).sum / nPl / 1e3
    m("plan.optimize_s") = pl.map(_.optimizeMs).sum / nPl / 1e3
    m("plan.physical_s") = pl.map(_.physicalMs).sum / nPl / 1e3
    m("plan.exchanges") = pl.map(_.exchanges).sum / nPl
    m("plan.aqe_updates") = t.listener.aqeUpdates / nOps
    val allWork = spans.flatMap(s => work.get(s.id))
    m("exec.drain_s") = meanS("exec.drain")
    m("exec.jobs") = allWork.map(_.jobs).sum / nOps
    m("exec.stages") = allWork.map(_.stages).sum / nOps
    m("exec.tasks") = allWork.map(_.tasks).sum / nOps
    val taskMs = allWork.map(_.taskMs).sum.toDouble
    m("exec.task_s") = taskMs / nOps / 1e3
    val byOp = spans.groupBy(_.op)
    val inStage = ops.map { o =>
      val (lo, hi) = opWall(o)
      Windows.covered(byOp.getOrElse(o, Nil).flatMap(s => work.get(s.id))
        .flatMap(_.stageWindows), lo, hi)
    }
    val stageMs = inStage.sum
    m("exec.parallelism") = if (stageMs > 0) taskMs / stageMs else 0.0
    m("exec.out_of_stage_s") = ops.zip(inStage).map { case (o, in) =>
      opWall(o)._2 - opWall(o)._1 - in
    }.sum / nOps / 1e3
    m("exec.shuffle_write_mb") = allWork.map(_.shuffleWrite).sum / nOps / 1048576.0
    m("exec.shuffle_read_mb") = allWork.map(_.shuffleRead).sum / nOps / 1048576.0
    m("exec.spill_mb") = allWork.map(_.spill).sum / nOps / 1048576.0
    m("exec.gc_s") = allWork.map(_.gcMs).sum / nOps / 1e3
    val out = pl.map(_.rowsOut).sum
    m("exec.rows_scanned_per_row_out") =
      if (out > 0) pl.map(_.rowsScanned).sum.toDouble / out else 0.0
    m("codegen.compiles") = countSum("codegen.compiles") / nOps
    m("codegen.compile_s") = countSum("codegen.compile_s") / nOps
    m("sources.append_s") = meanS("sources.append")
    m("sources.append_jobs") = meanJobs("sources.append")
    m("sources.compact_s") = meanS("sources.compact")
    m("sources.spatial_write_s") = meanS("sources.spatial_write")
    m("sources.snapshot_dirs_per_read") = countMean("sources.snapshot_dirs")
    m("spatial.cells_per_query") = countMean("spatial.cells")
    m("spatial.xmatch_s") = meanS("spatial.xmatch")
    m("spatial.candidates_per_match") = countMean("spatial.candidates_per_match")
    m("spatial.objcat_s") = meanS("spatial.objcat")
    m("spatial.objcat_jobs") = meanJobs("spatial.objcat")
    m("jvm.gc_s") = countSum("jvm.gc_s") / nOps
    // accounting: how much of each op's wall time the spans below the
    // op's root span cover (the rest is the harness's own time)
    val roots = spans.filter(_.name.startsWith("op."))
    val rootWall = roots.map(_.durMs).sum
    m("trace.coverage") =
      if (rootWall > 0) 1.0 - roots.map(self).sum / rootWall else 0.0
    // self-time table per layer, ms per traced op
    val byLayer = spans.groupBy(_.layer).map { case (l, ss) =>
      (l, ss.map(self).sum / nOps, ss.size)
    }.toSeq.sortBy(-_._2)
    val kinds = ops.map(opKind).groupBy(identity).map { case (k, v) =>
      s"$k=${v.size}" }.mkString(" ")
    val table = new StringBuilder
    table ++= f"self time per traced op (${ops.size} ops: $kinds)%n"
    table ++= f"  ${"layer"}%-10s ${"ms/op"}%10s ${"spans"}%7s%n"
    byLayer.foreach { case (l, ms, n) =>
      table ++= f"  $l%-10s $ms%10.2f $n%7d%n" }
    (m.toMap, table.toString)
  }
}
