package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Command line of the JVM half of the benchmark (perfbench/run.py
  * generates the inputs and passes their directory). */
final case class Args(workload: String, data: String, work: String,
                      seconds: Double, trace: Boolean, out: String) {
  /** `local[cores]`, and as many shuffle partitions. */
  val cores: Int = Runtime.getRuntime.availableProcessors
}

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("data"), kv("work"), kv("seconds").toDouble,
      kv("trace") == "1", kv("out"))
  }
}

/** One timed operation of the closed loop. */
final case class OpRecord(index: Int, kind: String, unit: Int,
                          startMs: Double, endMs: Double, rows: Long,
                          traced: Boolean, error: Option[Throwable]) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** A failed operation or output check, with its cause. */
final case class Failure(what: String, cls: String, message: String)

object Failure {
  def of(what: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator
      .find(_.trim.nonEmpty).getOrElse("").take(300)
    Failure(what, root.getClass.getName, msg)
  }
}

/** A benchmark workload. `setup` builds the layouts the workload needs
  * into a fresh directory and returns (layout name, seconds) -- from a
  * small slice of the inputs when `slice`, for the warm-up; `next` runs
  * one operation of the closed loop (the harness times it); `check`
  * compares every output kept by the ops against an independent
  * evaluation and returns the failures. */
trait Workload {
  def setup(spark: SparkSession, root: String, slice: Boolean): Seq[(String, Double)]
  /** A few ops on the sliced set-up, untimed: JIT, codegen and lazy
    * initialisation happen here, before anything is measured. */
  def warmup(t: Tracer): Unit
  /** Called once on the final set-up, untimed, before the loop. */
  def begin(t: Tracer): Unit
  /** Kind of the next operation and the unit (deck or batch) it belongs
    * to; None when the generated op stream is exhausted. */
  def peek: Option[(String, Int)]
  /** Run the next operation; returns the rows it returned or wrote. */
  def next(t: Tracer): Long
  /** True when the last op closed a unit (deck or batch). */
  def atUnitEnd: Boolean
  /** Units every run times, however short `seconds` is. */
  def minUnits: Int
  /** Whether the op about to run is traced (the traced run alternates
    * traced and untraced ops to measure the tracing overhead). */
  def traceNext: Boolean
  /** Returns the number of comparisons made and the failed ones. */
  def check(ops: Seq[OpRecord]): (Int, Seq[Failure])
  /** Bytes of generated input parquet the program consumed. */
  def inputBytes: Long
  /** Bytes the program's layouts and snapshots occupy on disk. */
  def writtenBytes: Long
  /** Files the program's layouts and snapshots occupy. */
  def filesWritten: Long
}

object Harness {
  private val mapper = new ObjectMapper()
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  /** (name, seconds) of one set-up step. */
  def timed(name: String)(body: => Unit): (String, Double) = {
    val t0 = System.nanoTime()
    body
    name -> (System.nanoTime() - t0) / 1e9
  }

  def session(a: Args, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def duSize(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(duSize).sum
    else f.length

  def duFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(duFiles).sum
    else 1L

  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val a = Args.parse(argv)
    val heap = new HeapCheckpoints
    val tracer = new Tracer(a.trace)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit =
      phases(name) = (System.nanoTime() - jvmStart) / 1e9 - phases.values.sum
    // Warm-up, unmeasured: set up on a slice of the inputs and run a few
    // ops, so the cold JVM's costs land here and not in set-up rep 1.
    var spark: SparkSession = null
    def fresh(dir: String): Unit = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      new File(s"$dir/tmp").mkdirs()
      System.setProperty("java.io.tmpdir", s"$dir/tmp")
      spark = session(a, dir)
    }
    fresh(s"${a.work}/warm")
    // the inputs are generated while the JVM and its first session start
    val ready = new File(s"${a.data}/_READY")
    while (!ready.exists()) Thread.sleep(20)
    val wl: Workload = a.workload match {
      case "ql_interactive" => new QlInteractive(a)
      case "survey_batch" => new SurveyBatch(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.attach(spark.sparkContext)
    wl.setup(spark, s"${a.work}/warm/db", slice = true)
    wl.warmup(tracer)
    phase("warmup_s")
    // Set-up, several times from scratch: a fresh session (after stopping
    // the previous one), a fresh java.io.tmpdir (the program keeps its
    // write-once caches there) and a fresh database directory each time.
    val reps = (1 to SetupReps).map { k =>
      val dir = s"${a.work}/rep$k"
      val t0 = System.nanoTime()
      fresh(dir)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val jobs = new JobCounter
      spark.sparkContext.addSparkListener(jobs)
      val layouts = wl.setup(spark, s"$dir/db", slice = false)
      PerfbenchBus.drain(spark.sparkContext)
      val total = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(jobs)
      Map("session_s" -> sessionS, "preflight_s" -> 0.0,
        "layouts_s" -> layouts.map(_._2).sum, "layout_jobs" -> jobs.jobs.toDouble,
        "total_s" -> total) ++ layouts.map { case (n, s) => s"layout.${n}_s" -> s }
    }
    tracer.attach(spark.sparkContext)
    wl.begin(tracer)
    heap.checkpoint()
    phase("setup_s")
    // Closed loop, one client: the next op starts when the previous one
    // returns. The loop runs for `seconds`, then to the end of the current
    // unit and for at least the workload's minimum of units, so every run
    // times whole decks or batches. A traced run times at least two, so
    // every op kind has traced and untraced instances to compare.
    val ops = ArrayBuffer.empty[OpRecord]
    val loopStart = tracer.nowMs
    var done = false
    var units = 0
    while (!done) {
      wl.peek match {
        case None => done = true
        case Some((kind, unit)) =>
          val traced = a.trace && wl.traceNext
          val t0 = tracer.nowMs
          var rows = 0L
          val err = try {
            rows = tracer.operation(ops.size, kind, traced)(wl.next(tracer))
            None
          } catch { case e: Throwable => Some(e) }
          ops += OpRecord(ops.size, kind, unit, t0, tracer.nowMs, rows, traced, err)
          if (wl.atUnitEnd) units += 1
          done = wl.atUnitEnd && tracer.nowMs - loopStart >= a.seconds * 1e3 &&
            units >= (if (a.trace) 2 else wl.minUnits)
      }
    }
    val loopS = (tracer.nowMs - loopStart) / 1e3
    phase("loop_s")
    PerfbenchBus.drain(spark.sparkContext)
    heap.checkpoint()
    val opFailures = ops.flatMap(o => o.error.map(e => Failure.of(s"op ${o.index} ${o.kind}", e)))
    val (checks, checkFailures) =
      try wl.check(ops.toSeq)
      catch { case e: Throwable => (1, Seq(Failure.of("check", e))) }
    phase("check_s")

    val out = mapper.createObjectNode()
    out.put("workload", a.workload)
    out.put("loop_s", loopS)
    val ph = out.putObject("phases")
    phases.foreach { case (k, v) => ph.put(k, v) }
    out.put("heap_peak_mb", heap.peakMb)
    out.put("input_bytes", wl.inputBytes)
    out.put("written_bytes", wl.writtenBytes)
    out.put("files_written", wl.filesWritten)
    val rs = out.putArray("setup_reps")
    reps.foreach { r =>
      val n = rs.addObject()
      r.toSeq.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
    }
    val os = out.putArray("ops")
    ops.foreach { o =>
      val n = os.addObject()
      n.put("kind", o.kind)
      n.put("unit", o.unit)
      n.put("s", o.seconds)
      n.put("rows", o.rows)
      n.put("traced", o.traced)
      n.put("ok", o.error.isEmpty)
    }
    val fs = out.putArray("failures")
    (opFailures ++ checkFailures).foreach { f =>
      val n = fs.addObject()
      n.put("what", f.what)
      n.put("class", f.cls)
      n.put("message", f.message)
    }
    out.put("checks", checks)
    if (a.trace) {
      val traced = ops.filter(_.traced)
      val (layers, table) = LayerReport(tracer,
        traced.map(o => o.index -> (o.startMs, o.endMs)).toMap,
        traced.map(o => o.index -> o.kind).toMap)
      val lm = out.putObject("layers")
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => lm.put(k, v) }
      // the session the loop reuses, opened after the last set-up
      lm.put("ql.forDb_s", tracer.spans.filter(_.name == "ql.forDb")
        .lastOption.map(_.durMs / 1e3).getOrElse(0.0))
      out.put("self_time_table", table)
      writeSpans(tracer, s"${a.work}/spans.jsonl")
      out.put("spans", s"${a.work}/spans.jsonl")
    }
    Files.writeString(Paths.get(a.out), mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(out))
    spark.stop()
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.iterator.map { s =>
      val n = mapper.createObjectNode()
      n.put("id", s.id)
      n.put("parent", s.parent)
      n.put("op", s.op)
      n.put("name", s.name)
      n.put("start_ms", s.startMs)
      n.put("end_ms", s.endMs)
      mapper.writeValueAsString(n)
    }.toSeq
    Files.write(Paths.get(path), lines.asJava)
  }
}
