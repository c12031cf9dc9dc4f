package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.LsdDb
import perfbench.Harness.timed
import graft.ql.{LsdQL, JoinRegistry, SpatialJoinDef}
import graft.sources.{Snapshots, SpatialWriter}
import graft.spatial.{Bounds, TimeInterval}

/** ql_interactive: a seeded stream of small LsdQL operations against a
  * generated survey database, through one reused `LsdQL.forDb` session.
  * 4 in 5 ops are bounded reads (cone, rect, polygon, (space, time)
  * pairs, declared xmatch with nmax/dmax overrides, `t@N` time travel);
  * 1 in 5 is a night-batch `Snapshots.append` with stats and bloom
  * columns, every second followed by a `compact`. */
final class QlInteractive(a: Args) extends Workload {
  import QlInteractive._

  private val plan = Harness.readJson(s"${a.data}/plan.json")
  private val planned: IndexedSeq[JsonNode] = plan.get("ops").asScala.toIndexedSeq
  private val radius = plan.get("xmatch_radius_deg").asDouble
  private val commitRows = plan.get("commit_batch_rows").asLong
  private var spark: SparkSession = _
  private var root: String = _
  private var ql: LsdQL = _
  private var pos = 0
  private var head = 0L
  /** snapshot id → batch appended in it (None: compaction or base). */
  private val snaps = mutable.LinkedHashMap.empty[Long, Option[Int]]
  private val results = mutable.Map.empty[Int, Array[Long]]
  private val pairs = mutable.Map.empty[Int, Array[(Long, Long)]]
  private val travelAt = mutable.Map.empty[Int, Long]

  private def nightsPath = s"$root/nights.parquet"
  private def batchFile(b: Int) = f"${a.data}/nights/batch_$b%03d.parquet"

  def setup(s: SparkSession, dbRoot: String, slice: Boolean): Seq[(String, Double)] = {
    spark = s
    root = dbRoot
    snaps.clear()
    def input(f: String, key: String) = {
      val df = s.read.parquet(s"${a.data}/$f")
      if (slice) df.filter(col(key) % 16 === 0) else df
    }
    Seq(
      timed("detections")(SpatialWriter.write(
        input("detections.parquet", "det_id"), "ra", "dec",
        DetLevel, s"$root/detections.parquet")),
      timed("objects_margin")(SpatialWriter.writeClustered(
        input("objects.parquet", "obj_id"), "obj_ra", "obj_dec",
        ObjLevel, s"$root/objects.parquet", margin = Some(2 * radius),
        numFiles = a.cores)),
      timed("joins")(JoinRegistry.declareSpatial(s, root, SpatialJoinDef(
        "detections", "det_id", "ra", "dec", "objects", "obj_id",
        "obj_ra", "obj_dec", radiusDeg = radius, nmax = 1, snapD6 = true))),
      timed("nights") {
        val id = Snapshots.append(input("nights/base.parquet", "det_id"),
          nightsPath, statsCols = Seq("mjd"), bloomCols = Seq("det_id"))
        snaps(id) = None
        head = Snapshots.compact(s, nightsPath)
        snaps(head) = None
      })
  }

  private def session(t: Tracer): Unit =
    ql = t.always("ql.forDb")(LsdQL.forDb(LsdDb(spark, root)))
      .copy(timeKeys = Map("detections" -> "ts"))

  def warmup(t: Tracer): Unit = {
    session(t)
    // one op of each distinct code path, then rewind the op stream
    val kinds = mutable.Set("cone", "poly", "xmatch", "travel", "commit")
    planned.indices.foreach { i =>
      if (kinds.remove(planned(i).get("kind").asText)) { pos = i; next(t) }
    }
    pos = 0
    results.clear(); pairs.clear(); travelAt.clear()
  }

  def begin(t: Tracer): Unit = session(t)

  def peek: Option[(String, Int)] =
    if (pos >= planned.size) None
    else Some((planned(pos).get("kind").asText, pos / DeckSize))

  def atUnitEnd: Boolean = pos % DeckSize == 0
  def minUnits: Int = 2
  def traceNext: Boolean = (pos / DeckSize) % 2 == 0

  def next(t: Tracer): Long = {
    val i = pos
    val op = planned(i)
    pos += 1
    op.get("kind").asText match {
      case "commit" =>
        val b = op.get("batch").asInt
        val df = spark.read.parquet(batchFile(b))
        val id = t.span("sources.append")(Snapshots.append(df, nightsPath,
          statsCols = Seq("mjd"), bloomCols = Seq("det_id")))
        snaps(id) = Some(b)
        head = id
        if (op.get("compact").asBoolean) {
          head = t.span("sources.compact")(Snapshots.compact(spark, nightsPath))
          snaps(head) = None
        }
        results(i) = Array(id)
        commitRows
      case _ => read(i, op, t)
    }
  }

  /** One read; keeps the ids (or id pairs) it returned for the checks
    * and returns their number. */
  private def read(i: Int, op: JsonNode, t: Tracer): Long = {
    val kind = op.get("kind").asText
    def q(text: String, b: Option[Bounds], ti: Option[TimeInterval]): DataFrame = {
      b.foreach(x => t.count("spatial.cells", x.cells(DetLevel).size.toDouble))
      t.span("ql.query")((b, ti) match {
        case (Some(x), Some(y)) => ql.query(text, x, y)
        case (Some(x), None) => ql.query(text, x)
        case (None, Some(y)) => ql.query(text, y)
        case (None, None) => ql.query(text)
      })
    }
    kind match {
      case "xmatch" =>
        val text = s"SELECT det_id, obj_id, _DIST FROM detections, " +
          s"objects(nmax=${op.get("nmax").asInt}, dmax=${plain(op.get("dmax").asDouble)})"
        val rows = t.collect(q(text, Some(bounds(op)), None))
        pairs(i) = rows.map(r => (r.getLong(0), r.getLong(1))).sorted
        rows.length.toLong
      case "travel" =>
        val at = math.max(1L, head - op.get("back").asLong)
        travelAt(i) = at
        t.count("sources.snapshot_dirs", visibleDirs(at).toDouble)
        val text = s"SELECT det_id FROM nights@$at WHERE mjd >= " +
          s"${op.get("mjd_lo").asDouble}D AND mjd < ${op.get("mjd_hi").asDouble}D"
        val rows = t.collect(q(text, None, None))
        results(i) = rows.map(_.getLong(0)).sorted
        rows.length.toLong
      case _ =>
        val ti = if (kind == "pair")
          Some(TimeInterval(op.get("t0").asText, op.get("t1").asText)) else None
        val rows = t.collect(q("SELECT det_id, ra, dec, mag FROM detections",
          Some(bounds(op)), ti))
        results(i) = rows.map(_.getLong(0)).sorted
        rows.length.toLong
    }
  }

  /** Snapshot directories a read at `at` scans: the last base at or
    * below it and every append after that base. */
  private def visibleDirs(at: Long): Int = {
    val upTo = snaps.keys.filter(_ <= at).toSeq.sorted
    val lastBase = upTo.lastIndexWhere(id => snaps(id).isEmpty && id != 1L)
    upTo.size - math.max(0, lastBase)
  }

  def check(ops: Seq[OpRecord]): (Int, Seq[Failure]) = {
    val fails = ArrayBuffer.empty[Failure]
    val raw = spark.read.parquet(s"${a.data}/detections.parquet")
    val truth = spark.read.parquet(s"${a.data}/truth_detections.parquet")
    val ok = ops.filter(_.error.isEmpty)
    // bounded reads and xmatch reads: the same bound evaluated on the
    // unpruned input; an xmatch must return each bounded detection
    // paired with its true source object
    val bounded = ok.filter(o => Set("cone", "rect", "poly", "pair", "xmatch")(o.kind))
    // one scan per 12 reads: a boolean column per read's bound, which
    // only rows inside a sound declination band evaluate
    val got = bounded.grouped(12).flatMap { group =>
      val flags = group.map { o =>
        val op = planned(o.index)
        var p: Column = bounds(op).predicate(col("ra"), col("dec"))
        if (o.kind == "pair") p = p &&
          TimeInterval(op.get("t0").asText, op.get("t1").asText).predicate(col("ts"))
        val (lo, hi) = decBand(op)
        when(col("dec").between(lo, hi), p).otherwise(false).as(s"k${o.index}")
      }
      val hits = raw.select(col("det_id") +: flags: _*)
        .filter(group.map(o => col(s"k${o.index}")).reduce(_ || _)).collect()
      group.zipWithIndex.map { case (o, j) =>
        o.index -> hits.filter(_.getBoolean(j + 1)).map(_.getLong(0)).toSeq
      }
    }.toMap
    val xmatched = bounded.filter(_.kind == "xmatch")
      .flatMap(o => got.getOrElse(o.index, Nil))
    val trueObj = if (xmatched.isEmpty) Map.empty[Long, Long]
      else truth.filter(col("det_id").isin(xmatched: _*)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    bounded.foreach { o =>
      val want = got.getOrElse(o.index, Nil)
      val mismatch = if (o.kind == "xmatch") {
        val w = want.map(d => (d, trueObj(d))).sorted.toArray
        val g = pairs(o.index)
        if (g.sameElements(w)) None
        else Some(s"${g.length} pairs, expected ${w.length}")
      } else {
        val w = want.sorted.toArray
        val g = results(o.index)
        if (g.sameElements(w)) None
        else Some(s"${g.length} rows, expected ${w.length}")
      }
      mismatch.foreach(m => fails += Failure(s"check op ${o.index} ${o.kind}",
        "WrongResult", m))
    }
    // the generated night batches, to rebuild each snapshot's contents
    val committed = snaps.values.flatten.toSeq.distinct
    val files = s"${a.data}/nights/base.parquet" +: committed.map(batchFile)
    val nights = spark.read.parquet(files: _*)
      .select(col("det_id"), col("mjd"), input_file_name().as("f")).collect()
    val fileOf = (None +: committed.map(Some(_))).zip(files).toMap
    val byBatch = nights.groupBy(r => fileOf.collectFirst {
      case (b, f) if r.getString(2).endsWith(new File(f).getName) => b
    }.flatten)
    def contents(at: Long): Seq[org.apache.spark.sql.Row] =
      byBatch.getOrElse(None, Array.empty[org.apache.spark.sql.Row]).toSeq ++ snaps.toSeq
        .filter { case (id, b) => id <= at && b.isDefined }
        .flatMap { case (_, b) => byBatch.getOrElse(b, Array.empty[org.apache.spark.sql.Row]).toSeq }
    // time-travel reads
    ok.filter(_.kind == "travel").foreach { o =>
      val op = planned(o.index)
      val (lo, hi) = (op.get("mjd_lo").asDouble, op.get("mjd_hi").asDouble)
      val want = contents(travelAt(o.index))
        .filter(r => r.getDouble(1) >= lo && r.getDouble(1) < hi)
        .map(_.getLong(0)).sorted.toArray
      if (!results(o.index).sameElements(want))
        fails += Failure(s"check op ${o.index} travel", "WrongResult",
          s"${results(o.index).length} rows, expected ${want.length}")
    }
    // every commit read back: each snapshot directory holds exactly the
    // appended batch (or, for a compaction, everything before it)
    val stored = spark.read.parquet(nightsPath).groupBy("snap")
      .agg(count(lit(1)), sum("det_id")).collect()
      .map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2))).toMap
    snaps.foreach { case (id, b) =>
      val want = b match {
        case Some(x) => byBatch.getOrElse(Some(x), Array.empty[org.apache.spark.sql.Row]).toSeq
        case None => contents(id)
      }
      val w = (want.size.toLong, want.map(_.getLong(0)).sum)
      if (!stored.get(id).contains(w))
        fails += Failure(s"check snapshot $id", "WrongResult",
          s"stored ${stored.get(id)}, expected $w")
    }
    (bounded.size + ok.count(_.kind == "travel") + snaps.size, fails.toSeq)
  }

  def inputBytes: Long = {
    val committed = snaps.values.flatten.toSeq.distinct
    (Seq(s"${a.data}/detections.parquet", s"${a.data}/objects.parquet",
      s"${a.data}/nights/base.parquet") ++ committed.map(batchFile))
      .map(f => Harness.duSize(new File(f))).sum
  }
  def writtenBytes: Long = Harness.duSize(new File(root))
  def filesWritten: Long = Harness.duFiles(new File(root))
}

object QlInteractive {
  /** SkyPix level of the detections' cell-directory layout. */
  val DetLevel = 3
  /** SkyPix level of the objects' margin layout (the xmatch blocking). */
  val ObjLevel = 10
  /** Ops per deck (must match perfbench/gen.py's QL_DECK). */
  val DeckSize = 10

  /** A decimal literal (no exponent) with every digit a double needs. */
  def plain(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  /** A declination range holding every row of the read's bound: a
    * cone's rows lie within its radius in declination; a rect's within
    * its edges; the great-circle edges of a polygon a few degrees wide
    * bulge under a degree beyond its vertices. */
  def decBand(op: JsonNode): (Double, Double) = op.get("kind").asText match {
    case "rect" => (op.get("lat_min").asDouble - 1e-6, op.get("lat_max").asDouble + 1e-6)
    case "poly" =>
      val d = op.get("verts").asScala.map(_.get(1).asDouble)
      (d.min - 2.0, d.max + 2.0)
    case _ =>
      val r = op.get("r").asDouble + 1e-3
      (op.get("dec").asDouble - r, op.get("dec").asDouble + r)
  }

  def bounds(op: JsonNode): Bounds = op.get("kind").asText match {
    case "rect" => Bounds.Rect(op.get("lon_min").asDouble, op.get("lon_max").asDouble,
      op.get("lat_min").asDouble, op.get("lat_max").asDouble)
    case "poly" => Bounds.Polygon(op.get("verts").asScala.map(v =>
      (v.get(0).asDouble, v.get(1).asDouble)).toSeq)
    case _ => Bounds.Cone(op.get("ra").asDouble, op.get("dec").asDouble,
      op.get("r").asDouble)
  }
}
