package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.KernelChain
import perfbench.Harness.timed
import graft.sources.{Snapshots, SpatialWriter}
import graft.spatial.{CrossMatch, ObjectCatalog, SkyPix}

/** survey_batch: LSD's nightly pipeline over a stream of generated night
  * batches. Each batch runs the same chain, one timed op per call:
  * import (`SpatialWriter.write`), xmatch against the objects' margin
  * cache (`CrossMatch.applyPreMarginedSnapped`), store the matches
  * (`Snapshots.append`), friends-of-friends on one deep field
  * (`ObjectCatalog.build`), per-object light curves and a sky map
  * (`KernelChain.mapReduce`). */
final class SurveyBatch(a: Args) extends Workload {
  import SurveyBatch._

  private val plan = Harness.readJson(s"${a.data}/plan.json")
  private val batches = plan.get("batches").asScala.toIndexedSeq
  private val centers = plan.get("centers").asScala.map(c =>
    (c.get(0).asDouble, c.get(1).asDouble)).toIndexedSeq
  private val radius = plan.get("xmatch_radius_deg").asDouble
  private val link = plan.get("fof_link_deg").asDouble
  private var spark: SparkSession = _
  private var root: String = _
  private var objects: String = _
  private var tracer: Tracer = _
  private var pos = 0
  private var matches: DataFrame = _
  private val snapOf = mutable.Map.empty[Int, Long]
  private val fof = mutable.Map.empty[Int, Array[(Long, Long)]]
  private val curves = mutable.Map.empty[Int, (Long, Long)]
  private val skymap = mutable.Map.empty[Int, Long]
  private var warm = false

  private def batchFile(b: Int) = f"${a.data}/batches/batch_$b%03d.parquet"
  private def importPath(b: Int) = f"$root/import/batch_$b%03d.parquet"
  private def matchedPath = s"$root/matched.parquet"

  def setup(s: SparkSession, dbRoot: String, slice: Boolean): Seq[(String, Double)] = {
    spark = s
    root = dbRoot
    objects = s"$dbRoot/objects.parquet"
    val objs = s.read.parquet(s"${a.data}/objects.parquet")
    Seq(timed("objects_margin")(SpatialWriter.writeClustered(
      if (slice) objs.filter(col("obj_id") % 8 === 0) else objs, "obj_ra",
      "obj_dec", ObjLevel, objects, margin = Some(2 * radius),
      numFiles = a.cores)))
  }

  def warmup(t: Tracer): Unit = {
    // the whole chain once on an eighth of a batch
    warm = true
    Kinds.foreach(k => run(k, 0, t))
    warm = false
  }

  def begin(t: Tracer): Unit = {
    tracer = t
    snapOf.clear(); fof.clear(); curves.clear(); skymap.clear()
  }

  def peek: Option[(String, Int)] =
    if (pos / Kinds.size >= batches.size) None
    else Some((Kinds(pos % Kinds.size), pos / Kinds.size))

  def atUnitEnd: Boolean = pos % Kinds.size == 0
  def minUnits: Int = 1
  // alternate by batch: the chain's calls depend on each other
  def traceNext: Boolean = (pos / Kinds.size) % 2 == 0

  def next(t: Tracer): Long = {
    val (kind, b) = (Kinds(pos % Kinds.size), pos / Kinds.size)
    pos += 1
    run(kind, b, t)
  }

  private def rowsOf(b: Int) = batches(b).get("rows").asLong

  private def batch(b: Int): DataFrame = {
    val df = spark.read.parquet(batchFile(b))
    if (warm) df.filter(col("det_id") % 8 === 0) else df
  }

  private def run(kind: String, b: Int, t: Tracer): Long = kind match {
    case "import" =>
      t.span("sources.spatial_write")(SpatialWriter.write(
        batch(b), "ra", "dec", DetLevel, importPath(b)))
      rowsOf(b)
    case "xmatch" =>
      val dets = SpatialWriter.readPrimary(spark, importPath(b))
        .select("det_id", "ra", "dec", "mag", "mjd")
      val objs = SpatialWriter.readWithMargins(spark, objects)
      val m = t.span("spatial.xmatch") {
        val pairs = CrossMatch.applyPreMarginedSnapped(dets, objs, "det_id",
          "ra", "dec", "obj_id", "obj_ra", "obj_dec", radius, 1, ObjLevel)
        val df = pairs.join(dets, col("a_id") === col("det_id"))
          .select(col("det_id"), col("b_id").as("obj_id"),
            col("dist_deg"), col("mag"), col("mjd"))
          .persist()
        df.count()
        df
      }
      matches = m
      rowsOf(b)
    case "append" =>
      val id = t.span("sources.append")(Snapshots.append(matches, matchedPath,
        statsCols = Seq("mjd"), bloomCols = Seq("obj_id")))
      snapOf(b) = id
      rowsOf(b)
    case "objcat" =>
      val (ra0, dec0) = centers(batches(b).get("field").asInt)
      val region = SpatialWriter.readPrimary(spark, importPath(b))
        .filter(CrossMatch.distDeg(col("ra"), col("dec"), lit(ra0), lit(dec0))
          <= FieldRadiusDeg + 0.05)
      val rows = t.span("spatial.objcat") {
        val (assign, _) = ObjectCatalog.build(region, "det_id", "ra", "dec", link)
        t.collect(assign.select("det_id", "obj_id"))
      }
      fof(b) = rows.map(r => (r.getLong(0), r.getLong(1)))
      rows.length.toLong
    case "lightcurves" =>
      val sp = spark
      import sp.implicits._
      val ds = matches.select("obj_id", "mag", "mjd").as[(Long, Double, Double)]
      val lc = t.span("operators.lightcurves")(
        KernelChain.mapReduce(ds, lightCurveMap, lightCurveReduce))
      val r = t.collect(lc.toDF().agg(count(lit(1)), sum("_2")))
      matches.unpersist(blocking = true)
      curves(b) = (r(0).getLong(0), r(0).getLong(1))
      r(0).getLong(0)
    case "skymap" =>
      val sp = spark
      import sp.implicits._
      val ds = batch(b).select("ra", "dec")
        .as[(Double, Double)]
      val sm = t.span("operators.skymap")(
        KernelChain.mapReduce(ds, skyMap, skyReduce))
      val r = t.collect(sm.toDF())
      skymap(b) = r.map(_.getLong(1)).sum
      r.length.toLong
  }

  def check(ops: Seq[OpRecord]): (Int, Seq[Failure]) = {
    val fails = ArrayBuffer.empty[Failure]
    val done = ops.groupBy(_.unit).filter(_._2.forall(_.error.isEmpty)).keys.toSeq.sorted
    if (done.isEmpty) return (0, Seq.empty)
    val truth = spark.read.parquet(done.map(b =>
      f"${a.data}/truth/batch_$b%03d.parquet"): _*)
    // stored matches: every detection of the batch, with its true object
    val stored = spark.read.parquet(matchedPath)
      .join(truth.withColumnRenamed("obj_id", "true_obj"), "det_id")
      .groupBy("snap").agg(count(lit(1)),
        sum(when(col("obj_id") === col("true_obj"), 1L).otherwise(0L)),
        countDistinct("obj_id"))
      .collect().map(r => r.getInt(0).toLong -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val truthDistinct = spark.read.parquet(done.map(b =>
      f"${a.data}/truth/batch_$b%03d.parquet"): _*)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(countDistinct("obj_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (b <- done) {
      val rows = rowsOf(b)
      val what = s"check batch $b"
      stored.get(snapOf(b)) match {
        case Some((n, right, _)) if n == rows && right == rows => ()
        case got => fails += Failure(s"$what xmatch", "WrongResult",
          s"stored (rows, true matches) $got, expected $rows of each")
      }
      val nObj = truthDistinct.collectFirst {
        case (f, n) if f.endsWith(f"batch_$b%03d.parquet") => n }.getOrElse(-1L)
      if (curves(b) != ((nObj, rows)))
        fails += Failure(s"$what lightcurves", "WrongResult",
          s"(objects, detections) ${curves(b)}, expected ${(nObj, rows)}")
      if (skymap(b) != rows)
        fails += Failure(s"$what skymap", "WrongResult",
          s"${skymap(b)} detections mapped, expected $rows")
      fofMismatch(b).foreach(m => fails += Failure(s"$what objcat", "WrongResult", m))
    }
    // traced run: xmatch candidate pairs per kept match, on one batch
    if (tracer.enabled) {
      val b = done.last
      val dets = SpatialWriter.readPrimary(spark, importPath(b))
      val objs = SpatialWriter.readWithMargins(spark, objects)
      val cand = CrossMatch.allPairsPreMargined(dets, objs, "det_id", "ra", "dec",
        "obj_id", "obj_ra", "obj_dec", radius + math.max(radius * 1e-3, 1e-6),
        ObjLevel).count()
      tracer.countAlways("spatial.candidates_per_match", cand.toDouble / rowsOf(b))
    }
    (4 * done.size, fails.toSeq)
  }

  /** FoF components must be exactly the true objects of the field. */
  private def fofMismatch(b: Int): Option[String] = {
    val want = spark.read.parquet(f"${a.data}/truth/fof_$b%03d.parquet").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = fof(b)
    if (got.length != want.size || !got.forall(p => want.contains(p._1)))
      return Some(s"${got.length} detections in components, expected ${want.size}")
    val comps = got.groupBy(_._2).values.map(_.map(p => want(p._1)).toSet)
    val nTrue = want.values.toSet.size
    if (comps.size != nTrue || comps.exists(_.size != 1))
      Some(s"${comps.size} components, expected $nTrue objects, " +
        s"${comps.count(_.size != 1)} mixed")
    else None
  }

  def inputBytes: Long =
    (s"${a.data}/objects.parquet" +: snapOf.keys.toSeq.map(batchFile))
      .map(f => Harness.duSize(new File(f))).sum
  def writtenBytes: Long = Harness.duSize(new File(root))
  def filesWritten: Long = Harness.duFiles(new File(root))
}

object SurveyBatch {
  val Kinds: IndexedSeq[String] =
    IndexedSeq("import", "xmatch", "append", "lightcurves", "objcat", "skymap")
  /** SkyPix level of each night's imported cell-directory layout. */
  val DetLevel = 3
  /** SkyPix level of the objects' margin layout (the xmatch blocking):
    * a deep field spans a few dozen cells, so its cells stay hot. */
  val ObjLevel = 10
  val SkymapLevel = 6
  val FieldRadiusDeg = 1.0

  // Kernels live here, not in the class, so their closures capture
  // nothing but their arguments.
  val lightCurveMap: ((Long, Double, Double)) => Iterator[(Long, (Double, Double))] =
    r => Iterator((r._1, (r._2, r._3)))
  val lightCurveReduce: (Long, Iterator[(Double, Double)]) => Iterator[(Long, Long, Double, Double, Double)] =
    (k, it) => {
      var n = 0L; var s = 0.0; var s2 = 0.0
      var t0 = Double.MaxValue; var t1 = Double.MinValue
      it.foreach { case (mag, mjd) =>
        n += 1; s += mag; s2 += mag * mag
        t0 = math.min(t0, mjd); t1 = math.max(t1, mjd)
      }
      val mean = s / n
      Iterator((k, n, mean, math.sqrt(math.max(0.0, s2 / n - mean * mean)), t1 - t0))
    }
  val skyMap: ((Double, Double)) => Iterator[(Long, Long)] =
    r => Iterator((SkyPix.cellId(r._1, r._2, SkymapLevel), 1L))
  val skyReduce: (Long, Iterator[Long]) => Iterator[(Long, Long)] =
    (k, it) => Iterator((k, it.sum))
}
