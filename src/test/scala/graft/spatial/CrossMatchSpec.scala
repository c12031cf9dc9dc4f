package graft.spatial

import graft.SpecBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import scala.util.Random

/** CrossMatch vs brute force on a fixed-seed synthetic catalog pair
  * (FIXTURES.md §B objects/detections analog). */
class CrossMatchSpec extends SpecBase {
  import spark.implicits._

  // clustered sky: objects, plus detections scattered around them
  private val rnd = new Random(42)
  private val objects: Seq[(Long, Double, Double)] = (0L until 300L).map { i =>
    (i, rnd.nextDouble() * 360,
      math.toDegrees(math.asin(rnd.nextDouble() * 2 - 1)))
  } ++ Seq((900L, 10.0, 89.5), (901L, 200.0, -89.2)) // polar cases
  private val detections: Seq[(Long, Double, Double)] =
    objects.flatMap { case (oid, lon, lat) =>
      (0 until 3).map { j =>
        val d = 0.03 * rnd.nextDouble()
        val ang = rnd.nextDouble() * 2 * math.Pi
        (oid * 10 + j,
          lon + d * math.cos(ang) / math.max(0.05, math.cos(math.toRadians(lat))),
          math.min(89.9, math.max(-89.9, lat + d * math.sin(ang))))
      }
    }

  private def haversineDeg(lon1: Double, lat1: Double,
                           lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.sin(dLat / 2) * math.sin(dLat / 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.sin(dLon / 2) * math.sin(dLon / 2)
    math.toDegrees(2 * math.asin(math.sqrt(a)))
  }

  private def brute(radius: Double, nmax: Int): Set[(Long, Long, Int)] =
    detections.flatMap { case (did, dlon, dlat) =>
      objects.map { case (oid, olon, olat) =>
        (oid, haversineDeg(dlon, dlat, olon, olat)) }
        .filter(_._2 <= radius)
        .sortBy { case (oid, d) => (d, oid) }
        .take(nmax)
        .zipWithIndex
        .map { case ((oid, _), i) => (did, oid, i + 1) }
    }.toSet

  private lazy val detDf = detections.toDF("det_id", "lon", "lat")
  private lazy val objDf = objects.toDF("obj_id", "lon", "lat")

  test("matches brute force exactly (pairs + ranks), incl. polar caps") {
    for ((radius, nmax) <- Seq((0.05, 1), (0.05, 3), (0.2, 2))) {
      val got = CrossMatch(detDf, objDf, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", radius, nmax)
        .select("a_id", "b_id", "match_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(radius, nmax), s"radius=$radius nmax=$nmax")
    }
  }

  test("distance bound holds and result is non-empty (radius 0.05)") {
    val got = CrossMatch(detDf, objDf, "det_id", "lon", "lat",
      "obj_id", "lon", "lat", 0.05, 1)
    assert(got.count() > 0)
    assert(got.filter(col("dist_deg") > 0.05).count() == 0)
  }

  test("empty probe side yields empty result") {
    val empty = Seq.empty[(Long, Double, Double)].toDF("det_id", "lon", "lat")
    assert(CrossMatch(empty, objDf, "det_id", "lon", "lat",
      "obj_id", "lon", "lat", 0.1, 1).count() == 0)
  }

  test("pre-margined cache path matches brute force (incl. polar caps)") {
    val radius = 0.05
    val level = CrossMatch.levelFor(radius)
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_margin_$level"
    graft.sources.SpatialWriter.write(objDf, "lon", "lat", level, path,
      margin = Some(radius))
    val bM = graft.sources.SpatialWriter.readWithMargins(spark, path)
    val got = CrossMatch.applyPreMargined(detDf, bM, "det_id", "lon", "lat",
      "obj_id", "lon", "lat", radius, 3, level)
      .select("a_id", "b_id", "match_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute(radius, 3))
    // a coarser-than-written level must be rejected (closure violated)
    intercept[IllegalArgumentException] {
      CrossMatch.applyPreMargined(detDf, bM, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", 0.9, 1, level)
    }
  }

  // a deep DRIVING field (500 detections in one blocking cell) over a
  // B side that is ALSO dense there, so the salted probe has real
  // pairs and the forced-shuffle arm moves real rows
  private lazy val clumpDets = (detections ++ (0L until 500L).map { i =>
    (5000L + i, 100.0 + (i % 25) * 0.0004, 20.0 + (i / 25) * 0.0004)
  }).toDF("det_id", "lon", "lat")
  private lazy val clumpObjs = (objects ++ (0L until 300L).map { i =>
    (8000L + i, 100.0 + (i % 17) * 0.0006, 20.0 + (i / 17) * 0.0006)
  }).toDF("obj_id", "lon", "lat")

  // The route grid, one table: {blocking, margin} x {raw, snapped} x
  // {unsalted, salted broadcast, salted forced shuffle, all-cold
  // threshold}. Every case must equal the unsalted blocking relation of
  // the same semantics; the tests below each check one slice of it, and
  // together they cover every case.
  private case class Route(margin: Boolean, snap: Boolean, salt: String) {
    override def toString =
      s"${if (margin) "margin" else "blocking"} " +
        s"${if (snap) "snapped" else "raw"} $salt"
  }
  // name -> (hotThreshold, maxBroadcastRows, expect a salted plan)
  private val salting = Map(
    "unsalted" -> (None, 4L << 20, false),
    "salted broadcast" -> (Some(100L), 4L << 20, true),
    "salted shuffle" -> (Some(100L), 1L, true), // anything real exceeds 1
    "all-cold threshold" -> (Some(1000000L), 4L << 20, false))
  private val (gridRadius, gridNmax) = (0.05, 2)
  // one stored cache serves both semantics: margin and level cover the
  // snapped superset radius, which the snapped margin route needs
  private lazy val gridLevel =
    CrossMatch.levelFor(CrossMatch.snapSuperset(gridRadius))
  private lazy val gridCache = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_test_margin_grid"
    graft.sources.SpatialWriter.write(clumpObjs, "lon", "lat", gridLevel,
      path, margin = Some(CrossMatch.snapSuperset(gridRadius)))
    graft.sources.SpatialWriter.readWithMargins(spark, path)
  }
  private def gridRows(df: org.apache.spark.sql.DataFrame) =
    df.select("a_id", "b_id", "dist_deg", "match_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sorted.toSeq
  private lazy val gridWant = Seq(false, true).map { snap =>
    val want = gridRows(CrossMatch(clumpDets, clumpObjs, "det_id", "lon",
      "lat", "obj_id", "lon", "lat", gridRadius, gridNmax, snapD6 = snap))
    assert(want.nonEmpty)
    snap -> want
  }.toMap

  private def checkRoutes(routes: Route*): Unit = for (route <- routes) {
    val (hot, maxB, salted) = salting(route.salt)
    val df =
      if (route.margin) CrossMatch.applyPreMargined(clumpDets, gridCache,
        "det_id", "lon", "lat", "obj_id", "lon", "lat", gridRadius,
        gridNmax, gridLevel, snapD6 = route.snap, hotThreshold = hot,
        salts = 5, maxBroadcastRows = maxB)
      else CrossMatch(clumpDets, clumpObjs, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", gridRadius, gridNmax, snapD6 = route.snap,
        hotThreshold = hot, salts = 5, maxBroadcastRows = maxB)
    val plan = df.queryExecution.analyzed.toString
    val (got, want) = (gridRows(df), gridWant(route.snap))
    assert(plan.contains("_salt") == salted, s"$route: salting")
    assert(plan.contains("shuffle_hash") == (salted && maxB == 1L),
      s"$route: probe transport")
    assert(got == want, s"$route diverged: " +
      s"only-route=${got.diff(want).take(5)} " +
      s"only-blocking=${want.diff(got).take(5)}")
  }

  test("skewSafe equals the plain plan, with and without a hot field") {
    for (snap <- Seq(false, true);
         salt <- Seq("unsalted", "salted broadcast", "all-cold threshold"))
      checkRoutes(Route(margin = false, snap, salt))
  }

  test("skewSafe broadcast guard: shuffle fallback is still row-identical") {
    checkRoutes(Seq(false, true).map(Route(margin = false, _,
      "salted shuffle")): _*)
  }

  test("applyPreMarginedSnapped is row-identical to applySnapped") {
    checkRoutes(Route(margin = true, snap = true, "unsalted"))
  }

  test("applyPreMarginedSkew: hot driving cells salt against the stored " +
    "replicas; rows identical on broadcast AND shuffle arms") {
    checkRoutes(salting.keys.toSeq.sorted.map(Route(margin = true,
      snap = false, _)): _*)
  }

  test("applyPreMarginedSnappedSkew is row-identical to applySnapped") {
    checkRoutes(Seq("salted broadcast", "salted shuffle",
      "all-cold threshold").map(Route(margin = true, snap = true, _)): _*)
  }

  test("a salted route ranks once: one row_number Window in the plan") {
    val df = CrossMatch(clumpDets, clumpObjs, "det_id", "lon", "lat",
      "obj_id", "lon", "lat", 0.05, 2, hotThreshold = Some(100L), salts = 5)
    df.collect()
    object Plans extends AdaptiveSparkPlanHelper
    val windows = Plans.collect(df.queryExecution.executedPlan) {
      case w: WindowExec => w
    }
    assert(windows.size == 1, df.queryExecution.executedPlan.toString)
  }

  test("radius validation") {
    intercept[IllegalArgumentException] {
      CrossMatch(detDf, objDf, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", 2.0, 1)
    }
  }

  test("applySnapped: membership and rank decided on the snapped distance") {
    // one driving source at (10, 0); candidates at controlled lat
    // offsets so dist == Δlat up to ~1e-16 relative fp error
    val a = Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
    val b = Seq(
      (5L, 10.0, 0.0500004), // snaps to 0.050000 — ties with id 7
      (7L, 10.0, 0.0500002), // raw-closer than id 5, same snapped value
      (11L, 10.0, 0.1000004), // raw > r, snaps to 0.100000 → member
      (12L, 10.0, 0.1000006)) // snaps to 0.100001 → out
      .toDF("cid", "clon", "clat")
    val snapped = CrossMatch(a, b, "oid", "olon", "olat",
      "cid", "clon", "clat", radiusDeg = 0.1, nmax = 4, snapD6 = true)
      .orderBy("match_rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    // snapped ties (ids 5 and 7 both at 0.050000) order by b_id; the
    // raw-boundary row (id 11) is IN because its snapped value equals
    // the radius; id 12 is OUT one 1e-6 step above
    assert(snapped.toSeq == Seq((5L, 0.05, 1), (7L, 0.05, 2),
      (11L, 0.1, 3)), s"got ${snapped.toSeq}")
    // contrast: the raw relation drops id 11 and ranks id 7 first
    val raw = CrossMatch(a, b, "oid", "olon", "olat",
      "cid", "clon", "clat", 0.1, 4)
      .orderBy("match_rank").collect().map(_.getLong(1))
    assert(raw.toSeq == Seq(7L, 5L))
  }

  test("applySnapped: arcsecond-scale radius keeps snap-boundary members") {
    // regression (review r18): a purely RELATIVE superset margin is
    // smaller than the d6 half-step at tiny radii — a pair whose raw
    // distance snaps down to the radius was cut before snapping
    val a = Seq((1L, 10.0, 0.0)).toDF("oid", "olon", "olat")
    val b = Seq((5L, 10.0, 0.00010004)) // raw ~1.0004e-4 > r, snaps to r
      .toDF("cid", "clon", "clat")
    val got = CrossMatch(a, b, "oid", "olon", "olat",
      "cid", "clon", "clat", radiusDeg = 0.0001, nmax = 1, snapD6 = true)
      .collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.0001,
      s"snap-boundary member lost at small radius: ${got.toSeq}")
    // and the blocking-cap headroom is a loud require, not silent loss
    intercept[IllegalArgumentException] {
      CrossMatch(a, b, "oid", "olon", "olat",
        "cid", "clon", "clat", radiusDeg = 1.0, nmax = 1, snapD6 = true)
    }
  }

  test("applySnapped: skew-composed path is row-identical") {
    def run(ht: Option[Long]) =
      CrossMatch(detDf, objDf, "det_id", "lon", "lat",
        "obj_id", "lon", "lat", 0.2, 2, snapD6 = true, hotThreshold = ht,
        salts = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val plain = run(None)
    // threshold 1 forces every populated cell hot — the whole catalog
    // takes the salted probe
    val viaSkew = run(Some(1L))
    assert(plain.nonEmpty && viaSkew == plain,
      s"diverged: ${(viaSkew diff plain).take(3)} / ${
        (plain diff viaSkew).take(3)}")
  }
}
