package graft.spatial

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spatial nearest-neighbor cross-match — the reference's signature
  * operator (`lsd-xmatch` + neighbor-margin cache; SURVEY.md §2C J6,
  * UNVERIFIED).
  *
  * For every row of A, find the B rows within `radiusDeg` great-circle
  * distance, keep the `nmax` nearest (ties broken by lowest B id).
  *
  * Spark-native two-phase plan (no custom physical operator needed):
  *
  *   1. candidates — one step per catalog source, both ending in the
  *      same cell equi-join of A's home cell against B rows tagged
  *      with every cell they can match in:
  *      - [[allPairs]] (blocking): B is exploded to its cell's ≤9-cell
  *        neighborhood at a radius-derived SkyPix level at query time;
  *      - [[allPairsPreMargined]] (stored margin cache): the explode
  *        happened once at write time (LSD's neighbor-margin cache),
  *        so B's stored rows join as they are.
  *      Each is refined to the exact haversine radius.
  *   2. [[nearest]] — optional d6 snap, radius cut, per-A-row
  *      `row_number` window, top nmax.
  *
  * Polar caps: the cylindrical grid loses lon-adjacency closure above
  * |lat| ≈ 85°, so pairs with either side in the cap region are
  * matched through a separate broadcast join of the (by equal-area
  * construction, tiny) polar slices. The channels are disjoint, so no
  * dedup pass is needed.
  *
  * Deep-field skew: both candidate steps take an optional
  * `hotThreshold`. One cheap count aggregation finds the cells whose
  * A-side population exceeds it (driver-sized by construction: a deep
  * field is a handful of cells). Cold rows take the plain plan; hot
  * rows are SALTED into `salts` sub-buckets on a hash of the A id
  * while the hot cells' B slice replicates per salt — broadcast when
  * small, a shuffled (cell, salt) equi-join past `maxBroadcastRows`.
  * The polar-cap channel re-attaches for the hot rows, so the
  * candidate relation, and therefore every nearest-k answer, is
  * EXACTLY the unsalted one (the A-row partition is disjoint; ranking
  * is per A row).
  *
  * At 100 TB: the candidate join is a plain shuffle join on a
  * balanced key; nothing is driver-side, the window in phase 2
  * shuffles by A id only for rows that had candidates, and the cap
  * channel stays a broadcast as long as the catalog isn't
  * polar-concentrated.
  */
object CrossMatch {
  val CapLat = 85.0

  /** Great-circle distance in degrees (haversine, built-ins only). */
  def distDeg(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = sin(dLat / 2) * sin(dLat / 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon / 2) * sin(dLon / 2)
    degrees(lit(2) * asin(sqrt(a)))
  }

  /** Finest level whose 3×3 neighborhood is closure-complete for
    * radius-r matching below `capLat`, from the exact grid geometry
    * (10% safety margin on the small-angle approximations):
    *
    *   y: a radius-r disc spans Δ(sin lat)/2 ≤ r·π/360 in fy, which
    *      must fit within one cell (1/2^l) → 2^l ≤ 360/(π·r).
    *   x: at latitude `capLat` the disc spans Δlon ≈ r/cos(capLat),
    *      i.e. Δfx ≤ r/(360·cos capLat) → 2^l ≤ 360·cos(capLat)/r.
    *
    * `capLat` is a perf knob WITHIN its legal range [radiusDeg, 85°]
    * (enforced in allPairs): rows above it are routed through the
    * broadcast cap channel regardless, but below radiusDeg the
    * channel decomposition stops being complete (cross-equator pairs
    * with one side above the cap would be dropped). Catalogs confined
    * to low latitudes should pass their actual extent — e.g. an
    * equatorial band at r=0.95° blocks at level 6 (≈2k live cells)
    * instead of the polar-safe level 4. */
  def levelFor(radiusDeg: Double, capLat: Double = CapLat): Int = {
    val r = radiusDeg * 1.1
    val ly = math.floor(math.log(360.0 / (math.Pi * r)) / math.log(2)).toInt
    val lx = math.floor(
      math.log(360.0 * math.cos(math.toRadians(capLat)) / r) / math.log(2)).toInt
    math.max(0, math.min(12, math.min(ly, lx)))
  }

  /** Why a margin layout written at `level` cannot serve radius-r
    * matching below `capLat`, or None when it can. Write-time
    * replication only reaches the immediate 3×3 neighbors, so a level
    * finer than [[levelFor]] would silently drop cross-cell pairs. */
  def marginClosureError(level: Int, radiusDeg: Double,
                         capLat: Double = CapLat): Option[String] = {
    val max = levelFor(radiusDeg, capLat)
    if (level <= max) None
    else Some(s"margin layout written at level $level is too fine for " +
      s"radius $radiusDeg deg below lat $capLat (max $max) — 3x3 " +
      "neighbor closure would drop pairs")
  }

  /** Blocking radius for SNAPPED semantics: `radiusDeg` plus a
    * superset margin that dominates BOTH libm ulps (0.1% relative) and
    * the d6 snap half-step (absolute 1e-6: a raw distance up to
    * r + 5e-7 still snaps to <= r, so a purely relative margin would
    * lose legitimate members at arcsecond-scale radii — review r18).
    * The blocking layer caps at 1.0°, hence the headroom require. */
  def snapSuperset(radiusDeg: Double): Double = {
    val sup = radiusDeg + math.max(radiusDeg * 1e-3, 1e-6)
    require(radiusDeg > 0 && sup <= 1.0,
      s"snapped-semantics radius must leave superset headroom under " +
        s"the 1-degree blocking cap: radiusDeg in (0, ~0.999], got " +
        s"$radiusDeg")
    sup
  }

  /** The nearest-k finisher over a candidate relation (columns a_id,
    * b_id, dist_deg): optional d6 snap of the distance, the radius
    * cut, then the `nmax` nearest per A row ranked by (dist_deg, b_id).
    *
    * `snapD6 = true` decides boundary membership and order on the
    * SNAPPED distance — the oracle-determinism discipline, so a
    * relation built with it is hash-checkable against an engine that
    * computes its own haversine. The candidates must then have been
    * blocked at [[snapSuperset]]`(radiusDeg)` so a pair whose raw
    * distance sits within libm ulps or one snap half-step of the
    * radius is never lost to one engine's rounding. The snap is
    * monotone, so every superset candidate that outranks a survivor
    * survives too — the re-rank is exact, not approximate.
    *
    * @return columns: a_id, b_id, dist_deg, match_rank (1 = nearest)
    */
  def nearest(pairs: DataFrame, radiusDeg: Double, nmax: Int,
              snapD6: Boolean = false): DataFrame = {
    require(nmax >= 1, s"nmax must be >= 1, got $nmax")
    val w = Window.partitionBy("a_id")
      .orderBy(col("dist_deg").asc, col("b_id").asc)
    val dist =
      if (snapD6) pairs.withColumn("dist_deg",
        graft.functions.Det.d6(col("dist_deg")))
      else pairs
    dist.filter(col("dist_deg") <= radiusDeg)
      .withColumn("match_rank", row_number().over(w))
      .filter(col("match_rank") <= nmax)
      .select("a_id", "b_id", "dist_deg", "match_rank")
  }

  /** @param a        left catalog (each row gets its nmax matches)
    * @param b        right catalog (probed)
    * @param aId,aLon,aLat / bId,bLon,bLat  column names
    * @param radiusDeg match radius (≤ 1°; ≲ 0.999° with `snapD6`)
    * @param nmax     keep this many nearest matches per A row
    * @param snapD6   membership and rank on the snapped distance
    *   ([[nearest]])
    * @param hotThreshold,salts,maxBroadcastRows deep-field salting
    *   ([[allPairs]])
    * @return columns: a_id, b_id, dist_deg, match_rank (1 = nearest)
    */
  def apply(a: DataFrame, b: DataFrame,
            aId: String, aLon: String, aLat: String,
            bId: String, bLon: String, bLat: String,
            radiusDeg: Double, nmax: Int,
            capLat: Double = CapLat,
            snapD6: Boolean = false,
            hotThreshold: Option[Long] = None,
            salts: Int = 16,
            maxBroadcastRows: Long = 4L << 20): DataFrame =
    nearest(allPairs(a, b, aId, aLon, aLat, bId, bLon, bLat,
      blockRadius(radiusDeg, snapD6), capLat, hotThreshold = hotThreshold,
      salts = salts, maxBroadcastRows = maxBroadcastRows),
      radiusDeg, nmax, snapD6)

  /** All pairs within `radiusDeg` through the query-time blocking join
    * (columns a_id, b_id, dist_deg, then any carried columns).
    *
    * `carryA`/`carryB` name caller columns to pass through unchanged
    * (must not collide with a_id/a_lon/a_lat/b_id/b_lon/b_lat/cell/
    * dist_deg/_salt); `keepCoords` additionally emits a_lon/a_lat/
    * b_lon/b_lat. This is the form epoch-aware matching needs: per-pair
    * refinement against PROPAGATED positions must see each side's
    * payload and coordinates in the candidate relation, not re-join
    * them onto the pair table afterwards (an extra shuffle of the big
    * side at survey scale). Candidates are still refined to
    * `radiusDeg` at the GIVEN coordinates — callers doing propagated
    * matching pass an inflated radius and re-refine.
    *
    * `hotThreshold` (A rows per blocking cell) turns on deep-field
    * salting into `salts` sub-buckets; the B probe slice of the hot
    * cells broadcasts up to `maxBroadcastRows` replicated rows and
    * shuffles past it. Rows are identical either way. */
  def allPairs(a: DataFrame, b: DataFrame,
               aId: String, aLon: String, aLat: String,
               bId: String, bLon: String, bLat: String,
               radiusDeg: Double, capLat: Double = CapLat,
               carryA: Seq[String] = Nil, carryB: Seq[String] = Nil,
               keepCoords: Boolean = false,
               hotThreshold: Option[Long] = None,
               salts: Int = 16,
               maxBroadcastRows: Long = 4L << 20): DataFrame = {
    requireRadius(radiusDeg, capLat)
    val reserved = Set("a_id", "a_lon", "a_lat", "b_id", "b_lon", "b_lat",
      "cell", "dist_deg", "_salt")
    require((carryA ++ carryB).forall(c => !reserved(c)),
      s"carry columns may not collide with $reserved")
    val level = levelFor(radiusDeg, capLat)
    val aSel = a.select(col(aId).as("a_id") +: col(aLon).as("a_lon") +:
      col(aLat).as("a_lat") +: carryA.map(col): _*)
    val bSel = b.select(col(bId).as("b_id") +: col(bLon).as("b_lon") +:
      col(bLat).as("b_lat") +: carryB.map(col): _*)
    // the B-side probe explode is strip-pruned: a B row only visits
    // neighbor cells whose boundary is within radiusDeg (exact
    // lower-bound tests — see SkyPix.neighborCellsWithin), so the
    // explode factor is 1 + strip fraction, not a flat 9×
    val bCells = bSel.filter(abs(col("b_lat")) <= capLat)
      .withColumn("cell", explode(
        SkyPix.neighborCellsWithin(col("b_lon"), col("b_lat"), level,
          radiusDeg)))
    val coords = if (keepCoords) Seq("a_lon", "a_lat", "b_lon", "b_lat")
    else Nil
    candidates(aSel, bCells, bSel, level, radiusDeg, capLat,
      coords ++ carryA ++ carryB, hotThreshold, salts, maxBroadcastRows)
  }

  /** Nearest-k cross-match consuming a write-time margin cache —
    * [[apply]] with [[allPairsPreMargined]] as the candidate step.
    * Rows are identical to [[apply]]'s for the same semantics.
    *
    * @param bMargined margin-cache dataset with bId/bLon/bLat plus
    *   `cell` (write-time partition column) and `is_margin`
    * @param level the SkyPix level the cache was WRITTEN at
    * @return columns: a_id, b_id, dist_deg, match_rank (1 = nearest)
    */
  def applyPreMargined(a: DataFrame, bMargined: DataFrame,
                       aId: String, aLon: String, aLat: String,
                       bId: String, bLon: String, bLat: String,
                       radiusDeg: Double, nmax: Int, level: Int,
                       capLat: Double = CapLat,
                       snapD6: Boolean = false,
                       hotThreshold: Option[Long] = None,
                       salts: Int = 16,
                       maxBroadcastRows: Long = 4L << 20): DataFrame =
    nearest(allPairsPreMargined(a, bMargined, aId, aLon, aLat,
      bId, bLon, bLat, blockRadius(radiusDeg, snapD6), level, capLat,
      hotThreshold, salts, maxBroadcastRows), radiusDeg, nmax, snapD6)

  /** [[applyPreMargined]] with `snapD6 = true`. The cache must have
    * been written with marginDeg >= [[snapSuperset]]`(radiusDeg)`;
    * callers verify via `SpatialWriter.requireMargin` at that value. */
  def applyPreMarginedSnapped(a: DataFrame, bMargined: DataFrame,
                              aId: String, aLon: String, aLat: String,
                              bId: String, bLon: String, bLat: String,
                              radiusDeg: Double, nmax: Int, level: Int,
                              capLat: Double = CapLat): DataFrame =
    applyPreMargined(a, bMargined, aId, aLon, aLat, bId, bLon, bLat,
      radiusDeg, nmax, level, capLat, snapD6 = true)

  /** All pairs within `radiusDeg` against a write-time margin cache —
    * LSD's signature storage trick (columns a_id, b_id, dist_deg). B
    * must come from `SpatialWriter.write(margin = Some(r), level)` read
    * back WITH margins: each B row was already replicated into its
    * 9-cell neighborhood at write time (columns `cell`, `is_margin`),
    * so the candidate join is a plain equi-join of A's home cell
    * against B's stored cell — NO query-time explode, which at 100 TB
    * removes a 9× row amplification (and its shuffle write) from every
    * query against the catalog. `level` must pass
    * [[marginClosureError]]. Salting as in [[allPairs]]: hot cells
    * salt against their stored slice (primaries + margins), so there
    * is no explode there either. */
  def allPairsPreMargined(a: DataFrame, bMargined: DataFrame,
                          aId: String, aLon: String, aLat: String,
                          bId: String, bLon: String, bLat: String,
                          radiusDeg: Double, level: Int,
                          capLat: Double = CapLat,
                          hotThreshold: Option[Long] = None,
                          salts: Int = 16,
                          maxBroadcastRows: Long = 4L << 20): DataFrame = {
    requireRadius(radiusDeg, capLat)
    marginClosureError(level, radiusDeg, capLat)
      .foreach(e => throw new IllegalArgumentException(e))
    val aSel = a.select(col(aId).as("a_id"), col(aLon).as("a_lon"),
      col(aLat).as("a_lat"))
    // stored replicas (primaries + margins) join as they are; the cap
    // channel probes PRIMARY rows only (margin replicas would
    // duplicate cap pairs)
    val bCells = bMargined
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"), col("cell"))
      .filter(abs(col("b_lat")) <= capLat)
    val bPrim = bMargined.filter(!col("is_margin"))
      .select(col(bId).as("b_id"), col(bLon).as("b_lon"),
        col(bLat).as("b_lat"))
    candidates(aSel, bCells, bPrim, level, radiusDeg, capLat, Nil,
      hotThreshold, salts, maxBroadcastRows)
  }

  private def blockRadius(radiusDeg: Double, snapD6: Boolean): Double =
    if (snapD6) snapSuperset(radiusDeg) else radiusDeg

  private def requireRadius(radiusDeg: Double, capLat: Double): Unit = {
    require(radiusDeg > 0 && radiusDeg <= 1.0,
      s"radiusDeg must be in (0, 1], got $radiusDeg")
    // capLat >= radiusDeg is a CORRECTNESS bound, not a perf knob: the
    // two channels are only jointly complete when any cross-hemisphere
    // pair (signum filter in the cap channel) is provably farther than
    // radiusDeg apart, i.e. when the caps are >= radiusDeg from the
    // equator. Below that, a sub-cap row could match an above-cap row
    // of the opposite sign and both channels would drop the pair.
    require(capLat >= radiusDeg && capLat <= CapLat,
      s"capLat must be in [$radiusDeg (radiusDeg), $CapLat], got $capLat")
  }

  /** The candidate relation both sources share: A's home cell joined
    * to `bCells` (B rows already tagged with every sub-cap cell they
    * can match in), plus the polar-cap channel against `bCap`, refined
    * to `radiusDeg`. With `hotThreshold`, A rows of cells above it take
    * the salted probe instead of the plain cell join. */
  private def candidates(aSel: DataFrame, bCells: DataFrame,
                         bCap: DataFrame, level: Int, radiusDeg: Double,
                         capLat: Double, carry: Seq[String],
                         hotThreshold: Option[Long], salts: Int,
                         maxBroadcastRows: Long): DataFrame = {
    val cellOf = SkyPix.cell(col("a_lon"), col("a_lat"), level)
    val belowCap = abs(col("a_lat")) <= capLat
    def channels(aPart: DataFrame, cellPairs: DataFrame): DataFrame =
      cellPairs.unionByName(capChannel(aPart, bCap, radiusDeg, capLat))
        .transform(refine(radiusDeg, carry))
    def celled(aPart: DataFrame): DataFrame =
      aPart.filter(belowCap).withColumn("cell", cellOf)
    def plain(aPart: DataFrame): DataFrame =
      channels(aPart, celled(aPart).join(bCells, "cell").drop("cell"))
    val hot = hotThreshold.toSeq.flatMap { ht =>
      require(salts >= 1 && ht >= 1, "salts, hotThreshold >= 1")
      celled(aSel).groupBy("cell").count().filter(col("count") > ht)
        .select("cell").collect().map(_.getLong(0)).toSeq
    }
    if (hot.isEmpty) return plain(aSel)
    val isHot = belowCap && cellOf.isin(hot: _*)
    val aHot = aSel.filter(isHot)
    // Broadcast guard: when B is ALSO dense at the deep field, the
    // probe slice replicated ×salts can exceed driver/broadcast memory
    // — a hard failure, strictly worse than the slow task it was meant
    // to fix. Count the slice first (cheap: one agg over the already
    // cell-filtered B rows); past the cap, keep the same salted plan
    // but let the (cell, _salt) equi-join SHUFFLE.
    val bProbeBase = bCells.filter(col("cell").isin(hot: _*))
    val probeRows = bProbeBase.count()
    val bProbe = bProbeBase
      .withColumn("_salt", explode(sequence(lit(0L), lit(salts - 1L))))
    val probeSide =
      if (probeRows * salts <= maxBroadcastRows) broadcast(bProbe)
      else bProbe.hint("shuffle_hash")
    val hotCellPairs = celled(aHot)
      .withColumn("_salt", pmod(xxhash64(col("a_id")), lit(salts.toLong)))
      .join(probeSide, Seq("cell", "_salt"))
      .drop("cell", "_salt")
    plain(aSel.filter(!isHot)).unionByName(channels(aHot, hotCellPairs))
  }

  /** Polar-cap channel: pairs with at least one side ABOVE the cap,
    * matched via broadcast. The strict >capLat requirement makes the
    * two channels disjoint (the cell channel requires both sides ≤
    * capLat), so no dedup pass is needed — a dropDuplicates over the
    * candidate set was the dominant shuffle at the multi-million-row
    * scale. */
  private def capChannel(aSel: DataFrame, bSel: DataFrame,
                         radiusDeg: Double, capLat: Double): DataFrame = {
    val capEdge = capLat - radiusDeg
    val aCap = aSel.filter(abs(col("a_lat")) > capEdge)
    val bCap = bSel.filter(abs(col("b_lat")) > capEdge)
    aCap.crossJoin(broadcast(bCap))
      .filter(abs(col("a_lat")) > capLat || abs(col("b_lat")) > capLat)
      // only pair within the same hemisphere's cap neighborhood
      .filter(signum(col("a_lat")) === signum(col("b_lat")))
  }

  /** Exact-distance refinement over a candidate relation. */
  private def refine(radiusDeg: Double, carry: Seq[String])(
      cand: DataFrame): DataFrame =
    cand
      // lossless prefilter: great-circle distance ≥ |Δlat|, so this
      // culls most candidates before the trig-heavy haversine
      .filter(abs(col("a_lat") - col("b_lat")) <= radiusDeg)
      .withColumn("dist_deg",
        distDeg(col("a_lon"), col("a_lat"), col("b_lon"), col("b_lat")))
      .filter(col("dist_deg") <= radiusDeg)
      .select(("a_id" +: "b_id" +: "dist_deg" +: carry).map(col): _*)
}
