package graft.relational

import graft.util.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial distance joins on a grid index — "find pairs of points
  * within R km" over planet-scale point sets without an all-pairs
  * product, the geo sibling of [[Relational.rangeJoin]]'s binned
  * equi-join discipline.
  *
  * Index: points snap to an integer lat/lon grid cell sized so that any
  * two points within the radius differ by at most one cell in each
  * axis; candidates come from ONE equi-join after exploding each left
  * point to a constant-fan-out cell neighborhood (the interval-join
  * trick in 2-D — the self-join explodes a 5-cell plane-sweep HALF
  * neighborhood, round 11; nearestSite explodes the sites side's full
  * 3×3); the exact distance predicate then verifies candidates only.
  * Nothing ever compares points from non-adjacent cells.
  *
  * 100-TB shape: the join is a plain equi-join on (cell_lat, cell_lon)
  * — Spark shuffles both sides by cell (AQE handles skew; a dense city
  * cell is one hot key, the salted-join escape hatch applies as with
  * any key join). Per-task work is |cell|·|neighbor cells| — bounded by
  * local density, never by corpus size.
  *
  * Determinism: the MATCH PREDICATE is exact integer arithmetic on
  * centidegree coordinates (dx² + dy² ≤ r² in a small-area flat
  * approximation — callers with strict great-circle semantics filter on
  * the emitted haversine column instead), so the pair set is
  * replay-exact in any engine; the haversine distance is emitted as a
  * 6-dp-rounded OUTPUT column (sin/cos/asin are the only libm calls and
  * never decide membership).
  */
object Geo {

  /** Earth mean radius, km (IUGG). */
  val EarthRadiusKm: Double = 6371.0088

  /** Integer grid cell of a centidegree coordinate: `floor(c / size)`
    * where both are integers — exact. */
  private def cell(cdeg: Column, sizeCdeg: Int): Column =
    floor(cdeg.cast("double") / lit(sizeCdeg)).cast("long")

  /** Haversine great-circle distance in km between two points given in
    * CENTIDEGREES (integer hundredths of a degree). Output only — see
    * the object doc for why membership never depends on it. */
  def haversineKm(latA: Column, lonA: Column, latB: Column,
      lonB: Column): Column = {
    def rad(cdeg: Column): Column = radians(cdeg.cast("double") / lit(100.0))
    val dLat = rad(latB) - rad(latA)
    val dLon = rad(lonB) - rad(lonA)
    val a = pow(sin(dLat / 2), 2) +
      cos(rad(latA)) * cos(rad(latB)) * pow(sin(dLon / 2), 2)
    lit(2 * EarthRadiusKm) * asin(sqrt(a))
  }

  /** Self-join of `points` (idCol, latCdegCol, lonCdegCol — integer
    * centidegrees) producing each unordered pair within `radiusCdeg`
    * centidegrees (flat-grid euclidean: dx² + dy² ≤ r², exact integer
    * arithmetic). Output: (id_a, id_b, dist_cdeg2, haversine_km) with
    * id_a < id_b, haversine rounded 6 dp. A pair whose ids are equal or
    * null is never emitted: points sharing an id are one entity, and
    * [[densityClusters]] feeds the pairs to components that need ids.
    *
    * Cell size = radius (in centidegrees), so matching pairs are always
    * in the same or an adjacent cell; the left side explodes to a
    * plane-sweep HALF neighborhood (5 cells) and equi-joins the right
    * side's home cell. Each candidate pair is produced EXACTLY once (by
    * the single offset of the pair's cell difference that the half
    * neighborhood keeps) — no distinct needed. */
  def distanceJoin(points: DataFrame, idCol: String, latCdegCol: String,
      lonCdegCol: String, radiusCdeg: Int): DataFrame = {
    require(radiusCdeg >= 1, s"radius must be >= 1 cdeg, got $radiusCdeg")
    // HALF-neighborhood explode (round 11, guide §2.3 — shuffle fewer
    // bytes): the plane-sweep offsets {(0,0),(0,1),(1,-1),(1,0),(1,1)}
    // pick exactly one of each opposite-offset pair, so every adjacent
    // cell pair is probed from exactly ONE side — 5 exploded rows per
    // point instead of the full 3×3's 9. Cross-cell candidate pairs then
    // arrive in arbitrary role order and are normalized to id_a < id_b
    // AFTER the join; same-cell pairs (the (0,0) offset) still arrive
    // twice and keep the id_a < id_b filter. Output is bit-identical to
    // the full-neighborhood version: each unordered pair is still
    // produced exactly once, and the emitted distance columns are
    // computed with the smaller-id point first, exactly as before.
    val offsets = array((for { dy <- 0 to 1; dx <- -1 to 1
        if dy == 1 || dx >= 0 }
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    val left = points.select(
        col(idCol).as("id_a"), col(latCdegCol).cast("long").as("__lat_a"),
        col(lonCdegCol).cast("long").as("__lon_a"),
        cell(col(latCdegCol), radiusCdeg).as("__cy"),
        cell(col(lonCdegCol), radiusCdeg).as("__cx"))
      .select(col("id_a"), col("__lat_a"), col("__lon_a"),
        explode(offsets).as("__o"),
        col("__cy"), col("__cx"))
      .select(col("id_a"), col("__lat_a"), col("__lon_a"),
        (col("__o.dy") === 0 && col("__o.dx") === 0).as("__self"),
        (col("__cy") + col("__o.dy")).as("__cy"),
        (col("__cx") + col("__o.dx")).as("__cx"))
    val right = points.select(
      col(idCol).as("id_b"), col(latCdegCol).cast("long").as("__lat_b"),
      col(lonCdegCol).cast("long").as("__lon_b"),
      cell(col(latCdegCol), radiusCdeg).as("__cy"),
      cell(col(lonCdegCol), radiusCdeg).as("__cx"))
    val dy = col("__lat_a") - col("__lat_b")
    val dx = col("__lon_a") - col("__lon_b")
    val aFirst = col("id_a") < col("id_b")
    // the radius test on raw (a,b) equals the normalized test exactly:
    // IEEE long subtraction negates exactly and squaring kills the sign
    def sel(first: Column, second: Column) =
      when(aFirst, first).otherwise(second)
    val lat1 = sel(col("__lat_a"), col("__lat_b"))
    val lon1 = sel(col("__lon_a"), col("__lon_b"))
    val lat2 = sel(col("__lat_b"), col("__lat_a"))
    val lon2 = sel(col("__lon_b"), col("__lon_a"))
    val d1 = lat1 - lat2
    val d2 = lon1 - lon2
    left.join(right, Seq("__cy", "__cx"))
      .filter((!col("__self") || aFirst) && col("id_a") =!= col("id_b"))
      .filter(dy * dy + dx * dx <= lit(radiusCdeg.toLong * radiusCdeg))
      .select(
        sel(col("id_a"), col("id_b")).as("id_a"),
        sel(col("id_b"), col("id_a")).as("id_b"),
        (d1 * d1 + d2 * d2).as("dist_cdeg2"),
        round(haversineKm(lat1, lon1, lat2, lon2), 6).as("haversine_km"))
  }

  /** Grid DBSCAN (Ester et al. 1996, with deterministic labels): core
    * points have ≥ `minPts` points (self included) within
    * `radiusCdeg`; clusters are connected components of core points
    * under the within-radius relation, labeled by the component's
    * MINIMUM core id; border points (non-core within radius of a core)
    * join the smallest neighboring core label; the rest is noise.
    * Classic DBSCAN leaves border assignment order-dependent — the
    * min-label rule here makes the full output replay-exact.
    *
    * Output: (idCol, role ∈ core|border|noise, cluster — null for
    * noise).
    *
    * Shape at 100 TB: the neighbor relation comes from
    * [[distanceJoin]]'s grid equi-join (never all-pairs); the degree
    * count and border argmin are map-side-combined aggregates; the
    * component pass is [[graft.text.Dedup.duplicateComponents]]'s
    * driver union-find under `maxCollect` core edges with the
    * distributed min-label propagation above it. */
  def densityClusters(points: DataFrame, idCol: String,
      latCdegCol: String, lonCdegCol: String, radiusCdeg: Int,
      minPts: Int,
      maxCollect: Long = graft.util.Materialize.DriverMaxRows): DataFrame = {
    require(minPts >= 2, s"minPts must be >= 2, got $minPts")
    val pairs = Materialize.shared(distanceJoin(points, idCol, latCdegCol,
      lonCdegCol, radiusCdeg).select(col("id_a"), col("id_b")))
    val directed = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val counts = directed.groupBy(col("id_a").as("__id"))
      .agg(count(lit(1)).as("__deg"))
    val coreIds = counts.filter(col("__deg") + 1 >= minPts)
      .select(col("__id"))
    val coreEdges = pairs
      .join(coreIds.select(col("__id").as("id_a")), Seq("id_a"),
        "left_semi")
      .join(coreIds.select(col("__id").as("id_b")), Seq("id_b"),
        "left_semi")
    val comp = graft.text.Dedup.duplicateComponents(coreEdges,
      maxCollect = maxCollect)
    // cores in no core-core edge are singleton clusters labeled by id.
    // Both label relations (bounded by the core and border point counts)
    // are checkpointed, so the returned lazy plan reads them and never the
    // released pairs
    val coreLabels = Materialize.checkpoint(coreIds
      .join(comp.select(col("id_a").as("__id"), col("component")),
        Seq("__id"), "left")
      .select(col("__id"),
        coalesce(col("component"), col("__id")).as("__cluster"))).df
    val borderLabels = Materialize.checkpoint(directed
      .join(coreLabels.select(col("__id").as("id_b"),
        col("__cluster")), Seq("id_b"))
      .join(coreIds.select(col("__id").as("id_a")), Seq("id_a"),
        "left_anti")
      .groupBy(col("id_a").as("__id"))
      .agg(min("__cluster").as("__bcluster"))).df
    Materialize.release(pairs)
    points.select(col(idCol))
      .join(coreLabels.withColumnRenamed("__id", idCol), Seq(idCol),
        "left")
      .join(borderLabels.withColumnRenamed("__id", idCol), Seq(idCol),
        "left")
      .select(col(idCol),
        when(col("__cluster").isNotNull, lit("core"))
          .when(col("__bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__cluster"), col("__bcluster")).as("cluster"))
  }

  /** Assign each left point to its nearest right "site" within
    * `radiusCdeg` (e.g. order → nearest warehouse): same grid candidate
    * generation as [[distanceJoin]], then ONE min-of-struct aggregate
    * per left id — (dist², site id) lexicographic, so ties break to the
    * smallest site id, replay-exact. Left points with no site in range
    * are absent (a left-join variant is `points.join(result, "left")`).
    * Output: (idCol, site_id, dist_cdeg2, haversine_km). */
  def nearestSite(points: DataFrame, sites: DataFrame, idCol: String,
      siteIdCol: String, latCdegCol: String, lonCdegCol: String,
      radiusCdeg: Int): DataFrame = {
    require(radiusCdeg >= 1, s"radius must be >= 1 cdeg, got $radiusCdeg")
    val offsets = array((for { dy <- -1 to 1; dx <- -1 to 1 }
      yield struct(lit(dy).as("dy"), lit(dx).as("dx"))): _*)
    // the 3×3 explode moved to the SITES side (round 11, guide §2.3 —
    // shuffle fewer bytes): cell adjacency is symmetric, so "point's
    // neighborhood covers site's home cell" ≡ "site's neighborhood
    // covers point's home cell" — the candidate set is identical, but
    // sites (warehouses, hubs) are typically orders of magnitude fewer
    // than points, so 9× the SMALL side crosses the exchange instead of
    // 9× the corpus (and AQE can broadcast the exploded site relation
    // outright when it fits)
    val left = points.select(
      col(idCol), col(latCdegCol).cast("long").as("__lat_a"),
      col(lonCdegCol).cast("long").as("__lon_a"),
      cell(col(latCdegCol), radiusCdeg).as("__cy"),
      cell(col(lonCdegCol), radiusCdeg).as("__cx"))
    val right = sites.select(
        col(siteIdCol).as("__site"),
        col(latCdegCol).cast("long").as("__lat_b"),
        col(lonCdegCol).cast("long").as("__lon_b"),
        cell(col(latCdegCol), radiusCdeg).as("__cy"),
        cell(col(lonCdegCol), radiusCdeg).as("__cx"))
      .select(col("__site"), col("__lat_b"), col("__lon_b"),
        explode(offsets).as("__o"), col("__cy"), col("__cx"))
      .select(col("__site"), col("__lat_b"), col("__lon_b"),
        (col("__cy") + col("__o.dy")).as("__cy"),
        (col("__cx") + col("__o.dx")).as("__cx"))
    val dy = col("__lat_a") - col("__lat_b")
    val dx = col("__lon_a") - col("__lon_b")
    left.join(right, Seq("__cy", "__cx"))
      .filter(dy * dy + dx * dx <= lit(radiusCdeg.toLong * radiusCdeg))
      .select(col(idCol), col("__site"),
        (dy * dy + dx * dx).as("__d2"),
        round(haversineKm(col("__lat_a"), col("__lon_a"),
          col("__lat_b"), col("__lon_b")), 6).as("__hav"))
      .groupBy(col(idCol))
      .agg(min(struct(col("__d2"), col("__site"), col("__hav")))
        .as("__best"))
      .select(col(idCol), col("__best.__site").as("site_id"),
        col("__best.__d2").as("dist_cdeg2"),
        col("__best.__hav").as("haversine_km"))
  }
}
