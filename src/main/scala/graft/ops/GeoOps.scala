package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ES geo tier — `geo_distance` filter + `geohash_grid` aggregation, the
  * one commonly-hit ES aggregation family SURVEY §2 had no analog for
  * (r13 verdict task 7; ES 7.x geo queries sit next to the terms/date
  * aggs the reference's admin dashboards run).
  *
  * The catalog carries no geo columns and the driver fixture is
  * read-only, so coordinates DERIVE deterministically from event_id in
  * integer MICRO-DEGREES via the same hash60 device every LSH oracle
  * replays — both engines compute identical (lat_ud, lon_ud) and the
  * whole tier stays exact-integer end to end:
  *
  *   lat_ud = hash60(event_id)        % 180000001 −  90000000
  *   lon_ud = hash60(event_id ∥ 'x')  % 360000001 − 180000000
  *
  * geo_distance — the bounded-radius membership test is the
  * equirectangular approximation, all-integer:
  *   dlat² + dx² ≤ r²  with  dx = (|dlon|·k) div 2^20,
  *   k = round(cos(lat₀)·2^20) a driver-side literal
  * — standard for city-scale radii, and chosen over haversine because
  * sin/atan2 last-ulp differences could flip boundary docs cross-engine
  * while this membership set replays bit-for-bit (|dlon| keeps the
  * division positive: Spark `div` and DuckDB `//` agree there
  * unconditionally — the JLH sign-split discipline; the sign is
  * irrelevant anyway since only dx² enters). Radius is in micro-degrees
  * of latitude (1 ud ≈ 0.111 m).
  *
  * geohash_grid — the REAL geohash cell law at precision 4: quantize
  * lon/lat to 10 bits each over their full ranges, interleave lon-first
  * into the 20-bit prefix, base32-encode — spelled as fixed integer
  * shift/mask arithmetic identically in both engines.
  *
  * Scale shape: ONE pushed scan of events; the coordinate derivation and
  * the radius test are map-side projections/filters; the grid agg is one
  * partial-first keyed exchange on the cell string. With REAL stored
  * coordinates the identical plan holds (the derivation projection is
  * replaced by the columns) and the radius filter gains the ES
  * bounding-box prefilter: lat/lon BETWEEN range predicates that push to
  * the scan (parquet min-max pruning) before the exact test — the shape
  * [[geoDistance]] already carries.
  */
object GeoOps {
  private val B32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  // default center (40°N, 74°W) and the fixed-point cosine scale
  private val CLat = 40000000L
  private val CLon = -74000000L
  private val CosK = math.round(math.cos(math.toRadians(40.0)) * (1L << 20))

  /** events with derived integer micro-degree coordinates (see Scaladoc;
    * hash60 is the shared LSH-oracle device, one copy in DedupOps).
    */
  private def geoEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      (pmod(DedupOps.hash60(col("event_id").cast("string")),
        lit(180000001L)) - lit(90000000L)).as("lat_ud"),
      (pmod(DedupOps.hash60(concat(col("event_id").cast("string"), lit("x"))),
        lit(360000001L)) - lit(180000000L)).as("lon_ud"))

  /** Radius-filtered frame with the exact integer dist2 — the shared
    * first stage of both faces. The bounding-box prefilter comes first:
    * a plain range predicate on the coordinate columns (pushable to a
    * scan of stored coordinates — the ES bbox optimization), then the
    * exact equirectangular test. The lon box admits every |dlon| whose
    * FLOORED dx can still satisfy dx ≤ r: dx ≤ r ⇔ |dlon|·k < (r+1)·2^20
    * ⇔ |dlon| ≤ floor(((r+1)·2^20 − 1) / k) — the plain ceil(r·2^20/k)
    * box was one micro-degree too tight at the exact boundary (a point
    * with dlat = 0 and dx = r exactly could be boxed out; r14 review).
    */
  private def lonBoxOf(radiusUd: Long): Long =
    ((radiusUd + 1) * (1L << 20) - 1) / CosK

  private def withinRadius(df: DataFrame, radiusUd: Long): DataFrame = {
    val lonR = lonBoxOf(radiusUd) // driver-side literal
    df.filter(col("lat_ud").between(CLat - radiusUd, CLat + radiusUd) &&
        col("lon_ud").between(CLon - lonR, CLon + lonR))
      .withColumn("dlat", col("lat_ud") - lit(CLat))
      .withColumn("dx", expr(s"(abs(lon_ud - (${CLon}L)) * ${CosK}L) div 1048576L"))
      .withColumn("dist2", col("dlat") * col("dlat") + col("dx") * col("dx"))
      .filter(col("dist2") <= lit(radiusUd * radiusUd))
  }

  /** ES `geo_distance` query: events within `radiusUd` micro-degrees of
    * the center, with the exact integer squared distance.
    */
  def geoDistance(spark: SparkSession, dir: String,
                  radiusUd: Long = 10000000L): DataFrame =
    withinRadius(geoEvents(spark, dir), radiusUd)
      .select(col("event_id"), col("lat_ud"), col("lon_ud"), col("dist2"))

  /** Derived store with REAL stored integer coordinates: events persisted
    * once with (lat_ud, lon_ud) as plain int64 columns, range-sorted by
    * (lat_ud, lon_ud) so parquet row-group min/max statistics cluster —
    * the layout a geo deployment writes (sort/Z-order on the coordinate).
    * Version-keyed on the events source like every served store; the
    * build is one pass through [[geoEvents]] + the staged atomic swap.
    */
  private def servedGeoStore(spark: SparkSession, dir: String): DataFrame =
    // global range sort: each output file covers a narrow lat band, so a
    // bbox predicate prunes whole row groups by footer stats alone.
    graft.DerivedStore.parquet(spark, "geocoords", dir, "events.parquet") {
      geoEvents(spark, dir).sort("lat_ud", "lon_ud")
    }

  /** The stored-coordinates face of [[geoDistance]] (r14 verdict task 5):
    * identical rows, but the bbox prefilter now lands on REAL columns of a
    * parquet scan — `.explain` shows PushedFilters on both lat_ud and
    * lon_ud bounds (PlanSpec pins it), and the range-sorted layout turns
    * them into row-group pruning. This is the plan the ES geo_distance
    * bounding-box optimization actually is; the hash-derivation face keeps
    * the oracle exact, this face shows the scan shape. At 100 TB the store
    * is the geo-sorted projection of the event log and the radius query
    * reads only the bbox's row groups.
    */
  def geoDistanceStored(spark: SparkSession, dir: String,
                        radiusUd: Long = 10000000L): DataFrame =
    withinRadius(servedGeoStore(spark, dir), radiusUd)
      .select(col("event_id"), col("lat_ud"), col("lon_ud"), col("dist2"))

  /** ES `geo_distance` filter + `geohash_grid` aggregation at precision 4:
    * bucket counts + distinct users per geohash cell over the in-radius
    * events.
    */
  def geoGrid(spark: SparkSession, dir: String,
              radiusUd: Long = 10000000L): DataFrame =
    gridAgg(gridCells(spark, dir, radiusUd))

  /** [[geoGrid]] over the stored-coordinates store: the identical cell
    * law and aggregate, but the in-radius frame comes from the pushed
    * bbox scan — at 100 TB the whole grid reads only the box's row
    * groups. Same oracle rows as the derived face by construction.
    */
  def geoGridStored(spark: SparkSession, dir: String,
                    radiusUd: Long = 10000000L): DataFrame =
    gridAgg(cellsOf(withinRadius(servedGeoStore(spark, dir), radiusUd)))

  private def gridAgg(cells: DataFrame): DataFrame =
    cells.groupBy("geohash")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  /** Per-event geohash-4 cells of the in-radius events — the seam GeoSpec
    * checks against an independent interval-halving reference encoder.
    */
  private[graft] def gridCells(spark: SparkSession, dir: String,
                               radiusUd: Long): DataFrame =
    cellsOf(withinRadius(geoEvents(spark, dir), radiusUd))

  /** The geohash-4 cell law over any in-radius frame (derived or stored). */
  private def cellsOf(inRadius: DataFrame): DataFrame = {
    def bit(c: Column, i: Int): Column = shiftright(c, i).bitwiseAND(lit(1L))
    // the true geohash quantization: floor((lon+180)/360 · 2^10); the
    // derived domain is CLOSED at +180/+90 (true geohash wraps +180 to
    // −180), so the single edge cell clamps to 1023 — least() spelled
    // identically in both engines
    inRadius
      .withColumn("gx",
        expr("least(((lon_ud + 180000000L) * 1024L) div 360000000L, 1023L)"))
      .withColumn("gy",
        expr("least(((lat_ud + 90000000L) * 1024L) div 180000000L, 1023L)"))
      .withColumn("ih", (0 to 9).map(i =>
        shiftleft(bit(col("gx"), i), 2 * i + 1) +
          shiftleft(bit(col("gy"), i), 2 * i)).reduce(_ + _))
      .withColumn("geohash", expr((0 to 3).map(c =>
        s"substr('$B32', CAST(shiftright(ih, ${15 - 5 * c}) & 31 AS INT) + 1, 1)")
        .mkString("concat(", ", ", ")")))
  }

  /** ES `geo_bounds` aggregation: the tightest box around the in-radius
    * events — min/max per axis in exact micro-degrees, one row. One more
    * partial-first aggregate over the same pruned scan as [[geoGrid]].
    */
  def geoBounds(spark: SparkSession, dir: String,
                radiusUd: Long = 10000000L): DataFrame =
    boundsAgg(withinRadius(geoEvents(spark, dir), radiusUd))

  /** [[geoBounds]] over the stored-coordinates store (pushed bbox scan). */
  def geoBoundsStored(spark: SparkSession, dir: String,
                      radiusUd: Long = 10000000L): DataFrame =
    boundsAgg(withinRadius(servedGeoStore(spark, dir), radiusUd))

  private def boundsAgg(inRadius: DataFrame): DataFrame =
    inRadius.agg(count(lit(1)).as("n"),
      min(col("lat_ud")).as("min_lat_ud"), max(col("lat_ud")).as("max_lat_ud"),
      min(col("lon_ud")).as("min_lon_ud"), max(col("lon_ud")).as("max_lon_ud"))

  /** ES `geo_distance` AGGREGATION — concentric distance rings around the
    * origin (from-inclusive / to-exclusive on distance, ES's law), each
    * ring a bucket with doc_count + distinct users. The ring test stays
    * all-integer: `dist < r ⇔ dist² < r²` (both non-negative), so no
    * sqrt ever runs, and the keys use the range-agg spelling
    * (`*-2500000`, `2500000-5000000`, `5000000-*`) with `lo` carrying
    * ES's `from` (NULL on the head ring). Served from the stored-
    * coordinates face: the outer-radius bbox pushes into the scan and
    * the ring key is one map-side CASE — at 100 TB the whole
    * aggregation reads the box's row groups, then exchanges ≤3 keys.
    */
  def geoDistanceRings(spark: SparkSession, dir: String,
                       radiusUd: Long = 10000000L): DataFrame = {
    val (r1, r2) = (radiusUd / 4, radiusUd / 2)
    withinRadius(servedGeoStore(spark, dir), radiusUd)
      .groupBy(
        when(col("dist2") < r1 * r1, s"*-$r1")
          .when(col("dist2") < r2 * r2, s"$r1-$r2")
          .otherwise(s"$r2-*").as("ring"),
        when(col("dist2") < r1 * r1, lit(null).cast("long"))
          .when(col("dist2") < r2 * r2, lit(r1))
          .otherwise(lit(r2)).as("lo"))
      .agg(count(lit(1)).as("doc_count"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** ES `geo_line` aggregation — per user, the travel TRACK: points
    * ordered by the sort field (timestamp; event_id is the tiebreak ES
    * leaves to shard order but determinism demands here), truncated to
    * `size` points, with ES's `complete` flag (false when truncation
    * dropped points). The line ships as "lat:lon" micro-degree strings
    * over the shared derived coordinates.
    *
    * Scale: ONE user-keyed aggregate — the collect is bounded by
    * events-per-user and the slice caps the wire at `size` points per
    * group; no window, no global sort (the in-row array_sort is
    * group-local).
    */
  def geoLine(spark: SparkSession, dir: String, size: Int = 10): DataFrame =
    Tables.eventsRaw(spark, dir).select(
        col("user_id"),
        struct(col("ts").as("ts_us"), col("event_id"),
          concat_ws(":",
            pmod(DedupOps.hash60(col("event_id").cast("string")),
              lit(180000001L)) - lit(90000000L),
            pmod(DedupOps.hash60(concat(col("event_id").cast("string"),
              lit("x"))), lit(360000001L)) - lit(180000000L)).as("pt"))
          .as("s"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_points"),
        slice(array_sort(collect_list(col("s"))), 1, size).as("sorted"))
      .select(col("user_id"), col("n_points"),
        (col("n_points") <= size).as("complete"),
        // the track ships as ONE linestring-style text (the driver
        // compare hashes scalars; every array face in the suite ships
        // sorted-concat strings for the same reason)
        concat_ws("|", transform(col("sorted"), s => s.getField("pt")))
          .as("line"))
      .orderBy(col("user_id").asc)

  // ---- DuckDB oracles: the same integer laws, spelled identically ----

  private val geoCte =
    s"""g AS (
       |  SELECT event_id, user_id,
       |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),1,15) AS BIGINT)
       |      % 180000001 - 90000000 AS lat_ud,
       |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'x'),1,15) AS BIGINT)
       |      % 360000001 - 180000000 AS lon_ud
       |  FROM events),
       |f AS (
       |  SELECT *, dlat*dlat + dx*dx AS dist2 FROM (
       |    SELECT *, lat_ud - $CLat AS dlat,
       |      (abs(lon_ud - ($CLon)) * $CosK) // 1048576 AS dx
       |    FROM g
       |    WHERE lat_ud BETWEEN ${CLat - 10000000L} AND ${CLat + 10000000L}
       |      AND lon_ud BETWEEN ${CLon - lonBox} AND ${CLon + lonBox})
       |  WHERE dlat*dlat + dx*dx <= ${10000000L * 10000000L})""".stripMargin

  private def lonBox: Long = lonBoxOf(10000000L)

  val oracle: Map[String, String] = Map(
    "q_geo_line" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)),1,15) AS BIGINT)
        |      % 180000001 - 90000000 AS lat_ud,
        |    CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || 'x'),1,15) AS BIGINT)
        |      % 360000001 - 180000000 AS lon_ud
        |  FROM events)
        |SELECT user_id,
        |  COUNT(*) AS n_points,
        |  COUNT(*) <= 10 AS complete,
        |  array_to_string(
        |    list_slice(list(CAST(lat_ud AS VARCHAR) || ':' || CAST(lon_ud AS VARCHAR)
        |      ORDER BY ts, event_id), 1, 10), '|') AS line
        |FROM g GROUP BY user_id ORDER BY user_id ASC""".stripMargin,
    "q_geo_distance" ->
      s"""WITH $geoCte
         |SELECT event_id, lat_ud, lon_ud, dist2 FROM f""".stripMargin,
    // the stored face returns the SAME membership set — the oracle replays
    // the derivation because DuckDB reads the immutable testdata, not the
    // engine's derived store; what changes on the Spark side is the PLAN
    // (pushed range predicates on stored columns), which PlanSpec pins
    "q_geo_distance_stored" ->
      s"""WITH $geoCte
         |SELECT event_id, lat_ud, lon_ud, dist2 FROM f""".stripMargin,
    "q_geo_distance_rings" ->
      s"""WITH $geoCte
         |SELECT
         |  CASE WHEN dist2 < ${2500000L * 2500000L} THEN '*-2500000'
         |       WHEN dist2 < ${5000000L * 5000000L} THEN '2500000-5000000'
         |       ELSE '5000000-*' END AS ring,
         |  CASE WHEN dist2 < ${2500000L * 2500000L} THEN CAST(NULL AS BIGINT)
         |       WHEN dist2 < ${5000000L * 5000000L} THEN CAST(2500000 AS BIGINT)
         |       ELSE CAST(5000000 AS BIGINT) END AS lo,
         |  COUNT(*) AS doc_count,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         |FROM f GROUP BY 1, 2""".stripMargin,
    "q_geo_bounds" ->
      s"""WITH $geoCte
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(lat_ud) AS min_lat_ud, MAX(lat_ud) AS max_lat_ud,
         |  MIN(lon_ud) AS min_lon_ud, MAX(lon_ud) AS max_lon_ud
         |FROM f""".stripMargin,
    "q_geo_bounds_stored" ->
      s"""WITH $geoCte
         |SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  MIN(lat_ud) AS min_lat_ud, MAX(lat_ud) AS max_lat_ud,
         |  MIN(lon_ud) AS min_lon_ud, MAX(lon_ud) AS max_lon_ud
         |FROM f""".stripMargin,
    "q_geo_grid" -> gridSql,
    // the stored faces return the derived faces' exact rows — the oracle
    // replays the derivation over the immutable testdata while the engine
    // reads persisted columns through the pushed bbox scan
    "q_geo_grid_stored" -> gridSql)

  private def gridSql: String = {
    val ih = (0 to 9).map(i =>
      s"(((gx >> $i) & 1) << ${2 * i + 1}) + (((gy >> $i) & 1) << ${2 * i})")
      .mkString(" + ")
    val gh = (0 to 3).map(c =>
      s"substr('$B32', CAST((ih >> ${15 - 5 * c}) & 31 AS INT) + 1, 1)")
      .mkString("|| ")
    s"""WITH $geoCte,
       |q AS (
       |  SELECT user_id,
       |    least((lon_ud + 180000000) * 1024 // 360000000, 1023) AS gx,
       |    least((lat_ud + 90000000) * 1024 // 180000000, 1023) AS gy
       |  FROM f),
       |c AS (SELECT user_id, $ih AS ih FROM q)
       |SELECT $gh AS geohash,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM c GROUP BY 1""".stripMargin
  }
}
