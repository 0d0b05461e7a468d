package graft
package entries

import org.apache.spark.sql.functions._

import OracleSql._
import SparkEntry._

/** The spatial entries: the LatLonPoint query family over
  * [[graft.spatial.Geo]].
  */
object SpatialEntries extends EntryFamily {
  /** Shared polygon for geo_polygon: both engines evaluate the identical
    * crossing-number arithmetic over it.
    */
  private val geoPoly: Seq[(Double, Double)] = Seq(
    (35.0, -10.0), (60.0, -5.0), (55.0, 20.0), (40.0, 25.0), (45.0, 5.0))

  exact("geo_box")((s, d) =>
    // bounding box CROSSING the antimeridian — the two-range split path
    // (ref document/LatLonPoint.java:220 newBoxQuery)
    graft.spatial.Geo.boxQuery(
        graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
        minLat = 10.0, maxLat = 45.0, minLon = 170.0, maxLon = -170.0)
      .select(col("id").as("doc_id"), col("lat"), col("lon"))
      .orderBy(col("doc_id")))(
    s"""WITH $geoPts
       |SELECT doc_id, lat, lon FROM pts
       |WHERE lat >= 10.0 AND lat <= 45.0 AND (lon >= 170.0 OR lon <= -170.0)
       |ORDER BY doc_id""".stripMargin)
  exact("geo_distance")((s, d) =>
    // radius match (ref LatLonPoint.java:296 newDistanceQuery): pruned
    // bbox scan + exact haversine refine; float-cast output absorbs
    // last-ulp libm differences vs the oracle
    graft.spatial.Geo.distanceQuery(
        graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
        qLat = 48.8566, qLon = 2.3522, radiusMeters = 3.0e6)
      .select(col("id").as("doc_id"), col("dist_m").cast("float").as("dist_m"))
      .orderBy(col("doc_id")))(
    s"""WITH $geoPts,
       |d AS (SELECT doc_id, ${havSql(48.8566, 2.3522)} AS dist FROM pts)
       |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
       |WHERE dist <= 3000000.0 ORDER BY doc_id""".stripMargin)
  exact("geo_knn", bench = true)((s, d) =>
    // k-nearest by great-circle distance (ref LatLonPointSortField
    // distance sort): two-phase grid-pruned exact kNN, identical to
    // brute force by construction (GeoSpec asserts; oracle re-verifies)
    graft.spatial.Geo.distanceTopK(
        graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"),
        qLat = 37.7749, qLon = -122.4194, k = 20)
      .select(col("id").as("doc_id"), col("dist_m").cast("float").as("dist_m")))(
    s"""WITH $geoPts,
       |d AS (SELECT doc_id, ${havSql(37.7749, -122.4194)} AS dist FROM pts)
       |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
       |ORDER BY dist ASC, doc_id ASC LIMIT 20""".stripMargin)
  exact("geo_polygon", bench = true)((s, d) =>
    // point-in-polygon via even-odd crossing number (ref
    // LatLonPoint.java:310 newPolygonQuery): the identical unrolled
    // arithmetic runs on both sides (Geo.polygonContains / polygonContainsSql)
    graft.spatial.Geo.polygonQuery(
        graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"), geoPoly)
      .select(col("id").as("doc_id"), col("lat"), col("lon"))
      .orderBy(col("doc_id")))(
    s"""WITH $geoPts
       |SELECT doc_id, lat, lon FROM pts
       |WHERE ${graft.spatial.Geo.polygonContainsSql(geoPoly)}
       |ORDER BY doc_id""".stripMargin)
  exact("geo_grid_agg")((s, d) =>
    // geo-grid facet counts + mean position per 15-degree cell
    graft.spatial.Geo.gridAgg(
        graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id"), 15.0)
      .orderBy(col("cell_lat"), col("cell_lon")))(
    s"""WITH $geoPts
       |SELECT CAST(floor(lat/15.0) AS BIGINT) AS cell_lat,
       |       CAST(floor(lon/15.0) AS BIGINT) AS cell_lon,
       |       count(*) AS n, round(avg(lat), 6) AS mean_lat,
       |       round(avg(lon), 6) AS mean_lon
       |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  exact("geo_ft_distance", bench = true)((s, d) => {
    // fulltext match + distance sort — the reference's canonical
    // "restaurants matching <query> nearest me" plan (TermQuery hits
    // joined to the point table, TakeOrderedAndProject on haversine)
    val se = searcherFor(s, d)
    import s.implicits._
    val hits = se.matchingCached(se.parse("data")).toDF("docId")
      .join(se.docsTable.select($"docId", $"url"), "docId")
      .select(docIdOf($"url"))
    val pts = graft.spatial.Geo.syntheticPoints(docsDf(s, d), "doc_id")
      .withColumnRenamed("id", "doc_id")
    hits.join(pts, "doc_id")
      .withColumn("dist_m", graft.spatial.Geo.haversineMeters(
        lit(52.52), lit(13.405), col("lat"), col("lon")))
      .orderBy(col("dist_m").asc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), col("dist_m").cast("float").as("dist_m"))
  })(
    s"""WITH $geoPts,
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |hits AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'data'),
       |d AS (SELECT p.doc_id, ${havSql(52.52, 13.405)} AS dist
       |      FROM pts p JOIN hits h ON p.doc_id = h.doc_id)
       |SELECT doc_id, CAST(dist AS FLOAT) AS dist_m FROM d
       |ORDER BY dist ASC, doc_id ASC LIMIT 10""".stripMargin)
}
