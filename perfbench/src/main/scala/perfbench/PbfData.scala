package perfbench

import graft.model.OsmModel
import graft.sources.osmxml.OsmXmlSource
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic planet-slice PBF, written through the engine's own
  * `osm-pbf` DSv2 writer. The generator knows what it planted and
  * returns those counts, so the ETL's outputs can be reconciled
  * against them.
  *
  *   - Plain nodes carry `PbfProbe`'s tag mix: ~2% amenity, 1% shop,
  *     0.5% tourism (the POIs), ~30% non-POI tags, the rest untagged.
  *   - Each way owns four untagged corner nodes forming a square:
  *       30% POI areas of ~0.0008° side (well under 20,000 m², so they
  *           collapse to centroids),
  *       20% POI areas of 0.01° side (well over the threshold),
  *       10% POI ways whose ring is left unclosed (invalid geometry),
  *       40% non-POI `building=yes` squares.
  */
object PbfData {

  final case class Planted(nodes: Long, ways: Long, poiNodes: Long,
      poiSmall: Long, poiLarge: Long, poiBroken: Long) {
    def objects: Long = nodes + ways
    def asMap: Map[String, Long] = Map("nodes" -> nodes, "ways" -> ways,
      "poi_nodes" -> poiNodes, "poi_areas_small" -> poiSmall,
      "poi_areas_large" -> poiLarge, "poi_ways_broken" -> poiBroken)
  }

  /** The dimension the ETL classifies against (all POI values above). */
  val Dimension: Seq[(String, String, Long, Boolean)] = Seq(
    "restaurant", "cafe", "bar", "school", "bench").map(v => ("amenity", v, 100000L, true)) ++
    Seq(("shop", "supermarket", 100000L, true), ("tourism", "hotel", 100000L, true))

  private def u(seed: Long, tag: String, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(tag), key), lit(1000000007L)).cast("double") / 1000000007.0

  private def meta(id: Column): Seq[Column] = Seq(
    lit(1).cast("int").as("version"),
    pmod(id, lit(99991L)).cast("int").as("user_id"),
    to_timestamp(lit("2026-01-01 00:00:00")).as("tstamp"),
    pmod(id, lit(7919L)).as("changeset_id"))

  /** Writes `<dir>/nodes` and `<dir>/ways` and returns what was planted. */
  def write(spark: SparkSession, dir: String, seed: Long, plainNodes: Long, ways: Long,
      files: Int): Planted = {
    val id = col("id")
    val m = floor(u(seed, "m", id) * 1000)
    val amen = array(Seq("restaurant", "cafe", "bar", "school", "bench").map(lit): _*)
    val plain = spark.range(1, plainNodes + 1).select(
      (id +: meta(id)) ++ Seq(
        map_filter(map(
          lit("amenity"), when(m < 20,
            element_at(amen, (floor(u(seed, "amen", id) * 5) + 1).cast("int"))),
          lit("shop"), when(m >= 20 && m < 30, lit("supermarket")),
          lit("tourism"), when(m >= 30 && m < 35, lit("hotel")),
          lit("name"), when(m < 28, concat(lit("poi "), id.cast("string"))),
          lit("highway"), when(m >= 100 && m < 300, lit("crossing")),
          lit("source"), when(m >= 300 && m < 400, lit("survey"))),
          (_, v) => v.isNotNull).as("tags"),
        (u(seed, "lon", id) * 360 - 180).as("lon"),
        (u(seed, "lat", id) * 170 - 85).as("lat"),
        lit(null).cast("string").as("user_name"),
        lit(true).as("visible"),
        (m < 35).as("planted_poi")): _*)

    // way k: kind, square origin and side; corner j is node
    // plainNodes + 1 + 4k + j at (lon0 + d·[j∈{1,2}], lat0 + d·[j∈{2,3}])
    val k = col("k")
    val r = u(seed, "kind", k)
    val kind = when(r < 0.3, lit("small")).when(r < 0.5, lit("large"))
      .when(r < 0.6, lit("broken")).otherwise(lit("other"))
    val side = when(col("kind") === "large", lit(0.01)).otherwise(lit(0.0008))
    val wayBase = spark.range(ways).select(col("id").as("k"))
      .select(k, kind.as("kind"),
        (u(seed, "wlon", k) * 340 - 170).as("lon0"),
        (u(seed, "wlat", k) * 120 - 60).as("lat0"))
      .withColumn("d", side)
    val corners = wayBase.select(col("k"), col("lon0"), col("lat0"), col("d"),
        explode(array((0 to 3).map(lit): _*)).as("j"))
      .select((lit(plainNodes + 1) + col("k") * 4 + col("j")).as("id"), col("lon0"),
        col("lat0"), col("d"), col("j"))
      .select((id +: meta(id)) ++ Seq(
        map().cast("map<string,string>").as("tags"),
        (col("lon0") + when(col("j").isin(1, 2), col("d")).otherwise(0.0)).as("lon"),
        (col("lat0") + when(col("j").isin(2, 3), col("d")).otherwise(0.0)).as("lat"),
        lit(null).cast("string").as("user_name"),
        lit(true).as("visible"),
        lit(false).as("planted_poi")): _*)
    val nodes = plain.unionByName(corners)

    val first = lit(plainNodes + 1) + k * 4
    val refs = (0 to 3).map(j => first + j)
    val waysDf = wayBase.select(
      (lit(plainNodes * 10) + k).as("id"), col("kind"), k)
      .select((col("id") +: meta(col("id"))) ++ Seq(
        when(col("kind") === "other", map(lit("building"), lit("yes")))
          .otherwise(map(lit("amenity"), element_at(amen,
            (floor(u(seed, "wamen", col("k")) * 5) + 1).cast("int")),
            lit("name"), concat(lit("area "), col("k").cast("string")))).as("tags"),
        when(col("kind") === "broken", array(refs: _*))
          .otherwise(array(refs :+ first: _*)).as("nodes"),
        lit(null).cast("string").as("user_name"),
        lit(true).as("visible"),
        col("kind")): _*)

    val nodeCols = OsmModel.nodesSchema.fieldNames.map(col)
    val wayCols = OsmXmlSource.waysSchema.fieldNames.map(col)
    nodes.select(nodeCols: _*).repartition(files)
      .write.format("osm-pbf").option("kind", "nodes").mode("append").save(s"$dir/nodes")
    waysDf.select(wayCols: _*).repartition(files)
      .write.format("osm-pbf").option("kind", "ways").mode("append").save(s"$dir/ways")

    val poiNodes = plain.filter(col("planted_poi")).count()
    val byKind = waysDf.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    Planted(plainNodes + 4 * ways, ways, poiNodes,
      byKind("small"), byKind("large"), byKind("broken"))
  }
}
