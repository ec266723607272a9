package perfbench

import graft.functions.HstoreCompat
import graft.model.PoiSettings
import graft.operators.{PoiClassifier, PoiPipeline, PoiProjector, TagDimension, WayAssembly}
import graft.sinks.{CopyConnection, CopyProvider, PoiSink}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** A [[CopyProvider]] with no database behind it: each flush counts its
  * batch, rows and bytes in Spark accumulators, so the COPY path
  * (tsv framing, buffering, per-flush connection) runs for real and
  * its output can be reconciled with the parquet sink.
  */
final class CountingCopyProvider(val batches: LongAccumulator, val rows: LongAccumulator,
    val bytes: LongAccumulator) extends CopyProvider {
  def connect(): CopyConnection = new CopyConnection {
    def copyIn(copySql: String, data: String): Long = {
      val n = if (data.isEmpty) 0L else data.count(_ == '\n') + 1L
      batches.add(1); rows.add(n); bytes.add(data.length.toLong)
      n
    }
    def close(): Unit = ()
  }
  def onError(rows: Seq[String], e: Throwable): Unit = ()
}

/** The reference's job end to end over one PBF: decode nodes and ways,
  * assemble way rings, classify and project through
  * [[PoiPipeline.run]] (with ways, so the centroid collapse runs), then
  * five sink writes — nodes (with centroids) and ways to parquet, the
  * invalid-geometry dead letter, and nodes and ways through
  * [[PoiSink.writeCopyTsv]].
  *
  * [[outputs]] also builds the same five outputs cut after each earlier
  * layer, all sent to the `noop` sink; timing each cut in turn gives
  * every layer's self time as the difference of neighbouring cuts, and
  * those self times sum to the full pass by construction.
  */
final class EtlRun(spark: SparkSession, pbfDir: String) {
  val settings: PoiSettings = PoiSettings(keys = Seq("amenity", "shop", "tourism"),
    minOccurrences = 1L, skipWays = false)
  private val dim = spark.createDataFrame(PbfData.Dimension).toDF("key", "value", "count", "in_wiki")

  def nodes: DataFrame = spark.read.format("osm-pbf").option("kind", "nodes").load(s"$pbfDir/nodes")
  def rawWays: DataFrame = spark.read.format("osm-pbf").option("kind", "ways").load(s"$pbfDir/ways")

  /** Ways with rings assembled from the node locations (ways whose
    * nodes are all missing keep a null ring).
    */
  def ways: DataFrame = {
    val rings = WayAssembly.assembleRings(rawWays,
      nodes.select(col("id").as("node_id"), col("lon"), col("lat")))
    rawWays.drop("ring").join(rings, Seq("id"), "left")
  }

  val Layers: Seq[String] = Seq("decode", "wayassembly", "classify", "project", "centroid", "sink")
  val Writes: Seq[String] = Seq("nodes_parquet", "ways_parquet", "invalid_parquet",
    "nodes_copy", "ways_copy")

  def tsv(df: DataFrame): DataFrame = df.select(HstoreCompat.tsvRow(col("id"), col("version"),
    col("user_id"), col("tstamp"), col("changeset_id"), col("tags"), col("geom")).as("row"))

  /** The five outputs after layer `depth` (index into [[Layers]]; the
    * last layer is the sinks themselves, see [[write]]).
    */
  def outputs(depth: Int): Seq[DataFrame] = {
    lazy val pairs = TagDimension.toPairs(TagDimension.prepare(dim, settings), settings)
    def cls(df: DataFrame) = PoiClassifier.classify(df, pairs, settings)
    depth match {
      case 0 => Seq(nodes, rawWays, rawWays, nodes, rawWays)
      case 1 => Seq(nodes, ways, ways, nodes, ways)
      case 2 => Seq(cls(nodes), cls(ways), cls(ways), cls(nodes), cls(ways))
      case 3 =>
        val n = PoiProjector.projectNodes(cls(nodes), settings)
        val (good, bad) = PoiProjector.splitInvalid(PoiProjector.projectWays(cls(ways), settings))
        Seq(n, good, bad, n, good)
      case _ =>
        val r = PoiPipeline.run(nodes, ways, dim, settings)
        Seq(r.nodesWithCentroids, r.ways, r.invalidWays, r.nodesWithCentroids, r.ways)
    }
  }

  /** Performs write `i` of the full pass into `out`. */
  def write(i: Int, df: DataFrame, out: String, copy: CountingCopyProvider): Unit = i match {
    case 0 => PoiSink.writeParquet(df, s"$out/nodes", SaveMode.Overwrite)
    case 1 => PoiSink.writeParquet(df, s"$out/ways", SaveMode.Overwrite)
    case 2 => PoiSink.writeDeadLetter(df, s"$out/invalid")
    case 3 => PoiSink.writeCopyTsv(tsv(df), "nodes", "geom", settings, copy)
    case 4 => PoiSink.writeCopyTsv(tsv(df), "ways", "linestring", settings, copy)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
