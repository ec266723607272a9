package perfbench

import org.apache.spark.sql.SparkSession

object Workloads {
  /** Seed of the catalog tables. The catalog's expectations file holds
    * per-query row counts for exactly these tables, so the run seed
    * chooses and orders queries but never changes the data.
    */
  val CatalogDataSeed = 42L
  /** Scale factor of the catalog tables (the harness bench's scale). */
  val CatalogSf = 0.1
  /** Times the inputs are generated in one run; setup_s reports the median. */
  val SetupReps = 3

  final case class Ctx(spark: SparkSession, work: String, cache: String, seed: Long,
      seconds: Double, trace: Boolean, cores: Int, t0Ms: Double, expected: Option[String])

  /** One timed operation: a catalog query or an ETL sink write. */
  final case class Op(name: String, seconds: Double, failed: Boolean)

  /** One pass over a workload's whole input. `layers` holds the traced
    * per-layer values of this pass (empty when untraced).
    */
  final case class Pass(wallS: Double, ops: Seq[Op], problems: Seq[String],
      layers: Map[String, Double])

  trait Workload {
    /** Generates or validates this run's inputs, using `dir` as working space;
      * returns the directory that holds them.
      */
    def setup(ctx: Ctx, dir: String): String
    /** Untimed warm-up over the inputs in `dir`. */
    def warm(ctx: Ctx, dir: String, probe: Probe): Unit
    /** One measured pass over the inputs in `dir`. */
    def pass(ctx: Ctx, dir: String, probe: Probe, index: Int): Pass
    /** Passes one run measures, if they fit in the run's seconds. */
    def passes: Int
    /** Items one pass processes (OSM objects, or queries). */
    def items(ctx: Ctx): Double
    /** Context for the artifact (planted counts, query list, ...). */
    def describe(ctx: Ctx): Map[String, Any]
  }

  def byName(name: String): Workload = name match {
    case "etl_pbf" => new EtlWorkload
    case "catalog" => new CatalogWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Untimed session warm-up: a scan, a broadcast join and a shuffle to
    * the noop sink, so the first timed operation does not pay for
    * loading those code paths.
    */
  def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val a = spark.range(20000).select(col("id"), (col("id") % 97).as("k"))
    val b = spark.range(97).select(col("id").as("k"), concat_ws("-", lit("v"), col("id")).as("v"))
    a.join(broadcast(b), "k").groupBy("v").agg(sum("id")).orderBy("v")
      .write.format("noop").mode("overwrite").save()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Harrell-Davis estimate of the `q` quantile: a Beta-weighted mean of
    * all order statistics. On the handful of samples one run yields it
    * moves far less between runs than the middle sample does (catalog
    * op_p50_s over three runs: 2.09-2.42 s as a sample median,
    * 2.25-2.27 s as Harrell-Davis).
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.size <= 1) xs.headOption.getOrElse(Double.NaN)
    else {
      val n = xs.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, (n + 1) * q, (n + 1) * (1 - q), 1e-9)
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      xs.sorted.zipWithIndex.map { case (x, i) => x * (cdf(i + 1) - cdf(i)) }.sum
    }

  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** Set-up, measurement, checks and the result object for one run. */
  def run(w: Workload, ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    def now() = System.currentTimeMillis().toDouble
    val bootS = (now() - ctx.t0Ms) / 1000
    val loadBefore = Box.loadAvg()
    val calibBefore = Box.calibrate()
    val setups = (0 until SetupReps).map { i =>
      val t = System.nanoTime()
      val d = w.setup(ctx, s"${ctx.work}/input$i")
      (d, (System.nanoTime() - t) / 1e9)
    }
    val setupTimes = setups.map(_._2)
    val dir = setups.last._1
    setups.init.foreach { case (d, _) => if (d != dir) Files.rm(d) }
    val probe = new Probe(spark, s"${ctx.seed}-${ctx.t0Ms.toLong}", traced = ctx.trace)
    val tw = System.nanoTime()
    warmUp(spark)
    w.warm(ctx, dir, probe)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = bootS + median(setupTimes) + warmS

    val busy = new Box.BusyTrace
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val lengths = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // a fixed number of passes, so every run measures the same work;
    // fewer only if the next pass would overrun the run's seconds
    while (passes.isEmpty ||
        (passes.size < w.passes && elapsed + median(lengths.toSeq) <= ctx.seconds)) {
      val t = elapsed
      passes += w.pass(ctx, dir, probe, passes.size)
      lengths += elapsed - t
    }
    val measuredS = elapsed
    probe.close()
    val (busyTrace, stealTrace) = busy.stop()
    val calibAfter = Box.calibrate()
    val peakRss = Box.peakRssMb()

    val ops = passes.flatMap(_.ops).toSeq
    val failed = ops.count(_.failed)
    val problems = passes.flatMap(_.problems).distinct.toSeq
    val walls = passes.map(_.wallS).toSeq
    val opTimes = ops.filterNot(_.failed).map(_.seconds)
    val wall = hdQuantile(walls, 0.5)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wall, "s"),
      "items_per_s" -> (w.items(ctx) / wall, "1/s"),
      "op_p50_s" -> (hdQuantile(opTimes, 0.5), "s"))
    val layerNames = passes.flatMap(_.layers.keys).distinct
    val layers = layerNames.map(k => k -> median(passes.flatMap(_.layers.get(k)).toSeq)).toMap
    val metrics =
      if (!ctx.trace) e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      else layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> Units.of(k)) }
    val spans = probe.allSpans
    Map(
      "correct" -> (problems.isEmpty && failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> metrics,
      "artifact" -> Map(
        "workload" -> w.getClass.getSimpleName, "seed" -> ctx.seed, "trace" -> ctx.trace,
        "cores" -> ctx.cores, "seconds" -> ctx.seconds, "measured_s" -> measuredS,
        "boot_s" -> bootS, "setup_reps_s" -> setupTimes, "warm_s" -> warmS,
        "passes" -> walls.size, "pass_wall_s" -> walls,
        "ops" -> ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "failed" -> o.failed)),
        "op_p80_s" -> hdQuantile(opTimes, 0.8),
        "problems" -> problems,
        "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v },
        "layers_per_pass" -> passes.map(_.layers),
        "box" -> Map("loadavg_before" -> loadBefore, "loadavg_after" -> Box.loadAvg(),
          "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
          "busy_pct_trace" -> busyTrace.map(b => math.round(b * 10) / 10.0),
          "steal_pct_trace" -> stealTrace.map(b => math.round(b * 10) / 10.0),
          "nproc" -> Runtime.getRuntime.availableProcessors(), "peak_rss_mb" -> peakRss),
        "workload_inputs" -> w.describe(ctx),
        "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "run" -> s.run))))
  }
}

object Units {
  def of(metric: String): String =
    if (metric.endsWith("_mb")) "MB"
    else if (metric.endsWith("_gb")) "GB"
    else if (metric.endsWith("_per_s")) "1/s"
    else if (metric.endsWith("_s") || metric.endsWith(".s")) "s"
    else if (metric.endsWith("ratio") || metric.endsWith("amplification")) "ratio"
    else "count"
}

object Files {
  def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(): Unit
    }
    go(new java.io.File(path))
  }

  def sizeMb(path: String): Double = {
    def go(f: java.io.File): Long =
      if (f.isFile) f.length else Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
    go(new java.io.File(path)) / 1048576.0
  }
}
