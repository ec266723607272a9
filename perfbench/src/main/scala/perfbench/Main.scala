package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark process entry, launched by `run.py` in a fresh JVM per run:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --cache <dir> --out <json> --expected <json> --cores <n>
  *   --t0-ms <epoch ms>
  * }}}
  *
  * It sets up (session, inputs, warm-up), measures for about `seconds`,
  * checks the outputs and writes one result object to `--out`.
  * `--calibrate <sf>` instead runs every catalog query once on generated
  * data and writes per-query rows and seconds (the source of the
  * catalog expectations file).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    val cores = opts.getOrElse("cores", "4").toInt
    val t0Ms = opts.get("t0-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try {
        opts.get("calibrate") match {
          case Some(sf) => Calibrate.run(spark, work, sf.toDouble)
          case None =>
            val w = Workloads.byName(opts("workload"))
            Workloads.run(w, Workloads.Ctx(spark, work, opts("cache"), opts("seed").toLong,
              opts("seconds").toDouble, trace, cores, t0Ms, opts.get("expected")))
        }
      } finally spark.stop()
    Json.write(opts("out"), result)
  }
}

/** Runs every catalog query once over generated data at one scale factor
  * and records its row count and time; used to (re)write the
  * expectations file the catalog workloads check against.
  */
object Calibrate {
  def run(spark: SparkSession, work: String, sf: Double): Map[String, Any] = {
    val dir = s"$work/catalog"
    CatalogData.write(spark, dir, sf, Workloads.CatalogDataSeed)
    Workloads.warmUp(spark)
    val probe = new Probe(spark, "calibrate", traced = true)
    val out = graft.SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val q = CatalogRun.runQuery(spark, probe, n, dir)
      System.err.println(f"[calibrate] $n%-40s ${q.wallS}%7.3f s rows=${q.rows}%d jobs=${q.counters("jobs")}%.0f ${q.error.getOrElse("")}")
      n -> Map("rows" -> q.rows, "s" -> q.wallS, "jobs" -> q.counters("jobs"),
        "error" -> q.error)
    }
    Map("sf" -> sf, "queries" -> out.toMap)
  }
}
