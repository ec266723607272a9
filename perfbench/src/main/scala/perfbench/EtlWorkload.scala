package perfbench

import org.apache.spark.sql.functions.col
import Workloads._

/** `etl_pbf`: the reference's own job over a seeded planet-slice PBF
  * (see [[PbfData]]), with ways, into parquet and COPY-TSV.
  */
final class EtlWorkload extends Workload {
  val PlainNodes = 200000L
  val Ways = 20000L
  private var planted: Option[PbfData.Planted] = None
  private var fileRows = 0L

  def setup(ctx: Ctx, dir: String): String = {
    val p = PbfData.write(ctx.spark, dir, ctx.seed, PlainNodes, Ways, ctx.cores)
    // every repetition must plant exactly the same objects
    planted.foreach(q => require(q == p, s"same seed planted $q then $p"))
    planted = Some(p)
    dir
  }

  def passes: Int = 2

  def items(ctx: Ctx): Double = planted.get.objects

  def describe(ctx: Ctx): Map[String, Any] =
    planted.get.asMap ++ Map("file_mb" -> fileMb, "blobs" -> blobs)

  private var fileMb = 0.0
  private var blobs = 0

  def warm(ctx: Ctx, dir: String, probe: Probe): Unit = {
    val etl = new EtlRun(ctx.spark, dir)
    fileMb = Files.sizeMb(dir)
    blobs = etl.nodes.rdd.getNumPartitions + etl.rawWays.rdd.getNumPartitions
    fileRows = planted.get.objects
    fullPass(ctx, etl, s"${ctx.work}/out-warm", probe, None)
    Files.rm(s"${ctx.work}/out-warm")
  }

  private def copyProvider(ctx: Ctx) = {
    val sc = ctx.spark.sparkContext
    new CountingCopyProvider(sc.longAccumulator("copy_batches"),
      sc.longAccumulator("copy_rows"), sc.longAccumulator("copy_bytes"))
  }

  /** The five sink writes; returns per-write seconds (NaN when failed),
    * the COPY counters, and the whole pass wall including the
    * DataFrame build.
    */
  private def fullPass(ctx: Ctx, etl: EtlRun, out: String, probe: Probe,
      parent: Option[String]): (Seq[Double], CountingCopyProvider, Double, Double) = {
    val copy = copyProvider(ctx)
    val t0 = System.nanoTime()
    val dfs = probe.span("build", parent.getOrElse(""))(_ => etl.outputs(4))
    val buildS = (System.nanoTime() - t0) / 1e9
    val times = dfs.zipWithIndex.map { case (df, i) =>
      val t = System.nanoTime()
      try {
        probe.span(s"write:${etl.Writes(i)}", parent.getOrElse(""))(_ => etl.write(i, df, out, copy))
        (System.nanoTime() - t) / 1e9
      } catch { case e: Exception =>
        System.err.println(s"[etl_pbf] ${etl.Writes(i)} failed: $e")
        Double.NaN
      }
    }
    (times, copy, (System.nanoTime() - t0) / 1e9, buildS)
  }

  /** Output checks, outside the timed region: reconcile with what the
    * generator planted, and COPY rows with parquet rows.
    */
  private def check(ctx: Ctx, out: String, copy: CountingCopyProvider): (Seq[String], Map[String, Double]) = {
    val p = planted.get
    val spark = ctx.spark
    def rows(path: String) = scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L)
    val nodes = rows(s"$out/nodes")
    val ways = rows(s"$out/ways")
    val invalid = rows(s"$out/invalid")
    val centroids = scala.util.Try(spark.read.parquet(s"$out/nodes")
      .filter(col("id") >= graft.model.OsmModel.CentroidIdOffset).count()).getOrElse(-1L)
    val expect = Seq(
      ("parquet nodes (POI nodes + centroids)", nodes, p.poiNodes + p.poiSmall),
      ("centroids appended", centroids, p.poiSmall),
      ("parquet ways (valid POI areas)", ways, p.poiSmall + p.poiLarge),
      ("invalid ways", invalid, p.poiBroken),
      ("COPY rows = parquet rows", copy.rows.value, nodes + ways))
    val problems = expect.collect { case (what, got, want) if got != want =>
      s"$what: got $got, want $want" }
    (problems, Map("centroid.rows" -> centroids.toDouble, "project.invalid_rows" -> invalid.toDouble,
      "sink.parquet_mb" -> (Files.sizeMb(s"$out/nodes") + Files.sizeMb(s"$out/ways") +
        Files.sizeMb(s"$out/invalid")),
      "sink.copy_batches" -> copy.batches.value.toDouble,
      "sink.copy_mb" -> copy.bytes.value / 1048576.0))
  }

  def pass(ctx: Ctx, dir: String, probe: Probe, index: Int): Pass = {
    val etl = new EtlRun(ctx.spark, dir)
    val out = s"${ctx.work}/out$index"
    probe.span(s"pass$index") { pid =>
      val cuts = if (ctx.trace) tracedCuts(ctx, etl, probe, pid) else Map.empty[String, Double]
      probe.drain()
      val before = probe.snapshot()
      val from = probe.now()
      val (times, copy, wall, buildS) = probe.span("cut:sink", pid)(sid => fullPass(ctx, etl, out, probe, Some(sid)))
      val to = probe.now()
      probe.drain()
      val c = probe.delta(before, probe.snapshot())
      val (problems, outputs) = check(ctx, out, copy)
      Files.rm(out)
      val ops = times.zip(etl.Writes).map { case (t, n) => Op(n, t, t.isNaN) }
      val layers =
        if (!ctx.trace) Map.empty[String, Double]
        else {
          // the sink layer's self time is the full pass minus the last
          // cut; the parquet writes' share is their time minus the same
          // outputs to noop, the COPY writes take the rest
          val sinkS = wall - cuts("cut4")
          val parquetS = Seq(0, 1, 2).map(times).sum - Seq(0, 1, 2).map(i => cuts(s"noop$i")).sum
          val stageUnion = probe.stageUnionS(from, to)
          cuts.filter { case (k, _) => k.contains('.') } ++ outputs ++ Common.executor(c, wall, stageUnion, ctx.cores) ++ Map(
            "sink.parquet_s" -> parquetS,
            "sink.copy_s" -> (sinkS - parquetS),
            // the PBF reader reports no input bytes; every decode reads
            // whole blobs, so bytes scale with the rows decoded
            "osmpbf.read_mb" -> (if (c("read_mb") > 0) c("read_mb")
              else fileMb * c("records_read") / fileRows),
            "osmpbf.decode_amplification" -> c("records_read") / fileRows,
            "osmpbf.blobs" -> blobs.toDouble,
            "queries.build_s" -> buildS,
            "queries.build_jobs" -> Common.jobsUnder(probe, "build", from, to),
            "trace.wall_s" -> wall)
        }
      Pass(wall, ops, problems, layers)
    }
  }

  /** Self-time metric of each cut in [[EtlRun.Layers]] order, sinks excluded. */
  private val CutMetrics = Seq("osmpbf.decode_s", "wayassembly.s", "classify.s", "project.s",
    "centroid.s")

  /** Times the five outputs cut after each layer before the sinks, each
    * to `noop` (DataFrame build included). Returns each layer's self time
    * (the difference of neighbouring cuts), the decode and assembly
    * counters, the classify row counts, the last cut's total (`cut4`)
    * and its per-write noop times (`noop0`..`noop4`). A difference can be
    * negative: a later layer that drops columns (projection drops the
    * node refs and lon/lat) lets Catalyst prune them upstream, so the
    * longer pipeline decodes less.
    */
  private def tracedCuts(ctx: Ctx, etl: EtlRun, probe: Probe, pid: String): Map[String, Double] = {
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    val cuts = (0 to 4).map { depth =>
      probe.drain()
      val before = probe.snapshot()
      val t0 = System.nanoTime()
      val per = probe.span(s"cut:${etl.Layers(depth)}", pid) { cid =>
        etl.outputs(depth).map { df =>
          val t = System.nanoTime()
          probe.span("noop", cid)(_ => etl.noop(df))
          secs(t)
        }
      }
      val total = secs(t0)
      probe.drain()
      (total, per, probe.delta(before, probe.snapshot()))
    }
    val totals = cuts.map(_._1)
    val self = CutMetrics.zip(totals.zip(0.0 +: totals).map { case (a, b) => a - b })
    val decode = cuts.head._3
    val d = etl.outputs(2)
    val classified = d(0).count() + d(1).count()
    self.toMap ++ cuts.last._2.zipWithIndex.map { case (t, i) => s"noop$i" -> t } ++ Map(
      "cut4" -> totals.last,
      "osmpbf.rows_per_s" -> decode("records_read") / totals.head,
      "wayassembly.shuffle_mb" -> cuts(1)._3("shuffle_write_mb"),
      "classify.rows_in" -> fileRows.toDouble, "classify.rows_kept" -> classified.toDouble)
  }
}

/** Per-layer values shared by the ETL and catalog workloads. */
object Common {
  /** The ETL layers' metrics, reported as 0 by workloads that never run
    * the ETL (they are measured on `etl_pbf` only).
    */
  val etlAbsent: Map[String, Double] = Seq("osmpbf.decode_s", "osmpbf.rows_per_s",
    "osmpbf.blobs", "osmpbf.read_mb", "osmpbf.decode_amplification", "classify.s",
    "classify.rows_in", "classify.rows_kept", "project.s", "project.invalid_rows",
    "wayassembly.s", "wayassembly.shuffle_mb", "centroid.s", "centroid.rows",
    "sink.parquet_s", "sink.parquet_mb", "sink.copy_s", "sink.copy_batches",
    "sink.copy_mb").map(_ -> 0.0).toMap

  /** Scheduler and executor metrics over one pass of `wallS` seconds. */
  def executor(c: Map[String, Double], wallS: Double, stageUnionS: Double, cores: Int): Map[String, Double] = Map(
    "scheduler.jobs" -> c("jobs"), "scheduler.stages" -> c("stages"),
    "scheduler.tasks" -> c("tasks"), "executor.task_s" -> c("task_s"),
    "executor.stage_span_s" -> stageUnionS,
    "executor.busy_ratio" -> c("task_s") / (wallS * cores),
    "executor.gc_s" -> c("gc_s"), "executor.shuffle_write_mb" -> c("shuffle_write_mb"),
    "executor.spill_mb" -> c("spill_mb"), "alloc_gb" -> c("alloc_gb"),
    "driver.gap_s" -> (wallS - stageUnionS),
    "planning.analysis_s" -> c("analysis_s"), "planning.optimization_s" -> c("optimization_s"),
    "planning.planning_s" -> c("planning_s"), "codegen.compile_s" -> c("compile_s"))

  /** Jobs whose parent span is named `name`, started within [from, to]. */
  def jobsUnder(probe: Probe, name: String, from: Double, to: Double): Double = {
    val all = probe.allSpans
    val ids = all.filter(s => s.name == name && s.start >= from && s.end <= to).map(_.id).toSet
    all.count(s => s.name == "job" && ids.contains(s.parent)).toDouble
  }
}
