package perfbench

import Workloads._

/** `catalog`: a fixed list of catalog queries, the iterative families'
  * [[CatalogRun.Loops]] then the stratified [[CatalogRun.Sample]], over
  * the generated sf0.1 tables ([[CatalogData]]), each to the noop sink,
  * in a fixed order. Each query's row count is checked against
  * `catalog_expected.json`; a query that throws counts as failed.
  *
  * The seed changes neither the tables nor the order: the first queries
  * of a fresh JVM run up to ~1.5x slower while the JIT warms, and a
  * seeded order moved that cost between queries from run to run
  * (op_p50_s spread 0.20 over five seeds).
  */
final class CatalogWorkload extends Workload {
  private var expected: Map[String, (Long, Double)] = Map.empty
  private var chosen: Seq[String] = Nil

  private def loadExpected(ctx: Ctx): Unit = if (expected.isEmpty) {
    val path = ctx.expected.getOrElse(sys.error("catalog workloads need --expected"))
    val qs = Json.read(path).asInstanceOf[Map[String, Any]]("queries")
      .asInstanceOf[Map[String, Map[String, Any]]]
    expected = qs.map { case (n, m) =>
      n -> (m("rows").asInstanceOf[BigInt].toLong, m("s").asInstanceOf[Double]) }
  }

  /** The tables depend only on [[CatalogDataSeed]] and [[CatalogSf]], so
    * they are generated once per checkout into the cache directory
    * (atomically, by rename) and every set-up validates their row
    * counts.
    */
  def setup(ctx: Ctx, dir: String): String = {
    loadExpected(ctx)
    val data = s"${ctx.cache}/catalog-sf$CatalogSf-seed$CatalogDataSeed"
    if (!new java.io.File(data).isDirectory) {
      CatalogData.write(ctx.spark, dir, CatalogSf, CatalogDataSeed)
      new java.io.File(ctx.cache).mkdirs()
      if (!new java.io.File(dir).renameTo(new java.io.File(data))) Files.rm(dir)
    }
    val n = CatalogData.sizes(CatalogSf)
    val want = Map("customer" -> n.customer, "supplier" -> n.supplier, "part" -> n.part,
      "orders" -> n.orders, "lineitem" -> n.lineitem, "events" -> n.events,
      "documents" -> n.documents, "embeddings" -> n.embeddings, "region" -> 5L, "nation" -> 25L)
    val got = want.keys.map(t => t -> ctx.spark.read.parquet(s"$data/$t.parquet").count()).toMap
    require(got == want, s"catalog tables in $data have $got rows, want $want")
    data
  }

  def warm(ctx: Ctx, dir: String, probe: Probe): Unit = {
    chosen = CatalogRun.Loops ++ CatalogRun.Sample
    CatalogRun.runQuery(ctx.spark, new Probe(ctx.spark, "warm", traced = false),
      CatalogRun.WarmQuery, dir)
  }

  def passes: Int = 1

  def items(ctx: Ctx): Double = chosen.size

  def describe(ctx: Ctx): Map[String, Any] = Map("sf" -> CatalogSf, "data_seed" -> CatalogDataSeed,
    "queries" -> chosen, "reference_s" -> chosen.map(n => expected(n)._2))

  def pass(ctx: Ctx, dir: String, probe: Probe, index: Int): Pass = {
    probe.drain()
    val before = probe.snapshot()
    val from = probe.now()
    val outs = probe.span(s"pass$index")(_ => chosen.map(n => CatalogRun.runQuery(ctx.spark, probe, n, dir)))
    val to = probe.now()
    probe.drain()
    val c = probe.delta(before, probe.snapshot())
    val wall = outs.map(_.wallS).sum
    val problems = outs.flatMap { q =>
      q.error.map(e => s"${q.name}: $e").orElse {
        val want = expected(q.name)._1
        if (q.rows != want) Some(s"${q.name}: $want rows expected, got ${q.rows}") else None
      }
    }
    val ops = outs.map(q => Op(q.name, q.wallS, q.error.isDefined))
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else Common.executor(c, wall, outs.map(q => probe.stageUnionS(q.startMs, q.endMs)).sum, ctx.cores) ++
        Common.etlAbsent ++ Map(
          "queries.build_s" -> outs.map(_.buildS).sum,
          "queries.build_jobs" -> Common.jobsUnder(probe, "build", from, to),
          "trace.wall_s" -> wall)
    Pass(wall, ops, problems, layers)
  }
}
