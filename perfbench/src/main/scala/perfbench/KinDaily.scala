package perfbench

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.SparkEntry
import graft.catalog.Tables
import graft.runner._
import graft.seed.ExternalSeed
import graft.sinks.Replicator
import Main._

/** The Kin daily DAG lifecycle. One round, on a fresh warehouse:
  *
  *   cold    backfill: the daily run at `today` = D0 into an empty warehouse
  *   warm    one day: the daily run at D0 + 1 (a Monday, so a week closes)
  *   serve   the read mix through the published views
  *   repair  `cleanupFromDate(RepairCutoff)` and the refill run
  *
  * "The daily run" is the stage sequence of `DailyPipeline.run` without
  * seed payloads — `IncrementalRunner.runAll` (models + clones) →
  * `Replicator` → views — over the sub-DAG in [[Main.DagNames]], called
  * through the same public components `DailyPipeline` composes.
  *
  * A traced run adds `noop`: the per-model probe pass over the repaired
  * warehouse, which has no new data — the no-op rerun, model by model.
  */
final class KinDaily(spark: SparkSession, args: Map[String, String],
    trace: Option[Trace], out: Result) extends Workload {
  import spark.implicits._

  private val input = args("input")
  private val root = args("root")
  private val all = ModelRegistry.kreDag
  val dag: Seq[ModelDef] = all.filter(m => DagNames.contains(m.name))
  require(dag.size == DagNames.size, s"unknown model in $DagNames")
  require(dag.forall(_.deps.forall(d =>
    !all.exists(_.name == d) || DagNames.contains(d))),
    "the benchmark's sub-DAG must be closed under model deps")
  private val clones =
    ModelRegistry.clones.filter { case (_, src) => DagNames.contains(src) }
  private val serving =
    DailyPipeline.ServingTables.filter(s => DagNames.contains(s.model))

  /** Models whose deps lead back to the TPC-H-dated inputs. */
  val longCalendar: Set[String] = {
    def reaches(n: String): Boolean = n == "lineitem" || n == "orders" ||
      all.find(_.name == n).exists(_.deps.exists(reaches))
    dag.map(_.name).filter(reaches).toSet
  }

  // per-pass stage accumulators (read around the day run)
  private var resolveNs, resolves, replicateNs, viewsNs = 0L
  private var served, appended = 0L

  private val sources: String => DataFrame = name => {
    val t0 = System.nanoTime()
    val df = name match {
      case "events" => Tables.events(spark, input)
      case other => Tables.load(spark, input, other)
    }
    resolveNs += System.nanoTime() - t0
    resolves += 1
    df
  }

  private def series(v: Double) = Seq(
    (1700000000000L, v), (1700086400000L, v * 2), (1700172800000L, v * 3))
    .toDF("ts", "value")

  /** `DailyPipeline`'s seed stage with fixed payloads (traced runs only:
    * the timed daily run has no payloads, so it seeds nothing). */
  private def seed(wh: String): Double = seconds {
    val runner = new IncrementalRunner(spark, wh, D0)
    ExternalSeed.seedDimAppFromJson(spark, AppJson)
      .write.mode(SaveMode.Overwrite).parquet(runner.targetPath("dim_app"))
    ExternalSeed.buildPriceDim(spark, series(1.0), series(10.0),
      series(100.0)).write.mode(SaveMode.Overwrite)
      .parquet(runner.targetPath("dim_price"))
  }._2

  /** One daily run at `today`, staged as `DailyPipeline.run` stages it. */
  def dailyRun(wh: String, serve: String, today: LocalDate): Unit = {
    val runner = new IncrementalRunner(spark, wh, today)
    val replicator = new Replicator(spark, serve)
    appended += runner.runAll(dag, sources, clones).values.sum
    replicateNs += nanos {
      served += serving.map { spec =>
        replicator.replicate(spec.table, runner.readModel(spec.model),
          renames = spec.renames, watermarkCol = spec.watermarkCol)
      }.sum
    }
    viewsNs += nanos(runner.registerViews(dag))
  }

  /** One backfill into a throwaway warehouse: the JIT, codegen and the
    * parquet reader and writer see the code paths the timed phases use.
    * A lighter warm-up left the timed phases paying for compilation,
    * with two to three times the run-to-run spread. */
  def warmUp(dir: String): Unit = dailyRun(s"$dir/wh", s"$dir/serve", D0)

  private def nanos(body: => Any): Long = {
    val t0 = System.nanoTime(); body; System.nanoTime() - t0
  }

  private def trunc(m: ModelDef, d: LocalDate): LocalDate = m.cadence match {
    case Cadence.Daily => d
    case Cadence.Weekly => d.minusDays((d.getDayOfWeek.getValue - 1).toLong)
    case Cadence.Monthly => d.withDayOfMonth(1)
  }

  /** The read mix: a point-day read of every model, two wallet-scoped
    * reads, a multi-month range scan of the long-calendar model, a join
    * of two models, and a read through a clone name. Every statement is
    * plain SQL that DuckDB runs unchanged over the warehouse parquet. */
  def readMix: Seq[String] = {
    val day = LocalDate.parse(args("serve_day"))
    val wallet = args("wallet").toLong
    val (lo, hi) = (args("range_lo"), args("range_hi"))
    dag.map(m =>
      s"SELECT * FROM ${m.name} WHERE date_key = DATE '${trunc(m, day)}'") ++
      Seq(
        s"SELECT * FROM fact_txn WHERE wallet_id = $wallet",
        s"SELECT * FROM closing_balance WHERE wallet_id = $wallet",
        s"""SELECT count(*) AS n, min(date_key) AS lo, max(date_key) AS hi,
           |max(volume) AS top_volume FROM market_summary
           |WHERE date_key BETWEEN DATE '$lo' AND DATE '$hi'""".stripMargin,
        s"""SELECT v.date_key, v.volatility_factor, count(*) AS txns
           |FROM volatility_factor v JOIN fact_txn f ON v.date_key = f.date_key
           |WHERE v.date_key >= DATE '${day.minusDays(7)}'
           |GROUP BY v.date_key, v.volatility_factor""".stripMargin,
        s"""SELECT txn_type, count(*) AS n FROM ${
          clones.find(_._2 == "fact_txn").get._1} GROUP BY txn_type""")
  }

  private def timedPhase(name: String)(body: => Unit): Unit = trace match {
    case Some(t) =>
      val (_, wall, stats) = t.phase(body)
      out.phase(name, wall)
      stats.metrics(name).foreach { case (k, v) => out.layer(k, v) }
      out.layer(s"$name.wall_s", wall)
    case None => out.phase(name, seconds(body)._2)
  }

  /** Files a phase added to the warehouse, when traced. */
  private def written(name: String, wh: String)(body: => Unit): Unit = {
    val before = if (trace.isDefined) listing(wh) else Map.empty[String, Long]
    body
    if (trace.isDefined) {
      val added = listing(wh).filter { case (f, n) =>
        f.endsWith(".parquet") && !before.get(f).contains(n)
      }
      out.layer(s"$name.runner.files_written", added.size.toDouble)
      out.layer(s"$name.runner.partitions_written", added.keys
        .map(f => f.split('/').init.mkString("/"))
        .count(_.contains("date_key=")).toDouble)
      out.layer(s"$name.runner.bytes_written", added.values.sum.toDouble)
    }
  }

  def run(): Unit = {
    val base = s"$root/round"
    val (wh, sv) = (s"$base/wh", s"$base/serve")
    written("cold", wh)(timedPhase("cold")(
      out.op("backfill")(dailyRun(wh, sv, D0))))
    out.layer("runner.warehouse_bytes", listing(wh).values.sum.toDouble)
    val stage0 = (resolveNs, resolves, replicateNs, viewsNs, served)
    written("warm", wh)(timedPhase("warm")(
      out.op("day")(dailyRun(wh, sv, Day1))))
    out.layer("catalog.source_resolve_ms", (resolveNs - stage0._1) / 1e6)
    out.layer("catalog.source_resolves", (resolves - stage0._2).toDouble)
    out.layer("sinks.replicate_ms", (replicateNs - stage0._3) / 1e6)
    out.layer("runner.register_views_ms", (viewsNs - stage0._4) / 1e6)
    out.layer("sinks.rows_served", (served - stage0._5).toDouble)
    // each answer is materialized as a parquet file, the checks' input
    val mix = readMix
    timedPhase("serve")(mix.zipWithIndex.foreach { case (sql, i) =>
      out.op(s"serve $i")(
        spark.sql(sql).write.parquet(s"$base/serve_out/$i"))
    })
    mix.zipWithIndex.foreach { case (sql, i) => out.str(s"serve.$i", sql) }
    copyTree(wh, s"$base/pre_repair")
    val runner = new IncrementalRunner(spark, wh, Day1)
    val dirs0 = dag.map(m => partitionDirs(runner.targetPath(m.name))).sum
    var repairS = 0.0
    var dirs1 = dirs0
    written("repair", wh)(timedPhase("repair") {
      out.op("cleanup") {
        repairS = seconds(runner.cleanupFromDate(dag, RepairCutoff))._2
        if (trace.isDefined)
          dirs1 = dag.map(m => partitionDirs(runner.targetPath(m.name))).sum
      }
      out.op("refill")(dailyRun(wh, sv, Day1))
    })
    out.layer("runner.repair_ms", repairS * 1000)
    out.layer("runner.dirs_deleted", (dirs0 - dirs1).toDouble)
    out.layer("runner.rows_appended", appended.toDouble)
    trace.foreach { t =>
      timedPhase("noop")(probePass(t, wh))
      out.layer("seed.ms", seed(s"$base/seeded") * 1000)
    }
    describe(base)
  }

  /** Traced only: the runner's public per-model functions, model by model
    * in `topoOrder`, over the warehouse as the round left it (no new
    * data), each timed and counted from outside. `runIncremental` here is
    * the no-op rerun of each model. */
  private def probePass(t: Trace, wh: String): Unit = {
    val runner = new IncrementalRunner(spark, wh, Day1)
    val byName = dag.map(m => m.name -> m).toMap
    val plain: String => DataFrame = n =>
      if (byName.contains(n)) runner.readModel(n) else sources(n)
    val counted: String => DataFrame = n =>
      if (!byName.contains(n)) sources(n)
      else {
        val (df, s) = seconds(runner.readModel(n))
        out.addLayer("runner.upstream_resolve_ms", s * 1000)
        out.addLayer("runner.upstream_resolves", 1)
        out.addLayer("runner.partitions_listed",
          partitionDirs(runner.targetPath(n)))
        df
      }
    Seq("runner.upstream_resolve_ms", "runner.upstream_resolves",
      "runner.long_calendar_ms", "runner.other_models_ms")
      .foreach(out.layer(_, 0))
    var maxJobs = 0
    for (m <- runner.topoOrder(dag)) {
      out.addLayer("runner.watermark_ms",
        seconds(runner.watermark(m.name))._2 * 1000)
      out.addLayer("runner.partitions_listed",
        partitionDirs(runner.targetPath(m.name)))
      out.addLayer("models.construct_ms",
        seconds(m.build(spark, plain))._2 * 1000)
      spark.catalog.clearCache()
      val (j0, b0) = (t.jobCount, t.bytesRead)
      val (n, s) = seconds(
        if (m.fullRefresh) runner.runFullRefresh(m, counted)
        else runner.runIncremental(m, counted))
      spark.catalog.clearCache()
      val jobs = t.jobCount - j0
      maxJobs = maxJobs.max(jobs)
      // per-model detail goes to the run's log
      System.err.println(f"[perfbench] no-op ${m.name}%-18s rows=$n jobs=$jobs " +
        f"input_bytes=${t.bytesRead - b0} ms=${s * 1000}%.0f")
      out.addLayer(if (longCalendar(m.name)) "runner.long_calendar_ms"
        else "runner.other_models_ms", s * 1000)
      out.addLayer("models.exec_ms", s * 1000)
    }
    out.layer("runner.max_model_jobs", maxJobs)
  }

  /** What the checks need to find and judge the round's outputs. */
  private def describe(base: String): Unit = {
    out.str("warehouse", s"$base/wh")
    out.str("pre_repair", s"$base/pre_repair")
    out.str("serving_dir", s"$base/serve")
    out.str("serve_out", s"$base/serve_out")
    out.str("models", dag.map(_.name).mkString(","))
    clones.foreach { case (c, src) => out.str(s"clone.$c", src) }
    for ((model, q) <- Twins) {
      val m = dag.find(_.name == model).get
      out.str(s"twin.$model", q)
      out.str(s"twin_sql.$model", SparkEntry.oracleSql(q))
      out.str(s"twin_cut.$model", trunc(m, Day1).toString)
    }
    for (s <- serving) {
      out.str(s"serving.${s.table}", s.model)
      out.str(s"renames.${s.table}",
        s.renames.map { case (a, b) => s"$a=$b" }.mkString(","))
    }
  }
}
