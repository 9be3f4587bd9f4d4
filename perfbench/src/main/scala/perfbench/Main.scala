package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.catalog.Tables

/** The benchmark's JVM side. `run.py` prepares the inputs, starts this
  * process, and checks what it leaves under the run's scratch root
  * against DuckDB. Arguments are `key=value` pairs:
  *
  *   workload  kin_daily | warehouse_queries
  *   root      the run's scratch root (every write lands under it)
  *   input     the derived input tables (one parquet file per table)
  *   trace     1 attaches listeners and the per-model probe pass
  *   wallet, serve_day, range_lo, range_hi   seeded read-mix parameters
  *
  * It writes `result.json` under `root`: the walls of the timed phases, the
  * per-layer metrics of a traced run, operation counts, and what the
  * checks need (the oracle SQL of every query it ran, the SQL of every
  * read-mix query).
  */
object Main {
  // ---- kin_daily calendar (README: "Inputs and calendar")
  val D0: LocalDate = LocalDate.parse("2024-01-14")          // Sunday
  val Day1: LocalDate = D0.plusDays(1)                       // Monday: week close
  val RepairCutoff: LocalDate = LocalDate.parse("2024-01-05") // Friday, week before

  /** The sub-DAG the daily run executes: five models that each have a
    * `SparkEntry` twin — the two events-fed wallet-grain facts, the
    * full-history lookback `volatility_factor`, a weekly model, and the
    * lineitem-fed long-calendar `market_summary`. (No full-refresh model:
    * see the README on `monthly_inactive_wallets`.) */
  val DagNames: Seq[String] = Seq("fact_txn", "closing_balance",
    "volatility_factor", "weekly_txn_rollup", "market_summary")

  /** Twin model → the `SparkEntry` query built by the same function. */
  val Twins: Seq[(String, String)] = Seq(
    "fact_txn" -> "q01_fact_txn",
    "weekly_txn_rollup" -> "q09_weekly_txn_rollup",
    "closing_balance" -> "q19_closing_balance",
    "market_summary" -> "q24_market_summary",
    "volatility_factor" -> "q27_volatility_factor")

  /** The query set: every `QueryStride`-th of the sorted warehouse
    * queries (`SparkEntry.queries` named `q*`), from the first. */
  val QueryFamily = "q"
  val QueryStride = 12

  val AppJson =
    """[{"id": 1, "name": "Kik", "status": "Active",
      |  "public_wallet": "w1", "created_date": "2021-01-05",
      |  "updated_date": "2021-06-01"}]""".stripMargin

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val root = args("root")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.create(s"local[$cores]", cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val traced = args.get("trace").contains("1")
    val trace = if (traced) Some(new Trace(spark)) else None
    val out = new Result
    val workload: Workload = args("workload") match {
      case "kin_daily" => new KinDaily(spark, args, trace, out)
      case "warehouse_queries" => new WarehouseQueries(spark, args, trace, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    workload.warmUp(s"$root/warmup")
    out.num("setup_done_epoch_us", nowMicros().toDouble)
    if (traced) out.layer("box.probe_start_s", boxProbe(spark))
    workload.run()
    if (traced) {
      out.layer("box.probe_end_s", boxProbe(spark))
      out.layer("catalog.table_load_ms", tableLoadMs(spark, args("input")))
      out.layer("shared.tmp_dirs_left", new File(
        System.getProperty("java.io.tmpdir")).listFiles()
        .count(_.getName.startsWith("graft-shared-")).toDouble)
    }
    Files.writeString(Paths.get(s"$root/result.json"), out.json)
    spark.stop()
  }

  def nowMicros(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def seconds[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }


  /** A fixed Spark job on synthetic data: tells a contended box from a
    * slow program. */
  def boxProbe(spark: SparkSession): Double = seconds {
    spark.range(0L, 3000000L, 1L, 4)
      .selectExpr("id % 1000 AS k", "id * 7 AS v")
      .groupBy("k").sum("v").collect()
  }._2

  /** Median time of one `Tables.load` of a raw table in the warm session. */
  def tableLoadMs(spark: SparkSession, input: String): Double = {
    val xs = (1 to 7).map(_ => seconds(Tables.load(spark, input, "nation"))._2)
    xs.sorted.apply(xs.size / 2) * 1000
  }

  /** All files under `dir` with their sizes (relative path → bytes). */
  def listing(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => p.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def partitionDirs(dir: String): Int =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("date_key="))
}

/** One workload: an untimed warm-up (part of set-up), then one round of
  * timed phases on fresh state. */
trait Workload {
  def warmUp(dir: String): Unit
  def run(): Unit
}

/** Collects the JVM side's output and renders it as JSON. */
final class Result {
  private val nums = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private val strs = mutable.LinkedHashMap.empty[String, String]
  private val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def num(k: String, v: Double): Unit = nums(k) = v
  def layer(k: String, v: Double): Unit = layers(k) = v
  def addLayer(k: String, v: Double): Unit =
    layers(k) = layers.getOrElse(k, 0.0) + v
  def str(k: String, v: String): Unit = strs(k) = v
  def phase(k: String, secs: Double): Unit = phases(k) = secs

  /** One attempted operation; a throw is counted as failed, not fatal. */
  def op(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getName}: ${e.getMessage}"
          .linesIterator.next().take(400)
        System.err.println(s"[perfbench] $what FAILED")
        e.printStackTrace()
    }
  }

  private def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
      .mkString("{", ", ", "}")

  def json: String =
    s"""{"nums": ${obj(nums)}, "layers": ${obj(layers)},
       | "phases": ${obj(phases)},
       | "strs": ${strs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")},
       | "errors": ${errors.map(q).mkString("[", ", ", "]")},
       | "attempted": $attempted, "failed": $failed}""".stripMargin
}
