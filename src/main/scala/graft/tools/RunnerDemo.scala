package graft.tools

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import org.apache.spark.sql.functions._
import graft.runner._

/** Dev drive of the incremental protocol over real test data: two daily
  * runs + a repair, printing watermarks and appended-row counts.
  * Usage: runMain graft.tools.RunnerDemo [sfDir]
  */
object RunnerDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.create("local[4]", 4, "graft-runnerdemo")
    import spark.implicits._

    val wh = Files.createTempDirectory("graft-demo-wh").toString
    val summaryModel = ModelDef(
      "daily_txn_summary", Cadence.Daily, Seq("events"),
      (s, resolve) => {
        resolve("events")
          .filter($"event_type" =!= "error")
          .groupBy(to_date($"ts").as("date_key"), $"event_type")
          .agg(count(lit(1)).as("txn_count"))
      })
    val sources: String => org.apache.spark.sql.DataFrame =
      name => graft.catalog.Tables.load(spark, sfDir, name) match {
        case df if name == "events" =>
          graft.catalog.Tables.events(spark, sfDir)
        case df => df
      }

    def show(label: String): Unit = {
      val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-15"))
      println(s"[$label] watermark=${r.watermark("daily_txn_summary")}")
    }

    val r1 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-15"))
    println(s"[run1 @2024-01-15] appended=${r1.runIncremental(summaryModel, sources)}")
    show("after run1")
    val r2 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-25"))
    println(s"[run2 @2024-01-25] appended=${r2.runIncremental(summaryModel, sources)}")
    println(s"[after run2] watermark=${r2.watermark("daily_txn_summary")}")
    r2.repair(summaryModel, LocalDate.parse("2024-01-20"))
    println(s"[after repair @2024-01-20] watermark=${r2.watermark("daily_txn_summary")}")
    println(s"[refill] appended=${r2.runIncremental(summaryModel, sources)}")
    println(s"[final] rows=${r2.readModel("daily_txn_summary").count()} " +
      s"watermark=${r2.watermark("daily_txn_summary")}")

    // the reference's full daily pipeline shape: seed -> model -> replicate
    // (sf_daily_pipeline.yaml order), plus a clone publication
    val dim = graft.seed.ExternalSeed.seedDimAppFromJson(spark,
      """[{"id": 1, "name": "\"DemoApp\"", "status": "Active",
        |  "public_wallet": "w1", "created_date": "2021-01-05",
        |  "updated_date": "2021-06-01"}]""".stripMargin)
    println(s"[seed] dim_app rows=${dim.count()} name=${dim.head().getString(1)}")
    val serving = Files.createTempDirectory("graft-demo-serving").toString
    val rep = new graft.sinks.Replicator(spark, serving)
    val n1 = rep.replicate("daily_txn_summary", r2.readModel("daily_txn_summary"))
    val n2 = rep.replicate("daily_txn_summary", r2.readModel("daily_txn_summary"))
    println(s"[replicate] first=$n1 second(idempotent)=$n2 " +
      s"sinkWatermark=${rep.sinkWatermark("daily_txn_summary")}")
    println(s"[replicate] sink columns=" +
      spark.read.parquet(rep.sinkPath("daily_txn_summary"))
        .columns.sorted.mkString(","))
    graft.catalog.Tables.registerAll(spark,
      Seq("daily_txn_summary_clone" -> s"$wh/daily_txn_summary"))
    println(s"[clone] rows=${spark.table("daily_txn_summary_clone").count()}")

    // the full declared KRE DAG through the runner (ModelRegistry):
    // empty models (e.g. AU at tiny SFs) still materialize schema-bearing
    // targets so downstream models resolve
    val dagWh = Files.createTempDirectory("graft-demo-dag").toString
    val dagRunner = new IncrementalRunner(spark, dagWh,
      LocalDate.parse("2024-02-05"))
    val dagSources: String => org.apache.spark.sql.DataFrame = {
      case "events" => graft.catalog.Tables.events(spark, sfDir)
      case other => graft.catalog.Tables.load(spark, sfDir, other)
    }
    val counts = dagRunner.runAll(graft.runner.ModelRegistry.kreDag, dagSources)
    counts.toSeq.sortBy(_._1).foreach { case (m, n) =>
      println(s"[dag] $m appended=$n")
    }
    spark.stop()
  }
}
