package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.seed.ExternalSeed
import graft.sinks.Replicator

/** §2.1 source/sink operators: S5 JSON dim seed, S6 price-series merge,
  * S7 replicator with sink-side watermark, S4 clone-as-view.
  */
class SeedAndSinkSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  test("S5: JSON payload seeds the app dimension (FLATTEN ≡ explode)") {
    val json =
      """[{"id": 1, "name": "\"Kik\"", "status": "Active",
        |  "public_wallet": "wallet1", "created_date": "2021-01-05",
        |  "updated_date": "2021-06-01"},
        | {"id": 2, "name": "PERQ", "status": "Inactive",
        |  "public_wallet": "wallet2", "created_date": "2020-03-09",
        |  "updated_date": null}]""".stripMargin
    val dim = ExternalSeed.seedDimAppFromJson(spark, json)
    val rows = dim.orderBy($"id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "Kik") // quotes trimmed
    assert(rows(1).isNullAt(5)) // null updated_date survives
    assert(dim.schema("created_date").dataType.typeName == "date")
  }

  test("pluggable fetcher: retry-on-malformed-JSON, then end-to-end seeds") {
    // the reference seeder owns its requests.get/CoinGecko calls
    // (external_endpoint_data_seed.py:80-89,173); the engine injects the
    // transport. A fake fetcher fails twice (transport error, truncated
    // JSON) before returning a good payload — attempt 3 must win.
    val appJson = """[{"id": 7, "name": "App", "status": "Active",
      | "public_wallet": "w", "created_date": "2021-01-05",
      | "updated_date": "2021-06-01"}]""".stripMargin
    var calls = 0
    val flaky: ExternalSeed.Fetcher = { url =>
      calls += 1
      calls match {
        case 1 => throw new java.io.IOException(s"boom: $url")
        case 2 => """[{"id": 7, "name": "App""" // truncated body
        case _ => appJson
      }
    }
    val dim = ExternalSeed.seedDimApp(spark, flaky, "https://apps/api")
    assert(calls == 3)
    assert(dim.collect().map(_.getInt(0)).toSeq == Seq(7))
    // exhausted attempts surface the LAST failure as the cause
    val dead = intercept[IllegalStateException] {
      ExternalSeed.fetchJson(_ => "{nope", "https://apps/api", attempts = 2)
    }
    assert(dead.getMessage.contains("after 2 attempts"))
    assert(dead.getCause != null)

    // market-chart path: one payload carrying the three series must
    // produce the same dim as the pre-parsed three-frame entry point
    def pairs(scale: Double) = (0 to 2)
      .map(i => s"[${1700000000000L + i * 86400000L}, ${scale * (i + 1)}]")
      .mkString("[", ",", "]")
    val chartJson = s"""{"prices": ${pairs(1.0)},
      | "market_caps": ${pairs(10.0)},
      | "total_volumes": ${pairs(100.0)}}""".stripMargin
    val viaFetch = ExternalSeed.seedPriceDim(spark, _ => chartJson, "https://chart")
    def series(v: Double) = (0 to 2)
      .map(i => (1700000000000L + i * 86400000L, v * (i + 1)))
      .toDF("ts", "value")
    val direct = ExternalSeed.buildPriceDim(spark,
      series(1.0), series(10.0), series(100.0))
    assert(viaFetch.orderBy($"date_key").collect().toSeq ==
      direct.orderBy($"date_key").collect().toSeq)
  }

  test("S6: price series merge shifts -1 day and drops the open period") {
    def series(v: Double) = Seq(
      (1700000000000L, v), (1700086400000L, v * 2), (1700172800000L, v * 3))
      .toDF("ts", "value")
    val dim = ExternalSeed.buildPriceDim(spark,
      series(1.0), series(10.0), series(100.0))
    val rows = dim.orderBy($"date_key").collect()
    assert(rows.length == 2) // max-ts (open) row dropped
    // 1700000000000 = 2023-11-14 22:13 UTC → date 2023-11-14, shifted -1
    assert(rows(0).getDate(0).toString == "2023-11-13")
    assert(rows(0).getDouble(1) == 1.0 && rows(0).getDouble(2) == 10.0 &&
      rows(0).getDouble(3) == 100.0)
  }

  test("S6 incremental: price re-seed appends only above the watermark") {
    def series(v: Double, n: Int) = (0 until n).map(i =>
      (1700000000000L + i * 86400000L, v * (i + 1))).toDF("ts", "value")
    // snapshot: a 5-point series → 4 closed days loaded
    val snapshot = ExternalSeed.buildPriceDim(spark,
      series(1.0, 5), series(10.0, 5), series(100.0, 5))
    assert(snapshot.count() == 4)
    // the API refetch window overlaps history (last 4 points + 3 new)
    def window(v: Double) = (3 until 10).map(i =>
      (1700000000000L + i * 86400000L, v * (i + 1))).toDF("ts", "value")
    val inc = ExternalSeed.buildPriceDimIncrement(spark, snapshot,
      window(1.0), window(10.0), window(100.0))
    // snapshot + increment ≡ one full seed over the complete series
    val full = ExternalSeed.buildPriceDim(spark,
      series(1.0, 10), series(10.0, 10), series(100.0, 10))
    val merged = snapshot.unionByName(inc)
      .orderBy($"date_key").collect().map(_.toString).toSeq
    assert(merged == full.orderBy($"date_key").collect()
      .map(_.toString).toSeq)
    // overlap days were NOT re-emitted
    assert(inc.count() == full.count() - snapshot.count())
    // empty existing dim (first run): the whole closed window loads
    val firstRun = ExternalSeed.buildPriceDimIncrement(spark,
      snapshot.filter(lit(false)), window(1.0), window(10.0), window(100.0))
    assert(firstRun.count() == 6) // 7 points → 6 closed days
  }

  test("S6 incremental: a gapped refetch window fails loudly") {
    def series(v: Double, from: Int, until: Int) = (from until until)
      .map(i => (1700000000000L + i * 86400000L, v * (i + 1)))
      .toDF("ts", "value")
    // loaded through the day derived from point 3; a refetch window
    // starting at point 7 skips days that append-only would never
    // backfill — the increment must raise, not silently leave the hole
    val snapshot = ExternalSeed.buildPriceDim(spark,
      series(1.0, 0, 5), series(10.0, 0, 5), series(100.0, 0, 5))
    val gapped = ExternalSeed.buildPriceDimIncrement(spark, snapshot,
      series(1.0, 7, 12), series(10.0, 7, 12), series(100.0, 7, 12))
    val e = intercept[Exception] { gapped.count() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("never be backfilled")))
    // a window rejoining exactly at watermark + 1 day is contiguous: ok
    val contiguous = ExternalSeed.buildPriceDimIncrement(spark, snapshot,
      series(1.0, 4, 12), series(10.0, 4, 12), series(100.0, 4, 12))
    assert(contiguous.count() == 7) // points 4..10 closed, all new
  }

  test("S7: replicator camelizes and appends only past the sink watermark") {
    val serving = Files.createTempDirectory("graft-serving").toString
    val rep = new Replicator(spark, serving)
    def src(days: Int) = (1 to days).map(d =>
      (f"2024-01-$d%02d", d.toLong, d * 10L))
      .toDF("dk", "app_id", "total_amount")
      .select(to_date($"dk").as("date_key"), $"app_id", $"total_amount")
    assert(rep.sinkWatermark("daily_summary").isEmpty)
    assert(rep.replicate("daily_summary", src(3)) == 3)
    assert(rep.sinkWatermark("daily_summary").contains("2024-01-03"))
    // second replication with 5 source days appends exactly the 2 new
    assert(rep.replicate("daily_summary", src(5)) == 2)
    val sink = spark.read.parquet(rep.sinkPath("daily_summary"))
    assert(sink.columns.sorted.toSeq == Seq("appId", "dateKey", "totalAmount"))
    assert(sink.count() == 5)
    // rebuild replaces wholesale
    assert(rep.replicate("daily_summary", src(2), rebuild = true) == 2)
    assert(spark.read.parquet(rep.sinkPath("daily_summary")).count() == 2)
  }

  test("S7: a file:// serving dir appends only past its sink watermark") {
    val serving = "file://" +
      Files.createTempDirectory("graft-serving").toString
    val rep = new Replicator(spark, serving)
    def src(days: Int) = (1 to days).map(d =>
      (f"2024-01-$d%02d", d.toLong, d * 10L))
      .toDF("dk", "app_id", "total_amount")
      .select(to_date($"dk").as("date_key"), $"app_id", $"total_amount")
    assert(rep.replicate("daily_summary", src(3)) == 3)
    assert(rep.replicate("daily_summary", src(5)) == 2)
    assert(spark.read.parquet(rep.sinkPath("daily_summary")).count() == 5)
  }

  test("S4: a clone is a view over the source files (no copy)") {
    val dir = Files.createTempDirectory("graft-clone").toString
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$dir/model")
    graft.catalog.Tables.registerAll(spark, Seq("model_clone" -> s"$dir/model"))
    assert(spark.table("model_clone").count() == 2)
    // the clone tracks the source: append more data, the view sees it
    Seq((3, "c")).toDF("k", "v").write.mode("append").parquet(s"$dir/model")
    graft.catalog.Tables.registerAll(spark, Seq("model_clone" -> s"$dir/model"))
    assert(spark.table("model_clone").count() == 3)
  }
}
