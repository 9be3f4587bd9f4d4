package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.runner._

/** End-to-end DAG test (SURVEY §5.4): the full KRE model chain through
  * the incremental runner on real test data — full refresh vs two-step
  * incremental must converge to the same payout tables.
  */
class ModelDagSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  import spark.implicits._

  // sf0.01: the smallest SF where the KRE ≥3-spends-in-30d rule yields
  // non-empty active-user sets (sf0.001 has ~0.13 spends per (app,wallet))
  private val sfDir = "/root/testdata/sf0.01"
  private def sources: String => DataFrame = {
    case "events" => graft.catalog.Tables.events(spark, sfDir)
    case other => graft.catalog.Tables.load(spark, sfDir, other)
  }

  private def tableHash(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("full model DAG runs through the incremental runner end-to-end", SlowTest) {
    val wh = Files.createTempDirectory("graft-dag").toString
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-02-05"))
    assert(ModelRegistry.kreDag.size >= 25) // the whole mart set, not a demo chain
    val counts = r.runAll(ModelRegistry.kreDag, sources, ModelRegistry.clones)
    assert(counts("fact_txn") > 0)
    assert(counts("daily_payout") > 0)
    assert(counts("weekly_payout") > 0)
    // every registered model materializes (forward-window models may be
    // legitimately sparse, but the build itself must succeed and appear)
    for (m <- ModelRegistry.kreDag) assert(r.exists(m.name), m.name)
    assert(counts("daily_txn_summary") > 0)
    // the TPC-H-dated families must actually load (a too-high watermark
    // epoch once silently emptied every pre-2017 table)
    assert(counts("market_summary") > 0)
    assert(counts("average_balances") > 0)
    assert(counts("creates_by_segment") > 0)
    assert(counts("create_fee_payers") > 0)
    assert(counts("gc_impacted_accounts") > 0)
    assert(counts("monthly_active_accounts") > 0)
    assert(counts("daily_kre_summary") > 0)
    assert(counts("daily_net_inflation") > 0)
    // downstream reads materialized upstream: payout dates ⊆ aub dates
    val payoutDays = r.readModel("daily_payout")
      .select($"date_key").distinct().count()
    assert(payoutDays > 0 && payoutDays <=
      r.readModel("active_user_balance").select($"date_key").distinct().count())
    // every clone resolves post-run and is a zero-copy view of its source
    for ((clone, src) <- ModelRegistry.clones) {
      assert(tableHash(spark.table(clone)) == tableHash(r.readModel(src)),
        s"clone $clone != source $src")
    }
  }

  // Convergence subset: every structurally distinct shape in the
  // registry — the full KRE chain, each cadence, a chained rollup
  // (day → week), both fullRefresh snapshots, a raw-source family, and
  // the ecosystem composite. The other ~28 models repeat these shapes
  // (per-day hash aggregates over the same inputs); running all 47
  // through three DAG builds tripled suite time for no new evidence.
  private val convergenceSubset = Set(
    "fact_txn", "app_activity_grid", "closing_balance", "volatility_factor",
    "active_user_balance", "daily_payout", "weekly_payout",
    "daily_txn_summary", "daily_churn_volume", "daily_net_inflation",
    "monthly_active_accounts", "monthly_active_ecosystem",
    "weekly_top_apps_json", "monthly_txn_rollup",
    "gc_impacted_accounts", "monthly_inactive_wallets",
    "app_txn_summary_from_day", "app_txn_summary_from_week",
    "fact_creations", "creates_by_type", "daily_summary_ecosystem",
    // round-4 composites: the per-app API row (backward-looking daily +
    // monthly actives legs must make complete-day rows immutable) and
    // the weekly JSON rollup chained off weekly_payout
    "daily_summary_by_app", "weekly_kre_payout_summary",
    // and the KRE API row; the API rows read a monthly-actives table
    // as a dep, so it is here too (a subset holds every model it reads)
    "daily_kre_summary")

  test("incremental catch-up converges to full refresh across the DAG", SlowTest) {
    val dag = ModelRegistry.kreDag.filter(m => convergenceSubset(m.name))
    assert(dag.size == convergenceSubset.size) // subset names stay valid
    val whInc = Files.createTempDirectory("graft-dag-inc").toString
    val whFull = Files.createTempDirectory("graft-dag-full").toString
    // step 1: world as of Jan 20
    val r1 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-01-20"))
    r1.runAll(dag, sources)
    // step 2: catch up to Feb 5
    val r2 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-02-05"))
    val appended = r2.runAll(dag, sources)
    assert(appended.values.sum > 0) // something new arrived everywhere
    // full refresh as of Feb 5
    val rf = new IncrementalRunner(spark, whFull, LocalDate.parse("2024-02-05"))
    rf.runAll(dag, sources)
    // every subset model must converge, not just the KRE chain
    for (m <- dag.map(_.name)) {
      assert(tableHash(r2.readModel(m)) == tableHash(rf.readModel(m)),
        s"model $m diverged between incremental and full refresh")
    }
  }

  test("opt-in sketch tier runs under the runner; incremental ≡ full on estimates") {
    // the 100 TB MAU path: layer 1 appends per-day sketch rows under the
    // daily watermark, layer 2 re-estimates rolling windows from the
    // materialized sketch table. HLL registers are set-based (insertion-
    // order independent), so a two-step incremental build must produce
    // the same estimates as one full build.
    val dag = ModelRegistry.kreDag.filter(_.name == "fact_txn") ++
      ModelRegistry.sketchDag
    val whInc = Files.createTempDirectory("graft-sketch-inc").toString
    val whFull = Files.createTempDirectory("graft-sketch-full").toString
    val r1 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-01-20"))
    r1.runAll(dag, sources)
    val r2 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-02-05"))
    val appended = r2.runAll(dag, sources)
    assert(appended("daily_active_sketches") > 0)
    assert(appended("monthly_active_estimates") > 0)
    val rf = new IncrementalRunner(spark, whFull, LocalDate.parse("2024-02-05"))
    rf.runAll(dag, sources)
    val inc = r2.readModel("monthly_active_estimates")
    assert(inc.count() > 0)
    assert(tableHash(inc) == tableHash(rf.readModel("monthly_active_estimates")))
  }

  test("opt-in quantile tier: incremental ≡ full on the exact layer, bounded on estimates") {
    // the KLL sibling of the sketch-tier test. KLL compaction is
    // randomized (ModelRegistry.quantileDag's documented contract), so
    // the incremental-vs-full invariant splits: layer 1's grain and
    // txn_count are EXACT (hash-equal — a watermark bug that re-appends
    // or skips a day breaks this), while the rolled-up quantile
    // estimates agree only within the sketch's rank-error envelope.
    val dag = ModelRegistry.kreDag.filter(_.name == "fact_txn") ++
      ModelRegistry.quantileDag
    val whInc = Files.createTempDirectory("graft-quant-inc").toString
    val whFull = Files.createTempDirectory("graft-quant-full").toString
    val r1 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-01-20"))
    r1.runAll(dag, sources)
    val r2 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-02-05"))
    val appended = r2.runAll(dag, sources)
    assert(appended("daily_amount_sketches") > 0)
    val rf = new IncrementalRunner(spark, whFull, LocalDate.parse("2024-02-05"))
    rf.runAll(dag, sources)
    // exact layer: (date_key, app_id, txn_count) hash-equal
    def exactLayer(df: DataFrame) =
      df.select($"date_key", $"app_id", $"txn_count")
    assert(tableHash(exactLayer(r2.readModel("daily_amount_sketches"))) ==
      tableHash(exactLayer(rf.readModel("daily_amount_sketches"))))
    // estimate layer: same keys, p50 within 2× the k=200 rank-error
    // band translated through the local value spread (loose but real:
    // catches a dropped/doubled day, ignores compaction randomness)
    val joined = r2.readModel("monthly_amount_quantiles")
      .select($"date_key", $"app_id", $"p50_amount_est".as("p50_inc"))
      .join(rf.readModel("monthly_amount_quantiles")
        .select($"date_key", $"app_id", $"p50_amount_est".as("p50_full"),
          $"p90_amount_est", $"p99_amount_est"),
        Seq("date_key", "app_id"), "full_outer")
    assert(joined.filter($"p50_inc".isNull || $"p50_full".isNull).count() == 0,
      "incremental and full quantile tables disagree on key coverage")
    val offBand = joined.filter(
      abs($"p50_inc" - $"p50_full") >
        greatest(abs($"p90_amount_est") * lit(0.1), lit(1.0)))
    assert(offBand.isEmpty,
      "incremental p50 diverged from full beyond the rank-error envelope")
  }

  test("curation DAG: declared targets materialize and the sampler consumes the splits") {
    // the registry DECLARES the document-family DAG; CurationPipeline
    // executes it (doc_id watermark instead of date_key). A full run
    // must materialize exactly the declared targets, every declared dep
    // must be a raw source or an upstream target (topo order), and the
    // leaf sampler must be a real CONSUMER of the split labels: its
    // packed stream holds all and only train-labeled curated docs.
    val wh = Files.createTempDirectory("graft-curation-dag").toString
    val pipe = new CurationPipeline(spark, wh)
    val report = pipe.run("/root/testdata/sf0.001")
    val raw = Set("documents", "embeddings")
    val declared = ModelRegistry.curationDag.map(_._1)
    for (((name, deps), i) <- ModelRegistry.curationDag.zipWithIndex) {
      assert(new java.io.File(s"$wh/$name").exists(),
        s"declared target $name not materialized")
      val upstream = declared.take(i).toSet ++ raw
      for (d <- deps) assert(upstream.contains(d),
        s"$name dep $d is neither a raw source nor an upstream target")
    }
    // sampler membership: train_split_packing ids == curated ∩ train
    val trainIds = spark.read.parquet(s"$wh/curation_splits")
      .filter($"split" === "train").select($"doc_id")
    val curatedTrain = graft.catalog.Tables
      .documents(spark, s"$wh/curated_corpus")
      .join(trainIds, Seq("doc_id"), "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    val packedTrain = spark.read.parquet(s"$wh/train_split_packing")
      .select($"doc_id").as[Long].collect().toSet
    assert(packedTrain == curatedTrain,
      "sampler must pack all and only train-labeled curated docs")
    assert(report.trainPackedRows.toInt == packedTrain.size)
    // and it is a strict subset of the full packing (val/test excluded)
    val allPacked = spark.read.parquet(s"$wh/curated_packing")
      .select($"doc_id").as[Long].collect().toSet
    assert(packedTrain.subsetOf(allPacked) && packedTrain.size < allPacked.size)
    // offsets re-base over the train stream: contiguous per (lang, shard)
    val gaps = spark.read.parquet(s"$wh/train_split_packing")
      .withColumn("prev_end",
        lag($"start_offset" + $"n_tokens", 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"lang", $"shard").orderBy($"doc_id")))
      .filter($"prev_end".isNotNull && $"prev_end" =!= $"start_offset")
    assert(gaps.count() == 0, "train stream offsets must be contiguous")
  }
}
