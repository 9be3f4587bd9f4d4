package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.runner._

/** The §2.9 incremental protocol: watermark append, closed-period gate,
  * repair, DAG order, and the incremental ≡ full-refresh property
  * (SURVEY.md §5.3-5.4).
  */
class IncrementalRunnerSpec extends AnyFunSuite {
  val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def sourceDf(days: Int): DataFrame =
    (1 to days).flatMap(d => Seq(
      (f"2024-01-$d%02d", d.toLong, BigDecimal(d * 10)),
      (f"2024-01-$d%02d", d.toLong + 100, BigDecimal(d))))
      .toDF("dk", "wallet", "amount")
      .select(to_date($"dk").as("date_key"), $"wallet", $"amount")

  private def dailyModel(src: () => DataFrame) = ModelDef(
    "daily_totals", Cadence.Daily, Seq("events_src"),
    (_, resolve) => resolve("events_src")
      .groupBy($"date_key").agg(sum($"amount").as("total")))

  private def tmpDir(): String =
    Files.createTempDirectory("graft-runner").toString

  test("first incremental run = full build of closed periods only") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    val m = dailyModel(() => sourceDf(10))
    val n = r.runIncremental(m, _ => sourceDf(10))
    // days 1..5 load; day 6 (today) and beyond are open/future periods
    assert(n == 5)
    assert(r.watermark("daily_totals") == "2024-01-05")
  }

  test("second run appends only rows above the watermark") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val r1 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    r1.runIncremental(m, _ => sourceDf(10))
    // advance the clock 3 days: exactly days 6,7,8 are newly closed
    val r2 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    val n2 = r2.runIncremental(m, _ => sourceDf(10))
    assert(n2 == 3)
    // watermark boundary is strict: a third run appends nothing
    assert(r2.runIncremental(m, _ => sourceDf(10)) == 0)
  }

  test("incremental catch-up equals full refresh (idempotence property)") {
    val whInc = tmpDir(); val whFull = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val inc1 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-01-04"))
    inc1.runIncremental(m, _ => sourceDf(10))
    val inc2 = new IncrementalRunner(spark, whInc, LocalDate.parse("2024-01-09"))
    inc2.runIncremental(m, _ => sourceDf(10))
    val full = new IncrementalRunner(spark, whFull, LocalDate.parse("2024-01-09"))
    full.runFullRefresh(m, _ => sourceDf(10))
    val a = inc2.readModel("daily_totals").orderBy($"date_key")
      .select($"date_key".cast("string"), $"total").as[(String, BigDecimal)]
      .collect().toSeq
    val b = full.readModel("daily_totals").orderBy($"date_key")
      .select($"date_key".cast("string"), $"total").as[(String, BigDecimal)]
      .collect().toSeq
    assert(a == b && a.size == 8)
  }

  test("writes cluster by date_key: one file per partition dir on small data") {
    // the REBALANCE(date_key) write guard: without clustering, every
    // task holding rows for k days writes k files (tasks×days tiny
    // files on a years-deep refresh). With it, AQE coalesces this
    // small build into few tasks and each day's rows land together —
    // exactly one data file per partition dir at spec scale.
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-11"))
    val m = ModelDef("per_wallet", Cadence.Daily, Seq("events_src"),
      // per-(day, wallet) grain: pre-rebalance this is hash-partitioned
      // by the groupBy, spreading each day across many tasks
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key", $"wallet").agg(sum($"amount").as("total")))
    assert(r.runIncremental(m, _ => sourceDf(10)) == 20)
    val root = new java.io.File(s"$wh/per_wallet")
    val partDirs = root.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("date_key="))
    assert(partDirs.length == 10)
    for (d <- partDirs) {
      val dataFiles = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(dataFiles.length == 1,
        s"${d.getName}: expected 1 clustered file, got ${dataFiles.length}")
    }
  }

  test("compact merges oversplit partitions; at-target partitions stay bit-identical") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-11"))
    val path = r.targetPath("backfilled")
    val rows = sourceDf(6)
    // a chunked backfill shape: two unclustered appends spread each of
    // days 1..6 across several tasks -> many small files per partition
    rows.repartition(5).write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("date_key").parquet(path)
    rows.repartition(5).write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("date_key").parquet(path)
    // plus one already-compact day the sweep must not touch
    sourceDf(7).filter($"date_key" === "2024-01-07").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("date_key").parquet(path)
    def files(day: String): Map[String, Long] = {
      val d = new java.io.File(path, s"date_key=2024-01-$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = r.readModel("backfilled").collect().toSeq
      .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val untouchedBefore = files("07")
    assert(files("01").size > 1, "precondition: day 1 is oversplit")
    val compacted = r.compact("backfilled")
    // every oversplit day was rewritten to the byte-target count (1 at
    // spec scale); the already-compact day was skipped entirely
    assert(compacted.keySet ==
      (1 to 6).map(d => f"date_key=2024-01-$d%02d").toSet)
    assert(compacted.values.forall(_ == 1))
    for (day <- Seq("01", "03", "06")) assert(files(day).size == 1)
    assert(files("07") == untouchedBefore)
    // row-identical as a multiset (dup rows across the two appends count)
    val after = r.readModel("backfilled").collect().toSeq
      .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(after == before)
    // idempotent: a second sweep finds nothing to do
    assert(r.compact("backfilled").isEmpty)
  }

  test("compact recovers an interrupted swap from either crash side") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-11"))
    val path = r.targetPath("crashy")
    sourceDf(2).repartition(3)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("date_key").parquet(path)
    val before = r.readModel("crashy").collect().toSeq.map(_.toSeq).sortBy(_.toString)
    val root = new java.io.File(path)
    val day1 = new java.io.File(root, "date_key=2024-01-01")
    val day2 = new java.io.File(root, "date_key=2024-01-02")
    def dataFiles(d: java.io.File) =
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
    // pre-swap crash: SwapWrite's rewrite sits in `.swap-<partition>` but
    // the live partition was never moved -> the tmp is a dead duplicate
    // the next sweep must drop, keeping the originals
    val tmp1 = new java.io.File(root, s".swap-${day1.getName}")
    spark.read.parquet(day1.getAbsolutePath).coalesce(1)
      .write.parquet(tmp1.getAbsolutePath)
    // mid-swap crash: the live partition was moved aside to `-old` and
    // the rewrite not yet renamed in -> no live `date_key=` dir remains,
    // the tmp is the current copy and the sweep must finish the swap
    val tmp2 = new java.io.File(root, s".swap-${day2.getName}")
    spark.read.parquet(day2.getAbsolutePath).coalesce(1)
      .write.parquet(tmp2.getAbsolutePath)
    val old2 = new java.io.File(root, s".swap-${day2.getName}-old")
    assert(day2.renameTo(old2) && !day2.exists())
    r.compact("crashy")
    assert(!tmp1.exists() && !tmp2.exists() && !old2.exists())
    // pre-swap: the duplicate was DROPPED (row multiset unchanged — the
    // check below would see doubled day-1 rows had it been moved in),
    // then the sweep compacted the surviving originals as usual;
    // mid-swap: the swap finished forward, restoring day 2's live dir
    assert(dataFiles(day1).length == 1)
    assert(dataFiles(day2).length == 1, "swap finished in the mid-swap state")
    val after = r.readModel("crashy").collect().toSeq.map(_.toSeq).sortBy(_.toString)
    assert(after == before)
  }

  test("compact refuses residue of the retired per-file-move protocol") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-11"))
    val path = r.targetPath("legacy")
    sourceDf(2).write.partitionBy("date_key").parquet(path)
    // that protocol's tmp may hold a partition's only copy: the sweep
    // must name it and stop, never drop or guess
    val stale = new java.io.File(path, ".compact-date_key=2024-01-01")
    spark.read.parquet(s"$path/date_key=2024-01-01")
      .write.parquet(stale.getAbsolutePath)
    val e = intercept[IllegalStateException](r.compact("legacy"))
    assert(e.getMessage.contains(".compact-date_key=2024-01-01"))
    assert(stale.exists())
  }

  test("clusterBy orders rows within each written file (zone-map contract)") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-11"))
    val m = ModelDef("clustered", Cadence.Daily, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key", $"wallet").agg(sum($"amount").as("total")),
      clusterBy = Seq("wallet"))
    assert(r.runIncremental(m, _ => sourceDf(10)) == 20)
    val root = new java.io.File(r.targetPath("clustered"))
    val files = root.listFiles().filter(_.getName.startsWith("date_key="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    for (f <- files) {
      // a single small file reads back in storage order; the zone-map
      // property is exactly "storage order == cluster-column order"
      val wallets = spark.read.parquet(f.getAbsolutePath)
        .select($"wallet").collect().map(_.getLong(0)).toSeq
      assert(wallets == wallets.sorted,
        s"${f.getName}: rows not wallet-ordered: $wallets")
    }
  }

  test("repair deletes from cutoff and the next run re-fills") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(m, _ => sourceDf(10))
    assert(r.repair(m, LocalDate.parse("2024-01-05")))
    assert(r.watermark("daily_totals") == "2024-01-04")
    val refilled = r.runIncremental(m, _ => sourceDf(10))
    assert(refilled == 4) // days 5..8 rebuilt
  }

  test("repair drops only doomed partitions; surviving files untouched") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(m, _ => sourceDf(10))
    val root = java.nio.file.Paths.get(r.targetPath("daily_totals"))
    def snapshot(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = snapshot()
    assert(before.keys.exists(_.contains("date_key=2024-01-04")))
    assert(r.repair(m, LocalDate.parse("2024-01-05")))
    val after = snapshot()
    val surviving = before.filter { case (path, _) =>
      "date_key=(\\d{4}-\\d{2}-\\d{2})".r.findFirstMatchIn(path)
        .exists(md => LocalDate.parse(md.group(1))
          .isBefore(LocalDate.parse("2024-01-05")))
    }
    // the delete is a partition-directory drop: every surviving data file
    // keeps its exact path AND mtime (nothing was rewritten), and nothing
    // at/after the cut remains
    assert(after == surviving)
  }

  test("repair to empty leaves a readable schema-bearing target") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(m, _ => sourceDf(10))
    assert(r.repair(m, LocalDate.parse("2024-01-01")))
    val emptied = r.readModel("daily_totals")
    assert(emptied.count() == 0)
    assert(emptied.columns.toSet == Set("date_key", "total"))
    // watermark falls back to the epoch and the next run rebuilds all
    assert(r.watermark("daily_totals") == r.Epoch)
    assert(r.runIncremental(m, _ => sourceDf(10)) == 8)
    // the refilled target must be readable: the empty marker's flat
    // files are cleared before the partitioned append (mixed layouts
    // break partition discovery)
    assert(r.readModel("daily_totals").count() == 8)
  }

  test("append-only models are excluded from repair (skip list)") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10)).copy(appendOnly = true)
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(m, _ => sourceDf(10))
    assert(!r.repair(m, LocalDate.parse("2024-01-05")))
    assert(r.watermark("daily_totals") == "2024-01-08") // untouched
  }

  test("repair tolerates non-date partition dirs and no-op cutoffs") {
    val wh = tmpDir()
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    r.runIncremental(m, _ => sourceDf(10))
    // an externally-written non-ISO partition value must not abort the
    // repair (it is skipped, never deleted)
    val alien = new java.io.File(
      r.targetPath("daily_totals"), "date_key=__HIVE_DEFAULT_PARTITION__")
    assert(alien.mkdir())
    assert(r.repair(m, LocalDate.parse("2024-01-05")))
    assert(alien.exists())
    assert(r.watermark("daily_totals") == "2024-01-04")
    // a cutoff past every partition deletes nothing → reports false
    assert(!r.repair(m, LocalDate.parse("2025-06-01")))
  }

  test("repair of an empty schema-bearing target reports false") {
    val wh = tmpDir()
    // today = start of data → zero closed periods → empty marker target
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-01"))
    assert(r.runIncremental(m, _ => sourceDf(10)) == 0)
    assert(!r.repair(m, LocalDate.parse("2024-01-01")))
    // the marker stays readable afterwards
    assert(r.readModel("daily_totals").count() == 0)
  }

  test("schema drift between runs fails loudly instead of appending") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    r.runIncremental(dailyModel(() => sourceDf(10)), _ => sourceDf(10))
    // same name, drifted output shape (renamed + retyped aggregate)
    val drifted = ModelDef(
      "daily_totals", Cadence.Daily, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key")
        .agg(sum($"amount").cast("double").as("grand_total")))
    val e = intercept[IllegalStateException] {
      val r2 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
      r2.runIncremental(drifted, _ => sourceDf(10))
    }
    assert(e.getMessage.contains("daily_totals") &&
      e.getMessage.contains("grand_total") &&
      e.getMessage.contains("total"))
    // target untouched by the refused run; the original model resumes
    assert(r.watermark("daily_totals") == "2024-01-05")
    val r3 = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    assert(r3.runIncremental(dailyModel(() => sourceDf(10)),
      _ => sourceDf(10)) == 3)
  }

  test("duplicate output column names are rejected before writing") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    // a dup'd name would collapse in the name→type drift map and only
    // surface as ambiguous parquet later — the guard names it up front
    val dup = ModelDef(
      "dup_cols", Cadence.Daily, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .select($"date_key", $"amount", $"amount"))
    val e = intercept[IllegalStateException] {
      r.runIncremental(dup, _ => sourceDf(10))
    }
    assert(e.getMessage.contains("duplicate") &&
      e.getMessage.contains("amount"))
  }

  test("cadence manifests run only their models, reading cross-cadence targets") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-15"))
    val daily = ModelDef("fact_daily", Cadence.Daily, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key").agg(sum($"amount").as("total")))
    val weekly = ModelDef("weekly_rollup", Cadence.Weekly, Seq("fact_daily"),
      (_, resolve) => resolve("fact_daily")
        .groupBy(date_trunc("week", $"date_key").cast("date").as("date_key"))
        .agg(sum($"total").as("total")))
    val all = Seq(daily, weekly)
    // the daily manifest builds ONLY the daily model (all 10 days are
    // closed relative to Jan 15)
    val d = r.runCadence(all, Cadence.Daily, _ => sourceDf(10))
    assert(d.keySet == Set("fact_daily") && d("fact_daily") == 10)
    assert(!r.exists("weekly_rollup"))
    // the weekly manifest builds ONLY the weekly model, reading the
    // daily model's materialized target (not re-running its build);
    // week keys Jan 1 and Jan 8 both precede date_trunc(week, Jan 15)
    val w = r.runCadence(all, Cadence.Weekly, _ => sourceDf(10))
    assert(w.keySet == Set("weekly_rollup"))
    assert(r.readModel("weekly_rollup").count() == 2)
  }

  test("registry-wide cleanup repairs every model; reruns refill (recovery path)") {
    val whA = tmpDir(); val whB = tmpDir()
    def models = {
      val daily = ModelDef("fact_daily", Cadence.Daily, Seq("events_src"),
        (_, resolve) => resolve("events_src")
          .groupBy($"date_key").agg(sum($"amount").as("total")))
      val skip = ModelDef("append_log", Cadence.Daily, Seq("events_src"),
        (_, resolve) => resolve("events_src")
          .select($"date_key", $"wallet").distinct(),
        appendOnly = true)
      Seq(daily, skip)
    }
    val a = new IncrementalRunner(spark, whA, LocalDate.parse("2024-01-09"))
    a.runAll(models, _ => sourceDf(10))
    // corrupt-then-recover: delete from the 5th, rerun — the reference's
    // cleanup manifest followed by the next scheduled pipeline
    val repaired = a.cleanupFromDate(models, LocalDate.parse("2024-01-05"))
    assert(repaired == Map("fact_daily" -> true, "append_log" -> false))
    a.runAll(models, _ => sourceDf(10))
    // must equal an uninterrupted build
    val b = new IncrementalRunner(spark, whB, LocalDate.parse("2024-01-09"))
    b.runAll(models, _ => sourceDf(10))
    val ra = a.readModel("fact_daily").orderBy($"date_key")
      .select($"date_key".cast("string"), $"total")
      .as[(String, BigDecimal)].collect().toSeq
    val rb = b.readModel("fact_daily").orderBy($"date_key")
      .select($"date_key".cast("string"), $"total")
      .as[(String, BigDecimal)].collect().toSeq
    assert(ra == rb && ra.size == 8)
  }

  test("DAG executes in declared dependency order") {
    val wh = tmpDir()
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    val base = ModelDef("m_base", Cadence.Daily, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key").agg(sum($"amount").as("total")))
    val derived = ModelDef("m_derived", Cadence.Daily, Seq("m_base"),
      (_, resolve) => resolve("m_base")
        .select($"date_key", ($"total" * 2).as("doubled")))
    // pass them in the WRONG order; topo sort must fix it
    val counts = r.runAll(Seq(derived, base), _ => sourceDf(10))
    assert(counts("m_base") == 5 && counts("m_derived") == 5)
    val d = r.readModel("m_derived")
    assert(d.agg(sum($"doubled")).head().getDecimal(0) ==
      r.readModel("m_base").agg(sum($"total") * 2).head().getDecimal(0))
  }

  test("runIncremental executes the model build exactly once") {
    // The round-3 verdict's one real scale defect: count-then-write on the
    // raw slice plan ran every model build twice. Pin single execution by
    // counting SCANS of an RDD-backed source — predicates and projections
    // cannot push into an RDD scan, so every execution of any plan over
    // it scans all (here: 1) partitions exactly once, bumping the
    // accumulator by 1. The old count-then-write read 2.
    val wh = tmpDir()
    val acc = spark.sparkContext.longAccumulator("source-scans")
    val rows = (1 to 10).flatMap(d => Seq(
      org.apache.spark.sql.Row(java.sql.Date.valueOf(f"2024-01-$d%02d"),
        d.toLong, new java.math.BigDecimal(d * 10)),
      org.apache.spark.sql.Row(java.sql.Date.valueOf(f"2024-01-$d%02d"),
        d.toLong + 100, new java.math.BigDecimal(d))))
    val rdd = spark.sparkContext.parallelize(rows, 1)
      .mapPartitions { it => acc.add(1L); it }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("date_key",
        org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StructField("wallet",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.DecimalType(38, 18))))
    val src = spark.createDataFrame(rdd, schema)
    val m = dailyModel(() => src)
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-06"))
    val n = r.runIncremental(m, _ => src)
    assert(n == 5)
    assert(acc.value == 1L,
      s"model build executed ${acc.value} times, expected exactly once")
    // a full refresh whose closed-period result is empty (no January
    // month is closed on Jan 6) also executes once, and leaves a
    // readable zero-row target rather than a bare `_SUCCESS`
    val monthly = ModelDef("monthly_totals", Cadence.Monthly, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy($"date_key").agg(sum($"amount").as("total")),
      fullRefresh = true)
    acc.reset()
    assert(r.runFullRefresh(monthly, _ => src) == 0)
    assert(acc.value == 1L,
      s"full refresh executed ${acc.value} times, expected exactly once")
    assert(r.readModel("monthly_totals").count() == 0)
  }

  test("an empty full refresh leaves a readable target for its dependents") {
    // a monthly snapshot is empty whenever `today` falls in the first
    // month of data: no month is closed yet
    val wh = tmpDir()
    val snapshot = ModelDef("monthly_snapshot", Cadence.Monthly,
      Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy(date_trunc("month", $"date_key").cast("date").as("date_key"))
        .agg(sum($"amount").as("total")),
      fullRefresh = true)
    val derived = ModelDef("snapshot_doubled", Cadence.Daily,
      Seq("monthly_snapshot"),
      (_, resolve) => resolve("monthly_snapshot")
        .select($"date_key", ($"total" * 2).as("doubled")))
    val dag = Seq(derived, snapshot)
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-15"))
    assert(r.runAll(dag, _ => sourceDf(10)) ==
      Map("monthly_snapshot" -> 0L, "snapshot_doubled" -> 0L))
    assert(r.registerViews(dag).toSet ==
      Set("monthly_snapshot", "snapshot_doubled"))
    val snap = spark.table("monthly_snapshot")
    assert(snap.count() == 0)
    assert(snap.columns.toSet == Set("date_key", "total"))
    assert(spark.table("snapshot_doubled").columns.toSet ==
      Set("date_key", "doubled"))
    // once January closes, both fill over their empty markers
    val next = new IncrementalRunner(spark, wh, LocalDate.parse("2024-02-01"))
    assert(next.runAll(dag, _ => sourceDf(10)) ==
      Map("monthly_snapshot" -> 1L, "snapshot_doubled" -> 1L))
    assert(next.readModel("snapshot_doubled").count() == 1)
  }

  test("a file:// warehouse URI appends once, repairs and publishes views") {
    val wh = s"file://${tmpDir()}"
    val m = dailyModel(() => sourceDf(10))
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-09"))
    assert(r.runAll(Seq(m), _ => sourceDf(10)) == Map("daily_totals" -> 8L))
    // the same `today` again: the watermark holds, nothing re-appends
    assert(r.runAll(Seq(m), _ => sourceDf(10)) == Map("daily_totals" -> 0L))
    assert(r.readModel("daily_totals").count() == 8)
    assert(r.watermark("daily_totals") == "2024-01-08")
    assert(r.cleanupFromDate(Seq(m), LocalDate.parse("2024-01-05")) ==
      Map("daily_totals" -> true))
    assert(r.watermark("daily_totals") == "2024-01-04")
    assert(r.registerViews(Seq(m)) == Seq("daily_totals"))
    assert(spark.table("daily_totals").count() == 4)
  }

  test("weekly cadence gates on complete weeks") {
    val wh = tmpDir()
    val weekly = ModelDef("weekly_totals", Cadence.Weekly, Seq("events_src"),
      (_, resolve) => resolve("events_src")
        .groupBy(date_trunc("week", $"date_key").cast("date").as("date_key"))
        .agg(sum($"amount").as("total")))
    // 2024-01-01 is a Monday; today Wed Jan-10 → only week of Jan-1 closed
    val r = new IncrementalRunner(spark, wh, LocalDate.parse("2024-01-10"))
    val n = r.runIncremental(weekly, _ => sourceDf(10))
    assert(n == 1)
    assert(r.watermark("weekly_totals") == "2024-01-01")
  }
}
