package graft.runner

import java.time.LocalDate
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Cadence of an incremental model — the reference's `incremental_epoch_dict`
  * (`kin-data-pipeline/execute_snowflake_load.py:45-49`).
  */
sealed abstract class Cadence(val truncUnit: String)
object Cadence {
  case object Daily extends Cadence("day")
  case object Weekly extends Cadence("week")
  case object Monthly extends Cadence("month")
}

/** One model in the DAG. `build` receives the session and a resolver for
  * upstream tables (raw sources or other models' outputs); `deps` are the
  * model names it reads, declared explicitly — the reference relied on
  * lexicographic path order as an implicit topo-sort
  * (`execute_snowflake_load.py:69-71`), which SURVEY.md §4 flags as
  * fragile; we topo-sort a declared DAG instead.
  */
final case class ModelDef(
    name: String,
    cadence: Cadence,
    deps: Seq[String],
    build: (SparkSession, String => DataFrame) => DataFrame,
    appendOnly: Boolean = false,
    // snapshot-shaped models (latest-state / still-inactive sets) whose
    // historical rows CHANGE as new data arrives — the runner must CTAS
    // them every run (the reference's full-refresh branch,
    // `execute_snowflake_load.py:90-91`) instead of appending above a
    // watermark
    fullRefresh: Boolean = false,
    // columns (or SQL expressions — e.g. the native
    // `zorder_key(wallet_id, app_id)` for two-key locality) to
    // physically order rows by WITHIN each written file (after the
    // date_key clustering) — the Snowflake CLUSTER BY analog. Point/
    // range predicates on these columns then prune whole parquet row
    // groups via footer min/max stats instead of decoding them: the
    // wallet-scoped reads (P7) over a 100 TB fact touch only the row
    // groups whose [min,max] covers the wallet. Declare for models whose
    // serving reads filter inside a partition; costs one in-memory sort
    // per write task, no extra shuffle (IncrementalRunnerSpec pins the
    // written order; ZOrderSpec the two-key variant)
    clusterBy: Seq[String] = Nil)

/** Spark-native incremental model runner — the engine's replacement for the
  * reference's orchestrator (`execute_snowflake_load.py` +
  * `incremental_anchor.sql` + `incremental_cleanup.py`; SURVEY.md §2.9).
  *
  * Semantics reproduced:
  *  1. High-watermark append: keep rows with
  *     `date_trunc(unit, date_key) > coalesce(max(date_key), epoch)`
  *     (`incremental_anchor.sql:1-5`, `execute_snowflake_load.py:83-86,100`).
  *  2. Closed-period gate: `date_key < date_trunc(unit, today)` — only
  *     complete periods load (`fact_kin_transaction.sql:11`).
  *  3. Repair: delete-from-date + re-run, honoring an append-only skip
  *     list (`incremental_cleanup.py:78-88`).
  *  4. `today` is an injected parameter, never the wall clock
  *     (SURVEY.md §7.4 trap 1).
  *
  * Scale: targets are parquet directories partitioned by `date_key`. The
  * watermark is one `max(date_key)` job over the target: `date_key` is
  * the partition column, so no data column is decoded, but the job still
  * lists every partition and opens every file, so its cost grows with
  * the table's file count. The incremental predicate prunes partitions
  * on read. Repair drops only the partition directories at/after the
  * cut date, never a table rewrite.
  *
  * Every probe, delete and rename goes through the target path's Hadoop
  * `FileSystem` (the [[SwapWrite]] posture), so a warehouse given as a
  * URI (`file://`, `hdfs://`, an object store) behaves like a bare path.
  */
final class IncrementalRunner(
    spark: SparkSession,
    warehouseDir: String,
    today: LocalDate) {
  import spark.implicits._

  /** First-run watermark floor — the reference hardcodes its own data's
    * start (`coalesce(max(date_key),'2017-01-01')`,
    * `incremental_anchor.sql:1-5`), which would silently drop any table
    * whose calendar predates it (our TPC-H-dated orders/lineitem models
    * live in the 1990s). Use the unix epoch so a first run always loads
    * the full history; the semantics above the floor are unchanged.
    */
  val Epoch = "1970-01-01"

  def targetPath(name: String): String = s"$warehouseDir/$name"

  private def fsPath(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)
  }

  def exists(name: String): Boolean = {
    val (fs, p) = fsPath(targetPath(name))
    fs.exists(p)
  }

  def readModel(name: String): DataFrame =
    spark.read.parquet(targetPath(name))

  /** High watermark = max(date_key) already in the target. */
  def watermark(name: String): String =
    if (!exists(name)) Epoch else lastKey(readModel(name)).getOrElse(Epoch)

  /** max(date_key) of a read target; None when it holds no row. */
  private def lastKey(target: DataFrame): Option[String] = {
    val row = target.agg(max($"date_key").cast("string")).head()
    if (row.isNullAt(0)) None else Some(row.getString(0))
  }

  /** Fail-loud schema-drift guard: an edited model whose output no
    * longer matches its materialized target must not silently append
    * mixed-schema files (parquet would take them and readers would then
    * drop or null the drifted columns depending on footer order — the
    * classic corrupt-table-weeks-later failure). Compared as
    * name → dataType maps: column order differs legitimately
    * (partition columns read back last) and nullability is
    * write-path-dependent; names/types are the contract. Re-shaping a
    * model requires `repair` from the epoch or a fullRefresh — both
    * rewrite the table. `target` is None before the first write.
    */
  private def requireSchemaMatch(m: ModelDef, slice: StructType,
      target: Option[StructType]): Unit = {
    // duplicate output column names collapse in the name→type map and
    // would slip past the drift compare, only to fail (or append
    // ambiguous parquet) at write time — reject them first, by name
    val dups = slice.map(_.name).groupBy(identity)
      .collect { case (n, occ) if occ.size > 1 => n }.toSeq.sorted
    if (dups.nonEmpty)
      throw new IllegalStateException(
        s"model ${m.name}: output has duplicate column name(s) " +
          s"[${dups.mkString(", ")}] — every materialized column must " +
          "be uniquely named")
    target.foreach { t =>
      val (a, b) = (slice.map(f => f.name -> f.dataType).toMap,
        t.map(f => f.name -> f.dataType).toMap)
      if (a != b) {
        val drift = (a.keySet ++ b.keySet).toSeq.sorted.flatMap { c =>
          (a.get(c), b.get(c)) match {
            case (Some(x), Some(y)) if x != y => Some(s"$c: $y -> $x")
            case (Some(x), None) => Some(s"$c: ADDED ($x)")
            case (None, Some(y)) => Some(s"$c: REMOVED (was $y)")
            case _ => None
          }
        }
        throw new IllegalStateException(
          s"model ${m.name}: output schema drifted from the materialized " +
            s"target [${drift.mkString("; ")}] — repair from the epoch or " +
            "mark the model fullRefresh to rebuild it")
      }
    }
  }

  /** Incremental run: append only the new closed-period slice. Returns the
    * number of appended rows. A full build happens implicitly on first run
    * (watermark = epoch). The target is read once: its schema feeds the
    * drift guard and its `max(date_key)` the watermark. A target with no
    * row (absent, or the empty marker) is overwritten instead of appended
    * to, which clears the marker's flat file.
    */
  def runIncremental(m: ModelDef, resolve: String => DataFrame): Long = {
    val built = m.build(spark, resolve)
    val target = if (exists(m.name)) Some(readModel(m.name)) else None
    requireSchemaMatch(m, built.schema, target.map(_.schema))
    val last = target.flatMap(lastKey)
    write(m, built.filter(date_trunc(m.cadence.truncUnit, $"date_key")
      .cast("date") > lit(last.getOrElse(Epoch))),
      if (last.isEmpty) SaveMode.Overwrite else SaveMode.Append)
  }

  /** Full refresh: CTAS equivalent (`execute_snowflake_load.py:90-91`) —
    * closed-period gate still applies; watermark does not.
    */
  def runFullRefresh(m: ModelDef, resolve: String => DataFrame): Long =
    write(m, m.build(spark, resolve), SaveMode.Overwrite)

  /** The one model write: gate `df` to closed periods and write it once,
    * partitioned by `date_key`. The row count rides on the write itself
    * (`Dataset.observe`), so the model build executes exactly once with
    * no executor cache (`IncrementalRunnerSpec` pins this with an
    * accumulator). An `Observation` is single-use, hence one per call.
    * A write of zero rows reports no metric at all (an empty map, not
    * `n -> 0`), so an absent count reads as 0.
    */
  private def write(m: ModelDef, df: DataFrame, mode: SaveMode): Long = {
    val closed = df.filter($"date_key" <
      date_trunc(m.cadence.truncUnit, lit(today.toString)).cast("date"))
    val rows = Observation()
    rebalanced(closed.observe(rows, count(lit(1)).as("n")), m.clusterBy)
      .write.mode(mode).partitionBy("date_key").parquet(targetPath(m.name))
    val n = rows.get.get("n").fold(0L)(_.asInstanceOf[Long])
    if (n == 0) markIfEmpty(m.name, closed.schema)
    n
  }

  /** The empty-target rule, run after every zero-row write and after a
    * repair that drops every partition: a target that holds no data file is unreadable (partitioned writes of zero
    * rows leave only `_SUCCESS`, and schema inference then fails), so
    * replace it with a flat, schema-bearing, zero-row marker — the
    * reference's CTAS always creates the table, and downstream models
    * and `registerViews` must resolve it. The next write with rows
    * overwrites the marker (`runIncremental` sees no row in it). */
  private def markIfEmpty(name: String, schema: StructType): Unit = {
    val (fs, root) = fsPath(targetPath(name))
    val files = fs.listFiles(root, true) // every write leaves the root
    var hasData = false
    while (!hasData && files.hasNext) {
      val f = files.next().getPath.getName
      hasData = f.endsWith(".parquet") && !f.startsWith(".")
    }
    if (!hasData)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(root.toString)
  }

  /** File-layout guard for the `partitionBy("date_key")` writes: without
    * clustering, every task holding rows for k days emits k files, so a
    * years-deep full refresh writes up to tasks×days tiny parquet files
    * — a real 100 TB listing/scan tax. The AQE REBALANCE hint clusters
    * rows by date_key and then SPLITS oversized and COALESCES undersized
    * shuffle partitions at runtime (advisory partition size), so each
    * day lands in ~⌈day volume / advisory size⌉ files: one file per day
    * for dimension-sized models, many balanced files for a 100 TB fact
    * day — exactly the write profile a cluster wants, with no
    * hand-tuned repartition(N) to go stale. IncrementalRunnerSpec pins
    * the per-day file count on the small-data path.
    *
    * `clusterBy` columns additionally sort rows WITHIN each shuffle
    * partition (date_key leads the ordering so the parquet writer's own
    * dynamic-partition sort requirement is already satisfied — no second
    * sort is inserted): each written file is then ordered by the cluster
    * columns and its row-group footer min/max stats become a zone map
    * for them.
    */
  private def rebalanced(df: DataFrame, clusterBy: Seq[String]): DataFrame = {
    val hinted = df.hint("rebalance", "date_key")
    if (clusterBy.isEmpty) hinted
    else {
      // entries are parsed as expressions so the engine's native sort
      // keys (zorder_key) work; a bare column name parses to itself
      graft.functions.GraftFunctions.register(spark)
      hinted.sortWithinPartitions(col("date_key") +: clusterBy.map(expr): _*)
    }
  }

  /** Repair: delete target rows with `date_key >= cutoff` (cadence-
    * truncated, as `incremental_cleanup.py:30-35` does), so the next
    * incremental run re-fills. Append-only models are skipped
    * (`incremental_cleanup.py:78`). Returns true only when partitions
    * were actually deleted — a missing/empty target or a cutoff past
    * every partition reports false, so `cleanupFromDate`'s result map
    * reflects real deletions.
    *
    * Scale: targets are partitioned by `date_key`, so the delete is a
    * PARTITION-DIRECTORY drop — O(partitions at/after the cut), zero
    * data read or rewritten. Repairing one bad day in a years-deep
    * model touches one directory; the surviving partitions' files are
    * bit-identical (asserted by IncrementalRunnerSpec), which is the
    * cost profile of the reference's warehouse-side
    * `DELETE FROM … WHERE DATE_KEY >= d`.
    */
  def repair(m: ModelDef, cutoff: LocalDate): Boolean = {
    if (m.appendOnly || !exists(m.name)) return false
    val truncated = m.cadence match {
      case Cadence.Daily => cutoff
      case Cadence.Weekly =>
        cutoff.minusDays((cutoff.getDayOfWeek.getValue - 1).toLong)
      case Cadence.Monthly => cutoff.withDayOfMonth(1)
    }
    val (fs, root) = fsPath(targetPath(m.name))
    // the empty schema-bearing marker has no partition dir, so nothing
    // is doomed and the repair reports false
    val allPartDirs = fs.listStatus(root).collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("date_key=") =>
        s.getPath
    }
    // tolerate partition values that aren't ISO dates (a null date_key's
    // __HIVE_DEFAULT_PARTITION__, or externally-written dirs): they can
    // never be ≥ a date cutoff, so skip them instead of aborting the
    // whole registry-wide cleanup on an unparseable name
    val doomed = allPartDirs.filter(p => scala.util.Try(
      LocalDate.parse(p.getName.stripPrefix("date_key="))).toOption
      .exists(!_.isBefore(truncated)))
    if (doomed.isEmpty) return false
    // repair that empties the table falls back to the empty marker; its
    // schema must be read before the last partition goes
    val schema =
      if (doomed.length == allPartDirs.length) Some(readModel(m.name).schema)
      else None
    doomed.foreach(fs.delete(_, true))
    schema.foreach(markIfEmpty(m.name, _))
    true
  }

  /** Partition-file compaction — the maintenance pass the warehouse did
    * for the reference (Snowflake micro-partitions self-compact; parquet
    * directories don't). Chunked backfills, repair-refills and skewed
    * rebalance splits leave a `date_key=` partition holding many small
    * files; at 100 TB a years-deep table then pays a real tax in file
    * listings, footer reads and one-tiny-task-per-file scans. Each
    * partition directory is flat, so it is folded by
    * [[Compaction.compactFlat]] — the [[SwapWrite]] rename-swap —
    * when its data-file count exceeds ⌈bytes / targetFileBytes⌉:
    * logically idempotent (row-identical, pinned by
    * IncrementalRunnerSpec) and O(oversplit partitions), never a table
    * rewrite. Partitions already at or under the target are not
    * rewritten (their files stay bit-identical).
    *
    * Crash recovery is [[SwapWrite.recover]]'s, run per partition. A
    * partition killed mid-swap has no live `date_key=` directory — its
    * only copy is the `.swap-date_key=…` sibling — so the sweep also
    * visits the partitions named by that residue. Residue of the
    * retired per-file-move protocol (`.compact-date_key=…`) is not
    * recovered: the sweep refuses it, naming the directory.
    * Single-writer contract, like every mutation here: the swap is
    * crash-recoverable, not atomic for concurrent readers.
    *
    * Returns partitionDir -> resulting file count for each compacted
    * partition.
    */
  def compact(name: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, Int] = {
    val (fs, root) = fsPath(targetPath(name))
    if (!fs.exists(root)) return Map.empty
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
    dirs.find(_.startsWith(".compact-")).foreach { d =>
      throw new IllegalStateException(
        s"compact: $root/$d is residue of the retired per-file-move " +
          "compaction, which this sweep does not recover — reconcile it " +
          "by hand (its files may be the partition's only copy)")
    }
    dirs.collect {
      case d if d.startsWith("date_key=") => d
      case d if d.startsWith(".swap-date_key=") =>
        d.stripPrefix(".swap-").stripSuffix("-old")
    }.distinct.sorted.flatMap(p => Compaction.compactFlat(spark,
      s"$root/$p", targetFileBytes).map(p -> _)).toMap
  }

  /** Kahn topological order over declared deps (only deps that are
    * themselves models count; raw sources resolve outside the DAG).
    */
  def topoOrder(models: Seq[ModelDef]): Seq[ModelDef] = {
    val byName = models.map(m => m.name -> m).toMap
    val inDeg = collection.mutable.Map(models.map(m =>
      m.name -> m.deps.count(byName.contains)): _*)
    val queue = collection.mutable.Queue(
      models.filter(m => inDeg(m.name) == 0).map(_.name).sorted: _*)
    val out = collection.mutable.ArrayBuffer[ModelDef]()
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      out += byName(n)
      models.filter(_.deps.contains(n)).foreach { ch =>
        inDeg(ch.name) -= 1
        if (inDeg(ch.name) == 0) queue.enqueue(ch.name)
      }
    }
    require(out.size == models.size,
      s"cycle among models: ${models.map(_.name).diff(out.map(_.name).toSeq)}")
    out.toSeq
  }

  /** Registry-wide repair — the reference's incremental-cleanup
    * manifest (`sf_incremental_cleanup.yaml` → `incremental_cleanup.py`
    * loops every model): delete each model's rows at/after the cutoff
    * (cadence-truncated per model), honoring the append-only skip list;
    * the next scheduled runs refill. Returns which models were
    * repaired.
    */
  def cleanupFromDate(models: Seq[ModelDef],
      cutoff: LocalDate): Map[String, Boolean] =
    models.map(m => m.name -> repair(m, cutoff)).toMap

  /** Publish every materialized model (plus any extra warehouse names,
    * e.g. seeded dims) under its model name as a SQL-addressable view —
    * the reference's `schema.model` ergonomics (SURVEY §2.1 S1) over
    * this runner's targets. Skips names not yet materialized; safe to
    * call after every run (re-registration refreshes the file listing).
    */
  def registerViews(models: Seq[ModelDef],
      extra: Seq[String] = Nil): Seq[String] =
    graft.catalog.Tables.registerAll(spark,
      (models.map(_.name) ++ extra).distinct.collect {
        case n if exists(n) => n -> targetPath(n)
      })

  /** Run the whole DAG in dependency order — each model incrementally,
    * or as a full refresh if it is declared one — then publish the
    * zero-copy clones. Returns rows written per model.
    *
    * `clones` mirrors the reference's clone-vs-model branch
    * (`execute_snowflake_load.py:94-96`): after the models build, each
    * (cloneName → sourceModel) pair is published as a metadata-only view
    * over the source's materialized files (S4 — Snowflake
    * `CREATE TABLE … CLONE` analog), resolvable via
    * `spark.table(cloneName)`.
    */
  def runAll(models: Seq[ModelDef],
      sources: String => DataFrame,
      clones: Seq[(String, String)] = Nil): Map[String, Long] = {
    val counts = runModels(models, _ => true, sources)
    clones.foreach { case (cloneName, src) =>
      require(models.exists(_.name == src),
        s"clone $cloneName references unregistered model $src")
    }
    graft.catalog.Tables.registerAll(spark,
      clones.map { case (cloneName, src) => cloneName -> targetPath(src) })
    counts
  }

  /** [[runAll]]'s loop restricted to one cadence, without clones — the
    * reference's weekly / monthly pipeline manifests
    * (`sf_weekly_pipeline.yaml`, `sf_monthly_pipeline.yaml` glob only
    * `{weekly,monthly}_models/`). Upstream models owned by OTHER
    * cadences resolve from their materialized warehouse targets,
    * exactly as the reference's weekly SQL reads tables the daily
    * pipeline built.
    */
  def runCadence(all: Seq[ModelDef], cadence: Cadence,
      sources: String => DataFrame): Map[String, Long] =
    runModels(all, _.cadence == cadence, sources)

  /** Run the models of `dag` that pass `select`, in topological order. A
    * model's resolver serves every model of `dag` from its materialized
    * target (the reference reads prior models' tables the same way) and
    * anything else from `sources`. */
  private def runModels(dag: Seq[ModelDef], select: ModelDef => Boolean,
      sources: String => DataFrame): Map[String, Long] = {
    val names = dag.map(_.name).toSet
    val resolve: String => DataFrame = name =>
      if (names(name)) readModel(name) else sources(name)
    topoOrder(dag).filter(select).map { m =>
      val n = if (m.fullRefresh) runFullRefresh(m, resolve)
        else runIncremental(m, resolve)
      // builder-internal caches can't be reused across models (downstream
      // reads the materialized parquet target, not the plan) — drop them
      // so a long DAG doesn't accumulate executor storage
      spark.catalog.clearCache()
      m.name -> n
    }.toMap
  }
}
