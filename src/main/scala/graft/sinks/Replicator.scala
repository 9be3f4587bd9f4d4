package graft.sinks

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse → serving-store replication: the engine's analog of
  * `snowflake_postgres_replicator.py` (SURVEY.md §2.1 S7, §3.3).
  *
  * Key semantics reproduced:
  *  - sink-side watermark: the incremental filter is computed from
  *    `max(date_key)` in the SINK, not the source
  *    (`snowflake_postgres_replicator.py:133-144`) — at-least-once with
  *    idempotence by date;
  *  - rename projection: the serving store gets camelCase column names
  *    (`load_scripts/postgres_replication/daily_models/dailySummaryApp.sql`);
  *  - full rebuild mode (replace) vs incremental append.
  *
  * The sink backend is pluggable ([[ServingStore]]): a parquet
  * directory for local/test runs, or a real JDBC database
  * ([[JdbcServingStore]]) — the reference's Postgres target — where
  * `df.write.format("jdbc")` keeps the write distributed across
  * executors (the reference funneled every row through one Python
  * driver, its stated scalability ceiling).
  */
final class Replicator(spark: SparkSession, store: ServingStore) {
  import spark.implicits._

  /** Parquet-backed serving directory — the original local mode. */
  def this(spark: SparkSession, servingDir: String) =
    this(spark, new ParquetServingStore(spark, servingDir))

  def sinkPath(table: String): String = store.location(table)

  /** Sink-side watermark: max date already served, or None. The sink
    * holds serving-side column names, so the watermark column defaults
    * to `dateKey` (explicit renames may map it elsewhere, e.g. `date`).
    */
  def sinkWatermark(table: String, watermarkCol: String = "dateKey")
      : Option[String] =
    store.watermark(table, watermarkCol)

  /** snake_case → camelCase, with explicit per-column overrides — the
    * API-facing rename projection. The reference's serving SQL renames
    * some columns beyond camelization (`dailySummaryApp.sql`:
    * `app_id as "index"`, `transaction_count as "totalDailyTransactions"`;
    * `krePayoutSummary.sql`: `date_key as "date"`), passed as `renames`.
    */
  def camelize(df: DataFrame,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val renamed = df.columns.map { c =>
      val parts = c.split("_")
      val camel = parts.head +
        parts.tail.map(p => p.capitalize).mkString
      col(c).as(renames.getOrElse(c, camel))
    }
    df.select(renamed.toSeq: _*)
  }

  /** Replicate one model into the serving store. Incremental: append only
    * source rows with `date_key` newer than the sink watermark;
    * rebuild=true: full replace. Returns rows written, counted on the
    * write itself (`Dataset.observe`, as the warehouse runner counts),
    * so the source slice is read once by the write plus one `isEmpty`
    * probe that stops at the first row. An empty slice appends nothing
    * (no empty part file in a parquet sink) and only creates the sink
    * when it is missing.
    */
  def replicate(table: String, source: DataFrame,
      rebuild: Boolean = false,
      renames: Map[String, String] = Map.empty,
      watermarkCol: String = "dateKey"): Long = {
    val slice =
      if (rebuild) source
      else sinkWatermark(table, watermarkCol) match {
        case Some(wm) => source.filter($"date_key" > lit(wm))
        case None => source
      }
    val out = camelize(slice, renames)
    val rows = Observation()
    val observed = out.observe(rows, count(lit(1)).as("n"))
    def written(): Long = rows.get.get("n").fold(0L)(_.asInstanceOf[Long])
    if (rebuild) { store.rebuild(observed, table); written() }
    else if (!out.isEmpty) { store.append(observed, table); written() }
    else {
      // the reference's replicator always creates the target table —
      // materialize an empty schema-bearing sink so consumers resolve it
      if (!store.exists(table)) store.create(out, table)
      0L
    }
  }

  /** Sink-side destructive repair: delete every served row with
    * `watermarkCol >= fromDate`, receding the sink watermark so the
    * next [[replicate]] refills the tail from the source — the serving
    * twin of the warehouse runner's delete-from-date repair, and the
    * documented recovery path for a day left partial by a mid-append
    * crash (at-least-once redelivery skips a day whose `max(date)`
    * already landed). Returns true iff rows were removed.
    */
  def repair(table: String, fromDate: java.time.LocalDate,
      watermarkCol: String = "dateKey"): Boolean =
    store.deleteFrom(table, watermarkCol, fromDate)
}
