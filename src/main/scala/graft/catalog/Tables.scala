package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver-provided parquet star schema (TESTDATA.md).
  *
  * Plays the role of the reference's 3-part Snowflake names
  * (`kin-data-pipeline/execute_snowflake_load.py:34`, SURVEY.md §2.1 S1):
  * every model resolves its inputs here instead of embedding paths.
  *
  * Scale notes: parquet scans go through Spark's vectorized reader; all
  * filters/projections applied downstream of these loaders are pushed into
  * the scan by Catalyst (verify via `.explain` → `PushedFilters`/
  * `ReadSchema`). At 100 TB these would be partitioned/bucketed table
  * locations; the loader shape (one path per logical table) is unchanged.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize `events.ts` to a plain TimestampType (LTZ) microsecond
    * column regardless of the upstream file's physical encoding — the
    * reference consumes whatever its raw ingestion tables contain
    * (`kin-data-pipeline/load_scripts/kin_be_historic/fact_kin_transaction.sql:9`
    * reads a table it doesn't control), so the loader must be robust to
    * encoding drift. Three encodings are handled (EventLoaderSpec pins
    * all three to identical values):
    *
    *  - parquet TIMESTAMP(NANOS), which Spark 4 only reads as LongType
    *    under `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *    `GraftSession`) — floor-divided to micros;
    *  - parquet timestamp[us] `isAdjustedToUTC=false` → TIMESTAMP_NTZ —
    *    cast to TimestampType, exact because the session zone is pinned
    *    UTC (`GraftSession.configure`);
    *  - parquet timestamp[us] UTC-adjusted → already TimestampType.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: long/long plans as DOUBLE division, and
        // doubles can't hold 1.7e18 nanos — epoch timestamps came back ±1µs
        // (caught by q44's microsecond-exact session algebra). `div` alone
        // truncates toward zero while DuckDB's epoch_us FLOORS, so correct
        // the remainder for negative (pre-1970) nanos; the correction is 0
        // for every non-negative ts, keeping current fixtures bit-identical.
        raw.withColumn("ts", timestamp_micros(
          expr("ts div 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  /** Canonical-type guard for the corpus tables — the same
    * encoding-drift insurance as [[events]], applied to integer widths
    * and the embedding element type: a regenerated
    * `documents`/`embeddings` parquet whose writer narrows `doc_id` to
    * int32 or widens `embedding` to array<double> must be invisible to
    * the dedup/ANN/curation models (whose oracles pin BIGINT keys and
    * float math). The casts are conditional — with the current physical
    * schemas every branch is a no-op, so no plan node is added and scan
    * pushdown is untouched (CorpusLoaderSpec pins both properties).
    */
  private def withCanonicalTypes(df: DataFrame,
      want: Map[String, org.apache.spark.sql.types.DataType]): DataFrame =
    want.foldLeft(df) { case (acc, (c, t)) =>
      if (acc.columns.contains(c) && acc.schema(c).dataType != t)
        acc.withColumn(c, org.apache.spark.sql.functions.col(c).cast(t))
      else acc
    }

  def documents(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    withCanonicalTypes(load(s, d, "documents"),
      Map("doc_id" -> LongType, "n_chars" -> LongType))
  }
  def embeddings(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    withCanonicalTypes(load(s, d, "embeddings"),
      Map("vec_id" -> LongType, "label" -> IntegerType,
        "embedding" -> ArrayType(FloatType)))
  }

  /** S1's SQL-name query surface: publish each materialized warehouse
    * target (model name → parquet path) as a metadata-only view, so
    * `spark.sql("SELECT … FROM daily_kin_payout")` works — the Spark
    * analog of the reference's 3-part `database.schema.model` names that
    * every model's SQL reads through
    * (`kin-data-pipeline/execute_snowflake_load.py:34,76`).
    *
    * Views are metadata only: queries scan the warehouse parquet with
    * the same pushdown/pruning as a path read. A view captures the file
    * listing at registration, so callers re-register after each
    * pipeline run (DailyPipeline does) to pick up fresh partitions.
    * A zero-copy clone (S4 — Snowflake `CREATE TABLE … CLONE`,
    * `kin-data-pipeline/load_scripts/.../clones/` models) is one more
    * pair: the clone name over its source model's path.
    * Returns the registered names.
    */
  def registerAll(s: SparkSession,
      targets: Seq[(String, String)]): Seq[String] =
    targets.map { case (name, path) =>
      s.read.parquet(path).createOrReplaceTempView(name)
      name
    }
}
