package graft.sinks

import java.sql.{Connection, DriverManager}
import java.util.Locale

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._

/** The serving-store backend behind [[Replicator]]: where replicated
  * tables live and how the sink-side watermark is read back. Two
  * implementations — the parquet stand-in used by local tests and a
  * real JDBC store (`snowflake_postgres_replicator.py` writes an
  * actual Postgres; the embedded-Derby spec drives the same code
  * path in-sandbox).
  *
  * The contract mirrors the reference replicator's three behaviors:
  * watermark probe from the SINK (`snowflake_postgres_replicator.py:141`),
  * append vs full-replace load (`:167`, `if_exists`), and the
  * rebuild-adds-primary-key step (`:172`).
  */
trait ServingStore {
  /** Human-addressable location of a table (path or JDBC identifier). */
  def location(table: String): String
  def exists(table: String): Boolean
  /** `max(col)` already served, read from the sink itself — the
    * at-least-once incremental cursor. */
  def watermark(table: String, col: String): Option[String]
  /** Incremental load: append rows (creating the table on first use). */
  def append(df: DataFrame, table: String): Unit
  /** First materialization of an empty result: a schema-bearing target
    * so consumers can resolve the table before data exists. */
  def create(df: DataFrame, table: String): Unit
  /** Full rebuild: replace every row and re-apply serving DDL (the
    * JDBC store adds the API's surrogate primary key here). */
  def rebuild(df: DataFrame, table: String): Unit
  /** Destructive repair — the sink-side analog of the warehouse
    * runner's delete-from-date: remove every row with `col >= cutoff`
    * so the next incremental replicate (whose sink-side watermark now
    * reads back `cutoff - 1` at most) refills the tail. This is what
    * heals a partially-served day after a mid-append crash — the one
    * gap in the at-least-once / idempotent-by-date contract the
    * reference's replicator shares. Returns true iff rows were removed
    * (false on a missing table or no-op cutoff, mirroring the
    * warehouse repair's contract).
    */
  def deleteFrom(table: String, col: String,
      cutoff: java.time.LocalDate): Boolean
}

/** Parquet directory standing in for the serving store — the test/local
  * backend. Watermark reads scan only the probed column (parquet footer
  * pruning); all writes are ordinary distributed parquet jobs.
  */
final class ParquetServingStore(spark: SparkSession, servingDir: String)
    extends ServingStore {

  override def location(table: String): String = s"$servingDir/$table"

  /** Probed through the Hadoop `FileSystem`, so a serving dir given as a
    * URI (`file://`, `hdfs://`) is found like a bare path. */
  override def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(location(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def watermark(table: String, col: String): Option[String] =
    if (!exists(table)) None
    else {
      val r = spark.read.parquet(location(table))
        .agg(max(org.apache.spark.sql.functions.col(col)).cast("string"))
        .head()
      if (r.isNullAt(0)) None else Some(r.getString(0))
    }

  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).parquet(location(table))

  override def create(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(location(table))

  override def rebuild(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(location(table))

  /** Serving tables are API-sized aggregates, so the parquet repair is
    * a filtered rewrite: survivors are localCheckpoint-ed off the files
    * about to be overwritten (same lineage-truncation trick as the
    * warehouse repair's refill), then replace the directory.
    */
  override def deleteFrom(table: String, col: String,
      cutoff: java.time.LocalDate): Boolean =
    if (!exists(table)) false
    else {
      val cur = spark.read.parquet(location(table))
      val total = cur.count()
      val keep = cur
        .filter(org.apache.spark.sql.functions.col(col) <
          lit(java.sql.Date.valueOf(cutoff)))
        .localCheckpoint()
      val kept = keep.count()
      if (kept == total) false
      else {
        keep.write.mode(SaveMode.Overwrite).parquet(location(table))
        true
      }
    }
}

/** A real JDBC serving store — the reference's Postgres target
  * re-expressed Spark-first. Data-plane writes go through
  * `df.write.format("jdbc")`, so rows flow from EXECUTORS to the
  * database in parallel partitions (the reference funneled everything
  * through one pandas `to_sql` on the driver,
  * `snowflake_postgres_replicator.py:167` — its stated ceiling).
  * Control-plane operations (existence probe, the one-row
  * `SELECT max(date)` watermark read-back of `:141`, rebuild DDL) use a
  * driver-side JDBC connection, exactly as the reference does.
  *
  * Rebuild reproduces the `ALTER TABLE … ADD COLUMN "id" SERIAL PRIMARY
  * KEY` step (`:172`) that the API's introspection needs: the table is
  * dropped and re-created with a generated-identity primary key, then
  * reloaded by distributed INSERTs (Spark's JDBC writer lists only the
  * DataFrame's columns, so the identity fills itself). Derby — the
  * embedded engine the spec drives — cannot ADD an identity column to
  * an existing table, so the key is declared at CREATE time; the
  * resulting table shape (all columns + auto-filled `id` PK) is
  * identical to the reference's.
  *
  * Scale: per-partition batched inserts (`batchsize`); the database is
  * the bottleneck by design — this sink serves API-sized aggregates
  * (thousands of rows), never fact tables.
  *
  * @param options extra Spark-JDBC/DriverManager options (user,
  *   password, driver, batchsize, …), applied to both planes.
  * @param identityPk dialect-specific generated-PK column DDL used by
  *   [[rebuild]]; the default is Derby/ANSI identity syntax (a Postgres
  *   target would pass `"id" SERIAL PRIMARY KEY`-equivalent DDL).
  * @param typeOverrides per-table, per-column database type overrides —
  *   the Spark analog of the reference replicator's dtype-override dict
  *   (`snowflake_postgres_replicator.py:16-59`, e.g. `'top10':
  *   sqlalchemy JSON` at `:40-41` so the serving API reads a real JSON
  *   column instead of TEXT). Applied wherever THIS store issues the
  *   CREATE ([[create]] and [[rebuild]] both build explicit DDL), so
  *   any database type string is legal — including ones Spark's own
  *   `createTableColumnTypes` option can't parse, like Postgres `JSONB`.
  */
final class JdbcServingStore(
    spark: SparkSession,
    url: String,
    options: Map[String, String] = Map.empty,
    identityPk: String =
      "\"id\" INTEGER NOT NULL GENERATED ALWAYS AS IDENTITY PRIMARY KEY",
    typeOverrides: Map[String, Map[String, String]] = Map.empty)
    extends ServingStore {

  private val dialect = JdbcDialects.get(url)

  private def withConn[A](f: Connection => A): A = {
    // mirror Spark's JDBC source: an explicit `driver` option is loaded
    // up front so DriverManager can resolve it on any classpath layout
    options.get("driver").foreach(Class.forName)
    val props = new java.util.Properties()
    options.foreach { case (k, v) => props.setProperty(k, v) }
    val c = DriverManager.getConnection(url, props)
    try f(c) finally c.close()
  }

  private def execUpdate(c: Connection, sql: String): Unit = {
    val st = c.createStatement()
    try st.executeUpdate(sql) finally st.close()
  }

  override def location(table: String): String = s"$url#$table"

  override def exists(table: String): Boolean = withConn { c =>
    // unquoted table names fold to upper case in the JDBC catalog
    val rs = c.getMetaData.getTables(
      null, null, table.toUpperCase(Locale.ROOT), null)
    try rs.next() finally rs.close()
  }

  override def watermark(table: String, col: String): Option[String] =
    if (!exists(table)) None
    else withConn { c =>
      val st = c.createStatement()
      try {
        // the reference's sink-side cursor: SELECT max("date") FROM model
        val rs = st.executeQuery(
          s"SELECT MAX(${dialect.quoteIdentifier(col)}) FROM $table")
        try {
          if (rs.next()) Option(rs.getString(1)) else None
        } finally rs.close()
      } finally st.close()
    }

  private def writer(df: DataFrame, table: String) =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(options)

  /** Appends own their DDL too: a first-load append creates the table
    * through [[columnDdl]] (instead of Spark's inferred CREATE), so
    * `typeOverrides` and the VARCHAR-not-CLOB policy bind on every path
    * that can materialize the table.
    */
  override def append(df: DataFrame, table: String): Unit = {
    if (!exists(table)) withConn { c =>
      execUpdate(c, s"CREATE TABLE $table (${columnDdl(df, table)})")
    }
    writer(df, table).mode(SaveMode.Append).save()
  }

  /** First materialization goes through the SAME explicit DDL as
    * [[rebuild]] (minus the identity PK), not Spark's inferred CREATE —
    * so `typeOverrides` bind on every creation path, exactly as the
    * reference applies its dtype dict on every `to_sql` load.
    */
  override def create(df: DataFrame, table: String): Unit = {
    withConn { c =>
      if (exists(table)) execUpdate(c, s"DROP TABLE $table")
      execUpdate(c, s"CREATE TABLE $table (${columnDdl(df, table)})")
    }
    append(df, table)
  }

  private def columnDdl(df: DataFrame, table: String): String =
    df.schema.fields
      .map(f => s"${dialect.quoteIdentifier(f.name)} ${ddlType(table, f)}")
      .mkString(", ")

  /** Spark type → column DDL for the explicit CREATEs. A per-column
    * override wins outright (any database type string); otherwise the
    * session dialect supplies engine-specific definitions, with strings
    * forced to VARCHAR (dialects like Derby default to CLOB, which the
    * serving API can neither index nor compare).
    */
  private def ddlType(table: String, f: StructField): String =
    typeOverrides.getOrElse(table, Map.empty).getOrElse(f.name, f.dataType match {
      case StringType => "VARCHAR(4000)"
      case other => dialect.getJDBCType(other)
        .map(_.databaseTypeDefinition)
        .getOrElse(other match {
          case IntegerType => "INTEGER"
          case LongType => "BIGINT"
          case DoubleType => "DOUBLE"
          case FloatType => "REAL"
          case BooleanType => "BOOLEAN"
          case DateType => "DATE"
          case TimestampType => "TIMESTAMP"
          case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
          case unsupported => throw new IllegalArgumentException(
            s"no serving-store DDL mapping for Spark type $unsupported")
        })
    })

  override def deleteFrom(table: String, col: String,
      cutoff: java.time.LocalDate): Boolean =
    if (!exists(table)) false
    else withConn { c =>
      val ps = c.prepareStatement(
        s"DELETE FROM $table WHERE ${dialect.quoteIdentifier(col)} >= ?")
      try {
        ps.setDate(1, java.sql.Date.valueOf(cutoff))
        ps.executeUpdate() > 0
      } finally ps.close()
    }

  override def rebuild(df: DataFrame, table: String): Unit = {
    withConn { c =>
      if (exists(table)) execUpdate(c, s"DROP TABLE $table")
      execUpdate(c,
        s"CREATE TABLE $table ($identityPk, ${columnDdl(df, table)})")
    }
    // distributed reload; the INSERT lists only df's columns, so the
    // identity PK auto-fills — the reference's post-rebuild table shape
    append(df, table)
  }
}
