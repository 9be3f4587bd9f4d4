package graft.models

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of shared model intermediates — the one place a
  * model stores a value it computes once per session.
  *
  * The KRE queries (q26/q28/q29/q33/q35) share a deep upstream chain —
  * closing balance (q19) → active-user balance (q28) → volatility
  * factor (q27) → payout (q26). Run standalone (the driver benches each
  * query in its own action), every consumer would re-derive the whole
  * chain from raw events. At scale the incremental runner materializes
  * these as tables (`graft.runner.ModelRegistry`) — this memo plays the
  * same role inside one session: the FIRST consumer materializes the
  * intermediate to parquet, and every later consumer reads that tiny
  * calendar-bounded table instead of recomputing. Parquet (not
  * `.cache()`) so reuse survives `spark.catalog.clearCache()` between
  * bench queries and costs no executor heap.
  *
  *  - Key: `(applicationId, sessionUUID, sfDir, name)`. Every
  *    `newSession()` starts with an empty memo.
  *  - Single flight: one holder per key; the first caller builds under
  *    the holder's lock and concurrent callers of that key wait for its
  *    result. Different keys build concurrently, so a builder may ask
  *    for another name (`cell_pair_sims` → `ivf_cents`) as long as the
  *    names depend on each other acyclically. A build that throws
  *    leaves the holder empty; the next caller builds again.
  *  - Scratch: `<spark.sql.warehouse.dir>/.graft-shared/<applicationId>/
  *    <sessionUUID>/<name>-<n>`, written through that path's Hadoop
  *    `FileSystem`. The warehouse dir is cluster-visible by Spark's
  *    contract, so every executor reads what the build wrote.
  *  - Lifetime: one listener per SparkContext deletes the application's
  *    scratch root and drops its memo keys on application end, so
  *    nothing outlives `spark.stop()` (or Spark's shutdown hook, which
  *    calls it). Only a JVM killed outright leaves its root behind.
  *
  * Correctness is unaffected: the materialized frame is the exact
  * output of the same builder, round-tripped through parquet (all
  * intermediate schemas here are date/long/decimal/double — lossless).
  */
object Shared {
  private final case class Key(app: String, session: String, sfDir: String,
      name: String)
  private final class Holder { var value: Option[Any] = None }

  private val memo = new ConcurrentHashMap[Key, Holder]()
  private val listening = ConcurrentHashMap.newKeySet[String]()
  private val scratchSeq = new AtomicLong()

  // names materialized since the last drain — lets the bench annotate
  // WHICH query paid each one-time materialization (per-query numbers
  // are order-dependent otherwise: the first consumer pays the chain)
  private val builtLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Names materialized since the last call (consumes the log). */
  def drainBuilt(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var n = builtLog.poll()
    while (n != null) { out += n; n = builtLog.poll() }
    out.toSeq
  }

  // build-scoped caches: frames a builder caches for multi-branch
  // reuse WITHIN its one materializing action. Once the outermost
  // materialized() write lands, every consumer reads parquet, so the
  // cache is dead weight — holding it would accumulate block-manager
  // state across a whole session of builds (the 100×-scale hazard: an
  // executor cache several corpus-sizes deep). Thread-local because a
  // build runs on the caller's thread and builders nest (a builder may
  // invoke another materialized model); only the OUTERMOST frame
  // drains, so caches registered before a nested build survive it.
  private val buildDepth = ThreadLocal.withInitial[Integer](() => 0)
  private val buildCaches =
    ThreadLocal.withInitial(() =>
      scala.collection.mutable.ArrayBuffer.empty[DataFrame])

  /** The value `build` returns, computed once per (session, sfDir, name). */
  private[graft] def once[A](name: String, spark: SparkSession,
      sfDir: String)(build: => A): A = {
    val app = appRoot(spark).getName // also registers the app's cleanup
    val h = memo.computeIfAbsent(Key(app, sessionUUID(spark), sfDir, name),
      _ => new Holder)
    h.synchronized {
      h.value.getOrElse {
        val a = build
        h.value = Some(a)
        a
      }.asInstanceOf[A]
    }
  }

  /** Build-once-per-(session, sfDir) materialized view of `build`. */
  def materialized(name: String, spark: SparkSession, sfDir: String)(
      build: => DataFrame): DataFrame =
    once(name, spark, sfDir) {
      buildDepth.set(buildDepth.get + 1)
      val df =
        try persist(spark, name, build)
        finally {
          buildDepth.set(buildDepth.get - 1)
          if (buildDepth.get == 0) {
            buildCaches.get.foreach(_.unpersist(blocking = false))
            buildCaches.get.clear()
          }
        }
      builtLog.add(name)
      df
    }

  /** Write `df` to a fresh directory under the session's scratch and
    * read it back. */
  private[graft] def persist(spark: SparkSession, name: String,
      df: DataFrame): DataFrame = {
    val dir = new Path(new Path(appRoot(spark), sessionUUID(spark)),
      s"$name-${scratchSeq.incrementAndGet()}").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val sessionUUIDMethod = classOf[
    org.apache.spark.sql.classic.SparkSession].getMethod("sessionUUID")

  /** The classic `SparkSession.sessionUUID`: public in the bytecode,
    * `private[sql]` to Scala callers outside Spark. */
  private[graft] def sessionUUID(spark: SparkSession): String =
    sessionUUIDMethod.invoke(spark).asInstanceOf[String]

  /** `<warehouse>/.graft-shared/<applicationId>`; the first call per
    * application registers the listener that deletes it on app end. */
  private def appRoot(spark: SparkSession): Path = {
    val sc = spark.sparkContext
    val app = sc.applicationId
    val root = new Path(new Path(
      spark.conf.get("spark.sql.warehouse.dir"), ".graft-shared"), app)
    if (listening.add(app)) {
      val conf = sc.hadoopConfiguration
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          memo.keySet.removeIf(_.app == app)
          root.getFileSystem(conf).delete(root, true)
          listening.remove(app)
        }
      })
    }
    root
  }

  /** Idempotent `.cache()`: a model builder invoked twice in one
    * session produces plan-identical frames, and a second `.cache()`
    * fires `WARN CacheManager: Asked to cache already cached data`
    * while registering nothing new. `Dataset.storageLevel` does the
    * same plan-equality lookup the CacheManager uses, so skipping the
    * call when a level is already set is behavior-identical minus the
    * noise. Caches taken inside a [[materialized]] build are released
    * when the outermost build's parquet lands (see `buildCaches`);
    * outside a build the cache lives for the session as before. */
  private[graft] def cacheOnce(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else {
      val cached = df.cache()
      if (buildDepth.get > 0) buildCaches.get += cached
      cached
    }
}
