package perfbench

import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}
import graft.models.Shared
import Main._

/** The query set ([[Main.QueryStride]]), run as `graft.Bench` runs them (a
  * `noop` write, then `clearCache`), in one fresh session:
  *
  *   cold   the first pass, which pays every `Shared.materialized` build
  *   warm   the second pass
  *
  * After the timed passes, an untimed third pass in the same session writes
  * every answer to parquet for the oracle compare, so the answers checked
  * are the ones that session gives on its memo hits.
  */
final class WarehouseQueries(spark: SparkSession, args: Map[String, String],
    trace: Option[Trace], out: Result) extends Workload {
  private val input = args("input")
  private val root = args("root")
  private val queries = SparkEntry.queries
  val names: Seq[String] = queries.keys.toSeq
    .filter(_.startsWith(QueryFamily)).sorted
    .zipWithIndex.collect { case (n, i) if i % QueryStride == 0 => n }

  /** One pass over the query set in a throwaway session, as the timed
    * passes run it: the JIT and codegen see the timed passes' code paths
    * (a lighter warm-up left the timed passes paying for compilation). */
  def warmUp(dir: String): Unit = {
    val s = GraftSession.install(spark.newSession())
    for (n <- names) {
      queries(n)(s, input).write.format("noop").mode("overwrite").save()
      s.catalog.clearCache()
    }
  }

  def run(): Unit = {
    // a fresh session: `Shared` keys its memo by session
    val s = GraftSession.install(spark.newSession())
    trace.foreach(_.register(s))
    Shared.drainBuilt()
    var constructS, execS, buildQueriesS = 0.0
    var builds = Map.empty[String, Int]
    def pass(phase: String): Unit = {
      for (n <- names) out.op(s"$phase $n") {
        val (df, c) = seconds(queries(n)(s, input))
        val (_, e) = seconds(
          df.write.format("noop").mode("overwrite").save())
        s.catalog.clearCache()
        val built = Shared.drainBuilt()
        builds += phase -> (builds.getOrElse(phase, 0) + built.size)
        if (phase == "warm") { constructS += c; execS += e }
        else if (built.nonEmpty) buildQueriesS += c + e
      }
    }
    for (phase <- Seq("cold", "warm")) trace match {
      case Some(t) =>
        val (_, wall, stats) = t.phase(pass(phase))
        out.phase(phase, wall)
        stats.metrics(phase).foreach { case (k, v) => out.layer(k, v) }
        out.layer(s"$phase.wall_s", wall)
      case None => out.phase(phase, seconds(pass(phase))._2)
    }
    out.layer("models.construct_ms", constructS * 1000)
    out.layer("models.exec_ms", execS * 1000)
    out.layer("shared.builds_cold", builds.getOrElse("cold", 0).toDouble)
    out.layer("shared.builds_warm", builds.getOrElse("warm", 0).toDouble)
    out.layer("shared.build_queries_ms", buildQueriesS * 1000)
    for (n <- names) {
      queries(n)(s, input).write.parquet(s"$root/qout/$n")
      s.catalog.clearCache()
      out.str(s"oracle.$n", SparkEntry.oracleSql(n))
    }
    out.str("qout", s"$root/qout")
  }
}
