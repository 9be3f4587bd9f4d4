package graft

import java.io.File
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.models.{Shared, TextModels}

/** The session memo's contract (`graft.models.Shared`): one build per
  * (session, sfDir, name) even under concurrent callers, one memo per
  * session, scratch under the warehouse dir, and nothing left on disk
  * once the application stops. */
class SharedMemoSpec extends AnyFunSuite {
  val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def probe(s: SparkSession, builds: AtomicInteger): DataFrame =
    Shared.materialized("memo_probe", s, sfDir) {
      builds.incrementAndGet()
      Thread.sleep(300) // hold the build open while the other caller asks
      s.range(0L, 5L).toDF("id")
    }

  private def tmpEntries(prefixes: String*): Set[String] =
    Option(new File(System.getProperty("java.io.tmpdir")).list())
      .getOrElse(Array.empty[String])
      .filter(n => prefixes.exists(n.startsWith)).toSet

  test("two threads asking one fresh session for one name build it once") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    val start = new CyclicBarrier(2)
    val asks = Seq.fill(2)(Future { start.await(); probe(s, builds).count() })
    assert(asks.map(Await.result(_, 2.minutes)) == Seq(5L, 5L))
    assert(builds.get == 1)
  }

  test("each newSession() builds its own copy") {
    val builds = new AtomicInteger
    val (a, b) = (spark.newSession(), spark.newSession())
    probe(a, builds)
    probe(b, builds)
    probe(a, builds)
    assert(builds.get == 2)
  }

  test("memo parquet lies under <warehouse>/.graft-shared/<appId>/<sessionUUID>/") {
    val before = tmpEntries("graft-shared-")
    val s = spark.newSession()
    val files = probe(s, new AtomicInteger).inputFiles
    val scratch = new Path(new Path(new Path(
      s.conf.get("spark.sql.warehouse.dir"), ".graft-shared"),
      s.sparkContext.applicationId), Shared.sessionUUID(s)).toUri.getPath + "/"
    assert(files.nonEmpty)
    assert(files.forall(f => new Path(f).toUri.getPath.startsWith(scratch)),
      files.mkString(", "))
    assert(tmpEntries("graft-shared-") -- before == Set.empty)
  }

  test("an application leaves no memo scratch behind after spark.stop()") {
    val wh = Files.createTempDirectory("graft-memo-child-wh")
    val log = wh.resolveSibling(wh.getFileName.toString + ".log")
    val tmpBefore = tmpEntries("graft-shared-", "graft-bpe-")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val addOpens = jvmArgs.zip(jvmArgs.drop(1) :+ "").flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", v) => Seq("--add-opens", v)
      case _ => Nil
    }
    val cmd = Seq(
      Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      "-Xmx1g", "-cp", System.getProperty("java.class.path")) ++ addOpens ++
      Seq(s"-Dspark.sql.warehouse.dir=$wh", "-Dspark.ui.enabled=false",
        "graft.SharedMemoChild", sfDir)
    val p = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log.toFile).start()
    try {
      val exited = p.waitFor(4, TimeUnit.MINUTES)
      val out = new String(Files.readAllBytes(log), "UTF-8")
      assert(exited && p.exitValue == 0, out.takeRight(4000))
      // the child saw its scratch populated before it stopped
      val dirs = "scratch-dirs=(\\d+)".r.findFirstMatchIn(out).map(_.group(1).toInt)
      assert(dirs.exists(_ >= 3), out.takeRight(4000))
      val shared = wh.resolve(".graft-shared")
      val left = if (!Files.exists(shared)) Nil
        else Files.list(shared).iterator().asScala.toList
      assert(left.isEmpty, left.mkString(", "))
      assert(tmpEntries("graft-shared-", "graft-bpe-") -- tmpBefore == Set.empty)
    } finally {
      if (p.isAlive) p.destroyForcibly().waitFor(30, TimeUnit.SECONDS)
      deleteTree(wh)
      Files.deleteIfExists(log)
    }
  }

  private def deleteTree(root: JPath): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** The child JVM of the cleanup spec: builds one `materialized` name and
  * the BPE train loop (which writes its own segmented frame), reports how
  * many memo directories its session holds, then stops the application. */
object SharedMemoChild {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.create("local[2]", 2, "graft-memo-child")
    Shared.materialized("memo_probe", spark, sfDir) {
      spark.range(0L, 5L).toDF("id")
    }.count()
    TextModels.bpeMerges(spark, sfDir).count()
    val session = new Path(new Path(new Path(
      spark.conf.get("spark.sql.warehouse.dir"), ".graft-shared"),
      spark.sparkContext.applicationId), Shared.sessionUUID(spark))
    val fs = session.getFileSystem(spark.sparkContext.hadoopConfiguration)
    println(s"scratch-dirs=${fs.listStatus(session).count(_.isDirectory)}")
    spark.stop()
  }
}
