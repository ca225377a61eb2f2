package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * reuses it across suites via getOrCreate, so startup cost is paid once). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** All physical nodes of a plan, descending through the AQE wrapper
    * (AdaptiveSparkPlanExec is a leaf to the normal collect). Inspect
    * the INITIAL plan (no collect() first) when asserting a join
    * strategy — the final AQE plan hides operators inside
    * query-stage leaves this traversal cannot enter. */
  protected def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case _ => Seq.empty
    }
    p +: (p.children ++ inner).flatMap(planNodes)
  }

  /** Every generation a committed manifest of the local table `root`
    * names still holds the `_GENSTART` marker gc ages orphans by — the
    * marker a generation writer in overwrite mode deletes. */
  protected def assertGenerationsMarked(root: String): Unit = {
    val manifests = Option(new java.io.File(s"$root/_ptr").listFiles())
      .toSeq.flatten.filter(_.getName.endsWith(".mf"))
    assert(manifests.nonEmpty, s"$root has no committed manifest")
    val gens = manifests.flatMap(f =>
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").toSeq.map(_.split("\t")).collect {
          case Array(_, v) if v.startsWith("g-") => v.takeWhile(_ != '/')
        }).distinct
    assert(gens.nonEmpty, s"$root: no manifest names a generation")
    val unmarked = gens.filterNot(g =>
      new java.io.File(s"$root/_gens/$g/_GENSTART").isFile)
    assert(unmarked.isEmpty, s"$root: generations without _GENSTART: $unmarked")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
