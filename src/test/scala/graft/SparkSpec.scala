package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites; one JVM-wide session (getOrCreate).
  *
  * Master is `local[4, 2]` — local mode with maxFailures=2 — so task RETRY
  * is live in the test JVM (plain `local[N]` pins maxFailures=1 and any
  * task failure kills the job, which would make FaultToleranceSpec's
  * first-attempt-failure injection unfalsifiable). Deterministic failures
  * (the fail-fast parse tests) still fail the job — they just consume the
  * one extra attempt first, same as `spark.task.maxFailures` on a cluster.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder("local[4, 2]", "4")
    .appName("graft-test")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  def golden(name: String): String = {
    val in = getClass.getResourceAsStream(s"/golden/$name")
    require(in != null, s"missing golden resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }
}
