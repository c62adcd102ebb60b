package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one lazy SparkSession per JVM (suites share it —
  * `getOrCreate` returns the same session), built by the harness
  * factory at local[4] with a tiny shuffle fan-out.
  *
  * `SPARK_GRAFT_ANSI=true sbt test` runs the whole suite under ANSI
  * mode — the queries use try_cast at every coercion site, so results
  * must be identical either way (SURVEY §4 portability claim; proven
  * per-round, not assumed).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(cpus = 4, partitions = 4)
    s.conf.set("spark.sql.ansi.enabled",
      sys.env.getOrElse("SPARK_GRAFT_ANSI", "false"))
    s
  }

  def sfDir: String = "/root/testdata/sf0.001"
}
