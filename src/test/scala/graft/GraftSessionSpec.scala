package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage

/** Every harness — Bench (both legs), Verify, the examples and this
  * suite — builds its session through [[GraftSession.local]]; this
  * pins that the suite session carries the whole harness config, so a
  * setting dropped from the factory fails here instead of silently
  * changing what the bench measures.
  */
class GraftSessionSpec extends SparkSpec {

  test("the suite session carries every harness conf") {
    // read back what the builder handed the context: static confs
    // live only there, and runtime ones may be re-set by a test
    val conf = spark.sparkContext.getConf
    val expected = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s")
    expected.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k = ${conf.getOption(k)}")
    }
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "2000")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") ===
      "false")
  }

  test("the suite session logs at WARN with the iterative-cleanup filter") {
    spark // built
    assert(LogManager.getRootLogger.getLevel === Level.WARN)
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getRootLogger
    def event(msg: String) = Log4jLogEvent.newBuilder().setLevel(Level.WARN)
      .setMessage(new SimpleMessage(msg)).build()
    assert(root.isFiltered(event(
      "RDD 12 was locally checkpointed, its lineage has been truncated")))
    assert(!root.isFiltered(event("an unrelated warning")))
  }
}
