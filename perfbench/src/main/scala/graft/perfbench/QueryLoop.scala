package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.graph.IterState

/** The query workload: passes over a fixed list of `SparkEntry.queries`
  * entries, the order permuted per pass by the seed.
  *
  * Preparation (untimed) runs every query once and writes its result to
  * parquet under `results/first` for the oracle check, with the oracle
  * SQL in `oracle.json` beside it, then runs one pass as the timed
  * passes do. That compiles each query's generated code and lets the
  * JIT settle, so the timed passes measure a warm JVM, as a long-lived
  * session sees it. Timed passes then run until the operations add up
  * to `seconds` and there are at least `MinPasses`, in whole passes, so
  * every query is timed equally often. A last untimed pass in the same
  * session writes every result again, under `results/last`, so the
  * check also covers the state the timed operations ran in (pinned
  * iteration state, caches).
  *
  * An operation constructs the query's DataFrame and executes it
  * through a `noop` write, so every output column is computed and no
  * rows are collected.
  */
object QueryLoop {

  /** Timed passes per run at least: with nine queries, 45 operations,
    * so the tail has ten samples beyond p75 and the median is steady.
    */
  val MinPasses = 5

  def run(spark: SparkSession, trace: Trace, names: Seq[String], seed: Long,
          seconds: Double, dataDir: String, work: String,
          ready: () => Unit, loopDone: () => Unit): Seq[Runner.Op] = {
    val oracles = SparkEntry.oracleSql
    Files.write(Paths.get(work, "oracle.json"), names.flatMap(n =>
      oracles.get(n).map(sql => s"${Jsn.str(n)}:${Jsn.str(sql)}"))
      .mkString("{", ",", "}").getBytes(UTF_8))
    val queries = SparkEntry.queries
    def query(name: String) = queries.getOrElse(name, sys.error(s"no query named $name"))
    val rng = new scala.util.Random(seed)
    def capture(pass: String): Unit = rng.shuffle(names).foreach { name =>
      try query(name)(spark, dataDir).write.mode("overwrite")
        .parquet(s"$work/results/$pass/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] result capture of $name failed: $e") }
      IterState.releaseAllExceptPinned(spark)
    }
    capture("first")
    // one untimed pass the way the timed ones run, so the JIT has
    // settled on the noop-write plans before the clock starts
    rng.shuffle(names).foreach { name =>
      try query(name)(spark, dataDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
      IterState.releaseAllExceptPinned(spark)
    }
    ready()

    val ops = mutable.ArrayBuffer[Runner.Op]()
    var measured = 0.0
    var pass = 0
    while (pass < MinPasses || measured < seconds) {
      rng.shuffle(names).foreach { name =>
        val op = Runner.timeOp(spark, trace, ops.size, name, pass) {
          val df = trace.span("queries.construct")(query(name)(spark, dataDir))
          trace.span("spark.action")(df.write.format("noop").mode("overwrite").save())
        }
        ops += op
        measured += op.wallS
        IterState.releaseAllExceptPinned(spark)
      }
      pass += 1
    }
    loopDone()
    capture("last")
    ops.toSeq
  }
}
