package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir>")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=q_a,q_b verifies a subset. The driver
    // sets no env, so its gate always runs the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[verify] SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      // release prior queries' leaked localCheckpoint round state,
      // pinned session caches excepted (same hygiene as Bench —
      // accumulated blocks poison later queries' execution-memory
      // grants; see IterState.releaseAllExceptPinned)
      graft.graph.IterState.releaseAllExceptPinned(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        // class name + null-safe message (a bare NPE printed "null"
        // with nothing to triage on)
        System.err.println(s"[verify] $name failed: " +
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}")
      }
    }
    // shared escaper (graft.Json): a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
