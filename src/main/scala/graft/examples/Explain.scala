package graft.examples

import graft.{GraftSession, SparkEntry}

/** Plan auditor: prints the formatted physical plan of each named query
  * (or all) so scan pushdown (`PushedFilters`/`ReadSchema`), broadcast
  * joins, and WholeStageCodegen spans can be reviewed.
  * `sbt "runMain graft.examples.Explain q_agg_sum q_star_join"`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4, 4)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
