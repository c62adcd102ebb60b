package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.graph.IterState
import graft.io.{Catalog, Readers, Sinks}
import graft.reports.Reports
import graft.stream.Streams
import graft.sync.SyncJob

/** The reference's daily job as a closed loop of cycles.
  *
  * Input layout (made by `gen_bls.py`): `src/` is the BLS-shaped source
  * mirror, `landing/` holds the first population snapshot, and
  * `cycles/NNNN/` holds one cycle's changes: files under `put/` are
  * copied into `src/` (inserts and updates), names in `delete.txt` are
  * removed from it, and its `population_data_<ts>.json` lands in
  * `landing/`.
  *
  * Set-up syncs the whole source into an empty mirror and drains the
  * first snapshot. Each cycle then applies one change set and lands one
  * snapshot, untimed, and the timed operation is the job itself:
  * `SyncJob.run` (content-hash CDC), then an AvailableNow
  * `Streams.foreachBatchRecompute` over the landing prefix with a
  * durable checkpoint, whose batch recomputes the three `Reports` and
  * writes them with `Sinks`. The operation ends when the last report is
  * written. Each cycle's CDC action counts go to `cdc.json`.
  */
object DailyPipeline {

  /** Cycles per run at least, so the tail has ten samples beyond it. */
  val MinCycles = 16

  private val envelopeSchema = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("Nation ID", StringType), StructField("Nation", StringType),
      StructField("Year", LongType), StructField("Population", LongType))))),
    StructField("source", ArrayType(StringType))))

  def run(spark: SparkSession, trace: Trace, seconds: Double, input: String,
          work: String, ready: () => Unit, loopDone: () => Unit,
          extra: mutable.Map[String, String]): Seq[Runner.Op] = {
    val src = s"$input/src"
    val landing = s"$input/landing"
    val mirror = s"$work/mirror"
    val checkpoint = s"$work/checkpoint"
    val reports = s"$work/reports"

    def recompute(): Unit = {
      val latest = Catalog.latestKey(Catalog.listFiles(spark, landing),
        "population_data_", ".json").select("path").head().getString(0)
      val pop = Readers.readJsonEnvelope(spark, latest)
      val bls = Readers.readBlsTsv(spark, s"$mirror/pr.data.*")
      def report(name: String, df: => DataFrame): Unit =
        trace.span(s"reports.$name") {
          val out = df
          trace.span("io.report_write")(Sinks.writeParquet(out, s"$reports/$name"))
        }
      report("population_stats", Reports.populationStats(pop))
      report("best_years", Reports.bestYears(bls))
      report("combined", Reports.combinedReport(bls, pop))
    }

    def drain(): Unit = trace.span("stream.drain") {
      val stream = Streams.fileSource(spark, landing, envelopeSchema,
        format = "json", pathGlobFilter = Some("population_data_*.json"))
      Streams.foreachBatchRecompute(stream, (_, _) => recompute())
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

    def sync(): DataFrame = trace.span("sync.run")(SyncJob.run(spark, src, mirror))

    sync()
    drain()
    IterState.releaseAllExceptPinned(spark)
    ready()

    val cycles = Option(Paths.get(input, "cycles").toFile.listFiles())
      .getOrElse(Array.empty).map(_.toPath).sortBy(_.getFileName.toString)
    val ops = mutable.ArrayBuffer[Runner.Op]()
    val cdc = mutable.ArrayBuffer[String]()
    var measured = 0.0
    val it = cycles.iterator
    while (it.hasNext && (ops.size < MinCycles || measured < seconds)) {
      val cycle = it.next()
      land(cycle, Paths.get(src), Paths.get(landing))
      var plan: DataFrame = null
      val op = Runner.timeOp(spark, trace, ops.size, "cycle", 0) {
        plan = sync()
        drain()
      }
      ops += op
      measured += op.wallS
      if (op.err.isEmpty) {
        val rows = plan.select("name", "action").collect()
        val counts = rows.groupBy(_.getString(1)).map { case (a, rs) =>
          s"${Jsn.str(a)}:${rs.length}" }
        val copied = rows.filter(r => r.getString(1) == "insert" || r.getString(1) == "update")
          .map(r => Files.size(Paths.get(mirror, r.getString(0)))).sum
        cdc += (Jsn.str(cycle.getFileName.toString) +
          (counts.toSeq :+ s""""copied_bytes":$copied""").mkString(":{", ",", "}"))
      }
      IterState.releaseAllExceptPinned(spark)
    }
    loopDone()
    Files.write(Paths.get(work, "cdc.json"),
      cdc.mkString("{", ",", "}").getBytes(UTF_8))
    extra("mirror") = Jsn.str(mirror)
    extra("reports") = Jsn.str(reports)
    ops.toSeq
  }

  /** Apply one cycle's change set to the source and land its snapshot. */
  private def land(cycle: Path, src: Path, landing: Path): Unit = {
    val put = cycle.resolve("put")
    if (Files.isDirectory(put)) Files.list(put).iterator().asScala.foreach { f =>
      Files.copy(f, src.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
    val del = cycle.resolve("delete.txt")
    if (Files.exists(del)) Files.readAllLines(del, UTF_8).asScala
      .filter(_.nonEmpty).foreach(n => Files.delete(src.resolve(n)))
    Files.list(cycle).iterator().asScala
      .filter(_.getFileName.toString.startsWith("population_data_"))
      .foreach(f => Files.copy(f, landing.resolve(f.getFileName)))
  }
}
