package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One closed-loop benchmark run in one JVM: one client, each
  * operation starts when the previous one has finished.
  *
  * {{{
  * Runner --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --work DIR [--queries q1,q2,...] [--input DIR]
  * }}}
  *
  * Writes `run.json` under `--work`: set-up time, one record per
  * operation (start, wall, process CPU, ok/error), peak RSS and live
  * memory, and, when traced, the spans, per-operation layer counters
  * and job intervals.
  * `run.py` turns it into the benchmark's metrics and checks the
  * outputs it names.
  */
object Runner {

  final case class Op(id: Int, name: String, pass: Int, startMs: Long,
                      wallS: Double, cpuS: Double, err: Option[String])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** The graft.Bench close config: local[4], 4 shuffle partitions. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Time one operation. A throwing operation keeps its real elapsed
    * wall and its error text; the loop goes on.
    */
  def timeOp(spark: SparkSession, trace: Trace, id: Int, name: String,
             pass: Int)(body: => Unit): Op = {
    trace.beginOp(id)
    val cg0 = codegen()
    val startMs = System.currentTimeMillis()
    val c0 = cpuNs(); val t0 = System.nanoTime()
    val err = try { trace.span(s"op.$name")(body); None }
      catch { case NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9
    if (trace.enabled) {
      val cg1 = codegen()
      trace.add("spark.codegen_ms", (cg1._1 - cg0._1) / 1e6)
      trace.add("spark.codegen_n", (cg1._2 - cg0._2).toDouble)
      trace.drain(spark)
      val sc = spark.sparkContext
      trace.add("graph.persisted_rdds", sc.getPersistentRDDs.size.toDouble)
      trace.add("graph.held_mb", sc.getRDDStorageInfo
        .map(r => r.memSize + r.diskSize).sum / Trace.MB)
      trace.endOp()
    }
    Op(id, name, pass, startMs, wall, cpu, err)
  }

  /** (total codegen compile ns, compile count) so far in this JVM. */
  private def codegen(): (Long, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = new Trace(opt("trace") == "1")
    val dataDir = opt("data")
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    // Set-up is JVM start to a ready session (session_s), then the
    // workload's warm-up (prep_s).
    val extra = mutable.LinkedHashMap[String, String]()
    val spark = session()
    extra("session_s") = Jsn.num((System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    trace.install(spark)
    val prep0 = System.currentTimeMillis()
    val ready = () =>
      extra("prep_s") = Jsn.num((System.currentTimeMillis() - prep0) / 1000.0)
    // live memory is read when the timed loop ends, before the untimed
    // work that follows it (the last result capture)
    var live = (0.0, 0.0)
    val loopDone = () => live = liveMemoryMb()
    val ops: Seq[Op] = workload match {
      case "queries" =>
        QueryLoop.run(spark, trace, opt("queries").split(',').toSeq, seed,
          seconds, dataDir, work, ready, loopDone)
      case "daily_pipeline" =>
        DailyPipeline.run(spark, trace, seconds, opt("input"), work, ready, loopDone,
          extra)
      case w => sys.error(s"unknown workload $w")
    }
    val rssMb = peakRssMb()
    val (heapMb, nonHeapMb) = live
    spark.stop()
    val json = new StringBuilder("{")
    json ++= s""""workload":${Jsn.str(workload)},"rss_peak_mb":${Jsn.num(rssMb)},""" +
      s""""mem_live_mb":${Jsn.num(heapMb + nonHeapMb)},""" +
      s""""heap_live_mb":${Jsn.num(heapMb)},"non_heap_mb":${Jsn.num(nonHeapMb)},"""
    extra.foreach { case (k, v) => json ++= s"${Jsn.str(k)}:$v," }
    json ++= ops.map { o =>
      s"""{"id":${o.id},"name":${Jsn.str(o.name)},"pass":${o.pass},"start_ms":${o.startMs},""" +
      s""""wall_s":${Jsn.num(o.wallS)},"cpu_s":${Jsn.num(o.cpuS)},""" +
      s""""err":${o.err.map(Jsn.str).getOrElse("null")}}"""
    }.mkString(""""ops":[""", ",", "],")
    json ++= trace.spans.map { s =>
      s"[${s.id},${s.parent},${s.op},${Jsn.str(s.name)},${s.startNs},${s.endNs}]"
    }.mkString(""""spans":[""", ",", "],")
    json ++= trace.jobIntervals.toSeq.sortBy(_._1).map { case (o, ivs) =>
      s""""$o":""" + ivs.map { case (a, b) => s"[$a,$b]" }.mkString("[", ",", "]")
    }.mkString(""""jobs":{""", ",", "},")
    json ++= trace.counters.toSeq.sortBy(_._1).map { case (o, m) =>
      s""""$o":""" + m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Jsn.str(k)}:${Jsn.num(v)}" }.mkString("{", ",", "}")
    }.mkString(""""layers":{""", ",", "}}")
    Files.write(Paths.get(work, "run.json"), json.toString.getBytes(UTF_8))
  }

  /** Memory the process retains: heap in use after a full collection,
    * and non-heap in use (metaspace, JIT code cache), in MiB. Unlike
    * the resident peak, it does not depend on when the collector chose
    * to grow the heap.
    */
  def liveMemoryMb(): (Double, Double) = {
    // the first collection queues Spark's weakly held state (shuffles,
    // broadcasts, RDDs) for its cleaner thread; the second reclaims what
    // the cleaner let go of in between
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed / Trace.MB, m.getNonHeapMemoryUsage.getUsed / Trace.MB)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.replaceAll("[^0-9]", "").toLong / 1024.0
  }
}

object Jsn {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, "%.6f", java.lang.Double.valueOf(d))
}
