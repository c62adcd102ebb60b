package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Driver-run benchmark. Emits ONE JSON line:
  *
  * {{{
  * {"metric":"total","value":<sum of per-query best walls>,"unit":"sec",
  *  "queries":{name: best-of-N wall sec, ...},   // HEADLINE subset only
  *  "sf": dir, "n_queries":<all queries timed>, "iters":N,
  *  "method":"min_of_iters",
  *  "run_ms_total":N, "cpu_ms_total":N, "contention":R,
  *                     // suite contention index: executor run/cpu over
  *                     // best iterations; quiet ≈ 1.1, a contended
  *                     // host point self-reports (r8 breach: 1.83)
  *  "detail_file":"bench_detail.json",
  *  "n_errors":N,                                // only when queries failed
  *  "errors":{name: msg, ...}}  // at most 3 inline, each reduced to
  *                              // printable ASCII and cut to 60 chars;
  *                              // untruncated messages are in the
  *                              // detail file's errors key
  * }}}
  *
  * The stdout line is deliberately COMPACT (~1 KB): the driver captures
  * only the tail of the build output (observed: last 2000 chars), and
  * rounds 1–2 both recorded `parsed: null` because the full 87-query
  * line (~14 KB with per-iteration detail) started before that window.
  * `value` still totals ALL queries; the `queries` map carries a fixed
  * headline subset for trend comparison, and the COMPLETE per-query
  * walls + task metrics go to `detail_file` (written in the working
  * directory, i.e. the repo root when run via sbt).
  *
  * Round-2 redesign, after BENCH_r01's instability (per-query swings up
  * to ~50× between driver/judge runs, stalls landing on RANDOM queries):
  *  - each query runs `SPARK_GRAFT_ITERS` (default 3) times and reports
  *    the MINIMUM wall — the standard defense when the environment
  *    injects multi-second stalls unrelated to plan cost; per-iteration
  *    walls are kept in `detail` so a stall is visible, not hidden;
  *  - a SparkListener accumulates task metrics (executorRunTime,
  *    executorCpuTime, jvmGCTime, task count) per query, reported from
  *    the best iteration: a query whose wall ≫ task run time stalled
  *    outside Spark (scheduler/JVM/host); run ≫ cpu means the executor
  *    threads were starved or blocked, gc isolates collector pauses;
  *  - each detail record carries the best iteration's top 3 stages by
  *    executor run time (`stages`), and a row that drives a stream
  *    carries the engine's per-batch `durationMs` sums (`stream`), so a
  *    query's wall is attributable from the bench's own output:
  *    `SPARK_GRAFT_ONLY=q_x SPARK_GRAFT_ITERS=2 sbt "runMain graft.Bench"`
  *    is the profiling recipe;
  *  - failures are LOUD: a throwing query records its actual elapsed
  *    wall (never a fake fast time) plus the exception in `errors`, and
  *    the process exits 0 only because a partial bench is still useful
  *    to the driver — the `errors` key is the honesty signal.
  */
object Bench {

  /** One completed stage. `site` is the first graft frame of the
    * stage's call site outside this harness (the operator that launched
    * a construction-time job), else Spark's short name — `save at
    * Bench.scala:N` for the timed write's own stages.
    */
  final case class StageRow(id: Int, site: String, tasks: Int,
                            runMs: Long, cpuMs: Long)

  /** A query's streaming drains: per-key sums of each micro-batch's
    * `durationMs` (triggerExecution = whole batch; addBatch = the data
    * job; getBatch, latestOffset, queryPlanning, walCommit and
    * commitOffsets are per-batch machinery no plan change can remove —
    * BASELINE §20) and the batch count.
    */
  final case class StreamRow(batches: Int, durationMs: Map[String, Long])

  /** Accumulates executor-side task metrics between snapshots, plus the
    * completed stages and stream batches between [[takeProfile]] calls.
    */
  final class MetricsListener extends SparkListener {
    val runMs = new LongAdder; val cpuNs = new LongAdder
    val gcMs = new LongAdder; val tasks = new LongAdder
    // Variance-attribution evidence (VERDICT r11 #2): the sf10
    // q_item_sim walls swung 47.7–136 s on identical config with
    // cpu_ms itself tripling, and "external host load" could not be
    // distinguished from a real mechanism (stage retries re-running
    // work, memory pressure forcing spills + re-reads) because the
    // detail JSON carried neither. These five counters settle it per
    // query: a quiet run shows zero retries/failures and stable spill;
    // a host-load run shows the SAME zeros with only wall inflated; a
    // memory-pressure run shows spill growth; a retry storm shows
    // retried>0 with run_ms inflated by the re-executed tasks.
    val spillMemB = new LongAdder; val spillDiskB = new LongAdder
    val shufReadB = new LongAdder; val shufWriteB = new LongAdder
    val retried = new LongAdder // speculative/retried task attempts
    val failed = new LongAdder  // tasks ending in a non-success reason
    // whole-stage resubmissions (fetch failure): their tasks run at
    // attemptNumber 0, so the task counter alone would miss them
    val stageRetries = new LongAdder
    override def onStageSubmitted(
        s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      if (s.stageInfo.attemptNumber > 0) stageRetries.increment()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        tasks.increment()
        spillMemB.add(m.memoryBytesSpilled)
        spillDiskB.add(m.diskBytesSpilled)
        shufReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shufWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      }
      if (t.taskInfo != null) {
        if (t.taskInfo.attemptNumber > 0) retried.increment()
        // genuine failures only: `killed` covers speculative duplicates
        // and tasks reaped when a sibling stage fails — counting them
        // via !successful would inflate the failure evidence
        if (t.taskInfo.failed) failed.increment()
      }
    }
    private val stageRows = new ConcurrentLinkedQueue[StageRow]
    private val batches =
      new ConcurrentLinkedQueue[java.util.Map[String, java.lang.Long]]
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stageRows.add(StageRow(si.stageId,
        si.details.linesIterator.map(_.trim)
          .find(l => l.startsWith("graft.") && !l.startsWith("graft.Bench"))
          .getOrElse(si.name).take(160),
        si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L))
    }
    /** The streaming half; [[attach]] registers it with the session. */
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.add(e.progress.durationMs)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    def attach(spark: SparkSession): this.type = {
      spark.sparkContext.addSparkListener(this)
      spark.streams.addListener(streams)
      this
    }
    /** Top 3 stages by run time and the stream sums (None when no
      * batch ran) since the previous call, which they are cleared by.
      */
    def takeProfile(): (Seq[StageRow], Option[StreamRow]) = {
      def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
        Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
      val bs = drain(batches)
      val stream = if (bs.isEmpty) None else Some(StreamRow(bs.size,
        bs.flatMap(_.asScala).groupMapReduce(_._1)(_._2.longValue)(_ + _)))
      (drain(stageRows).sortBy(-_.runMs).take(3), stream)
    }
    def snap: Array[Long] =
      Array(runMs.sum, cpuNs.sum / 1000000L, gcMs.sum, tasks.sum,
        spillMemB.sum >> 20, spillDiskB.sum >> 20,
        shufReadB.sum >> 20, shufWriteB.sum >> 20,
        retried.sum, failed.sum, stageRetries.sum)
  }

  /** `codegenN` / `jitMs`: per-iteration deltas of the whole-stage-
    * codegen compilation COUNT (CodegenMetrics, exact) and the JVM
    * JIT's total compile time (CompilationMXBean) — the round-4 r3→r4
    * forensics: q_agg_sum/q_join_salted swung 2.4–3.5× run-to-run
    * with identical plans, and BASELINE.md §4's collation stall showed
    * the mechanism is compile-queue pressure landing on whichever
    * query runs while C2 is busy. These two columns attribute a slow
    * ITERATION to "new codegen in this iteration" vs "JIT background
    * load", instead of leaving the spread unexplained.
    */
  final case class QueryResult(best: Double, walls: Seq[Double],
                               metrics: Array[Long], err: Option[String],
                               codegenN: Seq[Long] = Nil,
                               jitMs: Seq[Long] = Nil,
                               okFlags: Seq[Boolean] = Nil,
                               stages: Seq[StageRow] = Nil,
                               stream: Option[StreamRow] = None) {
    /** No iteration succeeded — the query is genuinely broken, as
      * opposed to a transient flake (err set, but a later iteration
      * succeeded and supplied the wall/metrics).
      */
    def hardFailed: Boolean = okFlags.nonEmpty && !okFlags.exists(identity)
  }

  /** Best-effort listener drain: `LiveListenerBus.waitUntilEmpty` has a
    * built-in 10 s timeout that THROWS — under exactly the stall
    * conditions this harness measures. Metrics being slightly stale is
    * acceptable; aborting the bench (or mislabeling a successful query
    * as failed) is not.
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try ListenerBridge.waitUntilListenerBusEmpty(spark.sparkContext)
    catch {
      // interrupts must not be silently eaten — restore the flag
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => ()
    }

  /** Compile-pressure snapshot: (codegen compilations so far, JVM JIT
    * total compile ms so far). Count from the codahale histogram is
    * exact; the JIT bean can be absent on exotic JVMs → -1 sentinel.
    */
  private def compileSnap(): (Long, Long) = {
    val cg = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    val bean = java.lang.management.ManagementFactory.getCompilationMXBean
    val jit = if (bean != null && bean.isCompilationTimeMonitoringSupported)
      bean.getTotalCompilationTime else -1L
    (cg, jit)
  }

  /** Run one query `iters` times; min wall + metrics over the
    * SUCCESSFUL iterations (a transient failure must not contribute a
    * fake-fast wall). If every iteration fails, the reported wall is
    * the MAXIMUM elapsed — a broken query must never look fast — and
    * the exception is carried in `err`.
    */
  def runQuery(spark: SparkSession, listener: MetricsListener, iters: Int)
              (run: () => Unit): QueryResult = {
    var err: Option[String] = None
    final case class Iter(wall: Double, metrics: Array[Long], ok: Boolean,
                          cg: Long, jit: Long,
                          profile: (Seq[StageRow], Option[StreamRow]))
    val runs = (1 to iters).map { _ =>
      // Harness hygiene, not caching: drop the previous run's leaked
      // localCheckpoint round state (pinned session caches excepted)
      // BEFORE the timer starts — each iteration reconstructs its
      // DataFrame from the parquet inputs, so no measured work is
      // ever reused; the checkpoint WRITE stays inside the timed
      // region. See IterState.releaseAllExceptPinned for the r13
      // eviction-churn forensics that motivated this.
      graft.graph.IterState.releaseAllExceptPinned(spark)
      drainListenerBus(spark)
      val before = listener.snap
      listener.takeProfile() // drop what earlier work left behind
      val (cg0, jit0) = compileSnap()
      def jitDelta(jit1: Long) =
        if (jit0 < 0 || jit1 < 0) -1L else jit1 - jit0
      val t0 = System.nanoTime()
      try {
        run()
        val wall = (System.nanoTime() - t0) / 1e9
        drainListenerBus(spark)
        val after = listener.snap
        val (cg1, jit1) = compileSnap()
        Iter(wall, after.zip(before).map { case (a, b) => a - b }, true,
          cg1 - cg0, jitDelta(jit1), listener.takeProfile())
      } catch {
        // NonFatal only: an OOM/StackOverflow corrupts the JVM — every
        // later query's wall would be garbage published as a valid
        // measurement. Let fatal errors kill the bench; partial-bench
        // behavior is for QUERY failures.
        case scala.util.control.NonFatal(e) =>
          err = Some(s"${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
          val (cg1, jit1) = compileSnap()
          Iter((System.nanoTime() - t0) / 1e9, Array(0L, 0L, 0L, 0L), false,
            cg1 - cg0, jitDelta(jit1), (Nil, None))
      }
    }
    val ok = runs.filter(_.ok)
    val best = if (ok.nonEmpty) ok.minBy(_.wall) else runs.maxBy(_.wall)
    QueryResult(best.wall, runs.map(_.wall), best.metrics, err,
      runs.map(_.cg), runs.map(_.jit), runs.map(_.ok),
      best.profile._1, best.profile._2)
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    // Locale.ROOT: the f-interpolator uses the default locale, which
    // can emit comma decimals (invalid JSON) on non-English JVMs
    else String.format(java.util.Locale.ROOT, "%.6f",
      java.lang.Double.valueOf(d))

  /** Fixed headline subset for the compact stdout line: the scans,
    * shuffles, and joins that dominate cost plus one representative per
    * operator family. Fixed (not "top-k slowest") so the per-round
    * trend in BENCH_r{N}.json compares the same queries every round.
    */
  private val headline: Seq[String] = Seq(
    "q_curate", "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_clusters", "q_dedup_incremental",
    "q_emb_neardup_lsh", "q_knn_brute", "q_knn_ivf", "q_kmeans_cells",
    "q_rrf_fusion", "q_contamination", "q_centroid", "q_tfidf",
    "q_lang_id", "q_token_counts", "q_chunks", "q_pack", "q_agg_sum",
    "q_join_salted", "q_star_join", "q_window", "q_sessionize",
    "q_events_hourly", "q_unpivot", "q_subquery", "q_topk_group")

  private def jsonStr(s: String): String = Json.str(s)

  /** Physical-form DUPLICATES of a core query (VERDICT r12 #8): same
    * relational semantics (most share the core row's oracle verbatim),
    * alternate plan for a different scale regime — salted vs plain,
    * bucketed/persisted vs broadcast, prod-config vs capped anchor,
    * transformWithState vs session_window. They must stay in the suite
    * (each is plan-gated evidence), but the compact line now carries
    * `core_sec`/`variant_sec` subtotals so the 2× gate's trend keeps
    * measuring ONE semantic surface as more dual forms land.
    * Incremental legs (q_*_incr, q_curate_v2) are NOT variants — an
    * incremental maintenance pass is its own capability, not a
    * re-spelling.
    */
  private val prodVariants: Set[String] = Set(
    "q_agg_salted", "q_asof_native", "q_item_sim_bucketed",
    "q_item_sim_bucketed_persisted", "q_emb_neardup_lsh_prod",
    "q_semdedup_prod", "q_dedup_containment_prod",
    "q_stream_sessions_tws")

  val detailFile = "bench_detail.json"

  /** Build (compact stdout line, full detail JSON). The line MUST stay
    * inside the driver's tail-capture window (~2000 chars observed)
    * under ALL conditions — including mass query failure — or the
    * round records `parsed: null`; BenchSpec asserts the bound.
    */
  def renderOutputs(results: Seq[(String, QueryResult)], sfDir: String,
                    iters: Int, cpus: Int = 4,
                    calib: Option[(Int, Seq[(String, QueryResult)])] = None)
  : (String, String) = {
    val total = results.map(_._2.best).sum
    // Suite-level contention index (VERDICT r8 #1): total executor
    // run_ms vs cpu_ms over every query's BEST iteration. The quiet
    // band is THREAD-COUNT-DEPENDENT (r9 measurement): local[4]
    // quiet points sit ≈ 1.10, local[32] quiet points ≈ 1.85 (more
    // threads = more blocked-not-running task time in state-store /
    // memory-bound stages even on an idle host — isolated q_stream_
    // join walls are EQUAL across configs while run_ms doubles).
    // That is why `cpus` rides next to the ratio: a 1.8 at cpus=32
    // is a quiet point, a 1.8 at cpus=4 is genuine host contention
    // (the r6/r8 forensics signature). Carrying both IN the parsed
    // line makes a driver point self-adjudicating.
    val runMsTotal = results.map(_._2.metrics(0)).sum
    val cpuMsTotal = results.map(_._2.metrics(1)).sum
    val contention =
      if (cpuMsTotal > 0) runMsTotal.toDouble / cpuMsTotal else Double.NaN
    val byName = results.toMap
    val qs = headline.flatMap(k => byName.get(k).map(r =>
        s"${jsonStr(k)}:${jsonNum(r.best)}"))
      .mkString("{", ",", "}")
    // single source of truth for failures; line and detail derive from
    // it. The LINE counts only HARD failures (no iteration succeeded):
    // a transient flake still has a valid best wall and full metrics,
    // and labeling it broken inverts the honesty signal — its error
    // text and per-iteration ok flags stay visible in the detail file.
    val failures: Seq[(String, String)] =
      results.collect { case (k, r) if r.hardFailed =>
        k -> r.err.getOrElse("unknown failure") }
    val errs = failures.map { case (k, m) => s"${jsonStr(k)}:${jsonStr(m)}" }
    // stdout line must hold the window even when queries fail: at most
    // 3 errors inline, each reduced to printable ASCII BEFORE the
    // 60-char cut so jsonStr escaping cannot expand past the budget
    // (control chars escape 6x; surrogate pairs must not be split);
    // full messages live in the detail file.
    def brief(m: String): String =
      m.filter(c => c >= ' ' && c <= '~' && c != '"' && c != '\\').take(60)
    val errsBrief = failures.map { case (k, m) =>
      s"${jsonStr(k)}:${jsonStr(brief(m))}" }
    val detail = results.map { case (k, r) =>
      val walls = r.walls.map(jsonNum).mkString("[", ",", "]")
      val cg = r.codegenN.mkString("[", ",", "]")
      val jit = r.jitMs.mkString("[", ",", "]")
      // per-iteration ok flags: a fast-FAILING iteration's wall is
      // otherwise indistinguishable from a fast successful run when
      // reading the wall array for stall forensics
      val ok = r.okFlags.mkString("[", ",", "]")
      val errPart = r.err.map(m => s""","err":${jsonStr(m)}""").getOrElse("")
      // evidence fields ride only when the listener supplied them —
      // length-safe so spec-built 4-element metric arrays stay valid
      val evidence = if (r.metrics.length > 10)
        s""","spill_mem_mb":${r.metrics(4)},""" +
        s""""spill_disk_mb":${r.metrics(5)},""" +
        s""""shuf_read_mb":${r.metrics(6)},""" +
        s""""shuf_write_mb":${r.metrics(7)},""" +
        s""""retried":${r.metrics(8)},"failed":${r.metrics(9)},""" +
        s""""stage_retries":${r.metrics(10)}"""
      else ""
      val stages = r.stages.map(st =>
        s"""{"id":${st.id},"site":${jsonStr(st.site)},"tasks":${st.tasks},""" +
          s""""run_ms":${st.runMs},"cpu_ms":${st.cpuMs}}""")
        .mkString("[", ",", "]")
      val stream = r.stream.map { sr =>
        val ms = sr.durationMs.toSeq.sorted
          .map { case (key, v) => s"${jsonStr(key)}:$v" }.mkString("{", ",", "}")
        s""","stream":{"batches":${sr.batches},"duration_ms":$ms}"""
      }.getOrElse("")
      s"${jsonStr(k)}:{" +
        s""""best":${jsonNum(r.best)},"wall":$walls,"ok":$ok,""" +
        s""""run_ms":${r.metrics(0)},""" +
        s""""cpu_ms":${r.metrics(1)},"gc_ms":${r.metrics(2)},""" +
        s""""tasks":${r.metrics(3)}$evidence,""" +
        s""""codegen_n":$cg,"jit_ms":$jit,"stages":$stages$stream$errPart}"""
    }.mkString("{", ",", "}")
    val errPart =
      if (errs.isEmpty) "" else s""","errors":${errs.mkString("{", ",", "}")}"""
    val errPartBrief =
      if (errsBrief.isEmpty) ""
      else s""","n_errors":${errsBrief.size},"errors":""" +
        errsBrief.take(3).mkString("{", ",", "}")
    // Same-window close-config point (VERDICT r10 #6): when the driver
    // runs at cpus=32, the 2x gate was adjudicated through a DOCUMENTED
    // ~1.76x thread band — fragile. The calib leg re-times the headline
    // subset at local[4]/partitions=4 (the close config) in the SAME
    // process and window, so the line carries a measured, not asserted,
    // cross-config bridge: calib.sec is directly comparable to the
    // BENCH_DETAIL_r*_close headline sums.
    val calibLine = calib.map { case (ccpus, cres) =>
      val csec = cres.map(_._2.best).sum
      s""","calib":{"cpus":$ccpus,"sec":${jsonNum(csec)},"n":${cres.size}}"""
    }.getOrElse("")
    val calibDetail = calib.map { case (ccpus, cres) =>
      val csec = cres.map(_._2.best).sum
      val cqs = cres.map { case (k, r) =>
        s"${jsonStr(k)}:${jsonNum(r.best)}" }.mkString("{", ",", "}")
      s""","calib":{"cpus":$ccpus,"sec":${jsonNum(csec)},"queries":$cqs}"""
    }.getOrElse("")
    val variantSec = results.collect {
      case (k, r) if prodVariants(k) => r.best }.sum
    val nVariants = results.count(r => prodVariants(r._1))
    val subtotals =
      s""""core_sec":${jsonNum(total - variantSec)},""" +
      s""""variant_sec":${jsonNum(variantSec)},"n_variants":$nVariants,"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      subtotals +
      s""""sf":${jsonStr(sfDir)},"n_queries":${results.size},""" +
      s""""iters":$iters,"method":"min_of_iters","cpus":$cpus,""" +
      s""""run_ms_total":$runMsTotal,"cpu_ms_total":$cpuMsTotal,""" +
      s""""contention":${jsonNum(contention)},""" +
      s""""detail_file":${jsonStr(detailFile)}""" + calibLine +
      errPartBrief + "}"
    val detailJson =
      s"""{"total":$total,$subtotals"sf":${jsonStr(sfDir)},"iters":$iters,""" +
      s""""cpus":$cpus,""" +
      s""""run_ms_total":$runMsTotal,"cpu_ms_total":$cpuMsTotal,""" +
      s""""contention":${jsonNum(contention)}$calibDetail,""" +
      s""""detail":$detail$errPart}"""
    (line, detailJson)
  }

  def main(args: Array[String]): Unit = {
    val sfDirRaw = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    // shuffle width defaults to the thread count (the harness contract)
    // but can be scaled independently for scale-factor legs: the §12
    // sf1 probe runs with partitions sized to the data, not the box,
    // exactly as a real deployment would
    val parts = sys.env.get("SPARK_GRAFT_PARTITIONS").map(_.toInt).getOrElse(cpus)
    val spark = GraftSession.local(cpus, parts)
    val listener = new MetricsListener().attach(spark)

    // Warm the JVM/codegen/parquet-reader paths so the first timed query
    // doesn't absorb one-time startup cost (JIT, codegen compiler init).
    // GUARDED: the stdout line is the primary contract — a missing or
    // corrupt warm-up file must degrade to a cold first query, never
    // abort the bench before a single timed query ran.
    try {
      spark.read.parquet(s"$sfDirRaw/nation.parquet")
        .groupBy("n_regionkey").count().count()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up skipped: $e") }
    // Warm the collation-aware string paths: Spark 4 routes case mapping
    // of NON-ASCII strings through ICU (ASCII takes a fast path that
    // never loads the class), and the CollationAwareUTF8String static
    // init was observed (jstack, round 2) burning 60–250 s of CPU when
    // it runs interpreted under C2 compile-queue pressure — landing in
    // whichever TIMED query first touched non-ASCII text was the
    // round-1 "random 30–90 s stall". Pay it here, untimed, with
    // inputs that actually cross the ASCII boundary (Latin-1, CJK,
    // Greek, Cyrillic).
    spark.range(2).selectExpr(
      "count(distinct lower(concat('Äß宇Ω', id)))",
      "count(distinct upper(concat('éñ的д', id)))",
      "count(distinct initcap(concat('über 北京 σπ', id)))",
      "count(if(contains(concat('xÄ', id), 'Ä'), 1, null))",
      "count(if(startswith(concat('Öx', id), 'Ö'), 1, null))",
      "count(if(endswith(concat('xµ', id), 'µ'), 1, null))",
      "count(distinct replace(concat('aÅ b', id), ' ', '_'))",
      "count(distinct split(concat('aé bé', id), ' ')[0])",
      "count(distinct trim(concat(' aβ ', id)))").count()

    // Dev-only focus filter (comma-separated names); the driver never
    // sets it, so round benches always time the full surface. A typo'd
    // name silently matching nothing would masquerade as a fast run —
    // warn loudly.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[bench] SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    // Timing executes via a noop-format WRITE, not count(): under a
    // bare count aggregate Catalyst prunes every projected expression
    // and eliminates final sorts, so projection-shaped queries (md5,
    // math/date/string function families) were timed as bare row-count
    // scans — measured 0.21 s vs 2.40 s real cost for q_math_funcs at
    // sf0.1. The noop sink forces every output column's computation
    // and discards rows executor-side (no driver collect, no disk).
    // Methodology v2 — totals are NOT comparable with pre-r5-close
    // points (BASELINE.md §6 carries the bridge).
    val results: Seq[(String, QueryResult)] =
      SparkEntry.queries.toSeq
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          name -> runQuery(spark, listener, iters)(() =>
            fn(spark, sfDirRaw).write.format("noop").mode("overwrite").save())
        }

    // Calibration leg (VERDICT r10 #6): when the main run is NOT at the
    // close config (local[4]), re-time the fixed headline subset at
    // local[4]/partitions=4 in this same JVM so the emitted point is
    // interpretable without a documented thread-band factor. Dev
    // subsets (SPARK_GRAFT_ONLY) skip it; SPARK_GRAFT_CALIB=0 opts out.
    val calib: Option[(Int, Seq[(String, QueryResult)])] =
      if (cpus == 4 || only.nonEmpty ||
          sys.env.get("SPARK_GRAFT_CALIB").contains("0")) None
      else {
        spark.stop()
        val cs = GraftSession.local(4, 4)
        val cl = new MetricsListener().attach(cs)
        val cres = headline
          .flatMap(k => SparkEntry.queries.get(k).map(k -> _))
          .map { case (name, fn) =>
            name -> runQuery(cs, cl, iters = 2)(() =>
              fn(cs, sfDirRaw).write.format("noop").mode("overwrite").save())
          }
        cs.stop()
        Some((4, cres))
      }

    val (line, detailJson) = renderOutputs(results, sfDirRaw, iters,
      cpus, calib)
    // The stdout line is the primary contract — print it FIRST so a
    // detail-file write failure (non-writable cwd) can't discard the
    // whole bench after every query already ran.
    println(line)
    // Complete per-query record (all queries, per-iteration walls, task
    // metrics, untruncated errors) — too big for the driver's stdout
    // tail window, so it goes to a file the judge can read.
    // Files.write THROWS on I/O errors (PrintWriter only sets an
    // internal flag, silently truncating the file on a full disk)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(detailFile),
      (detailJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case e: Exception =>
        System.err.println(s"[bench] detail file write failed: $e")
    }
    spark.stop()
    val nErrs = results.count(_._2.err.isDefined)
    if (nErrs > 0) System.err.println(
      s"[bench] $nErrs queries FAILED — see errors key")
  }
}
