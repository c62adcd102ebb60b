package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's own mains (Bench, Verify, the
  * examples) and its test suite, so every harness measures and checks
  * the same system. Library callers bring their own session; nothing
  * here is required by the operators themselves.
  */
object GraftSession {

  /** A `local[cpus]` session with `partitions` shuffle partitions and
    * the harness config below. `getOrCreate`: while a session is
    * running it is returned with the runtime confs re-applied, and the
    * static ones (master, codegen cache) stay as first built.
    */
  def local(cpus: Int, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Whole-stage-codegen CLASS cache (static conf, default 100
      // entries): the iterative graph queries compile ~130 codegen
      // units per run — past 100 the LRU thrashes and EVERY iteration
      // recompiles the lot (r13 forensics: q_ppr_terms codegen_n
      // [128, 98, 106] across its three iterations, 6–20 s of JIT per
      // pass on a 3.4 s-run_ms query). This caches compiled CLASSES,
      // never data or results; sized to hold the suite's largest
      // query several times over.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // SURVEY §4: coercion parity with the reference (errors='coerce')
      .config("spark.sql.ansi.enabled", "false")
      // Naive parquet timestamps surface as TIMESTAMP, not NTZ — two
      // rounds of testdata `ts` re-encodings (BASELINE.md §7); the
      // type-driven repair in Tables.normalizeTs is the second belt.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // The default 60 s state-store maintenance tick snapshots EVERY
      // loaded provider — including orphans of already-completed
      // AvailableNow drains — and its cost lands on whichever query
      // happens to be running, a roaming +3–12 s run_ms tax that
      // moved between q_stream_* rows every round (measured r10:
      // streaming mini-suite run_ms 29.5 s → 15.3 s with the tick
      // stretched). Drains live ≪ 60 s, so maintenance buys them
      // nothing; one tick per hour still bounds orphaned-provider
      // memory over the longest suite run. Harness-session scope
      // only — the library never mutates a caller's session.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      // NOTE (r11, measured both ways — BASELINE §17.1): raising
      // spark.sql.objectHashAggregate.sortBased.fallbackThreshold from
      // its 128-key default looked like a free 2.6× on the typed-
      // aggregate apply stages at close scale (collect_set baskets:
      // 6.7 s → 2.5 s), but at the ×100 leg the hash path's per-group
      // OBJECT states thrash the collector (q_item_sim 64.9 → 104.8 s
      // with 605 s of GC even in a 32 GiB heap; containment 23 → 32 s)
      // where the sort fallback streams ONE state at a time. The
      // default is kept: no key-count threshold separates the two
      // regimes, and the structural fix (compute each typed aggregate
      // ONCE — see AnalyticsQueries.baskets) captures most of the win
      // at every scale.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkLogs.quietIterativeCleanup()
    spark
  }
}
