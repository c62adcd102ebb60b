#!/usr/bin/env python3
"""Cross-round executor-CPU regression gate (dev/driver tool).

The r6 driver bench showed that ambient host contention can swing WALL
times by 3-5x while the per-query executor run_ms stays a faithful,
noise-robust cost signal -- and conversely that a real CPU regression
(q_assortativity would have been one) can hide inside wall noise. This
gate diffs per-query run_ms between two bench_detail files and FAILS on
any query whose cost grew more than RATIO x (and by more than FLOOR ms,
so sub-100ms jitter never trips it) unless the query is listed in
BASELINE.md's "run_ms regression ledger" section with a justification.

Usage:
  tools/bench_gate.py OLD_DETAIL NEW_DETAIL [--ratio 2.0] [--floor 300]
                      [--baseline BASELINE.md]
  tools/bench_gate.py --selftest

Exit 0 = clean (or every growth is ledgered), 1 = unexplained regression.
"""
import argparse
import json
import re
import sys


def load_runms(path):
    with open(path) as f:
        d = json.load(f)
    detail = d.get("detail", d)
    return {q: r.get("run_ms") for q, r in detail.items()
            if isinstance(r, dict) and r.get("run_ms") is not None}


# Quiet-window bands for the suite contention index (executor run_ms /
# cpu_ms over best iterations, carried in bench_detail since r9). The
# band is THREAD-COUNT-DEPENDENT (r9 measurement): quiet local[4]
# suite points sit ~1.10; quiet local[32] points ~1.85 (more executor
# threads = more blocked-not-running task time in state-store and
# memory-bound stages even on an idle, 0.7%-steal host -- isolated
# walls are EQUAL across configs while run_ms doubles). The r8 driver
# point ran 1.83 -- indistinguishable from a QUIET local[32] run,
# which is exactly why `cpus` now rides in the detail. The band does
# NOT apply to micro-SF dev smokes: at sf0.001 per-task constant
# overhead dominates cpu_ms and a quiet run reads ~2.4 -- those are
# labeled "micro-SF" instead of misclassified.
CONTENTION_QUIET_MAX = 1.35          # cpus <= 8
CONTENTION_QUIET_MAX_WIDE = 2.2      # cpus > 8 (local[32]-class)


def load_detail(path):
    with open(path) as f:
        return json.load(f)


def contention_of(d):
    """Suite contention index of a loaded detail dict: the r9+
    top-level field when present, else recomputed from per-query
    run_ms/cpu_ms."""
    if isinstance(d.get("contention"), (int, float)):
        return d["contention"]
    detail = d.get("detail", d)
    run = sum(r.get("run_ms", 0) for r in detail.values()
              if isinstance(r, dict))
    cpu = sum(r.get("cpu_ms", 0) for r in detail.values()
              if isinstance(r, dict))
    return run / cpu if cpu else None


def annotate_contention(path, label):
    """ANNOTATE (never excuse) a detail file whose suite contention
    index is outside the quiet band: the per-query run_ms gate below
    still runs unchanged -- this line just makes a contended point
    self-adjudicating in the gate output (VERDICT r8 #1)."""
    d = load_detail(path)
    c = contention_of(d)
    sf = str(d.get("sf", ""))
    cpus = d.get("cpus")
    quiet_max = (CONTENTION_QUIET_MAX_WIDE
                 if isinstance(cpus, int) and cpus > 8
                 else CONTENTION_QUIET_MAX)
    ctx = f"{sf or 'sf?'}, cpus={cpus if cpus is not None else '?'}"
    if c is None:
        print(f"CONTENTION {label} ({ctx}): index unavailable (no cpu_ms)")
        return
    if "sf0.001" in sf or "sf0.01" in sf:
        band = ("micro-SF point (band uncalibrated: per-task constant "
                "overhead dominates cpu at this scale)")
    elif cpus is None and c > CONTENTION_QUIET_MAX:
        band = (f"above the local[4] quiet band ({CONTENTION_QUIET_MAX}) "
                "but cpus unknown (pre-r9 detail): a quiet local[32] run "
                "reads ~1.85 -- config and host load are not separable "
                "for this point")
    elif c <= quiet_max:
        band = f"QUIET (thread-count band <= {quiet_max})"
    else:
        band = (f"CONTENDED (> {quiet_max} quiet band for this thread "
                "count; wall totals reflect host load, run_ms stays "
                "the cost signal)")
    print(f"CONTENTION {label} ({ctx}): run/cpu = {c:.2f} -> {band}")


def ledger_entries(baseline_path):
    """Query names listed under the 'run_ms regression ledger' heading
    (one bullet per query: `- q_name: justification`)."""
    try:
        text = open(baseline_path).read()
    except OSError:
        return set()
    m = re.search(r"run_ms regression ledger(.*?)(?:\n#|\Z)", text,
                  re.IGNORECASE | re.DOTALL)
    if not m:
        return set()
    return set(re.findall(r"^[-*]\s*`?(q_\w+)`?", m.group(1), re.MULTILINE))


# Measured quiet-window host-speed band (BASELINE.md #13): identical
# code reads 20-30% apart between quiet windows, <0.1% within one. The
# normalization factor is CLAMPED to this band (ADVICE r9): an
# unbounded factor would let a genuine uniform code regression (every
# query 2x slower -> w=2.0) be divided out entirely and the gate pass
# on a printed WINDOW line. Outside the band the clamped residual
# surfaces per-query AND a suite-wide pseudo-regression
# (`q_suite_window_factor`) fails the gate unless ledgered.
WINDOW_BAND = (0.70, 1.35)


def window_factor(old, new):
    """Median new/old run_ms ratio over the shared non-trivial queries:
    the host's BETWEEN-WINDOWS speed factor. Returns the RAW median;
    callers clamp to WINDOW_BAND before normalizing."""
    import statistics
    ratios = [new[q] / old[q] for q in set(old) & set(new)
              if old[q] and old[q] >= 100 and new[q] is not None]
    return statistics.median(ratios) if len(ratios) >= 8 else 1.0


def gate(old, new, ratio, floor, ledger):
    regressions, explained = [], []
    w_raw = window_factor(old, new)
    w = min(max(w_raw, WINDOW_BAND[0]), WINDOW_BAND[1])
    if abs(w_raw - 1.0) > 0.05:
        print(f"WINDOW factor {w_raw:.2f}x (median run_ms ratio over shared "
              f"queries), gating at clamped {w:.2f}x "
              f"(quiet band {WINDOW_BAND[0]}-{WINDOW_BAND[1]})")
    if not (WINDOW_BAND[0] <= w_raw <= WINDOW_BAND[1]):
        line = (f"q_suite_window_factor: median run_ms ratio {w_raw:.2f}x "
                f"outside the measured quiet-window band "
                f"{WINDOW_BAND[0]}-{WINDOW_BAND[1]} -- a uniform "
                f"suite-wide cost change, not host-window variance")
        (explained if "q_suite_window_factor" in ledger
         else regressions).append(line)
    for q in sorted(set(old) & set(new)):
        o, n = old[q], new[q] / w
        if n > o * ratio and n - o > floor:
            line = (f"{q}: run_ms {o} -> {new[q]} "
                    f"({new[q] / max(o, 1):.1f}x raw, "
                    f"{n / max(o, 1):.1f}x window-normalized)")
            (explained if q in ledger else regressions).append(line)
    # a query that VANISHED from the new detail (renamed, or erroring:
    # load_runms drops entries without run_ms) is the worst regression
    # there is -- it must not read as "clean"
    for q in sorted(set(old) - set(new)):
        line = f"{q}: present in old detail, missing from new (renamed or failing?)"
        (explained if q in ledger else regressions).append(line)
    return regressions, explained


def selftest():
    old = {"q_a": 1000, "q_b": 50, "q_c": 4000, "q_d": 100}
    new = {"q_a": 2900, "q_b": 140, "q_c": 4100, "q_d": 310}
    # q_a: 2.9x and +1900ms -> must trip. q_b: 2.8x but only +90ms
    # (under floor) -> jitter, pass. q_c: +100ms, ratio ~1x -> pass.
    # q_d: 3.1x, +210ms under the 300 floor -> pass. (Too few shared
    # queries for a window factor -> raw gating.)
    r, e = gate(old, new, 2.0, 300, set())
    assert r and r[0].startswith("q_a: run_ms 1000 -> 2900 (2.9x"), r
    assert len(r) == 1, r
    # the same planted regression must pass once ledgered
    r2, e2 = gate(old, new, 2.0, 300, {"q_a"})
    assert r2 == [] and len(e2) == 1, (r2, e2)
    # a query that disappears (errors out / renamed) must trip too
    r3, _ = gate(old, {k: v for k, v in new.items() if k != "q_c"},
                 2.0, 300, {"q_a"})
    assert any("q_c" in x and "missing" in x for x in r3), r3
    # window normalization: a uniform 1.3x host-window slowdown (inside
    # the quiet band) across >= 8 shared queries must NOT trip; a
    # genuine 4x shape outlier on top of it MUST still trip
    base = {f"q_{i}": 1000 + 37 * i for i in range(10)}
    slow = {q: int(v * 1.3) for q, v in base.items()}
    r4, _ = gate(base, slow, 2.0, 300, set())
    assert r4 == [], r4
    slow["q_3"] = base["q_3"] * 4
    r5, _ = gate(base, slow, 2.0, 300, set())
    assert len(r5) == 1 and r5[0].startswith("q_3:"), r5
    # clamp (ADVICE r9): a uniform 2x suite-wide regression must NOT be
    # absorbed by the window factor -- the suite-wide pseudo-regression
    # trips the gate, and a ledger entry is the only way past it
    double = {q: v * 2 for q, v in base.items()}
    r6, _ = gate(base, double, 2.0, 300, set())
    assert len(r6) == 1 and r6[0].startswith("q_suite_window_factor:"), r6
    r7, e7 = gate(base, double, 2.0, 300, {"q_suite_window_factor"})
    assert r7 == [] and len(e7) == 1, (r7, e7)
    # contention index: top-level field wins; recompute path works; the
    # quiet/contended band boundary reads correctly
    import tempfile, os
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"contention": 1.83, "detail": {}}, f)
        p1 = f.name
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump({"detail": {"q_a": {"run_ms": 110, "cpu_ms": 100}}}, f)
        p2 = f.name
    # records carrying the per-stage and streaming profile: the gate
    # must read the query's own run_ms and cpu_ms, never a nested
    # stage's or the stream's durationMs sums
    profiled = {"detail": {
        "q_a": {"run_ms": 900, "cpu_ms": 800,
                "stages": [{"id": 7, "site": "save at Bench.scala:1",
                            "tasks": 4, "run_ms": 600, "cpu_ms": 500}]},
        "q_stream_x": {"run_ms": 300, "cpu_ms": 200, "stages": [],
                       "stream": {"batches": 2, "duration_ms": {
                           "addBatch": 250, "triggerExecution": 400}}}}}
    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
        json.dump(profiled, f)
        p3 = f.name
    try:
        assert contention_of(load_detail(p1)) == 1.83
        assert abs(contention_of(load_detail(p2)) - 1.1) < 1e-9
        assert contention_of(load_detail(p1)) > CONTENTION_QUIET_MAX
        assert contention_of(load_detail(p2)) <= CONTENTION_QUIET_MAX
        assert load_runms(p3) == {"q_a": 900, "q_stream_x": 300}, \
            load_runms(p3)
        assert abs(contention_of(load_detail(p3)) - 1.2) < 1e-9
    finally:
        os.unlink(p1)
        os.unlink(p2)
        os.unlink(p3)
    print("selftest ok: planted regression caught, ledger honored, "
          "vanished query caught, contention band classified, "
          "profiled records read")
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old", nargs="?")
    ap.add_argument("new", nargs="?")
    ap.add_argument("--ratio", type=float, default=2.0)
    ap.add_argument("--floor", type=float, default=300.0,
                    help="min absolute growth in ms to count")
    ap.add_argument("--baseline", default="BASELINE.md")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.old or not a.new:
        ap.error("OLD_DETAIL and NEW_DETAIL required (or --selftest)")
    annotate_contention(a.old, "old")
    annotate_contention(a.new, "new")
    regressions, explained = gate(load_runms(a.old), load_runms(a.new),
                                  a.ratio, a.floor,
                                  ledger_entries(a.baseline))
    for line in explained:
        print(f"LEDGERED {line}")
    for line in regressions:
        print(f"REGRESSION {line}")
    if regressions:
        print(f"== {len(regressions)} unexplained run_ms regression(s); "
              f"add a 'run_ms regression ledger' entry to {a.baseline} "
              f"with the root cause, or fix the query ==")
        return 1
    print("== run_ms gate clean ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
