"""Output checks: each returns {key: error text} for what was wrong, and
an empty dict when every output is right. Comparisons run in DuckDB
after the JVM has exited, never inside a timed region."""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _diff(want, got, rtol=0.0):
    """None when the frames hold the same rows, else why not. Floats
    compare within `rtol` (0 means exactly); NULLs equal NULLs."""
    want, got = _norm(want), _norm(got)
    if list(want.columns) != list(got.columns):
        return f"columns {list(got.columns)}, expected {list(want.columns)}"
    if len(want) != len(got):
        return f"{len(got)} rows, expected {len(want)}"
    for c in want.columns:
        w, g = want[c], got[c]
        both_null = (w.isna() & g.isna()).to_numpy(dtype=bool)
        if pd.api.types.is_float_dtype(w) and rtol:
            same = both_null | np.isclose(w.to_numpy(dtype=float),
                                          g.to_numpy(dtype=float),
                                          rtol=rtol, atol=0.0)
        else:
            same = both_null | (w == g).fillna(False).to_numpy(dtype=bool)
        if not same.all():
            i = int(np.argmin(same))
            return f"column {c} row {i}: {g.iloc[i]!r}, expected {w.iloc[i]!r}"
    return None


def _read_parquet_dir(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


CAPTURES = ("first", "last")


def oracle(tables_dir, work, names):
    """Each query's captured results (its first run in a fresh session
    and its last, after the timed passes) against its oracle SQL in
    DuckDB."""
    oracles = json.load(open(os.path.join(work, "oracle.json")))
    con = duckdb.connect(config={"threads": 4})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    errors = {}
    for name in names:
        if name not in oracles:
            errors[name] = "no oracle SQL"
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # a failing oracle is a failed check
            errors[name] = f"oracle error {e}"
            continue
        bad = []
        for capture in CAPTURES:
            got = _read_parquet_dir(os.path.join(work, "results", capture, name))
            err = "no result captured" if got is None else _diff(want, got)
            if err:
                bad.append(f"{capture} run: {err}")
        if bad:
            errors[name] = "; ".join(bad)
    return errors


def md5_listing(root):
    """{relative path: md5} of the visible files under root (names that
    start with '.' or '_' are filesystem checksums and markers)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def mirror(src, dst):
    a, b = md5_listing(src), md5_listing(dst)
    if a == b:
        return {}
    bad = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
    return {"mirror": f"{len(bad)} files differ from the source, e.g. {bad[:3]}"}


def cdc(cdc_counts, log):
    """Each cycle's CDC action counts against the generator's mutation log."""
    errors = {}
    for cycle, counts in cdc_counts.items():
        want = log[cycle]
        got = {a: counts.get(a, 0) for a in want}
        if got != want:
            errors[cycle] = f"CDC actions {got}, generator made {want}"
    return errors


BLS_SQL = """
CREATE OR REPLACE VIEW bls AS
SELECT trim(series_id) AS series_id, TRY_CAST(trim(year) AS INTEGER) AS year,
       trim(period) AS period, TRY_CAST(trim(value) AS DOUBLE) AS value
FROM read_csv('{glob}', delim='\t', header=true, quote='', escape='',
     columns={{'series_id': 'VARCHAR', 'year': 'VARCHAR', 'period': 'VARCHAR',
              'value': 'VARCHAR', 'footnote_codes': 'VARCHAR'}})
"""
REPORT_SQL = {
    # Q05 rows stay in the sums; ties go to the smallest year
    "best_years": """
        SELECT series_id, year, value FROM (
          SELECT series_id, year, v AS value, row_number() OVER (
                 PARTITION BY series_id ORDER BY v DESC, year ASC) AS rn
          FROM (SELECT series_id, year, sum(value) AS v FROM bls
                WHERE series_id IS NOT NULL AND year IS NOT NULL
                  AND period IS NOT NULL AND value IS NOT NULL
                GROUP BY series_id, year))
        WHERE rn = 1""",
    "population_stats": """
        SELECT avg(p) AS mean_population, stddev_samp(p) AS stddev_population,
               count(p) AS n_years, list_sort(list(DISTINCT year)) AS years
        FROM (SELECT year, TRY_CAST(population AS DOUBLE) AS p FROM pop)
        WHERE year BETWEEN 2013 AND 2018 AND p IS NOT NULL""",
    # years the snapshot lacks (all before 2013) keep a NULL population
    "combined": """
        SELECT b.series_id, b.year, b.period, b.value, p.population
        FROM (SELECT * FROM bls WHERE series_id = 'PRS30006032' AND period = 'Q01') b
        LEFT JOIN (SELECT year, TRY_CAST(population AS DOUBLE) AS population
                   FROM pop WHERE TRY_CAST(population AS DOUBLE) IS NOT NULL) p
        ON b.year = p.year""",
}


def reports(mirror_dir, landing, reports_dir):
    """The last cycle's three reports against a DuckDB recomputation over
    the same files: the mirrored pr.data files and the latest snapshot."""
    latest = max(f for f in os.listdir(landing) if f.startswith("population_data_"))
    con = duckdb.connect(config={"threads": 4})
    con.execute(BLS_SQL.format(glob=os.path.join(mirror_dir, "pr.data.*")))
    rows = json.load(open(os.path.join(landing, latest)))["data"]
    con.execute("CREATE TABLE pop (year BIGINT, population BIGINT)")
    con.executemany("INSERT INTO pop VALUES (?, ?)",
                    [(r["Year"], r["Population"]) for r in rows])
    errors = {}
    for name, sql in REPORT_SQL.items():
        got = _read_parquet_dir(os.path.join(reports_dir, name))
        if got is None:
            errors[f"report {name}"] = "not written"
            continue
        want = con.execute(sql).fetchdf()
        for frame in (want, got):  # the list column compares as text
            if "years" in frame:
                frame["years"] = frame["years"].map(
                    lambda v: ",".join(str(int(x)) for x in v))
        err = _diff(want, got, rtol=1e-9)
        if err:
            errors[f"report {name}"] = err
    return errors
