"""Generate the daily_pipeline workload's inputs from a seed.

Layout under the output directory:

  src/                 BLS-shaped source: CATALOG_FILES small `pr.catalog.*`
                       files plus DATA_FILES whitespace-padded `pr.data.*`
                       fact files (Q01-Q05 rows, `-` for missing values)
  landing/             the first `population_data_<ts>.json` envelope
  cycles/NNNN/put/     files the cycle inserts or updates in src/
  cycles/NNNN/delete.txt   names the cycle deletes from src/
  cycles/NNNN/population_data_<ts>.json   the snapshot the cycle lands
  log.json             the mutation log: {cycle: {insert, update, delete}}

Every value is a multiple of 0.25, so sums are exact in binary floating
point and arg-max ties do not depend on summation order. Some series
carry a planted tie between two years at their maximum, and series
PRS30006032 has Q01 rows for every year, so the combined report has
both matched and pre-2013 (NULL population) years.
"""
import json
import os
import shutil

import numpy as np

CATALOG_FILES = 300
DATA_FILES = ("pr.data.0.Current", "pr.data.1.AllData", "pr.data.2.Duration",
              "pr.data.3.Sector")
SERIES_PER_FILE = 60
YEARS = range(1995, 2025)
PERIODS = ("Q01", "Q02", "Q03", "Q04", "Q05")
POP_YEARS = range(2013, 2024)
FLAGSHIP = "PRS30006032"
INSERTS, CATALOG_UPDATES, DELETES = 2, 3, 2
NOTES = ("", "", "", "R", "P")
HEADER = "series_id        \tyear\tperiod\t       value\tfootnote_codes"


def _catalog_text(rng, name):
    rows = int(rng.integers(20, 80))
    codes = rng.integers(0, 10**6, rows)
    return "code\ttext\n" + "".join(
        f"{c:06d}\t{name} entry {i} {int(k)}\n"
        for i, (c, k) in enumerate(zip(codes, rng.integers(0, 10**9, rows))))


class _DataFile:
    """Rows of one fact file, kept so updates can rewrite it."""

    def __init__(self, rng, index):
        base = 30006000 + index * 1000
        series = [f"PRS{base + 11 + 7 * i}" for i in range(SERIES_PER_FILE)]
        if index == 0:
            series[0] = FLAGSHIP
        self.values, self.notes = {}, {}
        for s in series:
            for y in YEARS:
                for p in PERIODS:
                    self.values[(s, y, p)] = self._draw(rng)
                    self.notes[(s, y, p)] = NOTES[int(rng.integers(0, len(NOTES)))]
        for s in series[1::17]:  # planted max-sum ties between two years
            y1, y2 = sorted(int(y) for y in rng.choice(list(YEARS), 2, replace=False))
            for y in (y1, y2):
                for p in PERIODS:
                    self.values[(s, y, p)] = 200.0

    @staticmethod
    def _draw(rng):
        if rng.random() < 0.02:
            return None  # written as "-": coerced to NULL, then dropped
        return float(rng.integers(-80, 480)) / 4.0

    def mutate(self, rng):
        """Redraw some values; the first one always changes."""
        keys = [k for k, v in self.values.items() if v != 200.0]
        picks = rng.choice(len(keys), 40, replace=False)
        first = keys[picks[0]]
        self.values[first] = (self.values[first] or 0.0) + 0.25
        for i in picks[1:]:
            self.values[keys[i]] = self._draw(rng)

    def text(self):
        out = [HEADER]
        for (s, y, p), v in self.values.items():
            cell = "-" if v is None else f"{v:g}"
            out.append(f"{s:<17}\t{y}\t{p} \t{cell:>12}\t{self.notes[(s, y, p)]}")
        return "\n".join(out) + "\n"


def _snapshot(rng, cycle):
    pop = 316_128_839
    data = []
    for y in POP_YEARS:
        data.append({"Nation ID": "01000US", "Nation": "United States",
                     "Year": y, "Population": pop + int(rng.integers(0, 50_000))})
        pop = int(pop * 1.007)
    name = f"population_data_20240101_{cycle:06d}.json"
    return name, json.dumps({"data": data, "source": ["acs_yg_total_population_1"]})


def _write(path, text):
    with open(path, "w") as f:
        f.write(text)


def generate(out_dir, seed, cycles):
    """Write the inputs for `cycles` cycles; returns the mutation log."""
    rng = np.random.default_rng(seed)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    src, landing = os.path.join(out_dir, "src"), os.path.join(out_dir, "landing")
    os.makedirs(src)
    os.makedirs(landing)
    live = []
    for i in range(CATALOG_FILES):
        name = f"pr.catalog.{i:04d}"
        _write(os.path.join(src, name), _catalog_text(rng, name))
        live.append(name)
    data = [_DataFile(rng, i) for i in range(len(DATA_FILES))]
    for name, d in zip(DATA_FILES, data):
        _write(os.path.join(src, name), d.text())
    name, snap = _snapshot(rng, 0)
    _write(os.path.join(landing, name), snap)

    log = {}
    next_id = CATALOG_FILES
    for c in range(1, cycles + 1):
        cdir = os.path.join(out_dir, "cycles", f"{c:04d}")
        put = os.path.join(cdir, "put")
        os.makedirs(put)
        picks = [live[i] for i in rng.choice(len(live), CATALOG_UPDATES + DELETES,
                                             replace=False)]
        updated, deleted = picks[:CATALOG_UPDATES], picks[CATALOG_UPDATES:]
        for n in updated:
            _write(os.path.join(put, n), _catalog_text(rng, n) + f"cycle\t{c}\n")
        k = int(rng.integers(0, len(data)))
        data[k].mutate(rng)
        _write(os.path.join(put, DATA_FILES[k]), data[k].text())
        inserted = []
        for _ in range(INSERTS):
            n = f"pr.catalog.{next_id:04d}"
            next_id += 1
            _write(os.path.join(put, n), _catalog_text(rng, n))
            inserted.append(n)
        _write(os.path.join(cdir, "delete.txt"), "\n".join(deleted) + "\n")
        live = [n for n in live if n not in deleted] + inserted
        name, snap = _snapshot(rng, c)
        _write(os.path.join(cdir, name), snap)
        log[f"{c:04d}"] = {"insert": INSERTS, "update": CATALOG_UPDATES + 1,
                           "delete": DELETES}
    _write(os.path.join(out_dir, "log.json"), json.dumps(log))
    return log
