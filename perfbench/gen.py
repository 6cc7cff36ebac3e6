"""Seeded CSV fixture generator with ground truth for the ingest workloads.

A fixture directory holds `csv/` (the files the pipeline loads) and
`truth.json` (what the pipeline must report for them). Truth is computed
here, from the generated rows, with no engine code involved:

- loaded rows, and per value column the non-null count and sum;
- the continuity gap list, as `graft.ts.Continuity` defines a gap: a
  consecutive-timestamp difference above the median cadence plus one minute;
- the file-sequence gaps above 15 minutes that the default validator reports;
- the 1-minute right-closed mean resample: grid size, buckets holding data,
  and per column the non-null bucket count and the sum of bucket means.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys

VALUE_COLS = ["Power_kW", "Temperature_C", "Pressure_bar"]
EPOCH = dt.datetime(1970, 1, 1)

# Rows a file keeps at least, so that the loader's dtype probe (the first
# ten data rows of every file) never meets an "n/a" and a file is never empty.
PROBE_ROWS = 10
MIN_FILE_ROWS = PROBE_ROWS + 2

WORKLOADS = {
    # Many tiny files: per-file driver work and per-file scan costs dominate.
    "ingest_many_small": dict(
        files=60, rows_per_file=60, cadence_s=60,
        ts_format="%d/%m/%Y %H:%M",
        drop_p=0.01, outages_per_file=0.02, outage_len=(3, 30),
        missing_file_p=0.005, na_p=0.002,
    ),
    # Few long files: row work (parse, sort, windows, joins) dominates.
    "ingest_few_large": dict(
        files=4, rows_per_file=3_000, cadence_s=1,
        ts_format="%Y-%m-%d %H:%M:%S",
        drop_p=0.01, outages_per_file=2.0, outage_len=(90, 150),
        missing_file_p=0.0, na_p=0.001,
    ),
}

# Continuity defaults used by LoadedSeries.analyzeContinuity().
MIN_GAP_S = 60
# Validator default (TimeSeriesConfig.maxAllowedGap).
MAX_FILE_GAP_S = 15 * 60
RESAMPLE_S = 60


def _fname(start, end):
    f = "%m-%d-%Y %H_%M_%S"
    return f"Plant 1A - Data - {start.strftime(f)} - {end.strftime(f)}.csv"


def _secs(t):
    return int((t - EPOCH).total_seconds())


def generate(workload, seed, out_dir):
    p = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    n_files, rpf, cad = p["files"], p["rows_per_file"], p["cadence_s"]
    base = dt.datetime(2024, 1, 1) + dt.timedelta(days=seed % 365)
    total = n_files * rpf

    present = [rng.random() >= p["drop_p"] for _ in range(total)]
    n_outages = int(round(p["outages_per_file"] * n_files))
    for _ in range(n_outages):
        start = rng.randrange(total)
        for i in range(start, min(total, start + rng.randint(*p["outage_len"]))):
            present[i] = False
    # whole files missing: never the first or the last
    missing_files = {f for f in range(1, n_files - 1) if rng.random() < p["missing_file_p"]}
    for f in range(n_files):
        seg = range(f * rpf, (f + 1) * rpf)
        if f in missing_files:
            for i in seg:
                present[i] = False
        elif sum(present[i] for i in seg) < MIN_FILE_ROWS:
            for i in seg:
                present[i] = True

    walks = [rng.uniform(10, 100) for _ in VALUE_COLS]
    values = []  # per row: one random-walk value per column, aligned with `present`
    for i in range(total):
        row = []
        for c in range(len(VALUE_COLS)):
            walks[c] = round(walks[c] + rng.uniform(-1, 1), 2)
            row.append(walks[c])
        values.append(row)

    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "csv"))
    ts_all, vals_all = [], []
    file_ranges = []
    csv_bytes = 0
    for f in range(n_files):
        if f in missing_files:
            continue
        fstart = base + dt.timedelta(seconds=f * rpf * cad)
        fend = fstart + dt.timedelta(seconds=(rpf - 1) * cad)
        file_ranges.append((_secs(fstart), _secs(fend)))
        lines = ["Time;" + ";".join(VALUE_COLS)]
        kept = 0
        for i in range(f * rpf, (f + 1) * rpf):
            if not present[i]:
                continue
            t = base + dt.timedelta(seconds=i * cad)
            row = []
            out = []
            for v in values[i]:
                if kept >= PROBE_ROWS and rng.random() < p["na_p"]:
                    out.append("n/a")
                    row.append(None)
                else:
                    out.append(f"{v:.2f}")
                    row.append(float(out[-1]))
            lines.append(t.strftime(p["ts_format"]) + ";" + ";".join(out))
            ts_all.append(_secs(t))
            vals_all.append(row)
            kept += 1
        data = ("\n".join(lines) + "\n").encode()
        csv_bytes += len(data)
        with open(os.path.join(tmp, "csv", _fname(fstart, fend)), "wb") as fh:
            fh.write(data)

    truth = _truth(ts_all, vals_all, file_ranges)
    truth.update(workload=workload, seed=seed, files=len(file_ranges), csv_bytes=csv_bytes)
    with open(os.path.join(tmp, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return truth


def _truth(ts, vals, file_ranges):
    ncol = len(VALUE_COLS)
    cols = {}
    for c, name in enumerate(VALUE_COLS):
        xs = [r[c] for r in vals if r[c] is not None]
        cols[name] = {"count": len(xs), "sum": math.fsum(xs)}

    # Continuity: inferred cadence = median diff truncated to whole seconds.
    diffs = [b - a for a, b in zip(ts, ts[1:])]
    expected = int(statistics.median(diffs))
    threshold = expected + MIN_GAP_S
    gaps = [[a, b] for a, b in zip(ts, ts[1:]) if b - a > threshold]

    file_gaps = sum(
        1 for (_, e), (s, _) in zip(file_ranges, file_ranges[1:]) if s - e > MAX_FILE_GAP_S)

    # Resample: right-closed bins (L, L+f] labelled L; the first point
    # labels itself; grid = start, start+f, ..., <= end.
    start, end = ts[0], ts[-1]
    buckets = {}
    for t, row in zip(ts, vals):
        label = start if t == start else start + (math.ceil((t - start) / RESAMPLE_S) - 1) * RESAMPLE_S
        acc = buckets.setdefault(label, [[0.0, 0] for _ in range(ncol)])
        for c in range(ncol):
            if row[c] is not None:
                acc[c][0] += row[c]
                acc[c][1] += 1
    rs_cols = {}
    for c, name in enumerate(VALUE_COLS):
        means = [a[c][0] / a[c][1] for a in buckets.values() if a[c][1] > 0]
        rs_cols[name] = {"buckets": len(means), "mean_sum": math.fsum(means)}

    return {
        "rows": len(ts),
        "value_columns": VALUE_COLS,
        "columns": cols,
        "cadence_s": expected,
        "gaps": gaps,
        "validation_issues": file_gaps,
        "resample": {
            "grid": (end - start) // RESAMPLE_S + 1,
            "data_buckets": len(buckets),
            "columns": rs_cols,
        },
    }


def ensure(workload, seed, root):
    """Fixture dir for (workload, seed) under `root`, generated on first use.
    The name carries a digest of this file, so a changed generator never
    reuses an old set."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:10]
    out = os.path.join(root, f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(out, "truth.json")):
        generate(workload, seed, out)
    return out


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    t = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: t[k] for k in ("rows", "files", "csv_bytes", "validation_issues")}))
