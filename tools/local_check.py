#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL
in DuckDB against the sf tables and compare against the parquet dumped
by graft.Verify (columns sorted by name, rows sorted, values hashed).

Usage: local_check.py <sfDir> <verifyOutDir>
       local_check.py --decode-bench <BENCH_rNN.json|bench_line.json> <CORRECTNESS_rNN.json>
"""
import sys, json, glob, math, re

def decode_bench(bench_path, correctness_path):
    """Decode the bench stdout's compact `q_ds` per-family decisecond
    arrays back to {query_name: seconds}. Contract: families in
    ascending key order; the k-th value belongs to the k-th name in the
    ascending sorted list of that family's NON-FAILED gates (the gate
    inventory is CORRECTNESS_rNN.json's key set). A BENCH_rNN.json artifact
    keeps only a ~2000-char stdout tail, which can cut the line's head: the
    `queries` map is used when the whole line survived, else the
    `q_ds` and `failed` values are read from their own markers."""
    raw = open(bench_path).read()
    # accept either the driver's BENCH artifact (tail field) or a raw line
    try:
        doc = json.loads(raw)
        text = doc["tail"] if isinstance(doc, dict) and "tail" in doc else raw
    except json.JSONDecodeError:
        text = raw
    dec = json.JSONDecoder()

    def value_after(marker):
        i = text.rfind(marker)
        return None if i < 0 else dec.raw_decode(text, i + len(marker))[0]

    line_start = text.rfind('{"metric"')
    if line_start >= 0:
        line = dec.raw_decode(text, line_start)[0]
        if "queries" in line:
            return {k: float(v) for k, v in line["queries"].items()}
    q_ds = value_after('"q_ds":')
    if q_ds is None:
        sys.exit(f"no bench JSON line found in {bench_path}")
    failed = value_after('"failed":') or []
    unnamed = [f for f in failed if re.match(r"\+\d+ more", f)]
    if unnamed:
        sys.exit(f"{bench_path}: stdout names only some failed gates "
                 f"({unnamed[0]!r}), so the positional q_ds arrays cannot "
                 "be decoded; read the run's bench_detail.json instead")
    names = sorted(k for k in json.load(open(correctness_path))
                   if k not in set(failed))
    out = {}
    for fam, vals in sorted(q_ds.items()):
        fam_names = [n for n in names if n[0] == fam]
        assert len(fam_names) == len(vals), (fam, len(fam_names), len(vals))
        out.update({n: v / 10.0 for n, v in zip(fam_names, vals)})
    return out

if len(sys.argv) > 1 and sys.argv[1] == "--decode-bench":
    dec = decode_bench(sys.argv[2], sys.argv[3])
    print(json.dumps(dec, indent=1, sort_keys=True))
    print(f"# {len(dec)} gates, total {sum(dec.values()):.1f}s", file=sys.stderr)
    sys.exit(0)

import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for f in glob.glob(f"{sfdir}/*.parquet"):
    name = f.split("/")[-1].replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")

# A full Verify run writes oracle_sql.json; a SPARK_GRAFT_ONLY-filtered
# dev run writes oracle_sql.partial.json (never clobbering the full
# artifact). Prefer the full file; fall back to the partial one LOUDLY
# so a filtered dump can never read as a fully green run.
import os
_oracle_path = f"{outdir}/oracle_sql.json"
if not os.path.exists(_oracle_path):
    _oracle_path = f"{outdir}/oracle_sql.partial.json"
    _n = len(json.load(open(_oracle_path)))
    print(f"#### PARTIAL RUN: {_oracle_path} covers only {_n} filtered "
          f"quer{'y' if _n == 1 else 'ies'} — NOT a full-suite result ####")
oracle = json.load(open(_oracle_path))

def canon(df):
    cols = sorted(df.columns)
    df = df[cols]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    vals.append(repr(v))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return cols, sorted(rows)

fails = 0
for name, sql in sorted(oracle.items()):
    try:
        want = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {str(e)[:200]}")
        fails += 1
        continue
    try:
        got = con.execute(
            f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {str(e)[:120]}")
        fails += 1
        continue
    wc, wr = canon(want)
    gc, gr = canon(got)
    if wc != gc:
        print(f"FAIL {name}: columns differ spark={gc} oracle={wc}")
        fails += 1
        continue
    if len(wr) != len(gr):
        print(f"FAIL {name}: rows spark={len(gr)} oracle={len(wr)}")
        fails += 1
        continue
    bad = [(a, b) for a, b in zip(gr, wr) if a != b]
    if bad:
        print(f"FAIL {name}: {len(bad)}/{len(wr)} rows differ; first: spark={bad[0][0][:160]} oracle={bad[0][1][:160]}")
        fails += 1
        continue
    print(f"OK   {name}: {len(wr)} rows")

print(f"\n{len(oracle) - fails}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
