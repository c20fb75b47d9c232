#!/usr/bin/env python3
"""Produces perfbench/expected.json, the stored output fingerprints.

    python3 perfbench/expect.py

Run from the root of the repository after a change to the benchmark's input
tables or query lists. For each workload the harness writes every query's
result as parquet together with its fingerprint; each result is then
compared with the query's DuckDB oracle on the same input, canonicalised as
`tools/compare.py` does (columns sorted by name, rows sorted). A query whose
result differs from its oracle is stored with `"oracle": "mismatch"`, and
every benchmark run counts it as failed.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # keep the checkout free of build output
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import gen  # noqa: E402
import run  # noqa: E402
from compare import canon  # noqa: E402


def oracle_verdict(con, out_dir, name, sql):
    try:
        s = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        s_cols, s_rows = canon(s.fetchall(), s.columns)
        d = con.sql(sql)
        d_cols, d_rows = canon(d.fetchall(), d.columns)
    except Exception as e:  # noqa: BLE001 - any failure is a verdict
        return f"error: {str(e).splitlines()[0][:200]}"
    return "match" if (s_cols, s_rows) == (d_cols, d_rows) else "mismatch"


def main():
    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = run.build(ROOT, work)
    nproc = os.cpu_count()
    shipped, lake = gen.generate(
        os.path.join(work, "data",
                     f"sf{run.DATA_SF}-g{run.DATA_SEED}-n{nproc}"),
        run.DATA_SF, run.DATA_SEED, nproc)
    stored = {"data": {"sf": run.DATA_SF, "seed": run.DATA_SEED},
              "workloads": {}}
    for w in run.WORKLOADS:
        data = lake if w == "etl_lake" else shipped
        out = os.path.join(work, "expect", w)
        shutil.rmtree(out, ignore_errors=True)
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp)
        code = run.run_jvm(cp, ["--expect", w, "--data", data, "--out", out],
                           tmp, os.path.join(out, "harness.log"), 1800)
        if code != 0:
            run.fail(f"harness exited {code} on {w}; see {out}/harness.log")
        with open(os.path.join(out, "spark.json")) as f:
            got = json.load(f)
        con = duckdb.connect()
        for t in gen.TABLES:
            src = (f"{data}/{t}.parquet/*.parquet" if data == lake
                   else f"{data}/{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        entries = {}
        for q, r in sorted(got.items()):
            fp = r["fingerprint"]
            if "error" in fp:
                entries[q] = {"oracle": "error: " + fp["error"][:200]}
                continue
            verdict = ("no oracle" if r["oracle"] is None else
                       oracle_verdict(con, out, q, r["oracle"]))
            entries[q] = {"rows": fp["rows"], "hash": fp["hash"],
                          "oracle": verdict}
            print(f"{w} {q}: {verdict}")
        stored["workloads"][w] = entries
        shutil.rmtree(out, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
