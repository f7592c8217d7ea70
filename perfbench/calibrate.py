#!/usr/bin/env python3
"""Regenerates perfbench/expected.json, the digests every run checks against.

Run from the repository root:  python3 perfbench/calibrate.py

For each workload it runs every operation once at 4 and again at 2 Spark
partitions (the digests must agree: outputs are partition-count
invariant), writes each output as parquet, and compares every output that
has a DuckDB oracle (the library's `SparkEntry.oracleSql`; the medallion's
silver and gold layers use the q_financial_silver / q_financial_gold
oracles) with the oracle run on the same generated tables, the way
dev/check.py does: sorted on all columns, exact values, same dtype kinds.
Outputs without an oracle (MinHash, LSH, ...) are recorded from Spark alone.
expected.json is written only when every check passes.
"""
import json
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        k = df[c].dtype.kind
        if k in "iu":
            df[c] = df[c].astype("int64")
        elif k == "f":
            df[c] = df[c].astype("float64")
        elif k == "M":
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def same(spark_df, duck_df):
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if a.shape != b.shape:
        return f"shape {a.shape} vs {b.shape}"
    for c in a.columns:
        if a[c].dtype.kind != b[c].dtype.kind:
            return f"{c}: dtype {a[c].dtype} vs {b[c].dtype}"
        if a[c].dtype.kind == "f":
            eq = ((a[c] == b[c]) | (a[c].isna() & b[c].isna())).all()
        else:
            eq = (a[c].astype(str) == b[c].astype(str)).all()
        if not eq:
            return f"{c}: values differ"
    return None


def calibrate(workload, cpus, out):
    run_dir = run.BUILD / f"calibrate-run-{cpus}"
    args = ["--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--data", str(run.data()), "--launch-ms", "0", "--calibrate", str(out)]
    try:
        rc, lines = run.run_jvm(run.java_cmd(run.build(), run_dir, cpus, args), run_dir,
                                run.BUILD / "logs" / f"calibrate-{workload}-{cpus}.log", 900)
    finally:
        run.shutil.rmtree(run_dir, ignore_errors=True)
    result = run.tagged(lines, "PERFBENCH_RESULT")
    if rc != 0 or result is None or not result["correct"]:
        run.fail(f"calibration run of {workload} at {cpus} partitions failed: {result}")
    return run.tagged(lines, "PERFBENCH_CALIBRATE"), run.tagged(lines, "PERFBENCH_ORACLES")


def main():
    (run.BUILD / "logs").mkdir(parents=True, exist_ok=True)
    expected, bad = {}, []
    for w in run.WORKLOADS:
        out = run.BUILD / "calibrate" / w
        digests, oracles = calibrate(w, 4, out)
        again, _ = calibrate(w, 2, run.BUILD / "calibrate" / f"{w}-2")
        bad += [f"{k}: {digests.get(k)} at 4 partitions, {again.get(k)} at 2"
                for k in sorted(set(digests) | set(again)) if digests.get(k) != again.get(k)]
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{run.data()}/{t}.parquet'")
        for name, sql in sorted(oracles.items()):
            diff = same(pd.read_parquet(out / name), con.sql(sql).df())
            print(f"{'OK' if diff is None else 'DIFF':5s} {w}/{name}" + (f": {diff}" if diff else ""))
            if diff:
                bad.append(f"{w}/{name}: {diff}")
        expected.update(digests)
    if bad:
        run.fail("not writing expected.json:\n  " + "\n  ".join(bad))
    with open(run.HERE / "expected.json", "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(expected)} expected outputs")


if __name__ == "__main__":
    main()
