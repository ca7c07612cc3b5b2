"""Driver-faithful correctness simulation.

Replicates the verification driver's grading loop more strictly than
kompactor_spark.oracle: vanilla SparkSession (no engine confs
pre-applied), DuckDB views over the same parquet, and the driver's
canonicalization shape — result columns sorted by name, then
``DataFrame.sort_values`` over ALL columns (this is the step that
raises ``TypeError: unhashable type: 'numpy.ndarray'`` on array-typed
result cells — so running this locally catches those before the driver
does), then strict cell-by-cell comparison.

Usage:  python scripts/driver_sim.py [sf_dir] [only_prefix ...]
Writes scripts/driver_sim_out.json (status and notes per query, no
timings, so a rerun with the same outcomes leaves it unchanged) and
prints one line per query with its seconds.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def canon_df(pdf):
    """Driver-shaped canonicalization: sorted columns, sort_values all."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    pdf = pdf.sort_values(by=cols, kind="mergesort").reset_index(drop=True)  # raises on ndarray cells
    return pdf


def cell(v):
    import datetime
    import decimal
    import struct

    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating, float)):
        # byte-level: the driver's value hash is bit-sensitive, so -0.0
        # vs +0.0 (or any other bit-level drift) must fail here too
        return struct.pack("<d", float(v)).hex()
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        return struct.pack("<d", float(v)).hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        if v != v:  # pandas NaT etc.
            return None
    except Exception:
        pass
    return v


def compare(spdf, opdf):
    notes = []
    if sorted(spdf.columns) != sorted(opdf.columns):
        return False, [f"schema: spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"]
    if len(spdf) != len(opdf):
        return False, [f"rows: spark={len(spdf)} oracle={len(opdf)}"]
    s, o = canon_df(spdf), canon_df(opdf)
    n_bad = 0
    for i in range(len(s)):
        a = tuple(cell(x) for x in s.iloc[i])
        b = tuple(cell(x) for x in o.iloc[i])
        if a != b:
            n_bad += 1
            if n_bad <= 3:
                notes.append(f"row {i}: spark={a!r} oracle={b!r}")
    if n_bad:
        notes.append(f"{n_bad}/{len(s)} rows differ")
    return n_bad == 0, notes


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = sys.argv[2:]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("driver-sim")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    import __spark_entry__ as E

    qs, oracles = E.queries(), E.oracle_sql()
    tables = "region nation customer supplier part orders lineitem events documents embeddings".split()

    out = {}
    for name, fn in qs.items():
        if prefixes and not any(name.startswith(p) for p in prefixes):
            continue
        t0 = time.time()
        rec = {"status": None, "notes": []}
        try:
            spdf = fn(spark, sf_dir).toPandas()
            if name in oracles:
                con = duckdb.connect()
                con.execute("SET temp_directory='/tmp/duckdb_spill'")  # spill outside the repo (ADVICE r9)
                for t in tables:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                    )
                opdf = con.execute(oracles[name]).df()
                con.close()
                ok, notes = compare(spdf, opdf)
                rec["status"] = "pass" if ok else "MISMATCH"
                rec["notes"] = notes
            else:
                canon_df(spdf)  # still must be driver-canonicalizable
                rec["status"] = "pass_rows_only"
                rec["notes"] = [f"rows={len(spdf)}"]
        except Exception:
            rec["status"] = "ERR"
            rec["notes"] = traceback.format_exc().splitlines()[-3:]
        out[name] = rec
        print(f"{rec['status']:>14}  {time.time() - t0:7.2f}s  {name}" + (f"  {rec['notes'][:1]}" if rec["status"] not in ("pass", "pass_rows_only") else ""), flush=True)

    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "driver_sim_out.json")
    if prefixes and os.path.exists(out_path):
        # subset rerun: merge into the prior full-sweep artifact so it
        # keeps covering every registered query
        with open(out_path) as fh:
            merged = json.load(fh)
        merged.update(out)
        out = {name: {k: v for k, v in rec.items() if k != "sec"} for name, rec in merged.items()}
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    n_bad = sum(1 for r in out.values() if r["status"] not in ("pass", "pass_rows_only"))
    print(f"DONE: {len(out)} queries, {n_bad} not green")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
