#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate: run each oracle SQL in
DuckDB over the fixture parquet and compare to the Verify parquet dumps.
Columns are sorted by name (like the driver); rows compared in output order.
Usage: local_verify.py [--json ARTIFACT] <sfDir> <outDir> [queryName ...]
With query names given, only those are checked (single-query iteration);
otherwise every oracle entry must have a Spark dump present.
--json writes a CORRECTNESS-style artifact (per-query rows/schema/hash
booleans plus a status string) — used for the committed sf1 gate.
"""
import json
import os
import re
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dtype_family(dt) -> str:
    """Collapse a pandas dtype to the family the driver's hash is sensitive
    to. Width differences (int32 vs int64) hash identically; family
    differences (int vs float — the DuckDB HUGEINT promotion trap) do not."""
    s = str(dt)
    if "datetime" in s:
        return "datetime"
    if s.startswith(("int", "uint", "Int", "UInt")):
        return "int"
    if s.startswith(("float", "Float")):
        return "float"
    if s == "bool" or s == "boolean":
        return "bool"
    return "obj"


# DuckDB's SET takes no bound parameters, so a value is checked against a
# strict per-pragma pattern and then interpolated; no pattern admits a quote.
PRAGMA_VALUES = {
    "memory_limit": (r"[0-9]+(\.[0-9]+)? ?([KMGT]i?B|B)", "a size such as 8GB or 512MiB", True),
    "temp_directory": (r"[A-Za-z0-9_./+-]+", "a path of letters, digits and _ . / + -", True),
    "threads": (r"[1-9][0-9]{0,3}", "a positive integer", False),
}


def pragma_literal(pragma: str, env: str, val: str) -> str:
    """The SQL literal for `SET pragma = ...`, or ValueError naming `env`."""
    pattern, what, quoted = PRAGMA_VALUES[pragma]
    if not re.fullmatch(pattern, val, flags=re.IGNORECASE):
        raise ValueError(f"{env}={val!r} is not {what}")
    return f"'{val}'" if quoted else val


def main(sf_dir: str, out_dir: str, only=None, json_out=None) -> int:
    con = duckdb.connect()
    # Resource pragmas for LARGE fixture dirs (the sf1 gate): DuckDB's
    # default unbounded memory + cwd-relative temp dir OOM'd / filled the
    # filesystem on the kcore/modularity edge self-join replays at 10x.
    # A memory limit makes DuckDB spill instead of die; the temp dir puts
    # that spill somewhere with room. Both opt-in via env so the fast
    # sf0.01 path is unchanged.
    for pragma, env in (("memory_limit", "DUCKDB_MEMORY_LIMIT"),
                        ("temp_directory", "DUCKDB_TEMP_DIR"),
                        ("threads", "DUCKDB_THREADS")):
        val = os.environ.get(env)
        if val:
            con.execute(f"SET {pragma} = {pragma_literal(pragma, env, val)}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if only:
        oracles = {k: v for k, v in oracles.items() if k in only}
        missing = set(only) - set(oracles)
        if missing:
            print(f"WARN: no oracle entry for {sorted(missing)}")
    n_fail = 0
    report = {}

    def record(name, rows=False, schema=False, values=False, detail=None):
        report[name] = {"rows_match": rows, "schema_match": schema,
                        "hash_match": values, "detail": detail}

    for name in sorted(oracles):
        sql = oracles[name]
        try:
            rel = con.sql(sql)
            wide = [f"{c} {t}" for c, t in zip(rel.columns, map(str, rel.types))
                    if "HUGEINT" in str(t).upper() or "DECIMAL" in str(t).upper()]
            exp = rel.df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            record(name, detail=f"oracle error: {e}")
            n_fail += 1
            continue
        if wide:
            print(f"FAIL {name}: oracle emits wide types the driver hashes as "
                  f"float64 — CAST to BIGINT/DOUBLE: {wide}")
            record(name, detail=f"wide oracle types: {wide}")
            n_fail += 1
            continue
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark output missing: {e}")
            record(name, detail=f"spark output missing: {e}")
            n_fail += 1
            continue
        exp = exp[sorted(exp.columns)].reset_index(drop=True)
        got = got[sorted(got.columns)].reset_index(drop=True)
        if list(exp.columns) != list(got.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            record(name, detail=f"columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1
            continue
        if len(exp) != len(got):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            record(name, schema=True, detail=f"rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        # normalize timestamps to ns for comparison
        for c in exp.columns:
            if "datetime" in str(exp[c].dtype) or "datetime" in str(got[c].dtype):
                exp[c] = pd.to_datetime(exp[c])
                got[c] = pd.to_datetime(got[c])
        # dtype-family strictness: the driver hashes typed values, so an
        # int column on one side vs float on the other fails there even
        # when every value compares equal after coercion. Fail here first.
        mism = [(c, str(exp[c].dtype), str(got[c].dtype)) for c in exp.columns
                if dtype_family(exp[c].dtype) != dtype_family(got[c].dtype)]
        if mism:
            print(f"FAIL {name}: dtype family mismatch (oracle vs spark): {mism}")
            record(name, rows=True, detail=f"dtype family mismatch: {mism}")
            n_fail += 1
            continue
        bad = None
        for c in exp.columns:
            ev, gv = exp[c], got[c]
            try:
                eq = (ev.astype(object).where(ev.notna(), None) ==
                      gv.astype(object).where(gv.notna(), None)) | (ev.isna() & gv.isna())
            except Exception:
                eq = ev.astype(str) == gv.astype(str)
            if not eq.all():
                i = int(eq.idxmin())
                bad = (c, i, ev.iloc[i], gv.iloc[i])
                break
        if bad:
            c, i, e, g = bad
            print(f"FAIL {name}: col {c} row {i}: oracle={e!r} spark={g!r}")
            record(name, rows=True, schema=True,
                   detail=f"col {c} row {i}: oracle={e!r} spark={g!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(exp)} rows)")
            record(name, rows=True, schema=True, values=True)
    print(f"\n{len(oracles) - n_fail}/{len(oracles)} oracle queries pass")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf": sf_dir, "n_queries": len(oracles),
                       "n_pass": len(oracles) - n_fail, "n_fail": n_fail,
                       "queries": report}, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sys.exit(main(argv[0], argv[1], argv[2:] or None, json_out))
