#!/usr/bin/env python3
"""The consumer-group benchmark: one run of one workload.

    python3 perfbench/run.py --workload drain-deep --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (`build.py`), synthesizes the
workload's inputs from the seed inside a temporary directory of the
checkout, runs the JVM harness (`src/graftbench`), checks the outputs, and
prints one JSON line last: `correct`, `attempted`, `failed` and `metrics`
(the end-to-end metrics of BENCHMARK.json, or with `--trace 1` its
per-layer metrics). The line before it records the host: cpus, Spark
version and boot id. Full results and, traced, the spans are kept under
`.bench_build/results/`. README.md says what each workload and metric is.
"""
import argparse
import contextlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build
import tables

ROOT = build.ROOT
RESULTS = build.BUILD / "results"
WORKLOADS = ("drain-deep", "tail-wide", "ops-hot")
TABLES_SF = 0.01
DEADLINE_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def oracle_check(tables_dir: Path, out_dir: Path, names: list) -> list:
    """Compare each query's parquet output with its DuckDB oracle, using the
    repository's own comparison (scripts/local_verify.py); returns failures."""
    sys.path.insert(0, str(ROOT / "scripts"))
    import local_verify
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        local_verify.main(str(tables_dir), str(out_dir), names, None)
    return [line for line in log.getvalue().splitlines() if line.startswith(("FAIL", "WARN"))]


def oracle_self_test(tables_dir: Path, out_dir: Path, work: Path) -> list:
    """The oracle check must fail on a result one row short."""
    import pandas as pd
    name = "q02_filter_project"
    bad = work / "oracle_selftest"
    (bad / name).mkdir(parents=True)
    try:
        df = pd.read_parquet(out_dir / name)
    except Exception as e:  # the oracle check itself reports the missing output
        return [f"oracle self-test: cannot read {name}: {e}"]
    df.iloc[:-1].to_parquet(bad / name / "part-0.parquet")
    oracles = json.loads((out_dir / "oracle_sql.json").read_text())
    (bad / "oracle_sql.json").write_text(json.dumps({name: oracles[name]}))
    return [] if oracle_check(tables_dir, bad, [name]) else [
        "oracle self-test: a result one row short passed the DuckDB check"]


def cpu_times() -> tuple:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def boot_id() -> str:
    try:
        return Path("/proc/sys/kernel/random/boot_id").read_text().strip()
    except OSError:
        return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if "SPARK_GRAFT_NO_FREEZE" in os.environ:
        # it turns off the correctness-bearing checkpoint freezes of the
        # operators, so ops-hot would time (and check) a different program
        sys.exit("graftbench: refusing to run with SPARK_GRAFT_NO_FREEZE set")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cp = build.classpath()
    # a cold build has its own timeout; the run's deadline starts after it
    t_start = time.monotonic()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = build.BUILD / "tmp" / f"{tag}-{os.getpid()}"
    work.mkdir(parents=True)
    RESULTS.mkdir(parents=True, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--out", str(work / "result.json")]
        synth_s = None
        if a.workload == "ops-hot":
            times = []
            for r in range(3):
                t0 = time.monotonic()
                tables.write(str(work / f"tables-{r}"), TABLES_SF, a.seed)
                times.append(time.monotonic() - t0)
            for r in range(2):
                shutil.rmtree(work / f"tables-{r}")
            synth_s = statistics.median(times)
            args += ["--tables", str(work / "tables-2")]
        (work / "jtmp").mkdir()
        opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        # no hsperfdata file and no temp files outside the checkout; a fixed
        # heap, so that no run measures the collector growing it
        cmd = (["java"] + opens + ["-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m",
                                   f"-Djava.io.tmpdir={work / 'jtmp'}", "-cp", cp,
                                   "graftbench.Main"] + args)
        log_path = RESULTS / f"{tag}.log"
        steal0, total0 = cpu_times()
        with open(log_path, "w") as log:
            left = DEADLINE_S - (time.monotonic() - t_start)
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                timeout=max(left, 1)).returncode
        steal1, total1 = cpu_times()
        if rc != 0:
            sys.exit(f"graftbench: JVM exited {rc}; see {log_path}")
        res = json.loads((work / "result.json").read_text())
        errors = list(res["errors"])
        if a.workload == "ops-hot":
            names = list(json.loads((work / "ops_out" / "oracle_sql.json").read_text()))
            errors += oracle_check(work / "tables-2", work / "ops_out", names)
            errors += oracle_self_test(work / "tables-2", work / "ops_out", work)
            res["setup"]["synthesis_s"] = synth_s
        setup = res["setup"]
        e2e = dict(res["e2e"], setup_s=setup["session_s"] + setup["synthesis_s"] + setup["warmup_s"])
        if a.trace:
            wanted = spec["per_layer"]
            # a layer this workload does not exercise reads 0
            values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in wanted}
        else:
            wanted = spec["end_to_end"]
            values = {m["name"]: e2e[m["name"]] for m in wanted}
        errors += [f"{k} is {v}" for k, v in values.items() if not math.isfinite(v)]
        values = {k: v if math.isfinite(v) else 0.0 for k, v in values.items()}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
        # time the hypervisor gave other guests while this run's JVM ran
        steal = 100.0 * (steal1 - steal0) / max(total1 - total0, 1)
        host = {"cpus": res["cpus"], "spark_version": res["spark_version"], "boot_id": boot_id(),
                "cpu_steal_pct": round(steal, 1)}
        line = {"correct": not errors, "attempted": res["attempted"], "failed": res["failed"],
                "metrics": metrics}
        detail = dict(line, host=host, errors=errors, setup=setup, e2e=e2e,
                      layers=res["layers"], detail=res["detail"], seconds=a.seconds, seed=a.seed)
        (RESULTS / f"{tag}.json").write_text(json.dumps(detail, indent=1, sort_keys=True))
        if a.trace:
            shutil.move(str(work / "result.json.spans.json"), str(RESULTS / f"{tag}.spans.json"))
        for e in errors:
            print(f"graftbench: {e}", file=sys.stderr)
        print(json.dumps({"host": host}))
        print(json.dumps(line))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
