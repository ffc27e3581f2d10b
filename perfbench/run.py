#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one closed-loop client, cold
operations, outputs checked outside the timer.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 16 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):
  etl_cycle       the scheduled ETL job on the durable manifest sink:
                  48 h upsert, view refresh, fresh v_latest_prices read
  analytics_mix   ten compute-heavy gates, cold, in a seeded order, over
                  generated TPC-H-like tables

The program is built from this checkout's sources (perfbench/build.py),
inputs are generated from --seed, and the last stdout line is the result
JSON: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

# Input sizes per workload; the harness receives them as arguments.
# etl_cycle: the reference job's universe, 10 coins, with its 90-day
# hourly backfill (BASELINE.md: src/coins.yaml, src/backfill.py).
ETL_SIZES = {"assets": 10, "days": 90}
# analytics_mix: half the sf 0.1 the program's bench runs at (BASELINE.md).
# At sf 0.1 a run took 64-84 s on a 4-core host, too long for 4 + 22 runs
# per workload to end within the 3420 s the whole set of runs may take.
ANALYTICS_SF = 0.05
# The first set-up of a run pays the JVM's warm-up and the second part
# of it; the median of five is a warm one.
SETUPS = 5
# A run is a fixed number of passes, so its length does not depend on how
# fast it goes: --seconds divided by the seconds a pass takes on a 4-core
# host at the commit that defined the benchmark, rounded up. An etl_cycle
# pass is one cycle (after one warm-up cycle); an analytics_mix pass runs
# every gate once (after one warm-up pass).
PASS_S = {"etl_cycle": 2.0, "analytics_mix": 9.0}

END_TO_END = [("setup_s", "s"), ("op_ms", "ms"), ("ops_per_s", "1/s")]

PER_LAYER = [
    ("session.start_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("etl.merge_ms", "ms"), ("etl.jobs", "count"), ("etl.tasks", "count"),
    ("etl.shuffle_bytes", "B"), ("etl.fresh_read_ms", "ms"),
    ("etl.ingest_rows_per_s", "1/s"), ("etl.stored_bytes_per_row", "B"),
    ("manifest.bytes_written_per_row", "B"), ("manifest.live_files", "count"),
    ("manifest.versions", "count"),
    ("scan.files_read", "count"), ("scan.skip_ratio", "ratio"), ("scan.input_bytes", "B"),
    ("view.refresh_ms.latest", "ms"),
    ("view.incremental_ratio", "ratio"),
    ("plan.ms", "ms"),
    ("plan.rule_ms.LatestRewriteRule", "ms"), ("plan.rule_ms.MvJoinRewriteRule", "ms"),
    ("plan.rule_ms.MvRewriteRule", "ms"), ("plan.rule_ms.StatsAggRule", "ms"),
    ("plan.rule_ms.JoinPruneRule", "ms"),
    ("plan.rewrite_ratio", "ratio"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"), ("exec.spill_bytes", "B"),
    ("exec.driver_only_ms", "ms"),
    ("gate.build_ms", "ms"), ("gate.exec_ms", "ms"), ("gate.warm_ms", "ms"),
    ("mix.pass_s", "s"), ("gate.duckdb_ratio", "ratio"),
    ("cache.entries_at_start", "count"), ("cache.cached_rdds_after", "count"),
    ("cache.storage_mb_after", "MB"), ("intermediates.swept", "count"),
    ("tmp.bytes_left", "B"), ("trace.overhead_pct", "%"),
]

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path):
    total = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(dp, f)).st_size
            except OSError:
                pass
    return total


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, work, args, deadline):
    # the heap and collector of the program's own run config (build.sbt)
    cmd = (["java", "-Xmx8g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main"] + args)
    log = work / "jvm.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(log.read_text(errors="replace")[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")


def oracle_verdicts(cc, data, pass_dir, oracle):
    """Gate name -> output matches its DuckDB oracle, for every gate
    output under `pass_dir`, by tools/check_correctness.py."""
    shutil.copyfile(oracle, pass_dir / "oracle_sql.json")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cc.main(str(data), str(pass_dir), partial=True)
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":", 1)[0]
        if word == "PASS":
            verdict.setdefault(name, True)
        elif word in ("FAIL", "WARN", "LINT"):
            verdict[name] = False
            print(f"perfbench: {pass_dir.name} {line}", file=sys.stderr)
    return verdict


def check_gates(ops, data, work, timed):
    """Mark each gate op ok only if its output is right. A gate's first
    output is compared with its DuckDB oracle by
    tools/check_correctness.py; a later output must equal that verified
    one row for row. Returns DuckDB's time for one pass over the gate
    oracles in ms, when `timed`."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_correctness as cc
    import duckdb
    import pyarrow.dataset as ds

    def rows(path):
        return cc.canon(ds.dataset(str(path), format="parquet").to_table().to_pandas())

    oracle = work / "oracle_sql.json"
    verified, verdict = {}, {}
    for pass_dir in sorted((work / "out").glob("pass-*"), key=lambda p: int(p.name[5:])):
        names = sorted(d.name for d in pass_dir.iterdir() if d.is_dir())
        if any(n not in verified for n in names):
            for n, good in oracle_verdicts(cc, data, pass_dir, oracle).items():
                verdict[(pass_dir.name, n)] = good
                if good:
                    verified.setdefault(n, rows(pass_dir / n))
        for n in names:
            if (pass_dir.name, n) not in verdict:
                verdict[(pass_dir.name, n)] = n in verified and rows(pass_dir / n).equals(verified[n])
    for o in ops:
        key = (Path(o["layers"]["out"]).parent.name, o["name"])
        o["ok"] = o["ok"] and verdict.get(key, False)
    if not timed:
        return 0.0
    con = duckdb.connect()
    for t in cc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    t0 = time.perf_counter()
    for sql in json.loads(oracle.read_text()).values():
        con.sql(sql).fetchall()
    return (time.perf_counter() - t0) * 1000


def layer_values(ops, key):
    return [o["layers"][key] for o in ops if key in o["layers"]]


def per_layer(workload, ops, setups, end, tables, duck_ms, n_gates, tmp_left):
    m = {name: 0.0 for name, _ in PER_LAYER}
    L = lambda k: layer_values(ops, k)
    m["session.start_ms"] = median(s["session_ms"] for s in setups)
    m["jvm.heap_peak_mb"] = end["heap_peak_mb"]
    for k in ("etl.merge_ms", "etl.jobs", "etl.tasks", "etl.shuffle_bytes",
              "etl.fresh_read_ms", "scan.files_read", "scan.input_bytes",
              "view.refresh_ms.latest", "plan.ms",
              "gate.build_ms", "gate.exec_ms", "gate.warm_ms",
              *[n for n, _ in PER_LAYER if n.startswith(("exec.", "plan.rule_ms."))]):
        m[k] = median(L(k))
    ok_ops = [o for o in ops if o["ok"]]
    if workload == "etl_cycle":
        rows = sum(o["layers"]["etl.rows"] for o in ok_ops)
        m["etl.ingest_rows_per_s"] = rows / max(1e-9, sum(o["ms"] for o in ok_ops) / 1000)
        written = layer_values(ops, "manifest.bytes_written")
        traced_rows = sum(o["layers"]["etl.rows"] for o in ops
                          if "manifest.bytes_written" in o["layers"])
        m["manifest.bytes_written_per_row"] = sum(written) / max(1, traced_rows)
        m["view.incremental_ratio"] = sum(L("view.incremental")) / max(1, len(L("view.incremental")))
    if tables:
        m["etl.stored_bytes_per_row"] = tables["bytes"] / max(1, tables["live_rows"])
        m["manifest.live_files"] = tables["live_files"]
        m["manifest.versions"] = tables["versions"]
    live = sum(L("scan.live_files"))
    if live:
        m["scan.skip_ratio"] = sum(L("scan.files_read")) / live
    elig = [o for o in ops if o["layers"].get("plan.eligible")]
    if elig:
        m["plan.rewrite_ratio"] = sum(bool(o["layers"]["plan.rewritten"]) for o in elig) / len(elig)
    if workload == "analytics_mix":
        m["mix.pass_s"] = median(pass_seconds(ops, n_gates))
        if m["mix.pass_s"]:
            m["gate.duckdb_ratio"] = duck_ms / 1000 / m["mix.pass_s"]
    m["cache.entries_at_start"] = max([o["layers"]["cache_entries"] for o in ops], default=0)
    m["cache.cached_rdds_after"] = max([o["layers"]["rdds_after"] for o in ops], default=0)
    m["cache.storage_mb_after"] = max([o["layers"]["storage_mb_after"] for o in ops], default=0)
    m["intermediates.swept"] = sum(L("swept")) / max(1, len(ops))
    m["tmp.bytes_left"] = tmp_left
    # a traced operation's time with its tracing work against the
    # untraced operations of the same kind
    ratios = []
    for name in sorted({o["name"] for o in ok_ops}):
        tr = [o["ms"] + o["trace_ms"] for o in ok_ops if o["name"] == name and o["traced"]]
        un = [o["ms"] for o in ok_ops if o["name"] == name and not o["traced"]]
        if tr and un:
            ratios.append(median(tr) / median(un))
    if ratios:
        m["trace.overhead_pct"] = (median(ratios) - 1) * 100
    return m


def op_ms(ops):
    """Geometric mean over operation kinds of each kind's median cold
    latency, so every kind weighs the same whatever its count in the
    run. A failed operation counts as infinitely slow."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["ms"] if o["ok"] else math.inf)
    meds = [median(v) for v in kinds.values()]
    if any(math.isinf(m) for m in meds):
        return math.inf
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def pass_seconds(ops, n_gates):
    """Timed seconds of each complete pass over the gate list."""
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o["ms"])
    return [sum(v) / 1000 for v in passes.values() if len(v) == n_gates]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_cycle", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    sys.path.insert(0, str(BENCH))
    import build
    cp = build.build()
    deadline = time.monotonic() + 165
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    try:
        passes = max(1, math.ceil(a.seconds / PASS_S[a.workload]))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
                "--trace", str(a.trace), "--work", str(work), "--cpus", str(cpus()),
                "--setups", str(SETUPS)]
        data = work / "data"
        if a.workload == "analytics_mix":
            import gen_tables
            data.mkdir()
            gen_tables.generate(a.seed, str(data), ANALYTICS_SF)
            args += ["--data", str(data)]
        else:
            args += ["--assets", str(ETL_SIZES["assets"]), "--days", str(ETL_SIZES["days"])]
        t0 = time.monotonic()
        run_jvm(cp, work, args, deadline - 15)
        jvm_s = time.monotonic() - t0

        recs = [json.loads(l) for l in (work / "records.jsonl").read_text().splitlines() if l]
        setups = [r for r in recs if r["t"] == "setup"]
        ops = [r for r in recs if r["t"] == "op" and not r["warmup"]]
        warm_ok = all(r["ok"] for r in recs if r["t"] == "op" and r["warmup"])
        end = next(r for r in recs if r["t"] == "end")
        tables = next((r for r in recs if r["t"] == "tables"), None)
        if not ops or len(setups) != SETUPS:
            raise SystemExit("perfbench: the run produced no operations")
        duck_ms, n_gates = 0.0, 0
        if a.workload == "analytics_mix":
            duck_ms = check_gates(ops, data, work, a.trace)
            n_gates = len(json.loads((work / "oracle_sql.json").read_text()))
        # bytes the program left in java.io.tmpdir and the warehouse dir
        tmp_left = dir_bytes(work / "tmp") + dir_bytes(work / "warehouse")

        failed = sum(not o["ok"] for o in ops)
        e2e = {
            "setup_s": median(s["s"] for s in setups),
            "op_ms": op_ms(ops),
            "ops_per_s": (len(ops) - failed) / (sum(o["ms"] for o in ops) / 1000),
        }
        cold = all(o["layers"]["cache_entries"] == 0 for o in ops)
        # a human-readable line before the result: sizes, sample count,
        # the plain median, per-kind medians and what failed or leaked
        print(json.dumps({
            "workload": a.workload, "seed": a.seed, "cpus": cpus(), "clients": 1,
            "sizes": ETL_SIZES if a.workload == "etl_cycle" else {"sf": ANALYTICS_SF},
            "samples": len(ops),
            "op_p50_ms": median(o["ms"] if o["ok"] else math.inf for o in ops),
            "op_ms_by_name": {n: median(o["ms"] for o in ops if o["name"] == n)
                              for n in sorted({o["name"] for o in ops})},
            "fresh_read_ms_p50": median(layer_values(ops, "etl.fresh_read_ms")),
            "setups_s": [s["s"] for s in setups], "jvm_s": jvm_s,
            "failed_ops": [f'{o["name"]}: {o["err"]}' for o in ops if not o["ok"]][:5],
            "left_cached": sorted({o["name"] for o in ops if o["layers"]["rdds_leaked"] > 0}),
        }))
        if a.trace:
            m = per_layer(a.workload, ops, setups, end, tables, duck_ms, n_gates, tmp_left)
            metrics = {n: {"value": m[n], "unit": u} for n, u in PER_LAYER}
        else:
            if any(math.isinf(v) for v in e2e.values()):
                e2e = {k: (1e9 if math.isinf(v) else v) for k, v in e2e.items()}
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
        print(json.dumps({"correct": failed == 0 and cold and warm_ok, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
