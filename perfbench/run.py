#!/usr/bin/env python3
"""Closed-loop batch benchmark of the engine's registry queries.

One client runs a workload's fixed query list one query after another,
pass after pass, on ``local[nproc]`` with ``session.get_spark``'s
defaults, over the committed sf0.1 tables in ``perfbench/data``; the
seed permutes the query order. Each run computes the DuckDB oracle
answers outside the timed region, runs the engine in a child process
(``session_run.py``), checks every collected result, and prints one
JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` a second child runs with Spark's event log turned on and
the metrics are the per-layer ones. See perfbench/README.md.

Usage:
    python3 perfbench/run.py --workload llm_kernels --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "hadoop_based_distributed_batch_processing_system_spark"
RUN_LIMIT_S = 170  # every child is killed before the run reaches this
# Passes per untraced run, at least: settled() keeps two of them. A
# traced run starts two children, so each gets half the measuring
# window and half the passes, to stay inside RUN_LIMIT_S.
MIN_PASSES = 4

sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402

# Byte copies of the sf0.1 tables the workloads read (TESTDATA.md:
# seed 42); SHA256SUMS pins them.
DATA_DIR = os.path.join(HERE, "data", "sf0.1")

# Approximate-search rows have no oracle: they must return ANN_K
# neighbours per embedding and the same answer on every execution.
ANN_ROWS = {"sim_search_ann_lsh"}
ANN_K = 5

# why each workload was chosen: BENCHMARK.json and README.md
WORKLOADS = {
    "llm_kernels": {
        "fresh_tmp_per_pass": False,
        "input_tables": ["documents", "embeddings"],
        "queries": [
            "dedup_simhash_portable",
            "sim_search_ann_lsh",
            "mm_decode_dispatch",
            "decontaminate_against_benchmark",
        ],
    },
    "table_log_rw": {
        "fresh_tmp_per_pass": True,
        "input_tables": ["orders"],
        "queries": [
            "stream_table_log_feed",
        ],
    },
}


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _check_program() -> None:
    for rel in (PACKAGE, "tests/oracle.py", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            _fail(f"the engine is not in this checkout ({rel} is missing)")


def check_inputs(sf_dir: str, tables: list[str]) -> dict[str, dict[str, int]]:
    """Verify each input table against SHA256SUMS; rows and bytes per
    table."""
    import pyarrow.parquet as pq

    with open(os.path.join(sf_dir, "SHA256SUMS")) as fh:
        sums = {name: digest for digest, name in (line.split() for line in fh if line.strip())}
    out = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        with open(path, "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != sums.get(f"{name}.parquet"):
                _fail(f"{path} does not match SHA256SUMS")
        out[name] = {"rows": pq.ParquetFile(path).metadata.num_rows, "bytes": os.path.getsize(path)}
    return out


def oracle_hashes(sf_dir: str, names: list[str], tables: list[str]) -> dict[str, str]:
    """Canonical hash of each query's DuckDB oracle answer."""
    import duckdb

    from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
    from session_run import result_hash
    from tests.oracle import canon_cell

    reg = load_all()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    try:
        for n in names:
            if reg[n].oracle is None:
                continue
            cur = con.execute(reg[n].oracle)
            cols = [d[0] for d in cur.description]
            out[n] = result_hash(cols, cur.fetchall(), canon_cell)
    finally:
        con.close()
    return out


def spark_submit_args(work: str, trace: bool) -> str:
    """Launch options set from outside the engine: the driver JVM keeps
    its temp files in the run's directory (and none in /tmp) and, when
    tracing, writes an uncompressed event log."""
    args = [f"--driver-java-options '-Djava.io.tmpdir={work}/jvm-tmp -XX:-UsePerfData'"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.logStageExecutorMetrics=true",
            "--conf spark.executor.metrics.pollingInterval=100ms",
        ]
    return " ".join(args + ["pyspark-shell"])


def run_child(spec: dict, work: str, trace: bool, deadline: float) -> dict:
    """Run one ``session_run.py`` child and return its record."""
    for sub in ("tmp", "jvm-tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    spec = dict(spec, tmp_root=os.path.join(work, "tmp"))
    spec_path, out_path = os.path.join(work, "spec.json"), os.path.join(work, "out.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONHASHSEED="0",
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=spark_submit_args(work, trace),
        TZ="UTC",
    )
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "session_run.py"), spec_path, out_path],
            cwd=ROOT,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            # the child's group holds its JVM and Python workers
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        _fail(f"engine child exited with {proc.returncode}:\n{tail}")
    with open(out_path) as fh:
        rec = json.load(fh)
    if trace:
        rec["events"] = eventlog.read_events(os.path.join(work, "eventlog"))
    return rec


def check(rec: dict, expected: dict[str, str], n_embeddings: int) -> tuple[int, int, list[str]]:
    """Attempted and failed executions over every warm-up and pass."""
    runs = [rec["setup"]["warmup"]] + rec["passes"]
    first: dict[str, str] = {}
    attempted, failed, why = 0, 0, []
    for p in runs:
        for q in p["queries"]:
            attempted += 1
            name, h = q["name"], q.get("hash")
            if name in ANN_ROWS:
                ok = h is not None and q["rows"] == ANN_K * n_embeddings and first.setdefault(name, h) == h
            else:
                ok = h is not None and h == expected.get(name)
            if not ok:
                failed += 1
                why.append(f"{name}: {q.get('error') or 'result differs from the oracle'}")
    return attempted, failed, why


def settled(passes: list) -> list:
    """The second half of the measured passes. The JVM still compiles
    hot code for several passes after the warm-up (the CPU time of an
    llm_kernels pass falls by about a third from the first measured
    pass to the fifth), so medians are taken over the rest."""
    return passes[len(passes) // 2 :]


def _median_per_query(passes: list[dict], cost) -> dict[str, float]:
    """Each query's median ``cost(record)`` over the passes."""
    vals: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            vals.setdefault(q["name"], []).append(cost(q))
    return {n: statistics.median(v) for n, v in vals.items()}


def _pass_median(rec: dict, field: str) -> float:
    return statistics.median(p[field] for p in settled(rec["passes"]))


def _wall(q: dict) -> float:
    return q["build_s"] + q["action_s"]


def end_to_end(rec: dict) -> dict[str, dict]:
    """Cold set-up wall time, then CPU time per pass and per query: on
    a shared host wall time drifts with the neighbours, CPU time far
    less (README.md, "Why CPU time")."""
    passes = settled(rec["passes"])
    per_query = _median_per_query(passes, lambda q: q["cpu_s"])
    geo = math.exp(statistics.fmean(math.log(v * 1000.0) for v in per_query.values()))
    return {
        "setup_s": {"value": rec["setup"]["setup_s"], "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s"},
        "query_cpu_geomean_ms": {"value": geo, "unit": "ms"},
        "peak_rss_mb": {"value": rec["peak_rss_mb"], "unit": "MB"},
    }


def per_layer(rec: dict, untraced: dict) -> tuple[dict[str, dict], list[dict]]:
    """Per-layer metrics: each summed over one measured pass, median
    over the settled passes; set-up timers from the set-up.
    ``untraced`` is the untraced child's record, the base of the
    tracing overhead."""
    spans = [(f"{i}:{q['name']}", q["t0_ms"], q["t1_ms"]) for i, p in enumerate(rec["passes"]) for q in p["queries"]]
    folded = eventlog.fold(rec["events"], spans)
    cores = rec["cores"]
    per_pass = []
    detail = []
    for i, p in enumerate(rec["passes"]):
        tot = dict.fromkeys(eventlog.FIELDS, 0.0)
        gap = 0.0
        for q in p["queries"]:
            r = folded[f"{i}:{q['name']}"]
            for f in eventlog.FIELDS:
                tot[f] = max(tot[f], r[f]) if f == "heap_peak_mb" else tot[f] + r[f]
            gap += (q["t1_ms"] - q["t0_ms"]) / 1000.0 - r["job_busy_s"]
            detail.append({"pass": i, **{k: q[k] for k in ("name", "build_s", "action_s", "cpu_s")}, **r})
        tot.update(
            driver_gap_s=gap,
            proc_cpu_s=p["cpu_s"],
            build_s=sum(q["build_s"] for q in p["queries"]),
            action_s=sum(q["action_s"] for q in p["queries"]),
            cpu_util=tot["cpu_s"] / (p["wall_s"] * cores),
            **{f"tablelog_{k}": v for k, v in p["tablelog"].items()},
        )
        per_pass.append(tot)

    per_pass = settled(per_pass)

    def med(field: str) -> float:
        return statistics.median(t[field] for t in per_pass)

    s0 = rec["setup"]
    rows = [
        ("session.start_s", s0["session_start_s"], "s"),
        ("registry.import_s", s0["registry_import_s"], "s"),
        ("io.first_touch_s", s0["first_touch_s"], "s"),
        ("io.bytes_read", med("input_bytes"), "bytes"),
        ("io.records_read", med("input_records"), "count"),
        ("plan.build_s", med("build_s"), "s"),
        ("exec.action_s", med("action_s"), "s"),
        ("spark.jobs", med("jobs"), "count"),
        ("spark.stages", med("stages"), "count"),
        ("spark.tasks", med("tasks"), "count"),
        ("spark.driver_gap_s", med("driver_gap_s"), "s"),
        ("spark.task_failures", med("task_failures"), "count"),
        ("spark.stage_retries", med("stage_retries"), "count"),
        ("exec.cpu_s", med("cpu_s"), "s"),
        ("exec.run_s", med("run_s"), "s"),
        ("exec.gc_s", med("gc_s"), "s"),
        ("exec.cpu_util", med("cpu_util"), "ratio"),
        ("proc.cpu_s", med("proc_cpu_s"), "s"),
        ("jvm.heap_peak_mb", max(t["heap_peak_mb"] for t in per_pass), "MB"),
        ("shuffle.write_bytes", med("shuffle_write_bytes"), "bytes"),
        ("shuffle.read_bytes", med("shuffle_read_bytes"), "bytes"),
        ("shuffle.write_s", med("shuffle_write_s"), "s"),
        ("shuffle.fetch_wait_s", med("fetch_wait_s"), "s"),
        ("spill.disk_bytes", med("spill_disk_bytes"), "bytes"),
        ("spill.memory_bytes", med("spill_memory_bytes"), "bytes"),
        ("python.bytes_sent", med("python_bytes_sent"), "bytes"),
        ("python.bytes_received", med("python_bytes_received"), "bytes"),
        ("python.rows_received", med("python_rows_received"), "count"),
        ("python.run_s", med("python_run_s"), "s"),
        ("python.boot_s", med("python_boot_s"), "s"),
        ("tablelog.commits", med("tablelog_commits"), "count"),
        ("tablelog.files_written", med("tablelog_files"), "count"),
        ("tablelog.bytes_written", med("tablelog_bytes"), "bytes"),
        ("stream.micro_batches", med("micro_batches"), "count"),
        ("trace.overhead_frac", _pass_median(rec, "wall_s") / _pass_median(untraced, "wall_s") - 1.0, "ratio"),
        ("trace.overhead_cpu_frac", _pass_median(rec, "cpu_s") / _pass_median(untraced, "cpu_s") - 1.0, "ratio"),
    ]
    return {n: {"value": v, "unit": u} for n, v, u in rows}, detail


def provenance(rec: dict, sf_dir: str) -> dict:
    import pyspark
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import corpus_tag

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip()
    return {
        "nproc": os.cpu_count(),
        "spark_cores": rec["cores"],
        "host": platform.node(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "corpus_tag": corpus_tag(sf_dir),
        "jvm_canary_s": rec["canary_s"],
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds through run_child's cleanup, which kills the
    # engine's process group and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + RUN_LIMIT_S
    _check_program()
    # DuckDB and any other temp-file user write inside the checkout too
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    wl = WORKLOADS[args.workload]

    t0 = time.monotonic()
    sf_dir = DATA_DIR
    inputs = check_inputs(sf_dir, wl["input_tables"])
    expected = oracle_hashes(sf_dir, wl["queries"], wl["input_tables"])
    t1 = time.monotonic()
    spec = {
        "sf_dir": sf_dir,
        "queries": wl["queries"],
        "seed": args.seed,
        "seconds": args.seconds / (1 + args.trace),
        "min_passes": MIN_PASSES // (1 + args.trace),
        "fresh_tmp_per_pass": wl["fresh_tmp_per_pass"],
        "input_tables": wl["input_tables"],
    }
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    try:
        recs = []
        for i, trace in enumerate([False, True] if args.trace else [False]):
            # split the time left between the children still to run
            left = deadline - time.monotonic()
            child_deadline = time.monotonic() + left / (1 + args.trace - i)
            recs.append(run_child(spec, os.path.join(run_dir, f"c{i}"), trace, child_deadline))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = failed = 0
    why: list[str] = []
    for rec in recs:
        a, f, w = check(rec, expected, inputs.get("embeddings", {}).get("rows", 0))
        attempted, failed, why = attempted + a, failed + f, why + w
    metrics = end_to_end(recs[0])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "inputs": inputs,
        "oracle_s": t1 - t0,
        "run_s": time.monotonic() - t0,
        "setup": {k: v for k, v in recs[0]["setup"].items() if k.endswith("_s")},
        "pass_s_each": [p["wall_s"] for p in recs[0]["passes"]],
        "pass_cpu_s_each": [p["cpu_s"] for p in recs[0]["passes"]],
        "peak_rss_mb_parts": recs[0]["peak_rss_mb_parts"],
        "query_median_ms": {n: v * 1000.0 for n, v in _median_per_query(settled(recs[0]["passes"]), _wall).items()},
        "failures": why[:20],
        "provenance": provenance(recs[0], sf_dir),
    }
    if args.trace:
        detail["traced_pass_s_each"] = [p["wall_s"] for p in recs[1]["passes"]]
        detail["traced_pass_cpu_s_each"] = [p["cpu_s"] for p in recs[1]["passes"]]
        metrics, detail["queries"] = per_layer(recs[1], recs[0])
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    out_file = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_file, "w") as fh:
        json.dump({**detail, "metrics": metrics}, fh, indent=1)
    print(json.dumps({k: v for k, v in detail.items() if k != "queries"}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
