"""One Spark session's share of a benchmark run (a child of ``run.py``).

Reads a JSON spec, imports the engine, sets it up once (cold: the
JVM launch and a warm-up pass included) and then runs timed passes
over the workload's query list for ``seconds`` seconds. It writes one
JSON record with every timing, the canonical hash of every collected
result, and the peak resident memory of this process and its JVM. It checks nothing itself: ``run.py`` compares
the hashes with the oracle.

Usage: python3 perfbench/session_run.py SPEC_JSON OUT_JSON
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import subprocess
import sys
import tempfile
import time


def _now_ms() -> int:
    return int(time.time() * 1000)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of process
    ``root`` and all its live descendants: here the engine's Python
    process, its JVM and the JVM's Python workers."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command field: state ppid ... utime stime cutime cstime
        stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        total += stats.get(p, (0, 0))[1]
        todo.extend(kids.get(p, []))
    return total / _TCK


def result_hash(columns: list[str], rows: list, canon_cell) -> str:
    """Order-insensitive hash of a result in ``tests/oracle.py``'s
    canonical form: columns sorted by name, cells canonicalised, rows
    sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def table_log_writes(tmp_dir: str, since: float) -> dict[str, int]:
    """Commits, data files and bytes that the table log wrote under
    ``tmp_dir`` after ``since`` (a ``time.time()`` value). A table-log
    root is any directory with a ``_log`` child of numbered commits."""
    out = {"commits": 0, "files": 0, "bytes": 0}
    for dirpath, dirnames, filenames in os.walk(tmp_dir):
        if "_log" not in dirnames:
            continue
        for sub, _, files in os.walk(dirpath):
            for f in files:
                p = os.path.join(sub, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                if st.st_mtime < since:
                    continue
                if os.path.basename(sub) == "_log" and re.fullmatch(r"\d{6}\.json", f):
                    out["commits"] += 1
                elif f.endswith(".parquet"):
                    out["files"] += 1
                out["bytes"] += st.st_size
        dirnames.clear()  # a root's subtree is counted once, above
    return out


class Session:
    """Drives the engine through its set-up and passes, timing each
    call into it from the outside."""

    def __init__(self, spec: dict, canon_cell):
        self.spec = spec
        self.canon_cell = canon_cell
        self.sf_dir = spec["sf_dir"]
        self.base_order = list(spec["queries"])
        random.Random(spec["seed"]).shuffle(self.base_order)
        self.tmp_n = 0
        self.spark = None
        self.reg = None

    def fresh_tmp(self) -> str:
        """Point every ``tempfile.gettempdir()`` caller at a new empty
        directory, so one-off artifacts are built, not found."""
        self.tmp_n += 1
        d = os.path.join(self.spec["tmp_root"], f"t{self.tmp_n:03d}")
        os.makedirs(d)
        os.environ["TMPDIR"] = d
        tempfile.tempdir = d
        return d

    def order(self, k: int) -> list[str]:
        """The seed's permutation of the query list, rotated by ``k``:
        over n consecutive passes every query runs first once, so a
        query that builds an artifact its neighbours reuse is not
        always the one that pays for it."""
        k %= len(self.base_order)
        return self.base_order[k:] + self.base_order[:k]

    def run_query(self, name: str) -> dict:
        pid = os.getpid()
        rec = {"name": name, "t0_ms": _now_ms()}
        cpu0, t0 = tree_cpu_s(pid), time.perf_counter()
        try:
            df = self.reg[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            rec.update(cpu_s=tree_cpu_s(pid) - cpu0, t1_ms=_now_ms())
            rec.update(build_s=t1 - t0, action_s=t2 - t1, rows=len(rows))
            rec["hash"] = result_hash(df.columns, rows, self.canon_cell)  # untimed
        except Exception as exc:  # a failed query is a result, not a crash
            t1 = time.perf_counter()
            rec.update(cpu_s=tree_cpu_s(pid) - cpu0, t1_ms=_now_ms())
            rec.update(build_s=t1 - t0, action_s=0.0, rows=0)
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        return rec

    def run_pass(self, tmp_dir: str, k: int) -> dict:
        since, t0_ms = time.time(), _now_ms()
        recs = [self.run_query(n) for n in self.order(k)]
        # the engine's share of the pass; result hashing is the
        # benchmark's own work and is left out
        return {
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "wall_s": sum(r["build_s"] + r["action_s"] for r in recs),
            "t0_ms": t0_ms,
            "t1_ms": _now_ms(),
            "queries": recs,
            "tablelog": table_log_writes(tmp_dir, since),
        }

    def setup(self) -> dict:
        """load_all, get_spark (which launches the JVM), the first
        touch of every input table, and one warm-up pass in a fresh
        temp dir, which builds the one-off artifacts."""
        tmp_dir = self.fresh_tmp()
        t0 = time.perf_counter()
        from hadoop_based_distributed_batch_processing_system_spark import registry

        self.reg = registry.load_all()
        t1 = time.perf_counter()
        from hadoop_based_distributed_batch_processing_system_spark.session import get_spark
        from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table

        self.spark = get_spark()
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        for name in self.spec["input_tables"]:
            load_table(self.spark, self.sf_dir, name)
        t3 = time.perf_counter()
        warm = self.run_pass(tmp_dir, 0)
        t4 = time.perf_counter()
        return {
            "setup_s": t4 - t0,
            "registry_import_s": t1 - t0,
            "session_start_s": t2 - t1,
            "first_touch_s": t3 - t2,
            "warmup_s": t4 - t3,
            "warmup": warm,
            "tmp_dir": tmp_dir,
        }

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def canary_s(self) -> float:
        """``bench.jvm_canary``: fixed pure-JVM work, recorded as an
        environment reading."""
        import bench

        bench.run_action(bench.jvm_canary(self.spark), "collect")
        t0 = time.perf_counter()
        bench.run_action(bench.jvm_canary(self.spark), "collect")
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and so its Python workers)
        to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(spec_path: str, out_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    from tests.oracle import canon_cell  # the checkout root is on PYTHONPATH

    s = Session(spec, canon_cell)
    out: dict = {"passes": []}
    try:
        out["setup"] = s.setup()
        tmp_dir = out["setup"]["tmp_dir"]
        t_end = time.perf_counter() + spec["seconds"]
        while len(out["passes"]) < spec["min_passes"] or time.perf_counter() < t_end:
            if spec["fresh_tmp_per_pass"]:
                tmp_dir = s.fresh_tmp()
            out["passes"].append(s.run_pass(tmp_dir, len(out["passes"]) + 1))
        out["peak_rss_mb_parts"] = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(s.jvm_pid())}
        out["peak_rss_mb"] = sum(out["peak_rss_mb_parts"].values())
        out["canary_s"] = s.canary_s()
        out["cores"] = s.spark.sparkContext.defaultParallelism
    finally:
        s.shutdown()
    with open(out_path, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
