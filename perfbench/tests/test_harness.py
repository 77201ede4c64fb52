"""Unit tests of the benchmark's own helpers: the committed input
tables, the result hash and the table-log write counter.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from session_run import result_hash, table_log_writes  # noqa: E402


def test_every_input_table_matches_its_pinned_sum():
    tables = sorted({t for wl in run.WORKLOADS.values() for t in wl["input_tables"]})
    stats = run.check_inputs(run.DATA_DIR, tables)
    assert stats["documents"]["rows"] == 5000
    assert stats["embeddings"]["rows"] == 2000
    assert stats["orders"]["rows"] == 150000


def test_result_hash_ignores_row_and_column_order():
    h = result_hash(["b", "a"], [(1, "x"), (2, "y")], str)
    assert h == result_hash(["a", "b"], [("y", 2), ("x", 1)], str)
    assert h != result_hash(["b", "a"], [(1, "x"), (2, "z")], str)
    assert h != result_hash(["b", "c"], [(1, "x"), (2, "y")], str)


def test_table_log_writes_counts_only_new_files_under_log_roots(tmp_path):
    root = tmp_path / "tbl"
    (root / "_log").mkdir(parents=True)
    old = root / "part-0.parquet"
    old.write_bytes(b"o" * 7)
    past = time.time() - 100
    os.utime(old, (past, past))
    since = time.time() - 10
    (root / "_log" / "000000.json").write_bytes(b"{}")
    (root / "_log" / "000000.checkpoint.json").write_bytes(b"{}")
    (root / "part-1.parquet").write_bytes(b"p" * 5)
    (tmp_path / "index.parquet").write_bytes(b"i" * 3)  # not under a log root
    assert table_log_writes(str(tmp_path), since) == {"commits": 1, "files": 1, "bytes": 9}
