"""Invariant tests for the streaming path (rows-only operators) and
batch/stream equivalence."""

import os
import re

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
from hadoop_based_distributed_batch_processing_system_spark.session import bounded_drain
from hadoop_based_distributed_batch_processing_system_spark.streaming.stream_jobs import (
    read_events_stream,
)
from tests.conftest import SF_SMOKE
from tests.oracle import canon_frame

REG = load_all()
PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hadoop_based_distributed_batch_processing_system_spark",
)


def test_stream_tumbling_equals_batch(spark):
    batch = REG["window_tumbling"].fn(spark, SF_SMOKE).toPandas()
    stream = REG["stream_window_tumbling"].fn(spark, SF_SMOKE).toPandas()
    assert canon_frame(batch) == canon_frame(stream)


def test_stream_dedup_is_exact(spark):
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table

    n_events = load_table(spark, SF_SMOKE, "events").count()
    out = REG["stream_stateful_dedup"].fn(spark, SF_SMOKE)
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_watermark_drop_keeps_recent_only(spark):
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table

    kept = REG["watermark_late_drop"].fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    rows = kept.collect()
    assert rows, "horizon filter must keep something"
    assert all((max_ts - r.ts).total_seconds() <= 12 * 3600 for r in rows)


def test_session_window_invariants(spark):
    sess = REG["window_session"].fn(spark, SF_SMOKE).toPandas()
    assert (sess["n_events"] >= 1).all()
    assert (sess["session_end"] >= sess["session_start"]).all()
    # sessions of one user never overlap
    for _, g in sess.groupby("user_id"):
        g = g.sort_values("session_start")
        starts, ends = g["session_start"].tolist(), g["session_end"].tolist()
        for prev_end, nxt_start in zip(ends, starts[1:]):
            assert nxt_start > prev_end


def test_file_sink_rerun_is_exactly_once(spark):
    """Running the checkpointed file-sink query twice must not
    duplicate a single row — the batch commit log makes the second
    drain a no-op."""
    from hadoop_based_distributed_batch_processing_system_spark.registry import load_all
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table
    from tests.conftest import SF_ORACLE

    REG = load_all()
    first = REG["stream_file_sink_exactly_once"].fn(spark, SF_ORACLE).count()
    second = REG["stream_file_sink_exactly_once"].fn(spark, SF_ORACLE).count()
    n_src = load_table(spark, SF_ORACLE, "events").count()
    assert first == second == n_src


def test_stream_topk_mg_bounds_and_determinism(spark):
    """The live Misra-Gries top-k's sketch guarantees (it is rows-only
    by nature — slot contents depend on micro-batch boundaries):
    (1) every estimate is an UNDER-count of the true per-(type, user)
    frequency; (2) any user with true frequency > n_type/k is
    guaranteed a slot (the classic MG bound, preserved under the
    mergeable-summaries reduction the kernel applies); (3) at most k
    slots per key; (4) a re-run over the same batch layout is
    byte-identical."""
    from hadoop_based_distributed_batch_processing_system_spark.sources.io import load_table
    from hadoop_based_distributed_batch_processing_system_spark.streaming.stream_jobs import (
        _SMG_SLOTS,
    )
    from tests.conftest import SF_ORACLE

    one = REG["stream_topk_mg_stateful"].fn(spark, SF_ORACLE).toPandas()
    two = REG["stream_topk_mg_stateful"].fn(spark, SF_ORACLE).toPandas()
    assert canon_frame(one) == canon_frame(two)
    assert one.groupby("event_type").size().max() <= _SMG_SLOTS

    exact = (
        load_table(spark, SF_ORACLE, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    merged = one.merge(exact, on=["event_type", "user_id"], how="left")
    assert merged["n"].notna().all()  # every slot holds a real key
    assert (merged["est_count"] <= merged["n"]).all()
    totals = exact.groupby("event_type")["n"].sum()
    for et, grp in exact.groupby("event_type"):
        heavy = set(grp[grp["n"] > totals[et] / _SMG_SLOTS]["user_id"])
        present = set(one[one["event_type"] == et]["user_id"])
        assert heavy <= present, (et, heavy - present)


def test_mv_live_catches_up_on_new_source_commits(spark, tmp_path):
    """The live MV's second drain RESUMES from its stream checkpoint:
    a DV DELETE landing on the source after the first drain folds
    into the view incrementally (one new view commit, the bootstrap
    and earlier folds untouched), and the view decrements exactly."""
    import json
    import os
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_build,
        _tlog_commit,
        _tlog_latest_version,
        _tlog_live_files,
        _tlog_relation,
    )
    from hadoop_based_distributed_batch_processing_system_spark.streaming.stream_jobs import (
        _tlog_mv_live_drain,
    )
    from tests.conftest import SF_SMOKE

    src = tempfile.mkdtemp(prefix="hbdbps_mvl_src_")
    shutil.rmtree(src)
    mv = str(tmp_path / "mv")
    try:
        _tlog_build(spark, SF_SMOKE, src)  # 3 commits, no DML
        _tlog_mv_live_drain(spark, src, mv)
        assert _tlog_latest_version(mv) == 2
        before = {
            r["bucket"]: (r["n"], r["sum_cents"])
            for r in _tlog_relation(
                spark, _tlog_live_files(mv, 2)
            ).collect()
        }
        boot_mtime = os.stat(
            os.path.join(mv, "file_mv_v0", "_SUCCESS")
        ).st_mtime_ns

        # a DELETE lands on the source AFTER the first drain
        doomed = (
            spark.read.parquet(os.path.join(src, "file_D"))
            .filter(F.col("o_orderkey") % 9 == 3)
            .select("o_orderkey")
        )
        n_doomed = doomed.count()
        cents_doomed = (
            spark.read.parquet(os.path.join(src, "file_D"))
            .filter(F.col("o_orderkey") % 9 == 3)
            .agg(
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("c")
            )
            .collect()[0]["c"]
        )
        doomed.coalesce(1).write.parquet(os.path.join(src, "dv_file_D_v3"))
        _tlog_commit(
            src, add=[], remove=[], base_version=2,
            dv={"file_D": "dv_file_D_v3"},
        )
        _tlog_mv_live_drain(spark, src, mv)  # resumes, folds only v3
        assert _tlog_latest_version(mv) == 3
        assert (
            os.stat(os.path.join(mv, "file_mv_v0", "_SUCCESS")).st_mtime_ns
            == boot_mtime
        ), "resume re-ran the bootstrap"
        after = {
            r["bucket"]: (r["n"], r["sum_cents"])
            for r in _tlog_relation(
                spark, _tlog_live_files(mv, 3)
            ).collect()
        }
        # the doomed keys live in file_D's residues (1, 3)
        lost_n = sum(before[b][0] - after.get(b, (0, 0))[0] for b in before)
        lost_c = sum(before[b][1] - after.get(b, (0, 0))[1] for b in before)
        assert lost_n == n_doomed and lost_c == cents_doomed
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_mv_live_folds_commits_landing_mid_drain(spark, tmp_path, monkeypatch):
    """The r15-queue's remaining half of the live-MV item: a source
    DELETE committed WHILE the drain is processing (injected after the
    first fold commit, before processAllAvailable returns) must be
    picked up by the same drain — the stream sees the new offset and
    folds the decrement; the final view equals the composed state."""
    import os
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from hadoop_based_distributed_batch_processing_system_spark.operators import scans
    from hadoop_based_distributed_batch_processing_system_spark.operators.scans import (
        _tlog_build,
        _tlog_commit,
        _tlog_latest_version,
        _tlog_live_files,
        _tlog_relation,
    )
    from hadoop_based_distributed_batch_processing_system_spark.streaming.stream_jobs import (
        _tlog_mv_live_drain,
    )
    from tests.conftest import SF_SMOKE

    src = tempfile.mkdtemp(prefix="hbdbps_mvrace_src_")
    shutil.rmtree(src)
    mv = str(tmp_path / "mv")
    try:
        _tlog_build(spark, SF_SMOKE, src)  # 3 commits
        doomed = (
            spark.read.parquet(os.path.join(src, "file_C"))
            .filter(F.col("o_orderkey") % 13 == 5)
            .select("o_orderkey")
        )
        n_doomed = doomed.count()
        assert n_doomed > 0
        doomed.coalesce(1).write.parquet(os.path.join(src, "dv_file_C_v3"))

        real = scans._tlog_commit_rebase
        state = {"injected": False}

        def inject_after_first_fold(root, **kw):
            v = real(root, **kw)
            if not state["injected"] and root == mv:
                state["injected"] = True
                # a concurrent writer lands a DV DELETE on the SOURCE
                # while the drain is mid-flight
                _tlog_commit(
                    src, add=[], remove=[], base_version=2,
                    dv={"file_C": "dv_file_C_v3"},
                )
            return v

        monkeypatch.setattr(scans, "_tlog_commit_rebase", inject_after_first_fold)
        _tlog_mv_live_drain(spark, src, mv)
        monkeypatch.undo()
        assert state["injected"], "the race never fired"
        assert _tlog_latest_version(mv) == 3  # boot + 2 base folds + the DELETE
        total = (
            _tlog_relation(spark, _tlog_live_files(mv, 3))
            .agg(F.sum("n"))
            .collect()[0][0]
        )
        want = (
            spark.read.parquet(
                *(os.path.join(src, g) for g in ("file_A", "file_C", "file_D"))
            ).count()
            - n_doomed
        )
        assert total == want
    finally:
        shutil.rmtree(src, ignore_errors=True)


_SHUFFLE = "spark.sql.shuffle.partitions"
_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _stateful_drain(spark, name):
    """Per-user event counts over the events file stream, drained to a
    memory sink; returns (rows, the query's state partition count)."""
    agg = read_events_stream(spark, SF_SMOKE).groupBy("user_id").count()
    query = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    parts = query.lastProgress["stateOperators"][0]["numShufflePartitions"]
    return sorted(tuple(r) for r in spark.table(name).collect()), parts


def test_bounded_drain_sizes_state_to_cores_and_restores_confs(spark):
    prev = spark.conf.get(_SHUFFLE)
    assert spark.conf.get(_CKPT_MANAGER, None) is None
    want, _ = _stateful_drain(spark, "hbdbps_test_drain_default")
    spark.conf.set(_SHUFFLE, "2")
    try:
        with bounded_drain(spark):
            assert spark.conf.get(_CKPT_MANAGER, None)
            rows, parts = _stateful_drain(spark, "hbdbps_test_drain_capped")
        assert parts == 2  # min(8 cores, 2 shuffle partitions)
        assert rows == want
        assert spark.conf.get(_SHUFFLE) == "2"
        assert spark.conf.get(_CKPT_MANAGER, None) is None

        def fail(batch_df, batch_id):
            raise RuntimeError("drain failed")

        with pytest.raises(StreamingQueryException, match="drain failed"):
            with bounded_drain(spark):
                query = (
                    read_events_stream(spark, SF_SMOKE)
                    .writeStream.foreachBatch(fail)
                    .trigger(processingTime="0 seconds")
                    .start()
                )
                try:
                    query.processAllAvailable()
                finally:
                    query.stop()
        assert spark.conf.get(_SHUFFLE) == "2"
        assert spark.conf.get(_CKPT_MANAGER, None) is None
    finally:
        spark.conf.set(_SHUFFLE, prev)


def test_drain_policy_lives_in_session_module():
    """The bounded-drain policy is stated once: no drain pins a literal
    partition count, and only the helper's module picks a checkpoint
    manager (the durable ``checkpointLocation`` writers keep Spark's
    default)."""
    pinned = re.compile(r"""["']spark\.sql\.shuffle\.partitions["']\s*,\s*["']8["']""")
    pins, managers = [], []
    for dirpath, _, files in os.walk(PACKAGE):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            src = open(path).read()
            if pinned.search(src):
                pins.append(os.path.relpath(path, PACKAGE))
            if "checkpointFileManagerClass" in src:
                managers.append(os.path.relpath(path, PACKAGE))
    assert pins == []
    assert managers == ["session.py"]
