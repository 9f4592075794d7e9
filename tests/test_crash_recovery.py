"""Crash-window recovery for the stored-artifact swap protocol, and the
read-error discipline of foreach_batch_upsert (VERDICT r7 #1 and #2).

The two failure classes closed here:
  1. `foreach_batch_upsert` must NOT treat an arbitrary read failure on a
     target that EXISTS (corrupt footer, transient storage fault) as
     "first epoch" — that would swap the whole store for just the current
     batch. Only PATH_NOT_FOUND maps to first-epoch.
  2. The install is a two-rename protocol (target -> target__prev,
     tmp -> target, delete __prev): a crash inside the window parks the
     complete store at __prev, and both the read path (`_store_path`,
     `_last_applied_epoch`) and the next install recover it. The old
     delete+rename protocol had a window where the store existed only at
     the scratch path — a restart found no artifact and no ledger.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
    _install,
    _last_applied_epoch,
    _store_path,
    foreach_batch_histogram_maintain,
    foreach_batch_upsert,
)


def _snap(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def test_upsert_sink_seeds_on_missing_target(spark, tmp_path):
    target = str(tmp_path / "upsert")
    sink = foreach_batch_upsert(target, keys=["k"])
    sink(_batch(spark, 0, 5), 0)
    assert _snap(spark, target) == [(i, i * 10) for i in range(5)]


def test_upsert_sink_raises_on_corrupt_target_instead_of_truncating(
    spark, tmp_path
):
    """A read failure on an EXISTING target must raise (the streaming
    runtime then retries the epoch) — never silently replace the store
    with the current batch."""
    target = tmp_path / "upsert"
    target.mkdir()
    garbage = target / "part-00000.parquet"
    garbage.write_bytes(b"this is not a parquet file")
    sink = foreach_batch_upsert(str(target), keys=["k"])
    with pytest.raises(Exception):
        sink(_batch(spark, 0, 5), 0)
    # the store was not swapped out from under the fault:
    assert garbage.read_bytes() == b"this is not a parquet file"
    assert not os.path.exists(str(target) + "__epoch0")


def test_upsert_sink_normal_merge_still_green(spark, tmp_path):
    target = str(tmp_path / "upsert")
    sink = foreach_batch_upsert(target, keys=["k"])
    sink(_batch(spark, 0, 5), 0)
    sink(
        spark.range(3, 8).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        ),
        1,
    )
    got = dict(_snap(spark, target))
    assert got == {0: 0, 1: 10, 2: 20, 3: -1, 4: -1, 5: -1, 6: -1, 7: -1}


def _park(target: str) -> None:
    """Simulate a crash inside the swap window: target renamed to __prev,
    replacement not yet installed."""
    shutil.move(target, target + "__prev")


def test_store_path_resolves_parked_store(spark, tmp_path):
    target = str(tmp_path / "store")
    spark.range(3).write.parquet(target)
    assert _store_path(spark, target) == target
    _park(target)
    assert _store_path(spark, target) == target + "__prev"
    # nothing anywhere: resolution falls through to the target path
    missing = str(tmp_path / "nope")
    assert _store_path(spark, missing) == missing


def test_ledger_read_falls_back_to_parked_store(spark, tmp_path):
    """After a crash in the window, the ledger must still report the true
    epoch — otherwise a restart treats the re-delivered epoch as fresh and
    double-applies it against the recovered store."""
    target = str(tmp_path / "hist")
    spark.createDataFrame([], "day date, bucket bigint, n bigint").write.parquet(
        target
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        (F.col("id") % 64).cast("double").alias("value"),
    )
    sink = foreach_batch_histogram_maintain(target, width=8.0)
    sink(mk(0, 1000), 0)
    parked_snap = _snap(spark, target)
    _park(target)
    assert _last_applied_epoch(spark, target) == 0
    # replay of the already-applied epoch is still gated while parked
    sink(mk(0, 1000), 0)
    assert _snap(spark, target + "__prev") == parked_snap
    assert not os.path.exists(target)


def test_next_epoch_recovers_parked_store_and_stays_batch_equal(
    spark, tmp_path
):
    """The full recovery story: crash in the window after epoch 0, then
    epoch 1 arrives — the sink reads the parked store, applies the delta,
    and the installed result equals a batch build over both epochs. The
    park is cleaned up."""
    from s3_to_redshift_with_airflow_spark.operators.sketches import (
        value_histogram,
    )

    target = str(tmp_path / "hist")
    spark.createDataFrame([], "day date, bucket bigint, n bigint").write.parquet(
        target
    )
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
        (F.col("id") % 64).cast("double").alias("value"),
    )
    b0, b1 = mk(0, 1000), mk(1000, 1500)
    sink = foreach_batch_histogram_maintain(target, width=8.0)
    sink(b0, 0)
    _park(target)
    sink(b1, 1)
    want = sorted(
        tuple(r)
        for r in value_histogram(b0.unionByName(b1), "value", None, "ts", 8.0).collect()
    )
    assert _snap(spark, target) == want
    assert not os.path.exists(target + "__prev")
    assert _last_applied_epoch(spark, target) == 1


def test_install_cleans_leftover_prev_from_completed_install(spark, tmp_path):
    """A crash AFTER the tmp->target rename but before the final delete
    leaves both target and __prev; the next install must prefer target
    (the newer state) and clear the leftover."""
    target = str(tmp_path / "store")
    spark.range(5).write.parquet(target)  # current state
    spark.range(3).write.parquet(target + "__prev")  # stale leftover
    tmp = target + "__next"
    spark.range(7).write.parquet(tmp)
    _install(spark, tmp, target)
    assert {r[0] for r in spark.read.parquet(target).collect()} == set(range(7))
    assert not os.path.exists(target + "__prev")
    assert not os.path.exists(tmp)


def test_compact_parquet_recovers_parked_table(spark, tmp_path):
    from s3_to_redshift_with_airflow_spark.sources.writers import (
        compact_parquet,
    )

    path = str(tmp_path / "table")
    spark.range(100).repartition(8).write.parquet(path)
    _park(path)
    n = compact_parquet(spark, path, target_file_mb=256)
    assert n == 1
    assert {r[0] for r in spark.read.parquet(path).collect()} == set(range(100))
    assert not os.path.exists(path + "__prev")
    assert not os.path.exists(path + "__compacting")


def test_ledger_parked_mid_install_still_reports_epoch(spark, tmp_path):
    """Bucketed stores install the ledger as its own artifact; a crash
    inside THAT install window parks it at _ledger__prev — the reader
    must resolve it rather than reporting 'no ledger' and waving a
    replayed epoch through."""
    target = str(tmp_path / "store")
    os.makedirs(target)
    spark.range(1).selectExpr("CAST(4 AS BIGINT) AS max_applied_epoch").coalesce(
        1
    ).write.parquet(target + "/_ledger")
    shutil.move(target + "/_ledger", target + "/_ledger__prev")
    assert _last_applied_epoch(spark, target) == 4


def test_install_crash_at_every_step_is_recoverable(spark, tmp_path):
    """Exhaustive crash-point enumeration for the two-rename protocol:
    simulate the install halting after EVERY prefix of its filesystem
    operations and assert the invariant — a COMPLETE copy of either the
    old or the new artifact is resolvable via _store_path, and a
    subsequent _install completes cleanly to the new state. This is the
    claim the old delete+rename protocol could not make (its window had
    the store only at the scratch path)."""

    def fresh(step_dir):
        target = str(step_dir / "store")
        prev = target + "__prev"
        tmp = target + "__next"
        spark.range(5).write.parquet(target)  # old state: ids 0..4
        spark.range(7).write.parquet(tmp)  # new state: ids 0..6
        return target, prev, tmp

    # the protocol's op sequence on the normal path (no pre-existing park):
    # 1. rename(target, prev)   2. rename(tmp, target)   3. delete(prev)
    def ops(target, prev, tmp):
        return [
            lambda: shutil.move(target, prev),
            lambda: shutil.move(tmp, target),
            lambda: shutil.rmtree(prev),
        ]

    for crash_after in range(0, 4):  # 0 = before anything, 3 = completed
        d = tmp_path / f"crash{crash_after}"
        d.mkdir()
        target, prev, tmp = fresh(d)
        for op in ops(target, prev, tmp)[:crash_after]:
            op()
        # invariant: a complete artifact is resolvable RIGHT NOW
        live = _store_path(spark, target)
        vals = {r[0] for r in spark.read.parquet(live).collect()}
        assert vals in ({0, 1, 2, 3, 4}, {0, 1, 2, 3, 4, 5, 6}), (
            f"crash point {crash_after}: resolved store is not a complete "
            f"artifact: {sorted(vals)}"
        )
        # and the next install (retry with a rebuilt scratch) completes
        if not os.path.exists(tmp):
            spark.range(7).write.parquet(tmp)
        _install(spark, tmp, target)
        got = {r[0] for r in spark.read.parquet(target).collect()}
        assert got == {0, 1, 2, 3, 4, 5, 6}
        assert not os.path.exists(prev)


# ------------------------------- r9: segment-compaction crash windows --


def _seed_segmented_bm25(spark, tmp_path):
    from pyspark.sql import functions as F

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        seed_bm25_index_segmented,
    )

    idx = str(tmp_path / "segidx")
    docs = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    seed_bm25_index_segmented(docs([(1, "base data doc"), (2, "more data")]), idx)
    sink = foreach_batch_bm25_maintain_segmented(idx)
    sink(docs([(3, "streamed data epoch zero")]), 0)
    sink(docs([(4, "streamed data epoch one")]), 1)
    return idx, docs, sink


def _serve_bm25(spark, idx):
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        read_bm25_index_segmented,
    )

    p, l, s = read_bm25_index_segmented(spark, idx)
    return (
        sorted(tuple(r) for r in p.collect()),
        sorted(tuple(r) for r in l.collect()),
        [tuple(r) for r in s.collect()],
    )


@pytest.mark.slow
def test_compaction_crash_at_every_step_is_recoverable(spark, tmp_path):
    """ADVICE r8 #1: the segs/ swap inside compaction gets the same
    exhaustive crash-point treatment as the artifact install. At every
    prefix of compaction's filesystem ops the invariants hold: (a) serve
    (read_bm25_index_segmented) answers with the complete pre- or
    post-compaction index — never raises, never a mixture; (b) a replayed
    epoch is skipped, not fatal; (c) a fresh maintain epoch applies; and
    (d) a subsequent compact converges to one segment. Before the fix,
    the segs-parked state made serve AND every later epoch raise
    PATH_NOT_FOUND until manual repair."""
    import shutil as _sh

    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        compact_bm25_segments,
    )

    # reference: the serve every crash state must reproduce (plus seg_5)
    ref_idx, docs, _ = _seed_segmented_bm25(spark, tmp_path / "ref")
    want_pre = _serve_bm25(spark, ref_idx)

    # compaction's op sequence after the marker install:
    #   1. write merged seg at __compacting_segs (scratch, invisible)
    #   2. rename(segs, segs__prev)      } the two-rename swap
    #   3. rename(__compacting_segs, segs)
    #   4. delete(segs__prev)
    for crash_after in range(0, 5):
        d = tmp_path / f"crash{crash_after}"
        d.mkdir()
        idx, docs, sink = _seed_segmented_bm25(spark, d)
        segs, prev, scratch = (
            f"{idx}/segs",
            f"{idx}/segs__prev",
            f"{idx}/__compacting_segs",
        )
        if crash_after >= 1:
            # run the REAL compaction, then rewind its tail ops to the
            # crash state — the merged content is the protocol's own, and
            # the pre-compaction segment set comes from an identically
            # seeded twin (the build is deterministic)
            pre_segs = str(tmp_path / f"presegs{crash_after}")
            _sh.copytree(segs, pre_segs)
            n = compact_bm25_segments(spark, idx)
            assert n == 2
            if crash_after == 1:  # scratch written, swap not started
                _sh.copytree(segs, scratch)
                _sh.rmtree(segs)
                _sh.copytree(pre_segs, segs)
            elif crash_after == 2:  # segs parked, replacement not in
                _sh.copytree(segs, scratch)
                _sh.rmtree(segs)
                _sh.copytree(pre_segs, prev)
            elif crash_after == 3:  # replacement in, stale park remains
                _sh.copytree(pre_segs, prev)
            # crash_after == 4: completed compaction, nothing to rewind
        # invariant (a): serve answers the complete index RIGHT NOW
        assert _serve_bm25(spark, idx) == want_pre, f"crash point {crash_after}"
        # invariant (b): replay of an applied epoch is skipped, not fatal
        sink(docs([(3, "streamed data epoch zero")]), 0)
        assert _serve_bm25(spark, idx) == want_pre
        # invariant (c): a fresh epoch applies cleanly
        sink(docs([(5, "post crash epoch")]), 5)
        after = _serve_bm25(spark, idx)
        assert len(after[1]) == len(want_pre[1]) + 1
        # invariant (d): compaction completes from this state
        compact_bm25_segments(spark, idx)
        assert _serve_bm25(spark, idx) == after
        assert not os.path.exists(prev)
        assert not os.path.exists(scratch)
        assert sorted(d for d in os.listdir(f"{idx}/segs") if not d.startswith("_")) == ["seg_base"]


# -------------------- r10: additive bucketed store crash windows (ADVICE r9) --


class _CrashNow(Exception):
    """Simulated process death between two filesystem operations."""


class _CrashingFS:
    """Proxy over the Hadoop FileSystem that spends one unit of `budget`
    per MUTATING op (rename/delete/mkdirs) and raises _CrashNow when it
    runs out — read ops (exists, globStatus, ...) pass through free. Lets
    a test enumerate every fs-op prefix of a sink's mutation sequence."""

    def __init__(self, fs, budget):
        self._fs = fs
        self._budget = budget

    def _spend(self):
        self._budget[0] -= 1
        if self._budget[0] < 0:
            raise _CrashNow()

    def rename(self, src, dst):
        self._spend()
        return self._fs.rename(src, dst)

    def delete(self, path, recursive=True):
        self._spend()
        return self._fs.delete(path, recursive)

    def mkdirs(self, path):
        self._spend()
        return self._fs.mkdirs(path)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def test_install_crash_at_each_own_fs_op_keeps_a_complete_ledger(
    spark, tmp_path, monkeypatch
):
    """`_install` runs its filesystem ops through `_hadoop_fs`, so a crash
    injected there ALONE (`_install` itself unpatched) lands after every
    prefix of its own mutations. Over a text `_ledger` target each prefix
    must leave `_last_applied_epoch` reading the complete old or the
    complete new epoch, and a clean retry must converge with no `__prev`
    park left. Driver-side text files only: no Spark job."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    real_hfs = pl._hadoop_fs
    crashes = 0
    crash_after = 0
    while True:
        root = str(tmp_path / f"crash{crash_after}")
        scratch = root + "__next"
        pl._write_ledger(spark, root, 3)  # old epoch
        pl._write_ledger(spark, scratch, 4)  # new epoch, ready to install
        budget = [crash_after]
        monkeypatch.setattr(
            pl,
            "_hadoop_fs",
            lambda s, p, _b=budget: (_CrashingFS(real_hfs(s, p)[0], _b), real_hfs(s, p)[1]),
        )
        try:
            pl._install(spark, f"{scratch}/_ledger", f"{root}/_ledger")
            completed = True
        except _CrashNow:
            completed = False
            crashes += 1
        finally:
            monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
        got = pl._last_applied_epoch(spark, root)
        assert got in (3, 4), f"crash point {crash_after}: ledger reads {got}"
        if completed:
            assert got == 4
        # a replayed epoch rebuilds its scratch, then installs cleanly
        if not os.path.exists(f"{scratch}/_ledger"):
            pl._write_ledger(spark, scratch, 4)
        pl._install(spark, f"{scratch}/_ledger", f"{root}/_ledger")
        assert pl._last_applied_epoch(spark, root) == 4
        assert not os.path.exists(f"{root}/_ledger__prev")
        if completed:
            break
        crash_after += 1
    # mkdirs(park parent), park rename, swap rename, park delete
    assert crashes == 4


def test_pipeline_opens_filesystems_only_through_hadoop_fs():
    """Every store filesystem op goes through `_hadoop_fs` — the one point
    where crash injection (`_CrashingFS`) sees every mutation."""
    import inspect

    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    assert inspect.getsource(pl).count("getFileSystem(") == 1
    assert "getFileSystem(" in inspect.getsource(pl._hadoop_fs)


def test_segment_epoch_protocol_has_one_prologue_and_one_publish():
    """The segment-store epoch protocol is written once: one top-level
    function (with its nested `_sink` closures) runs the replay gate, and
    `_manifest_add` is reached only from the publish helper and the
    gate's own repair — so a new segment publisher cannot copy the
    protocol instead of calling it."""
    import ast
    import inspect

    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    tree = ast.parse(inspect.getsource(pl))

    def callers(name):
        return sorted(
            fn.name
            for fn in tree.body
            if isinstance(fn, ast.FunctionDef)
            and any(
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == name
                for n in ast.walk(fn)
            )
        )

    assert len(callers("_segment_replay_applied")) == 1, callers(
        "_segment_replay_applied"
    )
    assert len(callers("_manifest_add")) <= 2, callers("_manifest_add")


@pytest.mark.slow
def test_wagg_bucketed_crash_at_every_fs_op_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 (high): the bucketed weighted-aggregate maintainer's merge
    is ADDITIVE, so the CDC twins' catch-up recovery (re-apply the epoch,
    already-updated buckets converge) double-adds here, and a bucket the
    z-set zero rule deleted re-merges into negative counts. The fixed
    protocol parks every pre-epoch bucket until the ledger commits and
    rolls back on replay. This test kills the process (simulated) after
    EVERY mutating fs op of the epoch — including mid-bucket-loop, after
    the zero-emptied bucket's park, and between the ledger install and
    cleanup — then replays, and asserts the store equals the plain
    (unbucketed, separately-oracled) sink's result exactly: no double-add,
    no negative counts, no resurrected zero-emptied bucket."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        bucket_expr,
        foreach_batch_weighted_agg_maintain,
        foreach_batch_weighted_agg_maintain_bucketed,
        write_bucketed_store,
    )

    n_buckets = 8
    base = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        (F.col("id") * 1.0).alias("value"),
    )
    state = base.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("decimal(38,6)")
        .alias("sm"),
    )

    def snap(path):
        df = spark.read.parquet(path)
        if "bucket" in df.columns:
            df = df.drop("bucket")
        return sorted((r["k"], r["cnt"], float(r["sm"])) for r in df.collect())

    # epoch-0 delta: zero-empty one whole bucket, insert a new key, update
    # an existing key in a DIFFERENT bucket — exercises all three bucket
    # fates (deleted / born / rewritten) under every crash point
    target_b = (
        spark.createDataFrame([("k3",)], "k string")
        .select(bucket_expr(["k"], n_buckets).alias("b"))
        .collect()[0]["b"]
    )
    seed_rows = state.withColumn("b", bucket_expr(["k"], n_buckets)).collect()
    doomed = [r["k"] for r in seed_rows if r["b"] == int(target_b)]
    survivor = next(r["k"] for r in seed_rows if r["b"] != int(target_b))
    delta0 = spark.createDataFrame(
        [(k, float(k[1:]), -1) for k in doomed]
        + [("new1", 99.0, 1), (survivor, 5.0, 1)],
        "k string, value double, w int",
    )
    delta1 = spark.createDataFrame(
        [("new1", 99.0, -1), ("new2", 7.0, 1)], "k string, value double, w int"
    )

    # oracle twin: the plain sink (its maintain==recompute is oracled by
    # streaming_agg_retract_maintain and hypothesis-tested)
    plain_t = str(tmp_path / "plain")
    state.write.parquet(plain_t)
    plain = foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")
    plain(delta0, 0)
    want0 = snap(plain_t)
    plain(delta1, 1)
    want1 = snap(plain_t)

    real_hfs, real_install = pl._hadoop_fs, pl._install
    crash_after = 0
    while True:
        target = str(tmp_path / f"crash{crash_after}")
        write_bucketed_store(state, target, ["k"], n_buckets)
        budget = [crash_after]

        def crashing_hfs(spark_, path, _b=budget):
            fs, P = real_hfs(spark_, path)
            return _CrashingFS(fs, _b), P

        def crashing_install(*a, _b=budget, **kw):
            _b[0] -= 1
            if _b[0] < 0:
                raise _CrashNow()
            return real_install(*a, **kw)

        sink = foreach_batch_weighted_agg_maintain_bucketed(
            target, ["k"], "value", n_buckets=n_buckets
        )
        monkeypatch.setattr(pl, "_hadoop_fs", crashing_hfs)
        monkeypatch.setattr(pl, "_install", crashing_install)
        try:
            sink(delta0, 0)
            completed = True
        except _CrashNow:
            completed = False
        finally:
            monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
            monkeypatch.setattr(pl, "_install", real_install)

        # at-least-once replay of the same epoch after the crash: recovery
        # must rewind (or finalize) so the replay lands on the exact state
        sink(delta0, 0)
        assert snap(target) == want0, f"crash point {crash_after}"
        assert pl._last_applied_epoch(spark, target) == 0
        # zero-emptied bucket stays gone (not resurrected by rollback)
        assert not os.path.exists(f"{target}/bucket={int(target_b)}")
        # no crash debris
        assert not os.path.exists(target + "__prevb")
        assert not os.path.exists(target + "__waggb_epoch0")
        # and the next epoch applies cleanly on top
        sink(delta1, 1)
        assert snap(target) == want1, f"crash point {crash_after}"
        if completed:
            break  # every crash point before completion has been enumerated
        crash_after += 1
    assert crash_after >= 8  # the enumeration actually covered the loop


@pytest.mark.slow
def test_wagg_bucketed_rollback_itself_is_reentrant(spark, tmp_path, monkeypatch):
    """A crash DURING recovery's rewind must leave a state the next
    recovery completes from: crash the epoch mid-bucket-loop, then crash
    the rollback at every one of ITS fs ops, then replay cleanly."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_weighted_agg_maintain,
        foreach_batch_weighted_agg_maintain_bucketed,
        write_bucketed_store,
    )

    state = spark.range(64).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"),
        F.lit(1).cast("bigint").alias("cnt"),
        F.col("id").cast("decimal(38,6)").alias("sm"),
    )
    delta = spark.createDataFrame(
        [(f"k{i}", float(i), -1) for i in range(0, 64, 2)] + [("nw", 3.0, 1)],
        "k string, value double, w int",
    )
    plain_t = str(tmp_path / "plain")
    state.write.parquet(plain_t)
    foreach_batch_weighted_agg_maintain(plain_t, ["k"], "value")(delta, 0)
    want = sorted(
        (r["k"], r["cnt"], float(r["sm"]))
        for r in spark.read.parquet(plain_t).collect()
    )

    real_hfs, real_install = pl._hadoop_fs, pl._install
    for rollback_crash in range(0, 12):
        target = str(tmp_path / f"rb{rollback_crash}")
        write_bucketed_store(state, target, ["k"], 8)
        sink = foreach_batch_weighted_agg_maintain_bucketed(
            target, ["k"], "value", n_buckets=8
        )
        # first crash: mid-mutation (after the manifest + a few bucket moves)
        budget = [5]
        monkeypatch.setattr(
            pl,
            "_hadoop_fs",
            lambda s, p, _b=budget: (_CrashingFS(real_hfs(s, p)[0], _b), real_hfs(s, p)[1]),
        )
        monkeypatch.setattr(
            pl,
            "_install",
            lambda *a, _b=budget, **kw: (_b.__setitem__(0, _b[0] - 1), real_install(*a, **kw))[1]
            if _b[0] > 0
            else (_ for _ in ()).throw(_CrashNow()),
        )
        try:
            sink(delta, 0)
        except _CrashNow:
            pass
        # second crash: during the replay's ROLLBACK
        budget2 = [rollback_crash]
        monkeypatch.setattr(
            pl,
            "_hadoop_fs",
            lambda s, p, _b=budget2: (_CrashingFS(real_hfs(s, p)[0], _b), real_hfs(s, p)[1]),
        )
        monkeypatch.setattr(
            pl,
            "_install",
            lambda *a, _b=budget2, **kw: (_b.__setitem__(0, _b[0] - 1), real_install(*a, **kw))[1]
            if _b[0] > 0
            else (_ for _ in ()).throw(_CrashNow()),
        )
        try:
            sink(delta, 0)
            second_completed = True
        except _CrashNow:
            second_completed = False
        finally:
            monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
            monkeypatch.setattr(pl, "_install", real_install)
        # clean replay converges regardless of where the rollback died
        sink(delta, 0)
        got = sorted(
            (r["k"], r["cnt"], float(r["sm"]))
            for r in spark.read.parquet(target).drop("bucket").collect()
        )
        assert got == want, f"rollback crash point {rollback_crash}"
        if second_completed:
            break


# ------------- segment-store epoch protocol: mutation traces per sink --


class _RecordingFS:
    """Proxy over the Hadoop FileSystem that records every MUTATING op
    (the ones `_CrashingFS` counts: mkdirs, rename, delete) with each path
    relative to `base`, and never crashes."""

    def __init__(self, fs, log, base):
        self._fs = fs
        self._log = log
        self._base = base.rstrip("/") + "/"

    def _rel(self, path):
        return str(path.toString()).split(self._base, 1)[-1]

    def rename(self, src, dst):
        self._log.append(("rename", self._rel(src), self._rel(dst)))
        return self._fs.rename(src, dst)

    def delete(self, path, recursive=True):
        self._log.append(("delete", self._rel(path)))
        return self._fs.delete(path, recursive)

    def mkdirs(self, path):
        self._log.append(("mkdirs", self._rel(path)))
        return self._fs.mkdirs(path)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _recorded(monkeypatch, base, run):
    """The mutating fs ops `run()` makes, in order."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    real_hfs = pl._hadoop_fs
    log: list = []

    def recording(s, p):
        fs, P = real_hfs(s, p)
        return _RecordingFS(fs, log, str(base)), P

    monkeypatch.setattr(pl, "_hadoop_fs", recording)
    try:
        run()
    finally:
        monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
    return log


def _manifest_commit(segs):
    # `_write_manifest`'s two-rename `_install` over a live `_manifest`
    return [
        ("mkdirs", segs),
        ("rename", f"{segs}/_manifest", f"{segs}/_manifest__prev"),
        ("rename", f"{segs}/__manifest_next", f"{segs}/_manifest"),
        ("delete", f"{segs}/_manifest__prev"),
    ]


def _publish(scratch, segs, epoch):
    return [
        ("mkdirs", segs),
        ("rename", scratch, f"{segs}/seg_{epoch}"),
        *_manifest_commit(segs),
    ]


def _join_view_fixture(spark, tmp_path, name):
    """A manifest-mode join view (seg_base + one-line manifest) over a
    three-key dimension, and a fact-batch factory."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl

    dim_path = str(tmp_path / f"{name}_dim")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, attr string"
    ).write.parquet(dim_path)
    view = str(tmp_path / name)
    spark.createDataFrame(
        [(10, 1, "a")], "fid long, k long, attr string"
    ).write.parquet(f"{view}/segs/seg_base")
    pl._write_manifest(spark, f"{view}/segs", ["seg_base"])
    facts = lambda rows: spark.createDataFrame(rows, "fid long, k long")  # noqa: E731
    return view, dim_path, facts


def test_segment_publishers_record_their_exact_mutation_sequence(
    spark, tmp_path, monkeypatch
):
    """One published epoch of each of the six segment publishers makes
    exactly this sequence of mutating fs ops (recorded at `_hadoop_fs`,
    the one choke point), and a redelivered epoch makes none on the four
    manifest maintainers — the publish order every crash argument of the
    segment-store protocol rests on."""
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_bm25_maintain_segmented,
        foreach_batch_dedup_gate,
        foreach_batch_ivf_pq_maintain_segmented,
        foreach_batch_join_view_maintain,
        foreach_batch_join_view_scd2_maintain,
        foreach_batch_neardup_gate,
        seed_bm25_index_segmented,
        seed_ivf_pq_index_segmented,
    )

    def rec(run):
        return _recorded(monkeypatch, tmp_path, run)

    docs = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731

    # BM25 (seeded: manifest mode)
    seed_bm25_index_segmented(docs([(1, "base doc words")]), str(tmp_path / "bm25"))
    bm25 = foreach_batch_bm25_maintain_segmented(str(tmp_path / "bm25"))
    epoch = docs([(2, "epoch doc words")])
    assert rec(lambda: bm25(epoch, 0)) == _publish(
        "bm25/__seg_epoch0", "bm25/segs", 0
    )
    assert rec(lambda: bm25(epoch, 0)) == []

    # IVF-PQ (seeded: manifest mode)
    emb = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: ((F.col("id") * 37 + i * 11) % 19 - 9.0) / 3.0,
        ).alias("embedding"),
    )
    seed_ivf_pq_index_segmented(
        emb(20, 60), str(tmp_path / "ivf"), n_probe=2, km_k=4, km_iter=1,
        m_subspaces=4, k_centroids=4, pq_iter=1, dim=8,
    )
    ivf = foreach_batch_ivf_pq_maintain_segmented(
        str(tmp_path / "ivf"), m_subspaces=4, dim=8
    )
    assert rec(lambda: ivf(emb(0, 20), 0)) == _publish(
        "ivf/__ivfseg_epoch0", "ivf/segs", 0
    )
    assert rec(lambda: ivf(emb(0, 20), 0)) == []

    # join view
    view, dim_path, facts = _join_view_fixture(spark, tmp_path, "jv")
    jv = foreach_batch_join_view_maintain(
        view, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
    )
    assert rec(lambda: jv(facts([(11, 2), (12, 3)]), 0)) == _publish(
        "jv/__jv_epoch0", "jv/segs", 0
    )
    assert rec(lambda: jv(facts([(11, 2), (12, 3)]), 0)) == []

    # SCD2 join view
    dim2 = str(tmp_path / "scd2dim")
    spark.createDataFrame([(1, "a"), (2, "b")], "k long, attr string").select(
        "k", "attr",
        F.lit("2020-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    ).write.parquet(dim2)
    view2, _, _ = _join_view_fixture(spark, tmp_path, "jv2")
    facts2 = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "fid long, k long, ts string"
    ).select("fid", "k", F.col("ts").cast("timestamp").alias("ts"))
    jv2 = foreach_batch_join_view_scd2_maintain(
        view2, dim2, fact_key="k", dim_key="k",
        dim_cols=["attr"], event_time_col="ts",
    )
    b2 = facts2([(11, 1, "2023-01-01"), (12, 2, "2023-06-01")])
    assert rec(lambda: jv2(b2, 0)) == _publish("jv2/__jv2_epoch0", "jv2/segs", 0)
    assert rec(lambda: jv2(b2, 0)) == []

    # dedup gate (fresh store): publish, then the fold
    gate = foreach_batch_dedup_gate(str(tmp_path / "gate"), n_buckets=2)
    assert rec(lambda: gate(docs([(1, "alpha beta"), (2, "gamma")]), 0)) == [
        ("mkdirs", "gate/accepted"),
        ("rename", "gate/__gate_epoch0", "gate/accepted/seg_0"),
        ("mkdirs", "gate/fps"),
        ("rename", "gate/__fps_epoch0/bucket=0", "gate/fps/bucket=0"),
        ("rename", "gate/__fps_epoch0/bucket=1", "gate/fps/bucket=1"),
        ("delete", "gate/__fps_epoch0"),
        ("delete", "gate/fps__prevb"),
    ]

    # neardup gate (fresh store): publish, then both folds
    nd = foreach_batch_neardup_gate(str(tmp_path / "nd"), n_buckets=2)
    nd_batch = docs([(1, "the quick brown fox"), (2, "lazy dog")])
    assert rec(lambda: nd(nd_batch, 0)) == [
        ("mkdirs", "nd/decided"),
        ("rename", "nd/__gate_epoch0", "nd/decided/seg_0"),
        ("mkdirs", "nd/bands"),
        ("rename", "nd/bands__fold_epoch0/bucket=0", "nd/bands/bucket=0"),
        ("rename", "nd/bands__fold_epoch0/bucket=1", "nd/bands/bucket=1"),
        ("delete", "nd/bands__fold_epoch0"),
        ("delete", "nd/bands__prevb"),
        ("mkdirs", "nd/sh"),
        ("rename", "nd/sh__fold_epoch0/bucket=0", "nd/sh/bucket=0"),
        ("delete", "nd/sh__fold_epoch0"),
        ("delete", "nd/sh__prevb"),
    ]


def test_join_view_reader_at_every_fs_op_of_segment_publish(
    spark, tmp_path, monkeypatch
):
    """A crash injected at `_hadoop_fs` alone after every prefix of a join
    view epoch's mutations (the publish rename, then the manifest commit):
    before any recovery the manifest-resolved read serves exactly the
    pre-epoch or the post-epoch rows, and the epoch's replay then lands
    it exactly once."""
    import s3_to_redshift_with_airflow_spark.streaming.pipeline as pl
    from s3_to_redshift_with_airflow_spark.streaming.pipeline import (
        foreach_batch_join_view_maintain,
        read_join_view_segments,
    )

    def rows(view):
        return sorted(
            tuple(r)
            for r in read_join_view_segments(spark, view)
            .select("fid", "k", "attr")
            .collect()
        )

    want_pre = [(10, 1, "a")]
    want_post = [(10, 1, "a"), (11, 2, "b"), (12, 3, "c")]
    real_hfs = pl._hadoop_fs
    crashes = 0
    crash_after = 0
    while True:
        view, dim_path, facts = _join_view_fixture(
            spark, tmp_path, f"jv{crash_after}"
        )
        sink = foreach_batch_join_view_maintain(
            view, dim_path, fact_key="k", dim_key="k", dim_cols=["attr"]
        )
        budget = [crash_after]
        monkeypatch.setattr(
            pl,
            "_hadoop_fs",
            lambda s, p, _b=budget: (_CrashingFS(real_hfs(s, p)[0], _b), real_hfs(s, p)[1]),
        )
        try:
            sink(facts([(11, 2), (12, 3)]), 0)
            completed = True
        except _CrashNow:
            completed = False
            crashes += 1
        finally:
            monkeypatch.setattr(pl, "_hadoop_fs", real_hfs)
        got = rows(view)
        assert got in (want_pre, want_post), f"torn read at prefix {crash_after}"
        if completed:
            assert got == want_post
        sink(facts([(11, 2), (12, 3)]), 0)
        assert rows(view) == want_post, f"prefix {crash_after}"
        if completed:
            break
        crash_after += 1
    # at least the publish rename and the manifest commit
    assert crashes >= 2
