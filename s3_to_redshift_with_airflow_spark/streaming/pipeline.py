"""Structured Streaming variant of the pipeline (SURVEY §2.10).

The reference implements micro-batch streaming by orchestration: an hourly
Airflow trigger lists S3 files modified in the last 2 hours, dedups on
(user_id, track_id, listen_time), and upserts day-scoped KPI rows
(reference: dags/etl/extract_stream_data.py:124-168,206;
load_to_redshift.py:187-201). That is: at-least-once file pickup + idempotent
dedup + idempotent sink.

Here the same semantics are native:
  - file source discovers new files per trigger (`maxFilesPerTrigger` for
    backpressure — replaces the reference's MaxKeys=100 cap);
  - `withWatermark(event_time, "2 hours")` bounds state exactly like the
    reference's 2-hour lookback bounds reprocessing;
  - stateful `dropDuplicatesWithinWatermark` on the event key replaces the
    batch dedup (state is evicted after the watermark — at 100 TB/day the
    dedup state stays bounded to ~2 hours of keys);
  - tumbling `window(event_time, "1 hour")` aggregation replaces the
    hour-of-day groupBy (the batch engine's hour_window_agg query is the
    same plan shape — batch/streaming source-compatible);
  - `foreachBatch` + the engine's upsert operator gives the reference's
    delete+insert idempotent sink per micro-batch.

Streaming aggregation constraint: exact countDistinct is unsupported in
streaming — the scalable HLL `approx_count_distinct` is used (the reference's
`unique_listeners` becomes approximate in the streaming path; the batch path
stays exact).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    event_time_col: str = "ts",
    watermark: str | None = "2 hours",
    path_glob_filter: str | None = None,
) -> DataFrame:
    """File-source stream with the reference's late-data allowance as a
    watermark.

    watermark=None skips the withWatermark call — for sources whose event
    time needs rebuilding first (e.g. parquet nanosecond longs; apply
    with_ts_from_nanos then withWatermark yourself). `path` must be a
    directory (FileStreamSource requirement); select single files with
    path_glob_filter."""
    reader = spark.readStream.format(fmt).schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if path_glob_filter:
        reader = reader.option("pathGlobFilter", path_glob_filter)
    out = reader.load(path)
    if watermark is not None:
        if isinstance(out.schema[event_time_col].dataType, T.TimestampNTZType):
            # withWatermark requires TIMESTAMP; tz-naive parquet micros infer
            # as NTZ. Value-preserving under the UTC session.
            out = out.withColumn(
                event_time_col, F.col(event_time_col).cast("timestamp")
            )
        out = out.withWatermark(event_time_col, watermark)
    return out


def dedup_events(stream: DataFrame, keys: list[str]) -> DataFrame:
    """Stateful at-least-once → effectively-once dedup (reference D2).

    dropDuplicatesWithinWatermark keeps state only until the watermark
    passes — bounded memory at any throughput."""
    return stream.dropDuplicatesWithinWatermark(keys)


def windowed_kpis(
    stream: DataFrame,
    event_time_col: str = "ts",
    user_col: str = "user_id",
    value_col: str | None = "value",
    window_size: str = "1 hour",
) -> DataFrame:
    """Tumbling-window KPIs: event count, approx distinct users, value sum.

    Emits (window_start, n_events, approx_users[, total_value]); append mode
    fires a window once the watermark passes its end."""
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct(user_col).alias("approx_users"),
    ]
    if value_col:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(27,6)")).cast("double").alias("total_value")
        )
    return (
        stream.groupBy(F.window(F.col(event_time_col), window_size).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"), *[a for a in
                ["n_events", "approx_users"] + (["total_value"] if value_col else [])])
    )


def run_to_memory(agg: DataFrame, query_name: str, output_mode: str = "append"):
    """Drive a streaming aggregation to completion against a memory sink
    (availableNow trigger): test/smoke harness for the streaming plans."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def foreach_batch_upsert(
    target_path: str,
    keys: list[str],
):
    """foreachBatch sink: upsert each micro-batch into a parquet target via
    the engine's anti-join+union upsert — the same delete+insert idempotency
    as the reference's Redshift transaction (J3), per epoch.

    With a transactional table format (Delta/Iceberg — jars not in this
    image) this becomes a real MERGE INTO; the parquet rewrite here is the
    dependency-free equivalent with identical semantics for tests and small
    sinks.

    Naturally replay-idempotent: a keyed delete+insert of a batch the
    target already absorbed rewrites the same rows (at-least-once epoch
    re-delivery cannot change the store), so no epoch ledger is needed —
    unlike the additive MG/histogram maintainers.
    """
    from pyspark.errors import AnalysisException

    from ..operators.relational import upsert_dataframe

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(keys)  # idempotency within the batch
        try:
            target = spark.read.parquet(_store_path(spark, target_path))
            merged = upsert_dataframe(target, batch, keys)
        except AnalysisException as e:
            # ONLY the missing-target case means "first epoch, seed the
            # store with the batch". Any other read failure — a corrupt
            # footer, a permission fault, a transient storage error on a
            # target that EXISTS — re-raises: treating it as first-epoch
            # would swap the whole store for just this batch (silent data
            # loss). Same discipline as _last_applied_epoch below.
            if not _is_path_missing(e):
                raise
            merged = batch  # first epoch: target does not exist yet
        _write_then_swap(merged, target_path, f"__epoch{epoch_id}")

    return _sink


def _is_path_missing(e: Exception) -> bool:
    """True iff the error is parquet-read-on-absent-path — the only
    failure class that safely maps to 'no store yet'."""
    msg = str(e)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def _write_then_swap(
    df: DataFrame, target_path: str, suffix: str, epoch_id: int | None = None
) -> None:
    """Write-then-swap (same protocol as compact_parquet): the frame is
    fully materialized at the scratch path while the live target is still
    intact, so a lost executor or cache eviction can never recompute from
    an already-truncated target.

    With `epoch_id`, an epoch LEDGER (a 1-row parquet under the
    underscore-hidden `_ledger/` subdir, invisible to the artifact's own
    parquet reads) is written into the scratch dir BEFORE the rename, so
    one atomic swap installs artifact + ledger together — there is no
    window where the store reflects an epoch the ledger does not. Paired
    with `_last_applied_epoch`, this is the standard idempotent-
    foreachBatch pattern: foreachBatch delivery is AT-LEAST-ONCE (a crash
    between sink completion and checkpoint commit re-delivers the same
    epoch_id on restart), and non-idempotent merges (Misra-Gries counter
    adds, histogram bucket adds) would double-count the replay without
    the ledger gate.

    Note the live store's scan happens DURING the tmp write (Spark reads
    are lazy) — strictly before any rename below touches it."""
    spark = df.sparkSession
    tmp = target_path.rstrip("/") + suffix
    df.write.mode("overwrite").parquet(tmp)
    if epoch_id is not None:
        _write_ledger(spark, tmp, epoch_id)
    _install(spark, tmp, target_path)


def _write_ledger(spark: SparkSession, dir_path: str, epoch_id: int) -> None:
    """Write the epoch ledger as ONE underscore-hidden text FILE via a
    driver-side Hadoop create — no Spark job. The previous 1-row parquet
    spelling cost ~0.17 s per epoch for the write job plus ~0.17 s for the
    read-back gate (measured warm), a fixed tax on every epoch of every
    stored-artifact consumer; the text file is a metadata-speed op with
    the SAME protocol properties (written inside the scratch dir BEFORE
    the install rename, so artifact + ledger still commit in one atomic
    swap; underscore-prefixed files stay invisible to parquet reads).
    `_last_applied_epoch` reads this file and falls back to the legacy
    parquet-dir format for stores written before this round."""
    _write_text_sidecar(
        spark, dir_path.rstrip("/") + "/_ledger", str(int(epoch_id))
    )


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class) for `path` — any Hadoop scheme. The ONE
    place this module opens a FileSystem: every store filesystem op goes
    through it, so a wrapper installed here (the tests' crash injection)
    sees every mutation."""
    jvm = spark._jvm  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    P = jvm.org.apache.hadoop.fs.Path
    return P(path).getFileSystem(conf), P


def _install(
    spark: SparkSession, tmp: str, target_path: str, prev_path: str | None = None
) -> None:
    """Two-rename crash-safe install: `target`→`target__prev`,
    `tmp`→`target`, delete `__prev`. The previous protocol (delete target,
    then rename tmp over it) had a crash window in which the store existed
    ONLY at the scratch path — a restart found no artifact and no ledger.
    Here the invariant is: at every instant, a COMPLETE artifact exists at
    `target` or at the park path (read-side resolution: `_store_path`).
    A crash inside the rename window parks the store at `__prev`; the next
    install's restore step (`_restore_park`, or any `_store_path` read)
    recovers it. Cost: two metadata renames instead of delete+rename —
    free. Every filesystem op goes through `_hadoop_fs`, so a crash
    injected there reaches this install's own restore, park, swap and
    cleanup.

    `prev_path` overrides the park location — used only by the catch-up
    bucket install (`_catch_up_install`), whose park must live OUTSIDE the
    partitioned table root (a `bucket=K__prev` dir inside it would poison
    partition discovery)."""
    fs, P = _hadoop_fs(spark, target_path)
    tgt = P(target_path)
    prev = P(prev_path or target_path.rstrip("/") + "__prev")
    # a park left by a previous install that crashed inside its swap
    # window is restored (or, beside a live target, dropped) first, so
    # the invariant holds through this install too
    _restore_park(fs, prev, tgt)
    if fs.exists(tgt):
        fs.mkdirs(prev.getParent())  # park parent may not exist yet
        _rename_or_raise(fs, tgt, prev)
    _rename_or_raise(fs, P(tmp), tgt)
    if fs.exists(prev):
        fs.delete(prev, True)


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop FileSystem.rename reports failure by RETURNING false (missing
    parent, existing destination, cross-FS) — a silently-ignored false here
    would break the install invariant, so surface it."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def _restore_park(fs, park, target) -> None:
    """The one park-restore rule: a park whose target is absent holds the
    live store (a crash landed inside the two-rename swap window) and is
    renamed back; a park beside an existing target is a completed
    install's stale leftover (crash after install, before cleanup) and is
    deleted."""
    if not fs.exists(park):
        return
    if fs.exists(target):
        fs.delete(park, True)
    else:
        _rename_or_raise(fs, park, target)


def _store_path(spark: SparkSession, target_path: str) -> str:
    """Resolve the live store: `target_path` normally, or the swap
    protocol's `__prev` park when a crash landed inside the two-rename
    window (target renamed away, replacement not yet installed). Pure
    read-side resolution — no filesystem mutation; the next `_install`
    moves the parked store back."""
    fs, P = _hadoop_fs(spark, target_path)
    if fs.exists(P(target_path)):
        return target_path
    prev = target_path.rstrip("/") + "__prev"
    if fs.exists(P(prev)):
        return prev
    return target_path


def _recover_parked(spark: SparkSession, target_path: str) -> None:
    """Standalone restore for a directory parked at `target__prev` by a
    crash inside its two-rename swap window — the mutation twin of
    `_store_path`'s read-side resolution, for callers that are about to
    WRITE under the directory (the segmented maintainers publish into
    `segs/`; compaction counts its children): resolving the read path is
    not enough there, because publishing into a freshly-created `segs/`
    while the real one sits parked would leave two half-stores (ADVICE
    r8 #1). Applies `_restore_park` to the directory's park."""
    fs, P = _hadoop_fs(spark, target_path)
    _restore_park(fs, P(target_path.rstrip("/") + "__prev"), P(target_path))


def _last_applied_epoch(spark: SparkSession, target_path: str) -> int:
    """Read the stored artifact's epoch ledger; -1 when absent (fresh
    store, or a store seeded batch-side before the stream's first epoch).
    Epoch ids within one checkpointed query are monotonically increasing,
    so `epoch_id <= _last_applied_epoch(...)` identifies a replay
    exactly.

    ONLY the missing-ledger case maps to -1 (AnalysisException: path not
    found). Any other failure — a transient storage error on a ledger
    that EXISTS — re-raises: treating it as "no ledger" would wave a
    replayed epoch through the gate and double-apply it, the exact
    failure class the ledger prevents. Failing the micro-batch instead
    lets the streaming runtime retry the epoch with the gate intact.

    Reads through `_store_path`, so a store parked at `__prev` by a crash
    inside the swap window still reports its true epoch — without the
    fallback, a post-crash restart would see "no ledger", treat the next
    delivery as fresh, and re-apply it against the recovered store."""
    from pyspark.errors import AnalysisException

    # outer _store_path: a ledger individually parked by a crash inside
    # its own install window (bucketed stores install the ledger as its
    # own artifact); inner: the whole store parked at target__prev
    ledger_path = _store_path(
        spark, _store_path(spark, target_path).rstrip("/") + "/_ledger"
    )
    fs, P = _hadoop_fs(spark, ledger_path)
    p = P(ledger_path)
    if not fs.exists(p):
        return -1  # no ledger written yet
    try:
        if fs.getFileStatus(p).isFile():
            # current format: one ASCII int, read driver-side (no Spark
            # job). A live ledger is always complete (it only becomes
            # visible via the install rename), so a parse failure is a
            # REAL storage fault — raise, same discipline as the legacy
            # parquet branch below.
            return int(_read_text_sidecar_lines(spark, ledger_path)[0])
    except Exception as e:  # noqa: BLE001
        # exists -> getFileStatus/open is not atomic: a concurrent
        # ledger install (two-rename swap) between those calls surfaces
        # as a Py4J FileNotFound. Map exactly that window to the legacy
        # missing-path meaning (-1 == no ledger visible at this instant,
        # ADVICE r11 #3); anything else is a real storage fault.
        if "FileNotFoundException" in str(e) or "File does not exist" in str(e):
            return -1
        raise
    # legacy format (stores written before round 11's optimization pass):
    # a 1-row parquet dir with column max_applied_epoch
    try:
        rows = (
            spark.read.parquet(ledger_path)
            .select("max_applied_epoch")
            .collect()
        )
        return int(rows[0][0]) if rows else -1
    except AnalysisException as e:
        if _is_path_missing(e):
            return -1  # no ledger written yet
        raise


def foreach_batch_cdc_scd2(
    target_path: str,
    keys: list[str],
    attrs: list[str],
    order_cols: list[str],
    effective_for=None,
    event_time_col: str | None = None,
):
    """foreachBatch sink: apply each micro-batch of an I/U/D changelog to
    the SCD2 dimension stored at `target_path` via
    operators/relational.cdc_to_scd2 — the streaming twin of
    cdc_scd2_pipeline, and the shape a Debezium/Delta-CDF consumer
    actually runs: per epoch, compact the batch to its net per-key delta
    (last writer under `order_cols` wins), close/open versions at the
    epoch's effective timestamp, close-without-successor on delete.

    `effective_for(epoch_id) -> ISO timestamp string` supplies the
    per-epoch effective time DETERMINISTICALLY (never now() — replays
    must reproduce); default pins every epoch to '2024-02-01', which
    makes a single-epoch availableNow run bit-equal to the batch
    pipeline. `event_time_col` instead derives each epoch's effective
    time from the BATCH'S OWN DATA — max(event_time) over the
    micro-batch — so versions carry real validity intervals across
    epochs; equally deterministic (a replayed epoch holds the same rows,
    hence the same max), and what a production CDC consumer wants. The
    two are mutually exclusive. NOTE the cross-batch semantics are the
    real-world ones: a key updated in two different epochs records one
    version per epoch (the batch pipeline, compacting globally, records
    only the final one) — pinned in tests/test_streaming.py.

    Replay safety is DOUBLE-covered: cdc_to_scd2 is no-op idempotent
    (re-applying a changelog whose net effect is already in the
    dimension opens no new versions — tests/test_relational.py), and the
    epoch ledger (`_write_then_swap` + `_last_applied_epoch`) skips a
    re-delivered epoch outright, so even effective-timestamp drift
    between original and replay cannot perturb the store.

    The dimension must exist at `target_path` before the stream starts
    (write the initial state batch-side); each epoch rewrites it with the
    same write-then-swap protocol as foreach_batch_upsert. With
    Delta/Iceberg this is MERGE INTO per epoch against a real table."""
    from ..operators.relational import cdc_to_scd2

    if effective_for is not None and event_time_col is not None:
        raise ValueError(
            "pass effective_for OR event_time_col, not both — the epoch's "
            "effective timestamp has exactly one source"
        )
    eff = effective_for or (lambda _epoch: "2024-02-01")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # at-least-once replay of an already-applied epoch
        effective = _epoch_effective(batch_df, epoch_id, eff, event_time_col)
        if effective is None:
            return  # empty epoch: nothing to apply, dimension unchanged
        dim = spark.read.parquet(_store_path(spark, target_path))
        merged = cdc_to_scd2(
            batch_df,
            dim,
            keys=keys,
            attrs=attrs,
            effective=effective,
            order_cols=order_cols,
        )
        _write_then_swap(merged, target_path, f"__epoch{epoch_id}", epoch_id)

    return _sink


def _epoch_effective(
    batch_df: DataFrame, epoch_id: int, eff, event_time_col: str | None
) -> str | None:
    """The epoch's effective timestamp: `eff(epoch_id)` by default, or —
    with `event_time_col` — derived deterministically from the batch's own
    max event time (one 1-row aggregate over BATCH rows; a replayed epoch
    holds the same rows, so the same max — replay-stable by content, and
    the ledger skips the replay before this runs anyway). None signals an
    empty epoch (nothing to apply)."""
    if event_time_col is None:
        return eff(epoch_id)
    row = batch_df.agg(
        F.max(F.col(event_time_col).cast("timestamp")).alias("m")
    ).collect()[0]
    if row["m"] is None:
        return None
    return row["m"].isoformat(sep=" ")


def _path_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under `path` (file or directory), any Hadoop scheme."""
    fs, P = _hadoop_fs(spark, path)
    p = P(path)
    if not fs.exists(p):
        return 0
    return fs.getContentSummary(p).getLength()


class sized_state_partitions:
    """Deliberate state-partition sizing for stateful streaming queries.

    Batch plans get their shuffle parallelism fixed by AQE at runtime, but
    AQE is DISABLED for stateful streaming — the state-store partition
    count is frozen into the checkpoint from `spark.sql.shuffle.partitions`
    at first start, and every micro-batch thereafter pays one state store
    (open/commit/maintenance) per partition per stateful operator whether
    or not it holds state. So the count is a knob that must be CHOSEN, and
    the session default (sized for batch shuffles) is usually wrong in
    both directions: measured here, the stream-stream outer join at sf0.1
    dropped 7.6 s -> ~2.5 s going 32 -> 8 partitions (sf0.1 state fits in
    a handful), while a 100 TB deployment wants thousands.

    This context manager sizes the count like the batch scan sizes its
    splits (maxPartitionBytes): ceil(total input bytes /
    `bytes_per_partition`), clamped to [floor, session shuffle
    partitions]; input bytes OVERSTATE watermark-bounded state, so the
    estimate errs toward more partitions. The session conf is set on
    entry and restored on exit — the streaming query must START inside
    the `with` block (that is when the count is captured); an existing
    checkpoint keeps its original count regardless, so this never
    repartitions live state.
    """

    def __init__(
        self,
        spark: SparkSession,
        *paths: str,
        bytes_per_partition: int = 32 << 20,
        floor: int = 4,
    ):
        self.spark = spark
        total = sum(_path_bytes(spark, p) for p in paths)
        ceiling = max(floor, int(spark.conf.get("spark.sql.shuffle.partitions")))
        want = floor if total == 0 else -(-total // bytes_per_partition)
        self.n = max(floor, min(ceiling, int(want)))

    def __enter__(self) -> int:
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self.n

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)


def foreach_batch_kmv_maintain(
    target_path: str, key_col: str, group_col: str, k: int = 256
):
    """foreachBatch sink: fold each micro-batch's KMV sketch into the
    sketch table stored at `target_path` via operators/sketches.kmv_merge
    — incremental distinct-sketch maintenance, the streaming twin of the
    batch kmv_sketch_table build. Because the merge is associative and
    bottom-k-of-bottom-k-unions == bottom-k-of-the-union, the stored
    sketch after ANY number of epochs is bit-identical to a batch build
    over all rows seen — the strongest statement a streaming aggregate
    can make, and why the registry's streaming_kmv_maintain carries the
    batch build's exact oracle. Per epoch: sketch the delta (one distinct
    shuffle over BATCH rows only), merge against the ≤ k·G stored rows,
    write-then-swap. The sketch table must exist before the stream starts
    (an empty frame with the right schema seeds it).

    Replay safety is DOUBLE-covered: the KMV merge is naturally
    idempotent (re-merging an identical sketch is a bottom-k-union
    no-op — an at-least-once replay could never move the store even
    without a gate), AND the epoch ledger skips a re-delivered epoch
    outright, keeping all four stored-artifact consumers under one
    uniform recovery contract."""
    from ..operators.sketches import kmv_merge, kmv_sketch_table

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # at-least-once replay of an already-applied epoch
        stored = spark.read.parquet(_store_path(spark, target_path))
        delta = kmv_sketch_table(batch_df, key_col, group_col, k=k)
        merged = kmv_merge(stored, delta, k=k)
        _write_then_swap(merged, target_path, f"__kmv_epoch{epoch_id}", epoch_id)

    return _sink


def foreach_batch_mg_maintain(
    target_path: str, key_col: str, k: int = 20
):
    """foreachBatch sink: summarize each micro-batch with mg_summary and
    fold it into the Misra-Gries table stored at `target_path` via
    mg_merge — streaming frequent-items maintenance, the third stored-
    artifact consumer next to foreach_batch_cdc_scd2 and
    foreach_batch_kmv_maintain. MG merges are VALID under any merge tree
    (underestimate-only, summed-offset error bound) but, unlike KMV, not
    bit-equal to a batch build across multiple epochs — the single-epoch
    run IS bit-equal (merging into an empty table re-truncates a
    truncated summary, a no-op), which is what the registry query's
    exact oracle pins; the multi-epoch guarantee is pinned in tests.

    The epoch ledger here is LOAD-BEARING, not belt-and-braces: an MG
    merge ADDS counters, so re-applying a replayed epoch (foreachBatch is
    at-least-once) would push counters ABOVE true frequencies, breaking
    the summary's underestimate-only guarantee. The ledger gate skips the
    replay before any merge runs — pinned by a same-epoch-twice test."""
    from ..operators.sketches import mg_merge, mg_summary

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add counters — skip it
        stored = spark.read.parquet(_store_path(spark, target_path))
        delta = mg_summary(batch_df, key_col, k=k)
        merged = mg_merge(stored.unionByName(delta), k=k)
        _write_then_swap(merged, target_path, f"__mg_epoch{epoch_id}", epoch_id)

    return _sink


def foreach_batch_histogram_maintain(
    target_path: str,
    value_col: str = "value",
    grain_cols: list[str] | None = None,
    ts_col: str = "ts",
    width: float = 8.0,
):
    """foreachBatch sink: histogram the micro-batch
    (operators/sketches.value_histogram) and ADD its bucket counts into
    the histogram table stored at `target_path` — the fourth
    stored-artifact streaming consumer (CDC-SCD2, KMV, MG, now the
    quantile sketch), and the strongest of the four: histogram merge is
    pure integer ADDITION, so the stored table after any number of
    DISTINCT epochs is bit-identical to a batch build over all rows — no
    single-epoch caveat (MG) and no bottom-k identity needed (KMV). Per
    epoch: one grain-day-bucket aggregate over BATCH rows, a
    ≤-sketch-size merge aggregate, write-then-swap.

    "Distinct" is doing real work in that claim: foreachBatch is
    at-least-once, and re-ADDING a replayed epoch's bucket counts would
    double-count it. The epoch ledger gate skips re-delivered epochs, so
    the bit-identical-to-batch claim holds under crash recovery too —
    pinned by a same-epoch-twice test and a hypothesis replay model."""
    from ..operators.sketches import value_histogram

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add bucket counts — skip it
        stored = spark.read.parquet(_store_path(spark, target_path))
        delta = value_histogram(batch_df, value_col, grain_cols, ts_col, width)
        keys = [c for c in delta.columns if c != "n"]
        merged = (
            stored.unionByName(delta)
            .groupBy(*keys)
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        _write_then_swap(merged, target_path, f"__hist_epoch{epoch_id}", epoch_id)

    return _sink


def foreach_batch_weighted_agg_maintain(
    target_path: str,
    keys: list[str],
    value_col: str,
    weight_col: str = "w",
):
    """foreachBatch sink: maintain a stored grouped-aggregate view under
    a WEIGHTED changelog (w=+1 insert, w=-1 retraction) via
    operators/relational.apply_weighted_delta — the eighth stored-
    artifact consumer, and the one that closes the delete gap in the
    streaming family: the KMV/MG/histogram consumers absorb inserts
    only, the CDC consumer versions rather than aggregates; this is the
    z-set view maintainer a correction/GDPR-delete stream needs. Per
    epoch: aggregate the batch to its net per-key weighted delta
    (map-side combined), merge against the |keys|-row stored state,
    drop zero-weight groups, write-then-swap.

    The epoch ledger is LOAD-BEARING (the MG/histogram argument):
    weighted merges are ADDITIVE, so re-applying a replayed epoch would
    double-add both counts and sums — the gate skips re-delivery before
    any merge runs. Seed the state batch-side (keys..., cnt, sm as
    decimal(38,6)) before attaching the stream; after ANY number of
    distinct epochs the stored view equals a batch recompute over the
    surviving multiset — the oracle streaming_agg_retract_maintain
    carries."""
    from ..operators.relational import apply_weighted_delta

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add weighted state — skip it
        if batch_df.isEmpty():
            return  # empty epoch: state unchanged, ledger not advanced
        state = spark.read.parquet(_store_path(spark, target_path))
        merged = apply_weighted_delta(
            state, batch_df, keys, value_col, weight_col=weight_col
        )
        _write_then_swap(merged, target_path, f"__wagg_epoch{epoch_id}", epoch_id)

    return _sink


# --- bucketed stores -------------------------------------------------------
# A bucketed store keeps its state in `root/bucket=K/` dirs keyed by
# `bucket_expr`; an epoch rewrites (or appends to) ONLY the buckets its
# delta touches, so a crash can leave some touched buckets moved and others
# not. The merge decides which of the two commit protocols is sound:
#   - CATCH-UP, when the merge is idempotent per key (re-merging a key that
#     already holds the epoch changes nothing): the bucketed CDC-SCD2 and
#     upsert sinks and the dedup / near-dup gates' folds.
#     `_catch_up_install` installs each bucket with a two-rename park under
#     `root__prevb/`, then the ledger (if any); `_recover_buckets` restores
#     parks before the next epoch, whose replay re-merges every touched
#     bucket, so the not-yet-updated ones catch up.
#   - PARK-UNTIL-LEDGER ROLLBACK, when the merge is additive (a replay onto
#     an updated bucket would double-add): the bucketed weighted-agg and
#     join-agg-retract sinks (park root `root__prevb/`) and the weighted
#     relation store's appends (`root__relprev/`).
#     `_park_until_ledger_commit` commits an `_inflight` manifest before any
#     bucket moves and the ledger last; `_park_until_ledger_recover` rewinds
#     an epoch whose manifest is ahead of the ledger, else drops leftovers.


def foreach_batch_weighted_agg_maintain_bucketed(
    target_path: str,
    keys: list[str],
    value_col: str,
    weight_col: str = "w",
    n_buckets: int = 64,
):
    """foreach_batch_weighted_agg_maintain with the bounded-rewrite
    treatment (the CDC/upsert bucketed pattern): the stored aggregate
    state is hash-bucketed by key, each epoch reads/merges/rewrites ONLY
    the buckets its delta touches — per-epoch I/O is O(touched buckets),
    not O(|groups|), which is what a per-user-grain state (billions of
    groups at 100 TB) needs. Slice-wise equals whole because
    apply_weighted_delta is strictly per-key.

    Crash protocol — transactional ROLLBACK, not the CDC twins'
    catch-up (ADVICE r9): apply_weighted_delta is ADDITIVE, so
    re-delivering an epoch against buckets it already updated would
    double-add cnt/sm, and a bucket the z-set zero rule deleted would
    re-merge from an empty slice into negative counts. Catch-up recovery
    is only sound for per-key-idempotent merges (CDC/upsert). Here:
    (1) fully materialize the merged slices, the new ledger, AND an
    `_inflight` manifest (epoch, bucket, existed-pre-epoch) at a scratch
    dir; (2) one atomic rename commits the manifest into `__prevb/` —
    the mutation-begins marker, BEFORE any live dir moves; (3) each
    touched live bucket is PARKED under `__prevb/` (never deleted) and
    its replacement renamed in — a zero-emptied bucket simply gets no
    replacement, its park IS the rewind record; (4) the ledger install
    is the commit point; (5) parks and scratch are dropped. A crash
    anywhere before (4) leaves the manifest ahead of the ledger, and
    `_rollback_or_commit_wagg` rewinds every touched bucket to its
    pre-epoch state, so the replay applies against exactly the state it
    expects; a crash after (4) is commit — recovery drops the leftovers.
    Pinned by a crash-at-every-fs-op enumeration in
    tests/test_crash_recovery.py.

    One subtlety the CDC/upsert twins never face: the z-set zero-weight
    rule can empty a bucket ENTIRELY (every group in it retracted to
    cnt=0). A bucket whose merged slice has no rows must end the epoch
    ABSENT, not skipped — skipping would leave the stale pre-epoch state
    serving forever. The park-then-don't-replace move above is that
    delete, made rewindable.

    Seed with `write_bucketed_store(state, target, keys, n_buckets)`."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _rollback_or_commit_wagg(spark, target_path)
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add weighted state — skip it
        _bucketed_weighted_merge(
            spark, target_path, batch_df, keys, value_col, weight_col,
            n_buckets, epoch_id,
        )

    return _sink


def _read_parquet_driver_listed(spark: SparkSession, paths: list[str]) -> DataFrame:
    """spark.read.parquet over explicit store paths with file listing
    kept ON THE DRIVER: above
    `spark.sql.sources.parallelPartitionDiscovery.threshold` (default
    32) Spark launches a listing JOB with one task per path — for a
    64-bucket store slice that is a 64-task cluster job to list 64
    local directories, ~0.13 s of pure scheduling per epoch (4 of them
    in the dedup-gate lifecycle; guide §6 small-files/listing). The
    threshold is scope-raised around the read only, so corpus-sized
    scans elsewhere keep parallel discovery."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    old = spark.conf.get(key)
    if len(paths) <= int(old):
        return spark.read.parquet(*paths)
    spark.conf.set(key, str(len(paths) + 1))
    try:
        return spark.read.parquet(*paths)
    finally:
        spark.conf.set(key, old)


def _read_touched_buckets(
    spark: SparkSession,
    target_path: str,
    touched: list[int],
    empty: DataFrame | None = None,
) -> DataFrame:
    """The bucketed store's touched slice, read by EXPLICIT bucket-dir
    paths: a partition-pruned read of the root still LISTS every bucket
    dir, so epoch cost would track the layout constant (n_buckets) rather
    than the work — measured 2.2->8.1 s across a 64->1600-bucket sweep on
    the dedup gate before the explicit-path read (SCALE_r10.jsonl). The
    listing stays on the driver (`_read_parquet_driver_listed`). Touched
    buckets that do not exist yet (first key hashing into them) are
    simply skipped; when NONE exist, `empty` is the slice (the gates'
    stores may not exist at all yet), else the root read supplies the
    typed empty slice (one listing on the rare all-new-buckets epoch)."""
    paths = _existing_bucket_dirs(spark, target_path, touched)
    if paths:
        return _read_parquet_driver_listed(spark, paths)  # no partition column
    if empty is not None:
        return empty
    return (
        spark.read.parquet(target_path)
        .filter(F.col("bucket").isin([int(b) for b in touched]))
        .drop("bucket")
    )


def _existing_bucket_dirs(
    spark: SparkSession, target_path: str, touched: list[int]
) -> list[str]:
    """The `bucket=K` dirs of the touched buckets that exist."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    return [
        p
        for p in (f"{root}/bucket={int(b)}" for b in touched)
        if fs.exists(P(p))
    ]


def _touched_buckets(df: DataFrame, keys: list[str], n_buckets: int) -> list[int]:
    """The sorted buckets `df`'s keys hash to: one distinct + collect,
    bounded by n_buckets (a layout constant, ≤ thousands at 100 TB) — a
    sanctioned driver-side decision input."""
    return sorted(
        int(r["b"])
        for r in df.select(bucket_expr(keys, n_buckets).alias("b"))
        .distinct()
        .collect()
    )


def _write_buckets(
    df: DataFrame, path: str, keys: list[str], n_buckets: int
) -> None:
    """The bucketed partitionBy write every bucketed store uses, for its
    seed and for each epoch's scratch slice (the explicit n_buckets
    repartition is explained on `write_bucketed_store`)."""
    (
        df.withColumn("bucket", bucket_expr(keys, n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )


def _bucketed_weighted_merge(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    keys: list[str],
    value_col: str,
    weight_col: str,
    n_buckets: int,
    epoch_id: int,
) -> None:
    """The bucketed z-set merge + rollback-transactional install shared
    by the weighted-agg and join-agg-retract bucketed sinks. Caller
    contract: the ledger gate has passed and `_rollback_or_commit_wagg`
    has run (no park root exists). Applies `delta` (a weighted changelog
    keyed by the aggregate keys) to ONLY the buckets it touches, under
    the park-until-ledger protocol documented on
    foreach_batch_weighted_agg_maintain_bucketed."""
    from ..operators.relational import apply_weighted_delta

    touched = _touched_buckets(delta, keys, n_buckets)
    if not touched:
        return  # empty epoch: state unchanged, ledger not advanced
    # direct read, not _store_path: bucketed stores park per-bucket
    # under __prevb (rolled back / committed by the caller), never the root
    state_slice = _read_touched_buckets(spark, target_path, touched)
    merged = apply_weighted_delta(
        state_slice, delta, keys, value_col, weight_col=weight_col
    )
    tmp = target_path.rstrip("/") + f"__waggb_epoch{epoch_id}"
    _write_buckets(merged, tmp, keys, n_buckets)
    _park_until_ledger_commit(
        spark, target_path, tmp, "__prevb", epoch_id, touched, _wagg_move
    )


def _wagg_move(fs, P, root: str, tmp: str, epoch_id: int, b: int) -> None:
    """Weighted-agg bucket move: park the live bucket, rename its
    replacement in."""
    live = P(f"{root}/bucket={b}")
    if fs.exists(live):
        # parked, NOT deleted — kept until the ledger commits so a
        # mid-loop crash can rewind (ADVICE r9)
        _rename_or_raise(fs, live, P(f"{root}__prevb/bucket={b}"))
    btmp = P(f"{tmp}/bucket={b}")
    if fs.exists(btmp):
        _rename_or_raise(fs, btmp, live)
    # else: the z-set zero rule emptied this bucket — leaving the live
    # dir absent IS the delete, and its park makes it rewindable


def _wagg_rewind(fs, P, root: str, epoch: int, b: int) -> None:
    """Weighted-agg rewind of a bucket that existed pre-epoch: its park
    (if it was parked) replaces any half-installed live dir."""
    live = P(f"{root}/bucket={b}")
    park = P(f"{root}__prevb/bucket={b}")
    if fs.exists(park):
        if fs.exists(live):
            fs.delete(live, True)
        _rename_or_raise(fs, park, live)
    # park absent: bucket never parked, live untouched


def _park_until_ledger_commit(
    spark: SparkSession,
    target_path: str,
    tmp: str,
    park_suffix: str,
    epoch_id: int,
    touched: list[int],
    move_bucket,
) -> None:
    """The PARK-UNTIL-LEDGER commit of an additive bucketed store, after
    the epoch's buckets fully materialized at the scratch dir `tmp`:
    (1) write the new ledger and (2) the `_inflight` rewind record
    (epoch, bucket, existed-pre-epoch) into `tmp`; (3) create the park
    root `root<park_suffix>` and (4) rename the manifest into it — the
    mutation-begins marker, BEFORE any live dir moves; (5)
    `move_bucket(fs, P, root, tmp, epoch_id, b)` moves each touched
    bucket (keeping whatever its rewind needs); (6) install the ledger —
    the commit point; (7) drop the park root and the scratch dir.
    `_park_until_ledger_recover` is the recovery half."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    park_root = root + park_suffix
    _write_ledger(spark, tmp, epoch_id)
    _write_inflight_manifest(spark, fs, P, tmp, root, epoch_id, touched)
    fs.mkdirs(P(park_root))
    # one atomic rename; recovery treats a park root WITHOUT this
    # manifest as "nothing moved yet"
    _rename_or_raise(fs, P(f"{tmp}/_inflight"), P(park_root + "/_inflight"))
    for b in touched:
        move_bucket(fs, P, root, tmp, int(epoch_id), int(b))
    _install(spark, f"{tmp}/_ledger", f"{root}/_ledger")  # commit point
    fs.delete(P(park_root), True)
    fs.delete(P(tmp), True)


def _park_until_ledger_recover(
    spark: SparkSession,
    target_path: str,
    park_suffix: str,
    rewind_existed,
    scratch_globs: tuple[str, ...],
) -> None:
    """The recovery half of `_park_until_ledger_commit`, run before each
    epoch's ledger gate:

      - no park root: nothing in flight;
      - park root without a manifest: either no live dir ever moved (the
        manifest rename precedes every move) or a post-commit cleanup was
        interrupted mid-delete — both leave the live store consistent,
        so the park root is dropped;
      - manifest with ledger >= manifest epoch: the epoch COMMITTED
        (crash between the ledger install and cleanup) — drop leftovers;
      - manifest with ledger < manifest epoch: crash mid-mutation —
        rewind every manifest bucket to its pre-epoch state:
        `rewind_existed(fs, P, root, epoch, b)` for a bucket that existed
        pre-epoch, and delete the live dir of a bucket born this epoch.
        Re-entrant: a crash inside the rewind re-runs it, and every
        rewind step is a no-op once done.

    Then every scratch dir matching `root<glob>` for `scratch_globs` is
    garbage (committed epochs were consumed, a rolled-back epoch rebuilds
    its scratch from the replayed batch) and is deleted."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    park_root = P(root + park_suffix)
    if fs.exists(park_root):
        inflight = root + park_suffix + "/_inflight"
        if fs.exists(P(inflight)):
            rows = _read_inflight_manifest(spark, fs, P, inflight)
            epoch = int(rows[0]["epoch"])
            if epoch > _last_applied_epoch(spark, target_path):
                for r in rows:
                    b = int(r["bucket"])
                    live = P(f"{root}/bucket={b}")
                    if bool(r["existed"]):
                        rewind_existed(fs, P, root, epoch, b)
                    elif fs.exists(live):
                        fs.delete(live, True)  # born this epoch: unbirth it
        fs.delete(park_root, True)
    for pat in scratch_globs:
        stale = fs.globStatus(P(root + pat))
        for st in list(stale) if stale is not None else []:
            fs.delete(st.getPath(), True)


def foreach_batch_join_agg_retract_maintain_bucketed(
    target_path: str,
    dim_path: str,
    keys: list[str],
    value_col: str,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    weight_col: str = "w",
    n_buckets: int = 64,
):
    """foreach_batch_join_agg_retract_maintain with the bounded-rewrite
    treatment — the per-user-grain shape (billions of aggregate groups at
    100 TB): the stored aggregate-over-join state is hash-bucketed by the
    aggregate keys, each epoch joins its weighted fact changelog against
    the broadcast dimension and then reads/merges/rewrites ONLY the
    buckets the joined delta touches — per-epoch I/O is O(touched
    buckets), not O(|groups|). The merge + install is the SAME
    park-until-ledger rollback protocol as the bucketed weighted-agg
    sink (`_bucketed_weighted_merge`, ADVICE r9): the join step is
    strictly per-row, so the additive-merge crash analysis — and its
    crash-at-every-fs-op enumeration — transfers unchanged.

    Seed with `write_bucketed_store(agg(A_old ⋈ B), target, keys,
    n_buckets)`."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _rollback_or_commit_wagg(spark, target_path)
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add weighted state — skip it
        if batch_df.isEmpty():
            return  # empty epoch: state unchanged, ledger not advanced
        dim = spark.read.parquet(dim_path).select(dim_key, *dim_cols)
        dv = batch_df.join(
            F.broadcast(dim), batch_df[fact_key] == dim[dim_key]
        ).drop(dim[dim_key])
        _bucketed_weighted_merge(
            spark, target_path, dv, keys, value_col, weight_col,
            n_buckets, epoch_id,
        )

    return _sink


def _rollback_or_commit_wagg(spark: SparkSession, target_path: str) -> None:
    """Recovery for the ADDITIVE bucketed store (the weighted z-set
    aggregate maintainers): unlike `_recover_buckets` — whose catch-up
    argument holds only for per-key-idempotent merges like CDC/upsert —
    this rewinds or finalizes a crashed epoch transactionally from the
    `__prevb/_inflight` manifest (`_park_until_ledger_recover`): a
    rewound bucket that existed pre-epoch gets its park back. Any
    `__waggb_epoch*` scratch dir is swept."""
    _park_until_ledger_recover(
        spark, target_path, "__prevb", _wagg_rewind, ("__waggb_epoch*",)
    )


def foreach_batch_join_agg_retract_maintain(
    target_path: str,
    dim_path: str,
    keys: list[str],
    value_col: str,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    weight_col: str = "w",
):
    """foreachBatch sink: maintain a stored GROUPED AGGREGATE OVER A JOIN
    under a weighted fact changelog — the tenth stored-artifact consumer,
    composing the DBSP delta-join rule with the z-set aggregate merge
    (VERDICT r9 #3): each epoch's batch is a weighted changelog of the
    FACT side (w=+1 insert, w=-1 retraction/GDPR-delete); the sink joins
    it against the broadcast dimension (ΔA ⋈ B — for a static B the
    bilinear rule's other two terms vanish; a changing dimension is the
    batch operator weighted_join_delta's job, composed upstream) and
    merges the resulting weighted VIEW changelog into the stored
    (keys..., cnt, sm) state via apply_weighted_delta — so an upstream
    DELETE of an already-joined fact row propagates through the
    maintained join view, the gap the insert-only join-view maintainers
    (V' = V ∪ ΔA⋈B) could not express. Zero-weight groups disappear.

    The epoch ledger is LOAD-BEARING (the weighted-agg argument):
    weighted merges are ADDITIVE, so a replayed epoch would double-add —
    the gate skips re-delivery before any merge runs. Per epoch: one
    broadcast join of the delta only, one |touched keys| aggregate, one
    |keys|-row merge, write-then-swap. History (the joined view) is
    never re-scanned; at per-user grain the bucketed treatment
    (foreach_batch_weighted_agg_maintain_bucketed's rollback protocol)
    applies to the merge unchanged, since the join step is per-row.

    Seed the state batch-side as aggregate(A_old ⋈ B); after any number
    of distinct epochs the stored view equals the batch recompute over
    the surviving fact multiset joined to the dimension — the oracle
    streaming_join_agg_retract_maintain carries."""
    from ..operators.relational import apply_weighted_delta

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-add weighted state — skip it
        if batch_df.isEmpty():
            return  # empty epoch: state unchanged, ledger not advanced
        dim = spark.read.parquet(dim_path).select(dim_key, *dim_cols)
        dv = batch_df.join(
            F.broadcast(dim), batch_df[fact_key] == dim[dim_key]
        ).drop(dim[dim_key])
        state = spark.read.parquet(_store_path(spark, target_path))
        merged = apply_weighted_delta(
            state, dv, keys, value_col, weight_col=weight_col
        )
        _write_then_swap(merged, target_path, f"__jvr_epoch{epoch_id}", epoch_id)

    return _sink


def foreach_batch_bm25_maintain(
    index_dir: str, id_col: str = "doc_id", text_col: str = "text"
):
    """foreachBatch sink: fold each micro-batch of documents into the
    STORED BM25 inverted index at `index_dir` via
    operators/retrieval.bm25_index_append — the fifth stored-artifact
    streaming consumer, and the composition a production retrieval stack
    actually runs: an index that tracks a document stream. Per epoch:
    tokenize ONLY the delta (the frozen-tokenizer contract), union the
    delta postings/doclens into the stored tables, recompute the 1-row
    stats, rewrite the index at a scratch dir (postings keep the
    range-partitioned term-sorted layout the serve path's row-group
    skipping depends on), and install atomically.

    Atomicity is WHOLE-INDEX: the scratch dir holds all three tables
    (postings/doclens/stats) plus the epoch ledger, and one `_install`
    swap publishes them together — a reader can never observe postings
    from epoch N with stats from epoch N-1, and a crash anywhere leaves
    either the old complete index or the new complete index (the
    two-rename park covers the swap window).

    The ledger is LOAD-BEARING: bm25_index_append REQUIRES delta doc_ids
    disjoint from the stored index (re-appending would double-count
    postings and corrupt df/avgl/n_docs — its guard raises), so an
    at-least-once replay of an already-applied epoch MUST be skipped
    before the append runs; the gate does exactly that, pinned by a
    same-epoch-twice test. The disjointness guard stays on as
    defense-in-depth against upstream id reuse ACROSS distinct epochs —
    the failure the ledger cannot see.

    Write amplification: each epoch rewrites the full postings table to
    preserve the globally sorted layout — right for indexes that fit a
    rewrite budget; at larger scale the bucketed-store pattern
    (foreach_batch_cdc_scd2_bucketed below) applies: hash-bucket postings
    by term, rewrite only the delta's touched buckets, trade row-group
    skipping within a bucket for bounded per-epoch I/O."""
    from ..operators.retrieval import (
        bm25_index_append,
        read_bm25_index,
        write_bm25_index,
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if epoch_id <= _last_applied_epoch(spark, index_dir):
            return  # replay would re-append and corrupt df/avgl — skip it
        if batch_df.isEmpty():
            return  # empty epoch: index unchanged, ledger not advanced
        live = _store_path(spark, index_dir)
        postings, doclens, _stats = read_bm25_index(spark, live)
        p2, l2, s2 = bm25_index_append(
            postings, doclens, batch_df, id_col=id_col, text_col=text_col
        )
        tmp = index_dir.rstrip("/") + f"__bm25_epoch{epoch_id}"
        # all three tables fully materialize at the scratch dir (their
        # scans of the live index happen during these writes), then the
        # ledger, then ONE swap installs everything together
        write_bm25_index(p2, l2, s2, tmp)
        _write_ledger(spark, tmp, epoch_id)
        _install(spark, tmp, index_dir)

    return _sink


def bucket_expr(keys: list[str], n_buckets: int):
    """The bucketed stores' key → bucket mapping: pmod(xxhash64(keys), n).
    xxhash64 is a fixed published algorithm — stable across Spark versions,
    sessions, and partitionings, which is what lets the bucket directory
    layout persist across epochs and restarts."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        "int"
    )


def write_bucketed_store(
    df: DataFrame, target_path: str, keys: list[str], n_buckets: int
) -> None:
    """Seed a hash-bucketed stored artifact: the frame lands under
    `target_path/bucket=K/` dirs keyed by `bucket_expr`, so a consumer can
    read, rewrite, and swap ONLY the buckets an epoch touches. Every row
    of a given key lands in one bucket (the expr is a pure function of the
    keys), so per-key operators applied bucket-wise equal the whole-table
    application. A `_layout` sidecar (bucket keys + n_buckets,
    underscore-hidden) makes the store self-describing for keyed point
    lookups (`read_bucketed_store_keyed`).

    Every bucketed partitionBy write here (`_write_buckets`, also used
    for the per-epoch maintainers' scratch slices) repartitions to
    EXPLICITLY n_buckets partitions, not
    `repartition("bucket")`: the keyless form inherits
    spark.sql.shuffle.partitions and AQE then coalesces a small store to
    ONE task that writes every bucket dir SEQUENTIALLY (~15 ms of file
    open/commit per dir — measured 0.9-1.0 s per epoch fold at 64
    buckets, the dominant job in the dedup-gate and bucketed-CDC rows).
    n_buckets tasks give ~one file per bucket dir in parallel; the count
    is the store's own layout constant, so the bound is scale-adaptive
    (a 100 TB store raises n_buckets, not the core count)."""
    _write_buckets(df, target_path, keys, n_buckets)
    (
        df.sparkSession.range(1)
        .select(
            F.lit(int(n_buckets)).cast("int").alias("n_buckets"),
            F.array(*[F.lit(k) for k in keys]).alias("bucket_keys"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target_path.rstrip("/") + "/_layout")
    )


def read_bucketed_store_keyed(
    spark: SparkSession, target_path: str, keys_df: DataFrame
) -> DataFrame:
    """POINT LOOKUP over any `write_bucketed_store` layout — "this
    entity's rows, now" from a CDC-maintained SCD2 dimension or upsert
    store: the requested keys route through the store's own
    `bucket_expr` (the `_layout` sidecar supplies bucket_keys/n_buckets
    — a legacy store without one raises with the fix spelled out rather
    than guessing a layout and probing wrong dirs), ONLY the touched
    bucket dirs are read by explicit path (`_read_touched_buckets`),
    and the keys broadcast left-semi into the slice. Per-lookup I/O is
    O(touched buckets), never O(store) — the serving shape a 100 TB
    dimension needs. Rows are bit-equal to the full store read filtered
    to the keys (pinned in tests)."""
    root = target_path.rstrip("/")
    fs, P = _hadoop_fs(spark, root)
    if not fs.exists(P(f"{root}/_layout")):
        raise ValueError(
            f"bucketed store {target_path!r} has no _layout sidecar "
            "(created before keyed lookups existed): re-seed with "
            "write_bucketed_store, or read the full store and filter"
        )
    layout = spark.read.parquet(_store_path(spark, f"{root}/_layout")).collect()[0]
    bucket_keys = list(layout["bucket_keys"])
    wanted = keys_df.select(*bucket_keys).distinct()
    touched = _touched_buckets(wanted, bucket_keys, int(layout["n_buckets"]))
    return _read_touched_buckets(spark, root, touched).join(
        F.broadcast(wanted), bucket_keys, "left_semi"
    )


def read_bucketed_store(spark: SparkSession, target_path: str) -> DataFrame:
    """The bucketed store with its layout column dropped — what downstream
    consumers of the ARTIFACT (not the layout) read."""
    return spark.read.parquet(target_path).drop("bucket")


def read_bucketed_store_snapshot(spark: SparkSession, target_path: str) -> DataFrame:
    """Concurrent-reader-safe view of a PARK-UNTIL-LEDGER bucketed store
    (the additive weighted-agg / join-agg-retract families) — the
    serve-during-maintain read (VERDICT r10 next #4): at every point of
    the sink's mutation sequence this resolves to the COMPLETE pre-epoch
    state or the complete post-epoch state, never a cross-bucket mix.

      - no park root / no `_inflight` manifest, or manifest epoch <=
        ledger: the epoch (if any) COMMITTED — live bucket dirs are the
        post-state (every touched bucket installs before the ledger
        commit, and post-commit park cleanup never touches live dirs);
      - manifest epoch > ledger: mid-mutation — serve the PRE-state:
        for each manifest bucket that existed pre-epoch, prefer its park
        (parked before any replacement lands; no park is deleted before
        the ledger commits, so the pre-image is complete) and fall back
        to the live dir (not yet touched); buckets the manifest marks
        born-this-epoch are EXCLUDED (absent pre-epoch); untouched
        buckets serve live.

    The plain `read_bucketed_store` remains the single-writer/idle read;
    this one is for readers racing a live maintainer. Enumerated at
    every fs-op prefix in tests/test_reader_interleaving.py."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    prev_root = root + "__prevb"
    inflight = prev_root + "/_inflight"
    manifest: list = []
    if fs.exists(P(inflight)):
        rows = _read_inflight_manifest(spark, fs, P, inflight)
        if rows and int(rows[0]["epoch"]) > _last_applied_epoch(spark, target_path):
            manifest = rows
    if not manifest:
        return read_bucketed_store(spark, target_path)
    born = {int(r["bucket"]) for r in manifest if not bool(r["existed"])}
    touched = {int(r["bucket"]) for r in manifest}
    live = {
        st.getPath().getName()
        for st in fs.listStatus(P(root))
        if st.getPath().getName().startswith("bucket=")
    }
    parked = {
        st.getPath().getName()
        for st in fs.listStatus(P(prev_root))
        if st.getPath().getName().startswith("bucket=")
    }
    paths = [f"{prev_root}/{n}" for n in sorted(parked)]
    for n in sorted(live - parked):
        b = int(n.split("=", 1)[1])
        if b in born:
            continue  # absent pre-epoch: the post-image must not leak in
        if b in touched and n in parked:
            continue  # unreachable (n in live - parked) — guard anyway
        paths.append(f"{root}/{n}")
    # explicit-path reads drop the partition column, matching
    # read_bucketed_store's contract (layout column hidden)
    return spark.read.parquet(*paths)


def _recover_buckets(spark: SparkSession, target_path: str) -> None:
    """Restore bucket dirs parked at `target__prevb/bucket=K` by a crash
    inside a per-bucket swap window (park lives outside the table root so
    partition discovery never sees it): `_install`'s restore rule
    (`_restore_park`) per parked bucket, then the park root is dropped."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    prev_root = P(root + "__prevb")
    if not fs.exists(prev_root):
        return
    for st in fs.listStatus(prev_root):
        _restore_park(fs, st.getPath(), P(f"{root}/{st.getPath().getName()}"))
    fs.delete(prev_root, True)


def _catch_up_install(
    spark: SparkSession, tmp: str, target_path: str, touched: list[int]
) -> None:
    """The CATCH-UP commit of a bucketed store whose merge is idempotent
    per key: install each touched bucket from the scratch dir `tmp` with
    the two-rename park under `target__prevb/` (a touched bucket with no
    scratch dir — e.g. a delete-only new key — is skipped), then the
    scratch's `_ledger` if it holds one, then drop the scratch dir and
    the park root. A crash anywhere leaves parks `_recover_buckets`
    restores before the replay, which re-merges every touched bucket."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    for b in touched:
        btmp = f"{tmp}/bucket={int(b)}"
        if fs.exists(P(btmp)):
            _install(
                spark,
                btmp,
                f"{root}/bucket={int(b)}",
                prev_path=f"{root}__prevb/bucket={int(b)}",
            )
    if fs.exists(P(f"{tmp}/_ledger")):
        _install(spark, f"{tmp}/_ledger", f"{root}/_ledger")
    fs.delete(P(tmp), True)
    # each bucket's _install cleaned its own park; after a crash-free
    # epoch the park root is empty — remove it (a crash mid-loop never
    # reaches this line, leaving the parks for the next recovery)
    fs.delete(P(f"{root}__prevb"), True)


def foreach_batch_cdc_scd2_bucketed(
    target_path: str,
    keys: list[str],
    attrs: list[str],
    order_cols: list[str],
    n_buckets: int = 64,
    effective_for=None,
    event_time_col: str | None = None,
):
    """foreach_batch_cdc_scd2 with the per-epoch write amplification
    BOUNDED: the stored dimension is hash-bucketed by key
    (`write_bucketed_store`), each epoch computes the buckets its delta
    touches, reads ONLY those buckets (partition pruning on the bucket
    dir column), applies cdc_to_scd2 to that slice, and rewrites ONLY the
    touched bucket dirs — per-epoch I/O is O(|touched buckets| · bucket
    size), not O(|dimension|), the parquet-native stand-in for MERGE INTO
    on Delta/Iceberg (jars absent from this image). Slice-wise equals
    whole-table because cdc_to_scd2 is strictly per-key (one key-window,
    key joins) and every version of a key lives in its key's bucket.

    Crash protocol, in order: (1) restore any buckets parked by an
    earlier crash; (2) gate on the ledger; (3) fully materialize the
    merged slice (partitioned by bucket) AND the new ledger at a scratch
    dir — the live dimension's scan happens here, before any rename;
    (4) install each touched bucket with the two-rename park (parks under
    `target__prevb/`, outside the table root); (5) install the ledger
    LAST. A crash between bucket installs re-delivers the epoch with the
    OLD ledger: re-application is safe because cdc_to_scd2 is no-op
    idempotent and the effective timestamp is deterministic per epoch —
    already-updated buckets don't move, not-yet-updated buckets catch up.
    The ledger still earns its place: it skips clean replays without
    paying the merge, and it is what `_last_applied_epoch` reports to
    observers.

    The per-batch touched-bucket collect is bounded by n_buckets (a
    layout constant, ≤ thousands at 100 TB) — a sanctioned driver-side
    decision input, same class as auto_join_strategy's 1-row collect."""
    from ..operators.relational import cdc_to_scd2

    if effective_for is not None and event_time_col is not None:
        raise ValueError(
            "pass effective_for OR event_time_col, not both — the epoch's "
            "effective timestamp has exactly one source"
        )
    eff = effective_for or (lambda _epoch: "2024-02-01")

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(spark, target_path)
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # at-least-once replay of an already-applied epoch
        touched = _touched_buckets(batch_df, keys, n_buckets)
        if not touched:
            return  # empty epoch: dimension unchanged, ledger not advanced
        effective = _epoch_effective(batch_df, epoch_id, eff, event_time_col)
        if effective is None:
            # non-empty batch whose event_time values are ALL NULL: there
            # is no epoch timestamp to version against — applying would
            # write NULL valid_from/valid_to (closed versions would look
            # open). Same guard as the unbucketed sink (ADVICE r8 #2).
            return
        # Direct read, NOT _store_path: the bucketed store never parks its
        # WHOLE root — crashes park individual buckets under `__prevb`,
        # and _recover_buckets above has already restored those. Routing
        # this read through _store_path would be wrong in the other
        # direction (a stale `target__prev` left by some unrelated tool
        # would shadow the live table).
        dim_slice = _read_touched_buckets(spark, target_path, touched)
        merged = cdc_to_scd2(
            batch_df,
            dim_slice,
            keys=keys,
            attrs=attrs,
            effective=effective,
            order_cols=order_cols,
        )
        tmp = target_path.rstrip("/") + f"__cdcb_epoch{epoch_id}"
        _write_buckets(merged, tmp, keys, n_buckets)
        _write_ledger(spark, tmp, epoch_id)
        _catch_up_install(spark, tmp, target_path, touched)

    return _sink


# --- segment-store protocol (shared by the BM25 / IVF-PQ / join-view
# --- segmented maintainers) ------------------------------------------------
#
# One epoch of a segment store runs these steps, in this order:
#   1. restore a `segs/` parked by a crashed compaction swap
#      (`_segment_epoch_applied`, via `_recover_parked`);
#   2. the replay gate (`_segment_replay_applied`, called only from
#      `_segment_epoch_applied`): the epoch is applied iff it is at/below
#      the compaction marker, checked FIRST, or its `seg_<epoch>` dir is
#      present, in which case the manifest is repaired to list it;
#   3. build the segment at a scratch dir — the sink's own work; the BM25
#      and IVF-PQ families first prove the delta disjoint from the store
#      (`_raise_if_indexed`), then write through their one segment writer
#      (`_write_bm25_segment`, `_write_ivf_segment`);
#   4. the publish rename of the scratch dir to `seg_<epoch>`
#      (`_publish_segment`);
#   5. the manifest commit (`_manifest_add`, inside `_publish_segment`);
#   6. optional tiered compaction once `compact_every` segments are live
#      (`_publish_segment`, with the family's compactor).
# The four maintainers (BM25, IVF-PQ, join view, SCD2 join view) run all
# six steps. The dedup and neardup gates share only steps 4-5: they
# publish their decision segment first and then fold it, so their replay
# safety is the publish-then-fold algebra, not the gate; their
# `accepted/` and `decided/` dirs have no manifest, so step 5 does
# nothing there. Seeds and compactions write through the same family
# writers; the two seeds end with `_seed_segment_catalog`.

# Per-segment id-presence Bloom bitmap sizing: each bitmap is sized to ITS
# segment's cardinality (32 bits/key, k=5 → ~6e-5 false-positive rate per
# probed key), floored for tiny segments and CAPPED so no segment's bitmap
# exceeds 8 MiB. Sizing per segment (rather than one fixed ORable size) is
# what keeps the probe useful at ANY index size: the probe tests the delta
# against each segment's bitmap separately and falls back to the exact
# semi-join only against the SUSPECT segments — so a false positive costs
# one delta-sized segment scan, and only a segment beyond the cap (> ~2M
# ids at 32 bits/key) degrades to always-suspect (stated, not hidden; the
# fixed-size union-OR design saturates at ~10k ids and was measured
# reporting cannot-prove on EVERY realistic epoch). False positives are
# never wrong answers — zero false negatives is the Bloom guarantee
# (bloom_semijoin_stats audits it registry-side).
_SEG_BLOOM_BITS_PER_KEY = 32
_SEG_BLOOM_MIN_BITS = 1 << 17
_SEG_BLOOM_MAX_BITS = 1 << 26
_SEG_BLOOM_K = 5


def _write_text_sidecar(spark: SparkSession, path: str, text: str) -> None:
    """Write a small metadata sidecar as ONE plain text file via a
    driver-side Hadoop create — no Spark job (the `_write_ledger`
    rationale: each 1-row/short parquet sidecar cost a ~0.15-0.3 s job
    to write and another to read back, a fixed per-epoch/per-serve tax).
    Deletes a legacy parquet DIRECTORY squatting on the path (a scratch
    leftover from a pre-round-11 crash) — fs.create cannot overwrite a
    dir. Writes through the RAW filesystem when the scheme wraps one
    (local ChecksumFileSystem): the checksum wrapper would drop a
    `.<name>.crc` sibling next to every sidecar, polluting store
    listings."""
    fs, P = _hadoop_fs(spark, path)
    p = P(path)
    if fs.exists(p) and fs.getFileStatus(p).isDirectory():
        fs.delete(p, True)
    try:
        wfs = fs.getRawFileSystem()
    except Exception:
        wfs = fs  # scheme without a checksum wrapper (HDFS, S3A, ...)
    out = wfs.create(p, True)
    try:
        out.write(bytearray(text.encode("ascii")))
    finally:
        out.close()


def _read_text_sidecar_lines(spark: SparkSession, path: str) -> list[str]:
    """Read a text sidecar's lines driver-side (no Spark job). The caller
    has already checked existence; a live sidecar is always complete (it
    only becomes visible via an install rename), so read errors are real
    storage faults and propagate."""
    jvm = spark._jvm  # noqa: SLF001
    fs, P = _hadoop_fs(spark, path)
    stream = fs.open(P(path))
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream)
        )
        lines = []
        line = reader.readLine()
        while line is not None:
            lines.append(line)
            line = reader.readLine()
    finally:
        stream.close()
    return lines


def _write_inflight_manifest(
    spark: SparkSession, fs, P, tmp: str, root: str, epoch_id: int, touched
) -> None:
    """The rewind record (epoch, bucket, existed-pre-epoch) as ONE text
    sidecar — `epoch,bucket,existed01` per line. Replaces the per-epoch
    1-job parquet write (the range+explode(struct lits) idiom, itself a
    fix over createDataFrame's ~5 s Python-worker path); the rollback
    readers parse either format."""
    txt = "\n".join(
        f"{int(epoch_id)},{int(b)},"
        + ("1" if fs.exists(P(f"{root}/bucket={int(b)}")) else "0")
        for b in touched
    )
    _write_text_sidecar(spark, f"{tmp}/_inflight", txt)


def _read_inflight_manifest(spark: SparkSession, fs, P, inflight: str):
    """Parse an _inflight manifest written by either format (text file,
    or a pre-round-11 parquet dir) into [{'epoch','bucket','existed'}]."""
    if fs.getFileStatus(P(inflight)).isFile():
        return [
            {"epoch": int(e), "bucket": int(b), "existed": x == "1"}
            for e, b, x in (
                ln.split(",")
                for ln in _read_text_sidecar_lines(spark, inflight)
                if ln
            )
        ]
    return [r.asDict() for r in spark.read.parquet(inflight).collect()]


def _manifest_segments(spark: SparkSession, segs_dir: str) -> list[str] | None:
    """The manifest-listed live segment names, or None for a glob-mode
    store (one without a `_manifest` — seeds write one; stores created
    before it existed, or grown maintainer-first without a seed, serve
    by directory listing until a compaction upgrades them). The manifest
    is what makes PARTIAL (tiered) merges crash-safe: readers see only
    listed segments, so a merged segment can be published invisibly and
    revealed in the same atomic step that retires its constituents — no
    window where both are served (the double-count window a dir-glob
    reader cannot avoid). Lucene's segments_N file — one name per line
    (legacy stores: a 1-column parquet dir, still readable)."""
    fs, P = _hadoop_fs(spark, segs_dir)
    m = _store_path(spark, f"{segs_dir}/_manifest")
    if not fs.exists(P(m)):
        return None
    if fs.getFileStatus(P(m)).isFile():
        return sorted(
            ln for ln in _read_text_sidecar_lines(spark, m) if ln
        )
    # legacy format (stores written before round 11's optimization pass)
    return sorted(r["seg"] for r in spark.read.parquet(m).collect())


def _write_manifest(spark: SparkSession, segs_dir: str, names: list[str]) -> None:
    """Atomically install the manifest listing exactly `names` (two-
    rename _install; `_manifest_segments` resolves a mid-swap park)."""
    if not names:
        raise ValueError("refusing to write an empty segment manifest")
    tmp = f"{segs_dir}/__manifest_next"
    _write_text_sidecar(spark, tmp, "\n".join(sorted(names)))
    _install(spark, tmp, f"{segs_dir}/_manifest")


def _manifest_add(spark: SparkSession, segs_dir: str, name: str) -> None:
    """Add a just-published segment to the manifest. No-op for glob-mode
    stores (presence IS visibility there) and for names already listed —
    the idempotence the replay-repair path relies on."""
    names = _manifest_segments(spark, segs_dir)
    if names is None or name in names:
        return
    _write_manifest(spark, segs_dir, [*names, name])


def _live_segments(spark: SparkSession, segs_dir: str) -> list[str]:
    """Names of the live segments under `segs_dir`: the manifest list
    when one exists (orphan dirs awaiting GC or replay-repair are NOT
    live), else the directory listing (glob-mode store), skipping
    hidden/scratch entries. Cost: one metadata read — O(segment count),
    never O(index size)."""
    names = _manifest_segments(spark, segs_dir)
    if names is not None:
        return names
    fs, P = _hadoop_fs(spark, segs_dir)
    d = P(segs_dir)
    if not fs.exists(d):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(d)
        if not st.getPath().getName().startswith(("_", "."))
    )


_SEG_NAME_RE = re.compile(r"seg_m?(\d+)(?:_\d+)?")


def _seg_epoch(name: str) -> int:
    """The epoch a segment name carries: seg_<e> (a published epoch) or
    seg_m<e>[_k] (a tiered merge covering epochs ≤ e); -1 for seg_base /
    unparseable."""
    m = _SEG_NAME_RE.fullmatch(name)
    return int(m.group(1)) if m else -1


def _max_seg_epoch(names: list[str]) -> int:
    """Largest epoch id among the names (-1 if only seg_base)."""
    return max((_seg_epoch(n) for n in names), default=-1)


def _compacted_through(spark: SparkSession, root: str) -> int:
    """The store's max-compacted-epoch marker: every epoch at/below it is
    guaranteed applied even though compaction merged its segment dir away.
    Without this, segment-presence-as-ledger is DESTROYED by compaction:
    an at-least-once replay of a merged-away epoch would miss the
    presence probe, hit the disjointness guard (its ids ARE indexed), and
    permanently fail the stream on an epoch that needs skipping, not
    raising (ADVICE r8 #3). -1 when no compaction has run."""
    return _read_compaction_marker(spark, f"{root}/compaction_marker")


def _read_compaction_marker(spark: SparkSession, path: str) -> int:
    """The epoch a compaction marker at `path` records, -1 when absent.
    Resolves the marker through `_store_path` (it has its own two-rename
    install)."""
    fs, P = _hadoop_fs(spark, path)
    marker = _store_path(spark, path)
    if not fs.exists(P(marker)):
        return -1
    if fs.getFileStatus(P(marker)).isFile():
        lines = _read_text_sidecar_lines(spark, marker)
        return int(lines[0]) if lines else -1
    # legacy format (stores compacted before round 11's optimization pass)
    rows = spark.read.parquet(marker).select("compacted_through").collect()
    return int(rows[0][0]) if rows else -1


def _write_compaction_marker(spark: SparkSession, root: str, epoch: int) -> None:
    tmp = f"{root}/__marker_epoch{int(epoch)}"
    _write_text_sidecar(spark, tmp, str(int(epoch)))
    _install(spark, tmp, f"{root}/compaction_marker")


_COVERS_MIN_UNKNOWN = -(1 << 62)  # legacy merged segment: unknown subset


def _write_covers(spark: SparkSession, seg_dir: str, epochs: list[int]) -> None:
    """Record the EXACT epoch set a segment folds as a `_covers` sidecar
    (one bigint column, a handful of rows) inside the segment dir — the
    catalog that makes time-travel reads (`_segments_as_of`, VERDICT r10
    next #6) exact under TIERED compaction, where the merge set need not
    be an epoch prefix (the size rule can exclude a mid-history segment,
    so a merged segment's name alone cannot say WHICH epochs it holds).
    Underscore-hidden: parquet input listings skip it, so flat segment
    dirs (join view) read identically with or without it. Seeds write
    [-1] (the pre-stream epoch); per-epoch published segments need no
    sidecar (seg_<e> covers {e} by name); compaction unions its
    constituents' coverage into the merged segment's sidecar.

    Format (round 12): ONE text file, one epoch per line, written
    driver-side — the `_write_text_sidecar` class (guide §5: a handful
    of ints is driver metadata, not cluster data). The pre-round-12
    parquet-dir format cost one Spark read job per as-of serve
    (`_segments_in_range`'s batched collect); readers parse either."""
    _write_text_sidecar(
        spark,
        f"{seg_dir}/_covers",
        "\n".join(str(int(e)) for e in sorted(set(epochs))),
    )


def _read_covers_sidecar(
    spark: SparkSession, fs, P, cpath: str
) -> list[int] | None:
    """Parse a `_covers` sidecar at `cpath` (text file, or a legacy
    pre-round-12 parquet dir) into its sorted epoch list; None when
    absent."""
    if not fs.exists(P(cpath)):
        return None
    if fs.getFileStatus(P(cpath)).isFile():
        return sorted(
            int(ln) for ln in _read_text_sidecar_lines(spark, cpath) if ln
        )
    return sorted(
        int(r["epoch"]) for r in spark.read.parquet(cpath).collect()
    )


def _segment_covers(
    spark: SparkSession,
    segs_dir: str,
    name: str,
    marker: int,
    probe_sidecar: bool = True,
) -> tuple[int, int, list[int] | None]:
    """(min_epoch, max_epoch, exact_list|None) of the epochs a live
    segment folds. Exact when a `_covers` sidecar exists or the name is
    self-describing (seg_<e> covers {e}; a bare seg_base with no
    compaction marker is the untouched seed, epoch -1). Legacy folds
    without a sidecar — seg_m<e> from pre-covers code, or seg_base once
    a marker exists (it MIGHT be a pre-covers full merge) — report an
    unknown-min range: read-at refuses to split them, serving only
    epochs at/above their top. New stores always carry exact coverage,
    so the conservative arm never fires for them."""
    if probe_sidecar:
        fs, P = _hadoop_fs(spark, segs_dir)
        eps = _read_covers_sidecar(spark, fs, P, f"{segs_dir}/{name}/_covers")
        if eps:
            return eps[0], eps[-1], eps
    if name == "seg_base":
        if marker < 0:
            return -1, -1, [-1]
        return _COVERS_MIN_UNKNOWN, marker, None
    e = _seg_epoch(name)
    if name.startswith("seg_m") or e < 0:
        return _COVERS_MIN_UNKNOWN, max(e, marker), None
    return e, e, [e]


def _segments_as_of(spark: SparkSession, root: str, epoch: int) -> list[str]:
    """Resolve the live segment names that constitute the store AS OF
    `epoch` — the time-travel catalog walk (VERDICT r10 next #6):
    include every live segment whose covered epochs are all <= epoch
    (the seed's pre-stream epoch is -1, so it is always in), drop those
    entirely above, and RAISE when a segment folds epochs from both
    sides of the cut — that epoch fell below the store's time-travel
    horizon when compaction merged it, and serving the fold would
    silently include future rows. Cost: one manifest read + one tiny
    `_covers` read per merged segment — O(segment count) metadata,
    never O(store bytes); the returned names drive the same plan-level
    union scan the live read uses, so a time-travel serve is exactly a
    live serve over fewer segments."""
    root = root.rstrip("/")
    # lower bound strictly below the legacy unknown-min sentinel, so a
    # no-sidecar fold (mn == _COVERS_MIN_UNKNOWN) still INCLUDES at or
    # above its top epoch, exactly as before the range generalization
    return _segments_in_range(
        spark,
        root,
        _store_path(spark, f"{root}/segs"),
        _COVERS_MIN_UNKNOWN - 1,
        epoch,
    )


def _segments_in_range(
    spark: SparkSession, root: str, segs_dir: str, lo: int, hi: int
) -> list[str]:
    """Live segment names whose covered epochs fall entirely in
    (lo, hi] — the shared catalog walk behind read_at (lo = -inf) and
    the snapshot diffs: a segment entirely at/below `lo` or entirely
    above `hi` is skipped; one straddling either boundary means the
    requested cut fell below a fold's horizon, and the walk raises
    rather than serve merged history. Every existing `_covers` sidecar
    loads in ONE batched read (attributed back by input_file_name) — a
    per-segment read would cost O(segment count) driver jobs per serve;
    the compaction-marker read for legacy no-sidecar fallbacks is
    lazy."""
    names = _live_segments(spark, segs_dir)
    lo, hi = int(lo), int(hi)
    fs, P = _hadoop_fs(spark, segs_dir)
    covers: dict[str, list[int]] = {}
    legacy_dirs: dict[str, str] = {}
    for n in names:
        cpath = f"{segs_dir}/{n}/_covers"
        if not fs.exists(P(cpath)):
            continue
        if fs.getFileStatus(P(cpath)).isFile():
            # round-12 text sidecar: driver-side line read, no Spark job
            covers[n] = sorted(
                int(ln) for ln in _read_text_sidecar_lines(spark, cpath) if ln
            )
        else:
            legacy_dirs[n] = cpath
    if legacy_dirs:
        # pre-round-12 parquet sidecars: still ONE batched read job
        for r in (
            spark.read.parquet(*legacy_dirs.values())
            .select("epoch", F.input_file_name().alias("__f"))
            .collect()
        ):
            seg_name = r["__f"].split("/_covers/")[0].rsplit("/", 1)[-1]
            covers.setdefault(seg_name, []).append(int(r["epoch"]))
    marker: int | None = None  # lazily read — only legacy fallbacks need it
    out = []
    for n in names:
        if n in covers:
            eps = sorted(covers[n])
            mn, mx = eps[0], eps[-1]
        else:
            if marker is None:
                marker = _compacted_through(spark, root)
            mn, mx, _ = _segment_covers(
                spark, segs_dir, n, marker, probe_sidecar=False
            )
        if mx <= lo or mn > hi:
            continue
        elif mn > lo and mx <= hi:
            out.append(n)
        else:
            shown_lo = "-inf" if lo <= _COVERS_MIN_UNKNOWN else str(lo)
            raise ValueError(
                f"epoch range ({shown_lo}, {hi}] is below this store's "
                f"time-travel horizon: live segment {n!r} folds epochs "
                f"spanning [{mn}, {mx}] across the requested cut; "
                f"earliest servable epoch here is {mx}"
            )
    return out


def _write_segment_bloom(
    ids: DataFrame,
    id_col: str,
    seg_tmp: str,
    stats: tuple[int, object, object] | None = None,
) -> None:
    """Publish the segment's id set as a packed Bloom bitmap (`idbloom/`,
    one row: word array + the k it was built with) INSIDE the segment
    dir, so the single-rename publish installs data + bitmap atomically.
    Sized to the segment's cardinality (one delta-sized count here) at
    _SEG_BLOOM_BITS_PER_KEY, floored and capped — n_bits is recovered at
    probe time from the array length, so differently-sized segments
    coexist. This is what makes the maintainers' per-epoch disjointness
    probe O(delta) in steady state: the probe reads the bitmaps instead
    of scanning the union id tables — VERDICT r8 next-round #1.

    `stats` = (n, id_min, id_max) lets a caller that already aggregated
    the delta skip this function's own stats job (round 12: the
    maintainers fold isEmpty + bloom sizing + `_stats` sidecars into ONE
    per-epoch aggregate — guide §2.4, remove whole jobs)."""
    from ..operators.sketches import bloom_bitmap

    if stats is None:
        row = ids.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(id_col).alias("lo"),
            F.max(id_col).alias("hi"),
        ).collect()[0]
        stats = (int(row["n"]), row["lo"], row["hi"])
    n_ids, id_lo, id_hi = int(stats[0]), stats[1], stats[2]
    want = _SEG_BLOOM_BITS_PER_KEY * max(1, n_ids)
    n_bits = min(_SEG_BLOOM_MAX_BITS, max(_SEG_BLOOM_MIN_BITS, ((want + 31) // 32) * 32))
    (
        bloom_bitmap(ids.select(id_col), id_col, n_bits, _SEG_BLOOM_K)
        .select(
            "arr",
            F.lit(_SEG_BLOOM_K).cast("int").alias("k"),
            F.lit(n_ids).cast("bigint").alias("n_ids"),
            F.lit(id_lo).alias("id_min"),
            F.lit(id_hi).alias("id_max"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{seg_tmp}/idbloom")
    )


def _write_bm25_seg_stats(
    spark: SparkSession, seg_dir: str, n_docs: int, sum_len: int
) -> None:
    """Per-segment BM25 prefix-stats sidecar `_stats` — one text line
    `n_docs,sum_len` (round 12, VERDICT r11 next #2): segments are
    immutable, so their doc count and total token length never change,
    and the serve-side 1-row stats (n_docs, avgl = sum div n) become a
    DRIVER-side sum over the segment set instead of a per-serve
    union-aggregate Spark job over every segment's doclens — the
    recompute that made bm25_index_read_at the slowest headline row on
    the driver box. Integer identity: sum(len) div count(1) over the
    union == (Σ seg sum_len) div (Σ seg n_docs), exactly."""
    _write_text_sidecar(spark, f"{seg_dir}/_stats", f"{int(n_docs)},{int(sum_len)}")


def _read_bm25_seg_stats(
    spark: SparkSession, segs_dir: str, names: list[str]
) -> tuple[int, int] | None:
    """(total n_docs, total sum_len) summed from every named segment's
    `_stats` sidecar, or None when any segment lacks one (legacy store —
    the caller falls back to the union aggregate). Driver-side text
    reads only; no Spark job."""
    fs, P = _hadoop_fs(spark, segs_dir)
    n_tot, sum_tot = 0, 0
    for n in names:
        spath = f"{segs_dir}/{n}/_stats"
        if not fs.exists(P(spath)) or not fs.getFileStatus(P(spath)).isFile():
            return None
        lines = _read_text_sidecar_lines(spark, spath)
        if not lines:
            return None
        a, b = lines[0].split(",")
        n_tot += int(a)
        sum_tot += int(b)
    return n_tot, sum_tot


def _bm25_stats_df(spark: SparkSession, n_docs: int, sum_len: int) -> DataFrame:
    """The 1-row (n_docs, avgl) stats frame from sidecar totals as a
    LITERAL local relation — same integer formula (floor div, operands
    non-negative) and same column types as the doclens aggregate it
    replaces."""
    return spark.range(1).select(
        F.lit(int(n_docs)).cast("bigint").alias("n_docs"),
        F.lit(int(sum_len) // int(n_docs)).cast("bigint").alias("avgl"),
    )


_SEG_SUMMARY_MAX_BITS = 1 << 26  # 8 MB cap: the summary is a COARSE filter


def _write_segment_summary(
    spark: SparkSession,
    segs_dir: str,
    ids: DataFrame,
    id_col: str,
    covers: list[str],
) -> None:
    """Install a STORE-WIDE coarse Bloom at `segs/_summary` (VERDICT r9
    #5): one capped bitmap over the union of the `covers` segments' ids,
    rebuilt at compaction (and written by seeds), so an interleaved-id
    delta answers disjointness against the compacted mass with ONE
    fixed-size read instead of fetching every segment's bitmap — the
    read volume that tracked index size in SCALE_r9. Covered segments
    are immutable dirs, so a summary never goes stale-false-negative:
    it contains exactly its covers' ids forever; segments published
    after the summary simply aren't covered and keep their per-segment
    probes. Sized like the per-segment bitmaps but capped at
    _SEG_SUMMARY_MAX_BITS — past the cap the summary SHARDS by id range
    (`_write_sharded_summary`, VERDICT r10 next #3) instead of refusing.
    Two-rename install; `_store_path` resolves a mid-swap park."""
    from ..operators.sketches import bloom_bitmap

    stats = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
    ).collect()[0]
    n_ids = int(stats["n"])
    if n_ids > _SEG_SUMMARY_MAX_BITS // 8:
        # below ~8 bits/key one capped bloom saturates (every delta hits,
        # nothing is ever proven) — the r10 tier refused here and handed
        # interleaved-id deltas back to the per-segment fetch, exactly
        # the regime the summary was built for (VERDICT r10 next #3).
        # Now: SHARD the summary by id range — each shard a full-quality
        # bloom, probes fetch only the shards the delta's ids map into.
        numeric = ids.schema[id_col].dataType.typeName() in (
            "byte",
            "short",
            "integer",
            "long",
        )
        if numeric and stats["lo"] is not None:
            _write_sharded_summary(
                spark,
                segs_dir,
                ids,
                id_col,
                covers,
                n_ids,
                int(stats["lo"]),
                int(stats["hi"]),
            )
        # non-numeric ids can't range-shard: keep whatever summary
        # exists (immutable covers stay correct); per-segment tier
        # carries the rest — the r10 refusal, now only for that case
        return
    want = _SEG_BLOOM_BITS_PER_KEY * max(1, n_ids)
    n_bits = min(
        _SEG_SUMMARY_MAX_BITS, max(_SEG_BLOOM_MIN_BITS, ((want + 31) // 32) * 32)
    )
    tmp = f"{segs_dir}/__summary_next"
    (
        bloom_bitmap(ids.select(id_col), id_col, n_bits, _SEG_BLOOM_K)
        .select(
            "arr",
            F.lit(_SEG_BLOOM_K).cast("int").alias("k"),
            F.lit(n_ids).cast("bigint").alias("n_ids"),
            F.array(*[F.lit(c) for c in sorted(covers)]).alias("covers"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    # `_smeta` text twin of (k, covers) — read driver-side by the probe
    # so the steady-state epoch pays ONE summary job (the membership
    # test) instead of two (meta collect + membership); installed inside
    # the same atomic dir swap (round 12, guide §2.4)
    _write_summary_smeta(spark, tmp, covers)
    _install(spark, tmp, f"{segs_dir}/_summary")


def _write_summary_smeta(spark: SparkSession, tmp: str, covers: list[str]) -> None:
    _write_text_sidecar(
        spark,
        f"{tmp}/_smeta",
        "\n".join([str(_SEG_BLOOM_K), *sorted(covers)]),
    )


def _read_summary_smeta(
    spark: SparkSession, fs, P, path: str
) -> tuple[int, set] | None:
    """(k, covers) from a summary dir's `_smeta` text sidecar; None for
    legacy summaries without one (readers fall back to the parquet meta
    collect)."""
    sp = f"{path}/_smeta"
    if not fs.exists(P(sp)) or not fs.getFileStatus(P(sp)).isFile():
        return None
    lines = _read_text_sidecar_lines(spark, sp)
    if not lines:
        return None
    return int(lines[0]), set(lines[1:])


def _write_sharded_summary(
    spark: SparkSession,
    segs_dir: str,
    ids: DataFrame,
    id_col: str,
    covers: list[str],
    n_ids: int,
    lo: int,
    hi: int,
) -> None:
    """The summary Bloom past its saturation cliff (VERDICT r10 next
    #3): the id domain [lo, hi] splits into equal-width contiguous
    shards such that an EVENLY-SPREAD id population gives every shard a
    full 32-bits/key budget under the per-shard cap; each shard gets its
    own bloom sized to its ACTUAL count (`bloom_bitmap_grouped`, so skew
    costs only the hot shard's headroom, clamped at the cap — a
    saturated hot shard degrades to always-hit for ITS ids while every
    other shard keeps proving disjointness). Layout, installed
    atomically as one `_summary` dir:

        _summary/meta/        1 row: lo, width, n_shards, k, covers
        _summary/shard=N/     1 row: arr, n_ids   (only shards with ids)

    A probe maps each delta id to its shard by the same arithmetic,
    reads ONLY the touched shard files (O(shards-touched) bytes, never
    O(segments)), and treats ids outside [lo, hi] or in an absent shard
    dir as proven absent — the build put no id there. Pathological
    point-mass distributions collapse into one saturated shard; that is
    the honest residual cliff, and the per-segment tier still carries
    it.

    Plan (100 TB): the build is two hash aggregates over one id-column
    scan at compaction cadence (no window, no per-shard jobs); at 1B
    interleaved ids the store-wide summary is ~480 shards x <=8 MB,
    and a delta touching d shards fetches d bitmaps instead of the
    r9-estimated ~4 GB of per-segment bitmaps."""
    from ..operators.sketches import bloom_bitmap_grouped

    max_ids = _SEG_SUMMARY_MAX_BITS // _SEG_BLOOM_BITS_PER_KEY
    n_shards = int((n_ids + max_ids - 1) // max_ids)
    width = max(1, (hi - lo) // n_shards + 1)
    shard = F.floor((F.col(id_col) - F.lit(lo)) / F.lit(width)).cast("int")
    tmp = f"{segs_dir}/__summary_next"
    (
        bloom_bitmap_grouped(
            ids.select(F.col(id_col), shard.alias("shard")),
            id_col,
            "shard",
            _SEG_BLOOM_BITS_PER_KEY,
            _SEG_BLOOM_MIN_BITS,
            _SEG_SUMMARY_MAX_BITS,
            _SEG_BLOOM_K,
        )
        .repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    (
        spark.range(1)
        .select(
            F.lit(int(lo)).cast("bigint").alias("lo"),
            F.lit(int(width)).cast("bigint").alias("width"),
            F.lit(int(n_shards)).cast("int").alias("n_shards"),
            F.lit(_SEG_BLOOM_K).cast("int").alias("k"),
            F.lit(int(n_ids)).cast("bigint").alias("n_ids"),
            F.array(*[F.lit(c) for c in sorted(covers)]).alias("covers"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{tmp}/_meta")
    )
    _install(spark, tmp, f"{segs_dir}/_summary")


def _sharded_summary_disjoint(
    spark: SparkSession,
    path: str,
    delta_ids: DataFrame,
    id_col: str,
    overlapping: list[str],
) -> set[str]:
    """`_summary_covered_disjoint`'s sharded branch: route each delta id
    to its shard, fetch ONLY the touched shard bitmaps by explicit path,
    and prove the covered segments disjoint when no routed id is a
    member of its own shard's bloom. Ids outside the built domain or
    mapping to an absent shard dir are proven absent for free."""
    from ..operators.sketches import bloom_member

    fs, P = _hadoop_fs(spark, path)
    meta = spark.read.parquet(f"{path}/_meta").collect()
    if len(meta) != 1 or meta[0]["k"] != _SEG_BLOOM_K:
        return set()
    m = meta[0]
    covered = set(m["covers"]) & set(overlapping)
    if not covered:
        return set()
    lo, width, n_shards = int(m["lo"]), int(m["width"]), int(m["n_shards"])
    routed = delta_ids.select(
        F.col(id_col),
        F.floor((F.col(id_col) - F.lit(lo)) / F.lit(width))
        .cast("int")
        .alias("__shard"),
    ).filter((F.col("__shard") >= 0) & (F.col("__shard") < n_shards))
    touched = sorted(
        r["__shard"] for r in routed.select("__shard").distinct().collect()
    )
    paths = [
        p
        for p in (f"{path}/shard={int(s)}" for s in touched)
        if fs.exists(P(p))
    ]
    if not paths:
        return covered  # every delta id maps outside any built shard
    shard_of = F.element_at(F.split(F.input_file_name(), "/"), -2)
    blooms = spark.read.parquet(*paths).select(
        F.substring_index(shard_of, "=", -1).cast("int").alias("__shard"),
        "arr",
    )
    member = bloom_member(F.col(id_col), F.size(F.col("arr")) * 32, _SEG_BLOOM_K)
    hit = (
        not routed.join(F.broadcast(blooms), "__shard")
        .filter(member)
        .isEmpty()
    )
    return set() if hit else covered


def _refresh_segment_summary(
    spark: SparkSession, segs_dir: str, table_name: str, id_col: str
) -> None:
    """Bring `segs/_summary` up to date with the live segment set —
    called by the family compactors after every compaction attempt
    (merging or not: the auto-trigger cadence is the natural refresh
    point, and a declined tier merge still leaves new segments worth
    covering). No-op when the summary already covers exactly the live
    set; the id pass it pays otherwise reads one column of the live
    segments' id tables — small next to the merge the same trigger
    would perform."""
    fs, P = _hadoop_fs(spark, segs_dir)
    live = _live_segments(spark, segs_dir)
    if not live:
        return
    path = _store_path(spark, f"{segs_dir}/_summary")
    if fs.exists(P(path)):
        smeta = _read_summary_smeta(spark, fs, P, path)
        if smeta is not None:
            if smeta[1] == set(live):
                return  # already fresh (resolved driver-side, no job)
        else:
            src = f"{path}/_meta" if fs.exists(P(f"{path}/_meta")) else path
            meta = spark.read.parquet(src).select("covers").collect()
            if len(meta) == 1 and set(meta[0]["covers"]) == set(live):
                return  # already fresh
    ids = _read_segment_table(spark, segs_dir, table_name, live).select(id_col)
    _write_segment_summary(spark, segs_dir, ids, id_col, live)


def _summary_covered_disjoint(
    spark: SparkSession,
    segs_dir: str,
    delta_ids: DataFrame,
    id_col: str,
    overlapping: list[str],
) -> set[str]:
    """The subset of `overlapping` segment names the store-wide summary
    bloom PROVES disjoint from the delta: when no delta id is a summary
    member, every summary-covered segment is clean at once (zero false
    negatives). Returns set() when there is no summary, it was built
    under a different k, it covers none of the candidates, or the delta
    HITS it (a hit cannot localize — the per-segment tier takes over).
    Retired covers (merged away after the summary was built) are simply
    absent from `overlapping` and ignored — conservative, never wrong."""
    from ..operators.sketches import bloom_member

    fs, P = _hadoop_fs(spark, segs_dir)
    path = _store_path(spark, f"{segs_dir}/_summary")
    if not fs.exists(P(path)):
        return set()
    if fs.exists(P(f"{path}/_meta")):
        # sharded layout (built past the single-bloom cap): fetch only
        # the shards the delta's ids route into
        return _sharded_summary_disjoint(
            spark, path, delta_ids, id_col, overlapping
        )
    # `_smeta` text twin (round 12): k + covers resolve driver-side, so
    # the k-mismatch / nothing-covered early exits cost NO job and the
    # steady path pays exactly one (the membership test). Legacy
    # summaries keep the parquet meta collect.
    smeta = _read_summary_smeta(spark, fs, P, path)
    s = spark.read.parquet(path)
    if not {"arr", "k", "covers"}.issubset(s.columns):
        return set()
    if smeta is not None:
        k, cov = smeta
        if k != _SEG_BLOOM_K:
            return set()
        covered = cov & set(overlapping)
    else:
        meta = s.select("k", "covers").collect()
        if len(meta) != 1 or meta[0]["k"] != _SEG_BLOOM_K:
            return set()
        covered = set(meta[0]["covers"]) & set(overlapping)
    if not covered:
        return set()
    member = bloom_member(
        F.col(id_col), F.size(F.col("arr")) * 32, _SEG_BLOOM_K
    )
    hit = (
        not delta_ids.crossJoin(F.broadcast(s.select("arr")))
        .filter(member)
        .isEmpty()
    )
    return set() if hit else covered


def _bloom_suspect_segments(
    spark: SparkSession,
    segs_dir: str,
    delta_ids: DataFrame,
    id_col: str,
    delta_range: tuple | None = None,
) -> list[str] | None:
    """Which live segments MIGHT contain a delta id — the three-tier
    probe behind the segmented maintainers' O(delta) disjointness check:

      tier 1, id RANGE (exact, O(segments) bytes): each bitmap row
        carries its segment's (id_min, id_max); a segment whose range
        does not overlap the delta's [min, max] cannot contain a delta
        id. For monotone id assignment — the production norm for
        document/vector streams — this tier prunes EVERY segment, and
        probe bytes are a handful of metadata rows regardless of index
        size (the arr column is never read for pruned segments: parquet
        column pruning skips its pages).
      tier 1.5, STORE-WIDE summary Bloom (capped at 8 MB, rebuilt at
        compaction — VERDICT r9 #5): one fixed-size read proves
        disjointness for every summary-covered segment at once, so an
        interleaved-id delta's bitmap volume tracks the compaction
        cadence, not the index size; only segments published after the
        summary fall through.
      tier 2, per-segment Bloom (probabilistic, ~4 bytes/id of bitmap
        for overlapping uncovered segments only): zero false negatives,
        so a no-hit verdict is PROOF of disjointness; ~6e-5/key false
        positives.
      tier 3 (the caller's): exact semi-join against ONLY the returned
        suspect segments' id tables.

    Returns [] when disjointness is proven (skip tier 3 entirely — the
    steady-state path), the suspect segment names otherwise, or None for
    a legacy store (a segment without a bitmap / unknown k / no range
    columns): cannot localize, check the full union — pre-fix cost,
    still correct.

    `delta_range` = (min, max) of the delta's ids, when the caller has
    already aggregated them (the maintainers' fused per-epoch stats job,
    round 12) — skips this function's own min/max job."""
    from ..operators.sketches import bloom_member

    fs, P = _hadoop_fs(spark, segs_dir)
    names = _live_segments(spark, segs_dir)
    if not names:
        return []  # empty store: trivially disjoint
    if not all(fs.exists(P(f"{segs_dir}/{n}/idbloom")) for n in names):
        return None  # legacy segment without a bitmap: cannot localize
    # explicit per-name paths, not a glob: a manifest store may hold
    # orphan dirs (merged away, GC pending) whose bitmaps must not probe
    raw = spark.read.parquet(*[f"{segs_dir}/{n}/idbloom" for n in names])
    if not {"k", "id_min", "id_max"}.issubset(raw.columns):
        return None  # pre-range bitmap format: cannot probe it
    seg_of = F.element_at(F.split(F.input_file_name(), "/"), -3)
    # tier 1: metadata only — the arr column is NOT in this projection,
    # so its pages are never read for segments the range tier prunes
    if delta_range is not None:
        d = {"lo": delta_range[0], "hi": delta_range[1]}
    else:
        d = delta_ids.agg(
            F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
        ).collect()[0]
    if d["lo"] is None:
        return []  # empty delta (or all-NULL ids): nothing to collide
    meta = [
        (r["__seg"], r["k"], r["id_min"], r["id_max"])
        for r in raw.select(
            seg_of.alias("__seg"), "k", "id_min", "id_max"
        ).collect()
    ]
    if any(k is None or k != _SEG_BLOOM_K for _, k, _lo, _hi in meta):
        return None  # bitmap built under a different k: cannot probe it
    overlapping = sorted(
        s
        for s, _k, lo, hi in meta
        if lo is None or hi is None or not (hi < d["lo"] or lo > d["hi"])
    )
    if not overlapping:
        return []  # range-disjoint from every segment: proven, 0 bitmap reads
    # tier 1.5: store-wide summary bloom (VERDICT r9 #5) — one capped
    # read clears ALL summary-covered segments at once, so an
    # interleaved-id delta's bitmap fetch no longer scales with index
    # size; only post-summary segments (bounded by the compaction
    # cadence) fall through to their per-segment bitmaps
    proven = _summary_covered_disjoint(
        spark, segs_dir, delta_ids, id_col, overlapping
    )
    if proven:
        overlapping = sorted(set(overlapping) - proven)
        if not overlapping:
            return []  # summary-proven disjoint: no per-segment reads
    # tier 2: bloom-test the delta against ONLY the overlapping segments
    blooms = spark.read.parquet(
        *[f"{segs_dir}/{s}/idbloom" for s in overlapping]
    ).select(seg_of.alias("__seg"), "arr")
    member = bloom_member(
        F.col(id_col), F.size(F.col("arr")) * 32, _SEG_BLOOM_K
    )
    hits = (
        delta_ids.crossJoin(F.broadcast(blooms))
        .filter(member)
        .select("__seg")
        .distinct()
        .collect()
    )
    return sorted(r["__seg"] for r in hits)


def _segment_replay_applied(spark: SparkSession, root: str, epoch_id: int) -> bool:
    """The segmented stores' replay gate: epoch applied iff it is
    at/below the compaction marker (segment merged away — still applied)
    OR its segment dir exists. Marker FIRST: a merged-away orphan dir
    awaiting GC must not be repaired back into the manifest. A dir that
    exists above the marker gets `_manifest_add` — the repair for a
    crash between segment publish and manifest commit (the re-delivered
    epoch makes the already-published segment visible instead of
    re-writing it; segment content is deterministic, so the dir is
    complete). No-op on glob-mode stores."""
    if epoch_id <= _compacted_through(spark, root):
        return True
    fs, P = _hadoop_fs(spark, root)
    seg_name = f"seg_{int(epoch_id)}"
    if fs.exists(P(f"{root}/segs/{seg_name}")):
        _manifest_add(spark, f"{root}/segs", seg_name)
        return True
    return False


def _segment_epoch_applied(spark: SparkSession, root: str, epoch_id: int) -> bool:
    """The maintainers' epoch prologue (steps 1-2 of the protocol above):
    restore a `segs/` a compaction crash parked — BEFORE probing or
    publishing, since publishing into a fresh `segs/` while the real one
    sits parked would fork the store — then ask the replay gate. True
    means the epoch is already applied (a live segment, or compacted
    away) and the sink returns."""
    _recover_parked(spark, f"{root}/segs")
    return _segment_replay_applied(spark, root, epoch_id)


def _publish_segment(
    spark: SparkSession,
    scratch: str,
    root: str,
    epoch_id: int,
    sub: str = "segs",
    compactor=None,
    compact_every: int | None = None,
) -> None:
    """Publish the complete segment at `scratch` as `<root>/<sub>/seg_<epoch>`
    (steps 4-6 of the protocol above): one rename makes it present but
    invisible, the manifest commit makes it visible (nothing on a
    manifest-less dir), then `compactor(spark, root, tiered=True)` runs
    once `compact_every` segments are live."""
    segs_dir = f"{root}/{sub}"
    name = f"seg_{int(epoch_id)}"
    fs, P = _hadoop_fs(spark, segs_dir)
    fs.mkdirs(P(segs_dir))
    _rename_or_raise(fs, P(scratch), P(f"{segs_dir}/{name}"))
    _manifest_add(spark, segs_dir, name)
    if compact_every and len(_live_segments(spark, segs_dir)) >= compact_every:
        # tiered: the giant base is never rewritten to absorb a few
        # epochs — amortized O(delta · tiers), not O(index/interval)
        compactor(spark, root, tiered=True)


def _raise_if_indexed(
    spark: SparkSession,
    root: str,
    ids: DataFrame,
    table: str,
    label: str,
    delta_range: tuple,
) -> None:
    """The BM25 / IVF-PQ disjointness check of the delta's one-column
    `ids` (named as the store's id column; `delta_range` its min/max):
    the bloom probe (`_bloom_suspect_segments`) proves most deltas
    disjoint with no table read; on a bloom hit, exact-confirm against
    ONLY the suspect segments' `table` (the whole live union on a legacy
    store) and raise when a delta id is already indexed."""
    segs_dir = _store_path(spark, f"{root}/segs")
    id_col = ids.columns[0]
    delta_ids = ids.distinct()
    suspects = _bloom_suspect_segments(
        spark, segs_dir, delta_ids, id_col, delta_range=delta_range
    )
    if suspects == []:
        return
    stored = (
        spark.read.parquet(*[f"{segs_dir}/{s}/{table}" for s in suspects])
        if suspects is not None
        else _read_segment_table(spark, segs_dir, table)
    )
    dup = (
        stored.join(F.broadcast(delta_ids), id_col, "left_semi")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"{label} segmented maintain: {id_col} {dup[0][id_col]!r} is "
            "already indexed; appends must be disjoint from the stored "
            "index"
        )


def _gc_orphan_segments(spark: SparkSession, root: str) -> None:
    """Delete segment dirs a crashed PARTIAL compaction left behind —
    present on disk but not in the manifest: constituents whose delete
    step didn't finish (their epochs are ≤ the marker, written first) and
    merged seg_m dirs published before the manifest swap crashed. A
    seg_<e> dir with e ABOVE the marker is NOT garbage — it is a
    published epoch awaiting the replay repair (`_segment_replay_applied`
    re-lists it) — and stays. Glob-mode stores have no manifest and no
    orphans (their only compaction is the whole-dir swap)."""
    segs_dir = f"{root}/segs"
    manifest = _manifest_segments(spark, segs_dir)
    if manifest is None:
        return
    fs, P = _hadoop_fs(spark, segs_dir)
    d = P(segs_dir)
    if not fs.exists(d):
        return
    mark = _compacted_through(spark, root)
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or name in manifest:
            continue
        ep = _seg_epoch(name)
        if name.startswith("seg_m") or (0 <= ep <= mark):
            fs.delete(st.getPath(), True)


def _compact_segment_store(
    spark: SparkSession, root: str, write_merged, tiered: bool = False
) -> int:
    """The shared compaction protocol. Two modes:

    ALL-MERGE (default; the only mode for glob stores): every live
    segment merges into one seg_base, fully materialized at a scratch
    dir by `write_merged(tmp, names, "seg_base")` together with a fresh
    one-line manifest, then the WHOLE `segs/` dir swaps via the
    two-rename install — readers see the old set or the compacted one,
    never a mixture, and a glob-mode store is UPGRADED to manifest mode
    by the swap.

    TIERED (manifest stores; what the maintainers' auto-trigger uses):
    the size-tiered merge policy — segments holding more than half the
    store's bytes are EXCLUDED (the giant seg_base is never rewritten to
    absorb a day of epochs), the rest merge into one seg_m<maxepoch>
    published INVISIBLY (not yet in the manifest), revealed and retired
    in ONE atomic manifest swap, constituents deleted after. Amortized
    per-epoch compaction cost is O(delta · tiers), not the all-merge's
    O(index/trigger-interval); when the merged tier grows comparable to
    the base, the >half rule stops excluding it and the policy
    escalates to a natural full merge.

    Crash safety in both modes: recover a parked `segs/` first (ADVICE
    r8 #1), GC manifest orphans, and advance the max-compacted-epoch
    marker BEFORE any visible mutation — a crash leaves either the old
    manifest (constituents still listed and live; the invisible merged
    dir is ≤-marker garbage, GC'd next time) or the new one (orphan
    constituents ≤ marker, GC'd next time); replays of merged-away
    epochs skip on the marker either way (ADVICE r8 #3). The reverse
    order would leave merged-away epochs unrecognized — the
    stream-killer.

    Returns the number of segments merged away (0 = nothing to do)."""
    segs_dir = f"{root}/segs"
    _recover_parked(spark, segs_dir)
    fs, P = _hadoop_fs(spark, segs_dir)
    _gc_orphan_segments(spark, root)
    manifest = _manifest_segments(spark, segs_dir)
    names = manifest if manifest is not None else _live_segments(spark, segs_dir)
    if len(names) <= 1:
        return 0
    if tiered and manifest is not None:
        sizes = {n: _path_bytes(spark, f"{segs_dir}/{n}") for n in names}
        total = sum(sizes.values())
        merge_set = sorted(n for n in names if sizes[n] * 2 <= total)
        if len(merge_set) <= 1:
            return 0  # one small segment at most: nothing worth merging
    else:
        merge_set = list(names)
    # union the merge set's exact epoch coverage BEFORE any mutation
    # (the old marker still disambiguates seed-vs-fold seg_base) — the
    # merged segment's `_covers` sidecar is what keeps time-travel reads
    # exact for still-cataloged epochs after this merge (VERDICT r10 #6)
    old_mark = _compacted_through(spark, root)
    exact_cov: list[int] | None = []
    for n in merge_set:
        _, _, eps = _segment_covers(spark, segs_dir, n, old_mark)
        if eps is None:
            exact_cov = None  # legacy constituent: coverage unknowable
            break
        exact_cov.extend(eps)
    new_mark = max(old_mark, _max_seg_epoch(names))
    if new_mark >= 0:
        _write_compaction_marker(spark, root, new_mark)
    tmp = f"{root}/__compacting_segs"
    if fs.exists(P(tmp)):
        fs.delete(P(tmp), True)
    if len(merge_set) == len(names):
        # full merge: whole-dir swap (upgrades glob stores to manifest mode)
        write_merged(tmp, list(names), "seg_base")
        if exact_cov is not None:
            _write_covers(spark, f"{tmp}/seg_base", exact_cov)
        _write_text_sidecar(spark, f"{tmp}/_manifest", "seg_base")
        _install(spark, tmp, segs_dir)
        return len(names) - 1
    # partial merge: publish invisibly, reveal+retire in one manifest swap
    top = max(_seg_epoch(n) for n in merge_set)
    out_name = f"seg_m{top}"
    gen = 1
    while out_name in names:  # never collide with a live segment
        gen += 1
        out_name = f"seg_m{top}_{gen}"
    write_merged(tmp, merge_set, out_name)
    if exact_cov is not None:
        _write_covers(spark, f"{tmp}/{out_name}", exact_cov)
    _rename_or_raise(fs, P(f"{tmp}/{out_name}"), P(f"{segs_dir}/{out_name}"))
    survivors = sorted(set(names) - set(merge_set)) + [out_name]
    _write_manifest(spark, segs_dir, survivors)
    for n in merge_set:
        fs.delete(P(f"{segs_dir}/{n}"), True)
    fs.delete(P(tmp), True)
    return len(merge_set) - 1


_SMALL_SEG_DOCS = 10_000  # ≲ a few MB of postings: one sorted file


def _write_sorted_postings(postings: DataFrame, path: str, n_docs: int) -> None:
    """Write a segment's postings term-sorted. Small deltas (≤
    _SMALL_SEG_DOCS documents — a bound on the DATA, not the core
    count) take `coalesce(1) + sortWithinPartitions`: one globally
    sorted file, same row-group-skipping layout, WITHOUT
    repartitionByRange's boundary-sampling job and shuffle (guide
    §2.4/§2.6 — a per-epoch delta fanned across 32 range partitions
    writes 32 KB-sized files and pays two jobs for it). Large segments
    (seeds, compactions, real production epochs) keep the range
    shuffle, which is what sorts a corpus-sized table at scale."""
    p = postings
    if n_docs <= _SMALL_SEG_DOCS:
        p = p.coalesce(1)
    else:
        p = p.repartitionByRange(F.col("term"))
    (
        p.sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )


def foreach_batch_bm25_maintain_segmented(
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
):
    """foreach_batch_bm25_maintain with O(delta) per-epoch writes — the
    Lucene segment model on parquet: instead of rewriting the whole index
    to keep one globally-sorted postings table, each epoch publishes an
    immutable SEGMENT directory `segs/seg_<epoch>/{postings,doclens,
    idbloom}` holding only the delta (tokenized once, postings term-sorted
    WITHIN the segment so per-segment row-group skipping still holds),
    and the serve path reads the union of segments
    (`read_bm25_index_segmented`). Per-epoch write cost is the delta's
    postings — independent of index size; segment-count growth is
    bounded by `compact_bm25_segments` (the search-engine merge policy),
    auto-triggered every `compact_every` live segments when set.

    Crash model — simpler than the ledger consumers because segments are
    immutable: the segment is fully written at a scratch path, published
    by ONE rename, and made reader-visible by the manifest commit
    (`_manifest_add`; seeds create the manifest, legacy stores without
    one serve by directory glob). A reader never sees a partial segment;
    a crash between publish and manifest commit is repaired by the
    epoch's at-least-once re-delivery (the gate re-lists the complete
    dir instead of re-writing it). THE SEGMENT DIRECTORY IS THE LEDGER:
    `seg_N` existing == epoch N applied — and, post-compaction, the
    max-compacted-epoch marker extends the claim to merged-away
    segments (ADVICE r8 #3), so an at-least-once replay is skipped in
    every lifetime.

    The per-epoch disjointness probe is O(delta) in steady state, not
    O(index): each segment ships an id Bloom bitmap sized to its own
    cardinality, the probe tests the delta against every bitmap in one
    map-side pass — a no-hit verdict PROVES disjointness (no false
    negatives), and a hit (a real duplicate or a ~6e-5/key false
    positive) pays the exact semi-join against ONLY the suspect
    segments, not the union scan that used to run every epoch (VERDICT
    r8 next-round #1). Id reuse across distinct epochs — the failure
    presence-probes cannot see — still raises, through suspect-hit →
    exact-confirm."""
    from ..functions.text import tokens as _tok
    from ..operators.retrieval import bm25_index_build

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = index_dir.rstrip("/")
        if _segment_epoch_applied(spark, root, epoch_id):
            return  # at-least-once replay: live segment or compacted away
        # ONE delta aggregate replaces the separate isEmpty probe, the
        # bloom tier-1 min/max job, the bloom-sizing count, and the
        # `_stats` sidecar's sum(len) — guide §2.4, remove whole jobs
        # (the len term mirrors bm25_index_build's doclens expression
        # exactly, so the sidecar total equals the union aggregate).
        d = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(id_col)).alias("lo"),
            F.max(F.col(id_col)).alias("hi"),
            F.sum(F.size(_tok(F.col(text_col))).cast("bigint")).alias("sl"),
        ).collect()[0]
        n_delta = int(d["n"])
        if n_delta == 0:
            return  # empty epoch: no segment, nothing to publish
        _raise_if_indexed(
            spark,
            root,
            batch_df.select(F.col(id_col).alias("doc_id")),
            "doclens",
            "bm25",
            (d["lo"], d["hi"]),
        )
        p_new, l_new, _ = bm25_index_build(batch_df, id_col, text_col)
        tmp = f"{root}/__seg_epoch{int(epoch_id)}"
        # the bloom runs over the doclens projection (doc_id-only, so
        # column pruning drops the tokenize); sizing stats come from the
        # delta aggregate above (no second stats job)
        _write_bm25_segment(
            spark,
            tmp,
            p_new,
            l_new,
            stats=(n_delta, d["lo"], d["hi"], int(d["sl"] or 0)),
        )
        _publish_segment(
            spark,
            tmp,
            root,
            epoch_id,
            compactor=compact_bm25_segments,
            compact_every=compact_every,
        )

    return _sink


def read_bm25_index_segmented(spark: SparkSession, index_dir: str):
    """(postings, doclens, stats) over the UNION of live segments. The
    glob read plans one scan per segment (plan-level union, no shuffle);
    term probes prune row groups per segment exactly as on the monolithic
    layout. stats is recomputed from the union doclens with
    bm25_index_build's exact integer formula (sum(len) div count), so the
    segmented serve is bit-identical to a monolithic rebuild — which is
    why the segmented consumer's registry row carries the same full-corpus
    oracle.

    Round 12 (VERDICT r11 next #2): when every live segment carries a
    `_stats` sidecar, the 1-row stats come from the DRIVER-side sidecar
    sum (`_bm25_stats_df` — same integer formula on the same totals)
    instead of a per-serve union-aggregate job over all doclens; the
    segment names resolve ONCE (one manifest read feeds both table
    scans and the stats). Legacy stores fall back to the aggregate."""
    root = index_dir.rstrip("/")
    # _store_path: a crash inside a compaction's swap window parks segs/
    # whole at segs__prev — serve from the park rather than raising
    # PATH_NOT_FOUND until manual repair (ADVICE r8 #1)
    segs = _store_path(spark, f"{root}/segs")
    names = _live_segments(spark, segs) or None
    postings = _read_segment_table(spark, segs, "postings", names)
    doclens = _read_segment_table(spark, segs, "doclens", names)
    return postings, doclens, _bm25_stats_for(spark, segs, names, doclens)


def _bm25_stats_for(
    spark: SparkSession,
    segs_dir: str,
    names: list[str] | None,
    doclens: DataFrame,
) -> DataFrame:
    """The serve-side 1-row (n_docs, avgl): sidecar totals when every
    named segment has a `_stats` file and the prefix is non-empty
    (driver-side, no job), else bm25_index_build's exact aggregate over
    the union doclens (legacy stores; empty segment sets, whose
    aggregate yields the typed n_docs=0/avgl NULL row)."""
    if names:
        tot = _read_bm25_seg_stats(spark, segs_dir, names)
        if tot is not None and tot[0] > 0:
            return _bm25_stats_df(spark, tot[0], tot[1])
    return doclens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.expr("sum(len) div count(1)").cast("bigint").alias("avgl"),
    )


def read_bm25_index_segmented_at(spark: SparkSession, index_dir: str, epoch: int):
    """read_bm25_index_segmented AS OF a past epoch (VERDICT r10 next
    #6): the `_manifest` catalog + per-segment epoch coverage resolve the
    exact segment set covering epochs <= `epoch` (segments are immutable
    and epoch-stamped, so the capability is a catalog filter — no data is
    copied or rewritten), and the 1-row stats recompute over the PREFIX
    doclens with the build's exact integer formula. Serve is therefore
    bit-equal to a batch bm25_index_build over the corpus as of `epoch`,
    while later epochs stay live in the store (the full read still sees
    them). Epochs folded away by compaction raise (`_segments_as_of`);
    still-cataloged epochs stay exact after tiered merges via the merged
    segment's `_covers` sidecar. The reproducible-training-snapshot read
    an LLM-data pipeline audits against."""
    root = index_dir.rstrip("/")
    segs = _store_path(spark, f"{root}/segs")
    names = _segments_as_of(spark, root, epoch)
    postings = _read_segment_table(spark, segs, "postings", names)
    doclens = _read_segment_table(spark, segs, "doclens", names)
    # prefix stats from the named segments' `_stats` sidecars when
    # available (round 12) — the union-aggregate recompute was the bulk
    # of this serve's per-execution job count
    return postings, doclens, _bm25_stats_for(spark, segs, names, doclens)


def read_ivf_pq_index_segmented_at(
    spark: SparkSession, index_dir: str, epoch: int
) -> dict[str, DataFrame]:
    """read_ivf_pq_index_segmented AS OF a past epoch — the catalog walk
    of read_bm25_index_segmented_at over the lists/codes segment tables.
    centroids and codebook stay the FROZEN root tables: appends never
    move them, so every historical epoch was coded by exactly these
    quantizers and the as-of serve ranks identically to the index as it
    stood then. A RETRAIN swaps the whole index root and re-codes the
    corpus under new quantizers — that store is a new history by
    construction, so time travel across a retrain is out of scope (read
    the retired root if it was archived)."""
    root = _store_path(spark, index_dir.rstrip("/"))
    segs = _store_path(spark, f"{root}/segs")
    names = _segments_as_of(spark, root, epoch)
    return {
        "centroids": spark.read.parquet(f"{root}/centroids"),
        "codebook": spark.read.parquet(f"{root}/codebook"),
        "lists": _read_segment_table(spark, segs, "lists", names),
        "codes": _read_segment_table(spark, segs, "codes", names),
    }


def read_join_view_segments_at(
    spark: SparkSession, view_dir: str, epoch: int
) -> DataFrame:
    """The maintained join view AS OF a past epoch: the insert-only view
    is a union of immutable epoch segments, so the as-of serve is the
    catalog-filtered union — bit-equal to re-running the delta joins for
    epochs <= `epoch` only, with later epochs still live in the store.
    Folded-away epochs raise; still-cataloged epochs survive tiered
    compaction exactly (`_covers`)."""
    root = view_dir.rstrip("/")
    segs = _store_path(spark, f"{root}/segs")
    names = _segments_as_of(spark, root, epoch)
    return _read_segment_table(spark, segs, None, names)


def _read_segment_table(
    spark: SparkSession, segs_dir: str, table: str | None, names: list[str] | None = None
) -> DataFrame:
    """One scan over a per-segment table across the live segments: the
    manifest-listed set when the store has one (orphans excluded — the
    no-double-count contract), the directory glob otherwise. `table` is
    the subdir inside each segment (None for flat segment dirs); `names`
    narrows to a subset (compaction's merge set, an as-of read's catalog
    walk). An empty `names` — an as-of read before anything existed —
    yields the table's typed empty frame."""
    if names == []:
        return _read_segment_table(spark, segs_dir, table).limit(0)
    if names is None:
        names = _manifest_segments(spark, segs_dir)
    sub = f"/{table}" if table else ""
    if names is None:
        return spark.read.parquet(f"{segs_dir}/*{sub}")
    return spark.read.parquet(*[f"{segs_dir}/{n}{sub}" for n in names])


def _write_bm25_segment(
    spark: SparkSession,
    seg_dir: str,
    postings: DataFrame,
    doclens: DataFrame,
    stats: tuple[int, object, object, int] | None = None,
) -> DataFrame:
    """The one BM25 segment writer (seed, per-epoch publish, compaction):
    doclens, then the id bloom, the `_stats` sidecar and the term-sorted
    postings. Doclens go first because one aggregate over them — `stats`
    = (n_docs, id_min, id_max, sum_len) — sizes the bloom, fills `_stats`
    AND picks the postings layout (`_write_sorted_postings`: a small
    segment is one sorted file, not shuffle-partition-count KB-sized
    files that every serve scans one task each).
    Without `stats` the aggregate and the bloom run over the written
    doclens read back; a caller that already aggregated its delta passes
    `stats`. Returns the doclens the bloom was built from."""
    doclens.write.mode("overwrite").parquet(f"{seg_dir}/doclens")
    if stats is None:
        doclens = spark.read.parquet(f"{seg_dir}/doclens")
        row = doclens.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.sum("len").alias("sl"),
        ).collect()[0]
        stats = (int(row["n"]), row["lo"], row["hi"], int(row["sl"] or 0))
    n_docs = int(stats[0])
    _write_segment_bloom(doclens, "doc_id", seg_dir, stats=stats[:3])
    _write_bm25_seg_stats(spark, seg_dir, n_docs, stats[3])
    _write_sorted_postings(postings, f"{seg_dir}/postings", n_docs)
    return doclens


def _seed_segment_catalog(
    spark: SparkSession, segs_dir: str, ids: DataFrame, id_col: str
) -> None:
    """A seed's epilogue once `seg_base` is written: its `_covers` [-1]
    (the pre-stream epoch), a one-line manifest, and the store-wide
    summary bloom over `ids`."""
    _write_covers(spark, f"{segs_dir}/seg_base", [-1])
    _write_manifest(spark, segs_dir, ["seg_base"])
    _write_segment_summary(spark, segs_dir, ids, id_col, ["seg_base"])


def seed_bm25_index_segmented(docs: DataFrame, index_dir: str) -> None:
    """Batch-side backfill: the standing corpus becomes segment
    `seg_base` (how a deployment seeds before attaching the stream),
    carrying its id bitmap like every streamed segment, under a fresh
    one-line manifest."""
    from ..operators.retrieval import bm25_index_build

    spark = docs.sparkSession
    segs = f"{index_dir.rstrip('/')}/segs"
    p, l, _ = bm25_index_build(docs)
    l_back = _write_bm25_segment(spark, f"{segs}/seg_base", p, l)
    _seed_segment_catalog(spark, segs, l_back, "doc_id")


def compact_bm25_segments(
    spark: SparkSession, index_dir: str, tiered: bool = False
) -> int:
    """BM25 segment compaction under `_compact_segment_store`'s
    crash-safe protocol (all-merge by default; `tiered=True` applies the
    size-tiered policy that never rewrites the giant base). The merged
    segment keeps the globally-sorted postings layout and rebuilds its
    id bitmap from the merged doclens — which also UPGRADES legacy
    bitmap-less stores. Serve results are bit-identical before and after
    (postings rows are a set union; stats recompute from the same
    doclens). Returns the number of segments merged away."""
    root = index_dir.rstrip("/")
    segs = f"{root}/segs"

    def write_merged(tmp: str, names: list[str], out_name: str) -> None:
        # the merged segment's `_stats` is the exact sum of its
        # constituents' doclens — serve stats stay sidecar-resolved
        # across compactions
        _write_bm25_segment(
            spark,
            f"{tmp}/{out_name}",
            _read_segment_table(spark, segs, "postings", names),
            _read_segment_table(spark, segs, "doclens", names),
        )

    merged = _compact_segment_store(spark, root, write_merged, tiered=tiered)
    # refresh the store-wide coarse filter over the live set (VERDICT r9
    # #5) — merging or not, the compaction trigger is the refresh cadence
    _refresh_segment_summary(spark, segs, "doclens", "doc_id")
    return merged


def foreach_batch_upsert_bucketed(
    target_path: str, keys: list[str], n_buckets: int = 64
):
    """foreach_batch_upsert with the same bounded-rewrite treatment as
    the bucketed CDC consumer: the upsert target is hash-bucketed by key
    (`write_bucketed_store`), each epoch anti-join+unions ONLY the
    buckets its batch touches, and rewrites only those — per-epoch I/O
    is O(touched buckets), not O(|target|). Slice-wise equals whole
    because the upsert is strictly per-key.

    No ledger (same reasoning as the plain upsert: a keyed delete+insert
    of an already-absorbed batch rewrites the same rows — replay cannot
    move the store), but parked buckets from a crashed install ARE
    recovered before each epoch, and a brand-new bucket (first key
    hashing into it) installs cleanly. Seeding: write the initial state
    with `write_bucketed_store(df, target, keys, n_buckets)` — unlike
    the plain sink there is no read-error path to misclassify, so a
    missing target is an error here (seed explicitly), not first-epoch."""
    from ..operators.relational import upsert_dataframe

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _recover_buckets(spark, target_path)
        batch = batch_df.dropDuplicates(keys)
        touched = _touched_buckets(batch, keys, n_buckets)
        if not touched:
            return
        target_slice = _read_touched_buckets(spark, target_path, touched)
        merged = upsert_dataframe(target_slice, batch, keys)
        tmp = target_path.rstrip("/") + f"__upb_epoch{epoch_id}"
        _write_buckets(merged, tmp, keys, n_buckets)
        _catch_up_install(spark, tmp, target_path, touched)

    return _sink


def _write_ivf_segment(
    spark: SparkSession,
    seg_dir: str,
    lists: DataFrame,
    codes: DataFrame,
    stats: tuple[int, object, object] | None = None,
) -> None:
    """The one IVF-PQ segment writer (seed, per-epoch publish, compaction,
    retrain): lists, codes, then the id bloom over the written lists'
    vec_id column. `stats` = (n, id_min, id_max) from a caller that
    already aggregated its delta sizes the bloom without its own stats
    job (lists rows == batch rows)."""
    lists.write.mode("overwrite").parquet(f"{seg_dir}/lists")
    codes.write.mode("overwrite").parquet(f"{seg_dir}/codes")
    _write_segment_bloom(
        spark.read.parquet(f"{seg_dir}/lists"), "vec_id", seg_dir, stats=stats
    )


def seed_ivf_pq_index_segmented(
    emb: DataFrame,
    index_dir: str,
    n_probe: int = 4,
    km_k: int = 32,
    km_iter: int = 2,
    m_subspaces: int = 8,
    k_centroids: int = 16,
    pq_iter: int = 2,
    dim: int = 64,
) -> None:
    """Batch-side backfill for the segmented IVF-PQ store: train on the
    standing corpus (operators/clustering.ivf_pq_index_build), persist the
    FROZEN quantizer tables (centroids, codebook) at the index root and
    the per-vector tables (lists, codes) as segment `seg_base`."""
    from ..operators.clustering import ivf_pq_index_build

    root = index_dir.rstrip("/")
    idx = ivf_pq_index_build(
        emb,
        n_probe=n_probe,
        km_k=km_k,
        km_iter=km_iter,
        m_subspaces=m_subspaces,
        k_centroids=k_centroids,
        pq_iter=pq_iter,
        dim=dim,
    )
    spark = emb.sparkSession
    idx["centroids"].write.mode("overwrite").parquet(f"{root}/centroids")
    idx["codebook"].write.mode("overwrite").parquet(f"{root}/codebook")
    _write_ivf_segment(spark, f"{root}/segs/seg_base", idx["lists"], idx["codes"])
    _seed_segment_catalog(
        spark,
        f"{root}/segs",
        spark.read.parquet(f"{root}/segs/seg_base/lists"),
        "vec_id",
    )


def read_ivf_pq_index_segmented(
    spark: SparkSession, index_dir: str
) -> dict[str, DataFrame]:
    """The four index tables over the union of live segments: centroids
    and codebook are the FROZEN root tables (appends never move them);
    lists and codes union across segments (plan-level union per scan, no
    shuffle). ivf_pq_index_search serves this dict exactly like a
    monolithic index — probes rank against the same frozen centroids the
    appends routed by, so appended vectors are reachable by
    construction."""
    # outer _store_path: a crash inside ivf_pq_index_retrain's whole-root
    # swap parks the ENTIRE index at root__prev; inner: a crash inside a
    # compaction's segs/ swap parks just the segment dir (ADVICE r8 #1)
    root = _store_path(spark, index_dir.rstrip("/"))
    segs = _store_path(spark, f"{root}/segs")
    return {
        "centroids": spark.read.parquet(f"{root}/centroids"),
        "codebook": spark.read.parquet(f"{root}/codebook"),
        "lists": _read_segment_table(spark, segs, "lists"),
        "codes": _read_segment_table(spark, segs, "codes"),
    }


def foreach_batch_ivf_pq_maintain_segmented(
    index_dir: str,
    m_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """foreachBatch sink: a persisted IVF-PQ index that TRACKS a vector
    stream — the sixth stored-artifact consumer, composing the
    frozen-quantizer append seam (operators/clustering.
    ivf_pq_index_append: route new vectors by the training argmin against
    the FROZEN centroid table, encode against the FROZEN codebook — two
    broadcast scans of the delta only) with the segment publish protocol
    of foreach_batch_bm25_maintain_segmented: each epoch's (lists, codes)
    delta lands as one immutable segment dir installed by a single
    rename; the segment directory IS the ledger (presence == epoch
    applied); the quantizer tables never move, so there is nothing to
    swap atomically WITH — per-epoch write cost is exactly the delta's 8
    bytes/vector of codes plus its list assignments, at ANY index size.

    Frozen-quantizer caveat (same as the batch append): appended vectors
    are reachable exactly (search probes rank against the same stored
    centroids), but probe recall drifts as the data distribution moves —
    the standard cadence-retrain contract, stated not hidden."""
    from ..operators.clustering import ivf_pq_index_append

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = index_dir.rstrip("/")
        _recover_parked(spark, root)  # retrain's whole-root swap park
        if _segment_epoch_applied(spark, root, epoch_id):
            return  # replay: live segment or compacted away
        # ONE delta aggregate replaces the separate isEmpty probe, the
        # bloom tier-1 min/max job, and the bloom-sizing count (guide
        # §2.4); the quantizer tables are read lazily below only when
        # the epoch actually publishes, and the per-segment lists union
        # is NOT materialized here at all (only the legacy dup path
        # needs it).
        d = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.col(id_col)).alias("lo"),
            F.max(F.col(id_col)).alias("hi"),
        ).collect()[0]
        n_delta = int(d["n"])
        if n_delta == 0:
            return
        _raise_if_indexed(
            spark,
            root,
            batch_df.select(F.col(id_col).alias("vec_id")),
            "lists",
            "ivf-pq",
            (d["lo"], d["hi"]),
        )
        # frozen quantizer tables only — the full 4-table segmented read
        # built two more per-epoch DataFrames (lists/codes unions with
        # their footer jobs) this sink never used
        idx_root = _store_path(spark, root)
        delta = ivf_pq_index_append(
            spark.read.parquet(f"{idx_root}/centroids"),
            spark.read.parquet(f"{idx_root}/codebook"),
            batch_df,
            m_subspaces=m_subspaces,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        )
        tmp = f"{root}/__ivfseg_epoch{int(epoch_id)}"
        _write_ivf_segment(
            spark,
            tmp,
            delta["lists"],
            delta["codes"],
            stats=(n_delta, d["lo"], d["hi"]),
        )
        _publish_segment(
            spark,
            tmp,
            root,
            epoch_id,
            compactor=compact_ivf_pq_segments,
            compact_every=compact_every,
        )

    return _sink


def compact_ivf_pq_segments(
    spark: SparkSession, index_dir: str, tiered: bool = False
) -> int:
    """Segment compaction for the IVF-PQ store (VERDICT r8 next-round #2
    — `compact_bm25_segments` generalized): merge the live segments'
    (lists, codes) with the id bitmap rebuilt from the merged lists,
    under the shared marker-then-manifest protocol (all-merge or
    size-tiered). The frozen quantizer tables at the index root never
    move — compaction touches only the per-vector tables, and serve is
    bit-identical before/after (lists/codes rows are a set union; probes
    rank against the same centroids)."""
    root = index_dir.rstrip("/")
    segs = f"{root}/segs"

    def write_merged(tmp: str, names: list[str], out_name: str) -> None:
        _write_ivf_segment(
            spark,
            f"{tmp}/{out_name}",
            _read_segment_table(spark, segs, "lists", names),
            _read_segment_table(spark, segs, "codes", names),
        )

    merged = _compact_segment_store(spark, root, write_merged, tiered=tiered)
    _refresh_segment_summary(spark, segs, "lists", "vec_id")
    return merged


def ivf_pq_index_retrain(
    spark: SparkSession,
    index_dir: str,
    vectors: DataFrame,
    n_probe: int = 4,
    km_k: int = 32,
    km_iter: int = 2,
    m_subspaces: int = 8,
    k_centroids: int = 16,
    pq_iter: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The cadence-retrain contract the frozen-quantizer append family
    states, now implemented (VERDICT r8 next-round #3): retrain the
    coarse centroids and PQ codebook on the index's CURRENT corpus —
    the union of live segments' memberships, resolved against `vectors`
    (the raw vector-store table every IVF-PQ deployment keeps next to
    the index; PQ codes are lossy, so raw vectors cannot come from the
    index itself) — re-encode everything, and install the WHOLE index
    root (quantizer tables + segs/seg_base with its id bitmap) in one
    two-rename swap. Readers see the frozen-quantizer index or the
    retrained one, never a mixture: a crash inside the root swap parks
    the complete old index at `root__prev`, which
    `read_ivf_pq_index_segmented` resolves and the next maintain epoch
    or retrain restores.

    The compaction marker carries forward max(old marker, max live
    segment epoch) INSIDE the swapped root, so at-least-once replays of
    pre-retrain epochs stay skipped after their segments are absorbed
    into the retrained seg_base.

    Cost is a rebuild — O(index), the point of retraining on a CADENCE
    while the O(delta) frozen-quantizer appends absorb every epoch in
    between; what the retrain buys back is probe recall on a drifted
    distribution (measured in the ivf_pq_index_retrain registry row:
    frozen vs retrained recall under the same exact brute-force
    baseline)."""
    from ..operators.clustering import ivf_pq_index_build

    root = index_dir.rstrip("/")
    _recover_parked(spark, root)
    _recover_parked(spark, f"{root}/segs")
    new_mark = max(
        _compacted_through(spark, root),
        _max_seg_epoch(_live_segments(spark, f"{root}/segs")),
    )
    member = (
        read_ivf_pq_index_segmented(spark, index_dir)["lists"]
        .select(F.col("vec_id").alias(id_col))
        .distinct()
    )
    corpus = vectors.join(member, id_col, "left_semi")
    caches: list = []
    idx = ivf_pq_index_build(
        corpus,
        n_probe=n_probe,
        km_k=km_k,
        km_iter=km_iter,
        m_subspaces=m_subspaces,
        k_centroids=k_centroids,
        pq_iter=pq_iter,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        unpersist_with=caches,
    )
    tmp = root + "__retrain"
    # every table (and the carried-forward marker) materializes at the
    # scratch root while the live index is still intact, then ONE
    # install swaps the whole root
    idx["centroids"].write.mode("overwrite").parquet(f"{tmp}/centroids")
    idx["codebook"].write.mode("overwrite").parquet(f"{tmp}/codebook")
    _write_ivf_segment(spark, f"{tmp}/segs/seg_base", idx["lists"], idx["codes"])
    _write_text_sidecar(spark, f"{tmp}/segs/_manifest", "seg_base")
    _write_segment_summary(
        spark,
        f"{tmp}/segs",
        spark.read.parquet(f"{tmp}/segs/seg_base/lists"),
        "vec_id",
        ["seg_base"],
    )
    if new_mark >= 0:
        _write_text_sidecar(spark, f"{tmp}/compaction_marker", str(int(new_mark)))
    for c in caches:
        c.unpersist()
    _install(spark, tmp, root)


def foreach_batch_join_view_maintain(
    view_dir: str,
    dim_path: str,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    compact_every: int | None = None,
):
    """foreachBatch sink: maintain a MATERIALIZED JOIN VIEW from a fact
    stream — the seventh stored-artifact consumer, and the join analog of
    incremental_agg_merge's partial-aggregate rule: for an insert-only
    fact stream, V' = V ∪ (ΔA ⋈ B), so each epoch joins ONLY its delta
    against the dimension (broadcast here; bucket-pruned at scale) and
    publishes the result as one immutable segment — per-epoch cost is
    O(|delta| · join fanout), never a view rescan. Segment protocol as
    the BM25/IVF-PQ maintainers: single-rename publish, the segment dir
    IS the ledger (presence == epoch applied), readers union segments
    (`read_join_view_segments`). Dimension updates are out of scope for
    this sink by design — a changing B is the CDC consumer's job
    (foreach_batch_cdc_scd2*), composed upstream; this sink assumes the
    dimension read per epoch is the epoch's effective version."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = view_dir.rstrip("/")
        if _segment_epoch_applied(spark, root, epoch_id):
            return  # replay: live segment or compacted away
        if batch_df.isEmpty():
            return
        dim = spark.read.parquet(dim_path).select(dim_key, *dim_cols)
        # drop by COLUMN reference, not name: when fact_key == dim_key a
        # name-drop would remove both sides' key
        delta_view = batch_df.join(
            F.broadcast(dim), batch_df[fact_key] == dim[dim_key]
        ).drop(dim[dim_key])
        tmp = f"{root}/__jv_epoch{int(epoch_id)}"
        delta_view.write.mode("overwrite").parquet(tmp)
        _publish_segment(
            spark,
            tmp,
            root,
            epoch_id,
            compactor=compact_join_view_segments,
            compact_every=compact_every,
        )

    return _sink


def foreach_batch_join_view_scd2_maintain(
    view_dir: str,
    dim_path: str,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    event_time_col: str,
    compact_every: int | None = None,
):
    """Materialized join-view maintenance against a CHANGING dimension —
    the composition VERDICT r8 next-round #4 asked for, and the full
    streaming denormalization story: the dimension is an SCD2 history
    store maintained upstream by the CDC consumer
    (foreach_batch_cdc_scd2*), and each fact epoch joins its delta
    AS-OF the fact's OWN event time — `dim.valid_from <= t AND
    (dim.valid_to IS NULL OR t < dim.valid_to)` — so every joined row
    carries the dimension attributes that were effective when the fact
    HAPPENED, not when it was processed. Output adds `dim_valid_from`,
    the joined version's open timestamp, making the attribution
    auditable row by row.

    Correctness under interleaving rests on the standard CDC-pipeline
    ordering contract: a dimension version effective at time T is
    applied to the store before facts with event_time >= T stream in
    (dim-before-fact). Under it, maintain == recompute: re-running the
    as-of join of ALL facts against the FINAL dimension history yields
    the same rows, because closing a version at T never changes which
    version covers an event time < T — SCD2 updates are append-only in
    version space. That identity is this sink's registry oracle
    (streaming_join_view_scd2_maintain).

    Segment protocol identical to foreach_batch_join_view_maintain:
    single-rename publish, presence + compaction marker as the ledger,
    optional auto-compaction. The dimension read resolves through
    `_store_path` — the SCD2 store swaps WHOLE per epoch, so a CDC
    consumer crash inside its swap window parks it at `__prev` and this
    sink must keep serving from the park (unlike the bucketed store's
    direct read, which never parks its root)."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = view_dir.rstrip("/")
        if _segment_epoch_applied(spark, root, epoch_id):
            return  # replay: live segment or compacted away
        if batch_df.isEmpty():
            return
        dim = spark.read.parquet(_store_path(spark, dim_path)).select(
            dim_key, *dim_cols, "valid_from", "valid_to"
        )
        t = batch_df[event_time_col].cast("timestamp")
        cond = (
            (batch_df[fact_key] == dim[dim_key])
            & (dim["valid_from"] <= t)
            & (dim["valid_to"].isNull() | (t < dim["valid_to"]))
        )
        delta_view = (
            batch_df.join(F.broadcast(dim), cond)
            .drop(dim[dim_key])
            .withColumnRenamed("valid_from", "dim_valid_from")
            .drop("valid_to")
        )
        tmp = f"{root}/__jv2_epoch{int(epoch_id)}"
        delta_view.write.mode("overwrite").parquet(tmp)
        _publish_segment(
            spark,
            tmp,
            root,
            epoch_id,
            compactor=compact_join_view_segments,
            compact_every=compact_every,
        )

    return _sink


def read_join_view_segments(spark: SparkSession, view_dir: str) -> DataFrame:
    """The maintained join view over the union of live segments (the
    manifest-listed set when one exists; reads through `_store_path` so
    a compaction-crash park still serves)."""
    segs = _store_path(spark, f"{view_dir.rstrip('/')}/segs")
    return _read_segment_table(spark, segs, None)


def compact_join_view_segments(
    spark: SparkSession, view_dir: str, tiered: bool = False
) -> int:
    """Segment compaction for the materialized join view (VERDICT r8
    next-round #2): live segments merge under the shared marker-then-
    manifest protocol (all-merge or size-tiered). The view has no id
    tables — its replay gate is the marker + segment presence alone — so
    the merged segment is a plain union rewrite; serve is row-identical
    before and after."""
    root = view_dir.rstrip("/")
    segs = f"{root}/segs"

    def write_merged(tmp: str, names: list[str], out_name: str) -> None:
        _read_segment_table(spark, segs, None, names).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/{out_name}")

    return _compact_segment_store(spark, root, write_merged, tiered=tiered)


def foreach_batch_dedup_gate(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
):
    """foreachBatch sink: EXACTLY-ONCE streaming exact-dedup — the
    eleventh stored-artifact consumer, the gate a production ingestion
    pipeline puts in front of its training corpus: each epoch's
    documents are fingerprinted (functions/text.fingerprint — md5 of the
    normalized text), deduped within the batch (min-id survivor per
    fingerprint, the dedup_survivor discipline), anti-joined against the
    PERSISTED fingerprint membership store (hash-bucketed by
    fingerprint; the anti-join reads only the batch's touched buckets),
    and the accepted rows are published as one immutable corpus segment
    `accepted/seg_<epoch>` by a single rename. The union of segments IS
    the deduped corpus: each content fingerprint appears exactly once,
    held by the smallest id of its earliest epoch.

    Crash protocol — publish-then-fold, both halves replay-safe with NO
    ledger:

      (1) decide: if the epoch's segment is absent, compute the accepted
          set against the store and publish it atomically (presence ==
          epoch decided). A replay never recomputes a published segment —
          recomputing against a store the crashed run already
          half-folded would re-drop the epoch's own rows (data loss);
          the published segment is the decision of record.
      (2) fold: merge the SEGMENT's (fp, holder-id) rows into the
          bucketed store — union + min-id per fingerprint, a per-key
          IDEMPOTENT merge, so the CDC/upsert catch-up recovery argument
          applies verbatim (re-folding converges; parked buckets are
          restored by _recover_buckets). Runs on every delivery,
          including replays, which is what makes a crash between (1)
          and (2) safe.

    Epochs are serial per checkpoint, so epoch N's fold completes before
    epoch N+1's anti-join consults the store. Scale: per epoch the store
    I/O is O(touched buckets); the corpus append is O(accepted rows);
    nothing rescans history."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = store_dir.rstrip("/")
        fp_store = f"{root}/fps"
        _recover_buckets(spark, fp_store)
        # a crash inside a corpus compaction's swap window parks
        # accepted/ whole; restore BEFORE probing or publishing
        # (publishing into a fresh accepted/ would fork the corpus)
        _recover_parked(spark, f"{root}/accepted")
        fs, P = _hadoop_fs(spark, root)
        seg = f"{root}/accepted/seg_{int(epoch_id)}"
        empty_fps = spark.range(0).select(
            F.lit("").alias("fp"),
            F.lit(0).cast("bigint").alias("holder"),
        )

        touched_acc: list[int] | None = None
        if not fs.exists(P(seg)):
            w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
            # persisted: the candidate set feeds the touched-bucket
            # collect, the anti-join, and the accepted-bucket collect —
            # unpersisted it would re-run the fingerprint window shuffle
            # for each (round 12; unpersisted in the finally below)
            cand = (
                batch_df.withColumn("__fp", fingerprint(F.col(text_col)))
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            ).persist()
            try:
                # ONE collect doubles as the empty-epoch probe (the
                # separate isEmpty job is gone): no candidate buckets
                # means an empty batch — no segment, nothing to publish
                touched = _touched_buckets(cand, ["__fp"], n_buckets)
                if not touched:
                    return
                known = _read_touched_buckets(
                    spark, fp_store, touched, empty_fps
                ).select(F.col("fp").alias("__fp"))
                accepted = cand.join(F.broadcast(known), "__fp", "left_anti")
                tmp = f"{root}/__gate_epoch{int(epoch_id)}"
                accepted.write.mode("overwrite").parquet(tmp)
                # the fold's touched set: the CANDIDATE buckets — a
                # superset of accepted's buckets (accepted ⊆ cand), and
                # the fold is an idempotent min-merge, so a bucket with
                # no accepted rows is rewritten with identical content.
                # Using the superset drops a whole per-epoch job (the
                # accepted-bucket collect re-ran the store read +
                # broadcast + anti-join); the replay path still derives
                # the exact set from the published segment.
                touched_acc = touched
            finally:
                cand.unpersist()
            # epoch decided
            _publish_segment(spark, tmp, root, epoch_id, sub="accepted")
        # fold (always — replays re-fold idempotently)
        seg_fps = spark.read.parquet(seg).select(
            F.col("__fp").alias("fp"),
            F.col(id_col).cast("bigint").alias("holder"),
        )
        touched = (
            touched_acc
            if touched_acc is not None
            else _touched_buckets(seg_fps, ["fp"], n_buckets)
        )
        if not touched:
            return  # empty accepted set: membership unchanged
        merged = (
            _read_touched_buckets(spark, fp_store, touched, empty_fps)
            .unionByName(seg_fps)
            .groupBy("fp")
            .agg(F.min("holder").cast("bigint").alias("holder"))
        )
        tmp = f"{root}/__fps_epoch{int(epoch_id)}"
        _write_buckets(merged, tmp, ["fp"], n_buckets)
        fs.mkdirs(P(fp_store))  # first fold: the store root may not exist
        _catch_up_install(spark, tmp, fp_store, touched)

    return _sink


def read_dedup_gate_corpus(spark: SparkSession, store_dir: str) -> DataFrame:
    """The deduped corpus the gate has accepted so far: the union of the
    live accepted/ segments (plan-level union, no shuffle; resolves a
    compaction-crash park)."""
    acc = _store_path(spark, store_dir.rstrip("/") + "/accepted")
    return spark.read.parquet(f"{acc}/seg_*")


def read_dedup_gate_corpus_at(
    spark: SparkSession, store_dir: str, epoch: int
) -> DataFrame:
    """The deduped corpus EXACTLY as the gate had accepted it after
    epoch N — the reproducible training-data snapshot (VERDICT r10 next
    #6's stated consumer need: "the LLM-pipeline consumer's core audit"):
    a model trained on the gate's output at epoch N is reproducible for
    as long as the epoch stays cataloged — accepted segments are
    immutable and per-epoch, and `compact_dedup_gate_corpus` folds them
    with an exact `_covers` sidecar, so the as-of read is a catalog walk
    (`_segments_in_range`): exact for every still-cataloged epoch,
    raising the horizon error for epochs folded across the cut.
    O(segment count) metadata + the same plan-level union scan as the
    live read."""
    root = store_dir.rstrip("/")
    acc = _store_path(spark, f"{root}/accepted")
    fs, P = _hadoop_fs(spark, acc)
    if not fs.exists(P(acc)):
        raise ValueError(f"dedup gate store {store_dir!r} has no accepted corpus")
    names = _segments_in_range(
        spark, root, acc, _COVERS_MIN_UNKNOWN - 1, int(epoch)
    )
    if not names:
        return spark.read.parquet(f"{acc}/seg_*").limit(0)
    return _read_segment_table(spark, acc, None, names)


def read_dedup_gate_corpus_diff(
    spark: SparkSession, store_dir: str, from_epoch: int, to_epoch: int
) -> DataFrame:
    """What the gate ACCEPTED between two snapshots — the corpus diff
    `read_at(to) \\ read_at(from)`, served without computing either
    side: accepted segments are immutable and per-epoch, so the diff IS
    the segments covering (from, to] — a catalog walk plus a union scan
    of exactly the between-snapshot segments, nothing else read. A fold
    straddling either boundary raises (horizon). The audit primitive for
    "what new training data entered between data version A and B"."""
    root = store_dir.rstrip("/")
    acc = _store_path(spark, f"{root}/accepted")
    fs, P = _hadoop_fs(spark, acc)
    if not fs.exists(P(acc)):
        raise ValueError(f"dedup gate store {store_dir!r} has no accepted corpus")
    lo, hi = int(from_epoch), int(to_epoch)
    if hi < lo:
        raise ValueError(f"diff range is backwards: ({lo}, {hi}]")
    names = _segments_in_range(spark, root, acc, lo, hi)
    if not names:
        return spark.read.parquet(f"{acc}/seg_*").limit(0)
    return _read_segment_table(spark, acc, None, names)


def compact_dedup_gate_corpus(spark: SparkSession, store_dir: str) -> int:
    """Bound the gate corpus's segment count: fold every live accepted
    segment into one `seg_m<top>` carrying an exact `_covers` sidecar,
    installed by the whole-dir two-rename swap (readers resolve a
    mid-swap park via `_store_path`, so a crash anywhere leaves a
    complete corpus servable). Run from the single maintainer between
    epochs, at the same cadence as the fingerprint-store compaction.

    Replay safety WITHOUT a marker — unlike the index maintainers, a
    folded epoch's at-least-once redelivery is harmless by the gate's
    own algebra: the decide phase recomputes the epoch's accepted set
    against the fingerprint store, every fingerprint is already a
    member, the anti-join drops ALL rows, and the (empty) republished
    segment folds as a no-op — idempotent, no double rows, no loss. The
    corpus AUDIT contract is the catalog: epochs above the fold keep
    exact read_at/diff; epochs inside it raise the horizon error
    (snapshot consumers pin their epoch BEFORE the retention fold, the
    same contract every warehouse time-travel feature ships).

    Returns the number of segments folded away (0 = nothing to do)."""
    root = store_dir.rstrip("/")
    _recover_parked(spark, f"{root}/accepted")
    acc = f"{root}/accepted"
    fs, P = _hadoop_fs(spark, acc)
    if not fs.exists(P(acc)):
        return 0
    names = _live_segments(spark, acc)
    if len(names) <= 1:
        return 0
    covered: list[int] = []
    for n in names:
        _, _, eps = _segment_covers(spark, acc, n, -1)
        covered.extend(eps if eps is not None else [])
    top = max(covered)
    out_name = f"seg_m{top}"
    tmp = f"{root}/__compacting_corpus"
    if fs.exists(P(tmp)):
        fs.delete(P(tmp), True)
    (
        _read_segment_table(spark, acc, None, names)
        .write.mode("overwrite")
        .parquet(f"{tmp}/{out_name}")
    )
    _write_covers(spark, f"{tmp}/{out_name}", covered)
    _install(spark, tmp, acc)
    return len(names) - 1


def foreach_batch_neardup_gate(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    n_bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
    n_buckets: int = 64,
):
    """foreachBatch sink: streaming NEAR-dup gate — the twelfth
    stored-artifact consumer, MinHash-LSH dedup of a document stream
    against everything the pipeline has ever SEEN: each epoch's batch is
    shingled, signed, and banded (operators/dedup's one-hash MinHash
    construction — band keys are a pure function of the document, the
    property that makes a persisted band index joinable without
    recomputing the corpus); candidates come from (a) the batch's band
    keys probed against the stored band index (touched buckets only) and
    (b) the batch's own smaller-id band collisions; every candidate is
    EXACT-Jaccard verified against stored (or in-batch) shingles; a doc
    is dropped iff some SMALLER-id seen document is >= threshold similar
    — the monotone min-id drop rule, corpus-wide (epochs ascend by id),
    which is what gives the gate a batch-replay oracle.

    The decision segment `decided/seg_<epoch>` holds the WHOLE batch
    with an `accepted` flag — dropped docs are indexed too (the monotone
    rule compares against all SEEN docs, not just survivors; a
    kept-only index would silently flip the semantics to order-dependent
    greedy). Publish-then-fold, NO ledger (the dedup-gate protocol):
    the segment publish is the decision of record; the fold re-derives
    bands+shingles FROM the segment (pure functions — deterministic,
    so replay folds converge) into the two bucketed stores
    (`bands/` keyed by (band, key), `sh/` keyed by doc id) with per-key
    idempotent set-union merges and per-bucket parked installs.

    Scale: per epoch the band probe reads O(touched band buckets), the
    verify reads O(candidate corpus docs) shingle rows by bucket, the
    fold rewrites O(touched buckets). Shingles are stored as raw string
    arrays here (exact verification, exact oracle); a 100 TB deployment
    stores the md5-int60 shingle hashes instead — same join shape,
    ~8 bytes per shingle, Jaccard on hashes == Jaccard on shingles up to
    the 60-bit collision bound."""
    from ..operators.dedup import (
        _shingled,
        _signatures_from_shingled,
        minhash_band_keys,
    )

    r = num_hashes // n_bands

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        root = store_dir.rstrip("/")
        bands_store, sh_store = f"{root}/bands", f"{root}/sh"
        _recover_buckets(spark, bands_store)
        _recover_buckets(spark, sh_store)
        fs, P = _hadoop_fs(spark, root)
        seg = f"{root}/decided/seg_{int(epoch_id)}"
        empty_bands = spark.range(0).select(
            F.lit(0).alias("band"),
            F.lit(0).cast("bigint").alias("key"),
            F.lit(0).cast("bigint").alias("corpus_id"),
        )
        empty_sh = spark.range(0).select(
            F.lit(0).cast("bigint").alias("corpus_id"),
            F.array(F.lit("")).alias("sh_b"),
        )

        def bands_and_shingles(docs: DataFrame):
            sh = _shingled(docs, id_col, text_col, n)
            sigs = _signatures_from_shingled(sh, id_col, num_hashes, seed)
            return sh, minhash_band_keys(sigs, id_col, n_bands, r)

        computed = None  # happy-path reuse: decide's bands/shingles ARE
        # the segment's (the segment is the batch + a flag), so the fold
        # below skips re-deriving them; a replay (segment exists, decide
        # skipped) re-derives from the segment — the crash-safe path
        if not fs.exists(P(seg)):
            if batch_df.isEmpty():
                return
            sh_b, bands_b = bands_and_shingles(batch_df)
            sh_b = sh_b.localCheckpoint()  # reused 3x below; tiny per epoch
            bands_b = bands_b.localCheckpoint()
            computed = (sh_b, bands_b)
            touched = _touched_buckets(bands_b, ["band", "key"], n_buckets)
            corp_bands = _read_touched_buckets(
                spark, bands_store, touched, empty_bands
            )
            cross = (
                bands_b.select(F.col(id_col), "band", "key")
                .join(corp_bands, ["band", "key"])
                .select(id_col, "corpus_id")
                .distinct()
            )
            left = bands_b.select(
                F.col(id_col).alias("__big"), "band", "key"
            )
            right = bands_b.select(
                F.col(id_col).alias("__small"), "band", "key"
            )
            within = (
                left.join(right, ["band", "key"])
                .filter(F.col("__small") < F.col("__big"))
                .select(
                    F.col("__big").alias(id_col),
                    F.col("__small").alias("corpus_id"),
                )
                .distinct()
            )
            # exact-Jaccard verify both candidate families
            a = sh_b.select(F.col(id_col), F.col("shingles").alias("sh_a"))
            sh_buckets = _touched_buckets(cross, ["corpus_id"], n_buckets)
            corp_sh = _read_touched_buckets(spark, sh_store, sh_buckets, empty_sh)
            b_within = sh_b.select(
                F.col(id_col).alias("corpus_id"), F.col("shingles").alias("sh_b")
            )
            inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
            jac = (inter / union).alias("jaccard")

            def dropped(c: DataFrame, shs: DataFrame) -> DataFrame:
                return (
                    c.join(a, id_col)
                    .join(shs, "corpus_id")
                    .select(id_col, jac)
                    .filter(F.col("jaccard") >= threshold)
                    .select(id_col)
                )

            bad = dropped(cross, corp_sh).unionByName(
                dropped(within, b_within)
            ).distinct()
            decided = batch_df.join(bad, id_col, "left_anti").select(
                "*", F.lit(True).alias("accepted")
            ).unionByName(
                batch_df.join(bad, id_col, "left_semi").select(
                    "*", F.lit(False).alias("accepted")
                )
            )
            tmp = f"{root}/__gate_epoch{int(epoch_id)}"
            decided.write.mode("overwrite").parquet(tmp)
            # epoch decided
            _publish_segment(spark, tmp, root, epoch_id, sub="decided")
        # fold (always): ALL the segment's docs — accepted AND dropped —
        # join the seen index; bands+shingles re-derived deterministically
        # on replay, reused from the decide phase on the happy path
        if computed is not None:
            sh_s, bands_s = computed
        else:
            seen = spark.read.parquet(seg).drop("accepted")
            sh_s, bands_s = bands_and_shingles(seen)
        band_rows = bands_s.select(
            "band", "key", F.col(id_col).cast("bigint").alias("corpus_id")
        )
        sh_rows = sh_s.select(
            F.col(id_col).cast("bigint").alias("corpus_id"),
            F.col("shingles").alias("sh_b"),
        )
        for store, keys, rows, dedup_keys, empty in (
            (
                bands_store, ["band", "key"], band_rows,
                ["band", "key", "corpus_id"], empty_bands,
            ),
            (sh_store, ["corpus_id"], sh_rows, ["corpus_id"], empty_sh),
        ):
            touched = _touched_buckets(rows, keys, n_buckets)
            if not touched:
                continue
            merged = (
                _read_touched_buckets(spark, store, touched, empty)
                .unionByName(rows)
                .dropDuplicates(dedup_keys)
            )
            tmp = f"{store}__fold_epoch{int(epoch_id)}"
            _write_buckets(merged, tmp, keys, n_buckets)
            fs.mkdirs(P(store))
            _catch_up_install(spark, tmp, store, touched)

    return _sink


def read_neardup_gate_corpus(spark: SparkSession, store_dir: str) -> DataFrame:
    """The near-dedup corpus the gate has accepted so far: union of the
    decision segments, filtered to the accepted flag."""
    root = store_dir.rstrip("/")
    return (
        spark.read.parquet(f"{root}/decided/seg_*")
        .filter(F.col("accepted"))
        .drop("accepted")
    )


# --- weighted relation store: the maintained join RELATION under
# --- retractions (VERDICT r10 next #2)


def seed_weighted_relation_store(
    rel: DataFrame,
    target_path: str,
    bucket_keys: list[str],
    n_buckets: int,
    weight_col: str = "w",
) -> None:
    """Seed a bucketed weighted ROW store with the standing relation
    (row columns..., w = bag multiplicity): rows land under
    `bucket=K/epoch=-1/` — the two-level layout every epoch append and
    the snapshot reader share. -1 is the pre-stream epoch, matching the
    fresh ledger (`_last_applied_epoch` = -1), so a committed-snapshot
    read of the just-seeded store serves exactly the seed.

    A `_schema` sidecar (one zero-row parquet file, underscore-hidden
    like `_ledger`) pins the row schema independently of the data: an
    EMPTY seed writes no partition files at all (Spark emits only
    _SUCCESS for a zero-row partitioned write), and without the sidecar
    a read of the blank store could not even infer its columns."""
    (
        rel.withColumn("bucket", bucket_expr(bucket_keys, n_buckets))
        .withColumn("epoch", F.lit(-1).cast("int"))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "epoch")
        .parquet(target_path)
    )
    (
        rel.limit(0)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target_path.rstrip("/") + "/_schema")
    )
    # `_layout` sidecar makes the store SELF-DESCRIBING for keyed serves:
    # a point-lookup reader recovers (bucket_keys, n_buckets) from the
    # store instead of trusting the caller to repeat the creation config
    # (a mismatched n_buckets would silently probe the wrong bucket dirs)
    (
        rel.sparkSession.range(1)
        .select(
            F.lit(int(n_buckets)).cast("int").alias("n_buckets"),
            F.array(*[F.lit(k) for k in bucket_keys]).alias("bucket_keys"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(target_path.rstrip("/") + "/_layout")
    )


def read_weighted_relation_store(
    spark: SparkSession,
    target_path: str,
    as_of_epoch: int | None = None,
    weight_col: str = "w",
) -> DataFrame:
    """Serve the relation a weighted row store maintains — a COMMITTED
    SNAPSHOT read: epoch subdirs are capped at the store's ledger epoch
    (or at `as_of_epoch` for a time-travel read), weights are netted
    per row across the surviving subdirs, and only positive-net rows
    are served (operators.relational.served_relation). Because each
    epoch's data subdirs install BEFORE its ledger, a reader racing a
    mid-install epoch filters the half-installed subdirs out — it sees
    exactly the previous committed snapshot, never a torn epoch.

    Time travel (`as_of_epoch=N`): serve the store as of epoch N —
    bit-equal to a batch build over epochs <= N — valid for epochs at or
    above the compaction horizon (compaction folds older epoch subdirs
    into one; reads below the horizon raise rather than silently serve
    folded history).

    Plan (100 TB): the epoch cap is a PARTITION filter (epoch is a
    directory level), so a snapshot read prunes uncommitted/future
    subdirs before any file I/O; the net is one hash aggregate keyed on
    the full row, map-side combined."""
    from ..operators.relational import served_relation

    if as_of_epoch is None:
        as_of_epoch = _last_applied_epoch(spark, target_path)
    root = target_path.rstrip("/")
    horizon = _relation_compacted_through(spark, root)
    if as_of_epoch < horizon:
        raise ValueError(
            f"read_at epoch {as_of_epoch} precedes compaction horizon "
            f"{horizon}: those epoch subdirs were folded away"
        )
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(_store_path(spark, target_path)).filter(
            F.col("epoch") <= int(as_of_epoch)
        )
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        # blank store (empty seed, no epochs yet): hidden dirs only —
        # the _schema sidecar supplies the typed empty relation
        store = spark.read.parquet(f"{root}/_schema")
    cols = [c for c in store.columns if c not in ("bucket", "epoch", weight_col)]
    net = (
        store.groupBy(*cols)
        .agg(F.sum(weight_col).cast("bigint").alias(weight_col))
        .filter(F.col(weight_col) != 0)
    )
    return served_relation(net, weight_col)


def read_weighted_relation_store_keyed(
    spark: SparkSession,
    target_path: str,
    keys_df: DataFrame,
    as_of_epoch: int | None = None,
    weight_col: str = "w",
) -> DataFrame:
    """POINT-LOOKUP serve of the maintained relation: the rows for a
    small requested key set (`keys_df` holds the store's bucket-key
    columns), read from ONLY the bucket dirs those keys hash to — the
    100 TB serving shape, where a per-entity query must cost O(touched
    buckets), never O(store). The store is self-describing (the
    `_layout` sidecar carries bucket_keys + n_buckets, so a mismatched
    caller config cannot silently probe the wrong dirs); the requested
    keys' buckets compute with the store's own `bucket_expr` and the
    touched dirs are read by EXPLICIT path (a root read would LIST
    every bucket dir — the measured layout-constant trap,
    SCALE_r10.jsonl). Within the slice the serve is the snapshot read
    verbatim: epoch capped at the committed ledger (or `as_of_epoch`,
    horizon-checked), weights netted, positive rows served, then a
    broadcast left-semi against the requested keys (a bucket holds other
    keys too). Served rows are bit-equal to
    `read_weighted_relation_store(...)` filtered to the keys."""
    from ..operators.relational import served_relation

    root = target_path.rstrip("/")
    layout = spark.read.parquet(_store_path(spark, f"{root}/_layout")).collect()[0]
    n_buckets = int(layout["n_buckets"])
    bucket_keys = list(layout["bucket_keys"])
    if as_of_epoch is None:
        as_of_epoch = _last_applied_epoch(spark, root)
    horizon = _relation_compacted_through(spark, root)
    if as_of_epoch < horizon:
        raise ValueError(
            f"read_at epoch {as_of_epoch} precedes compaction horizon "
            f"{horizon}: those epoch subdirs were folded away"
        )
    wanted = keys_df.select(*bucket_keys).distinct()
    touched = _touched_buckets(wanted, bucket_keys, n_buckets)
    paths = _existing_bucket_dirs(spark, root, touched)
    if not paths:
        # no requested key has ever landed: typed empty relation
        return served_relation(
            spark.read.parquet(f"{root}/_schema"), weight_col
        ).limit(0)
    # basePath keeps partition discovery consistent across the explicit
    # sibling dirs (each bucket=K holds epoch=E subdirs; without a common
    # base Spark raises CONFLICTING_DIRECTORY_STRUCTURES); the listing
    # still touches ONLY the named bucket dirs
    store = (
        spark.read.option("basePath", root)
        .parquet(*paths)
        .filter(F.col("epoch") <= int(as_of_epoch))
        .join(F.broadcast(wanted), bucket_keys, "left_semi")
    )
    cols = [c for c in store.columns if c not in ("bucket", "epoch", weight_col)]
    net = (
        store.groupBy(*cols)
        .agg(F.sum(weight_col).cast("bigint").alias(weight_col))
        .filter(F.col(weight_col) != 0)
    )
    return served_relation(net, weight_col)


def read_weighted_relation_diff(
    spark: SparkSession,
    target_path: str,
    from_epoch: int,
    to_epoch: int,
    weight_col: str = "w",
) -> DataFrame:
    """The NET CHANGELOG of the maintained relation between two
    snapshots — DBSP's output z-set as a first-class read: a row with
    w > 0 entered the served relation (or gained multiplicity) between
    as-of(from) and as-of(to); w < 0 means it left or shrank. The
    identity `merge(read_at(from), diff(from, to)) == read_at(to)`
    holds by construction because the store's epoch subdirs ARE the
    per-epoch net deltas (the maintainer nets within each epoch before
    appending), so the diff is one partition-pruned read of exactly the
    epochs in (from, to] + the same net-weights aggregate the snapshot
    read runs — neither snapshot is computed, standing bucket bytes
    outside the range are never scanned. Downstream consumers chain on
    this: a dependent view applies the diff instead of re-reading the
    relation (the DBSP composition rule). Valid when `from_epoch` is at
    or above the compaction horizon (folded epochs cannot be split);
    the upper bound caps at the committed ledger so a reader racing a
    mid-install epoch never sees a torn delta."""
    root = target_path.rstrip("/")
    lo, hi = int(from_epoch), int(to_epoch)
    if hi < lo:
        raise ValueError(f"diff range is backwards: ({lo}, {hi}]")
    horizon = _relation_compacted_through(spark, root)
    if lo < horizon:
        raise ValueError(
            f"diff from epoch {lo} precedes compaction horizon {horizon}: "
            "those epoch subdirs were folded away"
        )
    hi = min(hi, _last_applied_epoch(spark, root))
    from pyspark.errors import AnalysisException

    try:
        store = spark.read.parquet(_store_path(spark, root)).filter(
            (F.col("epoch") > lo) & (F.col("epoch") <= hi)
        )
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        store = spark.read.parquet(f"{root}/_schema").withColumn(
            "epoch", F.lit(0).cast("int")
        ).limit(0)
    cols = [c for c in store.columns if c not in ("bucket", "epoch", weight_col)]
    return (
        store.groupBy(*cols)
        .agg(F.sum(weight_col).cast("bigint").alias(weight_col))
        .filter(F.col(weight_col) != 0)
    )


def foreach_batch_join_relation_retract_maintain(
    target_path: str,
    dim_path: str,
    fact_key: str,
    dim_key: str,
    dim_cols: list[str],
    bucket_keys: list[str],
    weight_col: str = "w",
    n_buckets: int = 64,
):
    """foreachBatch sink: maintain the join RELATION ITSELF — not an
    aggregate over it — under a weighted fact changelog (VERDICT r10
    next #2, the composition `weighted_join_delta`'s docstring names):
    each epoch's weighted fact batch (w=+1 insert, w=-1 retraction)
    joins against the broadcast dimension into a weighted VIEW changelog
    (ΔA ⋈ B; static B makes the bilinear rule's other terms vanish —
    a changing dimension composes `weighted_join_delta` upstream), is
    netted within the epoch, and APPENDS as `bucket=K/epoch=E/` subdirs
    into the bucketed (row, weight) store. Zero/negative-net rows
    disappear from the SERVED relation (`read_weighted_relation_store`);
    the physical +1/-1 churn across epochs is cancelled by
    `compact_weighted_relation_store`, so store size tracks live rows.

    Per-epoch I/O is O(|delta|) — the standing bucket bytes are never
    read, unlike the rewrite-shaped bucketed maintainers: this is the
    LSM shape (append cheap, compaction amortized), which is what a
    100 TB view with per-row grain needs.

    Crash protocol — the shared park-until-ledger rollback
    (`_park_until_ledger_commit`, ADVICE r9), specialized to appends:
    appends are ADDITIVE (a replayed epoch would double its rows), so
    (1) the epoch's subdirs, new ledger, and an `_inflight` manifest
    (epoch, bucket, existed-pre-epoch) fully materialize at a scratch
    dir; (2) one atomic rename commits the manifest into `__relprev/` —
    the mutation-begins marker, BEFORE any live-dir move; (3) each
    subdir renames into its live bucket; (4) the ledger install is the
    commit point; (5) manifest and scratch are dropped. A crash before
    (4) leaves the manifest ahead of the ledger and
    `_rollback_or_commit_relation` deletes exactly the half-installed
    epoch subdirs (unbirthing buckets born this epoch), so the replay
    applies against the state it expects; a crash after (4) is commit.
    Readers are safe THROUGHOUT: the snapshot read caps at the ledger,
    so half-installed subdirs are partition-pruned until commit.

    Seed with `seed_weighted_relation_store(A_old ⋈ B with w, ...)`."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _rollback_or_commit_relation(spark, target_path)
        if epoch_id <= _last_applied_epoch(spark, target_path):
            return  # replay would double-append the epoch's rows — skip
        # no isEmpty probe: an empty epoch nets to zero bucket dirs in
        # _relation_append's write and is detected there for free
        dim = spark.read.parquet(dim_path).select(dim_key, *dim_cols)
        dv = batch_df.join(
            F.broadcast(dim), batch_df[fact_key] == dim[dim_key]
        ).drop(dim[dim_key])
        cols = [c for c in dv.columns if c != weight_col]
        dv = (
            dv.groupBy(*cols)
            .agg(F.sum(weight_col).cast("bigint").alias(weight_col))
            .filter(F.col(weight_col) != 0)
        )
        _relation_append(
            spark, target_path, dv, bucket_keys, n_buckets, epoch_id
        )

    return _sink


def _relation_append(
    spark: SparkSession,
    target_path: str,
    delta: DataFrame,
    bucket_keys: list[str],
    n_buckets: int,
    epoch_id: int,
) -> None:
    """Install one epoch's netted weighted changelog as
    `bucket=K/epoch=E/` subdirs under the park-until-ledger rollback
    (`_park_until_ledger_commit`) documented on
    `foreach_batch_join_relation_retract_maintain`.
    Caller contract: the ledger gate has passed and
    `_rollback_or_commit_relation` has run (no park roots exist)."""
    root = target_path.rstrip("/")
    tmp = root + f"__rel_epoch{epoch_id}"
    (
        delta.withColumn("bucket", bucket_expr(bucket_keys, n_buckets))
        .withColumn("epoch", F.lit(int(epoch_id)).cast("int"))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "epoch")
        .parquet(tmp)
    )
    fs, P = _hadoop_fs(spark, target_path)
    # touched buckets read off the WRITTEN partition layout (one driver
    # listing) instead of a separate distinct+collect job over the delta
    # (round 12, guide §2.4) — the write itself is the proof of which
    # buckets the epoch touches
    touched = sorted(
        int(st.getPath().getName().split("=", 1)[1])
        for st in fs.listStatus(P(tmp))
        if st.getPath().getName().startswith("bucket=")
    )
    if not touched:
        fs.delete(P(tmp), True)
        return  # empty / fully self-cancelling epoch: state unchanged
    _park_until_ledger_commit(
        spark, target_path, tmp, "__relprev", epoch_id, touched, _relation_move
    )


def _relation_move(fs, P, root: str, tmp: str, epoch_id: int, b: int) -> None:
    """Relation-store bucket move: rename the epoch's `epoch=E` subdir
    into its live bucket (created if the bucket is born this epoch)."""
    live = P(f"{root}/bucket={b}")
    if not fs.exists(live):
        fs.mkdirs(live)  # born this epoch; manifest records unbirth
    _rename_or_raise(
        fs,
        P(f"{tmp}/bucket={b}/epoch={epoch_id}"),
        P(f"{root}/bucket={b}/epoch={epoch_id}"),
    )


def _relation_rewind(fs, P, root: str, epoch: int, b: int) -> None:
    """Relation-store rewind of a bucket that existed pre-epoch: delete
    the epoch's half-installed `epoch=E` subdir."""
    sub = P(f"{root}/bucket={b}/epoch={epoch}")
    if fs.exists(sub):
        fs.delete(sub, True)


def _rollback_or_commit_relation(spark: SparkSession, target_path: str) -> None:
    """Recovery for the epoch-append relation store —
    `_park_until_ledger_recover` over the `__relprev` park root, plus the
    always-rewind branch for a crashed compaction:

      - compaction park root (`__relcprev`): compaction never advances
        the ledger, so a surviving park means its swap never finished
        cleanup — restore every parked bucket over any half-installed
        replacement (netting is content-preserving per bucket, so a
        partially-rewound store still serves the same relation) and
        re-run compaction later;
      - append park root (`__relprev`) without a manifest: nothing moved
        (the manifest rename precedes every subdir move) — drop it;
      - manifest with ledger >= manifest epoch: COMMITTED (crash between
        ledger install and cleanup) — drop leftovers;
      - manifest with ledger < manifest epoch: crash mid-append — delete
        the epoch's half-installed `epoch=E` subdirs; a bucket born this
        epoch is unbirthed. Deletes are idempotent, so the rewind is
        re-entrant.

    After either branch, `__rel_epoch*` / `__relcompact` scratch dirs
    are garbage and are swept."""
    fs, P = _hadoop_fs(spark, target_path)
    root = target_path.rstrip("/")
    cprev = P(root + "__relcprev")
    if fs.exists(cprev):
        for st in fs.listStatus(cprev):
            name = st.getPath().getName()
            live = P(f"{root}/{name}")
            if fs.exists(live):
                fs.delete(live, True)  # half-installed replacement
            _rename_or_raise(fs, st.getPath(), live)
        fs.delete(cprev, True)
    _park_until_ledger_recover(
        spark,
        target_path,
        "__relprev",
        _relation_rewind,
        ("__rel_epoch*", "__relcompact"),
    )


def _relation_compacted_through(spark: SparkSession, root: str) -> int:
    """The relation store's compaction horizon: every epoch subdir
    at/below it was folded into one netted subdir, so time-travel reads
    below it must refuse (the folded store cannot reconstruct them).
    -1 when no compaction has run. The marker lives at `_compacted`
    (underscore-hidden, like `_ledger`, so the root's partition
    discovery never sees it) with its own two-rename install."""
    return _read_compaction_marker(spark, f"{root}/_compacted")


def compact_weighted_relation_store(
    spark: SparkSession, target_path: str, weight_col: str = "w"
) -> None:
    """Cancel the relation store's +1/-1 churn PHYSICALLY: net the
    weights per row within each bucket across all epoch subdirs, drop
    zero-net rows, and swap each bucket's subdir pile for one folded
    `epoch=<ledger>` subdir — store size tracks live rows again no
    matter how much insert/retract churn the changelog carried. Serving
    is unchanged (netting is the read's own first step); what changes
    is the bytes a read scans and the files an epoch's rollback probes.

    Crash protocol: the folded buckets fully materialize at scratch,
    every live bucket parks under `__relcprev/` (never deleted), folded
    buckets rename in (a fully-cancelled bucket simply gets no
    replacement — its park IS the delete, rewindable), the horizon
    marker installs, then parks and scratch drop. Compaction never
    touches the ledger, so `_rollback_or_commit_relation` treats any
    surviving park as mid-flight and always rewinds — sound because
    folding is content-preserving per bucket (a half-rewound store
    serves the same relation) and compaction is idempotent. The marker
    installs BEFORE park cleanup: a post-marker rewind leaves the marker
    conservatively overclaiming (reads below the horizon refuse even
    though the history survived), never underclaiming.

    NOT concurrent-reader-safe (a bucket is briefly absent inside its
    swap window) — run from the single maintainer, between epochs, like
    every bucketed-store compaction here. Time-travel reads at or above
    the horizon stay exact.

    Plan (100 TB): one job — read store, hash-aggregate keyed on
    (bucket, row), write partitioned — then one rename per bucket;
    schedule at the same cadence as segment-store compaction."""
    _rollback_or_commit_relation(spark, target_path)
    root = target_path.rstrip("/")
    fs, P = _hadoop_fs(spark, target_path)
    live_buckets = [
        st.getPath().getName()
        for st in fs.listStatus(P(root))
        if st.getPath().getName().startswith("bucket=")
    ]
    if not live_buckets:
        return  # blank store: nothing to fold, horizon unchanged
    ledger = _last_applied_epoch(spark, target_path)
    store = spark.read.parquet(root)
    cols = [c for c in store.columns if c not in ("bucket", "epoch", weight_col)]
    netted = (
        store.groupBy("bucket", *cols)
        .agg(F.sum(weight_col).cast("bigint").alias(weight_col))
        .filter(F.col(weight_col) != 0)
        .withColumn("epoch", F.lit(int(ledger)).cast("int"))
    )
    tmp = root + "__relcompact"
    (
        netted.repartition(max(1, len(live_buckets)), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket", "epoch")
        .parquet(tmp)
    )
    prev = P(root + "__relcprev")
    fs.mkdirs(prev)
    for name in live_buckets:
        _rename_or_raise(fs, P(f"{root}/{name}"), P(f"{root}__relcprev/{name}"))
        if fs.exists(P(f"{tmp}/{name}")):
            _rename_or_raise(fs, P(f"{tmp}/{name}"), P(f"{root}/{name}"))
        # else: every row in this bucket cancelled — absence IS the state
    mtmp = f"{root}/_compacted_tmp"
    _write_text_sidecar(spark, mtmp, str(int(ledger)))
    _install(spark, mtmp, f"{root}/_compacted")
    fs.delete(prev, True)
    fs.delete(P(tmp), True)
