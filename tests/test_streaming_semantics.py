"""Event-time semantics under multi-batch replay: watermarks must
actually DROP late data, not just bound state. Round 2's ts corruption
made every event-time guarantee untestable; with the reader fixed,
these tests pin the guarantees themselves.

The harness writes parquet files with controlled modification times
into a scratch source dir and drains with maxFilesPerTrigger=1 +
Trigger.AvailableNow, so each file becomes its own micro-batch in
mtime order and the watermark advances between batches exactly as it
would on a live stream.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def _write_events_file(path: str, rows: list[tuple[int, datetime, float]], mtime: float) -> None:
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "value": pa.array([r[2] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def test_watermark_finalizes_windows_exactly_once_and_evicts_state(spark):
    """The guarantees append-mode watermarking actually makes (the
    delay bound is ONE-directional — data within the delay is never
    dropped; "too-late" data is only best-effort dropped, and Spark
    may legally aggregate it into fresh state):

      * a window is emitted EXACTLY ONCE, only after the watermark
        passes its end, carrying the FINAL cross-batch count;
      * an event inside the delay that arrives in a later micro-batch
        is merged before finalization (12:20 joins the 12:00 window
        opened a batch earlier → final n=3);
      * state for finalized windows is EVICTED — bounded state, the
        100 TB requirement (last batch holds exactly one open window).
    """
    src = os.path.join(SCRATCH, "wm_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    d = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    _write_events_file(
        os.path.join(src, "f1.parquet"),
        [(1, d(12, 0), 1.0), (2, d(12, 10), 2.0)],
        mtime=1_000_000.0,
    )
    # batch 2: one event inside the 1h delay (12:20 — must merge into
    # the open 12:00 window), one far beyond it (09:30 — MAY be dropped
    # or aggregated; either is within the documented guarantee)
    _write_events_file(
        os.path.join(src, "f2.parquet"),
        [(3, d(9, 30), 3.0), (4, d(12, 20), 4.0)],
        mtime=2_000_000.0,
    )
    # batch 3: pushes the watermark to 14:30, finalizing every earlier
    # window
    _write_events_file(
        os.path.join(src, "f3.parquet"),
        [(5, d(15, 30), 5.0)],
        mtime=3_000_000.0,
    )

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            counts.writeStream.format("memory")
            .queryName("wm_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    rows = spark.table("wm_probe").collect()
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, f"expected one micro-batch per file: {len(data_batches)}"
    # exactly-once finalization: no window start appears twice
    starts = [r["window_start"] for r in rows]
    assert len(starts) == len(set(starts)), f"window emitted twice: {rows}"
    # the cross-batch merge made it into the single finalized emission
    final = {r["window_start"]: r["n"] for r in rows}
    assert final[d(12, 0)] == 3, final
    # the still-open 15:00 window is not emitted yet (watermark 14:30)
    assert d(15, 0) not in final, final
    # bounded state: finalized windows were evicted; only the open
    # 15:00 window's state survives. The watermark advances at batch
    # boundaries, so the eviction shows in the trailing no-data batch.
    with_state = [p for p in progress if p.get("stateOperators")]
    last_state = with_state[-1]["stateOperators"][0]["numRowsTotal"]
    assert last_state == 1, f"state not evicted after finalization: {last_state} rows"


def test_aggregation_state_survives_query_restart(spark):
    """Checkpointed state must RESTORE across query restarts, not just
    across micro-batches: drain file 1, STOP the query, drop file 2,
    start a brand-new query object on the same checkpoint — the second
    run's complete-mode output must aggregate BOTH files' rows (state
    restored), and re-running with nothing new must deliver no new
    batch data (offsets restored)."""
    src = os.path.join(SCRATCH, "restart_src")
    ckpt = os.path.join(SCRATCH, "restart_ckpt")
    for p in (src, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(src)
    d = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    _write_events_file(
        os.path.join(src, "f1.parquet"),
        [(1, d(12, 0), 1.0), (2, d(12, 10), 2.0)],
        mtime=1_000_000.0,
    )
    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema

    def drain(name):
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        counts = stream.groupBy(F.window("ts", "1 hour").alias("w")).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
        )
        q = (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        drain("restart_run1")
        first = {r["w"]["start"]: (r["n"], r["s"]) for r in spark.table("restart_run1").collect()}
        assert first == {d(12, 0): (2, 3.0)}

        _write_events_file(
            os.path.join(src, "f2.parquet"),
            [(3, d(12, 20), 4.0), (4, d(13, 5), 8.0)],
            mtime=2_000_000.0,
        )
        drain("restart_run2")  # NEW query object, SAME checkpoint
        second = {r["w"]["start"]: (r["n"], r["s"]) for r in spark.table("restart_run2").collect()}
        # full cross-restart aggregate: f1's window grew, f2's appeared
        assert second == {d(12, 0): (3, 7.0), d(13, 0): (1, 8.0)}, second
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stream_dedup_within_watermark_across_batches(spark):
    """dropDuplicatesWithinWatermark must suppress a duplicate id that
    arrives in a LATER micro-batch while inside the watermark horizon —
    the cross-batch state the batch dropDuplicates has no notion of."""
    src = os.path.join(SCRATCH, "dedup_src")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src)
    d = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    _write_events_file(
        os.path.join(src, "f1.parquet"),
        [(1, d(12, 0), 1.0), (2, d(12, 1), 2.0)],
        mtime=1_000_000.0,
    )
    # id=1 re-arrives 2 minutes later (inside the 1h horizon) → dup;
    # id=3 is new
    _write_events_file(
        os.path.join(src, "f2.parquet"),
        [(1, d(12, 2), 1.5), (3, d(12, 3), 3.0)],
        mtime=2_000_000.0,
    )

    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            deduped.writeStream.format("memory")
            .queryName("dedup_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = sorted((r["event_id"], r["value"]) for r in spark.table("dedup_probe").collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)], got


def test_late_data_conservation_from_engine_telemetry(spark, sf_dir):
    """The watermark protocol's books must balance: every input row is
    either aggregated into an emitted window, dropped as a straggler
    into an already-evicted window (the engine's own
    numRowsDroppedByWatermark counter), or withheld in a window still
    open at termination.  Also pins that the +2-batch stragglers make
    the drop path non-degenerate (>0 drops at every SF)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.streaming_queries import _late_replay_dir
    import os

    replay = _late_replay_dir(spark, sf_dir)
    schema = spark.read.parquet(replay).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "b*.parquet")
        .parquet(replay)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("late_conservation_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = list(q.recentProgress)
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    total_in = sum(p["numInputRows"] for p in progress)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in progress
    )
    emitted = (
        spark.table("late_conservation_probe").agg(F.sum("n")).collect()[0][0] or 0
    )
    n_total = spark.read.parquet(replay).count()
    assert total_in == n_total
    unflushed = total_in - emitted - dropped
    assert dropped > 0, "straggler construction degenerated: nothing was late"
    assert unflushed >= 0
    assert emitted + dropped + unflushed == total_in


def test_stream_calibration_equals_batch(spark, sf_dir):
    """The update-mode ECE monitor must equal the batch reliability
    diagram on every shared column after an AvailableNow drain — the
    stream==batch contract of the incremental engine."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    reg = corpus()
    batch = {r["bin"]: r for r in reg["calibration_reliability_bins"].fn(spark, sf_dir).collect()}
    stream = {r["bin"]: r for r in reg["stream_calibration_ece"].fn(spark, sf_dir).collect()}
    assert set(batch) == set(stream)
    for b in batch:
        for col in ("n", "n_pos", "conf_avg", "acc", "ece"):
            assert batch[b][col] == stream[b][col], (b, col)


def test_midbatch_failure_recovery_exactly_once(spark):
    """Exactly-once under the failure mode clusters actually have: the
    query dies MID-BATCH — after the sink has already emitted a
    partial, non-transactional write for the in-flight batch, but
    before the batch commits. A clean-boundary restart test (above)
    cannot catch a sink that double-counts replayed data or an engine
    that skips the uncommitted batch.

    Injection is deterministic: a foreachBatch writer that, on its
    FIRST attempt at batch 1, writes half the batch's rows to the
    output directory and raises (the executor-OOM / node-loss moment).
    The restarted query must re-plan the SAME uncommitted batch from
    the checkpoint WAL, and the idempotent batch_id-keyed overwrite —
    the documented foreachBatch exactly-once recipe — must replace the
    partial output. Final reconstructed state must equal the batch
    twin: nothing dropped, nothing double-counted."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = os.path.join(SCRATCH, "midbatch_src")
    ckpt = os.path.join(SCRATCH, "midbatch_ckpt")
    out = os.path.join(SCRATCH, "midbatch_out")
    for p in (src, ckpt, out):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(src)
    d = lambda h, m: datetime(2024, 3, 1, h, m)  # noqa: E731
    # batch 0 opens window 12:00; batch 1 UPDATES it and opens 13:00
    # (cross-batch state is in flight when the failure hits); batch 2
    # updates 13:00 and opens 14:00
    _write_events_file(
        os.path.join(src, "f1.parquet"),
        [(1, d(12, 0), 1.0), (2, d(12, 10), 2.0)],
        mtime=1_000_000.0,
    )
    _write_events_file(
        os.path.join(src, "f2.parquet"),
        [(3, d(12, 20), 4.0), (4, d(13, 5), 8.0)],
        mtime=2_000_000.0,
    )
    _write_events_file(
        os.path.join(src, "f3.parquet"),
        [(5, d(13, 30), 16.0), (6, d(14, 0), 32.0)],
        mtime=3_000_000.0,
    )
    schema = spark.read.parquet(os.path.join(src, "f1.parquet")).schema

    injected = {"armed": True, "partial_rows": None}

    def writer(df, batch_id):
        path = os.path.join(out, f"batch_id={batch_id}")
        if batch_id == 1 and injected["armed"]:
            injected["armed"] = False
            # the mid-batch death: a PARTIAL, NON-ATOMIC emission hits
            # the sink, then the query dies before the batch commits
            df.limit(1).write.mode("overwrite").parquet(path)
            injected["partial_rows"] = 1
            raise RuntimeError("injected mid-batch failure")
        # idempotent recipe: overwrite keyed by batch_id, so a replayed
        # batch REPLACES any partial output instead of appending to it
        df.write.mode("overwrite").parquet(path)

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        agg = (
            stream.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .select(F.col("w.start").alias("wstart"), "n", "s")
        )
        return (
            agg.writeStream.foreachBatch(writer)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = start()
        with pytest.raises(StreamingQueryException, match="injected mid-batch failure"):
            q.awaitTermination()
        # the failure really was mid-batch: partial output is on disk
        assert injected["partial_rows"] == 1
        partial = spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
        assert len(partial) == 1, "injection should have left a partial batch on disk"

        q2 = start()  # NEW query object, SAME checkpoint — the restart
        q2.awaitTermination()
        q2.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    # the replayed batch REPLACED the partial output (update-mode batch
    # 1 touches windows 12:00 and 13:00 → 2 rows, not 1, not 3)
    replayed = spark.read.parquet(os.path.join(out, "batch_id=1")).collect()
    assert len(replayed) == 2, f"partial output not replaced: {replayed}"

    # reconstruct the sink's final state: per window, the row from the
    # highest batch_id (update-mode contract), and compare to the batch
    # twin over the SAME files — nothing dropped, nothing double-counted
    allrows = spark.read.parquet(out)  # partition discovery adds batch_id
    final = {}
    for r in allrows.collect():
        k = r["wstart"]
        if k not in final or r["batch_id"] > final[k][0]:
            final[k] = (r["batch_id"], r["n"], r["s"])
    got = {k: v[1:] for k, v in final.items()}
    twin = {
        r["wstart"]: (r["n"], r["s"])
        for r in (
            spark.read.parquet(src)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .select(F.col("w.start").alias("wstart"), "n", "s")
            .collect()
        )
    }
    assert got == twin, f"stream after mid-batch failure != batch twin: {got} vs {twin}"


def test_concurrent_same_query_memory_sinks_do_not_collide(spark, sf_dir):
    """VERDICT r10 task 4: run_to_memory scopes its in-memory sink name
    per invocation, so N concurrent invocations of the SAME streaming
    query must each drain into their own table and return the same
    (correct) result. Before r11 the fixed queryName collided: the
    second start raised or clobbered the first's table. 3 threads run
    stream_value_histogram simultaneously; all results must equal the
    solo run and the three returned sink names must be distinct."""
    import threading

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    fn = corpus()["stream_value_histogram"].fn
    solo = sorted(map(tuple, fn(spark, sf_dir).collect()))

    results: list = [None] * 3
    errors: list = []

    def run(i: int) -> None:
        try:
            results[i] = sorted(map(tuple, fn(spark, sf_dir).collect()))
        except Exception as e:  # noqa: BLE001
            errors.append(f"{i}: {type(e).__name__}: {e}")

    threads = [threading.Thread(target=run, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert all(r == solo for r in results)

    # per-invocation names actually distinct (the collision mechanism)
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

    recent = core._PREV_SINKS.get("stream_value_histogram_sink", [])
    assert len(recent) >= 4 and len(set(recent)) == len(recent)


def test_heavy_stateful_queries_identical_under_rocksdb_state_store(spark, sf_dir):
    """VERDICT r10 task 7: the two heaviest stateful streaming queries
    (largest state tables — the per-gram dup-rate counters and the CDC
    chunk-hash dedup set) must produce IDENTICAL results under the
    RocksDB state store as under the default HDFS-backed in-memory
    store. At 100 TB those state tables exceed executor heap; RocksDB
    spills them to local disk — this parity check is what licenses the
    provider swap as a pure deployment knob. (The tws query already
    runs RocksDB-first; this covers the applyInPandasWithState / agg
    state families.)"""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    reg = corpus()
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    for name in ("stream_substring_dup_rate", "stream_cdc_chunk_dedup"):
        fn = reg[name].fn
        default_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, rocks)
        try:
            rocks_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        assert rocks_rows == default_rows, name
        assert len(rocks_rows) > 0, name


def test_statestore_reader_decodes_rocksdb_checkpoints(spark, sf_dir):
    """The state-store DATA SOURCE must read back identical state from
    a RocksDB-backed checkpoint as from the default HDFS-backed store —
    the introspection tool has to work on the provider a 100 TB
    deployment actually runs. This crosses two features added
    independently (format('statestore') reader, RocksDB provider
    parity), which is exactly where decode mismatches would hide."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    fn = corpus()["statestore_reader_audit"].fn
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    default_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocks)
    try:
        rocks_rows = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 0


def test_inner_join_no_data_batch_skip_identical(spark, sf_dir):
    """r12: the inner stream-stream join and streaming dedup skip the
    terminal no-data micro-batch (it only evicts state — every output
    row of both queries emits on data arrival). This pins the claim:
    draining with and without no-data batches must yield identical
    sink rows. The left-outer twin is the counterexample and keeps
    no-data batches on (its own protocol tests cover it)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.streaming import core

    for build, mode, parts in (
        (core.view_purchase_join, "append", 4),
        (
            lambda ev: ev.withWatermark("ts", "35 days").dropDuplicatesWithinWatermark(
                ["user_id", "event_type"]
            ),
            "append",
            8,
        ),
    ):
        with_nd = core.run_to_memory(
            build(core.read_events_stream(spark, sf_dir)),
            "ndb_ref",
            output_mode=mode,
            state_partitions=parts,
        )
        without_nd = core.run_to_memory(
            build(core.read_events_stream(spark, sf_dir)),
            "ndb_cand",
            output_mode=mode,
            state_partitions=parts,
            extra_confs={"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
        )
        ref = sorted(map(tuple, spark.table(with_nd).collect()))
        cand = sorted(map(tuple, spark.table(without_nd).collect()))
        assert ref == cand
        assert len(ref) > 0


def test_scoped_stream_confs_do_not_leak_to_concurrent_starts(spark, sf_dir):
    """r12 regression test: run_to_memory scopes per-query confs by
    restoring them immediately after start() (StreamExecution clones
    the session synchronously inside start), under a lock. Before the
    fix, a left-outer join STARTING while the inner join (which runs
    with noDataMicroBatches=false) was mid-drain inherited that conf
    and emitted no outer nulls — caught by the 4-way contention probe.
    Here: start the inner join, then the outer join 150 ms later; the
    outer join's rows must equal its solo run (which contains outer
    nulls)."""
    import threading

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    reg = corpus()
    solo = sorted(
        map(tuple, reg["stream_stream_left_outer_join"].fn(spark, sf_dir).collect())
    )
    assert any(r[2] is None for r in solo), "solo LOJ must contain outer nulls"
    res: dict[str, list] = {}

    def run(name: str, key: str) -> None:
        res[key] = sorted(map(tuple, reg[name].fn(spark, sf_dir).collect()))

    t1 = threading.Thread(target=run, args=("stream_stream_join", "j"))
    t2 = threading.Thread(target=run, args=("stream_stream_left_outer_join", "l"))
    t1.start()
    import time as _time

    _time.sleep(0.15)
    t2.start()
    t1.join()
    t2.join()
    assert res["l"] == solo


def test_checkpoints_use_the_file_system_based_manager(spark):
    """The session's checkpoint manager renames without asking for link
    status: the FileContext-based default forks a `readlink` per rename
    when no native Hadoop library loads. The restart and mid-batch
    recovery tests above run under this manager."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(os.path.join(SCRATCH, "ckpt_manager_probe")),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
