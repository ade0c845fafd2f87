"""Streaming semantics tests (streaming/windows.py): batch ≡ stream on
on-time data, watermark late-row drop, and dropDuplicatesWithinWatermark —
the checks no batch oracle can express (SURVEY §5.2.3).

Determinism: file-source streams with controlled file arrival —
``processAllAvailable()`` between writes gives exact batch boundaries, so
watermark advancement is scripted, not timing-dependent.
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import uuid

import pytest
from datetime import datetime

from pyspark.sql import functions as F

from big_data_medical_analysis_spark.streaming import windows as SW

import contextlib


@contextlib.contextmanager
def _rocksdb_state_store(spark):
    """TWS requires a column-family state store (RocksDB, bundled with
    Spark 4); set the provider for the enclosed query and restore after —
    the other streaming tests keep the default HDFS-backed provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _write_events(dirpath: str, name: str, rows: list[tuple]) -> None:
    """rows: (event_id, ts_str, user_id, event_type, value)."""
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    with open(path + ".tmp", "w") as f:
        for eid, ts, uid, etype, value in rows:
            f.write(
                json.dumps(
                    {
                        "event_id": eid,
                        "ts": ts,
                        "user_id": uid,
                        "event_type": etype,
                        "value": value,
                        "props": "{}",
                    }
                )
                + "\n"
            )
    os.rename(path + ".tmp", path)  # atomic: the file source never sees partials


def test_tumbling_stream_matches_batch_and_drops_late(spark, tmp_path):
    indir = str(tmp_path / "in")
    qname = "t_" + uuid.uuid4().hex[:8]

    on_time = [
        (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
        (2, "2024-01-01 02:00:00.000000", 1, "click", 2.0),
        (3, "2024-01-01 07:00:00.000000", 2, "view", 3.0),
        (4, "2024-01-01 13:00:00.000000", 1, "click", 4.0),
    ]
    _write_events(indir, "a.json", on_time)

    stream = SW.tumbling_stream(SW.read_event_stream(spark, indir))
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: watermark ends at 12:30

        # batch 1: a LATE row (below watermark) + an advancer
        late_plus = [
            (5, "2024-01-01 01:30:00.000000", 1, "click", 100.0),  # dropped
            (6, "2024-01-02 01:00:00.000000", 2, "view", 5.0),
        ]
        _write_events(indir, "b.json", late_plus)
        q.processAllAvailable()

        # batch 2: sentinel pushes the watermark past every real window
        _write_events(
            indir, "c.json", [(7, "2024-01-03 00:00:00.000000", 9, "x", 0.0)]
        )
        q.processAllAvailable()

        emitted = {
            (r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
    finally:
        q.stop()

    # the late row (event 5) must NOT appear anywhere: window [00:00,06:00)
    # was finalized with exactly the two on-time clicks
    assert emitted[("2024-01-01 00:00:00.000000", "click")] == (2, 3.0)
    assert emitted[("2024-01-01 06:00:00.000000", "view")] == (1, 3.0)
    assert emitted[("2024-01-01 12:00:00.000000", "click")] == (1, 4.0)
    assert emitted[("2024-01-02 00:00:00.000000", "view")] == (1, 5.0)

    # batch ≡ stream on on-time data: the batch core over the on-time rows
    # restricted to finalized windows equals the emitted set exactly
    batch_df = SW.tumbling_agg(
        spark.createDataFrame(
            [
                (e, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S.%f"), u, t, v, "{}")
                for e, ts, u, t, v in on_time + late_plus[1:]
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
    )
    batch = {
        (r.window_start, r.event_type): (r.n, r.total_value)
        for r in batch_df.collect()
        if r.window_end <= "2024-01-02 23:30:00.000000"  # final watermark
    }
    assert batch == emitted


def test_drop_duplicates_within_watermark(spark, tmp_path):
    indir = str(tmp_path / "in")
    qname = "d_" + uuid.uuid4().hex[:8]

    # batch 0: duplicate event_id within the watermark horizon → dropped
    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
            (1, "2024-01-01 01:02:00.000000", 1, "click", 1.0),  # dup, dropped
            (2, "2024-01-01 01:30:00.000000", 1, "view", 2.0),
            (3, "2024-01-01 05:00:00.000000", 2, "x", 0.0),  # watermark → 04:30
        ],
    )
    stream = SW.dedup_stream(SW.read_event_stream(spark, indir))
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 1: event_id=1 re-occurs AFTER its state was evicted by the
        # watermark → emitted again (bounded-state semantics, by design)
        _write_events(
            indir,
            "b.json",
            [(1, "2024-01-01 06:00:00.000000", 1, "click", 9.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(f"SELECT event_id, value FROM {qname}").collect()
    finally:
        q.stop()

    counts: dict[int, int] = {}
    for r in rows:
        counts[r.event_id] = counts.get(r.event_id, 0) + 1
    assert counts[2] == 1 and counts[3] == 1
    # in-horizon duplicate dropped (not 2 in batch 0), post-eviction
    # re-occurrence emitted (total 2 across the stream)
    assert counts[1] == 2
    values_of_1 = sorted(r.value for r in rows if r.event_id == 1)
    assert values_of_1 == [1.0, 9.0]


def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    each batch emits the cumulative (n_events, total_value) per touched
    user, exactly."""
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
            (2, "2024-01-01 02:00:00.000000", 1, "click", 2.5),
            (3, "2024-01-01 03:00:00.000000", 2, "view", 3.0),
        ],
    )
    stream = SW.running_user_totals_stream(SW.read_event_stream(spark, indir))
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        after_b0 = {
            (r.user_id): (r.n_events, r.total_value)
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        _write_events(
            indir,
            "b.json",
            [(4, "2024-01-01 04:00:00.000000", 1, "click", 4.0)],
        )
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
    finally:
        q.stop()

    assert after_b0 == {1: (2, 3.5), 2: (1, 3.0)}
    # update-mode memory sink appends each batch's updates: user 1 appears
    # twice (cumulative 3.5 then 7.5), user 2 once
    tuples = sorted((r.user_id, r.n_events, r.total_value) for r in rows)
    assert tuples == [(1, 2, 3.5), (1, 3, 7.5), (2, 1, 3.0)]


def test_running_totals_half_away_rounding_matches_batch(spark, tmp_path):
    """Stream state uses half-away-from-zero cents like common.cents: 0.125
    → 13 cents (half-to-even would give 12), -0.125 → -13. Final stream
    emission per user equals the registered batch twin's money_sum."""
    import pyspark.sql.functions as F

    from big_data_medical_analysis_spark.operators.common import money_sum

    indir = str(tmp_path / "in")
    qname = "r_" + uuid.uuid4().hex[:8]
    rows = [
        (1, "2024-01-01 01:00:00.000000", 7, "click", 0.125),
        (2, "2024-01-01 02:00:00.000000", 7, "click", 1.0),
        (3, "2024-01-01 03:00:00.000000", 8, "view", -0.125),
    ]
    _write_events(indir, "a.json", rows)
    stream = SW.running_user_totals_stream(SW.read_event_stream(spark, indir))
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
    finally:
        q.stop()

    assert got == {7: (2, 1.13), 8: (1, -0.13)}
    batch = (
        spark.createDataFrame(
            [(uid, v) for _, _, uid, _, v in rows], "user_id long, value double"
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value").alias("tv"))
    )
    assert {r.user_id: (r.n, r.tv) for r in batch.collect()} == got


def test_session_stream_merges_across_batches_and_matches_batch(spark, tmp_path):
    """A session extended by a later micro-batch is emitted once, merged;
    finalized sessions equal the batch session_agg over the same rows."""
    indir = str(tmp_path / "in")
    qname = "w_" + uuid.uuid4().hex[:8]

    batch_a = [
        (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
        (2, "2024-01-01 02:00:00.000000", 1, "click", 1.0),
        (3, "2024-01-01 01:00:00.000000", 2, "view", 1.0),
    ]
    batch_b = [
        (4, "2024-01-01 03:00:00.000000", 1, "click", 1.0),  # extends session
    ]
    sentinel = [(9, "2024-01-03 00:00:00.000000", 9, "x", 0.0)]

    _write_events(indir, "a.json", batch_a)
    stream = SW.session_stream(SW.read_event_stream(spark, indir))
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(indir, "b.json", batch_b)
        q.processAllAvailable()
        _write_events(indir, "c.json", sentinel)
        q.processAllAvailable()
        emitted = {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
    finally:
        q.stop()

    batch_df = SW.session_agg(
        spark.createDataFrame(
            [
                (e, datetime.strptime(ts, "%Y-%m-%d %H:%M:%S.%f"), u, t, v, "{}")
                for e, ts, u, t, v in batch_a + batch_b
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
    )
    batch = {
        (r.user_id, r.session_start, r.session_end): r.n_events
        for r in batch_df.collect()
    }
    assert emitted == batch
    # the cross-batch merge happened: user 1 is ONE 3-event session
    assert emitted[
        (1, "2024-01-01 01:00:00.000000", "2024-01-01 07:00:00.000000")
    ] == 3


def test_foreachbatch_sink_is_idempotent(spark, tmp_path):
    """The foreachBatch writer must (a) persist every streamed row exactly
    once across micro-batches and (b) replace, not duplicate, a batch's
    output when the same (data, batch_id) is redelivered — Structured
    Streaming's retry contract."""
    indir = str(tmp_path / "fb_in")
    outdir = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")

    rows_a = [(1, "2024-01-01 01:00:00.000000", 1, "click", 1.5)]
    rows_b = [
        (2, "2024-01-01 02:00:00.000000", 2, "view", 2.5),
        (3, "2024-01-01 03:00:00.000000", 1, "click", 3.5),
    ]
    _write_events(indir, "a.json", rows_a)
    q = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir),
        SW.make_idempotent_batch_writer(outdir),
        ckpt,
    )
    try:
        q.processAllAvailable()
        _write_events(indir, "b.json", rows_b)
        q.processAllAvailable()
    finally:
        q.stop()

    # the streaming job's own writes populate the session FileStatusCache;
    # refresh before reading the directory it just produced
    spark.catalog.refreshByPath(outdir)
    back = spark.read.parquet(outdir)
    assert back.count() == 3
    assert {r.event_id for r in back.select("event_id").collect()} == {1, 2, 3}

    # simulate redelivery: re-invoke the writer with the same batch id and
    # the same data — row count must not change (overwrite, not append).
    # Materialize batch 0 first: the overwrite deletes the files the lazy
    # plan would otherwise re-read mid-write.
    batch0_rows = back.filter("batch_id = 0").drop("batch_id").collect()
    batch0 = spark.createDataFrame(batch0_rows)
    SW.make_idempotent_batch_writer(outdir)(batch0, 0)
    spark.catalog.refreshByPath(outdir)
    again = spark.read.parquet(outdir)
    assert again.count() == 3

    # crash recovery through the REAL engine replay path (VERDICT r8 task
    # 7), not a hand-invoked writer: simulate a crash that happened after
    # the sink wrote batch 1 but before the checkpoint recorded its commit.
    # A crash means a NEW process, so the checkpoint is copied to a cold
    # path first (the live JVM caches each checkpoint's commit log; pulling
    # a commit out from under the SAME path is flagged as concurrent use,
    # not recovered — correctly, since in-process that's what it would be),
    # then the latest commits/ marker is dropped and the query restarted
    # from the copy. Structured Streaming must redeliver batch 1 with the
    # same data and batch_id; the idempotent sink overwrites its own
    # partial/previous output, so the row set is unchanged (no dupes, no
    # loss) and no new batch_id directory appears.
    import os
    import shutil

    ckpt2 = str(tmp_path / "fb_ckpt_recovered")
    shutil.copytree(ckpt, ckpt2)
    commits = sorted(os.listdir(os.path.join(ckpt2, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt2, "commits", last))
    crc = os.path.join(ckpt2, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir),
        SW.make_idempotent_batch_writer(outdir),
        ckpt2,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    spark.catalog.refreshByPath(outdir)
    recovered = spark.read.parquet(outdir)
    assert recovered.count() == 3
    assert {r.event_id for r in recovered.select("event_id").collect()} == {1, 2, 3}
    assert {
        r.batch_id for r in recovered.select("batch_id").distinct().collect()
    } == {0, 1}


def test_running_user_totals_tws_matches_legacy_and_batch(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 stateful API) carries the same
    per-user cumulative state across micro-batches as the legacy
    applyInPandasWithState form, and its final emission per user equals the
    batch aggregate — the stream ≡ batch contract that lets
    running_user_totals_batch's driver oracle pin this operator too.

    ENVIRONMENT GATE: the TWS Python client speaks protobuf to the state
    server; without a working google.protobuf the driver worker crashes
    (ImportError inside pyspark's StateMessage_pb2), so this test skips
    where the dependency is absent rather than pretending the surface ran.
    Where only the vendored gcloud runtime exists, conftest's pbshim
    activates it (tools/pbshim/sitecustomize.py) and this test runs.

    TWS additionally requires a state store with column families —
    RocksDB, bundled with Spark 4 — so the provider conf is set around
    the query and restored (HDFSBackedStateStoreProvider hard-rejects
    TWS with STATE_STORE_MULTIPLE_COLUMN_FAMILIES).
    """
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    # 0.125 is binary-EXACT, so 0.125*100 = 12.5 sits precisely on the
    # half boundary: half-away gives 13 cents (pandas' half-even would
    # give 12) — the rounding-discipline pin. A decimal like 1.005 does
    # NOT pin anything: its double is below the boundary, so every
    # engine (including batch cents()) rounds it DOWN.
    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 0.125),
            (2, "2024-01-01 02:00:00.000000", 1, "click", 2.5),
            (3, "2024-01-01 03:00:00.000000", 2, "view", 3.0),
        ],
    )
    with _rocksdb_state_store(spark):
        stream = SW.running_user_totals_tws(SW.read_event_stream(spark, indir))
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            after_b0 = {
                r.user_id: (r.n_events, r.total_value)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            }
            _write_events(
                indir,
                "b.json",
                [(4, "2024-01-01 04:00:00.000000", 1, "click", 4.0)],
            )
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {qname}").collect()
        finally:
            q.stop()

    # 0.125 cents-rounds half-away to 0.13 — same as money_sum / cents()
    assert after_b0 == {1: (2, 2.63), 2: (1, 3.0)}
    tuples = sorted((r.user_id, r.n_events, r.total_value) for r in rows)
    assert tuples == [(1, 2, 2.63), (1, 3, 6.63), (2, 1, 3.0)]


def test_tws_map_and_list_state_match_batch_breakdown(spark, tmp_path):
    """The MULTI-state TWS surfaces — MapState (per-user counts keyed by
    event_type, one column-family row per map entry) and ListState
    (append-only event-id log) — carry correct state across micro-batches:
    the final emission per (user, type) equals the batch
    groupBy(user, type).count(), and the ListState length equals the
    user's total event count. This is the state shape the legacy
    applyInPandasWithState API cannot express (one opaque tuple per key).

    Same environment notes as the ValueState test: protobuf via the
    conftest pbshim where no distribution is installed; RocksDB state
    store set around the query (column families required)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
            (2, "2024-01-01 02:00:00.000000", 1, "view", 1.0),
            (3, "2024-01-01 03:00:00.000000", 2, "click", 1.0),
        ],
    )
    with _rocksdb_state_store(spark):
        stream = SW.user_type_breakdown_tws(SW.read_event_stream(spark, indir))
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            after_b0 = {
                (r.user_id, r.event_type): (r.n, r.n_ids_total)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            }
            _write_events(
                indir,
                "b.json",
                [
                    (4, "2024-01-01 04:00:00.000000", 1, "click", 1.0),
                    (5, "2024-01-01 05:00:00.000000", 3, "view", 1.0),
                ],
            )
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {qname}").collect()
        finally:
            q.stop()

    assert after_b0 == {(1, "click"): (1, 2), (1, "view"): (1, 2), (2, "click"): (1, 1)}
    # final state per (user, type): counts are monotone per user, so the
    # max over the update-mode emissions is the last one
    final: dict = {}
    for r in rows:
        k = (r.user_id, r.event_type)
        if k not in final or r.n_ids_total > final[k][1]:
            final[k] = (r.n, r.n_ids_total)
    assert final == {
        (1, "click"): (2, 3),
        (1, "view"): (1, 3),
        (2, "click"): (1, 1),
        (3, "view"): (1, 1),
    }


def test_tws_idle_session_gap_split_under_watermark_lag(spark, tmp_path):
    """Watermark lag must SPLIT sessions, not merge them: a same-user
    event arriving after the open session's gap — but before the
    watermark fired its timer — closes the old session inline (at its
    true expiry) and starts a new one, matching the declarative
    session_window semantics. Timeline: user 1 at 01:00 (expiry 01:30);
    next batch carries user 1 at 02:00 while the watermark is still
    01:00 → session 1 closes inline (1 event, 01:30); sentinels then
    advance the watermark past 02:30 → session 2 closes by timer
    (1 event, 02:30)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    _write_events(
        indir, "a.json", [(1, "2024-01-01 01:00:00.000000", 1, "click", 1.0)]
    )
    with _rocksdb_state_store(spark):
        stream = SW.idle_session_close_tws(SW.read_event_stream(spark, indir))
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            _write_events(
                indir,
                "b.json",
                [(2, "2024-01-01 02:00:00.000000", 1, "click", 1.0)],
            )
            q.processAllAvailable()
            after_split = sorted(
                (r.user_id, r.n_events, r.closed_at_ms)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )
            _write_events(
                indir,
                "c.json",
                [(90, "2024-01-01 05:00:00.000000", 99, "click", 1.0)],
            )
            q.processAllAvailable()
            rows = sorted(
                (r.user_id, r.n_events, r.closed_at_ms)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )
        finally:
            q.stop()

    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    # inline close at the OLD session's true expiry, before any timer fired
    assert after_split == [(1, 1, base + 90 * 60000)]
    # the second session then closes by timer at its own expiry
    assert rows == [
        (1, 1, base + 90 * 60000),
        (1, 1, base + 150 * 60000),
    ]


def test_tws_initial_state_bootstraps_backfill_totals(spark, tmp_path):
    """TWS initialState handoff: a batch backfill aggregate seeds the
    stream's typed state, so the tail CONTINUES the running totals — the
    first tail emission for a backfilled user already includes the
    backfill (n and exact cents), and equals the batch aggregate over
    backfill ∪ tail. A user present only in the backfill emits nothing
    (update mode, no input rows) — state seeded silently, not leaked."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    backfill = spark.createDataFrame(
        [(1, 1.0), (1, 2.5), (3, 9.0)], "user_id long, value double"
    )
    _write_events(
        indir,
        "tail.json",
        [
            (10, "2024-01-02 01:00:00.000000", 1, "click", 4.0),
            (11, "2024-01-02 02:00:00.000000", 2, "view", 3.0),
        ],
    )
    with _rocksdb_state_store(spark):
        stream = SW.running_user_totals_tws_bootstrapped(
            SW.read_event_stream(spark, indir), backfill
        )
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {qname}").collect()
        finally:
            q.stop()

    got = sorted((r.user_id, r.n_events, r.total_value) for r in rows)
    # user 1: backfill (2 events, 3.50) + tail 4.0 = (3, 7.5);
    # user 2: tail only; user 3: backfill only -> NO emission
    assert got == [(1, 3, 7.5), (2, 1, 3.0)]


def test_tws_state_survives_query_restart_from_checkpoint(spark, tmp_path):
    """TWS typed state persists in the RocksDB checkpoint across a clean
    stop + restart: the restarted query's first emission for a user
    CONTINUES the pre-restart running totals (n and exact cents), not a
    restart from zero — the recovery contract that makes the operator
    production-usable. (Crash-with-same-JVM needs a cold checkpoint copy
    — the HDFSMetadataLog cache gotcha documented in the verify notes —
    so this pins the supported stop/restart path.)"""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")

    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
            (2, "2024-01-01 02:00:00.000000", 1, "click", 2.5),
        ],
    )
    out_dir = str(tmp_path / "out")
    with _rocksdb_state_store(spark):
        def start():
            # memory sink refuses checkpoint recovery; the repo's
            # idempotent foreachBatch parquet writer is the recoverable
            # sink (exactly-once via batch-id overwrite)
            return SW.start_foreach_batch(
                SW.running_user_totals_tws(SW.read_event_stream(spark, indir)),
                SW.make_idempotent_batch_writer(out_dir),
                ckpt,
            )

        q1 = start()
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()

        _write_events(
            indir,
            "b.json",
            [(3, "2024-01-01 03:00:00.000000", 1, "click", 4.0)],
        )
        q2 = start()
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    out = spark.read.parquet(out_dir)
    per_batch = {
        int(r.batch_id): (r.user_id, r.n_events, r.total_value)
        for r in out.collect()
    }
    # batch 0 (pre-restart): totals from a.json; batch 1 (post-restart):
    # its FIRST emission already carries the recovered (2, 350c) state
    assert per_batch == {0: (1, 2, 3.5), 1: (1, 3, 7.5)}


def test_tws_event_time_timer_closes_idle_sessions(spark, tmp_path):
    """EVENT-TIME TIMERS on TWS: sessions close exactly when the watermark
    passes (last event + 30 min), in a batch that carries NO input rows
    for the closing keys (timer-driven emission — the semantics the
    state-only processors can't produce). Timeline: batch a seeds users
    1 and 2 (nothing fires — watermark still 0 during a); the sentinel
    file (03:00) advances the watermark, and processAllAvailable DRAINS
    the watermark-induced follow-up batch, so both sessions emit within
    that call — with their exact expiry timestamps and counts, state
    evicted. A further sentinel produces NO duplicate emissions and the
    sentinel user's own timer stays unexpired (no emission for 99)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    _write_events(
        indir,
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1, "click", 1.0),
            (2, "2024-01-01 01:10:00.000000", 1, "view", 1.0),
            (3, "2024-01-01 01:05:00.000000", 2, "click", 1.0),
        ],
    )
    with _rocksdb_state_store(spark):
        stream = SW.idle_session_close_tws(SW.read_event_stream(spark, indir))
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            n_after_a = spark.sql(f"SELECT * FROM {qname}").count()
            _write_events(
                indir,
                "b.json",
                [(90, "2024-01-01 03:00:00.000000", 99, "click", 1.0)],
            )
            q.processAllAvailable()
            n_after_b = spark.sql(f"SELECT * FROM {qname}").count()
            _write_events(
                indir,
                "c.json",
                [(91, "2024-01-01 03:10:00.000000", 99, "click", 1.0)],
            )
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {qname}").collect()
        finally:
            q.stop()

    # nothing may close before the watermark passes an expiry
    assert n_after_a == 0
    # the sentinel's drain includes the watermark-induced batch: both fire
    assert n_after_b == 2
    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    got = sorted((r.user_id, r.n_events, r.closed_at_ms) for r in rows)
    # a later batch adds NO duplicate emissions (state + timer evicted)
    assert got == [
        (1, 2, base + (70 + 30) * 60000),  # last event 01:10 + 30 min
        (2, 1, base + (65 + 30) * 60000),  # last event 01:05 + 30 min
    ]


def test_hll_state_stream_matches_batch_and_is_idempotent(spark, tmp_path):
    """The streaming register merger must converge to EXACTLY the state
    the batch builder computes over the same events (register-level
    equality — same recipe, sketches.daily_event_registers), and
    re-merging a batch's events under a FRESH batch id (which the ledger
    cannot skip) must change nothing: register-max is idempotent."""
    from big_data_medical_analysis_spark.operators.sketches import (
        daily_event_registers,
    )

    indir = str(tmp_path / "hll_in")
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    day1 = [(i, f"2024-01-01 0{i % 9}:00:00.000000", i, "click", 1.0)
            for i in range(40)]
    day2 = [(100 + i, f"2024-01-02 0{i % 9}:00:00.000000", i, "view", 2.0)
            for i in range(40)]
    _write_events(indir, "a.json", day1)
    q = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir), SW.make_hll_state_merger(state), ckpt
    )
    try:
        q.processAllAvailable()
        _write_events(indir, "b.json", day2)
        q.processAllAvailable()
    finally:
        q.stop()

    cur = os.path.join(state, "current")
    spark.catalog.refreshByPath(cur)
    streamed = {
        (r.day, r.register, r.rho)
        for r in spark.read.parquet(cur).collect()
    }
    batch_ev = spark.createDataFrame(
        [(eid, ts, uid, et, v) for eid, ts, uid, et, v in day1 + day2],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    expected = {
        (r.day, r.register, r.rho)
        for r in daily_event_registers(batch_ev).collect()
    }
    assert streamed == expected and len({d for d, _, _ in streamed}) == 2

    # idempotent algebra: re-merge day1 under a fresh id with the same merger
    replay = spark.createDataFrame(
        [(eid, ts, uid, et, v) for eid, ts, uid, et, v in day1],
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    SW.make_hll_state_merger(state)(replay, 99)
    spark.catalog.refreshByPath(cur)
    again = {
        (r.day, r.register, r.rho)
        for r in spark.read.parquet(cur).collect()
    }
    assert again == streamed


def test_hist_state_stream_exactly_once_via_ledger(spark, tmp_path):
    """The streaming bin-count merger must converge to EXACTLY the state
    the batch builder computes over the same events, and — the contrast
    with the idempotent HLL register merger — re-merging an
    already-applied batch must change NOTHING because the ledger skips
    it: sum is not idempotent, so without the ledger the redelivery
    would double-count (also asserted, by merging the same rows under a
    FRESH batch_id and seeing the counts double)."""
    from big_data_medical_analysis_spark.operators.sketches import (
        daily_value_histogram,
    )

    indir = str(tmp_path / "hist_in")
    state = str(tmp_path / "hist_state")
    ckpt = str(tmp_path / "hist_ckpt")
    day1 = [(i, f"2024-01-01 0{i % 9}:00:00.000000", i, "click", 1.0 + i)
            for i in range(40)]
    day2 = [(100 + i, f"2024-01-02 0{i % 9}:00:00.000000", i, "view", 2.0 + i)
            for i in range(40)]
    _write_events(indir, "a.json", day1)
    q = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir), SW.make_hist_state_merger(state), ckpt
    )
    try:
        q.processAllAvailable()
        _write_events(indir, "b.json", day2)
        q.processAllAvailable()
    finally:
        q.stop()

    cur = os.path.join(state, "current")
    spark.catalog.refreshByPath(cur)
    streamed = {
        (r.day, r.bin, r.cnt) for r in spark.read.parquet(cur).collect()
    }
    batch_ev = spark.createDataFrame(
        day1 + day2,
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    expected = {
        (r.day, r.bin, r.cnt)
        for r in daily_value_histogram(batch_ev).collect()
    }
    assert streamed == expected and len({d for d, _, _ in streamed}) == 2

    replay = spark.createDataFrame(
        day1,
        "event_id long, ts_s string, user_id long, event_type string, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    merger = SW.make_hist_state_merger(state)
    # redelivery of an APPLIED batch id: ledger skip, state unchanged
    with open(os.path.join(cur, SW.HIST_APPLIED_FILE)) as f:
        applied = json.load(f)
    merger(replay, applied[0])
    spark.catalog.refreshByPath(cur)
    again = {
        (r.day, r.bin, r.cnt) for r in spark.read.parquet(cur).collect()
    }
    assert again == streamed

    # control: the same rows under a FRESH id DO fold in (sum is not
    # idempotent — the ledger, not the merge math, is the dedup)
    merger(replay, max(applied) + 1)
    spark.catalog.refreshByPath(cur)
    doubled = {
        (r.day, r.bin): r.cnt for r in spark.read.parquet(cur).collect()
    }
    day1_bins = {
        (r.day, r.bin): r.cnt
        for r in daily_value_histogram(
            spark.createDataFrame(
                day1,
                "event_id long, ts_s string, user_id long, "
                "event_type string, value double",
            ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
        ).collect()
    }
    for (d, b), c in day1_bins.items():
        assert doubled[(d, b)] == c * 2


def test_backfill_then_tail_into_same_state(spark, tmp_path):
    """The operational restart shape (VERDICT r9 task 5): a
    Trigger.AvailableNow run drains the BACKLOG into the persisted state
    table and terminates; a later live run with the SAME checkpoint
    tails only the new files into the SAME state. Both mergers must end
    exactly equal to their batch builders over backlog+live, and the
    histogram's ledger must stay consistent across the backfill/live
    boundary (ids from the shared checkpoint keep incrementing; every
    applied batch recorded exactly once; no double counting)."""
    import json

    from big_data_medical_analysis_spark.operators.sketches import (
        daily_event_registers,
        daily_value_histogram,
    )

    indir = str(tmp_path / "bf_in")
    backlog1 = [(i, f"2024-01-01 0{i % 9}:00:00.000000", i, "click", float(i))
                for i in range(30)]
    backlog2 = [(50 + i, f"2024-01-02 0{i % 9}:00:00.000000", i, "view",
                 10.0 + i) for i in range(30)]
    live = [(100 + i, f"2024-01-03 0{i % 9}:00:00.000000", i, "buy",
             5.5 * i) for i in range(30)]
    _write_events(indir, "a.json", backlog1)
    _write_events(indir, "b.json", backlog2)

    cases = {
        "hll": (SW.make_hll_state_merger, str(tmp_path / "hll_state"),
                str(tmp_path / "hll_ckpt")),
        "hist": (SW.make_hist_state_merger, str(tmp_path / "hist_state"),
                 str(tmp_path / "hist_ckpt")),
    }
    # Phase 1: backfill — AvailableNow drains both files, then terminates
    for _, (make, state, ckpt) in cases.items():
        q = SW.start_foreach_batch(
            SW.read_event_stream(spark, indir), make(state), ckpt,
            available_now=True,
        )
        assert q.awaitTermination(120), "availableNow run must terminate"

    hist_state = cases["hist"][1]
    ledger_path = os.path.join(hist_state, "current", SW.HIST_APPLIED_FILE)
    with open(ledger_path) as f:
        backfill_ids = json.load(f)
    assert backfill_ids == sorted(set(backfill_ids))
    n_backfill = len(backfill_ids)
    assert n_backfill >= 1

    # Phase 2: live tail — same checkpoint+state, only the new file lands
    _write_events(indir, "c.json", live)
    for _, (make, state, ckpt) in cases.items():
        q = SW.start_foreach_batch(
            SW.read_event_stream(spark, indir), make(state), ckpt
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    all_ev = spark.createDataFrame(
        [(eid, ts, uid, et, v) for eid, ts, uid, et, v in
         backlog1 + backlog2 + live],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value"
    )

    hll_cur = os.path.join(cases["hll"][1], "current")
    spark.catalog.refreshByPath(hll_cur)
    streamed_hll = {
        (r.day, r.register, r.rho)
        for r in spark.read.parquet(hll_cur).collect()
    }
    expected_hll = {
        (r.day, r.register, r.rho)
        for r in daily_event_registers(all_ev).collect()
    }
    assert streamed_hll == expected_hll
    assert len({d for d, _, _ in streamed_hll}) == 3  # backlog + live days

    hist_cur = os.path.join(hist_state, "current")
    spark.catalog.refreshByPath(hist_cur)
    streamed_hist = {
        (r.day, r.bin, r.cnt)
        for r in spark.read.parquet(hist_cur)
        .select("day", "bin", "cnt").collect()
    }
    expected_hist = {
        (r.day, r.bin, r.cnt)
        for r in daily_value_histogram(all_ev).collect()
    }
    assert streamed_hist == expected_hist

    # Ledger across the boundary: backfill ids preserved, live ids appended
    # and strictly greater (same checkpoint numbering), no duplicates.
    with open(ledger_path) as f:
        final_ids = json.load(f)
    assert final_ids[:n_backfill] == backfill_ids
    assert final_ids == sorted(set(final_ids))
    assert len(final_ids) > n_backfill
    assert min(final_ids[n_backfill:]) > max(backfill_ids)


def _write_docs(dirpath, name, rows):
    """rows: (doc_id, text, source)."""
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, name)
    with open(path + ".tmp", "w") as f:
        for did, text, src in rows:
            f.write(json.dumps(
                {"doc_id": did, "text": text, "source": src}) + "\n")
    os.replace(path + ".tmp", path)


def test_pmh_index_stream_probe_then_append(spark, tmp_path):
    """The streaming ingest loop for the MinHash band index: batch 1
    builds the index (no prior index to probe), batch 2 probes batch 1's
    rows THEN appends its own — so the accumulated index after both
    batches equals the batch-built index over all docs, batch 2's probe
    hits equal the batch twin's probe-vs-index join (redelivery is
    covered by test_sink_crash_matrix)."""
    from big_data_medical_analysis_spark.operators.dedup import (
        pmh_banded_buckets,
    )

    indir = str(tmp_path / "docs_in")
    index_dir = str(tmp_path / "pmh_index")
    matches_dir = str(tmp_path / "pmh_matches")
    ckpt = str(tmp_path / "pmh_ckpt")

    # batch 2 contains an exact-text twin of a batch-1 doc => a full-band
    # collision is guaranteed (identical signature), plus unrelated docs
    b1 = [(1, "alpha beta gamma delta epsilon", "s1"),
          (2, "one two three four five six", "s1"),
          (3, "red green blue yellow purple", "s2")]
    b2 = [(10, "alpha beta gamma delta epsilon", "s3"),  # dup of doc 1
          (11, "totally different words entirely here", "s3")]

    _write_docs(indir, "a.json", b1)
    q = SW.start_foreach_batch(
        SW.read_docs_stream(spark, indir),
        SW.make_pmh_index_appender(index_dir, matches_dir),
        ckpt,
        available_now=True,
    )
    assert q.awaitTermination(120)
    _write_docs(indir, "b.json", b2)
    q = SW.start_foreach_batch(
        SW.read_docs_stream(spark, indir),
        SW.make_pmh_index_appender(index_dir, matches_dir),
        ckpt,
        available_now=True,
    )
    assert q.awaitTermination(120)

    def docs_df(rows):
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    # accumulated index == batch-built index over all docs
    spark.catalog.refreshByPath(index_dir)
    streamed_index = {
        (r.doc_id, int(r.band), r.bucket)
        for r in spark.read.parquet(index_dir)
        .select("doc_id", "band", "bucket").collect()
    }
    expected_index = {
        (r.doc_id, int(r.band), r.bucket)
        for r in pmh_banded_buckets(docs_df(b1 + b2)).collect()
    }
    assert streamed_index == expected_index

    # batch 2's probe hits == batch twin (probe new docs vs batch-1 index)
    spark.catalog.refreshByPath(matches_dir)
    matches = spark.read.parquet(matches_dir)
    got_hits = {
        (r.doc_id, r.n_index_matches, r.min_index_doc)
        for r in matches.collect()
    }
    b1_banded = pmh_banded_buckets(docs_df(b1))
    expected_hits = {
        (r.doc_id, r.n_index_matches, r.min_index_doc)
        for r in pmh_banded_buckets(docs_df(b2))
        .join(
            b1_banded.withColumnRenamed("doc_id", "index_doc_id"),
            ["band", "bucket"],
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("index_doc_id").alias("n_index_matches"),
            F.min("index_doc_id").alias("min_index_doc"),
        )
        .collect()
    }
    assert got_hits == expected_hits
    assert any(d == 10 and m == 1 for d, _, m in got_hits)  # planted dup found



def test_dynamic_gap_sessions_match_session_window_gap_expr(spark, sf_dir):
    """dynamic_gap_sessions (lag-free running-max merge semantics, round
    10 fix) must produce EXACTLY the sessions Spark's native
    ``session_window(ts, gapExpr)`` builds over the same events — and a
    shadowing fixture (a long-gap purchase followed by a short-gap click)
    pins the case the old previous-event-only logic mis-split."""
    from big_data_medical_analysis_spark.operators import analytics as A
    from big_data_medical_analysis_spark.sources.readers import read_table

    def native_sessions(ev):
        gap = F.when(
            F.col("event_type") == "purchase", F.lit("3600 seconds")
        ).otherwise(F.lit("1800 seconds"))
        return (
            ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
                ).cast("long").alias("duration_us"),
            )
            .select("user_id", "n_events", "duration_us")
        )

    # full-corpus equivalence (session ids are arbitrary numbering —
    # compare per-user multisets of (n_events, duration))
    def profile(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.user_id, []).append(
                (r.n_events, r.duration_us)
            )
        return {u: sorted(v) for u, v in out.items()}

    ours = profile(
        A.dynamic_gap_sessions(spark, sf_dir).select(
            "user_id", "n_events", "duration_us"
        )
    )
    native = profile(native_sessions(read_table(spark, sf_dir, "events")))
    assert ours == native

    # shadowing fixture: click's 30-min gap lapses before event 3, but the
    # purchase's 1-hour window still holds the session open
    fixture = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "purchase", 1.0),
            (2, "2024-01-01 00:01:00", 7, "click", 1.0),
            (3, "2024-01-01 00:40:00", 7, "view", 1.0),
        ],
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value"
    )
    nrows = native_sessions(fixture).collect()
    assert len(nrows) == 1 and nrows[0].n_events == 3


def test_ann_index_stream_probe_then_append(spark, tmp_path):
    """Sign-LSH twin of the MinHash ingest loop: batch 2 contains an
    exact copy of a batch-1 vector (identical buckets in every table ⇒
    n_tables_hit = ANN_LSH_TABLES) and the accumulated index equals the
    batch-built buckets over all vectors (redelivery is covered by
    test_sink_crash_matrix)."""
    import random

    from big_data_medical_analysis_spark.operators import similarity as S

    rng = random.Random(77)

    def vec():
        return [rng.uniform(-1, 1) for _ in range(64)]

    v_dup = vec()
    b1 = [(1, v_dup), (2, vec()), (3, vec())]
    b2 = [(10, v_dup), (11, vec())]

    indir = str(tmp_path / "emb_in")
    index_dir = str(tmp_path / "ann_index")
    matches_dir = str(tmp_path / "ann_matches")
    ckpt = str(tmp_path / "ann_ckpt")

    def write_batch(name, rows):
        os.makedirs(indir, exist_ok=True)
        with open(os.path.join(indir, name + ".tmp"), "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")
        os.replace(os.path.join(indir, name + ".tmp"),
                   os.path.join(indir, name))

    def emb_df(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    write_batch("a.json", b1)
    q = SW.start_foreach_batch(
        SW.read_embeddings_stream(spark, indir),
        SW.make_ann_index_appender(index_dir, matches_dir),
        ckpt,
        available_now=True,
    )
    assert q.awaitTermination(120)
    write_batch("b.json", b2)
    q = SW.start_foreach_batch(
        SW.read_embeddings_stream(spark, indir),
        SW.make_ann_index_appender(index_dir, matches_dir),
        ckpt,
        available_now=True,
    )
    assert q.awaitTermination(120)

    spark.catalog.refreshByPath(index_dir)
    streamed = {
        (r.vec_id, int(r.tbl), r.bucket)
        for r in spark.read.parquet(index_dir)
        .select("vec_id", "tbl", "bucket").collect()
    }
    expected = {
        (r.vec_id, int(r.tbl), r.bucket)
        for r in S.ann_lsh_buckets(emb_df(b1 + b2)).collect()
    }
    assert streamed == expected

    spark.catalog.refreshByPath(matches_dir)
    hits = {
        (r.vec_id, r.n_tables_hit, r.min_cand)
        for r in spark.read.parquet(matches_dir).collect()
    }
    # the planted exact copy collides in EVERY table with its twin
    assert (10, S.ANN_LSH_TABLES, 1) in hits



def test_adx_index_stream_serve_bits_deepens_mid_stream(spark, tmp_path):
    """Adaptive-ANN ingest loop (VERDICT r13 task 5): three batches sized
    so the count-derived serving geometry CROSSES a serve_bits boundary
    between probes — batch 1 probes 900 accumulated index rows
    (2^4*64 = 1024 >= 900 -> serve_bits 4), batch 2 probes 1200
    (> 1024 -> serve_bits 5). Asserts (a) the accumulated index equals
    the batch banding of all vectors at max resolution, (b) each
    batch's matches carry the geometry it was served at, with the
    boundary crossing visible, and (c) every batch's hit rows equal an
    independent batch-twin recompute (band prior vectors, derive
    serve_bits, masked equi-join — the ann_adaptive_serve shape).
    Redelivery is covered by test_sink_crash_matrix."""
    import random

    from big_data_medical_analysis_spark.operators import similarity as S

    rng = random.Random(991)

    def vec():
        return [rng.uniform(-1, 1) for _ in range(64)]

    v_dup = vec()
    b0 = [(i, vec()) for i in range(300)]
    b0[7] = (7, v_dup)
    b1 = [(1000, v_dup)] + [(1001 + i, vec()) for i in range(99)]
    b2 = [(2000 + i, vec()) for i in range(50)]

    indir = str(tmp_path / "adx_in")
    index_dir = str(tmp_path / "adx_index")
    matches_dir = str(tmp_path / "adx_matches")
    ckpt = str(tmp_path / "adx_ckpt")

    def write_batch(name, rows):
        os.makedirs(indir, exist_ok=True)
        with open(os.path.join(indir, name + ".tmp"), "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")
        os.replace(os.path.join(indir, name + ".tmp"),
                   os.path.join(indir, name))

    def emb_df(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    for name, rows in (("a.json", b0), ("b.json", b1), ("c.json", b2)):
        write_batch(name, rows)
        q = SW.start_foreach_batch(
            SW.read_embeddings_stream(spark, indir),
            SW.make_adx_index_appender(index_dir, matches_dir),
            ckpt,
            available_now=True,
        )
        assert q.awaitTermination(180)

    spark.catalog.refreshByPath(index_dir)
    streamed = {
        (r.vec_id, int(r.tbl), r.bucket)
        for r in spark.read.parquet(index_dir)
        .select("vec_id", "tbl", "bucket").collect()
    }
    expected_index = {
        (r.vec_id, int(r.tbl), r.bucket)
        for r in S.adx_lsh_buckets(emb_df(b0 + b1 + b2)).collect()
    }
    assert streamed == expected_index

    def match_rows(batch_id):
        spark.catalog.refreshByPath(matches_dir)
        return {
            (r.vec_id, r.serve_bits, r.n_tables_hit, r.n_candidates,
             r.min_cand)
            for r in spark.read.parquet(matches_dir)
            .filter(F.col("batch_id") == batch_id).collect()
        }

    def twin_hits(prior_rows, batch_rows):
        index = S.adx_lsh_buckets(emb_df(prior_rows)).select(
            F.col("vec_id").alias("cand_id"),
            F.col("tbl").cast("int").alias("tbl"),
            "bucket",
        )
        serve = S._adx_serve_bits(index)
        mask = F.expr("shiftleft(CAST(1 AS BIGINT), serve_bits)")
        p = (
            S.adx_lsh_buckets(emb_df(batch_rows))
            .withColumn("tbl", F.col("tbl").cast("int"))
            .crossJoin(F.broadcast(serve))
            .select(
                "vec_id", "tbl", "serve_bits",
                (F.col("bucket") % mask).alias("mb"),
            )
        )
        i = index.crossJoin(F.broadcast(serve)).select(
            "cand_id", "tbl", (F.col("bucket") % mask).alias("mb")
        )
        return {
            (r.vec_id, r.serve_bits, r.n_tables_hit, r.n_candidates,
             r.min_cand)
            for r in p.join(i, ["tbl", "mb"])
            .groupBy("vec_id", "serve_bits")
            .agg(
                F.countDistinct("tbl").alias("n_tables_hit"),
                F.countDistinct("cand_id").alias("n_candidates"),
                F.min("cand_id").alias("min_cand"),
            )
            .collect()
        }

    m1, m2 = match_rows(1), match_rows(2)
    # the serving geometry each batch derived, with the boundary crossed
    assert {r[1] for r in m1} == {4}, sorted(m1)[:3]
    assert {r[1] for r in m2} == {5}, sorted(m2)[:3]
    # the planted exact copy collides with its twin in EVERY table
    dup = [r for r in m1 if r[0] == 1000]
    assert dup and dup[0][2] == S.ADX_TABLES
    # stream == batch twin, bit-for-bit rows
    assert m1 == twin_hits(b0, b1)
    assert m2 == twin_hits(b0 + b1, b2)



def test_scd2_state_stream_matches_batch_across_noop_seams(spark, tmp_path):
    """The streaming SCD2 maintainer must converge to EXACTLY the batch
    builder's versions table over the same change log, with batch seams
    placed on no-op repeats (same status as the user's open version) so
    the cross-boundary collapse is exercised: a seam no-op must not open
    a version. Runs the operational shape end to end — AvailableNow
    backfill over two files, then a live tail on the same checkpoint —
    and finally proves the ledger (not the merge math) is the
    exactly-once dedup: an applied batch id replays as a no-op, a fresh
    id does corrupt (version append is not idempotent)."""
    import json

    from big_data_medical_analysis_spark.operators.etl import (
        scd2_event_log,
        scd2_versions,
    )

    indir = str(tmp_path / "scd2_in")
    state = str(tmp_path / "scd2_state")
    ckpt = str(tmp_path / "scd2_ckpt")
    t = "2024-01-01 00:0{m}:00.000000"
    batch_a = [
        (1, t.format(m=1), 1, "click", 0.0),
        (2, t.format(m=2), 1, "view", 0.0),
        (3, t.format(m=1), 2, "click", 0.0),
    ]
    batch_b = [
        (4, t.format(m=3), 1, "view", 0.0),   # seam no-op vs open 'view'
        (5, t.format(m=4), 1, "click", 0.0),
        (6, t.format(m=3), 2, "click", 0.0),  # seam no-op vs open 'click'
        (7, t.format(m=3), 3, "error", 0.0),  # brand-new user mid-stream
    ]
    batch_c = [
        (8, t.format(m=5), 1, "click", 0.0),  # seam no-op
        (9, t.format(m=5), 2, "view", 0.0),   # real change
        (10, t.format(m=5), 3, "error", 0.0),  # seam no-op
    ]
    _write_events(indir, "a.json", batch_a)
    _write_events(indir, "b.json", batch_b)
    q = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir), SW.make_scd2_state_merger(state),
        ckpt, available_now=True,
    )
    assert q.awaitTermination(120), "availableNow run must terminate"
    _write_events(indir, "c.json", batch_c)
    q = SW.start_foreach_batch(
        SW.read_event_stream(spark, indir), SW.make_scd2_state_merger(state),
        ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    cur = os.path.join(state, "current")
    spark.catalog.refreshByPath(cur)
    streamed = {
        (r.user_id, r.status, r.eff_from, r.eff_to, r.version)
        for r in spark.read.parquet(cur).collect()
    }
    all_ev = spark.createDataFrame(
        batch_a + batch_b + batch_c,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "event_type"
    )
    expected = {
        (r.user_id, r.status, r.eff_from, r.eff_to, r.version)
        for r in scd2_versions(scd2_event_log(all_ev)).collect()
    }
    assert streamed == expected
    # exactly one open version per user, versions dense from 1
    opens = [s for s in streamed if s[3] is None]
    assert sorted(u for u, *_ in opens) == [1, 2, 3]
    for u in (1, 2, 3):
        vs = sorted(v for uu, _, _, _, v in streamed if uu == u)
        assert vs == list(range(1, len(vs) + 1))

    # ledger: applied-id replay is a wholesale no-op
    replay = spark.createDataFrame(
        batch_a,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
                 "event_type")
    merger = SW.make_scd2_state_merger(state)
    with open(os.path.join(cur, SW.HIST_APPLIED_FILE)) as f:
        applied = json.load(f)
    merger(replay, applied[0])
    spark.catalog.refreshByPath(cur)
    again = {
        (r.user_id, r.status, r.eff_from, r.eff_to, r.version)
        for r in spark.read.parquet(cur).collect()
    }
    assert again == streamed
    # control: a FRESH id does corrupt — the ledger is the dedup
    merger(replay, max(applied) + 1)
    spark.catalog.refreshByPath(cur)
    corrupted = {
        (r.user_id, r.status, r.eff_from, r.eff_to, r.version)
        for r in spark.read.parquet(cur).collect()
    }
    assert corrupted != streamed


def test_pit_enrich_stream_matches_batch_enrichment(spark, tmp_path):
    """The stateful live PIT enrichment must tag every purchase with
    exactly the status the batch as-of form derives over the same log,
    including same-second status-then-purchase ties and pre-history
    purchases, across micro-batch boundaries."""
    from big_data_medical_analysis_spark.operators.relational import (
        scd2_pit_enriched,
    )

    indir = str(tmp_path / "pit_in")
    ckpt = str(tmp_path / "pit_ckpt")
    t = "2024-01-01 00:0{m}:{s}.000000"
    batch_a = [
        (1, t.format(m=1, s="00"), 1, "purchase", 10.0),  # pre-history
        (2, t.format(m=1, s="30"), 1, "click", 0.0),
        (3, t.format(m=2, s="00"), 1, "purchase", 20.0),  # click
        (4, t.format(m=2, s="00"), 2, "view", 0.0),
        (5, t.format(m=2, s="00"), 2, "purchase", 5.0),   # same-second view
    ]
    batch_b = [
        (6, t.format(m=3, s="00"), 1, "error", 0.0),
        (7, t.format(m=3, s="30"), 1, "purchase", 7.5),   # error (cross-batch)
        # same second as user 2's batch-a 'view' (eid 4) but SMALLER
        # event_id: the batch tie rule says 'view' wins, so the stream's
        # carried state must NOT regress to 'signup'
        (0, t.format(m=2, s="00"), 2, "signup", 0.0),
        (8, t.format(m=4, s="00"), 2, "purchase", 2.25),  # view carried over
    ]
    _write_events(indir, "a.json", batch_a)
    q = (
        SW.pit_enrich_stream(SW.read_event_stream(spark, indir))
        .writeStream.format("memory")
        .queryName("pit_mem")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        _write_events(indir, "b.json", batch_b)
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r.event_id, r.user_id, r.es, r.status_at, r.v_c)
        for r in spark.sql("SELECT * FROM pit_mem").collect()
    }
    all_ev = spark.createDataFrame(
        batch_a + batch_b,
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double",
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
        "event_type", "value"
    )
    expected = {
        (r.event_id, r.user_id, r.es, r.status_at, r.v_c)
        for r in scd2_pit_enriched(all_ev).collect()
    }
    assert streamed == expected
    # the designed edges actually occurred
    by_eid = {e: s for e, _, _, s, _ in streamed}
    assert by_eid[1] is None        # pre-history emits NULL, like batch
    assert by_eid[5] == "view"      # same-second change applies
    assert by_eid[7] == "error"     # cross-batch state carry
    # view carried over an unrelated batch AND not regressed by the
    # late same-second smaller-eid 'signup' change
    assert by_eid[8] == "view"


def test_range_pair_stream_outer_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched pairs emit as both
    sides arrive; UNMATCHED left rows emit with NULLs only after the
    watermark proves no match can still arrive (eviction-driven) — so
    they are absent right after their own batch and present after a
    watermark-advancing sentinel batch; a row whose window the watermark
    has NOT passed (the sentinel itself) emits nothing."""
    import json as _json
    import os as _os
    import uuid as _uuid

    indir = str(tmp_path / "outer_pairs_in")

    def write(name, rows):
        _os.makedirs(indir, exist_ok=True)
        p = _os.path.join(indir, name)
        with open(p + ".tmp", "w") as f:
            for eid, ts, uid in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": ts,
                            "user_id": uid,
                            "event_type": "click",
                            "value": 1.0,
                        }
                    )
                    + "\n"
                )
        _os.rename(p + ".tmp", p)

    qname = "outer_pairs_" + _uuid.uuid4().hex[:8]
    write(
        "a.json",
        [
            (1, "2024-01-01 01:00:00.000000", 1),
            (2, "2024-01-01 01:00:30.000000", 1),  # pairs with 1; itself unmatched
            (3, "2024-01-01 01:05:00.000000", 2),
        ],
    )
    stream = SW.range_pair_stream_outer(
        SW.read_event_stream(spark, indir),
        SW.read_event_stream(spark, indir),
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got_early = {
            (r.first_event_id, r.next_event_id)
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
        }
        # inner matches emit immediately; no outer rows yet (watermark at 0)
        assert got_early == {(1, 2)}

        write(
            "b.json",
            [
                (4, "2024-01-01 01:05:30.000000", 2),  # pairs with 3
                (5, "2024-01-01 01:10:00.000000", 3),  # never matched
            ],
        )
        q.processAllAvailable()
        # sentinel advances watermark to 08:00 — far past every join window
        write("c.json", [(6, "2024-01-01 09:00:00.000000", 9)])
        q.processAllAvailable()
        # one more batch so the post-eviction outer results flush
        write("d.json", [(7, "2024-01-01 09:30:00.000000", 9)])
        q.processAllAvailable()
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
    finally:
        q.stop()

    matched = {(r.first_event_id, r.next_event_id) for r in rows if r.next_event_id is not None}
    outer = {r.first_event_id for r in rows if r.next_event_id is None}
    assert matched == {(1, 2), (3, 4)}
    # every finalized unmatched left row emitted exactly once with NULLs
    assert {2, 4, 5} <= outer
    # the sentinel rows' windows are NOT finalized — no outer row for them
    assert 6 not in outer and 7 not in outer
    for r in rows:
        if r.next_event_id is None:
            assert r.gap_us is None
    assert len([r for r in rows if r.next_event_id is None]) == len(outer)


def test_tws_idle_session_boundary_event_starts_new_session(spark, tmp_path):
    """ADVICE r11: an event timestamped EXACTLY at the open session's
    expiry (last event + gap) must start a NEW session regardless of
    whether it arrives before or after the watermark fires the timer —
    the timer closes at exactly max_ms + gap and session_window's window
    END is exclusive, so the boundary event belongs to the next session.
    Before the fix the inline path used a strict `>` and would MERGE the
    boundary event into the old session whenever it beat the watermark,
    making output depend on arrival order. Timeline: user 1 at 01:00
    (expiry 01:30); next batch carries user 1 at exactly 01:30 while the
    watermark is still 01:00 → session 1 closes inline (1 event, 01:30)
    and session 2 opens at 01:30 (expiry 02:00); sentinels then advance
    the watermark → session 2 closes by timer (1 event, 02:00)."""
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="transformWithStateInPandas requires protobuf "
        "(pyspark StateMessage_pb2)",
    )
    indir = str(tmp_path / "in")
    qname = "s_" + uuid.uuid4().hex[:8]

    _write_events(
        indir, "a.json", [(1, "2024-01-01 01:00:00.000000", 1, "click", 1.0)]
    )
    with _rocksdb_state_store(spark):
        stream = SW.idle_session_close_tws(SW.read_event_stream(spark, indir))
        q = (
            stream.writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
            # boundary event: EXACTLY at the open session's expiry, arriving
            # while the watermark (01:00) has not yet fired the 01:30 timer
            _write_events(
                indir,
                "b.json",
                [(2, "2024-01-01 01:30:00.000000", 1, "click", 1.0)],
            )
            q.processAllAvailable()
            after_boundary = sorted(
                (r.user_id, r.n_events, r.closed_at_ms)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )
            _write_events(
                indir,
                "c.json",
                [(90, "2024-01-01 05:00:00.000000", 99, "click", 1.0)],
            )
            q.processAllAvailable()
            rows = sorted(
                (r.user_id, r.n_events, r.closed_at_ms)
                for r in spark.sql(f"SELECT * FROM {qname}").collect()
            )
        finally:
            q.stop()

    base = 1704067200000  # 2024-01-01 00:00:00 UTC in ms
    # the old session closed inline at its true expiry with ONLY its own
    # event — the boundary event did NOT merge in
    assert after_boundary == [(1, 1, base + 90 * 60000)]
    # the boundary event's own session then closes by timer at 02:00
    assert rows == [
        (1, 1, base + 90 * 60000),
        (1, 1, base + 120 * 60000),
    ]


def test_pbshim_version_gap_canary():
    """VERDICT r11 task 4: the pbshim tolerates exactly ONE verified
    runtime-behind-gencode skew (same major, gencode at most one minor
    ahead). This canary measures the ACTUAL gap between pyspark's
    StateMessage_pb2 gencode stamp and the protobuf runtime in use and
    FAILS (never skips) if a pyspark upgrade widens it beyond the
    tolerated bound — so TWS coverage can't silently re-gate behind the
    shim. On failure: install a protobuf >= the gencode version (the
    production recipe), or re-verify wire compatibility end-to-end (the
    TWS pytests) before widening the shim's bound."""
    import inspect
    import re

    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm
    from google.protobuf import runtime_version as rv

    m = re.search(
        r"ValidateProtobufRuntimeVersion\(\s*[^,]+,\s*(\d+),\s*(\d+),\s*(\d+)",
        inspect.getsource(sm),
    )
    assert m, (
        "pyspark's StateMessage_pb2 no longer stamps a gencode version — "
        "the pbshim's tolerance check has nothing to validate against; "
        "re-audit tools/pbshim/sitecustomize.py for this pyspark"
    )
    gen_major, gen_minor, _gen_patch = (int(g) for g in m.groups())
    assert gen_major == rv.MAJOR and gen_minor - rv.MINOR <= 1, (
        f"protobuf runtime {rv.MAJOR}.{rv.MINOR}.{rv.PATCH} is more than "
        f"one minor behind pyspark's gencode {gen_major}.{gen_minor} — "
        "outside the verified-compatible skew the pbshim tolerates. "
        "Install protobuf >= the gencode version (production recipe) or "
        "re-verify the TWS wire protocol end-to-end before widening "
        "tools/pbshim/sitecustomize.py"
    )


def test_semdedup_index_stream_kf_growth_mid_stream(spark, tmp_path):
    """Incremental SemDeDup maintainer (VERDICT r14 task 1): three batches
    over the d4 8-vector plant prove every moving part —

    (a) the BOOTSTRAP batch reproduces the batch `_semdedup_screen`'s
        keeper set bit-for-bit (same trajectory, same rank, same screen);
    (b) a planted exact copy of a persisted keeper is pruned by the
        PRIOR-keeper screen (first-arrival seniority), and 130 fillers
        routed into cell 0 are all pruned by prior keepers too (cosine
        0.447 >= tau against every cell-0 keeper) while still COUNTING
        toward the cell's routed total;
    (c) no fine growth happens while prior counts sit under the width
        (batch 1 appends zero centroids), then batch 2 — whose prior
        cell-0 count 136 crosses width 128 — derives kf_target 2 > nf 1
        and APPENDS fine (0, 1) seeded from its first vector, which then
        assigns to itself and is kept (no cluster-mates), while its
        batch-mate lands in fine 0 and is pruned by the bootstrap
        keepers.

    Redelivery and crash recovery are covered by test_sink_crash_matrix."""
    from big_data_medical_analysis_spark.operators import similarity as S

    M = 1_000_000
    base = {
        0: [1.0, 0, 0, 0, 0, 0, 0, 0],
        1: [0, 1.0, 0, 0, 0, 0, 0, 0],
        2: [0, 1e-6, 1.0, 0, 0, 0, 0, 0],
        3: [0, 1e-6, 0, 1.0, 0, 0, 0, 0],
        4: [1.0, 0, 0, 0, 2.0, 0, 0, 0],
        5: [1.0, 0, 0, 0, 0, 2.0, 0, 0],
        6: [1.0, 0, 0, 0, 0, 0, 2.0, 0],
        7: [1.0, 0, 0, 0, 0, 0, 0, 2.0],
    }
    b0 = sorted(base.items())
    # batch 1: an exact copy of keeper 4 + 130 near-axis fillers, all
    # routing to cell 0 (close to the coarse centroid's axis), all pruned
    # by the persisted cell-0 keepers (cosine ~0.447 >= tau 0.25)
    b1 = [(1000, base[4])] + [
        (1001 + i, [3.0, (i + 1) * 1e-6, 0, 0, 0, 0, 0, 0]) for i in range(130)
    ]
    # batch 2: 2000 seeds the growth centroid (first by vec_id) and keeps;
    # 2001 assigns to fine 0 and is pruned by bootstrap keeper 4
    b2 = [(2000, [5.0, 0, 0, 0, 0, 0, 0, 0]),
          (2001, [1.0, 0, 0, 0, 4.0, 0, 0, 0])]

    indir = str(tmp_path / "sd_in")
    state_dir = str(tmp_path / "sd_state")
    stats_dir = str(tmp_path / "sd_stats")
    ckpt = str(tmp_path / "sd_ckpt")

    def write_batch(name, rows):
        os.makedirs(indir, exist_ok=True)
        with open(os.path.join(indir, name + ".tmp"), "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid,
                                    "embedding": [float(x) for x in emb]})
                        + "\n")
        os.replace(os.path.join(indir, name + ".tmp"),
                   os.path.join(indir, name))

    for name, rows in (("a.json", b0), ("b.json", b1), ("c.json", b2)):
        write_batch(name, rows)
        q = SW.start_foreach_batch(
            SW.read_embeddings_stream(spark, indir),
            SW.make_semdedup_maintainer(state_dir, stats_dir),
            ckpt,
            available_now=True,
        )
        assert q.awaitTermination(300)

    def keepers(batch_id=None):
        spark.catalog.refreshByPath(os.path.join(state_dir, "keepers"))
        df = spark.read.parquet(os.path.join(state_dir, "keepers"))
        if batch_id is not None:
            df = df.filter(F.col("ingest_batch") == batch_id)
        return {(r.vec_id, r.cluster, r.d) for r in df.collect()}

    def fines(batch_id=None):
        spark.catalog.refreshByPath(os.path.join(state_dir, "fines"))
        df = spark.read.parquet(os.path.join(state_dir, "fines"))
        if batch_id is not None:
            df = df.filter(F.col("ingest_batch") == batch_id)
        return {(r.cell, r.fine) for r in df.collect()}

    def stats(batch_id):
        spark.catalog.refreshByPath(stats_dir)
        return spark.read.parquet(stats_dir).filter(
            F.col("batch_id") == batch_id
        ).collect()[0]

    # (a) bootstrap == batch twin, bit-for-bit keeper triples
    vm0 = spark.createDataFrame(
        [(i, [int(round(x * M)) for x in v]) for i, v in b0],
        "vec_id long, v array<long>",
    )
    assign, pruned = S._semdedup_screen(vm0)
    twin = {
        (r.vec_id, r.cluster, r.d)
        for r in assign.join(pruned, ["cluster", "vec_id"], "left_anti")
        .collect()
    }
    k0 = keepers(0)
    assert k0 == twin
    assert {r[0] for r in k0} == {1, 2, 3, 4, 5, 6, 7}  # v0 pruned

    # (b) the exact copy and every filler are pruned by prior keepers
    assert keepers(1) == set()
    s1 = stats(1)
    assert s1.n_routed == 131 and s1.n_kept == 0
    assert s1.n_pruned_prior == 131  # every batch-1 vector matches a keeper
    # (c) growth timing: none at batch 1, exactly fine (0, 1) at batch 2
    assert fines(1) == set()
    assert fines(2) == {(0, 1)}
    assert fines() == {(0, 0), (1, 0), (0, 1)}
    k2 = keepers(2)
    assert {r[0] for r in k2} == {2000}
    assert {r[1] for r in k2} == {0 * S.SEMDEDUP_CELL_SHIFT + 1}
    s2 = stats(2)
    assert (s2.n_routed, s2.n_pruned_prior, s2.n_kept) == (2, 1, 1)


# ---------------------------------------------------------------------------
# Fault-injection matrix over every exactly-once foreachBatch sink
# ---------------------------------------------------------------------------


class _Crash(Exception):
    """A sink killed between two of its durable steps."""


@contextlib.contextmanager
def _durable_steps(monkeypatch, crash_at=None):
    """Record every durable step a sink takes — parquet writes, ledger
    dumps, renames, deletes — and raise ``_Crash`` in place of step
    ``crash_at`` (1-based), so exactly the earlier steps are on disk."""
    from pyspark.sql.readwriter import DataFrameWriter

    steps: list[str] = []

    def hook(name, fn):
        def step(*args, **kwargs):
            steps.append(name)
            if len(steps) == crash_at:
                raise _Crash(f"killed before step {crash_at} ({name})")
            return fn(*args, **kwargs)

        return step

    with monkeypatch.context() as m:
        for owner, name in (
            (DataFrameWriter, "parquet"),
            (json, "dump"),
            (os, "replace"),
            (shutil, "rmtree"),
        ):
            m.setattr(owner, name, hook(name, getattr(owner, name)))
        yield steps


def _sink_state(root) -> dict:
    """Everything a sink left under ``root``: each committed parquet table
    (a dir holding ``_SUCCESS``, partition subdirs included) as a row
    multiset, each JSON ledger's content, and every other file or empty
    dir by path — so a stray staging/old copy or partial table shows.
    Tables are read with pyarrow: no Spark job per snapshot."""
    import pyarrow.parquet as pq

    out: dict = {}
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        for f in files:
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out[os.path.join(rel, f)] = json.load(fh)
        if "_SUCCESS" in files:
            out[rel] = collections.Counter(
                tuple(
                    (k, tuple(v) if isinstance(v, list) else v)
                    for k, v in sorted(r.items())
                )
                for r in pq.read_table(d).to_pylist()
            )
            dirs[:] = []
        elif not dirs and not files:
            out[rel] = "empty dir"
        else:
            out.update(
                (os.path.join(rel, f), "file")
                for f in files
                if not f.startswith(".") and not f.endswith(".json")
            )
    return out


def _sink_batches(spark, kind: str) -> list:
    """Three small input batches per sink input kind; later batches repeat
    earlier rows, so every probe and fold has something to hit."""
    import random

    if kind == "events":
        return [
            spark.createDataFrame(
                [
                    (100 * b + i, f"2024-01-0{b + 1} 0{i % 9}:00:00", i % 5,
                     ("click", "view", "error")[(i + b) % 3], 1.0 + i)
                    for i in range(30)
                ],
                "event_id long, ts_s string, user_id long, event_type string,"
                " value double",
            ).selectExpr(
                "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id",
                "event_type", "value",
            )
            for b in range(3)
        ]
    if kind == "docs":
        t = ["alpha beta gamma delta epsilon", "one two three four five six",
             "red green blue yellow purple",
             "totally different words entirely here"]
        return [
            spark.createDataFrame(rows, "doc_id long, text string, source string")
            for rows in (
                [(1, t[0], "s1"), (2, t[1], "s1"), (3, t[2], "s2")],
                [(10, t[0], "s3"), (11, t[3], "s3")],
                [(20, t[1], "s4"), (21, t[3], "s4")],
            )
        ]
    if kind == "emb64":
        rng = random.Random(5)

        def vec():
            return [rng.uniform(-1, 1) for _ in range(64)]

        b0 = [(i, vec()) for i in range(6)]
        b1 = [(10, b0[0][1]), (11, vec()), (12, vec())]
        batches = [b0, b1, [(20, b1[1][1]), (21, vec())]]
    else:  # "emb8": axis plant for the SemDeDup cell/fine screen
        v100 = [1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0, 0.0]
        batches = [
            [(i, [float(j == i) for j in range(8)]) for i in range(8)],
            [(100, v100), (101, [0.0, 1.0, 0.0, 0.0, 0.0, 2.0, 0.0, 0.0])],
            [(200, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 2.0, 0.0]), (201, v100)],
        ]
    return [
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for rows in batches
    ]


_SINKS = {
    "hll": ("events", SW.make_hll_state_merger),
    "hist": ("events", SW.make_hist_state_merger),
    "scd2": ("events", SW.make_scd2_state_merger),
    "pmh": ("docs", lambda r: SW.make_pmh_index_appender(
        os.path.join(r, "index"), os.path.join(r, "matches"))),
    "ann": ("emb64", lambda r: SW.make_ann_index_appender(
        os.path.join(r, "index"), os.path.join(r, "matches"))),
    "adx": ("emb64", lambda r: SW.make_adx_index_appender(
        os.path.join(r, "index"), os.path.join(r, "matches"))),
    "semdedup": ("emb8", lambda r: SW.make_semdedup_maintainer(
        os.path.join(r, "state"), os.path.join(r, "stats"))),
}


@pytest.mark.parametrize("sink", list(_SINKS))
def test_sink_crash_matrix(spark, tmp_path, monkeypatch, sink):
    """Every exactly-once foreachBatch sink, killed before each of its
    durable steps (parquet write, ledger dump, rename, delete) in the
    bootstrap batch and in a later batch, then replayed with the same
    (data, batch_id), must leave EXACTLY the state of a clean run: the
    same committed tables, the same ledger, no leftover dir. Killed after
    its last step is the redelivery of a committed batch whose commit the
    checkpoint never recorded; a committed batch redelivered after a
    LATER batch committed must change nothing either (every read is
    prior-batch only).

    The swap mergers also recover from leftover states no single crash
    leaves: a missing ``current`` with ``staging_9`` and ``staging_10``
    (the numeric sort must promote staging_10; lexicographic order would
    pick staging_9), and a staging dir whose table landed but whose
    ledger did not (never promoted: the displaced old copy is restored
    and the batch folded once)."""
    kind, make = _SINKS[sink]
    batches = _sink_batches(spark, kind)

    def run(root, b, crash_at=None):
        fn = make(str(root))
        with _durable_steps(monkeypatch, crash_at) as steps, \
                contextlib.suppress(_Crash):
            fn(batches[b], b)
        return steps

    def replayed(root, b):
        run(root, b)
        return _sink_state(str(root))

    clean, n_steps = [], []
    for b in range(len(batches)):
        n_steps.append(len(run(tmp_path / "clean", b)))
        shutil.copytree(tmp_path / "clean", tmp_path / f"clean_{b}")
        clean.append(_sink_state(str(tmp_path / "clean")))
    assert clean[0] and clean[0] != clean[1] != clean[2]  # every batch counts

    for b in (0, 1):
        for k in range(1, n_steps[b] + 2):
            case = tmp_path / f"b{b}_k{k}"
            if b:
                shutil.copytree(tmp_path / f"clean_{b - 1}", case)
            assert len(run(case, b, crash_at=k)) == min(k, n_steps[b])
            assert replayed(case, b) == clean[b], f"batch {b} killed at step {k}"

    shutil.copytree(tmp_path / "clean_2", tmp_path / "late")
    assert replayed(tmp_path / "late", 1) == clean[2]

    if kind == "events":  # the swap mergers' hand-built leftovers
        def current(b):
            return tmp_path / f"clean_{b}" / "current"

        case = tmp_path / "staging_9_10"
        shutil.copytree(current(0), case / "staging_9")
        shutil.copytree(current(1), case / "staging_10")
        assert replayed(case, 0) == clean[1]

        case = tmp_path / "unledgered_staging"
        shutil.copytree(current(0), case / "old_1")
        shutil.copytree(current(1), case / "staging_1")
        os.remove(case / "staging_1" / SW.HIST_APPLIED_FILE)
        assert replayed(case, 1) == clean[1]
