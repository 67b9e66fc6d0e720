"""VERDICT r10 #5: streaming_mv_refresh's documented production body —
the exactly-once foreachBatch fold landing in a REAL warehouse table
via `upsert` — exercised end-to-end and pinned equal to the registered
plan's driver-dict result."""

from __future__ import annotations

from datetime import datetime

import pandas as pd
import pytest

from compendium_spark.storage import Warehouse
from compendium_spark.storage_versioned import PARTITION_SPEC, VersionedWarehouse
from compendium_spark.streaming.windows import (
    MV_HOURLY_SCHEMA,
    mv_refresh_updates,
    mv_refresh_versioned_sink,
    read_events_stream,
    run_mv_refresh_versioned,
    streaming_mv_refresh,
)

from .conftest import SF_ORACLE

BATCH_SCHEMA = "hour timestamp, event_type string, value double"
H0 = datetime(2024, 1, 1, 10)


def _vwh(spark, tmp_path):
    return VersionedWarehouse(
        spark,
        str(tmp_path / "vwh"),
        extra_tables={"mv_hourly": MV_HOURLY_SCHEMA},
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, BATCH_SCHEMA)


def _mv_state(vwh):
    return {
        (r.hour, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in vwh.read("mv_hourly").collect()
    }


def test_versioned_mv_equals_driver_dict(spark, tmp_path):
    """End-to-end: the exactly-once versioned sink drains the same
    stream to the same MV state as the registered plan's driver dict."""
    vwh = _vwh(spark, tmp_path)
    stored = run_mv_refresh_versioned(
        mv_refresh_updates(read_events_stream(spark, SF_ORACLE)), vwh
    )
    got = (
        stored.toPandas()
        .assign(total_value=lambda d: d.total_value.round(4))
        .sort_values(["hour", "event_type"], ignore_index=True)
    )
    want = (
        streaming_mv_refresh(spark, SF_ORACLE)
        .toPandas()
        .assign(total_value=lambda d: d.total_value.round(4))
        .sort_values(["hour", "event_type"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    assert len(got) > 0


def test_warehouse_mv_equals_driver_dict(spark, tmp_path):
    """The documented production body through the CLI's `storage.Warehouse`
    name: the drained MV, read back from a freshly opened warehouse on
    the same root, equals the registered plan's driver-dict state
    (same add-merge invariant), modulo the plan's 4-dp emit
    quantization."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root, extra_tables={"mv_hourly": MV_HOURLY_SCHEMA})
    run_mv_refresh_versioned(
        mv_refresh_updates(read_events_stream(spark, SF_ORACLE)), wh
    )
    reopened = Warehouse(spark, root, extra_tables={"mv_hourly": MV_HOURLY_SCHEMA})
    got = (
        reopened.read("mv_hourly")
        .toPandas()
        .assign(total_value=lambda d: d.total_value.round(4))
        .sort_values(["hour", "event_type"], ignore_index=True)
    )
    want = (
        streaming_mv_refresh(spark, SF_ORACLE)
        .toPandas()
        .assign(total_value=lambda d: d.total_value.round(4))
        .sort_values(["hour", "event_type"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=False, atol=1e-9)
    assert len(got) > 0


def test_versioned_mv_fold_is_additive(spark, tmp_path):
    """Draining the SAME stream twice, under two writer app ids,
    doubles every count and sum — the fold is add-merge on stored
    state (a second producer's data is new data, not an idempotent
    overwrite); only a replay under the SAME app id is skipped."""
    vwh = _vwh(spark, tmp_path)
    once = run_mv_refresh_versioned(
        mv_refresh_updates(read_events_stream(spark, SF_ORACLE)), vwh
    ).toPandas()
    twice = run_mv_refresh_versioned(
        mv_refresh_updates(read_events_stream(spark, SF_ORACLE)), vwh,
        app_id="mv_fold_second",
    ).toPandas()
    m = once.merge(twice, on=["hour", "event_type"], suffixes=("_1", "_2"))
    assert len(m) == len(once) == len(twice)
    assert (m.n_events_2 == 2 * m.n_events_1).all()
    assert (m.total_value_2 - 2 * m.total_value_1).abs().max() < 1e-6


def test_extra_table_is_isolated(spark, tmp_path):
    """extra_tables extends one Warehouse instance only: the reference
    nine stay intact, other instances still reject the MV name, and
    the MV stays unpartitioned unless added to PARTITION_SPEC."""
    wh = _vwh(spark, tmp_path)
    assert set(wh.tables) >= {"samples", "status", "mv_hourly"}
    assert "mv_hourly" not in PARTITION_SPEC
    wh.init_tables()
    assert wh.manifest("mv_hourly", 0)["pcol"] is None
    plain = VersionedWarehouse(spark, str(tmp_path / "wh2"))
    with pytest.raises(KeyError):
        plain.read("mv_hourly")


# ---------------------------------------------------------------------------
# round 11: exactly-once fold via writer txns
# ---------------------------------------------------------------------------


def test_replayed_batch_is_skipped(spark, tmp_path):
    """THE exactly-once pin: re-delivering a micro-batch with the same
    batch_id (Structured Streaming's crash-recovery behavior for a
    batch whose offsets never committed) leaves the MV unchanged,
    while the same data under a NEW batch_id folds in again."""
    vwh = _vwh(spark, tmp_path)
    sink = mv_refresh_versioned_sink(vwh)
    b0 = _batch(spark, [(H0, "click", 1.0), (H0, "click", 2.0)])
    sink(b0, 0)
    after_first = _mv_state(vwh)
    assert after_first[(H0, "click")] == (2, 3.0)

    sink(b0, 0)  # replay: same batch_id -> must be a no-op
    assert _mv_state(vwh) == after_first
    assert vwh.latest("mv_hourly") == 0  # not even an empty commit

    sink(b0, 1)  # same DATA, new batch_id -> legitimately folds again
    assert _mv_state(vwh)[(H0, "click")] == (4, 6.0)
    # out-of-order replay of an OLD batch after newer ones landed
    sink(b0, 0)
    assert _mv_state(vwh)[(H0, "click")] == (4, 6.0)


def test_txn_survives_unrelated_commits(spark, tmp_path):
    """The txn map rides every manifest: an unrelated append after the
    transactional fold must not lose the replay marker."""
    vwh = _vwh(spark, tmp_path)
    sink = mv_refresh_versioned_sink(vwh)
    sink(_batch(spark, [(H0, "view", 5.0)]), 7)
    assert vwh.last_txn_version("mv_hourly", "mv_fold") == 7
    vwh.append(
        "mv_hourly",
        spark.createDataFrame([(H0, "manual", 1, 1.0)], MV_HOURLY_SCHEMA),
    )
    assert vwh.last_txn_version("mv_hourly", "mv_fold") == 7
    state = _mv_state(vwh)
    sink(_batch(spark, [(H0, "view", 5.0)]), 7)  # replay after the append
    assert _mv_state(vwh) == state


def test_empty_transactional_batch_records_progress(spark, tmp_path):
    """An EMPTY micro-batch still advances the txn version (all files
    carried, nothing written) so its replay is detected like any
    other; app_ids are independent."""
    vwh = _vwh(spark, tmp_path)
    sink = mv_refresh_versioned_sink(vwh)
    sink(_batch(spark, [(H0, "click", 1.0)]), 0)
    sink(_batch(spark, []), 1)
    assert vwh.last_txn_version("mv_hourly", "mv_fold") == 1
    assert vwh.last_txn_version("mv_hourly", "other_app") is None
    assert _mv_state(vwh)[(H0, "click")] == (1, 1.0)


# ---------------------------------------------------------------------------
# round 12 (ADVICE r11): the check-then-commit window is actually closed
# ---------------------------------------------------------------------------


class _RaceInjector(VersionedWarehouse):
    """Fires a rival commit INSIDE the sink's observation→commit window
    (after latest()/manifest()/read() ran against the pinned base,
    immediately before our own upsert) — the exact interleaving ADVICE
    r11 flagged as unprotected."""

    rival = None

    def upsert(self, name, updates, key, txn=None, **kw):
        if self.rival is not None:
            fire, self.rival = self.rival, None
            fire()
        return super().upsert(name, updates, key, txn=txn, **kw)


def _race_pair(spark, tmp_path):
    root = str(tmp_path / "vwh")
    ours = _RaceInjector(
        spark, root, extra_tables={"mv_hourly": MV_HOURLY_SCHEMA}
    )
    rival = VersionedWarehouse(
        spark, root, extra_tables={"mv_hourly": MV_HOURLY_SCHEMA}
    )
    return ours, rival


def test_rival_replica_same_batch_not_double_folded(spark, tmp_path):
    """A zombie replica replaying the SAME batch_id commits between our
    skip check and our commit: the pinned base forces our commit to
    lose the O_EXCL race, the re-observe sees the batch recorded, and
    we skip — the batch folds EXACTLY once (the old code committed on
    top of the rival and double-folded)."""
    ours, rival = _race_pair(spark, tmp_path)
    b0 = _batch(spark, [(H0, "click", 1.0), (H0, "click", 2.0)])
    ours.rival = lambda: mv_refresh_versioned_sink(rival)(b0, 0)
    mv_refresh_versioned_sink(ours)(b0, 0)
    assert _mv_state(ours)[(H0, "click")] == (2, 3.0)  # once, not twice
    assert ours.latest("mv_hourly") == 0  # only the rival's commit
    assert ours.last_txn_version("mv_hourly", "mv_fold") == 0


def test_rival_unrelated_writer_not_clobbered(spark, tmp_path):
    """An UNRELATED writer's commit inside the window must not be lost:
    our fold was computed against the pre-rival snapshot, so the
    conflict forces a re-fold against the rival's state — both writes
    survive (the old code silently clobbered the rival's touched
    keys)."""
    ours, rival = _race_pair(spark, tmp_path)
    ours.rival = lambda: rival.upsert(
        "mv_hourly",
        spark.createDataFrame([(H0, "click", 10, 50.0)], MV_HOURLY_SCHEMA),
        key=["hour", "event_type"],
    )
    mv_refresh_versioned_sink(ours)(
        _batch(spark, [(H0, "click", 1.0)]), 0
    )
    # the rival's 10 events + our 1, folded on the rival's state
    assert _mv_state(ours)[(H0, "click")] == (11, 51.0)
    assert ours.latest("mv_hourly") == 1
    assert ours.last_txn_version("mv_hourly", "mv_fold") == 0


def test_concurrent_replicas_fold_exactly_once(spark, tmp_path):
    """Three replicas concurrently deliver the SAME batch sequence
    (the at-least-once worst case: every batch replayed by every
    replica, interleaved arbitrarily by real threads). The txn
    protocol + pinned-base commits must fold each batch id exactly
    once — the final MV equals a single clean fold, regardless of who
    won which race."""
    import threading

    root = str(tmp_path / "vwh")

    def handle():
        return VersionedWarehouse(
            spark, root, extra_tables={"mv_hourly": MV_HOURLY_SCHEMA}
        )

    batches = [
        (0, [(H0, "click", 1.0), (H0, "click", 2.0)]),
        (1, [(H0, "view", 5.0)]),
        (2, [(H0, "click", 4.0), (H0, "view", 0.5)]),
    ]
    errors: list[BaseException] = []

    def replica() -> None:
        try:
            sink = mv_refresh_versioned_sink(handle())
            for bid, rows in batches:
                sink(_batch(spark, rows), bid)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=replica) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    vwh = handle()
    assert _mv_state(vwh) == {
        (H0, "click"): (3, 7.0),
        (H0, "view"): (2, 5.5),
    }
    assert vwh.last_txn_version("mv_hourly", "mv_fold") == 2
