"""Partition-pruned merge IO (VERDICT r9 #5): prove with file-level
evidence that `Warehouse.partial_update` on a partitioned table
rewrites ONLY the partitions holding updated keys — the property that
makes a per-project sweep O(project), not O(warehouse), at 100 TB.

The evidence is the snapshot manifests: a merge's new snapshot lists
the untouched partitions' data files BY REFERENCE (the same paths as
the base snapshot), so ``diff(name, v, v + 1)`` names only files of
the touched partitions.

Pinned on `samples` (partitioned by taxon — the fact table whose
enrichment sweeps are the scale concern) rather than `status`, which
stays deliberately unpartitioned: it is a |projects|-row control
table, and hive-partitioning it would make one directory per row.
"""

from __future__ import annotations

import datetime

import pytest

from compendium_spark.schemas import SAMPLES
from compendium_spark.storage import Warehouse
from compendium_spark.storage_versioned import PARTITION_SPEC


def _mk_samples(spark, rows):
    return spark.createDataFrame(
        [
            (
                srs,
                project,
                taxon,
                None,
                None,
                None,
                None,
                None,
                None,
                None,
            )
            for srs, project, taxon in rows
        ],
        SAMPLES,
    )


def _partition(rel: str) -> str:
    """The hive partition segment (``taxon=...``) of a manifest path."""
    return next(seg for seg in rel.split("/") if seg.startswith("taxon="))


def _merge_diff(wh, merge) -> tuple[set[str], set[str]]:
    """Run ``merge()`` and return the partitions of the files the new
    snapshot added and removed (empty sets if nothing committed)."""
    v = wh.latest("samples")
    merge()
    if wh.latest("samples") == v:
        return set(), set()
    added, removed = wh.diff("samples", v, v + 1)
    return {_partition(f) for f in added}, {_partition(f) for f in removed}


def _live_partitions(wh) -> set[str]:
    v = wh.latest("samples")
    return {_partition(f) for f in wh.manifest("samples", v)["files"]}


@pytest.fixture()
def wh(spark, tmp_path):
    w = Warehouse(spark, str(tmp_path / "warehouse"))
    w.write(
        "samples",
        _mk_samples(
            spark,
            [
                ("SRS1", "PRJ1", "txidA"),
                ("SRS2", "PRJ1", "txidA"),
                ("SRS3", "PRJ2", "txidB"),
                ("SRS4", "PRJ2", "txidB"),
                ("SRS5", "PRJ3", "txidC"),
            ],
        ),
    )
    return w


def test_samples_is_partitioned(wh):
    assert PARTITION_SPEC["samples"] == "taxon"
    assert _live_partitions(wh) == {"taxon=txidA", "taxon=txidB", "taxon=txidC"}


def test_partial_update_rewrites_only_touched_partitions(wh, spark):
    """The IO contract: updating keys that live in ONE partition
    carries every other partition's data files into the new snapshot
    by reference — they were never read wide, never rewritten."""
    updates = spark.createDataFrame(
        [("SRS3", "AMPLICON")], "srs string, library_strategy string"
    )
    added, removed = _merge_diff(
        wh, lambda: wh.partial_update("samples", updates, key="srs")
    )
    assert added == {"taxon=txidB"}, "files outside the touched partition were written"
    assert removed == {"taxon=txidB"}, "the touched partition was not rewritten"

    # and the merge itself is correct: non-null field overwrote, the
    # sibling row in the same partition survived untouched
    rows = {r.srs: r for r in wh.read("samples").collect()}
    assert rows["SRS3"].library_strategy == "AMPLICON"
    assert rows["SRS3"].project == "PRJ2"  # unmentioned column kept
    assert rows["SRS4"].library_strategy is None
    assert len(rows) == 5


def test_partial_update_unknown_key_is_noop(wh, spark):
    """The reference's silently-no-op UPDATE (SURVEY §7.4): an update
    for an unknown key touches NOTHING — no new snapshot is committed."""
    v = wh.latest("samples")
    updates = spark.createDataFrame(
        [("SRS999", "AMPLICON")], "srs string, library_strategy string"
    )
    wh.partial_update("samples", updates, key="srs")
    assert wh.latest("samples") == v


def test_partial_update_rejects_partition_column_change(wh, spark):
    """Rows must never MOVE partitions under a pruned merge: updating
    the partition column is refused loudly."""
    updates = spark.createDataFrame(
        [("SRS3", "txidZ")], "srs string, taxon string"
    )
    with pytest.raises(ValueError, match="partition column"):
        wh.partial_update("samples", updates, key="srs")


def test_partial_update_multi_partition_touch(wh, spark):
    """Updates spanning two taxa rewrite exactly those two partitions."""
    ts = datetime.datetime(2021, 3, 4, tzinfo=datetime.timezone.utc)
    updates = spark.createDataFrame(
        [("SRS1", ts), ("SRS5", ts)], "srs string, pubdate timestamp"
    )
    added, removed = _merge_diff(
        wh, lambda: wh.partial_update("samples", updates, key="srs")
    )
    assert added == removed == {"taxon=txidA", "taxon=txidC"}
    got = {r.srs: r.pubdate for r in wh.read("samples").collect()}
    assert got["SRS1"] is not None and got["SRS5"] is not None
    assert got["SRS2"] is None


def test_upsert_partition_move_no_duplicate(wh, spark):
    """ADVICE r10 #1: a full-row upsert that moves a key to a NEW
    taxon must remove the old row from its old partition — the merged
    set includes the partitions currently holding the updated keys,
    not just the partitions named by the updates."""
    updates = _mk_samples(spark, [("SRS1", "PRJ1", "txidZ")])
    wh.upsert("samples", updates, key="srs")
    rows = wh.read("samples").collect()
    assert len(rows) == 5, "moved key duplicated across partitions"
    by_key = {r.srs: r.taxon for r in rows}
    assert by_key["SRS1"] == "txidZ"
    assert by_key["SRS2"] == "txidA"  # sibling stayed put


def test_upsert_move_empties_source_partition(wh, spark):
    """Moving the ONLY row out of a partition leaves no file of that
    partition in the new snapshot — stale rows cannot survive there."""
    updates = _mk_samples(spark, [("SRS5", "PRJ3", "txidA")])
    added, removed = _merge_diff(
        wh, lambda: wh.upsert("samples", updates, key="srs")
    )
    assert "taxon=txidC" in removed and "taxon=txidC" not in added
    assert "taxon=txidC" not in _live_partitions(wh), "emptied partition left in the snapshot"
    rows = {r.srs: r.taxon for r in wh.read("samples").collect()}
    assert rows == {
        "SRS1": "txidA",
        "SRS2": "txidA",
        "SRS3": "txidB",
        "SRS4": "txidB",
        "SRS5": "txidA",
    }


def test_upsert_partition_stable_prunes_io(wh, spark):
    """A partition-stable upsert (key stays in its taxon) still only
    rewrites the touched partition — the move guard's key→partition
    mapping scan must not widen the write set."""
    updates = _mk_samples(spark, [("SRS3", "PRJ2-renamed", "txidB")])
    added, removed = _merge_diff(
        wh, lambda: wh.upsert("samples", updates, key="srs")
    )
    assert added == removed == {"taxon=txidB"}, "untouched partitions rewritten"
    rows = {r.srs: r.project for r in wh.read("samples").collect()}
    assert rows["SRS3"] == "PRJ2-renamed"
    assert len(rows) == 5


def test_upsert_new_key_new_partition(wh, spark):
    """Inserting a brand-new key under a brand-new taxon creates its
    partition without touching the rest."""
    updates = _mk_samples(spark, [("SRS9", "PRJ9", "txidQ")])
    added, removed = _merge_diff(
        wh, lambda: wh.upsert("samples", updates, key="srs")
    )
    assert added == {"taxon=txidQ"} and removed == set()
    assert len(wh.read("samples").collect()) == 6
