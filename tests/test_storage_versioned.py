"""VersionedWarehouse: snapshot isolation, time travel, file-level
copy-on-write, optimistic concurrency, rollback, diff, vacuum — the
Delta/Iceberg behaviors (VERDICT r10 "missing" #3) implemented
natively on the parquet layout, each pinned at the FILE level where it
matters (COW carry-forward is asserted path-identical, which is
stronger than byte-identity: untouched partitions are not rewritten,
they are the same files)."""

from __future__ import annotations

import json

import pytest

from compendium_spark.schemas import SAMPLES
from compendium_spark.storage_versioned import (
    VersionConflictError,
    VersionedWarehouse,
)


def _mk_samples(spark, rows):
    return spark.createDataFrame(
        [
            (srs, project, taxon, None, strat, None, None, None, None, None)
            for srs, project, taxon, strat in rows
        ],
        SAMPLES,
    )


BASE = [
    ("SRS1", "PRJ1", "txidA", None),
    ("SRS2", "PRJ1", "txidA", None),
    ("SRS3", "PRJ2", "txidB", None),
    ("SRS4", "PRJ3", "txidC", None),
]


@pytest.fixture()
def vwh(spark, tmp_path):
    w = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    assert w.write("samples", _mk_samples(spark, BASE)) == 0
    return w


def _state(vwh, version=None):
    return {
        r.srs: (r.taxon, r.library_strategy)
        for r in vwh.read("samples", version).collect()
    }


def test_time_travel_reads_every_snapshot(vwh, spark):
    """Three commits; each version reconstructs exactly its state."""
    v1 = vwh.partial_update(
        "samples",
        spark.createDataFrame(
            [("SRS3", "AMPLICON")], "srs string, library_strategy string"
        ),
        key="srs",
    )
    v2 = vwh.upsert(
        "samples", _mk_samples(spark, [("SRS9", "PRJ9", "txidZ", "WGS")]), "srs"
    )
    assert (v1, v2) == (1, 2)
    assert _state(vwh, 0)["SRS3"] == ("txidB", None)
    assert _state(vwh, 1)["SRS3"] == ("txidB", "AMPLICON")
    assert "SRS9" not in _state(vwh, 1)
    assert _state(vwh, 2)["SRS9"] == ("txidZ", "WGS")
    assert _state(vwh) == _state(vwh, 2)  # default = latest
    assert vwh.versions("samples") == [0, 1, 2]


def test_cow_carries_untouched_partition_files_by_reference(vwh, spark):
    """A merge touching only taxon=txidB lists txidA's and txidC's
    files UNCHANGED in the new manifest — same paths, no rewrite."""
    m0 = vwh.manifest("samples", 0)
    vwh.partial_update(
        "samples",
        spark.createDataFrame(
            [("SRS3", "AMPLICON")], "srs string, library_strategy string"
        ),
        key="srs",
    )
    m1 = vwh.manifest("samples", 1)
    untouched0 = {f for f in m0["files"] if "taxon=txidB" not in f}
    untouched1 = {f for f in m1["files"] if "taxon=txidB" not in f}
    assert untouched0 == untouched1 and untouched0, (
        "untouched partitions must carry forward by file reference"
    )
    touched0 = {f for f in m0["files"] if "taxon=txidB" in f}
    touched1 = {f for f in m1["files"] if "taxon=txidB" in f}
    assert touched0.isdisjoint(touched1), "touched partition not rewritten"


def test_upsert_partition_move_across_snapshots(vwh, spark):
    """The upsert move guard holds across snapshots: moving SRS4
    (txidC's only row) to txidA yields one SRS4 at latest, and txidC's
    file is absent from the new manifest; the OLD snapshot still time-
    travels to the pre-move state."""
    vwh.upsert(
        "samples", _mk_samples(spark, [("SRS4", "PRJ3", "txidA", None)]), "srs"
    )
    latest = _state(vwh)
    assert latest["SRS4"] == ("txidA", None)
    assert len(latest) == 4, "moved key duplicated"
    assert not any(
        "taxon=txidC" in f for f in vwh.manifest("samples", 1)["files"]
    )
    assert _state(vwh, 0)["SRS4"] == ("txidC", None)  # history intact


def test_concurrent_commit_conflict(vwh, spark):
    """Two writers prepared against the same base snapshot (base=0):
    the rival publishes version 1 inside our read→commit window;
    our commit at base+1 must hit the O_EXCL create, clean up its
    orphaned data dir, and raise — never silently land at version 2
    with reads computed against version 0 (lost-update)."""
    base = vwh.latest("samples")  # our reads are computed against this
    carried = vwh.manifest("samples", base)["files"]
    log = vwh._logdir("samples")
    # rival wins the race: publishes base+1 before we commit
    (log / "00000001.json").write_text(
        json.dumps(vwh.manifest("samples", 0) | {"version": 1, "op": "rival"})
    )
    with pytest.raises(VersionConflictError):
        vwh._commit(
            "samples",
            _mk_samples(spark, [("SRS8", "PRJ8", "txidA", None)]),
            carried,
            "append",
            "taxon",
            base=base,
        )
    # loser's orphaned data files were cleaned up: everything on disk
    # is referenced by a retained manifest
    tdir = vwh._tdir("samples")
    on_disk = {
        str(p.relative_to(tdir)) for p in tdir.rglob("*.parquet")
    }
    referenced = set()
    for ver in vwh.versions("samples"):
        referenced.update(vwh.manifest("samples", ver)["files"])
    assert on_disk <= referenced
    # a retry against the NEW latest succeeds at version 2
    v = vwh.append(
        "samples", _mk_samples(spark, [("SRS8", "PRJ8", "txidA", None)])
    )
    assert v == 2
    assert "SRS8" in _state(vwh)


def test_rollback_is_a_new_commit(vwh, spark):
    vwh.upsert(
        "samples", _mk_samples(spark, [("SRS9", "PRJ9", "txidZ", None)]), "srs"
    )
    v = vwh.rollback("samples", 0)
    assert v == 2
    assert _state(vwh) == _state(vwh, 0)
    # history immutable: v1 still readable, manifest files shared with v0
    assert "SRS9" in _state(vwh, 1)
    assert vwh.manifest("samples", 2)["files"] == vwh.manifest("samples", 0)[
        "files"
    ]


def test_diff_reports_add_remove(vwh, spark):
    vwh.partial_update(
        "samples",
        spark.createDataFrame(
            [("SRS3", "AMPLICON")], "srs string, library_strategy string"
        ),
        key="srs",
    )
    added, removed = vwh.diff("samples", 0, 1)
    assert added and removed
    assert all("taxon=txidB" in f for f in added + removed)


def test_vacuum_drops_unreferenced_files_only(vwh, spark):
    """After three commits, vacuum(keep_last=2) deletes v0-only files;
    every retained snapshot still reads identically."""
    vwh.write("samples", _mk_samples(spark, BASE[:2]))  # v1 full rewrite
    vwh.append(
        "samples", _mk_samples(spark, [("SRS7", "PRJ7", "txidD", None)])
    )  # v2
    before_v1, before_v2 = _state(vwh, 1), _state(vwh, 2)
    removed = vwh.vacuum("samples", keep_last=2)
    assert removed, "v0's files were unreferenced and must be deleted"
    assert vwh.versions("samples") == [1, 2]
    assert _state(vwh, 1) == before_v1
    assert _state(vwh, 2) == before_v2
    from compendium_spark.storage_versioned import SnapshotNotFoundError

    with pytest.raises(SnapshotNotFoundError):
        vwh.manifest("samples", 0)


def test_noop_merge_commits_nothing(vwh, spark):
    """Unknown keys = the reference's silently-no-op UPDATE: no new
    version appears."""
    v = vwh.partial_update(
        "samples",
        spark.createDataFrame(
            [("SRS999", "AMPLICON")], "srs string, library_strategy string"
        ),
        key="srs",
    )
    assert v == 0
    assert vwh.versions("samples") == [0]


def test_unpartitioned_table_versions(vwh, spark):
    """status (unpartitioned) versions at table granularity."""
    from compendium_spark.schemas import ALL_TABLES

    s0 = spark.createDataFrame(
        [("PRJ1", "initialized", 0, 1, None, None)], ALL_TABLES["status"]
    )
    assert vwh.write("status", s0) == 0
    v = vwh.upsert(
        "status",
        spark.createDataFrame(
            [("PRJ1", "done", 0, 1, None, None)], ALL_TABLES["status"]
        ),
        key="project",
    )
    assert v == 1
    assert {r.status for r in vwh.read("status", 0).collect()} == {
        "initialized"
    }
    assert {r.status for r in vwh.read("status", 1).collect()} == {"done"}


# ---------------------------------------------------------------------------
# round 11: manifest column stats + data skipping + compaction
# ---------------------------------------------------------------------------

from pyspark.sql import types as T  # noqa: E402

METRICS = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("src", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


@pytest.fixture()
def mwh(spark, tmp_path):
    """Three single-file commits with disjoint id ranges (0-2, 3-5,
    6-8) and distinct src values (a, b, c) — each file provably
    excludable by the right predicate."""
    w = VersionedWarehouse(
        spark, str(tmp_path / "mwh"), extra_tables={"metrics": METRICS}
    )
    for lo, src in ((0, "a"), (3, "b"), (6, "c")):
        df = spark.createDataFrame(
            [(lo + i, src, float(lo + i)) for i in range(3)], METRICS
        ).coalesce(1)
        (w.write if lo == 0 else w.append)("metrics", df)
    return w


def test_manifest_records_footer_and_path_stats(mwh, vwh):
    """Every committed file carries (rows, per-column min/max/nulls)
    harvested from its parquet FOOTER; partitioned tables additionally
    get exact path-derived stats for the partition column (which never
    appears inside the file)."""
    man = mwh.manifest("metrics", mwh.latest("metrics"))
    assert set(man["stats"]) == set(man["files"])
    first = min(man["files"])
    st = man["stats"][first]
    assert st["rows"] == 3
    assert st["cols"]["id"] == {"nulls": 0, "min": 0, "max": 2}
    assert st["cols"]["src"] == {"nulls": 0, "min": "a", "max": "a"}
    assert st["cols"]["score"]["min"] == 0.0
    # partitioned table: taxon stats come from the hive path segment
    pman = vwh.manifest("samples", 0)
    for rel, pst in pman["stats"].items():
        part = next(s for s in rel.split("/") if s.startswith("taxon="))
        val = part.split("=", 1)[1]
        assert pst["cols"]["taxon"] == {"nulls": 0, "min": val, "max": val}


def test_scan_files_prunes_provably_excluded(mwh):
    """Each probe keeps exactly the files whose [min, max] can hold a
    match: range, equality-on-string, and IN all prune 2 of 3 files;
    a predicate matching everything prunes none."""
    for where, n_kept in [
        ([("id", ">=", 6)], 1),
        ([("id", ">=", 3), ("id", "<=", 5)], 1),
        ([("src", "=", "b")], 1),
        ([("id", "in", [1, 7])], 2),
        ([("id", ">=", 0)], 3),
        ([("id", "<", 0)], 0),
    ]:
        kept, skipped = mwh.scan_files("metrics", where=where)
        assert len(kept) == n_kept, (where, kept, skipped)
        assert len(kept) + len(skipped) == 3


def test_pruned_read_equals_unpruned_filter(mwh):
    """Data skipping is an I/O optimization only: read(where=...) must
    return exactly read().filter(<same predicate>), for every probe."""
    from pyspark.sql import functions as F

    probes = [
        ([("id", ">=", 6), ("id", "<=", 7)], F.col("id").between(6, 7)),
        ([("src", "=", "b")], F.col("src") == "b"),
        ([("id", "in", [1, 7])], F.col("id").isin(1, 7)),
        ([("score", ">", 7.0)], F.col("score") > 7.0),
    ]
    for where, expr in probes:
        got = sorted(r.id for r in mwh.read("metrics", where=where).collect())
        want = sorted(r.id for r in mwh.read("metrics").filter(expr).collect())
        assert got == want and want, where


def test_missing_stats_never_prune(mwh, spark):
    """A manifest WITHOUT stats (pre-r11 layout, or a writer that
    recorded none) keeps every file and still answers correctly — the
    residual filter carries correctness, stats only save I/O."""
    import json as _json

    v = mwh.latest("metrics")
    mpath = mwh._logdir("metrics") / f"{v:08d}.json"
    man = _json.loads(mpath.read_text())
    del man["stats"]
    mpath.write_text(_json.dumps(man))
    kept, skipped = mwh.scan_files("metrics", where=[("id", ">=", 6)])
    assert len(kept) == 3 and not skipped
    rows = sorted(
        r.id for r in mwh.read("metrics", where=[("id", ">=", 6)]).collect()
    )
    assert rows == [6, 7, 8]


def test_null_partition_all_null_stats_prune_comparisons(vwh, spark):
    """A __HIVE_DEFAULT_PARTITION__ file records nulls == rows for the
    partition column, so any comparison predicate on it skips the file
    (SQL comparisons never match NULL)."""
    vwh.append(
        "samples", _mk_samples(spark, [("SRS7", "PRJ7", None, None)])
    )
    kept, skipped = vwh.scan_files("samples", where=[("taxon", "=", "txidA")])
    assert any("__HIVE_DEFAULT_PARTITION__" in f for f in skipped)
    assert all("__HIVE_DEFAULT_PARTITION__" not in f for f in kept)
    got = {r.srs for r in vwh.read("samples", where=[("taxon", "=", "txidA")]).collect()}
    assert got == {"SRS1", "SRS2"}


def test_stats_carry_by_reference_through_merge(vwh, spark):
    """A COW merge copies the untouched files' stats entries into the
    new manifest verbatim — by-reference carry means the footers are
    unchanged by definition, so re-harvesting would be wasted I/O."""
    m0 = vwh.manifest("samples", 0)
    vwh.partial_update(
        "samples",
        spark.createDataFrame(
            [("SRS3", "AMPLICON")], "srs string, library_strategy string"
        ),
        key="srs",
    )
    m1 = vwh.manifest("samples", 1)
    carried = set(m0["files"]) & set(m1["files"])
    assert carried
    for f in carried:
        assert m1["stats"][f] == m0["stats"][f]


def _files_by_partition(man):
    out = {}
    for f in man["files"]:
        part = next((s for s in f.split("/") if "=" in s), "")
        out.setdefault(part, []).append(f)
    return out


@pytest.fixture()
def fragmented(spark, tmp_path):
    """1 write + 2 appends: txidA ends with 3 files, the null taxon
    with 2, txidB with 1 (the carry-by-reference control)."""
    w = VersionedWarehouse(spark, str(tmp_path / "frag"))
    batches = [
        [("SRS1", "PRJ1", "txidA", None), ("SRS2", "PRJ1", "txidB", None)],
        [("SRS3", "PRJ1", "txidA", None), ("SRS4", "PRJ1", None, None)],
        [("SRS5", "PRJ1", "txidA", None), ("SRS6", "PRJ1", None, None)],
    ]
    w.write("samples", _mk_samples(spark, batches[0]).coalesce(1))
    for b in batches[1:]:
        w.append("samples", _mk_samples(spark, b).coalesce(1))
    return w


def test_compact_bin_packs_and_carries(fragmented):
    """compact() rewrites ONLY the fragmented partitions (txidA 3→1,
    null 2→1), carries single-file txidB by reference (path-identical),
    keeps content row-identical, and leaves the pre-compaction
    snapshot time-travelable."""
    pre = fragmented.manifest("samples", 2)
    pre_by = _files_by_partition(pre)
    v = fragmented.compact("samples")
    assert v == 3
    post = fragmented.manifest("samples", v)
    post_by = _files_by_partition(post)
    assert len(post_by["taxon=txidA"]) == 1
    assert len(post_by["taxon=__HIVE_DEFAULT_PARTITION__"]) == 1
    assert post_by["taxon=txidB"] == pre_by["taxon=txidB"]  # by reference
    latest = {r.srs for r in fragmented.read("samples").collect()}
    assert latest == {f"SRS{i}" for i in range(1, 7)}
    old = {r.srs for r in fragmented.read("samples", 2).collect()}
    assert old == latest
    # new files got fresh stats; carried file kept its entry verbatim
    assert set(post["stats"]) == set(post["files"])
    for f in post_by["taxon=txidB"]:
        assert post["stats"][f] == pre["stats"][f]


def test_compact_noop_when_packed(fragmented):
    """Re-running compact on a packed table commits NOTHING (returns
    the current version); a target so small every partition already
    meets its bin count is likewise a no-op."""
    v = fragmented.compact("samples")
    assert fragmented.compact("samples") == v
    assert fragmented.versions("samples")[-1] == v
    # tiny target: bins >= file count everywhere -> nothing to gain
    assert fragmented.compact("samples", target_file_bytes=1) == v


def test_vacuum_reclaims_precompaction_files(fragmented):
    """After compact passes the vacuum horizon, the old small files are
    deleted, the retained snapshot still reads identically, and the
    carried-by-reference file SURVIVES (it is referenced by the
    retained manifest)."""
    pre = fragmented.manifest("samples", 2)
    v = fragmented.compact("samples")
    removed = fragmented.vacuum("samples", keep_last=1)
    carried = set(_files_by_partition(pre)["taxon=txidB"])
    assert carried.isdisjoint(removed)
    frag_files = set(pre["files"]) - carried
    assert frag_files <= set(removed)
    latest = {r.srs for r in fragmented.read("samples", v).collect()}
    assert latest == {f"SRS{i}" for i in range(1, 7)}


def test_txn_versions_are_monotonic(mwh, spark):
    """The per-app txn marker never regresses: a lower version landing
    later (an out-of-order replay that slipped past the skip check)
    cannot roll the marker back, and apps are independent."""
    df = spark.createDataFrame([(100, "z", 0.0)], METRICS).coalesce(1)
    mwh.append("metrics", df, txn=("app_a", 5))
    assert mwh.last_txn_version("metrics", "app_a") == 5
    mwh.append("metrics", df, txn=("app_a", 3))
    assert mwh.last_txn_version("metrics", "app_a") == 5
    mwh.append("metrics", df, txn=("app_b", 1))
    assert mwh.last_txn_version("metrics", "app_a") == 5
    assert mwh.last_txn_version("metrics", "app_b") == 1
    assert mwh.last_txn_version("metrics", "app_c") is None


def test_clustered_compaction_enables_skipping(spark, tmp_path):
    """compact(cluster_by=...) is OPTIMIZE ZORDER-lite: scattered
    files (every file spanning the full id domain — a point/range
    probe can never prune) become range-clustered files with
    near-disjoint spans, and the SAME probe then skips files. The
    hash-bin path, by contrast, preserves full-span files: fewer
    files, no new prunability."""
    rows = [(i, "s", float(i)) for i in range(400)]

    def scattered(w):
        # 4 commits, each a full-domain stride -> every file spans 0..399
        for k in range(4):
            df = spark.createDataFrame(rows[k::4], METRICS).coalesce(1)
            (w.write if k == 0 else w.append)("metrics", df)

    probe = [("id", ">=", 0), ("id", "<=", 40)]

    wc = VersionedWarehouse(
        spark, str(tmp_path / "c"), extra_tables={"metrics": METRICS}
    )
    scattered(wc)
    kept0, skipped0 = wc.scan_files("metrics", where=probe)
    assert len(kept0) == 4 and not skipped0  # full-span: nothing prunable
    # force 2 output bins: total bytes / target ~ 2
    man = wc.manifest("metrics", wc.latest("metrics"))
    total = sum(
        (wc._tdir("metrics") / f).stat().st_size for f in man["files"]
    )
    v = wc.compact("metrics", target_file_bytes=total // 2 + 1, cluster_by="id")
    man_c = wc.manifest("metrics", v)
    assert man_c["op"] == "compact"
    assert 1 < len(man_c["files"]) <= 3
    kept, skipped = wc.scan_files("metrics", where=probe)
    assert skipped, "clustered compaction must make the probe prunable"
    got = sorted(r.id for r in wc.read("metrics", where=probe).collect())
    assert got == list(range(41))

    wh = VersionedWarehouse(
        spark, str(tmp_path / "h"), extra_tables={"metrics": METRICS}
    )
    scattered(wh)
    wh.compact("metrics", target_file_bytes=total // 2 + 1)  # hash bins
    kept_h, skipped_h = wh.scan_files("metrics", where=probe)
    assert not skipped_h  # hash bins keep full-span files
    assert sorted(
        r.id for r in wh.read("metrics", where=probe).collect()
    ) == list(range(41))


def test_zorder_compaction_prunes_both_dimensions(spark, tmp_path):
    """compact(cluster_by=[a, b]) Morton-interleaves the two columns:
    single-column clustering prunes only its own dimension (the other
    probe opens every file — its blind spot); the z-ordered layout
    prunes BOTH probes. Values are anti-correlated by construction
    (score = 37*id mod 400) so 1-D id clustering provably scatters
    score."""
    rows = [(i, "s", float((i * 37) % 400)) for i in range(400)]

    def build(path, cluster):
        w = VersionedWarehouse(
            spark, str(path), extra_tables={"metrics": METRICS}
        )
        for k in range(8):
            df = spark.createDataFrame(rows[k::8], METRICS).coalesce(1)
            (w.write if k == 0 else w.append)("metrics", df)
        man = w.manifest("metrics", w.latest("metrics"))
        total = sum(
            (w._tdir("metrics") / f).stat().st_size for f in man["files"]
        )
        v = w.compact(
            "metrics", target_file_bytes=total // 4 + 1, cluster_by=cluster
        )
        assert w.manifest("metrics", v)["op"] == "compact"
        return w

    id_probe = [("id", "<", 100)]
    score_probe = [("score", "<", 100.0)]

    w1 = build(tmp_path / "oned", "id")
    kept_id, _ = w1.scan_files("metrics", where=id_probe)
    kept_sc, _ = w1.scan_files("metrics", where=score_probe)
    n_files = len(w1.manifest("metrics", w1.latest("metrics"))["files"])
    assert len(kept_id) <= n_files // 2  # own dim prunes
    assert len(kept_sc) == n_files  # blind spot: other dim opens all

    wz = build(tmp_path / "z", ["id", "score"])
    nz = len(wz.manifest("metrics", wz.latest("metrics"))["files"])
    kept_idz, _ = wz.scan_files("metrics", where=id_probe)
    kept_scz, _ = wz.scan_files("metrics", where=score_probe)
    assert len(kept_idz) < nz  # BOTH dims prune under z-order
    assert len(kept_scz) < nz

    # correctness unchanged by layout, on both warehouses and probes
    for w in (w1, wz):
        assert w.read("metrics", where=id_probe).count() == 100
        assert w.read("metrics", where=score_probe).count() == 100


def test_schema_evolution_add_column(mwh, spark):
    """add_columns is metadata-only: all files carried by reference,
    old rows read the new column as NULL, new writes carry it, old
    snapshots time-travel under their OLD schema, and rollback
    restores the old schema (RESTORE semantics)."""
    from pyspark.sql import types as T

    pre = mwh.manifest("metrics", mwh.latest("metrics"))
    v = mwh.add_columns("metrics", T.StructField("grade", T.StringType()))
    man = mwh.manifest("metrics", v)
    assert man["files"] == pre["files"]  # nothing rewritten
    assert man["op"] == "add-columns:grade"

    latest = mwh.read("metrics")
    assert "grade" in latest.columns
    assert latest.filter("grade IS NOT NULL").count() == 0  # old files
    # time travel: the pre-evolution snapshot has no such column
    assert "grade" not in mwh.read("metrics", v - 1).columns

    evolved = T.StructType(
        list(METRICS.fields) + [T.StructField("grade", T.StringType())]
    )
    mwh.append(
        "metrics",
        spark.createDataFrame([(100, "z", 1.0, "A")], evolved).coalesce(1),
    )
    got = {r.id: r.grade for r in mwh.read("metrics").collect()}
    assert got[100] == "A" and got[0] is None
    # the new file's manifest stats cover the new column
    man2 = mwh.manifest("metrics", mwh.latest("metrics"))
    new_files = set(man2["files"]) - set(man["files"])
    assert all(
        man2["stats"][f]["cols"]["grade"] == {"nulls": 0, "min": "A", "max": "A"}
        for f in new_files
    )
    # rollback to pre-evolution restores the old schema
    rb = mwh.rollback("metrics", v - 1)
    assert "grade" not in mwh.read("metrics", rb).columns


def test_schema_evolution_rejects_bad_additions(mwh, spark):
    """Duplicates and non-nullable additions are rejected; writes
    against the OLD schema fail loudly after evolution (the storage
    boundary validates against the snapshot schema)."""
    from pyspark.sql import types as T

    import pytest as _pytest

    from compendium_spark.operators.validate import SchemaMismatchError

    with _pytest.raises(ValueError, match="already exists"):
        mwh.add_columns("metrics", T.StructField("id", T.LongType()))
    with _pytest.raises(ValueError, match="nullable"):
        mwh.add_columns(
            "metrics", T.StructField("req", T.StringType(), nullable=False)
        )
    mwh.add_columns("metrics", T.StructField("grade", T.StringType()))
    with _pytest.raises(SchemaMismatchError):
        mwh.append(
            "metrics",
            spark.createDataFrame([(1, "x", 1.0)], METRICS).coalesce(1),
        )


def test_history_and_vacuum_horizon_error(mwh, spark):
    """history() summarizes each retained snapshot (DESCRIBE HISTORY);
    time travel below the vacuum horizon raises SnapshotNotFoundError
    naming the retained range instead of a bare file error."""
    from compendium_spark.storage_versioned import SnapshotNotFoundError

    h = mwh.history("metrics")
    assert [e["version"] for e in h] == [0, 1, 2]
    assert [e["op"] for e in h] == ["overwrite", "append", "append"]
    assert [e["n_files"] for e in h] == [1, 2, 3]

    mwh.vacuum("metrics", keep_last=1)
    assert [e["version"] for e in mwh.history("metrics")] == [2]
    with pytest.raises(SnapshotNotFoundError, match="retained versions are 2..2"):
        mwh.read("metrics", 0)
    with pytest.raises(SnapshotNotFoundError, match="no snapshot 99"):
        mwh.manifest("metrics", 99)
    assert mwh.read("metrics", 2).count() == 9  # horizon snapshot intact


# ---------------------------------------------------------------------------
# round 12: partition-scoped conflict rebase + ADVICE r11 hardening
# ---------------------------------------------------------------------------


def test_disjoint_partition_upserts_both_commit(vwh, spark):
    """VERDICT r11 #6: two writers prepared against the same base, on
    DISJOINT partitions, must both land (Iceberg conflict resolution)
    instead of serializing at the table-level O_EXCL manifest. The
    loser rebases: same merged output, carried set re-derived from the
    rival's manifest — so the rival's write survives verbatim."""
    base = vwh.latest("samples")  # both writers observed v0
    # rival lands first, touching only txidB
    vwh.upsert(
        "samples",
        _mk_samples(spark, [("SRS3", "PRJ2", "txidB", "AMPLICON")]),
        "srs",
    )
    rival_files = set(vwh.manifest("samples", 1)["files"])
    # we were prepared against the STALE base and touch only txidA
    v = vwh.upsert(
        "samples",
        _mk_samples(spark, [("SRS1", "PRJ1", "txidA", "WGS")]),
        "srs",
        base_version=base,
    )
    assert v == 2  # rebased commit on top of the rival, not an error
    st = _state(vwh)
    assert st["SRS3"] == ("txidB", "AMPLICON")  # rival's write survived
    assert st["SRS1"] == ("txidA", "WGS")  # ours landed too
    assert len(st) == 4
    # the rival's txidB replacement file is carried BY REFERENCE
    ours = set(vwh.manifest("samples", 2)["files"])
    assert {f for f in rival_files if "txidB" in f} <= ours


def test_overlapping_partition_upserts_conflict(vwh, spark):
    """A genuine overlap still raises: the rival rewrote the very
    partition our merge read, so our output was computed from a
    superseded snapshot — rebasing would clobber the rival's rows."""
    base = vwh.latest("samples")
    vwh.upsert(
        "samples",
        _mk_samples(spark, [("SRS1", "PRJ1", "txidA", "AMPLICON")]),
        "srs",
    )
    with pytest.raises(VersionConflictError):
        vwh.upsert(
            "samples",
            _mk_samples(spark, [("SRS2", "PRJ1", "txidA", "WGS")]),
            "srs",
            base_version=base,
        )
    # the rival's state is intact, no half-commit landed
    assert _state(vwh)["SRS1"] == ("txidA", "AMPLICON")
    assert vwh.latest("samples") == 1


def test_rebase_rejects_rival_schema_change(vwh, spark):
    """A rival schema evolution between our base and our commit is a
    real conflict even though its file set is untouched: our output
    was validated against the OLD schema."""
    from pyspark.sql import types as T

    base = vwh.latest("samples")
    vwh.add_columns(
        "samples", T.StructField("note", T.StringType(), True)
    )
    with pytest.raises(VersionConflictError):
        vwh.upsert(
            "samples",
            _mk_samples(spark, [("SRS1", "PRJ1", "txidA", "WGS")]),
            "srs",
            base_version=base,
        )


def test_vacuum_rejects_keep_last_below_one(vwh):
    """ADVICE r11: vacuum(keep_last=0) used to silently retain
    everything (vs[-0:] is the whole list) — now it's a loud error."""
    with pytest.raises(ValueError, match="keep_last"):
        vwh.vacuum("samples", keep_last=0)
    with pytest.raises(ValueError, match="keep_last"):
        vwh.vacuum("samples", keep_last=-1)


def test_zorder_bit_budget_caps_below_sign_bit(vwh, spark):
    """ADVICE r11: with 4+ cluster dims the 16-bit-per-dim layout put
    interleaved positions at/after bit 63, silently corrupting the
    z-order via signed-long wrap. Bits per dim now cap at 63 // ndims,
    so every z value stays non-negative and the all-max row is the
    maximum."""
    from pyspark.sql import functions as F

    df = spark.range(200).select(
        (F.col("id") % 10).cast("double").alias("a"),
        ((F.col("id") / 10) % 10).cast("double").alias("b"),
        (F.col("id") % 7).cast("double").alias("c"),
        (F.col("id") % 5).cast("double").alias("d"),
    )
    for cols in (["a", "b", "c", "d"], ["a", "b", "c", "d", "b"]):
        z = df.select(vwh._z_expr("samples", df, cols).alias("z"))
        vals = [r.z for r in z.collect()]
        assert all(v >= 0 for v in vals), f"{len(cols)} dims: negative z"
        assert len(set(vals)) > 1  # still discriminates


def test_footer_stats_poison_minmaxless_groups(monkeypatch, vwh):
    """ADVICE r11: a Statistics object with null_count but NO min/max
    on a row group holding NON-NULL values (spec-legal) must poison
    the column — absent stats mean "never prunable" — not silently
    under-cover the file and let _conjunct_excludes prune matching
    rows. A provably all-null group still contributes its null count."""
    from types import SimpleNamespace as NS

    import pyarrow.parquet as pq

    from compendium_spark.storage_versioned import _footer_stats

    def col(stats):
        return NS(path_in_schema="x", statistics=stats)

    def group(n_rows, stats):
        return NS(num_rows=n_rows, num_columns=1, column=lambda ci: col(stats))

    def run(groups):
        meta = NS(
            num_row_groups=len(groups),
            num_rows=sum(g.num_rows for g in groups),
            row_group=lambda i: groups[i],
        )
        monkeypatch.setattr(pq, "ParquetFile", lambda p: NS(metadata=meta))
        return _footer_stats(__file__)

    bounded = NS(has_min_max=True, null_count=0, min=1, max=5)
    unbounded_nonnull = NS(has_min_max=False, null_count=0)
    all_null = NS(has_min_max=False, null_count=4)

    # non-null values with omitted bounds: the whole column poisons
    _, cols = run([group(3, unbounded_nonnull)])
    assert "x" not in cols
    # ... even when another group HAS bounds (the under-coverage case)
    _, cols = run([group(3, bounded), group(3, unbounded_nonnull)])
    assert "x" not in cols
    # a provably all-null group is fine: bounds from the other group
    _, cols = run([group(3, bounded), group(4, all_null)])
    assert cols["x"] == {"min": 1, "max": 5, "nulls": 4}


# ---------------------------------------------------------------------------
# round 12 (VERDICT r11 #7): point-lookup membership hints (dict/bloom)
# ---------------------------------------------------------------------------


def _kv_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
    )


def _hint_wh(spark, tmp_path, rows_per_file, n_files=3):
    """A hash-scattered layout: file j holds keys i ≡ j (mod n_files),
    so every file's [min, max] spans ~the whole key domain and range
    stats alone can never exclude anything — the layout where only a
    membership hint prunes a point probe."""
    vwh = VersionedWarehouse(
        spark,
        str(tmp_path / "kvwh"),
        extra_tables={"kv": _kv_schema()},
        hint_columns={"kv": ["k"]},
    )
    for j in range(n_files):
        batch = spark.createDataFrame(
            spark.sparkContext.parallelize(
                [
                    (f"k{i:05d}", i)
                    for i in range(j, n_files * rows_per_file, n_files)
                ],
                1,
            ),
            _kv_schema(),
        )
        (vwh.write if j == 0 else vwh.append)("kv", batch)
    return vwh


def test_dict_hint_prunes_point_probe_on_scattered_layout(spark, tmp_path):
    """≤64 distinct keys per file → the manifest records the exact
    dictionary; a point probe keeps exactly the one holding file even
    though every file's [min, max] covers the probe value."""
    vwh = _hint_wh(spark, tmp_path, rows_per_file=50)
    man = vwh.manifest("kv", 2)
    hints = [s["cols"]["k"] for s in man["stats"].values()]
    assert all("dict" in h for h in hints)
    # ranges genuinely overlap: min/max alone keeps everything
    assert all(h["min"] < "k00003" < h["max"] for h in hints)
    kept, skipped = vwh.scan_files("kv", where=[("k", "=", "k00001")])
    assert (len(kept), len(skipped)) == (1, 2)
    got = vwh.read("kv", where=[("k", "=", "k00001")]).collect()
    assert [(r.k, r.v) for r in got] == [("k00001", 1)]


def test_bloom_hint_prunes_point_probe_on_scattered_layout(spark, tmp_path):
    """>64 distinct keys per file → bloom hint; a point probe skips
    the files that provably lack the key (false positives may keep
    extras — never the reverse), and the pruned read returns exactly
    the unpruned filter's rows."""
    vwh = _hint_wh(spark, tmp_path, rows_per_file=300)
    man = vwh.manifest("kv", 2)
    hints = [s["cols"]["k"] for s in man["stats"].values()]
    assert all("bloom" in h for h in hints)
    kept, skipped = vwh.scan_files("kv", where=[("k", "=", "k00301")])
    assert len(kept) < 3 and len(kept) >= 1
    got = vwh.read("kv", where=[("k", "=", "k00301")]).collect()
    assert [(r.k, r.v) for r in got] == [("k00301", 301)]
    # an IN probe spanning two files keeps at most those two + FPs
    kept, _ = vwh.scan_files("kv", where=[("k", "in", ["k00000", "k00001"])])
    assert len(kept) >= 2
    assert vwh.read(
        "kv", where=[("k", "in", ["k00000", "k00001"])]
    ).count() == 2
    # a key that exists NOWHERE prunes every file
    kept, skipped = vwh.scan_files("kv", where=[("k", "=", "zzz")])
    assert len(skipped) == 3


def test_hints_conservative_for_unhinted_and_range_ops(spark, tmp_path):
    """No hint on the column, or a non-point op: hints never exclude —
    range stats remain the only (here powerless) pruner."""
    vwh = _hint_wh(spark, tmp_path, rows_per_file=50)
    # v is not a hinted column: a mid-range point probe (inside every
    # file's [min, max], but held by only one file) keeps all files
    kept, _ = vwh.scan_files("kv", where=[("v", "=", 7)])
    assert len(kept) == 3
    # range op on the hinted column: dict is ignored, ranges overlap
    kept, _ = vwh.scan_files("kv", where=[("k", ">=", "k00000")])
    assert len(kept) == 3


def test_samples_srs_hinted_by_default(vwh, spark):
    """The reference's hottest lookup (`WHERE srs = ?`) is hinted out
    of the box on the samples table."""
    kept, skipped = vwh.scan_files("samples", where=[("srs", "=", "SRS1")])
    assert len(skipped) >= 1  # other taxa's files provably lack SRS1
    got = vwh.read("samples", where=[("srs", "=", "SRS1")]).collect()
    assert [r.srs for r in got] == ["SRS1"]


def test_concurrent_disjoint_writers_all_land(spark, tmp_path):
    """REAL races, not injected ones: four threads each upsert three
    batches into their own partition of one warehouse, concurrently.
    Losers of the O_EXCL commit race must REBASE (disjoint partitions)
    and land — no lost update, no VersionConflictError escapes, the
    final state holds every write, and the version chain is exactly
    one commit per upsert."""
    import threading

    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write("samples", _mk_samples(spark, BASE))
    errors: list[BaseException] = []
    N_THREADS, N_BATCHES = 4, 3

    def writer(i: int) -> None:
        try:
            for b in range(N_BATCHES):
                vwh.upsert(
                    "samples",
                    _mk_samples(
                        spark,
                        [(f"SRS_t{i}_b{b}", "PRJ", f"txidW{i}", "WGS")],
                    ),
                    "srs",
                )
        except BaseException as exc:  # noqa: BLE001 — surface to main
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(N_THREADS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    st = _state(vwh)
    for i in range(N_THREADS):
        for b in range(N_BATCHES):
            assert st[f"SRS_t{i}_b{b}"] == (f"txidW{i}", "WGS")
    assert len(st) == len(BASE) + N_THREADS * N_BATCHES
    # one commit per upsert: no write was silently dropped or doubled
    assert vwh.latest("samples") == N_THREADS * N_BATCHES


# ---------------------------------------------------------------------------
# round 12: partition spec evolution (Iceberg replace-spec)
# ---------------------------------------------------------------------------


def _mk_full(spark, rows):
    """(srs, project, taxon) rows, 1-slice so each commit is one file
    per partition dir."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(
            [
                (s, p, t, None, None, None, None, None, None, None)
                for s, p, t in rows
            ],
            1,
        ),
        SAMPLES,
    )


def test_spec_evolution_is_metadata_only(spark, tmp_path):
    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write("samples", _mk_full(spark, [("SRS1", "PRJ1", "txidA")]))
    v = vwh.set_partition_spec("samples", "project")
    m0, m1 = vwh.manifest("samples", 0), vwh.manifest("samples", v)
    assert m1["files"] == m0["files"]  # nothing rewritten
    assert (m0["pcol"], m1["pcol"]) == ("taxon", "project")
    assert m1["op"] == "set-spec:project"
    # no-op when the spec is unchanged; unknown columns rejected
    assert vwh.set_partition_spec("samples", "project") == v
    with pytest.raises(ValueError, match="unknown partition column"):
        vwh.set_partition_spec("samples", "nope")


def test_spec_evolution_mixed_layout_reads_and_appends(spark, tmp_path):
    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write(
        "samples",
        _mk_full(spark, [("SRS1", "PRJ1", "txidA"), ("SRS2", "PRJ2", "txidA")]),
    )
    vwh.set_partition_spec("samples", "project")
    vwh.append("samples", _mk_full(spark, [("SRS3", "PRJ3", "txidB")]))
    # new file under the NEW layout, old files untouched
    added, removed = vwh.diff("samples", 1, 2)
    assert not removed and added and all("project=PRJ3" in f for f in added)
    # mixed-layout read reconstructs BOTH hive columns on both sides
    st = {
        r.srs: (r.project, r.taxon)
        for r in vwh.read("samples").collect()
    }
    assert st == {
        "SRS1": ("PRJ1", "txidA"),
        "SRS2": ("PRJ2", "txidA"),
        "SRS3": ("PRJ3", "txidB"),
    }


def test_spec_evolution_merge_keeps_bystander_rows(spark, tmp_path):
    """THE correctness trap of mixed layouts: the old taxon=txidA file
    holds rows of TWO new-spec partitions (PRJ1, PRJ2). An upsert
    touching only PRJ1 must rewrite that FILE without losing the PRJ2
    bystander row — and the rewrite migrates both to the new layout."""
    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write(
        "samples",
        _mk_full(spark, [("SRS1", "PRJ1", "txidA"), ("SRS2", "PRJ2", "txidA")]),
    )
    vwh.set_partition_spec("samples", "project")
    vwh.upsert(
        "samples", _mk_full(spark, [("SRS1", "PRJ1", "txidZ")]), "srs"
    )
    st = {
        r.srs: (r.project, r.taxon) for r in vwh.read("samples").collect()
    }
    assert st == {
        "SRS1": ("PRJ1", "txidZ"),  # updated
        "SRS2": ("PRJ2", "txidA"),  # bystander survived the file rewrite
    }
    # every post-merge file is NEW-layout keyed
    files = vwh.manifest("samples", 2)["files"]
    assert files and all("project=" in f for f in files)
    # pre-evolution snapshot still time-travels under the old layout
    assert {r.srs for r in vwh.read("samples", 0).collect()} == {
        "SRS1",
        "SRS2",
    }


def test_spec_evolution_compact_migrates_layout(spark, tmp_path):
    vwh = VersionedWarehouse(spark, str(tmp_path / "vwh"))
    vwh.write("samples", _mk_full(spark, [("SRS1", "PRJ1", "txidA")]))
    vwh.append("samples", _mk_full(spark, [("SRS2", "PRJ1", "txidA")]))
    vwh.set_partition_spec("samples", "project")
    v = vwh.compact("samples")
    files = vwh.manifest("samples", v)["files"]
    # the fragmented taxon=txidA group was rewritten INTO the new spec
    assert files and all("project=PRJ1" in f for f in files)
    assert {r.srs for r in vwh.read("samples", v).collect()} == {
        "SRS1",
        "SRS2",
    }


# ---------------------------------------------------------------------------
# round 12: timestamp time travel (TIMESTAMP AS OF)
# ---------------------------------------------------------------------------


def test_timestamp_time_travel(vwh, spark):
    """read(as_of=...) resolves to the newest snapshot committed at or
    before the wall time — boundaries checked exactly against the
    recorded commit times, pre-first-commit times raise, and a
    version+as_of combination is rejected."""
    from compendium_spark.storage_versioned import SnapshotNotFoundError

    vwh.upsert(
        "samples", _mk_samples(spark, [("SRS9", "PRJ9", "txidZ", "WGS")]), "srs"
    )
    h = vwh.history("samples")
    t0, t1 = h[0]["committed_at"], h[1]["committed_at"]
    assert t0 and t1 and t0 < t1  # ISO-8601 sorts chronologically
    assert vwh.version_at("samples", t0) == 0  # inclusive boundary
    assert vwh.version_at("samples", t1) == 1
    assert "SRS9" not in _state_asof(vwh, t0)
    assert "SRS9" in _state_asof(vwh, t1)
    # strictly before the first commit: no snapshot existed
    import datetime as dt

    before = (
        dt.datetime.fromisoformat(t0) - dt.timedelta(seconds=1)
    ).isoformat()
    with pytest.raises(SnapshotNotFoundError, match="no snapshot at or"):
        vwh.version_at("samples", before)
    with pytest.raises(ValueError, match="version OR as_of"):
        vwh.read("samples", version=0, as_of=t1)


def _state_asof(vwh, ts):
    return {r.srs for r in vwh.read("samples", as_of=ts).collect()}


def test_commit_publish_is_crash_atomic(vwh, spark):
    """A crash mid-manifest-write must never poison the table: the
    manifest is fsynced to a hidden .tmp and hard-linked into place,
    so a leftover torn temp file is invisible to versions()/reads and
    does not block its version number."""
    log = vwh._logdir("samples")
    # simulate a writer that died mid-write: a torn temp for v1
    (log / ".00000001.deadbeef.tmp").write_text('{"version": 1, "fi')
    assert vwh.versions("samples") == [0]  # invisible to the log scan
    v = vwh.append(
        "samples", _mk_samples(spark, [("SRS8", "PRJ8", "txidA", None)])
    )
    assert v == 1  # the torn temp did not squat the version number
    assert "SRS8" in _state(vwh)
    # no temp files remain from OUR commits
    assert not [p for p in log.iterdir() if p.name.endswith(".tmp") and "dead" not in p.name]
