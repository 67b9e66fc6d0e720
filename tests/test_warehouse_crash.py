"""Crash safety of the warehouse and the CLI's status state machine.

A commit writes its data files first and publishes them with one
link(2) of the manifest. A crash anywhere before that link must leave
the previous snapshot as the table — the property the reference got
from its single SQLite file (db.py:24). The crash is injected by
making ``os.link`` raise for manifest paths, the last step before a
commit becomes visible. Re-running the interrupted CLI command must
then reach the same final state as an uninterrupted run.
"""

from __future__ import annotations

import os

import pytest

from compendium_spark.cli import main
from compendium_spark.pipeline.amplicon import WHOLE_16S
from compendium_spark.schemas import SAMPLES
from compendium_spark.storage import Warehouse

HEADER = "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"
GOOD_ROW = "SRR{i}_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t44000\n"
# a third of the reads survive filtering: discard on reads retained
DISCARD_ROW = "SRR{i}_1.fastq\t50000\t16000\t15800\t15600\t15500\t15400\t15300\n"

_real_link = os.link


class InjectedCrash(RuntimeError):
    pass


@pytest.fixture()
def crash_at(monkeypatch):
    """``crash_at(n)``: the n-th manifest publish from now on raises
    InjectedCrash instead of linking (earlier ones go through)."""

    def arm(n: int) -> None:
        seen = [0]

        def link(src, dst, *args, **kwargs):
            if f"{os.sep}_log{os.sep}" in str(dst):
                seen[0] += 1
                if seen[0] == n:
                    raise InjectedCrash(f"crash before publishing {dst}")
            return _real_link(src, dst, *args, **kwargs)

        monkeypatch.setattr(os, "link", link)

    return arm


def _samples(spark, rows):
    return spark.createDataFrame(
        [(srs, "PRJ1", taxon, None, strat, None, None, None, None, None)
         for srs, taxon, strat in rows],
        SAMPLES,
    )


@pytest.mark.parametrize("op", ["write", "upsert", "partial_update"])
def test_crash_before_publish_keeps_previous_snapshot(spark, tmp_path, crash_at, monkeypatch, op):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write("samples", _samples(spark, [("SRS1", "txA", None), ("SRS2", "txB", None)]))
    v = wh.latest("samples")
    before = sorted(map(tuple, wh.read("samples").collect()))

    if op == "write":
        change = lambda: wh.write("samples", _samples(spark, [("SRS9", "txC", None)]))  # noqa: E731
    elif op == "upsert":
        change = lambda: wh.upsert(  # noqa: E731
            "samples", _samples(spark, [("SRS1", "txA", "AMPLICON")]), key="srs"
        )
    else:
        change = lambda: wh.partial_update(  # noqa: E731
            "samples",
            spark.createDataFrame([("SRS2", "WGS")], "srs string, library_strategy string"),
            key="srs",
        )

    crash_at(1)
    with pytest.raises(InjectedCrash):
        change()
    # nothing published: the previous snapshot is still the table
    assert wh.latest("samples") == v
    assert sorted(map(tuple, wh.read("samples").collect())) == before

    monkeypatch.setattr(os, "link", _real_link)
    assert change() == v + 1
    assert sorted(map(tuple, wh.read("samples").collect())) != before


def _cli(spark, wh_dir, *argv) -> None:
    assert main(["--warehouse", wh_dir, *argv], spark=spark) == 0


def _project(pdir, name, row, results=False):
    d = pdir / name
    d.mkdir(parents=True)
    (d / "summary.tsv").write_text(HEADER + "".join(row.format(i=i) for i in range(6)))
    if results:
        (d / "ASVs_counts.tsv").write_text("\tSRR100\tSRR200\nASV_1\t10\t0\nASV_2\t3\t7\n")
        (d / "ASVs.fa").write_text(
            f">ASV_1\n{WHOLE_16S[570:690]}\n>ASV_2\n{WHOLE_16S[572:688]}\n"
        )
        (d / "ASVs_taxonomy.tsv").write_text(
            "\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus\n"
            "ASV_1\tBacteria\tB\tC\tD\tE\tF\nASV_2\tBacteria\tB\tC\tD\tE\tG\n"
        )
    return d


def _running_projects(spark, tmp_path):
    """A warehouse with two submitted projects whose pipelines are done:
    PSAVE passes QC, PDISC is discarded."""
    wh_dir, pdir = str(tmp_path / "wh"), tmp_path / "projects"
    _cli(spark, wh_dir, "init")
    for p in ("PSAVE", "PDISC"):
        _cli(spark, wh_dir, "runit", p, "--projects-dir", str(pdir))
    _project(pdir, "PSAVE", GOOD_ROW, results=True)
    _project(pdir, "PDISC", DISCARD_ROW)
    return wh_dir, pdir


def _statuses(wh) -> dict[str, str]:
    return {r.project: r.status for r in wh.read("status").collect()}


def test_forward_rerun_after_crash(spark, tmp_path, crash_at, monkeypatch):
    wh_dir, pdir = _running_projects(spark, tmp_path)
    wh = Warehouse(spark, wh_dir)
    crash_at(2)  # the first project's transition lands, the second's does not
    with pytest.raises(InjectedCrash):
        _cli(spark, wh_dir, "forward", "--projects-dir", str(pdir))
    assert sorted(_statuses(wh).values()) != ["complete", "failed"]

    monkeypatch.setattr(os, "link", _real_link)
    _cli(spark, wh_dir, "forward", "--projects-dir", str(pdir))
    assert _statuses(wh) == {"PSAVE": "complete", "PDISC": "failed"}


@pytest.mark.parametrize("crash", [2, 5], ids=["asv_sequences", "status_archived"])
def test_load_results_rerun_after_crash(spark, tmp_path, crash_at, monkeypatch, crash):
    wh_dir, pdir = _running_projects(spark, tmp_path)
    _cli(spark, wh_dir, "forward", "--projects-dir", str(pdir))
    argv = ["load-results", "PSAVE", "--dir", str(pdir / "PSAVE"),
            "--archive-dir", str(tmp_path / "archive")]
    crash_at(crash)
    with pytest.raises(InjectedCrash):
        _cli(spark, wh_dir, *argv)

    monkeypatch.setattr(os, "link", _real_link)
    _cli(spark, wh_dir, *argv)
    wh = Warehouse(spark, wh_dir)
    assert _statuses(wh) == {"PSAVE": "done", "PDISC": "failed"}
    counts = {t: wh.read(t).count() for t in ("asv_counts", "asv_sequences", "asv_assignments")}
    assert counts == {"asv_counts": 3, "asv_sequences": 2, "asv_assignments": 2}


def test_status_history_is_the_transition_audit_trail(spark, tmp_path):
    """Every status transition is one snapshot of ``status``: replaying
    history() reconstructs a project's lifecycle step by step."""
    wh_dir, pdir = _running_projects(spark, tmp_path)
    _cli(spark, wh_dir, "forward", "--projects-dir", str(pdir))
    _cli(spark, wh_dir, "load-results", "PSAVE", "--dir", str(pdir / "PSAVE"),
         "--archive-dir", str(tmp_path / "archive"))
    wh = Warehouse(spark, wh_dir)
    hist = wh.history("status")
    assert hist[0]["op"] == "create"

    def trail(project):
        out = []
        for h in hist[1:]:
            row = wh.read("status", version=h["version"]).filter(
                f"project = '{project}'"
            ).collect()
            out.append(row[0].status if row else None)
        return out

    lifecycle = ["initialized", "accession_list_created", "running"]
    # runit PSAVE, runit PDISC, forward (one transition per project,
    # in either order), load-results: complete -> archived -> done
    assert len(hist) == 1 + 2 * 3 + 2 + 3
    save, disc = trail("PSAVE"), trail("PDISC")
    assert save[:3] == lifecycle and disc[3:6] == lifecycle
    assert sorted({save[7], disc[7]}) == ["complete", "failed"]
    assert save[-3:] == ["complete", "archived", "done"]
    assert disc[-1] == "failed"
