"""Pins the benchmark's own machinery: the event-log parser and the span
recorder on a small event log generated here, the op-tail rule, and the
etl generator's determinism.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import etl_gen  # noqa: E402
import eventlog  # noqa: E402
import spans  # noqa: E402
from run import tail  # noqa: E402

SLEEP_S = 0.3


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """One Python-UDF job and one shuffle job, each inside its own span,
    with the event log on."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    evdir = tmp_path_factory.mktemp("eventlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", evdir.as_uri())
        .getOrCreate()
    )
    tracer = spans.Tracer()

    def slow(batches):  # nested, so it is pickled by value for the workers
        import time

        for b in batches:
            time.sleep(SLEEP_S)
            yield b

    try:
        with tracer.span("op"):
            with tracer.span("python"):
                spark.range(0, 100, 1, 2).mapInPandas(slow, "id long") \
                    .write.format("noop").mode("overwrite").save()
            with tracer.span("shuffle"):
                spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 7).alias("k")).count().collect()
    finally:
        spark.stop()
    (logdir,) = list(evdir.iterdir())
    return eventlog.parse(logdir), tracer


def _totals(log, tracer, name):
    (s,) = tracer.named(name)
    return log.totals(log.jobs_between(s["start"], s["end"]))


def test_python_stage_metrics(traced):
    log, tracer = traced
    t = _totals(log, tracer, "python")
    assert t["jobs"] == 1 and t["stages"] == 1 and t["tasks"] == 2
    assert t["python_tasks"] == 2
    # each of the two tasks sleeps once per Arrow batch
    assert t["python_run_ms"] >= 2 * SLEEP_S * 1000 * 0.9
    assert t["python_bytes_in"] > 0 and t["python_bytes_out"] > 0
    assert 0 <= t["python_init_ms"] <= t["run_ms"] + t["scheduler_delay_ms"] + 1000
    assert t["shuffle_write_bytes"] == 0


def test_shuffle_stage_metrics(traced):
    log, tracer = traced
    t = _totals(log, tracer, "shuffle")
    assert t["stages"] == 2 and t["tasks"] == 4
    assert t["shuffle_write_bytes"] > 0 and t["shuffle_read_bytes"] > 0
    assert t["python_tasks"] == 0 and t["python_run_ms"] == 0
    assert t["run_ms"] > 0 and t["cpu_ns"] > 0


def test_spans_nest_and_self_time(traced):
    _, tracer = traced
    (op,) = tracer.named("op")
    kids = [s for s in tracer.spans if s["parent"] == op["id"]]
    assert [k["name"] for k in kids] == ["python", "shuffle"]
    covered = sum(k["end"] - k["start"] for k in kids)
    assert tracer.self_time(op) == pytest.approx(op["end"] - op["start"] - covered)
    assert tracer.named("python", top_level=True) == tracer.named("python")


def test_union_seconds():
    assert eventlog.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_seconds([]) == 0


def test_tail_rule():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100)
    xs = [float(i) for i in range(1, 201)]
    # p95 of 200 samples leaves exactly ten beyond it
    assert tail(xs) == (190.0, 95)


def test_etl_inputs_are_byte_identical_per_seed(tmp_path):
    a = etl_gen.generate(7, tmp_path / "a")
    b = etl_gen.generate(7, tmp_path / "b")
    c = etl_gen.generate(8, tmp_path / "c")
    files = sorted(p.relative_to(tmp_path / "a") for p in (tmp_path / "a").rglob("*") if p.is_file())
    assert files == sorted(p.relative_to(tmp_path / "b") for p in (tmp_path / "b").rglob("*") if p.is_file())
    for f in files:
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()
    assert a == b and a != c
    assert sorted(e["decision"] for e in a["projects"].values()) == ["discard", "re_run", "save"]


def test_etl_duplicate_packages_last_wins(tmp_path):
    m = etl_gen.generate(7, tmp_path, dup_share=1.0)
    xml = (tmp_path / "efetch.xml").read_text()
    for srs, want in m["samples"].items():
        first = xml.index(f'accession="{srs}"')
        second = xml.index(f'accession="{srs}"', first + 1)
        # the package that must win is the later one
        assert xml.index(want["srr"][0]) > second
