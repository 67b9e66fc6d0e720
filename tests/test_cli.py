"""CLI + warehouse: the reference's command surface end-to-end."""

from __future__ import annotations

import pytest

from compendium_spark.cli import main
from compendium_spark.pipeline.amplicon import WHOLE_16S
from compendium_spark.storage import Warehouse

XML = """<?xml version="1.0"?><BioSampleSet>
<BioSample><Ids><Id db="SRA">SRS001</Id></Ids><Attributes>
<Attribute harmonized_name="geo_loc_name">USA</Attribute></Attributes></BioSample>
<BioSample><Ids><Id db="SRA">SRS002</Id></Ids><Attributes>
<Attribute attribute_name="host">Human</Attribute></Attributes></BioSample>
</BioSampleSet>"""

EFETCH = """<R><EXPERIMENT_PACKAGE><SAMPLE accession="SRS001"/>
<RUN accession="SRR100"/><EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY><LIBRARY_SOURCE>GENOMIC</LIBRARY_SOURCE>
</EXPERIMENT_PACKAGE>
<EXPERIMENT_PACKAGE><SAMPLE accession="SRS002"/>
<RUN accession="SRR200"/><RUN accession="SRR201"/>
<EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY><LIBRARY_SOURCE>METAGENOMIC</LIBRARY_SOURCE>
</EXPERIMENT_PACKAGE></R>"""


@pytest.fixture(scope="module")
def wh_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def run(spark, wh_dir, *argv) -> int:
    return main(["--warehouse", wh_dir, *argv], spark=spark)


def test_full_command_flow(spark, wh_dir, tmp_path, capsys):
    # init (idempotent)
    assert run(spark, wh_dir, "init") == 0
    assert run(spark, wh_dir, "init") == 0

    # xml ingest + re-ingest (anti-join: second run adds 0)
    xml = tmp_path / "bs.xml"
    xml.write_text(XML)
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    assert "saved 2 new samples" in capsys.readouterr().out
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    assert "saved 0 new samples" in capsys.readouterr().out
    assert run(spark, wh_dir, "tags", "txid408170", str(xml)) == 0

    # runs enrichment from mocked efetch XML
    mock = tmp_path / "efetch.xml"
    mock.write_text(EFETCH)
    assert run(spark, wh_dir, "runs", "--mock-xml", str(mock)) == 0
    assert "updated 2 samples" in capsys.readouterr().out

    # accession list sink (multi-run sample explodes to 2 SRRs)
    acc = tmp_path / "SraAccList.txt"
    assert run(spark, wh_dir, "accessions", "PRJ1", "--out", str(acc)) == 0
    assert acc.read_text().splitlines() == ["SRR100", "SRR200", "SRR201"]

    # eval QC decision from a summary.tsv
    summ = tmp_path / "summary.tsv"
    summ.write_text(
        "\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim\n"
        + "".join(
            f"SRR10{i}_1.fastq\t50000\t48000\t47000\t46500\t45000\t44800\t44000\n"
            for i in range(6)
        )
    )
    assert run(spark, wh_dir, "eval", "PRJ1", "--summary", str(summ)) == 0
    assert "decision=save" in capsys.readouterr().out

    # load results
    d = tmp_path / "PRJ1"
    d.mkdir()
    (d / "ASVs_counts.tsv").write_text("\tSRR100\tSRR200\nASV_1\t10\t0\nASV_2\t3\t7\n")
    (d / "ASVs.fa").write_text(f">ASV_1\n{WHOLE_16S[570:690]}\n>ASV_2\n{WHOLE_16S[572:688]}\n")
    (d / "ASVs_taxonomy.tsv").write_text(
        "\tKingdom\tPhylum\tClass\tOrder\tFamily\tGenus\n"
        "ASV_1\tBacteria\tB\tC\tD\tE\tF\nASV_2\tBacteria\tB\tC\tD\tE\tG\n"
    )
    # with --archive-dir the full lifecycle tail runs:
    # complete → archived → done (projects.py:525-551)
    assert run(
        spark, wh_dir, "load-results", "PRJ1", "--dir", str(d),
        "--archive-dir", str(tmp_path / "archive"),
    ) == 0
    assert "3 count cells" in capsys.readouterr().out
    assert (tmp_path / "archive" / "PRJ1.tar.gz").exists()

    # asvs region inference over the loaded project
    assert run(spark, wh_dir, "asvs") == 0
    out = capsys.readouterr().out
    assert "PRJ1: v4" in out
    # second run: queue empty
    assert run(spark, wh_dir, "asvs") == 0
    assert "no projects to evaluate" in capsys.readouterr().out

    # reports
    assert run(spark, wh_dir, "status") == 0
    assert "done\t1" in capsys.readouterr().out
    assert run(spark, wh_dir, "compendium") == 0
    out = capsys.readouterr().out
    assert "projects: 1" in out and "samples: 2" in out and "ASVs: 2" in out


EFETCH_TWO_PACKAGES = """<R><EXPERIMENT_PACKAGE><SAMPLE accession="SRS001"/>
<RUN accession="SRR100" total_bases="10"/><EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
<INSTRUMENT_MODEL>MiSeq</INSTRUMENT_MODEL>
</EXPERIMENT_PACKAGE>
<EXPERIMENT_PACKAGE><SAMPLE accession="SRS002"/>
<RUN accession="SRR200"/><EXTERNAL_ID namespace="BioProject">PRJ1</EXTERNAL_ID>
</EXPERIMENT_PACKAGE>
<EXPERIMENT_PACKAGE><SAMPLE accession="SRS001"/>
<RUN accession="SRR101" total_bases="20"/><EXTERNAL_ID namespace="BioProject">PRJ2</EXTERNAL_ID>
</EXPERIMENT_PACKAGE></R>"""


def test_runs_folds_packages_per_sample(spark, tmp_path, capsys):
    """A sample with two EXPERIMENT_PACKAGEs gets ONE samples row: the
    packages apply in document order and only non-null fields
    overwrite, like the reference's per-entry UPDATE (db.py:440-467)."""
    wh_dir = str(tmp_path / "wh")
    xml, mock = tmp_path / "bs.xml", tmp_path / "efetch.xml"
    xml.write_text(XML)
    mock.write_text(EFETCH_TWO_PACKAGES)
    assert run(spark, wh_dir, "init") == 0
    assert run(spark, wh_dir, "xml", "txid408170", str(xml)) == 0
    capsys.readouterr()
    assert run(spark, wh_dir, "runs", "--mock-xml", str(mock)) == 0
    assert "updated 2 samples" in capsys.readouterr().out
    rows = Warehouse(spark, wh_dir).read("samples").collect()
    assert len(rows) == 2
    by_srs = {r.srs: r for r in rows}
    s1 = by_srs["SRS001"]
    assert (s1.srr, s1.project, s1.total_bases) == (["SRR101"], "PRJ2", 20)
    assert s1.instrument == "MiSeq"  # the second package had none
    assert by_srs["SRS002"].srr == ["SRR200"]


def test_load_countries_and_geo_report(spark, wh_dir, tmp_path, capsys):
    """Geo dimension ingest (ref db.py:104-117 defines the tables but
    no loader) + the native samples→geo_loc_countries→countries
    snowflake report (plan j7's warehouse form)."""
    geo = tmp_path / "geo_locs.tsv"
    geo.write_text(
        "geo_loc_name\tiso2\nUSA: Boston\tUS\nUSA:Cambridge\tUS\nFrance: Paris\tFR\n"
    )
    ctry = tmp_path / "countries.tsv"
    ctry.write_text(
        "iso2\tname\tregion\nUS\tUnited States\tAmericas\nFR\tFrance\tEurope\n"
    )
    assert run(spark, wh_dir, "load-countries", "--geo-locs", str(geo),
               "--countries", str(ctry)) == 0
    assert "3 geo_loc mappings, 2 countries" in capsys.readouterr().out
    # idempotent re-load (keyed upsert, not append)
    assert run(spark, wh_dir, "load-countries", "--geo-locs", str(geo),
               "--countries", str(ctry)) == 0
    capsys.readouterr()

    samples = spark.createDataFrame(
        [
            ("SRS1", "PRJ1", "USA: Boston"),
            ("SRS2", "PRJ1", "France: Paris"),
            ("SRS3", "PRJ2", "somewhere odd"),
        ],
        "srs string, project string, geo_loc_name string",
    ).selectExpr(
        "srs", "project", "cast(null as string) taxon",
        "cast(array() as array<string>) srr",
        "cast(null as string) library_strategy",
        "cast(null as string) library_source",
        "cast(null as string) instrument",
        "cast(null as timestamp) pubdate",
        "cast(null as long) total_bases", "geo_loc_name",
    )
    wh = Warehouse(spark, wh_dir)
    wh.write("samples", samples)
    assert run(spark, wh_dir, "geo") == 0
    out = capsys.readouterr().out
    assert "Americas\tUnited States\t1\t1" in out
    assert "Europe\tFrance\t1\t1" in out
    assert "<unmapped>\t<unmapped>\t1\t1" in out


def test_plans_run_explain_commands(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "plans") == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary\toracle" in out
    # round 8: every registered plan is oracle-verified — zero
    # rows-only entries remain
    assert "o2_stratified_sample\toracle" in out
    assert "rows-only" not in out

    assert run(spark, wh_dir, "run", "q1_pricing_summary",
               "--sf-dir", "/root/testdata/sf0.001") == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out and "sum_qty" in out

    assert run(spark, wh_dir, "explain", "q6_forecast_revenue",
               "--sf-dir", "/root/testdata/sf0.001") == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "PushedFilters" in out

    import pytest as _pytest

    with _pytest.raises(SystemExit, match="unknown plan"):
        run(spark, wh_dir, "run", "nope")

    # free-form SQL over testdata views + wh_-prefixed warehouse tables
    assert run(
        spark, wh_dir, "sql",
        "SELECT r_name, (SELECT COUNT(*) FROM wh_status) AS n_status "
        "FROM region ORDER BY r_name LIMIT 2",
        "--sf-dir", "/root/testdata/sf0.001",
    ) == 0
    out = capsys.readouterr().out
    assert "AFRICA" in out and "n_status" in out


def test_sources_command(spark, wh_dir, tmp_path, capsys):
    src = tmp_path / "sources.txt"
    src.write_text("human stool\nsoil core\n")
    out_dir = tmp_path / "processed"
    assert run(spark, wh_dir, "sources", str(src), str(out_dir)) == 0
    assert "kept 1" in capsys.readouterr().out


def test_warehouse_merge_roundtrip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.init_tables()
    s1 = spark.createDataFrame(
        [("P1", "running", 0, None, None, None)],
        "project string, status string, rerun_as_single_end int, paired int, note1 string, note2 string",
    )
    wh.upsert("status", s1, key="project")
    s2 = spark.createDataFrame(
        [("P1", "done", 0, None, None, None), ("P2", "running", 0, None, None, None)],
        s1.schema,
    )
    wh.upsert("status", s2, key="project")
    got = {r.project: r.status for r in wh.read("status").collect()}
    assert got == {"P1": "done", "P2": "running"}


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    """asv_sequences is hive-partitioned by project; an upsert for one
    project must carry every other partition's files into the new
    snapshot by reference (partition-level MERGE, not a table
    rewrite)."""
    wh = Warehouse(spark, str(tmp_path / "wh3"))
    wh.init_tables()
    schema = "asv_id long, project string, asv string, seq string"
    wh.append(
        "asv_sequences",
        spark.createDataFrame(
            [(1, "P1", "ASV_1", "AAA"), (2, "P2", "ASV_1", "CCC")], schema
        ),
    )
    v = wh.latest("asv_sequences")
    p2_files = {
        f for f in wh.manifest("asv_sequences", v)["files"] if "/project=P2/" in f
    }
    assert p2_files

    wh.upsert(
        "asv_sequences",
        spark.createDataFrame(
            [(1, "P1", "ASV_1", "GGG"), (3, "P1", "ASV_2", "TTT")], schema
        ),
        key=["project", "asv"],
    )
    added, removed = wh.diff("asv_sequences", v, v + 1)
    assert added and all("/project=P1/" in f for f in added + removed)
    # P2 partition untouched: the very same files, carried by reference
    assert p2_files <= set(wh.manifest("asv_sequences", v + 1)["files"])

    got = {
        (r.project, r.asv): r.seq
        for r in wh.read("asv_sequences").collect()
    }
    assert got == {
        ("P1", "ASV_1"): "GGG",
        ("P1", "ASV_2"): "TTT",
        ("P2", "ASV_1"): "CCC",
    }


def test_schema_validation_rejects_drift(spark, tmp_path):
    """A DataFrame whose columns drift from the declared table schema
    must fail at the write boundary with a readable error."""
    from compendium_spark.operators.validate import SchemaMismatchError

    wh = Warehouse(spark, str(tmp_path / "wh4"))
    wh.init_tables()
    bad = spark.createDataFrame(
        [("P1", "running")], "project string, status_name string"
    )
    with pytest.raises(SchemaMismatchError) as e:
        wh.write("status", bad)
    assert "missing" in str(e.value) and "status_name" in str(e.value)

    wrong_type = spark.createDataFrame(
        [("P1", "running", "0", None, None, None)],
        "project string, status string, rerun_as_single_end string, "
        "paired int, note1 string, note2 string",
    )
    with pytest.raises(SchemaMismatchError) as e:
        wh.append("status", wrong_type)
    assert "wrong_type" in str(e.value)


def test_progress_report_golden(spark, wh_dir, tmp_path, capsys):
    """cmd_progress mirrors the reference's Report_progress
    (projects.py:156-198): fresh project shows the arrow at the
    earliest failing check; a mid-pipeline project arrows the first
    missing stage log and banners CURRENTLY RUNNING; a finished
    project short-circuits to DONE! with exit code 0."""
    pdir = tmp_path / "projects"
    proj = pdir / "PRJX"

    # nothing exists: exit 1, arrow at the very first check
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 1
    out = capsys.readouterr().out
    assert "X   Directory created   <<< XXXXXXX <<<" in out
    assert "DONE!" not in out

    # initialized + first two stage logs + live run marker
    (proj / ".snakemake" / "slurm_logs").mkdir(parents=True)
    (proj / "workflow").mkdir()
    (proj / "venv").mkdir()
    (proj / "SraAccList.txt").write_text("SRR100\n")
    (proj / ".snakemake" / "slurm_logs" / "rule_sra_prefetch").write_text("")
    (proj / ".snakemake" / "slurm_logs" / "rule_sra_to_fastq").write_text("")
    (proj / "running.txt").write_text("")
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 1
    out = capsys.readouterr().out
    assert "CURRENTLY RUNNING" in out
    assert "✓   Repository cloned" in out
    assert "✓   2/6 SRA data extraction job started" in out
    assert "X   3/6 FASTQ filtering job started   <<< XXXXXXX <<<" in out
    # only ONE arrow in the whole report (the reference's `arrow` latch)
    assert out.count("<<< XXXXXXX <<<") == 1

    # all result files present: DONE! short-circuit, exit 0
    for f in ("ASVs.fa", "ASVs_counts.tsv", "ASVs_taxonomy.tsv"):
        (proj / f).write_text("x")
    assert run(spark, wh_dir, "progress", "PRJX", "--projects-dir", str(pdir)) == 0
    out = capsys.readouterr().out
    assert out.strip().endswith("DONE!")
