"""Seeded inputs for the `etl` workload, and the state they must leave.

`generate(seed, out_dir)` writes what the reference tool reads from the
outside world: one BioSample XML, one eUtils EFetch response (served to
`runs --mock-xml`), and per project the DADA2 outputs `summary.tsv`,
`ASVs_counts.tsv`, `ASVs.fa` and `ASVs_taxonomy.tsv`. It returns the
manifest of what the warehouse must hold after the operator loop ran.
The same seed gives byte-identical files.

Each project is built to take one QC branch: `save` (every ratio
healthy), `re_run` (merged/forward below the error threshold for every
sample) or `discard` (reads retained below the error threshold). Saved
projects carry ASVs cut from one 16S region of the E. coli reference
gene, so region inference has a known answer.
"""

from __future__ import annotations

import json
import random
from pathlib import Path

TAXON = "txid408170"
N_PROJECTS = 3
SAMPLES_PER_PROJECT = 6
ASVS_PER_PROJECT = 4
# Project i takes DECISIONS[i % len]: one project per QC branch.
DECISIONS = ("save", "re_run", "discard")
FINAL_STATUS = {"save": "done", "re_run": "to_re_run", "discard": "failed"}
# (start, end) slices of WHOLE_16S and the region the reference's
# alignment assigns to them (checked against amplicon.process_project).
REGION_SLICES = {
    "v4": (570, 690),
    "v3-v4": (430, 690),
    "v1-v2": (60, 250),
    "v5-v6": (820, 1050),
}
RANKS = ("Kingdom", "Phylum", "Class", "Order", "Family", "Genus")
BASES = "acgt"


def _mutate(rng: random.Random, seq: str, n: int) -> str:
    """Substitute n bases away from both ends, so the alignment span and
    hence the inferred region stay those of the unmutated slice."""
    s = list(seq)
    for _ in range(n):
        i = rng.randrange(20, len(s) - 20)
        s[i] = rng.choice([b for b in BASES if b != s[i]])
    return "".join(s)


def _summary_row(rng: random.Random, decision: str) -> tuple[int, ...]:
    dinput = rng.randrange(40_000, 60_000)
    filt = int(dinput * rng.uniform(0.95, 0.98))
    forwd = int(filt * rng.uniform(0.97, 0.99))
    revse = int(filt * rng.uniform(0.97, 0.99))
    merged = int(forwd * (rng.uniform(0.40, 0.55) if decision == "re_run" else rng.uniform(0.90, 0.95)))
    if decision == "discard":
        nonchim = int(dinput * rng.uniform(0.30, 0.45))
        length = int(nonchim / rng.uniform(0.96, 0.99))
    else:
        length = int(merged * rng.uniform(0.98, 1.0))
        nonchim = int(length * rng.uniform(0.96, 0.99))
    return dinput, filt, forwd, revse, merged, length, nonchim


def generate(seed: int, out_dir: Path, dup_share: float = 0.0) -> dict:
    """Write the inputs under out_dir and return the expected manifest.

    dup_share of the samples get two EXPERIMENT_PACKAGEs in the EFetch
    response, as SRA returns for resubmitted runs; the second one must
    win, as with the reference's per-entry UPDATE (db.py:440-467).
    """
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    proj_dir = out_dir / "projects"
    n_samples = N_PROJECTS * SAMPLES_PER_PROJECT
    srs_ids = [f"SRS{n:07d}" for n in rng.sample(range(10**6, 10**7), n_samples)]
    srr_nums = rng.sample(range(10**6, 10**7), 2 * n_samples)
    prj_ids = [f"PRJNA{n:06d}" for n in rng.sample(range(10**5, 10**6), N_PROJECTS)]

    biosamples, packages, samples = [], [], {}
    expected_projects = {}
    for p, project in enumerate(prj_ids):
        decision = DECISIONS[p % len(DECISIONS)]
        members = srs_ids[p * SAMPLES_PER_PROJECT:(p + 1) * SAMPLES_PER_PROJECT]
        summary_lines = ["\tdinput\tfilter\tforwd\trevse\tmerged\tlength\tnonchim"]
        for srs in members:
            k = srs_ids.index(srs)
            srr = f"SRR{srr_nums[k]:07d}"
            bases = rng.randrange(10**6, 10**8)
            geo = rng.choice(["USA", "France", "Japan", "Kenya"])
            biosamples.append(
                f'<BioSample><Ids><Id db="SRA">{srs}</Id></Ids><Attributes>'
                f'<Attribute harmonized_name="geo_loc_name">{geo}</Attribute>'
                f'<Attribute attribute_name="host">Homo sapiens</Attribute>'
                f"</Attributes></BioSample>"
            )
            if rng.random() < dup_share:
                stale = f"SRR{srr_nums[n_samples + k]:07d}"
                packages.append(_package(srs, stale, project, rng.randrange(10**6, 10**8)))
            packages.append(_package(srs, srr, project, bases))
            samples[srs] = {"srr": [srr], "project": project, "total_bases": bases}
            row = _summary_row(rng, decision)
            summary_lines.append(f"{srr}_1.fastq\t" + "\t".join(map(str, row)))
        d = proj_dir / project
        d.mkdir(parents=True, exist_ok=True)
        (d / "summary.tsv").write_text("\n".join(summary_lines) + "\n")
        entry = {"decision": decision, "status": FINAL_STATUS[decision]}
        if decision == "save":
            entry.update(_asv_files(rng, d, [samples[s]["srr"][0] for s in members]))
        expected_projects[project] = entry

    (out_dir / "biosample.xml").write_text(
        '<?xml version="1.0"?><BioSampleSet>\n' + "\n".join(biosamples) + "\n</BioSampleSet>\n"
    )
    (out_dir / "efetch.xml").write_text(
        "<EXPERIMENT_PACKAGE_SET>\n" + "\n".join(packages) + "\n</EXPERIMENT_PACKAGE_SET>\n"
    )
    status_freq: dict[str, int] = {}
    for e in expected_projects.values():
        status_freq[e["status"]] = status_freq.get(e["status"], 0) + 1
    saved = [e for e in expected_projects.values() if e["decision"] == "save"]
    manifest = {
        "seed": seed,
        "dup_share": dup_share,
        "taxon": TAXON,
        "projects": expected_projects,
        "samples": samples,
        "status_freq": status_freq,
        "count_cells": sum(e["count_cells"] for e in saved),
        "sequences": sum(e["asvs"] for e in saved),
        "assignments": sum(e["asvs"] for e in saved),
        "input_bytes": sum(f.stat().st_size for f in out_dir.rglob("*") if f.is_file()),
    }
    (out_dir / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def _package(srs: str, srr: str, project: str, bases: int) -> str:
    return (
        f'<EXPERIMENT_PACKAGE><SAMPLE accession="{srs}"/>'
        f'<RUN accession="{srr}" published="2021-03-04 10:00:00" total_bases="{bases}"/>'
        f'<EXTERNAL_ID namespace="BioProject">{project}</EXTERNAL_ID>'
        f"<LIBRARY_STRATEGY>AMPLICON</LIBRARY_STRATEGY><LIBRARY_SOURCE>GENOMIC</LIBRARY_SOURCE>"
        f"<INSTRUMENT_MODEL>Illumina MiSeq</INSTRUMENT_MODEL></EXPERIMENT_PACKAGE>"
    )


def _asv_files(rng: random.Random, d: Path, srrs: list[str]) -> dict:
    from compendium_spark.pipeline.amplicon import WHOLE_16S  # noqa: PLC0415

    region = rng.choice(sorted(REGION_SLICES))
    lo, hi = REGION_SLICES[region]
    asvs = [f"ASV_{i + 1}" for i in range(ASVS_PER_PROJECT)]
    counts = ["\t" + "\t".join(srrs)]
    cells = 0
    for a in asvs:
        row = [rng.randrange(1, 500) if rng.random() < 0.7 else 0 for _ in srrs]
        cells += sum(1 for c in row if c)
        counts.append(a + "\t" + "\t".join(map(str, row)))
    (d / "ASVs_counts.tsv").write_text("\n".join(counts) + "\n")
    (d / "ASVs.fa").write_text(
        "".join(f">{a}\n{_mutate(rng, WHOLE_16S[lo:hi], 3)}\n" for a in asvs)
    )
    tax = ["\t" + "\t".join(RANKS)]
    for a in asvs:
        genus = rng.choice(["Bacteroides", "Prevotella", "Escherichia", "Blautia"])
        tax.append(f"{a}\tBacteria\tFirmicutes\tClostridia\tEubacteriales\tLachnospiraceae\t{genus}")
    (d / "ASVs_taxonomy.tsv").write_text("\n".join(tax) + "\n")
    return {"region": region, "asvs": len(asvs), "count_cells": cells}
