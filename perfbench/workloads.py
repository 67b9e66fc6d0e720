"""The three workloads: which operations each runs, and in what order.

An operation ("op") is either one registered plan, timed from
`plan.fn(spark, sf_dir)` to the end of a `noop` write that materializes
every declared column, or one `compendium_spark.cli.main([...])` call.
Each workload is a closed loop with one client: the next op starts when
the previous one has returned.

The lists are cut from the full sets named in the benchmark's README so
that one cold pass fits the run length on a 4-core box; the README says
which plans were left out and why.
"""

from __future__ import annotations

from pathlib import Path

# JVM-only plans whose executor work (scan, shuffle, window, aggregate)
# dominates, including those whose cost hides under `.count()`.
OLAP = (
    "q3_shipping_priority",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q18_large_volume_orders",
    "q21_waiting_orders",
    "text_repetition_ratio",
    "a19_robust_stats",
    "text_token_entropy",
    "a13_exact_quantiles",
    "ts_resample_ffill",
    "w4_running_sum",
    "w15_rolling_zscore",
    "dq_schema_profile",
    "j10_range_join",
)

# Training-data plans: composed dedup (eager-job floor), an iterative
# plan, embedding kernels in Python workers, a streaming plan and a
# versioned-sink round trip.
CORPUS = (
    "sim_pq_adc_topk",
    "dedup_cluster_labels",
    "graph_kcore",
    "dedup_embedding_cosine",
    "streaming_running_totals",
    "sink_cdf_roundtrip",
)

# Plans in no workload: set-up runs them to warm the JIT and codegen
# machinery, so each measured op still pays its own first-run codegen.
WARMUP = ("q6_forecast_revenue",)

PLAN_WORKLOADS = {"olap": OLAP, "corpus": CORPUS}
WORKLOADS = ("olap", "corpus", "etl")


def plan_order(workload: str) -> list[str]:
    """The workload's plans, in a fixed order. An op's cold latency
    depends on which ops ran before it (shared codegen, the parquet
    writer, table loads): with a seeded order `sink_cdf_roundtrip` took
    5.4 s late in the pass and 8-9 s early, and op_tail_s spread by half
    across seeds. So the seed only generates the `etl` inputs."""
    return list(PLAN_WORKLOADS[workload])


def etl_commands(inputs: Path, manifest: dict, cores: int) -> list[list[str]]:
    """The reference's operator loop as CLI argument lists, in order:
    ingest, enrich, submit, QC-forward, load, infer, report."""
    projects = sorted(manifest["projects"])
    saved = [p for p in projects if manifest["projects"][p]["decision"] == "save"]
    n_samples = len(manifest["samples"])
    pdir = str(inputs / "projects")
    cmds = [
        ["init"],
        ["xml", manifest["taxon"], str(inputs / "biosample.xml")],
        ["tags", manifest["taxon"], str(inputs / "biosample.xml")],
        # one batch holding every candidate, so the mock response is
        # what a single eUtils call returns
        ["runs", "--count", str(n_samples), "--per-query", str(n_samples),
         "--mock-xml", str(inputs / "efetch.xml")],
    ]
    cmds += [["runit", p, "--projects-dir", pdir] for p in projects]
    cmds.append(["forward", "--projects-dir", pdir])
    cmds += [
        ["load-results", p, "--dir", f"{pdir}/{p}", "--archive-dir", str(inputs / "archive")]
        for p in saved
    ]
    cmds.append(["asvs", "--count", str(max(cores, len(saved)))])
    cmds += [["status"], ["compendium"], ["summary"], ["find-todo"]]
    return cmds


# CLI command -> the cli.* layer metric its time is booked under.
CLI_GROUPS = {
    "init": "init", "xml": "xml", "tags": "tags", "runs": "runs",
    "runit": "runit", "forward": "forward", "load-results": "load_results",
    "asvs": "asvs", "status": "report", "compendium": "report",
    "summary": "report", "find-todo": "report",
}
