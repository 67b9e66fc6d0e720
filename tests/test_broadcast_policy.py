"""Round-8 broadcast policy as a regression guard.

Policy (verdict r7 #1, fixed in r8): a forced ``F.broadcast(...)`` hint
overrides AQE's size check, so it is allowed ONLY on frames whose row
count is bounded by SEMANTICS or CONSTRUCTION — never on a frame that
grows with the corpus (a distinct-token vocabulary, per-doc lengths,
cluster labels, …). Those either join plain (AQE still broadcast-
converts them at small SF) or route through ``tables.maybe_broadcast``
(size-gated).

Enforcement is a source-level AST lint: every forced-broadcast call
site in ``compendium_spark/`` — any ``*.broadcast(...)`` /
``broadcast(...)`` call or ``.hint("broadcast"|"broadcastjoin"|
"mapjoin")`` — must appear in the allowlist below,
keyed by (file, enclosing function) with its boundedness argument.
Adding a new forced hint fails this test until the author states the
bound here — the review step that keeps the OOM class extinct.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "compendium_spark"

# (relpath, enclosing function) -> (expected number of hint sites, why
# the broadcast side is bounded). The site COUNT is part of the
# contract (ADVICE r8 #1): adding a second hint inside an already-
# allowlisted function fails the lint until the author re-states the
# bound here — per-site review, not per-function amnesty.
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    # --- infrastructure: the size gate itself -------------------------
    ("tables.py", "maybe_broadcast"): (1, "the size-gated hint (bound checked at call time)"),
    # --- ≤25-row dimension tables (fixed by TPC-H semantics) ----------
    ("plans/tpch.py", "q5_local_supplier_volume"): (2, "nation(25)/region(5) dims"),
    ("plans/tpch2.py", "q10_returned_items"): (1, "nation(25) dim"),
    ("plans/tpch2.py", "q7_volume_shipping"): (2, "2-row filtered nation dim"),
    ("plans/tpch2.py", "q8_market_share"): (3, "nation(25)/region(5) dims"),
    ("plans/tpch3.py", "q2_min_cost_supplier"): (2, "nation(25)/region(5) dims"),
    ("plans/tpch3.py", "q9_product_type_profit"): (1, "nation(25) dim"),
    ("plans/tpch3.py", "q11_important_stock"): (2, "1-row nation + 1-row threshold"),
    ("plans/tpch3.py", "q20_potential_promotion"): (1, "1-row nation slice"),
    ("plans/tpch3.py", "q21_waiting_orders"): (1, "1-row nation slice"),
    ("plans/reference_ops.py", "j7_snowflake_dims"): (2, "nation/region dims"),
    ("streaming/windows.py", "enrich_dim"): (1, "nation(25) dim"),
    ("streaming/windows.py", "enrich_join_transform"): (1, "bounded user dim (fixture contract)"),
    ("pipeline/status.py", "geo_summary"): (2, "ISO-3166 country list (249 rows)"),
    # --- 1-row scalar aggregates --------------------------------------
    ("plans/tpch2.py", "q22_global_sales_opportunity"): (1, "1-row avg balance"),
    ("plans/tpch3.py", "q15_top_supplier"): (1, "1-row max revenue"),
    ("plans/history.py", "j18_snapshot_diff"): (1, "1-row snapshot bounds"),
    ("plans/olap_ext.py", "a19_robust_stats"): (1, "per-group medians (groups bounded by semantics)"),
    ("plans/curation.py", "text_lm_score"): (1, "1-row corpus total"),
    ("plans/curation.py", "curate_domain_mix_report"): (1, "1-row grand total"),
    ("plans/text.py", "text_tfidf_topk"): (1, "1-row doc count N"),
    ("plans/text.py", "text_tfidf_log"): (1, "1-row doc count N"),
    ("plans/text.py", "text_boilerplate_shingles"): (1, "1-row corpus total"),
    ("plans/sketches.py", "a20_hll_sketch"): (1, "1-row exact-count check side"),
    ("plans/sketches.py", "a21_histogram_quantile"): (1, "per-type exacts (types bounded)"),
    ("plans/sketches.py", "a23_countmin_sketch"): (2, "CM counters (d×w fixed) + 1-row total"),
    ("plans/quality.py", "emb_quantize_int8"): (1, "1-row min/max stats"),
    ("plans/quality.py", "emb_outlier_filter"): (1, "per-label centroids (labels×dim, bounded by semantics)"),
    # --- ≤10-query / fixed-constant ANN sides -------------------------
    ("plans/ann.py", "sim_lsh_topk"): (1, "≤10-query side"),
    ("plans/ann.py", "sim_multiprobe_topk"): (1, "≤10-query side"),
    ("plans/ann.py", "sim_recall_report"): (3, "≤10-query side + 2-row method frame"),
    ("plans/extended.py", "sim_cosine_topk"): (1, "≤10-query side (documented exact baseline)"),
    ("plans/extended.py", "sim_mips_topk"): (1, "≤10-query side"),
    ("plans/pq.py", "sim_pq_adc_topk"): (1, "per-query LUT (queries×M×K fixed)"),
    ("plans/pq.py", "sim_ivfpq_topk"): (1, "per-query LUT (queries×M×K fixed)"),
    ("plans/quality.py", "sim_sq_topk_recall"): (2, "≤10-query side"),
    ("plans/quality.py", "sim_bq_topk"): (1, "≤10-query side"),
    ("plans/scoring.py", "emb_matryoshka_recall"): (1, "≤10-query side"),
    ("plans/scoring.py", "sim_hybrid_topk"): (2, "≤10-query side + 1-row stats"),
    ("plans/scoring.py", "sim_rrf_fusion"): (1, "≤10-query side"),
    ("plans/frontier.py", "sim_frontier_report"): (4, "≤10-query side + per-query LUTs (queries×M×K fixed) + 1-row corpus/query totals"),
    ("plans/mmr.py", "sim_mmr_topk"): (1, "≤10-query side (relevance-pool exact sweep; on-deck r11)"),
    ("plans/quality.py", "curate_split_leakage"): (1, "1-row leaky-cluster count (on-deck r11)"),
    ("plans/frontier.py", "_rollup"): (1, "≤|sweep| settings frame (constant)"),
    ("plans/graph.py", "graph_common_neighbors"): (4, "capped neighbor lists (degree-capped) + wedge probe (nodes×CAP) + undirected edge probe (nation-dim bounded) (r14)"),
    ("plans/graph.py", "graph_pagerank"): (3, "rank/out-weight/contribution state: node-dimension frames, nation dim = 25 rows at every SF (r14)"),
    ("plans/graph.py", "graph_triangle_count"): (2, "closure probe sides of the nation-dim undirected edge list (≤ 25·24/2 rows) (r14)"),
    ("plans/graph.py", "graph_2hop_features"): (2, "hub-capped adjacency (nodes×CAP) + direct-edge probe (nation-dim bounded) (r14)"),
    ("plans/graph.py", "graph_kcore"): (1, "coreness rollup: node-dimension frame, nation-dim bounded (r14; r15 moved the survivor probes to a collected isin literal)"),
    ("plans/graph.py", "capped_neighbor_lists"): (1, "degree table: node-dimension, nation-dim bounded (r14)"),
    # --- fixed-size sketch/filter structures --------------------------
    ("plans/bloom.py", "dedup_bloom_prefilter"): (2, "Bloom bit array (m=256 fixed) + ref hashes of a FILTERED slice (documented)"),
    ("operators/merge.py", "partial_update"): (1, "update batch (delta, bounded by ingest contract)"),
    ("storage_versioned.py", "_merge"): (1, "update KEY projection (delta-sized) semi-joined into a key+pcol column-pruned scan: the COW merge's touched-partition mapping and upsert move guard"),
    # --- round-9 plans (folded in from the r8 on-deck module) ---------
    ("plans/scoring.py", "_dsir_doc_scores"): (2, "1-row totals + ≤256-bucket hashed model (bounded by construction); shared by both DSIR plans"),
    ("plans/ivf.py", "sim_ivf_tuning_curve"): (4, "≤10-query side, 4-row sweep, 1-row totals"),
    ("plans/extended.py", "emb_dedup_threshold_curve"): (2, "6-row tau sweep + 1-row corpus total"),
    ("plans/text.py", "text_heaps_curve"): (1, "4-row prefix-share frame"),
    ("plans/ivf.py", "sim_filtered_topk"): (2, "≤10-query label and vector sides"),
    ("plans/extended.py", "dedup_embedding_cosine"): (1, "sc.broadcast of the (ids, matrix, norms) triple — regime-guarded ≤10⁴ vectors × 64 dims ≈ 5 MB (r14 C1; guard raises before this line on bigger inputs)"),
    ("sources/tsv.py", "assemble_asv_tables"): (1, "per-project taxonomy ASV key set — the reference loads the same table as an in-memory dict (projects.py), so project scale bounds it by contract (r14 fuzz fix)"),
    # --- text ranking --------------------------------------------------
    ("plans/text.py", "text_bm25_topk"): (2, "≤10-term query set + 1-row corpus stats"),
}


def _sites() -> list[tuple[str, str, int]]:
    out = []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text())

        class V(ast.NodeVisitor):
            def __init__(self) -> None:
                self.stack: list[str] = []

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                # every spelling of a forced broadcast, so the policy
                # can't be bypassed by an alternate import style:
                #   F.broadcast(x) / functions.broadcast(x)  (Attribute)
                #   broadcast(x) after a bare import          (Name)
                #   df.hint("broadcast"/"broadcastjoin"/"mapjoin")
                hit = (
                    isinstance(f, ast.Attribute) and f.attr == "broadcast"
                ) or (isinstance(f, ast.Name) and f.id == "broadcast")
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "hint"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and str(node.args[0].value).lower()
                    in ("broadcast", "broadcastjoin", "mapjoin")
                ):
                    hit = True
                if hit:
                    fn = self.stack[-1] if self.stack else "<module>"
                    out.append((rel, fn, node.lineno))
                self.generic_visit(node)

        V().visit(tree)
    return out


def test_every_forced_broadcast_is_allowlisted():
    sites = _sites()
    assert sites, "lint found no F.broadcast sites — AST scan broken?"
    unknown = [
        f"{rel}:{ln} in {fn}()"
        for rel, fn, ln in sites
        if (rel, fn) not in ALLOWED
    ]
    assert not unknown, (
        "forced F.broadcast hint(s) outside the boundedness allowlist "
        "(round-8 policy: forced hints only on semantics/construction-"
        "bounded frames — use tables.maybe_broadcast or a plain join "
        "for anything that scales with SF, or add an allowlist entry "
        "stating the bound):\n  " + "\n  ".join(unknown)
    )
    # per-site counts (ADVICE r8 #1): a NEW hint inside an already-
    # allowlisted function must re-state its bound by bumping the count
    from collections import Counter

    got = Counter((rel, fn) for rel, fn, _ in sites)
    mismatched = [
        f"{k[0]}:{k[1]}() has {got[k]} hint site(s), allowlist expects {v[0]}"
        for k, v in ALLOWED.items()
        if k in got and got[k] != v[0]
    ]
    assert not mismatched, (
        "forced-broadcast site COUNT drifted from the allowlist "
        "(restate the bound for every site):\n  " + "\n  ".join(mismatched)
    )


def test_allowlist_has_no_dead_entries():
    live = {(rel, fn) for rel, fn, _ in _sites()}
    dead = [k for k in ALLOWED if k not in live and k[0] != "tables.py"]
    assert not dead, f"allowlist entries with no matching source site: {dead}"
