"""Output checks, run after the timed pass.

Plan results are compared with their DuckDB oracles at the strength of
a value hash: columns sorted by name, rows sorted, equal dtype kinds,
and float columns equal bit for bit (a signed zero is a mismatch). This
is the normalization of the repository's parity suite, restated here so
that the benchmark does not depend on the test tree.

The `etl` warehouse is compared with the generator's manifest.
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd


class Oracle:
    """DuckDB oracle results over the parquet tables in sf_dir.

    Some oracles take 10-20 s in DuckDB, longer than the op they check,
    so each result is cached under cache_dir, keyed by the SQL text and
    the bytes of every input table; the cache holds only pickles this
    class wrote."""

    def __init__(self, sf_dir: Path, tables: tuple[str, ...], cache_dir: Path) -> None:
        self.sf_dir = sf_dir
        self.tables = tables
        self.cache_dir = cache_dir
        h = hashlib.sha1()
        for t in tables:
            h.update((sf_dir / f"{t}.parquet").read_bytes())
        self.data_key = h.hexdigest()
        self._con: duckdb.DuckDBPyConnection | None = None

    def result(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha1((self.data_key + sql).encode()).hexdigest()
        path = self.cache_dir / f"{key}.pkl"
        if path.exists():
            return pickle.loads(path.read_bytes())
        if self._con is None:
            self._con = duckdb.connect()
            for t in self.tables:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        df = self._con.execute(sql).df()
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_bytes(pickle.dumps(df))
        tmp.replace(path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def hash_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both frames would serialize to the same value hash,
    else a one-line reason."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    kind = lambda k: "i" if k in "iu" else k  # noqa: E731
    for c in got.columns:
        if kind(got[c].dtype.kind) != kind(want[c].dtype.kind):
            return f"{c}: dtype {got[c].dtype} != {want[c].dtype}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return str(e).splitlines()[0]
    for c in got.columns:
        if got[c].dtype.kind == "f":
            g = got[c].to_numpy(dtype="float64")
            w = want[c].to_numpy(dtype="float64")
            bad = (g.view("int64") != w.view("int64")) & ~(np.isnan(g) & np.isnan(w))
            if bad.any():
                i = int(np.argmax(bad))
                return f"{c}[{i}]: {g[i]!r} != {w[i]!r} bitwise"
    return None


def etl_mismatches(wh, manifest: dict, forward_out: str) -> dict[str, list[str]]:
    """Compare the warehouse, and the QC decisions `forward` printed,
    with the manifest. Returns, per CLI command whose effect is wrong,
    the reasons; an empty dict means all match."""
    bad: dict[str, list[str]] = {}
    note = lambda cmd, msg: bad.setdefault(cmd, []).append(msg)  # noqa: E731
    projects = manifest["projects"]

    printed = dict(
        line.split(": ", 1) for line in forward_out.splitlines()
        if line.split(": ", 1)[0] in projects
    )
    want = {p: e["decision"] for p, e in projects.items()}
    if printed != want:
        note("forward", f"QC decisions {printed} != {want}")

    samples = wh.read("samples").select("srs", "project", "srr", "total_bases").collect()
    per_srs: dict[str, list] = {}
    for r in samples:
        per_srs.setdefault(r.srs, []).append(r)
    if set(per_srs) != set(manifest["samples"]):
        note("xml", f"samples {len(per_srs)} srs, expected {len(manifest['samples'])}")
    dup = {s: len(rs) for s, rs in per_srs.items() if len(rs) != 1}
    if dup:
        note("runs", f"{len(dup)} srs with more than one samples row "
                     f"({len(samples)} rows for {len(per_srs)} srs)")
    for srs, exp in manifest["samples"].items():
        rows = per_srs.get(srs, [])
        if rows and any(
            (list(r.srr or []), r.project, r.total_bases)
            != (exp["srr"], exp["project"], exp["total_bases"]) for r in rows
        ):
            note("runs", f"{srs}: enrichment is not the last package's")
            break

    status = {r.project: r.status for r in wh.read("status").collect()}
    for p, e in projects.items():
        if status.get(p) != e["status"]:
            cmd = "load-results" if e["decision"] == "save" else "forward"
            note(cmd, f"{p}: status {status.get(p)}, expected {e['status']}")
    freq: dict[str, int] = {}
    for s in status.values():
        freq[s] = freq.get(s, 0) + 1
    if freq != manifest["status_freq"]:
        note("forward", f"status frequencies {freq} != {manifest['status_freq']}")

    for table, key in (("asv_counts", "count_cells"), ("asv_sequences", "sequences"),
                       ("asv_assignments", "assignments")):
        n = wh.read(table).count()
        if n != manifest[key]:
            note("load-results", f"{table}: {n} rows, expected {manifest[key]}")

    regions = {r.project: r.region for r in wh.read("asv_inference").collect()}
    want_regions = {p: e["region"] for p, e in projects.items() if e["decision"] == "save"}
    if regions != want_regions:
        note("asvs", f"regions {regions} != {want_regions}")
    return bad
