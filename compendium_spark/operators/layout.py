"""Physical file-layout operators: compaction and range clustering.

The two storage-side levers a 100 TB parquet warehouse lives or dies
by, neither of which is a query-time concern and so sits beside (not
inside) the plan registry:

* **Small-file compaction** — long-running ingest (the reference's
  per-project result loads, `projects.py:418-525`, arriving as many
  small appends) accumulates files far below the ideal scan unit.
  Scans then pay per-file open/footer costs and the driver pays
  per-file planning memory. `compact()` bin-packs a dataset back to
  ~`target_file_bytes` files via a staged rewrite.

* **Range clustering** — parquet footers carry per-column min/max.
  Writing a table range-partitioned AND sorted on its hot filter key
  makes those ranges *disjoint*, so a point/range predicate prunes to
  the few files whose span overlaps — the poor-man's index that makes
  "read 100 TB, touch 100 GB" work. `cluster_by()` writes that layout;
  `file_key_ranges()` reads the real footer statistics back so tests
  (and audits) can PROVE the spans are tight instead of trusting the
  writer.
"""

from __future__ import annotations

import math
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def _data_files(path: str | Path) -> list[Path]:
    return sorted(p for p in Path(path).glob("*.parquet") if p.is_file())


def _staged_replace(df: DataFrame, target: Path) -> None:
    """Write df to a staging dir then swap it in — safe when df reads
    the target itself, but NOT crash-atomic: a crash between the
    rmtree and the rename loses the dataset. Warehouse tables get the
    transactional form, ``Warehouse.compact``."""
    staging = target.parent / f".{target.name}.staging-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(str(staging))
    if target.exists():
        shutil.rmtree(target)
    staging.rename(target)


def compact(
    spark: SparkSession, path: str | Path, target_file_bytes: int = 128 << 20
) -> tuple[int, int]:
    """Bin-pack a parquet dir to ~target-sized files.

    Returns (files_before, files_after). The rewrite is one
    round-robin repartition — no shuffle key, so it's a pure exchange
    sized by total bytes, and AQE cannot re-split it into small files
    again. At warehouse scale this runs per-partition-directory (cheap,
    embarrassingly parallel across partitions) rather than per-table.
    """
    target = Path(path)
    files = _data_files(target)
    total = sum(f.stat().st_size for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    if len(files) <= n_out:
        return (len(files), len(files))
    df = spark.read.parquet(str(target)).repartition(n_out)
    _staged_replace(df, target)
    return (len(files), len(_data_files(target)))


def cluster_by(
    df: DataFrame, path: str | Path, key: str, n_files: int
) -> None:
    """Write df as n_files parquet files range-clustered on `key`:
    every file owns a disjoint key span (repartitionByRange) and is
    internally sorted (sortWithinPartitions), so each row group's
    footer min/max is as tight as the layout allows."""
    out = (
        df.repartitionByRange(n_files, key)
        .sortWithinPartitions(key)
    )
    _staged_replace(out, Path(path))


def file_key_ranges(path: str | Path, column: str) -> list[tuple]:
    """Read (min, max) for `column` from every data file's parquet
    footer — the exact statistics a scan's predicate pushdown prunes
    on. No row data is read."""
    import pyarrow.parquet as pq

    ranges = []
    for f in _data_files(path):
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    return sorted(ranges)
