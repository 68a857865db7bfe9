"""File-skipping index: parquet footer statistics as a queryable DataFrame.

Engines like Delta/Iceberg keep per-file column min/max in their metadata
layer and prune scans against it before any data IO. Plain-parquet Spark
only prunes row groups AFTER opening each file — at 100 TB with millions of
files, the per-file open cost dominates selective scans. These helpers
recover the metadata-layer behavior for plain parquet directories:

* :func:`footer_stats` — per-file (path, rows, min, max per column) from
  parquet FOOTERS only. The file listing goes through the Hadoop
  FileSystem API; the footer reads are a distributed job: paths are
  parallelized and each executor opens footers with pyarrow — no data
  pages are touched, so cost is O(files), not O(bytes). Non-local URIs
  resolve through ``pyarrow.fs.FileSystem.from_uri`` on the workers, so
  schemes work exactly as far as the installed pyarrow build supports
  them (S3 in stock wheels; hdfs needs libhdfs) — an unsupported scheme
  fails the job loudly rather than misreporting.
* :func:`prune_files` — the file paths whose [min, max] envelope intersects
  a predicate range; feed them back to ``spark.read.parquet(*files)`` for
  a scan that never opens a prunable file.

Materialize ``footer_stats`` output as a small parquet table and you have a
poor-man's table-format manifest: refresh it per ingest batch, query it
instead of listing+opening the data files.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from procurement_data_pipeline_spark import storage


def _open_target(uri: str) -> tuple:
    """(path, filesystem-or-None) for pyarrow.parquet.ParquetFile.

    file: URIs strip to plain local paths; any other scheme resolves via
    pyarrow.fs.FileSystem.from_uri, which raises for schemes the installed
    pyarrow build does not support — a loud failure, never a misread."""
    if uri.startswith("file:"):
        return uri[len("file:") :], None
    if "://" not in uri:
        return uri, None
    from pyarrow import fs as pafs

    filesystem, path = pafs.FileSystem.from_uri(uri)
    return path, filesystem


def footer_stats(
    spark: SparkSession,
    path: str | list[str],
    cols: list[str],
    col_types: dict[str, str] | None = None,
) -> DataFrame:
    """Per-file min/max/row-count for ``cols``, reading only parquet footers.

    ``path`` is a directory to list recursively, or an explicit list of
    file URIs (the versioned-table case, where one version's files span
    several commit directories).

    Output schema: ``file string, n_rows long`` plus ``min_<c>, max_<c>``
    per requested column — ``double`` by default; pass
    ``col_types={"c": "string"|"date"}`` (Spark ``typeName()`` strings) to
    keep string/date bounds in their own type instead of a lossy float
    cast. Parquet writers may TRUNCATE long byte-array statistics, but the
    stored min/max remain valid bounds by spec (max is padded upward), so
    string envelopes are safe for pruning even when inexact. A column
    chunk without statistics yields NULL bounds — :func:`prune_files`
    treats NULL as "cannot prune", never as "skip", so missing stats
    degrade to a full scan, not wrong results.
    """
    files = path if isinstance(path, list) else list(storage.list_parquet_files(spark, path))
    col_types = col_types or {}

    def _sql_type(c: str) -> str:
        t = col_types.get(c)
        return t if t in ("string", "date") else "double"

    schema = "file string, n_rows long, " + ", ".join(
        f"min_{c} {_sql_type(c)}, max_{c} {_sql_type(c)}" for c in cols
    )

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for uri in pdf["file"]:
                target, pafs_fs = _open_target(uri)
                meta = pq.ParquetFile(target, filesystem=pafs_fs).metadata
                names = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
                rec = {"file": uri, "n_rows": meta.num_rows}
                for c in cols:
                    lo, hi = None, None
                    idx = names.get(c)
                    if idx is not None:
                        for rg in range(meta.num_row_groups):
                            st = meta.row_group(rg).column(idx).statistics
                            if st is None or not st.has_min_max:
                                lo, hi = None, None
                                break
                            lo = st.min if lo is None else min(lo, st.min)
                            hi = st.max if hi is None else max(hi, st.max)
                    numeric = _sql_type(c) == "double"
                    rec[f"min_{c}"] = (
                        None if lo is None else (float(lo) if numeric else lo)
                    )
                    rec[f"max_{c}"] = (
                        None if hi is None else (float(hi) if numeric else hi)
                    )
                rows.append(rec)
            yield pd.DataFrame(
                rows,
                columns=["file", "n_rows"]
                + [f"{m}_{c}" for c in cols for m in ("min", "max")],
            )

    paths_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, min(len(files), 64)))
    return paths_df.mapInPandas(read_footers, schema=schema)


def prune_files(
    stats: DataFrame,
    col: str,
    lo: float | None = None,
    hi: float | None = None,
) -> list[str]:
    """Files whose ``col`` envelope intersects [lo, hi] (either bound may be
    open). Files with NULL stats are always kept — pruning must never drop
    a file it cannot prove empty of matches."""
    from pyspark.sql import functions as F

    keep = F.lit(True)
    if lo is not None:
        keep = keep & (F.col(f"max_{col}").isNull() | (F.col(f"max_{col}") >= lo))
    if hi is not None:
        keep = keep & (F.col(f"min_{col}").isNull() | (F.col(f"min_{col}") <= hi))
    return [r["file"] for r in stats.filter(keep).select("file").collect()]


def quarantine_corrupt_files(
    spark: SparkSession, path: str, quarantine_dir: str
) -> list[str]:
    """Move parquet files whose FOOTER fails to parse into a quarantine
    directory, returning the moved paths.

    The operational reality of long-running ingests: a crashed writer
    leaves a truncated file and every later scan of the directory dies on
    it (`ignoreCorruptFiles` hides the loss silently — acceptable for ad
    hoc reads, not for a warehouse that must ACCOUNT for its data).
    Footer probing reuses the distributed pyarrow pass (O(files), no data
    pages); moves go through the Hadoop FileSystem API so the same code
    quarantines on hdfs:// and s3a://. Re-run after restoring a file to
    fold it back in manually — the move is rename-based, content
    untouched.
    """
    files = list(storage.list_parquet_files(spark, path))
    if not files:
        return []

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        import pyarrow as pa

        for pdf in batches:
            rows = []
            for uri in pdf["file"]:
                target, pafs_fs = _open_target(uri)
                try:
                    pq.ParquetFile(target, filesystem=pafs_fs).metadata  # noqa: B018
                    ok = True
                except pa.ArrowException:
                    # Footer fails to PARSE -> corrupt. Environmental
                    # failures (missing file, permissions, unsupported
                    # scheme) raise OSError/ValueError instead and fail
                    # the job loudly — a healthy-but-unreadable file must
                    # never be classified as corrupt and moved.
                    ok = False
                rows.append({"file": uri, "ok": ok})
            yield pd.DataFrame(rows, columns=["file", "ok"])

    paths_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(max(1, min(len(files), 64)))
    bad = [
        r["file"]
        for r in paths_df.mapInPandas(probe, "file string, ok boolean")
        .filter("NOT ok")
        .collect()
    ]
    if not bad:
        return []
    storage.mkdirs(spark, quarantine_dir)
    for uri in bad:
        # checked rename: a corrupt file we could not actually move must
        # not be reported as repaired
        storage.rename(spark, uri, quarantine_dir.rstrip("/") + "/" + uri.rsplit("/", 1)[-1])
    return bad


__all__ = ["footer_stats", "prune_files", "quarantine_corrupt_files"]
