"""Per-file statistics of freshly written parquet, footer first.

Every Delta/ACID commit records ``(numRecords, min/max, nullCount)`` for
each file it adds, and CONVERT TO DELTA for each file it adopts; this
module is the one place that derives them.  :func:`staged_file_stats`
reads them from the parquet footers (a few KB per file, not a re-scan of
what the commit just wrote) and falls back to one
``groupBy(input_file_name)`` scan, :func:`staged_stats_from_scan`, only
where the footers cannot answer.  That scan is also the reference
tests/test_footer_stats_r8.py pins the footers against.

Footer rules:

- a 0-row file has no row groups and is skipped; the scan emits no group
  for it either.
- a column whose WHOLE statistics object the writer dropped (a string
  whose min+max exceed 4096 bytes: no min/max, no null_count) is omitted;
  data skipping keeps a file whose column has no stats.
- min/max without a null count raises, so the scan answers instead.

Orderings match Spark's ``min``/``max``: UTF-8 byte order is codepoint
order, and the row-group merge puts NaN above every number.  Timestamps
are staged as INT64 microseconds (``delta_log._staging_write_conf``),
whose bounds pyarrow returns as UTC-aware datetimes, the same instants
the scan returns; INT96, Spark's default, has no statistics and is
omitted.

Past ``distributed_threshold`` files the footers are read in a Spark job
over the path list, so a commit of thousands of files never reads them
one by one on the driver.
"""

from __future__ import annotations

import math
from typing import Iterable


def _merge_min(a, b):
    """min under Spark/parquet ordering: NaN is GREATER than everything,
    so the min prefers any non-NaN value (python's builtin min is
    order-dependent around NaN and cannot be used directly)."""
    if a is None:
        return b
    if b is None:
        return a
    a_nan = isinstance(a, float) and math.isnan(a)
    b_nan = isinstance(b, float) and math.isnan(b)
    if a_nan:
        return b
    if b_nan:
        return a
    return a if a <= b else b


def _merge_max(a, b):
    """max under Spark/parquet ordering: NaN wins."""
    if a is None:
        return b
    if b is None:
        return a
    if isinstance(a, float) and math.isnan(a):
        return a
    if isinstance(b, float) and math.isnan(b):
        return b
    return a if a >= b else b


def read_footer(path: str):
    """pyarrow ``FileMetaData`` of one parquet file, footer bytes only.
    Executor-safe: importable module + pyarrow only."""
    import pyarrow.parquet as pq

    from delta_lake_validation_spark.sources.fs import pa_fs

    fs, norm = pa_fs(path)
    try:
        return pq.read_metadata(norm, filesystem=fs)
    except OSError:
        # Spark 4.1 annotates variant columns with the parquet VARIANT
        # LogicalType, which this pyarrow cannot parse; footer_patch.py
        # strips the annotation and copies the statistics verbatim.  Any
        # other parse failure re-raises.
        from delta_lake_validation_spark.sources.footer_patch import (
            read_patched_metadata,
        )

        with fs.open_input_file(norm) as fh:
            return read_patched_metadata(fh)


def file_footer_stats(md) -> tuple[int, dict[str, tuple]]:
    """``(num_rows, {column_path: (min, max, null_count)})`` of one
    parquet file from its footer ``md`` (:func:`read_footer`).  A bound
    is ``None`` when any row group lacks min/max for the column or
    pyarrow cannot convert them; ``null_count`` is ``None`` when any row
    group lacks it.  Values are pyarrow's logical-type-converted Python
    values (int/float/str/bool/date, UTC-aware datetime for INT64
    timestamps)."""
    # [min, max, null_count, every_rg_had_minmax, every_rg_had_nullcount]
    cols: dict[str, list] = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            st = col.statistics
            has_mm = st is not None and st.has_min_max
            has_nc = st is not None and st.has_null_count
            if has_mm:
                try:
                    lo, hi = st.min, st.max
                except NotImplementedError:
                    # pyarrow cannot convert the bounds of some logical
                    # types (a decimal stored as INT32/INT64): unknown
                    has_mm = False
            ent = cols.setdefault(col.path_in_schema, [None, None, 0, True, True])
            ent[3] = ent[3] and has_mm
            ent[4] = ent[4] and has_nc
            if has_mm:
                ent[0] = _merge_min(ent[0], lo)
                ent[1] = _merge_max(ent[1], hi)
            if has_nc:
                ent[2] += st.null_count
    return md.num_rows, {
        name: (
            ent[0] if ent[3] else None,
            ent[1] if ent[3] else None,
            ent[2] if ent[4] else None,
        )
        for name, ent in cols.items()
    }


def _kv(path: str):
    return path, file_footer_stats(read_footer(path))


def footer_stats(
    paths: Iterable[str],
    spark=None,
    distributed_threshold: int = 256,
) -> dict[str, tuple[int, dict[str, tuple]]]:
    """``{path: file_footer_stats(read_footer(path))}`` for every path.
    Small batches read on the driver (sub-ms per local footer); past
    ``distributed_threshold`` the reads fan out as a Spark job over the
    path list so a huge commit's stats collection is executor-parallel
    metadata I/O, never a driver loop."""
    plist = list(paths)
    if spark is not None and len(plist) > distributed_threshold:
        sc = spark.sparkContext
        n_slices = max(1, min(len(plist) // 32, sc.defaultParallelism * 4))
        return dict(sc.parallelize(plist, n_slices).map(_kv).collect())
    return dict(_kv(p) for p in plist)


def staged_stats_from_footers(
    spark, paths: list[str], columns: list[str]
) -> dict[str, tuple[int, dict[str, tuple]]]:
    """The footer half of :func:`staged_file_stats`, under the rules in
    the module docstring.  Raises where the footers cannot answer."""
    out: dict[str, tuple[int, dict[str, tuple]]] = {}
    for p, (n, cols) in footer_stats(paths, spark).items():
        if n == 0:
            continue
        got: dict[str, tuple] = {}
        for c in columns:
            mn, mx, nc = cols.get(c, (None, None, None))
            if nc is None:
                if mn is None and mx is None:
                    continue  # dropped statistics object: omit the column
                raise ValueError(f"no footer null-count for {c} in {p}")
            got[c] = (mn, mx, int(nc))
        out[p] = (int(n), got)
    return out


def staged_stats_from_scan(
    spark, paths: list[str], columns: list[str]
) -> dict[str, tuple[int, dict[str, tuple]]]:
    """The scan half of :func:`staged_file_stats`: one
    ``groupBy(input_file_name)`` aggregation over the files.  Timestamps
    are aggregated as epoch microseconds and returned as UTC-aware
    datetimes, like the footer's: a collected ``TimestampType`` value is
    a naive datetime in the driver's local zone."""
    import datetime as dt
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    from delta_lake_validation_spark.sources.fs import strip_scheme

    df = spark.read.parquet(*paths)
    ts_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)
    }
    aggs = [F.count(F.lit(1))]
    for c in columns:
        lo, hi = F.min(F.col(c)), F.max(F.col(c))
        if c in ts_cols:
            lo, hi = F.unix_micros(lo), F.unix_micros(hi)
        aggs += [lo, hi, F.sum(F.col(c).isNull().cast("long"))]
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

    def bound(c, v):
        if v is None or c not in ts_cols:
            return v
        return epoch + dt.timedelta(microseconds=v)

    # input_file_name is a percent-encoded URI; the listed paths are raw
    by_key = {strip_scheme(p): p for p in paths}
    out: dict[str, tuple[int, dict[str, tuple]]] = {}
    for r in df.groupBy(F.input_file_name()).agg(*aggs).collect():
        got = {}
        for i, c in enumerate(columns):
            mn, mx, nc = r[2 + 3 * i], r[3 + 3 * i], r[4 + 3 * i]
            got[c] = (bound(c, mn), bound(c, mx), int(nc or 0))
        out[by_key[strip_scheme(unquote(r[0]))]] = (int(r[1]), got)
    return out


def staged_file_stats(
    spark, paths: list[str], columns: list[str]
) -> dict[str, tuple[int, dict[str, tuple]]]:
    """``{path: (numRecords, {column: (min, max, nullCount)})}`` for
    freshly written parquet files and their (physical) column names.
    Footers first; on any failure, the one scan fallback."""
    try:
        return staged_stats_from_footers(spark, paths, columns)
    except Exception:
        return staged_stats_from_scan(spark, paths, columns)
