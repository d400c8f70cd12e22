"""r8 optimization: per-file commit stats from parquet footers.

The commit path used to re-scan every staged byte in a second Spark job
just to record (numRecords, min/max, nullCount) per file.  The footer
path must be *bit-identical* to that scan (NaN-aware: NaN bounds compare
equal to NaN) on every stat-eligible type, and any surprise must fall
back to the scan rather than record weaker stats.
"""

import math
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from delta_lake_validation_spark.sources import footer_stats as fstats
from delta_lake_validation_spark.sources.acid.table import (
    AcidTable,
    _acid_file_stats,
)
from delta_lake_validation_spark.sources.delta_log import (
    _delta_file_stats,
    create_delta,
    strip_scheme,
)
from delta_lake_validation_spark.sources.footer_stats import (
    staged_file_stats,
    staged_stats_from_footers,
    staged_stats_from_scan,
)


def _eq(a, b):
    """Structural equality where NaN == NaN (both paths legitimately
    record NaN double/float bounds; json.dumps emits them identically)."""
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b and type(a) is type(b)
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(_eq(a[k], b[k]) for k in a)
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    return a == b and type(a) is type(b)


def _parquet_paths(d):
    return sorted(
        os.path.join(r, f)
        for r, _dirs, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    )


def _acid_stats(result):
    """The AcidTable rendering of a footer_stats result."""
    return {p: _acid_file_stats(*v) for p, v in result.items()}


def _delta_stats(result):
    """The DeltaTable rendering (add-entry stats JSON object)."""
    return {p: _delta_file_stats(*v) for p, v in result.items()}


def _tricky_df(spark):
    """Every stat-eligible type with the hard cases: nulls, NaN, an
    all-null column, unicode strings, dates, negative zero."""
    return spark.range(0, 4000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("int").alias("i32"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.col("id").cast("double") / 3.0)
        .alias("d"),
        F.when(F.col("id") % 13 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("float"))
        .alias("fl"),
        F.when(F.col("id") == 0, F.lit(-0.0)).otherwise(F.lit(1.5)).alias("nz"),
        F.concat(F.lit("sträng-"), F.col("id").cast("string")).alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        F.lit(None).cast("string").alias("allnull"),
        (F.col("id") % 5).cast("string").alias("p"),
    )


def test_acid_footer_matches_scan(spark, tmp_path):
    base = os.path.join(str(tmp_path), "t1")
    df = _tricky_df(spark)
    t = AcidTable.create(spark, base, df.schema, partition_by=["p"])
    staging = os.path.join(base, "_stagetest")
    df.write.mode("overwrite").partitionBy("p").parquet(staging)
    paths, cols = _parquet_paths(staging), t._stat_col_names(df.schema, ["p"])
    fo = _acid_stats(staged_stats_from_footers(spark, paths, cols))
    sc = _acid_stats(staged_stats_from_scan(spark, paths, cols))
    assert set(fo) == set(sc)
    assert len(fo) >= 5
    for key in sc:
        assert _eq(fo[key], sc[key]), (key, fo[key], sc[key])


def test_acid_footer_fallback_on_surprise(spark, tmp_path, monkeypatch):
    """If the footer path raises for any reason staged_file_stats must
    transparently produce the scan result."""
    base = os.path.join(str(tmp_path), "t2")
    df = _tricky_df(spark)
    t = AcidTable.create(spark, base, df.schema, partition_by=["p"])
    staging = os.path.join(base, "_stagetest")
    df.write.mode("overwrite").partitionBy("p").parquet(staging)

    def boom(*a, **k):
        raise RuntimeError("footer unavailable")

    paths, cols = _parquet_paths(staging), t._stat_col_names(df.schema, ["p"])
    monkeypatch.setattr(fstats, "staged_stats_from_footers", boom)
    via_public = staged_file_stats(spark, paths, cols)
    direct_scan = staged_stats_from_scan(spark, paths, cols)
    assert set(via_public) == set(direct_scan)
    for key in direct_scan:
        assert _eq(via_public[key], direct_scan[key])


def test_delta_footer_matches_scan_shape(spark, tmp_path):
    """Delta-layer footer stats equal a replica of the original
    groupBy(input_file_name) scan aggregation, _stat_jsonable applied."""
    import datetime
    from urllib.parse import unquote as _unq

    from delta_lake_validation_spark.sources.delta_log import (
        _stat_jsonable,
        _staging_write_conf,
    )

    dbase = os.path.join(str(tmp_path), "d1")
    ddf = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 9 == 0, None)
        .otherwise(F.col("id").cast("double") * 1.5)
        .alias("d"),
        F.when(F.col("id") % 17 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("float"))
        .alias("fl"),
        F.concat(F.lit("v-"), F.col("id").cast("string")).alias("s"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % 300).cast("int")
        ).alias("dt"),
        # 1950-01-01 plus id * (10 days + 123 us): values before and after
        # 1970, sub-millisecond parts, and a null in every file
        F.when(F.col("id") % 19 == 0, None)
        .otherwise(
            F.timestamp_micros(
                F.lit(-631_152_000_000_000) + F.col("id") * 864_000_000_123
            )
        )
        .alias("ts"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    dt = create_delta(spark, dbase, ddf.schema, partition_by=["p"])
    staging = os.path.join(dbase, "_abstage")
    with _staging_write_conf(spark):
        ddf.write.mode("overwrite").partitionBy("p").parquet(staging)
    paths = sorted(
        strip_scheme(pth)
        for pth, _ in dt.fs.list_files_with_size(staging)
        if pth.endswith(".parquet")
    )
    stat_cols = ["k", "d", "fl", "s", "dt", "ts"]
    fo = _delta_stats(staged_stats_from_footers(spark, paths, stat_cols))

    def _utc(v):
        # a collected TIMESTAMP is a naive datetime in the driver's zone
        if isinstance(v, datetime.datetime):
            return v.astimezone(datetime.timezone.utc)
        return v

    aggs = [F.count(F.lit(1)).alias("n")]
    for i, c in enumerate(stat_cols):
        aggs += [
            F.min(F.col(c)).alias(f"mn{i}"),
            F.max(F.col(c)).alias(f"mx{i}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nc{i}"),
        ]
    sc = {}
    for r in (
        spark.read.parquet(staging)
        .groupBy(F.input_file_name().alias("f"))
        .agg(*aggs)
        .collect()
    ):
        mins, maxs, nulls = {}, {}, {}
        for i, c in enumerate(stat_cols):
            lo = _stat_jsonable(_utc(r[f"mn{i}"]))
            hi = _stat_jsonable(_utc(r[f"mx{i}"]))
            if lo is not None:
                mins[c] = lo
            if hi is not None:
                maxs[c] = hi
            nulls[c] = int(r[f"nc{i}"] or 0)
        sc[strip_scheme(_unq(r["f"]))] = {
            "numRecords": int(r["n"]),
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    assert set(fo) == set(sc)
    assert len(fo) >= 3
    for key in sc:
        assert _eq(fo[key], sc[key]), (key, fo[key], sc[key])


def test_delta_timestamp_schema_stays_on_scan_path(spark, tmp_path):
    """Timestamps are staged as INT64 micros, whose footers carry
    statistics: the add entries of a commit record timestamp min/max."""
    import json

    dbase = os.path.join(str(tmp_path), "dts")
    ddf = spark.range(0, 50).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("ts"),
    )
    dt = create_delta(spark, dbase, ddf.schema)
    dt.append(ddf)
    snap = dt.snapshot()
    stats = [json.loads(a["stats"]) for a in snap.files.values()]
    assert stats
    for st in stats:
        assert "ts" in st["minValues"], st
        assert "ts" in st["maxValues"], st
        assert st["numRecords"] > 0


def test_acid_footer_zero_row_file(spark, tmp_path):
    """A 0-row staged file has no row groups (so no footer stats at all).
    The footer path must skip it — matching the scan path, which emits no
    groupBy row for it — instead of raising and forcing a whole-commit
    fallback (observed in the streaming sink: an empty verdicts batch)."""
    base = os.path.join(str(tmp_path), "t0")
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    t = AcidTable.create(spark, base, df.schema)
    staging = os.path.join(base, "_stagetest")
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    # add a genuinely empty part file alongside
    df.limit(0).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "empty")
    )
    empty = [
        f
        for f in os.listdir(os.path.join(str(tmp_path), "empty"))
        if f.endswith(".parquet")
    ][0]
    shutil.copy(
        os.path.join(str(tmp_path), "empty", empty),
        os.path.join(staging, "part-empty.c000.snappy.parquet"),
    )
    paths, cols = _parquet_paths(staging), t._stat_col_names(df.schema, [])
    fo = _acid_stats(staged_stats_from_footers(spark, paths, cols))
    sc = _acid_stats(staged_stats_from_scan(spark, paths, cols))
    # both omit the empty file; the consumer's .get default handles it
    assert set(fo) == set(sc)
    assert not any("part-empty" in k for k in fo)
    for key in sc:
        assert _eq(fo[key], sc[key])


def test_delta_variant_table_uses_footer_stats(spark, tmp_path):
    """Spark 4.1 annotates variant columns with the parquet VARIANT
    LogicalType, which stock pyarrow cannot parse; file_footer_stats must
    retry through the r7 thrift shim and still deliver exact stats for
    the non-variant columns, with no scan fallback."""
    import json

    dbase = os.path.join(str(tmp_path), "dvar")
    vdf = spark.range(0, 100).selectExpr(
        "id AS k", "parse_json(to_json(struct(id AS a, id * 2 AS b))) AS v"
    )
    dt = create_delta(spark, dbase, vdf.schema)
    calls = {"scan": 0}
    orig = fstats.staged_stats_from_footers

    def counting(*a, **k):
        try:
            return orig(*a, **k)
        except Exception:
            calls["scan"] += 1
            raise

    try:
        fstats.staged_stats_from_footers = counting
        dt.append(vdf)
    finally:
        fstats.staged_stats_from_footers = orig
    assert calls["scan"] == 0
    snap = dt.snapshot()
    stats = [json.loads(a["stats"]) for a in snap.files.values()]
    assert stats
    ks = [st["minValues"].get("k") for st in stats if st["numRecords"]]
    assert min(ks) == 0


def test_footer_stats_distributed_path(spark, tmp_path):
    """Past the threshold the footers are read via a Spark job; result
    must be identical to the driver loop."""
    from delta_lake_validation_spark.sources.footer_stats import footer_stats

    base = os.path.join(str(tmp_path), "many")
    spark.range(0, 400).repartition(40).write.parquet(base)
    paths = [
        os.path.join(base, f) for f in os.listdir(base) if f.endswith(".parquet")
    ]
    driver = footer_stats(paths, None)
    dist = footer_stats(paths, spark, distributed_threshold=10)
    assert set(driver) == set(dist)
    for k in driver:
        assert _eq(driver[k], dist[k])


def test_acid_footer_tolerates_dropped_string_stats(spark, tmp_path, monkeypatch):
    """ADVICE r8: a string column whose min+max exceed the writer's
    statistics-size threshold (4096 bytes) loses its WHOLE statistics
    object — no min/max AND no null_count.  The footer path must omit
    that column per-column instead of reverting the commit to the full
    re-scan (which was the exact document-text workload the footer
    optimization targets)."""
    base = os.path.join(str(tmp_path), "t_longstr")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("x" * 5000), F.col("id").cast("string")).alias("blob"),
        (F.col("id") % 5).cast("int").alias("i32"),
    )
    t = AcidTable.create(spark, base, df.schema)
    staging = os.path.join(base, "_stagetest")
    df.write.mode("overwrite").parquet(staging)

    paths, cols = _parquet_paths(staging), t._stat_col_names(df.schema, [])
    fo = _acid_stats(staged_stats_from_footers(spark, paths, cols))
    assert fo
    for _rel, (n, st) in fo.items():
        assert n > 0 and st is not None
        # full stats for the well-behaved columns...
        assert "k" in st["minValues"] and "i32" in st["minValues"]
        assert st["nullCounts"]["k"] == 0
        # ...and the oversized column is omitted, not raised on
        assert "blob" not in st["minValues"]
        assert "blob" not in st["maxValues"]
        assert "blob" not in st["nullCounts"]

    # the public path must KEEP the footer result — no scan fallback
    def boom(*a, **k):
        raise AssertionError("scan fallback must not fire for dropped "
                             "string statistics")

    monkeypatch.setattr(fstats, "staged_stats_from_scan", boom)
    via_public = _acid_stats(staged_file_stats(spark, paths, cols))
    assert set(via_public) == set(fo)
    for key in fo:
        assert _eq(via_public[key], fo[key])


def test_delta_footer_tolerates_dropped_string_stats(spark, tmp_path):
    """Same ADVICE r8 tolerance on the Delta layer: the oversized column
    is omitted from the add-entry stats; other columns keep full stats."""
    dbase = os.path.join(str(tmp_path), "d_longstr")
    ddf = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("y" * 6000), F.col("id").cast("string")).alias("blob"),
    )
    dt = create_delta(spark, dbase, ddf.schema)
    staging = os.path.join(dbase, "_abstage")
    ddf.write.mode("overwrite").parquet(staging)
    paths = sorted(
        os.path.join(staging, f)
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    )
    out = _delta_stats(staged_stats_from_footers(spark, paths, ["k", "blob"]))
    assert out
    for st in out.values():
        assert st["numRecords"] > 0
        assert "k" in st["minValues"] and st["nullCount"]["k"] == 0
        assert "blob" not in st["minValues"]
        assert "blob" not in st["nullCount"]


def _job_ids(spark):
    """Ids of every job in the status store, after the listener bus has
    delivered all pending events."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    return {jobs.apply(i).jobId() for i in range(jobs.length())}


def test_delta_timestamp_append_starts_one_job(spark, tmp_path):
    """A Delta append to a table with a TIMESTAMP column is the staging
    write and nothing else: its stats come from the staged footers, not
    from a re-scan of the staged files.  A decimal column, whose INT64
    footer bounds pyarrow cannot convert, does not send it to the scan."""
    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000).alias("order_time"),
        (F.col("id") / 7).cast("decimal(10,2)").alias("price"),
    )
    dt = create_delta(spark, os.path.join(str(tmp_path), "tsjobs"), df.schema)
    dt.append(df)
    before = _job_ids(spark)
    dt.append(df)
    assert len(_job_ids(spark) - before) == 1


@pytest.fixture
def new_york_tz(monkeypatch):
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_delta_timestamp_stats_utc_on_scan_fallback(
    spark, tmp_path, monkeypatch, new_york_tz
):
    """Timestamp stats are UTC instants whatever the driver's zone: a row
    at 17:00 UTC is recorded as 17:00Z by the scan fallback exactly as by
    the footers (a collected TIMESTAMP is a naive local-zone datetime, so
    rendering it directly would record 12:00Z here)."""
    import json

    df = spark.range(0, 1).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.lit(1_704_128_400)).alias("ts"),  # 17:00Z
    ).coalesce(1)
    dt = create_delta(spark, os.path.join(str(tmp_path), "tz"), df.schema)
    dt.append(df)  # footer path

    def boom(*a, **k):
        raise OSError("footer unavailable")

    monkeypatch.setattr(fstats, "staged_stats_from_footers", boom, raising=False)
    dt.append(df)  # scan fallback
    stats = [json.loads(a["stats"]) for a in dt.snapshot().files.values()]
    assert len(stats) == 2
    for st in stats:
        assert st["minValues"]["ts"] == "2024-01-01T17:00:00.000000Z", st
        assert st["maxValues"]["ts"] == "2024-01-01T17:00:00.000000Z", st
    assert stats[0] == stats[1]


def test_convert_max_stats_survive_nan_row_group(spark, tmp_path):
    """CONVERT merges row-group bounds NaN-aware.  Spark's writer can put
    NaN as a row group's max; an order-dependent max over the row groups
    then records the first row group's max for the whole file, and
    read_where skips the file for every value above it.  A decimal column
    (bounds pyarrow cannot convert) gets a null count and no bounds."""
    import json

    import pyarrow.parquet as pq

    from delta_lake_validation_spark.sources.delta_log import convert_to_delta

    loc = os.path.join(str(tmp_path), "cnan")
    spark.range(0, 3701).select(
        F.when(F.col("id") == 3700, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("x"),
        F.col("id").cast("decimal(10,2)").alias("d"),
    ).coalesce(1).write.option("parquet.block.size", 16 * 1024).parquet(loc)
    [path] = _parquet_paths(loc)
    assert pq.read_metadata(path).num_row_groups >= 2
    t = convert_to_delta(spark, loc)
    [add] = t.snapshot().files.values()
    st = json.loads(add["stats"])
    assert st["numRecords"] == 3701
    assert st["minValues"]["x"] == 0.0
    assert "x" not in st["maxValues"]  # NaN: unknown, so never pruned on
    assert st["nullCount"]["d"] == 0 and "d" not in st["minValues"]
    assert t.read_where({"x": (3000.0, 1e9)}).count() == 700


def test_staging_conf_shared_by_overlapping_writers(spark):
    """Staged writes overlapping on one session: the first to leave must
    not restore the session's confs under another, and the last to leave
    restores them."""
    import sys
    import threading

    from delta_lake_validation_spark.sources.delta_log import _staging_write_conf

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    a, b = _staging_write_conf(spark), _staging_write_conf(spark)
    a.__enter__()
    b.__enter__()
    a.__exit__(None, None, None)
    assert spark.conf.get(key) == "TIMESTAMP_MICROS"
    b.__exit__(None, None, None)
    assert spark.conf.get(key) == before

    seen = []

    def writer():
        for _ in range(20):
            with _staging_write_conf(spark):
                seen.append(spark.conf.get(key))

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert seen == ["TIMESTAMP_MICROS"] * 160
    assert spark.conf.get(key) == before
