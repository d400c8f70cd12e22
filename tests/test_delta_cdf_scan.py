"""Change Data Feed scans of ``DeltaTable.read_changes``: each commit's
change files are read by one scan per kind, not one per file.

A CDF table whose ``_change_data`` files sit in Hive partition directories
is read through one partition-discovery scan (one parquet relation in the
analyzed plan, partition filters still pruning it).  Change files whose
partition values live only in their ``cdc`` actions are read by one scan
per distinct partition tuple, the values stamped in as literals.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import functions as F

from delta_lake_validation_spark.sources.delta_log import DeltaTable, create_delta
from tests.test_delta_log import PROTOCOL, _commit_info, _meta, _write_commit

N_DATES = 10
ROWS_PER_DATE = 3


def _relation_leaves(df) -> list[str]:
    """Class names of the analyzed plan's leaves."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def _changes(df) -> set[tuple]:
    return {tuple(r) for r in df.drop("_commit_timestamp").collect()}


def test_partitioned_cdf_update_reads_one_scan(spark, tmp_path):
    loc = str(tmp_path / "orders")
    t = create_delta(
        spark,
        loc,
        "order_id bigint, order_date date, amount double",
        partition_by=["order_date"],
        properties={"delta.enableChangeDataFeed": "true"},
    )
    day0 = dt.date(2024, 1, 1)
    rows = [
        Row(
            order_id=d * 10 + k,
            order_date=day0 + dt.timedelta(days=d),
            amount=float(d * 10 + k),
        )
        for d in range(N_DATES)
        for k in range(ROWS_PER_DATE)
    ]
    t.append(spark.createDataFrame(rows, "order_id bigint, order_date date, amount double"))
    # one row in every partition
    v = t.update({"amount": "amount + 0.5"}, "order_id % 10 = 0")
    cdc_files = [a["cdc"] for a in t._commit_actions(v) if "cdc" in a]
    assert len({tuple(c["partitionValues"].items()) for c in cdc_files}) == N_DATES

    df = t.read_changes(v, v)
    touched = [r for r in rows if r.order_id % 10 == 0]
    expected = {
        (r.order_id, r.order_date, r.amount, "update_preimage", v) for r in touched
    } | {
        (r.order_id, r.order_date, r.amount + 0.5, "update_postimage", v)
        for r in touched
    }
    assert _changes(df) == expected
    # one parquet relation for the commit's change files, not one per file
    assert _relation_leaves(df) == ["LogicalRelation"]
    # and partition filters still prune it
    plan = df.filter(F.col("order_date") == F.lit(day0))._jdf.queryExecution()
    assert "PartitionFilters: [isnotnull(order_date" in plan.executedPlan().toString()


def test_cdc_files_without_hive_dirs_stamp_partition_values(spark, tmp_path):
    loc = tmp_path / "flatcdc"
    cdc_dir = loc / "_change_data"
    cdc_dir.mkdir(parents=True)
    # change files at the _change_data root with opaque names: the cdc
    # actions' partitionValues are the only source of truth for k
    files = {
        "cdc-a.parquet": ([1, 2], ["insert", "delete"], {"k": "7"}),
        "cdc-b.parquet": ([3], ["insert"], {"k": "7"}),
        "cdc-c.parquet": ([4], ["delete"], {"k": None}),
    }
    for name, (vs, kinds, _) in files.items():
        pq.write_table(
            pa.table(
                {
                    "v": pa.array(vs, pa.int32()),
                    "_change_type": pa.array(kinds, pa.string()),
                }
            ),
            str(cdc_dir / name),
        )
    log = loc / "_delta_log"
    _write_commit(
        log,
        0,
        [
            PROTOCOL,
            _meta(
                [("v", "integer"), ("k", "integer")],
                partition_cols=["k"],
                configuration={"delta.enableChangeDataFeed": "true"},
            ),
        ],
    )
    ts_ms = 1700000500000
    _write_commit(
        log,
        1,
        [_commit_info(ts_ms)]
        + [
            {
                "cdc": {
                    "path": f"_change_data/{name}",
                    "partitionValues": pv,
                    "size": 1,
                    "dataChange": False,
                }
            }
            for name, (_, _, pv) in files.items()
        ],
    )
    t = DeltaTable(spark, str(loc))
    # log replay reads the commits too: cache the snapshot first so the
    # count below sees read_changes' own reads
    t.snapshot(1)
    reads: list[int] = []
    commit_actions = t._commit_actions

    def counted(version):
        reads.append(version)
        return commit_actions(version)

    t._commit_actions = counted
    df = t.read_changes(1, 1)
    # the commit's JSON is read once: its timestamp comes from the parsed
    # actions
    assert reads == [1]
    assert _changes(df) == {
        (1, 7, "insert", 1),
        (2, 7, "delete", 1),
        (3, 7, "insert", 1),
        (4, None, "delete", 1),
    }
    assert {r[0] for r in df.select(F.unix_millis("_commit_timestamp")).collect()} == {
        ts_ms
    }
    # one scan per distinct partition tuple: (7,) and (None,)
    assert _relation_leaves(df) == ["LogicalRelation"] * 2
