"""The benchmark's output checks accept a correct result and reject a
deliberately corrupted one.  Pure Python and DuckDB, no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen  # noqa: E402
from perfbench.lifecycle import LifecycleWorkload, check_round  # noqa: E402

# ------------------------------------------------------------ query oracles

ORACLE = "SELECT k, sum(v) AS total, count(*) AS n FROM t GROUP BY k"


@pytest.fixture
def con(tmp_path):
    c = duckdb.connect()
    pq.write_table(
        pa.table({"k": ["a", "a", "b", "c"], "v": [1.5, 2.25, 3.0, 4.125]}),
        tmp_path / "t.parquet",
    )
    c.execute(f"CREATE VIEW t AS SELECT * FROM '{tmp_path}/t.parquet'")
    yield c
    c.close()


def _result(tmp_path, rows):
    path = tmp_path / "result.parquet"
    pq.write_table(pa.Table.from_pylist(rows), path)
    return str(path)


GOOD = [
    {"k": "a", "total": 3.75, "n": 2},
    {"k": "b", "total": 3.0, "n": 1},
    {"k": "c", "total": 4.125, "n": 1},
]


def test_oracle_accepts_equal_result_in_any_order(con, tmp_path):
    assert checks.oracle_diff(con, _result(tmp_path, GOOD[::-1]), ORACLE) is None


def test_oracle_rejects_dropped_row(con, tmp_path):
    assert checks.oracle_diff(con, _result(tmp_path, GOOD[:2]), ORACLE)


def test_oracle_rejects_changed_value(con, tmp_path):
    bad = [dict(r) for r in GOOD]
    bad[1]["total"] = 3.01
    assert checks.oracle_diff(con, _result(tmp_path, bad), ORACLE)


# ---------------------------------------------------------------- near-dup

TEXTS = {
    1: "a b c d e f g h i j",
    2: "a b c d e f g h i j dup",  # J = 8/9 with doc 1
    3: "k l m n o p q r s t",
    4: "k l m n o x q r s t",  # J = 4/12 with doc 3
}


def test_neardup_accepts_correct_pairs_and_clusters():
    assert checks.neardup_errors(TEXTS, [(1, 2)], [(1, 1), (2, 1)], [(1, 2)], 0.8) == []


def test_neardup_rejects_pair_below_threshold():
    errors = checks.neardup_errors(
        TEXTS, [(1, 2), (3, 4)], [(1, 1), (2, 1), (3, 3), (4, 3)], [(1, 2)], 0.8
    )
    assert any("below" in e for e in errors)


def test_neardup_rejects_missing_planted_pair():
    errors = checks.neardup_errors(TEXTS, [], [], [(1, 2)], 0.8)
    assert any("planted" in e for e in errors)


def test_neardup_rejects_clusters_that_differ_from_pairs():
    errors = checks.neardup_errors(TEXTS, [(1, 2)], [(1, 1), (2, 2)], [(1, 2)], 0.8)
    assert any("dedup_clusters" in e for e in errors)


# --------------------------------------------------------- table lifecycle


def _round(workload):
    """A round's kept outputs as a correct program would produce them."""
    want = workload.expected()
    out = {}
    for kind in ("delta", "acid"):
        for name in ("appended", "latest", "where", "final", "pyds"):
            out[(kind, name)] = want[name].copy()
        out[(kind, "cdf")] = {
            step: frame.assign(_commit_version=gen.APPENDS + 1 + n)
            for n, (step, frame) in enumerate(want["cdf"].items())
        }
        out[(kind, "on_disk")] = {"order_date=2024-01-01/a.parquet": 10}
        out[(kind, "live")] = {"order_date=2024-01-01/a.parquet"}
    return out


@pytest.fixture(scope="module")
def workload():
    w = LifecycleWorkload(work=None)
    w.make_inputs(7)
    return w


def test_lifecycle_accepts_model_outputs(workload):
    assert check_round(_round(workload), workload.expected()) == []


def test_lifecycle_rejects_changed_cost(workload):
    out = _round(workload)
    frame = out[("acid", "latest")]
    frame.loc[frame.index[0], "cost"] += 0.01
    errors = check_round(out, workload.expected())
    assert any("acid latest" in e for e in errors)


def test_lifecycle_rejects_dropped_row(workload):
    out = _round(workload)
    out[("delta", "appended")] = out[("delta", "appended")].iloc[1:]
    errors = check_round(out, workload.expected())
    assert any("delta appended" in e for e in errors)


def test_lifecycle_rejects_relabelled_change_row(workload):
    out = _round(workload)
    cdf = out[("delta", "cdf")]["update"]
    pre = cdf.index[cdf["_change_type"] == "update_preimage"][0]
    cdf.loc[pre, "_change_type"] = "update_postimage"
    errors = check_round(out, workload.expected())
    assert any("change feed of update" in e for e in errors)


def test_lifecycle_rejects_unreferenced_file_after_vacuum(workload):
    out = _round(workload)
    out[("acid", "on_disk")]["order_date=2024-01-02/b.parquet"] = 10
    errors = check_round(out, workload.expected())
    assert any("unreferenced" in e for e in errors)


def test_model_update_touches_only_even_days(workload):
    rows = pd.concat([checks.orders_frame(pd.DataFrame(b)) for b in workload.batches])
    days = pd.to_datetime(rows["order_date"]).dt.day - 1
    assert (rows.loc[days % 2 == 1, "item_count"] % 2 == 1).all()
