from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from hypothesis import settings

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from delta_lake_validation_spark.session import get_session  # noqa: E402
from delta_lake_validation_spark.tables import TABLE_NAMES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# Every property test draws the same examples on every run: the random
# source is seeded from each test's own source, and no example database
# replays draws from earlier runs.  A per-test @settings still sets its own
# max_examples/deadline.  To explore other draws, run with
# `--hypothesis-profile=default --hypothesis-seed=N`.
settings.register_profile("deterministic", derandomize=True, database=None)
settings.load_profile("deterministic")


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()
