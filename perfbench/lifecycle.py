"""The ``table_lifecycle`` workload: the validation suite's sequence on its
``orders`` table, run once through ``DeltaTable``/``create_delta`` and once
through ``AcidTable`` per round.

Every operation is timed on its own and belongs to one class (append, dml,
cdf_read, read, maintenance).  Reads and change-feed reads are timed up to
a materialized pandas frame.  The frames are kept and checked after the
timed phase against :class:`perfbench.checks.OrdersModel`.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd

from perfbench import checks, gen

SCHEMA = "order_id STRING, item_count INT, cost DOUBLE, order_time TIMESTAMP, order_date DATE"
DELETE_DATE = str(gen.np.datetime64("2024-01-01") + gen.DELETE_DAY)
COST_RANGE = (2.0, 3.0)  # read_where range on cost
CLASSES = ("append", "dml", "cdf_read", "read", "maintenance")


def _date_pred(date: str) -> str:
    return f"order_date = DATE'{date}'"


class Backend:
    """One table format behind the calls the lifecycle makes."""

    def __init__(self, spark, location: str, kind: str):
        self.spark, self.location, self.kind = spark, location, kind
        self.table = None

    def create(self):
        if self.kind == "delta":
            from delta_lake_validation_spark.sources.delta_log import create_delta

            self.table = create_delta(
                self.spark, self.location, SCHEMA, partition_by=["order_date"],
                properties={"delta.enableChangeDataFeed": "true"},
            )
        else:
            from delta_lake_validation_spark.sources.acid.table import AcidTable

            self.table = AcidTable.create(
                self.spark, self.location, SCHEMA, partition_by=["order_date"],
                properties={"enableChangeDataFeed": "true"},
            )

    def merge(self, source):
        if self.kind == "delta":
            return self.table.merge_upsert(source, ["order_id"])
        return self.table.merge(source, ["order_id"])

    def feed(self, start_version: int):
        from delta_lake_validation_spark.streaming.cdf_stream import (
            CommittedChangeFeed,
            DeltaCommittedChangeFeed,
        )

        cls = DeltaCommittedChangeFeed if self.kind == "delta" else CommittedChangeFeed
        return cls(self.spark, self.location, start_version=start_version)

    def live_files(self) -> set[str]:
        if self.kind == "delta":
            return checks.delta_live_files(self.location)
        return checks.acid_live_files(self.location)


class LifecycleWorkload:
    def __init__(self, work: str | None):
        self.work = work
        self.results: list[dict] = []  # per round: {(backend, step): frame or value}

    def make_inputs(self, seed: int) -> None:
        self.batches, self.merge_source = gen.lifecycle_batches(seed)

    def frames(self, spark):
        """Spark frames of the inputs, one input partition each."""
        self.batch_dfs = [
            spark.createDataFrame(pd.DataFrame(b), SCHEMA).coalesce(1) for b in self.batches
        ]
        self.merge_df = spark.createDataFrame(pd.DataFrame(self.merge_source), SCHEMA).coalesce(1)

    def warm_up(self, spark, tracer) -> None:
        """The Delta sequence once on a one-append table: the Spark code
        paths (partitioned parquet writes, the MERGE join, change-file
        reads, Z-order) that both backends' timed rounds take."""
        self.frames(spark)
        self.run_round(spark, tracer, keep=False, appends=1, kinds=("delta",))

    def run_round(self, spark, tracer, keep: bool = True, appends: int = gen.APPENDS,
                  kinds=("delta", "acid")):
        """Both backends through the whole sequence.  Returns (class, step,
        seconds) per operation, in order."""
        root = os.path.join(self.work, "tables")
        shutil.rmtree(root, ignore_errors=True)
        ops: list[tuple[str, str, float]] = []
        out: dict = {}
        for kind in kinds:
            be = Backend(spark, os.path.join(root, kind), kind)
            self._sequence(spark, be, tracer, ops, out, appends)
        if keep:
            self.results.append(out)
        return ops

    def _sequence(self, spark, be: Backend, tracer, ops, out, appended: int) -> None:
        kind = be.kind

        def timed(cls: str, step: str, fn, layer: str | None = None):
            t0 = time.perf_counter()
            with tracer.span(f"lifecycle.{cls}"), tracer.span(layer or f"lifecycle.{cls}"):
                value = fn()
            ops.append((cls, step, time.perf_counter() - t0))
            return value

        timed("create", "create", be.create)
        t = be.table
        for i, df in enumerate(self.batch_dfs[:appended]):
            timed("append", f"append{i}", lambda df=df: t.append(df))
        feed = be.feed(appended + 1)
        cdf = {}
        dml = (
            ("delete", lambda: t.delete(_date_pred(DELETE_DATE))),
            ("update", lambda: t.update({"item_count": "0"}, "item_count % 2 = 0")),
            ("merge", lambda: be.merge(self.merge_df)),
        )
        for step, fn in dml:
            timed("dml", step, fn)
            # an incremental consumer reads each commit as it lands
            cdf[step] = timed(
                "cdf_read", f"cdf_{step}", lambda: feed.next_batch().toPandas(), "streaming.cdf"
            )
        out[(kind, "cdf")] = cdf
        out[(kind, "latest")] = timed("read", "read_latest", lambda: t.read().toPandas())
        out[(kind, "appended")] = timed(
            "read", "read_version", lambda: t.read(version=appended).toPandas()
        )
        out[(kind, "where")] = timed(
            "read", "read_where", lambda: t.read_where({"cost": COST_RANGE}).toPandas()
        )
        if kind == "delta":
            # the versioned read through the Python data source
            out[(kind, "pyds")] = timed(
                "read", "read_deltapy",
                lambda: spark.read.format("deltapy")
                .option("versionAsOf", appended + 2)
                .load(be.location)
                .toPandas(),
                "pyds.read",
            )
        timed("maintenance", "optimize", lambda: t.optimize(zorder_by=["order_id"]))
        created = checks.data_files(be.location)  # nothing is deleted before VACUUM
        timed("maintenance", "vacuum", lambda: t.vacuum(retain_hours=0))
        out[(kind, "final")] = timed("read", "read_final", lambda: t.read().toPandas())
        out[(kind, "created_bytes")] = sum(created.values())
        out[(kind, "on_disk")] = checks.data_files(be.location)
        out[(kind, "live")] = be.live_files()

    # ------------------------------------------------------------ checks
    def expected(self) -> dict:
        model = checks.OrdersModel()
        for b in self.batches:
            model.append(checks.orders_frame(pd.DataFrame(b)))
        want = {"appended": model.rows.copy()}
        want["cdf"] = {
            "delete": model.delete_date(DELETE_DATE),
            "update": model.zero_even_item_counts(),
        }
        want["pyds"] = model.rows.copy()  # version appended + 2: after UPDATE
        src = checks.orders_frame(pd.DataFrame(self.merge_source))
        want["cdf"]["merge"] = model.merge_upsert(src)
        want["latest"] = model.rows.copy()
        want["final"] = model.rows.copy()
        lo, hi = COST_RANGE
        want["where"] = model.rows[(model.rows["cost"] >= lo) & (model.rows["cost"] <= hi)]
        return want

    def check(self) -> list[str]:
        want = self.expected()
        errors = []
        for r, out in enumerate(self.results):
            errors += [f"round {r}: {e}" for e in check_round(out, want)]
        return errors

    @staticmethod
    def write_amp(out: dict) -> float:
        created = sum(out[(k, "created_bytes")] for k in ("delta", "acid"))
        live = sum(sum(out[(k, "on_disk")].values()) for k in ("delta", "acid"))
        return created / live


def check_round(out: dict, want: dict) -> list[str]:
    """Compare one round's kept frames with the model."""
    errors = []
    for kind in ("delta", "acid"):
        reads = ["appended", "latest", "where", "final"] + (["pyds"] if kind == "delta" else [])
        for name in reads:
            got = checks.orders_frame(out[(kind, name)])
            if checks.summary(got) != checks.summary(want[name]):
                errors.append(
                    f"{kind} {name}: (rows, sum cost, sum item_count, hash) "
                    f"{checks.summary(got)} vs {checks.summary(want[name])}"
                )
        for n, (step, frame) in enumerate(out[(kind, "cdf")].items()):
            versions = set(frame["_commit_version"].tolist())
            if versions != {gen.APPENDS + 1 + n}:
                errors.append(f"{kind} change feed of {step}: commit versions {sorted(versions)}")
            err = checks.rows_diff(
                checks.orders_frame(frame)[checks.ORDER_COLS + ["_change_type"]],
                want["cdf"][step],
            )
            if err:
                errors.append(f"{kind} change feed of {step}: {err}")
        if checks.content_hash(checks.orders_frame(out[(kind, "final")])) != checks.content_hash(
            checks.orders_frame(out[(kind, "latest")])
        ):
            errors.append(f"{kind}: OPTIMIZE changed the table's content")
        on_disk = set(out[(kind, "on_disk")])
        live = {os.path.normpath(p) for p in out[(kind, "live")]}
        if on_disk != live:
            errors.append(
                f"{kind}: after VACUUM {len(on_disk - live)} unreferenced files on disk, "
                f"{len(live - on_disk)} referenced files missing"
            )
    a = checks.orders_frame(out[("delta", "final")])
    b = checks.orders_frame(out[("acid", "final")])
    if checks.content_hash(a) != checks.content_hash(b):
        errors.append("the two backends' final tables differ")
    return errors
