"""AcidTable — versioned, partitioned, ACID table on parquet + JSON log.

Re-expresses the reference's Delta Lake capability surface (SURVEY.md §2.1,
§2.8) Spark-first, with no external table-format dependency:

==========================  =============================================
reference operation          here
==========================  =============================================
CREATE TABLE … USING DELTA   AcidTable.create          (validation_suite.py:268-286)
write append/overwrite       .append / .overwrite      (:354-362)
INSERT INTO … PARTITION      .append (Spark routes partitions) (:375-404)
DELETE FROM … WHERE          .delete                   (:738-740, 816-820)
UPDATE … SET … WHERE         .update                   (:762-764)
MERGE INTO … upsert          .merge                    (:489-524)
SELECT … VERSION AS OF       .read(version=)           (:443-453)
SELECT … TIMESTAMP AS OF     .read(timestamp=)         (:429-440)
table_changes(…)             .read_changes             (:480-486)
DESCRIBE HISTORY             .history                  (:248-259)
DESCRIBE DETAIL              .detail                   (:244-245)
VACUUM … RETAIN 0 HOURS      .vacuum(retain_hours=0)   (:456-463)
OPTIMIZE [ZORDER BY]         .optimize                 (:466-477)
concurrent writers           optimistic commit + ConcurrentWriteException
                             (:365-372, 883-925)
==========================  =============================================

Execution model: all data-plane work is DataFrame operations planned by
Catalyst (copy-on-write rewrites read only the files that contain matches —
found with one distributed semi-join on input_file_name — and write only
replacement files).  The driver only folds the metadata log.  That split is
what makes the design scale: a DELETE on a 100 TB table whose predicate
touches 2 partitions reads and rewrites just those partitions' files.
"""

from __future__ import annotations

import uuid
from typing import Iterable
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from delta_lake_validation_spark.sources.acid.errors import (
    AcidTableError,
    ConcurrentWriteException,
    ConstraintViolationError,
)
from delta_lake_validation_spark.sources.acid.log import (
    CDF_DIR,
    LOG_DIR,
    STAGING_DIR,
    Snapshot,
    TransactionLog,
)
from delta_lake_validation_spark.sources.fs import (
    FileSystem,
    is_local,
    strip_scheme,
)

CDF_TYPE = "_change_type"
CDF_VERSION = "_commit_version"
CDF_TS = "_commit_timestamp"
_SYS_DIRS = (LOG_DIR, CDF_DIR, STAGING_DIR)


def _cond(c: str | Column) -> Column:
    return F.expr(c) if isinstance(c, str) else c


class AcidTable:
    def __init__(self, spark: SparkSession, location: str):
        self.spark = spark
        self.location = location.rstrip("/")
        self.log = TransactionLog(spark, self.location)
        self.fs: FileSystem = self.log.fs
        # rel path -> bytes for CDF files this writer staged; drained into
        # each commit entry's "cdf_sizes" by _commit_strict
        self._cdf_sizes: dict[str, int] = {}

    # ------------------------------------------------------------------ DDL
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        location: str,
        schema: StructType | str,
        partition_by: Iterable[str] = (),
        properties: dict[str, str] | None = None,
        if_not_exists: bool = False,
        cluster_by: Iterable[str] = (),
    ) -> "AcidTable":
        """ref: create_table DDL, src/validation_suite.py:268-286.

        ``cluster_by`` declares cluster columns (stored as the
        ``clusterBy`` property): OPTIMIZE then defaults its Z-order to
        them — the ACID-layer mirror of Delta liquid clustering.
        Mutually exclusive with ``partition_by``."""
        t = cls(spark, location)
        if t.log.exists():
            if if_not_exists:
                return t
            raise AcidTableError(f"table already exists at {location}")
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        parts = list(partition_by)
        missing = [p for p in parts if p not in schema.fieldNames()]
        if missing:
            raise AcidTableError(f"partition columns not in schema: {missing}")
        cluster = list(cluster_by)
        if cluster:
            if parts:
                raise AcidTableError(
                    "cluster_by and partition_by are mutually exclusive"
                )
            bad = [c for c in cluster if c not in schema.fieldNames()]
            if bad:
                raise AcidTableError(f"cluster columns not in schema: {bad}")
            properties = {
                **(properties or {}),
                "clusterBy": ",".join(cluster),
            }
        entry = {
            "operation": "CREATE",
            "operationParameters": {"partitionBy": parts},
            "metadata": {
                "schemaJson": schema.json(),
                "partitionColumns": parts,
                "properties": dict(properties or {}),
            },
            "add": [],
            "remove": [],
        }
        if not t.log.try_commit(0, entry):
            if if_not_exists:
                return t
            raise ConcurrentWriteException(f"concurrent create at {location}")
        return t

    def add_column(self, name: str, dtype: str) -> None:
        """Schema evolution: ALTER TABLE ADD COLUMN (nullable).

        Metadata-only commit — existing parquet files simply lack the column
        and the explicit-schema read path fills nulls; new writes and any
        copy-on-write DML materialize it.  (The reference exercises no schema
        evolution, SURVEY.md §1.3 — engine extension.)"""
        snap = self.log.snapshot()
        schema = self.schema(snap)
        if name in schema.fieldNames():
            raise AcidTableError(f"column {name!r} already exists")
        new_schema = schema.add(name, dtype)
        entry = {
            "operation": "ADD COLUMN",
            "operationParameters": {"column": name, "type": dtype},
            "metadata": {
                "schemaJson": new_schema.json(),
                "partitionColumns": snap.partition_columns,
                "properties": snap.properties,
            },
            "add": [],
            "remove": [],
        }
        self._commit_strict(entry, snap)

    def set_property(self, key: str, value: str) -> None:
        """ref: ALTER TABLE … SET TBLPROPERTIES (enable_change_data_feed,
        src/validation_suite.py:302-303)."""
        snap = self.log.snapshot()
        entry = {
            "operation": "SET TBLPROPERTIES",
            "operationParameters": {key: value},
            "metadata": {
                "schemaJson": snap.schema_json,
                "partitionColumns": snap.partition_columns,
                "properties": {**snap.properties, key: value},
            },
            "add": [],
            "remove": [],
        }
        self._commit_strict(entry, snap)

    # --------------------------------------------------------- constraints
    # Delta stores CHECK constraints as table properties
    # (delta.constraints.<name> = <expr>) and enforces them on every data
    # write; same model here.  Log replay merges properties, so DROP marks
    # the key with an empty value rather than deleting it.
    _CONSTRAINT_PREFIX = "constraints."

    def constraints(self, snap: Snapshot | None = None) -> dict[str, str]:
        """Active CHECK constraints: name -> SQL boolean expression."""
        snap = snap or self.log.snapshot()
        p = self._CONSTRAINT_PREFIX
        return {
            k[len(p):]: v
            for k, v in snap.properties.items()
            if k.startswith(p) and v
        }

    def add_constraint(self, name: str, expr: str) -> None:
        """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr).  Like Delta,
        existing rows are validated first (one scan); SQL CHECK semantics —
        a row violates only when the expression evaluates to FALSE, NULL
        passes."""
        snap = self.log.snapshot()
        key = self._CONSTRAINT_PREFIX + name
        if snap.properties.get(key):
            raise AcidTableError(f"constraint {name} already exists")
        bad = (
            self._read_files(snap, list(snap.files))
            .filter(~F.coalesce(F.expr(expr), F.lit(True)))
            .take(1)
        )
        if bad:
            raise ConstraintViolationError(
                f"cannot add CHECK constraint {name} ({expr}): "
                f"existing row violates it: {bad[0].asDict()}"
            )
        entry = {
            "operation": "ADD CONSTRAINT",
            "operationParameters": {"name": name, "expr": expr},
            "metadata": {
                "schemaJson": snap.schema_json,
                "partitionColumns": snap.partition_columns,
                "properties": {**snap.properties, key: expr},
            },
            "add": [],
            "remove": [],
        }
        self._commit_strict(entry, snap)

    def drop_constraint(self, name: str) -> None:
        snap = self.log.snapshot()
        key = self._CONSTRAINT_PREFIX + name
        if not snap.properties.get(key):
            raise AcidTableError(f"no active constraint {name}")
        entry = {
            "operation": "DROP CONSTRAINT",
            "operationParameters": {"name": name},
            "metadata": {
                "schemaJson": snap.schema_json,
                "partitionColumns": snap.partition_columns,
                "properties": {**snap.properties, key: ""},
            },
            "add": [],
            "remove": [],
        }
        self._commit_strict(entry, snap)

    def _enforce_constraints(self, df: DataFrame, snap: Snapshot) -> None:
        """One extra pass over staged data, only when constraints exist.
        All constraints evaluate in a single job (one flag column each)."""
        cons = self.constraints(snap)
        if not cons:
            return
        names = list(cons)
        flags = df.select(
            *[
                F.coalesce(F.expr(cons[n]), F.lit(True)).alias(f"__c{i}")
                for i, n in enumerate(names)
            ]
        )
        cond = None
        for i in range(len(names)):
            c = ~F.col(f"__c{i}")
            cond = c if cond is None else (cond | c)
        bad = flags.filter(cond).take(1)
        if bad:
            violated = [n for i, n in enumerate(names) if bad[0][f"__c{i}"] is False]
            raise ConstraintViolationError(
                f"write violates CHECK constraint(s) "
                f"{ {n: cons[n] for n in violated} }"
            )

    # ------------------------------------------------------------- snapshot
    def snapshot(self, version: int | None = None) -> Snapshot:
        return self.log.snapshot(version)

    def schema(self, snap: Snapshot | None = None) -> StructType:
        snap = snap or self.snapshot()
        return StructType.fromJson(__import__("json").loads(snap.schema_json))

    def version(self) -> int:
        return self.log.latest_version()

    def history(self) -> list[dict]:
        """Reverse-chronological commit list (ref: get_history,
        src/validation_suite.py:252-259 — fields version/timestamp/operation)."""
        return [
            {
                "version": e["version"],
                "timestamp": e["timestamp"],
                "operation": e["operation"],
                "operationParameters": e.get("operationParameters", {}),
            }
            for e in reversed(self.log.entries())
        ]

    def detail(self) -> dict:
        """ref: DESCRIBE DETAIL, src/validation_suite.py:244-245."""
        snap = self.snapshot()
        return {
            "location": self.location,
            "numFiles": snap.num_files,
            "sizeInBytes": snap.size_bytes,
            "partitionColumns": snap.partition_columns,
            "properties": snap.properties,
            "version": snap.version,
        }

    # ---------------------------------------------------------------- reads
    def read_range(
        self, column: str, lower=None, upper=None, version: int | None = None
    ) -> DataFrame:
        """Data-skipping range scan: prune files whose footer min/max for
        ``column`` cannot intersect [lower, upper] — the same file-statistics
        skipping Delta does from its log (SURVEY.md §4 'data skipping'),
        using the per-file stats captured at write time.  Z-order clustering
        (optimize zorder_by) is what makes these ranges tight for multiple
        columns at once.  Falls back to reading a file whenever its stats
        are missing (never wrong, only less pruned).

        Single-column convenience form of ``read_where``."""
        return self.read_where({column: (lower, upper)}, version=version)

    def read_where(
        self, ranges: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Multi-column data-skipping scan: ``ranges`` maps column ->
        (lower, upper) (either bound may be None); a file is pruned when ANY
        column's stats range cannot intersect its requested range — the
        conjunctive-predicate file skipping Delta does from its log, and the
        read shape Z-order clustering exists to serve (Morton keys tighten
        several columns' per-file ranges at once).  Missing stats keep the
        file (never wrong, only less pruned); the exact residual filter
        always applies."""
        snap = self.snapshot(version)
        keep: list[str] = []
        for rel, meta in snap.files.items():
            st = meta.get("stats") or {}
            mins = st.get("minValues") or {}
            maxs = st.get("maxValues") or {}
            skip = False
            for col, (lower, upper) in ranges.items():
                mn, mx = mins.get(col), maxs.get(col)
                # one-sided pruning is sound (a known min alone proves every
                # row sits at or above it); each side keeps-on-unknown —
                # same rule as the Delta layer's _stats_skip
                if (lower is not None and mx is not None and mx < lower) or (
                    upper is not None and mn is not None and mn > upper
                ):
                    skip = True
                    break
            if not skip:
                keep.append(rel)
        df = self._read_files(snap, keep)
        for col, (lower, upper) in ranges.items():
            if lower is not None:
                df = df.filter(F.col(col) >= F.lit(lower))
            if upper is not None:
                df = df.filter(F.col(col) <= F.lit(upper))
        return df

    def read(
        self, version: int | None = None, timestamp: str | None = None
    ) -> DataFrame:
        """Snapshot / VERSION AS OF / TIMESTAMP AS OF read
        (ref: src/validation_suite.py:416-453)."""
        if timestamp is not None:
            if version is not None:
                raise AcidTableError("pass version or timestamp, not both")
            version = self.log.version_for_timestamp(timestamp)
        snap = self.snapshot(version)
        return self._read_files(snap, list(snap.files))

    def _abs(self, path: str) -> str:
        """Resolve a log file reference: add entries normally hold paths
        relative to the table location; shallow clones (``clone_to``) hold
        absolute references into the source table."""
        if path.startswith("/") or "://" in path:
            return path
        return f"{self.location}/{path}"

    def _dv_map(self, snap: Snapshot, rel_paths: list[str]) -> dict[str, object]:
        """{normalized abs data-file path: DV entry} for the given files
        (deletion-vector DELETE, sources/dv.py).  Entries are descriptors
        (dv.dv_map_entry) — executors fetch/decode sidecar bytes
        themselves; the driver never funnels bitmap bytes.  ``u``-stored
        sidecars resolve against the entry's basePath (shallow clones keep
        their source's sidecars), inline descriptors decode directly."""
        from delta_lake_validation_spark.sources.dv import dv_map_entry

        out: dict[str, object] = {}
        for p in rel_paths:
            meta = snap.files.get(p) or {}
            d = meta.get("deletionVector")
            if not d or int(d.get("cardinality") or 0) == 0:
                continue
            base = meta.get("basePath", self.location)
            out[strip_scheme(self._abs(p))] = dv_map_entry(d, base, self.fs)
        return out

    def _read_files(
        self, snap: Snapshot, rel_paths: list[str], apply_dv: bool = True
    ) -> DataFrame:
        schema = self.schema(snap)
        if not rel_paths:
            return self.spark.createDataFrame([], schema)
        # group by partition-discovery base: local files resolve partition
        # values against this table's location, cloned absolute references
        # against the source location recorded in their add entry
        groups: dict[str, list[str]] = {}
        for p in rel_paths:
            meta = snap.files.get(p) or {}
            if p.startswith("/") or "://" in p:
                base = meta.get("basePath", self.location)
                groups.setdefault(base, []).append(p)
            else:
                groups.setdefault(self.location, []).append(f"{self.location}/{p}")
        dv_map = self._dv_map(snap, rel_paths) if apply_dv else {}
        out = None
        for base, paths in groups.items():
            reader = self.spark.read.schema(schema)
            if snap.partition_columns:
                reader = reader.option("basePath", base)
            df = reader.parquet(*paths)
            if dv_map:
                from delta_lake_validation_spark.sources.dv import (
                    apply_dv_filter,
                )

                df = apply_dv_filter(self.spark, df, dv_map)
            out = df if out is None else out.unionByName(df)
        return out

    # --------------------------------------------------------------- writes
    def append(
        self,
        df: DataFrame,
        compact: bool = False,
        operation_parameters: dict | None = None,
    ) -> int:
        """Partitioned append (ref: write_data mode=append,
        src/validation_suite.py:354-362).  Blind appends never read table
        state, so on a lost race they rebase onto the new head and retry —
        same liveness Delta gives ConcurrentAppend-safe commits.

        ``compact=True`` shuffles rows so each table partition receives one
        task (one output file) — trades one exchange for small-file
        pressure; equivalent to Delta's optimized writes."""
        snap = self.log.snapshot()
        if compact:
            df = (
                df.repartition(*[F.col(c) for c in snap.partition_columns])
                if snap.partition_columns
                else df.coalesce(1)
            )
        adds, cdf = self._stage_write(df, snap)
        entry = {
            "operation": "APPEND",
            "operationParameters": {"mode": "Append", **(operation_parameters or {})},
            "add": adds,
            "remove": [],
            "cdf": cdf,
        }
        if cdf:
            entry["cdf_sizes"] = {
                p: self._cdf_sizes[p] for p in cdf if p in self._cdf_sizes
            }
        for _ in range(50):
            v = self.log.next_version()
            if self.log.try_commit(v, entry):
                return v
        raise ConcurrentWriteException("append could not commit after 50 attempts")

    def overwrite(
        self,
        df: DataFrame,
        operation_parameters: dict | None = None,
        dynamic_partitions: bool = False,
    ) -> int:
        """Full-table overwrite (ref: write_data mode=overwrite + test 6,
        src/validation_suite.py:354-362, 679-707).  Reads table state (the
        file list it replaces), so a stale snapshot loses the race.

        ``operation_parameters`` ride in the commit entry — the same
        txnAppId/txnVersion idempotence hook the append path exposes
        (used by streaming/acid_sink and materialized views to make
        write+watermark a single atomic commit).

        ``dynamic_partitions`` (Spark's partitionOverwriteMode=dynamic,
        mirroring the Delta layer): only the partitions the frame writes
        into are replaced; the touched set derives from the STAGED adds'
        own partitionValues strings, so no literal round trip can
        diverge.  An unpartitioned table degenerates to a full overwrite,
        as in Spark."""
        snap = self.log.snapshot()
        adds, cdf = self._stage_write(df, snap, cdf_type="insert_overwrite")
        if dynamic_partitions:
            touched = {
                tuple(sorted((a.get("partitionValues") or {}).items()))
                for a in adds
            }
            doomed = [
                p
                for p, a in snap.files.items()
                if tuple(sorted((a.get("partitionValues") or {}).items()))
                in touched
            ]
        else:
            doomed = list(snap.files)
        entry = {
            "operation": "OVERWRITE",
            "operationParameters": {
                "mode": "Overwrite",
                **(
                    {"partitionOverwriteMode": "dynamic"}
                    if dynamic_partitions
                    else {}
                ),
                **(operation_parameters or {}),
            },
            "add": adds,
            "remove": [{"path": p} for p in doomed],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    def overwrite_where(
        self, df: DataFrame, predicate: str | Column
    ) -> int:
        """Predicate-scoped atomic overwrite (delta-spark's
        ``replaceWhere``): rows matching ``predicate`` vanish and ``df``
        lands, in ONE commit.  Every incoming row must satisfy the
        predicate (NULL doesn't satisfy it — Delta's rule).  Removal uses
        the DELETE machinery: whole partitions drop metadata-only when the
        predicate is partition-only, otherwise touched files rewrite
        copy-on-write keeping their non-matching rows.  With CDF enabled
        the commit carries row-accurate delete AND insert change files —
        richer than Delta's plain overwrite, whose CDF is undefined."""
        snap = self.log.snapshot()
        cond = _cond(predicate)
        cond_true = F.coalesce(cond, F.lit(False))
        if df.filter(~cond_true).limit(1).count():
            raise AcidTableError(
                "replaceWhere: written rows must all match the predicate "
                f"{predicate!r}"
            )
        cdf_on = self._cdf_enabled(snap)
        new_adds, cdf_new = self._stage_write(
            df, snap, cdf_type="insert" if cdf_on else None
        )
        pruned = self._partition_prune(snap, cond)
        keep_adds: list[dict] = []
        if pruned is not None:  # metadata-only partition-scoped removal
            removes = pruned
        else:
            removes = self._files_matching(snap, cond_true)
            if removes:
                keep = self._read_files(snap, removes).filter(~cond_true)
                keep_adds, _ = self._stage_write(
                    keep, snap, cdf_type=None, rewrite=True
                )
        cdf_del = (
            self._write_cdf(
                self._read_files(snap, removes)
                .filter(cond_true if pruned is None else F.lit(True))
                .withColumn(CDF_TYPE, F.lit("delete"))
            )
            if cdf_on and removes
            else []
        )
        entry = {
            "operation": "OVERWRITE",
            "operationParameters": {
                "mode": "Overwrite",
                "predicate": str(predicate),
            },
            "add": new_adds + keep_adds,
            "remove": [{"path": p} for p in removes],
            "cdf": cdf_del + cdf_new,
        }
        return self._commit_strict(entry, snap)

    def _commit_strict(self, entry: dict, snap: Snapshot) -> int:
        v = snap.version + 1
        if entry.get("cdf"):
            entry["cdf_sizes"] = {
                p: self._cdf_sizes[p]
                for p in entry["cdf"]
                if p in self._cdf_sizes
            }
        if not self.log.try_commit(v, entry):
            # the write staged data/CDF files before this commit attempt;
            # losing the race must not leave them behind — orphan CDF files
            # would surface as phantom changes in the change-feed stream.
            # Absolute add references (shallow clones) were never staged by
            # this table: resolve via _abs and only delete under our root,
            # so a lost clone race can never reach into the source table.
            # Paths the BASE snapshot already references (deletion-vector
            # re-adds, restore re-references) were never staged either —
            # deleting them would destroy live data.
            root = strip_scheme(self.location).rstrip("/") + "/"
            for a in entry.get("add", []):
                if a["path"] in snap.files:
                    # re-referenced live file; but a NEW DV sidecar staged
                    # for it by this writer is ours to clean
                    from delta_lake_validation_spark.sources.dv import (
                        dv_relative_path,
                        dv_unique_id,
                    )

                    new_dv = a.get("deletionVector")
                    old_dv = snap.files[a["path"]].get("deletionVector")
                    if (
                        new_dv
                        and new_dv.get("storageType") == "u"
                        and dv_unique_id(new_dv) != dv_unique_id(old_dv)
                    ):
                        self.fs.delete(
                            f"{self.location}/"
                            f"{dv_relative_path(new_dv['pathOrInlineDv'])}"
                        )
                    continue
                p = self._abs(a["path"])
                if strip_scheme(p).startswith(root):
                    self.fs.delete(p)
            for p in entry.get("cdf", []):
                self.fs.delete(f"{self.location}/{p}")
            raise ConcurrentWriteException(
                f"snapshot v{snap.version} is stale: version {v} exists "
                f"(operation {entry['operation']})"
            )
        return v

    def _stage_write(
        self,
        df: DataFrame,
        snap: Snapshot,
        cdf_type: str | None = "insert",
        rewrite: bool = False,
    ) -> tuple[list[dict], list[str]]:
        """Write df as parquet into staging, move files under the table root
        (hive layout), return (add entries, cdf file list).

        ``rewrite=True`` (copy-on-write DML / compaction) names files
        ``rw-*.parquet`` instead of ``part-*.parquet``: rewritten files
        carry rows that are NOT new, so the append file-stream's
        ``part-*`` glob must never see them — their row-level changes are
        delivered through ``_change_data`` instead (streaming/cdf_stream)."""
        schema = self.schema(snap)
        cols = schema.fieldNames()
        if set(df.columns) != set(cols):
            raise AcidTableError(
                f"schema mismatch: table has {cols}, data has {df.columns}"
            )
        # positional order + implicit safe cast to the table schema (as
        # Delta does): without the cast, a long-typed df appended to an
        # int column writes INT64 parquet that every later read rejects
        # with PARQUET_COLUMN_DATA_TYPE_MISMATCH
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
        # CHECK constraints gate every data-file write (append/overwrite/
        # DML rewrite alike, as Delta does).  Rewrites of rows that were
        # valid stay valid because add_constraint validated existing data.
        self._enforce_constraints(df, snap)
        staging = f"{self.location}/{STAGING_DIR}/{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if snap.partition_columns:
            writer = writer.partitionBy(*snap.partition_columns)
        from delta_lake_validation_spark.sources.delta_log import (
            _staging_write_conf,
        )
        from delta_lake_validation_spark.sources.footer_stats import (
            staged_file_stats,
        )

        with _staging_write_conf(self.spark):
            writer.parquet(staging)

        sizes = {
            strip_scheme(p): sz
            for p, sz in self.fs.list_files_with_size(staging)
            if p.endswith(".parquet")
        }
        # per-file numRecords and min/max/nullCount of the stat columns,
        # from the staged footers (sources/footer_stats.py)
        stats_by_file = staged_file_stats(
            self.spark,
            sorted(sizes),
            self._stat_col_names(schema, snap.partition_columns),
        )

        adds = []
        base = strip_scheme(staging)
        prefix = "rw" if rewrite else "part"
        for f_abs in sorted(sizes):
            rel_dir = f_abs[len(base) :].rsplit("/", 1)[0].strip("/")
            pv = _partition_values(rel_dir)
            new_rel = (rel_dir + "/" if rel_dir else "") + f"{prefix}-{uuid.uuid4().hex}.parquet"
            self.fs.rename(f_abs, f"{self.location}/{new_rel}")
            n_records, st = _acid_file_stats(*stats_by_file.get(f_abs, (0, {})))
            adds.append(
                {
                    "path": new_rel,
                    "partitionValues": pv,
                    "numRecords": n_records,
                    "size": sizes[f_abs],
                    "dataChange": True,
                    "stats": st,
                }
            )
        self.fs.delete(staging, recursive=True)

        cdf_files: list[str] = []
        if cdf_type and self._cdf_enabled(snap) and cdf_type != "insert":
            # overwrite: old rows become 'delete' + new rows 'insert'; the
            # insert side is derivable from add[] so only deletes are stored
            old = self._read_files(snap, list(snap.files))
            cdf_files = self._write_cdf(old.withColumn(CDF_TYPE, F.lit("delete")))
        return adds, cdf_files

    #: stat columns = what the data-skipping reader can use:
    #: integral/floating/string/boolean (timestamps, decimals, binaries
    #: skipped rather than mis-ordered in JSON)
    @staticmethod
    def _stat_col_names(schema: StructType, partition_columns: list[str]) -> list[str]:
        from pyspark.sql.types import (
            BooleanType,
            DoubleType,
            FloatType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
        )

        stat_types = (
            IntegerType, LongType, ShortType, FloatType, DoubleType,
            StringType, BooleanType,
        )
        return [
            f.name
            for f in schema.fields
            if f.name not in partition_columns and isinstance(f.dataType, stat_types)
        ]

    def _cdf_enabled(self, snap: Snapshot) -> bool:
        return snap.properties.get("enableChangeDataFeed", "false").lower() == "true"

    def _write_cdf(self, df_with_type: DataFrame) -> list[str]:
        from delta_lake_validation_spark.sources.delta_log import (
            _staging_write_conf,
        )

        out_dir = f"{self.location}/{CDF_DIR}/{uuid.uuid4().hex}"
        with _staging_write_conf(self.spark):
            df_with_type.write.mode("overwrite").parquet(out_dir)
        out = []
        for p, size in self.fs.list_files_with_size(out_dir):
            if not p.endswith(".parquet"):
                continue
            rel = strip_scheme(p)[len(strip_scheme(self.location)) :].lstrip(
                "/"
            )
            out.append(rel)
            # sizes ride into the commit entry (_commit_strict ->
            # "cdf_sizes") so the streaming source can rate-cap and
            # bin-pack change files without re-statting them per trigger
            self._cdf_sizes[rel] = size
        return out

    # ------------------------------------------------------------------ DML
    def delete(
        self,
        condition: str | Column | None = None,
        use_dv: bool | None = None,
    ) -> int:
        """DELETE FROM … WHERE (ref: src/validation_suite.py:738-740 partition
        predicate; :816-820 range form; :341 all-rows seed wipe).

        Partition-pruned fast path: when the predicate only references
        partition columns, matching files are dropped as a metadata-only
        commit — no data read, exactly like Delta's partition delete.

        ``use_dv=True`` (or table property ``delete.mode=dv``) deletes by
        DELETION VECTOR instead of copy-on-write: each touched file is
        re-added with a protocol-true DV sidecar (sources/dv.py) marking
        the deleted row indices — no data rewritten, so deleting 100 rows
        from a 100 TB table is O(matched rows), not O(touched files).
        Reads, time travel, CDF, RESTORE, OPTIMIZE (which materializes
        DVs away) and VACUUM (which reclaims orphaned sidecars) all honor
        it.  Copy-on-write remains the default — DVs accumulate read-side
        filter cost, the same trade Delta documents."""
        snap = self.log.snapshot()
        if use_dv is None:
            use_dv = snap.properties.get("delete.mode") == "dv"
        if condition is None:
            remove = list(snap.files)
            cdf = (
                self._write_cdf(
                    self._read_files(snap, remove).withColumn(CDF_TYPE, F.lit("delete"))
                )
                if self._cdf_enabled(snap) and remove
                else []
            )
            entry = {
                "operation": "DELETE",
                "operationParameters": {"predicate": "true"},
                "add": [],
                "remove": [{"path": p} for p in remove],
                "cdf": cdf,
            }
            return self._commit_strict(entry, snap)

        cond = _cond(condition)
        pruned = self._partition_prune(snap, cond)
        if pruned is not None:  # metadata-only whole-partition delete
            cdf = (
                self._write_cdf(
                    self._read_files(snap, pruned).withColumn(CDF_TYPE, F.lit("delete"))
                )
                if self._cdf_enabled(snap) and pruned
                else []
            )
            entry = {
                "operation": "DELETE",
                "operationParameters": {"predicate": str(condition), "pruned": True},
                "add": [],
                "remove": [{"path": p} for p in pruned],
                "cdf": cdf,
            }
            return self._commit_strict(entry, snap)

        # SQL DELETE semantics: remove rows where the predicate is TRUE;
        # rows where it evaluates NULL (nullable columns) are KEPT.  The
        # kept-rows filter must therefore be NOT(coalesce(cond, false)),
        # not plain ~cond — ~NULL is NULL and filter() drops it.
        cond_true = F.coalesce(cond, F.lit(False))

        if use_dv:
            return self._delete_by_dv(snap, condition, cond_true)

        # copy-on-write: rewrite only files that contain matching rows
        touched = self._files_matching(snap, cond_true)
        if not touched:
            entry = {
                "operation": "DELETE",
                "operationParameters": {"predicate": str(condition)},
                "add": [],
                "remove": [],
                "cdf": [],
            }
            return self._commit_strict(entry, snap)
        keep = self._read_files(snap, touched).filter(~cond_true)
        adds, _ = self._stage_write(keep, snap, cdf_type=None, rewrite=True)
        cdf = (
            self._write_cdf(
                self._read_files(snap, touched)
                .filter(cond_true)
                .withColumn(CDF_TYPE, F.lit("delete"))
            )
            if self._cdf_enabled(snap)
            else []
        )
        entry = {
            "operation": "DELETE",
            "operationParameters": {"predicate": str(condition)},
            "add": adds,
            "remove": [{"path": p} for p in touched],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    def _matching_bitmaps(
        self, snap: Snapshot, rel_paths: list[str], cond: Column
    ) -> dict[str, tuple[bytes, int]]:
        """{add-entry path: (serialized DV bitmap, cardinality) of LIVE
        rows matching ``cond``} — the deletion-vector targeting scan.  One
        distributed pass; the roaring bitmaps are built executor-side
        (groupBy file → applyInPandas) so the driver receives only one
        compressed payload per touched file — O(files) driver bytes, never
        O(matched rows)."""
        from delta_lake_validation_spark.sources.dv import (
            apply_dv_filter,
            collect_file_bitmaps,
        )

        if not rel_paths:
            return {}
        schema = self.schema(snap)
        groups: dict[str, list[str]] = {}
        for p in rel_paths:
            meta = snap.files.get(p) or {}
            if p.startswith("/") or "://" in p:
                base = meta.get("basePath", self.location)
                groups.setdefault(base, []).append(p)
            else:
                groups.setdefault(self.location, []).append(f"{self.location}/{p}")
        out_df = None
        for base, paths in groups.items():
            reader = self.spark.read.schema(schema)
            if snap.partition_columns:
                reader = reader.option("basePath", base)
            df = (
                reader.parquet(*paths)
                .withColumn("__fp", F.col("_metadata.file_path"))
                .withColumn("__ri", F.col("_metadata.row_index"))
            )
            out_df = df if out_df is None else out_df.unionByName(df)
        dv_map = self._dv_map(snap, rel_paths)
        if dv_map:
            # rows already deleted by an existing DV can't be deleted again
            out_df = apply_dv_filter(
                self.spark, out_df, dv_map, file_col="__fp", idx_col="__ri"
            )
        fp_bitmaps = collect_file_bitmaps(out_df.filter(cond))
        return {
            self._rel_of(fp): payload for fp, payload in fp_bitmaps.items()
        }

    def _delete_by_dv(
        self, snap: Snapshot, condition, cond_true: Column
    ) -> int:
        """Deletion-vector DELETE: re-add each touched file with a merged
        (old ∪ new) DV sidecar; no data files rewritten.  The bitmaps are
        built executor-side; the driver only merges per-file with any
        pre-existing DV (bounded by one file's cardinality) and writes the
        sidecars."""
        from delta_lake_validation_spark.sources.dv import (
            dv_relative_path,
            load_dv_bytes,
            merge_bitmaps,
            deserialize_bitmap,
            write_dv_bytes,
        )

        per_file = self._matching_bitmaps(snap, list(snap.files), cond_true)
        if not per_file:
            entry = {
                "operation": "DELETE",
                "operationParameters": {"predicate": str(condition), "mode": "dv"},
                "add": [],
                "remove": [],
                "cdf": [],
            }
            return self._commit_strict(entry, snap)
        adds: list[dict] = []
        for rel, (new_bytes, card) in sorted(per_file.items()):
            meta = dict(snap.files[rel])
            old_desc = meta.get("deletionVector")
            merged_bytes = new_bytes
            if old_desc and int(old_desc.get("cardinality") or 0) > 0:
                base = meta.get("basePath", self.location)
                merged_bytes = merge_bitmaps(
                    new_bytes, load_dv_bytes(old_desc, base, self.fs)
                )
                card = int(deserialize_bitmap(merged_bytes).size)
            desc = write_dv_bytes(
                self.fs, self.location, merged_bytes, card
            )
            if "basePath" in meta:
                # cloned (absolute) data file: its basePath points at the
                # SOURCE table, but the new sidecar lives HERE — store the
                # descriptor as an absolute 'p' reference so resolution
                # never depends on the data file's base
                desc = {
                    **desc,
                    "storageType": "p",
                    "pathOrInlineDv": (
                        f"{self.location}/"
                        f"{dv_relative_path(desc['pathOrInlineDv'])}"
                    ),
                }
            meta["deletionVector"] = desc
            adds.append(meta)
        cdf = (
            self._write_cdf(
                self._read_files(snap, list(per_file))
                .filter(cond_true)
                .withColumn(CDF_TYPE, F.lit("delete"))
            )
            if self._cdf_enabled(snap)
            else []
        )
        entry = {
            "operation": "DELETE",
            "operationParameters": {"predicate": str(condition), "mode": "dv"},
            "add": adds,
            "remove": [{"path": p} for p in per_file],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    def update(self, assignments: dict[str, str | Column], condition: str | Column) -> int:
        """UPDATE … SET … WHERE (ref: src/validation_suite.py:762-764 —
        arithmetic predicate MOD(item_count,2)=0, arithmetic assignment)."""
        snap = self.log.snapshot()
        cond = _cond(condition)
        touched = self._files_matching(snap, cond)
        entry_base = {
            "operation": "UPDATE",
            "operationParameters": {"predicate": str(condition)},
        }
        if not touched:
            return self._commit_strict({**entry_base, "add": [], "remove": [], "cdf": []}, snap)
        src = self._read_files(snap, touched)
        sets = {k: _cond(v) for k, v in assignments.items()}
        updated_cols = [
            F.when(cond, sets[c]).otherwise(F.col(c)).alias(c) if c in sets else F.col(c)
            for c in src.columns
        ]
        rewritten = src.select(*updated_cols)
        adds, _ = self._stage_write(rewritten, snap, cdf_type=None, rewrite=True)
        cdf = []
        if self._cdf_enabled(snap):
            pre = src.filter(cond).withColumn(CDF_TYPE, F.lit("update_preimage"))
            post = (
                src.filter(cond)
                .select(
                    *[
                        (sets[c] if c in sets else F.col(c)).alias(c)
                        for c in src.columns
                    ]
                )
                .withColumn(CDF_TYPE, F.lit("update_postimage"))
            )
            cdf = self._write_cdf(pre.unionByName(post))
        entry = {
            **entry_base,
            "add": adds,
            "remove": [{"path": p} for p in touched],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    def insert_values(self, rows: list) -> int:
        """INSERT INTO … VALUES convenience (ref: insert_records builds
        partition-batched multi-row INSERT SQL, src/validation_suite.py:
        375-404 — here Spark routes rows to partitions itself)."""
        snap = self.log.snapshot()
        return self.append(self.spark.createDataFrame(rows, self.schema(snap)))

    def merge(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE upsert: WHEN MATCHED UPDATE all, WHEN NOT MATCHED INSERT all
        (exact shape of the reference's merge, src/validation_suite.py:489-524:
        ON key equality, updates win over target).

        Plan: one semi-join on input_file_name finds the files holding
        matches; only those rewrite.  Inserts come from an anti-join.  Both
        joins broadcast the (typically small) source; at large source sizes
        Catalyst falls back to shuffle joins — semantics unchanged.

        Like Delta, a source with duplicate keys would update the same
        target row twice nondeterministically — detected and rejected."""
        snap = self.log.snapshot()
        schema = self.schema(snap)
        cols = schema.fieldNames()
        if set(source.columns) != set(cols):
            raise AcidTableError(f"merge source columns {source.columns} != {cols}")
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            dup_key = {k: dup[0][k] for k in keys}
            raise AcidTableError(
                f"merge source has duplicate rows for key {dup_key}; "
                "a target row would receive multiple updates"
            )
        tgt = self.read().alias("t")
        src = source.select(*cols).alias("s")
        on = None
        for k in keys:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            on = c if on is None else (on & c)

        touched = self._files_matching_join(snap, src, keys)
        rewritten = None
        if touched:
            tf = self._read_files(snap, touched).alias("t")
            joined = tf.join(src.withColumn("__m", F.lit(1)), on, "left")
            rewritten = joined.select(
                *[
                    F.when(F.col("__m").isNotNull(), F.col(f"s.{c}"))
                    .otherwise(F.col(f"t.{c}"))
                    .alias(c)
                    for c in cols
                ]
            )
        inserts = src.join(tgt, on, "left_anti").select(*[F.col(f"s.{c}").alias(c) for c in cols])
        new_data = inserts if rewritten is None else rewritten.unionByName(inserts)
        adds, _ = self._stage_write(new_data, snap, cdf_type=None, rewrite=True)
        cdf = []
        if self._cdf_enabled(snap):
            tf_all = self.read().alias("t")
            matched_pre = tf_all.join(src, on, "left_semi").withColumn(
                CDF_TYPE, F.lit("update_preimage")
            )
            matched_post = (
                src.join(tgt, on, "left_semi")
                .select(*cols)
                .withColumn(CDF_TYPE, F.lit("update_postimage"))
            )
            ins = inserts.withColumn(CDF_TYPE, F.lit("insert"))
            cdf = self._write_cdf(matched_pre.unionByName(matched_post).unionByName(ins))
        entry = {
            "operation": "MERGE",
            "operationParameters": {"keys": keys},
            "add": adds,
            "remove": [{"path": p} for p in touched],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    def merge_clauses(
        self,
        source: DataFrame,
        keys: list[str],
        *,
        matched: str | None = "update",
        matched_predicate: str | None = None,
        not_matched: str | None = "insert",
        not_matched_by_source: str | None = None,
        not_matched_by_source_predicate: str | None = None,
    ) -> int:
        """Multi-clause MERGE on the ACID layer (same clause matrix as
        ``DeltaTable.merge``): matched ``update``/``delete``/None with an
        optional TARGET-column predicate, not-matched ``insert``/None,
        and not-matched-by-source ``delete``/None (CDC apply / sync).

        Copy-on-write: one distributed scan finds the files holding any
        clause-affected row (matched rows, or unmatched rows passing the
        by-source predicate); only those rewrite.  Clause predicates are
        evaluated on the target frame BEFORE the source join, so bare
        column names stay unambiguous.  ``merge`` remains the reference's
        upsert specialization (src/validation_suite.py:489-524)."""
        if matched not in ("update", "delete", None):
            raise AcidTableError(
                f"matched must be update/delete/None, got {matched!r}"
            )
        if not_matched not in ("insert", None):
            raise AcidTableError(
                f"not_matched must be insert/None, got {not_matched!r}"
            )
        if not_matched_by_source not in ("delete", None):
            raise AcidTableError(
                "not_matched_by_source must be delete/None, "
                f"got {not_matched_by_source!r}"
            )
        snap = self.log.snapshot()
        schema = self.schema(snap)
        cols = schema.fieldNames()
        needs_full = matched == "update" or not_matched == "insert"
        if needs_full and set(source.columns) != set(cols):
            raise AcidTableError(
                f"merge source columns {source.columns} != {cols}"
            )
        if not set(keys) <= set(source.columns):
            raise AcidTableError(f"merge keys {keys} not in source columns")
        if matched == "update":
            dup = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                raise AcidTableError(
                    "merge source has duplicate rows for a key; a target "
                    "row would receive multiple updates"
                )
        src_cols = list(source.columns)
        src = source.alias("s")
        mp = F.expr(matched_predicate) if matched_predicate else F.lit(True)
        bp = (
            F.expr(not_matched_by_source_predicate)
            if not_matched_by_source_predicate
            else F.lit(True)
        )

        def _on(talias="t", salias="s"):
            on = None
            for k in keys:
                c = F.col(f"{talias}.{k}") == F.col(f"{salias}.{k}")
                on = c if on is None else (on & c)
            return on

        def _affected(df):
            """drop-or-replace condition over a joined (t+__m) frame."""
            cond = F.lit(False)
            if matched:
                cond = cond | (F.col("__m").isNotNull() & F.col("__mp"))
            if not_matched_by_source == "delete":
                cond = cond | (F.col("__m").isNull() & F.col("__bp"))
            return cond

        rels = list(snap.files)
        touched: list[str] = []
        if rels and (matched or not_matched_by_source):
            scan = (
                self._read_files(snap, rels)
                .withColumn("__f", F.input_file_name())
                .withColumn("__mp", mp)
                .withColumn("__bp", bp)
                .alias("t")
                .join(
                    src.select(*keys).distinct().withColumn("__m", F.lit(1)).alias("s"),
                    _on(),
                    "left",
                )
            )
            touched = sorted(
                {
                    self._rel_of(r[0])
                    for r in scan.filter(_affected(scan))
                    .select("__f")
                    .distinct()
                    .collect()
                }
            )
        rewritten = None
        if touched:
            tf = (
                self._read_files(snap, touched)
                .withColumn("__mp", mp)
                .withColumn("__bp", bp)
                .alias("t")
            )
            joined = tf.join(
                src.withColumn("__m", F.lit(1)).alias("s"), _on(), "left"
            )
            drop = F.lit(False)
            if matched == "delete":
                drop = drop | (F.col("__m").isNotNull() & F.col("__mp"))
            if not_matched_by_source == "delete":
                drop = drop | (F.col("__m").isNull() & F.col("__bp"))
            kept = joined.filter(~drop)
            if matched == "update":
                take_src = F.col("__m").isNotNull() & F.col("__mp")
                rewritten = kept.select(
                    *[
                        F.when(take_src, F.col(f"s.{c}"))
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                        for c in cols
                    ]
                )
            else:
                rewritten = kept.select(
                    *[F.col(f"t.{c}").alias(c) for c in cols]
                )
        inserts = None
        if not_matched == "insert":
            tgt = self.read().alias("t")
            inserts = src.join(tgt, _on(), "left_anti").select(
                *[F.col(f"s.{c}").alias(c) for c in cols]
            )
        new_data = None
        for piece in (rewritten, inserts):
            if piece is None:
                continue
            new_data = piece if new_data is None else new_data.unionByName(piece)
        if new_data is None:
            new_data = self.read().limit(0)
        adds, _ = self._stage_write(new_data, snap, cdf_type=None, rewrite=True)
        cdf = []
        if self._cdf_enabled(snap):
            tf_all = (
                self.read()
                .withColumn("__mp", mp)
                .withColumn("__bp", bp)
                .alias("t")
            )
            jall = tf_all.join(
                src.withColumn("__m", F.lit(1)).alias("s"), _on(), "left"
            )
            pieces = []
            tcols = [F.col(f"t.{c}").alias(c) for c in cols]
            if matched == "update":
                hit = F.col("__m").isNotNull() & F.col("__mp")
                pieces.append(
                    jall.filter(hit)
                    .select(*tcols)
                    .withColumn(CDF_TYPE, F.lit("update_preimage"))
                )
                pieces.append(
                    jall.filter(hit)
                    .select(*[F.col(f"s.{c}").alias(c) for c in cols])
                    .withColumn(CDF_TYPE, F.lit("update_postimage"))
                )
            elif matched == "delete":
                pieces.append(
                    jall.filter(F.col("__m").isNotNull() & F.col("__mp"))
                    .select(*tcols)
                    .withColumn(CDF_TYPE, F.lit("delete"))
                )
            if not_matched_by_source == "delete":
                pieces.append(
                    jall.filter(F.col("__m").isNull() & F.col("__bp"))
                    .select(*tcols)
                    .withColumn(CDF_TYPE, F.lit("delete"))
                )
            if inserts is not None:
                pieces.append(inserts.withColumn(CDF_TYPE, F.lit("insert")))
            if pieces:
                allc = pieces[0]
                for p in pieces[1:]:
                    allc = allc.unionByName(p)
                cdf = self._write_cdf(allc)
        entry = {
            "operation": "MERGE",
            "operationParameters": {
                "keys": keys,
                "matched": matched,
                "matchedPredicate": matched_predicate,
                "notMatched": not_matched,
                "notMatchedBySource": not_matched_by_source,
                "notMatchedBySourcePredicate": not_matched_by_source_predicate,
            },
            "add": adds,
            "remove": [{"path": p} for p in touched],
            "cdf": cdf,
        }
        return self._commit_strict(entry, snap)

    # ------------------------------------------------------- file targeting
    def _files_matching(self, snap: Snapshot, cond: Column) -> list[str]:
        """Distributed scan for files containing predicate matches — the
        copy-on-write targeting step.  Partition pruning applies first via
        the log's partitionValues (no file I/O for pruned-out partitions)."""
        rels = list(snap.files)
        if not rels:
            return []
        df = self._read_files(snap, rels).withColumn("__f", F.input_file_name())
        hits = [r[0] for r in df.filter(cond).select("__f").distinct().collect()]
        return sorted({self._rel_of(h) for h in hits})

    def _files_matching_join(
        self, snap: Snapshot, src: DataFrame, keys: list[str]
    ) -> list[str]:
        rels = list(snap.files)
        if not rels:
            return []
        df = self._read_files(snap, rels).withColumn("__f", F.input_file_name()).alias("t")
        on = None
        for k in keys:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            on = c if on is None else (on & c)
        hits = [
            r[0]
            for r in df.join(src.alias("s"), on, "left_semi")
            .select("__f")
            .distinct()
            .collect()
        ]
        return sorted({self._rel_of(h) for h in hits})

    def _rel_of(self, file_uri: str) -> str:
        """Map an ``input_file_name()`` URI back to its add-entry path:
        files under this table's location become relative paths (how local
        writes are logged); anything else is a shallow-clone reference and
        must keep the exact absolute form ``clone_to`` stored — scheme and
        authority included — or copy-on-write DML on a remote-fs clone
        would look up a mangled key and fail PATH_NOT_FOUND."""
        if "://" in file_uri or file_uri.startswith("file:"):
            pr = urlparse(file_uri)
            p = unquote(pr.path)
            scheme_abs = f"{pr.scheme}://{pr.netloc}{p}" if pr.scheme not in ("file", "") else p
        else:
            p = file_uri
            scheme_abs = file_uri
        root = strip_scheme(self.location).rstrip("/")
        if p.startswith(root + "/"):
            return p[len(root) :].lstrip("/")
        # clone_to stores source refs as location-prefixed: scheme'd when the
        # source location carries a scheme, bare posix otherwise
        return scheme_abs

    def _partition_prune(self, snap: Snapshot, cond: Column) -> list[str] | None:
        """If cond references only partition columns, return the files whose
        partitionValues satisfy it (else None).  Evaluated by Spark on a tiny
        local DataFrame of distinct partition tuples — same expression
        semantics as the main engine, zero data I/O."""
        if not snap.partition_columns:
            return None
        schema = self.schema(snap)
        part_fields = [f for f in schema.fields if f.name in snap.partition_columns]
        rows = []
        for rel, meta in snap.files.items():
            pv = meta.get("partitionValues", {})
            rows.append((rel, *[pv.get(f.name) for f in part_fields]))
        if not rows:
            return []
        pdf = self.spark.createDataFrame(
            rows, ["__path"] + [f.name for f in part_fields]
        )
        for f in part_fields:
            pdf = pdf.withColumn(f.name, F.col(f.name).cast(f.dataType))
        try:
            return sorted(r[0] for r in pdf.filter(cond).select("__path").collect())
        except Exception:
            return None  # predicate references non-partition columns

    # ---------------------------------------------------------- maintenance
    def vacuum(
        self,
        retain_hours: float = 168.0,
        dry_run: bool = False,
        distributed: bool | None = None,
    ) -> list[str]:
        """Delete data files no longer referenced by the latest snapshot
        (ref: VACUUM RETAIN 0 HOURS with retention check disabled,
        src/validation_suite.py:456-463).  retain_hours=0 reclaims
        immediately — this breaks time travel to older versions, exactly as
        it does in Delta.

        The retention (mtime) check runs on every filesystem — on remote
        stores too, via Hadoop FileStatus — because a file younger than the
        cutoff may belong to an in-flight writer that staged it before its
        commit; deleting it would break concurrent-write safety.

        Also reclaims ``_change_data`` files referenced by no log entry:
        change files are staged before the commit attempt, so a lost commit
        race leaves orphans that the CDF stream must never see.

        ``distributed`` (default auto past 10k live files) fans the listing
        (mtimes ride each recursive listing — no per-file RPCs), the
        keep-set anti-join, and the deletes out as Spark jobs via
        fs.list_stale_distributed — the same scale shape as the Delta-side
        vacuum."""
        import time as _t

        from delta_lake_validation_spark.sources.dv import dv_relative_path

        snap = self.log.snapshot()
        root = strip_scheme(self.location)
        active = {f"{root}/{p}" for p in snap.files}
        committed_cdf = {
            f"{root}/{p}" for e in self.log.entries() for p in e.get("cdf", [])
        }
        # DV sidecars referenced by the LIVE snapshot must survive; older
        # versions' sidecars are protected by the same mtime retention as
        # their data files
        active_dv = set()
        for meta in snap.files.values():
            d = meta.get("deletionVector")
            if not d:
                continue
            if d.get("storageType") == "u":
                base = strip_scheme(meta.get("basePath", self.location))
                active_dv.add(f"{base}/{dv_relative_path(d['pathOrInlineDv'])}")
            elif d.get("storageType") == "p":
                active_dv.add(strip_scheme(d["pathOrInlineDv"]))
        cutoff = _t.time() - retain_hours * 3600
        if distributed is None:
            # same auto rule as DeltaTable.vacuum: the Spark-job shape only
            # pays off where per-file stat/delete is a network round trip
            distributed = (
                self.spark is not None
                and not is_local(self.location)
                and len(snap.files) >= 10_000
            )
        if distributed:
            from delta_lake_validation_spark.sources.fs import (
                delete_files_distributed,
                list_stale_distributed,
                rel_under,
            )

            # location-relative keep set — the distributed anti-join runs
            # in pyarrow-normalized space where scheme-qualified URIs never
            # match (see fs.list_stale_distributed); entries outside the
            # table root are never listed, so dropping them is safe
            keep_rel = set()
            for p in active | active_dv | committed_cdf:
                r = rel_under(root, p)
                if r:
                    keep_rel.add(r)
            doomed_rel = list_stale_distributed(
                self.spark,
                self.location,
                keep_rel,
                cutoff,
                # CDF_DIR is scanned (uncommitted change files are vacuum
                # targets); only the log and staging dirs are off-limits
                lambda name: name in _SYS_DIRS and name != CDF_DIR,
            )
            if doomed_rel is not None:
                if not dry_run and doomed_rel:
                    delete_files_distributed(
                        self.spark, self.location, doomed_rel
                    )
                return sorted(doomed_rel)
        doomed = []
        for f_abs in self.fs.list_files(self.location):
            rel = strip_scheme(f_abs)[len(root) :].lstrip("/")
            top = rel.split("/", 1)[0]
            if top == CDF_DIR:
                if strip_scheme(f_abs) in committed_cdf:
                    continue
            elif top in _SYS_DIRS:
                continue
            elif strip_scheme(f_abs) in active:
                continue
            name = rel.rsplit("/", 1)[-1]
            if name.startswith("deletion_vector_") and name.endswith(".bin"):
                if strip_scheme(f_abs) in active_dv:
                    continue
            elif not rel.endswith(".parquet"):
                continue
            if self.fs.mtime(f_abs) > cutoff:
                continue
            doomed.append(rel)
        if not dry_run:
            for rel in doomed:
                self.fs.delete(f"{self.location}/{rel}")
        return sorted(doomed)

    def optimize(
        self,
        zorder_by: list[str] | None = None,
        target_files: int = 1,
        where: str | None = None,
        max_file_bytes: int = 1 << 30,
    ) -> int:
        """Bin-packing compaction, optionally clustered (ref: OPTIMIZE /
        ZORDER form, src/validation_suite.py:466-477).

        Compacts every partition holding more than ``target_files`` active
        files into ``target_files`` files; ``zorder_by`` clusters the
        rewritten files by the columns' interleaved Morton code
        (functions/zorder.py) so parquet min/max stats tighten for every
        clustered column simultaneously.  ``where`` scopes the compaction to
        the partitions matching a partition-column predicate (Delta's
        ``OPTIMIZE t WHERE ...``, validation_suite.py:473) — on a 100 TB
        table you compact the partitions that fragmented, not the world.
        Commits with dataChange=false — readers see identical rows.

        ``max_file_bytes`` (default 1 GiB) bounds output files by the
        log's input sizes: a partition whose live bytes exceed it compacts
        into ``ceil(bytes/max)`` files, never one unbounded file.

        On a clustered table (``clusterBy`` property, set at create or
        via set_property) OPTIMIZE defaults ``zorder_by`` to the declared
        cluster columns — the same contract as the Delta layer's
        liquid-clustering OPTIMIZE."""
        from delta_lake_validation_spark.functions.zorder import zorder_key

        snap = self.log.snapshot()
        if zorder_by is None:
            declared = snap.properties.get("clusterBy")
            if declared:
                cols = [c.strip() for c in declared.split(",") if c.strip()]
                unknown = set(cols) - set(self.schema(snap).fieldNames())
                if unknown:
                    # a typo'd clusterBy silently degrading to plain
                    # compaction would LOOK clustered forever — refuse
                    raise AcidTableError(
                        f"clusterBy property references unknown columns "
                        f"{sorted(unknown)}"
                    )
                zorder_by = cols or None
        in_scope = set(snap.files)
        if where is not None:
            pruned = self._partition_prune(snap, F.expr(where))
            if pruned is None:
                raise AcidTableError(
                    "OPTIMIZE ... WHERE must reference partition columns "
                    f"only ({list(snap.partition_columns)}); got {where!r}"
                )
            in_scope = set(pruned)
        by_part: dict[tuple, list[str]] = {}
        for rel, meta in snap.files.items():
            if rel not in in_scope:
                continue
            key = tuple(sorted((meta.get("partitionValues") or {}).items()))
            by_part.setdefault(key, []).append(rel)
        remove: list[str] = []
        adds: list[dict] = []
        for _key, rels in by_part.items():
            has_dv = any(
                snap.files[r].get("deletionVector") for r in rels
            )
            # a partition already at target file count still rewrites when
            # any file carries a deletion vector: OPTIMIZE materializes DVs
            # away (Delta's REORG ... APPLY (PURGE) semantics), ending the
            # read-side filter cost
            if len(rels) <= target_files and not has_dv:
                continue
            part_bytes = sum(
                int(snap.files[r].get("size", 0) or 0) for r in rels
            )
            n_out = max(int(target_files), -(-part_bytes // max_file_bytes))
            df = self._read_files(snap, rels)
            if zorder_by:
                df = (
                    df.withColumn("__zorder", zorder_key(df, zorder_by))
                    .repartitionByRange(n_out, "__zorder")
                    .sortWithinPartitions("__zorder")
                    .drop("__zorder")
                )
            else:
                df = df.coalesce(n_out)
            new_adds, _ = self._stage_write(df, snap, cdf_type=None, rewrite=True)
            for a in new_adds:
                a["dataChange"] = False
            adds.extend(new_adds)
            remove.extend(rels)
        entry = {
            "operation": "OPTIMIZE",
            "operationParameters": {
                "zorderBy": zorder_by or [],
                **({"where": where} if where else {}),
            },
            "add": adds,
            "remove": [{"path": p} for p in remove],
            "cdf": [],
        }
        # compaction changes no rows, so it commutes with appends: on a
        # lost race, rebase onto the new head as long as every file being
        # replaced is still active (an append never removes files; only a
        # competing rewrite of the same files forces the conflict path)
        v = snap.version + 1
        for _ in range(50):
            if self.log.try_commit(v, entry):
                return v
            head = self.log.snapshot()
            if any(p not in head.files for p in remove):
                for a in adds:
                    self.fs.delete(f"{self.location}/{a['path']}")
                raise ConcurrentWriteException(
                    "optimize lost a race against a commit that rewrote "
                    "the files being compacted"
                )
            v = head.version + 1
        raise ConcurrentWriteException("optimize could not commit after 50 attempts")

    def clone_to(self, location: str, version: int | None = None) -> "AcidTable":
        """Shallow clone (Delta ``CREATE TABLE ... SHALLOW CLONE`` parity,
        optionally of a historical version — ``VERSION AS OF`` clones):
        a new table whose log references this table's data files by
        absolute path — zero data copied, so forking a 100 TB table for a
        dev/test branch costs one metadata commit.  Writes to the clone
        stage their own local files; the source is never touched.

        Same caveat as Delta: the clone borrows the source's files, so a
        VACUUM on the SOURCE that reclaims files the clone still references
        breaks the clone (the clone's own vacuum only ever lists its own
        directory and cannot delete source files).  CDF on the clone starts
        after the clone point."""
        snap = self.log.snapshot(version)
        adds = []
        for rel, meta in snap.files.items():
            m = dict(meta)
            m["path"] = self._abs(rel)  # absolutize (idempotent for clones)
            if "basePath" not in m:
                # always recorded: partition discovery needs it on
                # partitioned clones, and 'u'-stored deletion vectors
                # resolve their sidecars against it on any clone
                m["basePath"] = self.location
            adds.append(m)
        # ONE commit carrying both the table metadata and the cloned file
        # references (Delta's SHALLOW CLONE is likewise a single atomic
        # commit): a crash can only leave nothing, never a valid-looking
        # empty table at the target
        clone = AcidTable(self.spark, location)
        if clone.log.exists():
            raise AcidTableError(f"table already exists at {location}")
        entry = {
            "operation": "CLONE",
            "operationParameters": {
                "source": self.location,
                "sourceVersion": snap.version,
            },
            "metadata": {
                "schemaJson": snap.schema_json,
                "partitionColumns": list(snap.partition_columns),
                "properties": dict(snap.properties),
            },
            "add": adds,
            "remove": [],
            "cdf": [],
        }
        if not clone.log.try_commit(0, entry):
            raise ConcurrentWriteException(f"concurrent create at {location}")
        return clone

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF (Delta RESTORE parity): one
        commit whose post-state file set equals the target version's.  Data
        files are re-referenced, never copied, so a restore past a VACUUM
        that reclaimed them fails up front with the missing paths.

        Schema/properties are restored too when they changed since the
        target version; a schema-changing restore emits no CDF (the pre- and
        post-state rows live under different schemas), otherwise CDF records
        file-level deletes (files leaving the snapshot) and inserts (files
        re-entering) — the same provenance granularity Delta's RESTORE uses.
        """
        from delta_lake_validation_spark.sources.dv import (
            dv_relative_path,
            dv_unique_id,
        )

        cur = self.log.snapshot()
        old = self.log.snapshot(version)  # raises VersionNotFoundError

        def _sig(meta: dict) -> tuple | None:
            return dv_unique_id(meta.get("deletionVector"))

        # an entry differing only by deletion vector must be replaced too:
        # remove(path) + re-add(old entry) nets to the old DV state because
        # log replay applies a commit's removes before its adds
        re_add = [
            old.files[p]
            for p in old.files
            if p not in cur.files or _sig(cur.files[p]) != _sig(old.files[p])
        ]
        remove = [
            p
            for p in cur.files
            if p not in old.files or _sig(cur.files[p]) != _sig(old.files[p])
        ]
        missing = [
            a["path"]
            for a in re_add
            if not self.fs.exists(self._abs(a["path"]))
        ]
        for a in re_add:
            d = a.get("deletionVector")
            if d and d.get("storageType") == "u":
                base = a.get("basePath", self.location)
                sidecar = f"{base}/{dv_relative_path(d['pathOrInlineDv'])}"
                if not self.fs.exists(sidecar):
                    missing.append(sidecar)
        if missing:
            raise AcidTableError(
                f"cannot restore to version {version}: data files were "
                f"vacuumed: {missing[:5]}"
            )
        schema_changed = (
            old.schema_json != cur.schema_json
            or old.partition_columns != cur.partition_columns
        )
        cdf: list[str] = []
        if self._cdf_enabled(cur) and not schema_changed and (re_add or remove):
            parts = []
            if remove:
                parts.append(
                    self._read_files(cur, remove).withColumn(
                        CDF_TYPE, F.lit("delete")
                    )
                )
            if re_add:
                # read re-added files under the OLD snapshot's view: its
                # deletion vectors define which rows the restore brings back
                parts.append(
                    self._read_files(old, [a["path"] for a in re_add]).withColumn(
                        CDF_TYPE, F.lit("insert")
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            cdf = self._write_cdf(df)
        entry: dict = {
            "operation": "RESTORE",
            "operationParameters": {"version": version},
            "add": re_add,
            "remove": [{"path": p} for p in remove],
            "cdf": cdf,
        }
        if schema_changed:
            # data+schema revert; table properties stay current (Delta
            # RESTORE keeps them, and log replay merges rather than resets)
            entry["metadata"] = {
                "schemaJson": old.schema_json,
                "partitionColumns": old.partition_columns,
                "properties": {},
            }
        return self._commit_strict(entry, cur)

    # ------------------------------------------------------------------ CDF
    def read_changes(
        self, start_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed read (ref: table_changes TVF,
        src/validation_suite.py:480-486).  Emits the Delta CDF contract
        columns: _change_type, _commit_version, _commit_timestamp.

        APPEND commits synthesize their 'insert' rows straight from the
        committed add-files (no extra copies stored — same trick Delta
        uses); DML commits read their stored change files."""
        snap = self.log.snapshot()
        if not self._cdf_enabled(snap):
            raise AcidTableError(
                "Change Data Feed is not enabled "
                "(set property enableChangeDataFeed=true)"
            )
        cdf_schema = self.schema(snap).add(CDF_TYPE, "string")
        pieces: list[DataFrame] = []
        for e in self.log.entries(start=start_version, end=end_version):
            v, ts = e["version"], e["timestamp"]
            piece = None
            if e.get("cdf"):
                paths = [f"{self.location}/{p}" for p in e["cdf"]]
                piece = self.spark.read.schema(cdf_schema).parquet(*paths)
            adds = [a["path"] for a in e.get("add", []) if a.get("dataChange", True)]
            # merge add-files mix updated+inserted rows and its stored cdf
            # already covers both, so only APPEND/OVERWRITE synthesize inserts
            if adds and e["operation"] in ("APPEND", "OVERWRITE"):
                # historical inserts are the files AS COMMITTED: never apply
                # the LATEST snapshot's deletion vectors to them
                ins = self._read_files(snap, adds, apply_dv=False).withColumn(
                    CDF_TYPE, F.lit("insert")
                )
                piece = ins if piece is None else piece.unionByName(ins)
            if piece is None:
                continue
            piece = piece.withColumn(CDF_VERSION, F.lit(v).cast("long")).withColumn(
                CDF_TS, F.to_timestamp(F.lit(ts.replace("T", " ").split("+")[0]))
            )
            pieces.append(piece)
        if not pieces:
            empty = self.schema(snap).add(CDF_TYPE, "string")
            return (
                self.spark.createDataFrame([], empty)
                .withColumn(CDF_VERSION, F.lit(None).cast("long"))
                .withColumn(CDF_TS, F.lit(None).cast("timestamp"))
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out


def _acid_file_stats(n: int, cols: dict[str, tuple]) -> tuple[int, dict | None]:
    """An add entry's ``(numRecords, stats)`` from ``(numRecords,
    {column: (min, max, nullCount)})`` (sources/footer_stats.py); stats
    are ``None`` when no column has a min."""
    mins = {c: mn for c, (mn, _mx, _nc) in cols.items() if mn is not None}
    if not mins:
        return n, None
    return n, {
        "minValues": mins,
        "maxValues": {c: mx for c, (_mn, mx, _nc) in cols.items() if mx is not None},
        "nullCounts": {c: nc for c, (_mn, _mx, nc) in cols.items()},
    }


def _partition_values(rel_dir: str) -> dict[str, str]:
    """Parse hive-style path segments k=v (ref: to_hive_path,
    src/validation_suite.py:125-129)."""
    pv: dict[str, str] = {}
    for seg in rel_dir.split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return pv


