"""Delta Lake tables (the ``_delta_log`` protocol), read and written
without delta-spark.

A Delta table is a directory of parquet data files plus a ``_delta_log`` of
JSON commits and periodic parquet checkpoints (ref
src/validation_suite.py:268-286 creates them with ``USING DELTA``).
``DeltaTable`` replays that log into a snapshot and serves reads, time
travel, ``read_where`` file skipping, the Change Data Feed
(``read_changes``, ref src/validation_suite.py:480-486), history and
detail.  It also writes: ``append``/``overwrite``, row-level ``delete``/
``update``/``merge_upsert``/``merge`` (file rewrites, or deletion vectors
when the table enables them, plus ``_change_data`` files when CDF is on),
schema and property changes, ``optimize``, ``vacuum``, ``cleanup_log`` and
``restore``; each commit is an exclusive create of the next log file.  The
module functions create, clone, convert, checkpoint and exchange tables
with the engine's own ACID layer (sources/acid).  Everything follows the
published spec (https://github.com/delta-io/delta/blob/master/PROTOCOL.md).

Protocol coverage rationale: the reference pins delta-spark 2.3.0
(ref pyproject.toml:8-12), so every table it can produce uses reader
version ≤2 plus (optionally) column mapping — all fully supported here,
including classic checkpoints, CDF, and name-mode column mapping.
Reader-v3 features a MODERN writer pointed at the same tables would emit
are supported too: deletion vectors (sources/dv.py; row filtering,
bitmap-diff CDF) and v2 checkpoint manifests (json/parquet + sidecars).
What we cannot serve correctly (id-mode files whose footers disagree with
the schema) is *detected and refused* rather than silently misread.

Scale notes:
- The log replay is driver-side but bounded: one checkpoint parquet read
  (columnar, only the ``add``/``remove``/``metaData``/``protocol`` columns)
  plus the JSON tail since the checkpoint (at most ``checkpointInterval``
  small files).  The data read itself is a plain distributed parquet scan,
  so predicate pushdown / column pruning / partition pruning all apply.
- One method, ``DeltaTable._scan_files``, turns log file entries into that
  scan, for snapshots, DML targeting scans and each commit's change feed.
  Partition values come from the entries' ``partitionValues``: one
  Hive-style partition-discovery scan when the file layout encodes them
  (prunable), one scan per distinct partition tuple with the values
  stamped in as literals otherwise.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from delta_lake_validation_spark.sources.fs import (
    FileSystem,
    is_local,
    pa_fs,
    strip_scheme,
)


class DeltaProtocolError(RuntimeError):
    """Raised when a table requires reader features we do not implement."""


class DeltaConstraintViolationError(DeltaProtocolError):
    """A staged write contains rows that violate a table CHECK constraint
    (``delta.constraints.*``) or a legacy column invariant
    (``delta.invariants``); the staging directory is discarded and nothing
    commits."""


#: Reader features of protocol v3 tables we can safely serve.  Anything else
#: (deletionVectors would silently resurrect deleted rows, columnMapping would
#: mis-name columns) must hard-fail, per the protocol's reader rules.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "vacuumProtocolCheck",
    "columnMapping",  # name AND id modes implemented (id mode verifies
    # parquet footer field-ids against the schema, _verify_field_ids)
    "deletionVectors",  # sources/dv.py codec; applied per-scan in
    # _scan_files via _metadata.row_index membership filtering
    "v2Checkpoint",  # UUID-named json/parquet manifests + _sidecars/
    # parquet action files (_checkpoint_actions); classic checkpoints
    # still preferred when both exist at the same version
    "typeWidening",  # read with the snapshot's (widened) schema: Spark's
    # parquet reader performs every spec promotion (int->long/double/
    # decimal, float->double, date->timestamp_ntz) on narrower files
    "typeWidening-preview",  # same mechanism, pre-GA feature name
    "collations",  # collation lives in __COLLATIONS field metadata over a
    # plain string type: reads return identical bytes; stats pruning
    # excludes collated columns (snapshot.collated_columns)
    "collations-preview",
    "variantType",  # Spark 4's native VariantType: the parquet physical
    # group (metadata/value binaries) is exactly what spark.read/write
    # produce, so scans serve variant columns directly (stats never
    # cover variant; pruning treats them as unknown).  deltapy refuses
    # variant columns (no arrow mapping in the Python Data Source) and
    # routes to the JVM scan.
    "variantType-preview",  # same mechanism, pre-GA feature name
}

_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")
# v2 checkpoints: UUID-named manifest (json or parquet) whose ``sidecar``
# actions point at add/remove parquet files under _delta_log/_sidecars/
_V2_CHECKPOINT_RE = re.compile(
    r"^(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(parquet|json)$"
)

# read_where auto-switches to checkpoint-as-data pruning (a Catalyst job
# over the checkpoint's add rows instead of a driver-side replay loop) once
# the checkpoint parquet footprint crosses this.  1 MiB ≈ 30-50k add
# actions (checkpoint stats compress hard); a 50k-file probe measured the
# Catalyst path already faster there (1.4s vs 1.9s) and it stays flat
# while the driver loop grows linearly with the file count
_DISTRIBUTED_PRUNE_BYTES = 1 << 20

# vacuum fans its listing/anti-join/deletes out as Spark jobs once the live
# set says per-file driver RPCs would dominate
_VACUUM_DISTRIBUTED_FILES = 10_000

_INTERVAL_RE = re.compile(r"^interval\s+(\d+)\s+([a-z]+)$", re.I)
_INTERVAL_UNIT_MS = {
    "millisecond": 1,
    "second": 1_000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 604_800_000,
}


def _interval_ms(text: str | None, default: int) -> int:
    """Parse a Delta interval property ('interval 1 week') to ms; unknown
    or absent values fall back to ``default``."""
    if not text:
        return default
    m = _INTERVAL_RE.match(str(text).strip())
    if not m:
        return default
    ms = _INTERVAL_UNIT_MS.get(m.group(2).lower().rstrip("s"))
    return int(m.group(1)) * ms if ms else default


def _stat_jsonable(v):
    """A footer/scan min or max -> the Delta stats JSON spelling.  Dates
    and timestamps become ISO strings: a UTC-aware datetime (a
    ``TIMESTAMP`` bound) renders its UTC wall clock, a naive one (a
    ``TIMESTAMP_NTZ`` bound) renders as is.  Non-finite floats and
    undecoded physical bytes are dropped: JSON can't carry them, and a
    missing stat only costs pruning, never correctness."""
    import datetime as _dt
    import math

    if v is None:
        return None
    if isinstance(v, float) and not math.isfinite(v):
        return None
    if isinstance(v, (bytes, bytearray)):
        return None
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


#: column types whose min/max/nullCount an add entry records
_STAT_TYPES = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType,
    StringType, DateType, TimestampType,
)


def _delta_file_stats(n: int, cols: dict[str, tuple]) -> dict:
    """An add entry's stats object from ``(numRecords, {column: (min,
    max, nullCount)})`` (sources/footer_stats.py).  A ``None`` null count
    (a foreign footer that lacks one) is left out."""
    mins, maxs, nulls = {}, {}, {}
    for c, (mn, mx, nc) in cols.items():
        lo, hi = _stat_jsonable(mn), _stat_jsonable(mx)
        if lo is not None:
            mins[c] = lo
        if hi is not None:
            maxs[c] = hi
        if nc is not None:
            nulls[c] = int(nc)
    return {
        "numRecords": int(n),
        "minValues": mins,
        "maxValues": maxs,
        "nullCount": nulls,
    }


def _map_field_paths(schema, prefix=()) -> list[tuple[str, ...]]:
    """Dotted paths of every map-typed field in an arrow schema — the
    fields whose ``to_pylist`` form (list of key/value pairs) must be
    folded back to dicts to match Spark's ``asDict(recursive=True)``."""
    import pyarrow as pa

    out: list[tuple[str, ...]] = []
    for field in schema:
        t = field.type
        if pa.types.is_map(t):
            out.append(prefix + (field.name,))
        elif pa.types.is_struct(t):
            out.extend(_map_field_paths(t, prefix + (field.name,)))
    return out


def _demapped(row: dict, maps: list[tuple[str, ...]]) -> dict:
    for path in maps:
        node = row
        for key in path[:-1]:
            node = node.get(key) if isinstance(node, dict) else None
            if node is None:
                break
        if isinstance(node, dict):
            v = node.get(path[-1])
            if isinstance(v, list):
                node[path[-1]] = dict(v)
    return row


class DeltaSnapshot:
    """Materialized table state at one version: live files + metadata."""

    def __init__(
        self,
        version: int,
        schema: StructType,
        partition_columns: list[str],
        files: dict[str, dict],
        properties: dict[str, str],
        metadata_id: str | None,
        name: str | None,
        protocol: dict | None = None,
        txns: dict[str, dict] | None = None,
        domains: dict[str, str] | None = None,
    ):
        #: last protocol action seen during replay (reader/writer gating
        #: uses this — one replay, not one per check)
        self.protocol = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
        #: latest ``txn`` action per appId seen during replay (checkpoint
        #: rows + JSON tail) — the idempotent-sink watermark the spec says
        #: every checkpoint must carry so log cleanup can't lose it
        self.txns = txns or {}
        #: live domainMetadata: domain name -> configuration string
        #: (latest wins; ``removed: true`` tombstones drop the domain).
        #: Carried through replay AND checkpoints — losing a domain such
        #: as ``delta.clustering`` or ``delta.rowTracking`` silently
        #: un-clusters / un-tracks a table other writers maintain.
        self.domains = domains or {}
        self.version = version
        self.schema = schema
        self.partition_columns = partition_columns
        self.files = files  # path -> add action (partitionValues, size, ...)
        self.properties = properties
        self.metadata_id = metadata_id
        self.name = name
        # column mapping: logical -> physical top-level names; identity
        # mapping when the table has no mapping.  Both 'name' and 'id' modes
        # record delta.columnMapping.physicalName per field (protocol
        # requirement), so resolution is by physical name in both; 'id' mode
        # additionally requires the data files' parquet field-ids to agree
        # with columnMapping.id — verified against sampled footers at read
        # time (DeltaTable._verify_field_ids), refusing foreign-written
        # files whose ids point at differently-named columns.
        mode = (properties or {}).get("delta.columnMapping.mode", "none")
        self.mapping_mode = mode
        if mode in ("name", "id"):
            self.physical = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in schema.fields
            }
            self.column_ids = {
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                ): int((f.metadata or {}).get("delta.columnMapping.id"))
                for f in schema.fields
                if (f.metadata or {}).get("delta.columnMapping.id") is not None
            }
        elif mode in ("none", ""):
            self.physical = {f.name: f.name for f in schema.fields}
            self.column_ids = {}
        else:
            raise DeltaProtocolError(
                f"columnMapping mode {mode!r} not supported; "
                "refusing to read incorrectly"
            )

    def phys(self, logical: str) -> str:
        return self.physical[logical]

    @property
    def collated_columns(self) -> frozenset:
        """Top-level LOGICAL columns whose subtree carries Delta collation
        metadata (``__COLLATIONS`` StructField-metadata key; collations
        writer feature).  Their min/max string stats order by a collation
        this engine does not implement, so they are excluded from stats
        WRITING and from every stats-pruning comparison (keep-on-unknown —
        the exact residual filter preserves semantics).  Engine-side
        comparisons on such columns use binary order; the bytes returned
        by reads are identical to a collation-aware engine's."""
        got = getattr(self, "_collated", None)
        if got is None:
            got = frozenset(
                f.name
                for f in self.schema.fields
                if "__COLLATIONS" in (f.metadata or {})
                or _subtree_has_collations(f.dataType)
            )
            self._collated = got
        return got

    def physical_schema(self) -> StructType:
        """The on-disk schema: top-level names swapped to physicalName.
        Nested struct fields keep their physical names too — the read path
        restores logical names with a positional struct cast."""

        def rename(field):
            import copy

            f = copy.deepcopy(field)
            f.name = (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            f.dataType = rename_type(f.dataType)
            return f

        def rename_type(dt):
            from pyspark.sql.types import ArrayType, MapType

            if isinstance(dt, StructType):
                return StructType([rename(f) for f in dt.fields])
            if isinstance(dt, ArrayType):
                return ArrayType(rename_type(dt.elementType), dt.containsNull)
            if isinstance(dt, MapType):
                return MapType(
                    rename_type(dt.keyType),
                    rename_type(dt.valueType),
                    dt.valueContainsNull,
                )
            return dt

        return StructType([rename(f) for f in self.schema.fields])

    @property
    def num_files(self) -> int:
        return len(self.files)

    @property
    def size_bytes(self) -> int:
        return sum(int(a.get("size", 0) or 0) for a in self.files.values())


def _schema_has_variant(dt) -> bool:
    """True when the (nested) type tree contains Spark's VariantType."""
    from pyspark.sql.types import ArrayType, MapType

    try:
        from pyspark.sql.types import VariantType
    except ImportError:  # pre-4.0 Spark: variant cannot occur
        return False
    if isinstance(dt, VariantType):
        return True
    if isinstance(dt, StructType):
        return any(_schema_has_variant(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _schema_has_variant(dt.elementType)
    if isinstance(dt, MapType):
        return _schema_has_variant(dt.keyType) or _schema_has_variant(
            dt.valueType
        )
    return False


def _subtree_has_collations(dt) -> bool:
    """True when the type subtree contains a non-binary-collated string.
    Delta serializes collation as ``__COLLATIONS`` StructField metadata
    over a plain string type; pyspark 4.1's StructType.fromJson parses
    that INTO ``StringType(<collation>)`` (and re-emits the metadata on
    jsonValue), so detection goes by the type's collation attribute."""
    from pyspark.sql.types import ArrayType, MapType, StringType

    if isinstance(dt, StringType):
        return getattr(dt, "collation", "UTF8_BINARY") != "UTF8_BINARY"
    if isinstance(dt, StructType):
        return any(
            "__COLLATIONS" in (f.metadata or {})
            or _subtree_has_collations(f.dataType)
            for f in dt.fields
        )
    if isinstance(dt, ArrayType):
        return _subtree_has_collations(dt.elementType)
    if isinstance(dt, MapType):
        return _subtree_has_collations(dt.keyType) or _subtree_has_collations(
            dt.valueType
        )
    return False


def _with_parquet_field_ids(dt):
    """Copy of a datatype whose NESTED StructFields mirror
    ``delta.columnMapping.id`` into ``parquet.field.id`` metadata — Spark's
    parquet writer (SPARK-38094) emits field ids from that key at every
    nesting level, which id-mode readers and icebergCompatV2 require in
    staged files.  Types without mapping ids pass through unchanged."""
    from pyspark.sql.types import ArrayType, MapType, StructField

    if isinstance(dt, StructType):
        fields = []
        for f in dt.fields:
            md = dict(f.metadata or {})
            fid = md.get("delta.columnMapping.id")
            if fid is not None:
                md["parquet.field.id"] = int(fid)
            fields.append(
                StructField(
                    f.name, _with_parquet_field_ids(f.dataType), f.nullable, md
                )
            )
        return StructType(fields)
    if isinstance(dt, ArrayType):
        return ArrayType(
            _with_parquet_field_ids(dt.elementType), dt.containsNull
        )
    if isinstance(dt, MapType):
        return MapType(
            _with_parquet_field_ids(dt.keyType),
            _with_parquet_field_ids(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


import contextlib as _contextlib  # noqa: E402


#: session confs every staged parquet write runs under.  Variant columns
#: are written UNSHREDDED: Spark 4.1 shreds them by default (the variant
#: binary moves into typed_value subtrees, a JVM-scan pushdown the
#: pyarrow scan leg, deltapy, cannot reassemble), and both scan paths
#: must serve every file the engine writes; foreign shredded files refuse
#: with a typed diagnosis (pydatasource._SHREDDED_MSG).  Timestamps are
#: written as INT64 microseconds, not Spark's default INT96, because INT96
#: has no footer statistics (sources/footer_stats.py).
_STAGING_CONF = {
    "spark.sql.variant.writeShredding.enabled": "false",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}
_staging_lock = threading.Lock()
#: id(session) -> [writers inside the scope, the confs it replaced]
_staging_users: dict[int, list] = {}


@_contextlib.contextmanager
def _staging_write_conf(spark):
    """Run a staged parquet write under ``_STAGING_CONF``.  The confs are
    session-wide, so concurrent writers on one session share one scope:
    the first to enter sets them, the last to leave restores the old
    values.  A key this Spark build does not know is left alone."""
    key = id(spark)
    with _staging_lock:
        users = _staging_users.setdefault(key, [0, {}])
        if users[0] == 0:
            for k, v in _STAGING_CONF.items():
                try:
                    users[1][k] = spark.conf.get(k)
                except Exception:
                    continue
                spark.conf.set(k, v)
        users[0] += 1
    try:
        yield
    finally:
        with _staging_lock:
            users[0] -= 1
            if users[0] == 0:
                del _staging_users[key]
                for k, old in users[1].items():
                    spark.conf.set(k, old)


def clustering_columns(snap: DeltaSnapshot) -> list[str]:
    """LOGICAL clustering columns of a clustered (liquid-clustering)
    table, from the ``delta.clustering`` domainMetadata.  The domain's
    configuration stores clusteringColumns as PHYSICAL name paths (per
    the protocol); top-level parts map back to logical names through the
    snapshot's column mapping (identity when the table has none).
    Returns [] for non-clustered tables or unparseable configurations
    (clustering is best-effort — never a read blocker)."""
    cfg = snap.domains.get("delta.clustering")
    if not cfg:
        return []
    try:
        data = json.loads(cfg)
    except (TypeError, ValueError):
        return []
    inv = {ph: lg for lg, ph in snap.physical.items()}
    out: list[str] = []
    for p in data.get("clusteringColumns") or []:
        parts = list(p) if isinstance(p, (list, tuple)) else [p]
        if not parts:
            continue
        out.append(".".join([inv.get(parts[0], parts[0]), *parts[1:]]))
    return out


class DeltaTable:
    """Read-only handle on a Delta Lake table directory.

    Supports: ``read`` (latest / by version / by timestamp), ``history``,
    ``detail``, ``schema``, ``versions``.  Writes go through the engine's own
    ACID layer — converting is a read + ``AcidTable.create``/``append``.

    ``spark`` may be ``None`` for **metadata-only** use (log replay,
    ``snapshot``/``versions``/``history``/``schema``): the Python Data
    Source API (sources/pydatasource.py) plans scans inside a sparkless
    Python worker, so everything the planner touches — commit JSON reads,
    checkpoint parquet reads, DV sidecar loads — falls back to plain
    ``open``/pyarrow when no session is attached.  DataFrame-producing
    and writing methods require a live session and raise otherwise.
    """

    def __init__(self, spark: SparkSession | None, location: str):
        self.spark = spark
        self.location = location.rstrip("/")
        self.log_dir = f"{self.location}/_delta_log"
        self.fs = FileSystem(spark, self.location)
        self._log_names = self._list_log()
        if not self._log_names:
            raise FileNotFoundError(f"no _delta_log at {self.location}")
        self._idmode_verified: set[int] = set()
        # committed versions are immutable, so a replayed snapshot never
        # changes: memoize the last few (delta-spark caches snapshots the
        # same way).  No invalidation needed on writes — a commit only adds
        # NEW versions, and callers never mutate a snapshot's dicts
        # (writer paths copy before editing).
        self._snap_cache: dict[int, DeltaSnapshot] = {}

    # ------------------------------------------------------------- listing
    def _list_log(self) -> list[str]:
        if is_local(self.log_dir):
            base = strip_scheme(self.log_dir)
            if not os.path.isdir(base):
                return []
            return sorted(os.listdir(base))
        if self.spark is None:
            import pyarrow.fs as pafs

            fs, norm = pa_fs(self.log_dir)
            sel = pafs.FileSelector(norm, allow_not_found=True)
            return sorted(
                info.path.rsplit("/", 1)[-1]
                for info in fs.get_file_info(sel)
                if info.type == pafs.FileType.File
            )
        return sorted(
            p.rsplit("/", 1)[-1] for p in self.fs.list_files(self.log_dir)
        )

    def versions(self) -> list[int]:
        return sorted(
            int(m.group(1)) for n in self._log_names if (m := _COMMIT_RE.match(n))
        )

    def latest_version(self) -> int:
        vs = self.versions()
        if vs:
            return vs[-1]
        # log cleanup may have removed every JSON at-or-before a checkpoint
        ck = self._last_checkpoint()
        if ck is not None:
            return ck[0]
        raise FileNotFoundError(f"no commit json in {self.log_dir}")

    # --------------------------------------------------------- raw actions
    def _read_text(self, name: str) -> str:
        path = f"{self.log_dir}/{name}"
        if is_local(path):
            with open(strip_scheme(path), encoding="utf-8") as f:
                return f.read()
        if self.spark is None:
            fs, norm = pa_fs(path)
            with fs.open_input_stream(norm) as stream:
                return stream.read().decode("utf-8")
        # small control file: route through the JVM FS
        jvm = self.spark._jvm
        fs, jpath = self.fs._jfs(path)
        stream = fs.open(jpath)
        try:
            out = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            ).decode("utf-8")
        finally:
            stream.close()
        return out

    def _commit_actions(self, version: int) -> list[dict]:
        text = self._read_text(f"{version:020d}.json")
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def _last_checkpoint(self) -> tuple[int, list[str], str] | None:
        """Return (version, file names, kind) of the newest usable
        checkpoint at-or-before which replay may start.  Kind is one of
        ``classic`` (single or multi-part ``.parquet``), ``v2-parquet`` or
        ``v2-json`` (UUID-named manifest + sidecars)."""
        by_version: dict[int, dict[str, list[str]]] = {}
        for n in self._log_names:
            if _CHECKPOINT_RE.match(n):
                v = int(_CHECKPOINT_RE.match(n).group(1))
                by_version.setdefault(v, {}).setdefault("classic", []).append(n)
            elif _V2_CHECKPOINT_RE.match(n):
                v = int(_V2_CHECKPOINT_RE.match(n).group(1))
                by_version.setdefault(v, {}).setdefault("v2", []).append(n)
        if not by_version:
            return None
        v = max(by_version)
        kinds = by_version[v]
        if "classic" in kinds:
            parts = sorted(kinds["classic"])
            multi = [n for n in parts if _CHECKPOINT_RE.match(n).group(2)]
            if not multi:
                return v, parts, "classic"
            want = int(multi[0].rsplit(".", 2)[-2])
            if len(multi) == want:
                return v, multi, "classic"
            # incomplete multi-part set: fall through to a v2 manifest at
            # the same version if one exists, else no usable checkpoint
        if "v2" in kinds:
            name = sorted(kinds["v2"])[0]  # any complete manifest is valid
            kind = "v2-json" if name.endswith(".json") else "v2-parquet"
            return v, [name], kind
        return None

    def _parquet_rows(self, paths: list[str], wanted: tuple[str, ...]) -> list[dict]:
        """Checkpoint-parquet rows as plain nested dicts, restricted to the
        ``wanted`` top-level action columns.  With a session, reads through
        Spark; sparkless (Python Data Source planning worker), reads through
        pyarrow — normalizing arrow map values (list-of-pairs) back to dicts
        so both paths hand replay identical shapes."""
        if self.spark is not None:
            df = self.spark.read.parquet(*paths)
            cols = [c for c in wanted if c in df.columns]
            return [r.asDict(recursive=True) for r in df.select(*cols).collect()]
        import pyarrow.parquet as pq

        out: list[dict] = []
        for p in paths:
            fs, norm = pa_fs(p)
            t = pq.read_table(norm, filesystem=fs)
            cols = [c for c in wanted if c in t.schema.names]
            t = t.select(cols)
            maps = _map_field_paths(t.schema)
            for row in t.to_pylist():
                out.append(_demapped(row, maps) if maps else row)
        return out

    def _checkpoint_actions(self, parts: list[str], kind: str) -> list[dict]:
        """Flatten one checkpoint (any kind) into a list of action dicts.
        v2 manifests contribute their own actions plus every referenced
        sidecar's add/remove rows."""
        wanted = (
            "add", "remove", "metaData", "protocol", "txn", "domainMetadata",
        )
        if kind == "classic":
            paths = [f"{self.log_dir}/{n}" for n in parts]
            return self._parquet_rows(paths, wanted)
        name = parts[0]
        if kind == "v2-json":
            actions = [
                json.loads(line)
                for line in self._read_text(name).splitlines()
                if line.strip()
            ]
        else:
            actions = self._parquet_rows(
                [f"{self.log_dir}/{name}"], (*wanted, "sidecar")
            )
        out = list(actions)
        for a in actions:
            sc = a.get("sidecar")
            if not sc or not sc.get("path"):
                continue
            p = sc["path"]
            if "://" not in p and not p.startswith("/"):
                p = f"{self.log_dir}/_sidecars/{p}"
            out.extend(self._parquet_rows([p], ("add", "remove")))
        return out

    # ------------------------------------------------------------ snapshot
    def snapshot(self, version: int | None = None) -> DeltaSnapshot:
        latest = self.latest_version()
        if version is None:
            version = latest
        if version < 0 or version > latest:
            raise ValueError(f"version {version} out of range 0..{latest}")
        cached = self._snap_cache.get(version)
        if cached is not None:
            return cached

        files: dict[str, dict] = {}
        schema: StructType | None = None
        part_cols: list[str] = []
        props: dict[str, str] = {}
        meta_id: str | None = None
        name: str | None = None
        proto: dict | None = None
        txns: dict[str, dict] = {}
        domains: dict[str, str] = {}
        start = 0

        def _apply_domain(dm: dict) -> None:
            # latest action per domain wins; removed=true is a tombstone
            if not dm or not dm.get("domain"):
                return
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration") or ""

        ckpt = self._last_checkpoint()
        if ckpt is not None and ckpt[0] <= version:
            ckpt_version, parts, kind = ckpt
            for d in self._checkpoint_actions(parts, kind):
                if d.get("protocol"):
                    self._check_protocol(d["protocol"])
                    proto = dict(d["protocol"])
                if d.get("metaData"):
                    schema, part_cols, props, meta_id, name = self._apply_meta(
                        d["metaData"]
                    )
                if d.get("txn") and d["txn"].get("appId"):
                    txns[d["txn"]["appId"]] = dict(d["txn"])
                if d.get("domainMetadata"):
                    _apply_domain(d["domainMetadata"])
                if d.get("add"):
                    a = d["add"]
                    files[a["path"]] = a
                if d.get("remove"):
                    files.pop(d["remove"]["path"], None)
            start = ckpt_version + 1

        for v in range(start, version + 1):
            actions = self._commit_actions(v)
            for action in actions:
                if "protocol" in action:
                    self._check_protocol(action["protocol"])
                    proto = dict(action["protocol"])
                elif "metaData" in action:
                    schema, part_cols, props, meta_id, name = self._apply_meta(
                        action["metaData"]
                    )
                elif "txn" in action and (action["txn"] or {}).get("appId"):
                    txns[action["txn"]["appId"]] = dict(action["txn"])
                elif "domainMetadata" in action:
                    _apply_domain(action["domainMetadata"])
            # removes before adds: a commit is atomic, and a DV-rewriting
            # DELETE emits remove(path, old DV) + add(path, new DV) for the
            # SAME path — path-keyed replay is only order-independent if
            # the commit's removes never clobber its adds
            for action in actions:
                if "remove" in action:
                    files.pop(action["remove"]["path"], None)
            for action in actions:
                if "add" in action:
                    a = action["add"]
                    files[a["path"]] = a

        if schema is None:
            raise DeltaProtocolError(
                f"no metaData action found replaying {self.location} to v{version}"
            )
        snap = DeltaSnapshot(
            version, schema, part_cols, files, props, meta_id, name, proto,
            txns, domains,
        )
        self._snap_cache[version] = snap
        while len(self._snap_cache) > 4:  # bound memory: keep the newest few
            self._snap_cache.pop(next(iter(self._snap_cache)))
        if version == latest:
            # stash the table's checkpoint cadence for the commit hook
            # (delta-spark honors delta.checkpointInterval the same way)
            try:
                self._ckpt_interval = int(
                    props.get("delta.checkpointInterval",
                              self.CHECKPOINT_INTERVAL)
                )
            except (TypeError, ValueError):
                self._ckpt_interval = self.CHECKPOINT_INTERVAL
        return snap

    @staticmethod
    def _check_protocol(p: dict) -> None:
        reader = int(p.get("minReaderVersion", 1))
        if reader <= 2:
            return
        feats = set(p.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise DeltaProtocolError(
                f"table requires reader features {sorted(unsupported)} "
                f"(minReaderVersion={reader}); refusing to read incorrectly"
            )

    @staticmethod
    def _apply_meta(meta: dict):
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = list(meta.get("partitionColumns") or [])
        props = dict(meta.get("configuration") or {})
        return schema, part_cols, props, meta.get("id"), meta.get("name")

    # ---------------------------------------------------------- time travel
    def version_for_timestamp(self, ts: str) -> int:
        """Latest version committed at-or-before ``ts`` (ISO string).

        Uses commitInfo timestamps when present, falling back to the commit
        file's modification time — same resolution rule as Delta's own
        ``timestampAsOf``."""
        import datetime as _dt

        target = _dt.datetime.fromisoformat(ts)
        if target.tzinfo is None:
            target = target.replace(tzinfo=_dt.timezone.utc)
        best = None
        for v in self.versions():
            t_ms = self._commit_ts_ms(v)
            if t_ms is None:
                continue
            t = _dt.datetime.fromtimestamp(t_ms / 1000.0, tz=_dt.timezone.utc)
            if t <= target:
                best = v
        if best is None:
            raise ValueError(f"no commit at or before {ts}")
        return best

    def first_version_at_or_after(self, ts: str) -> int:
        """Earliest version whose commit timestamp is at-or-after ``ts`` —
        delta-spark's ``startingTimestamp`` resolution rule for CDF reads
        and streams (the mirror of ``version_for_timestamp``'s
        at-or-before ``timestampAsOf`` rule)."""
        import datetime as _dt

        target = _dt.datetime.fromisoformat(ts)
        if target.tzinfo is None:
            target = target.replace(tzinfo=_dt.timezone.utc)
        for v in self.versions():
            t_ms = self._commit_ts_ms(v)
            if t_ms is None:
                continue
            t = _dt.datetime.fromtimestamp(t_ms / 1000.0, tz=_dt.timezone.utc)
            if t >= target:
                return v
        raise ValueError(f"no commit at or after {ts}")

    def _commit_ts_ms(
        self, version: int, actions: list[dict] | None = None
    ) -> int | None:
        """Commit time in ms: ``inCommitTimestamp``, else
        ``commitInfo.timestamp``, else the commit file's mtime.  Pass the
        already-parsed ``actions`` to skip re-reading the commit."""
        if actions is None:
            actions = self._commit_actions(version)
        for action in actions:
            info = action.get("commitInfo")
            if info and "inCommitTimestamp" in info:
                # inCommitTimestamp feature: the writer-recorded monotonic
                # commit time is authoritative (survives file copies/
                # migrations that rewrite mtimes and commitInfo.timestamp
                # drift); per the spec it takes precedence when present
                return int(info["inCommitTimestamp"])
            if info and "timestamp" in info:
                return int(info["timestamp"])
        path = f"{self.log_dir}/{version:020d}.json"
        if is_local(path):
            return int(os.path.getmtime(strip_scheme(path)) * 1000)
        if self.spark is None:
            fs, norm = pa_fs(path)
            mtime = fs.get_file_info(norm).mtime
            return int(mtime.timestamp() * 1000)
        fs, jpath = self.fs._jfs(path)
        return int(fs.getFileStatus(jpath).getModificationTime())

    # ---------------------------------------------------------------- reads
    def read(
        self, version: int | None = None, timestamp: str | None = None
    ) -> DataFrame:
        if self.spark is None:
            raise RuntimeError(
                "DeltaTable opened sparkless (metadata-only); use "
                "spark.read.format('deltapy') for sparkless scans"
            )
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        if timestamp is not None:
            version = self.version_for_timestamp(timestamp)
        ver = version if version is not None else self.latest_version()
        if ver not in self._snap_cache and self._distributed_prune_auto(ver):
            # big-log regime: build the scan through the checkpoint-as-data
            # path (empty ranges = no pruning) — the driver collects slim
            # (path, partitionValues, dv) rows instead of replaying every
            # add action's full payload into Python dicts
            out = self._read_where_distributed({}, ver)
            if out is not None:
                return out
        return self._read_snapshot(self.snapshot(version))

    def read_row_ids(self, version: int | None = None) -> DataFrame:
        """Logical columns + ``_row_id`` / ``_row_commit_version`` — the
        row-tracking read semantics (PROTOCOL.md): each row's id is
        coalesce(materialized row-id column, add.baseRowId + row_index),
        its commit version coalesce(materialized, add.default
        RowCommitVersion).  Requires ``delta.enableRowTracking=true``
        (ids are unstable otherwise)."""
        snap = self.snapshot(version)
        if not self._rt_enabled(snap):
            raise DeltaProtocolError(
                "read_row_ids requires delta.enableRowTracking=true "
                "(row ids are unstable while the property is off)"
            )
        return (
            self._read_with_pos(snap)
            .drop("__fp", "__ri")
            .withColumnRenamed("__rid", "_row_id")
            .withColumnRenamed("__rcv", "_row_commit_version")
        )

    def _read_snapshot(self, snap: DeltaSnapshot) -> DataFrame:
        # all on-disk structure (file schema, partition dirs, partitionValues
        # keys) speaks PHYSICAL names; logical names are restored at the end
        # with a positional struct cast (identity when no mapping)
        if snap.mapping_mode == "id":
            self._verify_field_ids(snap)
        df = self._scan_files(snap, snap.files, snap.physical_schema())
        return df.select(*self._logical_cols(snap))

    @staticmethod
    def _logical_cols(snap: DeltaSnapshot) -> list:
        """The snapshot's logical columns, selected from physical ones."""
        return [
            F.col(snap.phys(f.name)).cast(f.dataType).alias(f.name)
            for f in snap.schema.fields
        ]

    def _scan_files(
        self,
        snap: DeltaSnapshot,
        entries: dict[str, dict],
        schema: StructType,
        base: str = "",
        dv_map: dict[str, object] | None = None,
        keep_member: bool = False,
        pos: bool = False,
    ) -> DataFrame:
        """One parquet scan over log file entries ({log path: add/remove/cdc
        action}).  ``schema`` is the PHYSICAL read schema, partition columns
        included; the frame keeps physical names.  The entries' deletion
        vectors drop their rows, or, given ``dv_map`` and ``keep_member``,
        exactly that map's bitmap rows are kept.  ``pos`` adds ``__fp``/
        ``__ri`` (``_metadata`` file path and row index), taken before any
        union, which ``_metadata`` does not survive.

        When every file sits under ``<table>/<base>/`` in directories that
        encode its partitionValues, one partition-discovery scan serves them
        all (partition filters prune it).  Otherwise (non-Hive layouts,
        shallow-cloned external files, unpartitioned tables) each distinct
        partitionValues tuple gets one scan with the values stamped in as
        literals, and the scans are unioned."""
        parts = [snap.phys(c) for c in snap.partition_columns]
        if dv_map is None:
            dv_map = self._dv_map(entries)

        def scan(reader, paths: list[str]) -> DataFrame:
            df = self._dv_filter(reader.parquet(*paths), dv_map, keep_member)
            if pos:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias("__fp"),
                    F.col("_metadata.row_index").alias("__ri"),
                )
            return df

        if parts and self._hive_layout(entries, parts, base):
            # the FULL schema (partition fields included, with their true
            # types) is passed so discovery never runs type inference — a
            # string partition value like '0123' or '1.10' would otherwise
            # be inferred numeric and silently reformatted
            reader = self.spark.read.schema(schema).option(
                "basePath", f"{self.location}/{base}" if base else self.location
            )
            return scan(reader, [self._abs(p) for p in entries])
        data_schema = StructType([f for f in schema.fields if f.name not in parts])
        # no entries: one empty scan
        groups: dict[tuple, list[str]] = {} if entries else {(): []}
        for p, a in entries.items():
            key = tuple((a.get("partitionValues") or {}).get(c) for c in parts)
            groups.setdefault(key, []).append(self._abs(p))
        out = None
        for key, paths in groups.items():
            df = scan(self.spark.read.schema(data_schema), paths).withColumns(
                {
                    snap.phys(c): F.lit(raw).cast(snap.schema[c].dataType)
                    for c, raw in zip(snap.partition_columns, key)
                }
            )
            out = df if out is None else out.unionByName(df)
        return out

    # ----------------------------------------------- column mapping (id mode)
    def _verify_field_ids(self, snap: DeltaSnapshot) -> None:
        """id-mode read guard.  In ``columnMapping.mode = 'id'`` the
        authoritative column resolution is the parquet field-id, not the
        name; delta-spark writers emit files whose field-ids AND physical
        names both agree with the table metadata, which lets us resolve by
        ``columnMapping.physicalName`` exactly as in name mode — but a
        foreign-written file (e.g. an Iceberg convert) may carry matching
        ids under different physical names, which name resolution would
        silently misread.  So before the first read of an id-mode snapshot
        we verify EVERY referenced data-file footer — distributed over the
        executors via pyarrow for large tables, driver-side via the Hadoop
        parquet reader for small ones or filesystems pyarrow can't open —
        and refuse loudly unless each file's field-ids are consistent with
        the physicalName mapping."""
        if snap.version in self._idmode_verified:
            return
        self._verify_footer_paths(sorted(snap.files), snap)
        self._idmode_verified.add(snap.version)

    def _verify_footers_distributed(
        self, paths: list[str], expect: dict[str, int]
    ) -> list[str]:
        """Executor-side id-mode footer verification: one pyarrow
        ``read_schema`` per file, fanned out as an RDD of paths (a rare
        justified RDD — per-file imperative metadata reads, no dataframe
        semantics).  Raises on the first inconsistent footer; returns the
        subset of paths whose filesystem pyarrow could not open, which the
        caller re-verifies driver-side via the Hadoop reader — so every
        referenced file is checked regardless of scheme."""
        pairs = sorted((p, self._abs(p)) for p in paths)
        expect_items = sorted(expect.items())

        def check(pair):
            rel, apath = pair
            local = apath
            if local.startswith("file:"):
                from urllib.parse import unquote as _uq, urlparse

                local = _uq(urlparse(local).path)
            try:
                import pyarrow.parquet as pq

                sch = pq.read_schema(local)
            except Exception:
                return ("open", rel, None)
            by_id: dict[int, str] = {}
            by_name: dict[str, int | None] = {}
            for f in sch:
                meta = f.metadata or {}
                fid = meta.get(b"PARQUET:field_id")
                fid = int(fid) if fid is not None else None
                by_name[f.name] = fid
                if fid is not None:
                    by_id[fid] = f.name
            if not by_id:
                return (
                    "err",
                    rel,
                    "carries no parquet field-ids; id-based resolution "
                    "is impossible",
                )
            for phys, want in expect_items:
                got = by_id.get(want)
                if got is not None and got != phys:
                    return (
                        "err",
                        rel,
                        f"stores field id {want} as {got!r} but table "
                        f"metadata names it {phys!r}; physical-name "
                        "resolution would misread",
                    )
                if phys in by_name and by_name[phys] != want:
                    return (
                        "err",
                        rel,
                        f"has a column named {phys!r} with field id "
                        f"{by_name[phys]!r}, but table metadata assigns "
                        f"it id {want}; name-resolution would misread",
                    )
            return ("ok", rel, None)

        sc = self.spark.sparkContext
        results = sc.parallelize(pairs, min(len(pairs), 256)).map(check).collect()
        for status, rel, msg in results:
            if status == "err":
                raise DeltaProtocolError(
                    f"columnMapping id mode: data file {rel} {msg} — refusing"
                )
        return [rel for status, rel, _ in results if status == "open"]

    def _verify_footer_paths(self, paths: list[str], snap: DeltaSnapshot) -> None:
        """Core of the id-mode guard over an explicit path list (the
        snapshot's live files for reads; every referenced add/remove/cdc
        file for CDF, which serves files no longer in the end snapshot).
        Checks BOTH directions per sampled footer: the expected field-id
        must not live under a different name (id-resolution disagrees), and
        the expected physical name must not carry a different id or none
        (name-resolution unverifiable).  A file missing the column entirely
        is legal (written before the column existed — reads as null in both
        resolutions).  EVERY path is verified: >16 files go through a
        distributed pyarrow footer sweep (executor-side, O(files/cores)
        wall — footer reads are tiny next to the scan itself); paths whose
        scheme pyarrow can't open fall back to the driver-side Hadoop
        reader so no file escapes the guard."""
        phys_parts = {snap.phys(c) for c in snap.partition_columns}
        expect = {
            p: i for p, i in snap.column_ids.items() if p not in phys_parts
        }
        if not expect:
            raise DeltaProtocolError(
                "columnMapping id mode requires delta.columnMapping.id on "
                "every field; metadata carries none — refusing to read"
            )
        sample = list(paths)
        if len(sample) > 16:
            sample = self._verify_footers_distributed(sample, expect)
            if not sample:
                return
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        for p in sample:
            jpath = jvm.org.apache.hadoop.fs.Path(self._abs(p))
            infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jpath, hconf
            )
            reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
            try:
                ms = reader.getFooter().getFileMetaData().getSchema()
                by_id: dict[int, str] = {}
                by_name: dict[str, int | None] = {}
                for i in range(ms.getFieldCount()):
                    f = ms.getType(i)
                    fid = f.getId()
                    by_name[f.getName()] = (
                        int(fid.intValue()) if fid is not None else None
                    )
                    if fid is not None:
                        by_id[int(fid.intValue())] = f.getName()
            finally:
                reader.close()
            if not by_id:
                raise DeltaProtocolError(
                    f"columnMapping id mode: data file {p} carries no "
                    "parquet field-ids; id-based resolution is impossible "
                    "— refusing to read incorrectly"
                )
            for phys, want in expect.items():
                got = by_id.get(want)
                if got is not None and got != phys:
                    raise DeltaProtocolError(
                        f"columnMapping id mode: data file {p} stores field "
                        f"id {want} as {got!r} but table metadata names it "
                        f"{phys!r}; physical-name resolution would misread "
                        "— refusing"
                    )
                if phys in by_name and by_name[phys] != want:
                    raise DeltaProtocolError(
                        f"columnMapping id mode: data file {p} has a column "
                        f"named {phys!r} with field id {by_name[phys]!r}, "
                        f"but table metadata assigns it id {want}; "
                        "name-resolution would misread — refusing"
                    )

    # -------------------------------------------------------------- writing
    #: Writer features we can honor (or that require nothing of an
    #: append/overwrite writer).  Everything else refuses loudly — writing
    #: into a table whose invariants we'd silently skip corrupts it.
    _SUPPORTED_WRITER_FEATURES = {
        "appendOnly",  # honored: data-changing rewrites refuse
        "invariants",  # honored: delta.invariants enforced on staged writes
        "checkConstraints",  # honored: delta.constraints.* enforced on writes
        "timestampNtz",
        "typeWidening",
        "typeWidening-preview",
        "deletionVectors",  # appends never touch existing files' DVs
        "v2Checkpoint",
        "vacuumProtocolCheck",
        "columnMapping",  # writes use physical names (+ field ids, id mode)
        "changeDataFeed",  # DML commits write protocol _change_data files
        "generatedColumns",  # honored: computed when absent, verified when
        # provided (null-safe equality against the generation expression)
        "identityColumns",  # honored: assigned on append/overwrite with
        # high-water-mark bookkeeping; GENERATED ALWAYS rejects explicit
        # values; UPDATE assignment and MERGE (always-explicit) refuse
        "inCommitTimestamp",  # honored: strictly monotonic commitInfo
        # timestamps stamped on every commit when the property enables it
        "domainMetadata",  # honored: domains replay through snapshots and
        # ride into every checkpoint; our commits never drop or alter a
        # domain we don't own
        "clustering",  # honored: appends never violate clustering (it is
        # best-effort, established by OPTIMIZE); optimize() clusters by
        # the delta.clustering domain's clusteringColumns via Z-order
        "variantType",  # honored: staged writes go through Spark's own
        # parquet variant encoding; stats skip variant columns
        "variantType-preview",
        "icebergCompatV2",  # honored when delta.enableIcebergCompatV2:
        # column mapping is required (writes refuse without it), parquet
        # field ids are stamped into every staged file incl. nested
        # fields (_with_parquet_field_ids), and deletion vectors are
        # refused — enabling either while the other is on is a typed
        # error (the spec forbids the combination)
        "collations",  # honored: __COLLATIONS field metadata is preserved
        # verbatim through every metaData re-commit (schemaString comes
        # from snap.schema.jsonValue()); collated columns are excluded
        # from stats writing AND from all stats-pruning comparisons
        # (snapshot.collated_columns) so binary-vs-collated order can
        # never mis-skip; returned bytes are identical to delta-spark's
        "collations-preview",  # pre-GA feature name, same mechanism
        "checkpointProtection",  # honored: cleanup_log never truncates
        # log entries below delta.requireCheckpointProtectionBeforeVersion
        # unless the retained checkpoint sits at/past the boundary AND the
        # whole protected prefix goes in one sweep (the spec's only writer
        # obligation — the engine creates no other cleanup path); all
        # other commits are unaffected by the feature
        "rowTracking",  # honored: every commit assigns baseRowId /
        # defaultRowCommitVersion to fresh adds and advances the
        # delta.rowTracking rowIdHighWaterMark domain (_try_commit);
        # re-added files (DV masks, RESTORE) keep their ids; rewrite ops
        # (UPDATE/MERGE/OPTIMIZE/copy-on-write DELETE) preserve surviving
        # rows' ids by materializing them into the rewritten files'
        # delta.rowTracking.materialized*ColumnName columns (delta-spark's
        # preservation rules; see _rt_with_current_ids/_stage_files)
    }

    def _check_writer_protocol(self, snap: DeltaSnapshot) -> None:
        """Feature-level write gate (applies to EVERY mutating operation,
        including vacuum — deleting files under a table whose commits may
        live outside `_delta_log` would corrupt it)."""
        proto = snap.protocol
        writer = int(proto.get("minWriterVersion", 2))
        if writer >= 7:
            feats = set(proto.get("writerFeatures") or [])
            unsupported = feats - self._SUPPORTED_WRITER_FEATURES
            if unsupported:
                raise DeltaProtocolError(
                    f"table requires writer features {sorted(unsupported)}; "
                    "refusing to write incorrectly"
                )

    def _check_writable(self, snap: DeltaSnapshot, op: str) -> None:
        """Data-write gate: protocol features, plus the blockers DECLARED
        in metadata (legacy writer versions ≤6 bundle capabilities, so the
        declarations are what actually matter): identity columns we don't
        assign, and appendOnly for operations that change or remove
        existing rows.  CHECK constraints, column invariants, and
        generated columns are NOT blockers — every staged write enforces
        them (see ``_enforce_staged_constraints``; generated columns are
        computed when absent and verified when provided); a violating row
        raises a typed error before anything commits.  Invariant
        expressions are parsed here so an unparseable declaration refuses
        up front."""
        self._check_writer_protocol(snap)
        self._constraint_exprs(snap)  # unparseable invariants refuse early
        if op == "merge" and any(
            not cfg["explicit"] for _, cfg in self._identity_fields(snap)
        ):
            # MERGE requires source schema == table schema, so identity
            # values always arrive explicitly — GENERATED ALWAYS forbids
            raise DeltaProtocolError(
                "MERGE into a table with a GENERATED ALWAYS identity "
                "column would take the source's explicit values — refusing"
            )
        if op in ("overwrite", "delete", "update", "merge", "restore") and (
            str(snap.properties.get("delta.appendOnly", "")).lower() == "true"
        ):
            raise DeltaProtocolError(
                f"delta.appendOnly table: {op} would change existing rows"
            )
        if self._iceberg_compat(snap) and snap.mapping_mode not in (
            "name",
            "id",
        ):
            # icebergCompatV2 requires column mapping (field ids in every
            # file); a table declaring it without mapping is malformed
            raise DeltaProtocolError(
                "icebergCompatV2 table without column mapping — the spec "
                "requires delta.columnMapping.mode name|id; refusing to "
                "write"
            )
        # row tracking no longer gates rewrite ops: UPDATE/MERGE/OPTIMIZE/
        # copy-on-write DELETE preserve surviving rows' ids by
        # materializing them into the rewritten files (see
        # _rt_with_current_ids / _stage_files rt_cols)

    def _constraint_exprs(
        self, snap: DeltaSnapshot
    ) -> list[tuple[str, str, bool]]:
        """(name, SQL expression, null_violates) for every table CHECK
        constraint (``delta.constraints.<name>`` property; NULL result
        passes, SQL-standard CHECK semantics — delta-spark's
        Constraints.Check agrees) and legacy column invariant
        (``delta.invariants`` field metadata, JSON
        ``{"expression": {"expression": "<sql>"}}``; NULL result VIOLATES,
        matching delta-spark's CheckDeltaInvariant)."""
        out: list[tuple[str, str, bool]] = []
        for k, v in sorted(snap.properties.items()):
            if k.startswith("delta.constraints."):
                out.append((k[len("delta.constraints."):], str(v), False))
        for f in snap.schema.fields:
            inv = (f.metadata or {}).get("delta.invariants")
            if not inv:
                continue
            try:
                expr = json.loads(inv)["expression"]["expression"]
            except Exception:
                raise DeltaProtocolError(
                    f"column {f.name!r} declares an unparseable "
                    f"delta.invariants payload {inv!r} — refusing to write"
                )
            out.append((f"invariant({f.name})", expr, True))
        for f in snap.schema.fields:
            gen = (f.metadata or {}).get("delta.generationExpression")
            if gen:
                # provided values must equal the generation expression
                # (delta-spark adds the same <=> constraint); computed-when-
                # absent values satisfy it by construction.  Null-safe
                # equality never yields NULL, so null_violates is moot.
                out.append(
                    (f"generated({f.name})", f"{f.name} <=> ({gen})", False)
                )
        return out

    def _identity_fields(self, snap: DeltaSnapshot) -> list[tuple]:
        """(field, {start, step, hwm, explicit}) for every
        ``delta.identity.*`` column."""
        out = []
        for f in snap.schema.fields:
            meta = f.metadata or {}
            if not any(k.startswith("delta.identity.") for k in meta):
                continue
            step = int(meta.get("delta.identity.step", 1))
            if step == 0:
                raise DeltaProtocolError(
                    f"identity column {f.name!r} declares step 0"
                )
            hwm = meta.get("delta.identity.highWaterMark")
            out.append(
                (
                    f,
                    {
                        "start": int(meta.get("delta.identity.start", 1)),
                        "step": step,
                        "hwm": int(hwm) if hwm is not None else None,
                        "explicit": bool(
                            meta.get("delta.identity.allowExplicitInsert", False)
                        ),
                    },
                )
            )
        return out

    def _identity_meta_action(
        self, snap: DeltaSnapshot, new_hwm: dict[str, int]
    ) -> dict:
        """metaData action re-declaring the schema with updated
        ``delta.identity.highWaterMark`` values (the spec's bookkeeping for
        identity allocation — the commit that consumes values must also
        raise the mark)."""
        schema_json = snap.schema.jsonValue()
        for fld in schema_json["fields"]:
            if fld["name"] in new_hwm:
                md = dict(fld.get("metadata") or {})
                md["delta.identity.highWaterMark"] = int(new_hwm[fld["name"]])
                fld["metadata"] = md
        return {
            "id": snap.metadata_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema_json),
            "partitionColumns": list(snap.partition_columns),
            "configuration": dict(snap.properties),
        }

    def _with_identity(
        self, df: DataFrame, snap: DeltaSnapshot
    ) -> tuple[DataFrame, dict | None]:
        """Assign ABSENT identity columns (GENERATED ALWAYS semantics:
        providing values refuses unless ``allowExplicitInsert``) and return
        (df, metaData action bumping the high-water marks | None).

        Assignment is distributed: the frame's partitioning is pinned with
        localCheckpoint, per-partition row counts come back to the driver
        (O(partitions) bytes), and each row gets
        ``base + (partition_offset + row_number) * step`` — contiguous,
        step-aligned, no single-partition window, no driver data."""
        idents = self._identity_fields(snap)
        if not idents:
            return df, None
        new_hwm: dict[str, int] = {}
        for f, cfg in idents:
            start, step = cfg["start"], cfg["step"]
            base = start if cfg["hwm"] is None else cfg["hwm"] + step
            if f.name in df.columns:
                if not cfg["explicit"]:
                    raise DeltaProtocolError(
                        f"identity column {f.name!r} is GENERATED ALWAYS "
                        "(allowExplicitInsert is false) — remove it from "
                        "the incoming data"
                    )
                agg = F.max(f.name) if step > 0 else F.min(f.name)
                mx = df.agg(agg).collect()[0][0]
                if mx is not None:
                    # smallest on-grid value >= (in step direction) mx
                    k = max(0, -((start - int(mx)) // step))
                    candidate = start + k * step
                    if cfg["hwm"] is None or (
                        (candidate - cfg["hwm"]) * (1 if step > 0 else -1) > 0
                    ):
                        new_hwm[f.name] = candidate
                continue
            tagged = df.withColumn(
                "__pid", F.spark_partition_id()
            ).localCheckpoint()
            counts = dict(
                (r["__pid"], r["n"])
                for r in tagged.groupBy("__pid")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            total = sum(counts.values())
            if total == 0:
                df = tagged.drop("__pid").withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
                continue
            offsets: dict[int, int] = {}
            acc = 0
            for pid in sorted(counts):
                offsets[pid] = acc
                acc += counts[pid]
            off_map = F.create_map(
                *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
            )
            w = Window.partitionBy("__pid").orderBy(
                F.monotonically_increasing_id()
            )
            df = (
                tagged.withColumn("__rn", F.row_number().over(w) - 1)
                .withColumn(
                    f.name,
                    (
                        F.lit(base)
                        + (F.col("__rn") + off_map[F.col("__pid")])
                        * F.lit(step)
                    ).cast(f.dataType),
                )
                .drop("__pid", "__rn")
            )
            new_hwm[f.name] = base + (total - 1) * step
        meta_action = (
            self._identity_meta_action(snap, new_hwm) if new_hwm else None
        )
        return df, meta_action

    def _with_generated(self, df: DataFrame, snap: DeltaSnapshot) -> DataFrame:
        """Compute ABSENT generated columns on an incoming append/overwrite
        frame (delta-spark's writer contract); provided ones are verified
        against their generation expression by the staged-constraint scan.
        NOTE vs delta-spark: UPDATE/MERGE do not recompute — an assignment
        that leaves a generated column inconsistent raises the constraint
        violation instead of silently recomputing (never corrupts)."""
        gen_fields = [
            (f, (f.metadata or {}).get("delta.generationExpression"))
            for f in snap.schema.fields
        ]
        for f, gen in gen_fields:
            if gen and f.name not in df.columns:
                df = df.withColumn(f.name, F.expr(gen).cast(f.dataType))
        return df

    def _enforce_staged_constraints(
        self, staging: str, snap: DeltaSnapshot
    ) -> None:
        """Verify every staged row against the table's CHECK constraints
        and invariants in ONE column-pruned scan of the staged parquet
        (constraint expressions see LOGICAL names; staged files carry
        physical ones).  Raises DeltaConstraintViolationError with
        per-constraint violation counts; the caller discards staging."""
        cons = self._constraint_exprs(snap)
        if not cons:
            return
        phys_parts = [snap.phys(c) for c in snap.partition_columns]
        reader = self.spark.read
        if phys_parts:
            reader = reader.option("basePath", staging)
        df = reader.parquet(staging).select(
            *[
                F.col(snap.phys(f.name)).cast(f.dataType).alias(f.name)
                for f in snap.schema.fields
            ]
        )
        aggs = []
        for i, (_name, expr, null_violates) in enumerate(cons):
            bad = ~F.coalesce(F.expr(expr), F.lit(not null_violates))
            aggs.append(
                F.sum(F.when(bad, 1).otherwise(0)).alias(f"__c{i}")
            )
        row = df.agg(*aggs).collect()[0]
        violated = [
            (cons[i][0], cons[i][1], int(row[f"__c{i}"] or 0))
            for i in range(len(cons))
            if row[f"__c{i}"]
        ]
        if violated:
            detail = "; ".join(
                f"{name} ({expr!r}): {n} row(s)"
                for name, expr, n in violated
            )
            raise DeltaConstraintViolationError(
                f"write violates table constraints — {detail}; "
                "nothing was committed"
            )

    @staticmethod
    def _iceberg_compat(snap: DeltaSnapshot) -> bool:
        """delta.enableIcebergCompatV2 tables promise Iceberg-readable
        files: column mapping with parquet field ids everywhere, and no
        deletion vectors."""
        return (
            str(
                snap.properties.get("delta.enableIcebergCompatV2", "")
            ).lower()
            == "true"
        )

    def _dv_enabled(self, snap: DeltaSnapshot) -> bool:
        on = "deletionVectors" in set(
            snap.protocol.get("writerFeatures") or []
        ) and (
            str(snap.properties.get("delta.enableDeletionVectors", "")).lower()
            == "true"
        )
        if on and self._iceberg_compat(snap):
            raise DeltaProtocolError(
                "table enables BOTH deletionVectors and icebergCompatV2 — "
                "the icebergCompatV2 spec forbids DVs; refusing to write"
            )
        return on

    def _cdf_enabled(self, snap: DeltaSnapshot) -> bool:
        return (
            str(snap.properties.get("delta.enableChangeDataFeed", "")).lower()
            == "true"
        )

    def _rel_by_disk_path(self, snap: DeltaSnapshot) -> dict[str, str]:
        """{on-disk absolute path (scheme-stripped): log add-path} — the
        ONLY safe way to key targeting-scan results back to snap.files
        (log paths are percent-encoded; re-encoding a decoded path is not
        guaranteed to reproduce the original encoding)."""
        return {strip_scheme(self._abs(p)): p for p in snap.files}

    def _stage_files(
        self,
        df: DataFrame,
        snap: DeltaSnapshot,
        rt_cols: tuple | None = None,
    ) -> list[dict]:
        """Write df (LOGICAL columns) as hive-laid parquet under the table
        root using PHYSICAL names (+ parquet field ids when column mapping
        assigns them, so id-mode readers resolve our files), returning Delta
        add actions (paths percent-encoded per the protocol) with
        partitionValues keyed by physical name and numRecords stats.

        ``rt_cols=(rid_col, rcv_col)``: row-tracking rewrites pass the
        materialized-column names and a df carrying ``__rid``/``__rcv``;
        those land in the staged files as extra physical long columns so
        surviving rows keep their ids (readers fall back to the add's
        baseRowId/defaultRowCommitVersion where they are null)."""
        import uuid as _uuid
        from urllib.parse import quote

        rt_extra = {"__rid", "__rcv"} & set(df.columns)
        if rt_extra and not rt_cols:
            raise DeltaProtocolError(
                "internal: staged frame carries row-tracking columns but "
                "no materialized column names were provided"
            )
        cols = set(f.name for f in snap.schema.fields)
        if set(df.columns) - rt_extra != cols:
            raise DeltaProtocolError(
                f"schema mismatch: table has {sorted(cols)}, "
                f"data has {sorted(set(df.columns) - rt_extra)}"
            )
        out_cols = []
        mapped = snap.mapping_mode in ("name", "id")
        for f in snap.schema.fields:
            meta = {}
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if mapped and fid is not None:
                meta["parquet.field.id"] = int(fid)
            # nested mapping ids (assigned by DDL / foreign writers) ride
            # into the staged parquet as nested field ids too
            target = _with_parquet_field_ids(f.dataType) if mapped else f.dataType
            out_cols.append(
                F.col(f.name).cast(target).alias(snap.phys(f.name), metadata=meta)
            )
        if rt_extra:
            rid_col, rcv_col = rt_cols
            out_cols.append(
                (
                    F.col("__rid") if "__rid" in rt_extra
                    else F.lit(None)
                ).cast("long").alias(rid_col)
            )
            out_cols.append(
                (
                    F.col("__rcv") if "__rcv" in rt_extra
                    else F.lit(None)
                ).cast("long").alias(rcv_col)
            )
        phys_parts = [snap.phys(c) for c in snap.partition_columns]
        staging = f"{self.location}/_staging-{_uuid.uuid4().hex}"
        writer = df.select(*out_cols).write.mode("overwrite")
        if phys_parts:
            writer = writer.partitionBy(*phys_parts)
        with _staging_write_conf(self.spark):
            writer.parquet(staging)

        sizes = {
            strip_scheme(p): sz
            for p, sz in self.fs.list_files_with_size(staging)
            if p.endswith(".parquet")
        }
        if not sizes:
            # an empty frame (e.g. a rewrite that keeps no rows) stages no
            # parquet at all — nothing to add
            self.fs.delete(staging, recursive=True)
            return []
        try:
            self._enforce_staged_constraints(staging, snap)
        except Exception:
            self.fs.delete(staging, recursive=True)
            raise
        from delta_lake_validation_spark.sources.acid.table import (
            _partition_values,
        )
        from delta_lake_validation_spark.sources.footer_stats import (
            staged_file_stats,
        )

        # numRecords and per-column min/max/nullCount per staged file
        # (comparable atomic types only): the data-skipping stats every
        # Delta writer records, feeding read_where and the deltapy data
        # source's file pruning.  Read from the staged footers
        # (sources/footer_stats.py), keyed by the FULL staged path:
        # basenames collide across partition dirs.
        stat_cols = [
            snap.phys(f.name)
            for f in snap.schema.fields
            # collated columns: our min/max would be binary-ordered while
            # the column's collation orders differently — never stat them
            if f.name not in snap.collated_columns
            and snap.phys(f.name) not in phys_parts
            and isinstance(f.dataType, _STAT_TYPES)
        ]
        stats_by_file = staged_file_stats(self.spark, sorted(sizes), stat_cols)

        adds: list[dict] = []
        base = strip_scheme(staging)
        now_ms = int(__import__("time").time() * 1000)
        for f_abs in sorted(sizes):
            rel_dir = f_abs[len(base):].rsplit("/", 1)[0].strip("/")
            pv = _partition_values(rel_dir)
            new_rel = (
                (rel_dir + "/" if rel_dir else "")
                + f"part-{_uuid.uuid4().hex}.parquet"
            )
            self.fs.rename(f_abs, f"{self.location}/{new_rel}")
            adds.append(
                {
                    # the log path is a percent-encoded relative URI (RFC 3986
                    # pchar-safe, matching delta-spark's minimal encoding) — the
                    # inverse of the unquote every reader (incl. our _abs)
                    # applies; without it a partition value like 'a:b'
                    # (hive-escaped on disk) never round-trips
                    "path": quote(new_rel, safe="/!$&'()*+,;=:@"),
                    "partitionValues": pv,
                    "size": sizes[f_abs],
                    "modificationTime": now_ms,
                    "dataChange": True,
                    "stats": json.dumps(
                        _delta_file_stats(*stats_by_file[f_abs])
                        if f_abs in stats_by_file
                        else {"numRecords": 0}
                    ),
                }
            )
        self.fs.delete(staging, recursive=True)
        return adds

    #: write a classic checkpoint every N successful commits (delta-spark's
    #: own cadence) so long-lived tables replay one columnar file + a short
    #: JSON tail instead of the whole chain
    CHECKPOINT_INTERVAL = 10

    def _ict_enabled(self) -> bool:
        cached = getattr(self, "_ict_cache", None)
        if cached is None:
            try:
                snap = self.snapshot()
            except Exception:
                return False
            cached = (
                str(
                    snap.properties.get("delta.enableInCommitTimestamps", "")
                ).lower()
                == "true"
            )
            self._ict_cache = cached
        return cached

    def _try_commit(self, version: int, actions: list[dict]) -> bool:
        for a in actions:
            if "commitInfo" in a:
                # provenance stamp, as delta-spark writes (engineInfo)
                a["commitInfo"].setdefault(
                    "engineInfo", "delta-lake-validation-spark/0.4"
                )
        actions = self._stamp_row_tracking(version, actions)
        if self._ict_enabled():
            # inCommitTimestamp feature (write side — the reader already
            # prefers it): stamp a STRICTLY MONOTONIC writer-recorded commit
            # time into commitInfo, per the spec's clock rule
            import time as _time

            prev = self._commit_ts_ms(version - 1) if version > 0 else None
            ict = max(int(_time.time() * 1000), (prev or 0) + 1)
            for a in actions:
                if "commitInfo" in a:
                    a["commitInfo"]["inCommitTimestamp"] = ict
                    break
            else:
                actions = [
                    {"commitInfo": {"inCommitTimestamp": ict}},
                    *actions,
                ]
        body = "\n".join(json.dumps(a) for a in actions) + "\n"
        try:
            self.fs.atomic_create(
                f"{self.log_dir}/{version:020d}.json", body
            )
        except FileExistsError:
            return False
        self._log_names = self._list_log()
        interval = getattr(self, "_ckpt_interval", self.CHECKPOINT_INTERVAL)
        if version > 0 and interval > 0 and version % interval == 0:
            try:
                write_delta_checkpoint(self.spark, self.location)
            except Exception:  # pragma: no cover - checkpointing is an
                # optimization; a failure (remote fs, concurrent cleanup)
                # must never fail the already-durable commit
                pass
        return True

    def _stamp_row_tracking(
        self, version: int, actions: list[dict]
    ) -> list[dict]:
        """On rowTracking tables: assign ``baseRowId`` /
        ``defaultRowCommitVersion`` to every FRESH add (re-added files —
        DV masks, RESTORE — arrive with their original ids and keep them)
        and advance the ``delta.rowTracking`` domain's rowIdHighWaterMark.
        Works on a COPY so a retried commit re-stamps against the current
        high-water mark instead of reusing ids computed from a lost
        race's snapshot.  No-op (same list back) off rowTracking tables."""
        try:
            snap = self.snapshot(version - 1)
        except ValueError:
            # version-1 out of range (e.g. a clone/create writing v0
            # through an exotic path): nothing to stamp against.  Other
            # failures propagate — silently skipping the stamp on a
            # rowTracking table would violate the feature's write rules.
            return actions
        feats = set(snap.protocol.get("writerFeatures") or [])
        for a in actions:
            # an enable-rowTracking ALTER carries its protocol upgrade in
            # the SAME commit as the backfill re-adds it must stamp
            p = a.get("protocol")
            if p:
                feats |= set(p.get("writerFeatures") or [])
        if "rowTracking" not in feats:
            return actions
        hw = -1
        cfg = snap.domains.get("delta.rowTracking")
        if cfg:
            try:
                hw = int(json.loads(cfg).get("rowIdHighWaterMark", -1))
            except (TypeError, ValueError):
                hw = -1
        out: list[dict] = []
        assigned = False
        for a in actions:
            ad = a.get("add")
            if not ad or a.get("domainMetadata"):
                # drop any stale high-water-mark action from a previous
                # attempt (we re-append a fresh one below)
                if (a.get("domainMetadata") or {}).get(
                    "domain"
                ) == "delta.rowTracking":
                    continue
                out.append(a)
                continue
            if ad.get("baseRowId") is not None:
                out.append(a)
                continue
            st = ad.get("stats")
            n = None
            parsed: dict = {}
            try:
                parsed = json.loads(st) if isinstance(st, str) else (st or {})
                if not isinstance(parsed, dict):
                    raise ValueError("stats is not a JSON object")
                raw = parsed.get("numRecords")
                if raw is not None:
                    n = int(raw)
            except (TypeError, ValueError):
                # fall through to the footer count.  parsed keeps THIS
                # add's validly-parsed dict when only numRecords was
                # malformed (its min/max stay usable for data skipping);
                # it is re-zeroed only when the payload itself wasn't an
                # object — and it was initialized per-iteration, so a
                # previous add's dict can never leak in here
                n = None
                if not isinstance(parsed, dict):
                    parsed = {}
            ad = dict(ad)
            if n is None:
                # Stats-less add (CONVERT/import paths): treating it as
                # n=0 would hand the SAME baseRowId to the next add in
                # this commit — a silent row-id collision.  Fresh
                # baseRowIds are the writer's responsibility (PROTOCOL.md
                # row tracking), so count the rows from the parquet
                # footer; if even that fails, refuse rather than collide.
                try:
                    n = self._count_rows_footer(ad["path"])
                except Exception as e:
                    raise DeltaProtocolError(
                        f"rowTracking table: add {ad.get('path')!r} carries "
                        "no numRecords stats and its footer could not be "
                        f"read ({e}) — cannot assign a collision-free "
                        "baseRowId; record numRecords stats on the add"
                    ) from None
                parsed = dict(parsed) if isinstance(parsed, dict) else {}
                parsed["numRecords"] = n
                ad["stats"] = json.dumps(parsed)
            ad["baseRowId"] = hw + 1
            ad["defaultRowCommitVersion"] = version
            hw += n
            assigned = True
            out.append({**a, "add": ad})
        if assigned:
            out.append(
                {
                    "domainMetadata": {
                        "domain": "delta.rowTracking",
                        "configuration": json.dumps(
                            {"rowIdHighWaterMark": hw}
                        ),
                        "removed": False,
                    }
                }
            )
        return out

    def _count_rows_footer(self, rel_path: str) -> int:
        """Row count of a data file from its parquet footer only (no data
        read) — the fallback when an add carries no numRecords stats and
        row tracking must still assign a collision-free baseRowId."""
        from delta_lake_validation_spark.sources.footer_stats import read_footer

        return int(read_footer(self._abs(rel_path)).num_rows)

    # ------------------------------------------------------------------
    # Row tracking: preserved ids on rewrites (PROTOCOL.md "Row Tracking").
    # A row's id is coalesce(materialized row-id column, add.baseRowId +
    # row_index); its commit version is coalesce(materialized column,
    # add.defaultRowCommitVersion).  Rewriting ops (UPDATE/MERGE/OPTIMIZE/
    # copy-on-write DELETE) preserve surviving rows' ids by materializing
    # them into the rewritten files' extra physical columns, named by the
    # delta.rowTracking.materialized*ColumnName table configs (minted
    # lazily on first rewrite, as delta-spark does).
    # ------------------------------------------------------------------
    _RT_RID_KEY = "delta.rowTracking.materializedRowIdColumnName"
    _RT_RCV_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"

    def _rt_enabled(self, snap: DeltaSnapshot) -> bool:
        return (
            str(snap.properties.get("delta.enableRowTracking", "")).lower()
            == "true"
        )

    def _rt_mat_cols(self, snap: DeltaSnapshot) -> tuple:
        return (
            snap.properties.get(self._RT_RID_KEY),
            snap.properties.get(self._RT_RCV_KEY),
        )

    def _rt_ensure_mat_cols(
        self, snap: DeltaSnapshot, base_meta: dict | None = None
    ):
        """(rid_col, rcv_col, extra_actions): the materialized-column
        names, minting fresh ones (plus the metaData action that records
        them) when the table has none yet.

        ``base_meta``: a metaData dict ALREADY riding this commit (e.g. an
        identity high-water-mark bump).  Log replay is last-metaData-wins,
        so emitting a second action built from the stale snapshot would
        silently revert whatever base_meta changed — instead the configs
        are merged INTO it (in place; it already sits in the caller's
        action list) and no extra action is returned."""
        rid_col, rcv_col = self._rt_mat_cols(snap)
        if rid_col and rcv_col:
            return rid_col, rcv_col, []
        import uuid as _uuid

        rid_col = rid_col or f"_row-id-col-{_uuid.uuid4()}"
        rcv_col = rcv_col or f"_row-commit-version-col-{_uuid.uuid4()}"
        if base_meta is not None:
            cfg = dict(base_meta.get("configuration") or {})
            cfg[self._RT_RID_KEY] = rid_col
            cfg[self._RT_RCV_KEY] = rcv_col
            base_meta["configuration"] = cfg
            return rid_col, rcv_col, []
        props = dict(snap.properties)
        props[self._RT_RID_KEY] = rid_col
        props[self._RT_RCV_KEY] = rcv_col
        meta = {
            "id": snap.metadata_id,
            "name": snap.name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(snap.schema.jsonValue()),
            "partitionColumns": list(snap.partition_columns),
            "configuration": props,
        }
        return rid_col, rcv_col, [{"metaData": meta}]

    def _rt_with_current_ids(self, df: DataFrame, snap: DeltaSnapshot):
        """Append ``__rid``/``__rcv`` — each scanned row's CURRENT row id
        and commit version — from the materialized columns (``__mat_rid``/
        ``__mat_rcv``, already selected by the caller) with the add
        entry's baseRowId + row_index / defaultRowCommitVersion as the
        fallback.  Arrow-batched; the broadcast carries one (base, rcv)
        pair per live file."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        missing = [
            p for p, a in snap.files.items() if a.get("baseRowId") is None
        ]
        if missing:
            # a foreign writer flipped enableRowTracking without
            # stamping: serving null ids (or silently re-assigning them
            # on rewrite) would paper over the broken invariant
            raise DeltaProtocolError(
                f"row tracking is enabled but {len(missing)} live file(s) "
                f"lack baseRowId (e.g. {missing[0]!r}) — the table "
                "violates the row-tracking invariant; backfill ids "
                "(ALTER SET delta.enableRowTracking after unsetting, "
                "which re-stamps) before reading or rewriting row ids"
            )
        base_map = {
            strip_scheme(self._abs(p)): (
                a.get("baseRowId"),
                a.get("defaultRowCommitVersion"),
            )
            for p, a in snap.files.items()
        }
        bc = self.spark.sparkContext.broadcast(base_map)

        def _ids(fp, ri, mrid, mrcv):
            from urllib.parse import unquote

            from delta_lake_validation_spark.sources.fs import (
                strip_scheme as _ss,
            )

            pairs = fp.map(
                lambda s: bc.value.get(_ss(unquote(s)), (None, None))
            )
            brid = pd.array([p[0] for p in pairs], dtype="Int64")
            brcv = pd.Series(
                pd.array([p[1] for p in pairs], dtype="Int64")
            )
            fresh = pd.Series(brid + pd.array(ri, dtype="Int64"))
            mrid = mrid.astype("Int64")
            mrcv = mrcv.astype("Int64")
            return pd.DataFrame(
                {
                    "rid": mrid.where(mrid.notna(), fresh),
                    "rcv": mrcv.where(mrcv.notna(), brcv),
                }
            )

        # real annotation objects (the module's future-import stringifies
        # literal hints, which pandas_udf cannot interpret)
        _ids.__annotations__ = {
            "fp": pd.Series,
            "ri": pd.Series,
            "mrid": pd.Series,
            "mrcv": pd.Series,
            "return": pd.DataFrame,
        }
        ids_udf = pandas_udf(_ids, "rid long, rcv long")

        return (
            df.withColumn(
                "__ids",
                ids_udf(
                    F.col("__fp"),
                    F.col("__ri"),
                    F.col("__mat_rid"),
                    F.col("__mat_rcv"),
                ),
            )
            .withColumn("__rid", F.col("__ids.rid"))
            .withColumn("__rcv", F.col("__ids.rcv"))
            .drop("__ids", "__mat_rid", "__mat_rcv")
        )

    @staticmethod
    def _meta_fingerprint(snap: DeltaSnapshot) -> tuple:
        return (
            snap.metadata_id,
            json.dumps(snap.schema.jsonValue(), sort_keys=True),
            tuple(snap.partition_columns),
            tuple(sorted(snap.properties.items())),
            json.dumps(snap.protocol, sort_keys=True),
        )

    #: writer features implied by each legacy minWriterVersion (spec table) —
    #: jumping a legacy protocol to v7 must restate every implied capability
    _LEGACY_WRITER_FEATURES = {
        2: ("appendOnly", "invariants"),
        3: ("checkConstraints",),
        4: ("changeDataFeed", "generatedColumns"),
        5: ("columnMapping",),
        6: ("identityColumns",),
    }

    def alter_properties(
        self,
        set_props: dict[str, str] | None = None,
        unset: list[str] | tuple[str, ...] = (),
    ) -> int:
        """``ALTER TABLE … SET/UNSET TBLPROPERTIES``: ONE metaData
        re-commit with the merged configuration.  When a property enables
        a capability the current protocol does not declare (CDF, deletion
        vectors, appendOnly, row tracking, in-commit timestamps), the same
        commit carries the protocol upgrade — delta-spark's automatic
        upgrade rule — restating every legacy-implied feature when a
        legacy protocol jumps to v7.  Unsetting a property never removes
        a protocol feature (features are permanent, per the spec).
        ``delta.columnMapping.mode`` changes refuse: enabling a mapping
        needs physical-name/field-id assignment across the whole schema."""
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        props = dict(snap.properties)
        for k in unset:
            props.pop(k, None)
        for k, v in (set_props or {}).items():
            props[k] = str(v).lower() if isinstance(v, bool) else str(v)
        if props.get("delta.columnMapping.mode", "none") != snap.properties.get(
            "delta.columnMapping.mode", "none"
        ):
            raise DeltaProtocolError(
                "ALTER cannot change delta.columnMapping.mode (physical "
                "names / field ids would need assignment across the schema)"
            )

        def _on(key: str) -> bool:
            return str(props.get(key, "")).lower() == "true"

        need_w: set[str] = set()
        need_r: set[str] = set()
        if _on("delta.enableChangeDataFeed"):
            need_w.add("changeDataFeed")
        if _on("delta.enableDeletionVectors"):
            need_w.add("deletionVectors")
            need_r.add("deletionVectors")
        if _on("delta.appendOnly"):
            need_w.add("appendOnly")
        if _on("delta.enableRowTracking"):
            need_w.update({"rowTracking", "domainMetadata"})
        if _on("delta.enableInCommitTimestamps"):
            need_w.add("inCommitTimestamp")
        if str(
            props.get("delta.requireCheckpointProtectionBeforeVersion", "")
        ).strip():
            need_w.add("checkpointProtection")
        if _on("delta.enableIcebergCompatV2"):
            if _on("delta.enableDeletionVectors"):
                raise DeltaProtocolError(
                    "delta.enableIcebergCompatV2 and "
                    "delta.enableDeletionVectors cannot both be true "
                    "(icebergCompatV2 forbids DVs)"
                )
            if props.get("delta.columnMapping.mode") not in ("name", "id"):
                raise DeltaProtocolError(
                    "delta.enableIcebergCompatV2 requires column mapping "
                    "(delta.columnMapping.mode name|id), which ALTER "
                    "cannot retrofit"
                )
            need_w.add("icebergCompatV2")

        proto = dict(snap.protocol)
        mr = int(proto.get("minReaderVersion", 1))
        mw = int(proto.get("minWriterVersion", 2))
        proto_action = None
        if mw >= 7:
            have_w = set(proto.get("writerFeatures") or [])
            have_r = set(proto.get("readerFeatures") or [])
            if mr == 2:
                # legacy reader version 2 IMPLIES columnMapping; bumping
                # to v3 (which honors exactly the listed readerFeatures)
                # must restate it or third-party readers would resolve
                # physical col-uuid names as logical ones
                have_r.add("columnMapping")
            if not (need_w <= have_w and need_r <= have_r):
                proto["writerFeatures"] = sorted(have_w | need_w)
                if need_r or have_r:
                    proto["minReaderVersion"] = max(mr, 3)
                    proto["readerFeatures"] = sorted(have_r | need_r)
                proto_action = proto
        else:
            # legacy protocol: capabilities bundled by version number
            legacy_w = {
                f
                for v, fs in self._LEGACY_WRITER_FEATURES.items()
                if v <= mw
                for f in fs
            }
            if not (need_w <= legacy_w) or need_r:
                feats_w = legacy_w | need_w
                feats_r = set(need_r)
                if mr >= 2 or "columnMapping" in feats_w:
                    feats_r.add("columnMapping")
                proto_action = {
                    "minReaderVersion": 3 if feats_r else 1,
                    "minWriterVersion": 7,
                    "writerFeatures": sorted(feats_w),
                }
                if feats_r:
                    proto_action["readerFeatures"] = sorted(feats_r)

        import time as _time

        meta = {
            "id": snap.metadata_id,
            "name": snap.name,  # replay takes name from the LATEST
            # metaData action — omitting it would erase the table name
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(snap.schema.jsonValue()),
            "partitionColumns": list(snap.partition_columns),
            "configuration": props,
        }
        actions = [
            {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": "SET TBLPROPERTIES",
                    "operationParameters": {
                        "properties": json.dumps(set_props or {}),
                        **({"unset": json.dumps(list(unset))} if unset else {}),
                    },
                }
            },
            *([{"protocol": proto_action}] if proto_action else []),
            {"metaData": meta},
        ]
        if (
            _on("delta.enableRowTracking")
            and str(
                snap.properties.get("delta.enableRowTracking", "")
            ).lower()
            != "true"
            and snap.files
        ):
            # Enabling row tracking on a non-empty table: BACKFILL in the
            # same commit — re-add every live file stripped of ids so the
            # row-tracking stamp assigns fresh baseRowId/
            # defaultRowCommitVersion atomically with the property flip
            # (delta-spark materializes row ids before flipping; an enable
            # commit leaving old files id-less would claim row tracking
            # over files other engines treat as broken).  Ids were
            # unstable until now, so re-assigning any existing ones is
            # spec-legal.
            for a in snap.files.values():
                ad = dict(a)
                ad.pop("baseRowId", None)
                ad.pop("defaultRowCommitVersion", None)
                ad["dataChange"] = False
                actions.append({"add": ad})
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"ALTER lost the race for version {v}; re-read and retry"
            )
        return v

    def _commit_meta(
        self, snap: DeltaSnapshot, schema_json: dict, op: str,
        params: dict, props: dict | None = None,
    ) -> int:
        """One metaData re-commit (schema and/or configuration change)."""
        import time as _time

        actions = [
            {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": op,
                    "operationParameters": params,
                }
            },
            {
                "metaData": {
                    "id": snap.metadata_id,
                    "name": snap.name,  # carried, not erased (replay
                    # takes name from the latest metaData action)
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": json.dumps(schema_json),
                    "partitionColumns": list(snap.partition_columns),
                    "configuration": dict(
                        props if props is not None else snap.properties
                    ),
                }
            },
        ]
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"{op} lost the race for version {v}; re-read and retry"
            )
        return v

    def set_domain_metadata(self, domain: str, configuration: str) -> int:
        """Write (or replace) a USER domainMetadata action.  ``delta.``
        domains are system-owned (clustering, rowTracking) and refuse —
        mutating one behind its feature's back corrupts the table."""
        if domain.startswith("delta."):
            raise DeltaProtocolError(
                f"domain {domain!r} is system-owned (delta.*) — use the "
                "feature's own surface (CLUSTER BY, row tracking)"
            )
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        import time as _time

        actions = [
            {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": "SET DOMAIN METADATA",
                    "operationParameters": {"domain": domain},
                }
            },
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": configuration,
                    "removed": False,
                }
            },
        ]
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"domain write lost the race for version {v}"
            )
        return v

    def remove_domain_metadata(self, domain: str) -> int:
        """Tombstone a USER domain (``removed: true``); delta.* refuses."""
        if domain.startswith("delta."):
            raise DeltaProtocolError(
                f"domain {domain!r} is system-owned (delta.*)"
            )
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        if domain not in snap.domains:
            raise DeltaProtocolError(f"no such domain {domain!r}")
        import time as _time

        actions = [
            {
                "commitInfo": {
                    "timestamp": int(_time.time() * 1000),
                    "operation": "REMOVE DOMAIN METADATA",
                    "operationParameters": {"domain": domain},
                }
            },
            {
                "domainMetadata": {
                    "domain": domain,
                    "configuration": "{}",
                    "removed": True,
                }
            },
        ]
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"domain removal lost the race for version {v}"
            )
        return v

    def add_columns(self, columns: StructType | str) -> int:
        """``ALTER TABLE … ADD COLUMNS``: append new NULLABLE top-level
        fields in one metaData re-commit — existing files simply lack the
        column and every reader null-fills it (the same contract
        mergeSchema appends rely on).  On a column-mapped table each new
        field gets a fresh ``col-<uuid>`` physicalName and the next
        ``delta.columnMapping.maxColumnId`` id, exactly as delta-spark
        assigns them."""
        import uuid as _uuid

        from pyspark.sql.types import _parse_datatype_string

        if isinstance(columns, str):
            columns = _parse_datatype_string(columns)
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        # case-insensitive duplicate checks (Spark's default resolver is
        # case-insensitive — an 'ID' next to 'id' makes every reference
        # ambiguous), and the request itself must not repeat a name
        have = {f.name.lower() for f in snap.schema.fields}
        dup = [f.name for f in columns.fields if f.name.lower() in have]
        if dup:
            raise DeltaProtocolError(f"columns already exist: {dup}")
        req = [f.name.lower() for f in columns.fields]
        if len(set(req)) != len(req):
            raise DeltaProtocolError(
                f"duplicate column names in request: {req}"
            )
        schema_json = snap.schema.jsonValue()
        props = dict(snap.properties)

        def _max_field_id(dt) -> int:
            """Max delta.columnMapping.id anywhere in a dataType —
            NESTED struct fields / array elements / map keys+values carry
            their own ids, and missing one hands a new column a duplicate
            id (in 'id' mode, parquet field-id resolution would then
            serve the wrong physical column)."""
            from pyspark.sql.types import ArrayType, MapType
            from pyspark.sql.types import StructType as _St

            if isinstance(dt, _St):
                out = 0
                for f in dt.fields:
                    out = max(
                        out,
                        int(
                            (f.metadata or {}).get(
                                "delta.columnMapping.id", 0
                            )
                        ),
                        _max_field_id(f.dataType),
                    )
                return out
            if isinstance(dt, ArrayType):
                return _max_field_id(dt.elementType)
            if isinstance(dt, MapType):
                return max(
                    _max_field_id(dt.keyType), _max_field_id(dt.valueType)
                )
            return 0

        # next field id: the property can be stale or absent on foreign
        # tables — take the max over the ids the schema actually carries,
        # recursing through nested types
        next_id = max(
            int(props.get("delta.columnMapping.maxColumnId", 0) or 0),
            _max_field_id(snap.schema),
        )
        for f in columns.fields:
            fld = {
                "name": f.name,
                "type": f.dataType.jsonValue(),
                "nullable": True,  # existing files lack the column
                "metadata": dict(f.metadata or {}),
            }
            if snap.mapping_mode in ("name", "id"):
                next_id += 1
                fld["metadata"]["delta.columnMapping.id"] = next_id
                fld["metadata"]["delta.columnMapping.physicalName"] = (
                    f"col-{_uuid.uuid4()}"
                )
            schema_json["fields"].append(fld)
        if snap.mapping_mode in ("name", "id"):
            props["delta.columnMapping.maxColumnId"] = str(next_id)
        return self._commit_meta(
            snap,
            schema_json,
            "ADD COLUMNS",
            {"columns": json.dumps([f.name for f in columns.fields])},
            props,
        )

    def _refuse_referenced_column(self, snap: DeltaSnapshot, col: str,
                                   op: str) -> None:
        """Refuse a column rename/drop while any CHECK constraint, column
        invariant, or generation expression references it — committing the
        DDL would brick every later write (the expression evaluates
        against a frame that no longer has the column).  delta-spark
        refuses at DDL time too.  Word-boundary text match: conservative
        (a string literal containing the name also refuses), never
        unsound."""
        pat = re.compile(rf"(?<![\w`]){re.escape(col)}(?![\w`])", re.I)
        for cname, expr, _ in self._constraint_exprs(snap):
            if pat.search(expr):
                raise DeltaProtocolError(
                    f"{op} {col!r} refused: {cname} references it "
                    f"({expr!r}) — drop the constraint first"
                )

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE … RENAME COLUMN``: a pure logical rename — the
        physicalName in the field metadata keeps pointing at the on-disk
        column, so ZERO data rewrites.  Requires column mapping (without
        it the logical name IS the physical name and a rename would orphan
        every existing file), exactly delta-spark's requirement."""
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        if snap.mapping_mode not in ("name", "id"):
            raise DeltaProtocolError(
                "RENAME COLUMN requires column mapping "
                "(delta.columnMapping.mode = name); without it the logical "
                "name is the physical parquet name and existing files "
                "would no longer resolve"
            )
        self._refuse_referenced_column(snap, old, "RENAME COLUMN")
        names = {f.name for f in snap.schema.fields}
        if old not in names:
            raise DeltaProtocolError(f"no such column {old!r}")
        if new.lower() in {n.lower() for n in names}:
            raise DeltaProtocolError(f"column {new!r} already exists")
        schema_json = snap.schema.jsonValue()
        for fld in schema_json["fields"]:
            if fld["name"] == old:
                fld["name"] = new
        part = [new if c == old else c for c in snap.partition_columns]
        snap = DeltaSnapshot(  # carry the renamed partition list through
            snap.version, snap.schema, part, snap.files, snap.properties,
            snap.metadata_id, snap.name, snap.protocol, snap.txns,
            snap.domains,
        )
        return self._commit_meta(
            snap, schema_json, "RENAME COLUMN", {"from": old, "to": new}
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE … DROP COLUMN``: remove the field from the
        logical schema — the physical data stays in the files but no
        reader maps it anymore.  Requires column mapping (same rule as
        delta-spark); partition columns refuse."""
        snap = self.snapshot()
        self._check_writer_protocol(snap)
        if snap.mapping_mode not in ("name", "id"):
            raise DeltaProtocolError(
                "DROP COLUMN requires column mapping "
                "(delta.columnMapping.mode = name)"
            )
        if name in snap.partition_columns:
            raise DeltaProtocolError(
                f"cannot drop partition column {name!r}"
            )
        self._refuse_referenced_column(snap, name, "DROP COLUMN")
        names = {f.name for f in snap.schema.fields}
        if name not in names:
            raise DeltaProtocolError(f"no such column {name!r}")
        if len(names) == 1:
            raise DeltaProtocolError("cannot drop the only column")
        schema_json = snap.schema.jsonValue()
        schema_json["fields"] = [
            f for f in schema_json["fields"] if f["name"] != name
        ]
        return self._commit_meta(
            snap, schema_json, "DROP COLUMNS", {"column": name}
        )

    def _evolve_schema(
        self, df: DataFrame, snap: DeltaSnapshot
    ) -> tuple[DataFrame, DeltaSnapshot, dict | None]:
        """``mergeSchema`` semantics for append: NEW columns in ``df``
        widen the table schema (appended after existing fields, recorded
        in a metaData action this commit); columns the table has but the
        frame lacks are null-filled.  Type CHANGES refuse — silent
        coercion is how data gets corrupted; column-mapped tables refuse
        (new fields need physical-name/id assignment)."""
        have = {f.name: f for f in snap.schema.fields}
        conflicts = [
            f.name
            for f in df.schema.fields
            if f.name in have
            and f.dataType.simpleString() != have[f.name].dataType.simpleString()
        ]
        if conflicts:
            raise DeltaProtocolError(
                f"mergeSchema cannot change existing column types: {conflicts}"
            )
        new_fields = [f for f in df.schema.fields if f.name not in have]
        for f in snap.schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        if not new_fields:
            return df, snap, None
        if snap.mapping_mode in ("name", "id"):
            raise DeltaProtocolError(
                "mergeSchema on a column-mapped table is not supported; "
                "ALTER the table first"
            )
        evolved_schema = StructType(list(snap.schema.fields) + new_fields)
        evolved = DeltaSnapshot(
            snap.version,
            evolved_schema,
            snap.partition_columns,
            snap.files,
            snap.properties,
            snap.metadata_id,
            snap.name,
            protocol=snap.protocol,
        )
        meta = {
            "id": snap.metadata_id,
            "name": snap.name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(evolved_schema.jsonValue()),
            "partitionColumns": list(snap.partition_columns),
            "configuration": dict(snap.properties),
        }
        return df, evolved, meta

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append-commit to a REAL Delta table: stage hive-laid parquet,
        then atomically create the next ``NNN.json`` with the add actions
        (the outbound write half of interop — any Delta reader sees the new
        rows).  ``merge_schema`` adds the frame's new columns to the table
        schema in the same commit (delta-spark's ``mergeSchema`` option)
        and null-fills table columns the frame lacks.  Blind appends
        rebase on a lost race and retry — but only after verifying the
        racing commit changed no metadata/protocol (Delta aborts appends
        on metadata conflicts: the staged files were validated and laid
        out against the OLD table shape)."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "append")
        fingerprint = self._meta_fingerprint(snap)
        evolve_meta = None
        if merge_schema:
            df, snap, evolve_meta = self._evolve_schema(df, snap)
        df2, id_meta = self._with_identity(self._with_generated(df, snap), snap)
        if evolve_meta is not None and id_meta is not None:
            raise DeltaProtocolError(
                "mergeSchema together with identity-column high-watermark "
                "updates is not supported in one commit"
            )
        adds = self._stage_files(df2, snap)
        for _ in range(50):
            actions = [
                {
                    "commitInfo": {
                        "timestamp": int(_time.time() * 1000),
                        "operation": "WRITE",
                        "operationParameters": {"mode": "Append"},
                        "operationMetrics": self._op_metrics(adds),
                    }
                },
                *([{"metaData": id_meta}] if id_meta else []),
                *([{"metaData": evolve_meta}] if evolve_meta else []),
                *({"add": a} for a in adds),
            ]
            v = self.latest_version() + 1
            if self._try_commit(v, actions):
                return v
            self._log_names = self._list_log()
            fresh = self.snapshot()
            if self._meta_fingerprint(fresh) != fingerprint:
                raise DeltaProtocolError(
                    "append lost a race to a commit that changed table "
                    "metadata or protocol; the staged files were validated "
                    "against the old shape — re-read and retry"
                )
        raise DeltaProtocolError("append could not commit after 50 attempts")

    def _remove_actions(
        self,
        snap: DeltaSnapshot,
        rel_paths,
        ts: int,
        data_change: bool = True,
    ) -> list[dict]:
        """remove actions for existing snapshot files, carrying their
        partitionValues/size (and DV, so readers can identify the exact
        file version being superseded)."""
        out = []
        for p in rel_paths:
            a = snap.files[p]
            r = {
                "path": p,
                "deletionTimestamp": ts,
                "dataChange": data_change,
                "partitionValues": (a.get("partitionValues") or {}),
                "size": a.get("size"),
            }
            if a.get("deletionVector"):
                r["deletionVector"] = a["deletionVector"]
            # row-tracking fields ride along on removes, as the spec asks
            # (readers reconstruct removed-row ids from them)
            if a.get("baseRowId") is not None:
                r["baseRowId"] = a["baseRowId"]
            if a.get("defaultRowCommitVersion") is not None:
                r["defaultRowCommitVersion"] = a["defaultRowCommitVersion"]
            out.append({"remove": r})
        return out

    def _dv_mask_actions(
        self,
        snap: DeltaSnapshot,
        per_file: dict[str, tuple[bytes, int]],
        ts: int,
    ) -> list[dict]:
        """One remove+add pair per touched file, the add carrying a merged
        (old ∪ new) protocol-true DV sidecar — the shared core of DV-path
        DELETE/UPDATE/MERGE.  ``per_file`` maps log path -> (serialized
        bitmap, cardinality), already built executor-side; the driver only
        merges per-file with any existing DV (bounded by one file's
        cardinality) and writes the sidecars."""
        from delta_lake_validation_spark.sources.dv import (
            deserialize_bitmap,
            load_dv_bytes,
            merge_bitmaps,
            write_dv_bytes,
        )

        actions: list[dict] = []
        for rel, (new_bytes, card) in sorted(per_file.items()):
            meta = dict(snap.files[rel])
            old = meta.get("deletionVector")
            merged_bytes = new_bytes
            if old and int(old.get("cardinality") or 0) > 0:
                merged_bytes = merge_bitmaps(
                    new_bytes, load_dv_bytes(old, self.location, self.fs)
                )
                card = int(deserialize_bitmap(merged_bytes).size)
            desc = write_dv_bytes(self.fs, self.location, merged_bytes, card)
            actions += self._remove_actions(snap, [rel], ts)
            meta["deletionVector"] = desc
            meta["dataChange"] = True
            actions.append({"add": meta})
        return actions

    def overwrite(
        self,
        df: DataFrame,
        replace_where: str | None = None,
        dynamic_partitions: bool = False,
    ) -> int:
        """Overwrite-commit to a REAL Delta table: the staged files replace
        the whole snapshot (add + remove in one commit).  A concurrent
        commit between snapshot and write loses the race and raises —
        overwrites read table state, so rebasing would drop the racer's
        rows (Delta's ProtocolChanged/ConcurrentWrite semantics).  Note:
        like delta-spark's plain mode=overwrite, no cdc files are written;
        this engine's own conservative CDF reader refuses mixed add+remove
        commits, while Delta's synthesizes both sides.

        ``replace_where`` (delta-spark's ``option("replaceWhere", …)``)
        scopes the overwrite: only rows matching the predicate are
        replaced, atomically in ONE commit.  Every incoming row must
        satisfy the predicate (rows whose predicate evaluates NULL don't
        satisfy it — Delta's rule); existing matching rows vanish via the
        same targeting machinery as DELETE (DV masks on
        deletionVectors-enabled tables, copy-on-write rewrite of the
        touched files otherwise), so untouched files are never rewritten."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "overwrite")
        df2, id_meta = self._with_identity(self._with_generated(df, snap), snap)
        ts = int(_time.time() * 1000)
        if dynamic_partitions:
            # Spark's partitionOverwriteMode=dynamic: replace exactly the
            # partitions the frame writes into, leave every other partition
            # alone.  The touched set derives from the STAGED adds' own
            # partitionValues strings — the same encoding the log uses, so
            # no literal-quoting round trip can diverge.
            if replace_where is not None:
                raise ValueError(
                    "pass replace_where or dynamic_partitions, not both"
                )
            if not snap.partition_columns:
                raise DeltaProtocolError(
                    "dynamic partition overwrite needs a partitioned table"
                )
            adds = self._stage_files(df2, snap)
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
            actions = [
                {
                    "commitInfo": {
                        "timestamp": ts,
                        "operation": "WRITE",
                        "operationParameters": {
                            "mode": "Overwrite",
                            "partitionBy": json.dumps(
                                list(snap.partition_columns)
                            ),
                            "partitionOverwriteMode": "dynamic",
                        },
                        "operationMetrics": self._op_metrics(
                            adds, removed=len(doomed)
                        ),
                    }
                },
                *([{"metaData": id_meta}] if id_meta else []),
                *({"add": a} for a in adds),
                *self._remove_actions(snap, doomed, ts),
            ]
            v = snap.version + 1
            if not self._try_commit(v, actions):
                raise DeltaProtocolError(
                    f"overwrite lost the race for version {v}: a concurrent "
                    "writer committed first; re-read and retry"
                )
            return v
        if replace_where is None:
            adds = self._stage_files(df2, snap)
            actions = [
                {
                    "commitInfo": {
                        "timestamp": ts,
                        "operation": "WRITE",
                        "operationParameters": {"mode": "Overwrite"},
                        "operationMetrics": self._op_metrics(
                            adds, removed=len(snap.files)
                        ),
                    }
                },
                *([{"metaData": id_meta}] if id_meta else []),
                *({"add": a} for a in adds),
                *self._remove_actions(snap, list(snap.files), ts),
            ]
            v = snap.version + 1
            if not self._try_commit(v, actions):
                raise DeltaProtocolError(
                    f"overwrite lost the race for version {v}: a concurrent "
                    "writer committed first; re-read and retry"
                )
            return v
        cond = F.expr(replace_where)
        bad = df2.filter(~F.coalesce(cond, F.lit(False))).limit(1).count()
        if bad:
            raise DeltaProtocolError(
                "replaceWhere: written rows must all match the predicate "
                f"{replace_where!r} (delta-spark enforces the same)"
            )
        adds = self._stage_files(df2, snap)
        live = self._read_with_pos(snap)
        matched = live.filter(cond)
        per_file, touched_fps = self._target_bitmaps(snap, matched)
        actions = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "WRITE",
                    "operationParameters": {
                        "mode": "Overwrite",
                        "predicate": replace_where,
                    },
                    "operationMetrics": self._op_metrics(
                        adds, removed=len(per_file)
                    ),
                }
            },
            *([{"metaData": id_meta}] if id_meta else []),
            *({"add": a} for a in adds),
        ]
        if per_file:
            if self._dv_enabled(snap):
                actions += self._dv_mask_actions(snap, per_file, ts)
            else:
                rt_cols = None
                if self._rt_enabled(snap):
                    # replaceWhere keep rows are SURVIVING rows: preserve
                    # their ids/commit versions like the DELETE rewrite
                    # (configs merge into id_meta when one rides this
                    # commit — two metaData actions would last-write-wins
                    # clobber the identity watermark bump)
                    rid_c, rcv_c, extra = self._rt_ensure_mat_cols(
                        snap, base_meta=id_meta
                    )
                    rt_cols = (rid_c, rcv_c)
                    actions += extra
                keep = (
                    live.filter(F.col("__fp").isin(touched_fps))
                    .filter(~F.coalesce(cond, F.lit(False)))
                    .drop("__fp", "__ri")
                )
                actions += [
                    {"add": a}
                    for a in self._stage_files(keep, snap, rt_cols)
                ]
                actions += self._remove_actions(snap, list(per_file), ts)
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"overwrite lost the race for version {v}: a concurrent "
                "writer committed first; re-read and retry"
            )
        return v

    @staticmethod
    def _op_metrics(adds: list[dict], removed: int | None = None) -> dict:
        """delta-spark style ``commitInfo.operationMetrics`` (string-valued
        per the protocol's convention) derived from the staged add payloads
        — no extra jobs, the stats already carry numRecords."""
        rows = 0
        for a in adds:
            st = a.get("stats")
            if isinstance(st, str):
                try:
                    st = json.loads(st)
                except ValueError:
                    st = None
            rows += int((st or {}).get("numRecords") or 0)
        out = {
            "numFiles": str(len(adds)),
            "numOutputRows": str(rows),
            "numOutputBytes": str(
                sum(int(a.get("size") or 0) for a in adds)
            ),
        }
        if removed is not None:
            out["numRemovedFiles"] = str(removed)
        return out

    def _read_with_pos(self, snap: DeltaSnapshot) -> DataFrame:
        """LOGICAL columns + ``__fp`` (absolute file path) + ``__ri``
        (physical row index), live rows only (existing DVs applied) — the
        targeting scan for row-level DML on a real Delta table.  On row
        tracking tables the result also carries ``__rid``/``__rcv``: each
        row's current row id / commit version, so rewrite ops can
        materialize preserved ids into the files they stage."""
        rt = self._rt_enabled(snap)
        rid_col, rcv_col = self._rt_mat_cols(snap) if rt else (None, None)
        phys_schema = snap.physical_schema()
        if rt:
            # materialized row-id/commit-version columns are EXTRA physical
            # columns (not part of the logical schema); files predating
            # them null-fill under an explicit read schema
            from pyspark.sql.types import LongType, StructField

            extra = [
                StructField(c, LongType(), True)
                for c in (rid_col, rcv_col)
                if c
            ]
            phys_schema = StructType(list(phys_schema.fields) + extra)
        df = self._scan_files(snap, snap.files, phys_schema, pos=True)
        cols = self._logical_cols(snap) + ["__fp", "__ri"]
        if not rt:
            return df.select(*cols)
        cols += [
            (F.col(c) if c else F.lit(None).cast("long")).alias(alias)
            for c, alias in ((rid_col, "__mat_rid"), (rcv_col, "__mat_rcv"))
        ]
        return self._rt_with_current_ids(df.select(*cols), snap)

    def _target_bitmaps(
        self, snap: DeltaSnapshot, matched: DataFrame
    ) -> tuple[dict[str, tuple[bytes, int]], list[str]]:
        """Run the row-level-DML targeting scan's bitmap aggregation: the
        matched (``__fp``, ``__ri``) pairs are folded into per-file roaring
        bitmaps ON THE EXECUTORS (dv.collect_file_bitmaps), so the driver
        collects one compressed payload per touched file — O(files), never
        O(matched rows).  Returns ({LOG add-path: (bitmap bytes,
        cardinality)}, sorted raw ``_metadata.file_path`` strings for the
        copy-on-write path's isin filter).  Log paths are resolved through
        the disk-path map — never by re-encoding."""
        from urllib.parse import unquote

        from delta_lake_validation_spark.sources.dv import (
            collect_file_bitmaps,
        )

        fp_bitmaps = collect_file_bitmaps(matched)
        rel_of = self._rel_by_disk_path(snap)
        per_file: dict[str, tuple[bytes, int]] = {}
        for fp, payload in fp_bitmaps.items():
            # _metadata.file_path is a URI: a '%' in the ON-DISK name (e.g.
            # hive-escaped ':' -> %3A) arrives re-escaped as %253A — unquote
            # once to recover the disk path the map is keyed by
            per_file[rel_of[strip_scheme(unquote(fp))]] = payload
        return per_file, sorted(fp_bitmaps)

    def _write_cdc(self, df_logical: DataFrame, snap: DeltaSnapshot) -> list[dict]:
        """Stage ``_change_data`` files (physical data columns +
        ``_change_type``; partition values live in the cdc actions, not the
        file) and return the cdc actions."""
        import uuid as _uuid
        from urllib.parse import quote

        phys_parts = [snap.phys(c) for c in snap.partition_columns]
        out_cols = [
            F.col(f.name).cast(f.dataType).alias(snap.phys(f.name))
            for f in snap.schema.fields
        ] + [F.col("_change_type")]
        staging = f"{self.location}/_staging-cdc-{_uuid.uuid4().hex}"
        writer = df_logical.select(*out_cols).write.mode("overwrite")
        if phys_parts:
            writer = writer.partitionBy(*phys_parts)
        with _staging_write_conf(self.spark):
            writer.parquet(staging)
        from delta_lake_validation_spark.sources.acid.table import (
            _partition_values,
        )

        sizes = {
            strip_scheme(p): sz
            for p, sz in self.fs.list_files_with_size(staging)
            if p.endswith(".parquet")
        }
        base = strip_scheme(staging)
        actions: list[dict] = []
        for f_abs in sorted(sizes):
            rel_dir = f_abs[len(base):].rsplit("/", 1)[0].strip("/")
            pv = _partition_values(rel_dir)
            new_rel = (
                "_change_data/"
                + (rel_dir + "/" if rel_dir else "")
                + f"cdc-{_uuid.uuid4().hex}.parquet"
            )
            self.fs.rename(f_abs, f"{self.location}/{new_rel}")
            actions.append(
                {
                    "cdc": {
                        "path": quote(new_rel, safe="/!$&'()*+,;=:@"),
                        "partitionValues": pv,
                        "size": sizes[f_abs],
                        "dataChange": False,
                    }
                }
            )
        self.fs.delete(staging, recursive=True)
        return actions

    def delete(self, predicate: str) -> int:
        """Row-level DELETE on a REAL Delta table.  When the table already
        carries the deletionVectors feature (and has it enabled), touched
        files are re-added with merged protocol-true DV sidecars — no data
        rewritten, O(matched rows).  Otherwise the touched files are
        rewritten copy-on-write, minus the matching rows (NULL-predicate
        rows are kept, as Delta does).  With CDF enabled the commit carries
        ``_change_data`` files of the deleted rows, so any Delta CDF reader
        (this engine's included) serves the changes row-accurately."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "delete")
        if (
            predicate.strip().lower() in ("true", "1=1", "1 = 1")
            and not self._cdf_enabled(snap)
        ):
            # DELETE without WHERE: metadata-only remove-all commit — no
            # targeting scan at all (delta-spark's truncate fast path).
            # With CDF enabled we fall through so the commit carries the
            # deleted rows as _change_data, which our conservative CDF
            # reader requires.
            ts = int(_time.time() * 1000)
            actions = [
                {
                    "commitInfo": {
                        "timestamp": ts,
                        "operation": "DELETE",
                        "operationParameters": {"predicate": predicate},
                    }
                },
                *self._remove_actions(snap, list(snap.files), ts),
            ]
            v = snap.version + 1
            if not self._try_commit(v, actions):
                raise DeltaProtocolError(
                    f"delete lost the race for version {v}; re-read and retry"
                )
            return v
        cond = F.expr(predicate)
        live = self._read_with_pos(snap)
        matched = live.filter(cond)
        per_file, touched_fps = self._target_bitmaps(snap, matched)
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "DELETE",
                    "operationParameters": {"predicate": predicate},
                    "operationMetrics": {
                        "numRemovedFiles": str(len(per_file)),
                        "numDeletedRows": str(
                            sum(card for _, card in per_file.values())
                        ),
                    },
                }
            }
        ]
        v = snap.version + 1
        if not per_file:
            if not self._try_commit(v, actions):
                raise DeltaProtocolError(
                    f"delete lost the race for version {v}; re-read and retry"
                )
            return v
        if self._cdf_enabled(snap):
            actions += self._write_cdc(
                matched.drop("__fp", "__ri").withColumn(
                    "_change_type", F.lit("delete")
                ),
                snap,
            )
        if self._dv_enabled(snap):
            actions += self._dv_mask_actions(snap, per_file, ts)
        else:
            rt_cols = None
            if self._rt_enabled(snap):
                # copy-on-write on a row-tracking table: surviving rows
                # keep their ids/commit versions via the materialized
                # columns (__rid/__rcv came from the targeting scan)
                rid_c, rcv_c, extra = self._rt_ensure_mat_cols(snap)
                rt_cols = (rid_c, rcv_c)
                actions += extra
            # match on the exact _metadata.file_path strings the targeting
            # scan returned (URI scheme/slash forms vary by filesystem)
            keep = (
                live.filter(F.col("__fp").isin(touched_fps))
                .filter(~F.coalesce(cond, F.lit(False)))
                .drop("__fp", "__ri")
            )
            actions += [
                {"add": a} for a in self._stage_files(keep, snap, rt_cols)
            ]
            actions += self._remove_actions(snap, list(per_file), ts)
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"delete lost the race for version {v}: a concurrent writer "
                "committed first; re-read and retry"
            )
        return v

    def update(self, assignments: dict[str, str], predicate: str) -> int:
        """Row-level UPDATE on a REAL Delta table: copy-on-write rewrite of
        the touched files (non-matching rows unchanged, matching rows with
        the assignment expressions applied); on a deletionVectors-enabled
        table the old rows are DV-masked instead and only the updated rows
        land in a new file.  With CDF enabled the commit carries
        ``_change_data`` update_preimage/update_postimage rows."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "update")
        logical = [f.name for f in snap.schema.fields]
        unknown = set(assignments) - set(logical)
        if unknown:
            raise DeltaProtocolError(
                f"UPDATE assigns unknown columns {sorted(unknown)}"
            )
        ident_assigned = set(assignments) & {
            f.name for f, _ in self._identity_fields(snap)
        }
        if ident_assigned:
            raise DeltaProtocolError(
                f"UPDATE assigns identity columns {sorted(ident_assigned)} "
                "— identity values are system-generated"
            )
        cond = F.expr(predicate)
        sets = {c: F.expr(e) for c, e in assignments.items()}
        live = self._read_with_pos(snap)
        matched = live.filter(cond)
        per_file, touched_fps = self._target_bitmaps(snap, matched)
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "UPDATE",
                    "operationParameters": {"predicate": predicate},
                }
            }
        ]
        v = snap.version + 1
        if not per_file:
            if not self._try_commit(v, actions):
                raise DeltaProtocolError(
                    f"update lost the race for version {v}; re-read and retry"
                )
            return v
        rt_cols = None
        rt_sel: list = []
        if self._rt_enabled(snap):
            # updated rows KEEP their row id; their commit version resets
            # to this commit (null materialized value -> the new add's
            # defaultRowCommitVersion).  Kept rows preserve both.
            rid_c, rcv_c, extra = self._rt_ensure_mat_cols(snap)
            rt_cols = (rid_c, rcv_c)
            actions += extra
            rt_sel = [
                F.col("__rid"),
                F.lit(None).cast("long").alias("__rcv"),
            ]
        updated = matched.select(
            *[(sets[c] if c in sets else F.col(c)).alias(c) for c in logical],
            *rt_sel,
        )
        if self._cdf_enabled(snap):
            pre = matched.drop("__fp", "__ri").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = updated.withColumn(
                "_change_type", F.lit("update_postimage")
            )
            actions += self._write_cdc(pre.unionByName(post), snap)
        if self._dv_enabled(snap):
            actions += self._dv_mask_actions(snap, per_file, ts)
            actions += [
                {"add": a}
                for a in self._stage_files(updated, snap, rt_cols)
            ]
        else:
            keep = (
                live.filter(F.col("__fp").isin(touched_fps))
                .filter(~F.coalesce(cond, F.lit(False)))
                .drop("__fp", "__ri")
            )
            rewritten = keep.unionByName(updated)
            actions += [
                {"add": a}
                for a in self._stage_files(rewritten, snap, rt_cols)
            ]
            actions += self._remove_actions(snap, list(per_file), ts)
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"update lost the race for version {v}: a concurrent writer "
                "committed first; re-read and retry"
            )
        return v

    def merge_upsert(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE upsert on a REAL Delta table (the reference's J4 shape:
        WHEN MATCHED UPDATE SET all columns, WHEN NOT MATCHED INSERT all —
        updates win).  EVERY matched target row takes the source row's
        values (duplicate-key target rows each update, preserving their
        multiplicity, as Delta does); matched rows are DV-masked
        (deletionVectors tables) or their files rewritten copy-on-write.
        Source keys must be unique, as Delta's MERGE demands (multiple
        matches are ambiguous).  CDF commits carry update_preimage/
        update_postimage per matched target row and insert rows for new
        keys."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "merge")
        logical = [f.name for f in snap.schema.fields]
        if set(source.columns) != set(logical):
            raise DeltaProtocolError(
                f"MERGE source schema mismatch: table has {sorted(logical)}, "
                f"source has {sorted(source.columns)}"
            )
        # one aggregation pass (not count + distinct-count, two full scans)
        dup_keys = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup_keys:
            raise DeltaProtocolError(
                "MERGE source has duplicate keys — multiple matches per "
                "target row are ambiguous (Delta raises here too)"
            )
        # allowExplicitInsert identity tables (the only kind the merge gate
        # admits): raise the high-water mark over the source's values
        _, id_meta = self._with_identity(source, snap)
        live = self._read_with_pos(snap)
        src_keys = source.select(*keys).distinct()
        matched = live.join(src_keys, keys, "inner")
        per_file, touched_fps = self._target_bitmaps(snap, matched)
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "MERGE",
                    "operationParameters": {"matchedPredicates": "update",
                                            "notMatchedPredicates": "insert"},
                }
            },
            *([{"metaData": id_meta}] if id_meta else []),
        ]
        rt_cols = None
        rt_post: list = []
        rt_ins: list = []
        if self._rt_enabled(snap):
            # matched target rows keep their row id (commit version resets
            # to this commit); inserted rows get fresh ids from the add's
            # baseRowId + row_index (both materialized values null).
            # Configs merge into id_meta when one rides this commit.
            rid_c, rcv_c, extra = self._rt_ensure_mat_cols(
                snap, base_meta=id_meta
            )
            rt_cols = (rid_c, rcv_c)
            actions += extra
            rt_post = [
                F.col("__rid"),
                F.lit(None).cast("long").alias("__rcv"),
            ]
            rt_ins = [
                F.lit(None).cast("long").alias("__rid"),
                F.lit(None).cast("long").alias("__rcv"),
            ]
        # one updated row PER MATCHED TARGET ROW (multiplicity preserved),
        # plus the source rows matching nothing
        post = (
            matched.select(*keys, *([F.col("__rid")] if rt_cols else []))
            .join(source, keys, "inner")
            .select(*logical, *rt_post)
        )
        tgt_keys = live.select(*keys).distinct()
        ins = source.join(tgt_keys, keys, "anti").select(*logical, *rt_ins)
        if self._cdf_enabled(snap):
            pre = matched.drop("__fp", "__ri").withColumn(
                "_change_type", F.lit("update_preimage")
            )
            cdc = (
                pre.unionByName(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                ).unionByName(ins.withColumn("_change_type", F.lit("insert")))
            )
            actions += self._write_cdc(cdc, snap)
        new_rows = post.unionByName(ins)
        if self._dv_enabled(snap) and per_file:
            actions += self._dv_mask_actions(snap, per_file, ts)
            actions += [
                {"add": a}
                for a in self._stage_files(new_rows, snap, rt_cols)
            ]
        else:
            keep = (
                live.filter(F.col("__fp").isin(touched_fps))
                .join(src_keys, keys, "anti")
                .drop("__fp", "__ri")
            )
            rewritten = keep.unionByName(new_rows)
            actions += [
                {"add": a}
                for a in self._stage_files(rewritten, snap, rt_cols)
            ]
            actions += self._remove_actions(snap, list(per_file), ts)
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"merge lost the race for version {v}: a concurrent writer "
                "committed first; re-read and retry"
            )
        return v

    def merge(
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
        """Multi-clause MERGE (the full delta-spark clause matrix over
        equality keys):

        * ``matched`` — ``"update"`` (matched target rows replaced by
          their source row, per target-row multiplicity), ``"delete"``
          (matched rows removed), or ``None`` (matched rows untouched).
          ``matched_predicate`` (SQL over TARGET columns) restricts which
          matched rows take the clause; the rest stay.
        * ``not_matched`` — ``"insert"`` (source rows with no target
          match are appended) or ``None``.
        * ``not_matched_by_source`` — ``"delete"`` removes target rows
          whose key has no source row (optionally restricted by
          ``not_matched_by_source_predicate``), the CDC-apply /
          sync-deletion clause.

        ``merge_upsert`` is the (update, insert) specialization and the
        reference's only shape (src/validation_suite.py:489-524); this
        generalization serves retention sweeps (matched delete) and full
        table synchronization.  DV tables mask removed rows in place;
        otherwise touched files rewrite copy-on-write.  CDF commits carry
        update_preimage/update_postimage, delete, and insert rows."""
        import time as _time

        if matched not in ("update", "delete", None):
            raise ValueError(f"matched must be update/delete/None, got {matched!r}")
        if not_matched not in ("insert", None):
            raise ValueError(f"not_matched must be insert/None, got {not_matched!r}")
        if not_matched_by_source not in ("delete", None):
            raise ValueError(
                "not_matched_by_source must be delete/None, "
                f"got {not_matched_by_source!r}"
            )
        snap = self.snapshot()
        self._check_writable(snap, "merge")
        logical = [f.name for f in snap.schema.fields]
        needs_full = matched == "update" or not_matched == "insert"
        if needs_full and set(source.columns) != set(logical):
            raise DeltaProtocolError(
                f"MERGE source schema mismatch: table has {sorted(logical)}, "
                f"source has {sorted(source.columns)}"
            )
        if not set(keys) <= set(source.columns):
            raise DeltaProtocolError(
                f"MERGE keys {keys} not all present in source columns"
            )
        if matched == "update":
            dup = (
                source.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise DeltaProtocolError(
                    "MERGE source has duplicate keys — multiple matches per "
                    "target row are ambiguous (Delta raises here too)"
                )
        _, id_meta = (
            self._with_identity(source, snap) if needs_full else (None, None)
        )
        live = self._read_with_pos(snap)
        src_keys = source.select(*keys).distinct()
        matched_all = live.join(src_keys, keys, "inner")
        clause_rows = (
            matched_all.filter(matched_predicate)
            if matched_predicate
            else matched_all
        ) if matched else matched_all.limit(0)
        by_source = live.join(src_keys, keys, "anti")
        if not_matched_by_source == "delete":
            if not_matched_by_source_predicate:
                by_source = by_source.filter(not_matched_by_source_predicate)
        else:
            by_source = by_source.limit(0)
        removal = clause_rows.select("__fp", "__ri").unionByName(
            by_source.select("__fp", "__ri")
        )
        removal_rows = clause_rows.unionByName(by_source)
        per_file, touched_fps = self._target_bitmaps(
            snap, removal_rows
        )
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "MERGE",
                    "operationParameters": {
                        "matchedPredicates": json.dumps(
                            [
                                {
                                    "actionType": matched,
                                    **(
                                        {"predicate": matched_predicate}
                                        if matched_predicate
                                        else {}
                                    ),
                                }
                            ]
                            if matched
                            else []
                        ),
                        "notMatchedPredicates": json.dumps(
                            [{"actionType": "insert"}] if not_matched else []
                        ),
                        "notMatchedBySourcePredicates": json.dumps(
                            [
                                {
                                    "actionType": "delete",
                                    **(
                                        {
                                            "predicate": (
                                                not_matched_by_source_predicate
                                            )
                                        }
                                        if not_matched_by_source_predicate
                                        else {}
                                    ),
                                }
                            ]
                            if not_matched_by_source
                            else []
                        ),
                    },
                }
            },
            *([{"metaData": id_meta}] if id_meta else []),
        ]
        rt_cols = None
        rt_post: list = []
        rt_ins: list = []
        if self._rt_enabled(snap):
            # updated target rows keep their row id (commit version resets
            # to this commit); inserts get fresh ids; kept rows preserve
            # both via __rid/__rcv from the targeting scan.  Configs merge
            # into id_meta when one rides this commit.
            rid_c, rcv_c, extra = self._rt_ensure_mat_cols(
                snap, base_meta=id_meta
            )
            rt_cols = (rid_c, rcv_c)
            actions += extra
            rt_post = [
                F.col("__rid"),
                F.lit(None).cast("long").alias("__rcv"),
            ]
            rt_ins = [
                F.lit(None).cast("long").alias("__rid"),
                F.lit(None).cast("long").alias("__rcv"),
            ]
        post = (
            clause_rows.select(
                *keys, *([F.col("__rid")] if rt_cols else [])
            )
            .join(source, keys, "inner")
            .select(*logical, *rt_post)
            if matched == "update"
            else None
        )
        ins = None
        if not_matched == "insert":
            tgt_keys = live.select(*keys).distinct()
            ins = source.join(tgt_keys, keys, "anti").select(
                *logical, *rt_ins
            )
        if self._cdf_enabled(snap):
            pieces = []
            if matched == "update":
                pieces.append(
                    clause_rows.drop("__fp", "__ri").withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                )
                pieces.append(
                    post.withColumn("_change_type", F.lit("update_postimage"))
                )
            elif matched == "delete":
                pieces.append(
                    clause_rows.drop("__fp", "__ri").withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            if not_matched_by_source == "delete":
                pieces.append(
                    by_source.drop("__fp", "__ri").withColumn(
                        "_change_type", F.lit("delete")
                    )
                )
            if ins is not None:
                pieces.append(ins.withColumn("_change_type", F.lit("insert")))
            if pieces:
                cdc = pieces[0]
                for p in pieces[1:]:
                    cdc = cdc.unionByName(p)
                actions += self._write_cdc(cdc, snap)
        new_rows = None
        for piece in (post, ins):
            if piece is None:
                continue
            new_rows = piece if new_rows is None else new_rows.unionByName(piece)
        if self._dv_enabled(snap) and per_file:
            actions += self._dv_mask_actions(snap, per_file, ts)
            if new_rows is not None:
                actions += [
                    {"add": a}
                    for a in self._stage_files(new_rows, snap, rt_cols)
                ]
        else:
            keep = (
                live.filter(F.col("__fp").isin(touched_fps))
                .join(removal, ["__fp", "__ri"], "anti")
                .drop("__fp", "__ri")
            )
            rewritten = (
                keep.unionByName(new_rows) if new_rows is not None else keep
            )
            actions += [
                {"add": a}
                for a in self._stage_files(rewritten, snap, rt_cols)
            ]
            actions += self._remove_actions(snap, list(per_file), ts)
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"merge lost the race for version {v}: a concurrent writer "
                "committed first; re-read and retry"
            )
        return v

    def _partition_prune(self, snap: DeltaSnapshot, where: str):
        """Files whose partitionValues satisfy ``where`` (partition columns
        only), or None when the predicate references anything else —
        evaluated by Spark on a tiny local frame of partition tuples."""
        if not snap.partition_columns:
            return None
        part_fields = [
            f for f in snap.schema.fields if f.name in snap.partition_columns
        ]
        rows = []
        for rel, meta in snap.files.items():
            pv = meta.get("partitionValues", {})
            rows.append(
                (rel, *[pv.get(snap.phys(f.name)) for f in part_fields])
            )
        if not rows:
            return []
        # explicit all-string schema: an all-null partition column (legal)
        # would otherwise fail type inference before the try below
        pdf = self.spark.createDataFrame(
            rows,
            "__path string, "
            + ", ".join(f"`{f.name}` string" for f in part_fields),
        )
        for f in part_fields:
            pdf = pdf.withColumn(f.name, F.col(f.name).cast(f.dataType))
        try:
            return sorted(
                r[0] for r in pdf.filter(F.expr(where)).select("__path").collect()
            )
        except Exception:
            return None  # predicate references non-partition columns

    def optimize(
        self,
        target_files: int = 1,
        zorder_by: list[str] | None = None,
        where: str | None = None,
        max_file_bytes: int = 1 << 30,
    ) -> int:
        """Bin-packing compaction on a REAL Delta table (ref: OPTIMIZE and
        its documented WHERE / ZORDER BY forms,
        src/validation_suite.py:466-477): rewrite the scoped live rows into
        ``target_files`` files per partition (one by default), committing
        adds+removes with ``dataChange: false`` so streaming readers skip
        the commit.  ``where`` scopes to partitions (partition columns
        only, as Delta requires); ``zorder_by`` clusters the rewritten
        files by the columns' interleaved Morton code.  Partitions already
        at/below the target file count are skipped unless a file carries a
        deletion vector — OPTIMIZE materializes DVs away, exactly as
        Delta's does.  Allowed on appendOnly tables (no row changes).

        ``max_file_bytes`` (default 1 GiB, delta-spark's optimize
        maxFileSize) bounds OUTPUT files by the log's own input sizes: a
        partition whose scoped bytes exceed it splits into
        ``ceil(bytes/max)`` shuffle groups instead of funneling into one
        task / one file — without this, OPTIMIZE on a 1 TB partition is a
        single-task, single-file rewrite, the classic 100× wall."""
        import time as _time

        snap = self.snapshot()
        self._check_writer_protocol(snap)
        if zorder_by is None:
            # clustered table (liquid clustering): OPTIMIZE is what
            # establishes the clustering — default to Z-ordering by the
            # delta.clustering domain's clusteringColumns (top-level ones;
            # our Morton key interleaves top-level columns).  Physical
            # names per the spec; mapped back to logical by the helper.
            cols = [c for c in clustering_columns(snap) if "." not in c]
            if cols:
                zorder_by = cols
        in_scope = set(snap.files)
        if where is not None:
            pruned = self._partition_prune(snap, where)
            if pruned is None:
                raise DeltaProtocolError(
                    "OPTIMIZE ... WHERE must reference partition columns "
                    f"only ({list(snap.partition_columns)}); got {where!r}"
                )
            in_scope = set(pruned)
        if zorder_by:
            unknown = set(zorder_by) - {f.name for f in snap.schema.fields}
            if unknown:
                raise DeltaProtocolError(
                    f"ZORDER BY references unknown columns {sorted(unknown)}"
                )
        by_part: dict[tuple, list[str]] = {}
        for rel in in_scope:
            meta = snap.files[rel]
            key = tuple(sorted((meta.get("partitionValues") or {}).items()))
            by_part.setdefault(key, []).append(rel)
        rewrite: list[str] = []
        for rels in by_part.values():
            has_dv = any(snap.files[r].get("deletionVector") for r in rels)
            # ZORDER always rewrites its scope (the point is the row
            # ordering, not the file count — Delta does the same); plain
            # compaction skips already-compact partitions unless a DV
            # needs materializing away
            if zorder_by or len(rels) > target_files or has_dv:
                rewrite.extend(rels)
        if not rewrite:
            return snap.version  # nothing to compact: no empty commit
        scoped = DeltaSnapshot(
            snap.version,
            snap.schema,
            snap.partition_columns,
            {p: snap.files[p] for p in rewrite},
            snap.properties,
            snap.metadata_id,
            snap.name,
            snap.protocol,
        )
        rt_cols = None
        if self._rt_enabled(snap):
            # compaction preserves BOTH the row id and the commit version
            # of every surviving row (OPTIMIZE changes no logical data):
            # read the scoped files through the row-id-carrying scan and
            # materialize __rid/__rcv into the rewritten files
            rid_c, rcv_c, rt_extra_actions = self._rt_ensure_mat_cols(snap)
            rt_cols = (rid_c, rcv_c)
            live = self._read_with_pos(scoped).drop("__fp", "__ri")
        else:
            rt_extra_actions = []
            live = self._read_snapshot(scoped)
        # size-aware split: per-partition scoped bytes come from the log
        # itself (no extra scan); a partition over max_file_bytes gets
        # ceil(bytes/max) shuffle groups instead of one task / one file
        part_bytes: dict[tuple, int] = {}
        for rel in rewrite:
            meta = snap.files[rel]
            key = tuple(
                sorted((meta.get("partitionValues") or {}).items())
            )
            part_bytes[key] = part_bytes.get(key, 0) + int(
                meta.get("size", 0) or 0
            )
        buckets = {
            k: max(1, -(-b // max_file_bytes)) for k, b in part_bytes.items()
        }
        total_buckets = sum(buckets.values())
        oversized = any(nb > 1 for nb in buckets.values())
        part_cols = [F.col(c) for c in snap.partition_columns]
        if zorder_by:
            if snap.partition_columns:
                from delta_lake_validation_spark.functions.zorder import (
                    zorder_key,
                )

                live = live.withColumn("__z", zorder_key(live, zorder_by))
                if oversized:
                    # range-split on (partition, z): big partitions get
                    # proportionally more output files, each holding a
                    # contiguous z-range — tighter stats than one huge file
                    live = live.repartitionByRange(
                        total_buckets, *part_cols, F.col("__z")
                    )
                else:
                    live = live.repartition(*part_cols)
                live = live.sortWithinPartitions("__z").drop("__z")
            else:
                from delta_lake_validation_spark.functions.zorder import (
                    zorder_sort,
                )

                live = zorder_sort(
                    live,
                    zorder_by,
                    num_partitions=max(1, int(target_files), total_buckets),
                )
        elif snap.partition_columns:
            if oversized:
                # monotonically_increasing_id orders rows by input split,
                # so range boundaries fall inside big partitions and each
                # group stays under ~max_file_bytes
                live = (
                    live.withColumn("__m", F.monotonically_increasing_id())
                    .repartitionByRange(total_buckets, *part_cols, F.col("__m"))
                    .drop("__m")
                )
            else:
                live = live.repartition(*part_cols)
        else:
            n_out = max(1, int(target_files), total_buckets)
            live = (
                live.coalesce(n_out)
                if n_out <= max(1, int(target_files))
                else live.repartition(n_out)
            )
        adds = self._stage_files(live, snap, rt_cols)
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "OPTIMIZE",
                    "operationMetrics": {
                        "numAddedFiles": str(len(adds)),
                        "numRemovedFiles": str(len(rewrite)),
                    },
                    "operationParameters": {
                        "targetFiles": int(target_files),
                        **({"zOrderBy": json.dumps(zorder_by)} if zorder_by else {}),
                        **({"predicate": where} if where else {}),
                    },
                }
            },
            *rt_extra_actions,
        ]
        for a in adds:
            a["dataChange"] = False
            actions.append({"add": a})
        actions += self._remove_actions(snap, rewrite, ts, data_change=False)
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"optimize lost the race for version {v}; re-read and retry"
            )
        return v

    def unexpired_tombstones(self, snap: DeltaSnapshot) -> list[dict]:
        """Remove tombstones still inside the table's
        ``delta.deletedFileRetentionDuration`` window (default 1 week):
        every removed path not re-added by a later commit, newest remove
        per path.  Checkpoints must carry these (Delta spec — after JSON
        log cleanup they are the only record third-party engines have for
        vacuum coordination); ADVICE r3 flagged their omission."""
        import time as _t

        retention_ms = _interval_ms(
            snap.properties.get("delta.deletedFileRetentionDuration"),
            7 * 24 * 3600 * 1000,
        )
        cutoff = int(_t.time() * 1000) - retention_ms
        tomb: dict[str, dict] = {}
        start = 0
        ckpt = self._last_checkpoint()
        if ckpt is not None:
            v0, parts, kind = ckpt
            for d in self._checkpoint_actions(parts, kind):
                if d.get("remove"):
                    r = d["remove"]
                    tomb[r["path"]] = r
                if d.get("add"):
                    tomb.pop(d["add"]["path"], None)
            start = v0 + 1
        for v in range(start, snap.version + 1):
            acts = self._commit_actions(v)
            # removes first, adds clear: a DV-rewriting DELETE removes and
            # re-adds the SAME path in one commit — that path stays live
            for a in acts:
                if "remove" in a:
                    tomb[a["remove"]["path"]] = a["remove"]
            for a in acts:
                if "add" in a:
                    tomb.pop(a["add"]["path"], None)
        return sorted(
            (
                r for r in tomb.values()
                if int(r.get("deletionTimestamp") or 0) >= cutoff
            ),
            key=lambda r: r["path"],
        )

    def vacuum(
        self,
        retain_hours: float = 168.0,
        dry_run: bool = False,
        distributed: bool | None = None,
    ) -> list[str]:
        """VACUUM a REAL Delta table (ref: VACUUM RETAIN 0 HOURS,
        src/validation_suite.py:456-463): delete files under the table dir
        that the LATEST snapshot does not reference (data parquet, stale DV
        sidecars, ``_change_data`` files) and that are older than the
        retention cutoff.  ``retain_hours=0`` reclaims immediately and
        breaks time travel to older versions, exactly as in Delta; the
        mtime check protects in-flight writers' staged files.  Dirs whose
        top segment starts with ``_`` are skipped (protocol: readers ignore
        them) except ``_change_data``.  Writer-feature gated: deleting
        files under a table whose commits we might not see (unsupported
        writer features) would corrupt it.

        ``distributed`` (default auto: table has ≥``_VACUUM_DISTRIBUTED_
        FILES`` live files and pyarrow speaks the filesystem) runs the
        listing, the active-set anti-join, and the deletes as Spark jobs —
        delta-spark's own vacuum shape.  The driver path's per-file mtime
        RPC and serial-delete loops are the scale hazard this removes: at
        1M files that is 1M round-trips; distributed, mtimes ride the
        recursive listings (one batch call per directory, fanned over
        executors) and deletes run ``foreachPartition``."""
        import time as _t

        from delta_lake_validation_spark.sources.dv import dv_relative_path

        snap = self.snapshot()
        self._check_writer_protocol(snap)
        root = strip_scheme(self.location)
        # compare DECODED on-disk paths: log add-paths are percent-encoded
        active = {strip_scheme(self._abs(p)) for p in snap.files}
        active_dv = set()
        for meta in snap.files.values():
            d = meta.get("deletionVector")
            if not d:
                continue
            if d.get("storageType") == "u":
                active_dv.add(
                    f"{root}/{dv_relative_path(d['pathOrInlineDv'])}"
                )
            elif d.get("storageType") == "p":
                active_dv.add(strip_scheme(d["pathOrInlineDv"]))
        cutoff = _t.time() - retain_hours * 3600
        if distributed is None:
            # local filesystems stat in microseconds — the driver loop wins
            # there at any size (measured: 20k local files, 0.35 s driver vs
            # 2.8 s of Spark-job overhead).  The distributed path exists for
            # object stores, where each mtime/delete is a network round trip
            # and batch listings + foreachPartition deletes are the only
            # shape that survives 1M files.
            distributed = (
                self.spark is not None
                and not is_local(self.location)
                and len(snap.files) >= _VACUUM_DISTRIBUTED_FILES
            )
        doomed: list[str] | None = None
        if distributed:
            doomed = self._vacuum_distributed(
                root, active, active_dv, cutoff, dry_run
            )
        if doomed is None:  # driver path (small table / non-pyarrow FS)
            doomed = []
            for f_abs in self.fs.list_files(self.location):
                rel = strip_scheme(f_abs)[len(root):].lstrip("/")
                top = rel.split("/", 1)[0]
                if top.startswith("_") and top != "_change_data":
                    continue  # _delta_log, _staging-*, _SUCCESS markers …
                if strip_scheme(f_abs) in active:
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

    def _vacuum_distributed(
        self,
        root: str,
        active: set[str],
        active_dv: set[str],
        cutoff: float,
        dry_run: bool,
    ) -> list[str] | None:
        """Spark-job vacuum (fs.list_stale_distributed): executor-side
        recursive listings (mtimes come back IN the listing — no per-file
        stat RPCs), a Catalyst anti-join against the active file set, and
        ``foreachPartition`` deletes.  Driver bytes: the active set it
        already holds plus the doomed list it must return.  None when
        pyarrow can't open this filesystem (the caller falls back to the
        driver loop)."""
        from delta_lake_validation_spark.sources.fs import (
            delete_files_distributed,
            list_stale_distributed,
            rel_under,
        )

        # reduce the keep set to LOCATION-RELATIVE form: the distributed
        # listing compares in pyarrow-normalized space, where scheme-
        # qualified URIs ('s3://bucket/tbl/...') never match FileInfo.path
        # ('bucket/tbl/...').  Keep entries outside the table root (shallow
        # clone sources, 'p'-storage DVs elsewhere) are never listed, so
        # dropping them from the anti-join side is safe.
        keep_rel = set()
        for p in active | active_dv:
            r = rel_under(root, p)
            if r:
                keep_rel.add(r)
        doomed_rel = list_stale_distributed(
            self.spark,
            self.location,
            keep_rel,
            cutoff,
            lambda name: name.startswith("_") and name != "_change_data",
        )
        if doomed_rel is None:
            return None
        if not dry_run and doomed_rel:
            delete_files_distributed(self.spark, self.location, doomed_rel)
        return sorted(doomed_rel)

    def _manifest_sidecar_paths(self, name: str) -> set[str]:
        """Absolute paths of every sidecar a v2 manifest references."""
        if name.endswith(".json"):
            actions = [
                json.loads(line)
                for line in self._read_text(name).splitlines()
                if line.strip()
            ]
        else:
            actions = self._parquet_rows(
                [f"{self.log_dir}/{name}"], ("sidecar",)
            )
        out: set[str] = set()
        for a in actions:
            sc = a.get("sidecar")
            if sc and sc.get("path"):
                p = sc["path"]
                if "://" not in p and not p.startswith("/"):
                    p = f"{self.log_dir}/_sidecars/{p}"
                out.add(strip_scheme(p))
        return out

    def cleanup_log(
        self, retain_hours: float | None = None, dry_run: bool = False
    ) -> list[str]:
        """Metadata cleanup (delta-spark's ``cleanUpExpiredLogs``): delete
        commit JSONs and checkpoint files made obsolete by the newest
        checkpoint, once they are older than
        ``delta.logRetentionDuration`` (default 30 days;
        ``retain_hours`` overrides).  Replay afterwards starts at the
        retained checkpoint — which is why checkpoints must carry remove
        tombstones and txn watermarks — and time travel to cleaned
        versions fails, exactly as in Delta.

        Only files STRICTLY BELOW the newest checkpoint version are
        candidates; commit JSONs are deleted as a contiguous prefix
        (oldest first, stopping at the first one inside the retention
        window) so the surviving JSON tail never has holes.  v2 sidecars
        are reclaimed only when no retained manifest references them.
        Returns the log-dir-relative names deleted (or that would be,
        with ``dry_run``)."""
        import time as _t

        ck = self._last_checkpoint()
        if ck is None:
            return []  # nothing is replayable without the full JSON chain
        ck_v = ck[0]
        snap = self.snapshot()
        if retain_hours is not None:
            retention_ms = int(retain_hours * 3_600_000)
        else:
            retention_ms = _interval_ms(
                snap.properties.get("delta.logRetentionDuration"),
                30 * 86_400_000,
            )
        cutoff = _t.time() - retention_ms / 1000.0
        # checkpointProtection: log entries below
        # delta.requireCheckpointProtectionBeforeVersion may only be
        # truncated "in one go" up to a checkpoint at/past the boundary —
        # a cleanup that leaves a partially-truncated protected range (or
        # truncates below a checkpoint that predates the boundary) is the
        # exact corruption the feature exists to forbid
        try:
            protect_v = int(
                snap.properties.get(
                    "delta.requireCheckpointProtectionBeforeVersion", 0
                )
                or 0
            )
        except (TypeError, ValueError):
            protect_v = 0
        if protect_v > 0 and ck_v < protect_v:
            return []
        names = self._list_log()
        doomed: list[str] = []
        # commit JSONs: contiguous expired prefix below the checkpoint
        commits = sorted(
            (int(m.group(1)), n)
            for n in names
            if (m := _COMMIT_RE.match(n))
        )
        for v, n in commits:
            if v >= ck_v:
                break
            if self.fs.mtime(f"{self.log_dir}/{n}") > cutoff:
                break
            doomed.append(n)
        if protect_v > 0:
            # the doomed commits are a contiguous prefix: if ANY protected
            # commit survives (retention stopped the prefix inside the
            # protected range), every doomed commit is also protected —
            # drop them all, and keep protected checkpoints below too
            doomed_set = set(doomed)
            partial = any(
                v < protect_v and n not in doomed_set for v, n in commits
            )
            if partial:
                doomed = []
        else:
            partial = False
        # obsolete checkpoint files (classic parts + v2 manifests) < ck_v
        retained_manifests = []
        for n in names:
            m = _CHECKPOINT_RE.match(n) or _V2_CHECKPOINT_RE.match(n)
            if not m:
                continue
            v = int(m.group(1))
            if v >= ck_v:
                if _V2_CHECKPOINT_RE.match(n):
                    retained_manifests.append(n)
                continue
            if partial and v < protect_v:
                continue  # protected checkpoint: survives until the one-go sweep
            if self.fs.mtime(f"{self.log_dir}/{n}") > cutoff:
                continue
            doomed.append(n)
        # sidecars: reclaim only what no retained manifest references
        live_sidecars: set[str] = set()
        for n in retained_manifests:
            live_sidecars |= self._manifest_sidecar_paths(n)
        doomed_manifests = [n for n in doomed if _V2_CHECKPOINT_RE.match(n)]
        if doomed_manifests:
            for p in self.fs.list_files(f"{self.log_dir}/_sidecars"):
                if strip_scheme(p) in live_sidecars:
                    continue
                if self.fs.mtime(p) > cutoff:
                    continue
                doomed.append(f"_sidecars/{p.rsplit('/', 1)[-1]}")
        if not dry_run:
            for n in doomed:
                self.fs.delete(f"{self.log_dir}/{n}")
            self._log_names = self._list_log()
        return sorted(doomed)

    def restore(self, version: int) -> int:
        """RESTORE TABLE … TO VERSION AS OF n on a REAL Delta table: one
        commit re-adding the target snapshot's files and removing the
        current ones (Delta's own RESTORE shape — history is preserved,
        the restore is itself a new version).  Files vacuumed since the
        target version fail the restore up front."""
        import time as _time

        snap = self.snapshot()
        self._check_writable(snap, "restore")
        target = self.snapshot(version)
        from delta_lake_validation_spark.sources.dv import dv_relative_path

        missing = [
            p for p in target.files
            if not self.fs.exists(self._abs(p))
        ]
        # DV sidecars the target references must exist too — an add
        # carrying a vacuumed deletion_vector_*.bin makes every later read
        # crash in load_dv_bytes
        for p, a in target.files.items():
            d = a.get("deletionVector")
            if not d or int(d.get("cardinality") or 0) == 0:
                continue
            st = d.get("storageType")
            if st == "u":
                dv_path = f"{self.location}/{dv_relative_path(d['pathOrInlineDv'])}"
            elif st == "p":
                dv_path = d["pathOrInlineDv"]
            else:
                continue  # inline: nothing on disk
            if not self.fs.exists(dv_path):
                missing.append(f"{p} (deletion vector {dv_path})")
        if missing:
            raise DeltaProtocolError(
                f"cannot RESTORE to version {version}: {len(missing)} "
                f"file(s) were vacuumed (e.g. {missing[0]!r})"
            )
        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "RESTORE",
                    "operationParameters": {"version": int(version)},
                }
            }
        ]
        if target.metadata_id != snap.metadata_id or (
            target.schema != snap.schema
            or target.properties != snap.properties
        ):
            # schema/properties changed since the target: restore them too
            actions.append(
                {
                    "metaData": {
                        "id": target.metadata_id,
                        "name": target.name,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(target.schema.jsonValue()),
                        "partitionColumns": list(target.partition_columns),
                        "configuration": dict(target.properties),
                    }
                }
            )
        from delta_lake_validation_spark.sources.dv import dv_unique_id

        def _changed(p: str) -> bool:
            # same path in both snapshots, but the deletion vector differs
            # (rows deleted/restored since the target) — needs remove+add
            return dv_unique_id(
                snap.files[p].get("deletionVector")
            ) != dv_unique_id(target.files[p].get("deletionVector"))

        actions += self._remove_actions(
            snap,
            [p for p in snap.files if p not in target.files or _changed(p)],
            ts,
        )
        actions += [
            {"add": {**a, "dataChange": True}}
            for p, a in target.files.items()
            if p not in snap.files or _changed(p)
        ]
        v = snap.version + 1
        if not self._try_commit(v, actions):
            raise DeltaProtocolError(
                f"restore lost the race for version {v}; re-read and retry"
            )
        return v

    # ------------------------------------------------------ deletion vectors
    def _dv_map(self, entries: dict[str, dict]) -> dict[str, object]:
        """{normalized data-file path: DV entry} for every log entry
        carrying a deletion vector.  Entries are DESCRIPTORS (dv.py
        dv_map_entry): the broadcast ships only path/offset/size metadata
        and executors fetch + decode the sidecar bytes themselves — a
        DV-heavy table (mass retention deletes between OPTIMIZEs) never
        routes bitmap bytes through the driver.  Only on schemes pyarrow
        cannot open does the entry degrade to driver-loaded bytes."""
        from delta_lake_validation_spark.sources.dv import dv_map_entry

        out: dict[str, object] = {}
        for p, a in entries.items():
            d = a.get("deletionVector")
            if d and int(d.get("cardinality") or 0) != 0:
                out[strip_scheme(self._abs(p))] = dv_map_entry(
                    d, self.location, self.fs
                )
        return out

    def _dv_blob(self, action: dict) -> bytes:
        """Serialized bitmap bytes of an add/remove action's DV."""
        from delta_lake_validation_spark.sources.dv import load_dv_bytes

        return load_dv_bytes(
            action["deletionVector"], self.location, self.fs
        )

    def _dv_indices(self, action: dict):
        """Deleted row indices of an add/remove action (empty if no DV)."""
        import numpy as np

        from delta_lake_validation_spark.sources.dv import deserialize_bitmap

        d = action.get("deletionVector")
        if not d or int(d.get("cardinality") or 0) == 0:
            return np.empty(0, dtype=np.int64)
        return deserialize_bitmap(self._dv_blob(action))

    def _dv_filter(
        self,
        df: DataFrame,
        dv_map: dict[str, object],
        keep_member: bool = False,
    ) -> DataFrame:
        """Shared bitmap filter (sources/dv.py apply_dv_filter):
        ``keep_member=False`` (read path) drops DV-deleted rows;
        ``keep_member=True`` (CDF diff path) keeps exactly the bitmap
        rows."""
        from delta_lake_validation_spark.sources.dv import apply_dv_filter

        return apply_dv_filter(self.spark, df, dv_map, keep_member=keep_member)

    def _abs(self, path: str) -> str:
        if path.startswith("/") or "://" in path:
            return path
        # add paths are percent-encoded per the protocol
        from urllib.parse import unquote

        return f"{self.location}/{unquote(path)}"

    def _hive_layout(
        self, entries: dict[str, dict], part_names: list[str], base: str = ""
    ) -> bool:
        """True when every entry's file sits under ``<table>/<base>/`` in
        directories that encode exactly its partitionValues Hive-style, so
        partition discovery from that base is safe.  ``part_names`` are the
        on-disk (physical) partition column names."""
        root = strip_scheme(self.location).rstrip("/") + "/"
        prefix = f"{base}/" if base else ""
        for p, a in entries.items():
            if p.startswith("/") or "://" in p:
                if not strip_scheme(p).startswith(root):
                    # external file (shallow clone): partition discovery
                    # with this table's basePath cannot see its hive dirs
                    return False
                p = strip_scheme(p)[len(root):]
            if not p.startswith(prefix):
                return False
            pv = a.get("partitionValues") or {}
            seen = {}
            for d in p[len(prefix):].split("/")[:-1]:
                if "=" in d:
                    k, _, v = d.partition("=")
                    seen[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
            if any(c not in seen or seen[c] != pv.get(c) for c in part_names):
                return False
        return True

    @staticmethod
    def _stats_skip(a: dict, ranges: dict[str, tuple], snap: DeltaSnapshot) -> bool:
        """True when the add action's stats/partitionValues prove no row can
        satisfy ``ranges`` (conjunctive min/max intersection test).  Missing
        or incomparable stats keep the file — skipping must never be wrong."""
        st = a.get("stats")
        if isinstance(st, str):
            try:
                st = json.loads(st)
            except ValueError:
                st = None
        st = st or {}
        try:
            if int(st.get("numRecords")) == 0:
                return True  # a 0-row file can never produce rows
        except (TypeError, ValueError):
            pass
        mins = st.get("minValues") or {}
        maxs = st.get("maxValues") or {}
        pv = a.get("partitionValues") or {}
        for col, (lower, upper) in ranges.items():
            if col in snap.collated_columns:
                continue  # collated stats order differently: never prune
            # stats and partitionValues speak physical names
            pcol = snap.phys(col) if col in snap.physical else col
            if col in snap.partition_columns:
                v = pv.get(pcol)
                if v is None:
                    continue
                lo = mx = v
            else:
                lo, mx = mins.get(pcol), maxs.get(pcol)
            # one-sided pruning is sound (min alone proves every row is at
            # or above it); each side independently keeps-on-unknown
            try:
                if lower is not None and mx is not None and type(lower)(mx) < lower:
                    return True
            except (TypeError, ValueError):
                pass  # incomparable stat: that side can't prune
            try:
                if upper is not None and lo is not None and type(upper)(lo) > upper:
                    return True
            except (TypeError, ValueError):
                pass
        return False

    def read_where(
        self,
        ranges: dict[str, tuple],
        version: int | None = None,
        distributed: bool | None = None,
    ) -> DataFrame:
        """Multi-column data-skipping scan over a real Delta table: prune
        files whose log ``stats`` (minValues/maxValues JSON, written by every
        Delta writer) cannot intersect the requested ranges — the same
        conjunctive file skipping Delta itself performs, plus partition-value
        pruning for partition columns.  Missing stats keep the file (never
        wrong, only less pruned); the exact residual filter always applies.
        Mirrors ``AcidTable.read_where`` so interop tables skip identically.

        ``distributed`` selects where the pruning loop runs.  ``False``:
        driver-side replay of the whole log (fine up to ~10⁴ files).
        ``True``: "the log is data" — the checkpoint's add rows are pruned
        by a Catalyst job (stats JSON + partitionValues predicates evaluated
        executor-side) and only the SURVIVING add actions are collected, so
        driver bytes scale with the query's selectivity, not the table's
        file count; the JSON tail past the checkpoint (bounded by the
        checkpoint cadence) is overlaid driver-side.  ``None`` (default)
        auto-selects: distributed when a usable checkpoint covers the
        requested version and its parquet footprint exceeds
        ``_DISTRIBUTED_PRUNE_BYTES`` — the regime where a driver replay
        would itself be the planner bottleneck (delta-spark performs the
        same stats pruning as a Spark job over its checkpoint)."""
        if distributed is None:
            distributed = self.spark is not None and self._distributed_prune_auto(
                version
            )
        if distributed:
            out = self._read_where_distributed(ranges, version)
            if out is not None:
                return out
        snap = self.snapshot(version)
        keep = {
            p: a
            for p, a in snap.files.items()
            if not self._stats_skip(a, ranges, snap)
        }
        pruned = DeltaSnapshot(
            snap.version,
            snap.schema,
            snap.partition_columns,
            keep,
            snap.properties,
            snap.metadata_id,
            snap.name,
        )
        return self._residual_filter(self._read_snapshot(pruned), ranges)

    @staticmethod
    def _residual_filter(df: DataFrame, ranges: dict[str, tuple]) -> DataFrame:
        # file skipping is inexact by design: the precise predicate always
        # re-applies on the surviving rows
        for col, (lower, upper) in ranges.items():
            if lower is not None:
                df = df.filter(F.col(col) >= F.lit(lower))
            if upper is not None:
                df = df.filter(F.col(col) <= F.lit(upper))
        return df

    def _distributed_prune_auto(self, version: int | None) -> bool:
        """Heuristic for ``read_where(distributed=None)``: a checkpoint at or
        below the requested version exists and its parquet footprint says the
        log is big enough that a driver-side replay is the wrong plan."""
        ckpt = self._last_checkpoint()
        if ckpt is None:
            return False
        if version is not None and ckpt[0] > version:
            return False
        try:
            total = sum(
                self.fs.file_size(f"{self.log_dir}/{n}")
                for n in ckpt[1]
                if n.endswith(".parquet")
            )
        except Exception:
            return True  # unsizable (exotic scheme): assume big
        return total >= _DISTRIBUTED_PRUNE_BYTES

    def _checkpoint_add_sources(
        self, parts: list[str], kind: str
    ) -> tuple[list[str], list[dict]]:
        """(parquet paths that may hold checkpoint ``add`` rows, small
        driver-side actions) for one checkpoint.  Classic: the part files
        themselves.  v2: the referenced sidecars carry add/remove; the
        manifest's own actions (metaData/protocol/txn + any inline adds)
        come back as the driver-side list — a parquet manifest is read once
        here (it is small: sidecar pointers + metadata, never the file set)."""
        if kind == "classic":
            return [f"{self.log_dir}/{n}" for n in parts], []
        name = parts[0]
        if kind == "v2-json":
            inline = [
                json.loads(line)
                for line in self._read_text(name).splitlines()
                if line.strip()
            ]
        else:
            inline = self._parquet_rows(
                [f"{self.log_dir}/{name}"],
                ("add", "remove", "metaData", "protocol", "txn", "sidecar"),
            )
        paths = []
        for a in inline:
            sc = a.get("sidecar")
            if sc and sc.get("path"):
                p = sc["path"]
                if "://" not in p and not p.startswith("/"):
                    p = f"{self.log_dir}/_sidecars/{p}"
                paths.append(p)
        return paths, inline

    def _skip_keep_predicate(
        self, snap: DeltaSnapshot, ranges: dict[str, tuple]
    ) -> "Column | None":
        """Catalyst translation of ``_stats_skip`` over a checkpoint ``add``
        struct column, or None when a range uses a bound type / column name
        the translation can't mirror exactly (caller falls back to the
        driver loop).  Null-safety mirrors the keep-on-unknown contract:
        try_cast/try_element_at/get_json_object all yield NULL on missing or
        malformed input, and every skip term is coalesced to false."""
        empty = F.coalesce(
            F.get_json_object(F.col("add.stats"), "$['numRecords']").try_cast(
                "bigint"
            )
            == 0,
            F.lit(False),
        )
        keep = ~empty
        for col, (lower, upper) in ranges.items():
            if col in snap.collated_columns:
                continue  # collated stats order differently: never prune
            pcol = snap.phys(col) if col in snap.physical else col
            if not re.fullmatch(r"[\w .\-]+", pcol):
                return None  # quoting hazard in a JSON path / map key
            if col in snap.partition_columns:
                lo = mx = F.try_element_at(
                    F.col("add.partitionValues"), F.lit(pcol)
                )
            else:
                lo = F.get_json_object(
                    F.col("add.stats"), f"$['minValues']['{pcol}']"
                )
                mx = F.get_json_object(
                    F.col("add.stats"), f"$['maxValues']['{pcol}']"
                )
            skip = F.lit(False)
            for bound, stat, op in ((lower, mx, "lt"), (upper, lo, "gt")):
                if bound is None:
                    continue
                # mirror the driver loop's type(bound)(stat) coercion:
                # int("3.5") raises -> keep, and try_cast('3.5' as bigint)
                # is NULL -> keep; other bound types (date/Decimal/bool)
                # have no exact Catalyst twin -> driver fallback
                if isinstance(bound, bool) or not isinstance(
                    bound, (int, float, str)
                ):
                    return None
                typ = (
                    "bigint"
                    if isinstance(bound, int)
                    else "double"
                    if isinstance(bound, float)
                    else "string"
                )
                cast = stat.try_cast(typ)
                term = cast < F.lit(bound) if op == "lt" else cast > F.lit(bound)
                skip = skip | F.coalesce(term, F.lit(False))
            keep = keep & ~skip
        return keep

    def _read_where_distributed(
        self, ranges: dict[str, tuple], version: int | None
    ) -> DataFrame | None:
        """Checkpoint-as-data pruning: see ``read_where``.  Returns None when
        the shape can't be handled exactly (no covering checkpoint, or a
        range the Catalyst predicate can't mirror) so the caller falls back
        to the driver loop."""
        latest = self.latest_version()
        if version is None:
            version = latest
        if version < 0 or version > latest:
            raise ValueError(f"version {version} out of range 0..{latest}")
        ckpt = self._last_checkpoint()
        if ckpt is None or ckpt[0] > version:
            return None
        ckpt_version, parts, kind = ckpt

        add_paths, inline = self._checkpoint_add_sources(parts, kind)

        # ---- thin metadata: checkpoint metaData/protocol/txn rows WITHOUT
        # materializing the add rows (parquet column pruning keeps the scan
        # to the small action columns), then JSON-tail overrides
        schema = part_cols = props = meta_id = name = proto = None
        meta_actions: list[dict] = list(inline)
        if kind == "classic":
            cdf = self.spark.read.parquet(*add_paths)
            cols = [c for c in ("metaData", "protocol") if c in cdf.columns]
            if "metaData" not in cols:
                return None  # foreign layout: let full replay handle it
            cond = " OR ".join(f"{c} IS NOT NULL" for c in cols)
            meta_actions.extend(
                r.asDict(recursive=True)
                for r in cdf.filter(cond).select(*cols).collect()
            )
        for d in meta_actions:
            if d.get("protocol"):
                self._check_protocol(d["protocol"])
                proto = dict(d["protocol"])
            if d.get("metaData"):
                schema, part_cols, props, meta_id, name = self._apply_meta(
                    d["metaData"]
                )

        # ---- JSON tail replay (bounded by the checkpoint cadence): an
        # overlay dict where None marks a removed path; tail adds/removes
        # both override the checkpoint's row for that path
        overlay: dict[str, dict | None] = {}
        for v in range(ckpt_version + 1, version + 1):
            actions = self._commit_actions(v)
            for action in actions:
                if "protocol" in action:
                    self._check_protocol(action["protocol"])
                    proto = dict(action["protocol"])
                elif "metaData" in action:
                    schema, part_cols, props, meta_id, name = self._apply_meta(
                        action["metaData"]
                    )
            for action in actions:  # removes before adds (atomic commit)
                if "remove" in action:
                    overlay[action["remove"]["path"]] = None
            for action in actions:
                if "add" in action:
                    overlay[action["add"]["path"]] = action["add"]

        if schema is None:
            raise DeltaProtocolError(
                f"no metaData action found replaying {self.location} "
                f"to v{version}"
            )
        thin = DeltaSnapshot(
            version, schema, part_cols, {}, props, meta_id, name, proto
        )
        keep_pred = self._skip_keep_predicate(thin, ranges)
        if keep_pred is None:
            return None

        # ---- the distributed prune: filter checkpoint add rows with the
        # Catalyst predicate, anti-join the (small) tail-touched path set,
        # collect ONLY survivors — O(selected files) driver bytes
        survivors: dict[str, dict] = {}
        if add_paths:
            adf = self.spark.read.parquet(*add_paths)
            if "add" not in adf.columns:
                return None  # unrecognizable checkpoint: full replay decides
            adf = adf.filter(F.col("add").isNotNull()).select("add")
            if "stats" not in adf.select("add.*").columns:
                # foreign checkpoint without a stats string: partition
                # pruning still applies; stat terms see NULL via a
                # synthesized column
                adf = adf.withColumn(
                    "add",
                    F.col("add").withField("stats", F.lit(None).cast("string")),
                )
            if overlay:
                touched = self.spark.createDataFrame(
                    [(p,) for p in overlay], "path string"
                )
                adf = adf.join(
                    F.broadcast(touched),
                    adf["add.path"] == touched["path"],
                    "left_anti",
                )
            # post-prune, only the scan-relevant fields come back — the
            # stats JSON (the bulk of an add payload) stays executor-side
            fields = [
                c
                for c in (
                    "path",
                    "partitionValues",
                    "size",
                    "modificationTime",
                    "dataChange",
                    "deletionVector",
                )
                if c in adf.select("add.*").columns
            ]
            slim = adf.filter(keep_pred).select(
                *[F.col(f"add.{c}").alias(c) for c in fields]
            )
            for r in slim.collect():
                a = r.asDict(recursive=True)
                survivors[a["path"]] = a
        for d in inline:  # v2 manifests may carry inline adds (rare, small)
            a = d.get("add")
            if a and a["path"] not in overlay and not self._stats_skip(
                a, ranges, thin
            ):
                survivors[a["path"]] = a
        for p, a in overlay.items():
            if a is not None and not self._stats_skip(a, ranges, thin):
                survivors[p] = a

        pruned = DeltaSnapshot(
            version, schema, part_cols, survivors, props, meta_id, name, proto
        )
        return self._residual_filter(self._read_snapshot(pruned), ranges)

    # -------------------------------------------------------------- changes
    def read_changes(
        self, start_version: int, end_version: int | None = None
    ) -> DataFrame:
        """Change Data Feed over a real Delta log (``table_changes`` TVF
        parity, ref src/validation_suite.py:480-486), emitting the Delta CDF
        contract columns ``_change_type``/``_commit_version``/
        ``_commit_timestamp``.

        Per the protocol: a commit with ``cdc`` actions serves its changes
        exclusively from those ``_change_data`` files; an add-only commit
        synthesizes ``insert`` rows from its add files; a remove-only commit
        (whole-file delete) synthesizes ``delete`` rows by reading the
        removed files (legal pre-vacuum).  A mixed add+remove commit without
        ``cdc`` files cannot be derived row-accurately and raises."""
        if end_version is None:
            end_version = self.latest_version()
        snap = self.snapshot(end_version)
        commits = {
            v: self._commit_actions(v)
            for v in range(start_version, end_version + 1)
        }
        # change/data files speak physical names (column mapping); logical
        # names are restored in the final select.  The id-mode guard must
        # cover every file the range REFERENCES (adds, removes, cdc) — a
        # foreign-named file added then removed inside the range is absent
        # from the end snapshot but still read here.
        if snap.mapping_mode == "id":
            referenced = {
                a[kind]["path"]
                for actions in commits.values()
                for a in actions
                for kind in ("add", "remove", "cdc")
                if kind in a and a[kind].get("path")
            }
            self._verify_footer_paths(sorted(referenced), snap)
        phys_schema = snap.physical_schema()
        cdc_schema = StructType(list(phys_schema.fields)).add("_change_type", "string")

        def files(actions: list[dict], kind: str) -> dict[str, dict]:
            return {
                a[kind]["path"]: a[kind]
                for a in actions
                if kind in a and (kind == "cdc" or a[kind].get("dataChange", True))
            }

        pieces: list[DataFrame] = []
        for v, actions in commits.items():
            cdc = files(actions, "cdc")
            adds = files(actions, "add")
            removes = files(actions, "remove")
            if cdc:
                vparts = [self._scan_files(snap, cdc, cdc_schema, "_change_data")]
            elif adds and removes:
                # a DV-rewriting DELETE/RESTORE re-adds the same file with a
                # different deletion vector; its row-level changes are
                # EXACTLY the bitmap diff (newly-set bits = deletes,
                # newly-cleared bits = restored inserts) — derivable without
                # cdc files.  Anything else (a real file rewrite) was never
                # recorded row-level and must raise.
                import numpy as np

                from delta_lake_validation_spark.sources.dv import (
                    serialize_bitmap,
                )

                if adds.keys() != removes.keys():
                    raise DeltaProtocolError(
                        f"commit {v} rewrites files without cdc actions: its "
                        "row-level changes were never recorded (CDF not "
                        "enabled at write time)"
                    )
                diffs: dict[str, dict[str, bytes]] = {"delete": {}, "insert": {}}
                for path, a in adds.items():
                    new_idx = self._dv_indices(a)
                    old_idx = self._dv_indices(removes[path])
                    for kind, idxs in (
                        ("delete", np.setdiff1d(new_idx, old_idx)),
                        ("insert", np.setdiff1d(old_idx, new_idx)),
                    ):
                        if idxs.size:
                            diffs[kind][path] = serialize_bitmap(idxs)
                vparts = [
                    self._scan_files(
                        snap,
                        {path: adds[path] for path in bitmaps},
                        phys_schema,
                        dv_map={
                            strip_scheme(self._abs(path)): b
                            for path, b in bitmaps.items()
                        },
                        keep_member=True,
                    ).withColumn("_change_type", F.lit(kind))
                    for kind, bitmaps in diffs.items()
                    if bitmaps
                ]
            else:
                # an add-only commit inserts its files' live rows; a
                # remove-only one (whole-file delete) deletes them
                vparts = [
                    self._scan_files(snap, entries, phys_schema).withColumn(
                        "_change_type", F.lit(kind)
                    )
                    for kind, entries in (("insert", adds), ("delete", removes))
                    if entries
                ]
            if not vparts:
                continue
            ts_ms = self._commit_ts_ms(v, actions) or 0
            pieces += [
                df.select(
                    *self._logical_cols(snap),
                    "_change_type",
                    F.lit(v).cast("long").alias("_commit_version"),
                    F.timestamp_millis(F.lit(ts_ms)).alias("_commit_timestamp"),
                )
                for df in vparts
            ]
        if not pieces:
            empty = StructType(list(snap.schema.fields)).add("_change_type", "string")
            return (
                self.spark.createDataFrame([], empty)
                .withColumn("_commit_version", F.lit(None).cast("long"))
                .withColumn("_commit_timestamp", F.lit(None).cast("timestamp"))
            )
        return functools.reduce(DataFrame.unionByName, pieces)

    # ------------------------------------------------------------- metadata
    def schema(self, version: int | None = None) -> StructType:
        return self.snapshot(version).schema

    def history(self) -> list[dict]:
        """Newest-first commit summaries (parity: DESCRIBE HISTORY)."""
        out = []
        for v in sorted(self.versions(), reverse=True):
            info = {}
            for action in self._commit_actions(v):
                if "commitInfo" in action:
                    info = action["commitInfo"]
                    break
            out.append(
                {
                    "version": v,
                    "timestamp": info.get("timestamp", self._commit_ts_ms(v)),
                    "operation": info.get("operation"),
                    "operationParameters": info.get("operationParameters", {}),
                }
            )
        return out

    def detail(self) -> dict:
        """Parity: DESCRIBE DETAIL (ref src/validation_suite.py:428-447)."""
        snap = self.snapshot()
        return {
            "format": "delta",
            "id": snap.metadata_id,
            "name": snap.name,
            "version": snap.version,
            "location": self.location,
            "partitionColumns": snap.partition_columns,
            "clusteringColumns": clustering_columns(snap),
            "numFiles": snap.num_files,
            "sizeInBytes": snap.size_bytes,
            "properties": snap.properties,
        }


def read_delta(
    spark: SparkSession,
    location: str,
    version: int | None = None,
    timestamp: str | None = None,
) -> DataFrame:
    """Read a real Delta Lake table (its ``_delta_log``), optionally time
    travelling."""
    return DeltaTable(spark, location).read(version=version, timestamp=timestamp)


def export_delta(table, version: int | None = None) -> int:
    """Publish an ACID table snapshot as a real ``_delta_log`` in the table
    directory, so any Delta Lake reader (the reference engine included) can
    consume the table in place — the outbound half of the interop story
    (``import_delta``/``read_delta`` are the inbound half).

    Zero data is copied: the ACID table's data files are already Hive-laid
    parquet under the table root; export writes ONE JSON commit describing
    the snapshot.  Re-exporting after further ACID commits appends a new
    Delta version containing the remove/add diff versus the last export, so
    the Delta log time-travels across exports.  The Delta log is a
    *publication* of chosen snapshots, not a live mirror: ACID commits
    between exports are invisible to Delta readers until the next export.

    Returns the Delta version written.
    """
    import time as _time

    spark = table.spark
    snap = table.log.snapshot(version)
    loc = table.location
    log_dir = f"{loc}/_delta_log"

    current: dict[str, dict] = {}
    for rel, meta in snap.files.items():
        current[rel] = meta

    prev_files: dict[str, dict] = {}
    next_v = 0
    try:
        prev = DeltaTable(spark, loc)
        prev_files = prev.snapshot().files
        next_v = prev.latest_version() + 1
    except FileNotFoundError:
        pass

    now_ms = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": "EXPORT" if next_v else "CREATE TABLE",
                "operationParameters": {"sourceVersion": snap.version},
            }
        }
    ]
    dv_export = any(m.get("deletionVector") for m in current.values())
    if dv_export:
        # any file carrying a deletion vector needs the v3 reader contract;
        # re-emitting the protocol action on later exports is idempotent
        actions.append(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        )
    elif next_v == 0:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    schema = StructType.fromJson(json.loads(snap.schema_json))
    actions.append(
        {
            "metaData": {
                "id": f"acid-export-{os.path.basename(loc) or 'table'}",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema.jsonValue()),
                "partitionColumns": list(snap.partition_columns),
                # exports are SNAPSHOT publications: diff commits carry no
                # cdc files, so advertising CDF would make table_changes
                # error on any mixed re-export — strip the property rather
                # than publish a capability the log cannot honor
                "configuration": {
                    k: v
                    for k, v in snap.properties.items()
                    if k != "enableChangeDataFeed"
                },
            }
        }
    )
    from delta_lake_validation_spark.sources.dv import dv_unique_id

    def _dv_of(files: dict, p: str):
        return dv_unique_id((files.get(p) or {}).get("deletionVector"))

    for p, m in prev_files.items():
        # dropped paths AND paths whose deletion vector changed: the
        # replaced entry is removed (carrying its old DV, per the protocol)
        # and re-added below with the new one
        if p not in current or _dv_of(prev_files, p) != _dv_of(current, p):
            actions.append(
                {
                    "remove": {
                        "path": p,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                        **(
                            {"deletionVector": m["deletionVector"]}
                            if m.get("deletionVector")
                            else {}
                        ),
                    }
                }
            )
    for rel, meta in current.items():
        if rel in prev_files and _dv_of(prev_files, rel) == _dv_of(current, rel):
            continue
        stats = None
        if meta.get("numRecords") is not None:
            stats = json.dumps({"numRecords": meta["numRecords"]})
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": dict(meta.get("partitionValues") or {}),
                    "size": int(meta.get("size", 0) or 0),
                    "modificationTime": now_ms,
                    "dataChange": True,
                    **({"stats": stats} if stats else {}),
                    **(
                        {"deletionVector": meta["deletionVector"]}
                        if meta.get("deletionVector")
                        else {}
                    ),
                }
            }
        )

    body = "\n".join(json.dumps(a) for a in actions) + "\n"
    path = f"{log_dir}/{next_v:020d}.json"
    if is_local(path):
        os.makedirs(strip_scheme(log_dir), exist_ok=True)
        with open(strip_scheme(path), "x", encoding="utf-8") as f:
            f.write(body)
    else:  # pragma: no cover - remote fs path
        fs = FileSystem(spark, loc)
        jvm = spark._jvm
        jfs, jpath = fs._jfs(path)
        stream = jfs.create(jpath, False)
        stream.write(bytearray(body.encode("utf-8")))
        stream.close()
    return next_v


def _write_one_parquet(spark, rows, schema, dst: str) -> int:
    """Write ``rows`` as EXACTLY ONE parquet file at ``dst`` (via a
    uuid-tmp name so concurrent checkpointers never rename each other's
    half-written output); returns the file size in bytes.

    Checkpoint rows are log-scale metadata the driver already holds, so
    this writes through pyarrow rather than a Spark job: a one-task job
    over a deeply nested struct/map schema costs seconds of whole-stage
    codegen alone (measured 4.6 s for a 5-row checkpoint), while the
    arrow write is milliseconds and produces the same standard
    MAP/STRUCT parquet both our Spark reader and the sparkless planner
    already consume."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    spark_schema = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    arrow_schema = to_arrow_schema(spark_schema)
    dicts = [
        r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r)
        for r in rows
    ]
    table = pa.Table.from_pylist(dicts, schema=arrow_schema)
    if is_local(dst):
        parent = strip_scheme(dst.rsplit("/", 1)[0])
        os.makedirs(parent, exist_ok=True)
        tmp = f"{parent}/.ckpt-tmp-{_uuid.uuid4().hex}.parquet"
        pq.write_table(table, tmp)
        os.replace(tmp, strip_scheme(dst))
        return os.path.getsize(strip_scheme(dst))
    # remote store: serialize in memory (checkpoint rows are log-scale
    # metadata), stage under a uuid-tmp name, then rename into place via
    # the FileSystem facade — concurrent checkpointers never observe each
    # other's half-written output, same invariant as the local leg
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    data = buf.getvalue().to_pybytes()
    fs = FileSystem(spark, dst)
    parent, name = dst.rsplit("/", 1)
    tmp = f"{parent}/.ckpt-tmp-{_uuid.uuid4().hex}-{name}"
    fs.write_bytes(tmp, data)
    if fs.exists(dst):
        # Re-checkpoint of a version some writer already checkpointed: any
        # existing file is a valid replayable checkpoint of the same
        # version, so keep it.  Deleting before rename would open a
        # missing-file window for a reader whose listing already saw dst
        # (the local leg's os.replace has no such window), and two racing
        # same-version checkpointers could interleave delete/rename into a
        # rename-onto-existing failure.
        fs.delete(tmp)
        return len(data)
    try:
        fs.rename(tmp, dst)
    except OSError:
        # Lost a create race: the winner's checkpoint is equivalent.
        if fs.exists(dst):
            fs.delete(tmp)
            return len(data)
        raise
    return len(data)


def write_delta_checkpoint(
    spark: SparkSession,
    location: str,
    kind: str | None = None,
    parts: int = 1,
) -> int:
    """Checkpoint the latest version of a Delta log — so readers replay
    one columnar file (or manifest + sidecars) plus the JSON tail instead
    of the whole commit chain.

    ``kind``: ``"classic"`` (single-part, or multi-part with ``parts>1``),
    ``"v2"`` (UUID-named parquet manifest whose sidecar actions point at
    add/remove parquet under ``_delta_log/_sidecars/`` — the modern
    delta-spark layout), or None to follow the table's
    ``delta.checkpointPolicy`` property (v2 when it says ``v2``).

    Unexpired remove tombstones (within
    ``delta.deletedFileRetentionDuration``) ride into every checkpoint, as
    the spec requires — after JSON log cleanup they are the only record
    other engines have for vacuum coordination.  So does the latest
    ``txn`` action per appId (the idempotent-streaming-sink watermark) —
    losing it to log cleanup would let a replayed micro-batch
    double-commit.  Returns the checkpointed version.

    Storage-agnostic: parquet parts stage under uuid-tmp names and rename
    into place through the FileSystem facade (local fast path: os.replace);
    ``_last_checkpoint`` is replaced with a single overwriting create —
    one PUT on object stores, the same non-atomic-window-free hint update
    delta-spark performs (readers that miss it fall back to listing)."""
    from pyspark.sql import Row

    t = DeltaTable(spark, location)
    snap = t.snapshot()
    if kind is None:
        kind = (
            "v2"
            if str(snap.properties.get("delta.checkpointPolicy", "")).lower()
            == "v2"
            else "classic"
        )
    if kind not in ("classic", "v2"):
        raise ValueError(f"unknown checkpoint kind {kind!r}")
    v = snap.version
    tombstones = [
        Row(
            add=None,
            metaData=None,
            protocol=None,
            remove=Row(
                path=r["path"],
                deletionTimestamp=int(r.get("deletionTimestamp") or 0),
                dataChange=False,
            ),
            txn=None,
        )
        for r in t.unexpired_tombstones(snap)
    ]
    # spec: a checkpoint carries the LATEST txn action per appId — after
    # JSON log cleanup it is the only idempotent-sink watermark left, and
    # dropping it would let a replayed streaming batch double-commit
    txn_rows = [
        Row(
            add=None,
            metaData=None,
            protocol=None,
            remove=None,
            txn=Row(
                appId=app,
                version=int(tx.get("version", 0) or 0),
                lastUpdated=(
                    int(tx["lastUpdated"])
                    if tx.get("lastUpdated") is not None
                    else None
                ),
            ),
        )
        for app, tx in sorted(snap.txns.items())
    ]
    # spec: a checkpoint carries every LIVE domainMetadata (tombstoned
    # domains are omitted) — after log cleanup it is the only copy of
    # e.g. delta.clustering / delta.rowTracking state other writers rely on
    domain_rows = [
        Row(
            add=None,
            metaData=None,
            protocol=None,
            remove=None,
            txn=None,
            domainMetadata=Row(domain=dom, configuration=cfg, removed=False),
        )
        for dom, cfg in sorted(snap.domains.items())
    ]
    rows = [
        Row(
            add=Row(
                path=p,
                partitionValues={
                    k: v_ for k, v_ in (a.get("partitionValues") or {}).items()
                },
                size=int(a.get("size", 0) or 0),
                modificationTime=int(a.get("modificationTime", 0) or 0),
                dataChange=False,
                stats=a.get("stats")
                if isinstance(a.get("stats"), str)
                else (json.dumps(a["stats"]) if a.get("stats") else None),
                # the DV descriptor MUST ride into the checkpoint — a
                # checkpoint that drops it resurrects every masked row on
                # replay (caught by the writer fuzz)
                deletionVector=(
                    Row(
                        storageType=d.get("storageType"),
                        pathOrInlineDv=d.get("pathOrInlineDv"),
                        offset=(
                            int(d["offset"]) if d.get("offset") is not None
                            else None
                        ),
                        sizeInBytes=(
                            int(d["sizeInBytes"])
                            if d.get("sizeInBytes") is not None
                            else None
                        ),
                        cardinality=(
                            int(d["cardinality"])
                            if d.get("cardinality") is not None
                            else None
                        ),
                    )
                    if (d := a.get("deletionVector"))
                    else None
                ),
                # rowTracking ids must survive checkpointing — dropping
                # them resets every file's row ids on replay
                baseRowId=(
                    int(a["baseRowId"])
                    if a.get("baseRowId") is not None
                    else None
                ),
                defaultRowCommitVersion=(
                    int(a["defaultRowCommitVersion"])
                    if a.get("defaultRowCommitVersion") is not None
                    else None
                ),
            ),
            metaData=None,
            protocol=None,
            remove=None,
            txn=None,
        )
        for p, a in snap.files.items()
    ]
    rows.extend(tombstones)
    rows.extend(txn_rows)
    rows.extend(domain_rows)
    rows.append(
        Row(
            add=None,
            metaData=Row(
                id=snap.metadata_id or "checkpoint-meta",
                format=Row(provider="parquet", options={}),
                schemaString=json.dumps(snap.schema.jsonValue()),
                partitionColumns=list(snap.partition_columns),
                configuration=dict(snap.properties),
            ),
            protocol=Row(
                minReaderVersion=int(
                    snap.protocol.get("minReaderVersion", 1)
                ),
                minWriterVersion=int(
                    snap.protocol.get("minWriterVersion", 2)
                ),
                readerFeatures=snap.protocol.get("readerFeatures"),
                writerFeatures=snap.protocol.get("writerFeatures"),
            ),
            remove=None,
            txn=None,
        )
    )
    add_schema = (
        "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
        "modificationTime:bigint,dataChange:boolean,stats:string,"
        "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
        "offset:int,sizeInBytes:int,cardinality:bigint>,"
        "baseRowId:bigint,defaultRowCommitVersion:bigint>"
    )
    remove_schema = (
        "remove struct<path:string,deletionTimestamp:bigint,dataChange:boolean>"
    )
    schema = (
        add_schema + ","
        "metaData struct<id:string,format:struct<provider:string,"
        "options:map<string,string>>,schemaString:string,"
        "partitionColumns:array<string>,configuration:map<string,string>>,"
        "protocol struct<minReaderVersion:int,minWriterVersion:int,"
        "readerFeatures:array<string>,writerFeatures:array<string>>,"
        + remove_schema
        + ",txn struct<appId:string,version:bigint,lastUpdated:bigint>"
        ",domainMetadata struct<domain:string,configuration:string,"
        "removed:boolean>"
    )
    import time as _time
    import uuid as _uuid

    log_dir = f"{location.rstrip('/')}/_delta_log"
    if kind == "v2":
        # sidecar file(s) carry the add/remove rows; the manifest carries
        # protocol + metaData + sidecar pointers (+ checkpointMetadata,
        # which our reader ignores but the spec requires)
        file_rows = [
            Row(add=r.add, remove=r.remove)
            for r in rows
            if r.add or r.remove
        ]
        mp_row = next(r for r in rows if r.metaData)
        # spec: sidecar files hold ONLY add/remove columns
        side_schema = add_schema + "," + remove_schema
        now_ms = int(_time.time() * 1000)
        side_name = f"{_uuid.uuid4()}.parquet"
        side_size = _write_one_parquet(
            spark,
            file_rows or [Row(add=None, remove=None)],
            side_schema,
            f"{log_dir}/_sidecars/{side_name}",
        )
        manifest_schema = (
            schema
            + ",sidecar struct<path:string,sizeInBytes:bigint,"
            "modificationTime:bigint>,"
            "checkpointMetadata struct<version:bigint>"
        )
        # spec: sidecars hold ONLY add/remove — txn rides in the manifest
        manifest_rows = [
            Row(
                add=None, metaData=mp_row.metaData, protocol=mp_row.protocol,
                remove=None, txn=None, sidecar=None, checkpointMetadata=None,
            ),
            *[
                Row(
                    add=None, metaData=None, protocol=None, remove=None,
                    txn=r.txn, sidecar=None, checkpointMetadata=None,
                )
                for r in txn_rows
            ],
            *[
                Row(
                    add=None, metaData=None, protocol=None, remove=None,
                    txn=None, domainMetadata=r.domainMetadata,
                    sidecar=None, checkpointMetadata=None,
                )
                for r in domain_rows
            ],
            Row(
                add=None, metaData=None, protocol=None, remove=None,
                txn=None,
                sidecar=Row(
                    path=side_name,
                    sizeInBytes=side_size,
                    modificationTime=now_ms,
                ),
                checkpointMetadata=None,
            ),
            Row(
                add=None, metaData=None, protocol=None, remove=None,
                txn=None, sidecar=None, checkpointMetadata=Row(version=v),
            ),
        ]
        _write_one_parquet(
            spark,
            manifest_rows,
            manifest_schema,
            f"{log_dir}/{v:020d}.checkpoint.{_uuid.uuid4()}.parquet",
        )
    elif parts > 1:
        # multi-part classic: adds/removes split round-robin; the
        # metaData+protocol row rides in part 1 (spec: exactly once)
        file_rows = [r for r in rows if r.add or r.remove]
        mp_row = next(r for r in rows if r.metaData)
        for i in range(1, parts + 1):
            # metaData+protocol, txn watermarks, and live domainMetadata
            # ride in part 1
            chunk = [mp_row, *txn_rows, *domain_rows] if i == 1 else []
            chunk += file_rows[i - 1 :: parts]
            _write_one_parquet(
                spark,
                chunk
                or [
                    Row(
                        add=None, metaData=None, protocol=None, remove=None,
                        txn=None,
                    )
                ],
                schema,
                f"{log_dir}/{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet",
            )
    else:
        _write_one_parquet(
            spark, rows, schema, f"{log_dir}/{v:020d}.checkpoint.parquet"
        )
    stanza = {"version": v, "size": len(rows)}
    if kind == "classic" and parts > 1:
        stanza["parts"] = parts
    if is_local(log_dir):
        with open(f"{strip_scheme(log_dir)}/_last_checkpoint", "w") as f:
            json.dump(stanza, f)
    else:
        FileSystem(spark, log_dir).write_bytes(
            f"{log_dir}/_last_checkpoint",
            json.dumps(stanza).encode("utf-8"),
        )
    # delta-spark runs metadata cleanup after every checkpoint unless the
    # table opts out; the 30-day default retention means young logs are
    # untouched, so this is a no-op until a table actually ages
    if (
        str(
            snap.properties.get("delta.enableExpiredLogCleanup", "true")
        ).lower()
        == "true"
    ):
        DeltaTable(spark, location).cleanup_log()
    return v


def import_delta(
    spark: SparkSession,
    delta_location: str,
    target_location: str,
    version: int | None = None,
):
    """Zero-copy migration: fork a real Delta table into the engine's own
    ACID format by absolute file reference — one metadata commit, no data
    rewritten, so importing a 100 TB reference table is O(metadata).

    Mechanically identical to ``AcidTable.clone_to`` (shallow clone): the
    new table's v0 commit references the Delta table's CURRENT live files;
    subsequent writes stage their own files and never touch the source.
    VACUUM on the source Delta table can break the import, exactly as Delta
    documents for its own shallow clones.

    Partitioned sources must be Hive-laid-out (every file under
    ``col=value/`` dirs matching its partitionValues) because the ACID read
    path recovers partition columns via partition discovery; real Delta
    writers produce exactly that layout.  Non-Hive layouts raise.
    """
    from delta_lake_validation_spark.sources.acid.errors import (
        AcidTableError,
        ConcurrentWriteException,
    )
    from delta_lake_validation_spark.sources.acid.table import AcidTable

    src = DeltaTable(spark, delta_location)
    snap = src.snapshot(version)
    if any(lg != ph for lg, ph in snap.physical.items()):
        raise AcidTableError(
            "import_delta cannot borrow files from a column-mapped table "
            "(physical file schema differs from the logical one); read via "
            "read_delta and write a fresh ACID table instead"
        )
    if snap.partition_columns and not src._hive_layout(
        snap.files, [snap.phys(c) for c in snap.partition_columns]
    ):
        raise AcidTableError(
            "import_delta requires Hive partition layout for partitioned "
            "sources (partition discovery recovers the partition columns); "
            "this table's add paths do not encode their partitionValues"
        )
    dv_files = [
        p
        for p, a in snap.files.items()
        if a.get("deletionVector")
        and int(a["deletionVector"].get("cardinality") or 0) > 0
    ]
    if dv_files:
        raise AcidTableError(
            f"import_delta cannot borrow {len(dv_files)} file(s) carrying "
            "deletion vectors (the ACID layer reads referenced files whole, "
            "which would resurrect DV-deleted rows); materialize first: "
            "read_delta(...).write into a fresh ACID table"
        )
    adds = []
    for p, a in snap.files.items():
        adds.append(
            {
                "path": src._abs(p),
                "partitionValues": dict(a.get("partitionValues") or {}),
                "numRecords": None,
                "size": int(a.get("size", 0) or 0),
                "dataChange": True,
                "stats": None,
                "basePath": src.location,
            }
        )
    target = AcidTable(spark, target_location)
    if target.log.exists():
        raise AcidTableError(f"table already exists at {target_location}")
    entry = {
        "operation": "IMPORT_DELTA",
        "operationParameters": {
            "source": src.location,
            "sourceVersion": snap.version,
            "sourceFormat": "delta",
        },
        "metadata": {
            "schemaJson": snap.schema.json(),
            "partitionColumns": list(snap.partition_columns),
            "properties": {
                k.removeprefix("delta."): v for k, v in snap.properties.items()
            },
        },
        "add": adds,
        "remove": [],
        "cdf": [],
    }
    if not target.log.try_commit(0, entry):
        raise ConcurrentWriteException(f"concurrent create at {target_location}")
    return target


def create_delta(
    spark: SparkSession,
    location: str,
    schema: StructType | str,
    partition_by: list[str] | None = None,
    properties: dict[str, str] | None = None,
    name: str | None = None,
    cluster_by: list[str] | None = None,
) -> "DeltaTable":
    """Author a BRAND-NEW Delta table at ``location`` (protocol + metaData
    at version 0, no data) — the writer-side counterpart of the reference's
    ``CREATE TABLE … USING DELTA`` (src/validation_suite.py:268-286).
    Raises if a ``_delta_log`` already exists there.  CDF and appendOnly
    arrive through ``properties`` exactly as TBLPROPERTIES would.

    ``cluster_by`` creates a CLUSTERED table (liquid clustering): the
    column list lands in the ``delta.clustering`` domainMetadata and the
    protocol declares the ``clustering`` + ``domainMetadata`` writer
    features — mutually exclusive with ``partition_by``, as in Delta.
    Appends are unconstrained (clustering is best-effort); ``optimize()``
    clusters by these columns via Z-order when no explicit ``zorder_by``
    is given."""
    import time as _time
    import uuid as _uuid

    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    fs = FileSystem(spark, location)
    log_dir = f"{location.rstrip('/')}/_delta_log"
    if fs.exists(f"{log_dir}/{0:020d}.json"):
        raise DeltaProtocolError(f"a Delta table already exists at {location}")
    part = list(partition_by or [])
    unknown = set(part) - {f.name for f in schema.fields}
    if unknown:
        raise DeltaProtocolError(f"partition columns not in schema: {sorted(unknown)}")
    props = dict(properties or {})
    # the protocol must DECLARE what the properties enable, or legacy
    # third-party writers will mutate the table without honoring them
    # (e.g. DML without cdc files on a CDF table, DELETEs on an
    # append-only one)
    cdf_on = str(props.get("delta.enableChangeDataFeed", "")).lower() == "true"
    append_only = str(props.get("delta.appendOnly", "")).lower() == "true"
    mapped = props.get("delta.columnMapping.mode") in ("name", "id")
    dv_on = str(props.get("delta.enableDeletionVectors", "")).lower() == "true"
    protocol: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
    if cdf_on:
        protocol["minWriterVersion"] = 4
    if mapped:
        protocol = {
            "minReaderVersion": 2,
            "minWriterVersion": max(5, protocol["minWriterVersion"]),
        }
    cluster = list(cluster_by or [])
    if cluster:
        if part:
            raise DeltaProtocolError(
                "CLUSTER BY and PARTITIONED BY are mutually exclusive"
            )
        bad = set(cluster) - {f.name for f in schema.fields}
        if bad:
            raise DeltaProtocolError(
                f"cluster columns not in schema: {sorted(bad)}"
            )
    has_variant = _schema_has_variant(schema)
    rt_on = (
        str(props.get("delta.enableRowTracking", "")).lower() == "true"
    )
    iceberg_on = (
        str(props.get("delta.enableIcebergCompatV2", "")).lower() == "true"
    )
    if iceberg_on:
        if dv_on:
            raise DeltaProtocolError(
                "delta.enableIcebergCompatV2 and delta.enableDeletionVectors "
                "cannot both be true (icebergCompatV2 forbids DVs)"
            )
        if not mapped:
            raise DeltaProtocolError(
                "delta.enableIcebergCompatV2 requires "
                "delta.columnMapping.mode name|id"
            )
    if dv_on or cluster or has_variant or rt_on or iceberg_on:
        feats_r = {"deletionVectors"} if dv_on else set()
        feats_w = {"deletionVectors"} if dv_on else set()
        if has_variant:
            # variant columns are unreadable without the feature-aware
            # parquet mapping — the protocol must say so to every engine
            feats_r.add("variantType")
            feats_w.add("variantType")
        if rt_on:
            feats_w.update({"rowTracking", "domainMetadata"})
        # a v7 protocol enforces ONLY listed features: every enabled
        # legacy capability must be restated as a feature
        if cdf_on:
            feats_w.add("changeDataFeed")
        if append_only:
            feats_w.add("appendOnly")
        if mapped:
            feats_r.add("columnMapping")
            feats_w.add("columnMapping")
        if iceberg_on:
            feats_w.add("icebergCompatV2")
        if cluster:
            feats_w.update({"clustering", "domainMetadata"})
        protocol = {
            "minReaderVersion": 3 if feats_r else 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats_w),
        }
        if feats_r:
            protocol["readerFeatures"] = sorted(feats_r)
    actions = [
        {
            "commitInfo": {
                "timestamp": int(_time.time() * 1000),
                "operation": "CREATE TABLE",
                "operationParameters": {
                    "partitionBy": json.dumps(part),
                    **(
                        {"clusterBy": json.dumps(cluster)} if cluster else {}
                    ),
                },
            }
        },
        {"protocol": protocol},
        {
            "metaData": {
                "id": str(_uuid.uuid4()),
                "name": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema.jsonValue()),
                "partitionColumns": part,
                "configuration": props,
                "createdTime": int(_time.time() * 1000),
            }
        },
        *(
            [
                {
                    "domainMetadata": {
                        "domain": "delta.clustering",
                        # physical paths per the spec; a fresh table has
                        # identity mapping, so physical == logical here
                        "configuration": json.dumps(
                            {"clusteringColumns": [[c] for c in cluster]}
                        ),
                        "removed": False,
                    }
                }
            ]
            if cluster
            else []
        ),
    ]
    body = "\n".join(json.dumps(a) for a in actions) + "\n"
    fs.atomic_create(f"{log_dir}/{0:020d}.json", body)
    return DeltaTable(spark, location)


def clone_delta(
    spark: SparkSession,
    source: str,
    target: str,
    shallow: bool = True,
    version: int | None = None,
    properties: dict[str, str] | None = None,
) -> "DeltaTable":
    """CLONE a Delta table (the ``CREATE TABLE … CLONE src`` surface).

    * **shallow** — a metadata-only copy: the clone's version-0 commit
      references the source's live data files by ABSOLUTE path (per the
      protocol's clone shape), so it costs O(files) log writes and zero
      data movement.  Deletion vectors are re-pointed the same way
      (``u``-storage relative descriptors become ``p``-storage absolute
      ones).  The clone is immediately independent: appends/DML commit to
      the clone's own log, and ``vacuum`` on either side never touches the
      other's files (vacuum only lists under its own table root; the
      source's vacuum, however, CAN reclaim files a shallow clone still
      references — same caveat as Delta itself documents).
    * **deep** (``shallow=False``) — additionally copies every referenced
      data file (and DV sidecar) under the target root, keeping relative
      paths: a fully self-contained table.

    Either way the clone keeps the source's schema, partitioning, table
    properties (optionally overridden by ``properties``), per-file stats
    — so data skipping keeps working — and records a ``CLONE`` commit with
    the source location/version for lineage.  Time travel below the clone
    point stays with the source; the clone starts at version 0.
    """
    from urllib.parse import unquote as _unq

    from delta_lake_validation_spark.sources.dv import dv_relative_path

    src = DeltaTable(spark, source)
    snap = src.snapshot(version)
    tfs = FileSystem(spark, target)
    log_dir = f"{target.rstrip('/')}/_delta_log"
    if tfs.exists(f"{log_dir}/{0:020d}.json"):
        raise DeltaProtocolError(f"a Delta table already exists at {target}")

    import time as _time
    import uuid as _uuid

    props = dict(snap.properties)
    props.update(properties or {})
    actions: list[dict] = [
        {"protocol": dict(snap.protocol)},
        {
            "metaData": {
                "id": str(_uuid.uuid4()),
                "name": None,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": snap.schema.json(),
                "partitionColumns": list(snap.partition_columns),
                "configuration": props,
                "createdTime": int(_time.time() * 1000),
            }
        },
        {
            "commitInfo": {
                "timestamp": int(_time.time() * 1000),
                "operation": "CLONE",
                "operationParameters": {
                    "source": source,
                    "sourceVersion": snap.version,
                    "isShallow": shallow,
                },
                "engineInfo": "delta-lake-validation-spark",
            }
        },
        # live domains ride along (delta.clustering etc.) — a clone of a
        # clustered table stays clustered, as delta-spark's CLONE does
        *(
            {
                "domainMetadata": {
                    "domain": dom,
                    "configuration": cfg,
                    "removed": False,
                }
            }
            for dom, cfg in sorted(snap.domains.items())
        ),
    ]
    now_ms = int(_time.time() * 1000)
    for rel, a in sorted(snap.files.items()):
        add = {
            "partitionValues": a.get("partitionValues") or {},
            "size": a.get("size"),
            "modificationTime": now_ms,
            "dataChange": True,
        }
        # row-tracking ids travel with the files (the clone also carries
        # the delta.rowTracking domain, so its watermark stays consistent)
        for k in ("baseRowId", "defaultRowCommitVersion"):
            if a.get(k) is not None:
                add[k] = a[k]
        if a.get("stats") is not None:
            add["stats"] = (
                a["stats"]
                if isinstance(a["stats"], str)
                else json.dumps(a["stats"])
            )
        dv = a.get("deletionVector")
        src_abs = src._abs(rel)
        if shallow:
            add["path"] = src_abs
            if dv:
                dv = dict(dv)
                if dv.get("storageType") == "u":
                    dv["pathOrInlineDv"] = (
                        f"{source.rstrip('/')}/"
                        f"{dv_relative_path(dv['pathOrInlineDv'])}"
                    )
                    dv["storageType"] = "p"
                add["deletionVector"] = dv
        else:
            dst_rel = _unq(rel) if "://" not in rel else rel
            if dst_rel.startswith("/") or "://" in dst_rel:
                # absolute source path (e.g. cloning a shallow clone):
                # flatten into the target root
                dst_rel = f"part-{_uuid.uuid4().hex}.parquet"
            _copy_file(src.fs, src_abs, tfs, f"{target.rstrip('/')}/{dst_rel}")
            add["path"] = rel if "://" not in rel and not rel.startswith("/") else dst_rel
            if dv:
                dv = dict(dv)
                if dv.get("storageType") == "u":
                    dv_rel = dv_relative_path(dv["pathOrInlineDv"])
                    _copy_file(
                        src.fs,
                        f"{source.rstrip('/')}/{dv_rel}",
                        tfs,
                        f"{target.rstrip('/')}/{dv_rel}",
                    )
                elif dv.get("storageType") == "p":
                    dv_rel = f"deletion_vector_{_uuid.uuid4().hex}.bin"
                    _copy_file(
                        src.fs, dv["pathOrInlineDv"], tfs,
                        f"{target.rstrip('/')}/{dv_rel}",
                    )
                    # keep it portable: absolute path into the new root
                    dv["pathOrInlineDv"] = f"{target.rstrip('/')}/{dv_rel}"
                add["deletionVector"] = dv
        actions.append({"add": add})
    body = "\n".join(json.dumps(x) for x in actions) + "\n"
    tfs.atomic_create(f"{log_dir}/{0:020d}.json", body)
    return DeltaTable(spark, target)


def _copy_file(src_fs: FileSystem, src_path: str, dst_fs: FileSystem, dst_path: str) -> None:
    data = src_fs.read_bytes(src_path)
    dst_fs.mkdirs(dst_path.rsplit("/", 1)[0])
    dst_fs.write_bytes(dst_path, data)


def convert_to_delta(
    spark: SparkSession,
    location: str,
    partition_schema: str | None = None,
    properties: dict[str, str] | None = None,
    name: str | None = None,
) -> "DeltaTable":
    """``CONVERT TO DELTA parquet.`/path``` — in place, zero copy.

    Inventories every ``*.parquet`` under ``location``, reads ONE footer
    set distributed (numRecords + per-column min/max/nullCount aggregated
    from row-group statistics, so data skipping works from commit 0), and
    writes a version-0 commit that adopts the existing files where they
    sit.  Hive-partitioned layouts require ``partition_schema`` (DDL,
    e.g. ``"order_date date, region string"``) exactly as delta-spark's
    CONVERT does — partition value TYPES are not inferrable from dir
    names alone; files missing any declared partition key refuse the
    conversion rather than guessing.  After conversion the directory is a
    real Delta table: append/DML/time-travel/vacuum all apply, and the
    pre-existing files are version 0.
    """
    import time as _time
    import uuid as _uuid
    from urllib.parse import quote

    from pyspark.sql.types import _parse_datatype_string

    from delta_lake_validation_spark.sources.acid.table import (
        _partition_values,
    )

    location = location.rstrip("/")
    fs = FileSystem(spark, location)
    log_dir = f"{location}/_delta_log"
    if fs.exists(f"{log_dir}/{0:020d}.json"):
        raise DeltaProtocolError(f"a Delta table already exists at {location}")

    root = strip_scheme(location)
    inventory = [
        (strip_scheme(p)[len(root):].lstrip("/"), sz)
        for p, sz in fs.list_files_with_size(location)
        if p.endswith(".parquet")
        and not strip_scheme(p)[len(root):].lstrip("/").split("/")[0].startswith("_")
    ]
    if not inventory:
        raise DeltaProtocolError(f"no parquet files under {location}")

    part_fields = (
        _parse_datatype_string(f"struct<{partition_schema}>").fields
        if partition_schema
        else []
    )
    part_names = [f.name for f in part_fields]
    for rel, _sz in inventory:
        pv = _partition_values(rel.rsplit("/", 1)[0] if "/" in rel else "")
        if not part_names and pv:
            raise DeltaProtocolError(
                f"hive partition dirs found ({sorted(pv)} in {rel}) but no "
                "partition_schema given; partition value types are not "
                "inferrable from dir names — pass the DDL (CONVERT contract)"
            )
        missing = [c for c in part_names if c not in pv]
        if missing:
            raise DeltaProtocolError(
                f"file {rel} lacks partition dirs for {missing}; pass the "
                "partition_schema matching the layout (CONVERT contract)"
            )

    # data schema from the files themselves (partition cols live in dirs)
    data_df = spark.read.parquet(*[f"{location}/{rel}" for rel, _ in inventory[:1]])
    data_fields = [f for f in data_df.schema.fields if f.name not in part_names]
    schema = StructType(data_fields + part_fields)

    # distributed footer sweep: numRecords + rg-merged min/max/nulls of the
    # top-level data columns, and each file's schema fingerprint
    sc = spark.sparkContext
    loc_b = location
    data_names = {f.name for f in data_fields}

    def _footer(rel: str):
        from delta_lake_validation_spark.sources.footer_stats import (
            file_footer_stats,
            read_footer,
        )

        md = read_footer(f"{loc_b}/{rel}")
        # first line of the str() form is an object repr with a memory
        # address — drop it, keep the stable schema text
        sch_fp = "\n".join(str(md.schema).splitlines()[1:])
        n, cols = file_footer_stats(md)
        return rel, n, {c: v for c, v in cols.items() if c in data_names}, sch_fp

    swept = sc.parallelize(
        [rel for rel, _ in inventory],
        max(1, min(len(inventory), sc.defaultParallelism)),
    ).map(_footer).collect()
    fingerprints = {fp for *_ignored, fp in swept}
    if len(fingerprints) > 1:
        raise DeltaProtocolError(
            f"mixed parquet schemas under {location} "
            f"({len(fingerprints)} distinct footers); CONVERT refuses to "
            "guess a merge — normalize the files first"
        )
    footers = {rel: (n, cols) for rel, n, cols, _ in swept}

    props = dict(properties or {})
    now = int(_time.time() * 1000)
    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(_uuid.uuid4()),
                "name": name,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema.jsonValue()),
                "partitionColumns": part_names,
                "configuration": props,
                "createdTime": now,
            }
        },
        {
            "commitInfo": {
                "timestamp": now,
                "operation": "CONVERT",
                "operationParameters": {
                    "numFiles": len(inventory),
                    "partitionedBy": json.dumps(part_names),
                },
                "engineInfo": "delta-lake-validation-spark",
            }
        },
    ]
    for rel, sz in sorted(inventory):
        pv = _partition_values(rel.rsplit("/", 1)[0] if "/" in rel else "")
        actions.append(
            {
                "add": {
                    "path": quote(rel, safe="/!$&'()*+,;=:@"),
                    "partitionValues": {c: pv.get(c) for c in part_names},
                    "size": sz,
                    "modificationTime": now,
                    "dataChange": True,
                    "stats": json.dumps(_delta_file_stats(*footers[rel])),
                }
            }
        )
    body = "\n".join(json.dumps(a) for a in actions) + "\n"
    fs.atomic_create(f"{log_dir}/{0:020d}.json", body)
    return DeltaTable(spark, location)
