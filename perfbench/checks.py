"""Output checks, computed apart from the program under test.

Query results are compared with their registry oracle run by DuckDB;
near-duplicate pairs are recomputed from the texts; table reads and change
feeds are compared with a pandas model of the ``orders`` table; the files
a table keeps after VACUUM are compared with its log, parsed here.
Every function returns a list of error strings (empty when correct) or a
value the caller compares, so the benchmark's own tests can feed them
corrupted results.
"""

from __future__ import annotations

import glob
import json
import math
import os
from fractions import Fraction
from urllib.parse import unquote

import numpy as np
import pandas as pd

# --------------------------------------------------------------- oracles


def _norm_expr(name: str, typ: str) -> str:
    col = f'"{name}"'
    typ = typ.upper()
    if typ in ("DOUBLE", "FLOAT", "REAL") or typ.startswith("DECIMAL"):
        return f"round(CAST({col} AS DOUBLE), 9) AS {col}"
    if typ in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "BOOLEAN"):
        return f"CAST({col} AS BIGINT) AS {col}"
    if typ == "DATE" or typ.startswith("TIMESTAMP"):
        return f"CAST({col} AS TIMESTAMP) AS {col}"
    return f"CAST({col} AS VARCHAR) AS {col}"


def oracle_diff(con, result_glob: str, oracle_sql: str) -> str | None:
    """Compare a parquet result with the oracle query as multisets of rows
    (columns by name, floats to 9 digits, integer widths unified).
    Returns None when equal, else what differs."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM read_parquet('{result_glob}')")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {oracle_sql}")
    got = con.execute("DESCRIBE got").fetchall()
    want = con.execute("DESCRIBE want").fetchall()
    if sorted(c[0] for c in got) != sorted(c[0] for c in want):
        return f"columns {sorted(c[0] for c in got)} vs {sorted(c[0] for c in want)}"
    sel = ", ".join(_norm_expr(name, typ) for name, typ, *_ in sorted(got))
    n_a = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_b = con.execute("SELECT count(*) FROM want").fetchone()[0]
    extra, missing = (
        con.execute(f"SELECT count(*) FROM (SELECT {sel} FROM {x} EXCEPT ALL SELECT {sel} FROM {y})")
        .fetchone()[0]
        for x, y in (("got", "want"), ("want", "got"))
    )
    if n_a != n_b or extra or missing:
        return f"{n_a} rows vs oracle {n_b}: {extra} unexpected, {missing} missing"
    return None


# -------------------------------------------------------------- near-dup


def shingles(text: str, k: int = 3) -> set[str]:
    """Word k-grams after lower/trim/whitespace split, as the queries do."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard_at_least(a: set, b: set, threshold: float) -> bool:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return union > 0 and Fraction(inter, union) >= Fraction(str(threshold))


def components(pairs) -> list[set]:
    """Connected components of the graph the pairs span (union-find)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    groups: dict = {}
    for x in parent:
        groups.setdefault(find(x), set()).add(x)
    return list(groups.values())


def neardup_errors(texts, pairs, clusters, planted, threshold) -> list[str]:
    """``texts``: doc id -> text; ``pairs``: ngram_jaccard_pairs (left,
    right); ``clusters``: dedup_clusters (id, cluster_id); ``planted``: the
    generator's (source, copy) pairs."""
    errors = []
    sh = {d: shingles(t) for d, t in texts.items()}
    if len(set(pairs)) != len(pairs):
        errors.append("ngram_jaccard_pairs: duplicate pairs")
    low = [(a, b) for a, b in pairs if not (a < b and jaccard_at_least(sh[a], sh[b], threshold))]
    if low:
        errors.append(f"ngram_jaccard_pairs: {len(low)} pairs below {threshold}, e.g. {low[0]}")
    returned = set(pairs)
    missed = [
        (s, c) for s, c in planted
        if jaccard_at_least(sh[s], sh[c], threshold) and (min(s, c), max(s, c)) not in returned
    ]
    if missed:
        errors.append(f"ngram_jaccard_pairs: {len(missed)} planted pairs missing, e.g. {missed[0]}")
    by_label: dict = {}
    for doc, label in clusters:
        by_label.setdefault(label, set()).add(doc)
    want = sorted(sorted(c) for c in components(pairs))
    got = sorted(sorted(c) for c in by_label.values())
    if got != want:
        errors.append(
            f"dedup_clusters: {len(got)} clusters vs {len(want)} components of the pairs"
        )
    return errors


# ------------------------------------------------------- orders table model

ORDER_COLS = ["order_id", "item_count", "cost", "order_time", "order_date"]


def orders_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Normalize an ``orders`` frame (from Spark's toPandas or from the
    generator) to comparable dtypes: times as epoch microseconds, dates as
    ISO strings.  Keeps ``_change_type`` when present."""
    times = df["order_time"]
    if not pd.api.types.is_integer_dtype(times):  # already epoch micros otherwise
        times = pd.to_datetime(times).to_numpy().astype("datetime64[us]").astype("int64")
    out = pd.DataFrame({
        "order_id": df["order_id"].astype(str).to_numpy(),
        "item_count": df["item_count"].astype("int64").to_numpy(),
        "cost": df["cost"].astype("float64").to_numpy(),
        "order_time": np.asarray(times, dtype="int64"),
        "order_date": pd.to_datetime(df["order_date"]).dt.strftime("%Y-%m-%d").to_numpy(),
    })
    if "_change_type" in df.columns:
        out["_change_type"] = df["_change_type"].astype(str).to_numpy()
    return out


def content_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash: the wrapping sum of per-row hashes."""
    if df.empty:
        return 0
    cols = sorted(df.columns)
    return int(pd.util.hash_pandas_object(df[cols], index=False).to_numpy().sum(dtype=np.uint64))


def summary(df: pd.DataFrame) -> tuple:
    """(rows, sum(cost), sum(item_count), content hash)."""
    return (
        len(df),
        math.fsum(df["cost"].tolist()),
        int(df["item_count"].sum()),
        content_hash(df),
    )


class OrdersModel:
    """The ``orders`` table applied op by op in pandas.  Each DML method
    returns the change-feed rows the commit must produce."""

    def __init__(self):
        self.rows = orders_frame(pd.DataFrame({c: [] for c in ORDER_COLS}))

    def append(self, batch: pd.DataFrame) -> None:
        self.rows = pd.concat([self.rows, batch], ignore_index=True)

    @staticmethod
    def _changes(*parts) -> pd.DataFrame:
        return pd.concat(
            [p.assign(_change_type=kind) for kind, p in parts], ignore_index=True
        )

    def delete_date(self, date: str) -> pd.DataFrame:
        hit = self.rows["order_date"] == date
        gone = self.rows[hit]
        self.rows = self.rows[~hit].reset_index(drop=True)
        return self._changes(("delete", gone))

    def zero_even_item_counts(self) -> pd.DataFrame:
        hit = self.rows["item_count"] % 2 == 0
        pre = self.rows[hit]
        post = pre.assign(item_count=0)
        self.rows = self.rows.copy()
        self.rows.loc[hit, "item_count"] = 0
        return self._changes(("update_preimage", pre), ("update_postimage", post))

    def merge_upsert(self, source: pd.DataFrame) -> pd.DataFrame:
        hit = self.rows["order_id"].isin(source["order_id"])
        pre = self.rows[hit]
        by_key = source.set_index("order_id")
        post = by_key.loc[pre["order_id"]].reset_index()[ORDER_COLS]
        new = source[~source["order_id"].isin(self.rows["order_id"])]
        self.rows = pd.concat([self.rows[~hit], post, new], ignore_index=True)
        return self._changes(
            ("update_preimage", pre), ("update_postimage", post), ("insert", new)
        )


def rows_diff(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Multiset comparison of two normalized frames; None when equal."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols:
        return f"columns {sorted(got.columns)} vs {cols}"
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = want[cols].sort_values(cols).reset_index(drop=True)
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"
    if not a.equals(b):
        return f"{int((a != b).any(axis=1).sum())} rows differ"
    return None


# ------------------------------------------------------------ table logs


def delta_live_files(location: str) -> set[str]:
    """Data files the latest version of a Delta table references, by
    replaying the JSON commits of ``_delta_log`` (add minus remove)."""
    live: set[str] = set()
    for path in sorted(glob.glob(os.path.join(location, "_delta_log", "*.json"))):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    live.add(unquote(action["add"]["path"]))
                elif "remove" in action:
                    live.discard(unquote(action["remove"]["path"]))
    return live


def delta_log_counts(location: str) -> dict[str, int]:
    """add / remove / cdc actions over every commit, and the log's bytes."""
    out = {"delta.files_added": 0, "delta.files_removed": 0, "delta.cdc_files": 0}
    log = os.path.join(location, "_delta_log")
    for path in glob.glob(os.path.join(log, "*.json")):
        with open(path) as f:
            for line in f:
                if line.strip():
                    action = json.loads(line)
                    for kind, key in (("add", "delta.files_added"),
                                      ("remove", "delta.files_removed"),
                                      ("cdc", "delta.cdc_files")):
                        out[key] += kind in action
    out["delta.log_bytes"] = sum(
        os.path.getsize(os.path.join(log, n)) for n in os.listdir(log)
    )
    return out


def acid_log_counts(location: str) -> dict[str, int]:
    out = {"acid.files_added": 0, "acid.files_removed": 0}
    for path in glob.glob(os.path.join(location, "_txn_log", "[0-9]*.json")):
        with open(path) as f:
            entry = json.load(f)
        out["acid.files_added"] += len(entry.get("add", []))
        out["acid.files_removed"] += len(entry.get("remove", []))
    return out


def acid_live_files(location: str) -> set[str]:
    """The same for an AcidTable, from its ``_txn_log`` entries, plus every
    committed change file: the AcidTable serves its change feed from them,
    so its VACUUM keeps them by design (Delta's drops unreferenced ones)."""
    live: set[str] = set()
    for path in sorted(glob.glob(os.path.join(location, "_txn_log", "[0-9]*.json"))):
        with open(path) as f:
            entry = json.load(f)
        for a in entry.get("add", []):
            live.add(a["path"])
        for r in entry.get("remove", []):
            live.discard(r["path"] if isinstance(r, dict) else r)
        live.update(entry.get("cdf", []))
    return live


def data_files(location: str) -> dict[str, int]:
    """Parquet files under a table directory, relative path -> bytes:
    partition data and change-data files, not logs or staging."""
    out = {}
    for root, dirs, files in os.walk(location):
        rel_root = os.path.relpath(root, location)
        top = rel_root.split(os.sep)[0]
        if top.startswith("_") and top != "_change_data":
            dirs[:] = []
            continue
        for name in files:
            if name.endswith(".parquet"):
                rel = os.path.normpath(os.path.join(rel_root, name))
                out[rel] = os.path.getsize(os.path.join(root, name))
    return out
