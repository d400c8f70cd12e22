"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the
same rows, so two runs with one seed measure the same inputs.  Shapes
follow the sf0.1 ``documents`` table (TESTDATA.md) and the validation
suite's ``orders`` table (FIXTURES.md section A).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

# neardup corpus: fresh documents, then planted near-duplicates
CORPUS_DOCS = 2_000
NEARDUP_SHARE = 0.10  # share of the corpus that is a planted near-duplicate
EDIT_RATE = 0.03  # per-word substitution probability of a planted copy

# table_lifecycle layout.  The seed draws the values; the file layout is
# fixed, so every seed asks the table layer for the same amount of work.
# Append i writes ROWS_PER_DATE rows into each of the dates 3i, 3i+1 and
# 3i+2, so the ten appends (versions 1-10, past the Delta checkpoint at
# 10) leave exactly one data file in each of the 30 date partitions.
ORDER_DATES = 30
APPENDS = 10
DATES_PER_APPEND = 3
ROWS_PER_DATE = 20
DELETE_DAY = 4  # DELETE ... WHERE order_date = 2024-01-05
MERGE_DAYS = (9, 14, 19, 24)  # each gets 3 updated and 3 new orders
MERGE_ROWS_PER_DAY = 3


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents(seed: int, n_docs: int, share: float, edit_rate: float) -> dict:
    """A corpus in the sf0.1 ``documents`` style (10-100 words over a small
    vocabulary, so unrelated documents share few word 3-grams), with
    ``round(n_docs * share)`` planted near-duplicates.  Each planted copy
    takes a distinct random fresh document and replaces every word with a
    random vocabulary word with probability ``edit_rate``, then appends the
    word ``dup``; so every duplicate cluster is one pair, whatever the
    seed.  Returns the parquet columns plus the planted
    ``(source_id, copy_id)`` pairs."""
    rng = np.random.default_rng([seed, 2])
    n_dup = int(round(n_docs * share))
    n_fresh = n_docs - n_dup
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n_fresh):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    planted: list[tuple[int, int]] = []
    sources = rng.choice(n_fresh, n_dup, replace=False)
    for i, src in enumerate(sources):
        words = np.array(texts[src].split())
        edits = rng.random(len(words)) < edit_rate
        words[edits] = vocab[rng.integers(0, len(vocab), int(edits.sum()))]
        texts.append(" ".join(words) + " dup")
        planted.append((int(src), n_fresh + i))
    # shuffle ids so planted copies are not all at the end of the id range
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs)  # row i gets doc_id ids[i]
    planted = [(int(ids[a]), int(ids[b])) for a, b in planted]
    order = np.argsort(ids)
    texts = [texts[i] for i in order]
    cols = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    return {"columns": cols, "planted": planted}


def neardup_corpus(seed: int, out_dir: str) -> list[tuple[int, int]]:
    """Write the neardup workload's ``documents`` table; returns the planted
    (source, copy) doc-id pairs."""
    os.makedirs(out_dir, exist_ok=True)
    docs = documents(seed, CORPUS_DOCS, NEARDUP_SHARE, EDIT_RATE)
    _write(out_dir, "documents", docs["columns"])
    return docs["planted"]


def order_rows(rng, first_id: int, days) -> dict:
    """Rows of the validation suite's ``orders`` table, one per entry of
    ``days`` (day offsets into 2024-01): order ids ``order_<first_id>``..,
    item_count 1..5, cost round(U(0, 10), 2), an order_time inside its
    order_date.  On odd days item_count is odd (1, 3 or 5), so the
    lifecycle's ``UPDATE ... WHERE item_count % 2 = 0`` rewrites exactly
    the files of the even days, whatever the seed."""
    day = np.asarray(days)
    n = len(day)
    item_count = rng.integers(1, 6, n)
    odd_day = day % 2 == 1
    item_count[odd_day] = 2 * rng.integers(0, 3, int(odd_day.sum())) + 1
    minute = rng.integers(0, 24 * 60, n)
    date = np.datetime64("2024-01-01", "D") + day.astype("timedelta64[D]")
    return {
        "order_id": [f"order_{i}" for i in range(first_id, first_id + n)],
        "item_count": item_count.astype(np.int32),
        "cost": _money(rng, 0.0, 10.0, n),
        "order_time": (date.astype("datetime64[m]") + minute.astype("timedelta64[m]"))
        .astype("datetime64[us]"),
        "order_date": date,
    }


def lifecycle_batches(seed: int) -> tuple[list[dict], dict]:
    """The appended batches and the MERGE source of ``table_lifecycle``.
    The MERGE source re-prices MERGE_ROWS_PER_DAY random existing orders
    of each MERGE_DAYS date (same date, new item_count, cost and time) and
    adds as many new orders on that date."""
    rng = np.random.default_rng([seed, 3])
    per_append = DATES_PER_APPEND * ROWS_PER_DATE
    batches = []
    for i in range(APPENDS):
        days = np.repeat(
            [(DATES_PER_APPEND * i + j) % ORDER_DATES for j in range(DATES_PER_APPEND)],
            ROWS_PER_DATE,
        )
        batches.append(order_rows(rng, i * per_append, days))
    k = MERGE_ROWS_PER_DAY
    days = np.repeat(MERGE_DAYS, 2 * k)
    upd = order_rows(rng, APPENDS * per_append, days)
    ids = []
    for n, day in enumerate(MERGE_DAYS):
        # the batch and row offset that hold this date's rows
        batch, slot = divmod(day, DATES_PER_APPEND)
        first = batch * per_append + slot * ROWS_PER_DATE
        picked = sorted(rng.choice(ROWS_PER_DATE, k, replace=False) + first)
        ids += [f"order_{i}" for i in picked]
        ids += upd["order_id"][(2 * n + 1) * k:(2 * n + 2) * k]
    upd["order_id"] = ids
    return batches, upd
