"""Seeded input generation for the benchmark.

Every input the program sees is made here from ``--seed``: the corpus
tables of ``corpus_curation`` and the day batches of ``dbt_daily``. The same
seed gives the same tables. Timestamps are written as ``timestamp[us]``: a
nanosecond timestamp would surface as ``bigint`` under the session's
``nanosAsLong`` conf, and a cast of it to ``date`` would then fail.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_VOCAB = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
_EMBED_DIM = 64

_US = pa.timestamp("us")


def _ts(days_from: dt.date, offsets_s: np.ndarray) -> pa.Array:
    base = (days_from - dt.date(1970, 1, 1)).days * 86_400_000_000
    return pa.array(base + (offsets_s * 1_000_000).astype("int64"), type=_US)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_corpus(out_dir: str, seed: int, n_doc: int) -> None:
    """Write the ``documents`` and ``embeddings`` tables, in the schema of the
    query catalog's corpus tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # random-vocabulary documents, ~5% near-duplicates (a copy of an
    # earlier document plus a " dup" marker) and ~1% exact copies, so the
    # dedup operators have real work to find
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_doc)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    vecs = rng.normal(size=(n_doc, _EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype("int32")),
    })


# -- dbt workload inputs ---------------------------------------------------

COUNTRIES = [f"C{i:02d}" for i in range(24)]
REGIONS_BY_COUNTRY = {c: _REGIONS[i % 5] for i, c in enumerate(COUNTRIES)}
ORDER_STATUS = ["open", "shipped", "closed"]
SALES_START = dt.date(2023, 1, 1)


class DayBatches:
    """The dbt project's source batches, one per day, all drawn from ``seed``.

    Day 0 is the initial history: ``n_orders`` orders, one event batch and
    complete sales rows for ``history_days`` dates. Every later day updates
    ``n_updates`` existing orders, adds ``n_new`` orders and ``n_events``
    events, and restates the sales of ``touched_dates`` dates: the day itself
    plus earlier dates drawn from the history. A date's sales rows are always
    complete, so an ``insert_overwrite`` of its partition replaces it exactly.
    """

    n_orders = 10_000
    history_days = 60
    n_updates = 1_500
    n_new = 500
    n_events = 2_000
    touched_dates = 3
    n_stores = 8

    def __init__(self, seed: int):
        self.seed = seed

    def date_of(self, day: int) -> dt.date:
        return SALES_START + dt.timedelta(days=self.history_days + day - 1)

    def orders(self, day: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, day, 1])
        if day == 0:
            ids = np.arange(self.n_orders, dtype="int64")
        else:
            known = self.n_orders + (day - 1) * self.n_new
            upd = rng.choice(known, self.n_updates, replace=False).astype("int64")
            ids = np.concatenate([upd, np.arange(known, known + self.n_new, dtype="int64")])
        n = len(ids)
        return {
            "order_id": ids,
            "customer_id": rng.integers(0, 5_000, n).astype("int64"),
            "country_code": rng.choice(COUNTRIES, n),
            "status": rng.choice(ORDER_STATUS, n),
            "amount": np.round(rng.uniform(5.0, 2_000.0, n), 2),
            "updated_at": np.full(n, day, dtype="int64"),
        }

    def events(self, day: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, day, 2])
        first = day * self.n_events
        return {
            "event_id": np.arange(first, first + self.n_events, dtype="int64"),
            "order_id": rng.integers(0, self.n_orders, self.n_events).astype("int64"),
            "kind": rng.choice(["view", "cart", "pay"], self.n_events),
        }

    def sales_dates(self, day: int) -> list[dt.date]:
        if day == 0:
            return [SALES_START + dt.timedelta(days=i) for i in range(self.history_days)]
        rng = np.random.default_rng([self.seed, day, 3])
        span = self.history_days + day - 1
        back = rng.choice(span, self.touched_dates - 1, replace=False)
        return [self.date_of(day)] + [SALES_START + dt.timedelta(days=int(b)) for b in back]

    def sales(self, day: int) -> dict[str, np.ndarray]:
        rng = np.random.default_rng([self.seed, day, 4])
        dates = self.sales_dates(day)
        n = len(dates) * self.n_stores
        return {
            "store_id": np.tile(np.arange(self.n_stores, dtype="int64"), len(dates)),
            "revenue": np.round(rng.uniform(100.0, 10_000.0, n), 2),
            "sale_date": np.repeat(np.array(dates, dtype="datetime64[D]"), self.n_stores),
        }

    def write(self, out_dir: str, day: int) -> str:
        """Write day ``day``'s three batch tables under ``out_dir/day_<n>``."""
        d = os.path.join(out_dir, f"day_{day:04d}")
        os.makedirs(d, exist_ok=True)
        o = self.orders(day)
        o_ts = _ts(SALES_START, (self.history_days + o.pop("updated_at")) * 86_400.0)
        _write(d, "orders_batch", {**{k: pa.array(v) for k, v in o.items()},
                                   "updated_at": o_ts})
        _write(d, "events_batch", {k: pa.array(v) for k, v in self.events(day).items()})
        s = self.sales(day)
        _write(d, "sales_batch", {"store_id": pa.array(s["store_id"]),
                                  "revenue": pa.array(s["revenue"]),
                                  "sale_date": pa.array(s["sale_date"], type=pa.date32())})
        return d
