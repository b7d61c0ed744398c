"""The benchmark's workloads: closed loops with one client.

Each workload makes its inputs from the seed, prepares its starting state,
warms up, then runs ops one after another; an op starts only after the
previous one returned. ``op(i)`` returns a true value when the op's own
checks failed. ``verify(n)`` runs after the timed phase and returns the
problems found and the indices of the ops they make wrong.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd

import gen

# -- dbt_daily ---------------------------------------------------------------

_SEED_CSV = "country_code,region\n" + "\n".join(
    f"{c},{r}" for c, r in gen.REGIONS_BY_COUNTRY.items()
)
_BATCHES = ("orders_batch", "events_batch", "sales_batch")
# the first incremental day runs cold code paths (merge, append, partition
# overwrite, snapshot against an existing table); it is set-up, not an op
WARM_DAYS = 1


def dbt_project(Model, ModelConfig) -> list:
    """The eight models of the daily project, in dbt terms."""
    return [
        Model("countries", seed_csv=_SEED_CSV, config=ModelConfig(materialized="seed")),
        # reads a session temp view, so it must stay ephemeral: a persistent
        # view cannot reference a temp view
        Model("stg_orders", sql=(
            "select order_id, customer_id, country_code, status, amount, updated_at "
            "from {{ source('orders_batch') }}"),
            config=ModelConfig(materialized="ephemeral")),
        Model("orders", sql="select * from {{ ref('stg_orders') }}",
              config=ModelConfig(materialized="incremental", incremental_strategy="merge",
                                 unique_key=["order_id"]),
              tests={"order_id": ["unique", "not_null"],
                     "status": [{"accepted_values": {"values": gen.ORDER_STATUS}}],
                     "country_code": [{"relationships": {"to": "countries",
                                                         "field": "country_code"}}]}),
        Model("events", sql="select event_id, order_id, kind from {{ source('events_batch') }}",
              config=ModelConfig(materialized="incremental", incremental_strategy="append"),
              tests={"event_id": ["not_null"]}),
        Model("daily_sales", sql=(
            "select store_id, revenue, sale_date from {{ source('sales_batch') }}"),
            config=ModelConfig(materialized="incremental",
                               incremental_strategy="insert_overwrite",
                               partition_by=["sale_date"]),
            tests={"sale_date": ["not_null"]}),
        Model("region_revenue", sql=(
            "select c.region, count(*) as n_orders, "
            "cast(sum(cast(o.amount as decimal(18,2))) as double) as revenue "
            "from {{ ref('orders') }} o join {{ ref('countries') }} c "
            "on o.country_code = c.country_code group by c.region"),
            config=ModelConfig(materialized="table"),
            tests={"region": ["unique"]}),
        Model("open_orders", sql=(
            "select order_id, amount from {{ ref('orders') }} where status = 'open'"),
            config=ModelConfig(materialized="view")),
        Model("orders_snapshot", sql="select order_id, status, amount from {{ ref('orders') }}",
              config=ModelConfig(materialized="snapshot", strategy="check",
                                 unique_key=["order_id"], check_cols=["status", "amount"]),
              tests={"dbt_scd_id": ["unique"]}),
    ]


class DbtDaily:
    """Each op is one ``Engine.run()`` plus one ``Engine.test()`` of the
    project on a freshly generated day batch."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.batches = gen.DayBatches(seed)
        self.inputs = os.path.join(work, "inputs")
        self.engine = None
        self.last_day = 0
        self.test_failures = 0
        self.failing_rows: list[int] = []
        self.clock = ""

    pass_len = 1
    # ops run as fast with a 1g heap as with 2g, and the smaller heap grows
    # less differently from run to run, which keeps peak memory steady
    jvm_heap = "1g"
    # a run is two days, so its median is the mean of two ops
    min_ops = 2

    def make_inputs(self, max_ops: int) -> None:
        # day 0 is the initial build, then the warm-up days
        for day in range(max_ops + WARM_DAYS + 1):
            self.batches.write(self.inputs, day)

    def _day_dir(self, day: int) -> str:
        return os.path.join(self.inputs, f"day_{day:04d}")

    def prepare(self) -> None:
        """Fresh warehouse and schema, day-0 sources, full initial build."""
        from dbt_glue_spark.engine import Engine, Model, ModelConfig

        # the snapshot clock is the batch's day, so SCD2 validity is seeded too
        self.engine = Engine(self.spark, os.path.join(self.work, "warehouse"), schema="bench",
                             now=lambda: f"{self.clock} 00:00:00")
        for m in dbt_project(Model, ModelConfig):
            self.engine.add(m)
        self._load_day(0)
        self.engine.run()
        self.last_day = 0

    def _load_day(self, day: int) -> None:
        from dbt_glue_spark.sources.registry import register_sources

        self.clock = self.batches.date_of(day).isoformat()
        register_sources(self.spark, self._day_dir(day), tables=_BATCHES)

    def _run_day(self, day: int) -> int:
        self._load_day(day)
        self.engine.run()
        report = self.engine.test().collect()
        self.failing_rows.append(sum(r["n_failures"] for r in report))
        return sum(1 for r in report if not r["passed"])

    def warm_up(self, tracer) -> None:
        for _ in range(WARM_DAYS):
            self.op(-1, tracer)
        self.first_timed_day = self.last_day + 1

    def kind(self, i: int) -> str:
        return "day"

    def op(self, i: int, tracer) -> int:
        day = self.last_day + 1
        failed = self._run_day(day)
        self.last_day = day
        self.test_failures += failed
        return failed

    def after_op(self, since_s: float) -> dict[str, float]:
        """Per-layer counts of the op that started at ``since_s`` (wall
        clock); called outside the op's timer."""
        b = self.batches
        rows = self.history_rows(int(since_s * 1000), int(time.time() * 1000))
        loc = self.engine.catalog.location(self.engine.relation_for("daily_sales"))
        return {
            "engine.rows_written": sum(rows.values())
            + self.unlogged_rows(range(self.last_day, self.last_day + 1)),
            "engine.merge_rewrite_ratio": rows.get("MERGE", 0) / (b.n_updates + b.n_new),
            "catalog.partitions_written": _partitions_written(loc.removeprefix("file:"),
                                                              since_s),
            "quality.failing_rows": self.failing_rows[-1],
        }

    def report(self, wall0_ms: int, wall1_ms: int, n_ops: int, timed_s: float) -> dict:
        """The dbt-only end-to-end metrics."""
        committed = self.history_rows(wall0_ms, wall1_ms)
        days = range(self.first_timed_day, self.first_timed_day + n_ops)
        disk, live = self.storage()
        return {"rows_written_per_s": (sum(committed.values()) + self.unlogged_rows(days))
                / timed_s,
                "storage_amp": disk / live}

    def final_counts(self) -> dict[str, float]:
        disk, live = self.storage()
        return {"engine.bytes_on_disk": disk, "engine.bytes_live": live}

    # -- measurements -------------------------------------------------------
    def schema_dir(self) -> str:
        return os.path.join(self.engine.warehouse, self.engine.schema)

    def history_rows(self, since_ms: int, until_ms: int) -> dict[str, int]:
        """Rows committed per op kind between two wall-clock instants, as
        ``Engine.history`` reports them."""
        out: dict[str, int] = {}
        for name in self.engine.models:
            for e in self.engine.history(name):
                if since_ms <= e["ts_ms"] <= until_ms and e["rows"] > 0:
                    out[e["op"]] = out.get(e["op"], 0) + e["rows"]
        return out

    def unlogged_rows(self, days: range) -> int:
        """Rows of the append and partitioned insert_overwrite commits, which
        write in place and leave no entry in ``Engine.history``."""
        b = self.batches
        return sum(b.n_events + len(b.sales_dates(d)) * b.n_stores for d in days)

    def storage(self) -> tuple[int, int]:
        """(bytes under the schema's warehouse dir, bytes of live generations)."""
        live = 0
        for name, m in self.engine.models.items():
            if m.config.materialized in ("ephemeral", "view"):
                continue
            loc = self.engine.catalog.location(self.engine.relation_for(name))
            live += _du(loc.removeprefix("file:"))
        return _du(self.schema_dir()), live

    # -- correctness --------------------------------------------------------
    def verify(self, n_ops: int) -> tuple[list[str], set[int]]:
        """Recompute the end state from the generated batches and compare."""
        b, days = self.batches, range(self.last_day + 1)
        problems = []
        want_orders = {}
        for d in days:
            o = b.orders(d)
            for oid, cc, st, amt in zip(o["order_id"], o["country_code"], o["status"],
                                        o["amount"]):
                want_orders[int(oid)] = (str(cc), str(st), float(amt))
        got = self._table("orders", "order_id, country_code, status, amount")
        got_orders = {int(r[0]): (r[1], r[2], float(r[3])) for r in got}
        if got_orders != want_orders:
            problems.append("orders: merged keys do not hold their last batch values")
        n_events = self._table("events", "count(*)")[0][0]
        if n_events != b.n_events * len(days):
            problems.append(f"events: {n_events} rows, want {b.n_events * len(days)}")
        want_sales = {}
        for d in days:
            s = b.sales(d)
            for st, rev, sd in zip(s["store_id"], s["revenue"], s["sale_date"]):
                want_sales[(sd.astype(object), int(st))] = float(rev)
        got_sales = {(r[0], int(r[1])): float(r[2])
                     for r in self._table("daily_sales", "sale_date, store_id, revenue")}
        if got_sales != want_sales:
            problems.append("daily_sales: a partition differs from its last batch")
        snap = self._table("orders_snapshot",
                           "order_id, status, amount, dbt_valid_to is null as open")
        open_rows = [(int(r[0]), r[1], float(r[2])) for r in snap if r[3]]
        if len(open_rows) != len({k for k, _, _ in open_rows}) or \
                {k: (s, a) for k, s, a in open_rows} != \
                {k: (v[1], v[2]) for k, v in want_orders.items()}:
            problems.append("orders_snapshot: not exactly one open row per key at its value")
        region_of = gen.REGIONS_BY_COUNTRY
        frame = pd.DataFrame([(region_of[v[0]], v[2]) for v in want_orders.values()],
                             columns=["region", "amount"])
        want_rev = {r: (len(g), round(float(np.round(g.amount.sum(), 2)), 2))
                    for r, g in frame.groupby("region")}
        got_rev = {r[0]: (r[1], round(r[2], 2))
                   for r in self._table("region_revenue", "region, n_orders, revenue")}
        if got_rev != want_rev:
            problems.append("region_revenue: aggregate differs from the merged orders")
        if self.test_failures:
            problems.append(f"Engine.test reported {self.test_failures} failing tests")
        # a wrong end state is the work of every op that built it
        return problems, set(range(n_ops)) if problems else set()

    def _table(self, name: str, cols: str) -> list:
        rel = self.engine.relation_for(name).render()
        return [tuple(r) for r in self.spark.sql(f"select {cols} from {rel}").collect()]


def _partitions_written(table_dir: str, since_s: float) -> int:
    """Partition directories holding a data file written after ``since_s``."""
    dirs = set()
    for root, _, files in os.walk(table_dir):
        if any(os.path.getmtime(os.path.join(root, f)) >= since_s
               for f in files if f.endswith(".parquet")):
            dirs.add(root)
    return len(dirs)


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# -- corpus_curation ---------------------------------------------------------

CORPUS_OPS = (
    "ext_exact_dedup",
    "ext_minhash_lsh_pairs",
    "ext_dup_clusters",
    "ext_span_dedup",
    "ext_text_stats",
    "ext_quality_classifier",
    "ext_bm25_search",
    "ext_knn_bruteforce",
)
CORPUS_DOCS = 500


class CorpusCuration:
    """Each op is one extension operator of the query catalog over the
    ``documents``/``embeddings`` tables.

    Ops cycle through all eight operators in a fixed order from a seeded
    starting point; the warm-up pass runs the same cycle. Every op thus
    follows the same predecessor on every seed, so the garbage and compiled
    code one operator leaves behind weighs on the same successor each run."""

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data = os.path.join(work, "inputs")
        self.start = random.Random(seed).randrange(len(CORPUS_OPS))
        self.results: dict[str, list] = {}
        self.columns: dict[str, list[str]] = {}
        self.cached = 0

    pass_len = len(CORPUS_OPS)
    min_ops = pass_len
    # with 1g the cached intermediates of the dedup operators make the
    # collector run often enough to slow minhash and dup_clusters by ~25%
    jvm_heap = "2g"

    def make_inputs(self, max_ops: int) -> None:
        gen.make_corpus(self.data, self.seed, CORPUS_DOCS)

    def prepare(self) -> None:
        from dbt_glue_spark.plans.catalog import SPECS
        from dbt_glue_spark.sources.registry import register_sources

        self.specs = {n: s for n, s in SPECS().items() if n in CORPUS_OPS}
        register_sources(self.spark, self.data, tables=("documents", "embeddings"))

    def warm_up(self, tracer) -> None:
        for i in range(self.pass_len):
            self._run(self.kind(i), tracer)

    def kind(self, i: int) -> str:
        return CORPUS_OPS[(self.start + i) % len(CORPUS_OPS)]

    def op(self, i: int, tracer) -> int:
        name = self.kind(i)
        cols, rows, self.cached = self._run(name, tracer)
        self.columns.setdefault(name, cols)
        self.results.setdefault(name, []).append(rows)
        return 0

    def _run(self, name: str, tracer) -> tuple[list[str], list[tuple], int]:
        from dbt_glue_spark.extensions import dedup

        with tracer.span("plans.build", "plans"):
            df = self.specs[name].fn(self.spark, self.data)
        with tracer.span("plans.exec", "plans"):
            rows = [tuple(r) for r in df.collect()]
        return df.columns, rows, dedup.release_caches()

    def after_op(self, since_s: float) -> dict[str, float]:
        return {"extensions.cached_frames": self.cached}

    def report(self, wall0_ms: int, wall1_ms: int, n_ops: int, timed_s: float) -> dict:
        return {}

    def final_counts(self) -> dict[str, float]:
        return {}

    def verify(self, n_ops: int) -> tuple[list[str], set[int]]:
        """Compare each operator's first result with its DuckDB oracle, and
        every later result of the operator with the first."""
        import duckdb

        from tools.check_parity import normalize, values_equal

        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        problems, wrong = [], set()
        for name, runs in self.results.items():
            cols = self.columns[name]
            first = normalize(runs[0], cols)
            rel = con.sql(self.specs[name].oracle)
            want = normalize(rel.fetchall(), rel.columns)
            same = sorted(cols) == sorted(rel.columns) and len(first) == len(want) and all(
                values_equal(a, b) for x, y in zip(first, want) for a, b in zip(x, y))
            if not same:
                problems.append(f"{name}: differs from its DuckDB oracle")
                wrong.add(name)
            elif any(normalize(r, cols) != first for r in runs[1:]):
                problems.append(f"{name}: a repeat returned a different answer")
                wrong.add(name)
        con.close()
        return problems, {i for i in range(n_ops) if self.kind(i) in wrong}
