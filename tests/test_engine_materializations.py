"""Materialization engine tests — the standard dbt adapter-suite scenarios
(reference: tests/functional/adapter/test_basic.py, test_iceberg.py) run
against the in-process engine: seed → view → table → incremental
(append / insert_overwrite / merge) → snapshot, asserting the reference's
row-count invariants (base=10, added=20, incremental→30, snapshot 10→20)
from FIXTURES.md §1-2.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_glue_spark.engine import Engine, Model, ModelConfig

BASE_CSV = "id,first_name,last_name,email,gender,ip_address\n" + "\n".join(
    f"{i},Name{i},Last{i},n{i}@x.org,{'Male' if i % 2 else 'Female'},10.0.0.{i}"
    for i in range(1, 11)
)
ADDED_CSV = "id,first_name,last_name,email,gender,ip_address\n" + "\n".join(
    f"{i},Name{i},Last{i},n{i}@x.org,{'Male' if i % 2 else 'Female'},10.0.0.{i}"
    for i in range(1, 31)
)


@pytest.fixture()
def engine(spark, warehouse):
    import uuid

    schema = f"t_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    yield eng
    eng.catalog.drop_schema(schema)


def test_seed_view_table_roundtrip(engine):
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(
        Model(
            "v_base",
            sql="select id, email from {{ ref('base') }} where id <= 5",
            config=ModelConfig(materialized="view"),
        )
    )
    engine.add(
        Model(
            "t_base",
            sql="select * from {{ ref('v_base') }}",
            config=ModelConfig(materialized="table"),
        )
    )
    engine.run()
    assert engine.ref_df("base").count() == 10
    assert engine.ref_df("v_base").count() == 5
    assert engine.ref_df("t_base").count() == 5
    # seed type inference: id is bigint (agate Number-integral → bigint)
    assert dict(engine.ref_df("base").dtypes)["id"] == "bigint"


def test_ephemeral_inlining(engine):
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(
        Model(
            "eph",
            sql="select id from {{ ref('base') }} where id > 3",
            config=ModelConfig(materialized="ephemeral"),
        )
    )
    engine.add(
        Model(
            "final",
            sql="select count(*) as n from {{ ref('eph') }}",
            config=ModelConfig(materialized="table"),
        )
    )
    engine.run()
    assert engine.ref_df("final").collect()[0].n == 7
    # ephemeral model itself is never cataloged
    assert not engine.catalog.exists(engine.relation_for("eph"))


def test_incremental_append_high_water_mark(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc",
        sql="select * from {{ ref('added') }} where id <= 10",
        config=ModelConfig(materialized="incremental", incremental_strategy="append"),
    )
    engine.add(inc)
    engine.run(["added", "inc"])
    assert engine.ref_df("inc").count() == 10
    # second run: high-water-mark batch (reference README.md:528-534 shape)
    inc.sql = (
        "select * from {{ ref('added') }} "
        "where id > (select max(id) from {{ this }})"
    )
    engine.run_model(inc)
    assert engine.ref_df("inc").count() == 30
    # idempotent re-run: empty batch appends nothing
    engine.run_model(inc)
    assert engine.ref_df("inc").count() == 30


def test_incremental_insert_overwrite_partitions(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc_po",
        sql="select id, email, id % 3 as part from {{ ref('added') }} where id <= 20",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy="insert_overwrite",
            partition_by=["part"],
        ),
    )
    engine.add(inc)
    engine.run(["added", "inc_po"])
    assert engine.ref_df("inc_po").count() == 20
    # overwrite ONLY partition 0 with a single row; partitions 1,2 intact
    inc.sql = (
        "select id, email, id % 3 as part from {{ ref('added') }} "
        "where id = 30 and id % 3 = 0"
    )
    engine.run_model(inc)
    out = engine.ref_df("inc_po")
    assert out.filter("part = 0").count() == 1  # replaced
    assert out.filter("part != 0").count() == 14  # untouched (ids 1..20 w/ part!=0)


def test_incremental_merge_upsert(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc_m",
        sql="select id, email, 'v1' as ver from {{ ref('added') }} where id <= 10",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy="merge",
            unique_key=["id"],
        ),
    )
    engine.add(inc)
    engine.run(["added", "inc_m"])
    # run 2: update ids 6-10, insert 11-15 (reference merge invariants,
    # test_iceberg.py:565-585 10/20/30 pattern condensed)
    inc.sql = (
        "select id, email, 'v2' as ver from {{ ref('added') }} "
        "where id between 6 and 15"
    )
    engine.run_model(inc)
    out = engine.ref_df("inc_m")
    assert out.count() == 15
    assert out.filter("ver = 'v2'").count() == 10
    assert out.filter("ver = 'v1'").count() == 5


def test_incremental_merge_update_columns(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc_mc",
        sql="select id, email, 'a' as c1, 'a' as c2 from {{ ref('added') }} where id <= 5",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy="merge",
            unique_key=["id"],
            merge_update_columns=["c1"],
        ),
    )
    engine.add(inc)
    engine.run(["added", "inc_mc"])
    inc.sql = "select id, email, 'b' as c1, 'b' as c2 from {{ ref('added') }} where id <= 5"
    engine.run_model(inc)
    rows = engine.ref_df("inc_mc").filter("id <= 5").collect()
    assert all(r.c1 == "b" and r.c2 == "a" for r in rows)  # only c1 updated


def test_merge_format_gating(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc_gate",
        sql="select id from {{ ref('added') }}",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy="merge",
            unique_key=["id"],
            require_transactional_merge=True,  # reference validate.sql:38-47
        ),
    )
    engine.add(inc)
    engine.run(["added"])
    # validation is upfront (validate.sql runs before the create-vs-merge
    # decision), so even the first run rejects merge-on-parquet
    with pytest.raises(ValueError, match="merge strategy requires"):
        engine.run_model(inc)


def test_schema_evolution_append_new_columns(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    inc = Model(
        "inc_se",
        sql="select id, email from {{ ref('added') }} where id <= 10",
        config=ModelConfig(
            materialized="incremental",
            incremental_strategy="merge",
            unique_key=["id"],
            on_schema_change="append_new_columns",
        ),
    )
    engine.add(inc)
    engine.run(["added", "inc_se"])
    # evolved batch adds `phone` (FIXTURES.md §3 shape)
    inc.sql = (
        "select id, email, '555' as phone from {{ ref('added') }} "
        "where id between 6 and 12"
    )
    engine.run_model(inc)
    out = engine.ref_df("inc_se")
    assert out.count() == 12
    assert "phone" in out.columns
    assert out.filter("phone is null").count() == 5  # ids 1-5 backfilled NULL
    # ignore mode drops the new column instead
    inc2 = Model(
        "inc_se2",
        sql="select id, email from {{ ref('added') }} where id <= 3",
        config=ModelConfig(
            materialized="incremental", incremental_strategy="append",
            on_schema_change="ignore",
        ),
    )
    engine.add(inc2)
    engine.run(["inc_se2"])
    inc2.sql = "select id, email, 'x' as extra from {{ ref('added') }} where id = 4"
    engine.run_model(inc2)
    assert "extra" not in engine.ref_df("inc_se2").columns


def test_snapshot_check_strategy(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    ts = {"t": "2024-01-01 00:00:00"}
    eng_now = lambda: ts["t"]  # noqa: E731
    engine._now = eng_now
    snap = Model(
        "snap",
        sql="select id, email, gender from {{ ref('added') }} where id <= 10",
        config=ModelConfig(materialized="snapshot", unique_key=["id"], strategy="check"),
    )
    engine.add(snap)
    engine.run(["added", "snap"])
    assert engine.ref_df("snap").count() == 10  # first snapshot = 10 rows
    # run 2: id<=20 (10 new), id 1-3 changed email
    ts["t"] = "2024-02-01 00:00:00"
    snap.sql = (
        "select id, case when id <= 3 then 'new@x.org' else email end as email, "
        "gender from {{ ref('added') }} where id <= 20"
    )
    engine.run_model(snap)
    out = engine.ref_df("snap")
    assert out.count() == 23  # 10 + 10 new + 3 new versions
    assert out.filter("dbt_valid_to is not null").count() == 3
    assert out.filter("dbt_valid_to is null").count() == 20
    cols = set(out.columns)
    assert {"dbt_scd_id", "dbt_valid_from", "dbt_valid_to", "dbt_updated_at"} <= cols


def test_snapshot_timestamp_strategy(engine):
    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    snap = Model(
        "snap_ts",
        sql=(
            "select id, email, timestamp '2024-01-01 00:00:00' as updated_at "
            "from {{ ref('added') }} where id <= 5"
        ),
        config=ModelConfig(
            materialized="snapshot",
            unique_key=["id"],
            strategy="timestamp",
            updated_at="updated_at",
        ),
    )
    engine.add(snap)
    engine.run(["added", "snap_ts"])
    # bump updated_at for ids 1-2 only → exactly 2 closed + 2 new versions
    snap.sql = (
        "select id, email, case when id <= 2 then timestamp '2024-03-01 00:00:00' "
        "else timestamp '2024-01-01 00:00:00' end as updated_at "
        "from {{ ref('added') }} where id <= 5"
    )
    engine.run_model(snap)
    out = engine.ref_df("snap_ts")
    assert out.count() == 7
    assert out.filter("dbt_valid_to is not null").count() == 2


def test_python_model_and_catalog_ops(engine, spark):
    def my_model(dbt, spark_):
        base = dbt.ref("added")
        return base.groupBy("gender").agg(F.count("*").alias("n"))

    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    engine.add(Model("py_agg", fn=my_model, config=ModelConfig(materialized="table")))
    engine.run()
    assert engine.ref_df("py_agg").count() == 2
    # catalog facade: rename (native, vs the reference's copy-hack impl.py:192-217)
    rel = engine.relation_for("py_agg")
    dst = engine.relation_for("py_agg_renamed")
    engine.catalog.rename(rel, dst)
    assert engine.catalog.exists(dst) and not engine.catalog.exists(rel)
    assert engine.catalog.relation_type(dst) == "table"
    engine.catalog.drop(dst)
    assert not engine.catalog.exists(dst)


def test_execute_script_and_fetch(engine, spark):
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.run()
    rel = engine.relation_for("base").render()
    # dbt_next_query multi-statement protocol (connection.py:417-427)
    out = engine.execute_script(
        f"""
        create or replace temporary view _s1 as select id from {rel} where id <= 4
        dbt_next_query
        select count(*) as n from _s1
        """
    )
    assert out.collect()[0].n == 4
    # results channel shape (SqlWrapper2: rowcount/results/description)
    payload = engine.fetch(out)
    assert payload["rowcount"] == 1
    assert payload["results"][0]["n"] == 4
    assert payload["description"] == [("n", "bigint")]


def test_run_tests_loop(engine):
    """The four generic tests through ``Model.tests`` + ``Engine.test``."""
    engine.add(
        Model(
            "base",
            seed_csv=BASE_CSV,
            config=ModelConfig(materialized="seed"),
            tests={
                "id": ["unique"],
                "email": ["not_null"],
                "gender": [{"accepted_values": {"values": ["Male", "Female"]}}],
            },
        )
    )
    engine.add(
        Model(
            "kids",
            sql="select id + 20 as id, id as parent_id from {{ ref('base') }}",
            config=ModelConfig(materialized="table"),
            tests={"parent_id": [{"relationships": {"to": "base", "field": "id"}}]},
        )
    )
    engine.run()
    report = {(r.model, r.column, r.test): r.n_failures for r in engine.test().collect()}
    assert report == {
        ("base", "id", "unique"): 0,
        ("base", "email", "not_null"): 0,
        ("base", "gender", "accepted_values"): 0,
        ("kids", "parent_id", "relationships"): 0,
    }
    # violation: accepted_values missing one category
    engine.models["base"].tests = {"gender": [{"accepted_values": {"values": ["Male"]}}]}
    (row,) = engine.test(["base"]).collect()
    assert (row.test, row.n_failures, row.passed) == ("accepted_values", 1, False)


def test_python_model_incremental_merge(engine):
    state = {"hi": 4}

    def py_inc(dbt, spark_):
        base = dbt.ref("added")
        if dbt.is_incremental():
            return base.filter(F.col("id") <= 8).select(
                "id", F.lit("new").alias("tag")
            )
        return base.filter(F.col("id") <= state["hi"]).select(
            "id", F.lit("old").alias("tag")
        )

    engine.add(Model("added", seed_csv=ADDED_CSV, config=ModelConfig(materialized="seed")))
    m = Model(
        "py_inc",
        fn=py_inc,
        config=ModelConfig(
            materialized="incremental", incremental_strategy="merge", unique_key=["id"]
        ),
    )
    engine.add(m)
    engine.run(["added", "py_inc"])
    assert engine.ref_df("py_inc").count() == 4
    engine.run_model(m)  # incremental run: ids 1-8 tagged new, merged
    out = engine.ref_df("py_inc")
    assert out.count() == 8
    assert out.filter("tag = 'new'").count() == 8


def test_parallel_dag_execution(engine):
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    for i in range(4):  # four independent children of base
        engine.add(
            Model(
                f"child_{i}",
                sql=f"select id, id * {i + 1} as v from {{{{ ref('base') }}}}",
                config=ModelConfig(materialized="table"),
            )
        )
    engine.add(
        Model(
            "summary",
            sql="select (select count(*) from {{ ref('child_0') }})"
            " + (select count(*) from {{ ref('child_3') }}) as total",
            config=ModelConfig(materialized="table"),
        )
    )
    engine.run(threads=4)
    for i in range(4):
        assert engine.ref_df(f"child_{i}").count() == 10
    assert engine.ref_df("summary").collect()[0].total == 20


def test_schema_test_runner(engine):
    engine.add(
        Model(
            "base",
            seed_csv=BASE_CSV,
            config=ModelConfig(materialized="seed"),
            tests={
                "id": ["unique", "not_null"],
                "gender": [{"accepted_values": {"values": ["Male", "Female"]}}],
            },
        )
    )
    engine.add(
        Model(
            "dupes",
            sql="select id % 3 as grp, email from {{ ref('base') }}",
            config=ModelConfig(materialized="table"),
            tests={
                "grp": ["unique"],  # must fail: 10 rows, 3 groups
                "email": [{"relationships": {"to": "base", "field": "email"}}],
            },
        )
    )
    engine.run()
    report = {(r.model, r.column, r.test): (r.n_failures, r.passed) for r in engine.test().collect()}
    assert report[("base", "id", "unique")] == (0, True)
    assert report[("base", "id", "not_null")] == (0, True)
    assert report[("base", "gender", "accepted_values")] == (0, True)
    assert report[("dupes", "email", "relationships")] == (0, True)
    n_fail, passed = report[("dupes", "grp", "unique")]
    assert not passed and n_fail == 3  # all three groups are duplicated


def test_backfill_microbatch_idempotent(engine, spark):
    from dbt_glue_spark.sources.registry import register_sources

    register_sources(spark, "/root/testdata/sf0.001", ("events",))
    engine.add(
        Model(
            "daily_events",
            sql=(
                "select event_id, user_id, cast(ts as date) as day, value "
                "from events "
                "where cast(ts as date) >= cast({{ batch_start }} as date) "
                "and cast(ts as date) < cast({{ batch_end }} as date)"
            ),
            config=ModelConfig(
                materialized="incremental",
                incremental_strategy="insert_overwrite",
                partition_by=["day"],
            ),
        )
    )
    ran = engine.backfill("daily_events", "2024-01-01", "2024-01-07", batch_days=2)
    assert ran == [
        ("2024-01-01", "2024-01-03"),
        ("2024-01-03", "2024-01-05"),
        ("2024-01-05", "2024-01-07"),
    ]
    expected = (
        spark.table("events")
        .filter("cast(ts as date) >= '2024-01-01' and cast(ts as date) < '2024-01-07'")
        .count()
    )
    assert engine.ref_df("daily_events").count() == expected
    # re-running one period must not duplicate (its partitions overwrite)
    engine.backfill("daily_events", "2024-01-03", "2024-01-05", batch_days=2)
    assert engine.ref_df("daily_events").count() == expected


def test_pre_and_post_hooks_run_with_resolution(spark, warehouse):
    import uuid

    from dbt_glue_spark.engine import Engine, Model, ModelConfig

    schema = f"t_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    eng.add(
        Model(
            "audit",
            seed_csv="event,target\nboot,none\n",
            config=ModelConfig(materialized="seed"),
        )
    )
    eng.add(
        Model(
            "hooked",
            sql="select 1 as x",
            config=ModelConfig(),
            pre_hook=[
                "insert into {{ ref('audit') }} values ('pre', 'none')"
            ],
            post_hook=[
                "insert into {{ ref('audit') }} select 'post', '{{ this }}'",
                "alter table {{ this }} set tblproperties ('hooked' = 'yes')",
            ],
        )
    )
    try:
        eng.run()
        audit = {r.event: r.target for r in eng.ref_df("audit").collect()}
        assert set(audit) == {"boot", "pre", "post"}
        # {{ this }} resolved to the fully-qualified relation inside the hook
        assert audit["post"] == eng.relation_for("hooked").render()
        props = {
            r.key: r.value
            for r in spark.sql(
                f"SHOW TBLPROPERTIES {eng.relation_for('hooked').render()}"
            ).collect()
        }
        assert props.get("hooked") == "yes"
    finally:
        eng.catalog.drop_schema(schema)


def _record_builds(engine, before=None, after=None):
    """Wrap ``engine.run_model`` to log build order and run per-model
    callbacks (``before[name]()`` / ``after[name]()``) on the worker."""
    built: list[str] = []
    orig = engine.run_model

    def run_model(model):
        if before and model.name in before:
            before[model.name]()
        rel = orig(model)
        built.append(model.name)
        if after and model.name in after:
            after[model.name]()
        return rel

    engine.run_model = run_model
    return built


def test_scheduler_is_dependency_driven_not_level_barrier(engine):
    """A slow root blocks until the CHILD of a fast root has been built; a
    level barrier would hold the child until the slow root finished and
    the bounded wait would time out."""
    import threading

    child_done = threading.Event()
    waited: list[bool] = []
    engine.add(Model("slow_root", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(Model("fast_root", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(
        Model(
            "fast_child",
            sql="select id from {{ ref('fast_root') }}",
            config=ModelConfig(materialized="table"),
        )
    )
    built = _record_builds(
        engine,
        before={"slow_root": lambda: waited.append(child_done.wait(60))},
        after={"fast_child": child_done.set},
    )
    engine.run(threads=2)
    assert waited == [True]
    assert built.index("fast_child") < built.index("slow_root")
    assert engine.ref_df("fast_child").count() == 10


def test_scheduler_single_thread_builds_in_topological_order(engine):
    # declared children-first: the DFS order puts each parent before its child
    engine.add(
        Model("top", sql="select * from {{ ref('mid') }} join {{ ref('side') }} using (id)")
    )
    engine.add(Model("mid", sql="select id from {{ ref('base') }}"))
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(Model("side", sql="select id, email from {{ ref('base') }}"))
    built = _record_builds(engine)
    engine.run(threads=1)
    assert built == ["base", "mid", "side", "top"]


def test_scheduler_failure_stops_dependents_and_reraises(engine):
    """After ``bad`` fails, the already-running ``slow_ok`` finishes, the
    dependent of ``bad`` never starts, and no new model starts either."""
    import threading

    from pyspark.errors import AnalysisException

    failed = threading.Event()
    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(Model("bad", sql="select no_such_column from {{ ref('base') }}"))
    engine.add(Model("bad_child", sql="select * from {{ ref('bad') }}"))
    engine.add(Model("slow_ok", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    engine.add(Model("after_ok", sql="select * from {{ ref('slow_ok') }}"))
    orig = engine.run_model

    def run_model(model):
        if model.name == "slow_ok":
            assert failed.wait(60)
        try:
            return orig(model)
        except AnalysisException:
            failed.set()
            raise

    engine.run_model = run_model
    with pytest.raises(AnalysisException):
        engine.run(threads=4)
    assert engine.ref_df("slow_ok").count() == 10
    for name in ("bad", "bad_child", "after_ok"):
        assert not engine.catalog.exists(engine.relation_for(name))


def test_engine_test_report_independent_of_threads(engine):
    engine.add(
        Model(
            "base",
            seed_csv=BASE_CSV,
            config=ModelConfig(materialized="seed"),
            tests={
                "id": ["unique", "not_null"],
                "gender": [{"accepted_values": {"values": ["Male"]}}],
            },
        )
    )
    engine.add(
        Model(
            "dupes",
            sql="select id % 3 as grp, email from {{ ref('base') }}",
            tests={
                "grp": ["unique"],
                "email": [{"relationships": {"to": "base", "field": "email"}}],
            },
        )
    )
    engine.run()
    parallel = engine.test().collect()
    serial = engine.test(threads=1).collect()
    assert parallel == serial
    assert [(r.model, r.column, r.test, r.n_failures) for r in parallel] == [
        ("base", "id", "unique", 0),
        ("base", "id", "not_null", 0),
        ("base", "gender", "accepted_values", 1),
        ("dupes", "grp", "unique", 3),
        ("dupes", "email", "relationships", 0),
    ]


def test_rewrites_without_checkpoint_leave_one_generation(engine, spark):
    """Merge and snapshot read their own previous generation lazily while
    writing the next one; with auto_vacuum each run leaves exactly one."""
    rows1 = [(i, f"n{i}@x.org") for i in range(1, 11)]
    rows2 = [(i, "new@x.org" if i <= 7 else f"n{i}@x.org") for i in range(5, 16)]
    view = f"src_{engine.schema}"
    engine.add(
        Model(
            "inc",
            sql=f"select id, email from {{{{ source('{view}') }}}}",
            config=ModelConfig(
                materialized="incremental", incremental_strategy="merge", unique_key=["id"]
            ),
        )
    )
    engine.add(
        Model(
            "snap",
            sql=f"select id, email from {{{{ source('{view}') }}}}",
            config=ModelConfig(
                materialized="snapshot", unique_key=["id"], strategy="check",
                check_cols=["email"],
            ),
        )
    )
    for day, rows in (("2024-01-01", rows1), ("2024-01-02", rows2)):
        spark.createDataFrame(rows, "id int, email string").createOrReplaceTempView(view)
        engine._now = lambda day=day: f"{day} 00:00:00"
        engine.run()
    spark.catalog.dropTempView(view)
    merged = dict(engine.ref_df("inc").collect())
    assert merged == {**dict(rows1), **dict(rows2)}
    snap = engine.ref_df("snap")
    assert snap.count() == 18  # 10 first-run + 3 new versions + 5 inserts
    closed = snap.filter("dbt_valid_to is not null").select("id").collect()
    assert sorted(r.id for r in closed) == [5, 6, 7]
    for name in ("inc", "snap"):
        assert len(engine.versions(name)) == 1, name


def test_scheduler_stress_more_workers_than_cores(engine):
    """Twelve sibling models on eight workers with a tiny GIL switch
    interval: every model commits exactly once, with its own rows."""
    import sys

    engine.add(Model("base", seed_csv=BASE_CSV, config=ModelConfig(materialized="seed")))
    for i in range(12):
        engine.add(Model(f"m{i}", sql=f"select id, {i} as k from {{{{ ref('base') }}}}"))
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        engine.run(threads=8)
    finally:
        sys.setswitchinterval(interval)
    for i in range(12):
        rows = engine.ref_df(f"m{i}").collect()
        assert sorted(r.id for r in rows) == list(range(1, 11))
        assert {r.k for r in rows} == {i}
        assert [e["op"] for e in engine.history(f"m{i}")] == ["CREATE TABLE AS"]
