"""Driver-contract gate: every catalog result must survive the external
correctness harness's canonicalization recipe.

The driver compares Spark vs oracle by converting both results to pandas
and doing ``df.sort_values(by=<all columns>)`` before hashing. That recipe
has a hard precondition the engine must respect: every result column must
be a FLAT, hashable, orderable scalar type. A nested result column
(array/map/struct) arrives in pandas as numpy arrays / dicts, which are
unhashable — ``sort_values`` raises ``TypeError`` inside the *harness*,
burning the query's sample slot with an ``err`` row even though the answer
is correct. This is exactly what happened to ``array_agg_orders`` in round
4 (the harness reported ``unhashable type: 'numpy.ndarray'``).

One pass over the catalog applies two gates:

1. schema flatness — no ArrayType/MapType/StructType result column, for
   EVERY query. (Building a plan is cheap for pure-relational specs, but
   note some specs are eager — streaming pipelines and iterative
   operators execute work at build time — so the pass is shared with
   gate 2 rather than run twice.)
2. canonicalization round-trip — execute the query at sf0.001, convert
   to pandas, and run the driver's own sort recipe; any unhashable or
   un-orderable cell type fails here even if the Spark schema looked
   flat.

Gate 2 executes every result, so the test is marked ``slow``; see
``tools/check_parity.py`` for the stronger value-level equivalent.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import types as T

from dbt_glue_spark.plans.catalog import SPECS

NESTED = (T.ArrayType, T.MapType, T.StructType)


def _driver_canon(pdf):
    """The driver's canonicalization recipe, verbatim in spirit:
    column-name sort, then a row sort over every column."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns))
    return pdf


@pytest.mark.slow
def test_driver_contract_catalog_wide(spark, sf_dir):
    """Single pass: build every catalog plan once, then apply the
    flat-schema gate and the canonicalization round-trip to each."""
    schema_offenders: list[str] = []
    failures: list[str] = []
    for name, spec in SPECS().items():
        try:
            df = spec.fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: build failed: {type(exc).__name__}: {exc}")
            continue
        for field in df.schema.fields:
            if isinstance(field.dataType, NESTED):
                schema_offenders.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}"
                )
        try:
            _driver_canon(df.limit(200).toPandas())
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: {type(exc).__name__}: {exc}")
    assert not schema_offenders, (
        "nested result columns break the driver canonicalizer "
        "(pandas sort_values over unhashable cells) — serialize with "
        f"array_join/to_json on BOTH sides: {schema_offenders}"
    )
    assert not failures, f"driver canonicalization would crash on: {failures}"


@pytest.mark.parametrize("query", ["array_agg_orders"])
def test_r4_regression_array_agg_serialized(spark, sf_dir, query):
    """array_agg_orders (r4's one red row) now returns a flat string."""
    df = SPECS()[query].fn(spark, sf_dir)
    statuses = dict(df.dtypes)["statuses"]
    assert statuses == "string", statuses
    pdf = df.toPandas()
    _driver_canon(pdf)  # must not raise
    assert (pdf["statuses"].str.match(r"^[A-Z](,[A-Z])*$")).all()


def test_catalog_registers_303_queries_once():
    """``register`` is the only way into the catalog: 303 queries, and a
    second registration of a taken name raises instead of shadowing it."""
    from dbt_glue_spark.plans.catalog import register

    specs = SPECS()
    assert len(specs) == 303, len(specs)
    name, spec = next(iter(specs.items()))
    with pytest.raises(ValueError, match=name):
        register(name, None)(lambda spark, sf_dir: None)
    assert SPECS()[name] is spec


# The environment variables the library may read: deployment settings
# (cores, driver heap, conf overrides, cluster master), not behaviour
# switches. A key added here is a new knob: prefer a constant or a value
# derived from the input.
ALLOWED_ENV_KEYS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_CONF_JSON",
    "SPARK_MASTER",
}


def _env_keys(tree: ast.AST) -> set[str]:
    """String keys passed to ``<x>.environ.get``, ``getenv`` or
    ``<x>.environ[...]``, whatever ``os`` is imported as. A key that is
    not a string literal is reported as ``<non-literal>``."""

    def is_environ(node: ast.AST) -> bool:
        return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
            isinstance(node, ast.Name) and node.id == "environ"
        )

    def key(node: ast.AST | None) -> str:
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return node.value
        return "<non-literal>"

    keys = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            env_get = isinstance(f, ast.Attribute) and f.attr == "get" and is_environ(f.value)
            getenv = (isinstance(f, ast.Attribute) and f.attr == "getenv") or (
                isinstance(f, ast.Name) and f.id == "getenv"
            )
            if env_get or getenv:
                keys.add(key(node.args[0] if node.args else None))
        elif isinstance(node, ast.Subscript) and is_environ(node.value):
            keys.add(key(node.slice))
    return keys


def test_library_reads_only_deployment_env_vars():
    """No behaviour switch hides in an environment variable: every key the
    library reads from the environment is a deployment setting."""
    root = Path(__file__).resolve().parents[1] / "dbt_glue_spark"
    found: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        for k in _env_keys(ast.parse(path.read_text(), filename=str(path))):
            found.setdefault(k, []).append(str(path.relative_to(root)))
    assert "SPARK_GRAFT_CPUS" in found, f"scan found no known key under {root}"
    extra = {k: v for k, v in found.items() if k not in ALLOWED_ENV_KEYS}
    assert not extra, f"environment reads outside the deployment set: {extra}"
