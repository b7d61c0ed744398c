"""Round-13 fixes, each pinned by a test below:

1. ``dup_clusters`` fails LOUD on non-integral id columns: the exact
   decimal label-sum convergence test would read NULL for string ids and
   the NULL-means-empty branch would silently return the round-1 partial
   labelling — the exact silent-partial failure the function's contract
   forbids.
2. ``bm25_search`` with an empty ``query_terms`` list returns the empty
   (id, bm25) frame gracefully instead of raising TypeError from
   ``reduce`` over zero per-term columns.
3. ``histogram_quantiles`` dedupes ``qs`` explicitly: one output row per
   DISTINCT requested quantile is the documented contract (the one-pass
   groupBy("q") walk would collapse duplicates anyway; now the docstring
   and the code agree).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_dup_clusters_rejects_string_ids(spark):
    from dbt_glue_spark.extensions.dedup import dup_clusters

    docs = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("a", "b")], "id_a string, id_b string"
    )
    with pytest.raises(TypeError, match="integral id column"):
        dup_clusters(docs, pairs)


def test_dup_clusters_bigint_ids_still_work(spark):
    from dbt_glue_spark.extensions.dedup import dup_clusters

    docs = spark.createDataFrame([(1,), (2,), (3,), (9,)], "doc_id long")
    pairs = spark.createDataFrame([(2, 3), (3, 9)], "id_a long, id_b long")
    got = {
        (r.doc_id, r.cluster_id) for r in dup_clusters(docs, pairs).collect()
    }
    assert got == {(1, 1), (2, 2), (3, 2), (9, 2)}


def test_bm25_empty_query_terms_returns_empty_frame(spark):
    from dbt_glue_spark.extensions.retrieval import bm25_search

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    out = bm25_search(docs, [])
    assert out.columns == ["doc_id", "bm25"]
    assert out.schema["bm25"].dataType.simpleString() == "double"
    assert out.count() == 0


def test_histogram_quantiles_dedupes_duplicate_qs(spark):
    from dbt_glue_spark.extensions.sketches import histogram_quantiles

    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    out = histogram_quantiles(df, "v", qs=(0.5, 0.9, 0.5)).collect()
    assert len(out) == 2
    assert sorted(r.q for r in out) == [0.5, 0.9]
