"""Regression tests for the round-5 review findings:

- hard_negatives silently returned zero rows when the rank-1 positive had
  fewer than shingle_n tokens, and silently dropped short candidates;
- key_skew cast the key value to bigint, nulling string keys;
- cluster_safe_split validated fractions with a bare assert (stripped
  under python -O);
- pit_join returned duplicate business-key columns, so by-name selects
  raised AMBIGUOUS_REFERENCE.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_hard_negatives_short_positive_keeps_candidates(spark):
    """Rank-1 positive with < 3 tokens: candidates must survive with
    jaccard 0 instead of vanishing through an empty cross join."""
    from dbt_glue_spark.extensions.retrieval import hard_negatives

    rows = [
        # 'spark spark spark' ranks first on the query terms but has
        # repeated-token shingles; make it 2 tokens → NO 3-shingles at all
        (1, "spark spark"),
        (2, "window functions are described here in long prose form"),
        (3, "vector search details appear here in long prose form too"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = hard_negatives(docs, ["spark", "window", "vector"], topk=3).collect()
    # doc 1 is the positive (highest bm25 for 'spark'); both other docs
    # must come back as negatives with jaccard 0, not an empty frame
    assert len(out) == 2
    assert all(r["jaccard_to_pos"] == 0.0 for r in out)


def test_hard_negatives_short_candidate_not_dropped(spark):
    """A candidate with < 3 tokens has an empty shingle set: it is a valid
    (maximally-dissimilar) negative, not a NULL-jaccard dropout."""
    from dbt_glue_spark.extensions.retrieval import hard_negatives

    rows = [
        (1, "spark spark spark streaming guide with many extra words"),
        (2, "window tiny"),  # 2 tokens → no shingles
        (3, "vector search details appear here in long prose form too"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           hard_negatives(docs, ["spark", "window", "vector"], topk=3).collect()}
    assert 2 in out, "short candidate must pass through as a valid negative"
    assert out[2]["jaccard_to_pos"] == 0.0


def test_key_skew_string_keys_survive(spark):
    from dbt_glue_spark.quality.profile import key_skew

    df = spark.createDataFrame(
        [("hot",)] * 10 + [("warm",)] * 3 + [("cold",)], "seg string"
    )
    out = {r["rk"]: r for r in key_skew(df, "seg", top_k=3).collect()}
    assert out[1]["key_value"] == "hot" and out[1]["n_key_rows"] == 10
    assert out[2]["key_value"] == "warm"
    # numeric keys still round-trip (as their string form)
    dfn = spark.createDataFrame([(7,)] * 5 + [(9,)], "k long")
    top = key_skew(dfn, "k", top_k=1).collect()[0]
    assert top["key_value"] == "7"


def test_cluster_safe_split_rejects_bad_fractions(spark):
    from dbt_glue_spark.extensions.sampling import cluster_safe_split

    docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError, match="val_fraction"):
        cluster_safe_split(docs, pairs, val_fraction=0.6, test_fraction=0.5)


def test_pit_join_usable_by_name(spark):
    """The joined frame must be directly selectable/groupable by the
    business-key NAME (dim-side copies dropped)."""
    from dbt_glue_spark.operators.temporal import pit_join

    facts = spark.createDataFrame(
        [(1, 10, "2024-01-15"), (2, 10, "2024-02-15")],
        "fid long, k long, d string",
    ).select("fid", "k", F.col("d").cast("timestamp").alias("ts"))
    dim = spark.createDataFrame(
        [(10, "v1", "2024-01-01", "2024-02-01"), (10, "v2", "2024-02-01", None)],
        "k long, ver string, f string, t string",
    ).select(
        "k",
        "ver",
        F.col("f").cast("timestamp").alias("dbt_valid_from"),
        F.col("t").cast("timestamp").alias("dbt_valid_to"),
    )
    joined = pit_join(facts, dim, ["k"], "ts")
    assert joined.columns.count("k") == 1
    # by-name select and groupBy must not raise AMBIGUOUS_REFERENCE
    assert joined.select("k", "ver").count() == 2
    agg = {r["k"]: r["n"] for r in joined.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert agg == {10: 2}


def test_pit_join_outer_keeps_key_for_unmatched_dim_rows(spark):
    """how='full': a dim version with no fact in its window must surface
    with its business key populated (coalesced), not NULL."""
    from pyspark.sql import functions as F

    from dbt_glue_spark.operators.temporal import pit_join

    facts = spark.createDataFrame(
        [(1, 10, "2024-01-15")], "fid long, k long, d string"
    ).select("fid", "k", F.col("d").cast("timestamp").alias("ts"))
    dim = spark.createDataFrame(
        [
            (10, "v1", "2024-01-01", None),
            (77, "w1", "2024-01-01", None),  # key with no facts at all
        ],
        "k long, ver string, f string, t string",
    ).select(
        "k",
        "ver",
        F.col("f").cast("timestamp").alias("dbt_valid_from"),
        F.col("t").cast("timestamp").alias("dbt_valid_to"),
    )
    out = {r["ver"]: r for r in pit_join(facts, dim, ["k"], "ts", how="full").collect()}
    assert out["v1"]["k"] == 10 and out["v1"]["fid"] == 1
    # unmatched dim row: key must survive via the dim side
    assert out["w1"]["k"] == 77 and out["w1"]["fid"] is None


def test_cluster_safe_split_rejects_negative_fraction(spark):
    from dbt_glue_spark.extensions.sampling import cluster_safe_split

    docs = spark.createDataFrame([(1,)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    # sum is fine (0.2) but the negative fraction must still be rejected
    with pytest.raises(ValueError, match="val_fraction"):
        cluster_safe_split(docs, pairs, val_fraction=-0.1, test_fraction=0.3)


def test_kmv_sink_survives_checkpoint_loss(spark, tmp_path):
    """KMV under a fresh checkpoint: no reset (set merge is idempotent),
    but the takeover starts a new generation so the rebuilt run's
    restarted batch ids still resolve as the newest ledger version."""
    from dbt_glue_spark.extensions.sketches import kmv_distinct, kmv_estimate_from_hashes
    from dbt_glue_spark.streaming.pipelines import (
        _ledger_latest,
        kmv_stream_sink,
        read_ledger,
    )

    df = spark.createDataFrame([(i % 97,) for i in range(600)], "user_id long")
    stage = str(tmp_path / "src")
    df.repartition(3).write.mode("overwrite").parquet(stage)

    def run(ckpt: str):
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = kmv_stream_sink(
            stream, spark, str(tmp_path / "tgt"), ckpt, "user_id"
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    gen_before = _ledger_latest(str(tmp_path / "tgt"))[1]
    run(str(tmp_path / "ckpt2"))  # checkpoint loss: full re-delivery
    gen_after = _ledger_latest(str(tmp_path / "tgt"))[1]
    assert gen_after == gen_before + 1
    streamed = kmv_estimate_from_hashes(
        read_ledger(spark, str(tmp_path / "tgt"))
    ).collect()[0]["approx_distinct"]
    batch = kmv_distinct(df, "user_id").collect()[0]["approx_distinct"]
    assert streamed == batch


def test_dq_finite_flags_nan_and_inf(spark):
    from dbt_glue_spark.quality.tests import finite

    df = spark.createDataFrame(
        [(1, 1.5), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, None)],
        "id long, v double",
    )
    bad = {r["id"] for r in finite(df, "v").collect()}
    assert bad == {2, 3, 4}  # NULL passes (not_null's business)


def test_profile_counts_nonfinite(spark):
    from dbt_glue_spark.quality.profile import profile_columns

    df = spark.createDataFrame(
        [(1, 1.5, "a"), (2, float("nan"), "b"), (3, float("inf"), None)],
        "id long, v double, s string",
    )
    rows = {r["col_name"]: r for r in profile_columns(df, ["id", "v", "s"]).collect()}
    assert rows["v"]["n_nonfinite"] == 2
    assert rows["id"]["n_nonfinite"] == 0  # non-float columns report 0
    assert rows["s"]["n_nonfinite"] == 0
    assert rows["s"]["n_nulls"] == 1


def test_countmin_sink_same_checkpoint_restart_keeps_ledger(spark, tmp_path):
    """Restarting the SAME checkpoint with new data must MERGE the new
    batches into the warm ledger, not misread the restart as a takeover
    and reset it. This is the token-timing hazard: the checkpoint's
    metadata (query-id) file only exists once the stream has started, so
    a token computed at sink CONSTRUCTION would be the fallback instance
    token on the first run and the query id on restart — a spurious
    mismatch that wipes the additive sketch without re-delivery."""
    from pyspark.sql import functions as F

    from dbt_glue_spark.extensions.sketches import countmin_build
    from dbt_glue_spark.streaming.pipelines import countmin_stream_sink, read_ledger

    first = spark.createDataFrame([(f"u{i % 11}",) for i in range(800)], "item string")
    stage = str(tmp_path / "src")
    first.repartition(3).write.mode("overwrite").parquet(stage)
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema(first.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        q = countmin_stream_sink(stream, spark, str(tmp_path / "tgt"), ckpt, "item")
        q.awaitTermination(120)

    run()
    # new data arrives; SAME checkpoint restart processes only the new file
    extra = spark.createDataFrame([(f"v{i % 5}",) for i in range(300)], "item string")
    extra.coalesce(1).write.mode("append").parquet(stage)
    run()
    streamed = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in read_ledger(spark, str(tmp_path / "tgt")).collect()
    }
    batch = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in countmin_build(first.unionByName(extra), "item").collect()
    }
    assert streamed == batch  # warm counts kept + new batch merged once


def test_random_project_null_vector_stays_null(spark):
    """A NULL embedding projects to a NULL vector (not an array of NULL
    components), so downstream isNotNull geometry filters exclude it —
    knn over projected vectors must not pad ranks with NULL-sim rows."""
    from dbt_glue_spark.extensions.similarity import knn_bruteforce, random_project

    rows = [(1, [1.0] * 64), (2, None), (3, [0.5] * 64), (4, [2.0] * 64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj = random_project(emb, as_array=True)
    got = {r["vec_id"]: r["proj"] for r in proj.collect()}
    assert got[2] is None
    out = knn_bruteforce(proj, proj, vec_col="proj", k=3).collect()
    assert all(r["query_id"] != 2 and r["neighbor_id"] != 2 for r in out)
    assert all(r["sim"] is not None for r in out)
