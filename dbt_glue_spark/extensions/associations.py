"""Market-basket association mining over (transaction, item) relations.

The co-occurrence analogue of text collocations (text_analysis.pmi_pairs)
for relational data: which items appear in the same basket more often
than independence predicts. Used for curriculum mixing (which sources
co-occur in high-quality shards) as much as for classic retail affinity.

Scale discipline: pairs are NEVER generated by a self-join of the item
relation — each basket's distinct items are collected into one sorted
array (baskets are small by nature; the array is bounded by basket size,
not corpus size) and the C(n,2) pairs come out of a single codegen'd
nested-transform projection, exploded once into a map-side-combining
groupBy. Association scores follow the repo's log-free integer
discipline: staged int64 floor divisions, exact in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """Unordered distinct-item pairs per basket: one row (item_a < item_b)
    for every basket containing both. One shuffle (the distinct), then a
    pure projection — pair blow-up is C(basket size, 2), never corpus².
    """
    baskets = (
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .groupBy("__b")
        .agg(F.sort_array(F.collect_set("__i")).alias("__items"))
    )
    items = F.col("__items")
    pairs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.greatest(F.size(items) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return baskets.select(F.col("__b").alias(basket_col), F.explode(pairs).alias("__p")).select(
        basket_col, F.col("__p.a").alias("item_a"), F.col("__p.b").alias("item_b")
    )


def basket_lift_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    k: int = 100,
) -> DataFrame:
    """Top-``k`` item pairs by quantized lift: how much more often a pair
    shares a basket than independent items would.

    lift = c_ab·N / (m_a·m_b) with N = basket count, m = per-item basket
    count, c_ab = pair basket count. Ranking uses the exact int64
    ``lift_q6 = ((c_ab·10^6) div m_a · N) div m_b`` — the same staged
    floor-division ladder as pmi_pairs, so no float division sits on the
    oracle boundary. Overflow bound: the first quotient ≤ 10^6 (c_ab ≤
    m_a), so any N ≤ 9.2·10^12 baskets is safe — far past 100 TB.

    100 TB shape: pair generation is basket-bounded (see basket_pairs);
    marginals are an item-cardinality frame joined WITHOUT a broadcast
    hint (AQE decides from runtime size: a forced broadcast of a
    corpus-proportional frame OOMs the driver at scale); N is the only
    forced broadcast (1 row). Top-k plans TakeOrderedAndProject — no global sort.

    Output: item_a, item_b, c_ab, m_a, m_b, n_baskets, lift_q6 —
    ordered by (lift_q6 desc, item_a, item_b), c_ab ≥ min_support.
    """
    # NOT persisted: d is referenced by pair generation, the marginals
    # and the basket total, but each reference sits on the identical
    # distinct-shuffle subtree — AQE stage reuse executes it once.
    # Persisting was measured SLOWER (r12 interleaved A/B, 5 reps:
    # 2.39 s cached vs 1.70 s reused).
    d = df.select(basket_col, item_col).distinct()
    pairs = (
        basket_pairs(d, basket_col, item_col)
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
    )
    marg = d.groupBy(item_col).agg(F.count("*").cast("bigint").alias("m"))
    totals = d.agg(F.count_distinct(basket_col).cast("bigint").alias("n_baskets"))
    scored = (
        pairs.filter(F.col("c_ab") >= min_support)
        .join(
            marg.select(F.col(item_col).alias("item_a"), F.col("m").alias("m_a")),
            "item_a",
        )
        .join(
            marg.select(F.col(item_col).alias("item_b"), F.col("m").alias("m_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "c_ab",
            "m_a",
            "m_b",
            "n_baskets",
            F.expr("((CAST(c_ab AS DECIMAL(38,0)) * 1000000 div m_a)"
                   " * CAST(n_baskets AS DECIMAL(38,0))) div m_b")
            .cast("bigint")
            .alias("lift_q6"),
        )
    )
    return scored.orderBy(F.desc("lift_q6"), "item_a", "item_b").limit(k)


def copurchase_edges(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Undirected co-occurrence graph from a (basket, item) relation: one
    (u, v) row per unordered item pair sharing ≥ ``min_support`` baskets,
    u < v, with the support count. Each edge appears exactly once and
    u ≠ v by construction — the input contract of graph.triangle_counts.

    Pair generation is basket-bounded (basket_pairs); the support filter
    runs inside the single map-side-combining groupBy, so hairball graphs
    thin out before any downstream join sees them.
    """
    d = df.select(basket_col, item_col).distinct()
    return (
        basket_pairs(d, basket_col, item_col)
        .groupBy(F.col("item_a").alias("u"), F.col("item_b").alias("v"))
        .agg(F.count("*").cast("bigint").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def sequence_ngrams(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    item_col: str,
    n: int = 3,
    k: int = 25,
) -> DataFrame:
    """Top-``k`` length-``n`` item sequences across per-key ordered event
    streams — user-journey mining ("view click purchase"), the sequential
    counterpart of basket_pairs.

    Rows with a NULL item or NULL order field are dropped first (a stream
    row without an event time has no position; engines disagree on NULL
    sort placement, so admitting them would make the result
    engine-dependent).

    100 TB shape: one groupBy collects each key's (order…, item) structs
    and sort_array orders them INSIDE the row (struct comparison =
    lexicographic on the order columns — no window function, no global
    sort); n-grams come out of a codegen'd transform over the array,
    exploded once into a map-side-combining groupBy. Per-key state is the
    key's own event list — bounded by stream length per key, the same
    contract as sessionization. Top-k plans TakeOrderedAndProject.

    Output: ngram (space-joined items), n_occurrences, n_keys (bigint) —
    ordered by (n_occurrences desc, ngram).
    """
    if not order_cols:
        raise ValueError("order_cols must name at least one ordering column")
    from functools import reduce
    from operator import and_

    clean = df.filter(
        reduce(and_, [F.col(c).isNotNull() for c in order_cols],
               F.col(item_col).isNotNull())
    )
    seq = clean.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(*[F.col(c) for c in order_cols], F.col(item_col).alias("__it"))
            )
        ).alias("__seq")
    )
    items = F.transform(F.col("__seq"), lambda s: s.getField("__it"))
    staged = seq.select(key_col, items.alias("__items"))
    arr = F.col("__items")
    idx = F.when(F.size(arr) >= n, F.sequence(F.lit(0), F.size(arr) - n)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[arr[i + j] for j in range(n)])
    )
    return (
        staged.select(key_col, F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.count_distinct(key_col).cast("bigint").alias("n_keys"),
        )
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(k)
    )
