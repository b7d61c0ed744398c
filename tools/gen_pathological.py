"""Generate a pathological scale-factor directory for NULL/edge-value
parity sweeps.

Takes the driver testdata and injects, deterministically per (row key,
column): NULLs, empty strings, whitespace-only strings, zeros and
negatives into every nullable value column (never the leading key
column), plus all-zero embedding vectors. The output keeps the driver's
table names, so the EXACT same oracle-parity harness runs against it:

    python tools/gen_pathological.py            # writes /tmp/sf_nulls
    python tools/check_parity.py /tmp/sf_nulls  # cross-engine NULL gate

Any mismatch is a genuine cross-engine NULL/edge-semantics divergence —
this sweep surfaced (and round 5 fixed) 21 of them: ANSI DIVIDE_BY_ZERO
in ratio operators, NULL join keys matching each other in the as-of
window formulation, collect_list-vs-list() NULL handling, concat_ws
dropping NULL operands, NULLS FIRST/LAST window-ordering defaults,
DuckDB's -1.0 zero-vector cosine, NaN-poisoned pandas medians, and
NULL-text crashes in a UDTF. See SCALE.md "Pathological data axes".

A second axis, ``--variant=const``, replaces every double measure with a
single constant and every document text with one identical string —
the zero-variance / all-duplicate shape that flushes division-by-zero
in variance-normalized operators (Pearson r, histogram bucket width,
nDCG ideal gain, AP with an empty relevance set — all found and fixed
round 5).

A third axis, ``--variant=ts``, replaces timestamp values with epoch
boundaries: 1970-01-01 exactly, pre-epoch (1969) values, the
timestamp[ns] ceiling (2262-04-11), a pre-1900 fractional-ms value, and
a leap-day .999999 edge. Found (and fixed) the floor-vs-truncate
divergence of Spark unix_millis vs DuckDB epoch_ms on pre-epoch
fractional milliseconds.

A fourth axis, ``--variant=hot``, pins the round-5 ad-hoc hot-key probe:
90 % of every FK/group key (custkey/suppkey/partkey/nationkey/user_id = 7,
source = src7, lang = en, event_type = click) collapses to one value —
the extreme-skew shape for windows, shuffles and tie-break determinism.

A fifth axis, ``--variant=long``, makes ~1/3 of documents 64× longer
(repetitions of their own text with per-repetition markers) — the
per-row blowup shape for tokenize/shingle/chunk operators.

A sixth axis, ``--variant=textskew``, is the TEXT-side analogue of the
hot-key axis (which mutates FK/group keys and so cannot stress
operators keyed on document CONTENT): 90 % of documents gain one shared
repeated boilerplate prefix (63 tokens — well past the 16-token
ExactSubstr seed length, so every prefix seed is corpus-hot), and ~1 %
become mega-documents of almost pure boilerplate (64 repetitions).
This is the shape that stresses exact_substring_spans' seed-row
exchange (one hash owns ~90 % of seed occurrences), the
sorted-neighborhood hot prefix bucket (most docs sort into one 2-char
prefix block), and prefix-Jaccard's stop-shingle postings (boilerplate
shingles have df ≈ corpus size).

A seventh axis, ``--variant=unicode``, makes the documents PREDOMINANTLY
multibyte (the dirty axis only swaps ~8 % of string cells for short
fixed unicode literals — it never produces a corpus whose text is
mostly non-ASCII): per (doc, hash) the text gains exotic whitespace
(ideographic space U+3000, NBSP U+00A0 — neither matched by Java's or
RE2's ASCII-only ``\\s``, so whitespace tokenizers see giant "words"),
combining marks (e → e + U+0301, so length(), substrings and shingles
split grapheme clusters), astral-plane emoji with ZWJ sequences
(UTF-16 surrogate pairs — any code path measuring UTF-16 units instead
of codepoints diverges), fullwidth digits (regex ``[0-9]`` misses
them), vowel→hiragana translation, appended no-space CJK blocks, case-
folding traps (İ U+0130, ß, Σ — lower()/upper() edge cases where JVM
and utf8proc may disagree), and RTL text with bidi marks. ``n_chars``
is recomputed. Both engines count length() in CODEPOINTS, so parity is
expected — any mismatch is a genuine cross-engine unicode divergence.

An eighth axis, ``--variant=bigmag``, jumps token-count-bearing bigint
measures (``n_chars``) to realistic 100 TB magnitudes (2^44 ≈ 1.8e13)
— the shape that flushes int64 overflow in share/ppm arithmetic:
``x·10⁶`` and ``budget·(w·n)`` products pass 2^63 at ~9.2e12 tokens
(≈40 TB of text, inside the design envelope), where ANSI Spark aborts
the job and DuckDB's BIGINT path errors identically. Found (and fixed,
round 9) by routing every share/ppm product through decimal(38,0) on
the Spark side and HUGEINT in the oracles — quotients stay bigint.

Usage: python tools/gen_pathological.py [src_sf_dir] [out_dir] [--variant=dirty|const|ts|hot|long|textskew|unicode|bigmag|ieee|dupheavy]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbt_glue_spark.session import get_spark
from dbt_glue_spark.sources.registry import TABLES, load_table


def mutate(df, rows: int = 300):
    """Deterministic per-cell mutation: hash(key, column) selects the
    edge case, so re-runs produce byte-identical tables."""
    base = df.limit(rows)
    cols = dict(df.dtypes)
    names = df.columns
    out = base
    for i, c in enumerate(names):
        if i == 0:  # leading column is the key — keep joinable rows
            continue
        dt = cols[c]
        h = F.abs(F.hash(F.col(names[0]).cast("string"), F.lit(c)))
        if dt == "string":
            out = out.withColumn(
                c,
                F.when(h % 13 == 0, F.lit(None).cast("string"))
                .when(h % 13 == 1, F.lit(""))
                .when(h % 13 == 2, F.lit("  \t "))
                # unicode axis: diacritics, CJK (no spaces), emoji
                # (UTF-16 surrogate pairs), RTL, combining marks, and
                # regex metacharacters — each probes a different
                # length/regex/tokenization divergence class
                .when(h % 13 == 3, F.lit("héllo wörld tæst"))
                .when(h % 13 == 4, F.lit("日本語のテキスト断片"))
                .when(h % 13 == 5, F.lit("rocket 🚀 launch 🎉 ok"))
                .when(h % 13 == 6, F.lit("مرحبا بالعالم hello"))
                .when(h % 13 == 7, F.lit("café naïve"))
                .when(h % 13 == 8, F.lit("a.b*c(d)[e]{2}|f+g?"))
                .otherwise(F.col(c)),
            )
        elif dt in ("double", "float"):
            out = out.withColumn(
                c,
                F.when(h % 7 == 0, F.lit(None).cast(dt))
                .when(h % 7 == 1, F.lit(0.0).cast(dt))
                .when(h % 7 == 2, F.lit(-1.0).cast(dt))
                .otherwise(F.col(c)),
            )
        elif dt in ("bigint", "int", "long"):
            out = out.withColumn(
                c, F.when(h % 9 == 0, F.lit(None).cast(dt)).otherwise(F.col(c))
            )
        elif dt.startswith("array"):
            out = out.withColumn(
                c,
                F.when(h % 11 == 0, F.transform(F.col(c), lambda x: F.lit(0.0)))
                .when(h % 11 == 1, F.lit(None).cast(dt))
                .otherwise(F.col(c)),
            )
    return out


def mutate_const(df, rows: int = 300):
    """Zero-variance variant: constant measures, one identical document."""
    base = df.limit(rows)
    cols = dict(df.dtypes)
    out = base
    for i, c in enumerate(df.columns):
        if i == 0:
            continue
        dt = cols[c]
        if dt in ("double", "float"):
            out = out.withColumn(c, F.lit(42.0).cast(dt))
        elif dt == "string" and c == "text":
            out = out.withColumn(
                c, F.lit("the same constant document text for every row")
            )
    return out


def mutate_ts(df, rows: int = 300):
    """Epoch-boundary variant: timestamp columns get exact-epoch,
    pre-epoch, ns-ceiling, pre-1900 fractional and leap-day edges."""
    base = df.limit(rows)
    cols = dict(df.dtypes)
    out = base
    for i, c in enumerate(df.columns):
        if i == 0 or cols[c] != "timestamp":
            continue
        h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit(c)))
        out = out.withColumn(
            c,
            F.when(h % 9 == 0, F.lit("1970-01-01 00:00:00").cast("timestamp"))
            .when(h % 9 == 1, F.lit("1969-07-20 20:17:40").cast("timestamp"))
            .when(h % 9 == 2, F.lit("2262-04-11 23:47:16").cast("timestamp"))
            .when(h % 9 == 3, F.lit("1900-01-01 00:00:00.123456").cast("timestamp"))
            .when(h % 9 == 4, F.lit("2024-02-29 23:59:59.999999").cast("timestamp"))
            .otherwise(F.col(c)),
        )
    return out


# FK / group-key columns that the hot variant skews (leading PKs stay
# unique so joins remain well-defined), each with a hot value that
# EXISTS in its referenced dimension — a dangling hot FK would make
# inner joins drop 90% of the fact side, so the "skew" probe would
# measure row elimination instead of skew degradation. Key 7 exists in
# every dimension at sf0.001+ (10 suppliers, 150 customers, 200 parts,
# 25 nations) EXCEPT region, which is fixed at 5 rows (keys 0-4) at
# every scale factor — its hot key is 2.
_HOT_INT_KEYS = {
    "o_custkey": 7, "c_nationkey": 7, "s_nationkey": 7, "n_regionkey": 2,
    "l_suppkey": 7, "l_partkey": 7, "user_id": 7,
}
_HOT_STR_KEYS = {"source": "src7", "lang": "en", "event_type": "click", "label": "hot"}


def mutate_hot(df, rows: int | None = 300):
    """Hot-key variant: 90 % of every FK/group key becomes one value —
    the extreme-skew shape that breaks single-partition windows and
    unsalted shuffles, and flushes nondeterministic tie-breaks (pinned
    from the round-5 ad-hoc probe, SCALE.md 'Pathological data axes').

    rows=None keeps the full table — the perf-probe shape (skew
    degradation at sf0.1) as opposed to the 300-row parity shape."""
    base = df if rows is None else df.limit(rows)
    cols = dict(df.dtypes)
    out = base
    for i, c in enumerate(df.columns):
        if i == 0:
            continue
        h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit(c)))
        if c in _HOT_INT_KEYS:
            out = out.withColumn(
                c,
                F.when(
                    h % 10 != 0, F.lit(_HOT_INT_KEYS[c]).cast(cols[c])
                ).otherwise(F.col(c)),
            )
        elif c in _HOT_STR_KEYS and cols[c] == "string":
            out = out.withColumn(
                c, F.when(h % 10 != 0, F.lit(_HOT_STR_KEYS[c])).otherwise(F.col(c))
            )
    return out


def mutate_long(df, rows: int = 300):
    """Long-document variant: ~1/3 of documents become 64× repetitions of
    their own text (each repetition suffixed with a marker so boundary
    shingles differ) — the per-ROW blowup shape (web pages are routinely
    100 KB+) that flushes quadratic-in-length behavior in tokenize /
    shingle / chunk operators, which the corpus-size axes cannot see.
    ``n_chars`` is recomputed so length-derived features stay consistent."""
    base = df.limit(rows)
    if "text" not in df.columns:
        return base
    h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit("text")))
    long_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda i: F.concat(F.col("text"), F.lit(" #"), i.cast("string")),
        ),
    )
    out = base.withColumn(
        "text", F.when(h % 3 == 0, long_text).otherwise(F.col("text"))
    )
    if "n_chars" in df.columns:
        dt = dict(df.dtypes)["n_chars"]
        out = out.withColumn("n_chars", F.length("text").cast(dt))
    return out


# 21 tokens × 3 repetitions = 63 shared prefix tokens: longer than the
# 16-token ExactSubstr seed, wide enough that every 3-token shingle in
# the prefix is a stop-shingle (df ≈ 0.9 · corpus)
_BOILER = " ".join(
    ["terms of service privacy policy all rights reserved contact us"
     " subscribe newsletter cookie consent copyright footer navigation"
     " home about sitemap legal"] * 3
)


def mutate_textskew(df, rows: int | None = 300):
    """Text-skew variant: 90 % of documents share one repeated
    boilerplate PREFIX and ~1 % become mega-documents of almost pure
    boilerplate — the content-side hot-key shape (the ``hot`` variant
    mutates FK/group keys, which text operators never key on).
    ``n_chars`` is recomputed so length-derived features stay
    consistent."""
    base = df if rows is None else df.limit(rows)
    if "text" not in df.columns:
        return base
    h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit("textskew")))
    mega = F.concat_ws(" ", F.array_repeat(F.lit(_BOILER), 64))
    out = base.withColumn(
        "text",
        F.when(h % 97 == 0, mega)
        .when(h % 10 != 0, F.concat_ws(" ", F.lit(_BOILER), F.col("text")))
        .otherwise(F.col("text")),
    )
    if "n_chars" in df.columns:
        dt = dict(df.dtypes)["n_chars"]
        out = out.withColumn("n_chars", F.length("text").cast(dt))
    return out


def mutate_unicode(df, rows: int = 300):
    """Unicode-dominant variant: per-doc deterministic multibyte rewrite
    of the text column (exotic whitespace, combining marks, ZWJ emoji,
    fullwidth digits, hiragana vowels, no-space CJK, case-folding traps,
    RTL + bidi marks). Only the text column mutates — the axis probes
    text-operator unicode semantics, not key plumbing. ``n_chars`` is
    recomputed so length-derived features stay consistent."""
    base = df.limit(rows)
    if "text" not in df.columns:
        return base
    t = F.col("text")
    h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit("unicode")))
    variants = (
        # 0: ideographic-space separators — \s (Java AND RE2) won't split
        F.when(h % 11 == 0, F.translate(t, " ", "　"))
        # 1: NBSP separators — same class, Latin-1 range
        .when(h % 11 == 1, F.translate(t, " ", " "))
        # 2: combining acute after every 'e' — grapheme != codepoint
        .when(h % 11 == 2, F.regexp_replace(t, "e", "é"))
        # 3: ZWJ emoji family + flag + astral rocket bracketing the text
        .when(
            h % 11 == 3,
            F.concat(
                F.lit("\U0001f469‍\U0001f469‍\U0001f467 intro "),
                t,
                F.lit(" outro \U0001f680\U0001f3f3️‍\U0001f308"),
            ),
        )
        # 4: fullwidth digits — [0-9] and \d (ASCII) miss them
        .when(h % 11 == 4, F.translate(t, "0123456789", "０１２３４５６７８９"))
        # 5: vowels → hiragana — most tokens become mixed-script
        .when(h % 11 == 5, F.translate(t, "aeiou", "あえいおう"))
        # 6: appended no-space CJK block — one giant multibyte "word"
        .when(
            h % 11 == 6,
            F.concat(t, F.lit(" 日本語の形態素解析は空白を使わない評価文")),
        )
        # 7: case-folding traps — dotted capital I, sharp s, final sigma
        .when(
            h % 11 == 7,
            F.concat(F.lit("İstanbul STRASSE weiß ΣΟΦΟΣ σοφός "), t),
        )
        # 8: RTL with bidi marks around the latin text
        .when(
            h % 11 == 8,
            F.concat(F.lit("مرحبا ‏"), t, F.lit(" ‎شكرا")),
        )
        .otherwise(t)
    )
    out = base.withColumn(
        "text", F.when(t.isNull(), t).otherwise(variants)
    )
    if "n_chars" in df.columns:
        dt = dict(df.dtypes)["n_chars"]
        out = out.withColumn("n_chars", F.length("text").cast(dt))
    return out


def mutate_bigmag(df, rows: int = 300):
    """Big-magnitude variant: token-count-bearing bigint measures jump to
    realistic 100 TB scale (2^44 ≈ 1.8e13 — a large source's token count;
    2^40 ≈ 1.1e12 — a month of crawl). The shape that flushes int64
    overflow in share/ppm arithmetic: (x·10⁶) and budget·(w·n) products
    blow through 2^63 ≈ 9.2e18 at ~9.2e12 tokens — roughly 40 TB of
    text, INSIDE the design envelope — and ANSI Spark aborts the job
    (DuckDB's BIGINT path errors identically). Only n_chars mutates
    (keys, text and doc counts stay sane); the low digits keep varying
    so derived quality scores (n_chars % 1000) stay distributed."""
    base = df.limit(rows)
    if "n_chars" not in df.columns:
        return base
    h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit("bigmag")))
    big = F.lit(1 << 44) + (F.col(df.columns[0]).cast("bigint") % 100000)
    mid = F.lit(1 << 40) + (F.col(df.columns[0]).cast("bigint") % 100000)
    return base.withColumn(
        "n_chars",
        F.when(h % 5 == 0, big)
        .when(h % 5 == 1, mid)
        .otherwise(F.col("n_chars"))
        .cast("bigint"),
    )


def mutate_ieee(df, rows: int = 300):
    """IEEE-special variant, DOMAIN-SAFE tier: doubles gain -0.0,
    denormal (5e-324) and 1e-300; embedding vectors gain -0.0/denormal
    elements. Large magnitudes are NOT injected either — a 9e9 value is
    in-domain per column but the decimal determinism contract bounds
    PRODUCTS of two measures at 1e12 for (18,6), so magnitude stress is
    the bigmag axis's job (integer shares), not this one's. NaN/±Inf are
    deliberately NOT in this committed axis: the engine's float-
    determinism contract (plans/catalog.py) accumulates every double
    aggregate in DECIMAL, whose domain is finite numbers — injecting
    NaN/Inf makes BOTH engines refuse the cast (ANSI fail-loud, the
    correct behavior; measured 2026-08-16, 38 decimal-cast aborts
    catalog-wide plus two streaming-sink crashes). The production
    answer to non-finite telemetry is quarantine at ingestion
    (audit.nonfinite_audit / sanitize_nonfinite) — see SCALE.md
    "Aggregations"."""
    base = df.limit(rows)
    cols = dict(df.dtypes)
    out = base
    for i, c in enumerate(df.columns):
        if i == 0:
            continue
        dt = cols[c]
        h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit(c + ":ieee")))
        if dt in ("double", "float"):
            out = out.withColumn(
                c,
                F.when(h % 13 == 0, F.lit(-0.0).cast(dt))
                .when(h % 13 == 1, F.lit(5e-324).cast(dt))
                .when(h % 13 == 2, F.lit(1e-300).cast(dt))
                .otherwise(F.col(c)),
            )
        elif dt.startswith("array<float") or dt.startswith("array<double"):
            elem = "float" if "float" in dt else "double"
            out = out.withColumn(
                c,
                F.when(
                    h % 9 == 0,
                    F.transform(
                        F.col(c),
                        lambda x, j: F.when(
                            j == (h % 8).cast("int"),
                            F.lit(-0.0).cast(elem),
                        ).otherwise(x),
                    ),
                )
                .when(
                    h % 9 == 1,
                    F.transform(
                        F.col(c),
                        lambda x, j: F.when(
                            j == (h % 8).cast("int"),
                            F.lit(5e-324).cast(elem),
                        ).otherwise(x),
                    ),
                )
                .otherwise(F.col(c)),
            )
    return out


# 40-token shared base for the dupheavy canonicals: the five variants
# differ only in a one-token tail, so every cross-variant pair is a
# near-dup (Jaccard ≈ 0.95) and the whole duplicated mass forms ONE
# connected component, not five.
_DUP_BASE = (
    "breaking news update the quick brown fox jumps over the lazy dog"
    " while markets rally and analysts expect further gains in the"
    " technology sector amid strong earnings reports and renewed"
    " consumer confidence across all regions today"
)


def mutate_dupheavy(df, rows: int | None = 300):
    """Duplicate-heavy variant: ~85 % of documents collapse onto FIVE
    canonical texts that are near-dups of EACH OTHER (shared 40-token
    base, one-token tails) — the mirror/syndication corpus shape. It
    stresses what textskew (shared prefix, distinct tails) cannot:
    giant exact-dedup hash groups (~50 rows per md5 at 300 docs),
    quadratic pair-operator OUTPUT (the true answer on this corpus IS
    O(dup²) pairs — the reason production pipelines run clusters/
    keep-one, not pairs), and ONE giant connected component spanning
    ~255 of 300 docs whose diameter drives label-propagation rounds in
    dup_clusters. Only the text column mutates; ``n_chars`` is
    recomputed so length-derived features stay consistent."""
    base = df if rows is None else df.limit(rows)
    if "text" not in df.columns:
        return base
    h = F.abs(F.hash(F.col(df.columns[0]).cast("string"), F.lit("dupheavy")))
    canonical = F.concat(
        F.lit(_DUP_BASE), F.lit(" variant "), (h % 5).cast("string")
    )
    out = base.withColumn(
        "text",
        F.when(F.col("text").isNull(), F.col("text"))
        .when(h % 20 < 17, canonical)
        .otherwise(F.col("text")),
    )
    if "n_chars" in df.columns:
        dt = dict(df.dtypes)["n_chars"]
        out = out.withColumn("n_chars", F.length("text").cast(dt))
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    variant = "dirty"
    for a in sys.argv[1:]:
        if a.startswith("--variant"):
            variant = a.split("=", 1)[1]
    src = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    defaults = {
        "dirty": "/tmp/sf_nulls",
        "const": "/tmp/sf_const",
        "ts": "/tmp/sf_ts",
        "hot": "/tmp/sf_hot",
        "long": "/tmp/sf_long",
        "textskew": "/tmp/sf_textskew",
        "unicode": "/tmp/sf_unicode",
        "bigmag": "/tmp/sf_bigmag",
        "ieee": "/tmp/sf_ieee",
        "dupheavy": "/tmp/sf_dupheavy",
    }
    out = args[1] if len(args) > 1 else defaults[variant]
    fn = {
        "dirty": mutate,
        "const": mutate_const,
        "ts": mutate_ts,
        "hot": mutate_hot,
        "long": mutate_long,
        "textskew": mutate_textskew,
        "unicode": mutate_unicode,
        "bigmag": mutate_bigmag,
        "ieee": mutate_ieee,
        "dupheavy": mutate_dupheavy,
    }[variant]
    spark = get_spark("pathological_gen")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        fn(load_table(spark, src, t)).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out, f"{t}.parquet")
        )
        print(t, "written")


if __name__ == "__main__":
    main()
