"""Feature-engineering workload — TF-IDF term ranking, hashing-trick
vectorization, exact heavy hitters, embedding normalization, and exact
decile summaries.

The classic sklearn-style feature-engineering surface re-expressed as
distributed Spark plans (the reference engine stops at windowed
aggregation features; a training pipeline also needs these corpus-level
transforms). All scoring is integer-quantized (counts, cents, e6-scaled
scores) so every oracle is a bit-exact DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import (
    md5_prefix_long,
    tokens,
)
from feature_generation_benchmark_spark.sources.testdata import (
    NS_PER_DAY as _NS_PER_DAY_TREND,
    load_table,
)
from feature_generation_benchmark_spark.workloads import QueryDef

# canonical-tokenization SQL twin: ONE owner (workloads/text.py, next to
# the Spark-side canonical in functions/textfns.py) — r6 session-3
# review found a verbatim copy here that could silently diverge
from feature_generation_benchmark_spark.workloads.text import _TOKS_SQL

_TFIDF_K = 3  # top terms kept per document
_HASH_BUCKETS = 64
_HH_K = 5  # heavy hitters kept per event type


# --------------------------------------------------------------------------
# TF-IDF: tf per (doc, term), df per term, idf = ln(n_docs/df); top-K terms
# per doc by quantized score. Three keyed shuffles (doc-term count, term
# df + join-back, per-doc window) — each combines map-side; n_docs is a
# 1-row broadcast. At 100 TB term cardinality ≪ corpus size, so the df
# aggregate stays small relative to the scan.
# --------------------------------------------------------------------------

def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # cached: tf feeds the document-frequency aggregate AND the scoring
    # join — unpinned, the corpus tokenize+explode+agg runs twice
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            # e6-quantized tf·idf: the only float ops are one division and
            # one ln, identical on both engines before quantization
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * F.lit(1_000_000),
                0,
            )
            .cast("long")
            .alias("score_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_e6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", F.col("rank").cast("long"), "term", "tf", "df", "score_e6")
    )


_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    CAST(round(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / df.df) * 1000000)
         AS BIGINT) AS score_e6
  FROM tf JOIN df USING (term) CROSS JOIN nd
)
SELECT doc_id, rank, term, tf, df, score_e6 FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_e6 DESC, term) AS rank
  FROM scored)
WHERE rank <= {_TFIDF_K}
"""


# --------------------------------------------------------------------------
# hashing-trick vectorizer: token → md5-derived bucket; the fixed-width
# sparse feature representation tokenizer-free text models train on.
# Shuffle-free flatMap + one combining groupBy — scales linearly.
# --------------------------------------------------------------------------

def feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (md5_prefix_long(F.col("term")) % _HASH_BUCKETS).alias("bucket")
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .select("doc_id", bucket)
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_HASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
)
SELECT doc_id,
  CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {_HASH_BUCKETS}
    AS bucket,
  CAST(count(*) AS BIGINT) AS n
FROM toks GROUP BY doc_id, bucket
"""


# --------------------------------------------------------------------------
# exact heavy hitters: top-K users per event type. Two-phase — the
# (type, user) count combines map-side; the per-type top-K window runs on
# the (small) distinct-key aggregate, never the raw stream. The sketch
# alternative for unbounded key spaces is approx_users_per_type.
# --------------------------------------------------------------------------

def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HH_K)
        .select("event_type", F.col("rank").cast("long"), "user_id", "n")
    )


_HH_ORACLE = f"""
WITH c AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, user_id
)
SELECT event_type, rank, user_id, n FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY n DESC, user_id) AS rank
  FROM c)
WHERE rank <= {_HH_K}
"""


# --------------------------------------------------------------------------
# per-dimension min-max normalization of the embedding corpus: the 64-row
# per-dim stats aggregate broadcasts back over the exploded vectors — the
# fit-then-transform scaler as one plan. All arithmetic is double on both
# engines (float inputs widen exactly), so values are bit-identical.
# --------------------------------------------------------------------------

def embedding_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cells = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    stats = cells.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    return (
        cells.join(F.broadcast(stats), "dim")
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            # a constant dimension has mx == mn: 0/0 is engine-dependent
            # (NULL vs NaN) — pin it to NULL on both sides
            F.when(
                F.col("mx") > F.col("mn"),
                (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")),
            ).alias("norm"),
        )
    )


_MINMAX_ORACLE = """
WITH cells AS (
  SELECT vec_id, u.i - 1 AS dim, CAST(e[u.i] AS DOUBLE) AS v
  FROM (SELECT vec_id, embedding AS e FROM embeddings),
       unnest(generate_series(1, len(e))) AS u(i)
), stats AS (
  SELECT dim, min(v) AS mn, max(v) AS mx FROM cells GROUP BY dim
)
SELECT vec_id, CAST(cells.dim AS BIGINT) AS dim,
       CASE WHEN mx > mn THEN (v - mn) / (mx - mn) END AS norm
FROM cells JOIN stats ON cells.dim = stats.dim
"""


# --------------------------------------------------------------------------
# exact decile summary: ntile(10) per event type over (cents, event_id) —
# rank-based, so bit-exact across engines (no interpolation formula to
# disagree on). The per-type total sort is the inherent cost of EXACT
# quantiles (one reducer per type); approx_users_per_type carries the
# sketch alternative for unbounded group cardinality.
# --------------------------------------------------------------------------

def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * F.lit(100), 0).cast("long").alias("cents"),
    )
    # explicit NULLS LAST: Spark's bare asc is NULLS FIRST, DuckDB's is
    # NULLS LAST — pin the contract so it can't diverge on nullable data
    w = Window.partitionBy("event_type").orderBy(
        F.col("cents").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return (
        ev.withColumn("decile", F.ntile(10).over(w))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            "event_type", F.col("decile").cast("long"), "n",
            "lo_cents", "hi_cents", "sum_cents",
        )
    )


_DECILE_ORACLE = """
WITH ev AS (
  SELECT event_type, event_id, CAST(round(value*100) AS BIGINT) AS cents
  FROM events
), ranked AS (
  SELECT event_type, cents,
    ntile(10) OVER (PARTITION BY event_type ORDER BY cents, event_id)
      AS decile
  FROM ev
)
SELECT event_type, CAST(decile AS BIGINT) AS decile,
  CAST(count(*) AS BIGINT) AS n,
  min(cents) AS lo_cents,
  max(cents) AS hi_cents,
  CAST(sum(cents) AS BIGINT) AS sum_cents
FROM ranked GROUP BY event_type, decile
"""


QUERIES = [
    QueryDef(
        "tfidf_top_terms",
        tfidf_top_terms,
        _TFIDF_ORACLE,
        "per-document top-k TF-IDF terms (e6-quantized scores)",
    ),
    QueryDef(
        "feature_hash_buckets",
        feature_hash_buckets,
        _HASH_ORACLE,
        "hashing-trick token vectorizer (md5 buckets)",
    ),
    QueryDef(
        "heavy_hitters",
        heavy_hitters,
        _HH_ORACLE,
        "exact top-k frequent users per event type, two-phase",
    ),
    QueryDef(
        "embedding_minmax_norm",
        embedding_minmax_norm,
        _MINMAX_ORACLE,
        "per-dimension min-max scaler fit+transform in one plan",
    ),
    QueryDef(
        "value_deciles",
        value_deciles,
        _DECILE_ORACLE,
        "exact rank-based decile summary per event type",
    ),
]


# --------------------------------------------------------------------------
# exact interpolated percentiles (the percentile_cont surface): Spark's
# `percentile` and DuckDB's `quantile_cont` share the (n-1)·p linear
# interpolation, and on integer cents the interpolation arithmetic is the
# same IEEE expression on both engines — bit-equal without rounding. The
# rank-based sibling is value_deciles; the sketch sibling for unbounded
# cardinality is approx_users_per_type.
# --------------------------------------------------------------------------

def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * F.lit(100), 0).cast("long").alias("cents"),
    )
    return ev.groupBy("event_type").agg(
        F.percentile("cents", 0.5).alias("p50_cents"),
        F.percentile("cents", 0.9).alias("p90_cents"),
        F.percentile("cents", 0.99).alias("p99_cents"),
        F.count(F.lit(1)).alias("n"),
    )


_PCTL_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents FROM events
)
SELECT event_type,
  quantile_cont(cents, 0.5)  AS p50_cents,
  quantile_cont(cents, 0.9)  AS p90_cents,
  quantile_cont(cents, 0.99) AS p99_cents,
  CAST(count(*) AS BIGINT) AS n
FROM ev GROUP BY event_type
"""


QUERIES.append(
    QueryDef(
        "value_percentiles",
        value_percentiles,
        _PCTL_ORACLE,
        "exact interpolated percentiles (percentile_cont parity)",
    )
)


# --------------------------------------------------------------------------
# winsorized statistics (r3b): percentile-clipped robust mean — the
# standard outlier-handling step before a numeric feature enters training.
# --------------------------------------------------------------------------

_WINSOR_LO = 0.05
_WINSOR_HI = 0.95


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean: values below p05 / above p95 are
    clipped to those bounds, everything else passes through.

    Determinism contract: the winsorized SUM is decomposed into exact
    integer parts — Σ(inlier cents) + n_low·lo + n_high·hi — so the only
    doubles entering the mean are the two interpolated percentile bounds,
    which Spark ``percentile`` and DuckDB ``quantile_cont`` compute
    identically on integer cents ((n−1)·p linear interpolation — the
    parity `value_percentiles` already hash-proves), and the final mean
    is ONE identical expression over exact inputs on both engines.

    Scale: one percentile agg per type (dim-sized output) broadcast back
    over the events, one combining agg — two keyed shuffles, no windows,
    no sorts beyond the percentile's internal one."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * F.lit(100), 0).cast("long").alias("cents"),
    )
    pct = ev.groupBy("event_type").agg(
        F.percentile("cents", _WINSOR_LO).alias("lo"),
        F.percentile("cents", _WINSOR_HI).alias("hi"),
    )
    c = F.col("cents")
    j = ev.join(F.broadcast(pct), "event_type")
    agg = j.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((c < F.col("lo")).cast("long")).cast("long").alias("n_low"),
        F.sum((c > F.col("hi")).cast("long")).cast("long").alias("n_high"),
        F.sum(
            F.when((c >= F.col("lo")) & (c <= F.col("hi")), c).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("sum_in"),
    )
    w_mean = (
        F.col("sum_in").cast("double")
        + F.col("n_low") * F.col("lo")
        + F.col("n_high") * F.col("hi")
    ) / F.col("n")
    return agg.select(
        "event_type",
        "n",
        (F.col("n_low") + F.col("n_high")).cast("long").alias("n_clipped"),
        F.col("lo").alias("p05_cents"),
        F.col("hi").alias("p95_cents"),
        w_mean.alias("winsorized_mean_cents"),
    )


_WINSOR_ORACLE = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value*100) AS BIGINT) AS cents FROM events
),
pct AS (
  SELECT event_type,
         quantile_cont(cents, {_WINSOR_LO}) AS lo,
         quantile_cont(cents, {_WINSOR_HI}) AS hi
  FROM ev GROUP BY event_type
),
j AS (SELECT ev.event_type, cents, lo, hi FROM ev JOIN pct USING (event_type))
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END)
     + sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
  lo AS p05_cents,
  hi AS p95_cents,
  (CAST(CAST(sum(CASE WHEN cents >= lo AND cents <= hi THEN cents
                      ELSE 0 END) AS BIGINT) AS DOUBLE)
   + CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) * lo
   + CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) * hi)
  / count(*) AS winsorized_mean_cents
FROM j GROUP BY event_type, lo, hi
"""

QUERIES.append(
    QueryDef(
        "winsorized_stats",
        winsorized_stats,
        _WINSOR_ORACLE,
        "percentile-clipped robust mean (winsorization) per event type",
    )
)


def user_spend_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature scaling (the sklearn QuantileTransformer
    family next to the min-max and winsorized members): each event's
    value is replaced by its percent-rank WITHIN its event type, then
    averaged per user — "does this user sit in the cheap or expensive
    tail of each behavior".

    Plan: one type-keyed window for the ranks (5 partitions, each sorted
    once), then a user-keyed rollup. Determinism: percent_rank ties are
    impossible as ranks are taken over (cents, event_id); each rank is
    quantized to a micro int before the per-user sum (exact integer
    aggregation, one final division — the engine-wide convention).

    Output: (user_id, n_events, avg_value_pctile).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.round(F.col("value") * F.lit(100), 0).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    pct_micro = (
        F.round(F.percent_rank().over(w) * F.lit(1e6), 0)
        .cast("long")
        .alias("pm")
    )
    return (
        ev.select("user_id", pct_micro)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.sum("pm") / F.count(F.lit(1)) / F.lit(1e6)).alias(
                "avg_value_pctile"
            ),
        )
    )


_SPEND_PCTILE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
p AS (
  SELECT user_id,
    CAST(round(percent_rank() OVER (
      PARTITION BY event_type ORDER BY cents, event_id) * 1e6)
      AS BIGINT) AS pm
  FROM e
)
SELECT user_id,
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(pm) AS BIGINT) / count(*) / 1e6 AS avg_value_pctile
FROM p GROUP BY user_id
"""

QUERIES.append(
    QueryDef(
        "user_spend_percentile",
        user_spend_percentile,
        _SPEND_PCTILE_ORACLE,
        "rank-based feature scaling: per-type percent-rank of value, "
        "averaged per user over exact micro-int ranks",
    )
)


def session_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity feature: Shannon entropy of each user's
    event-type distribution (`char_entropy`'s integer micro-nat idiom
    keyed by user) — 0 for single-behavior users, ln(5) max on this
    domain. A standard engagement-model input.

    Plan: (user, type) counts — exchange bounded at |users|×|types| by
    the map-side combine — then a user-keyed window + rollup sharing
    one partitioning.

    Output: (user_id, n_events, n_types, behavior_entropy).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_u = Window.partitionBy("user_id")
    with_n = counts.withColumn("n", F.sum("c").over(w_u))
    term = (
        F.col("c")
        * F.round(F.log(F.col("n") / F.col("c")) * F.lit(1e6), 0).cast(
            "long"
        )
    ).alias("t_micro")
    return (
        with_n.select("user_id", "n", term)
        .groupBy("user_id")
        .agg(
            F.first("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            (F.sum("t_micro") / F.first("n") / F.lit(1e6)).alias(
                "behavior_entropy"
            ),
        )
    )


_SESSION_ENTROPY_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
),
with_n AS (
  SELECT user_id, c, sum(c) OVER (PARTITION BY user_id) AS n FROM counts
)
SELECT user_id,
  CAST(max(n) AS BIGINT) AS n_events,
  CAST(count(*) AS BIGINT) AS n_types,
  CAST(sum(c * CAST(round(ln(n / c) * 1e6) AS BIGINT)) AS BIGINT)
    / max(n) / 1e6 AS behavior_entropy
FROM with_n GROUP BY user_id
"""

QUERIES.append(
    QueryDef(
        "session_entropy",
        session_entropy,
        _SESSION_ENTROPY_ORACLE,
        "per-user event-type Shannon entropy (behavioral diversity) via "
        "exact micro-nat integer terms",
    )
)


# --------------------------------------------------------------------------
# Pearson correlation matrix (r4c) — the feature-selection screening
# stat, ONE pass over the fact table. zipf_fit's exact-integer OLS
# pattern widened to the full moment matrix: integer-quantized measures
# make all 15 moment sums (n, 4 Σx, 4 Σx², 6 Σxy) exact int64 aggregates
# in a single map-combined reduce (no keyed shuffle at all — the only
# exchange is the 1-row partial-agg gather); each corr cell is then one
# closed-form double expression over exact ints, bit-portable across
# engines. Whole dollars rather than cents so Σ(price²) stays far inside
# int64 through sf≈100 (decimal(38,0) sums are the escape hatch beyond).
# --------------------------------------------------------------------------

_CORR_VARS = ("qty", "price_usd", "disc_pct", "tax_pct")


def _corr_pairs() -> list[tuple[str, str]]:
    vs = _CORR_VARS
    return [(vs[i], vs[j]) for i in range(len(vs)) for j in range(i + 1, len(vs))]


def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice", 0).cast("long").alias("price_usd"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("disc_pct"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("tax_pct"),
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for v in _CORR_VARS:
        aggs.append(F.sum(v).alias(f"s_{v}"))
        aggs.append(F.sum(F.col(v) * F.col(v)).alias(f"ss_{v}"))
    for a, b in _corr_pairs():
        aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    s = li.agg(*aggs)

    def var_term(v: str):
        return F.sqrt(
            F.col("n") * F.col(f"ss_{v}").cast("double")
            - F.col(f"s_{v}").cast("double") * F.col(f"s_{v}")
        )

    # den > 0 guard: a constant measure column makes its var_term exactly
    # 0.0 — ANSI Spark raises DIVIDE_BY_ZERO even for doubles while the
    # DuckDB twin returns NULL corr (r6 session-3 review); NULL is the
    # honest undefined-correlation answer on both engines.
    cells = [
        F.struct(
            F.lit(a).alias("col_x"),
            F.lit(b).alias("col_y"),
            F.when(
                var_term(a) * var_term(b) > 0,
                (
                    F.col("n") * F.col(f"sp_{a}_{b}").cast("double")
                    - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}")
                )
                / (var_term(a) * var_term(b)),
            ).alias("corr"),
        )
        for a, b in _corr_pairs()
    ]
    return s.select(
        F.col("n").cast("long").alias("n_rows"), F.inline(F.array(*cells))
    )


def _corr_oracle() -> str:
    sums = ["count(*) AS n"]
    for v in _CORR_VARS:
        sums.append(f"CAST(sum({v}) AS BIGINT) AS s_{v}")
        sums.append(f"CAST(sum({v} * {v}) AS BIGINT) AS ss_{v}")
    for a, b in _corr_pairs():
        sums.append(f"CAST(sum({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    arms = []
    for a, b in _corr_pairs():
        arms.append(f"""
SELECT CAST(n AS BIGINT) AS n_rows, '{a}' AS col_x, '{b}' AS col_y,
  (n * CAST(sp_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * s_{b})
  / (sqrt(n * CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * s_{a})
     * sqrt(n * CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * s_{b}))
  AS corr
FROM s""")
    return f"""
WITH m AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice, 0) AS BIGINT) AS price_usd,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS tax_pct
  FROM lineitem
),
s AS (SELECT {', '.join(sums)} FROM m)
{' UNION ALL '.join(arms)}
"""


QUERIES.append(
    QueryDef(
        "lineitem_corr_matrix",
        lineitem_corr_matrix,
        _corr_oracle(),
        "one-pass exact-integer Pearson correlation matrix over the "
        "lineitem measures",
    )
)


# --------------------------------------------------------------------------
# per-user OLS spend trend — closed-form regression as ONE combining agg:
# slope of daily spend vs day index from the five classic sums
# (n, Σx, Σy, Σxy, Σx²), all exact integers (x = epoch day, y = cents),
# so the only floats are the final numerator/denominator division —
# bit-deterministic (single-division contract). The churn-style trend
# feature at 100 TB cost: one (user, day) pre-agg + one user-keyed agg.
# --------------------------------------------------------------------------



def user_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(f"ts div {_NS_PER_DAY_TREND}").alias("day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("user_id", "day")
        .agg(F.sum("cents").alias("y"))
    )
    sums = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("day").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("day") * F.col("y")).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).alias("sxx"),
    )
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        det != 0,
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1e6)
            / det,
            0,
        ).cast("long"),
    )
    return sums.select(
        "user_id",
        "n",
        slope.alias("slope_e6_cents_per_day"),
    )


_TREND_ORACLE = f"""
WITH daily AS (
  SELECT user_id, epoch_ns(ts) // {_NS_PER_DAY_TREND} AS day,
         sum(CAST(round(value*100) AS BIGINT)) AS y
  FROM events GROUP BY user_id, day
),
s AS (
  SELECT user_id, count(*) AS n, sum(day) AS sx, sum(y) AS sy,
         sum(day * y) AS sxy, sum(day * day) AS sxx
  FROM daily GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n,
  CASE WHEN n * sxx - sx * sx <> 0 THEN
    CAST(round((n * sxy - sx * sy) * 1e6
               / (n * sxx - sx * sx)) AS BIGINT)
  END AS slope_e6_cents_per_day
FROM s
"""

QUERIES.append(
    QueryDef(
        "user_trend_slope",
        user_trend_slope,
        _TREND_ORACLE,
        "per-user OLS daily-spend trend slope from exact integer sums "
        "(one pre-agg + one user-keyed combining agg, single division)",
    )
)
