"""Text-analysis workload on the ``documents`` table (extension operators:
quality scoring, token counting, language ID, fingerprinting).

Oracle parity notes: the canonical tokenization (lower → split
``[^a-z0-9]+`` → drop empties) is expressed identically in Spark
higher-order functions and DuckDB list functions; all ratios are divisions
of exact integer counts (deterministic doubles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import (
    LANG_STOPWORDS,
    bpe_token_count,
    char_class_count,
    fingerprint_md5,
    lang_predict,
    lang_scores,
    rolling_fingerprint,
    token_count,
    tokens,
    word_ngrams,
)
from feature_generation_benchmark_spark.sources.testdata import load_table
from feature_generation_benchmark_spark.workloads import QueryDef

_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tokens = token_count("text")
    token_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    n_chars = F.length("text")
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
        char_class_count(F.lower(F.col("text")), r"[^a-z0-9\s]")
        .cast("long")
        .alias("n_punct"),
        char_class_count(F.col("text"), "[0-9]").cast("long").alias("n_digits"),
        F.when(n_tokens > 0, token_len_sum / n_tokens).alias("avg_token_len"),
        # guarded like avg_token_len: empty text is in-domain, the bare
        # int/int division raises under ANSI while the oracle's DOUBLE
        # division yields NULL (r6 session-3 review)
        F.when(
            n_chars > 0,
            char_class_count(F.lower(F.col("text")), r"[^a-z0-9\s]")
            / n_chars,
        ).alias("punct_ratio"),
    )


_TEXT_STATS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
)
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
       AS BIGINT) AS n_bpe_tokens,
  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS BIGINT)
       AS n_punct,
  CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
  CASE WHEN len(toks) > 0 THEN
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
  END AS avg_token_len,
  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS DOUBLE)
       / length(text) AS punct_ratio
FROM t
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    scores = lang_scores(toks)
    return docs.select(
        "doc_id",
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in scores],
        lang_predict(toks).alias("lang_pred"),
    )


def _lang_oracle() -> str:
    score_items = []
    for lang, words in LANG_STOPWORDS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        score_items.append(
            f"CAST(len(list_filter(toks, x -> list_contains([{arr}], x))) "
            f"AS BIGINT) AS score_{lang}"
        )
    langs = list(LANG_STOPWORDS)
    g = "greatest(" + ", ".join(f"score_{x}" for x in langs) + ")"
    case = f"CASE WHEN {g} = 0 THEN 'und' "
    for lang in langs[:-1]:
        case += f"WHEN score_{lang} = {g} THEN '{lang}' "
    case += f"ELSE '{langs[-1]}' END AS lang_pred"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, {", ".join(score_items)} FROM t)
SELECT doc_id, {", ".join("score_" + x for x in langs)}, {case} FROM s
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        fingerprint_md5("text").alias("fingerprint"),
        token_count("text").cast("long").alias("n_tokens"),
        rolling_fingerprint(tokens("text")).alias("rolling_fp"),
    )


_FINGERPRINT_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
    AS fingerprint,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CAST(list_reduce(
    list_prepend(0, list_transform(
      toks, x -> unicode(x) * 1000 + length(x))),
    (h, v) -> (h * 31 + v) % 1000000007) AS BIGINT) AS rolling_fp
FROM t
"""


#: Gopher-style quality-gate bounds (Rae et al. 2021 §A1.1, adapted to the
#: synthetic corpus' 10-99-token documents so both outcomes occur).
QUALITY_BOUNDS = {
    "min_tokens": 20,
    "max_tokens": 100_000,
    "min_avg_token_len": 2.0,
    "max_avg_token_len": 10.0,
    "min_stopword_ratio": 0.03,
    "max_dup_token_ratio": 0.7,
    "max_digit_char_ratio": 0.3,
}

#: Union of all per-language stopword lists — the language-agnostic
#: "natural language-ness" signal for the quality gate.
_ALL_STOPWORDS = tuple(
    dict.fromkeys(w for ws in LANG_STOPWORDS.values() for w in ws)
)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + composite pass/fail gate. The token
    array is materialized in its own projection BEFORE the lambda-heavy
    stats select — higher-order functions re-evaluate argument expressions
    per element, so feeding them ``tokens(text)`` inline would re-split the
    text O(tokens) times (see spark-perf notes)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", tokens("text").alias("toks"))
    vocab = F.array(*[F.lit(w) for w in _ALL_STOPWORDS])
    n_tokens = F.size("toks").cast("long")
    n_chars = F.length("text").cast("long")
    token_len_sum = F.aggregate(
        F.transform("toks", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop_hits = F.size(F.filter("toks", lambda x: F.array_contains(vocab, x)))
    n_distinct = F.size(F.array_distinct("toks"))
    n_digits = char_class_count(F.col("text"), "[0-9]")
    b = QUALITY_BOUNDS
    # ANSI mode raises DIVIDE_BY_ZERO on long/long `/` — zero-token or
    # empty-text docs get NULL ratios instead (Kleene AND keeps
    # passes_quality false via the min_tokens bound; oracle mirrors)
    has_toks = n_tokens > 0
    stats = t.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.when(has_toks, token_len_sum / n_tokens).alias("avg_token_len"),
        F.when(has_toks, stop_hits / n_tokens).alias("stopword_ratio"),
        F.when(has_toks, F.lit(1.0) - n_distinct / n_tokens).alias(
            "dup_token_ratio"
        ),
        F.when(n_chars > 0, n_digits / n_chars).alias("digit_char_ratio"),
    )
    passes = (
        F.col("n_tokens").between(b["min_tokens"], b["max_tokens"])
        & F.col("avg_token_len").between(
            b["min_avg_token_len"], b["max_avg_token_len"]
        )
        & (F.col("stopword_ratio") >= b["min_stopword_ratio"])
        & (F.col("dup_token_ratio") <= b["max_dup_token_ratio"])
        & (F.col("digit_char_ratio") <= b["max_digit_char_ratio"])
    )
    return stats.withColumn("passes_quality", passes)


def _quality_oracle() -> str:
    b = QUALITY_BOUNDS
    vocab = ", ".join(f"'{w}'" for w in _ALL_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        / len(toks) END AS avg_token_len,
    CASE WHEN len(toks) > 0 THEN
      CAST(len(list_filter(toks, x -> list_contains([{vocab}], x)))
        AS DOUBLE) / len(toks) END AS stopword_ratio,
    CASE WHEN len(toks) > 0 THEN
      1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      END AS dup_token_ratio,
    CASE WHEN length(text) > 0 THEN
      CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text)
      END AS digit_char_ratio
  FROM t
)
SELECT *,
  (n_tokens BETWEEN {b["min_tokens"]} AND {b["max_tokens"]})
  AND (avg_token_len BETWEEN {b["min_avg_token_len"]}
       AND {b["max_avg_token_len"]})
  AND stopword_ratio >= {b["min_stopword_ratio"]}
  AND dup_token_ratio <= {b["max_dup_token_ratio"]}
  AND digit_char_ratio <= {b["max_digit_char_ratio"]} AS passes_quality
FROM s
"""


def lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of predicted vs labeled language (the testdata's
    ``lang`` column is ground truth; zh has no stopword list → 'und')."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return (
        docs.select("lang", lang_predict(toks).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_accuracy_oracle() -> str:
    return f"""
WITH p AS ({_lang_oracle()})
SELECT d.lang, p.lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM p JOIN documents d USING (doc_id)
GROUP BY d.lang, p.lang_pred
"""


QUERIES = [
    QueryDef("text_stats", text_stats, _TEXT_STATS_ORACLE,
             "token/char/punct/quality statistics per document"),
    QueryDef("lang_id", lang_id, _lang_oracle(),
             "stopword-overlap language identification"),
    QueryDef("lang_id_accuracy", lang_id_accuracy, _lang_accuracy_oracle(),
             "language-ID confusion counts vs labeled ground truth"),
    QueryDef("doc_fingerprint", doc_fingerprint, _FINGERPRINT_ORACLE,
             "md5 content fingerprint over normalized text"),
    QueryDef("text_quality", text_quality, _quality_oracle(),
             "Gopher-style quality signals + composite pass/fail gate"),
]


# --------------------------------------------------------------------------
# tokenizer-training corpus statistics (r3)
# --------------------------------------------------------------------------

_VOCAB_K = 25  # top tokens per language
_PAIR_K = 50  # top adjacent BPE-unit pairs corpus-wide


def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary head: top ``_VOCAB_K`` tokens by frequency
    (ties broken by token text) — the corpus artifact tokenizer training
    starts from. Explode → count → per-language top-k window; at 100 TB
    the count is the only full shuffle and combines map-side (token
    cardinality ≪ corpus size)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _VOCAB_K)
        .select("lang", "rank", "token", "n")
    )


_VOCAB_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest({_TOKS_SQL}) AS token FROM documents
),
c AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY lang, token
)
SELECT lang, rank, token, n FROM (
  SELECT lang, token, n,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n DESC, token) AS rank
  FROM c)
WHERE rank <= {_VOCAB_K}
"""


def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent BPE-unit pair frequencies — the statistic the first BPE
    merge iteration maximizes. Units follow ``BPE_TOKEN_RE`` (letter runs /
    digit runs / single punctuation). Pair explosion is a shuffle-free
    per-row flatMap; the pair count combines map-side; the global top-k is
    a sort of the (tiny) distinct-pair aggregate."""
    from feature_generation_benchmark_spark.functions.textfns import (
        BPE_TOKEN_RE,
    )

    docs = load_table(spark, sf_dir, "documents")
    units = docs.select(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), F.lit(0)
        ).alias("u")
    ).filter(F.size("u") >= 2)
    pairs = units.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("u") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("u"), i + 1).alias("a"),
                    F.element_at(F.col("u"), i + 2).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "a", "b")
        .limit(_PAIR_K)
    )


_BPE_UNITS_SQL = (
    "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')"
)

_PAIR_ORACLE = f"""
WITH u AS (
  SELECT {_BPE_UNITS_SQL} AS u FROM documents
  WHERE len({_BPE_UNITS_SQL}) >= 2
),
p AS (
  SELECT u[s] AS a, u[s + 1] AS b
  FROM (SELECT u, unnest(generate_series(1, len(u) - 1)) AS s FROM u)
)
SELECT a, b, CAST(count(*) AS BIGINT) AS n
FROM p GROUP BY a, b
ORDER BY n DESC, a, b LIMIT {_PAIR_K}
"""

QUERIES.append(
    QueryDef(
        "vocab_topk",
        vocab_topk,
        _VOCAB_ORACLE,
        "per-language top-k vocabulary (tokenizer-training head)",
    )
)
QUERIES.append(
    QueryDef(
        "bpe_pair_stats",
        bpe_pair_stats,
        _PAIR_ORACLE,
        "adjacent BPE-unit pair frequencies (first BPE merge statistic)",
    )
)


# --------------------------------------------------------------------------
# repetition analysis: top-n-gram coverage (r3b) — the Gopher repetition
# rules (Rae et al. 2021 §A1.1: "fraction of characters in the most common
# 2/3-gram") that `text_quality` does not cover; expressed over tokens
# since the synthetic corpus has no line structure.
# --------------------------------------------------------------------------

#: Gopher §A1.1 thresholds for top-2-gram / top-3-gram coverage.
_TOP2_MAX = 0.20
_TOP3_MAX = 0.18


def _gram_rows(toked: DataFrame, g: int) -> DataFrame:
    """Explode one row per ``g``-gram via the shared ``word_ngrams``
    shingler (shuffle-free per-row flatMap; ``word_ngrams`` already
    yields an empty array below ``g`` tokens, so no explicit filter)."""
    return toked.select(
        "doc_id",
        F.lit(g).alias("g"),
        F.explode(word_ngrams(F.col("toks"), g)).alias("gram"),
    )


def top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-n-gram token coverage + repetition gate.

    For each doc: the fraction of tokens covered by its single most
    frequent bigram and trigram (`top2gram_frac`, `top3gram_frac`), and a
    `repetitive` flag at the Gopher thresholds. Docs need >=2 tokens
    (trigram column is NULL for 2-token docs).

    Scale: gram explosion is a per-row flatMap (no shuffle); both
    aggregations are keyed by `doc_id` — high-cardinality, combine
    map-side, no skew (per-doc gram count is bounded by doc length).
    The reference has no repetition surface at all (its text model stops
    at the bank-transaction schema, `docs/index.md`)."""
    docs = load_table(spark, sf_dir, "documents")
    # cached: the token-array frame feeds BOTH gram explosions and the
    # n_tokens base — unpinned, the corpus tokenize runs three times
    toked = docs.select("doc_id", tokens("text").alias("toks")).cache()
    grams = _gram_rows(toked, 2).unionByName(_gram_rows(toked, 3))
    top = (
        grams.groupBy("doc_id", "g", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "g")
        .agg(F.max("c").alias("top_c"))
    )
    wide = top.groupBy("doc_id").agg(
        F.max(F.when(F.col("g") == 2, F.col("top_c"))).alias("top2_c"),
        F.max(F.when(F.col("g") == 3, F.col("top_c"))).alias("top3_c"),
    )
    base = toked.filter(F.size("toks") >= 2).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    out = base.join(wide, "doc_id")
    frac2 = F.lit(2.0) * F.col("top2_c") / F.col("n_tokens")
    frac3 = F.lit(3.0) * F.col("top3_c") / F.col("n_tokens")
    return out.select(
        "doc_id",
        "n_tokens",
        frac2.alias("top2gram_frac"),
        frac3.alias("top3gram_frac"),
        (
            (frac2 > _TOP2_MAX)
            | F.coalesce(frac3 > _TOP3_MAX, F.lit(False))
        ).alias("repetitive"),
    )


_TOP_NGRAM_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 2),
g2 AS (
  SELECT doc_id, toks[s] || ' ' || toks[s + 1] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 1)) AS s FROM nz)
),
t2 AS (
  SELECT doc_id, max(c) AS m FROM (
    SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram)
  GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, toks[s] || ' ' || toks[s + 1] || ' ' || toks[s + 2] AS gram
  FROM (SELECT doc_id, toks, unnest(generate_series(1, n - 2)) AS s
        FROM nz WHERE n >= 3)
),
t3 AS (
  SELECT doc_id, max(c) AS m FROM (
    SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram)
  GROUP BY doc_id
)
SELECT nz.doc_id,
  CAST(nz.n AS BIGINT) AS n_tokens,
  2.0 * t2.m / nz.n AS top2gram_frac,
  3.0 * t3.m / nz.n AS top3gram_frac,
  (2.0 * t2.m / nz.n > {_TOP2_MAX}
   OR coalesce(3.0 * t3.m / nz.n > {_TOP3_MAX}, FALSE)) AS repetitive
FROM nz JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
"""


# --------------------------------------------------------------------------
# corpus unigram language model scoring (r3b) — the CCNet-style "score
# every document under an LM and filter the tail" step, with the corpus
# itself as the model (self-perplexity).
# --------------------------------------------------------------------------


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability per document under the corpus' own
    unigram distribution — the quality signal LM-filtering pipelines
    (CCNet, Gopher) threshold on.

    Two passes over the exploded tokens: (1) the unigram frequency table
    (groupBy token — combines map-side, output is vocab-sized), (2) a
    token-keyed join back + per-doc average. The 1-row corpus total is
    broadcast. At 100 TB the vocab table is the only state that grows
    sublinearly; the join shuffles tokens by value — skew on stopwords is
    bounded by AQE skew-join handling, and the per-doc agg is
    doc_id-keyed.

    Determinism contract (same spirit as the engine-wide integer-cents
    rule): per-token log-probs are quantized to integer MICRO-LOG units
    before summing, so the per-doc aggregate is an exact integer sum —
    immune to float accumulation order across engines/partitions — and
    the reported double is one final exact-int division. Residual risk:
    the quantization happens AFTER one transcendental (``ln``), so a
    JVM-vs-libm last-ulp divergence landing exactly on a 0.5e-6 rounding
    boundary could still flip one micro-log unit (~1e-9 per distinct
    (count, total) pair — accepted; no cross-engine log is exactly
    portable, and the quantization removes the dominant order-of-
    accumulation hazard)."""
    docs = load_table(spark, sf_dir, "documents")
    # cached: the exploded token frame feeds the unigram model AND the
    # scoring join, and the vocab-sized model feeds both the total and
    # the join — unpinned, the corpus tokenize+explode ran THREE times
    # per run (r7 plan sweep)
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).cache()
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c")).cache()
    total = freq.agg(F.sum("c").alias("total"))
    micro = (
        F.round((F.log("c") - F.log("total")) * F.lit(1e6), 0)
        .cast("long")
        .alias("ml")
    )
    return (
        tok.join(freq, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", micro)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            (
                F.sum("ml") / F.count(F.lit(1)) / F.lit(1e6)
            ).alias("avg_logprob"),
        )
    )


_UNIGRAM_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents
),
f AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
t AS (SELECT sum(c) AS total FROM f),
m AS (
  SELECT doc_id,
         CAST(round((ln(c) - ln(total)) * 1e6) AS BIGINT) AS ml
  FROM tok JOIN f USING (token) CROSS JOIN t
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(ml) AS BIGINT) / count(*) / 1e6 AS avg_logprob
FROM m GROUP BY doc_id
"""

QUERIES.append(
    QueryDef(
        "top_ngram_coverage",
        top_ngram_coverage,
        _TOP_NGRAM_ORACLE,
        "Gopher top-2/3-gram coverage fractions + repetition gate",
    )
)
QUERIES.append(
    QueryDef(
        "unigram_logprob",
        unigram_logprob,
        _UNIGRAM_ORACLE,
        "corpus-unigram LM mean log-prob per document (CCNet-style)",
    )
)


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the
    compression-ratio-style quality signal (low-entropy docs are
    boilerplate/repetition; binary-ish docs spike). Nats.

    Plan: explode characters → (doc, char) counts (partial agg bounds the
    exchange to |docs|×|alphabet| rows no matter the corpus size) → a
    doc-keyed window supplies the total. Determinism: the per-(doc,char)
    term c·round(ln(n/c)·1e6) is an exact integer, so the per-doc sum is
    order-free; one final division produces the reported double
    (`unigram_logprob`'s micro-log convention, same accepted last-ulp
    ln() boundary risk).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_doc = Window.partitionBy("doc_id")
    with_n = counts.withColumn("n", F.sum("c").over(w_doc))
    term = (
        F.col("c")
        * F.round(F.log(F.col("n") / F.col("c")) * F.lit(1e6), 0).cast("long")
    ).alias("t_micro")
    return (
        with_n.select("doc_id", "n", term)
        .groupBy("doc_id")
        .agg(
            F.first("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
            (F.sum("t_micro") / F.first("n") / F.lit(1e6)).alias(
                "entropy_nats"
            ),
        )
    )


_CHAR_ENTROPY_ORACLE = """
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND len(text) > 0
),
chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM d
),
counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
),
with_n AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n
  FROM counts
)
SELECT doc_id,
  CAST(max(n) AS BIGINT) AS n_chars,
  CAST(count(*) AS BIGINT) AS n_distinct_chars,
  CAST(sum(c * CAST(round(ln(n / c) * 1e6) AS BIGINT)) AS BIGINT)
    / max(n) / 1e6 AS entropy_nats
FROM with_n GROUP BY doc_id
"""

QUERIES.append(
    QueryDef(
        "char_entropy",
        char_entropy,
        _CHAR_ENTROPY_ORACLE,
        "per-doc character Shannon entropy in exact micro-nat integer "
        "terms (quality signal)",
    )
)


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope/intercept of ln(freq) vs
    ln(rank) over the token frequency table — the corpus-health statistic
    (natural text ≈ −1; deviation flags boilerplate/spam).

    Exact-integer decomposition (winsorized_stats' pattern, extended to
    regression): per-token x = round(ln(rank)·1e3), y = round(ln(c)·1e3)
    are MILLI-log ints (milli, not micro: Σxy must stay far inside
    int64 at vocab scale), the five OLS sums (n, Σx, Σy, Σxy, Σx²) are
    exact integer aggregates, and slope/intercept are each ONE closed-
    form double expression over those exact ints — identical on both
    engines:  slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²),
    intercept = (ΣyΣx²−ΣxΣxy)/(nΣx²−(Σx)²). The final products are
    computed in double (they exceed int64 at large vocab; ANSI mode
    would raise on a long overflow, and double arithmetic over exact
    ints is engine-portable).

    Plan: token count combines map-side (vocab ≪ corpus); the rank
    window and OLS rollup run over the vocab-sized table only.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("token"))
    xy = counts.select(
        "lang",
        F.round(F.log(F.row_number().over(w).cast("double")) * F.lit(1e3), 0)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * F.lit(1e3), 0)
        .cast("long")
        .alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    d = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx")
    # d != 0 guard: a language with exactly ONE distinct token has
    # x = ln(1) = 0 for its whole (1-row) vocab, so d = 0 — ANSI Spark
    # raises DIVIDE_BY_ZERO even on doubles while the DuckDB twin yields
    # NULL slope/intercept (r6 session-3 review); an OLS over one point
    # is genuinely undefined, so NULL on both engines.
    return s.select(
        "lang",
        F.col("n").alias("n_vocab"),
        F.when(
            d != 0,
            (
                F.col("n") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / d,
        ).alias("zipf_slope"),
        F.when(
            d != 0,
            (
                F.col("sy").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sxy")
            )
            / d,
        ).alias("zipf_intercept_e3"),
    )


_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT lang, unnest({_TOKS_SQL}) AS token FROM documents
),
counts AS (
  SELECT lang, token, count(*) AS c FROM toks GROUP BY lang, token
),
xy AS (
  SELECT lang,
    CAST(round(ln(CAST(row_number() OVER (
      PARTITION BY lang ORDER BY c DESC, token) AS DOUBLE)) * 1e3)
      AS BIGINT) AS x,
    CAST(round(ln(CAST(c AS DOUBLE)) * 1e3) AS BIGINT) AS y
  FROM counts
),
s AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
    CAST(sum(x * y) AS BIGINT) AS sxy,
    CAST(sum(x * x) AS BIGINT) AS sxx
  FROM xy GROUP BY lang
)
SELECT lang, n AS n_vocab,
  (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS zipf_slope,
  (CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
    / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
    AS zipf_intercept_e3
FROM s
"""

QUERIES.append(
    QueryDef(
        "zipf_fit",
        zipf_fit,
        _ZIPF_ORACLE,
        "per-language Zipf slope/intercept: OLS over exact milli-log "
        "integer sums, one closed-form double division",
    )
)


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram conditional log-probability per document under the
    corpus' own bigram MLE — `unigram_logprob`'s sharper sibling
    (bigram perplexity proxies fluency, not just vocabulary rarity).

    Bigrams are built ROW-LOCALLY by zipping the token array with its
    own tail (`slice` + `zip_with` — no window, no per-token shuffle);
    the corpus passes are (1) bigram counts and (2) context counts,
    both map-side combining, then two value-keyed joins back. Per-pair
    ln P(w₂|w₁) = ln c(w₁w₂) − ln c(w₁·) is quantized to micro-log ints
    before the per-doc sum (the `unigram_logprob` determinism contract,
    same accepted ln() boundary risk).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = F.zip_with(
        F.slice("t", 1, F.size("t") - 1),
        F.slice("t", 2, F.size("t") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # cached: the exploded bigram frame feeds the bigram model AND the
    # scoring join — unpinned, the corpus tokenize+explode runs twice
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    ).cache()
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # context counts DERIVE from the bigram counts (c1(w1) = Σ_w2
    # c2(w1, w2) — exactly equal by definition): aggregate the KB-sized
    # model frame instead of a third corpus-sized pass (r7 optimization,
    # guide §2.4 "don't compute things twice")
    ctx = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    micro = (
        F.round((F.log("c2") - F.log("c1")) * F.lit(1e6), 0)
        .cast("long")
        .alias("ml")
    )
    return (
        bg.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .select("doc_id", micro)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (F.sum("ml") / F.count(F.lit(1)) / F.lit(1e6)).alias(
                "avg_bigram_logprob"
            ),
        )
    )


_BIGRAM_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[u.i] AS w1, toks[u.i + 1] AS w2
  FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
),
big AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
m AS (
  SELECT doc_id,
    CAST(round((ln(c2) - ln(c1)) * 1e6) AS BIGINT) AS ml
  FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  CAST(sum(ml) AS BIGINT) / count(*) / 1e6 AS avg_bigram_logprob
FROM m GROUP BY doc_id
"""

QUERIES.append(
    QueryDef(
        "bigram_logprob",
        bigram_logprob,
        _BIGRAM_ORACLE,
        "corpus-bigram LM mean conditional log-prob per doc; row-local "
        "bigram build via slice+zip_with",
    )
)


# --------------------------------------------------------------------------
# label mutual information (r4c) — MI(lang; source) over documents, the
# dataset-composition diagnostic (high MI = sources are language-skewed,
# which drives mixture re-weighting). char_entropy's micro-nat integer
# convention applied to the contingency table.
# --------------------------------------------------------------------------

def lang_source_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between the lang and source labels.

    Plan: ONE corpus-sized groupBy builds the (lang, source) contingency
    table; everything after runs on that |langs|x|sources|-bounded table —
    the marginal/total window sums (incl. one single-partition window,
    bounded by construction, the journey_paths_top precedent) and the
    final 1-row rollup. Determinism: the per-cell term
    c * round(ln((n*c)/(nl*ns)) * 1e6) is an exact integer, so the MI sum
    is order-free; one final division emits the double (same accepted
    last-ulp ln() boundary as unigram_logprob).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("c")
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    t = cells.select(
        "lang",
        "source",
        "c",
        F.sum("c").over(wl).alias("nl"),
        F.sum("c").over(ws).alias("ns"),
        F.sum("c").over(wall).alias("n"),
    )
    term = F.col("c") * F.round(
        F.log(
            (F.col("n").cast("double") * F.col("c"))
            / (F.col("nl").cast("double") * F.col("ns"))
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    return t.agg(
        F.max("n").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.sum(term) / F.max("n") / F.lit(1e6)).alias("mi_nats"),
    )


_LANG_SOURCE_MI_ORACLE = """
WITH d AS (
  SELECT lang, source FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
),
cells AS (
  SELECT lang, source, count(*) AS c FROM d GROUP BY lang, source
),
t AS (
  SELECT lang, source, c,
         sum(c) OVER (PARTITION BY lang) AS nl,
         sum(c) OVER (PARTITION BY source) AS ns,
         sum(c) OVER () AS n
  FROM cells
)
SELECT
  CAST(max(n) AS BIGINT) AS n_docs,
  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
  CAST(count(*) AS BIGINT) AS n_cells,
  CAST(sum(c * CAST(round(ln((CAST(n AS DOUBLE) * c)
                            / (CAST(nl AS DOUBLE) * ns)) * 1e6) AS BIGINT))
       AS BIGINT)
    / max(n) / 1e6 AS mi_nats
FROM t
"""

QUERIES.append(
    QueryDef(
        "lang_source_mi",
        lang_source_mi,
        _LANG_SOURCE_MI_ORACLE,
        "mutual information between lang and source labels in exact "
        "micro-nat integer terms (composition diagnostic)",
    )
)


# ---------------------------------------------------------------------------
# BM25 keyword retrieval — the classic lexical search scorer, one pass
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")
_BM25_K = 20


def bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-``_BM25_K`` documents for a fixed keyword query —
    the lexical-retrieval scorer behind corpus search / hard-negative
    mining. k1 = 1.2, b = 0.75 (the textbook defaults).

    Determinism: each per-(doc, term) weight is quantized to MICRO units
    (``round(w·1e6)`` int64) BEFORE the per-doc sum, so the only float
    work is the fixed expression chain (one ``ln`` + divisions) evaluated
    identically by both engines — no summation-order drift; the top-k
    boundary ranks on ``(score_micro, doc_id)`` (``unigram_logprob``'s
    accepted last-ulp residual class). Literals are written identically
    (``2.2``, ``0.25``) on both sides so constant folding cannot diverge.

    Scale posture: TWO corpus passes, no more (a naive tf/df/totals DAG
    tokenizes three times — column pruning makes the repeated subtrees
    non-identical, so exchange reuse never dedupes them). Pass 1: the
    explode is pipelined into a map-combined ``(doc, dl, term)`` count
    (the term filter prunes before the shuffle). Pass 2: ONE 1-row
    conditional aggregate carries ``n_docs``, ``sum_dl``, AND the
    per-term document frequencies (``sum(contains)`` per query term —
    the case-when pattern), broadcast back, so document frequency costs
    no shuffle at all. The global top-k is a TakeOrdered, not a sort —
    two hash exchanges end to end (tf count, per-doc sum)."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_BM25_K)
    )


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unranked per-doc BM25 scores ``(doc_id, score_micro)`` for the
    fixed ``_BM25_TERMS`` query — the pre-top-k frame
    :func:`bm25_doc_ranking` and the RRF hybrid both consume (see that
    docstring for the determinism and two-pass scale analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    with_dl = docs.select(
        "doc_id", F.size(tokens("text")).alias("dl"), tokens("text").alias("toks")
    )
    model = with_dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(
                F.array_contains("toks", t).cast("long")
            ).alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    tf = (
        with_dl.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfc = F.coalesce(
        *[
            F.when(F.col("term") == t, F.col(f"df_{t}"))
            for t in _BM25_TERMS
        ]
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - dfc + 0.5) / (dfc + 0.5))
    w = (
        idf
        * (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * F.col("dl")) / avgdl)
        )
    )
    return (
        tf.crossJoin(F.broadcast(model))
        .select("doc_id", F.round(w * 1e6).cast("long").alias("w_micro"))
        .groupBy("doc_id")
        .agg(F.sum("w_micro").alias("score_micro"))
    )


# Shared CTE block: per-doc BM25 scores (ends with a `bm25_scores`
# relation) — embedded by both the bm25 oracle and the RRF hybrid oracle.
_BM25_SCORE_CTES = f"""
dl AS (
  SELECT doc_id, len({_TOKS_SQL}) AS dl, {_TOKS_SQL} AS toks FROM documents
),
totals AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
  FROM dl
),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
  WHERE term IN {_BM25_TERMS!r}
  GROUP BY doc_id, dl, term
),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
w AS (
  SELECT tf.doc_id,
    CAST(round(
      ln(1.0 + (t.n_docs - d.df + 0.5) / (d.df + 0.5))
      * (tf.tf * 2.2)
      / (tf.tf + 1.2 * (0.25 + (0.75 * tf.dl)
                        / (CAST(t.sum_dl AS DOUBLE) / t.n_docs)))
      * 1e6) AS BIGINT) AS w_micro
  FROM tf JOIN dfreq d USING (term) CROSS JOIN totals t
),
bm25_scores AS (
  SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro
  FROM w GROUP BY doc_id
)
"""

_BM25_ORACLE = f"""
WITH {_BM25_SCORE_CTES}
SELECT doc_id, score_micro
FROM bm25_scores
ORDER BY score_micro DESC, doc_id
LIMIT {_BM25_K}
"""

QUERIES.append(
    QueryDef(
        "bm25_doc_ranking",
        bm25_doc_ranking,
        _BM25_ORACLE,
        "Okapi BM25 keyword top-k: map-combined (doc,term) counts, "
        "broadcast df/length model, TakeOrdered top-k; per-term weights "
        "micro-quantized before the order-free integer sum",
    )
)


# ---------------------------------------------------------------------------
# Skip-gram PMI — the co-occurrence statistic embedding/collocation
# pipelines are trained on (word2vec's SGNS objective factorizes a
# shifted PMI matrix; Levy & Goldberg 2014)
# ---------------------------------------------------------------------------

_PMI_WINDOW = 2
_PMI_MIN_COUNT = 5
_PMI_TOP_K = 200


def skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of unordered token pairs co-occurring
    within a ±2 skip-gram window, thresholded and global-top-K.

    Spark-first pair extraction: pairs come from ARRAY-LOCAL
    ``zip_with(slice, slice)`` over each doc's token array (one row per
    co-occurrence, no positional self-join); the only shuffles are the
    combining pair-count and unigram-count aggs — both vocab²/vocab-
    bounded, far below corpus size at 100 TB. The final top-K is a
    TakeOrdered (per-partition top-K merge), not a global sort.

    Determinism: counts are exact ints; the PMI argument is computed as
    ``(c_ab/N)·(T/c_a)·(T/c_b)`` — three divisions and two products of
    exact integers in the SAME association on both engines (never an
    integer product that could exceed 2^53) — then ONE ``ln``, quantized
    to e6 (unigram_logprob residual-risk contract)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    # vocab-sized and read 3x (both join sides + the total): cache so
    # the corpus explode+agg runs once, not three times (r7 plan audit:
    # the uncached form scanned documents 5x)
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).cache()
    t_total = uni.agg(F.sum("c").alias("t_tok"))

    arr = docs.select(tokens("text").alias("t"))
    pair_cols = []
    for d in range(1, _PMI_WINDOW + 1):
        # greatest(..., 0): a doc with <= d tokens yields an empty pair
        # array (negative slice lengths are a runtime error)
        pair_cols.append(
            F.expr(
                f"zip_with(slice(t, 1, greatest(size(t) - {d}, 0)), "
                f"slice(t, {d + 1}, greatest(size(t) - {d}, 0)), "
                "(a, b) -> struct(least(a, b) AS ta, "
                "greatest(a, b) AS tb))"
            )
        )
    pairs = (
        arr.select(
            F.explode(F.concat(*pair_cols)).alias("p")
        )
        .select("p.ta", "p.tb")
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
    ).cache()  # feeds the normalizer AND the scoring join (2 reads)
    n_pairs = pairs.agg(F.sum("c_ab").alias("n_pair"))
    ua = uni.select(F.col("tok").alias("ta"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tb"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(ua, "ta")
        .join(ub, "tb")
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(t_total))
        .select(
            "ta",
            "tb",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("n_pair"))
                    * (F.col("t_tok").cast("double") / F.col("c_a"))
                    * (F.col("t_tok").cast("double") / F.col("c_b"))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("pmi_e6"),
        )
    )
    return scored.orderBy(
        F.col("c_ab").desc(), F.col("ta"), F.col("tb")
    ).limit(_PMI_TOP_K)


_PMI_ORACLE = f"""
WITH tokpos AS (
  SELECT doc_id, unnest(toks) AS tok,
         unnest(range(len(toks))) AS pos
  FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
),
uni AS (SELECT tok, count(*) AS c FROM tokpos GROUP BY tok),
t AS (SELECT sum(c) AS t_tok FROM uni),
p AS (
  SELECT least(a.tok, b.tok) AS ta, greatest(a.tok, b.tok) AS tb,
         count(*) AS c_ab
  FROM tokpos a JOIN tokpos b
    ON a.doc_id = b.doc_id
   AND b.pos - a.pos BETWEEN 1 AND {_PMI_WINDOW}
  GROUP BY ta, tb
  HAVING count(*) >= {_PMI_MIN_COUNT}
),
n AS (SELECT sum(c_ab) AS n_pair FROM p)
SELECT ta, tb, CAST(c_ab AS BIGINT) AS c_ab,
  CAST(ua.c AS BIGINT) AS c_a, CAST(ub.c AS BIGINT) AS c_b,
  CAST(round(ln(
      (CAST(c_ab AS DOUBLE) / n_pair)
      * (CAST(t_tok AS DOUBLE) / ua.c)
      * (CAST(t_tok AS DOUBLE) / ub.c)
    ) * 1e6) AS BIGINT) AS pmi_e6
FROM p JOIN uni ua ON p.ta = ua.tok
       JOIN uni ub ON p.tb = ub.tok
CROSS JOIN n CROSS JOIN t
ORDER BY c_ab DESC, ta, tb
LIMIT {_PMI_TOP_K}
"""

QUERIES.append(
    QueryDef(
        "skipgram_pmi",
        skipgram_pmi,
        _PMI_ORACLE,
        "±2-window skip-gram PMI collocations: array-local pair "
        "extraction (no positional self-join), vocab-bounded aggs, "
        "TakeOrdered top-k",
    )
)


# ---------------------------------------------------------------------------
# Negative-sampling noise table — skipgram_pmi's companion: word2vec SGNS
# draws negatives from the unigram^0.75 distribution (Mikolov 2013)
# ---------------------------------------------------------------------------

_NEG_TOP_K = 500


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top-500 noise-distribution rows for SGNS negative sampling:
    per token, count^0.75 weight (e6-quantized BEFORE the cumulative
    sum, so the running total is an exact integer prefix sum) and its
    cumulative weight in (count desc, token) order — the table a sampler
    binary-searches with a uniform draw.

    Plan: ONE vocab-sized combining agg over the exploded tokens, then a
    TakeOrdered top-K and a single-partition window prefix-sum over K
    rows (K=500 — the window is deliberately AFTER the top-K cut, so no
    global sort of the vocab ever happens). pow(c, 0.75) is one
    transcendental per distinct count value, quantized per-row
    (unigram_logprob residual-risk contract)."""
    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    topk = (
        uni.orderBy(F.col("c").desc(), F.col("tok"))
        .limit(_NEG_TOP_K)
        .select(
            "tok",
            "c",
            F.round(F.pow(F.col("c").cast("double"), 0.75) * 1e6, 0)
            .cast("long")
            .alias("w_e6"),
        )
    )
    w = (
        Window.orderBy(F.col("c").desc(), F.col("tok"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return topk.select(
        "tok", "c", "w_e6", F.sum("w_e6").over(w).alias("cum_w_e6")
    )


_NEG_ORACLE = f"""
WITH tok AS (
  SELECT unnest({_TOKS_SQL}) AS tok FROM documents
),
uni AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
topk AS (
  SELECT tok, CAST(c AS BIGINT) AS c,
         CAST(round(pow(CAST(c AS DOUBLE), 0.75) * 1e6) AS BIGINT) AS w_e6
  FROM uni ORDER BY c DESC, tok LIMIT {_NEG_TOP_K}
)
SELECT tok, c, w_e6,
  CAST(sum(w_e6) OVER (ORDER BY c DESC, tok
       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_w_e6
FROM topk
"""

QUERIES.append(
    QueryDef(
        "negative_sampling_table",
        negative_sampling_table,
        _NEG_ORACLE,
        "word2vec SGNS noise table: unigram^0.75 weights, exact integer "
        "prefix sum AFTER the top-K cut (no global vocab sort)",
    )
)


# --------------------------------------------------------------------------
# tokenizer APPLICATION (r6): rank-ordered BPE merge application
# (byte-pair encoding for subword units: Sennrich/Haddow/Birch 2016).
# `bpe_pair_stats` exposes the LEARNING statistic (the pair count the first
# merge maximizes); this operator is the other half of the tokenizer story —
# applying a learned merge table at corpus scale. In production the merge
# table is a model artifact shipped with the tokenizer (a plan literal,
# never a discovery scan), exactly like the engine's known-values pivots.
# --------------------------------------------------------------------------

#: Merge table learned OFFLINE by textbook BPE (iterated most-frequent
#: adjacent pair, count-desc/lexicographic tie-break) over the sf0.01 corpus
#: word-frequency vocabulary. Embedded as constants: the application
#: operator must never re-learn (that would add a full corpus scan per run).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"),
)

#: Passes per merge. A single left-to-right replace pass can under-merge
#: when an occurrence's trailing boundary space is consumed by the previous
#: replacement (" t a t a " → " ta t a "); a second pass catches it. On the
#: corpus vocabulary the chain equals textbook BPE application at 1 pass
#: already (tests/test_text.py pins the property); 2 is overlap headroom.
_BPE_PASSES = 2


def _bpe_merge_chain_spark(spaced):
    """Apply ``BPE_MERGES`` in rank order to a symbol string of the form
    ``" s1 s2 ... "`` (single space between in-word symbols, ≥2 spaces at
    word boundaries so no merge can span words). Pure nested ``F.replace``
    — JVM-side, codegen'd, no Python at run time."""
    col = spaced
    for a, b in BPE_MERGES:
        for _ in range(_BPE_PASSES):
            col = F.replace(col, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return col


def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE tokenization with a fixed merge table: canonical
    text → char symbols → rank-ordered merges → symbol count + compression.

    Scale shape: a narrow per-row projection (zero shuffles, zero UDFs);
    Spark and the DuckDB oracle share identical left-to-right
    replace-all-occurrences semantics, so parity is exact by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    s0 = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    # "ab cd" → " a b   c d  ": 1 space between in-word symbols, 3 at word
    # boundaries (char + appended space; the original separator doubles).
    spaced = F.concat(F.lit(" "), F.regexp_replace(s0, "(.)", "$1 "))
    merged = _bpe_merge_chain_spark(spaced)
    syms = F.filter(F.split(merged, " +"), lambda x: x != F.lit(""))
    n_alnum = F.length(F.regexp_replace(s0, " ", "")).cast("long")
    n_sym = F.size(syms).cast("long")
    return docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_words"),
        n_alnum.alias("n_alnum_chars"),
        n_sym.alias("n_bpe_symbols"),
        # ANSI long/long `/` raises on 0 → guard (empty-alnum docs)
        F.when(n_sym > 0, n_alnum.cast("double") / n_sym).alias(
            "chars_per_symbol"
        ),
    )


def _bpe_apply_oracle() -> str:
    chain = "(' ' || regexp_replace(s0, '(.)', '\\1 ', 'g'))"
    for a, b in BPE_MERGES:
        for _ in range(_BPE_PASSES):
            chain = f"replace({chain}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
WITH c AS (
  SELECT doc_id,
    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s0
  FROM documents
),
m AS (
  SELECT doc_id, s0, {chain} AS merged FROM c
)
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(s0, ' +'), x -> x <> ''))
       AS BIGINT) AS n_words,
  CAST(length(replace(s0, ' ', '')) AS BIGINT) AS n_alnum_chars,
  CAST(len(list_filter(string_split_regex(merged, ' +'), x -> x <> ''))
       AS BIGINT) AS n_bpe_symbols,
  CASE WHEN len(list_filter(string_split_regex(merged, ' +'), x -> x <> ''))
         > 0 THEN
    CAST(length(replace(s0, ' ', '')) AS DOUBLE)
      / len(list_filter(string_split_regex(merged, ' +'), x -> x <> ''))
  END AS chars_per_symbol
FROM m
"""


QUERIES.append(
    QueryDef(
        "bpe_apply_merges",
        bpe_apply_merges,
        _bpe_apply_oracle(),
        "apply a learned BPE merge table (plan literal) per document: "
        "symbol counts + chars-per-symbol compression",
    )
)
