"""LM-training-data pipeline operators (round-6 session-3 extensions):
corpus-level model-driven curation stages that close gaps left by the
per-document text battery (``workloads/text.py``) —

- ``ccnet_perplexity_buckets``: CCNet-style head/middle/tail bucketing of
  the corpus by LM score (Wenzek et al. 2020, "CCNet: Extracting High
  Quality Monolingual Datasets from Web Crawl Data"). CCNet scores each
  document with a KenLM model and splits the corpus into equal-sized
  perplexity tertiles; here the scorer is the corpus' own bigram MLE
  (the ``bigram_logprob`` operator's exact integer micro-log convention)
  and the tertile boundaries come from an integer score histogram, so
  the whole stage replays bit-identically in SQL.
- ``dsir_importance_weights``: hashed n-gram importance weights for Data
  Selection via Importance Resampling (Xie et al. 2023, NeurIPS). Raw
  and target distributions are bag-of-hashed-unigram models with add-one
  smoothing; each document's importance is the summed per-occurrence
  log-likelihood ratio, quantized to micro-nats before summation.
- ``bpe_train_merges``: iterative byte-pair-encoding merge TRAINING
  (Sennrich/Haddow/Birch 2016) — the learning half of the tokenizer
  story whose application half is ``bpe_apply_merges`` (text.py). One
  corpus pass builds the frequency-truncated word vocabulary; every
  training iteration after that is vocab-bounded. Collect-free: the
  argmax pair of each round stays in the plan as a broadcast 1-row
  frame (the ``kmeans_train`` iteration idiom).
- ``snapshot_diff``: dataset-version diff (added/removed/changed/
  unchanged by key + content fingerprint) — the audit primitive behind
  incremental ingestion and training-set version pinning.

Reference scope: the reference benchmark (SemyonSinchenko/
feature-generation-benchmark) has no text pipeline; these are
north-star extensions in the SURVEY §7.2 series, all oracle-gated.

Scale posture is documented per operator; the common theme: every
corpus-sized aperture is a single map-side-combined aggregation or a
broadcast join against a model frame that is bounded (histogram bins,
256 hash buckets, top-M vocabulary, 1-row argmax) regardless of corpus
row count.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import (
    md5_prefix_long,
    tokens,
)
from feature_generation_benchmark_spark.sources.testdata import load_table
from feature_generation_benchmark_spark.workloads import QueryDef

# single ownership of the canonical tokenization SQL (r6 advice):
# workloads/text.py defines it; features_eng.py and this module import it
from feature_generation_benchmark_spark.workloads.text import _TOKS_SQL

QUERIES: list[QueryDef] = []


# --------------------------------------------------------------------------
# CCNet perplexity bucketing
# --------------------------------------------------------------------------

#: Histogram bin width in micro-nats of mean bigram NLL (0.005 nats). The
#: tertile boundary lands on a bin EDGE, so bucket membership is an integer
#: comparison — no floating quantile interpolation anywhere. Sized well
#: below the corpus' tertile gap (~0.025 nats on the synthetic corpus) so
#: the three buckets are genuinely near-thirds; a boundary can only absorb
#: one bin's worth of docs.
_CCNET_BIN_E6 = 5_000


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the corpus into head/middle/tail thirds by mean bigram NLL.

    Stage shape (all exact-integer until the final per-bucket division):

    1. score — per-doc mean bigram negative-log-likelihood under the
       corpus bigram MLE, as a POSITIVE integer in micro-nats:
       ``score = (-Σ ml) div n_bigrams`` where ``ml`` is the
       ``bigram_logprob`` micro-log per pair (both operands positive, so
       Spark's truncating ``div`` equals DuckDB's flooring ``//``).
       Docs with <2 tokens are unscorable and excluded (CCNet likewise
       only buckets LM-scorable text).
    2. histogram — ``bin = score div 50000``; the histogram is bounded
       by the score RANGE (a few hundred bins), not the corpus.
    3. boundaries — smallest bins whose cumulative count covers ≥1/3 and
       ≥2/3 of scored docs (integer cross-multiplied: ``3·cum ≥ n``).
       The cumulative window runs on the histogram — bounded, the
       ``lang_source_mi`` single-partition-window precedent.
    4. assign + roll up — bin ≤ b1 → 'head' (lowest perplexity, the
       slice CCNet keeps), ≤ b2 → 'middle', else 'tail'; broadcast the
       1-row boundary frame onto the per-doc frame.

    At 100 TB: two corpus passes (bigram counts, doc scores), each a
    map-side-combined aggregation; everything downstream of the
    histogram is KB-sized. ln() determinism carries the same accepted
    last-ulp boundary as ``unigram_logprob``/``bigram_logprob``.
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
    # cached: the exploded bigram frame feeds the bigram model, the
    # context model AND the scoring join — unpinned, the corpus explode
    # runs three times
    bg = toks.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    ).cache()
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # context counts derive from the bigram counts (c1(w1) = Σ_w2
    # c2(w1, w2), exactly equal): aggregate the KB-sized model frame
    # instead of a second corpus-sized pass (r7, same as bigram_logprob)
    ctx = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    ml = (
        F.round((F.log("c2") - F.log("c1")) * F.lit(1e6), 0)
        .cast("long")
        .alias("ml")
    )
    scored = (
        bg.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .select("doc_id", ml)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (-F.sum("ml")).alias("negsum"),
        )
        .select("doc_id", F.expr("negsum div n").alias("score"))
    )
    # cached: binned feeds both the histogram and the final bucket rollup
    binned = scored.select(
        "doc_id",
        F.expr(f"score div {_CCNET_BIN_E6}").alias("bin"),
        "score",
    ).cache()
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("nb"))
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("bin", F.sum("nb").over(w_cum).alias("cum"))
    tot = hist.agg(F.sum("nb").alias("nt"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(3 * F.col("cum") >= F.col("nt"), F.col("bin"))).alias(
                "b1"
            ),
            F.min(
                F.when(3 * F.col("cum") >= 2 * F.col("nt"), F.col("bin"))
            ).alias("b2"),
        )
    )
    bucket = (
        F.when(F.col("bin") <= F.col("b1"), F.lit("head"))
        .when(F.col("bin") <= F.col("b2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    n_docs = F.count(F.lit(1)).alias("n_docs")
    return (
        binned.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "score")
        .groupBy("bucket")
        .agg(
            n_docs,
            (
                F.sum("score").cast("double")
                / F.count(F.lit(1))
                / F.lit(1e6)
            ).alias("avg_nll"),
            F.min("score").alias("min_nll_e6"),
            F.max("score").alias("max_nll_e6"),
        )
    )


_CCNET_ORACLE = f"""
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
d AS (
  SELECT doc_id, count(*) AS n,
    CAST(-sum(CAST(round((ln(c2) - ln(c1)) * 1e6) AS BIGINT)) AS BIGINT)
      AS negsum
  FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1)
  GROUP BY doc_id
),
s AS (SELECT doc_id, negsum // n AS score FROM d),
bn AS (SELECT doc_id, score // {_CCNET_BIN_E6} AS bin, score FROM s),
h AS (SELECT bin, count(*) AS nb FROM bn GROUP BY bin),
c AS (SELECT bin, sum(nb) OVER (ORDER BY bin) AS cum FROM h),
tt AS (SELECT sum(nb) AS nt FROM h),
b AS (
  SELECT min(CASE WHEN 3 * cum >= nt THEN bin END) AS b1,
         min(CASE WHEN 3 * cum >= 2 * nt THEN bin END) AS b2
  FROM c CROSS JOIN tt
)
SELECT
  CASE WHEN bin <= b1 THEN 'head'
       WHEN bin <= b2 THEN 'middle'
       ELSE 'tail' END AS bucket,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(score) AS DOUBLE) / count(*) / 1e6 AS avg_nll,
  CAST(min(score) AS BIGINT) AS min_nll_e6,
  CAST(max(score) AS BIGINT) AS max_nll_e6
FROM bn CROSS JOIN b
GROUP BY 1
"""

QUERIES.append(
    QueryDef(
        "ccnet_perplexity_buckets",
        ccnet_perplexity_buckets,
        _CCNET_ORACLE,
        "CCNet head/middle/tail corpus split by mean bigram NLL; "
        "integer-histogram tertile boundaries, broadcast 1-row model",
    )
)


# --------------------------------------------------------------------------
# DSIR importance weights
# --------------------------------------------------------------------------

#: Hashed-feature space size. DSIR's paper uses 10k hashed n-gram buckets;
#: 256 keeps the bucket model human-checkable while exercising the same
#: plan (the model frame is broadcast either way).
_DSIR_BUCKETS = 256
_DSIR_TOPK = 50
#: The "target distribution" slice standing in for DSIR's high-quality
#: corpus: English documents.
_DSIR_TARGET_LANG = "en"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``_DSIR_TOPK`` documents by DSIR importance weight.

    Features are hashed unigrams (``md5_prefix_long % 256`` — the
    engine-wide portable hash idiom, same as ``feature_hash_buckets``).
    The raw distribution is every token occurrence in the corpus; the
    target distribution is occurrences within ``lang = 'en'`` docs.
    Per-bucket log-likelihood ratio with add-one smoothing::

        lr[b] = ln((ct[b]+1)/(Nt+B)) - ln((cs[b]+1)/(Ns+B))

    quantized to micro-nats BEFORE the per-document sum (exact-integer
    summation ⇒ order-free), so a document's weight is
    ``Σ_occurrences lr_e6[bucket(term)]`` — the paper's bag-of-features
    log importance. Output is the top-K by (weight desc, doc_id), the
    resampling front-runner set.

    Plan: one explode + 256-way map-combined agg for each distribution
    (computed in a single pass via conditional counts), then the SAME
    exploded frame joins the broadcast 256-row weight model and
    re-aggregates per doc; top-K is an ``orderBy().limit()`` →
    TakeOrdered, never a global sort. At 100 TB nothing driver-sided
    exists and the only shuffles are the per-doc partial aggregations.
    ln() carries the usual accepted last-ulp boundary.
    """
    b_count = _DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    # cached: the exploded token frame feeds BOTH the bucket model and
    # the per-doc scoring join — unpinned, the corpus-wide explode runs
    # twice
    feat = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens("text")).alias("term"),
    ).select(
        "doc_id",
        "lang",
        (md5_prefix_long(F.col("term")) % b_count).alias("b"),
    ).cache()
    is_t = F.col("lang") == _DSIR_TARGET_LANG
    per_bucket = feat.groupBy("b").agg(
        F.count(F.lit(1)).alias("cs"),
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
    )
    # corpus totals are exactly the bucket sums: derive them from the
    # 256-row per_bucket frame, NOT a second corpus-wide aggregate
    # (r6 advice; same rule mixture_sampling applies)
    tot = per_bucket.agg(
        F.sum("cs").alias("ns"),
        F.sum("ct").alias("nt"),
    )
    lr_e6 = (
        F.round(
            (
                F.log(F.col("ct") + 1)
                - F.log(F.col("nt") + b_count)
                - F.log(F.col("cs") + 1)
                + F.log(F.col("ns") + b_count)
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("lr_e6")
    )
    model = per_bucket.crossJoin(F.broadcast(tot)).select("b", lr_e6)
    return (
        feat.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("lr_e6").alias("weight_e6"),
        )
        .orderBy(F.col("weight_e6").desc(), "doc_id")
        .limit(_DSIR_TOPK)
        .select(
            "doc_id",
            "lang",
            "n_toks",
            "weight_e6",
            (F.col("weight_e6") / F.lit(1e6)).alias("log_weight"),
        )
    )


_DSIR_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, lang, unnest({_TOKS_SQL}) AS term FROM documents
),
f AS (
  SELECT doc_id, lang,
    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS b
  FROM tk
),
pb AS (
  SELECT b, count(*) AS cs,
         sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
  FROM f GROUP BY b
),
tt AS (
  SELECT count(*) AS ns,
         sum(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS nt
  FROM f
),
m AS (
  SELECT b,
    CAST(round((ln(ct + 1) - ln(nt + {_DSIR_BUCKETS})
              - ln(cs + 1) + ln(ns + {_DSIR_BUCKETS})) * 1e6) AS BIGINT)
      AS lr_e6
  FROM pb CROSS JOIN tt
)
SELECT doc_id, lang,
  CAST(count(*) AS BIGINT) AS n_toks,
  CAST(sum(lr_e6) AS BIGINT) AS weight_e6,
  CAST(sum(lr_e6) AS DOUBLE) / 1e6 AS log_weight
FROM f JOIN m USING (b)
GROUP BY doc_id, lang
ORDER BY weight_e6 DESC, doc_id
LIMIT {_DSIR_TOPK}
"""

QUERIES.append(
    QueryDef(
        "dsir_importance_weights",
        dsir_importance_weights,
        _DSIR_ORACLE,
        "DSIR hashed-unigram importance weights (target=en vs raw), "
        "micro-nat integer LLR model broadcast; top-K via TakeOrdered",
    )
)


# --------------------------------------------------------------------------
# BPE merge training
# --------------------------------------------------------------------------

#: Frequency-truncated vocabulary size the trainer operates on. Real BPE
#: trainers (subword-nmt, HuggingFace tokenizers) train on the word
#: FREQUENCY TABLE, not the corpus — the single corpus pass here is the
#: word count; every merge iteration after it is M-bounded.
_BPE_VOCAB = 200
#: Number of merge rules to learn.
_BPE_ROUNDS = 8
#: Replace passes per merge (see text.py `_BPE_PASSES`: a second pass
#: catches occurrences whose boundary space the previous replacement
#: consumed).
_BPE_TRAIN_PASSES = 2


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first ``_BPE_ROUNDS`` BPE merges from the corpus.

    Textbook BPE training (Sennrich 2016 alg. 1): start from the word
    frequency table spelled as character symbols; each round counts
    adjacent symbol pairs weighted by word frequency, picks the most
    frequent pair (count desc, then lexicographic (a, b) — a total
    order, so the argmax is unique), and rewrites the vocabulary with
    the pair merged. Output: one row per learned rule
    ``(merge_rank, sym_a, sym_b, merged, pair_count)``.

    Iteration is COLLECT-FREE (the ``kmeans_train`` idiom): the argmax
    pair of round r stays in the plan as a broadcast 1-row frame that
    both (a) parameterizes the vocabulary rewrite via column-valued
    ``replace`` patterns and (b) contributes the output row. Both the
    vocabulary (M rows) and the argmax (1 row) are ``localCheckpoint``ed
    per round — without the cut, round r's plan re-embeds rounds 1..r-1
    twice over (the vocab feeds both the pair count and the next
    rewrite), going exponential in rounds. With AQE on, each checkpoint
    runs the shuffle stages below it while the loop builds the plan.

    The symbol string format (``" k e y "``: space-wrapped,
    space-separated) and the 2-pass ``replace(' a b ', ' ab ')`` rewrite
    are shared with ``bpe_apply_merges``' proven chain. At 100 TB the
    corpus aperture is ONE map-combined word count; the following
    ``2·_BPE_ROUNDS`` jobs touch only the M-row vocabulary.
    """
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_BPE_VOCAB)
    )
    vocab = wc.select(
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1 ")
        ).alias("sp"),
        "c",
    ).localCheckpoint(eager=False)
    rule_rows: list[DataFrame] = []
    for rnd in range(1, _BPE_ROUNDS + 1):
        syms = F.filter(
            F.split(F.col("sp"), " +"), lambda x: x != F.lit("")
        )
        s = vocab.select(syms.alias("s"), "c").filter(F.size("s") >= 2)
        pair = F.zip_with(
            F.slice("s", 1, F.size("s") - 1),
            F.slice("s", 2, F.size("s") - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )
        pairs = (
            s.select(F.explode(pair).alias("p"), "c")
            .groupBy("p.a", "p.b")
            .agg(F.sum("c").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        rule_rows.append(
            best.select(
                F.lit(rnd).cast("long").alias("merge_rank"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        pat = F.concat(
            F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
        rewritten = F.col("sp")
        for _ in range(_BPE_TRAIN_PASSES):
            rewritten = F.replace(rewritten, pat, rep)
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("a", "b")))
            .select(rewritten.alias("sp"), "c")
            .localCheckpoint(eager=False)
        )
    return reduce(DataFrame.unionAll, rule_rows)


def _bpe_train_oracle(m: int = _BPE_VOCAB, k: int = _BPE_ROUNDS) -> str:
    """Replay the full training loop as chained CTEs (one pair-count +
    argmax + rewrite level per round — the ``bpe_apply_merges`` replace
    chain, parameterized by scalar CTEs instead of plan literals)."""
    sym = "list_filter(string_split_regex(sp, ' +'), x -> x <> '')"
    parts = [
        f"""wc AS (
  SELECT t AS w, count(*) AS c
  FROM (SELECT unnest({_TOKS_SQL}) AS t FROM documents)
  GROUP BY 1 ORDER BY c DESC, w LIMIT {m}
),
v0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sp, c FROM wc
)"""
    ]
    for r in range(1, k + 1):
        p = r - 1
        pat = f"' ' || b{r}.a || ' ' || b{r}.b || ' '"
        rep = f"' ' || b{r}.a || b{r}.b || ' '"
        rewritten = f"v{p}.sp"
        for _ in range(_BPE_TRAIN_PASSES):
            rewritten = f"replace({rewritten}, {pat}, {rep})"
        parts.append(
            f"""s{r} AS (
  SELECT {sym} AS s, c FROM v{p} WHERE len({sym}) >= 2
),
p{r} AS (
  SELECT s[u.i] AS a, s[u.i + 1] AS b, sum(c) AS cnt
  FROM s{r}, unnest(generate_series(1, len(s) - 1)) AS u(i)
  GROUP BY 1, 2
),
b{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
v{r} AS (
  SELECT {rewritten} AS sp, c FROM v{p} CROSS JOIN b{r}
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + sel


QUERIES.append(
    QueryDef(
        "bpe_train_merges",
        bpe_train_merges,
        _bpe_train_oracle(),
        "iterative BPE merge training on the frequency-truncated vocab; "
        "collect-free argmax-as-broadcast iteration, full SQL replay",
    )
)


# --------------------------------------------------------------------------
# snapshot diff
# --------------------------------------------------------------------------

#: Key offset for simulated "added" rows — far above any doc_id the data
#: generator emits at any scale factor.
_SNAP_ADD_OFFSET = 10**12


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version diff between two dataset snapshots: per-status row counts
    plus the net content-size delta.

    The "next" snapshot is derived deterministically from the current
    ``documents`` table (this keeps the operator self-contained and
    oracle-replayable): docs with ``doc_id % 11 = 3`` are deleted, docs
    with ``doc_id % 7 = 0`` get revised text, and docs with
    ``doc_id % 13 = 5`` are re-ingested under a new key. The DIFF is the
    operator under test: a single full-outer key join comparing md5
    content fingerprints, classifying every key as added / removed /
    changed / unchanged and rolling up counts, char delta, and the key
    range per class.

    Scale posture: ONE key-partitioned full-outer shuffle join of the
    two snapshots (each pre-projected to ``(key, fingerprint, length)``
    — the scan never carries text into the exchange); production
    snapshots stored bucketed-by-key diff with no exchange at all. The
    rollup output is 4 rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    revised = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" rev2"))
    ).otherwise(F.col("text"))
    new = (
        docs.filter(F.col("doc_id") % 11 != 3)
        .select("doc_id", revised.alias("text"))
        .unionAll(
            docs.filter(F.col("doc_id") % 13 == 5).select(
                (F.col("doc_id") + _SNAP_ADD_OFFSET).alias("doc_id"), "text"
            )
        )
    )
    o = docs.select(
        "doc_id",
        F.md5("text").alias("fp_old"),
        F.length("text").cast("long").alias("len_old"),
    )
    n = new.select(
        "doc_id",
        F.md5("text").alias("fp_new"),
        F.length("text").cast("long").alias("len_new"),
    )
    j = o.join(n, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            status.alias("status"),
            "doc_id",
            (
                F.coalesce(F.col("len_new"), F.lit(0))
                - F.coalesce(F.col("len_old"), F.lit(0))
            ).alias("delta"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("delta").alias("chars_delta"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


_SNAP_ORACLE = f"""
WITH o AS (
  SELECT doc_id, md5(text) AS fp_old, CAST(length(text) AS BIGINT) AS len_old
  FROM documents
),
nw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id % 11 != 3
  UNION ALL
  SELECT doc_id + {_SNAP_ADD_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 13 = 5
),
n AS (
  SELECT doc_id, md5(text) AS fp_new, CAST(length(text) AS BIGINT) AS len_new
  FROM nw
),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         fp_old, fp_new,
         coalesce(len_new, 0) - coalesce(len_old, 0) AS delta
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
)
SELECT
  CASE WHEN fp_old IS NULL THEN 'added'
       WHEN fp_new IS NULL THEN 'removed'
       WHEN fp_old != fp_new THEN 'changed'
       ELSE 'unchanged' END AS status,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(delta) AS BIGINT) AS chars_delta,
  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
  CAST(max(doc_id) AS BIGINT) AS max_doc_id
FROM j
GROUP BY 1
"""

QUERIES.append(
    QueryDef(
        "snapshot_diff",
        snapshot_diff,
        _SNAP_ORACLE,
        "dataset-version diff (added/removed/changed/unchanged) via one "
        "full-outer key join of fingerprint projections; 4-row rollup",
    )
)
