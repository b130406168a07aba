"""Corpus-curation workload on ``documents`` / ``events`` (extension
operators a 100 TB training-data pipeline needs beyond dedup/similarity):

- ``pii_redaction`` — regex PII detection + scrubbing (emails, phone
  numbers, IPv4 addresses). The synthetic corpus contains no PII, so the
  query *injects* deterministic PII derived from ``doc_id`` with an
  expression the DuckDB twin replays verbatim — redaction mechanics are
  then oracle-checked end-to-end (match counts AND the md5 of the scrubbed
  text). Pure ``regexp_count``/``regexp_replace`` column ops: JVM-side,
  shuffle-free, embarrassingly parallel at any scale.
- ``dup_ngram_spans`` — Gopher-style duplicate n-gram coverage: the
  fraction of each document's tokens covered by word 3-grams that occur
  more than once in the corpus. One shuffle to count shingles globally,
  one join back; interval-union coverage is computed exactly by exploding
  covered token positions and counting distinct. (At 100 TB the join key
  would be ``xxhash64(ngram)`` instead of the raw string — same plan
  shape, narrower shuffle; the string key keeps the oracle byte-exact.)
- ``winnowing_fingerprint`` — MOSS winnowing (Schleimer/Wilkerson/Aiken,
  SIGMOD'03): per document, hash every k-token shingle, slide a window of
  ``w`` consecutive shingle hashes, select each window's minimum; the
  distinct selected hashes are the document's fingerprint set. Guarantees
  any shared run of ``w + k - 1`` tokens contributes at least one common
  fingerprint. The selection is per-document state, so it runs entirely
  as array expressions inside the scan (zero shuffles); the md5-derived
  shingle hash makes the whole selection cross-engine exact.
- ``mixture_sampling`` — deterministic source-mixture sampling: given
  target mixture weights per source and a global token budget, derive
  per-source acceptance rates from the corpus's own per-source token
  totals (tiny 20-row aggregate, broadcast back), then keep documents via
  the md5-keyed acceptance rule (reproducible under repartitioning; no
  ``rand()``). Rates above 1 clamp to keep-all — the upsampling decision
  a real mixture pipeline handles by repetition is reported via ``rate``.
- ``latest_state_compaction`` — CDC-style latest-wins compaction of the
  event log: one row per user carrying the most recent event (by ``ts``,
  tie-broken by ``event_id``) plus lifetime aggregates. Single-shuffle
  ``max(struct(...))`` plan — the upsert/compaction primitive of every
  incrementally-maintained feature store, with no second window pass.

Reference scope context: the reference benchmark generates features only
(`impl/*.py`); curation ops are north-star extensions per SURVEY §7.2.
Money/measure stabilization follows ``workloads/relational.py``: cents as
integers, timestamps as int64 microseconds, floats rounded before hashing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import (
    token_count,
    tokens,
    word_ngrams,
)
from feature_generation_benchmark_spark.sources.testdata import load_table
from feature_generation_benchmark_spark.workloads import QueryDef

# --------------------------------------------------------------------------
# pii_redaction
# --------------------------------------------------------------------------

#: Patterns are deliberately RE2-safe (no backrefs/lookaround) so Java
#: regex (Spark) and RE2 (DuckDB) agree; both use leftmost-first matching.
EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def _injected_text() -> Column:
    """Deterministic PII injection (same expression as the SQL twin)."""
    did = F.col("doc_id")
    email = F.when(
        did % 3 == 0,
        F.concat(
            F.lit(" mail user"), did.cast("string"), F.lit("@test.org now")
        ),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" call 555-123-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 5 == 0,
        F.concat(
            F.lit(" node 10."),
            (did % 256).cast("string"),
            F.lit("."),
            (did % 100).cast("string"),
            F.lit(".7"),
        ),
    ).otherwise(F.lit(""))
    return F.concat(F.col("text"), email, phone, ip)


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", _injected_text().alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), EMAIL_RE, "[EMAIL]"),
            PHONE_RE,
            "[PHONE]",
        ),
        IPV4_RE,
        "[IP]",
    )
    return t.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(IPV4_RE)).cast("long").alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


# SQL strings: single-quoted literals pass backslashes through untouched in
# both engines; DuckDB regexp_replace needs the 'g' flag to match Spark's
# replace-all default.
_PII_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@test.org now'
            ELSE '' END
    || CASE WHEN doc_id % 4 = 0
            THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' node 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                 || CAST(doc_id % 100 AS VARCHAR) || '.7'
            ELSE '' END AS t
  FROM documents
),
c AS (
  SELECT doc_id, t,
    regexp_replace(
      regexp_replace(
        regexp_replace(t, '{EMAIL_RE}', '[EMAIL]', 'g'),
        '{PHONE_RE}', '[PHONE]', 'g'),
      '{IPV4_RE}', '[IP]', 'g') AS clean
  FROM t
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  CAST(len(regexp_extract_all(t, '{IPV4_RE}')) AS BIGINT) AS n_ips,
  CAST(length(clean) AS BIGINT) AS clean_len,
  md5(clean) AS clean_md5
FROM c
"""


# --------------------------------------------------------------------------
# dup_ngram_spans
# --------------------------------------------------------------------------

_DUP_N = 3  # word n-gram size
_DUP_MIN_COUNT = 2  # "duplicated" = appears this many times corpus-wide

_TOKED_SQL = """
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
"""


def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    base = toked.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    # cached: the exploded n-gram frame feeds the dup-gram model AND the
    # hits join — unpinned, the corpus tokenize+ngram+posexplode runs
    # twice
    ngs = toked.select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("toks"), _DUP_N)).alias("pos", "ng"),
    ).cache()
    dup = (
        ngs.groupBy("ng")
        .agg(F.count(F.lit(1)).alias("ng_count"))
        .filter(F.col("ng_count") >= _DUP_MIN_COUNT)
        .select("ng")
    )
    hits = ngs.join(dup, "ng")  # at 100 TB: key on xxhash64(ng)
    # coverage via ONE plain groupBy + array expressions (r7, guide
    # §2.4): the previous form exploded every hit into its _DUP_N
    # covered positions (3x rows) and then aggregated TWO
    # count_distincts, whose multi-distinct rewrite Expands the exploded
    # frame 2x more — a 6x row multiplier into the shuffle. (doc_id,
    # pos) is unique in ngs (posexplode emits each position once), so
    # n_dup_ngrams is a plain size(collect_list) and the covered-token
    # count is the size of the deduped union of per-hit [pos, pos+N-1]
    # windows, computed per doc from the (small) position array.
    cov = (
        hits.groupBy("doc_id")
        .agg(F.collect_list("pos").alias("__ps"))
        .select(
            "doc_id",
            F.size("__ps").cast("long").alias("n_dup_ngrams"),
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.transform(
                            "__ps",
                            lambda p: F.sequence(
                                p, p + F.lit(_DUP_N - 1)
                            ),
                        )
                    )
                )
            ).cast("long").alias("n_covered_tokens"),
        )
    )
    return (
        base.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_ngrams"), F.lit(0)).cast("long").alias(
                "n_dup_ngrams"
            ),
            F.coalesce(F.col("n_covered_tokens"), F.lit(0)).cast("long").alias(
                "n_covered_tokens"
            ),
            F.round(
                F.coalesce(F.col("n_covered_tokens"), F.lit(0))
                / F.col("n_tokens"),
                6,
            ).alias("dup_token_fraction"),
        )
    )


_DUP_NGRAM_ORACLE = f"""
WITH toked AS ({_TOKED_SQL}),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM toked WHERE len(toks) > 0),
ngs AS (
  SELECT doc_id, s - 1 AS pos,
         array_to_string(toks[s : s + {_DUP_N - 1}], ' ') AS ng
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, n - {_DUP_N - 1})) AS s
        FROM nz)
),
dup AS (SELECT ng FROM ngs GROUP BY ng HAVING count(*) >= {_DUP_MIN_COUNT}),
hits AS (SELECT g.doc_id, g.pos FROM ngs g JOIN dup USING (ng)),
cov AS (
  SELECT doc_id,
         CAST(count(DISTINCT pos) AS BIGINT) AS n_dup_ngrams,
         CAST(count(DISTINCT cp) AS BIGINT) AS n_covered_tokens
  FROM (SELECT doc_id, pos, unnest(generate_series(pos, pos + {_DUP_N - 1})) AS cp
        FROM hits)
  GROUP BY doc_id
)
SELECT nz.doc_id, CAST(nz.n AS BIGINT) AS n_tokens,
       coalesce(cov.n_dup_ngrams, 0) AS n_dup_ngrams,
       coalesce(cov.n_covered_tokens, 0) AS n_covered_tokens,
       round(coalesce(cov.n_covered_tokens, 0) / CAST(nz.n AS DOUBLE), 6)
         AS dup_token_fraction
FROM nz LEFT JOIN cov USING (doc_id)
"""


# --------------------------------------------------------------------------
# winnowing_fingerprint
# --------------------------------------------------------------------------

_WIN_K = 4  # tokens per shingle
_WIN_W = 4  # shingle hashes per winnowing window
_EMPTY_MD5 = "d41d8cd98f00b204e9800998ecf8427e"


def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every window of ``_WIN_W`` consecutive shingle hashes contributes
    its minimum; selections are unioned per document (window starts are
    rows with ``pos <= n_kgrams - w``, plus ``pos = 0`` so short documents
    still fingerprint off their single clipped window). md5-hex-prefix
    hashes are unique per doc in practice, so ``min`` needs no positional
    tie-break and the SQL twin replays the selection exactly."""
    # The winnowing selection is strictly PER-DOCUMENT, so the whole
    # program runs as array expressions inside one scan (r7, guide
    # §2.4): the previous form posexploded every k-gram, shuffled the
    # exploded corpus into a per-doc window sort, then paid a distinct
    # shuffle, a groupBy shuffle and a join back to the doc frame — four
    # exchanges of corpus-derived rows for a computation whose state
    # never leaves the document. Equivalences: array_min(slice(hs,
    # p+1, w)) over strings is the same lexicographic min the rowsBetween
    # window computed (slice clips at the array end exactly like the
    # window frame at partition end); array_distinct replaces the
    # (doc_id, winmin) DISTINCT; docs with 0 < tokens < _WIN_K have an
    # empty hash array and fall out as n_fingerprints=0 with
    # md5('') == _EMPTY_MD5 — the rows the old left join coalesced.
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    hashed = toked.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.transform(
            word_ngrams(F.col("toks"), _WIN_K),
            lambda ng: F.substring(F.md5(ng), 1, 8),
        ).alias("__hs"),
    )
    sel = hashed.select(
        "doc_id",
        "n_tokens",
        # CASE guard: sequence(0, -1) would descend — short docs skip
        # straight to the empty selection
        F.expr(
            "CASE WHEN size(__hs) >= 1 THEN array_distinct(transform("
            "filter(sequence(0, size(__hs) - 1), "
            f"p -> p = 0 OR p <= size(__hs) - {_WIN_W}), "
            f"p -> array_min(slice(__hs, p + 1, {_WIN_W}))))"
            " ELSE cast(array() as array<string>) END"
        ).alias("__sel"),
    )
    return sel.select(
        "doc_id",
        "n_tokens",
        F.size("__sel").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort("__sel"), "")).alias("fp_digest"),
    )


_WINNOW_ORACLE = f"""
WITH toked AS ({_TOKED_SQL}),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM toked WHERE len(toks) > 0),
kg AS (
  SELECT doc_id, n - {_WIN_K - 1} AS nkg, s - 1 AS pos,
         substr(md5(array_to_string(toks[s : s + {_WIN_K - 1}], ' ')), 1, 8) AS h
  FROM (SELECT doc_id, toks, n,
               unnest(generate_series(1, n - {_WIN_K - 1})) AS s
        FROM nz)
),
wm AS (
  SELECT doc_id, nkg, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
           AS winmin
  FROM kg
),
sel AS (
  SELECT DISTINCT doc_id, winmin
  FROM wm WHERE pos = 0 OR pos <= nkg - {_WIN_W}
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
         md5(string_agg(winmin, '' ORDER BY winmin)) AS fp_digest
  FROM sel GROUP BY doc_id
)
SELECT nz.doc_id, CAST(nz.n AS BIGINT) AS n_tokens,
       coalesce(agg.n_fingerprints, 0) AS n_fingerprints,
       coalesce(agg.fp_digest, '{_EMPTY_MD5}') AS fp_digest
FROM nz LEFT JOIN agg USING (doc_id)
"""


# --------------------------------------------------------------------------
# mixture_sampling
# --------------------------------------------------------------------------

#: Target mixture weights (sources absent from the map weigh 1.0). The
#: boosted sources clamp to rate 1.0 at a 0.5 budget — exercising both the
#: acceptance-threshold path and the keep-all path.
MIX_WEIGHTS: dict[str, float] = {
    "src0": 3.0,
    "src1": 3.0,
    "src2": 3.0,
    "src3": 3.0,
}
_MIX_DEFAULT_W = 1.0
_MIX_N_SOURCES = 20  # src0..src19 in the generated corpus
_MIX_WSUM = sum(
    MIX_WEIGHTS.get(f"src{i}", _MIX_DEFAULT_W) for i in range(_MIX_N_SOURCES)
)
_MIX_BUDGET_FRAC = 0.5  # exactly representable: budget arithmetic is exact


def mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass deterministic mixture sampler. Pass 1 is a 20-row
    aggregate (per-source token totals + the global total) that computes
    acceptance rates; pass 2 broadcasts the rates back and filters with
    the md5-keyed rule, so the big side is scanned once, never shuffled.
    All rate arithmetic is written identically to the SQL twin (same
    operation order) — IEEE doubles make it bit-equal cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", token_count("text").cast("long").alias("n_tokens")
    )
    # src_tokens > 0 guard: a source whose docs all tokenize empty would
    # hit ANSI DIVIDE_BY_ZERO in the rate division on Spark while the
    # DuckDB twin's NULL silently dropped it (r6 session-3 review) —
    # make the drop explicit and identical on both engines.
    # cached: the 20-row source table feeds BOTH the total and the rate
    # projection — uncached, each consumer re-ran the corpus-sized
    # tokenizing aggregate, so "big side scanned once" held per consumer
    # but the plan still tokenized the corpus 3× per run (r7 plan sweep)
    src = (
        t.groupBy("source")
        .agg(F.sum("n_tokens").alias("src_tokens"))
        .filter(F.col("src_tokens") > 0)
        .cache()
    )
    # total from the 20-row src aggregate, NOT a second corpus aggregate:
    # integer sum-of-sums is bit-identical and saves a full tokenizing
    # scan (the docstring's "big side scanned once" now actually holds).
    tot = src.agg(F.sum("src_tokens").alias("total_tokens"))

    w = F.lit(_MIX_DEFAULT_W)
    for s, wt in MIX_WEIGHTS.items():
        w = F.when(F.col("source") == s, F.lit(wt)).otherwise(w)
    budget = F.floor(F.col("total_tokens") * F.lit(_MIX_BUDGET_FRAC)).cast(
        "double"
    )
    rate = F.least(
        F.lit(1.0),
        ((budget * w) / F.lit(_MIX_WSUM)) / F.col("src_tokens").cast("double"),
    )
    rates = src.crossJoin(F.broadcast(tot)).select(
        "source",
        rate.alias("rate"),
        F.format_string(
            "%04x", F.floor(rate * F.lit(65536.0)).cast("long")
        ).alias("thr_hex"),
    )
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return (
        t.join(F.broadcast(rates), "source")
        .where((F.col("rate") >= 1.0) | (key < F.col("thr_hex")))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            key.alias("sample_key"),
            F.round(F.col("rate"), 6).alias("rate"),
        )
    )


def _mixture_oracle() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {w!r}" for s, w in MIX_WEIGHTS.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
src AS (SELECT source, sum(n_tokens) AS src_tokens FROM t
        GROUP BY source HAVING sum(n_tokens) > 0),
tot AS (SELECT sum(src_tokens) AS total_tokens FROM src),
rates AS (
  SELECT source,
    least(1.0,
          ((CAST(floor(total_tokens * {_MIX_BUDGET_FRAC}) AS DOUBLE)
            * (CASE {cases} ELSE {_MIX_DEFAULT_W!r} END))
           / {_MIX_WSUM!r}) / CAST(src_tokens AS DOUBLE)) AS rate
  FROM src CROSS JOIN tot
),
r2 AS (
  SELECT source, rate,
         printf('%04x', CAST(floor(rate * 65536.0) AS BIGINT)) AS thr_hex
  FROM rates
)
SELECT t.doc_id, t.source, t.n_tokens,
       substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) AS sample_key,
       round(r2.rate, 6) AS rate
FROM t JOIN r2 USING (source)
WHERE r2.rate >= 1.0
   OR substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) < r2.thr_hex
"""


# --------------------------------------------------------------------------
# latest_state_compaction
# --------------------------------------------------------------------------


def latest_state_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins compaction in ONE aggregation: ``max(struct(ts_us,
    event_id, ...))`` carries the newest event's payload through the same
    shuffle that computes the lifetime aggregates (struct comparison is
    lexicographic; ``event_id`` is unique, so later fields never decide).
    This is the plan you want for CDC upsert folding at scale — no second
    window pass over the log."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        # raw epoch-nanos int64 → integer µs (the engine's time currency)
        F.expr("ts div 1000").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    g = ev.groupBy("user_id").agg(
        F.max(
            F.struct("ts_us", "event_id", "event_type", "value_cents")
        ).alias("last"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value_cents").alias("total_value_cents"),
    )
    return g.select(
        "user_id",
        F.col("last.ts_us").alias("last_ts_us"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value_cents").alias("last_value_cents"),
        "n_events",
        "total_value_cents",
    )


_COMPACTION_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events
),
r AS (
  SELECT *, row_number() OVER (
           PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM e
),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(value_cents) AS BIGINT) AS total_value_cents
  FROM e GROUP BY user_id
)
SELECT r.user_id, r.ts_us AS last_ts_us, r.event_id AS last_event_id,
       r.event_type AS last_event_type, r.value_cents AS last_value_cents,
       a.n_events, a.total_value_cents
FROM r JOIN a USING (user_id) WHERE r.rn = 1
"""


QUERIES = [
    QueryDef(
        "pii_redaction",
        pii_redaction,
        _PII_ORACLE,
        "regex PII detect+scrub (emails/phones/IPs), injected "
        "deterministically so redaction is oracle-checked end-to-end",
    ),
    QueryDef(
        "dup_ngram_spans",
        dup_ngram_spans,
        _DUP_NGRAM_ORACLE,
        "Gopher-style duplicate n-gram coverage per document",
    ),
    QueryDef(
        "winnowing_fingerprint",
        winnowing_fingerprint,
        _WINNOW_ORACLE,
        "MOSS winnowing fingerprint selection (windowed shingle-hash min)",
    ),
    QueryDef(
        "mixture_sampling",
        mixture_sampling,
        _mixture_oracle(),
        "deterministic source-mixture sampling toward target weights",
    ),
    QueryDef(
        "latest_state_compaction",
        latest_state_compaction,
        _COMPACTION_ORACLE,
        "CDC latest-wins compaction via single-pass max(struct)",
    ),
]


# --------------------------------------------------------------------------
# curation_pipeline — the composed end-to-end corpus curation flow
# --------------------------------------------------------------------------

#: Post-dedup per-predicted-language sampling rates (16ths — exact 4-hex
#: thresholds on the md5 key space, as in ``workloads/sampling.py``).
PIPE_RATES: dict[str, float] = {
    "en": 0.5,
    "de": 0.75,
    "es": 0.75,
    "fr": 0.75,
    "und": 0.25,
}


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation flow composed into ONE Spark plan: quality gate →
    language ID → exact dedup (canonical = min doc_id per fingerprint) →
    deterministic per-language sampling → per-(lang, source) corpus stats.

    Plan shape (asserted in ``tests/test_plan_shapes.py``): a single scan
    of ``documents`` — every per-document signal (tokens, quality ratios,
    language scores, fingerprint, sample key) is computed in one projection
    — then exactly two shuffles: the dedup window on ``fp`` and the final
    group-by. The quality filter runs BEFORE the dedup shuffle, so rejected
    documents never shuffle. At 100 TB that ordering is most of the cost
    model; every stage reuses an operator already oracle-checked on its own
    (``text_quality``, ``lang_id``, ``dedup_exact``, ``sample_stratified``).
    """
    from feature_generation_benchmark_spark.functions.textfns import (
        fingerprint_md5,
        lang_predict,
    )
    from feature_generation_benchmark_spark.workloads.text import (
        _ALL_STOPWORDS,
        QUALITY_BOUNDS,
    )

    docs = load_table(spark, sf_dir, "documents")
    # zero-token docs (empty/punctuation-only text) can never pass the
    # min_tokens=20 gate, so filter them BEFORE the ratio projection —
    # under Spark 4's default ANSI mode the unguarded `x / n_tokens`
    # divisions abort the whole query with DIVIDE_BY_ZERO on the first
    # such doc (r6 session-3 review, repro-confirmed; the DuckDB twin's
    # double division yields inf and the bounds filter drops it, so the
    # result set is unchanged).
    t = docs.select(
        "doc_id", "source", "text", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    vocab = F.array(*[F.lit(w) for w in _ALL_STOPWORDS])
    n_tokens = F.size("toks").cast("long")
    n_chars = F.length("text").cast("long")
    token_len_sum = F.aggregate(
        F.transform("toks", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    stop_hits = F.size(F.filter("toks", lambda x: F.array_contains(vocab, x)))
    n_distinct = F.size(F.array_distinct("toks"))
    n_digits = F.size(F.regexp_extract_all(F.col("text"), F.lit("[0-9]"), F.lit(0)))
    b = QUALITY_BOUNDS
    # when()-guarded ratios (the text_quality pattern), NOT a bare
    # filter-then-divide: Catalyst collapses the zero-token filter into
    # the downstream quality predicate and common-subexpression
    # elimination evaluates the division EAGERLY inside the merged
    # predicate, before the guard can short-circuit — observed as a
    # DIVIDE_BY_ZERO raised from inside a codegen'd SpecificPredicate.
    # Conditional (when) scope is exempt from eager CSE.
    has_toks = n_tokens > 0
    has_chars = n_chars > 0
    sig = t.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.when(has_toks, token_len_sum / n_tokens).alias("avg_token_len"),
        F.when(has_toks, stop_hits / n_tokens).alias("stopword_ratio"),
        F.when(has_toks, F.lit(1.0) - n_distinct / n_tokens).alias(
            "dup_token_ratio"
        ),
        F.when(has_chars, n_digits / n_chars).alias("digit_char_ratio"),
        lang_predict(F.col("toks")).alias("lang_pred"),
        fingerprint_md5("text").alias("fp"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("skey"),
    )
    gated = sig.filter(
        F.col("n_tokens").between(b["min_tokens"], b["max_tokens"])
        & F.col("avg_token_len").between(
            b["min_avg_token_len"], b["max_avg_token_len"]
        )
        & (F.col("stopword_ratio") >= b["min_stopword_ratio"])
        & (F.col("dup_token_ratio") <= b["max_dup_token_ratio"])
        & (F.col("digit_char_ratio") <= b["max_digit_char_ratio"])
    )
    w = Window.partitionBy("fp")
    deduped = gated.withColumn("mn", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("mn")
    )
    from feature_generation_benchmark_spark.workloads.sampling import (
        _hex_threshold,
    )

    thr = F.lit(None).cast("string")
    for lang, rate in PIPE_RATES.items():
        thr = F.when(
            F.col("lang_pred") == lang, F.lit(_hex_threshold(rate))
        ).otherwise(thr)
    sampled = deduped.filter(F.col("skey") < thr)
    return sampled.groupBy("lang_pred", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
    )


def _pipeline_oracle() -> str:
    from feature_generation_benchmark_spark.functions.textfns import (
        LANG_STOPWORDS,
    )
    from feature_generation_benchmark_spark.workloads.sampling import (
        _hex_threshold,
    )
    from feature_generation_benchmark_spark.workloads.text import (
        _ALL_STOPWORDS,
        QUALITY_BOUNDS,
    )

    b = QUALITY_BOUNDS
    vocab = ", ".join(f"'{w}'" for w in _ALL_STOPWORDS)
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
    case += f"ELSE '{langs[-1]}' END"
    rate_case = " ".join(
        f"WHEN '{lang}' THEN '{_hex_threshold(rate)}'"
        for lang, rate in PIPE_RATES.items()
    )
    return f"""
WITH t AS (
  SELECT doc_id, source, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
sig AS (
  SELECT doc_id, source, text,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
      / len(toks) AS avg_token_len,
    CAST(len(list_filter(toks, x -> list_contains([{vocab}], x)))
      AS DOUBLE) / len(toks) AS stopword_ratio,
    1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
      AS dup_token_ratio,
    CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / length(text)
      AS digit_char_ratio,
    {", ".join(score_items)}
  FROM t
),
gated AS (
  SELECT doc_id, source, n_tokens, {case} AS lang_pred,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS skey
  FROM sig
  WHERE (n_tokens BETWEEN {b["min_tokens"]} AND {b["max_tokens"]})
    AND (avg_token_len BETWEEN {b["min_avg_token_len"]}
         AND {b["max_avg_token_len"]})
    AND stopword_ratio >= {b["min_stopword_ratio"]}
    AND dup_token_ratio <= {b["max_dup_token_ratio"]}
    AND digit_char_ratio <= {b["max_digit_char_ratio"]}
),
deduped AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fp) AS mn FROM gated)
  WHERE doc_id = mn
),
sampled AS (
  SELECT * FROM deduped
  WHERE skey < CASE lang_pred {rate_case} END
)
SELECT lang_pred, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
FROM sampled GROUP BY lang_pred, source
"""


QUERIES.append(
    QueryDef(
        "curation_pipeline",
        curation_pipeline,
        _pipeline_oracle(),
        "end-to-end curation: quality gate -> lang ID -> exact dedup -> "
        "deterministic sampling -> corpus stats, one scan + two shuffles",
    )
)


# --------------------------------------------------------------------------
# Quality-stratified curriculum mixture — the step after quality scoring
# and before mixing: bin every document into per-source quality quartiles
# (exact interpolated percentile boundaries on an integer quality proxy),
# then keep the top quartile fully and deterministically downsample lower
# quartiles at fixed rates (md5-key threshold — the mixture_sampling
# idiom with CONSTANT per-bin rates, so the hex thresholds are literals).
# One scan computes scores; the 4-row-per-source boundary model is
# broadcast back; output is the (source, quartile) keep report.
# --------------------------------------------------------------------------

#: per-quartile keep rates, quartile 0 (worst) .. 3 (best); md5 4-hex
#: prefix thresholds = rate * 0x10000
_STRAT_THR = ("2000", "4000", "8000", None)  # 1/8, 1/4, 1/2, keep-all


def quality_stratified_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # zero-token docs (empty/punctuation-only text) would divide by zero
    # in the quality score under ANSI mode — they carry no trainable
    # tokens, so excluding them IS the curation semantics (mirrored in
    # the oracle's WHERE). The token array is STAGED in its own
    # projection via the canonical textfns.tokens() (r6 session-3
    # review: the previous inline split/filter strings re-tokenized each
    # row 4× — the text_quality staging rule — and hand-copied the
    # canonical tokenization instead of reusing it).
    t = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    scored = t.select(
        "doc_id",
        "source",
        F.size("toks").cast("long").alias("n_tokens"),
        # integer quality proxy: distinct-token permille
        F.expr(
            "CAST(size(array_distinct(toks)) * 1000 AS BIGINT)"
            " div size(toks)"
        ).alias("q_score"),
    )
    bounds = scored.groupBy("source").agg(
        F.percentile("q_score", 0.25).alias("b1"),
        F.percentile("q_score", 0.5).alias("b2"),
        F.percentile("q_score", 0.75).alias("b3"),
    )
    qbin = (
        F.when(F.col("q_score") <= F.col("b1"), F.lit(0))
        .when(F.col("q_score") <= F.col("b2"), F.lit(1))
        .when(F.col("q_score") <= F.col("b3"), F.lit(2))
        .otherwise(F.lit(3))
    )
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.lit(None).cast("string")
    for q, t in enumerate(_STRAT_THR):
        if t is not None:
            thr = F.when(F.col("qbin") == q, F.lit(t)).otherwise(thr)
    binned = (
        scored.join(F.broadcast(bounds), "source")
        .select(
            "source",
            "n_tokens",
            qbin.alias("qbin"),
            key.alias("k"),
        )
        .select(
            "source",
            "n_tokens",
            "qbin",
            (thr.isNull() | (F.col("k") < thr)).cast("long").alias("kept"),
        )
    )
    return binned.groupBy("source", "qbin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        F.sum(F.col("kept") * F.col("n_tokens")).alias("kept_tokens"),
    )


_STRAT_ORACLE = """
WITH scored AS (
  SELECT doc_id, source,
    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         x -> x <> '')) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(list_filter(string_split_regex(lower(text),
         '[^a-z0-9]+'), x -> x <> ''))) * 1000 AS BIGINT)
      // len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         x -> x <> '')) AS q_score
  FROM documents
  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> '')) > 0
),
bounds AS (
  SELECT source,
    quantile_cont(q_score, 0.25) AS b1,
    quantile_cont(q_score, 0.5)  AS b2,
    quantile_cont(q_score, 0.75) AS b3
  FROM scored GROUP BY source
),
binned AS (
  SELECT scored.source, n_tokens,
    CASE WHEN q_score <= b1 THEN 0
         WHEN q_score <= b2 THEN 1
         WHEN q_score <= b3 THEN 2
         ELSE 3 END AS qbin,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k
  FROM scored JOIN bounds USING (source)
),
kept AS (
  SELECT source, n_tokens, qbin,
    CASE WHEN qbin = 3 THEN 1
         WHEN qbin = 2 AND k < '8000' THEN 1
         WHEN qbin = 1 AND k < '4000' THEN 1
         WHEN qbin = 0 AND k < '2000' THEN 1
         ELSE 0 END AS kept
  FROM binned
)
SELECT source, CAST(qbin AS INT) AS qbin,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(kept) AS BIGINT) AS n_kept,
  CAST(sum(kept * n_tokens) AS BIGINT) AS kept_tokens
FROM kept GROUP BY source, qbin
"""

QUERIES.append(
    QueryDef(
        "quality_stratified_mixture",
        quality_stratified_mixture,
        _STRAT_ORACLE,
        "quality-quartile curriculum sampling: per-source exact "
        "percentile bins, constant md5-threshold keep rates, one scan",
    )
)


# ---------------------------------------------------------------------------
# doc_repetition — within-document repetition signals, zero-shuffle (r5)
# ---------------------------------------------------------------------------


def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition rollup per source: the fraction of a
    doc's bigram OCCURRENCES whose bigram repeats inside the same doc
    (the Gopher dup-n-gram family, every duplicate counted — the sibling
    of ``top_ngram_coverage``'s single-most-frequent-gram signal), plus
    type-token ratio.

    Plan: the duplicate-occurrence count is computed entirely ROW-LOCALLY
    — sort the doc's bigram array once, then count elements that differ
    from BOTH sorted neighbors (unique occurrences); duplicates = total −
    unique. O(n log n) per doc, zero joins, zero explode: the only
    exchange is the final ≤|sources| combining aggregate of integer sums.
    (``top_ngram_coverage`` explodes grams through a doc_id-keyed shuffle;
    this shape removes even that.) Ratios leave integer space only at the
    final per-source division, floor-quantized e6 on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    # MATERIALIZE the sorted bigram array as a column before the
    # element-wise pass: a lambda that references the array_sort(...)
    # EXPRESSION re-evaluates the sort per element (no common-subexpr
    # elimination inside higher-order functions — measured 76 s at
    # sf0.1 vs 0.8 s with the staged column)
    staged = docs.select(
        "source",
        tokens(F.col("text")).alias("toks"),
    ).select(
        "source",
        F.size("toks").cast("long").alias("n_toks"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        F.array_sort(word_ngrams(F.col("toks"), 2)).alias("sb"),
    )
    sb = F.col("sb")
    n_bi = F.size(sb)
    # unique occurrences: sorted neighbors differ on both sides
    once = F.when(n_bi > 0, F.size(F.filter(
        F.sequence(F.lit(1), n_bi),
        lambda i: (
            (i == F.lit(1))
            | (F.element_at(sb, i) != F.element_at(sb, i - F.lit(1)))
        ) & (
            (i == n_bi)
            | (F.element_at(sb, i) != F.element_at(sb, i + F.lit(1)))
        ),
    ))).otherwise(F.lit(0))
    per_doc = staged.select(
        "source",
        "n_toks",
        "n_types",
        n_bi.cast("long").alias("n_bi"),
        (n_bi - once).cast("long").alias("dup_occ"),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bi").alias("sum_bi"),
        F.sum("dup_occ").alias("sum_dup"),
        F.sum("n_toks").alias("sum_toks"),
        F.sum("n_types").alias("sum_types"),
        F.max(
            F.expr(
                "CASE WHEN n_bi > 0 THEN (1000000 * dup_occ) div n_bi END"
            )
        ).alias("_maxdup_raw"),
    )
    # NULL (not 0/0) when a source has no bigrams/tokens at all —
    # ANSI mode raises on integer division by zero (hypothesis-net find)
    return agg.select(
        "source",
        "n_docs",
        F.expr(
            "CASE WHEN sum_bi > 0 THEN (1000000 * sum_dup) div sum_bi END"
        ).alias("dup_bigram_frac_e6"),
        F.expr(
            "CASE WHEN sum_toks > 0 "
            "THEN (1000000 * sum_types) div sum_toks END"
        ).alias("ttr_e6"),
        F.col("_maxdup_raw").alias("max_doc_dup_frac_e6"),
    ).orderBy("source")


_REPETITION_ORACLE = """
WITH t AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT source, rowid AS rid, toks,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_bi
  FROM (SELECT source, toks, row_number() OVER () AS rowid FROM t)
),
pairs AS (
  SELECT rid, toks[u.i] || ' ' || toks[u.i + 1] AS bigram
  FROM bg, unnest(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
),
dupocc AS (
  SELECT rid, CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
              AS dup_occ
  FROM (SELECT rid, bigram, count(*) AS c FROM pairs GROUP BY rid, bigram)
  GROUP BY rid
),
per_doc AS (
  SELECT bg.source,
         CAST(len(bg.toks) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(bg.toks)) AS BIGINT) AS n_types,
         CAST(bg.n_bi AS BIGINT) AS n_bi,
         CAST(coalesce(d.dup_occ, 0) AS BIGINT) AS dup_occ
  FROM bg LEFT JOIN dupocc d ON d.rid = bg.rid
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(CASE WHEN sum(n_bi) > 0
                 THEN (1000000 * sum(dup_occ)) // sum(n_bi) END AS BIGINT)
         AS dup_bigram_frac_e6,
       CAST(CASE WHEN sum(n_toks) > 0
                 THEN (1000000 * sum(n_types)) // sum(n_toks) END AS BIGINT)
         AS ttr_e6,
       CAST(max(CASE WHEN n_bi > 0
                     THEN (1000000 * dup_occ) // n_bi END) AS BIGINT)
         AS max_doc_dup_frac_e6
FROM per_doc GROUP BY source ORDER BY source
"""

QUERIES.append(
    QueryDef(
        "doc_repetition",
        doc_repetition,
        _REPETITION_ORACLE,
        "within-doc duplicate-bigram occurrence fraction + type-token "
        "ratio per source; dup counting is row-local on a sorted bigram "
        "array (zero joins/explodes — only exchange is the ≤|sources| agg)",
    )
)
