"""Deduplication workload on ``documents`` / ``embeddings`` (extension
operators: exact, n-gram Jaccard, MinHash-LSH, SimHash, embedding cosine).

Exact dedup, pairwise Jaccard (naive AND AllPairs-prefix-filtered) and
cosine near-dup are oracle-checked. The xxhash64 production paths for
MinHash-LSH and SimHash have no DuckDB twin (rows-only driver checks plus
planted-duplicate ground-truth tests in ``tests/test_dedup.py``), but each
ships an md5-hash-family twin (``dedup_minhash_md5``,
``dedup_simhash_md5``) that runs the IDENTICAL pipeline shape under a
full cross-engine value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.functions.textfns import fingerprint_md5
from feature_generation_benchmark_spark.operators.clustering import (
    connected_components,
)
from feature_generation_benchmark_spark.operators.dedup import (
    bloom_decontamination_flags,
    decontamination_flags,
    exact_dedup,
    minhash_dedup_pairs,
    minhash_pairs,
    ngram_jaccard_pairs,
    shingle_arrays,
    simhash_bits,
    simhash_dup_pairs,
    simhash_pairs,
)
from feature_generation_benchmark_spark.operators.similarity import (
    cosine_dup_pairs_blocked,
)
from feature_generation_benchmark_spark.sources.testdata import load_table
from feature_generation_benchmark_spark.workloads import QueryDef

_JACCARD_T = 0.05
_COS_T = 0.4


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_EXACT_ORACLE = """
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
           AS fingerprint
  FROM documents
)
SELECT fingerprint, min(doc_id) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_duplicates
FROM fp GROUP BY fingerprint
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Default-named entry serves the SCALE-SAFE plan (r5 verdict #2):
    AllPairs/PPJoin prefix filtering is on, so a user who picks the
    obvious name gets the plan that survives a Zipfian corpus. The
    un-pruned inverted-index baseline lives on as
    ``dedup_ngram_jaccard_naive``."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=_JACCARD_T,
        prefix_filter=True,
    )


def dedup_ngram_jaccard_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix_filter off: one-pass inverted-index self-join. Quadratic in
    # hot-shingle document frequency, so NOT the at-scale path — kept as
    # the labeled small-corpus baseline (same oracle, same output).
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=_JACCARD_T,
        prefix_filter=False,
    )


def dedup_jaccard_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-increment dedup: docs with even ``doc_id`` play the NEW
    batch; the plan generates only new×all candidates (prefix-filtered
    on both sides) and never re-verifies old×old pairs — the shape that
    makes continuous dedup affordable at 100 TB, where re-running the
    full pairwise pass per increment is a non-starter. Output = exactly
    the near-dup pairs with ≥1 new side; the oracle recomputes the FULL
    exact pair set and filters to new-involving pairs, so the gate
    proves the incremental plan loses nothing vs the batch recompute
    (the same contract ``feat_incremental`` pins for features)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    return ngram_jaccard_pairs(
        docs,
        "doc_id",
        "text",
        n=3,
        threshold=_JACCARD_T,
        prefix_filter=True,
        new_ids=new,
    )


def _jaccard_ctes(src: str = "documents") -> str:
    return f"""t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
      AS toks
  FROM {src}
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3 THEN
      list_transform(range(1, len(toks) - 1),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END)) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


_JACCARD_CTES = _jaccard_ctes()


_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_JACCARD_T}
"""


_JACCARD_INCR_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_JACCARD_T}
  AND (id_a % 2 = 0 OR id_b % 2 = 0)
"""


#: Boilerplate appended to even-id docs to manufacture HOT shingles — the
#: Zipfian regime the AllPairs prefix filter exists for. Deterministic and
#: mirrored verbatim in the oracle.
_BOILER = " terms and conditions apply to all orders placed today"
#: High enough that the boilerplate's ~7 shared shingles alone can't pair
#: two typical docs — the hot shingles stress the candidate join (what the
#: prefix filter prunes) without exploding the verified-pair output.
_PREFIX_T = 0.3


def _skewed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.concat(F.col("text"), F.lit(_BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AllPairs prefix-filtered path (``prefix_filter=True``) on a
    deliberately skewed corpus — hot boilerplate shingles are exactly what
    the prefix pass prunes from the candidate join at scale. Same exact
    semantics as ``dedup_ngram_jaccard``; this entry keeps the scale path
    itself under the cross-engine oracle gate."""
    return ngram_jaccard_pairs(
        _skewed_docs(spark, sf_dir),
        "doc_id",
        "text",
        n=3,
        threshold=_PREFIX_T,
        prefix_filter=True,
    )


_SKEW_SRC = (
    "(SELECT doc_id, CASE WHEN doc_id % 2 = 0 "
    f"THEN text || '{_BOILER}' ELSE text END AS text FROM documents) s"
)

_JACCARD_PREFIX_ORACLE = f"""
WITH {_jaccard_ctes(_SKEW_SRC)}
SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_PREFIX_T}
"""


def decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hold out a deterministic ~6% of documents (md5 key split) as the
    "benchmark" set and flag the remaining corpus docs sharing any word
    4-gram with it."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return decontamination_flags(
        docs.where(key >= "1000"),
        docs.where(key < "1000"),
        "doc_id",
        "text",
        n=4,
    )


_DECONTAM_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
      AS toks
  FROM documents
),
csh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 4 THEN
      list_transform(range(1, len(toks) - 2),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
    ELSE [] END)) AS shingle
  FROM keyed WHERE k >= '1000'
),
esh AS (
  SELECT DISTINCT unnest(list_distinct(
    CASE WHEN len(toks) >= 4 THEN
      list_transform(range(1, len(toks) - 2),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
    ELSE [] END)) AS shingle
  FROM keyed WHERE k < '1000'
),
hits AS (
  SELECT c.doc_id, count(*) AS n
  FROM csh c JOIN esh e ON c.shingle = e.shingle
  GROUP BY c.doc_id
)
SELECT keyed.doc_id,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_shingles,
  coalesce(hits.n, 0) > 0 AS contaminated
FROM keyed LEFT JOIN hits ON hits.doc_id = keyed.doc_id
WHERE keyed.k >= '1000'
"""


def decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same corpus/eval split as ``decontamination``, but membership goes
    through a deterministic blocked Bloom filter (k=2 md5-derived bucket
    arrays of 65,536 buckets) instead of broadcasting the full eval
    shingle strings — the compact-filter posture for eval sets whose
    distinct shingles are themselves wide. Sized so real false positives
    occur on this corpus (~fill² ≈ 0.04% per shingle) while false
    negatives are impossible by construction; both properties are pinned
    in tests and the bucketing is bit-identical in DuckDB, so the entry is
    fully hash-gated."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return bloom_decontamination_flags(
        docs.where(key >= "1000"),
        docs.where(key < "1000"),
        "doc_id",
        "text",
        n=4,
        k=2,
        hex_chars=4,
    )


_BLOOM_DECONTAM_ORACLE = """
WITH keyed AS (
  SELECT doc_id,
    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
      AS toks
  FROM documents
),
csh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 4 THEN
      list_transform(range(1, len(toks) - 2),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
    ELSE [] END)) AS shingle
  FROM keyed WHERE k >= '1000'
),
esh AS (
  SELECT DISTINCT unnest(list_distinct(
    CASE WHEN len(toks) >= 4 THEN
      list_transform(range(1, len(toks) - 2),
        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
    ELSE [] END)) AS shingle
  FROM keyed WHERE k < '1000'
),
ii AS (SELECT unnest(generate_series(0, 1)) AS i),
epos AS (
  SELECT DISTINCT i,
    substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 4) AS pos
  FROM esh CROSS JOIN ii
),
cpos AS (
  SELECT doc_id, shingle, i,
    substr(md5(CAST(i AS VARCHAR) || ':' || shingle), 1, 4) AS pos
  FROM csh CROSS JOIN ii
),
positive AS (
  SELECT doc_id, shingle
  FROM cpos JOIN epos USING (i, pos)
  GROUP BY doc_id, shingle
  HAVING count(*) = 2
),
hits AS (SELECT doc_id, count(*) AS n FROM positive GROUP BY doc_id)
SELECT keyed.doc_id,
  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_bloom_hits,
  coalesce(hits.n, 0) > 0 AS contaminated_bloom
FROM keyed LEFT JOIN hits ON hits.doc_id = keyed.doc_id
WHERE keyed.k >= '1000'
"""


def dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-hash-family twin of ``dedup_minhash_lsh``: md5 is bit-identical
    across Spark and DuckDB (xxhash64 is not), so signatures, banding AND
    candidate generation — not just the final verified pairs — are
    oracle-checked end-to-end. Production keeps xxhash64."""
    return minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=_JACCARD_T,
        hash_fn="md5",
    )


# replicates the ENTIRE LSH pipeline in SQL: 64 simulated permutations
# (min over md5(p || ':' || shingle)), 16 bands of 4 rows hashed with
# md5(mh|mh|mh|mh), distinct band-bucket collisions, exact Jaccard verify
# of candidates only — the same algebra the Spark plan executes.
_MINHASH_MD5_ORACLE = f"""
WITH {_JACCARD_CTES},
perms AS (
  SELECT doc_id, shingle, unnest(generate_series(0, 63)) AS p FROM sh
),
sig AS (
  SELECT doc_id, p, min(md5(p || ':' || shingle)) AS mh
  FROM perms GROUP BY doc_id, p
),
bands AS (
  SELECT doc_id, p // 4 AS band,
         md5(string_agg(mh, '|' ORDER BY p)) AS bucket
  FROM sig GROUP BY doc_id, p // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
),
cand_common AS (
  SELECT c.id_a, c.id_b, count(*) AS common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
       CAST(common AS DOUBLE) / (na.n + nb.n - common) AS jaccard
FROM cand_common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_JACCARD_T}
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        num_perm=64,
        bands=16,
        threshold=_JACCARD_T,
    )


#: High-similarity cutoff for the minhash recall gate: at 16 bands × 4
#: rows the probability a pair with jaccard ≥ 0.9 escapes every band is
#: (1 − 0.9⁴)¹⁶ ≈ 3.5e-8 — for a FIXED corpus and hash seed the catch is
#: deterministic, so "no high-sim pair missed" is a stable gate while
#: borderline pairs (j barely over _JACCARD_T) legitimately come and go.
_MINHASH_HIGH_SIM = 0.9


def dedup_minhash_lsh_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-gated verification form of :func:`dedup_minhash_lsh` (the
    r6 schema_profile_approx pattern, adapted to a RECALL gate): xxhash64
    banding is engine-specific, so instead of pinning the candidate set
    the entry joins the LSH output against the exact Jaccard pair set
    (prefix-filtered AllPairs, same corpus/threshold) and emits:

    - ``n_exact_pairs`` — cross-engine exact fact (DuckDB recomputes it);
    - ``precision_ok`` — every LSH pair exists in the exact set with the
      SAME jaccard (candidates are exact-verified, so any extra or
      value-divergent pair is a pipeline bug);
    - ``high_sim_recall_ok`` — no exact pair with jaccard ≥ 0.9 was
      missed by banding (deterministic at these banding params; misses
      of borderline pairs near the 0.05 threshold are expected LSH
      behavior and deliberately NOT gated).
    """
    docs = load_table(spark, sf_dir, "documents")
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        "id_a", "id_b", F.col("jaccard").alias("j_lsh")
    )
    exact = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_T, prefix_filter=True
    ).select("id_a", "id_b", F.col("jaccard").alias("j_exact"))
    both = exact.join(lsh, ["id_a", "id_b"], "full_outer")
    # coalesce every sum: on a corpus with ZERO near-dup pairs the join
    # is empty and sum-over-no-rows is NULL, so NULL == 0 turned all
    # three ok-flags NULL while the oracle hardcodes 0/TRUE — a false
    # gate red on a correct pipeline (r6 session-3 review).
    z = F.lit(0)
    return both.agg(
        F.coalesce(
            F.sum(F.col("j_exact").isNotNull().cast("long")), z
        ).alias("n_exact_pairs"),
        (
            F.coalesce(F.sum(F.col("j_exact").isNull().cast("long")), z)
            == 0
        ).alias("precision_ok_extra"),
        (
            F.coalesce(
                F.sum(
                    (
                        F.col("j_lsh").isNotNull()
                        & (F.abs(F.col("j_lsh") - F.col("j_exact")) > 1e-12)
                    ).cast("long")
                ),
                z,
            )
            == 0
        ).alias("precision_ok_values"),
        (
            F.coalesce(
                F.sum(
                    (
                        (F.col("j_exact") >= _MINHASH_HIGH_SIM)
                        & F.col("j_lsh").isNull()
                    ).cast("long")
                ),
                z,
            )
            == 0
        ).alias("high_sim_recall_ok"),
    )


_MINHASH_CHECK_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs,
       TRUE AS precision_ok_extra,
       TRUE AS precision_ok_values,
       TRUE AS high_sim_recall_ok
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_JACCARD_T}
"""


#: token-count eligibility for a doc to produce 3-gram shingles (and so
#: to be representable by a minhash signature at all) — mirrors the
#: ``len(toks) >= 3`` guard inside the oracle's shingle CTE.
_MIN_SHINGLE_TOKS = 3

#: Planted-clone parameters for the gated raw dedup entries: every doc
#: with ``doc_id % _CLONE_MOD == 0`` is re-emitted verbatim under
#: ``doc_id + _CLONE_OFFSET``, so byte-identical pairs EXIST at every
#: scale (the synthetic corpus has none at the sf0.001/0.01 gate scales
#: — without planting, the recall anchor would be vacuously green).
#: Both engines derive the clones from the same table with the same
#: arithmetic, so the anchor stays cross-engine deterministic.
_CLONE_MOD = 31
_CLONE_OFFSET = 1_000_000_000


def _with_planted_clones(docs: DataFrame) -> DataFrame:
    clones = docs.filter(
        F.col("doc_id") % _CLONE_MOD == 0
    ).select(
        (F.col("doc_id") + F.lit(_CLONE_OFFSET)).alias("doc_id"), "text"
    )
    return docs.select("doc_id", "text").unionByName(clones)


def _exact_dup_pairs(corpus: DataFrame, eligible_ids: DataFrame) -> DataFrame:
    """(id_a, id_b) pairs of byte-identical documents that are ELIGIBLE
    for the hashed pipeline under test — docs too short to
    shingle/simhash can never appear in its output. Identical text ⇒
    identical shingle/token multisets ⇒ the pipeline must emit the pair
    deterministically; this is the cheap in-plan recall anchor the
    gated raw entries hash cross-engine.

    ``eligible_ids`` is the pipeline's own pinned doc-sized frame (one
    row per doc that survived its tokenize/shingle stage), so this twin
    never re-tokenizes the corpus: its only corpus work is the md5
    fingerprint pass."""
    fp = corpus.join(
        eligible_ids.select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", F.md5("text").alias("__f"))
    # pair generation via ONE groupBy(fingerprint) instead of the fp⋈fp
    # self-join: the join referenced the fp subtree twice, so the corpus
    # (itself a 2-leg union) was scanned and regex-tokenized FOUR times
    # per wrapper; grouping scans it once and emits each group's (i<j)
    # pairs from the sorted id array (doc_ids are unique, so ascending
    # order ⟺ the old id_a < id_b predicate; dup groups are tiny — the
    # planted-clone corpus has pairs, not giant components) (r7, guide
    # §2.4 "remove shuffles outright" / duplicated subtrees)
    groups = (
        fp.groupBy("__f")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    return groups.select(
        F.explode(
            F.expr(
                "flatten(transform(__ids, (x, i) -> "
                "transform(slice(__ids, i + 2, size(__ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")


def _exact_dup_cte(min_toks: int) -> str:
    return f"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CLONE_OFFSET}, text FROM documents
  WHERE doc_id % {_CLONE_MOD} = 0
),
eligible AS (
  SELECT doc_id, md5(text) AS f FROM corpus
  WHERE len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
            x -> x <> '')) >= {min_toks}
),
dp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM eligible a JOIN eligible b ON a.f = b.f AND a.doc_id < b.doc_id
)"""


def dedup_minhash_lsh_raw_gated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-gated form of the PRODUCTION xxhash64 MinHash-LSH pipeline
    (r6 verdict #1 — zero ``no_oracle`` rows): runs the identical
    :func:`dedup_minhash_lsh` plan end-to-end (signatures → banding →
    candidates → exact-Jaccard verify), then folds the pair list into
    cross-engine facts + in-plan invariants instead of serving the
    banding-dependent pair set raw:

    - ``n_docs`` / ``n_exact_dup_pairs`` — exact (DuckDB recomputes);
    - ``exact_dups_caught_ok`` — every byte-identical eligible pair is
      in the output with jaccard == 1 (identical docs have identical
      signatures, so all 16 bands collide deterministically — a miss
      means broken signatures/banding/verify, not LSH noise). The
      corpus is documents + ~3% planted verbatim clones
      (``_with_planted_clones``) so this anchor is NON-vacuous at every
      scale — the synthetic corpus has no byte-identical pairs at the
      gate scales;
    - ``pairs_ge_threshold_ok`` / ``pairs_canonical_ok`` — the verify
      filter and (a<b, distinct) pair contract held.

    The full recall/precision gate vs the exact AllPairs set lives in
    the ``dedup_minhash_lsh`` check twin; the cross-engine value gate
    on an identically-shaped pipeline is ``dedup_minhash_md5``."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = _with_planted_clones(docs)
    # the per-doc shingle arrays are the one corpus pass: the pair
    # pipeline reads them and so does the eligibility semi-join
    # (≥ _MIN_SHINGLE_TOKS tokens ⟺ ≥ 1 3-gram shingle ⟺ a row)
    arrs = shingle_arrays(
        corpus, "doc_id", "text", n=_MIN_SHINGLE_TOKS
    ).cache()
    # cached: the pair list feeds two aggregates below — unpinned, the
    # whole LSH pipeline would run twice
    xx = minhash_pairs(
        arrs, "doc_id", num_perm=64, bands=16, threshold=_JACCARD_T
    ).cache()
    dup = _exact_dup_pairs(corpus, arrs)
    z = F.lit(0)
    caught = dup.join(xx, ["id_a", "id_b"], "left").agg(
        F.coalesce(F.count(F.lit(1)), z).alias("n_exact_dup_pairs"),
        F.coalesce(
            F.sum(
                (
                    F.col("jaccard").isNull()
                    | (F.abs(F.col("jaccard") - 1.0) > 1e-12)
                ).cast("long")
            ),
            z,
        ).alias("__n_missed"),
    )
    contract = xx.agg(
        F.coalesce(
            F.sum((F.col("jaccard") < _JACCARD_T - 1e-12).cast("long")), z
        ).alias("__n_below_t"),
        F.coalesce(
            F.sum((F.col("id_a") >= F.col("id_b")).cast("long")), z
        ).alias("__n_disordered"),
        F.count(F.lit(1)).alias("__n_pairs"),
        F.countDistinct("id_a", "id_b").alias("__n_pairs_distinct"),
    )
    return (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(caught))
        .crossJoin(F.broadcast(contract))
        .select(
            "n_docs",
            "n_exact_dup_pairs",
            (F.col("__n_missed") == 0).alias("exact_dups_caught_ok"),
            (F.col("__n_below_t") == 0).alias("pairs_ge_threshold_ok"),
            (
                (F.col("__n_disordered") == 0)
                & (F.col("__n_pairs") == F.col("__n_pairs_distinct"))
            ).alias("pairs_canonical_ok"),
        )
    )


_MINHASH_RAW_ORACLE = f"""
WITH {_exact_dup_cte(_MIN_SHINGLE_TOKS)}
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_exact_dup_pairs,
  TRUE AS exact_dups_caught_ok,
  TRUE AS pairs_ge_threshold_ok,
  TRUE AS pairs_canonical_ok
FROM dp
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_dup_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3
    )


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5-hash-family twin of ``dedup_simhash``: every per-token sign hash
    is the first 64 bits of md5, which DuckDB reproduces nibble-by-nibble
    from the hex digest — so bit votes, band packing, banded candidate
    generation AND hamming verification are all oracle-checked. Production
    keeps xxhash64."""
    return simhash_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        max_hamming=3,
        hash_fn="md5",
    )


def _simhash_md5_oracle() -> str:
    """Generate the DuckDB twin of the md5 simhash pipeline: 64 bit-vote
    sums from md5 hex nibbles, majority bits packed into 4×16-bit bands,
    pigeonhole band-equality candidates, bit_count(xor) hamming verify."""
    # bit b of int(md5hex[:16], 16): nibble at 1-indexed char 16 - b//4,
    # bit b%4 inside the nibble
    def bit(b: int) -> str:
        return (
            f"((strpos('0123456789abcdef', substr(hx, {16 - b // 4}, 1)) - 1)"
            f" >> {b % 4}) & 1"
        )

    votes = ",\n    ".join(
        f"sum({bit(b)}) AS o{b}" for b in range(64)
    )
    bands = ",\n    ".join(
        " + ".join(
            f"(CASE WHEN 2 * o{16 * band + r} > n THEN {1 << r} ELSE 0 END)"
            for r in range(16)
        )
        + f" AS band{band}"
        for band in range(4)
    )
    band_rows = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS bucket FROM bits"
        for b in range(4)
    )
    hamming = " + ".join(
        f"bit_count(xor(x.band{b}, y.band{b}))" for b in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')
      AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM t WHERE len(toks) > 0),
h AS (SELECT doc_id, substr(md5(tk), 1, 16) AS hx FROM tok),
votes AS (
  SELECT doc_id, count(*) AS n,
    {votes}
  FROM h GROUP BY doc_id
),
bits AS (
  SELECT doc_id,
    {bands}
  FROM votes
),
bands AS (
  {band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST({hamming} AS BIGINT) AS hamming
FROM cand
JOIN bits x ON x.doc_id = id_a
JOIN bits y ON y.doc_id = id_b
WHERE {hamming} <= 3
"""


_SIMHASH_MD5_ORACLE = _simhash_md5_oracle()


def dedup_simhash_raw_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gated form of the PRODUCTION xxhash64 SimHash pipeline (r6
    verdict #1): runs the identical :func:`dedup_simhash` plan
    (bit-vote → 16-bit banding → pigeonhole candidates → hamming
    verify), folded into cross-engine facts + in-plan invariants:

    - ``n_docs`` / ``n_exact_dup_pairs`` — exact (DuckDB recomputes;
      eligibility is ≥1 token, matching the pipeline's zero-token
      exclusion; corpus = documents + ~3% planted verbatim clones so
      the anchor is non-vacuous at every scale);
    - ``exact_dups_hamming0_ok`` — byte-identical eligible docs have
      identical token multisets, hence identical bit votes under ANY
      hash family, hence hamming 0 — a miss is pipeline breakage, not
      hash noise;
    - ``pairs_le_max_ok`` / ``pairs_canonical_ok`` — the hamming ≤ 3
      filter and (a<b, distinct) pair contract held.

    The cross-engine value gate on the identically-shaped pipeline is
    ``dedup_simhash_md5`` (votes, banding and hamming all pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = _with_planted_clones(docs)
    # the band table is the one corpus pass: the pair pipeline reads it
    # and so does the eligibility semi-join (≥ 1 token ⟺ a row)
    bits = simhash_bits(corpus, "doc_id", "text").cache()
    # cached: the pair list feeds two aggregates below
    xx = simhash_pairs(bits, "doc_id", max_hamming=3).cache()
    dup = _exact_dup_pairs(corpus, bits)
    z = F.lit(0)
    caught = dup.join(xx, ["id_a", "id_b"], "left").agg(
        F.coalesce(F.count(F.lit(1)), z).alias("n_exact_dup_pairs"),
        F.coalesce(
            F.sum(
                (
                    F.col("hamming").isNull() | (F.col("hamming") != 0)
                ).cast("long")
            ),
            z,
        ).alias("__n_missed"),
    )
    contract = xx.agg(
        F.coalesce(
            F.sum((F.col("hamming") > 3).cast("long")), z
        ).alias("__n_over_max"),
        F.coalesce(
            F.sum((F.col("id_a") >= F.col("id_b")).cast("long")), z
        ).alias("__n_disordered"),
        F.count(F.lit(1)).alias("__n_pairs"),
        F.countDistinct("id_a", "id_b").alias("__n_pairs_distinct"),
    )
    return (
        docs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(caught))
        .crossJoin(F.broadcast(contract))
        .select(
            "n_docs",
            "n_exact_dup_pairs",
            (F.col("__n_missed") == 0).alias("exact_dups_hamming0_ok"),
            (F.col("__n_over_max") == 0).alias("pairs_le_max_ok"),
            (
                (F.col("__n_disordered") == 0)
                & (F.col("__n_pairs") == F.col("__n_pairs_distinct"))
            ).alias("pairs_canonical_ok"),
        )
    )


_SIMHASH_RAW_ORACLE = f"""
WITH {_exact_dup_cte(1)}
SELECT
  (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
  CAST(count(*) AS BIGINT) AS n_exact_dup_pairs,
  TRUE AS exact_dups_hamming0_ok,
  TRUE AS pairs_le_max_ok,
  TRUE AS pairs_canonical_ok
FROM dp
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cosine_dup_pairs_blocked(
        load_table(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=_COS_T,
    )


_COSINE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= {_COS_T}
"""


def duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: union exact-fingerprint edges with n-gram
    Jaccard edges, then resolve connected components (large-star /
    small-star) so transitively-linked documents share one canonical id —
    the step that turns pair lists into a keep/drop decision per doc."""
    from feature_generation_benchmark_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)  # iterative star-contraction re-reads caches
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", fingerprint_md5("text").alias("fp"))
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canonical"))
    exact_edges = (
        fp.join(canon, "fp")
        .where(F.col("doc_id") != F.col("canonical"))
        .select(F.col("doc_id").alias("src"), F.col("canonical").alias("dst"))
    )
    # prefix_filter=True: identical pair set (same oracle), bounded
    # candidate cost — the clusters pipeline previously inherited the
    # naive inverted-index self-join the file itself labels quadratic on
    # hot shingles (r6 session-3 review; the naive baseline stays served
    # as dedup_ngram_jaccard_naive).
    jacc_edges = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=_JACCARD_T, prefix_filter=True
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # EAGER checkpoint before the star-contraction loop: the first
    # iteration's self-joins would otherwise re-embed the whole
    # prefix-Jaccard plan several times and run its AQE broadcasts
    # concurrently — observed OOMing a default-memory driver in a long
    # gate session. Materialized once, the loop iterates a tiny
    # (src, dst) table.
    edges = exact_edges.union(jacc_edges).localCheckpoint(eager=True)
    comps = connected_components(edges)
    return comps.select(F.col("id").alias("doc_id"), "component")


#: Shared recursive-CTE chain resolving duplicate components — the final
#: ``comp(doc_id, component)`` CTE is composed by both the clusters oracle
#: and the representative-selection oracle below.
_CLUSTERS_CTES = f"""WITH RECURSIVE {_JACCARD_CTES},
jedges AS (
  SELECT id_a AS a, id_b AS b FROM common
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= {_JACCARD_T}
),
fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS f
  FROM documents
),
eedges AS (
  SELECT fp.doc_id AS a, m.c AS b
  FROM fp JOIN (SELECT f, min(doc_id) AS c FROM fp GROUP BY f) m USING (f)
  WHERE fp.doc_id <> m.c
),
edges AS (
  SELECT a, b FROM jedges UNION SELECT b, a FROM jedges
  UNION SELECT a, b FROM eedges UNION SELECT b, a FROM eedges
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
r(id, root) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(root) AS component FROM r GROUP BY id)"""

_CLUSTERS_ORACLE = f"""
{_CLUSTERS_CTES}
SELECT doc_id, component FROM comp
"""


def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection — the keep/drop decision that completes
    the dedup pipeline: every doc joins its duplicate component (its own
    id when unclustered), and each component keeps exactly one doc — the
    longest (`n_chars`), ties to the smallest `doc_id` via the
    lexicographic `max(struct(n_chars, -doc_id))` trick (one aggregation,
    no window re-sort).

    Scale posture: the component resolution is the iterative CC program
    (`duplicate_clusters`); everything added here is one doc-keyed left
    join + one component-keyed agg + one component-keyed join-back —
    component cardinality ≤ doc cardinality, no skew beyond the largest
    duplicate cluster."""
    comps = duplicate_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    j = docs.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
        "n_chars",
    )
    m = j.groupBy("component").agg(
        (
            -F.max(
                F.struct(
                    F.col("n_chars").alias("a"),
                    (-F.col("doc_id")).alias("b"),
                )
            )["b"]
        ).alias("rep")
    )
    return j.join(m, "component").select(
        "doc_id",
        "component",
        "n_chars",
        (F.col("doc_id") == F.col("rep")).alias("keep"),
    )


_REPS_ORACLE = f"""
{_CLUSTERS_CTES},
j AS (
  SELECT d.doc_id,
         coalesce(c.component, d.doc_id) AS component,
         CAST(d.n_chars AS BIGINT) AS n_chars
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
m AS (
  SELECT component,
         -((max({{'a': n_chars, 'b': -doc_id}})).b) AS rep
  FROM j GROUP BY component
)
SELECT j.doc_id, j.component, j.n_chars, j.doc_id = m.rep AS keep
FROM j JOIN m USING (component)
"""


QUERIES = [
    QueryDef("dedup_exact", dedup_exact, _EXACT_ORACLE,
             "exact dedup via md5 fingerprint group-by"),
    # bench=False: same computation as the skewed-corpus prefix entry
    # below (the headline jaccard cost in BENCH); this one re-verifies the
    # prefix plan against the plain-corpus oracle.
    QueryDef("dedup_ngram_jaccard", dedup_ngram_jaccard, _JACCARD_ORACLE,
             "exact pairwise Jaccard, AllPairs prefix-filtered "
             "(the scale-safe default plan)",
             bench=False),
    # bench=False: labeled small-corpus baseline — un-pruned inverted
    # index, quadratic in hot-shingle frequency; oracle-gated so the
    # naive/prefix pair stays provably output-identical.
    QueryDef("dedup_ngram_jaccard_naive", dedup_ngram_jaccard_naive,
             _JACCARD_ORACLE,
             "exact pairwise Jaccard via un-pruned shingle inverted index "
             "(small-corpus baseline)",
             bench=False),
    QueryDef("dedup_ngram_jaccard_prefix", dedup_ngram_jaccard_prefix,
             _JACCARD_PREFIX_ORACLE,
             "AllPairs prefix-filtered Jaccard on a skewed (hot-shingle) "
             "corpus — the at-scale candidate-pruning path"),
    QueryDef("dedup_jaccard_incremental", dedup_jaccard_incremental,
             _JACCARD_INCR_ORACLE,
             "incremental dedup: new-batch x all candidates only (old x "
             "old never re-verified); gate proves equality with the "
             "batch recompute restricted to new-involving pairs"),
    QueryDef("dedup_minhash_lsh", dedup_minhash_lsh_check,
             _MINHASH_CHECK_ORACLE,
             "MinHash-LSH (xxhash64 production path) hash-gated on "
             "precision + high-sim recall vs the exact Jaccard pair set",
             bench=False),
    # raw production pipeline stays served + benched, now hash-gated on
    # exact-dup recall + pair-contract invariants (r7: zero no_oracle
    # rows; raw pair output remains available via minhash_dedup_pairs)
    QueryDef("dedup_minhash_lsh_raw", dedup_minhash_lsh_raw_gated,
             _MINHASH_RAW_ORACLE,
             "MinHash signatures + banded LSH candidates + exact verify "
             "(production xxhash64 pipeline, hash-gated on exact-dup "
             "catch + threshold/canonical pair contract)"),
    # bench=False: correctness twin of dedup_minhash_lsh on the md5 hash
    # family (the only 128-bit hash Spark and DuckDB compute identically);
    # the xxhash64 production path above is the one benchmarked.
    QueryDef("dedup_minhash_md5", dedup_minhash_md5, _MINHASH_MD5_ORACLE,
             "MinHash-LSH with md5 hash family — full cross-engine oracle "
             "including banding", bench=False),
    QueryDef("decontamination", decontamination, _DECONTAM_ORACLE,
             "eval-set n-gram overlap flags (test-set leakage removal)"),
    QueryDef("decontamination_bloom", decontamination_bloom,
             _BLOOM_DECONTAM_ORACLE,
             "decontamination via a deterministic blocked Bloom filter "
             "(compact broadcast; no false negatives, bounded FPs)"),
    # production xxhash64 simhash stays served + benched, hash-gated on
    # exact-dup recall + pair-contract invariants (r7: zero no_oracle
    # rows; raw pair output remains available via simhash_dup_pairs)
    QueryDef("dedup_simhash", dedup_simhash_raw_gated, _SIMHASH_RAW_ORACLE,
             "SimHash near-dup pipeline, hamming <= 3 via 16-bit bands "
             "(production xxhash64 path, hash-gated on exact-dup "
             "hamming-0 catch + max-hamming/canonical pair contract)"),
    # bench=False: correctness twin of dedup_simhash on the md5 hash family
    # (bit votes, band packing, candidates and hamming all oracle-checked);
    # the xxhash64 production path above is the one benchmarked.
    QueryDef("dedup_simhash_md5", dedup_simhash_md5, _SIMHASH_MD5_ORACLE,
             "SimHash with md5 hash family — full cross-engine oracle "
             "including bit votes and banding", bench=False),
    QueryDef("dedup_embedding_cosine", dedup_embedding_cosine, _COSINE_ORACLE,
             "embedding cosine near-duplicate pairs"),
    # bench=False: iterative (one job per star round) — a fixed multi-job
    # cost that would dominate the single-pass headline total; correctness
    # is still gated through the sf0.01 oracle run.
    QueryDef("duplicate_clusters", duplicate_clusters, _CLUSTERS_ORACLE,
             "connected components over dup pairs (large-star/small-star)",
             bench=False),
    # bench=False: re-runs the iterative CC program (see above).
    QueryDef("cluster_representatives", cluster_representatives,
             _REPS_ORACLE,
             "keep/drop per doc: longest doc per duplicate component "
             "(completes the dedup pipeline)", bench=False),
]


# --------------------------------------------------------------------------
# chunk-granularity exact dedup (r3b) — the "paragraph dedup" step of a
# pretraining pipeline (ExactSubstr-lite at fixed chunk granularity): the
# corpus is cut into non-overlapping token chunks, chunks repeated
# ANYWHERE in the corpus are counted, and each doc reports its duplicated-
# chunk fraction. The synthetic corpus has no line structure, so fixed
# token windows stand in for paragraphs.
# --------------------------------------------------------------------------

#: Non-overlapping chunk width in tokens; small enough that the synthetic
#: ~40-word vocab actually produces cross-doc repeats at sf0.01.
_DEDUP_CHUNK_TOKENS = 4
#: A doc is kept while at most this fraction of its chunks is duplicated.
_DEDUP_CHUNK_MAX_RATIO = 0.5


def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-chunk fraction + keep flag.

    Plan: tokenize → row-local slice into non-overlapping 4-token chunks
    (shuffle-free flatMap) → count every chunk string corpus-wide (one
    chunk-keyed shuffle; combines map-side; chunk cardinality ≪ chunk
    rows) → join counts back (second chunk-keyed shuffle — co-partitioned
    with the count, so AQE plans a local join) → per-doc agg. At 100 TB
    the chunk-count table is the dedup state; everything else streams.
    Trailing sub-width tokens form a final short chunk so every token is
    covered (matches the oracle's list-slice semantics)."""
    from feature_generation_benchmark_spark.functions.textfns import (
        token_windows,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    w = _DEDUP_CHUNK_TOKENS
    chunks = toked.select(
        "doc_id",
        F.explode(token_windows(F.col("toks"), w, w)).alias("c"),
    ).select("doc_id", F.array_join("c.window", " ").alias("chunk"))
    counts = chunks.groupBy("chunk").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        chunks.join(counts, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("n_occ") > 1).cast("long")).alias("dup_chunks"),
        )
    )
    ratio = F.col("dup_chunks") / F.col("n_chunks")
    return per_doc.select(
        "doc_id",
        "n_chunks",
        F.col("dup_chunks").cast("long").alias("dup_chunks"),
        ratio.alias("dup_chunk_ratio"),
        (ratio <= _DEDUP_CHUNK_MAX_RATIO).alias("keep"),
    )


_CHUNK_DEDUP_ORACLE = f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM toked WHERE len(toks) > 0),
chunks AS (
  SELECT doc_id,
         array_to_string(toks[s + 1 : s + {_DEDUP_CHUNK_TOKENS}], ' ')
           AS chunk
  FROM (SELECT doc_id, toks,
               unnest(generate_series(0, n - 1, {_DEDUP_CHUNK_TOKENS})) AS s
        FROM nz)
),
c AS (SELECT chunk, count(*) AS n_occ FROM chunks GROUP BY chunk),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_chunks,
         CAST(sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_chunks
  FROM chunks JOIN c USING (chunk)
  GROUP BY doc_id
)
SELECT doc_id, n_chunks, dup_chunks,
  CAST(dup_chunks AS DOUBLE) / n_chunks AS dup_chunk_ratio,
  CAST(dup_chunks AS DOUBLE) / n_chunks <= {_DEDUP_CHUNK_MAX_RATIO} AS keep
FROM per_doc
"""

QUERIES.append(
    QueryDef(
        "dedup_chunk_exact",
        dedup_chunk_exact,
        _CHUNK_DEDUP_ORACLE,
        "chunk-granularity exact dedup: per-doc duplicated-chunk fraction",
    )
)


def sentence_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unit-granular dedup diagnostics at SENTENCE level: for
    each document, how many of its sentences also appear (verbatim,
    md5-keyed) anywhere else in the corpus. Sits between `dedup_exact`
    (whole doc) and `dup_ngram_spans` (n-gram span union): the unit is
    the canonical sentence split shared with `sentence_stats`' oracle.

    Plan: explode sentences → global md5-count (map-side combining; the
    count table is |distinct sentences|-sized) → hash-keyed join back →
    doc-keyed rollup. The blob text never joins — only (doc_id, md5)
    pairs move. dup_frac is one exact-int division.

    Output: (doc_id, n_sents, n_dup_sents, dup_frac).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = docs.select(
        "doc_id",
        F.explode(F.split("text", r"[.!?]+")).alias("raw"),
    ).select(
        "doc_id", F.trim(F.col("raw")).alias("sent")
    ).filter(F.col("sent") != "")
    keyed = sents.select("doc_id", F.md5("sent").alias("h"))
    counts = keyed.groupBy("h").agg(F.count(F.lit(1)).alias("n_global"))
    return (
        keyed.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sents"),
            F.sum(
                F.when(F.col("n_global") > 1, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_dup_sents"),
            (
                F.sum(
                    F.when(F.col("n_global") > 1, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ) / F.count(F.lit(1))
            ).alias("dup_frac"),
        )
    )


_SENT_DEDUP_ORACLE = """
WITH sents AS (
  SELECT doc_id, trim(s.x) AS sent
  FROM documents,
       unnest(string_split_regex(text, '[.!?]+')) AS s(x)
  WHERE trim(s.x) <> ''
),
keyed AS (SELECT doc_id, md5(sent) AS h FROM sents),
counts AS (SELECT h, count(*) AS n_global FROM keyed GROUP BY h)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_sents,
  CAST(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_sents,
  sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) / count(*) AS dup_frac
FROM keyed JOIN counts USING (h)
GROUP BY doc_id
"""

QUERIES.append(
    QueryDef(
        "sentence_dedup_stats",
        sentence_dedup_stats,
        _SENT_DEDUP_ORACLE,
        "CCNet-style sentence-level duplicate fraction per doc: global "
        "md5 counts + hash-keyed join-back, text never shuffled",
    )
)
