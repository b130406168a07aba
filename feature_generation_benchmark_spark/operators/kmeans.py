"""K-means (Lloyd's) training as a pure DataFrame program — the iterative-
algorithm pattern for embedding-space curation (cluster-balanced sampling,
SemDeDup cluster models, IVF coarse quantizers are all downstream users).

Each iteration is:
  assignment  — broadcast the k×d model as ONE array-of-structs column,
                argmin of squared L2 distance row-locally via
                ``array_min(transform(...))`` — no shuffle at all. The
                score drops the ``‖v‖²`` term — it is constant per row,
                so ``argmin(‖c‖² − 2·v·c)`` picks the same cell and saves
                a fold per row.
  update      — per-cell elementwise mean: explode (cell, dim, value),
                average, re-assemble with ``sort_array(collect_list)``.
                The exchange is bounded by Spark's map-side combine —
                see ``_update`` for the plan shape and the measured
                rejection of a ``mapInPandas`` partial-sum variant.
                Centroid coordinates are rounded each iteration — that
                quantization makes the whole training trajectory
                bit-reproducible across engines (a ~1e-15 summation-order
                difference can never move a coordinate rounded to 1e-6),
                which is what lets a SQL twin replay training exactly.

Iteration state: nothing is ever collected to the driver — the k-row
model is ``localCheckpoint``ed each iteration, cutting the lineage that
would otherwise re-execute every earlier iteration inside each broadcast
job (quadratic in ``n_iter``). With AQE on, each checkpoint runs that
iteration's update shuffle while the program is built, so building the
model runs about one job per iteration. Scale posture: assignment is a
zero-shuffle broadcast of a 1-row model frame; the update's exchange
carries at most P×k×d map-side (sum, count) partials per iteration —
independent of corpus row count.

Reference scope: the reference benchmark has no iterative operator; this is
a north-star extension (SURVEY §7.2) exercising multi-round plan
composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_generation_benchmark_spark.operators.similarity import (
    as_double_array,
    dot,
)

#: Decimal places for per-iteration centroid quantization (see module doc).
CENTROID_DECIMALS = 6


def _assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """(id, v) × broadcast model → (id, v, cell) by nearest centroid.
    Ties break toward the lower cell id via the struct's second field.

    ZERO-SHUFFLE assignment: the k centroids are first collapsed into ONE
    array-of-structs row (k×d doubles — tiny) that reaches every corpus
    row via a broadcast nested-loop join of a 1-row frame; the argmin is
    then taken row-locally with ``array_min`` over a ``transform``. The
    earlier formulation (crossJoin against k centroid ROWS then
    ``groupBy(__id)``) k-multiplied the corpus and re-shuffled every
    (id, vector) pair once per iteration — at 100× data the assignment
    shuffle dominates training; this plan's only exchange per iteration
    is the (cell, dim) centroid update."""
    # ‖c‖² is per-centroid work: fold it once on the k-row side, not per
    # (row × centroid) pair. cell leads the struct so array_sort gives a
    # deterministic model order.
    model = cents.select(
        F.struct(
            "cell", "cv", dot(F.col("cv"), F.col("cv")).alias("cc")
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("__model"))
    best = F.array_min(
        F.transform(
            F.col("__model"),
            lambda c: F.struct(
                (c["cc"] - 2 * dot(F.col("__v"), c["cv"])).alias("score"),
                c["cell"].alias("cell"),
            ),
        )
    )
    return corpus.crossJoin(F.broadcast(model)).select(
        "__id", "__v", best["cell"].alias("cell")
    )


def _update(assigned: DataFrame) -> DataFrame:
    """(id, v, cell) → (cell, cv): rounded elementwise mean per cell.

    Shuffle-bounded BY THE PARTIAL AGGREGATE, not by the explode: the
    physical plan is ``Generate posexplode → HashAggregate(partial_avg,
    keys=[cell, dim]) → Exchange``, so the N×d (cell, dim, value) rows
    exist only pipelined inside the scan stage (whole-stage codegen) and
    the exchange carries at most P×k×d map-side (sum, count) partials
    per iteration — independent of corpus row count. Pinned by
    ``test_update_shuffles_partials_not_rows``.

    A ``mapInPandas`` per-partition partial-sum formulation (emit
    (cell, count, Σv) per partition, merge JVM-side) was built and A/B'd
    as the hypothesized at-scale improvement: results bit-identical, but
    it must Arrow-serialize all N×d values to Python workers per
    iteration, which costs MORE than the in-JVM explode+combine at every
    scale tried (same-session warm A/B: 2.79 s explode vs 3.26 s UDF on
    the sf0.1 fixture (d=8); 13.68 s vs 14.44 s at d=256, N=200k) while
    shuffling the same P×k×d partials. The all-JVM form is kept."""
    dims = assigned.select(
        "cell", F.posexplode("__v").alias("dim", "val")
    )
    means = dims.groupBy("cell", "dim").agg(
        F.round(F.avg("val"), CENTROID_DECIMALS).alias("m")
    )
    return means.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "m"))),
            lambda s: s["m"],
        ).alias("cv")
    )


def kmeans_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_centroids: list[list[float]],
    n_iter: int = 3,
) -> DataFrame:
    """Run ``n_iter`` Lloyd's iterations from the given deterministic
    initialization; return per-cluster stats of the FINAL assignment:
    ``(cell, n_vecs, inertia, c0)`` where ``inertia`` is the summed squared
    L2 distance to the final centroid (rounded — double sums drift at
    ~1e-12 across aggregation orders) and ``c0`` spot-checks the centroid's
    first coordinate (exact: quantized at update time).

    Empty clusters drop out of the update (no rows → no centroid), matching
    the SQL twin's GROUP BY semantics.

    Precondition: ``id_col`` values are UNIQUE. Every input row weighs
    into the centroid update once; duplicate ids are treated as distinct
    observations, NOT collapsed (an earlier formulation incidentally
    deduplicated via a ``groupBy(__id)`` — the zero-shuffle assignment
    removed that, which is invisible on unique-id data but changes update
    weights if ids repeat). Callers with repeated ids must dedup first."""
    spark = df.sparkSession
    # NOT cached: the corpus re-scan per iteration is a cheap columnar
    # read, and an A/B showed the cache build costs more than it saves at
    # this shape while pinning executor storage for the rest of a long
    # session. A caller whose input scan genuinely dominates (remote
    # store, wide source projection) should persist the input themselves
    # before calling — storage policy belongs to the caller.
    corpus = df.select(
        F.col(id_col).alias("__id"), as_double_array(vec_col).alias("__v")
    )
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(init_centroids)],
        "cell int, cv array<double>",
    )
    assigned = None
    for _ in range(n_iter):
        assigned = _assign(corpus, cents)
        # Cut the k-row model's lineage — without this, iteration i's
        # broadcast-model job re-executes the FULL lineage of iterations
        # 1..i-1 (quadratic corpus passes in n_iter); with it each update
        # runs exactly once. eager=False only defers the final stage: with
        # AQE on, the update's shuffle stage still runs here (A/B: same
        # win as eager). Values are identical either way — the
        # per-iteration quantization fixed the trajectory, so the
        # unrolled-CTE oracle is unaffected.
        cents = _update(assigned).localCheckpoint(eager=False)
    final = _assign(corpus, cents)
    d2 = (
        dot(F.col("__v"), F.col("__v"))
        - 2 * dot(F.col("__v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    return (
        final.join(F.broadcast(cents), "cell")
        .select("cell", d2.alias("d2"), F.col("cv")[0].alias("c0"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d2"), 4).alias("inertia"),
            F.first("c0").alias("c0"),
        )
    )
