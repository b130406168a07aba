"""The benchmark's workloads.

Each workload makes its inputs from the seed (outside every measured
region), warms each fresh session (``setup_reps`` of them are timed),
may prime the measured session, and hands the runner one pass of
:class:`Op` objects. An op has a ``build`` phase (the program turns
inputs into a plan or store state) and an ``action`` phase (Spark
executes it and writes parquet); the runner times both and tags their
jobs. ``verify`` checks an op's output against an independent result
after the op has been timed.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import pandas as pd

from perfbench import outputs, tables

HERE = os.path.dirname(os.path.abspath(__file__))

#: Scale factor of the generated query-suite tables.
SUITE_SF = 0.01

#: ``store_ingest`` input: customers × days of generated transactions
#: (about 25 rows per customer-day), folded in ``INCREMENTS`` day ranges.
TRX_CUSTOMERS = 100
TRX_DAYS = 180
INCREMENTS = 2

#: Windows of the benchmarked feature spec. The reference task uses eight
#: (2,080 features); a plan of that width spends ~20 s per op in planning
#: and code generation alone, more than a run holds. One window keeps the
#: reference groupings, aggregates and planner strategy (``bucket_pivot``).
WINDOWS = (180,)


def bench_spec():
    from feature_generation_benchmark_spark.spec import (
        FeatureSpec,
        reference_spec,
    )

    ref = reference_spec()
    return FeatureSpec(
        keys=ref.keys,
        time_col=ref.time_col,
        measures=ref.measures,
        windows=WINDOWS,
        groupings=ref.groupings,
    )


def _warm_python_workers(spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ident(v: pd.Series) -> pd.Series:
        return v

    spark.range(64).select(ident(F.col("id").cast("double"))).count()


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


@dataclass
class Op:
    """One measured unit of work.

    ``layer`` names the program layer the build phase calls into:
    ``workloads`` (a registry query function), ``plans`` (the feature
    planner or the store's serving plan) or ``streaming`` (a store
    increment, which builds and writes in one call)."""

    name: str
    layer: str
    build: object  # (spark) -> built
    action: object  # (spark, built) -> None
    verify: object  # () -> str | None (None = output correct)
    extra: dict = field(default_factory=dict)


class Suite:
    """A frozen list of registry queries over generated TPC-H-like tables.

    Each op runs ``fn(spark, sf_dir)`` (build) and writes the returned
    frame as parquet (action); its output is compared with the query's
    DuckDB oracle over the same tables. One pass per run."""

    pass_s = 0.0
    #: Session re-starts measured for ``setup_s``; each costs ~3.5 s here.
    setup_reps = 5

    def __init__(self, names: list[str], work: str, seed: int) -> None:
        self.names = names
        self.seed = seed
        self.sf_dir = os.path.join(work, "tables")
        self.out = os.path.join(work, "out")
        self._oracle = None

    def prepare_local(self) -> int:
        return tables.write_tables(self.sf_dir, SUITE_SF, self.seed)

    def prepare_spark(self, spark) -> int:
        return 0

    def prime(self, spark) -> None:
        """Nothing: each query's plan is new to the JVM once per run
        anyway, and a whole extra pass does not fit a run."""

    def warm(self, spark) -> None:
        from feature_generation_benchmark_spark.sources.testdata import (
            load_table,
        )

        _warm_python_workers(spark)
        for t in tables.TABLES:
            load_table(spark, self.sf_dir, t)

    def ops(self) -> list[Op]:
        from feature_generation_benchmark_spark.workloads import registry

        if self._oracle is None:
            self._oracle = outputs.DuckOracle(self.sf_dir, tables.TABLES)
        reg = registry()
        return [self._op(reg[n]) for n in self.names]

    def _op(self, q) -> Op:
        path = os.path.join(self.out, q.name)
        sf_dir = self.sf_dir

        def action(spark, df) -> None:
            df.write.mode("overwrite").parquet(path)

        def verify() -> str | None:
            if q.oracle is None:
                return "no oracle"
            return self._oracle.compare(q.name, q.oracle, path)

        return Op(
            q.name,
            "workloads",
            lambda spark: q.fn(spark, sf_dir),
            action,
            verify,
        )

    def serve_phase(self, records: list[dict]) -> list[float]:
        """Per pass: the summed action (output) phases of its queries."""
        per_pass: dict[int, float] = {}
        for r in records:
            per_pass[r["pass"]] = per_pass.get(r["pass"], 0.0) + r["action_s"]
        return list(per_pass.values())

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


def _transactions(spark, path: str, customers: int, seed: int) -> None:
    """Hive-partitioned transactions from the engine's seeded generator:
    ``part_col=partition_<k>`` holds ``t_minus`` in ``[k·d, (k+1)·d)``,
    ``d = TRX_DAYS // INCREMENTS``."""
    from feature_generation_benchmark_spark.sources.generator import (
        generate_transactions,
        write_dataset,
    )

    write_dataset(
        generate_transactions(
            spark,
            customers,
            INCREMENTS,
            TRX_DAYS // INCREMENTS,
            seed=seed,
            tasks=spark.sparkContext.defaultParallelism,
        ),
        path,
    )


class StoreIngest:
    """The feature table's two paths over one seeded transactions input.

    A pass is one ``batch`` op (``compile_features``, auto strategy:
    read → compute → parquet, the paper's task), then ``INCREMENTS``
    ``increment`` ops that fold day ranges (oldest first) into an empty
    ``DayPartialsStore``, then one ``serve`` op (``features_asof`` →
    parquet). The batch table must match an independent pandas
    evaluation of the spec (``outputs.features_pandas``; the spec's
    DuckDB oracle SQL, one FILTER aggregate per feature, takes minutes
    on this input) and the served table must match the batch table, both
    within a relative float tolerance."""

    pass_s = 10.0  # three measured passes in a 30 s run
    #: Session re-starts measured for ``setup_s``: each costs ~1.3 s, and
    #: a set-up this short (~0.8 s) needs more of them for a steady median.
    setup_reps = 9

    def __init__(self, work: str, seed: int) -> None:
        self.seed = seed
        self.work = work
        self.raw = os.path.join(work, "transactions")
        self.spec = bench_spec()
        self.ref_day = TRX_DAYS
        self._expected = None

    def prepare_local(self) -> int:
        return 0

    def prepare_spark(self, spark) -> int:
        _transactions(spark, self.raw, TRX_CUSTOMERS, self.seed)
        return spark.read.parquet(self.raw).count()

    def prime(self, spark) -> None:
        """One unmeasured, unchecked pass in the measured session: the
        first pass in a session takes about twice as long as later ones
        (JIT and code generation), which would swamp a run of two passes."""
        from feature_generation_benchmark_spark.session import cache_scope

        for op in self._ops(self.raw, "prime"):
            with cache_scope(spark):
                op.action(spark, op.build(spark))

    def warm(self, spark) -> None:
        _warm_python_workers(spark)
        spark.read.parquet(self.raw).count()

    def expected(self) -> pd.DataFrame:
        if self._expected is None:
            self._expected = outputs.features_pandas(
                self.spec,
                outputs.duck_frame(
                    f"SELECT * FROM read_parquet('{self.raw}/*/*.parquet')"
                ),
            )
        return self._expected

    def ops(self) -> list[Op]:
        return self._ops(self.raw, "pass")

    def _ops(self, raw: str, name: str) -> list[Op]:
        """One pass over ``raw``; outputs and the (emptied) store live
        under ``<work>/<name>``."""
        from pyspark.sql import functions as F

        from feature_generation_benchmark_spark.plans import compile_features
        from feature_generation_benchmark_spark.streaming.maintenance import (
            DayPartialsStore,
        )

        base = os.path.join(self.work, name)
        shutil.rmtree(base, ignore_errors=True)
        store_dir = os.path.join(base, "store")
        batch_out = os.path.join(base, "batch")
        served = os.path.join(base, "served")
        box: dict = {}

        def store(spark):
            if "store" not in box:
                box["store"] = DayPartialsStore(
                    spark, self.spec, "day", store_dir
                )
            return box["store"]

        def batch_verify() -> str | None:
            return outputs.frames_close(
                outputs.read_parquet(batch_out),
                self.expected(),
                self.spec.keys[0],
            )

        ops = [
            Op(
                "batch",
                "plans",
                lambda spark: compile_features(
                    self.spec, spark.read.parquet(raw)
                ),
                lambda spark, df: df.write.parquet(batch_out),
                batch_verify,
            )
        ]
        for k in reversed(range(INCREMENTS)):
            part = os.path.join(raw, f"part_col=partition_{k}")

            def apply(spark, part=part, op_index=len(ops)):
                rows = spark.read.parquet(part).withColumn(
                    "day", (F.lit(self.ref_day) - F.col("t_minus")).cast("long")
                )
                version = store(spark).apply_increment(rows)
                written = _du(os.path.join(store_dir, f"v={version}"))
                ops[op_index].extra["write_amp"] = written / _du(part)

            # increments are checked through the table served from them
            ops.append(
                Op(
                    f"increment_{k}",
                    "streaming",
                    apply,
                    lambda spark, built: None,
                    lambda: None,
                )
            )

        def serve_verify() -> str | None:
            return outputs.frames_close(
                outputs.read_parquet(served),
                outputs.read_parquet(batch_out),
                self.spec.keys[0],
            )

        ops.append(
            Op(
                "serve",
                "plans",
                lambda spark: store(spark).features_asof(self.ref_day),
                lambda spark, df: df.write.parquet(served),
                serve_verify,
            )
        )
        return ops

    def serve_phase(self, records: list[dict]) -> list[float]:
        """Per pass: the serve op (``features_asof`` build and write)."""
        return [
            r["build_s"] + r["action_s"] for r in records if r["name"] == "serve"
        ]

    def close(self) -> None:
        pass


def _suite(work: str, seed: int) -> Suite:
    """The frozen ``suite`` list of ``suites.json``, in name order: the JVM
    warms up as a pass goes, so a seeded order would move that cost
    between queries from run to run."""
    with open(os.path.join(HERE, "suites.json")) as f:
        return Suite(sorted(json.load(f)["suite"]), work, seed)


WORKLOADS = {
    "suite": _suite,
    "store_ingest": StoreIngest,
}
