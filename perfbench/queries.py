"""``curation_sf01``: LLM-data curation queries over a generated corpus.

The ``documents`` and ``embeddings`` tables have the engine's native
sf0.1 sizes. The time goes to plan building, eager sub-jobs, stage
scheduling, Arrow/Python workers and the ``persist_tracked`` lifecycle,
not to scans.

An operation is one registry query, built with ``spec.fn`` and
materialized with ``toPandas()``, as consumers of
``__spark_entry__.py`` run it. Each result is compared, outside the
timed region, with the query's DuckDB oracle over the same parquet
files, normalized as ``tools/check_parity.py`` does.
"""

from __future__ import annotations

import os
import pickle
import random

from . import datagen

# Three of the registry's curation queries: two that run eager
# sub-jobs (brute-force kNN with an Arrow UDF, a k-means codebook) and
# perceptual-hash dedup in ``mapInPandas`` over a ``persist_tracked``
# table. Every run pays a JVM start, a cold warm pass and, on a new
# seed, the DuckDB oracle, and must end within its time budget; on a
# 4-core VM a run with four queries and two warm passes took 69-73 s.
CURATION = (
    "knn_brute_force",
    "pq_codebook_train",
    "multimodal_phash_dedup",
)

# documents and 64-d embeddings (the sf0.1 sizes)
CORPUS_DOCS, CORPUS_VECS = 5000, 2000


def curation(cache: str, seed: int, root: str) -> QueryWorkload:
    inputs = datagen.cached(
        cache, f"corpus_d{CORPUS_DOCS}_v{CORPUS_VECS}_seed{seed}",
        lambda d: datagen.write_corpus(d, seed, CORPUS_DOCS, CORPUS_VECS),
    )
    return QueryWorkload(CURATION, inputs, cache, root)


class QueryWorkload:
    op_prefix = "q"
    # unmeasured passes before the measured ones take the cold costs
    # (Python worker start-up, class loading, code generation): on one
    # core of a 4-vCPU VM the first pass took about 12 s, and passes
    # kept getting faster up to the sixth, from 4.1 s to 3.1-3.3 s
    warm_passes = 4
    max_passes = float("inf")

    def __init__(self, query_names: tuple[str, ...], inputs: str, cache: str, root: str):
        self.query_names = list(query_names)
        self.inputs = inputs
        self.cache = cache
        self.root = root
        self.expected: dict[str, object] = {}
        self.tracer = None  # set by the runner before the first pass

    def catalog(self, spark) -> None:
        from sm_etl_cloud_run_spark import plans
        from sm_etl_cloud_run_spark.tables import load_tables

        self.spark = spark
        self.specs = {q: plans.get(q) for q in self.query_names}
        load_tables(spark, self.inputs)

    def ops(self, order_seed: int):
        """One pass: every query once, in a seed-shuffled order."""
        order = list(self.query_names)
        random.Random(order_seed).shuffle(order)
        return [(q, self._op(q)) for q in order]

    def _op(self, q: str):
        spec = self.specs[q]

        def run():
            with self.tracer.span("plans.build"):
                df = spec.fn(self.spark, self.inputs)
            with self.tracer.span("plans.exec"):
                return df.toPandas()

        return run

    def expect(self) -> None:
        """Oracle results, computed once per (input, query) and cached."""
        import sys

        sys.path.insert(0, self.root)
        from tools.check_parity import _duck

        out_dir = os.path.join(self.cache, "expected", os.path.basename(self.inputs))
        os.makedirs(out_dir, exist_ok=True)
        con = None
        for q in self.query_names:
            path = os.path.join(out_dir, f"{q}.pkl")
            if not os.path.exists(path):
                con = con or _duck(self.inputs)
                df = con.execute(self.specs[q].oracle).fetchdf()
                with open(path + ".tmp", "wb") as f:
                    pickle.dump(df, f)
                os.rename(path + ".tmp", path)
            with open(path, "rb") as f:
                self.expected[q] = pickle.load(f)

    def check(self, results: dict[str, object]) -> dict[str, str]:
        from tools.check_parity import compare

        problems = {}
        for q, df in results.items():
            bad = compare(q, df, self.expected[q])
            if bad:
                problems[q] = "; ".join(bad)
        return problems
