"""The benchmark's workloads, each driving the engine's public functions.

A workload has a repeatable one-time ``build`` (part of set-up), an
untimed ``warmup``, a timed ``run`` that performs ops until its budget
is spent, and a ``check`` of the outputs, run outside the timed region.
Every op appends a record to ``self.ops``: its wall time, the items it
processed, whether it ran warm, and whether its check passed.

The end-to-end figures each workload reports (see ``e2e``):

- ``op_s``: the median wall time (latency) of the workload's op;
- ``op_cpu_s``: the median CPU seconds the process tree (Python driver,
  JVM, Python workers) spent on one op;
- ``op_cores``: the median cores the op kept busy, its CPU time over its
  wall time (op_s = op_cpu_s / op_cores).
"""

from __future__ import annotations

import importlib
import math
import statistics
import time
from contextlib import contextmanager

import numpy as np

from tracing import tree_cpu_s

PKG = "cqu_bigdata_recommender_system_for_movies_spark"
WARMUP_OP = 1_000_000  # op index of the untimed warm-up (timed ops count from 0)

# module caches read from outside after every op (name -> (module, attr))
CACHES = {
    "dedup._ARRAYS_CACHE": (f"{PKG}.operators.dedup", "_ARRAYS_CACHE"),
    "dedup._POPCOUNTS_CACHE": (f"{PKG}.operators.dedup", "_POPCOUNTS_CACHE"),
    "dedup._PAIRS_CACHE": (f"{PKG}.operators.dedup", "_PAIRS_CACHE"),
    "als._MODEL_CACHE": (f"{PKG}.ml.als", "_MODEL_CACHE"),
    "als._SPLIT_CACHE": (f"{PKG}.ml.als", "_SPLIT_CACHE"),
    "als._CV_CACHE": (f"{PKG}.ml.als", "_CV_CACHE"),
    "als._SWEEP_CACHE": (f"{PKG}.ml.als", "_SWEEP_CACHE"),
}


def cache_entries() -> dict[str, int]:
    out = {}
    for name, (mod, attr) in CACHES.items():
        out[name] = len(getattr(importlib.import_module(mod), attr))
    return out


class Workload:
    name = ""
    sf = 0.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.ops: list[dict] = []
        self.extra: dict = {}

    def build(self) -> None:
        """The engine's one-time build for this workload (repeatable)."""

    def warmup(self) -> None:
        raise NotImplementedError

    def run(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Correctness problems found (empty = all checks passed)."""
        raise NotImplementedError

    def e2e(self) -> dict[str, float]:
        """Medians over the timed ops: wall time, CPU time, and cores
        busy (CPU time over wall time)."""
        return {
            "op_s": statistics.median(o["wall_s"] for o in self.ops),
            "op_cpu_s": statistics.median(o["cpu_s"] for o in self.ops),
            "op_cores": statistics.median(o["cpu_s"] / o["wall_s"] for o in self.ops),
        }

    @contextmanager
    def timed(self, op_id: str):
        """Time one op: yields a dict that holds ``wall_s`` afterwards,
        plus the engine's cache state before the op began."""
        rec = {"cache_before": cache_entries()}
        with self.tr.op(op_id):
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            yield rec
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - cpu0

    def record(self, kind: str, wall: float, items: int, timing=None, **extra) -> dict:
        """One op's record; ``timing`` is the dict ``timed`` filled.
        ``cache_warm``: an engine module cache held entries when the op
        began (every timed op runs after an untimed warm-up op, so the
        JVM is warm in all of them). ``cpu_s``: CPU seconds the process
        tree used during the op."""
        before = (timing or {}).get("cache_before", {})
        rec = {
            "kind": kind,
            "wall_s": wall,
            "items": items,
            "ok": True,
            "cache_warm": any(before.values()),
            "cpu_s": (timing or {}).get("cpu_s"),
            "cache": cache_entries(),
            **extra,
        }
        self.ops.append(rec)
        return rec


# ---------------------------------------------------------------------------
# offline_recs


class OfflineRecs(Workload):
    """One nightly pass per op, on its own seeded split: ratings table ->
    80/20 split -> ALS fit (called directly, so the registered queries'
    model cache is never hit) -> RMSE on the held-out part -> top-10 for a
    seeded user cohort -> fold-in of seeded held-out users."""

    name = "offline_recs"
    sf = 0.004
    COHORT = 20
    HOLDOUT_SHARE = 0.05
    # A pass takes ~6 s on 4 cores. Two timed passes after the warm-up
    # pass keep a run near 45 s (the run budget, README); more passes or
    # warm-up passes made the CPU figures only a little steadier across
    # ten seeds (README, offline_recs configurations).
    MIN_PASSES = 2

    def __init__(self, ctx):
        super().__init__(ctx)
        users = np.unique(ctx.tables["orders"].column("o_custkey").to_numpy())
        self.users = users
        self.last: dict = {}

    def _pass(self, op: int) -> dict:
        from pyspark import StorageLevel
        from pyspark.ml.evaluation import RegressionEvaluator
        from pyspark.sql import functions as F

        from cqu_bigdata_recommender_system_for_movies_spark.ml.als import fit_als
        from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import (
            fold_in_user_factors,
        )
        from cqu_bigdata_recommender_system_for_movies_spark.tables import ratings

        spark, tr = self.spark, self.tr
        rng = np.random.default_rng([self.ctx.seed, op])
        n_hold = max(3, int(len(self.users) * self.HOLDOUT_SHARE))
        picked = rng.choice(self.users, size=n_hold + self.COHORT, replace=False)
        held = [int(u) for u in picked[:n_hold]]
        cohort = [int(u) for u in picked[n_hold:]]
        split_seed = int(rng.integers(0, 2**31 - 1))
        level = StorageLevel.MEMORY_AND_DISK

        with tr.span("tables.ratings"):
            r = (
                ratings(spark, self.ctx.data_dir)
                .select("user_id", "item_id", F.col("rating").cast("double").alias("rating"))
                .localCheckpoint(eager=True, storageLevel=level)
            )
        with tr.span("als.split"):
            known = r.filter(~F.col("user_id").isin(held))
            train, test = known.randomSplit([0.8, 0.2], seed=split_seed)
            train = train.localCheckpoint(eager=True, storageLevel=level)
            test = test.localCheckpoint(eager=True, storageLevel=level)
        with tr.span("als.fit"):
            model = fit_als(train)
        with tr.span("als.eval"):
            rmse = RegressionEvaluator(
                metricName="rmse", labelCol="rating", predictionCol="prediction"
            ).evaluate(model.transform(test))
        with tr.span("als.recommend"):
            cohort_df = spark.createDataFrame([(u,) for u in cohort], "user_id long")
            recs = model.recommendForUserSubset(cohort_df, 10).collect()
        with tr.span("foldin.solve"):
            factors = model.itemFactors.select(
                F.col("id").cast("long").alias("item_id"),
                F.transform("features", lambda v: v.cast("double")).alias("f"),
            )
            joined = (
                r.filter(F.col("user_id").isin(held))
                .join(factors, "item_id")
                .localCheckpoint(eager=True, storageLevel=level)
            )
            solved = fold_in_user_factors(joined).collect()
        return {
            "rmse": rmse,
            "recs": recs,
            "solved": solved,
            "joined": joined,
            "train": train,
            "cohort": cohort,
        }

    def warmup(self) -> None:
        self._pass(WARMUP_OP)

    def run(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        op = 0
        while True:
            with self.timed(f"pass{op}") as t:
                out = self._pass(op)
            self.last = out
            # items = ratings the fit trained on (counted outside the op)
            self.record(
                "pass",
                t["wall_s"],
                out["train"].count(),
                t,
                rmse=out["rmse"],
                foldin_rows=len(out["solved"]),
            )
            op += 1
            if time.perf_counter() >= t_end and op >= self.MIN_PASSES:
                break

    def check(self) -> list[str]:
        from cqu_bigdata_recommender_system_for_movies_spark.ml.foldin import REG

        out, bad = self.last, []
        if not 0 < out["rmse"] < 25:
            bad.append(f"rmse {out['rmse']} outside (0, 25)")
        catalog = {row[0] for row in out["train"].select("item_id").distinct().collect()}
        got_users = set()
        for row in out["recs"]:
            got_users.add(row["user_id"])
            items = [rec["item_id"] for rec in row["recommendations"]]
            scores = [rec["rating"] for rec in row["recommendations"]]
            if len(items) != min(10, len(catalog)) or len(set(items)) != len(items):
                bad.append(f"user {row['user_id']}: {len(items)} items, not 10 distinct")
            if any(b > a for a, b in zip(scores, scores[1:])):
                bad.append(f"user {row['user_id']}: scores increase")
            if not set(items) <= catalog:
                bad.append(f"user {row['user_id']}: items outside the catalog")
        trained = {
            row[0] for row in out["train"].select("user_id").distinct().collect()
        }
        if got_users != set(out["cohort"]) & trained:
            bad.append("top-10 users differ from the trained part of the cohort")
        # fold-in: re-solve every held-out user's ridge system in numpy
        rows = out["joined"].select("user_id", "rating", "f").collect()
        by_user: dict[int, list] = {}
        for u, rating, f in rows:
            by_user.setdefault(u, []).append((rating, f))
        solved = {u: np.array(x) for u, x in out["solved"]}
        if set(solved) != set(by_user):
            bad.append("fold-in users differ from the held-out users with ratings")
        for u, obs in by_user.items():
            y = np.array([f for _, f in obs])
            b = np.array([rt for rt, _ in obs])
            a = y.T @ y + REG * len(obs) * np.eye(y.shape[1])
            x = np.linalg.solve(a, y.T @ b)
            if u in solved and not np.allclose(solved[u], x, rtol=1e-6, atol=1e-8):
                bad.append(f"fold-in factor of user {u} differs from the reference")
                break
        return bad


# ---------------------------------------------------------------------------
# analytics_mix

# One pass, in this order: the flagship cold-start query and the heaviest
# registered query of each operators module named by the layer map ...
OPERATOR_QUERIES = (
    "cold_start_popular_items",  # relational
    "item_cooccurrence_topk",  # itemcf
    "lpa_communities",  # graph
    "ngram_jaccard_pairs",  # dedup
    "data_profile_summary",  # olap
    "rec_diversity_metrics",  # topk
    "hll_distinct_rollup",  # sketches
    "tfidf_top_terms",  # text
    "sessionize_events",  # windows
)
# ... then the registered streaming queries that load the real-time
# layers: the candidates loop (trigger loop, sharded interest fold,
# nearest-cell UDF, pruned scoring), the ANN index lifecycle (upserts,
# deletes, compaction) and ANN search over a vector-carrying index. Each
# starts a fresh stream and runs it to completion.
STREAMING_QUERIES = (
    "streaming_recommend_candidates",  # streaming.candidates
    "streaming_ann_index_delete",  # streaming.ann_index
    "streaming_ann_search",  # streaming.ann_search
)
ANALYTICS_QUERIES = OPERATOR_QUERIES + STREAMING_QUERIES


class AnalyticsMix(Workload):
    """One op = one pass, in fixed order, over registered queries: each
    is built through the registry and written to a noop sink (the
    streaming ones run their stream to completion while being built).

    The untimed warm-up pass runs the operator queries, so in the timed
    pass they run against warm caches (a long-lived analyst session).
    The streaming queries are not in the warm-up: each starts its stream
    once per run, inside the timed pass, as a stream is started once in
    a long-lived session (the run's time budget has no room for a second
    start; perfbench/README.md)."""

    name = "analytics_mix"
    sf = 0.002

    def __init__(self, ctx):
        super().__init__(ctx)
        wrap_layers(self.tr)

    def build(self) -> None:
        from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (
            all_queries,
        )

        with self.tr.span("registry.load"):
            self.queries = all_queries()
        self.last: dict = {}

    def _pass(self, names=ANALYTICS_QUERIES) -> tuple[dict, dict]:
        """(query -> DataFrame, query -> wall seconds) for one pass."""
        out, walls = {}, {}
        for name in names:
            fn = self.queries[name]
            module = fn.__module__.rsplit(".", 1)[-1]
            t0 = time.perf_counter()
            with self.tr.span("registry.build", query=name, module=module):
                df = fn(self.spark, self.ctx.data_dir)
            with self.tr.span("registry.exec", query=name, module=module):
                df.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t0
            out[name] = df
        return out, walls

    def warmup(self) -> None:
        _, self.extra["warmup_query_s"] = self._pass(OPERATOR_QUERIES)

    def run(self, seconds: float) -> None:
        t_end = time.perf_counter() + seconds
        op = 0
        while True:
            with self.timed(f"pass{op}") as t:
                self.last, walls = self._pass()
            warm = set(self.extra["warmup_query_s"]) if op == 0 else set(walls)
            self.record(
                "pass",
                t["wall_s"],
                len(ANALYTICS_QUERIES),
                t,
                query_s=walls,
                query_warm={q: q in warm for q in walls},
            )
            op += 1
            if time.perf_counter() >= t_end:
                break

    def check(self) -> list[str]:
        """Collect the last timed pass's DataFrames and compare each with
        its registered DuckDB oracle on the generated tables."""
        import duckdb

        from cqu_bigdata_recommender_system_for_movies_spark.plans.registry import (
            all_oracles,
        )

        oracles = all_oracles()
        con = duckdb.connect()
        bad = []
        try:
            for name in self.ctx.table_names:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{self.ctx.data_dir}/{name}.parquet')"
                )
            for name, df in self.last.items():
                rows = [tuple(r) for r in df.collect()]
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                problem = compare_rows(df.columns, rows, cols, res.fetchall())
                if problem:
                    bad.append(f"{name}: {problem}")
        finally:
            con.close()
        return bad


def _canon_value(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def compare_rows(spark_cols, spark_rows, duck_cols, duck_rows) -> str | None:
    """The registry's parity rule: same column names, same row count,
    same order-insensitive values with floats compared bit for bit."""
    if sorted(spark_cols) != sorted(duck_cols):
        return f"columns {spark_cols} vs {duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"row count {len(spark_rows)} vs {len(duck_rows)}"

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(_canon_value(r[i]) for i in order) for r in rows)

    if canon(spark_rows, spark_cols) != canon(duck_rows, duck_cols):
        return "values differ"
    return None


# Engine functions the traced run wraps from outside, so that each call
# gets a span: (module, attribute) -> span name. Each module resolves the
# function through its own globals at call time, so replacing the module
# attribute reaches every call; ann_search imported apply_index_batch by
# name, so its copy is wrapped too. (The per-batch scoring functions of
# the candidates and search loops only build a plan, so their cost is
# read from the streaming progress instead; see layers.py.)
LAYER_WRAPS = {
    ("streaming.ann_index", "apply_index_batch"): "ann.append",
    ("streaming.ann_search", "apply_index_batch"): "ann.append",
    ("streaming.ann_index", "compact_index_table"): "ann.compact",
}


def wrap_layers(tracer) -> None:
    """Put a span around every call of the functions in LAYER_WRAPS (a
    traced run only; the untraced run calls the engine unchanged)."""
    if not tracer.enabled:
        return
    for (mod, attr), name in LAYER_WRAPS.items():
        module = importlib.import_module(f"{PKG}.{mod}")
        fn = getattr(module, attr)

        def timed(*args, _fn=fn, _name=name, **kwargs):
            with tracer.span(_name):
                return _fn(*args, **kwargs)

        setattr(module, attr, timed)


WORKLOADS = {w.name: w for w in (OfflineRecs, AnalyticsMix)}

