"""The workloads' ops, their seeded sequence, and the lakehouse stream.

Every workload is a single closed-loop client: the next op starts only
after the previous one returned.  A workload is a list of *rounds*; a
round is a seeded permutation of a fixed multiset of ops, so every
round has the same cost mix whatever the seed, and a run measures
whole rounds (see ``run.measure``).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

from gen import PRIORITIES

PKG = "morphl_model_user_search_intent_spark"

# analytics-mix: (registry key, ops per round), Zipf-skewed by rank
# (weights ~1/rank).  Ops after a query's first one in a round repeat it
# through the plan-cached QuerySpec.fn; the cache is cleared at the
# start of every round, so 4 of 12 ops per round are repeats.
ANALYTICS = (
    ("q_agg_hash", 4),
    ("q_sql_agg", 2),
    ("q_join_multiway", 1),
    ("q_json_funcs", 1),
    ("q_tpch_q01", 1),
    ("q_win_rank", 1),
    ("q_sessionize", 1),
    ("q_stream_watermark", 1),
)

# Executions of each query before the window.  With the JIT stopped at
# C1 (see run.pin_env) one execution leaves 1-2 s of compilation CPU in
# a ~10 s window; a second one costs ~8 s of set-up and left as much.
WARM_RUNS = 1

# llm-curation: one fresh build (QuerySpec.fresh) of each per round.
LLM = (
    "q_dedup_prefix",
    "q_sim_knn",
    "q_sim_index_serve",
    "q_corpus_c4",
    "q_text_wordcount",
    "q_udf_map_arrow",
    "q_ml_intent_classifier",
)

# Operator modules a query may come from; each is a layer of its own.
MODULES = (
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "operators.events",
    "operators.tpch",
    "functions.scalar",
    "sql_surface",
    "streaming.ops",
    "text.analysis",
    "llm.dedup",
    "llm.similarity",
    "llm.index",
    "llm.curation",
    "udf.udfs",
    "ml.pipeline",
)


@dataclass(frozen=True)
class QueryOp:
    name: str
    module: str
    cached: bool  # plan-cached QuerySpec.fn, else QuerySpec.fresh


def module_of(spec) -> str:
    fn = spec.raw or spec.fn
    return fn.__module__.removeprefix(PKG + ".")


def query_rounds(workload: str, registry, seed: int):
    """Endless seeded rounds of QueryOps for a query workload."""
    if workload == "analytics-mix":
        bag = [n for n, k in ANALYTICS for _ in range(k)]
        cached = True
    else:
        bag = list(LLM)
        cached = False
    ops = {n: QueryOp(n, module_of(registry[n]), cached) for n in set(bag)}
    rng = np.random.default_rng([seed, 1])
    while True:
        yield [ops[bag[i]] for i in rng.permutation(len(bag))]


def distinct_queries(workload: str) -> list[str]:
    if workload == "analytics-mix":
        return [n for n, _ in ANALYTICS]
    return list(LLM)


# ---- the lakehouse read/write stream -------------------------------------

# One round: every commit kind, a snapshot read after each commit, and
# the periodic compaction + history retirement.  Every run stages the
# table with one untimed round and measures the next one after its
# query window.
LAKE_ROUND = (
    "merge", "read", "append", "read", "delete", "read",
    "optimize", "read", "vacuum",
)
COMMITS = ("merge", "append", "delete", "optimize")


LAKE_ROWS = 150_000  # orders rows the table starts from: all of them
LAKE_FILES = 8  # data files the table is created / optimized into
MERGE_KEYS = 1_500  # keys a merge touches (one contiguous range)
MERGE_INSERTS = 150  # new keys a merge inserts
APPEND_ROWS = 500  # rows per append
DELETE_KEYS = 300  # keys per delete


LAKE_COLS = "o_orderkey bigint, o_custkey bigint, o_orderpriority string, price double"


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(root)
        for f in fs
    )


class LakeTable:
    """One ACID table under churn, mirrored in DuckDB.

    Every commit that succeeds in the engine is replayed on an
    in-memory DuckDB copy with the same source rows, so any snapshot
    read can be checked for row count and price sum."""

    def __init__(self, spark, sf_dir: str, root: str, seed: int):
        import duckdb

        self.spark, self.root = spark, root
        self.rng = np.random.default_rng([seed, 2])
        self.next_key = LAKE_ROWS
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 1")
        self.duck.execute(
            "CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderpriority, "
            "o_totalprice AS price FROM read_parquet(?) WHERE o_orderkey < ?",
            [os.path.join(sf_dir, "orders.parquet"), LAKE_ROWS],
        )
        self.sf_dir = sf_dir
        self.bytes_per_row = 0.0
        self.commit_bytes: list[int] = []
        self.space_amp: list[float] = []

    def create(self, acid, io) -> None:
        from pyspark.sql import functions as F

        shutil.rmtree(self.root, ignore_errors=True)
        base = (
            io.table(self.spark, self.sf_dir, "orders")
            .where(F.col("o_orderkey") < LAKE_ROWS)
            .select(
                "o_orderkey", "o_custkey", "o_orderpriority",
                F.col("o_totalprice").alias("price"),
            )
            .repartitionByRange(LAKE_FILES, "o_orderkey")
        )
        acid.create_table(self.spark, self.root, base)
        self.bytes_per_row = dir_bytes(self.root) / LAKE_ROWS

    # -- seeded sources (pandas, built outside the op's timing) --------
    def _rows(self, keys: np.ndarray):
        import pandas as pd

        n = len(keys)
        return pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": self.rng.integers(0, 15_000, n).astype(np.int64),
            "o_orderpriority": np.array(PRIORITIES)[self.rng.integers(0, 5, n)],
            "price": np.round(self.rng.uniform(1000.0, 500000.0, n), 2),
        })

    def _fresh_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n)
        self.next_key += n
        return keys

    def source(self, kind: str):
        """Pandas frame for a commit of ``kind`` (None for optimize)."""
        if kind == "merge":
            lo = int(self.rng.integers(0, LAKE_ROWS - MERGE_KEYS))
            keys = np.concatenate([
                np.arange(lo, lo + MERGE_KEYS), self._fresh_keys(MERGE_INSERTS)
            ])
            pdf = self._rows(keys)
            pdf["_delete"] = keys % 13 == 0
            return pdf
        if kind == "append":
            return self._rows(self._fresh_keys(APPEND_ROWS))
        if kind == "delete":
            import pandas as pd

            keys = self.rng.choice(self.next_key, DELETE_KEYS, replace=False)
            return pd.DataFrame({"o_orderkey": keys.astype(np.int64)})
        return None

    def commit(self, acid, kind: str, pdf) -> None:
        """The engine call for one commit (the timed part)."""
        spark, root = self.spark, self.root
        if kind == "merge":
            acid.merge_table(spark, root, spark.createDataFrame(pdf), "o_orderkey")
        elif kind == "append":
            acid.append_table(spark, root, spark.createDataFrame(pdf, LAKE_COLS))
        elif kind == "delete":
            acid.delete_from_table(
                spark, root, spark.createDataFrame(pdf), "o_orderkey"
            )
        elif kind == "optimize":
            acid.optimize_table(spark, root, target_files=LAKE_FILES)
        else:
            raise ValueError(kind)

    def replay(self, kind: str, pdf) -> None:
        """Apply a committed op to the DuckDB mirror."""
        d = self.duck
        if kind == "merge":
            d.register("src", pdf)
            d.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
            d.execute(
                "INSERT INTO t SELECT o_orderkey, o_custkey, o_orderpriority, "
                "price FROM src WHERE NOT _delete"
            )
            d.unregister("src")
        elif kind == "append":
            d.register("src", pdf)
            d.execute("INSERT INTO t SELECT * FROM src")
            d.unregister("src")
        elif kind == "delete":
            d.register("src", pdf)
            d.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
            d.unregister("src")

    def expected(self) -> tuple[int, float]:
        n, s = self.duck.execute("SELECT count(*), sum(price) FROM t").fetchone()
        return int(n), float(s)

    def record_space(self, rows: int) -> None:
        self.space_amp.append(dir_bytes(self.root) / (self.bytes_per_row * rows))


def snapshot_matches(got: tuple[int, float], want: tuple[int, float]) -> bool:
    return got[0] == want[0] and abs(got[1] - want[1]) <= 1e-9 * max(1.0, abs(want[1]))
