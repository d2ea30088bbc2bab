"""The benchmark's workloads: operation lists, seeded inputs, checks.

A workload turns ``--seed`` into a list of operations for one pass and
knows how to verify each operation's result.  ``query`` runs registry
queries (``QueryDef.build`` plus a noop write) and seeded SQL;
``table_rw`` drives one ``SnapshotTable`` with seeded reads and writes
and checks every read against the state the benchmark keeps.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd

# Query groups: the relational group is the scan/join/aggregate/shuffle
# path, where execution dominates; the build and stream groups spend
# most of their time inside QueryDef.build() (eager jobs, py4j calls,
# Arrow UDF workers, bounded-replay micro-batches).
RELATIONAL_QUERIES = [
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q9",
    "q_merge_join", "q_window_rank", "q_sort_ext",
]
BUILD_QUERIES = ["q_snapshot_ann"]
STREAM_QUERIES = ["q_stream_watermark"]
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                "embeddings"]

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB",
}
_S = "s"
PER_LAYER_UNITS = {
    "workload.build_s": _S, "workload.exec_s": _S,
    "workload.build_jobs": "count", "workload.exec_jobs": "count",
    "py4j.calls": "count", "py4j.s": _S,
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_s": _S,
    "spark.executor_cpu_s": _S, "spark.gc_s": _S, "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.input_mb": "MB",
    "spark.core_util": "ratio",
    "pyworker.cpu_s": _S, "pyworker.rows_in": "count",
    "catalog.s": _S, "operators.calls": "count", "operators.s": _S,
    "functions.calls": "count", "functions.s": _S, "sql.s": _S, "parser.s": _S,
    "llm.calls": "count", "llm.s": _S, "plans.ann.s": _S,
    **{f"snapshots.{op}.{k}": ("count" if k == "calls" else _S)
       for op in ("append", "merge", "delete_where", "read", "compact", "vacuum")
       for k in ("calls", "s")},
    **{f"protocol.{op}.calls": "count"
       for op in ("put_if_absent", "put", "read", "list", "stat", "delete")},
    "protocol.s": _S, "protocol.bytes_written": "bytes", "protocol.bytes_read": "bytes",
    "protocol.cas_ok_ratio": "ratio", "snapshots.files_read_ratio": "ratio",
    "storage.bytes_written": "bytes",
    "streaming.batches": "count", "streaming.no_data_batches": "count",
    "streaming.trigger_s": _S, "streaming.add_batch_s": _S,
    "streaming.commit_offsets_s": _S, "streaming.wal_commit_s": _S,
    "streaming.planning_s": _S, "streaming.state_rows": "count",
    "streaming.input_rows": "count",
    "table.read_p50_s": _S, "table.read_tail_s": _S, "table.write_p50_s": _S,
    "table.write_tail_s": _S, "table.space_amp": "ratio",
    "trace.pass_s": _S, "trace.overhead": "ratio", "trace.reconcile_err": "ratio",
    "trace.spans": "count",
    "python.gc_s": _S,
    "setup.session_s": _S, "setup.ready_s": _S, "setup.warmup_s": _S,
}


@dataclass
class Op:
    """One operation.  Only ``run`` is timed: ``prepare`` makes its
    inputs before the timer starts and ``check`` compares its outcome
    with the expected state (and updates that state) after it stops, so
    the benchmark's own bookkeeping is not counted as the program's."""

    name: str
    kind: str  # "query", "read" or "write"
    run: Callable  # (ctx, inputs, verify: bool) -> outcome
    prepare: Callable | None = None  # (ctx) -> inputs
    check: Callable | None = None  # (inputs, outcome) -> error message or None;
    # without it the outcome is the error message (or None)


# ---------------------------------------------------------------------------
# registry and seeded-SQL queries
# ---------------------------------------------------------------------------

def _sort_ext(spark, sf_dir):
    """Full multi-column asc/desc sort of lineitem (bench.py's q_sort_ext)."""
    from dbt_lab_spark.catalog import Catalog
    from dbt_lab_spark.operators.scan import scan
    from dbt_lab_spark.operators.sort import sort

    li = scan(spark, Catalog(sf_dir), "lineitem",
              ["l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity", "l_shipdate"])
    return sort(li, ["l_extendedprice", "l_shipdate", "l_orderkey"], [False, True, True])


def seeded_sql(rng: random.Random) -> list[tuple[str, str, str, str]]:
    """(name, processor, engine SQL, DuckDB SQL) with seeded constants."""
    day = f"1998-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    year = rng.randint(1995, 2000)
    disc = rng.choice([0.02, 0.03, 0.04, 0.05])
    seg = rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prio = rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    price = rng.randint(100, 400) * 1000
    bal = rng.randint(0, 8000)
    size = rng.randint(5, 45)
    region = rng.randint(0, 4)
    lineitem_agg = (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
        "MAX(l_quantity) AS max_qty FROM lineitem "
        f"WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' AND l_discount >= {disc} "
        "GROUP BY l_returnflag, l_linestatus"
    )
    orders_join = (
        "SELECT o_orderpriority, COUNT(o_orderkey) AS n_orders, MAX(o_totalprice) AS max_price "
        "FROM orders, customer WHERE o_custkey = c_custkey "
        f"AND c_mktsegment = '{seg}' AND o_totalprice > {price}.0 "
        "GROUP BY o_orderpriority HAVING COUNT(o_orderkey) > 0"
    )
    orders_year = (
        "SELECT o_orderstatus, COUNT(*) AS n, MIN(o_totalprice) AS min_price, "
        "MAX(o_totalprice) AS max_price FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-01-01 00:00:00' "
        f"AND o_orderpriority = '{prio}' GROUP BY o_orderstatus"
    )
    part_brands = (
        "SELECT p_brand, COUNT(*) AS n_parts, MAX(p_retailprice) AS max_price FROM part "
        f"WHERE p_size <= {size} GROUP BY p_brand"
    )
    supplier_nations = (
        "SELECT n_name, COUNT(s_suppkey) AS n_suppliers, MAX(s_acctbal) AS max_bal "
        "FROM supplier, nation WHERE s_nationkey = n_nationkey "
        f"AND n_regionkey = {region} GROUP BY n_name"
    )

    def strict(where: str, where_ansi: str) -> tuple[str, str]:
        # the reference grammar (double-quoted literals, alias-qualified
        # columns) and the same query in ANSI SQL for DuckDB
        cols = ("{n}n_name AS nation, COUNT({c}c_custkey) AS n_customers, "
                "MIN({c}c_acctbal) AS min_bal, MAX({c}c_acctbal) AS max_bal")
        eng = (f"SELECT {cols.format(n='n.', c='c.')} FROM customer c, nation n "
               f"WHERE c.c_nationkey = n.n_nationkey AND {where} GROUP BY n.n_name")
        duck = (f"SELECT {cols.format(n='', c='')} FROM customer, nation "
                f"WHERE c_nationkey = n_nationkey AND {where_ansi} GROUP BY n_name")
        return eng, duck

    by_segment = strict(f'c.c_mktsegment = "{seg}" AND c.c_acctbal > {bal}',
                        f"c_mktsegment = '{seg}' AND c_acctbal > {bal}")
    by_balance = strict(f"c.c_acctbal < {bal - 900}", f"c_acctbal < {bal - 900}")
    return [
        ("sql_lineitem_agg", "sql", lineitem_agg, lineitem_agg),
        ("sql_orders_join", "sql", orders_join, orders_join),
        ("sql_orders_year", "sql", orders_year, orders_year),
        ("sql_part_brands", "sql", part_brands, part_brands),
        ("sql_supplier_nations", "sql", supplier_nations, supplier_nations),
        ("strict_nation_segment", "strict", *by_segment),
        ("strict_nation_balance", "strict", *by_balance),
    ]


def _query_op(name: str, build: Callable, oracle: str | None) -> Op:
    def run(ctx, inputs, verify: bool):
        tr = ctx.tracer
        with tr.span("workload.build"):
            ctx.mark("build")
            df = build(ctx.spark, ctx.data_dir)
        ctx.mark("exec")
        if not verify:
            with tr.span("workload.exec"):
                df.write.format("noop").mode("overwrite").save()
            return None
        if oracle is None:
            n = df.count()
            return None if n > 0 else "empty result"
        from tests.oracle import compare

        rep = compare(df, ctx.duck(), oracle)
        if rep["ok"]:
            return None
        return "oracle mismatch: " + str({k: rep[k] for k in rep if k != "ok"})[:300]

    return Op(name, "query", run)


class QueryWorkload:
    """Registry queries plus seeded SQL, in a seeded order."""

    pass_seconds = 12.0  # nominal pass time at sf0.01 on 4 cores
    trace_verify = False  # the checking pass is not part of the traced traffic

    def __init__(self, seed: int) -> None:
        from dbt_lab_spark.workload import all_queries

        builders = {q.name: (q.build, q.oracle) for q in all_queries()}
        builders["q_sort_ext"] = (_sort_ext, None)
        rng = random.Random(seed)
        ops = [_query_op(n, *builders[n])
               for n in RELATIONAL_QUERIES + BUILD_QUERIES + STREAM_QUERIES]
        ops += [_query_op(name, _sql_builder(proc, sql), duck)
                for name, proc, sql, duck in seeded_sql(rng)]
        rng.shuffle(ops)
        self.ops = ops

    def prepare(self, ctx) -> None:
        """Make the workload's catalog tables (and CBO statistics) ready."""
        from dbt_lab_spark.catalog import Catalog

        cat = Catalog(ctx.data_dir)
        for t in QUERY_TABLES:
            cat.table(ctx.spark, t)

    def pass_ops(self) -> list[Op]:
        return self.ops

    def verify_ops(self) -> list[Op]:
        """After timing: every operation once more, each result compared
        with its oracle."""
        return self.ops

    def summary(self, ctx) -> dict:
        return {}

    def storage_bytes(self) -> int | None:
        return None


def _sql_builder(proc: str, sql: str) -> Callable:
    def build(spark, sf_dir):
        from dbt_lab_spark.catalog import Catalog

        if proc == "strict":
            from dbt_lab_spark.parser import StrictSqlProcessor

            return StrictSqlProcessor(spark, Catalog(sf_dir)).process_query(sql)
        from dbt_lab_spark.sql import SqlProcessor

        return SqlProcessor(spark, Catalog(sf_dir)).process_query(sql)

    return build


# ---------------------------------------------------------------------------
# table_rw: seeded traffic on one SnapshotTable
# ---------------------------------------------------------------------------

# The traffic is synthetic.  Only the key skew follows a published
# benchmark: YCSB's "latest" request distribution (Cooper et al., SoCC
# 2010), Zipfian with constant 0.99 over recency rank.  The other numbers
# are the benchmark's own, unverified against any real use of the table:
# a write share (5 commits in 14 operations) between YCSB's read-mostly
# (5%) and update-heavy (50%) mixes, batch sizes and a compaction cadence
# that make one run cross several checkpoints and compactions within its
# time budget, and one or more reads of every kind the table offers.
BASE_ROWS = 20_000
BATCH_ROWS = 2_000
MERGE_ROWS = 500
ZIPF_S = 0.99
# One pass: 5 commits (2 appends, 1 merge, 2 deletes) and 9 reads, in a
# seeded order; a compact follows every COMPACT_EVERY commits.
PASS_MIX = (["append"] * 2 + ["merge"] + ["delete"] * 2 +
            ["scan"] * 3 + ["between"] + ["point"] * 3 + ["version", "as_of"])
COMPACT_EVERY = 5
MOD = 1_000_003


def checksum(frame: pd.DataFrame) -> tuple[int, int, int, int]:
    """Order-independent checksum of (id, val) rows."""
    ids = frame["id"].to_numpy(np.int64)
    vals = frame["val"].to_numpy(np.int64)
    return (len(ids), int(ids.sum()), int(vals.sum()), int(((ids * 31 + vals) % MOD).sum()))


def _spark_checksum(df) -> tuple[int, int, int, int]:
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), F.sum("id"), F.sum("val"),
        F.sum(F.pmod(F.col("id") * 31 + F.col("val"), F.lit(MOD))),
    ).collect()[0]
    return tuple(int(v or 0) for v in row)


class TableWorkload:
    """Appends, Zipf-keyed merges, deletes, compactions and five kinds of
    read on one ``SnapshotTable``; the benchmark keeps the expected
    state in pandas and compares every read's checksum with it.

    Merges and deletes use deletion vectors (``mode="dv"``), so small
    directories and tombstones pile up between compactions and reads pay
    for them: read cost, write cost and space move against each other."""

    pass_seconds = 6.0  # nominal pass time on 4 cores
    trace_verify = True  # the vacuum is traced: snapshots.vacuum.*

    def __init__(self, seed: int, corrupt_expected: bool = False) -> None:
        self.seed = seed
        self.corrupt = corrupt_expected

    # -- state -----------------------------------------------------------
    def prepare(self, ctx) -> None:
        from dbt_lab_spark.plans.snapshots import SnapshotTable

        self.rng = np.random.default_rng(self.seed)
        self.root = os.path.join(ctx.work, "table_rw")
        shutil.rmtree(self.root, ignore_errors=True)
        self.table = SnapshotTable(self.root, stat_cols=["id"], bloom_cols=["id"])
        self.next_id = 0
        self.state = self._rows(self._new_ids(BASE_ROWS))
        v = self.table.commit(self._df(ctx, self.state))
        self.history: list[tuple[int, tuple, float]] = []
        self._record(v)
        self.commits_since_compact = 0

    def _new_ids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return ids

    def _rows(self, ids: np.ndarray) -> pd.DataFrame:
        """Rows with seeded ``grp`` and ``val`` for the given ids."""
        n = len(ids)
        return pd.DataFrame({
            "id": ids,
            "grp": self.rng.integers(0, 16, n).astype(np.int32),
            "val": self.rng.integers(0, 1_000_000, n).astype(np.int64),
            "note": [f"row-{i:08d}" for i in ids],
        })

    def _df(self, ctx, frame: pd.DataFrame):
        from pyspark.sql import types as T

        schema = T.StructType([
            T.StructField("id", T.LongType()), T.StructField("grp", T.IntegerType()),
            T.StructField("val", T.LongType()), T.StructField("note", T.StringType()),
        ])
        return ctx.spark.createDataFrame(frame, schema)

    def _record(self, version: int | None) -> None:
        if version is not None:
            self.history.append((version, checksum(self.state), time.time()))

    def _expect(self, value: tuple) -> tuple:
        return (value[0] + 1,) + value[1:] if self.corrupt else value

    def _check(self, got: tuple, want: tuple, what: str) -> str | None:
        want = self._expect(want)
        return None if got == want else f"{what}: checksum {got} != expected {want}"

    def _zipf_keys(self, n: int) -> np.ndarray:
        """``n`` distinct keys, Zipf(ZIPF_S) over recency rank: the newest
        id is the likeliest."""
        w = np.arange(1, self.next_id + 1, dtype=np.float64) ** -ZIPF_S
        ranks = self.rng.choice(self.next_id, size=n, replace=False, p=w / w.sum())
        return (self.next_id - 1 - ranks).astype(np.int64)

    # -- operations --------------------------------------------------------
    def _write(self, kind: str) -> Op:
        def prepare(ctx):
            if kind == "append":
                batch = self._rows(self._new_ids(BATCH_ROWS))
                return batch, self._df(ctx, batch)
            if kind == "merge":
                src = self._rows(self._zipf_keys(MERGE_ROWS))
                return src, self._df(ctx, src)
            if kind == "delete":
                return int(self.rng.integers(0, 16)), int(self.rng.integers(0, 200_000))
            return None

        def run(ctx, inputs, verify: bool):
            t = self.table
            if kind == "append":
                return t.append(inputs[1])
            if kind == "merge":
                return t.merge(ctx.spark, inputs[1], on=["id"], mode="dv")["version"]
            if kind == "delete":
                g, cut = inputs
                return t.delete_where(ctx.spark, f"grp = {g} AND val < {cut}", mode="dv")["version"]
            if kind == "compact":
                return t.compact(ctx.spark)
            t.vacuum(keep_last=1, grace_s=0.0)
            return None

        def check(inputs, version):
            st = self.state
            if kind == "append":
                self.state = pd.concat([st, inputs[0]], ignore_index=True)
            elif kind == "merge":
                src = inputs[0]
                self.state = pd.concat([st[~st["id"].isin(src["id"])], src], ignore_index=True)
            elif kind == "delete":
                g, cut = inputs
                self.state = st[~((st["grp"] == g) & (st["val"] < cut))].reset_index(drop=True)
            self._record(version)
            return None

        return Op(kind, "write", run, prepare, check)

    def _read(self, kind: str) -> Op:
        def prepare(ctx):
            if kind == "between":
                lo = int(self.rng.integers(0, max(self.next_id - 4000, 1)))
                return lo, lo + int(self.rng.integers(500, 4000))
            if kind == "point":
                return int(self._zipf_keys(1)[0])
            if kind in ("version", "as_of"):
                return self.history[int(self.rng.integers(0, len(self.history)))]
            return None

        def run(ctx, inputs, verify: bool):
            t, spark = self.table, ctx.spark
            if kind == "between":
                df = t.read(spark, between=("id", *inputs))
            elif kind == "point":
                df = t.read(spark, point=("id", inputs))
            elif kind == "version":
                df = t.read(spark, version=inputs[0])
            elif kind == "as_of":
                df = t.read(spark, as_of=inputs[2])
            else:  # scan, verify_head
                df = t.read(spark)
            if kind in ("between", "point"):
                ctx.defer(lambda: self._files_read(spark, df))
            return _spark_checksum(df)

        def check(inputs, got):
            st = self.state
            if kind == "between":
                lo, hi = inputs
                return self._check(got, checksum(st[(st["id"] >= lo) & (st["id"] <= hi)]),
                                   f"between {lo}..{hi}")
            if kind == "point":
                return self._check(got, checksum(st[st["id"] == inputs]), f"point {inputs}")
            if kind in ("version", "as_of"):
                return self._check(got, inputs[1], f"{kind} v{inputs[0]}")
            return self._check(got, checksum(st), kind)

        return Op(kind, "read", run, prepare, check)

    def pass_ops(self) -> list[Op]:
        kinds = list(PASS_MIX)
        self.rng.shuffle(kinds)
        ops = []
        for k in kinds:
            if k in ("append", "merge", "delete"):
                ops.append(self._write(k))
                self.commits_since_compact += 1
                if self.commits_since_compact >= COMPACT_EVERY:
                    ops.append(self._write("compact"))
                    self.commits_since_compact = 0
            else:
                ops.append(self._read(k))
        return ops

    def verify_ops(self) -> list[Op]:
        """After timing: a vacuum, then checked reads of what it left
        (every read before it was checked too)."""
        return [self._write("vacuum"), self._read("verify_head"),
                self._read("between"), self._read("point")]

    def _files_read(self, spark, df) -> float:
        live = len(self.table.read(spark).inputFiles())
        return len(df.inputFiles()) / max(1, live)

    def storage_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.root) for f in files
        )

    def summary(self, ctx) -> dict:
        """Bytes under the table root over the live rows' parquet bytes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        total = self.storage_bytes()
        live = os.path.join(ctx.work, "live.parquet")
        pq.write_table(pa.Table.from_pandas(self.state, preserve_index=False), live)
        live_bytes = os.path.getsize(live)
        return {
            "space_amp": total / live_bytes,
            "table_bytes": total,
            "live_bytes": live_bytes,
            "live_rows": len(self.state),
            "versions": len(self.history),
        }


def group_of(op_name: str) -> str:
    if op_name in BUILD_QUERIES:
        return "build"
    if op_name in STREAM_QUERIES:
        return "stream"
    return "relational"


def make(name: str, seed: int, corrupt_expected: bool = False):
    if name == "query":
        return QueryWorkload(seed)
    if name == "table_rw":
        return TableWorkload(seed, corrupt_expected)
    raise ValueError(f"unknown workload {name!r}")
