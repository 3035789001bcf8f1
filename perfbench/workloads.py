"""The benchmark's three workloads.

Each workload is a closed loop with one client thread against the engine's
public entry points.  A workload splits into

- ``prepare`` (untimed, before the session exists): seeded inputs and the
  expected results every operation is checked against;
- ``setup`` (timed as ``setup_s``): what a user pays before the first
  query can run — catalog load, managed-table creation;
- ``pass_ops`` / ``run_op``: one pass is a seeded list of operations; the
  run makes a first pass, then warm passes until the time is up;
- ``check`` (untimed): compare one operation's output with its expected
  result.  A mismatch or an exception counts the operation as failed.

The per-workload figures named in ``extras`` (``line_p50_ms``,
``commit_p90_ms``, ``write_amp`` ...) are printed beside the gated metrics.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import subprocess
import sys
import time

import numpy as np

from datagen import write_catalog

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


def rows_digest(rows) -> str:
    canon = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def _render(value) -> str:
    """The REPL's cell rendering (reference text format)."""
    if value is None:
        return ""
    if isinstance(value, float) and value.is_integer():
        return str(int(value))
    return str(value)


def _cells_equal(a: str, b: str) -> bool:
    if a == b:
        return True
    try:
        fa, fb = float(a), float(b)
    except ValueError:
        return False
    return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)


class Workload:
    name = ""
    # A first pass plus at least one warm pass, whatever --seconds says.
    min_passes = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        # Recorded in every result, so a run names its inputs.
        self.sizes: dict = {}

    def prepare(self) -> None: ...

    def setup(self, spark) -> None: ...

    def pass_ops(self, n: int) -> list[dict]:
        raise NotImplementedError

    def run_op(self, spark, op: dict):
        raise NotImplementedError

    def check(self, op: dict, result) -> str | None:
        return None

    def latency_ops(self, ops: list[dict]) -> list[dict]:
        """The operations whose latency makes ``op_p50_ms``."""
        return ops

    def extras(self, spark, ops: list[dict], passes: list[list[dict]]) -> dict:
        return {}


# ---------------------------------------------------------------- repl


class ReplInteractive(Workload):
    """The reference's own contract: load once, answer a seeded mix of
    mini-language and SQL lines through ``repl.dispatch`` then
    ``repl.format_result`` (the REPL loop body)."""

    name = "repl_interactive"
    # At least 104 lines a run, 78 of them warm.
    min_passes = 4

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.sf = 0.001 if ctx.tiny else 0.01
        self.n_lines = 10 if ctx.tiny else 26
        self.sizes = {"sf": self.sf, "default_table": "lineitem"}
        self.lines: list[str] = []
        self.expected: list[tuple[str, list[tuple[str, ...]]]] = []

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.dir = os.path.join(self.ctx.data_dir, f"sf{self.sf}")
        self.sizes["rows"] = write_catalog(self.dir, self.sf, self.ctx.seed)
        rng = np.random.default_rng(self.ctx.seed + 1)
        li = pq.read_table(
            os.path.join(self.dir, "lineitem.parquet"),
            columns=["l_orderkey", "l_partkey", "l_extendedprice"],
        ).to_pandas()
        orderkeys = li.l_orderkey.to_numpy()
        partkeys = li.l_partkey.to_numpy()
        prices = np.sort(li.l_extendedprice.to_numpy())
        n_cust = self.sizes["rows"]["customer"]
        # A fixed share of each line kind, so every seed has the same mix;
        # the seed draws the order and every literal.
        shares = {"eq_key": 0.2, "eq_hidden": 0.15, "eq_part": 0.15, "gt_range": 0.15,
                  "cross_type": 0.05, "sql_group": 0.15, "sql_join": 0.15}
        kinds = [k for k, share in shares.items()
                 for _ in range(max(1, round(share * self.n_lines)))]
        for kind in rng.permutation(kinds):
            if kind == "eq_key":
                k = int(rng.choice(orderkeys))
                line = (f"PROJECT l_orderkey, l_partkey, l_quantity, l_returnflag "
                        f"FILTER l_orderkey = {k}")
            elif kind == "eq_hidden":
                k = int(rng.choice(orderkeys))
                line = f"PROJECT l_partkey, l_suppkey, l_extendedprice FILTER l_orderkey = {k}"
            elif kind == "eq_part":
                p = int(rng.choice(partkeys))
                line = f"PROJECT l_orderkey, l_linenumber, l_discount FILTER l_partkey = {p}"
            elif kind == "gt_range":
                top = int(rng.integers(90, 111))  # about 100 rows each
                x = prices[max(0, len(prices) - top - 1)]
                line = f"PROJECT l_orderkey, l_extendedprice FILTER l_extendedprice > {x}"
            elif kind == "cross_type":
                col = rng.choice(["l_quantity", "l_orderkey", "l_discount"])
                line = f"PROJECT l_orderkey FILTER {col} = x{int(rng.integers(0, 99))}"
            elif kind == "sql_group":
                year = int(rng.integers(1995, 2002))
                line = (
                    "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                    "sum(l_quantity) AS qty, avg(l_discount) AS disc FROM lineitem "
                    f"WHERE l_shipdate < DATE '{year}-0{int(rng.integers(1, 10))}-01' "
                    "GROUP BY l_returnflag, l_linestatus"
                )
            else:
                c = int(rng.integers(0, max(1, n_cust - 20)))
                line = (
                    "SELECT o.o_orderpriority, count(*) AS n, sum(l.l_quantity) AS qty "
                    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
                    f"WHERE o.o_custkey BETWEEN {c} AND {c + 20} "
                    "GROUP BY o.o_orderpriority"
                )
            self.lines.append(line)
        self.sizes["lines_per_pass"] = len(self.lines)
        con = _duck(self.dir)
        for line in self.lines:
            self.expected.append(_duck_expected(con, line))
        con.close()

    def setup(self, spark) -> None:
        from simple_query_engine_spark.sources.catalog import load_tables

        self.df = load_tables(spark, self.dir)["lineitem"]

    def pass_ops(self, n: int) -> list[dict]:
        return [{"kind": "line", "index": i} for i in range(len(self.lines))]

    def run_op(self, spark, op: dict):
        from simple_query_engine_spark import repl

        result = repl.dispatch(spark, self.lines[op["index"]], self.df)
        return repl.format_result(result)

    def check(self, op: dict, text: str) -> str | None:
        header, rows = self.expected[op["index"]]
        lines = text.split("\n")
        if lines[0] != header:
            return f"header {lines[0]!r} != {header!r}"
        got = sorted(tuple(line.split(",")) for line in lines[2:])
        want = sorted(rows)
        if len(got) != len(want):
            return f"{len(got)} rows != {len(want)}"
        for g, w in zip(got, want):
            if len(g) != len(w) or not all(map(_cells_equal, g, w)):
                return f"row {g} != {w}"
        return None

    def extras(self, spark, ops, passes) -> dict:
        warm = [op["ms"] for p in passes[1:] for op in p]
        out = {
            "line_samples": len(warm),
            "line_p50_ms": percentile(warm, 50),
            "line_p90_ms": percentile(warm, 90),
        }
        if self.ctx.cold_leg:
            out["first_row_s"] = self._cold_first_row()
        return out

    def _cold_first_row(self) -> float:
        """Process start of ``python -m simple_query_engine_spark.repl`` to
        its first printed result row."""
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(self.ctx.cpus),
                   SPARK_GRAFT_DRIVER_MEM=self.ctx.heap)
        line = next(l for l, (_, rows) in zip(self.lines, self.expected)
                    if rows and l.startswith("PROJECT"))
        start = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, "-m", "simple_query_engine_spark.repl", self.dir, "lineitem"],
            cwd=self.ctx.root, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        elapsed = float("nan")
        try:
            proc.stdin.write(line + "\nexit\n")
            proc.stdin.flush()
            seen_separator = False
            for out_line in proc.stdout:
                if seen_separator:
                    elapsed = time.perf_counter() - start
                    break
                seen_separator = out_line.startswith("---")
            proc.stdin.close()
            proc.stdout.read()
            proc.wait(timeout=60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        return elapsed


def _duck_expected(con, line: str) -> tuple[str, list[tuple[str, ...]]]:
    if line.startswith("SELECT"):
        rel = con.sql(line)
        cols = rel.columns
        rows = rel.fetchall()
    else:
        body = line[len("PROJECT "):]
        cols_part, cond = body.split(" FILTER ")
        cols = [c.strip() for c in cols_part.split(",")]
        col, op, literal = cond.split(" ")
        if literal.startswith("x"):
            rows = []  # a literal the column's type cannot hold matches nothing
        else:
            rows = con.sql(
                f"SELECT {', '.join(cols)} FROM lineitem WHERE {col} {op} {literal}"
            ).fetchall()
    return ",".join(cols), [tuple(_render(v) for v in row) for row in rows]


# ------------------------------------------------------------ pipeline

# Four of the build-heavy, oracle-checked entries: derived signature and
# shingle copies (minhash), a session-materialized graph build (pagerank),
# a vector scan and a plain text aggregate.  A first pass of these fits
# the run budget; the rest of the family is left to bench.py.
PIPELINE_ENTRIES = (
    "dedup_minhash_lsh",
    "graph_pagerank_neardup",
    "sim_topk_bruteforce",
    "text_word_freq",
)


class PipelineBatch(Workload):
    """Build-heavy catalog entries at the DuckDB-oracle scale, in seeded
    order: one first pass (fresh private temp dir, so every derived copy
    is rebuilt) then warm passes."""

    name = "pipeline_batch"

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.sf = 0.001 if ctx.tiny else 0.01
        entries = PIPELINE_ENTRIES[-2:] if ctx.tiny else PIPELINE_ENTRIES
        rng = np.random.default_rng(ctx.seed + 2)
        self.order = [str(e) for e in rng.permutation(entries)]
        self.sizes = {"sf": self.sf, "entries": self.order}
        self.digests: dict[str, str] = {}

    def prepare(self) -> None:
        self.dir = os.path.join(self.ctx.data_dir, f"sf{self.sf}")
        self.sizes["rows"] = write_catalog(self.dir, self.sf, self.ctx.seed)
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = _duck(self.dir)
        self.oracle = {}
        for name in self.order:
            rel = con.sql(oracles[name])
            self.oracle[name] = (list(rel.columns), list(rel.types), rel.fetchall())
        con.close()

    def setup(self, spark) -> None:
        from simple_query_engine_spark.sources.catalog import load_tables

        load_tables(spark, self.dir)
        import __spark_entry__

        self.queries = __spark_entry__.queries()

    def pass_ops(self, n: int) -> list[dict]:
        return [{"kind": "entry", "entry": name} for name in self.order]

    def run_op(self, spark, op: dict):
        ctx = self.ctx
        with ctx.phase(op, "operators.build", "build"):
            df = self.queries[op["entry"]](spark, self.dir)
        if ctx.trace:
            with ctx.phase(op, "operators.plan", "plan"):
                df._jdf.queryExecution().executedPlan()
        with ctx.phase(op, "operators.exec", "exec"):
            rows = [tuple(r) for r in df.collect()]
        return df, rows

    def check(self, op: dict, result) -> str | None:
        from tools.check_correctness import compare, compare_types

        df, rows = result
        name = op["entry"]
        digest = rows_digest(rows)
        if name not in self.digests:
            cols, types, duck_rows = self.oracle[name]
            problem = compare_types(df.schema, cols, types) or compare(
                rows, duck_rows, df.columns, cols
            )
            if problem is None:
                self.digests[name] = digest
            return problem
        if digest != self.digests[name]:
            return "warm pass differs from the first pass"
        return None


# ---------------------------------------------------------------- lake


class LakeIngest(Workload):
    """Writes beside reads: seeded MERGE upserts (range-local and scattered
    keys), inserts and ``delete_where`` on a ``ManagedTable`` built from
    ``orders``, each followed by a read-after-write aggregate, plus one
    streaming catalog entry."""

    name = "lake_ingest"
    WRITES = ("merge_range", "merge_scatter", "insert", "delete")

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.sf = 0.001 if ctx.tiny else 0.01
        self.batch_rows = 20 if ctx.tiny else 200
        # The streaming entry with the smallest run cost: a windowed count
        # over the events stream.  stream_ivf_ingest (about 12 s cold) and
        # stream_components_incremental (about 15 s warm) do not fit the run.
        self.stream_entries = ("stream_tumbling_counts",)
        self.sizes = {"sf": self.sf, "batch_rows": self.batch_rows,
                      "writes_per_pass": list(self.WRITES),
                      "stream_entries": list(self.stream_entries)}
        self.rng = np.random.default_rng(ctx.seed + 3)
        self.user_bytes = 0
        self.stream_digest: dict[str, str] = {}

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.dir = os.path.join(self.ctx.data_dir, f"sf{self.sf}")
        self.sizes["rows"] = write_catalog(self.dir, self.sf, self.ctx.seed)
        orders = pq.read_table(os.path.join(self.dir, "orders.parquet")).to_pandas()
        self.template = orders
        # The model: key -> total price, mirrored from every committed write.
        self.model = dict(zip(orders.o_orderkey.tolist(), orders.o_totalprice.tolist()))
        self.next_key = int(orders.o_orderkey.max()) + 1
        self.batch_dir = os.path.join(self.ctx.run_dir, "batches")
        os.makedirs(self.batch_dir, exist_ok=True)
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = _duck(self.dir)
        self.oracle = {}
        for name in self.stream_entries:
            rel = con.sql(oracles[name])
            self.oracle[name] = (list(rel.columns), list(rel.types), rel.fetchall())
        con.close()
        self.n_setups = 0

    def setup(self, spark) -> None:
        from simple_query_engine_spark.sources.catalog import load_tables
        from simple_query_engine_spark.sources.managed import ManagedTable

        self.n_setups += 1
        orders = load_tables(spark, self.dir)["orders"]
        self.table_path = os.path.join(self.ctx.run_dir, f"lake{self.n_setups}")
        self.table = ManagedTable.create(
            spark, self.table_path, orders, stats_columns=["o_orderkey"]
        )
        import __spark_entry__

        self.queries = __spark_entry__.queries()

    def pass_ops(self, n: int) -> list[dict]:
        ops = []
        for kind in self.rng.permutation(self.WRITES):
            ops.append({"kind": str(kind).split("_")[0], "write": str(kind)})
        for name in self.stream_entries:
            ops.append({"kind": "stream", "entry": name})
        return ops

    def _batch(self, keys: np.ndarray):
        """Write a source batch (existing keys get a new price, fresh keys
        are inserts) as parquet; return its path."""
        import pandas as pd

        n = len(keys)
        rows = self.template.sample(n, replace=True, random_state=self.rng.integers(1 << 31))
        batch = pd.DataFrame({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rows.o_custkey.to_numpy(),
            "o_orderstatus": rows.o_orderstatus.to_numpy(),
            "o_totalprice": np.round(self.rng.uniform(1000, 500000, n), 2),
            "o_orderdate": rows.o_orderdate.to_numpy(),
            "o_orderpriority": rows.o_orderpriority.to_numpy(),
        })
        path = os.path.join(self.batch_dir, f"b{len(os.listdir(self.batch_dir))}.parquet")
        batch.to_parquet(path, index=False)
        self.user_bytes += os.path.getsize(path)
        return path, batch

    def _table_bytes(self) -> int:
        total = 0
        for dirpath, _, files in os.walk(self.table_path):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    def run_op(self, spark, op: dict):
        from pyspark.sql import functions as F

        if op["kind"] == "stream":
            with self.ctx.phase(op, "operators.build", "build"):
                df = self.queries[op["entry"]](spark, self.dir)
            with self.ctx.phase(op, "operators.exec", "exec"):
                return df, [tuple(r) for r in df.collect()]
        before = self._table_bytes()
        live = np.fromiter(self.model.keys(), dtype=np.int64)
        n = self.batch_rows
        write = op["write"]
        t0 = time.perf_counter()
        with self.ctx.phase(op, "bench.commit", "commit"):
            if write in ("merge_range", "merge_scatter"):
                if write == "merge_range":
                    start = int(self.rng.integers(0, max(1, self.next_key - n)))
                    keys = np.arange(start, start + n)
                else:
                    keys = self.rng.choice(self.next_key + n, n, replace=False)
                path, batch = self._batch(keys)
                source = spark.read.schema(self.table.read().schema).parquet(path)
                self.table.merge(
                    source, on="o_orderkey",
                    update_assignments={"o_totalprice": F.col("s.o_totalprice")},
                )
                self.model.update(zip(batch.o_orderkey.tolist(), batch.o_totalprice.tolist()))
            elif write == "insert":
                keys = np.arange(self.next_key, self.next_key + n)
                path, batch = self._batch(keys)
                self.table.insert(spark.read.schema(self.table.read().schema).parquet(path))
                self.model.update(zip(batch.o_orderkey.tolist(), batch.o_totalprice.tolist()))
            else:
                lo = int(self.rng.choice(live))
                hi = lo + n // 4
                self.table.delete_where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))
                for key in range(lo, hi):
                    self.model.pop(key, None)
        self.next_key = max(self.next_key, int(max(self.model)) + 1)
        op["commit_ms"] = (time.perf_counter() - t0) * 1e3
        op["bytes_added"] = self._table_bytes() - before
        op["files"] = len(self.table._files(self.table.current_version()))
        t1 = time.perf_counter()
        with self.ctx.phase(op, "bench.read", "read"):
            row = self.table.read().agg(
                F.count("*"), F.sum("o_totalprice"), F.sum("o_orderkey")
            ).collect()[0]
        op["read_ms"] = (time.perf_counter() - t1) * 1e3
        return tuple(row)

    def check(self, op: dict, result) -> str | None:
        if op["kind"] == "stream":
            from tools.check_correctness import compare, compare_types

            df, rows = result
            name = op["entry"]
            digest = rows_digest(rows)
            if name not in self.stream_digest:
                cols, types, duck_rows = self.oracle[name]
                problem = compare_types(df.schema, cols, types) or compare(
                    rows, duck_rows, df.columns, cols
                )
                if problem is None:
                    self.stream_digest[name] = digest
                return problem
            return None if digest == self.stream_digest[name] else "stream output changed"
        count, price, keysum = result
        want = (len(self.model), sum(self.model.values()), sum(self.model))
        if count != want[0] or keysum != want[2]:
            return f"read-after-write {(count, keysum)} != model {(want[0], want[2])}"
        if not math.isclose(price, want[1], rel_tol=1e-9):
            return f"read-after-write price sum {price} != model {want[1]}"
        return None

    def latency_ops(self, ops):
        return [op for op in ops if op["kind"] != "stream"]

    def extras(self, spark, ops, passes) -> dict:
        warm = [op for p in passes[1:] for op in p]
        writes = [op for op in warm if op["kind"] != "stream"]
        streams = [op["ms"] for op in warm if op["kind"] == "stream"]
        all_writes = [op for op in ops if op["kind"] != "stream"]
        return {
            "write_samples": len(writes),
            "commit_p50_ms": percentile([op["commit_ms"] for op in writes], 50),
            "commit_p90_ms": percentile([op["commit_ms"] for op in writes], 90),
            "read_p50_ms": percentile([op["read_ms"] for op in writes], 50),
            "read_p90_ms": percentile([op["read_ms"] for op in writes], 90),
            "stream_pass_s": statistics.median(streams) / 1e3,
            "write_amp": (
                sum(op["bytes_added"] for op in all_writes if op["bytes_added"] > 0)
                / max(1, self.user_bytes)
            ),
        }


WORKLOADS = {w.name: w for w in (ReplInteractive, PipelineBatch, LakeIngest)}
