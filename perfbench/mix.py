"""registry_mix: seven registry rows over the sf0.1 test tables.

The tables the rows read (customer documents embeddings events orders)
are copied from the repository's sf0.1 test data into `perfbench/data/`
(sf0.01 for the benchmark's smoke runs); each run copies them into its own
directory, so nothing a row writes beside its input stays behind. The
seed only shuffles the row order of each pass.

Each row is executed the way `bench.py` executes it: build the plan with
`REGISTRY[name].fn`, `count()` it, then `collect()` when it has at most
100,000 rows. One timed operation is a pass over all the rows in an order
the seed shuffles per pass. Every execution is compared with the row's
registry oracle SQL run by DuckDB over the same parquet files: column
names, row count, and the row multiset with columns ordered by name
(the comparison `tools/check_oracle.py` makes).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
import os
import random
import shutil
from contextlib import nullcontext

import duckdb

from .harness import clock

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# four cheap rows of bench.py's shared-8 anchor; two rows ROADMAP names as
# next targets (sketch jobs inside the plan builder; route + encode); one
# streaming row, which seeds an epoch-committed BM25 segment store and
# maintains it through an availableNow epoch before serving it
SHARED = ["hourly_kpis", "dedup_exact", "upsert", "left_join_fill"]
TAIL = ["auto_join_strategy", "ivf_pq_index_append"]
STREAMING = ["streaming_bm25_maintain_segmented"]
ROWS = SHARED + TAIL + STREAMING
COLLECT_LIMIT = 100_000


def _norm(v):
    """One comparable form per value across Spark rows and DuckDB tuples."""
    if v is None:
        return (0, "")
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, decimal.Decimal)):
        return (1, decimal.Decimal(v))
    if isinstance(v, float):
        if math.isnan(v):
            return (2, "nan")
        return (1, decimal.Decimal(v))
    if isinstance(v, _dt.datetime):
        return (3, v.replace(tzinfo=None).isoformat())
    if isinstance(v, _dt.date):
        return (3, v.isoformat())
    if isinstance(v, (list, tuple)):
        return (4, tuple(_norm(x) for x in v))
    if isinstance(v, dict):
        return (5, tuple(sorted((str(k), _norm(x)) for k, x in v.items())))
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return (6, str(v))


def canon(columns: list[str], rows) -> tuple[list[str], list]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted(tuple(_norm(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], body


class Oracle:
    """Expected (columns, rows) per registry row, from DuckDB."""

    def __init__(self, sf_dir: str, names: list[str]):
        from s3_to_redshift_with_airflow_spark.plans import REGISTRY

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(sf_dir)):
                if f.endswith(".parquet"):
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
                    )
            self.expected = {}
            for name in names:
                cur = con.execute(REGISTRY[name].oracle)
                cols = [d[0] for d in cur.description]
                self.expected[name] = canon(cols, cur.fetchall())
        finally:
            con.close()

    def matches(self, name: str, columns: list[str], n: int, rows) -> bool:
        cols, body = self.expected[name]
        if sorted(columns) != cols or n != len(body):
            return False
        if rows is None:  # more than COLLECT_LIMIT rows: count-only, as bench.py
            return True
        return canon(columns, rows) == (cols, body)


class RegistryMix:
    def __init__(self, run, seed: int, sf: str):
        self.sf = os.path.join(run.data, sf)
        shutil.copytree(os.path.join(DATA, sf), self.sf, copy_function=shutil.copyfile)
        self.oracle = Oracle(self.sf, ROWS)
        self.order_rng = random.Random(seed)

    def execute(self, spark, name: str, tracer=None):
        """bench.py's execution of one row: build, count, collect when small.
        Returns (build_s, exec_s, n, rows or None, columns)."""
        from s3_to_redshift_with_airflow_spark.plans import REGISTRY

        span = tracer.span if tracer is not None else (lambda _name: nullcontext())
        t0 = clock()
        with span(f"plans.build:{name}"):
            df = REGISTRY[name].fn(spark, self.sf)
        t1 = clock()
        # df.count() is groupBy().count() collected; the traced run plans
        # that Dataset too, so its planning is not counted as execution
        cnt = tracer.plan(df, name) if tracer is not None else None
        with span(f"spark.exec:{name}"):
            n = df.count() if cnt is None else cnt.collect()[0][0]
            rows = df.collect() if n <= COLLECT_LIMIT else None
        return t1 - t0, clock() - t1, n, rows, df.columns


def setup(run, seed: int, small: bool) -> RegistryMix:
    return RegistryMix(run, seed, "sf0.01" if small else "sf0.1")


def pass_order(state: RegistryMix) -> list[str]:
    order = list(ROWS)
    state.order_rng.shuffle(order)
    return order
