"""``headline_queries``: ``bench.py``'s 18 headline queries over seeded
synthetic tables (``perfbench/tables.py``), a cold pass then warm passes.

One timed operation is one query: build its DataFrame and collect it.  A
pass is the queries in ``bench.py`` order; its time is the sum of theirs.
``warm_wall_s`` is the sum of each query's median over the warm passes.
The timed passes leave out the three compressed-media queries
(``TRACED_ONLY``): a run that held all 18 cold and warm would not fit the
benchmark's time budget.  The traced run executes those three after the
others, cold and then warm, so their per-layer numbers are still reported.
Outputs are checked, untimed, against ``oracle_sql()`` run through DuckDB on
the same parquet files: same column names, row count and
``tools/check_oracle.value_hash``.  Five oracles are VALUES constants
generated from the repository's own test tables, not computed from the
tables; those queries must instead return the same row count and value hash
on every execution of the run.
"""

from __future__ import annotations

import json
import math
import sys
import time

from perfbench import tables as T
from perfbench.harness import median
from perfbench.tracing import EventLog

GEN_REPEATS = 3
# oracles that are VALUES constants, not functions of the tables
CONSTANT_ORACLES = frozenset(
    {"dedup_simhash", "doc_fingerprint", "dedup_jpeg", "dedup_adpcm", "dedup_mjpeg"}
)
TRACED_ONLY = ("dedup_jpeg", "dedup_adpcm", "dedup_mjpeg")
TINY_QUERIES = ("theta_distinct", "dedup_exact", "doc_fingerprint")


def headline_queries() -> list[str]:
    from bench import HEADLINE_QUERIES

    return list(HEADLINE_QUERIES)


def _oracle_rows(df) -> tuple[list[str], list[tuple]]:
    """DuckDB result frame -> (columns, rows) in the form the oracle check
    compares (NaN as None, numpy scalars as Python values)."""
    rows = [
        tuple(
            None
            if v is None or (isinstance(v, float) and math.isnan(v))
            else (v.item() if hasattr(v, "item") else v)
            for v in row
        )
        for row in df.itertuples(index=False, name=None)
    ]
    return list(df.columns), rows


def compute_oracles(sf_dir: str, names: list[str]) -> dict[str, tuple[list[str], int, str]]:
    """(sorted columns, row count, value hash) per table-derived oracle."""
    import duckdb

    from datasketches_pig_spark.queries import registry
    from tools.check_oracle import value_hash

    reg = registry()
    con = duckdb.connect()
    try:
        for t in T.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            if name in CONSTANT_ORACLES:
                continue
            cols, rows = _oracle_rows(con.execute(reg[name][1]).df())
            out[name] = (sorted(cols), len(rows), value_hash(cols, rows))
        return out
    finally:
        con.close()


class HeadlineQueries:
    name = "headline_queries"
    # warm_wall_s sums each query's median over the timed warm passes, so a
    # stall in one query of one pass does not move it
    warmup, min_warm = 0, 2

    size = f"orders={T.N_ORDERS},lineitem={T.N_LINEITEM},events={T.N_EVENTS},documents={T.N_DOCS}"

    def __init__(self, ctx):
        self.ctx = ctx
        names = list(TINY_QUERIES) if ctx.tiny else headline_queries()
        self.queries = [q for q in names if q not in TRACED_ONLY]
        self.extra = [q for q in names if q in TRACED_ONLY]
        self.first_hash: dict[str, tuple[int, str]] = {}
        self.warm_passes: list[dict[str, float]] = []

    @property
    def n_items(self) -> int:
        return len(self.queries)

    @staticmethod
    def probe() -> dict:
        return T.fingerprint(T.build(0))

    def prepare(self) -> tuple[float, dict]:
        times = []
        for i in range(GEN_REPEATS):
            out = self.ctx.env.data_dir / f"gen{i}"
            t0 = time.perf_counter()
            tables = T.build(self.ctx.seed)
            T.write(tables, out)
            times.append(time.perf_counter() - t0)
        self.sf_dir = str(out)
        self.oracles = compute_oracles(self.sf_dir, self.queries + self.extra)
        return median(times), T.fingerprint(tables)

    def _check(self, name: str, out) -> list[str]:
        from tools.check_oracle import value_hash

        cols, rows = out
        got = (len(rows), value_hash(cols, rows))
        if name not in self.oracles:
            first = self.first_hash.setdefault(name, got)
            if got != first:
                return [f"rows/hash {got} differ from the first execution {first}"]
            return []
        o_cols, o_n, o_hash = self.oracles[name]
        problems = []
        if sorted(cols) != o_cols:
            problems.append(f"schema {sorted(cols)} vs oracle {o_cols}")
        if got[0] != o_n:
            problems.append(f"rows {got[0]} vs oracle {o_n}")
        elif got[1] != o_hash:
            problems.append(f"value hash {got[1]} vs oracle {o_hash}")
        return problems

    def _run_query(self, name: str, label: str, traced: bool) -> float:
        from datasketches_pig_spark.queries import registry

        fn, spark = registry()[name][0], self.ctx.spark

        def run():
            df = fn(spark, self.sf_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        def check(out):
            return self._check(name, out)

        if not traced:
            return self.ctx.ledger.run(f"{name}.{label}", run, check)[0]
        span = f"query.{name}.cold" if label == "cold" else f"query.{name}"
        with self.ctx.tracer.span(span):
            return self.ctx.ledger.run(f"{name}.{label}", run, check)[0]

    def execute(self, label: str, traced: bool) -> float:
        """One pass; with ``traced`` each query runs in its own span."""
        times = {q: self._run_query(q, label, traced) for q in self.queries}
        if label == "warm" and not traced:
            self.warm_passes.append(times)
        print(f"perfbench: {label} pass {json.dumps({q: round(t, 2) for q, t in times.items()})}",
              file=sys.stderr, flush=True)
        return sum(times.values())

    def warm_wall(self, times: list[float]) -> float:
        """Sum over the queries of each one's median over the timed passes
        (``times`` are those passes' sums)."""
        passes = self.warm_passes[-len(times):]
        return sum(median(p[q] for p in passes) for q in self.queries)

    def warm_pair(self, i: int, queries: list[str] | None = None) -> tuple[float, float]:
        """A traced and a plain execution of every query, the traced one
        first on every other query; returns the two pass sums."""
        traced = plain = 0.0
        for j, q in enumerate(self.queries if queries is None else queries):
            if (i + j) % 2 == 0:
                traced += self._run_query(q, "warm", True)
                plain += self._run_query(q, "warm", False)
            else:
                plain += self._run_query(q, "warm", False)
                traced += self._run_query(q, "warm", True)
        return traced, plain

    def traced_extra(self) -> None:
        for q in self.extra:
            self._run_query(q, "cold", True)
        self.warm_pair(0, self.extra)

    def layer_metrics(self, log: EventLog) -> dict[str, float]:
        tr = self.ctx.tracer
        m = {}
        for name in self.queries + self.extra:
            cold = tr.named(f"query.{name}.cold")
            warm = tr.named(f"query.{name}")
            stats = [log.for_subtree(tr, s) for s in warm]
            m[f"query.{name}.cold_s"] = median(s.wall for s in cold)
            m[f"query.{name}.warm_s"] = median(s.wall for s in warm)
            m[f"query.{name}.tasks"] = median(g.tasks for g in stats)
            m[f"query.{name}.shuffle_bytes"] = median(g.shuffle_write_bytes for g in stats)
        return m
