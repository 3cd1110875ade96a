"""Replicate the driver's correctness gate: run every queries() entry and its
oracle_sql() on the same parquet tables at sf0.01, compare row count, schema
(column names), and a value hash over column-name-sorted, row-sorted output.

The queries run in a stock-configured session (``stock_session``: ANSI on,
AQE partition coalescing on, 200 shuffle partitions), which is what a
caller's plain Spark 4 session looks like; the test suite covers sessions
built by ``get_spark``.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _type_class(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def type_mismatches(s_cols, s_rows, o_cols, o_rows):
    """Per-column value-type classes that differ between Spark and oracle."""

    def classes(cols, rows):
        out = {}
        for i, c in enumerate(cols):
            seen = {_type_class(r[i]) for r in rows} - {None}
            out[c] = seen
        return out

    sc, oc = classes(s_cols, s_rows), classes(o_cols, o_rows)
    bad = []
    for c in sc:
        if sc[c] and oc.get(c) and sc[c] != oc[c]:
            bad.append(f"{c}: spark={sorted(sc[c])} oracle={sorted(oc[c])}")
    return "; ".join(bad)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def stock_session(spark):
    """A new session on ``spark``'s context with every SQL conf the context
    was built with unset, so each reads Spark's default: ANSI on, AQE
    partition coalescing on, 200 shuffle partitions, and so on."""
    stock = spark.newSession()
    for key, _ in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and stock.conf.isModifiable(key):
            stock.conf.unset(key)
    return stock


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table under ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_query(spark, con, fn, sql: str | None, sf_dir: str) -> tuple[str, str]:
    """Run one query and its oracle.  Returns ``("ok", rows)``,
    ``("rows-only", rows)`` when there is no oracle, or ``("fail", why)``."""
    try:
        sdf = fn(spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
    except Exception as e:  # noqa: BLE001
        return "fail", f"spark error: {str(e)[:300]}"
    if sql is None:
        return "rows-only", f"{len(s_rows)} rows"
    try:
        # Fetch via pandas: DuckDB HUGEINT becomes float64 here (as it
        # would for any pandas-based harness), whereas fetchall() would
        # hand back a Python int and hide the type drift.
        o_df = con.execute(sql).df()
        o_cols = list(o_df.columns)
        o_rows = [
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else (v.item() if hasattr(v, "item") else v)
                for v in row
            )
            for row in o_df.itertuples(index=False, name=None)
        ]
    except Exception as e:  # noqa: BLE001
        return "fail", f"oracle error: {str(e)[:300]}"
    problems = []
    if sorted(s_cols) != sorted(o_cols):
        problems.append(f"schema {sorted(s_cols)} vs {sorted(o_cols)}")
    else:
        # Dtype parity: a gate that canonicalizes by type may distinguish
        # int 5 from float 5.0 (DuckDB HUGEINT -> pandas float64), so a
        # type-class mismatch is a latent hash failure even when our own
        # %.6g formatting collapses the difference.
        tmis = type_mismatches(s_cols, s_rows, o_cols, o_rows)
        if tmis:
            problems.append(f"dtype {tmis}")
    if len(s_rows) != len(o_rows):
        problems.append(f"rows {len(s_rows)} vs {len(o_rows)}")
    if not problems:
        sh, oh = value_hash(s_cols, s_rows), value_hash(o_cols, o_rows)
        if sh != oh:
            problems.append(f"value-hash {sh} vs {oh}")
    if problems:
        return "fail", "; ".join(problems)
    return "ok", f"{len(s_rows)} rows"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from datasketches_pig_spark.session import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = stock_session(get_spark("oracle-check"))
    con = duckdb_views(sf_dir)

    counts = {"ok": 0, "fail": 0, "rows-only": 0}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        verdict, detail = check_query(spark, con, fn, oracles.get(name), sf_dir)
        counts[verdict] += 1
        print(f"{verdict:<9} {name}: {detail}")

    print(
        f"\n{counts['ok']} passed, {counts['fail']} failed, "
        f"{counts['rows-only']} rows-only"
    )
    if counts["fail"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
