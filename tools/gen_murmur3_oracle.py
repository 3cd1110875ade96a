"""Generate the DuckDB oracle for the `murmur3` query.

The query hashes `p_name` for p_partkey <= 50 (seed 9001, divisor 7).  The
hash is deterministic, so the oracle is a VALUES list of the expected
(p_partkey, h0, h1, mod) rows.  Expected values come from the *scalar*
pure-Python spec implementation (`functions/murmur3.py:murmur3_x64_128`,
pytest-verified against the public MurmurHash3 reference vectors) — a
different code path from the vectorized numpy batch the Spark UDF runs, so
this genuinely cross-checks the production kernel.

Usage: python tools/gen_murmur3_oracle.py [sf_dir]   # prints the SQL
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128  # noqa: E402

SEED = 9001
DIVISOR = 7


def to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    print(oracle_sql(sf_dir))


def oracle_sql(sf_dir: str) -> str:
    """The VALUES oracle for the tables under ``sf_dir``."""
    rows = duckdb.sql(
        f"SELECT p_partkey, p_name FROM read_parquet('{sf_dir}/part.parquet')"
        " WHERE p_partkey <= 50 ORDER BY p_partkey"
    ).fetchall()
    vals = []
    for pk, name in rows:
        h1, h2 = murmur3_x64_128(name.encode("utf-8"), SEED)
        mod = ((h2 << 64) | h1) % DIVISOR
        vals.append(f"({pk}, {to_signed(h1)}, {to_signed(h2)}, {mod})")
    body = ",\n  ".join(vals)
    return "SELECT * FROM (VALUES\n  " + body + "\n) t(p_partkey, h0, h1, mod)"


if __name__ == "__main__":
    main()
