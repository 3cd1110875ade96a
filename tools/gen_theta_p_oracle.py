"""Generate the DuckDB oracle for the `theta_p` query (sampling
probability p < 1 — the last §2.1 ctor argument,
``theta/DataToSketch.java:129-135``).

Independent scalar replication: per (o_orderstatus, distinct o_custkey),
spec murmur3 over the key's 8-byte little-endian form (the UDF's int64
rule); a key is retained iff its unsigned h1 < p·2^64 (initial theta = p);
the under-k estimate is retained / p.  Deterministic because the murmur
values are — this exercises the p-filter and the p-scaled estimator in
exact-checkable form.

Usage: python tools/gen_theta_p_oracle.py [sf_dir]   # prints the SQL
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datasketches_pig_spark.functions.murmur3 import murmur3_x64_128  # noqa: E402

P = 0.25
K = 4096
SEED = 9001


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    print(oracle_sql(sf_dir))


def oracle_sql(sf_dir: str) -> str:
    """The VALUES oracle for the tables under ``sf_dir``."""
    rows = duckdb.sql(
        f"SELECT DISTINCT o_orderstatus, o_custkey FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    ).fetchall()
    thr = int(P * 2.0**64)
    retained: dict[str, int] = {}
    for flag, key in rows:
        h1, _ = murmur3_x64_128(int(key).to_bytes(8, "little", signed=True), SEED)
        if h1 < thr:
            retained[flag] = retained.get(flag, 0) + 1
    ests = {f: n / P for f, n in sorted(retained.items())}
    for f, e in ests.items():
        assert retained[f] < K, "oracle assumes the under-k (exact-region) branch"
    body = ",\n  ".join(f"('{f}', {round(e, 1)})" for f, e in ests.items())
    return (
        "SELECT o_orderstatus, CAST(estimate AS DOUBLE) AS estimate FROM (VALUES\n  "
        + body
        + "\n) t(o_orderstatus, estimate)"
    )


if __name__ == "__main__":
    main()
