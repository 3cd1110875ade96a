"""Arrow-vectorized Spark UDFs over the murmur kernel — the engine's analog of
the reference's ``hash.MurmurHash3`` Pig UDF (``pig/hash/MurmurHash3.java:45``):
128-bit result (h0, h1) plus optional modulo of the unsigned 128-bit value,
strings UTF-8 encoded first (``:179``), null/empty → null (``:168-181``).

This is the engine's one MurmurHash3 path into Spark plans: the theta sketch
hashes every value type through ``murmur3_h1_ordered``, and
``register_sql_functions`` registers the UDFs the Column API builds, so each
body exists once.  They are ``arrow_udf``s that dispatch on the Arrow type of
the batch: an integral column reaches the 8-byte kernel as int64 values plus
its validity bitmap.  A pandas UDF would see a nullable ``long`` batch as
float64 and hash the float instead.

Double canonicalization follows the DataSketches update(double) contract
(``theta/DataToSketchTest.java:195-199``): -0.0 hashes as +0.0.  NaN is
treated as null (no update) — a deliberate deviation from the reference,
which hashes NaN as one value: the engine's pandas paths cannot tell a SQL
NULL double from NaN, so both follow Pig's null-datum no-op rule.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf

from datasketches_pig_spark.functions.murmur3 import (
    murmur3_bytes_batch,
    murmur3_long_batch,
)

SIGN_FLIP = np.uint64(1) << np.uint64(63)


def _hash_array(arr: pa.Array, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Hash one Arrow batch by its type: integral and boolean values as their
    8-byte little-endian int64, floating values as their 8-byte float64,
    strings as UTF-8, binary as is, anything else as the UTF-8 of its
    ``str()``.  Returns (h1, h2, valid) with h1/h2 uint64."""
    t = arr.type
    if pa.types.is_floating(t):
        d = arr.cast(pa.float64()).fill_null(np.nan).to_numpy()
        valid = ~np.isnan(d)
        h1, h2 = murmur3_long_batch(np.where(d == 0.0, 0.0, d).view(np.int64), seed)
        return h1, h2, valid
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        valid = arr.is_valid().to_numpy(zero_copy_only=False)
        h1, h2 = murmur3_long_batch(arr.cast(pa.int64()).fill_null(0).to_numpy(), seed)
        return h1, h2, valid
    if t in (pa.string(), pa.large_string(), pa.binary(), pa.large_binary()):
        vals = arr.cast(pa.large_binary()).to_pylist()
    else:
        vals = [None if v is None else str(v).encode("utf-8") for v in arr.to_pylist()]
    return murmur3_bytes_batch(vals, seed)


def _h1_udf(seed: int, ordered: bool):
    flip = SIGN_FLIP if ordered else np.uint64(0)

    @arrow_udf("long")
    def _udf(arr: pa.Array) -> pa.Array:
        h1, _, valid = _hash_array(arr, seed)
        return pa.array((h1 ^ flip).view(np.int64), mask=~valid)

    return _udf


def _h128_udf(seed: int, divisor: int | None):
    if divisor is not None and not (0 < divisor <= 2**31 - 1):
        # mod is a 32-bit struct field; a larger divisor would make every
        # batch fail at runtime, so refuse it when the plan is built
        raise ValueError(f"murmur3_128: divisor must be in (0, 2^31-1], got {divisor}")

    @arrow_udf("struct<h0: long, h1: long, mod: int>")
    def _udf(arr: pa.Array) -> pa.Array:
        h1, h2, valid = _hash_array(arr, seed)
        if divisor:
            # (h2·2^64 + h1) mod d in uint64: every term stays below 2^63
            d = np.uint64(divisor)
            mod = ((h2 % d) * np.uint64((1 << 64) % divisor) + h1 % d) % d
            mod = pa.array(mod.astype(np.int32), mask=~valid)
        else:
            mod = pa.nulls(len(arr), pa.int32())
        return pa.StructArray.from_arrays(
            [
                pa.array(h1.view(np.int64), mask=~valid),
                pa.array(h2.view(np.int64), mask=~valid),
                mod,
            ],
            names=["h0", "h1", "mod"],
        )

    return _udf


def murmur3_h1(col, seed: int = 9001) -> Column:
    """Column UDF: first 64 bits of murmur3-128, as signed int64 (null for
    null/empty input)."""
    return _h1_udf(seed, ordered=False)(col)


def murmur3_h1_ordered(col, seed: int = 9001) -> Column:
    """Like murmur3_h1 but with the sign bit flipped, so signed int64 ordering
    equals unsigned uint64 ordering — the representation the KMV/theta sketch
    layer stores (bottom-k by unsigned hash via plain ORDER BY)."""
    return _h1_udf(seed, ordered=True)(col)


def murmur3_128(col, seed: int = 9001, divisor: int | None = None) -> Column:
    """Full reference-parity UDF: (h0 long, h1 long, mod int) struct; ``mod``
    is the unsigned 128-bit value modulo ``divisor`` (null if no divisor) —
    the LSH band→bucket assignment primitive (``pig/hash/MurmurHash3.java:85-101``)."""
    return _h128_udf(seed, divisor)(col)


def register_sql_functions(
    spark, prefix: str = "ds_", seed: int = 9001, divisor: int | None = None
) -> list[str]:
    """Register the hash UDF family for ``spark.sql(...)`` callers — the
    Spark-SQL analog of the reference's Pig-script surface: Pig binds the
    seed at DEFINE time (``DEFINE MurmurHash3
    datasketches.pig.hash.MurmurHash3('9001')``) and scripts then call the
    bound name; this binds seed/divisor at registration the same way.

    Only the murmur family needs registration: every other operator here is
    either plain relational SQL already (aggregations, set algebra,
    windows) or a DataFrame-level operator with its own API.  Registered
    (default prefix ``ds_``):

    * ``ds_murmur3_h1(expr)``         → long (first 64 bits, null on empty)
    * ``ds_murmur3_h1_ordered(expr)`` → long (sign-flipped: signed ORDER BY
      == unsigned hash order — the KMV/theta storage form)
    * ``ds_murmur3_128(expr)``        → struct<h0,h1,mod> (``mod`` is the
      128-bit value modulo ``divisor`` — the Pig UDF's bucket-assignment
      arg — or null when no divisor is bound)

    Returns the registered names.  An out-of-range divisor raises before
    anything is registered.
    """
    udfs = {
        f"{prefix}murmur3_h1": _h1_udf(seed, ordered=False),
        f"{prefix}murmur3_h1_ordered": _h1_udf(seed, ordered=True),
        f"{prefix}murmur3_128": _h128_udf(seed, divisor),
    }
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return list(udfs)
