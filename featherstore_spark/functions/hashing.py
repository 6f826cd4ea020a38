"""Cross-engine deterministic hashing primitives.

Every hash in this module is reproducible bit-for-bit in ANSI-ish SQL
(DuckDB), which is what lets the driver *value-check* the MinHash /
SimHash / LSH / IVF pipelines instead of trusting row counts — and it
pins signatures to the engine's own definition (md5 + integer
arithmetic), not to a library implementation detail (``pd.util
.hash_array``, numpy RNG stream) that silently changes under an upgrade
and would invalidate every stored signature.

The base primitive is the first 60 bits of md5 as a non-negative int64:
md5 is byte-identical everywhere (UTF-8 input), and 15 hex chars keep
the value inside the positive half of int64 so ``%``, ``*``, ``>>`` and
``&`` behave identically in Spark, DuckDB, and plain Python.  Derived
hash families (k-wise minhash permutations, Rademacher LSH hyperplanes)
are generated host-side with :mod:`hashlib` and inlined as literals into
BOTH the Spark plan and the SQL twin, so neither engine re-derives them.

Reference parity note: featherstore keys features by raw entity values
(/root/reference/pkg/core/model.go); it has no hashing layer.  This
module exists for the corpus-dedup/ANN operators that a 100 TB
training-data pipeline adds on top (SURVEY §2 '+' families).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: universal-hash modulus.  With h < 2^31 and
# a < 2^31 the product a*h < 2^62 stays inside int64 in every engine.
MERSENNE31 = (1 << 31) - 1


def md5_long60(col: Column | str) -> Column:
    """First 60 bits (15 hex chars) of md5(col) as a non-negative long.

    Spark: conv(substring(md5(x), 1, 15), 16, 10)::long
    DuckDB twin: ('0x' || substring(md5(x), 1, 15))::BIGINT
    Verified byte-identical across engines incl. multibyte UTF-8.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5_long60(expr: str) -> str:
    """DuckDB SQL twin of :func:`md5_long60` for an arbitrary expression."""
    return f"('0x'||substring(md5({expr}),1,15))::BIGINT"


def _host_md5_int(tag: str, nbytes: int = 8) -> int:
    """Host-side deterministic integer from a string tag (constant
    generator for coefficients/planes; never computed per-row)."""
    return int.from_bytes(hashlib.md5(tag.encode("utf-8")).digest()[:nbytes], "big")


def minhash_coeffs(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k pairwise-independent hash coefficients (a, b) for the one-hash
    minhash construction h_j(x) = (a_j * x + b_j) mod MERSENNE31, with
    a_j in [1, p-1] and b_j in [0, p-1].  Derived from md5 of a fixed
    tag — stable across library versions and inlinable into SQL."""
    out = []
    for j in range(k):
        a = (_host_md5_int(f"fs-minhash-a-{seed}-{j}") % (MERSENNE31 - 1)) + 1
        b = _host_md5_int(f"fs-minhash-b-{seed}-{j}") % MERSENNE31
        out.append((a, b))
    return out


def rademacher_planes(
    n_planes: int, dim: int, table: int = 0, seed: int = 42
) -> list[list[int]]:
    """``n_planes`` random-sign (±1) hyperplanes of dimension ``dim``.

    Rademacher projections are a standard drop-in for Gaussian LSH
    hyperplanes (same collision-probability guarantees up to constants,
    Achlioptas 2001), and the ±1 entries make the projection a pure
    signed sum — exact dyadic arithmetic that both engines evaluate
    identically when the addition order is fixed."""
    return [
        [
            1 if (_host_md5_int(f"fs-lshplane-{seed}-{table}-{p}-{d}") & 1) == 0 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def signed_sum(vec_col: Column | str, signs: list[int]) -> Column:
    """Left-associated signed sum  ±v[1] ±v[2] ... ±v[dim]  over an array
    column (the Rademacher projection), as a fold over zip_with with a
    ±1.0 literal array.

    Bitwise parity with the SQL twin (``sql_signed_sum``): the fold adds
    left-to-right exactly like the SQL chain, x*(+1.0)=x and x*(-1.0)=-x
    are exact in IEEE754, and adding -x equals subtracting x — so both
    engines emit identical doubles.  A fold (one ~10-node expression) and
    not an explicit element_at chain: dim-sized chains times n_tables x
    n_planes overflow janino's 64 KB codegen method limit and stall
    Catalyst on 3000-node trees.  zip_with children are an attribute and
    a literal — evaluated once per row (no per-element re-eval trap)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sarr = F.array(*[F.lit(1.0 if s > 0 else -1.0) for s in signs])
    prods = F.zip_with(c, sarr, lambda x, s: x * s)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xx_round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P64_2) & _M64
    return (_rotl64(acc, 31) * _P64_1) & _M64


def _xx_merge(acc: int, val: int) -> int:
    acc ^= _xx_round(0, val)
    return (acc * _P64_1 + _P64_4) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Pure-python XXH64 of ``data``, returned as Spark's SIGNED long.

    Seed 42 is what ``F.xxhash64`` uses, so
    ``pmod(xxhash64(entity.encode()), n_buckets)`` reproduces the
    engine's ``p_bucket`` partition value DRIVER-SIDE — the serving layer
    (sources/flight.py) uses this to open exactly one ``p_bucket=…``
    directory for a point lookup instead of scanning the table.  For a
    LongType entity pack little-endian (``struct.pack('<q', v)``) — the
    byte layout Spark hashes.  Verified against ``F.xxhash64`` in
    tests/test_serving.py."""
    import struct

    n = len(data)
    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        i = 0
        while i <= n - 32:
            w = struct.unpack_from("<4Q", data, i)
            v1, v2, v3, v4 = (
                _xx_round(v1, w[0]), _xx_round(v2, w[1]),
                _xx_round(v3, w[2]), _xx_round(v4, w[3]),
            )
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = _xx_merge(h, v)
    else:
        h = (seed + _P64_5) & _M64
        i = 0
    h = (h + n) & _M64
    while i <= n - 8:
        (w,) = struct.unpack_from("<Q", data, i)
        h ^= _xx_round(0, w)
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        i += 8
    if i <= n - 4:
        (w,) = struct.unpack_from("<I", data, i)
        h ^= (w * _P64_1) & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P64_5) & _M64
        h = (_rotl64(h, 11) * _P64_1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def entity_bucket(entity, n_buckets: int) -> int:
    """The engine's ``p_bucket`` value for an entity key, computed
    driver-side: pmod(xxhash64(key), n_buckets) — string keys hash their
    UTF-8 bytes, int keys their 8-byte little-endian layout (matching
    ``plans/checkpoint.bucket_col`` / ``sources/io.with_partition_columns``)."""
    import struct

    data = entity.encode("utf-8") if isinstance(entity, str) else struct.pack("<q", int(entity))
    return xxhash64(data) % n_buckets


def sql_signed_sum(vec_expr: str, signs: list[int]) -> str:
    """DuckDB twin of :func:`signed_sum` (same left-assoc order)."""
    parts = ["0.0"]
    for d, s in enumerate(signs):
        parts.append(f"{'+' if s > 0 else '-'} {vec_expr}[{d + 1}]")
    return "(" + " ".join(parts) + ")"
