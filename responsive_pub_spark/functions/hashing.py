"""Portable deterministic hashing primitives.

Implemented as pure integer arithmetic (mod a 30-bit prime) so the SAME
function is expressible as both a Spark SQL expression and DuckDB ANSI SQL —
this is what lets every dedup / fingerprint operator have an exact
correctness oracle. All intermediates stay < 2^63 so both engines compute
identical BIGINT results (DuckDB errors on int64 overflow; Spark wraps —
by staying within range we never hit either behavior).

Reference parity: the reference's FACT store is explicitly pitched for
"deduplication" and fingerprint-style write-once rows
(kafka-client/.../api/stores/ResponsiveStores.java:79-96); its engine hashes
keys with murmur3 for sub-partitioning
(internal/db/partitioning/SubPartitioner.java:29-101). We use our own
polynomial hash family instead — the choice of hash is not part of the
reference's observable semantics.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 30-bit prime modulus: products a*h stay < 2^60, safe in int64 everywhere.
P = 1_000_000_007

#: MinHash family size and LSH banding (b bands of r rows).
#: Threshold ~ (1/b)^(1/r) = 0.25^0.25 ~ 0.71 candidate-capture knee.
NUM_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4

#: Fixed affine coefficients for the minhash family h_j(x) = (a_j*x + b_j) % P.
#: Deterministic literals (any odd multipliers work; pinned for oracle parity).
MINHASH_A = [2 * j * j + 3 * j + 101 for j in range(NUM_HASHES)]
MINHASH_B = [7 * j * j + 11 * j + 17 for j in range(NUM_HASHES)]

#: SimHash width (bits). 32 keeps 2^k weights in int64 comfortably.
SIMHASH_BITS = 32


# ---------------------------------------------------------------------------
# Spark Column builders (JVM-side expressions — no Python UDFs in hot path)
# ---------------------------------------------------------------------------

def poly_hash(expr: str) -> Column:
    """Polynomial rolling hash of a string expression: fold (acc*31+ascii(c)) % P.

    Takes a SQL string expression (column name or expression). Stays inside
    whole-stage codegen via the higher-order ``aggregate`` function.
    """
    return F.expr(poly_hash_sql(expr))


def poly_hash_sql(expr: str) -> str:
    """Same polynomial hash as ``poly_hash``, as an engine-portable SQL string.

    Valid in both Spark SQL and DuckDB (aggregate vs list_reduce differ, so we
    emit per-dialect below)."""
    # Spark dialect (aggregate over split-to-chars)
    return (
        f"aggregate(split({expr}, ''), 0L, "
        f"(acc, c) -> (acc * 31 + ascii(c)) % {P})"
    )


def poly_hash_duck(expr: str) -> str:
    """DuckDB dialect of the identical polynomial hash."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ascii(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {P})"
    )


def band_hash_sql(sig_cols: list[str]) -> str:
    """Fold a band's signature values into one bucket hash: h=(h*31+v)%P.

    Identical textual arithmetic works in Spark SQL and DuckDB."""
    acc = "0"
    for c in sig_cols:
        acc = f"(({acc}) * 31 + {c}) % {P}"
    return acc
