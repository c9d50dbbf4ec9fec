"""Shared cross-engine expression helpers.

Each helper exists in exactly two forms that MUST stay in lockstep: a
PySpark Column builder and a DuckDB SQL fragment (``*_SQL``, used via
``.format`` inside oracle strings). Keeping both in one module is the
point: arithmetic copied into a builder can drift from its oracle twin
without any test noticing. When the arithmetic changes, change it
HERE, in both forms.

Builder Column code quantises to micro-units or cents ONLY through
``micro`` and ``cents``; tests/test_exprs_lockstep.py fails on any
inline ``F.floor(x * 1e6 + 0.5)`` or ``F.floor(x * 100 + 0.5)``
elsewhere in the package. Other scales (x1e9, x1e12) stay inline.

House rules encoded here (see registry.py's harness contract):
- ``micro``: floats that cross a ln()/summation-order/rounding boundary
  ship as micro-unit BIGINTs — ``floor(x*1e6 + 0.5)``. floor(x+0.5) is
  deliberate: Spark ``F.round`` (HALF_UP) and DuckDB ``round()``
  disagree on halfway ties; floor(x+0.5) is identical everywhere.
  ``cents`` is the same rule at x100 for 2-decimal money columns.
- ``hash_cutoff``: a sampling rate in [0, 1) becomes an 8-hex-char
  threshold comparable against an md5 prefix. The integer is clamped to
  2^32-1 because a rate within ~2^-21 of 1.0 floors to exactly 2^32,
  whose 9-char hex would be lpad-TRUNCATED to '10000000' (a ~1/16
  keep-rate). Rates >= 1.0 must short-circuit BEFORE this helper (or
  compare against a sentinel that sorts above every hex char, e.g. 'g').
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MICRO_SQL = "CAST(floor({x} * 1000000.0 + 0.5) AS BIGINT)"


def micro(x: Column) -> Column:
    """Quantize a (float) column to micro-unit BIGINT."""
    return F.floor(x.cast("double") * 1000000.0 + F.lit(0.5)).cast("bigint")


def splitmix64(x: int) -> int:
    """Standard splitmix64 finalizer — the repo's ONE deterministic
    seed-constant generator (minhash permutation constants, LSH sign
    planes). Python-side only: its 64-bit wraparound multiplies cannot
    run in DuckDB SQL (BIGINT overflow errors), so derived constants
    are always EMBEDDED in oracles, never recomputed there."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


HASH_CUTOFF_SQL = (
    "lpad(lower(hex(CAST(least(floor({rate} * 4294967296.0), "
    "4294967295.0) AS BIGINT))), 8, '0')"
)


def hash_cutoff(rate: Column) -> Column:
    """Render a [0,1) rate as an 8-hex-char md5-prefix threshold."""
    return F.lpad(
        F.lower(
            F.hex(
                F.least(
                    F.floor(rate * F.lit(4294967296.0)).cast("bigint"),
                    F.lit(4294967295),
                )
            )
        ),
        8,
        "0",
    )


CENTS_SQL = "CAST(floor({x} * 100.0 + 0.5) AS BIGINT)"


def cents(x: Column) -> Column:
    """Quantize a currency (float) column to integer cents — the
    2-decimal sibling of ``micro``, for TPC-H money columns whose
    stored precision is exactly 2 dp."""
    return F.floor(x.cast("double") * 100.0 + F.lit(0.5)).cast("bigint")
