"""The FINITE-MEASUREMENT law (SURVEY.md §5.4, from the extremes
data-shift mode): arbitrary-double measurement columns (events.value)
carry NaN/±Inf in real corpora — sensor glitches, upstream overflow —
and the engines do not even agree on the FAILURE mode:

- moment statistics (stddev/var/corr/skew/kurt): DuckDB RAISES
  ``Out of Range Error: STDDEV_SAMP is out of range!`` on non-finite
  input, Spark yields NaN — irreconcilable without a gate;
- discretization (``CAST(floor(value/w) AS INT)``): both engines raise
  on non-finite AND on finite-but-huge input (ANSI cast overflow), so
  a histogram over arbitrary doubles is a runtime crash;
- libm trig: DuckDB raises ``input value inf is out of range`` for
  sin/cos, Spark yields NaN.

Law: a statistic, bucket, or libm-domain function OF a measurement is
computed over the FINITE measurements — non-finite inputs contribute
NULL (aggregates skip NULL in both engines; scalar outputs go NULL
through an explicit gate). Raw COUNTS and SUMS stay raw: count(*) is
an event count, not a statistic, and a NaN/Inf TOTAL is the correct
poisoned-total signal (sum propagates non-finite identically in both
engines — probed green).

All gates are expressed as comparisons, never ``isnan``-plus-cast
tricks, because BOTH engines give NaN a total-order position (greater
than +Inf, equal to itself) — so ``x BETWEEN lo AND hi`` excludes
NaN/±Inf identically in Spark and DuckDB, and ``abs(x) <= DBL_MAX``
is a portable finiteness test (Spark has no ``isfinite``).

A no-op on the benign fixtures (all values finite by construction).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DBL_MAX = 1.7976931348623157e308


def finite(col) -> Column:
    """``value`` if finite else NULL (Spark side). Accepts a name or a
    Column. ``abs(x) <= DBL_MAX``: false for ±Inf, false for NaN under
    Spark's comparison semantics? — NO: Spark treats NaN as GREATER
    than any value, so ``abs(NaN) <= DBL_MAX`` is false. Both clauses
    of the law in one portable comparison."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.abs(c) <= F.lit(_DBL_MAX), c)


def is_finite(col) -> Column:
    """Boolean finiteness predicate (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.abs(c) <= F.lit(_DBL_MAX)


# ---------------------------------------------------------------------------
# Metric-domain tier (the second finding of the extremes probe): the
# finiteness gate is NOT enough for DISPLAYED raw moments. A group
# containing a finite-but-huge glitch (2^100) gives stddev/var/covar
# at ~1e28, where round(·, 6) is the identity — so the engines'
# differing summation ORDERS (Spark partial-aggregate merges vs DuckDB
# morsel merges) surface as last-ulp differences that no shared
# formula can reconcile (float addition is not associative; the noise
# is real in BOTH engines). The posture that float-sum noise is
# absorbed by 6dp display rounding (functions/rounding scope note)
# holds only under bounded dynamic range.
#
# Law: a metric column carries a DECLARED measurement domain, and
# statistics run over the IN-DOMAIN measurements; beyond-domain values
# are sensor/pipeline glitches, excluded exactly like NaN/Inf. The
# bound is chosen so every 6dp-rounded statistic of in-domain values
# is engine-exact: |v| <= 1e7 keeps a second moment <= ~1e14, whose
# O(n·ulp) summation noise (~1e-7 absolute at n~10^3... scaling to
# ~1e-4 at n~10^9 rows per group) stays below the 5e-7 display
# half-step at gate scales — and leaves ~4 orders of headroom over the
# fixtures' real value range (0..~10^3).
#
# ONE comparison implements both tiers: |x| <= bound is false for
# ±Inf by magnitude and false for NaN under BOTH engines' total-order
# NaN semantics (NaN > everything).
METRIC_DOMAIN = 1.0e7


def in_domain(col) -> Column:
    """``value`` if within the declared metric domain (finite AND
    |v| <= METRIC_DOMAIN) else NULL (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.abs(c) <= F.lit(METRIC_DOMAIN), c)


def is_in_domain(col) -> Column:
    """Boolean metric-domain predicate (Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.abs(c) <= F.lit(METRIC_DOMAIN)
