"""Fixed-point exact-sum discipline, with overflow-safe widening by sf.

Every money/value aggregate in this engine follows one recipe: scale the
≤k-decimal expression to an integer per row (``round(x * 10^k)`` as
BIGINT), sum the integers, divide back — exact and partition-order-
independent, unlike ``sum(double)`` whose printed rounding can flip
between runs (and between Spark and a serial DuckDB oracle).

BIGINT headroom ends around sf1: the widest recipe (6-dp micros over
lineitem) approaches the 9.2e18 ceiling, and Spark's non-ANSI ``sum``
over longs WRAPS silently on overflow.  :func:`sum_fixed` therefore
picks the accumulator by scale:

- **long mode** (test/bench scale, sf ≤ 1): today's BIGINT sum — the
  fast Tungsten long path, exact within headroom.
- **wide mode** (production scale): per-row cast to ``DECIMAL(38,0)``
  (overflow-free to ~1e38), final cast to double — numerically exactly
  what the BIGINT path becomes at its division sites, and what DuckDB's
  ``sum(BIGINT) -> HUGEINT -> double`` produces.

Mode selection (``SPARK_GRAFT_SUM_DTYPE`` = ``long`` | ``decimal`` |
``auto``, default auto): auto widens when the last-loaded data dir's
``sfN`` hint exceeds 1 — and when the dir carries NO sf hint, assumes
production scale and widens (safety over speed for unknown corpora).
The catalog reports every ``load_table`` dir via :func:`note_sf_dir`.

NOT converted to this helper: window-frame sums over bounded-cardinality
partitions (a customer's orders, 10 price bands) — ``.over(w)`` cannot
wrap an outer cast, and those frames sit orders of magnitude below
BIGINT headroom at any sf because the partition, not the table, bounds
the operand count.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: sf hint per data dir touched this session (None = dir had no ``sfN``
#: basename hint).  A dict, not a last-writer scalar: expressions are
#: built lazily, so "the last load_table call" is the wrong scope when a
#: session touches two dirs of different scales — auto mode widens if ANY
#: seen dir is past sf1 or ambiguous.  Widening is always numerically
#: safe (same value, overflow-free accumulator); only staying narrow can
#: be wrong, so doubt resolves wide.
_SEEN_SF: dict[str, float | None] = {}


def _dir_hint(sf_dir: str) -> float | None:
    m = re.search(
        r"sf(\d+(?:\.\d+)?)", os.path.basename(str(sf_dir).rstrip("/"))
    )
    return float(m.group(1)) if m else None


def note_sf_dir(sf_dir: str) -> None:
    """Record the sf hint of a data dir (called by catalog.load_table)."""
    _SEEN_SF[str(sf_dir).rstrip("/")] = _dir_hint(sf_dir)


def reset_sf_hints() -> None:
    """Forget all recorded dir hints (test isolation)."""
    _SEEN_SF.clear()


def wide_sums(sf_dir: str | None = None) -> bool:
    """True when sums must accumulate in DECIMAL(38,0).

    With ``sf_dir`` the decision keys on that dir alone (explicit scope
    beats session inference — pass it where the frame's provenance is
    known).  Otherwise auto mode widens unless every dir seen so far is a
    hinted sf ≤ 1 — including the no-dirs-yet case (a sum_fixed built
    before any load_table, e.g. over raw readStream parquet, widens)."""
    mode = os.environ.get("SPARK_GRAFT_SUM_DTYPE", "auto")
    if mode == "long":
        return False
    if mode == "decimal":
        return True
    if sf_dir is not None:
        hint = _dir_hint(sf_dir)
        return hint is None or hint > 1.0
    if not _SEEN_SF:
        return True
    return any(sf is None or sf > 1.0 for sf in _SEEN_SF.values())


def sum_fixed(scaled: Column | str, sf_dir: str | None = None) -> Column:
    """Exact sum of an already-scaled fixed-point BIGINT column.

    Long mode returns the plain BIGINT sum (bit-identical to the
    pre-helper plans).  Wide mode sums in DECIMAL(38,0) and casts the
    result to double — the same value the BIGINT sum yields at the
    ``/ 10^k`` division sites, without the silent wraparound past
    9.2e18.  Pass ``sf_dir`` when known to scope the auto decision to
    this frame's data dir instead of session-wide inference."""
    c = F.col(scaled) if isinstance(scaled, str) else scaled
    if wide_sums(sf_dir):
        return F.sum(c.cast("decimal(38,0)")).cast("double")
    return F.sum(c)
