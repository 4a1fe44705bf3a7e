"""Fallback accounting for the persisted-index plans.

Six plans (knn_ivf_persisted, knn_ivfpq_persisted, knn_ivf_incremental,
the shared PQ-codebook loader, dedup_incremental_exact,
dedup_incremental_minhash) probe persisted bucketed tables and fall
back to an equivalent in-query derivation when scratch storage or the
catalog is unavailable. The fallback produces identical RESULTS, so a
correctness gate can't see which path ran — but the bench numbers are
only attributable to the index path if the index path actually
executed. Every fallback therefore records itself here:

- tests assert ``EVENTS`` stays empty when scratch is writable (a
  fallback firing in a normal environment is a bug, not a fallback);
- setting ``SPARK_GRAFT_STRICT_INDEX=1`` turns any fallback into a
  hard error, for bench runs that must measure the index path by
  construction.
"""

from __future__ import annotations

import logging
import os

__all__ = ["EVENTS", "record", "reset", "strict"]

# (plan_name, reason) tuples, in firing order, process-wide
EVENTS: list[tuple[str, str]] = []

logger = logging.getLogger("website_traffic_etl_gcp_spark")


def strict() -> bool:
    """True under ``SPARK_GRAFT_STRICT_INDEX``: persisted paths must
    not fall back."""
    return bool(os.environ.get("SPARK_GRAFT_STRICT_INDEX"))


def record(name: str, reason: str = "") -> None:
    """Record and log (with the exception being handled) a
    persisted-path fallback; call it from the ``except`` block. Raises
    under ``SPARK_GRAFT_STRICT_INDEX`` so strict runs fail loudly
    instead of silently measuring the wrong path."""
    EVENTS.append((name, reason))
    logger.warning(
        "persisted path for %s unavailable; deriving in-query", name,
        exc_info=True,
    )
    if strict():
        raise RuntimeError(
            f"persisted path for {name} fell back ({reason or 'see log'}) "
            "but SPARK_GRAFT_STRICT_INDEX is set"
        )


def reset() -> None:
    EVENTS.clear()
