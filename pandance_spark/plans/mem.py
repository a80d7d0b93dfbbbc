"""Plan-level utilities.

The reference ships ``_estimate_mem_cost_cartesian``
(``pandance/pandance.py:894-917``) — an advisory estimate of the memory
a cross join would need, used by its ``_mem_check`` guard
(``pandance/pandance.py:879-891``).  Spark spills to disk and AQE
re-plans at runtime, so no guard is needed; we keep an advisory
estimator for API parity, computed from Catalyst plan statistics
(no job is triggered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pandance_spark._kernel import plan_stats

__all__ = ["estimate_mem_cost_cartesian", "explain_str"]


def estimate_mem_cost_cartesian(a: DataFrame, b: DataFrame) -> int:
    """Estimated MiB held by the cross join of ``a`` and ``b``.

    Parity shim for reference ``_estimate_mem_cost_cartesian``
    (``pandance/pandance.py:894-917``).  Uses Catalyst size/row-count
    estimates; purely advisory (Spark spills rather than OOMs on big
    cross joins).
    """
    (bytes_a, ra), (bytes_b, rb) = plan_stats(a), plan_stats(b)
    if bytes_a is None or bytes_b is None:
        return -1
    if ra and rb and ra > 0 and rb > 0:
        row_bytes = bytes_a / ra + bytes_b / rb
        total = ra * rb * row_bytes
    else:
        # fall back to size product scaled by a nominal 100-byte row
        total = (bytes_a / 100.0) * (bytes_b / 100.0) * 100.0
    return int(total // (1024 * 1024))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Return ``df.explain(mode)`` output as a string (for tests/logs)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )
