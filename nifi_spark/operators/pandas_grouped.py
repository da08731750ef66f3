"""Grouped pandas aggregation — the user-defined-aggregate (UDAF) surface.

NiFi's only user-definable aggregate path is a scripted processor buffering
records itself (SURVEY.md §2.10 — no UDAF extension point exists); its
Python bridge marshals single records over Py4J
(nifi-py4j-bundle .../nifiapi/recordtransform.py:21-96). The Spark shape is
``applyInPandas``: groups arrive as whole Arrow-backed pandas DataFrames —
vectorized transfer, arbitrary Python per group.

Scale note: applyInPandas shuffles RAW rows per group (no partial
aggregation) — a hot key's entire history lands on one worker. This is
precisely where the salted two-phase pattern from operators.ordering
applies when the per-group function is algebraic (fold per (key, salt),
then per key); for non-algebraic functions, bound group size upstream.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def per_key_value_stats(
    df: DataFrame, keys: list[str], value_col: str = "value"
) -> DataFrame:
    """Deterministic per-key stats via pandas: count, min, max, and the
    exact integer-cents sum (doubles summed as integers so results are
    order-independent and oracle-comparable)."""
    key_schema = ", ".join(f"{k} long" for k in keys)
    out_schema = f"{key_schema}, n long, min_value double, max_value double, sum_cents long"

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        row = {k: [pdf[k].iloc[0]] for k in keys}
        v = pdf[value_col]
        # half-AWAY-from-zero cent rounding (np.floor(v*100+0.5) for the
        # non-negative values here) so Spark and the DuckDB oracle share one
        # tie-break rule — pandas .round() is half-to-even and diverges on
        # exact .5 cents (repo DECIMAL-addend convention, FIXTURES.md §3)
        cents = np.floor(v.to_numpy() * 100 + 0.5).astype("int64")
        row.update(
            n=[len(pdf)],
            min_value=[v.min()],
            max_value=[v.max()],
            sum_cents=[int(cents.sum())],
        )
        return pd.DataFrame(row)

    return df.groupBy(*keys).applyInPandas(stats, schema=out_schema)
