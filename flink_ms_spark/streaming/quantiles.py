"""Log-scaled histogram bins — the HDR-histogram approach to quantiles:
bounded state, deterministic, additive merge.

A KLL/GK sketch gives rank error; the log-histogram gives RELATIVE
VALUE error instead — bin edges grow geometrically (``growth`` per
bin), so any quantile estimate is within one bin, i.e. within
``growth − 1`` relative error (12 bins per decade at growth = 1.2 ⇒
≤ 20%; tighten with more bins). That guarantee is independent of the
data: state is one count per OCCUPIED bin, and merging two histograms
is count addition — associative, commutative, replay-friendly.

Spark-first: a histogram is a plain ``groupBy(log_bin).count()``
(map-side partial aggregation does the heavy lifting); the catalog's
``log_histogram`` query (plans/mixing.py) is that aggregate over
``events.value``.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def log_bin(col, growth: float = 1.2) -> "F.Column":
    """Geometric bin index for a positive value: floor(log(v)/log(g)).
    Non-positive values land in a reserved bin (-2**31) so they are
    counted but never interpolated."""
    c = F.col(col) if isinstance(col, str) else col
    lg = math.log(growth)
    return (
        F.when(c > 0, F.floor(F.log(c) / F.lit(lg)).cast("int"))
        .otherwise(F.lit(-(2**31)).cast("int"))
    )
