"""Driver contraction — the one policy for solving tiny iterative fits on
the driver.

Five kernel families keep a driver twin of their distributed loop:
PageRank/PPR and LPA (``graph``), CC and its star variant
(``clustering``), the kmeans/pq Lloyd fits (``similarity``) and logreg
GD (``classifier``). A call site probes its input with
:func:`collect_if_under` against its family's entry in :data:`BOUNDS`;
rows back means the twin runs on them, ``None`` means the distributed
loop runs unchanged. Twins decide on exact integers or on values
rounded by :func:`round6`, the numpy twin of Spark ``ROUND(x, 6)``, so
both branches produce the same table (pinned per kernel by
``tests/test_contraction.py``). Ids must be one of
:data:`INTEGRAL_TYPES` — Python and Spark orderings are only proven to
agree on integers — and anything else takes the loop.

:func:`forced_off` sets every bound to -1 so every family takes its
distributed loop: the switch the driver≡loop tests and
``tools/check_correctness.py --contraction off`` use.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

#: max input rows per family for the driver branch. 1M edges or feature
#: rows is tens of MB collected — the broadcast-relation class; a Lloyd
#: row carries a whole vector (100k x 64 doubles is ~51 MB).
BOUNDS = {
    "graph_edges": 1_000_000,  # pagerank, personalized_pagerank, label_propagation
    "cc_edges": 1_000_000,  # connected_components, connected_components_star
    "lloyd_rows": 100_000,  # kmeans_fit, pq_fit
    "logreg_rows": 1_000_000,  # logreg_fit: docs, then hashed feature rows
}

#: ``DataFrame.dtypes`` names of the integral types driver twins accept
INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


@contextmanager
def forced_off():
    """Run every family's distributed loop inside the block."""
    saved = dict(BOUNDS)
    BOUNDS.update(dict.fromkeys(BOUNDS, -1))
    try:
        yield
    finally:
        BOUNDS.update(saved)


def collect_if_under(df: DataFrame, bound: int):
    """The rows of ``df`` (in partition order) if it has at most
    ``bound`` rows, else ``None``.

    One job over the frame's last stage: ``coalesce(1).limit(bound + 1)``
    reads partitions in order and stops after ``bound + 1`` rows (a
    plain ``limit`` scans growing batches of partitions, one job each),
    so an over-the-bound input costs O(bound) rows read, never a full
    pass. That only holds when the frame is narrow over a scan or over a
    materialized (persisted, checkpointed) frame, or when every
    aggregate under it reads an input that already passed a probe.
    Never call it above an aggregate over an unprobed input: the limit
    cannot stop that shuffle, so an over-the-bound input pays it once
    here and again in the loop.
    """
    if bound < 0:
        return None
    rows = df.coalesce(1).limit(bound + 1).collect()
    return None if len(rows) > bound else rows


def round_half_up(x, digits: int):
    """numpy twin of Spark ``ROUND(double, digits)``.

    Spark rounds via BigDecimal.valueOf(x).setScale(digits, HALF_UP): it
    rounds the SHORTEST DECIMAL REPR of the double, not the binary
    value. The fast floor(|x|*scale + .5) path matches it everywhere
    except the 2.675-style boundary band (shortest repr ends in ...5
    while the binary value sits just below); only that band routes
    through Python's repr -> Decimal, which reproduces
    BigDecimal.valueOf exactly. Parity is pinned by
    tests/test_similarity_multimodal.py::test_np_round_matches_spark.
    """
    import numpy as np

    x = np.asarray(x, dtype=np.float64)  # scalars become 0-d arrays
    scale = float(10**digits)
    scaled = np.abs(x) * scale
    out = np.asarray(np.sign(x) * np.floor(scaled + 0.5) / scale)
    frac = scaled - np.floor(scaled)
    band = np.abs(frac - 0.5) < 1e-6
    if band.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal(1) / Decimal(10**digits)
        out[band] = [
            float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP))
            for v in np.asarray(x[band]).ravel()
        ]
    return out


def round6(x):
    """:func:`round_half_up` at the engine's 6dp contract scale."""
    return round_half_up(x, 6)
