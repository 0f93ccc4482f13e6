"""Custom stateful streaming operator (SURVEY.md §2.3 C11 / north-star
"custom stateful operators"): per-user running totals maintained across
micro-batches with ``applyInPandasWithState``.

This is the escape hatch for streaming logic that windowed aggregation
can't express: arbitrary per-key state (here: cumulative event count +
value sum, i.e. a running user ledger), updated batch-by-batch, emitted on
every update. State lives in the state store, sized by key cardinality —
at 100 TB of history the state is still O(active users), not O(events).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import _events_stream, _replay

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"


def _make_exact_ledger_fn():
    """The ledger's update function: state accumulates INTEGER cents
    (HALF_UP on the shortest decimal repr — the same convention as
    ``functions.exprs.cents`` / ``CAST(x AS DECIMAL(18,2))`` in both
    engines), so the running total is partition-, batch- and
    arrival-order-independent and the final ``cents / 100.0`` double is
    bit-identical to ``CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)``
    in Spark AND DuckDB. This is what puts the custom-stateful path under
    the exact driver oracle (c88)."""
    from decimal import ROUND_HALF_UP, Decimal

    def _cents(v) -> int:
        # repr(float(...)): numpy scalars repr as "np.float64(x)" — always
        # go through the plain float's shortest-repr
        return int(
            Decimal(repr(float(v)))
            .quantize(Decimal("0.01"), ROUND_HALF_UP)
            .scaleb(2)
        )

    def _cents_batch(vals) -> int:
        """Vectorized exact-cents sum (guide §4.2) with a PROVEN-safe
        fast path: for |v| < 1e6 the shortest-repr real r and the float
        product fl(100·v) each differ from 100·v by < 1.5e-8, so they
        differ from each other by < 3e-8; when fl(100·v) is at least
        2e-7 away from a half-integer boundary, rint(fl(100·v)) equals
        HALF_UP(r, 2 dp) — the scalar _cents result — exactly. Values
        near a tie boundary, large values, and non-finite values take
        the per-value Decimal path (ties: ROUND_HALF_UP on the decimal
        repr cannot be reproduced by any float rounding). Differentially
        pinned against the scalar loop incl. adversarial x.xx5 ties in
        tests/test_stateful_streaming.py."""
        import numpy as np

        x = vals.to_numpy(dtype="float64", copy=False) * 100.0
        c = np.rint(x)
        with np.errstate(invalid="ignore"):
            safe = (np.abs(x - c) < 0.5 - 2e-7) & (np.abs(x) < 1e8)
        total = int(c[safe].astype(np.int64).sum())
        for v in vals.to_numpy()[~safe]:
            total += _cents(v)
        return total

    def update_user_ledger(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, cents, n_vals = state.get if state.exists else (0, 0, 0)
        for pdf in batches:
            n += len(pdf)
            # SQL SUM semantics: nulls/NaNs are skipped, not errors — a
            # null events.value must not crash the query while the batch
            # oracle's SUM(CAST(value AS DECIMAL)) silently ignores it
            # (ADVICE r11).  n_vals tracks non-null count so an all-null
            # group yields NULL, exactly as SUM does.
            vals = pdf["value"]
            vals = vals[vals.notna()]
            n_vals += len(vals)
            cents += _cents_batch(vals)
        state.update((n, cents, n_vals))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0 if n_vals else None],
            }
        )

    return update_user_ledger


def streaming_user_ledger_exact(
    spark: SparkSession,
    source_dir: str,
    checkpoint: str,
    sink_dir: str,
    query_name: str = "ledger_exact",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drive the exact-cents stateful ledger over the files currently in
    ``source_dir`` and return the FINAL per-user totals, never touching the
    driver: update-mode emissions land per-epoch in ``sink_dir`` via the
    shared ``_replay`` sink (overwrite per epoch =
    exactly-once under retry, RocksDB state store — the per-user ledger
    state is key-cardinality-sized, exactly the case the heap-backed
    default provider dies on at scale), and the final state per user is
    the emission with the highest running count — a keyed window over the
    small ledger output, not over events."""
    stream = _events_stream(spark, source_dir, max_files_per_trigger)
    ledger = stream.groupBy("user_id").applyInPandasWithState(
        _make_exact_ledger_fn(),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType="n bigint, cents bigint, nvals bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # Deliberately NOT passing source_dir: the byte-derived replay
    # partition sizing targets state-store lifecycle overhead, but this
    # operator's cost is Python CPU in the per-row exact-cents loop,
    # which parallelizes across state partitions (one Python worker
    # each) — fewer partitions = fewer workers. Measured on an idle box
    # at sf0.1: 5.6 s at the session's 32 partitions vs 6.5 s at the
    # byte-derived 4. Compute-bound stateful ops size by cores, not by
    # state bytes.
    out = _replay(spark, ledger, query_name, sink_dir, "update", checkpoint)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
