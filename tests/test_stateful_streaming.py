"""Custom stateful streaming operator: per-user ledger state maintained
across micro-batches must end at the batch aggregate's answer."""

from __future__ import annotations

from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table


def test_exact_ledger_matches_batch_bitwise(spark, sf_small, tmp_path):
    """The c88 arm: integer-cents state makes the replayed custom-stateful
    ledger equal the batch DECIMAL rollup BIT-FOR-BIT (not just to 2dp),
    under a genuine multi-epoch replay (one file per trigger)."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.stateful import (
        streaming_user_ledger_exact,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "exact_src")
    sink = str(tmp_path / "exact_sink")
    events.repartition(4).write.parquet(src)

    out = streaming_user_ledger_exact(
        spark,
        src,
        checkpoint=str(tmp_path / "exact_ckpt"),
        sink_dir=sink,
        query_name="ledger_exact_t",
        max_files_per_trigger=1,
    )
    batch = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    s = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    b = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    # exact float equality is the point — no rounding on either side
    assert s == b and len(s) > 0
    epochs = [d for d in os.listdir(sink) if d.startswith("epoch=")]
    assert len(epochs) >= 4, epochs


def test_ledger_state_survives_query_restart(spark, sf_small, tmp_path):
    """Crash-recovery pin for ARBITRARY Python state: the
    applyInPandasWithState ledger's per-user (n, cents) tuples must be
    restored from the checkpoint across a full query stop/start. Run 1
    consumes half the drop files and stops; run 2 (fresh query object,
    same checkpoint) consumes the rest and must CONTINUE the counts, so
    the final state equals the batch rollup over ALL files bit-for-bit."""
    import os
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.streaming.stateful import (
        streaming_user_ledger_exact,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "lr_src")
    staged = str(tmp_path / "lr_staged")
    sink = str(tmp_path / "lr_sink")
    ckpt = str(tmp_path / "lr_ckpt")
    events.repartition(4).write.parquet(staged)
    parts = sorted(f for f in os.listdir(staged) if f.endswith(".parquet"))
    assert len(parts) == 4
    os.makedirs(src)
    for fname in parts[:2]:
        shutil.copyfile(os.path.join(staged, fname), os.path.join(src, fname))

    streaming_user_ledger_exact(
        spark, src, checkpoint=ckpt, sink_dir=sink,
        query_name="lr_t", max_files_per_trigger=1,
    ).collect()  # run 1: half the corpus

    now = _time.time()
    for fname in parts[2:]:
        dst = os.path.join(src, fname)
        shutil.copyfile(os.path.join(staged, fname), dst)
        os.utime(dst, (now, now))
    out = streaming_user_ledger_exact(
        spark, src, checkpoint=ckpt, sink_dir=sink,
        query_name="lr_t2", max_files_per_trigger=1,
    )

    batch = (
        spark.read.parquet(staged)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    s = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    b = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_exact_cents_batch_matches_scalar_loop():
    """The vectorized exact-cents fast path must equal the per-value
    Decimal HALF_UP loop on every value class: 2-decimal corpus-like
    values, adversarial x.xx5 tie boundaries (where float*100 rounding
    and decimal HALF_UP disagree without the fallback), negatives,
    near-tie offsets inside and outside the safe margin, large values
    past the fast-path bound, and subnormal-small values."""
    import numpy as np
    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    from data_engineering_zoomcamp_my_test_spark.streaming.stateful import (
        _make_exact_ledger_fn,
    )

    def scalar_cents(v):
        return int(
            Decimal(repr(float(v)))
            .quantize(Decimal("0.01"), ROUND_HALF_UP)
            .scaleb(2)
        )

    values = [
        12.34, -12.34, 0.0, 99.99, -0.01,
        # tie boundaries: repr is exactly x.xx5 -> HALF_UP away from zero,
        # while the float product 100*x sits a hair off the boundary
        2.675, -2.675, 2.665, -2.665, 0.005, -0.005, 1.015, 8.835,
        # near-tie but not a tie (inside/outside the 2e-7 margin)
        2.6750001, 2.6749999, 1.0149999999, 1.0150000001,
        # big values beyond the fast-path bound, and tiny ones
        1.5e6, -2.5e7, 1e-8, -1e-8, 123456.785,
    ]
    rng = np.random.default_rng(42)
    values += [round(float(x), 2) for x in rng.uniform(-1e4, 1e4, 500)]
    values += [float(x) for x in rng.uniform(-1e4, 1e4, 500)]

    # reach the inner batch function through the ledger fn's closure
    ledger = _make_exact_ledger_fn()
    cells = {
        name: cell.cell_contents
        for name, cell in zip(
            ledger.__code__.co_freevars, ledger.__closure__
        )
    }
    cents_batch = cells["_cents_batch"]

    s = pd.Series(values, dtype="float64")
    assert cents_batch(s) == sum(scalar_cents(v) for v in values)
    # per-value agreement (not just the lucky sum): singleton batches
    for v in values[:30]:
        assert cents_batch(pd.Series([v], dtype="float64")) == scalar_cents(
            v
        ), v
    # empty batch
    assert cents_batch(pd.Series([], dtype="float64")) == 0
