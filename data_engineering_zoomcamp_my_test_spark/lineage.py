"""Lineage-cut policy for shared intermediate relations (guide §2.4/§5).

Rounds 12-13 taught ~20 operators to materialize a shared relation ONCE
(``localCheckpoint``) so Catalyst cannot inline an expensive derivation
into every consumer (e.g. c92's co-purchase edge derivation was inlined
15x: 60 parquet scans, 94 Exchanges). The cut is a real optimization, but
``localCheckpoint`` stores its blocks on executor-local storage with NO
lineage recovery: on a cluster, losing one executor after the cut loses
blocks unrecoverably and fails the job. That is an explicit tradeoff, not
an accident — this module makes it a configurable posture instead of a
hard-coded call, via ``SPARK_GRAFT_LINEAGE_CUT``:

- ``local`` (default): ``df.localCheckpoint()``. Fastest; right for
  short-lived jobs and local/bench runs where "executor loss" means the
  whole JVM died anyway. This is the historical behavior — bench and
  oracle runs are byte-identical to pre-helper rounds.
- ``reliable``: ``df.checkpoint()`` into the SparkContext checkpoint dir
  (``sparkContext.setCheckpointDir`` — set it to HDFS/S3 on a cluster,
  where an unset dir raises ``RuntimeError``; on a ``local`` master a
  session-scoped temp dir is installed). Survives executor loss at the
  cost of writing the relation to (reliable) storage once.
- ``off``: no cut. The composed plan stays fully inspectable and Spark
  recovers any failure by recomputing lineage — at the price the r13
  measurements quantified (shared derivations re-execute per consumer).

The env var is read per call: tests and operational runs can flip the
posture without rebuilding sessions. See SCALING.md ("Lineage cuts and
executor loss") for the cluster guidance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .session import env_choice

_ENV = "SPARK_GRAFT_LINEAGE_CUT"
_MODES = ("local", "reliable", "off")


def cut(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage, per the
    session-level posture in ``$SPARK_GRAFT_LINEAGE_CUT`` (default
    ``local``). ``eager=True`` (the default, matching
    ``DataFrame.localCheckpoint``) runs the materializing job NOW — call
    sites rely on that to stop Catalyst from inlining the derivation into
    every consumer."""
    mode = env_choice(_ENV, _MODES)
    if mode == "off":
        return df
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            # A driver-local temp dir is not reliable storage on a cluster:
            # executors would write partition files to their own disks.
            if not sc.master.startswith("local"):
                raise RuntimeError(
                    f"{_ENV}=reliable on master {sc.master!r} needs a shared "
                    "checkpoint dir: call SparkContext.setCheckpointDir with "
                    "an HDFS/S3 path before the first cut"
                )
            from .tmpdirs import ephemeral_dir

            sc.setCheckpointDir(ephemeral_dir("lineage_ckpt_"))
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
