"""SparkSession factory with a 100-TB-minded default configuration.

The reference delegated all execution to PostgreSQL (reference
week_1/data_ingest/data_ingest.py:130); here the execution engine is Spark and
this module is where the engine-level knobs live. Defaults favor:

- AQE on (runtime partition coalescing, skew-join splitting, plan re-opt) so
  the same declarative plans survive scale-up without hand-tuning;
- explicit shuffle partition count (local default = cores; on a real cluster
  AQE coalesces from a high initial number);
- UTC session timezone (oracle parity + sane timestamp semantics);
- Arrow for any Python<->JVM data exchange (pandas UDFs, toPandas).

``spark.sql.legacy.parquet.nanosAsLong`` is required to scan the driver's
``events`` table (parquet TIMESTAMP(NANOS) — Spark has no ns timestamp type);
sources/tables.py converts the raw nanos to a microsecond timestamp at load.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


def env_positive_int(name: str, default: int) -> int:
    """Read the size knob ``$name`` (unset or blank -> ``default``), per
    call so a test or job can change it between operators. Anything but a
    positive integer raises a ValueError naming the variable: a zero or
    negative size silently breaks whatever divides or buckets by it."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        raise ValueError(f"{name}={raw!r}: expected a positive integer")
    return value


def env_choice(name: str, choices: tuple[str, ...]) -> str:
    """Read the mode knob ``$name``, case-insensitive (unset or blank ->
    ``choices[0]``), per call like ``env_positive_int``. Any other value
    raises a ValueError naming the variable and the accepted modes."""
    mode = os.environ.get(name, "").strip().lower() or choices[0]
    if mode not in choices:
        raise ValueError(f"{name}={mode!r}: expected one of {', '.join(choices)}")
    return mode


# A JVM memory size as Spark's ``JavaUtils.byteStringAsBytes`` parses it: a
# whole number with an optional binary unit (no fractions, no sign).
_JVM_SIZE = re.compile(r"([0-9]+)(?:[kmgtp]b?|b)?", re.IGNORECASE)


def env_jvm_size(name: str) -> str | None:
    """Read the JVM memory-size knob ``$name`` (``"512m"``, ``"3g"``...);
    unset or blank -> None. A malformed or zero size raises a ValueError
    naming the variable instead of failing JVM launch with an opaque
    error."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return None
    m = _JVM_SIZE.fullmatch(raw)
    if m is None or int(m[1]) == 0:
        raise ValueError(f"{name}={raw!r}: expected a positive JVM size such as 512m or 4g")
    return raw


def _default_parallelism() -> int:
    return env_positive_int("SPARK_GRAFT_CPUS", os.cpu_count() or 8)


def _default_driver_memory() -> str:
    """16g, clamped to half the detected system RAM (floor 1g).

    SPARK_GRAFT_DRIVER_MEM overrides unconditionally. The clamp keeps the
    local-mode JVM launchable on small hosts; on cluster deployments the
    driver/executor memory comes from submit-time conf, not this default.
    """
    env = env_jvm_size("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return "16g"
    half_gib = max(1, int(total / (2 * 1024**3)))
    return f"{min(16, half_gib)}g"


# The runtime SQL confs every engine session carries: ns-parquet reads, UTC
# timestamps, AQE and Arrow. ``EngineConfig.builder`` sets them at launch and
# ``ensure_session_conf`` pins them on a session someone else built; all are
# runtime-settable, so that needs no JVM restart.
_RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


@dataclass
class EngineConfig:
    """What a caller may choose about a session: where it runs, its name,
    its shuffle width and any extra conf. The master and the width default
    to ``$SPARK_GRAFT_CPUS`` cores (the host's count when unset); everything
    else is the engine's own recipe in ``builder``."""

    master: str = field(
        default_factory=lambda: f"local[{_default_parallelism()}]"
    )
    app_name: str = "data_engineering_zoomcamp_my_test_spark"
    shuffle_partitions: int = field(default_factory=_default_parallelism)
    extra: dict[str, str] = field(default_factory=dict)

    def builder(self) -> SparkSession.Builder:
        return (
            SparkSession.builder.master(self.master)
            .appName(self.app_name)
            .config("spark.sql.shuffle.partitions", str(self.shuffle_partitions))
            .config(map=_RUNTIME_CONF)
            # 64 MB: small dims (region/nation/supplier/part at test SF)
            # broadcast; AQE still demotes/promotes at runtime from
            # observed sizes.
            .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
            .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
            # Local mode runs every executor thread inside the driver JVM,
            # whose default heap (1g) gives ~32 threads ~32 MB each —
            # GC-thrash territory for wide-row shuffles. Sized like an
            # executor would be on a cluster, but clamped to half the
            # detected system RAM so small hosts don't fail JVM launch / get
            # OOM-killed (SPARK_GRAFT_DRIVER_MEM overrides both); only
            # effective at JVM launch (getOrCreate reuse keeps the first
            # value).
            .config("spark.driver.memory", _default_driver_memory())
            # A run explains itself from its artifacts (perfbench reads the
            # status store), not from the UI.
            .config("spark.ui.enabled", "false")
            .config("spark.sql.cbo.enabled", "true")
            # NO runtime-Bloom-filter conf here, deliberately (r14,
            # VERDICT r13 #4). r13 raised creationSideThreshold to 256 MB
            # on the theory that it would fire for b7-shape fact joins at
            # cluster scale; a 13.1 GB lineitem / 1.7 GB orders probe
            # (tools/bloom_probe.py, plans/r14/bloom_probe_findings.txt)
            # DISPROVED it: Spark 4.1's InjectRuntimeFilter only accepts a
            # creation side that is a directly-filtered SCAN — it does not
            # traverse the join subtrees every semi-reduced TPC-H shape
            # here has — and independently bails when the creation row
            # estimate exceeds maxNumItems (4M default; any fact-sized
            # side). The knob was unreachable cargo cult; the repo's
            # actual §3.2 posture is the explicit broadcast semi-join
            # reduction b7/b55/b59 already implement.
            # localCheckpoint blocks are only released when the JVM
            # ContextCleaner sees the RDD become unreachable, which for idle
            # driver heaps waits for the periodic System.gc() — default
            # every 30 MINUTES. A long-lived session running many
            # checkpoint-bearing operators accumulates dead checkpoint
            # blocks for up to that long (measured: a 17-decl sf1 sweep
            # read c64 at 68.9 s under accumulated blocks vs 7.2 s fresh).
            # 5 minutes bounds the lag; inert for short-lived sessions
            # (bench/tests finish before the first tick).
            .config("spark.cleaner.periodicGC.interval", "5min")
            # Generated code is cached per JVM in one LRU of
            # spark.sql.codegen.cache.maxEntries classes, default 100. A
            # warm pass over the 16 bench headliners needs ~154, so a
            # cyclic pass evicts every class before its next use and each
            # query pays Janino again (measured: ~140 compilations per warm
            # pass at 100, 0-6 at 2048). One session running all 158 decls
            # at sf0.01 with an unbounded cache compiles 1302 distinct
            # classes, and 42 more on its second pass as AQE picks other
            # plans; 2048 holds that working set with headroom. A static
            # conf (spark.conf.set raises CANNOT_MODIFY_STATIC_CONFIG), so
            # only effective at JVM launch, like the driver memory.
            .config("spark.sql.codegen.cache.maxEntries", "2048")
            .config(map=self.extra)
        )


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    """Create (or fetch) the engine SparkSession."""
    config = config or EngineConfig()
    spark = config.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """The gate every session passes before the engine reads with it.

    The verification driver constructs its own SparkSession; this pins
    ``_RUNTIME_CONF`` on it so a foreign session is safe for our operators
    without restarting the JVM. A stopped session raises here: ``conf.set``
    on it still succeeds and the reader hands back a frame, so the failure
    would otherwise surface later as an opaque error in the first action.
    The check reads the context's Python-side JVM handle, which ``stop()``
    clears, so it costs no JVM round trip.
    """
    if spark.sparkContext._jsc is None:  # noqa: SLF001
        raise RuntimeError(
            "the SparkSession is stopped: start a new one before using the engine"
        )
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    return spark
