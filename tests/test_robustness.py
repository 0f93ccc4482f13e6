"""Failure-path and dialect-edge tests (SURVEY.md §7.7): schema drift on
append, unsupported formats, inference divergence pinned by explicit schemas
(FIXTURES.md §2 EPL shape)."""

from __future__ import annotations

import pytest

from pyspark.sql import Row
from pyspark.sql import types as T

from data_engineering_zoomcamp_my_test_spark.sinks import save_table
from data_engineering_zoomcamp_my_test_spark.sources import read_csv, read_source


EPL_SCHEMA = T.StructType(
    [
        T.StructField("Div", T.StringType()),
        T.StructField("Date", T.StringType()),  # dd/MM/yyyy stays string (§7.7.6)
        T.StructField("HomeTeam", T.StringType()),
        T.StructField("AwayTeam", T.StringType()),
        T.StructField("FTHG", T.LongType()),
        T.StructField("FTAG", T.LongType()),
        T.StructField("FTR", T.StringType()),
        T.StructField("B365H", T.DoubleType()),
    ]
)

EPL_CSV = (
    "Div,Date,HomeTeam,AwayTeam,FTHG,FTAG,FTR,B365H\n"
    "E0,10/08/2018,Man United,Leicester,2,1,H,1.57\n"
    "E0,11/08/2018,Bournemouth,Cardiff,2,0,H,1.90\n"
)


def test_epl_ingest_explicit_schema(spark, tmp_path):
    """Reference CSV-ingest shape with the pinned schema: Date must remain a
    string (pandas and Spark infer dd/MM/yyyy differently — §7.7.6)."""
    p = tmp_path / "season-1819.csv"
    p.write_text(EPL_CSV)
    df = read_csv(spark, str(p), schema=EPL_SCHEMA)
    assert dict(df.dtypes) == {
        "Div": "string", "Date": "string", "HomeTeam": "string",
        "AwayTeam": "string", "FTHG": "bigint", "FTAG": "bigint",
        "FTR": "string", "B365H": "double",
    }
    rows = df.collect()
    assert rows[0].Date == "10/08/2018" and rows[0].FTHG == 2


def test_append_schema_drift_rejected(spark):
    """Appending a frame with a different schema must fail loudly, not
    corrupt the table."""
    base = spark.createDataFrame([Row(a=1, b="x")])
    drifted = spark.createDataFrame([Row(a=2, c=3.5)])
    assert save_table(base, "t_drift", if_exists="replace")
    with pytest.raises(Exception):
        save_table(drifted, "t_drift", if_exists="append")
    # table unchanged
    assert spark.table("t_drift").columns == ["a", "b"]
    assert spark.table("t_drift").count() == 1
    spark.sql("DROP TABLE t_drift")


def test_unsupported_format_rejected(spark, tmp_path):
    p = tmp_path / "data.xyz"
    p.write_text("junk")
    with pytest.raises(ValueError, match="unsupported source format"):
        read_source(spark, str(p))


def test_corrupt_parquet_fails_loudly(spark, tmp_path):
    p = tmp_path / "bad.parquet"
    p.write_bytes(b"this is not parquet at all")
    with pytest.raises(Exception):
        spark.read.parquet(str(p)).collect()


def test_connected_components_no_edges(spark):
    """Every node is its own singleton cluster when the edge set is empty."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        connected_components,
    )

    ids = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    edges = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    out = {r.doc_id: r.cluster for r in connected_components(ids, edges).collect()}
    assert out == {i: i for i in range(5)}


def test_jaccard_single_doc_and_empty_text(spark):
    """One-doc corpora produce no pairs; empty-ish texts don't crash either
    plan (the vocab probe sees <= 64 tokens -> bitset path)."""
    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    one = spark.createDataFrame([(1, "only doc")], "doc_id long, text string")
    assert token_jaccard_pairs(one, threshold=0.5).count() == 0
    weird = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "a")], "doc_id long, text string"
    )
    rows = {(r.doc_id_a, r.doc_id_b): r.jaccard
            for r in token_jaccard_pairs(weird, threshold=0.5).collect()}
    assert rows == {(1, 2): 1.0}  # two empty texts: identical single-"" token sets


def test_jaccard_prefix_plan_on_large_vocab(spark):
    """> 64 distinct tokens forces the prefix-filter plan; results must
    match a brute-force python check."""
    import itertools

    from data_engineering_zoomcamp_my_test_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    docs = [
        (1, "w1 w2 w3 w4 w5 w6"),
        (2, "w1 w2 w3 w4 w5 w99"),   # jaccard 5/7 with doc 1
        (3, " ".join(f"u{i}" for i in range(70))),  # blows the 64 vocab cap
        (4, "totally disjoint tokens here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id_a, r.doc_id_b): round(r.jaccard, 6)
           for r in token_jaccard_pairs(df, threshold=0.5).collect()}
    sets = {i: set(t.split()) for i, t in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = inter / len(sets[a] | sets[b])
            if j >= 0.5:
                want[(a, b)] = round(j, 6)
    assert got == want and (1, 2) in got


def test_compact_parquet_roundtrip_empty_subdirless(spark, tmp_path):
    """Compacting a single-file dataset is a no-op-sized rewrite that still
    round-trips rows."""
    from data_engineering_zoomcamp_my_test_spark.sinks import compact_parquet

    path = str(tmp_path / "tiny")
    spark.range(10).coalesce(1).write.parquet(path)
    n = compact_parquet(spark, path)
    assert n == 1
    assert spark.read.parquet(path).count() == 10


def test_default_driver_memory_clamped(monkeypatch):
    """The local-mode driver heap default adapts to the host: half of
    system RAM, capped at 16g, floored at 1g; env var wins (ADVICE r4)."""
    from data_engineering_zoomcamp_my_test_spark import session as s

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    got = s._default_driver_memory()
    assert got.endswith("g") and 1 <= int(got[:-1]) <= 16

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert s._default_driver_memory() == "3g"

    # small-host simulation: 2 GiB total RAM -> 1g, JVM stays launchable
    real_sysconf = s.os.sysconf
    monkeypatch.setattr(
        s.os,
        "sysconf",
        lambda name: (
            2 * 1024**3 // 4096 if name == "SC_PHYS_PAGES"
            else 4096 if name == "SC_PAGE_SIZE"
            else real_sysconf(name)
        ),
    )
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert s._default_driver_memory() == "1g"


def test_normalize_timestamps_handles_dotted_names(spark):
    """VERDICT r4: the NTZ->LTZ cast must address columns as df[c], not
    F.col(c) — a name containing '.' would otherwise mis-resolve."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.sources.tables import (
        _normalize_timestamps,
    )

    df = spark.range(3).select(
        "id", F.to_timestamp_ntz(F.lit("2024-01-02 03:04:05")).alias("weird.ts")
    )
    assert dict(df.dtypes)["weird.ts"] == "timestamp_ntz"
    out = _normalize_timestamps(df)
    assert dict(out.dtypes)["weird.ts"] == "timestamp"
    vals = out.select(F.col("`weird.ts`").cast("string").alias("s")).collect()
    assert all(r["s"] == "2024-01-02 03:04:05" for r in vals)


def test_load_table_pins_utc_on_foreign_session(spark, sf_small):
    """VERDICT r4: a foreign session loading tables BEFORE configuring
    itself must not shift instants — load_table applies the UTC pin
    itself."""
    from pyspark.sql import functions as F

    from data_engineering_zoomcamp_my_test_spark.sources.tables import load_table

    baseline = (
        load_table(spark, sf_small, "events")
        .agg(F.min(F.unix_micros("ts")).alias("m"))
        .first()["m"]
    )
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted_session_load = (
            load_table(spark, sf_small, "events")
            .agg(F.min(F.unix_micros("ts")).alias("m"))
            .first()["m"]
        )
        # load_table pinned UTC before planning the scan...
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # ...so the instants are identical to the clean-session load
        assert shifted_session_load == baseline
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_udf_closures_self_contained_without_pythonpath(tmp_path):
    """The module contract: executors never need the package on their
    import path — every Python-UDF closure must cloudpickle BY VALUE.
    Regression for the GIF-LZW by-reference bug (r5): run a pandas_udf
    decl and a mapInPandas decode in a subprocess whose PYTHONPATH is
    scrubbed (driver imports via sys.path only, so workers that try to
    re-import the package fail loudly)."""
    import os
    import subprocess
    import sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = """
import sys; sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as mod
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions","2")
         .config("spark.ui.enabled","false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
assert mod.queries()["c6_minhash"](spark, "/root/testdata/sf0.001").count() > 0
from data_engineering_zoomcamp_my_test_spark.operators.multimodal import (
    decode_image_pixels, MEDIA_SCHEMA)
sys.path.insert(0, {tests!r})
from test_multimodal import _gif_bytes
import numpy as np
px = np.array([[[10, 20, 30], [40, 50, 60]]] * 3, dtype=np.uint8)
media = spark.createDataFrame(
    [(1, "image", bytearray(_gif_bytes(px)), None, None, None)], MEDIA_SCHEMA)
assert decode_image_pixels(media).collect()[0].px_width == 2
print("SELF_CONTAINED_OK")
""".format(repo=REPO, tests=os.path.join(REPO, "tests"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=str(tmp_path),
    )
    assert "SELF_CONTAINED_OK" in proc.stdout, proc.stderr[-2000:]


def test_curate_corpus_empty_heldout_and_empty_corpus(spark):
    """No benchmark -> nothing is contaminated (LEFT join semantics, not
    an accidental inner join); an all-filtered corpus yields an empty,
    correctly-typed frame rather than an error."""
    from data_engineering_zoomcamp_my_test_spark.operators.curation import (
        curate_corpus,
    )

    schema = "doc_id long, source string, text string, n_chars int"
    good = "the growth of modern machines is driven by the steady flow of data"
    corpus = spark.createDataFrame([(1, "srcA", good, len(good))], schema)
    empty_held = spark.createDataFrame([], schema)

    got = curate_corpus(corpus, empty_held).collect()
    assert [r["doc_id"] for r in got] == [1]

    junk = spark.createDataFrame([(2, "srcA", "xy", 2)], schema)
    out = curate_corpus(junk, empty_held)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "source", "n_tok", "shard_id", "shard_pos",
    ]


def _group_jobs(spark, group, fn):
    """``fn()`` run under its own job group: its result and spawned job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.sc().clearJobGroup()  # noqa: SLF001
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_warm_read_spawns_no_jobs(spark, sf_small, monkeypatch):
    """A cold load infers each table's schema with a Spark job; a second
    load of unchanged files reuses the cached schema and launches none."""
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    _, cold_jobs = _group_jobs(spark, "load_cold", lambda: tables.load_tables(spark, sf_small))
    assert cold_jobs, "cold load must infer schemas"
    warm, warm_jobs = _group_jobs(spark, "load_warm", lambda: tables.load_tables(spark, sf_small))
    assert warm_jobs == []
    assert set(warm) == set(tables.TABLE_NAMES)
    assert dict(warm["events"].dtypes)["ts"] == "timestamp"


def test_load_table_rewrite_same_path_reinfers(spark, tmp_path, monkeypatch):
    """Rewriting a table in place must never serve the old schema or frame,
    and the cache keeps one entry per path however often it is rewritten."""
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a int").write.mode("overwrite").parquet(path)
    first = tables.load_table(spark, str(tmp_path), "t")
    assert first.dtypes == [("a", "int")]
    assert tables.load_table(spark, str(tmp_path), "t") is first
    spark.createDataFrame([("x", 2)], "a string, b long").write.mode(
        "overwrite"
    ).parquet(path)
    df = tables.load_table(spark, str(tmp_path), "t")
    assert df is not first
    assert df.dtypes == [("a", "string"), ("b", "bigint")]
    assert [tuple(r) for r in df.collect()] == [("x", 2)]
    assert list(tables._TABLES) == [path]


def test_load_table_uri_path_bypasses_cache(spark, tmp_path, monkeypatch):
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    spark.createDataFrame([(7, "q")], "k int, v string").write.parquet(
        str(tmp_path / "u.parquet")
    )
    df = tables.load_table(spark, f"file://{tmp_path}", "u")
    assert [tuple(r) for r in df.collect()] == [(7, "q")]
    assert tables._TABLES == {}


def test_load_table_missing_path_raises(spark, tmp_path, monkeypatch):
    from pyspark.errors import AnalysisException

    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        tables.load_table(spark, str(tmp_path), "absent")
    assert tables._TABLES == {}


def _jvm_calls(spark, fn):
    """``fn()`` run with a spy on the py4j client: its result and the name
    of every JVM method it called."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    sent = []
    real = client.send_command

    def spy(command, *args, **kwargs):
        sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = spy
    try:
        out = fn()
    finally:
        del client.send_command
    calls = [c.split("\n")[2] for c in sent if c.startswith("c\n")]
    return out, calls


def test_load_table_warm_read_returns_memoized_frame(spark, sf_small, monkeypatch):
    """A warm load by the same session hands back the frame it got last
    time; the only JVM calls left are ``ensure_session_conf``'s conf sets."""
    from data_engineering_zoomcamp_my_test_spark.session import ensure_session_conf
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    cold = tables.load_table(spark, sf_small, "events")
    _, conf_calls = _jvm_calls(spark, lambda: ensure_session_conf(spark))
    warm, calls = _jvm_calls(spark, lambda: tables.load_table(spark, sf_small, "events"))
    assert warm is cold
    assert calls == conf_calls
    assert set(calls) == {"set"}


def test_load_table_other_session_gets_its_own_read(spark, sf_small, monkeypatch):
    """A frame is bound to the session that read it: another session, or a
    stopped one, gets a fresh read (from the cached schema, so no job), and
    the entry then serves whichever session read last."""
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    mine = tables.load_table(spark, sf_small, "orders")
    other = spark.newSession()
    theirs, jobs = _group_jobs(spark, "load_other", lambda: tables.load_table(other, sf_small, "orders"))
    assert jobs == []
    assert theirs is not mine and theirs.sparkSession is other
    assert tables.load_table(other, sf_small, "orders") is theirs
    assert theirs.count() == mine.count()
    again = tables.load_table(spark, sf_small, "orders")
    assert again is not mine and again.sparkSession is spark
    assert len(tables._TABLES) == 1

    # SparkSession.stop() clears the context's JVM handle; the same Python
    # session object must not be served its old frame afterwards.
    monkeypatch.setattr(spark.sparkContext, "_jsc", None)
    stopped = tables.load_table(spark, sf_small, "orders")
    monkeypatch.undo()
    assert stopped is not again


def test_load_table_memo_hit_still_pins_foreign_confs(spark, sf_small, monkeypatch):
    """A foreign session that unset the engine confs after its first load
    still gets them back from a memoized load, and a fresh session gets
    them on its first."""
    from data_engineering_zoomcamp_my_test_spark.sources import tables

    monkeypatch.setattr(tables, "_TABLES", {})
    pinned = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    foreign = spark.newSession()
    for k in pinned:
        foreign.conf.unset(k)
    first = tables.load_table(foreign, sf_small, "events")
    assert {k: foreign.conf.get(k) for k in pinned} == pinned
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    foreign.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert tables.load_table(foreign, sf_small, "events") is first
    assert {k: foreign.conf.get(k) for k in pinned} == pinned
