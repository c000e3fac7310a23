"""Tests: streaming variants (cross-checked vs batch operators via a
real micro-batch run), pandas-batch scoring, entity resolution."""

import contextlib
import logging

import pytest
from pyspark.sql import functions as F

from featurestore_spark.functions.dates import (
    convert_string_to_date,
    format_date_string,
)
from featurestore_spark.functions.scoring import score_batch
from featurestore_spark.io import load_table
from featurestore_spark.operators.resolve import connected_components, resolve_entities
from featurestore_spark.operators.events import sessionize
from featurestore_spark.streaming import (
    read_event_stream,
    streaming_event_counts,
    streaming_sessionize,
)

RESOLVE_LOGGER = "featurestore_spark.operators.resolve"


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)
    static = spark.read.parquet(src)

    stream = read_event_stream(spark, src, static.schema)
    q = (
        streaming_sessionize(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("sessions_out")

    batch = sessionize(
        static, 1800.0, entity_col="user_id", ts_col="ts", tiebreak_cols=("event_id",)
    )
    batch_sessions = batch.groupBy("user_id").agg(
        F.max("session").alias("n_sessions")
    )
    got_stream = {
        r["user_id"]: r["cnt"]
        for r in streamed.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    got_batch = {r["user_id"]: r["n_sessions"] for r in batch_sessions.collect()}
    # session_window closes sessions on gap > gap; counts align with
    # the batch lag/cumsum formulation (strict-vs-inclusive boundary
    # differences would need equal microsecond gaps — not present)
    assert got_stream == got_batch


def test_streaming_event_counts_watermark_plumbing(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "stream_src2")
    ev.write.parquet(src)
    static = spark.read.parquet(src)
    stream = read_event_stream(spark, src, static.schema)
    q = (
        streaming_event_counts(stream, window="1 day", watermark="2 days")
        .writeStream.format("memory")
        .queryName("counts_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("counts_out")
    batch = streaming_event_counts(static, window="1 day")
    assert streamed.count() == batch.count()
    s_total = streamed.agg(F.sum("n_events")).first()[0]
    assert s_total == static.count()


def test_score_batch(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 4.0), (None, 10.0)], ["f1", "f2"]
    )
    out = score_batch(df, ["f1", "f2"], lambda X: X["f1"] * 10 + X["f2"])
    got = sorted(r["score"] for r in out.collect())
    assert got == [10.0, 12.0, 34.0]  # null f1 -> filled 0.0


def test_date_functions(spark):
    df = spark.createDataFrame([("05/03/2024",), ("bogus",)], ["d"])
    out = df.select(
        convert_string_to_date("d", "dd/MM/yyyy").alias("dt"),
        format_date_string("d", "dd/MM/yyyy").alias("fmt"),
    )
    rows = out.collect()
    assert str(rows[0]["dt"]) == "2024-03-05" and rows[0]["fmt"] == "2024-03-05"
    assert rows[1]["dt"] is None and rows[1]["fmt"] is None  # malformed -> null


def test_connected_components_and_resolution(spark):
    edges = spark.createDataFrame(
        [
            ("c1", "e1", 0.9),
            ("e1", "p1", 0.8),   # chain c1-e1-p1
            ("c2", "e2", 0.95),  # separate component
            ("c3", "e3", 0.1),   # below confidence floor -> excluded
        ],
        ["src_entity_id", "dst_entity_id", "confidence"],
    )
    comp = connected_components(
        edges.select("src_entity_id", "dst_entity_id"),
        src_col="src_entity_id",
        dst_col="dst_entity_id",
    )
    labels = {r["id"]: r["component"] for r in comp.collect()}
    assert labels["c1"] == labels["e1"] == labels["p1"]
    assert labels["c2"] == labels["e2"] != labels["c1"]

    resolved = resolve_entities(edges, min_confidence=0.5)
    rmap = {r["entity_id"]: r["canonical_id"] for r in resolved.collect()}
    assert rmap["p1"] == rmap["c1"]
    assert "c3" not in rmap  # low-confidence edge dropped


@contextlib.contextmanager
def _multi_partition_local_phase(spark, on=True):
    """Without AQE coalescing the local phase keeps all four shuffle
    partitions, so a component that straddles them needs the global
    phase. `on=False` leaves the session as it is."""
    if not on:
        yield
        return
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _cc_run(edges, caplog, **kw):
    """(labels, the call's INFO record)."""
    with caplog.at_level(logging.INFO, logger=RESOLVE_LOGGER):
        caplog.clear()
        labels = {
            r["id"]: r["component"]
            for r in connected_components(edges, **kw).collect()
        }
    (rec,) = [r for r in caplog.records if r.name == RESOLVE_LOGGER]
    return labels, rec


def _union_find_reference(edges):
    """Pure-Python CC reference: id -> min id of its component; NULL
    endpoints add no edge and NULL maps to NULL."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for x in (a, b):
            if x is not None:
                find(x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    out = {x: find(x) for x in list(parent)}
    if any(a is None or b is None for a, b in edges):
        out[None] = None
    return out


def test_connected_components_exhaustion_warns_partial(spark):
    """Contract check (VERDICT r3 #10): a chain graph the local phase
    cannot settle, with more depth than `max_iterations` rounds
    reach, must fire the partial-labels warning, and the returned
    labels must indeed be partial (the far end of the chain has not
    yet received the minimum label)."""
    import warnings as w

    n = 64  # chain 0-1-...-64, spread over four local partitions
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    with _multi_partition_local_phase(spark):
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            comp = connected_components(edges, max_iterations=3)
            labels = {r["id"]: r["component"] for r in comp.collect()}
        assert any(
            "max_iterations" in str(c.message) for c in caught
        ), "exhaustion warning did not fire"
        assert len(set(labels.values())) > 1, "labels unexpectedly converged"
        # with enough rounds the same graph fully converges, no warning
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            comp = connected_components(edges, max_iterations=n + 1)
            labels = {r["id"]: r["component"] for r in comp.collect()}
    assert not any("max_iterations" in str(c.message) for c in caught)
    assert set(labels.values()) == {0}


def test_connected_components_final_round_convergence_not_misreported(
    spark, caplog
):
    """ADVICE r3: convergence landing exactly on the last allowed round
    must NOT warn — each probe compares one round with the one before
    it. The round count comes from the call's own log record."""
    import warnings as w

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"]
    )
    with _multi_partition_local_phase(spark):
        _, rec = _cc_run(edges, caplog)
        assert not rec.cc_settled and rec.cc_converged
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            labels, last = _cc_run(
                edges, caplog, max_iterations=rec.cc_rounds
            )
    assert not any(
        "max_iterations" in str(c.message) for c in caught
    ), [str(c.message) for c in caught]
    assert last.cc_rounds == rec.cc_rounds and last.cc_converged
    assert set(labels.values()) == {0}


def _assert_chain_converges_in_log_rounds(spark, caplog, n, stride=1):
    """A chain spread over four local partitions needs the global
    phase; hooking each label tree under its new minimum plus pointer
    jumping converges within the default max_iterations=20 in logged
    O(log n) rounds (one-hop propagation would need ~n rounds).
    `stride` coprime to n shuffles the ids along the chain: node i is
    id i*stride mod n."""
    import math
    import warnings as w

    edges = spark.range(n - 1).selectExpr(
        f"id * {stride} % {n} AS src", f"(id + 1) * {stride} % {n} AS dst"
    )
    with _multi_partition_local_phase(spark):
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            labels, rec = _cc_run(edges, caplog)
    assert not any("max_iterations" in str(c.message) for c in caught)
    assert set(labels.values()) == {0} and len(labels) == n
    assert rec.cc_partitions > 1 and not rec.cc_settled
    assert rec.cc_converged
    assert rec.cc_rounds <= 2 * math.ceil(math.log2(n)), rec.cc_rounds


def test_connected_components_shortcut_converges_deep_chain(spark, caplog):
    _assert_chain_converges_in_log_rounds(spark, caplog, 200)


def test_connected_components_10k_chain_converges_in_log_rounds(
    spark, caplog
):
    """PLANS.md r5 measured 11s for this chain with jumping only from
    round 6 on, against ~33 min extrapolated for one-hop rounds."""
    _assert_chain_converges_in_log_rounds(spark, caplog, 10**4)


def test_connected_components_shuffled_chain_converges_in_log_rounds(
    spark, caplog
):
    """Ids that do not grow along the path: min-label rounds with
    pointer jumping alone moved the minimum about one hop per round
    here and returned partial labels after max_iterations; hooking
    keeps it logarithmic."""
    _assert_chain_converges_in_log_rounds(spark, caplog, 2000, stride=7919)


def test_connected_components_small_graph_settles_in_local_phase(
    spark, caplog
):
    """A coalescible edge list runs the local phase as one partition:
    the union-find answer is final, no global round runs."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)] + [(500, 501)], ["src", "dst"]
    )
    labels, rec = _cc_run(edges, caplog)
    assert (rec.cc_partitions, rec.cc_settled, rec.cc_rounds) == (1, True, 1)
    assert labels == {**{i: 0 for i in range(200)}, 500: 500, 501: 500}


def test_connected_components_without_aqe(spark, caplog):
    """Spark drops the REBALANCE hint with AQE off, so the local phase
    hash-partitions the edges into one partition per core itself
    rather than inheriting the input's partitioning."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)] + [(100, 101)], ["src", "dst"]
    ).repartition(8)
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        labels, rec = _cc_run(edges, caplog)
    finally:
        spark.conf.set(key, old)
    assert rec.cc_partitions == spark.sparkContext.defaultParallelism
    assert rec.cc_converged
    assert labels == {**{i: 0 for i in range(51)}, 100: 100, 101: 100}


def test_connected_components_random_graphs_match_union_find(spark):
    """30 random multi-component graphs (self-loops, duplicate and
    reversed edges included) against a pure-Python union-find. Every
    other graph goes through the multi-partition local phase, so the
    one-partition answer, the settled test and the global phase are
    all exercised."""
    import random

    rng = random.Random(13)
    for trial in range(30):
        n = rng.randrange(2, 120)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(1, n + n // 2))
        ]
        with _multi_partition_local_phase(spark, on=trial % 2 == 1):
            got = {
                r["id"]: r["component"]
                for r in connected_components(
                    spark.createDataFrame(edges, ["src", "dst"])
                ).collect()
            }
        assert got == _union_find_reference(edges), (trial, edges)


@pytest.mark.parametrize("multi_partition", [False, True])
def test_connected_components_string_ids_code_point_order(
    spark, multi_partition
):
    """String ids: the component label is Spark's UTF8_BINARY `min`,
    which is Python's code-point order (not UTF-16 order: U+1F600
    sorts after U+FFEE)."""
    edges = [
        ("b", "ä"), ("ä", "Z"), ("€", "ü"), ("ü", "z"),
        ("\U0001f600", "\uffee"), ("日本", "€"),
        ("x", "x"), ("é", "e\u0301"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    with _multi_partition_local_phase(spark, on=multi_partition):
        got = {
            r["id"]: r["component"]
            for r in connected_components(df).collect()
        }
    want = _union_find_reference(edges)
    assert got == want
    # Spark's own min over each component agrees with Python's
    members = spark.createDataFrame(
        [(c, i) for i, c in want.items()], ["component", "id"]
    )
    spark_min = {
        r["component"]: r["m"]
        for r in members.groupBy("component")
        .agg(F.min("id").alias("m"))
        .collect()
    }
    assert all(spark_min[c] == c for c in spark_min)


@pytest.mark.parametrize("multi_partition", [False, True])
def test_connected_components_null_endpoints(spark, multi_partition):
    """A NULL endpoint adds no edge: the other endpoint stays a node,
    and NULL itself gets exactly one (NULL, NULL) row."""
    from pyspark.sql.types import LongType, StructField, StructType

    edges = [(1, None), (None, 2), (2, 3), (None, None), (4, 5), (None, 9)]
    schema = StructType(
        [StructField("src", LongType()), StructField("dst", LongType())]
    )
    with _multi_partition_local_phase(spark, on=multi_partition):
        rows = connected_components(
            spark.createDataFrame(edges, schema)
        ).collect()
    assert [tuple(r) for r in rows if r["id"] is None] == [(None, None)]
    assert {r["id"]: r["component"] for r in rows} == {
        1: 1, 2: 2, 3: 2, 4: 4, 5: 4, 9: 9, None: None,
    }


def test_connected_components_has_no_tuning_knobs():
    """The two-phase algorithm needs no depth heuristic or probe
    cadence: `max_iterations` is the only loop parameter left."""
    import inspect

    params = inspect.signature(connected_components).parameters
    assert list(params) == ["edges", "src_col", "dst_col", "max_iterations"]
    resolve_params = inspect.signature(resolve_entities).parameters
    assert "shortcut_after" not in resolve_params


def test_stateful_sessionize_matches_batch_across_batches(spark, tmp_path):
    """Custom applyInPandasWithState session numbering: two time-ordered
    files processed as separate micro-batches must produce exactly the
    batch sessionize result (state carries the numbering across)."""
    from featurestore_spark.streaming.stateful import stateful_sessionize

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "chunks")
    # chunk 1 = earlier half by ts, chunk 2 = later half (ordered arrival)
    early = ev.where(F.col("ts") <= F.expr("timestamp'2024-01-15 00:00:00'"))
    late = ev.where(F.col("ts") > F.expr("timestamp'2024-01-15 00:00:00'"))
    early.coalesce(1).write.parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)

    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessionize(stream, 1800.0)
        .writeStream.format("memory")
        .queryName("stateful_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["user_id"], r["event_id"]): r["session"]
        for r in spark.table("stateful_sessions").collect()
    }

    from featurestore_spark.operators.events import sessionize

    batch = sessionize(
        ev, 1800.0, entity_col="user_id", ts_col="ts", tiebreak_cols=("event_id",)
    )
    expected = {
        (r["user_id"], r["event_id"]): r["session"] for r in batch.collect()
    }
    assert streamed == expected


def test_stateful_sessionize_string_ids(spark, tmp_path):
    """Output schema derives from the input (ADVICE r1): string entity
    ids and renamed columns flow through unchanged."""
    from featurestore_spark.streaming.stateful import stateful_sessionize

    rows = [
        ("alice", "e1", "2024-01-01 00:00:00"),
        ("alice", "e2", "2024-01-01 00:10:00"),
        ("alice", "e3", "2024-01-02 09:00:00"),  # > timeout -> session 2
        ("bob", "e4", "2024-01-01 05:00:00"),
    ]
    df = (
        spark.createDataFrame(rows, ["who", "eid", "ts_str"])
        .withColumn("when_ts", F.to_timestamp("ts_str"))
        .drop("ts_str")
    )
    src = str(tmp_path / "string_id_events")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stateful_sessionize(
        stream, 3600.0, entity_col="who", ts_col="when_ts", id_col="eid",
        session_col="sess",
    )
    assert [f.name for f in out.schema.fields] == ["who", "eid", "when_ts", "sess"]
    q = (
        out.writeStream.format("memory")
        .queryName("string_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["who"], r["eid"]): r["sess"]
        for r in spark.table("string_sessions").collect()
    }
    assert got[("alice", "e1")] == 1 and got[("alice", "e2")] == 1
    assert got[("alice", "e3")] == 2
    assert got[("bob", "e4")] == 1


def test_streaming_dedup_exact(spark, tmp_path):
    """Watermarked exact dedup drops same-content docs across
    micro-batches (within the watermark horizon)."""
    from featurestore_spark.streaming.ops import streaming_dedup_exact

    rows = [
        (1, "the same text", "2024-01-01 00:00:00"),
        (2, "unique one", "2024-01-01 00:05:00"),
        (3, "the same text", "2024-01-01 00:10:00"),  # dup of 1
        (4, "unique two", "2024-01-01 00:20:00"),
        (5, "the same text", "2024-01-01 00:25:00"),  # dup of 1
    ]
    df = (
        spark.createDataFrame(rows, ["doc_id", "text", "ts_str"])
        .withColumn("ts", F.to_timestamp("ts_str"))
        .drop("ts_str")
    )
    src = str(tmp_path / "doc_stream")
    df.where("doc_id <= 3").coalesce(1).write.parquet(src)
    df.where("doc_id > 3").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        streaming_dedup_exact(stream, ts_col="ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept_texts = [r["text"] for r in spark.table("dedup_stream").collect()]
    assert sorted(kept_texts) == ["the same text", "unique one", "unique two"]

    # batch fallback: same keep-set
    batch = streaming_dedup_exact(df, ts_col="ts")
    assert batch.count() == 3


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Stream-stream join (clicks x purchases, 1h horizon) run as a
    real micro-batch query equals the batch join with the identical
    condition — and the streaming plan carries join state eviction."""
    from featurestore_spark.streaming import streaming_attribution

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "attr_src")
    ev.write.parquet(src)
    static = spark.read.parquet(src)

    def split(df):
        return (
            df.where(F.col("event_type") == "click"),
            df.where(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = split(read_event_stream(spark, src, static.schema))
    q = (
        streaming_attribution(s_clicks, s_purch, horizon="1 hour")
        .writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.table("attr_out")

    b_clicks, b_purch = split(static)
    batch = streaming_attribution(b_clicks, b_purch, horizon="1 hour")
    assert batch.count() > 0
    key = ["click_id", "purchase_id"]
    assert streamed.count() == batch.count()
    assert streamed.select(*key).exceptAll(batch.select(*key)).count() == 0
