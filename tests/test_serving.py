"""Serving tier (SURVEY §2 S8/S9/S10): Arrow Flight + HTTP over the
Spark-materialized store, differential against the Spark J1/P3 operators,
plus the xxhash64 bucket-pruning point-lookup guarantee."""

from __future__ import annotations

import datetime
import json
import struct
import urllib.request

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from featherstore_spark.sources.flight import FeatureFlightClient, FeatureFlightServer

SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("ts", T.TimestampNTZType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("f_val", T.DoubleType(), True),
])


def _batch(rows):
    return pa.table({
        "conv_id": [r[0] for r in rows],
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "turn_idx": pa.array([r[2] for r in rows], pa.int32()),
        "f_val": pa.array([r[3] for r in rows], pa.float64()),
    })


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    """A Flight server over a fresh catalog root with one ingested set."""
    root = str(tmp_path_factory.mktemp("serving_root"))
    server = FeatureFlightServer(root)
    client = FeatureFlightClient(f"grpc://127.0.0.1:{server.port}")
    client.create_feature_set(
        "convfeat",
        {"schema": SCHEMA.jsonValue(), "entity_col": "conv_id", "ts_col": "ts"},
    )
    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    rows = []
    for c in range(6):
        for i in range(5):
            rows.append((f"conv_{c}", base + datetime.timedelta(minutes=10 * i + c), i, float(c * 100 + i)))
    # equal-timestamp pair: turn_idx tiebreak must pick the higher one
    rows.append(("conv_0", base + datetime.timedelta(minutes=40), 9, 999.0))
    rows.append(("conv_0", base + datetime.timedelta(minutes=40), 8, 888.0))
    n = client.ingest_batch("convfeat", _batch(rows))
    assert n == len(rows)
    yield {"root": root, "server": server, "client": client, "rows": rows}
    server.shutdown()


def test_flight_ddl_roundtrip(served):
    c = served["client"]
    assert c.list_feature_sets() == ["convfeat"]
    meta = c.get_feature_set("convfeat")
    assert meta["entity_col"] == "conv_id" and meta["ts_col"] == "ts"
    c.create_feature_set("scratch", {"schema": SCHEMA.jsonValue(),
                                     "entity_col": "conv_id", "ts_col": "ts"})
    assert "scratch" in c.list_feature_sets()
    c.delete_feature_set("scratch")
    assert c.list_feature_sets() == ["convfeat"]


def test_flight_get_features_matches_spark_j1(served, spark):
    """DoGet latest-per-entity == the Spark latest_per_entity operator on
    the very same data files (ts desc, turn_idx desc tiebreak)."""
    from featherstore_spark.sources.catalog import FeatureCatalog

    got = served["client"].get_features("convfeat", entity_ids=["conv_0", "conv_3"]).to_pandas()
    cat = FeatureCatalog(spark, served["root"])
    exp = (
        cat.get_features("convfeat", entity_ids=["conv_0", "conv_3"])
        .orderBy("conv_id").toPandas()
    )
    got, exp = got.reset_index(drop=True), exp.reset_index(drop=True)
    assert list(got["conv_id"]) == list(exp["conv_id"])
    assert list(got["turn_idx"]) == list(exp["turn_idx"]) == [9, 4]  # tiebreak: 9 beats 8
    assert list(got["f_val"]) == list(exp["f_val"])
    assert (got["ts"].astype("datetime64[ns]") == exp["ts"].astype("datetime64[ns]")).all()


def test_flight_as_of_cutoff(served, spark):
    """as_of excludes later rows — the point-in-time contract (C3:
    inclusive bound)."""
    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    cut = base + datetime.timedelta(minutes=20)  # == conv_0's turn 2 ts exactly
    got = served["client"].get_features("convfeat", ["conv_0"], as_of=cut).to_pandas()
    assert list(got["turn_idx"]) == [2]  # inclusive <=


def test_flight_history_matches_spark_p3(served, spark):
    from featherstore_spark.sources.catalog import FeatureCatalog

    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    lo, hi = base + datetime.timedelta(minutes=10), base + datetime.timedelta(minutes=40)
    got = served["client"].get_feature_history("convfeat", "conv_0", lo, hi).to_pandas()
    cat = FeatureCatalog(spark, served["root"])
    exp = cat.get_feature_history("convfeat", "conv_0", lo, hi).toPandas()
    assert list(got["turn_idx"]) == list(exp["turn_idx"])  # newest first, tiebreak desc
    assert (got["ts"].astype("datetime64[ns]") == exp["ts"].astype("datetime64[ns]")).all()


def test_flight_put_rejects_wrong_schema(served):
    import pyarrow.flight as fl

    bad = pa.table({"conv_id": ["x"], "nope": [1]})
    # a ValueError server-side maps to ArrowInvalid on the wire
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid), match="does not match"):
        served["client"].ingest_batch("convfeat", bad)


def test_http_matches_flight(served):
    import urllib.error

    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return json.loads(r.read().decode())

        assert get("/feature-sets") == ["convfeat"]
        assert get("/feature-sets/convfeat")["entity_col"] == "conv_id"
        rows = get("/features/convfeat?entity_id=conv_0&entity_id=conv_3")
        ft = served["client"].get_features("convfeat", ["conv_0", "conv_3"]).to_pylist()
        assert [r["conv_id"] for r in rows] == [r["conv_id"] for r in ft]
        assert [r["f_val"] for r in rows] == [r["f_val"] for r in ft]
        hist = get(
            "/history/convfeat?entity_id=conv_0"
            "&start=2025-03-01T12:10:00&end=2025-03-01T12:40:00"
        )
        fh = served["client"].get_feature_history(
            "convfeat", "conv_0",
            datetime.datetime(2025, 3, 1, 12, 10), datetime.datetime(2025, 3, 1, 12, 40),
        ).to_pylist()
        assert [r["turn_idx"] for r in hist] == [r["turn_idx"] for r in fh]
        with pytest.raises(urllib.error.HTTPError) as exc:
            get("/feature-sets/nope")
        assert exc.value.code == 404
    finally:
        srv.shutdown()


def test_xxhash64_matches_spark(spark):
    """The pure-python xxhash64 twin is bit-identical to F.xxhash64 for
    strings (utf-8 bytes) and longs (little-endian 8 bytes) — the basis
    of driver-side bucket pruning."""
    from featherstore_spark.functions.hashing import xxhash64

    strs = ["", "a", "conv_00000042", "x" * 7, "y" * 8, "z" * 31, "w" * 33, "héllo wörld"]
    df = spark.createDataFrame([(s,) for s in strs], "s string").withColumn("h", F.xxhash64("s"))
    for r in df.collect():
        assert xxhash64(r["s"].encode()) == r["h"], r["s"]
    longs = [0, 1, -1, 42, 2**62, -(2**62)]
    ldf = spark.createDataFrame([(v,) for v in longs], "v long").withColumn("h", F.xxhash64("v"))
    for r in ldf.collect():
        assert xxhash64(struct.pack("<q", r["v"])) == r["h"], r["v"]


def test_bucketed_point_lookup_prunes_partitions(spark, transcripts, tmp_path):
    """A point lookup over a checkpointed feature table opens ONLY the
    p_bucket directory the entity hashes to (the O(table/N) serving
    guarantee), and returns exactly the Spark-filtered rows."""
    from featherstore_spark.functions.hashing import entity_bucket
    from featherstore_spark.plans.checkpoint import run_with_checkpoint
    from featherstore_spark.sources.serving import BucketedTable

    out = str(tmp_path / "feat")
    run_with_checkpoint(transcripts, out, {"input": "serving-test", "params": {}}, n_buckets=8)

    entity = transcripts.select("conv_id").first()["conv_id"]
    bt = BucketedTable(out, "conv_id", "ts", n_buckets=8)
    frags = bt.fragments_scanned([entity])
    want = f"p_bucket={entity_bucket(entity, 8)}"
    assert frags and all(want in p for p in frags)

    got = bt.rows_for([entity]).to_pandas()
    exp = (
        spark.read.parquet(out)
        .where(F.col("conv_id") == entity)
        .orderBy("conv_id", "ts")
        .toPandas()
    )
    assert len(got) == len(exp) > 0
    assert list(got["turn_idx"]) == list(exp["turn_idx"])
    assert list(got["cum_turns"]) == list(exp["cum_turns"])


def test_metrics_endpoint(served):
    """GET /metrics renders Prometheus text counters tracking the
    store's requests and rows (reference pkg/metrics parity)."""
    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/features/convfeat?entity_id=conv_1"
        ):
            pass
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            text = r.read().decode()
            ctype = r.headers["Content-Type"]
    finally:
        srv.shutdown()
    assert "text/plain" in ctype
    assert 'featherstore_requests_total{op="get_features"} 1' in text
    assert "# TYPE featherstore_requests_total counter" in text


def test_flight_serves_bucketed_checkpoint_output(spark, transcripts, tmp_path):
    """End-to-end compute->serve: a checkpointed materialization is
    registered and point-served over Flight, rows identical to the Spark
    filter, through the bucket-pruned read path."""
    from featherstore_spark.plans.checkpoint import run_with_checkpoint

    from featherstore_spark.sources.serving import ServingError

    out = str(tmp_path / "feat")
    # lineage carries n_buckets (as the CLI writes it): registration
    # reads the write-time modulus from the manifest
    run_with_checkpoint(
        transcripts, out,
        {"input": "flight-serve", "params": {"n_buckets": 8}}, n_buckets=8,
    )

    root = str(tmp_path / "root")
    server = FeatureFlightServer(root)
    try:
        client = FeatureFlightClient(f"grpc://127.0.0.1:{server.port}")
        reg = server.store.register_bucketed_table("featlog", out)
        assert reg["n_buckets"] == 8
        # a wrong modulus would silently serve empty results, so without
        # a manifest hint the store must refuse to guess (empty buckets
        # write no directory — dir counting is NOT a safe default)
        bare = str(tmp_path / "bare")
        run_with_checkpoint(transcripts, bare, {"input": "no-hint", "params": {}}, n_buckets=8)
        with pytest.raises(ServingError, match="n_buckets"):
            server.store.register_bucketed_table("bare", bare)
        reg2 = server.store.register_bucketed_table("bare", bare, n_buckets=8)
        assert reg2["n_buckets"] == 8
        entities = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(2).collect()]
        got = client.get_bucketed_rows("featlog", entities).to_pandas()
        exp = (
            spark.read.parquet(out)
            .where(F.col("conv_id").isin(entities))
            .orderBy("conv_id", "ts")
            .toPandas()
        )
        assert len(got) == len(exp) > 0
        assert list(got["conv_id"]) == list(exp["conv_id"])
        assert list(got["cum_turns"]) == list(exp["cum_turns"])
    finally:
        server.shutdown()


def test_parse_ts_converts_offsets_to_utc():
    """RFC3339 offsets are CONVERTED to UTC, not stripped (review r4):
    stripping would shift the queried instant by the offset."""
    from featherstore_spark.sources.flight import _parse_ts

    assert _parse_ts("2026-01-01T12:00:00+05:00") == datetime.datetime(2026, 1, 1, 7, 0, 0)
    assert _parse_ts("2026-01-01T12:00:00Z") == datetime.datetime(2026, 1, 1, 12, 0, 0)
    assert _parse_ts("2026-01-01T12:00:00") == datetime.datetime(2026, 1, 1, 12, 0, 0)
    assert _parse_ts(None) is None


def test_empty_feature_set_reads_return_zero_rows(served):
    """A created-but-never-ingested set must serve empty results, not
    FileNotFoundError (review r4)."""
    c = served["client"]
    c.create_feature_set("empty1", {"schema": SCHEMA.jsonValue(),
                                    "entity_col": "conv_id", "ts_col": "ts"})
    try:
        assert c.get_features("empty1", ["whoever"]).num_rows == 0
        assert c.get_feature_history(
            "empty1", "x", datetime.datetime(2020, 1, 1), datetime.datetime(2030, 1, 1)
        ).num_rows == 0
    finally:
        c.delete_feature_set("empty1")


def test_history_with_null_bounds_routes_to_history(served):
    """entity_id alone selects the history path (review r4): null bounds
    mean UNBOUNDED history of that entity — never latest-of-all-entities."""
    import pyarrow.flight as fl

    t = {"feature_set": "convfeat", "entity_id": "conv_0"}
    got = served["client"].conn.do_get(
        fl.Ticket(json.dumps(t).encode())
    ).read_all().to_pandas()
    assert set(got["conv_id"]) == {"conv_0"}
    assert len(got) == 7  # ALL of conv_0's rows, newest first
    assert list(got["turn_idx"])[:3] == [9, 8, 4]


def test_put_rejects_uncastable_types_and_normalizes_castable(served):
    """A mistyped batch must not poison the set (review r4): uncastable
    columns are rejected; castable ones (ISO-string ts) are normalized to
    the declared type so later reads still unify."""
    import pyarrow.flight as fl

    from featherstore_spark.sources.serving import ServingStore

    store = ServingStore(served["root"])
    bad = pa.table({
        "conv_id": ["x"], "ts": ["2026-01-01T00:00:00"],
        "turn_idx": pa.array([1], pa.int32()), "f_val": ["not-a-number"],
    })
    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid, ValueError), match="castable"):
        store.append_batch("convfeat", bad)
    ok = pa.table({
        "conv_id": ["zz_cast"], "ts": ["2026-01-01T00:00:00"],
        "turn_idx": pa.array([1], pa.int32()), "f_val": [1.5],
    })
    assert store.append_batch("convfeat", ok) == 1
    back = store.get_features("convfeat", ["zz_cast"]).to_pandas()
    assert len(back) == 1 and back["ts"].iloc[0] == datetime.datetime(2026, 1, 1)


def test_bucketed_rejects_narrow_int_entities(spark, tmp_path):
    """entity_bucket's xxhash64 twin covers string/int64 layouts only; a
    4-byte int entity must be refused, not silently mis-pruned (review
    r4)."""
    from featherstore_spark.sources.serving import BucketedTable, ServingError

    df = spark.range(10).select(
        F.col("id").cast("int").alias("ent"),
        F.current_timestamp().alias("ts"),
        F.pmod(F.col("id"), F.lit(4)).cast("int").alias("p_bucket"),
    )
    out = str(tmp_path / "intkeys")
    df.write.partitionBy("p_bucket").parquet(out)
    with pytest.raises(ServingError, match="string/int64"):
        BucketedTable(out, "ent", "ts", n_buckets=4)


def test_clear_stale_output_allows_crashed_first_run(tmp_path):
    """A killed FIRST materialization leaves only Spark write machinery
    (_temporary/, maybe _SUCCESS) — no data, so the ownership guard must
    clear it rather than demand manual rm (review r4)."""
    from featherstore_spark.plans.checkpoint import clear_stale_output

    crashed = tmp_path / "crashed"
    (crashed / "_temporary" / "0").mkdir(parents=True)
    (crashed / "_SUCCESS").write_text("")
    (crashed / "._SUCCESS.crc").write_text("")
    clear_stale_output(str(crashed))
    assert not crashed.exists()


def test_flight_point_in_time_matches_spark_asof(served, spark):
    """get_features_at == the Spark asof_join on the same files: latest
    preceding row per (entity, ts) request, inclusive bound, max-tiebreak
    on ties, NULLs when nothing precedes."""
    from featherstore_spark.operators.asof import asof_join

    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    points = [
        ("conv_0", base + datetime.timedelta(minutes=40)),  # tie ts: turn 9 wins
        ("conv_0", base + datetime.timedelta(minutes=20)),  # == turn 2 exactly
        ("conv_3", base + datetime.timedelta(minutes=999)),
        ("conv_3", base - datetime.timedelta(minutes=1)),   # before everything
        ("conv_9", base),                                   # unknown entity
    ]
    got = served["client"].get_features_at("convfeat", points).to_pandas()
    assert list(got["req_idx"]) == list(range(5))  # input order preserved

    feats = spark.read.parquet(f"{served['root']}/convfeat/data")
    spine = spark.createDataFrame(points, "conv_id string, ts timestamp_ntz")
    exp = (
        asof_join(spine, feats, on="conv_id", ts="ts", tiebreaks=("turn_idx",))
        .toPandas()
        .set_index(["conv_id", "ts"])
    )
    for _, r in got.iterrows():
        e = exp.loc[(r["conv_id"], r["ts"])]
        for col in ("f_ts", "f_f_val"):
            a, b = r[col], e[col]
            assert (pd.isna(a) and pd.isna(b)) or a == b, (r["req_idx"], col, a, b)
    # spot values: the tie resolves to turn 9's f_val, pre-history is NULL
    assert got.loc[0, "f_f_val"] == 999.0 and got.loc[0, "f_turn_idx"] == 9
    assert got.loc[1, "f_turn_idx"] == 2
    assert pd.isna(got.loc[3, "f_ts"]) and pd.isna(got.loc[4, "f_ts"])


def test_empty_points_list_returns_empty_point_table(served):
    """An empty points list must yield an empty point-in-time table —
    never fall through to latest-of-all-entities (review r4 pass 2)."""
    got = served["client"].get_features_at("convfeat", [])
    assert got.num_rows == 0
    assert "req_idx" in got.column_names  # the point-table shape


def test_points_with_null_ts_rejected(served):
    import pyarrow.flight as fl

    with pytest.raises((fl.FlightError, pa.lib.ArrowInvalid, ValueError), match="null"):
        served["client"].get_features_at("convfeat", [("conv_0", None)])


def test_points_accept_tz_aware_and_offset_ts(served):
    """tz-aware datetimes and offset strings are converted to UTC, not
    crashed on or shifted (review r4 pass 2)."""
    utc_cut = datetime.datetime(2025, 3, 1, 12, 20)
    aware = utc_cut.replace(tzinfo=datetime.timezone(datetime.timedelta(hours=5))) \
        + datetime.timedelta(hours=5)  # 17:20+05:00 == 12:20 UTC
    got = served["client"].get_features_at("convfeat", [("conv_0", aware)]).to_pylist()
    assert got[0]["f_turn_idx"] == 2  # same as the naive 12:20 cutoff


def test_put_normalizes_string_declared_columns(served):
    """An int-typed batch for a string-declared column is cast (not
    skipped): an unvalidated file would poison dataset schema unification
    order-dependently (review r4 pass 2)."""
    from featherstore_spark.sources.serving import ServingStore

    store = ServingStore(served["root"])
    batch = pa.table({
        "conv_id": pa.array([424242], pa.int64()),  # declared string
        "ts": pa.array([datetime.datetime(2026, 2, 1)], pa.timestamp("us")),
        "turn_idx": pa.array([0], pa.int32()),
        "f_val": [7.0],
    })
    assert store.append_batch("convfeat", batch) == 1
    back = store.get_features("convfeat", ["424242"]).to_pandas()
    assert len(back) == 1 and back["conv_id"].iloc[0] == "424242"


def test_point_reads_are_bucket_pruned(spark, transcripts, tmp_path):
    """VERDICT r4 next-round #3: get_features / get_features_at /
    get_feature_history on a registered bucketed table must open ONLY the
    hashed ``p_bucket=`` directories.  Proof by destruction: after dataset
    discovery, every OTHER bucket directory is deleted — a non-pruned read
    would fail on the missing files; the pruned one never opens them."""
    import os
    import shutil

    from featherstore_spark.functions.hashing import entity_bucket
    from featherstore_spark.plans.checkpoint import run_with_checkpoint
    from featherstore_spark.sources.serving import ServingStore

    out = str(tmp_path / "feat")
    run_with_checkpoint(
        transcripts, out, {"input": "prune-pts", "params": {"n_buckets": 8}}, n_buckets=8
    )
    ent = transcripts.select("conv_id").distinct().limit(1).collect()[0][0]
    exp = (
        spark.read.parquet(out)
        .where(F.col("conv_id") == ent)
        .orderBy("ts")
        .toPandas()
    )
    assert len(exp) > 1

    store = ServingStore(str(tmp_path / "root"))
    store.register_bucketed_table("featlog", out)
    bt = store.bucketed("featlog")  # pin dataset discovery to the intact layout
    keep = entity_bucket(ent, 8)
    assert all(f"p_bucket={keep}" in p for p in bt.fragments_scanned([ent]))
    removed = 0
    for d in os.listdir(out):
        if d.startswith("p_bucket=") and d != f"p_bucket={keep}":
            shutil.rmtree(os.path.join(out, d))
            removed += 1
    assert removed > 0  # the corpus spans several buckets

    # latest (J1) through the pruned path — and no partition col leaks out
    latest = store.get_features("featlog", entity_ids=[ent])
    assert latest.num_rows == 1
    assert "p_bucket" not in latest.column_names
    assert latest.column("ts")[0].as_py() == exp["ts"].iloc[-1].to_pydatetime()

    # point-in-time (J3) through the pruned path: as-of the 2nd event
    point_ts = exp["ts"].iloc[1].to_pydatetime()
    got = store.get_features_at("featlog", [(ent, point_ts)])
    assert got.num_rows == 1
    assert "f_p_bucket" not in got.column_names and "p_bucket" not in got.column_names
    assert got.column("f_ts")[0].as_py() == point_ts  # inclusive C3 bound

    # history (P3) through the pruned path
    hist = store.get_feature_history("featlog", ent, None, None)
    assert hist.num_rows == len(exp)
    assert "p_bucket" not in hist.column_names


def test_manifest_n_buckets_ambiguity_refused(tmp_path):
    """r4 advice: conflicting ``n_buckets`` values in the documented
    lineage locations must refuse registration, never silently pick one —
    a wrong modulus prunes point lookups to the wrong directory."""
    import json
    import os

    from featherstore_spark.sources.serving import ServingError, ServingStore

    out = str(tmp_path / "feat")
    os.makedirs(out)
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump({"lineage": {"n_buckets": 4, "params": {"n_buckets": 8}}}, fh)
    store = ServingStore(str(tmp_path / "root"))
    with pytest.raises(ServingError, match="ambiguous"):
        store.register_bucketed_table("bad", out)
    # an unrelated same-named key ELSEWHERE in the lineage is ignored
    with open(os.path.join(out, "_manifest.json"), "w") as fh:
        json.dump(
            {"lineage": {"params": {"n_buckets": 8},
                         "upstream": {"n_buckets": 999}}}, fh
        )
    assert store.register_bucketed_table("ok", out)["n_buckets"] == 8


def test_null_ts_feature_rows_ignored_in_point_reads(tmp_path):
    """r4 advice: a NULL-ts ingested row can never be an as-of match —
    it must be filtered out, not crash merge_asof for the entity set."""
    from featherstore_spark.sources.serving import ServingStore

    store = ServingStore(str(tmp_path / "root"))
    store.create_feature_set(
        "s", {"schema": SCHEMA.jsonValue(), "entity_col": "conv_id", "ts_col": "ts"}
    )
    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    store.append_batch("s", pa.table({
        "conv_id": ["c1", "c1", "c1"],
        "ts": pa.array([None, base, base + datetime.timedelta(hours=2)], pa.timestamp("us")),
        "turn_idx": pa.array([0, 1, 2], pa.int32()),
        "f_val": pa.array([111.0, 222.0, 333.0], pa.float64()),
    }))
    got = store.get_features_at("s", [("c1", base + datetime.timedelta(hours=1))])
    assert got.num_rows == 1
    assert got.column("f_f_val")[0].as_py() == 222.0


def test_history_missing_entity_id_is_400(served):
    """r4 advice: a missing required query param is the client's error —
    400 with a descriptive message, not a KeyError-turned-500."""
    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]
    try:
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/history/convfeat")
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "entity_id" in json.loads(e.read().decode())["error"]
    finally:
        srv.shutdown()


def test_metrics_latency_histograms(served):
    """VERDICT r4 next-round #6: /metrics exposes per-op latency
    histograms in the reference's ExponentialBuckets(0.001, 2, 10) layout
    (pkg/metrics/metrics.go:84-116) — cumulative, monotone, with _sum and
    _count series."""
    import re

    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/features/convfeat?entity_id=conv_1"
        ):
            pass
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            text = r.read().decode()
    finally:
        srv.shutdown()
    assert "# TYPE featherstore_request_duration_seconds histogram" in text
    pat = re.compile(
        r'featherstore_request_duration_seconds_bucket\{op="get_features",le="([^"]+)"\} (\d+)'
    )
    buckets = pat.findall(text)
    assert len(buckets) == 11 and buckets[0][0] == "0.001" and buckets[-1][0] == "+Inf"
    counts = [int(c) for _, c in buckets]
    assert counts == sorted(counts)  # cumulative histogram is monotone
    total = int(re.search(
        r'featherstore_request_duration_seconds_count\{op="get_features"\} (\d+)', text
    ).group(1))
    assert counts[-1] == total >= 1
    assert re.search(
        r'featherstore_request_duration_seconds_sum\{op="get_features"\} \d', text
    )


def test_http_features_at_matches_flight_points(served):
    """POST /features-at is the HTTP twin of the Flight `points` ticket:
    identical rows for identical requests; malformed bodies get 400."""
    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]
    base = datetime.datetime(2025, 3, 1, 12, 0, 0)
    points = [("conv_1", base + datetime.timedelta(minutes=25)),
              ("conv_2", base + datetime.timedelta(minutes=3))]
    try:
        body = json.dumps(
            {"points": [[e, ts.isoformat()] for e, ts in points]}
        ).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/features-at/convfeat", data=body,
            headers={"Content-Type": "application/json"}, method="POST",
        )
        with urllib.request.urlopen(req) as r:
            http_rows = json.loads(r.read().decode())
        flight_rows = served["client"].get_features_at("convfeat", points).to_pylist()
        assert len(http_rows) == len(flight_rows) == 2
        for hr, fr in zip(http_rows, flight_rows):
            assert hr["req_idx"] == fr["req_idx"]
            assert hr["f_f_val"] == fr["f_f_val"]
            assert hr["conv_id"] == fr["conv_id"]
        bad = urllib.request.Request(
            f"http://127.0.0.1:{port}/features-at/convfeat",
            data=json.dumps({"points": "nope"}).encode(), method="POST",
        )
        try:
            urllib.request.urlopen(bad)
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        srv.shutdown()


def test_http_features_at_client_errors_are_400(served):
    """r5 review: malformed timestamps and null entities in POST
    /features-at are CLIENT errors (400), not ValueError/ArrowTypeError
    500s."""
    from featherstore_spark.sources.http_api import start_in_thread

    srv, _t = start_in_thread(served["root"])
    port = srv.server_address[1]

    def post(payload):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/features-at/convfeat",
            data=json.dumps(payload).encode(), method="POST",
        )
        try:
            urllib.request.urlopen(req)
            return 200
        except urllib.error.HTTPError as e:
            return e.code

    try:
        assert post({"points": [["conv_1", "not-a-date"]]}) == 400
        assert post({"points": [[None, "2026-01-01T00:00:00"]]}) == 400
        assert post({"points": "nope"}) == 400
    finally:
        srv.shutdown()


def test_bucketed_registration_rebinds_all_read_paths(spark, transcripts, tmp_path):
    """r5 review: when a name has BOTH catalog data and a bucketed
    registration, every read path must serve the SAME table (the
    bucketed one) — entity-filtered and unfiltered answers cannot come
    from different datasets."""
    from featherstore_spark.plans.checkpoint import run_with_checkpoint
    from featherstore_spark.sources.serving import ServingStore

    out = str(tmp_path / "feat")
    run_with_checkpoint(
        transcripts, out, {"input": "rebind", "params": {"n_buckets": 8}}, n_buckets=8
    )
    store = ServingStore(str(tmp_path / "root"))
    store.create_feature_set(
        "dual", {"schema": SCHEMA.jsonValue(), "entity_col": "conv_id", "ts_col": "ts"}
    )
    base = datetime.datetime(2030, 1, 1)
    store.append_batch("dual", _batch([("other_conv", base, 0, 1.0)]))
    store.register_bucketed_table("dual", out)
    unfiltered = store.get_features("dual")
    ent = transcripts.select("conv_id").distinct().limit(1).collect()[0][0]
    filtered = store.get_features("dual", entity_ids=[ent])
    # both answers come from the bucketed table: the catalog-only row is
    # invisible, the checkpoint entity is served on both paths
    assert "other_conv" not in unfiltered.column("conv_id").to_pylist()
    assert filtered.num_rows == 1
    assert "p_bucket" not in unfiltered.column_names


def test_points_max_staleness_ttl(served):
    """Serving-side feature TTL (the asof_join tolerance twin): expired
    matches null out, the boundary is INCLUSIVE, and fresh matches are
    byte-identical to the un-TTL'd read.  Corpus latest rows per conv_c
    sit at minute 40+c; points at 13:30 give staleness 50-c minutes, so a
    45-minute TTL expires conv_0..4 and keeps conv_5 exactly at the
    boundary (staleness == TTL)."""
    from featherstore_spark.sources.serving import ServingStore

    store = ServingStore(served["root"])
    points = [(f"conv_{c}", datetime.datetime(2025, 3, 1, 13, 30)) for c in range(6)]
    plain = store.get_features_at("convfeat", points).to_pandas()
    ttl = store.get_features_at(
        "convfeat", points, max_staleness="45 minutes"
    ).to_pandas()
    assert plain["f_ts"].notna().all()  # every conv has history
    for c in range(6):
        staleness = points[c][1] - plain["f_ts"].iloc[c].to_pydatetime()
        if staleness <= datetime.timedelta(minutes=45):
            assert ttl["f_ts"].iloc[c] == plain["f_ts"].iloc[c], c
            assert ttl["f_f_val"].iloc[c] == plain["f_f_val"].iloc[c], c
        else:
            assert pd.isna(ttl["f_ts"].iloc[c]) and pd.isna(ttl["f_f_val"].iloc[c]), c
    # the corpus really exercises both sides AND the inclusive boundary
    assert ttl["f_ts"].isna().sum() == 5
    assert ttl["f_ts"].notna().sum() == 1  # conv_5, staleness == 45 min exactly
    import pytest as _pytest

    from featherstore_spark.sources.serving import ServingError
    with _pytest.raises(ServingError, match="non-negative"):
        store.get_features_at("convfeat", points, max_staleness=-5)


def test_serving_reads_engine_parquet_at_scale(spark, tmp_path):
    """Every row of a ~30k-row checkpointed materialization (one bucket,
    so one file with large pages) reads back through the serving tier.
    Spark's Hadoop-framed ``lz4`` codec broke this ("Corrupt Lz4
    compressed data" from pyarrow); the session writes parquet-standard
    ``lz4_raw``."""
    from featherstore_spark.datagen import generate_transcripts
    from featherstore_spark.plans.checkpoint import run_with_checkpoint
    from featherstore_spark.sources.serving import ServingStore

    corpus = str(tmp_path / "corpus")
    generate_transcripts(spark, n_convs=2000, mean_turns=15, seed=5).write.parquet(corpus)
    t = spark.read.parquet(corpus)
    out = str(tmp_path / "feat")
    run_with_checkpoint(t, out, {"input": "serve-30k", "params": {"n_buckets": 1}}, n_buckets=1)
    exp = spark.read.parquet(out).agg(F.count(F.lit(1)), F.sum("cum_turns")).first()
    assert exp[0] > 25_000

    store = ServingStore(str(tmp_path / "root"))
    store.register_bucketed_table("featlog", out)
    ids = [r[0] for r in t.select("conv_id").distinct().collect()]
    got = store.get_bucketed_rows("featlog", ids)
    assert got.num_rows == exp[0]
    assert sum(got.column("cum_turns").to_pylist()) == exp[1]


def test_bucketed_view_follows_rematerialization(spark, transcripts, tmp_path):
    """A clean re-run into the served path replaces every part file; the
    cached dataset must be rediscovered (keyed on the manifest's mtime),
    not keep pointing at deleted files."""
    from featherstore_spark.plans.checkpoint import clear_stale_output, run_with_checkpoint
    from featherstore_spark.sources.serving import ServingStore

    out = str(tmp_path / "feat")
    lineage = {"input": "remat", "params": {"n_buckets": 8}}
    run_with_checkpoint(transcripts, out, lineage, n_buckets=8)
    store = ServingStore(str(tmp_path / "root"))
    store.register_bucketed_table("featlog", out)
    ent = transcripts.select("conv_id").first()[0]
    before = store.get_features("featlog", entity_ids=[ent])
    assert before.num_rows == 1

    clear_stale_output(out)
    run_with_checkpoint(transcripts, out, lineage, n_buckets=8)
    after = store.get_features("featlog", entity_ids=[ent])
    assert after.to_pylist() == before.to_pylist()
