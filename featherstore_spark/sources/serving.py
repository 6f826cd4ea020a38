"""Driver-side serving kernel over Spark-materialized feature tables.

Reference parity: featherstore serves features over Arrow Flight
(/root/reference/pkg/flight/server.go — DoGet latest/history at :242-300,
DoPut ingest at :352, DoAction feature-set DDL at :477) and its store
interface (pkg/core/model.go GetFeatures/GetFeatureHistory).  This module
is the store those transports wrap on the Spark engine: a ZERO-Spark
read path over the parquet layout the engine writes.

Architecture note (the 100 TB posture): serving point lookups must never
launch a Spark job — compute (Spark) materializes bucketed feature
tables; the serving tier reads them with ``pyarrow.dataset``:

- entity predicates push into parquet row-group statistics,
- for hash-bucketed tables (``p_bucket=…`` layout from
  plans/checkpoint.py), the pure-python ``functions.hashing.xxhash64``
  reproduces Spark's bucket value driver-side, so a point lookup opens
  EXACTLY the one partition directory holding the entity — O(table/N)
  bytes touched regardless of table size (asserted on dataset fragments
  in tests/test_serving.py),
- latest-per-entity / history semantics are the engine's J1/P3 kernels
  (ts desc, declared tiebreaks desc, inclusive bounds — C1/C2/C3 fixes),
  differentially tested against the Spark operators.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from featherstore_spark.functions.hashing import entity_bucket

_META = "metadata.json"


class ServingError(ValueError):
    pass


_SIMPLE_ARROW_TYPES = {
    "string": pa.string(), "long": pa.int64(), "integer": pa.int32(),
    "short": pa.int16(), "byte": pa.int8(), "double": pa.float64(),
    "float": pa.float32(), "boolean": pa.bool_(), "binary": pa.binary(),
    "date": pa.date32(), "timestamp": pa.timestamp("us"),
    "timestamp_ntz": pa.timestamp("us"),
}


def _declared_simple_types(schema_json: dict) -> dict:
    """name -> concrete arrow type for every SIMPLE-typed declared field.
    Nested/unknown types are omitted (no safe cast target), so ingest
    validation casts exactly the fields whose declaration is
    unambiguous."""
    out = {}
    for f in schema_json["fields"]:
        t = f["type"]
        if isinstance(t, str) and t in _SIMPLE_ARROW_TYPES:
            out[f["name"]] = _SIMPLE_ARROW_TYPES[t]
    return out


def _spark_schema_to_arrow(schema_json: dict) -> pa.Schema:
    """Arrow schema for a stored StructType JSON — enough fidelity for
    Flight schema advertising (names + basic types; nested types degrade
    to string here, which is why ingest validation uses
    :func:`_declared_simple_types` instead)."""
    fields = []
    for f in schema_json["fields"]:
        t = f["type"]
        fields.append(pa.field(
            f["name"],
            _SIMPLE_ARROW_TYPES.get(t, pa.string()) if isinstance(t, str) else pa.string(),
        ))
    return pa.schema(fields)


def parse_ts(v):
    """RFC3339/ISO-8601 (or datetime) → UTC-naive datetime — stored
    timestamps are UTC-naive (session tz pinned UTC).  Offset-carrying
    inputs are CONVERTED to UTC before the tzinfo drop; stripping the
    offset directly would shift the queried instant.  Shared by both
    transports (flight.py, http_api.py)."""
    from datetime import datetime, timezone

    if v is None:
        return None
    dt = v if isinstance(v, datetime) else datetime.fromisoformat(
        str(v).replace("Z", "+00:00")
    )
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _manifest_n_buckets(path: str):
    """The write-time bucket modulus from a checkpoint manifest's lineage.

    Read from the two DOCUMENTED locations only — ``params.n_buckets``
    (what cli.py writes) and top-level ``n_buckets`` — erroring if both
    are present and disagree.  A recursive first-match walk (r4 advice)
    would silently adopt an unrelated same-named key in walk order,
    producing exactly the wrong-modulus/empty-result failure mode
    register_bucketed_table documents as the worst case."""
    try:
        with open(os.path.join(path, "_manifest.json")) as fh:
            lineage = json.load(fh).get("lineage", {})
    except (FileNotFoundError, ValueError):
        return None
    if not isinstance(lineage, dict):
        return None
    found = {}
    params = lineage.get("params")
    if isinstance(params, dict) and isinstance(params.get("n_buckets"), int):
        found["params.n_buckets"] = params["n_buckets"]
    if isinstance(lineage.get("n_buckets"), int):
        found["n_buckets"] = lineage["n_buckets"]
    if len(set(found.values())) > 1:
        raise ServingError(
            f"ambiguous n_buckets in checkpoint lineage at {path!r} "
            f"({found}) — pass n_buckets explicitly"
        )
    return next(iter(found.values()), None)


def _manifest_mtime(path: str) -> int | None:
    """``st_mtime_ns`` of a checkpoint output's ``_manifest.json`` (None
    without one): the version a cached view of the table is valid for."""
    try:
        return os.stat(os.path.join(path, "_manifest.json")).st_mtime_ns
    except OSError:
        return None


#: Reference latency bucket layout: prometheus.ExponentialBuckets(0.001, 2, 10)
#: (pkg/metrics/metrics.go:84-116) — 1 ms … 512 ms, +Inf implicit.
LATENCY_BUCKETS = tuple(0.001 * 2**i for i in range(10))


class ServingMetrics:
    """Request/row counters + per-op latency histograms for the serving
    tier (reference: pkg/metrics/metrics.go — Prometheus counters and
    ExponentialBuckets(0.001, 2, 10) histograms around every Flight and
    HTTP handler).  Thread-safe; rendered in the Prometheus text
    exposition format at ``GET /metrics`` (http_api.py)."""

    def __init__(self):
        import collections
        import threading

        self._lock = threading.Lock()
        self._requests = collections.Counter()
        self._rows = collections.Counter()
        # per-op non-cumulative bucket counts (len(LATENCY_BUCKETS)+1 for
        # +Inf); cumulated at render time as the exposition format requires
        self._lat = collections.defaultdict(lambda: [0] * (len(LATENCY_BUCKETS) + 1))
        self._lat_sum = collections.defaultdict(float)

    def observe(self, op: str, rows: int = 0, seconds: float | None = None) -> None:
        import bisect

        with self._lock:
            self._requests[op] += 1
            self._rows[op] += rows
            if seconds is not None:
                self._lat[op][bisect.bisect_left(LATENCY_BUCKETS, seconds)] += 1
                self._lat_sum[op] += seconds

    def timed(self, op: str):
        """Context manager: times the body and observes one request.
        ``ctx.rows = n`` inside the body records the row count."""
        import contextlib

        metrics = self

        @contextlib.contextmanager
        def _cm():
            class _Ctx:
                rows = 0

            ctx = _Ctx()
            t0 = time.perf_counter()
            try:
                yield ctx
            finally:
                metrics.observe(op, rows=ctx.rows, seconds=time.perf_counter() - t0)

        return _cm()

    def render(self) -> str:
        lines = [
            "# HELP featherstore_requests_total serving requests by operation",
            "# TYPE featherstore_requests_total counter",
        ]
        with self._lock:
            for op, n in sorted(self._requests.items()):
                lines.append(f'featherstore_requests_total{{op="{op}"}} {n}')
            lines += [
                "# HELP featherstore_rows_total rows served/ingested by operation",
                "# TYPE featherstore_rows_total counter",
            ]
            for op, n in sorted(self._rows.items()):
                lines.append(f'featherstore_rows_total{{op="{op}"}} {n}')
            lines += [
                "# HELP featherstore_request_duration_seconds serving request latency by operation",
                "# TYPE featherstore_request_duration_seconds histogram",
            ]
            for op, counts in sorted(self._lat.items()):
                cum = 0
                for le, c in zip(LATENCY_BUCKETS, counts):
                    cum += c
                    lines.append(
                        f'featherstore_request_duration_seconds_bucket{{op="{op}",le="{le:g}"}} {cum}'
                    )
                cum += counts[-1]
                lines.append(
                    f'featherstore_request_duration_seconds_bucket{{op="{op}",le="+Inf"}} {cum}'
                )
                lines.append(
                    f'featherstore_request_duration_seconds_sum{{op="{op}"}} {self._lat_sum[op]:.6f}'
                )
                lines.append(
                    f'featherstore_request_duration_seconds_count{{op="{op}"}} {cum}'
                )
        return "\n".join(lines) + "\n"


class ServingStore:
    """Feature-set store over a FeatureCatalog root directory — the same
    ``metadata.json`` + ``data/*.parquet`` layout sources/catalog.py
    maintains, readable and writable WITHOUT a SparkSession."""

    def __init__(self, root: str):
        self.root = root
        self.metrics = ServingMetrics()
        os.makedirs(root, exist_ok=True)

    # -- DDL (reference DoAction create/get/list/delete, server.go:477) --
    def create_feature_set(self, name: str, meta: dict) -> dict:
        path = self._path(name)
        if os.path.exists(os.path.join(path, _META)):
            raise ServingError(f"feature set {name!r} already exists")
        required = {"schema", "entity_col", "ts_col"}
        missing = required - set(meta)
        if missing:
            raise ServingError(f"feature-set meta missing {sorted(missing)}")
        os.makedirs(path, exist_ok=True)
        now = time.time()
        full = {"name": name, "description": "", "tags": {}, "n_buckets": 64,
                "created_at": now, "updated_at": now, **meta}
        with open(os.path.join(path, _META), "w") as fh:
            json.dump(full, fh, indent=2)
        return full

    def get_meta(self, name: str) -> dict:
        try:
            with open(os.path.join(self._path(name), _META)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ServingError(f"feature set {name!r} does not exist") from None

    def list_feature_sets(self) -> list[str]:
        out = []
        for e in sorted(os.listdir(self.root)):
            if os.path.exists(os.path.join(self.root, e, _META)):
                out.append(e)
        return out

    def delete_feature_set(self, name: str) -> None:
        import shutil

        self.get_meta(name)  # must exist
        shutil.rmtree(self._path(name))

    # -- ingest (reference DoPut, server.go:352) -------------------------
    def append_batch(self, name: str, table: pa.Table) -> int:
        """Schema-checked append of one Arrow table as a parquet file.
        Writes are atomic (tmp + rename) like the catalog's
        write-audit-publish; column order is normalized to the declared
        schema so every data file is layout-identical."""
        meta = self.get_meta(name)
        declared = [f["name"] for f in meta["schema"]["fields"]]
        got = table.column_names
        if sorted(got) != sorted(declared):
            raise ServingError(
                f"batch schema {got} does not match feature set {declared}"
            )
        table = table.select(declared)
        # normalize column TYPES to the declared schema for every
        # simple-typed declared field (string included): one mistyped
        # batch (ts as string, conv_id as int64) would otherwise write a
        # file that poisons schema unification for every subsequent read
        # of the set.  Nested/unknown declared types have no unambiguous
        # cast target and pass through as-is.
        target = _declared_simple_types(meta["schema"])
        cols = []
        for field in table.schema:
            want = target.get(field.name)
            if want is not None and field.type != want:
                try:
                    cols.append(table.column(field.name).cast(want))
                except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
                    raise ServingError(
                        f"column {field.name!r} type {field.type} is not castable "
                        f"to the declared {want}"
                    ) from exc
            else:
                cols.append(table.column(field.name))
        table = pa.table(dict(zip(table.column_names, cols)))
        with self.metrics.timed("ingest") as ctx:
            ctx.rows = table.num_rows
            data_dir = os.path.join(self._path(name), "data")
            os.makedirs(data_dir, exist_ok=True)
            fname = f"ingest_{uuid.uuid4().hex}.parquet"
            tmp = os.path.join(data_dir, "." + fname + ".tmp")
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, os.path.join(data_dir, fname))
        return table.num_rows

    # -- reads -----------------------------------------------------------
    def dataset(self, name: str) -> pads.Dataset:
        data_dir = os.path.join(self._path(name), "data")
        if not os.path.isdir(data_dir):
            # created-but-never-ingested set: an EMPTY dataset with the
            # declared schema, so reads return zero rows, not FileNotFound
            self.get_meta(name)  # unknown names must still 404
            return pads.dataset([], format="parquet", schema=self.arrow_schema(name))
        return pads.dataset(data_dir, format="parquet", partitioning="hive")

    def arrow_schema(self, name: str) -> pa.Schema:
        return _spark_schema_to_arrow(self.get_meta(name)["schema"])

    def _maybe_bucketed(self, name: str):
        try:
            return self.bucketed(name)
        except ServingError:
            return None

    def _resolve(self, name: str, entity_ids):
        """Read-path routing: ``(ds, entity_col, ts_col, tiebreaks,
        filter, drop_cols)`` for a feature-set read.

        A registered bucketed table (plans/checkpoint ``p_bucket=``
        layout) REBINDS the whole read path for ``name`` — filtered,
        unfiltered, and schema probes all serve the bucketed dataset
        (r5 review: routing only entity-filtered reads there made the
        same endpoint answer from two different tables depending on
        query params).  Entity-named requests filter through
        ``BucketedTable.bucket_filter``, opening ONLY the partition
        directories the entities hash to (r4 verdict #3).  Without a
        registration, the catalog ``data/`` dataset serves with a plain
        entity IN-list; ``metadata.json`` keeps serving DDL either
        way."""
        bt = self._maybe_bucketed(name)
        meta = None
        try:
            meta = self.get_meta(name)
        except ServingError:
            if bt is None:
                raise
        if bt is not None:
            e, ts = bt.entity_col, bt.ts_col
            tiebreaks = [c for c in ("turn_idx", "event_id") if c in bt.ds.schema.names]
            flt = bt.bucket_filter(entity_ids) if entity_ids is not None else None
            return bt.ds, e, ts, tiebreaks, flt, ("p_bucket",)
        e, ts = meta["entity_col"], meta["ts_col"]
        tiebreaks = self._tiebreaks(meta)
        flt = pads.field(e).isin(list(entity_ids)) if entity_ids is not None else None
        return self.dataset(name), e, ts, tiebreaks, flt, ()

    def get_features(self, name: str, entity_ids=None, as_of=None) -> pa.Table:
        """Latest row per entity (reference GetFeatures; engine J1
        semantics: ts desc, tiebreaks desc, optional as-of cutoff).
        Bucket-pruned when ``name`` is a registered bucketed table."""
        with self.metrics.timed("get_features") as ctx:
            ds, e, ts, tiebreaks, flt, drop = self._resolve(name, entity_ids)
            t = latest_from_dataset(
                ds, e, ts, tiebreaks=tiebreaks, as_of=as_of, prefilter=flt,
            )
            t = t.drop_columns([c for c in drop if c in t.column_names])
            ctx.rows = t.num_rows
            return t

    def get_features_at(self, name: str, points, max_staleness=None) -> pa.Table:
        """Point-in-time feature vector per (entity, ts) request — the
        flagship as-of semantic (operators/asof.asof_join: latest feature
        row with ``f_ts <= ts``, inclusive C3 bound, max-tiebreak C2
        determinism) served driver-side for point reads.

        ``max_staleness`` (feature TTL — the asof_join ``tolerance``
        twin): a ``datetime.timedelta`` or interval string; a match older
        than ``ts − max_staleness`` returns NULLs (inclusive boundary:
        staleness == TTL still matches).  Expired features serving as
        fresh is the online-store staleness bug.

        ``points``: iterable of (entity_id, datetime).  Output: one row
        per request in input order (``req_idx``) with the requested
        entity/ts plus the matched row's ts and feature columns, NULLs
        when nothing precedes the point — the same shape
        ``asof_join`` emits, differentially tested against it.

        Scale shape: one pruned dataset read for the requested entities —
        bucket-pruned to the hashed ``p_bucket=`` directories when the
        set is a registered bucketed table (r4 verdict #3) — then a
        pure Arrow/numpy as-of match: Arrow-native sort by
        (entity, ts, tiebreaks), one binary search per point, one
        null-tolerant ``take`` for the matched rows.  No pandas in the
        hot path (r5: the merge_asof + sort_values + frame-conversion
        machinery was >half of every lookup's latency), no Spark job,
        no full-table work."""
        import numpy as np

        stale_ns = None
        if max_staleness is not None:
            import datetime as _dt

            from featherstore_spark.functions.time import interval_to_us

            us = (
                int(max_staleness.total_seconds() * 1_000_000)
                if isinstance(max_staleness, _dt.timedelta)
                else interval_to_us(max_staleness)
                if isinstance(max_staleness, str)
                else int(max_staleness)
            )
            if us < 0:
                raise ServingError(f"max_staleness must be non-negative, got {max_staleness!r}")
            stale_ns = np.timedelta64(us * 1000, "ns")

        with self.metrics.timed("get_features_at") as ctx:
            # normalize/validate up front: a None entity or ts would
            # surface as an opaque Arrow scan/compare error downstream
            points = [(p[0], parse_ts(p[1])) for p in points]
            bad = [p for p in points if p[1] is None or p[0] is None]
            if bad:
                raise ServingError(f"points with null entity or null/unparseable ts: {bad[:3]}")
            ds, e, ts_col, tiebreaks, flt, drop = self._resolve(
                name, sorted({p[0] for p in points}) if points else None
            )
            if not points:
                # shape-stable empty result (merge_asof on an all-empty frame
                # degrades column dtypes to null, breaking Arrow conversion)
                fschema = ds.schema
                fields = [
                    pa.field("req_idx", pa.int64()),
                    pa.field(e, fschema.field(e).type if e in fschema.names else pa.string()),
                    pa.field(ts_col, pa.timestamp("ns")),
                ] + [
                    pa.field(f"f_{f.name}",
                             pa.timestamp("ns") if f.name == ts_col else f.type)
                    for f in fschema if f.name != e and f.name not in drop
                ]
                return pa.schema(fields).empty_table()
            # NULL-ts feature rows can never be an as-of match (r4
            # advice): drop them in the pushed-down filter, not post-hoc
            flt = flt & pads.field(ts_col).is_valid()
            feats = ds.to_table(
                filter=flt,
                columns=[c for c in ds.schema.names if c not in drop],
            )
            # Arrow-native sort (entity asc, ts asc, tiebreaks asc): the
            # LAST row with ts <= point inside an entity run is then the
            # max-(ts, tiebreaks) winner — identical tie policy to
            # asof_join (C2/C3).  Nulls in tiebreaks sort last, matching
            # the previous pandas ordering.
            feats = feats.set_column(
                feats.schema.get_field_index(ts_col), ts_col,
                feats.column(ts_col).cast(pa.timestamp("ns")),
            )
            order = [(e, "ascending"), (ts_col, "ascending")] + [
                (c, "ascending") for c in tiebreaks
            ]
            feats = feats.sort_by(order).combine_chunks()
            ent_col = feats.column(e).combine_chunks()
            ts_np = feats.column(ts_col).to_numpy(zero_copy_only=False)

            def _bisect(target, side: str) -> int:
                # O(log n) probes on the Arrow column directly — no O(n)
                # Python materialization of the entity column (r5 review)
                lo, hi = 0, len(ent_col)
                while lo < hi:
                    mid = (lo + hi) // 2
                    v = ent_col[mid].as_py()
                    if v < target or (side == "right" and v == target):
                        lo = mid + 1
                    else:
                        hi = mid
                return lo

            # entity run bounds by binary search, then the rightmost
            # ts <= point within the (small) run
            idx: list[int | None] = []
            run_cache: dict = {}
            for pe, pt in points:
                if pe not in run_cache:
                    run_cache[pe] = (_bisect(pe, "left"), _bisect(pe, "right"))
                lo, hi = run_cache[pe]
                if lo == hi:
                    idx.append(None)
                    continue
                pt64 = np.datetime64(pt, "ns")
                j = int(np.searchsorted(ts_np[lo:hi], pt64, "right")) - 1
                if j >= 0 and stale_ns is not None and ts_np[lo + j] < pt64 - stale_ns:
                    j = -1  # latest match is expired -> no in-window feature exists
                idx.append(lo + j if j >= 0 else None)
            matched = feats.take(pa.array(idx, pa.int64()))  # null idx -> null row
            cols = {
                "req_idx": pa.array(range(len(points)), pa.int64()),
                e: pa.array([p[0] for p in points], feats.schema.field(e).type),
                ts_col: pa.array(
                    [np.datetime64(p[1], "ns") for p in points], pa.timestamp("ns")
                ),
            }
            for c in feats.column_names:
                if c != e:
                    cols[f"f_{c}"] = matched.column(c)
            out = pa.table(cols)
            ctx.rows = out.num_rows
            return out

    def get_feature_history(self, name: str, entity_id, start, end) -> pa.Table:
        """Inclusive-bounds history, newest first (reference
        GetFeatureHistory; engine P3/O1 semantics).  Bucket-pruned when
        ``name`` is a registered bucketed table."""
        with self.metrics.timed("get_feature_history") as ctx:
            ds, e, ts, tiebreaks, flt, drop = self._resolve(name, [entity_id])
            if flt is None:
                flt = pads.field(e) == entity_id
            if start is not None:
                flt = flt & (pads.field(ts) >= start)
            if end is not None:
                flt = flt & (pads.field(ts) <= end)
            t = ds.to_table(filter=flt)
            t = t.drop_columns([c for c in drop if c in t.column_names])
            order = [(ts, "descending")] + [(c, "descending") for c in tiebreaks]
            ctx.rows = t.num_rows
            return t.sort_by(order)

    def _tiebreaks(self, meta: dict) -> list[str]:
        names = [f["name"] for f in meta["schema"]["fields"]]
        return [c for c in ("turn_idx", "event_id") if c in names]

    def _path(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ServingError(f"invalid feature set name {name!r}")
        return os.path.join(self.root, name)

    # -- bucketed checkpoint outputs (plans/checkpoint.py) ---------------
    def register_bucketed_table(
        self,
        name: str,
        path: str,
        entity_col: str = "conv_id",
        ts_col: str = "ts",
        n_buckets: int | None = None,
    ) -> dict:
        """Register a ``p_bucket=``-partitioned checkpoint output (the
        flagship materialization) for point serving.  ``n_buckets`` must
        equal the modulus the table was WRITTEN with; when omitted it is
        read from the checkpoint manifest's lineage (any ``n_buckets``
        key).  It is deliberately NEVER inferred from the ``p_bucket=``
        directory count: a bucket with zero output rows writes no
        directory, and a wrong modulus silently prunes point lookups to
        the wrong partition — serving empty results for present
        entities, the worst failure mode.  Registration is
        metadata-only: a JSON pointer under the root, no data
        movement."""
        if n_buckets is None:
            n_buckets = _manifest_n_buckets(path)
            if n_buckets is None:
                raise ServingError(
                    f"cannot determine n_buckets for {path!r}: no 'n_buckets' "
                    "key in its checkpoint manifest lineage — pass n_buckets "
                    "explicitly (it must equal the write-time bucket modulus; "
                    "directory counting would miss empty buckets)"
                )
        reg = {"kind": "bucketed_table", "path": path, "entity_col": entity_col,
               "ts_col": ts_col, "n_buckets": n_buckets}
        os.makedirs(self._path(name), exist_ok=True)
        with open(os.path.join(self._path(name), "bucketed.json"), "w") as fh:
            json.dump(reg, fh, indent=2)
        getattr(self, "_bucketed_cache", {}).pop(name, None)  # re-register = rediscover
        return reg

    def bucketed(self, name: str) -> "BucketedTable":
        # cached per name: BucketedTable.__init__ runs full dataset file
        # discovery — per-lookup rediscovery would make the "constant
        # work point read" O(total files) in metadata again.  Keyed on the
        # table manifest's mtime (one stat per lookup): a re-materialization
        # replaces the part files and rewrites the manifest, so the cached
        # file list would point at deleted files.  Also invalidated by
        # register_bucketed_table.
        cached = getattr(self, "_bucketed_cache", None)
        if cached is None:
            cached = self._bucketed_cache = {}
        hit = cached.get(name)
        if hit is not None and hit[1] == _manifest_mtime(hit[0].path):
            return hit[0]
        try:
            with open(os.path.join(self._path(name), "bucketed.json")) as fh:
                reg = json.load(fh)
        except FileNotFoundError:
            raise ServingError(f"no bucketed table registered as {name!r}") from None
        # stat before discovery: a rewrite racing it shows up next lookup
        version = _manifest_mtime(reg["path"])
        bt = BucketedTable(reg["path"], reg["entity_col"], reg["ts_col"], reg["n_buckets"])
        cached[name] = (bt, version)
        return bt

    def get_bucketed_rows(self, name: str, entity_ids) -> pa.Table:
        """All rows for the requested entities from a registered bucketed
        table — opens only the partition directories the entities hash to
        (see BucketedTable)."""
        with self.metrics.timed("get_bucketed_rows") as ctx:
            t = self.bucketed(name).rows_for(entity_ids)
            ctx.rows = t.num_rows
            return t


class BucketedTable:
    """Point-lookup view over a hash-bucketed checkpoint output
    (``p_bucket=N`` directories from plans/checkpoint.run_with_checkpoint).

    The lookup computes the entity's bucket with the pure-python
    ``xxhash64`` twin of Spark's, so only ONE partition directory is
    opened — the constant-work point read a 100 TB serving tier needs."""

    def __init__(self, path: str, entity_col: str, ts_col: str, n_buckets: int):
        self.path = path
        self.entity_col = entity_col
        self.ts_col = ts_col
        self.n_buckets = n_buckets
        self.ds = pads.dataset(path, format="parquet", partitioning="hive")
        # entity_bucket reproduces Spark's xxhash64 for utf8 strings and
        # 8-byte longs ONLY; a 4-byte int entity hashes differently in
        # Spark, which would prune lookups to the wrong directory —
        # refuse rather than silently serve empty results
        etype = self.ds.schema.field(entity_col).type
        if not (pa.types.is_string(etype) or pa.types.is_large_string(etype)
                or pa.types.is_int64(etype)):
            raise ServingError(
                f"bucketed point lookup supports string/int64 entity keys; "
                f"{entity_col!r} is {etype} (xxhash64 byte layout differs)"
            )

    def bucket_filter(self, entity_ids) -> pads.Expression:
        buckets = sorted({entity_bucket(e, self.n_buckets) for e in entity_ids})
        return pads.field("p_bucket").isin(buckets) & pads.field(
            self.entity_col
        ).isin(list(entity_ids))

    def rows_for(self, entity_ids) -> pa.Table:
        t = self.ds.to_table(filter=self.bucket_filter(entity_ids))
        return t.sort_by([(self.entity_col, "ascending"), (self.ts_col, "ascending")])

    def fragments_scanned(self, entity_ids) -> list[str]:
        """Data files the lookup touches (test/observability hook)."""
        frags = self.ds.get_fragments(
            filter=pads.field("p_bucket").isin(
                sorted({entity_bucket(e, self.n_buckets) for e in entity_ids})
            )
        )
        return [f.path for f in frags]


def latest_from_dataset(
    ds: pads.Dataset,
    entity_col: str,
    ts_col: str,
    tiebreaks: list[str] | None = None,
    entity_ids=None,
    as_of=None,
    prefilter: pads.Expression | None = None,
) -> pa.Table:
    """Latest-per-entity over a pyarrow dataset: filter pushdown (entity
    IN-list + as-of cutoff reach parquet row-group stats), then a
    sort + first-per-group — the driver-side twin of
    operators/latest.latest_per_entity (ts desc, tiebreaks desc, C2
    determinism).  Output sorted by entity for stable wire order.
    ``prefilter``: an extra pushed-down expression (ServingStore routes
    bucket pruning through it)."""
    tiebreaks = tiebreaks or []
    flt = prefilter
    if entity_ids is not None:
        c = pads.field(entity_col).isin(list(entity_ids))
        flt = c if flt is None else (flt & c)
    if as_of is not None:
        c = pads.field(ts_col) <= as_of
        flt = c if flt is None else (flt & c)
    t = ds.to_table(filter=flt)
    if t.num_rows == 0:
        return t
    order = [(entity_col, "ascending"), (ts_col, "descending")] + [
        (c, "descending") for c in tiebreaks
    ]
    t = t.sort_by(order)
    # first row of each entity run == the deterministic J1 winner
    import numpy as np

    ent = t.column(entity_col).to_numpy(zero_copy_only=False)
    keep = np.empty(len(ent), dtype=bool)
    keep[0] = True
    keep[1:] = ent[1:] != ent[:-1]
    return t.filter(pa.array(keep))
