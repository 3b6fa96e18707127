"""Property-based invariants over randomized changelogs (hypothesis).

SURVEY §5: "changelog-semantics tests replay synthetic
insert/update/delete sequences ... and assert the materialized state
equals the final table". Here the logs are RANDOM (hypothesis-generated),
so the algebraic contracts hold for arbitrary DML interleavings, not just
the fixture:

  1. reconcile(normalize(prefix), suffix) == normalize(whole log)
     for EVERY split point (the DBLog correctness core)
  2. retraction arithmetic over the log == aggregate over final state
  3. normalize is idempotent
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_cdc_connectors_spark.operators.cdc import (
    changelog_normalize,
    chunk_reconcile,
    retract_aggregate,
    to_retract_stream,
)

# A random changelog: ~40 events over 8 keys, arbitrary op interleavings.
_events = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=7),  # user_id
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=40,
)


def _to_df(spark, raw):
    t0 = datetime(2024, 1, 1)
    rows = [
        (op, uid, round(val, 2), "{}", t0 + timedelta(minutes=i), i)
        for i, (op, uid, val) in enumerate(raw)
    ]
    return spark.createDataFrame(
        rows, "op string, user_id long, value double, props string, ts timestamp, event_id long"
    )


def _state(df):
    return {
        r["user_id"]: (r["event_id"], round(r["value"], 2))
        for r in df.select("user_id", "event_id", "value").collect()
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(raw=_events, split_frac=st.floats(min_value=0.0, max_value=1.0))
def test_reconcile_equals_whole_log_normalize(spark, raw, split_frac):
    cl = _to_df(spark, raw)
    split = int(len(raw) * split_frac)
    snapshot = changelog_normalize(cl.filter(F.col("event_id") < split)).select(
        "user_id", "value", "props", "ts", "event_id"
    )
    changes = cl.filter(F.col("event_id") >= split)
    merged = chunk_reconcile(snapshot, changes)
    assert _state(merged) == _state(changelog_normalize(cl))


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(raw=_events)
def test_retract_agg_equals_state_agg(spark, raw):
    cl = _to_df(spark, raw)
    via_retract = {
        r["user_id"]: (float(r["sum_value"]), r["n_live"])
        for r in retract_aggregate(to_retract_stream(cl), [F.col("user_id")]).collect()
    }
    state = changelog_normalize(cl)
    via_state = {
        r["user_id"]: (float(r["s"]), r["n"])
        for r in state.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert via_retract == via_state


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(raw=_events)
def test_normalize_idempotent(spark, raw):
    cl = _to_df(spark, raw)
    once = changelog_normalize(cl)
    twice = changelog_normalize(once)
    assert _state(once) == _state(twice)


# ---------------------------------------------------------------------------
# Patch fold: the max_by aggregate against a naive ordered replay. Every
# generated history is one key of ONE DataFrame, so an example is one job.
# ---------------------------------------------------------------------------

from flink_cdc_connectors_spark.streaming.stateful import streaming_patch_fold


def _naive_fold(rows):
    """Reference semantics: apply every action in (ts, eid) order."""
    alive, vals, off = 0, {"a": None, "b": None}, (-1, -1)
    for r in sorted(rows, key=lambda r: (r["ts"], r["eid"])):
        if (r["ts"], r["eid"]) <= off:
            continue
        off = (r["ts"], r["eid"])
        if r["op"] in ("insert", "replace"):
            alive, vals = 1, {"a": r["a"], "b": r["b"]}
        elif r["op"] == "update":
            alive = 1
            for f in ("a", "b"):
                if r[f"{f}_act"]:
                    vals[f] = r[f]
        else:
            alive, vals = 0, {"a": None, "b": None}
    return alive, vals, off


_event = st.fixed_dictionaries(
    {
        "ts": st.integers(min_value=0, max_value=5),
        "op": st.sampled_from(["insert", "replace", "update", "delete"]),
        "a": st.one_of(st.none(), st.integers(0, 9)),
        "a_act": st.sampled_from([0, 1]),
        "b": st.one_of(st.none(), st.integers(0, 9)),
        "b_act": st.sampled_from([0, 1]),
        # the micro-batch the event arrives in, and whether it arrives again
        "batch": st.integers(0, 3),
        "again": st.booleans(),
    }
)
_histories = st.lists(st.lists(_event, min_size=1, max_size=30), min_size=1, max_size=6)
_FOLD_COLS = ("user_id", "part", "op", "ts", "eid", "a", "a_act", "b", "b_act")


def _fold(spark, rows):
    """``streaming_patch_fold`` over event dicts, keyed by (user_id, part):
    {(user_id, part): (alive, {a, b}, (ts_ms, event_id))}."""
    df = spark.createDataFrame(
        [tuple(r[c] for c in _FOLD_COLS) for r in rows],
        "user_id int, part int, op string, ts_ms long, event_id long, "
        "a long, a_act int, b long, b_act int",
    ).selectExpr("*", "timestamp_millis(ts_ms) AS ts")
    return {
        (r["user_id"], r["part"]): (
            int(r["op"] != "delete"),
            {"a": r["a"], "b": r["b"]},
            (r["ts_ms"], r["event_id"]),
        )
        for r in streaming_patch_fold(df.drop("ts_ms"), ["user_id", "part"]).collect()
    }


def _events_of(histories):
    return [
        dict(e, user_id=k, eid=i)
        for k, h in enumerate(histories)
        for i, e in enumerate(h)
    ]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(histories=_histories)
def test_patch_fold_matches_naive_replay_under_any_chunking(spark, histories):
    """Split each key's events into micro-batches, in any arrival order:
    the state after every batch (part = the last batch applied) equals a
    naive ordered replay of the events delivered so far. An update-mode
    emission is that state, so a late patch lands at its own offset, as
    the batch fold over the whole log places it."""
    events = _events_of(histories)
    rows = [dict(e, part=p) for e in events for p in range(e["batch"], 4)]
    want = {
        (k, p): _naive_fold([e for e in events if e["user_id"] == k and e["batch"] <= p])
        for k, p in {(r["user_id"], r["part"]) for r in rows}
    }
    assert _fold(spark, rows) == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(histories=_histories)
def test_patch_fold_redelivery_is_idempotent(spark, histories):
    """At-least-once delivery: folding the log plus a redelivered subset
    (part 1) gives the same document as the log alone (part 0) — and as
    the naive replay."""
    events = _events_of(histories)
    rows = [dict(e, part=0) for e in events] + [
        dict(e, part=1) for e in events for _ in range(1 + e["again"])
    ]
    got = _fold(spark, rows)
    for k in range(len(histories)):
        want = _naive_fold([e for e in events if e["user_id"] == k])
        assert got[(k, 0)] == got[(k, 1)] == want


# ---------------------------------------------------------------------------
# Curation-key invariants
# ---------------------------------------------------------------------------


@given(
    st.from_regex(
        r"(https?://)?(www\.)?[a-z]{2,8}\.example\.com(/[a-z0-9]{1,6}){0,3}/?"
        r"(\?(utm_[a-z]{1,6}=[a-z0-9]{0,4}&?|ref=[0-9]{1,2}&?){0,3})?(#[a-z0-9]{0,5})?",
        fullmatch=True,
    )
)
@settings(max_examples=300, deadline=None)
def test_url_canonicalization_is_idempotent(url):
    """canon(canon(u)) == canon(u): the regex chain must be a projection
    onto its own image — a second pass changing anything means the chain's
    step order leaves residue (e.g. a trailing '?' that only strips after
    a utm removal exposes it)."""
    import re

    from flink_cdc_connectors_spark.queries.tier_c_ext5 import _CANON_STEPS

    def canon(u: str) -> str:
        c = u.lower()
        for pat, rep in _CANON_STEPS:
            c = re.sub(pat, rep, c)
        return c

    once = canon(url)
    assert canon(once) == once, (url, once, canon(once))


def test_bloom_has_no_false_negatives(duck, sf_dir):
    """Structural Bloom invariant on the oracle output: every exact hit is
    bloom-positive (n_bloom >= n_exact per doc, and no doc with exact hits
    is missing from the flagged set)."""
    from flink_cdc_connectors_spark.registry import all_queries

    df = duck.execute(all_queries()["ext_bloom_decontaminate"].oracle).fetchdf()
    assert (df.n_bloom >= df.n_exact).all()
    exact = duck.execute(
        all_queries()["ext_decontaminate"].oracle
    ).fetchdf()
    # every doc the exact key flags must appear in the bloom key's output
    assert set(exact.doc_id) <= set(df.doc_id)


@given(
    st.sampled_from(["insert", "update", "delete"]),
    st.integers(min_value=0, max_value=10**12),
    st.integers(min_value=-(10**10), max_value=10**12),
)
@settings(max_examples=300, deadline=None)
def test_logminer_redo_regexes_round_trip(op, uid, cents):
    """The redo-SQL generate/parse pair must round-trip any (op, key,
    value) the log can carry — including negative and 13-digit cents —
    through the exact regex strings the Spark key uses (pure-Python
    replication; Spark and Python share the regex dialect for these
    patterns)."""
    import re

    if op == "insert":
        redo = (
            f"insert into \"APP\".\"EVENTS\"(\"USER_ID\",\"VALUE_CENTS\") "
            f"values ('{uid}','{cents}');"
        )
    elif op == "update":
        redo = f"update \"APP\".\"EVENTS\" set \"VALUE_CENTS\" = '{cents}' where \"USER_ID\" = '{uid}';"
    else:
        redo = f"delete from \"APP\".\"EVENTS\" where \"USER_ID\" = '{uid}';"

    got_op = re.match(r"^(insert|update|delete)", redo).group(1)
    assert got_op == op
    if got_op == "insert":
        got_uid = re.search(r"values \('([0-9]+)'", redo).group(1)
        got_cents = re.search(r"values \('[0-9]+','(-?[0-9]+)'\)", redo).group(1)
    else:
        got_uid = re.search(r'"USER_ID" = \'([0-9]+)\'', redo).group(1)
        got_cents = None
        if got_op == "update":
            got_cents = re.search(r'"VALUE_CENTS" = \'(-?[0-9]+)\'', redo).group(1)
    assert int(got_uid) == uid
    if got_op != "delete":
        assert int(got_cents) == cents


# -- WKB encode/parse round trip (functions/spatial.py) ---------------------
#
# Property: for ANY geometry tree built from finite coordinates, encoding
# it to OGC WKB (either byte order, optional EWKB SRID) and parsing it
# back yields the identical GeoJSON structure. The encoder here is an
# independent reimplementation of the WKB WRITER spec, so a shared
# misreading of the format would have to be made twice in mirrored form.

import json as _json
import struct as _struct

_coord = st.floats(allow_nan=False, allow_infinity=False, width=32)
_pt = st.tuples(_coord, _coord)
_ring = st.lists(_pt, min_size=1, max_size=5)


def _wkb_geom(kind, payload, little, srid=None):
    e = "<" if little else ">"
    code = {"Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
            "MultiLineString": 5, "MultiPolygon": 6, "GeometryCollection": 7}[kind]
    out = bytes([1 if little else 0])
    out += _struct.pack(e + "I", code | (0x20000000 if srid is not None else 0))
    if srid is not None:
        out += _struct.pack(e + "I", srid)
    if kind == "Point":
        out += _struct.pack(e + "dd", *payload)
    elif kind == "LineString":
        out += _struct.pack(e + "I", len(payload))
        for p in payload:
            out += _struct.pack(e + "dd", *p)
    elif kind == "Polygon":
        out += _struct.pack(e + "I", len(payload))
        for ring in payload:
            out += _struct.pack(e + "I", len(ring))
            for p in ring:
                out += _struct.pack(e + "dd", *p)
    else:  # multi*/collection: nested full geometries
        out += _struct.pack(e + "I", len(payload))
        for sub in payload:
            out += sub
    return out


_geometry = st.deferred(
    lambda: st.one_of(
        st.tuples(st.just("Point"), _pt),
        st.tuples(st.just("LineString"), _ring),
        st.tuples(st.just("Polygon"), st.lists(_ring, min_size=1, max_size=3)),
    )
)


@given(
    geom=_geometry,
    little=st.booleans(),
    srid=st.one_of(st.none(), st.integers(min_value=0, max_value=10_000)),
)
@settings(max_examples=60, deadline=None)
def test_wkb_round_trip_property(geom, little, srid):
    from flink_cdc_connectors_spark.functions.spatial import wkb_to_geojson

    kind, payload = geom
    blob = _wkb_geom(kind, payload, little, srid)
    got = _json.loads(wkb_to_geojson(blob))
    assert got["type"] == kind
    assert got["srid"] == (srid or 0)
    if kind == "Point":
        want = list(payload)
    elif kind == "LineString":
        want = [list(p) for p in payload]
    else:
        want = [[list(p) for p in ring] for ring in payload]
    assert got["coordinates"] == want


@given(
    pts=st.lists(st.tuples(_pt, st.booleans()), min_size=1, max_size=4),
    little=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_wkb_collection_round_trip_property(pts, little):
    """Collections nest full geometries each with its OWN byte-order flag —
    mixed-endian members must parse."""
    from flink_cdc_connectors_spark.functions.spatial import wkb_to_geojson

    members = [_wkb_geom("Point", p, lp) for p, lp in pts]
    blob = _wkb_geom("GeometryCollection", members, little)
    got = _json.loads(wkb_to_geojson(blob))
    assert got["type"] == "GeometryCollection"
    assert [g["coordinates"] for g in got["geometries"]] == [list(p) for p, _ in pts]


# -- splitVector chunking invariants (operators/cdc.py) ----------------------


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60),
    max_chunk=st.integers(min_value=64, max_value=2000),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_split_vector_chunks_invariants(spark, sizes, max_chunk):
    """For ANY doc-size sequence: chunks tile the key order contiguously
    from 0, every chunk's bytes stay within max_chunk_bytes + one doc
    (splitVector splits where cumulative size crosses the limit), and no
    row is lost or duplicated."""
    from flink_cdc_connectors_spark.operators.cdc import split_vector_chunks

    rows = [(i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "k long, bytes long")
    out = split_vector_chunks(df, "k", "bytes", max_chunk_bytes=max_chunk).collect()
    assert len(out) == len(sizes)
    by_chunk: dict[int, list] = {}
    for r in out:
        by_chunk.setdefault(r["chunk_id"], []).append(r)
    ids = sorted(by_chunk)
    # chunk 0 always exists (first row's exclusive prefix is 0); ids may
    # SKIP numbers when a jumbo doc larger than max_chunk_bytes spans
    # several byte windows — labels stay ordered, chunks stay contiguous
    assert ids[0] == 0
    prev_hi = -1
    for cid in ids:
        ks = sorted(r["k"] for r in by_chunk[cid])
        assert ks[0] == prev_hi + 1  # contiguous in key order, no gaps
        prev_hi = ks[-1]
        chunk_bytes = sum(r["bytes"] for r in by_chunk[cid])
        assert chunk_bytes <= max_chunk + max(sizes)
    assert prev_hi == len(sizes) - 1


# --- round 5: updateLookup + changelog-mode convergence theorems ----------
#
# Pure-Python reference models (no Spark per example, so hypothesis can
# run hundreds of interleavings). These pin the THEOREMS the two keys'
# value hashes rely on; the keys themselves pin the Spark/DuckDB
# implementations of the same semantics at fixture scale.

_r5_logs = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=5),            # doc/user key
        st.one_of(st.none(), st.integers(0, 999)),         # value (nullable)
    ),
    min_size=1,
    max_size=60,
)


def _valid_log(raw):
    """The _logged state machine: first op for a key (or the op after its
    delete) is an insert, a delete of a dead key is dropped, everything
    else is an update. Returns [(op, key, value, position)]."""
    alive: dict[int, bool] = {}
    out = []
    for i, (op, k, v) in enumerate(raw):
        live = alive.get(k, False)
        if op == "delete":
            if not live:
                continue
            out.append(("delete", k, v, i))
            alive[k] = False
        else:
            out.append(("update" if live else "insert", k, v, i))
            alive[k] = True
    return out


@given(_r5_logs, st.integers(min_value=1, max_value=7))
@settings(max_examples=200, deadline=None)
def test_update_lookup_converges_for_any_batching(raw, width):
    """cdc_mongo_update_lookup's convergence theorem: for ANY valid log
    and ANY order-respecting batch partition, folding the lookup-time
    images (update fullDocument = state at the end of the event's batch;
    null when deleted before lookup -> event DROPPED, the
    MongoDBConnectorDeserializationSchema.java:145-149 rule) reaches the
    same final state as the exact point-in-time fold — and every dropped
    update is justified by a later same-batch delete of its key."""
    log = _valid_log(raw)
    # exact fold (point-in-time post-images)
    exact: dict[int, object] = {}
    for op, k, v, _ in log:
        if op == "delete":
            exact.pop(k, None)
        else:
            exact[k] = v
    # lookup images: state of key k after the last event of k within
    # batches <= this event's batch (batch = fixed-width slice of the log)
    def state_at(key, upto_exclusive):
        s, present = None, False
        for op, k, v, _ in log[:upto_exclusive]:
            if k != key:
                continue
            if op == "delete":
                present = False
                s = None
            else:
                present = True
                s = v
        return present, s

    folded: dict[int, object] = {}
    for idx, (op, k, v, _) in enumerate(log):
        if op == "insert":
            folded[k] = v
        elif op == "delete":
            folded.pop(k, None)
        else:  # update: attach the lookup image
            batch_end = ((idx // width) + 1) * width  # end of my batch
            present, lk = state_at(k, min(batch_end, len(log)))
            if not present:
                # dropped — justified only by a later same-batch delete
                later = log[idx + 1 : min(batch_end, len(log))]
                assert any(
                    o == "delete" and kk == k for o, kk, _, _ in later
                ), "update dropped without a later same-batch delete"
                continue
            folded[k] = lk
    assert folded == exact


@given(_r5_logs, st.integers(min_value=2, max_value=7))
@settings(max_examples=200, deadline=None)
def test_retract_mode_equals_upsert_mode_for_any_grouping(raw, mod):
    """cdc_changelog_mode_upsert's convergence theorem: signed retract
    contributions (+I/+U at the after image's group, -U/-D at the BEFORE
    image's group) telescope to the upsert materialization's per-group
    (count, sum) for ANY valid log and ANY value-derived grouping."""
    from collections import Counter

    log = _valid_log(raw)
    grp = lambda v: abs(v if v is not None else -1) % mod  # noqa: E731
    n, s = Counter(), Counter()
    state: dict[int, object] = {}
    present: dict[int, bool] = {}
    for op, k, v, _ in log:
        if op in ("insert", "update"):
            n[grp(v)] += 1
            s[grp(v)] += v or 0
        if op in ("update", "delete"):
            pv = state[k]  # valid log: key is live, before image exists
            n[grp(pv)] -= 1
            s[grp(pv)] -= pv or 0
        if op == "delete":
            present[k] = False
        else:
            state[k] = v
            present[k] = True
    # upsert side: aggregate over final live rows
    n2, s2 = Counter(), Counter()
    for k, live in present.items():
        if live:
            n2[grp(state[k])] += 1
            s2[grp(state[k])] += state[k] or 0
    assert {g: c for g, c in n.items() if c} == dict(n2)
    assert {g: c for g, c in s.items() if n[g]} == {g: s2[g] for g in n2}


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),
            # width 0 allowed (ADVICE r8): a zero-width [lo, lo) range
            # captures no key and must neither crash the apportionment
            # (all-zero-width input divided by span=0) nor emit an empty
            # (lo, lo) chunk
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=1, max_value=12),
)
@settings(max_examples=300, deadline=None)
def test_rechunk_captured_runs_preserves_the_key_set(ranges_raw, n):
    """The re-snapshot re-chunk must cover EXACTLY the captured key set —
    no key from a gap between disjoint runs (the silent-widening bug the
    round-7 fix removed), no key lost — with disjoint, sorted chunks."""
    from flink_cdc_connectors_spark.sources.hybrid_source import (
        rechunk_captured_runs,
    )

    ranges = [(lo, lo + w) for lo, w in ranges_raw]
    chunks = rechunk_captured_runs(ranges, n)
    want = {k for lo, hi in ranges for k in range(lo, hi)}
    got = {k for lo, hi in chunks for k in range(lo, hi)}
    assert got == want
    assert all(hi > lo for lo, hi in chunks)
    for a, b in zip(chunks, chunks[1:]):
        assert a[1] <= b[0], f"chunks overlap or unsorted: {a} {b}"
    # exact-count contract: min(max(n, #runs), total key width) over the
    # NONZERO-width merged runs (zero-width runs carry no keys and are
    # dropped before apportionment) — per-run rounding must not
    # over/undershoot the requested parallelism
    merged: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    n_runs = sum(1 for lo, hi in merged if hi > lo)
    assert len(chunks) == (min(max(n, n_runs), len(want)) if want else 0)


@given(
    st.lists(
        st.integers(min_value=0, max_value=6),
        min_size=1,
        max_size=4,
        unique=True,
    ),
    st.lists(
        st.integers(min_value=0, max_value=6),
        min_size=0,
        max_size=4,
        unique=True,
    ),
    st.integers(min_value=0, max_value=900),
)
@settings(max_examples=60, deadline=None)
def test_dsv2_capture_diff_backfills_exactly_the_added_set(
    cfg_slots, cap_slots, off
):
    """Property pin of the DSv2 capture-set diff (one partitions() call,
    no engine): for arbitrary configured/checkpointed range sets, the
    planned backfill chunks cover EXACTLY configured − captured, every
    backfill chunk snapshots at the suspend offset, and the stream emit
    entries cover exactly the configured set."""
    from pyspark.sql.types import StructType

    from flink_cdc_connectors_spark.sources import datasource

    slot = lambda i: (i * 10, i * 10 + 10)  # noqa: E731
    cfg = sorted(slot(i) for i in cfg_slots)
    cap = sorted(slot(i) for i in cap_slots)
    r = datasource.CdcBinlogStreamReader(
        StructType([]),
        {
            "path": "/root/testdata/sf0.001/events.parquet",
            "keyranges": str([list(x) for x in cfg]),
            "newlyaddedtables": "true",
            "startupmode": "specific-offset",
            "startupoffset": "0",
        },
    )
    start = {
        "v": 3, "phase": "stream", "hw": 0, "off": off, "dlv": off,
        "cap": [[lo, hi, 0] for lo, hi in cap],
    }
    end = {
        "v": 3, "phase": "stream", "hw": 0, "off": off + 50, "dlv": off,
        "cap": [[lo, hi, 0] for lo, hi in cfg],
    }
    parts = r.partitions(start, end)
    chunks = [p for p in parts if isinstance(p, datasource.ChunkPartition)]
    added = {k for lo, hi in cfg if (lo, hi) not in cap for k in range(lo, hi)}
    covered = {k for c in chunks for k in range(c.key_lo, c.key_hi)}
    assert covered == added, "backfill must cover exactly configured - captured"
    assert all(c.hw == off for c in chunks), "backfill must snapshot at suspend"
    streams = [p for p in parts if isinstance(p, datasource.StreamPartition)]
    assert streams, "the stream range must still be planned"
    emit_keys = {
        k for lo, hi, _ in streams[0].chunk_hws for k in range(lo, hi)
    }
    want_emit = {k for lo, hi in cfg for k in range(lo, hi)}
    # captured-but-no-longer-configured ranges are dropped (narrowing);
    # configured ranges (old + newly added) are all present
    assert emit_keys == want_emit


_HYBRID_CACHE: dict[str, object] = {}


@given(
    st.sets(st.integers(min_value=0, max_value=9), min_size=1, max_size=3),
    st.lists(
        st.one_of(
            st.tuples(
                st.just("add"),
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=1, max_value=4),
            ),
            st.tuples(st.just("resnap"), st.integers(min_value=1, max_value=12)),
        ),
        min_size=1,
        max_size=6,
    ),
)
@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hybrid_capture_set_invariant_under_add_and_resnapshot(
    spark, init_slots, ops
):
    """Property over random add_key_range / resnapshot SEQUENCES (the
    driver-ADVICE near-miss the round-7 contiguous-runs fix closed): at
    every step the source's captured key set is EXACTLY the initial
    ranges plus the ranges added so far — a re-snapshot neither widens
    the capture into a gap between disjoint runs (the convex-hull bug)
    nor loses a key — the chunk metadata stays disjoint, and the
    re-chunk emits exactly its contracted chunk count."""
    from flink_cdc_connectors_spark.sources.hybrid_source import (
        ChunkState,
        HybridCdcSource,
        HybridSourceState,
    )
    from flink_cdc_connectors_spark.sources.loaders import load_table

    src = _HYBRID_CACHE.get("src")
    if src is None:
        src = HybridCdcSource(
            spark, load_table(spark, "/root/testdata/sf0.001", "events")
        )
        _HYBRID_CACHE["src"] = src

    slot = lambda i: (i * 10, i * 10 + 10)  # noqa: E731
    mid = src.max_offset // 2
    used = set(init_slots)
    src.state = HybridSourceState(
        phase="stream",
        chunks=[
            ChunkState(lo=lo, hi=hi, hw=mid, done=True)
            for lo, hi in sorted(slot(i) for i in init_slots)
        ],
        stream_offset=mid,
    )

    def captured() -> set[int]:
        return {k for c in src.state.chunks for k in range(c.lo, c.hi)}

    def expected() -> set[int]:
        return {k for i in used for k in range(*slot(i))}

    for op in ops:
        if op[0] == "add":
            _, s, k = op
            if s in used:  # the protocol only ever adds NEW tables
                continue
            lo, hi = slot(s)
            src.add_key_range(lo, hi, num_chunks=k)  # batches stay lazy
            used.add(s)
        else:
            _, n = op
            src.resnapshot(num_chunks=n)
            # exact re-chunk count: min(max(n, #contiguous runs), width)
            runs: list[list[int]] = []
            for lo, hi in sorted(slot(i) for i in used):
                if runs and lo <= runs[-1][1]:
                    runs[-1][1] = max(runs[-1][1], hi)
                else:
                    runs.append([lo, hi])
            want_n = min(max(n, len(runs)), 10 * len(used))
            assert len(src.state.chunks) == want_n
        assert captured() == expected(), f"capture set drifted after {op}"
        spans = sorted((c.lo, c.hi) for c in src.state.chunks)
        for a, b in zip(spans, spans[1:]):
            assert a[1] <= b[0], f"overlapping chunk metadata after {op}"


# -- SQL-name guards of the Debezium decoder (sources/envelope.py) -----------

_NAME_CHARS = "ab_.-'\"`\\ 9"


@given(
    name=st.text(alphabet=_NAME_CHARS, min_size=1, max_size=6),
    value_col=st.one_of(
        st.just("value"), st.text(alphabet=_NAME_CHARS, min_size=1, max_size=4)
    ),
)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_envelope_field_names_round_trip_or_raise(spark, name, value_col):
    """Field names with quotes, backslashes, dots, dashes or backticks —
    top-level and nested — and any value column name either decode
    through from_json unchanged or raise ValueError; never a parse error
    or a silently wrong column."""
    import json
    import re

    from pyspark.sql import types as PT

    from flink_cdc_connectors_spark.sources.envelope import parse_debezium_json

    schema = PT.StructType(
        [
            PT.StructField("user_id", PT.LongType()),
            PT.StructField(name, PT.StringType()),
            PT.StructField(
                "nest", PT.StructType([PT.StructField(name, PT.LongType())])
            ),
        ]
    )
    after = {"user_id": 1, name: "x", "nest": {name: 7}}
    record = {
        "before": None,
        "after": after,
        "source": {"db": "d", "table": "t", "ts_ms": 0, "file": "f", "pos": 1},
        "op": "c",
        "ts_ms": 0,
    }
    raw = spark.createDataFrame(
        [(json.dumps(record),)],
        PT.StructType([PT.StructField(value_col, PT.StringType())]),
    )
    rejects = any(ch in name for ch in "`'\\") or not re.fullmatch(
        r"[A-Za-z_][A-Za-z0-9_]*", value_col
    )
    if rejects:
        with pytest.raises(ValueError):
            parse_debezium_json(raw, value_col=value_col, payload_schema=schema)
        return
    row = parse_debezium_json(raw, value_col=value_col, payload_schema=schema).first()
    assert row["op"] == "insert" and row["user_id"] == 1
    assert row[name] == "x" and row["nest"][name] == 7
