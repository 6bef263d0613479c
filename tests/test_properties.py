"""Property-based tests (hypothesis) — randomized invariants the
reference's example-based suite never had (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
    _parse_fields,
    canonicalize_protobuf,
)

# -- canonicalization: pure-python, fast, no Spark session needed -----------

wire_field = st.tuples(
    st.integers(min_value=1, max_value=15),  # field number (1-byte tag)
    st.sampled_from([0, 2]),  # varint | length-delimited
    st.binary(min_size=0, max_size=20),
)


def _encode(fields):
    out = bytearray()
    for no, wire, payload in fields:
        out.append((no << 3) | wire)
        if wire == 0:  # varint: encode payload length as the value
            v = len(payload)
            while True:
                b = v & 0x7F
                v >>= 7
                out.append(b | (0x80 if v else 0))
                if not v:
                    break
        else:  # length-delimited
            ln = len(payload)
            while True:
                b = ln & 0x7F
                ln >>= 7
                out.append(b | (0x80 if ln else 0))
                if not ln:
                    break
            out += payload
    return bytes(out)


@given(st.lists(wire_field, max_size=8), st.randoms())
@settings(max_examples=200, deadline=None)
def test_canonical_is_permutation_invariant(fields, rnd):
    """Any permutation of a message's fields canonicalizes to the same
    bytes — the property the reference re-encodes protobuf to get."""
    msg_a = _encode(fields)
    shuffled = list(fields)
    rnd.shuffle(shuffled)
    msg_b = _encode(shuffled)
    ca, cb = canonicalize_protobuf(msg_a), canonicalize_protobuf(msg_b)
    # permutation invariance holds whenever repeated field numbers keep
    # their relative order; full permutations may reorder repeated
    # fields, so compare against the sorted-stable reference directly
    if sorted(f[0] for f in fields) == [f[0] for f in sorted(fields, key=lambda f: f[0])]:
        assert _parse_fields(ca) == sorted(_parse_fields(msg_a), key=lambda f: f[0])
    if len({f[0] for f in fields}) == len(fields):  # unique field numbers
        assert ca == cb


@given(st.lists(wire_field, max_size=8))
@settings(max_examples=200, deadline=None)
def test_canonical_idempotent_and_parseable(fields):
    msg = _encode(fields)
    once = canonicalize_protobuf(msg)
    assert canonicalize_protobuf(once) == once
    assert len(_parse_fields(once)) == len(fields)


@given(st.binary(max_size=64))
@settings(max_examples=300, deadline=None)
def test_canonical_never_raises_and_preserves_identity_class(data):
    """Arbitrary bytes: canonicalize must never throw, and equal inputs
    must map to equal outputs (identity function on the unparseable)."""
    out = canonicalize_protobuf(data)
    assert isinstance(out, bytes)
    assert canonicalize_protobuf(data) == out


# -- typed canonicalization (registered-schema path) ------------------------

mqtt_parts = st.tuples(
    st.integers(min_value=0, max_value=1 << 20),  # schemaVersion
    st.text(max_size=30),  # topic
    st.binary(max_size=40),  # payload
)


def _varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        out.append(b | (0x80 if v else 0))
        if not v:
            return bytes(out)


def _field_bytes(no, wire, val):
    out = bytearray([(no << 3) | wire])
    if wire == 2:
        out += _varint(len(val))
    out += val
    return bytes(out)


@given(mqtt_parts, st.permutations([1, 2, 3]))
@settings(max_examples=200, deadline=None)
def test_typed_canonical_order_invariant(parts, order):
    """Every field-emission order of the same MqttRawMessage
    canonicalizes to identical bytes through the TYPED path, and the
    canonical form equals the sorted emission."""
    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        MQTT_RAW_MESSAGE_DESC,
        typed_canonicalize,
    )

    version, topic, payload = parts
    enc = {
        1: _field_bytes(1, 0, _varint(version)),
        2: _field_bytes(2, 2, topic.encode()),
        3: _field_bytes(3, 2, payload),
    }
    scrambled = b"".join(enc[i] for i in order)
    sorted_form = enc[1] + enc[2] + enc[3]
    got = typed_canonicalize(scrambled, MQTT_RAW_MESSAGE_DESC)
    assert got == sorted_form
    assert typed_canonicalize(got, MQTT_RAW_MESSAGE_DESC) == got  # idempotent


# -- dedup first-wins over randomized envelopes (one Spark round trip) ------


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1_000_000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_dedup_first_wins_random_envelopes(spark, payload_seq):
    """For any arrival sequence, dedup keeps exactly the first arrival
    of each payload (identity = payload only; seq is arrival order)."""
    from transitdata_hfp_deduplicator_spark.operators.dedup import dedup_exact

    rows = [
        (f"p{p}", seq, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seq))
        for p, seq in payload_seq
    ]
    df = spark.createDataFrame(rows, "payload string, seq long, ts timestamp")
    out = {(r.payload, r.seq) for r in dedup_exact(df, ["payload"], ["ts", "seq"]).collect()}
    expected = {}
    for p, seq in sorted(payload_seq, key=lambda t: t[1]):
        expected.setdefault(f"p{p}", (f"p{p}", seq))
    assert out == set(expected.values())


# -- containment vs a pure-python reference ---------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "omega"]
_doc = st.lists(st.sampled_from(_WORDS), min_size=2, max_size=8).map(" ".join)


def _py_containment(texts, n=2, threshold=0.26):
    """Reference implementation: distinct n-shingle sets, both
    orientations, round-6 ratio >= threshold — mirrors the operator's
    contract exactly."""
    sh = {}
    for i, t in enumerate(texts):
        toks = t.lower().strip().split()
        if len(toks) >= n:
            s = {" ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)}
            if s:
                sh[i] = s
    out = {}
    for i in sh:
        for j in sh:
            if i == j:
                continue
            inter = len(sh[i] & sh[j])
            if inter:
                c = round(inter / len(sh[i]), 6)
                if c >= threshold:
                    out[(i, j)] = c
    return out


@given(st.lists(_doc, min_size=2, max_size=6))
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_containment_matches_reference(spark, texts):
    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        containment_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.src, r.dst): r.containment
        for r in containment_pairs(df, shingle_n=2, threshold=0.26).collect()
    }
    want = _py_containment(texts)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
        max_size=25,
    ),
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_asof_join_matches_pure_python(spark, left_rows, right_rows):
    """operators.joins.asof_join (union + running-last) vs a brute-force
    pure-python backward as-of on random keyed event sets."""
    from transitdata_hfp_deduplicator_spark.operators.joins import asof_join

    left_rows = [(k, t, i) for i, (k, t) in enumerate(left_rows)]
    left = spark.createDataFrame(left_rows, "k int, ts int, lid int")
    right = spark.createDataFrame(
        right_rows or [(None, None, None)], "k int, ts int, v int"
    ).filter("k IS NOT NULL")
    out = asof_join(left, right, ["k"], "ts", "ts", ["v"]).collect()

    def brute(k, t):
        cand = [(rt, v) for (rk, rt, v) in right_rows if rk == k and rt <= t]
        if not cand:
            return None
        best_ts = max(rt for rt, _ in cand)
        # tie toward the right row sorting last on its value columns
        return max(v for rt, v in cand if rt == best_ts)

    got = {r.lid: r.v_asof for r in out}
    assert len(got) == len(left_rows), "as-of must preserve every left row"
    for k, t, lid in left_rows:
        assert got[lid] == brute(k, t), (k, t, lid, got[lid], brute(k, t))


def _py_minhash_md5(text: str, num_hashes: int = 16, shingle_n: int = 3):
    """Independent pure-python mirror of the md5 KM signature family
    (operators/similarity.py:minhash_signatures) including the 2^59
    wrap — written from the spec, not the Spark expressions."""
    import hashlib

    toks = text.strip().lower().split()
    shingles = sorted(
        {" ".join(toks[i : i + shingle_n]) for i in range(len(toks) - shingle_n + 1)}
    )
    if not shingles:
        return None
    mask = (1 << 59) - 1
    halves = []
    for s in shingles:
        h = hashlib.md5(s.encode()).hexdigest()
        halves.append((int(h[0:15], 16), int(h[16:31], 16) % (2**58)))
    return tuple(
        min((h1 + k * h2) & mask for h1, h2 in halves) for k in range(num_hashes)
    )


@given(
    st.lists(
        st.text(
            alphabet=st.sampled_from("abc xyz0"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_minhash_family_matches_pure_python(spark, texts):
    """The masked KM family must agree with an independent reference on
    arbitrary text (incl. empty/whitespace-only docs -> NULL sigs) —
    the property the DuckDB oracles rely on, pinned against a third
    implementation."""
    from pyspark.sql import functions as F

    from transitdata_hfp_deduplicator_spark.operators.similarity import (
        minhash_signatures,
    )

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (
            None
            if r.mh_0 is None
            else tuple(r[f"mh_{k}"] for k in range(16))
        )
        for r in minhash_signatures(
            df, "doc_id", "text", shingle_n=3, num_hashes=16
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_minhash_md5(t), (i, t)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),  # id
            st.sampled_from(["a", "b", "c", None]),  # group (incl NULL)
            st.integers(min_value=0, max_value=10_000),  # weight
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda r: r[0],  # unique ids: ties have no defined order
    ),
    shards=st.integers(min_value=1, max_value=40),
)
def test_sharded_prefix_sum_matches_window_property(spark, rows, shards):
    """Property: the range-sharded two-pass exclusive prefix sum equals
    the naive single-task window for ANY ids (full int64 range), any
    groups (NULL included), any weights, any shard count — the
    decomposition is invisible (pytest -m slow tier)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from transitdata_hfp_deduplicator_spark.operators.sampling import (
        sharded_prefix_sum,
    )

    df = spark.createDataFrame(rows, "id bigint, grp string, w bigint")
    naive = df.withColumn(
        "prior",
        F.coalesce(
            F.sum("w").over(
                W.partitionBy("grp").orderBy("id").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    )
    want = {(r.grp, r.id): r.prior for r in naive.collect()}
    got = {
        (r.grp, r.id): r.prior
        for r in sharded_prefix_sum(
            df, "id", "w", part_cols=("grp",), shards=shards
        ).collect()
    }
    assert got == want
