"""The envelope's typed canonicalization path (reference A3) and the
HFP corpus the registry's ``q_hfp_*`` read."""

from __future__ import annotations

import datetime as dt


# --- typed protobuf canonicalization through the envelope path (A3) --------


def _vi(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def _f_varint(no: int, v: int) -> bytes:
    return _vi(no << 3) + _vi(v)


def _f_len(no: int, payload: bytes) -> bytes:
    return _vi((no << 3) | 2) + _vi(len(payload)) + payload


def _mqtt_raw(version: int, topic: str, payload: bytes, order=(1, 2, 3)) -> bytes:
    """MqttRawMessage wire bytes (ITDeduplicatorTest.java:149-154 shape)
    with a caller-chosen field emission order — the nondeterminism
    Deduplicator.java:69 canonicalizes away."""
    parts = {
        1: _f_varint(1, version),
        2: _f_len(2, topic.encode()),
        3: _f_len(3, payload),
    }
    return b"".join(parts[i] for i in order)


def test_typed_canonicalize_mqtt_field_order(spark):
    """Two serializations of the SAME MqttRawMessage in different field
    orders canonicalize to identical bytes; a different message does
    not (Deduplicator.java:96-106 parse->reserialize semantics)."""
    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        MQTT_RAW_MESSAGE_DESC,
        typed_canonicalize,
    )

    a = _mqtt_raw(1, "/hfp/v1/journey", b'{"VP":{}}', order=(1, 2, 3))
    b = _mqtt_raw(1, "/hfp/v1/journey", b'{"VP":{}}', order=(3, 1, 2))
    assert a != b
    assert typed_canonicalize(a, MQTT_RAW_MESSAGE_DESC) == typed_canonicalize(
        b, MQTT_RAW_MESSAGE_DESC
    )
    other = _mqtt_raw(1, "/hfp/v1/deadrun", b'{"VP":{}}')
    assert typed_canonicalize(a, MQTT_RAW_MESSAGE_DESC) != typed_canonicalize(
        other, MQTT_RAW_MESSAGE_DESC
    )


def test_typed_canonicalize_rejects_schema_mismatch(spark):
    """A payload whose wire types contradict the registered schema is
    rejected (ValueError) — the caller's raw-bytes fallback, like the
    swallowed typed-parse exception at Deduplicator.java:86-93."""
    import pytest

    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        MQTT_RAW_MESSAGE_DESC,
        typed_canonicalize,
    )

    bad = _f_len(1, b"not-a-varint")  # field 1 declared varint
    with pytest.raises(ValueError):
        typed_canonicalize(bad, MQTT_RAW_MESSAGE_DESC)


def test_typed_canonicalize_hfp_nested(spark):
    """HfpData: nested topic/payload sub-messages are canonicalized
    recursively, so scrambling BOTH outer and inner field order yields
    the same canonical bytes."""
    from transitdata_hfp_deduplicator_spark.operators.canonicalize import (
        HFP_DATA_DESC,
        typed_canonicalize,
    )

    topic_a = _f_varint(1, 5) + _f_len(2, b"bus")
    topic_b = _f_len(2, b"bus") + _f_varint(1, 5)  # inner scramble
    pay_a = _f_varint(1, 42) + _f_len(3, b"12:30")
    pay_b = _f_len(3, b"12:30") + _f_varint(1, 42)
    msg_a = _f_varint(1, 1) + _f_len(2, topic_a) + _f_len(3, pay_a)
    msg_b = _f_len(3, pay_b) + _f_varint(1, 1) + _f_len(2, topic_b)
    assert msg_a != msg_b
    assert typed_canonicalize(msg_a, HFP_DATA_DESC) == typed_canonicalize(
        msg_b, HFP_DATA_DESC
    )


def test_envelope_canonical_dedups_scrambled_twin(spark):
    """THE A3 end-to-end contract (Deduplicator.java:69-106): a typed
    message whose serialization scrambles field order dedups against
    its canonical twin through the envelope path — while the SAME
    scramble under the PassengerCount tag does NOT (its typed parse
    throws and the reference dedups it on raw bytes, :104,:86-93)."""
    import datetime as dt

    from transitdata_hfp_deduplicator_spark.operators.dedup import dedup_exact
    from transitdata_hfp_deduplicator_spark.sources.envelope import (
        envelope_from_rows,
        with_envelope_canonical,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m_sorted = _mqtt_raw(1, "/hfp/v1/journey", b'{"VP":{"spd":5}}')
    m_scrambled = _mqtt_raw(
        1, "/hfp/v1/journey", b'{"VP":{"spd":5}}', order=(2, 3, 1)
    )
    mqtt_props = {"protobuf-schema": "MqttRawMessage", "schema-version": "1"}
    pc_props = {"protobuf-schema": "PassengerCount", "schema-version": "1"}
    rows = [
        ("k1", m_sorted, base, mqtt_props),
        ("k2", m_scrambled, base.replace(second=1), mqtt_props),  # dup of k1
        ("k3", m_sorted, base.replace(second=2), pc_props),
        ("k4", m_scrambled, base.replace(second=3), pc_props),  # NOT a dup: raw bytes
        ("k5", b"\xff\xfe-unparseable", base.replace(second=4), mqtt_props),
    ]
    env = with_envelope_canonical(envelope_from_rows(spark, rows))
    uniq = dedup_exact(env, ["canonical"], ["event_time"])
    keys = sorted(r.key for r in uniq.collect())
    # k2 (scrambled, typed) canonicalizes into k1's bytes -> dedups.
    # k3 (PassengerCount, raw bytes == k1's canonical form) ALSO dedups:
    # identity is payload bytes only, schema tag never enters it
    # (ITDeduplicatorTest.java:37-42).  k4 (scrambled PassengerCount)
    # survives — its raw bytes differ, the reference's :104 quirk.
    # k5 survives via the parse-failure fallback.
    assert keys == ["k1", "k4", "k5"]


def test_stream_dedup_canonicalizes_typed_payloads(spark, tmp_path):
    """A3 ONLINE: a scrambled-field-order MqttRawMessage dedups against
    its canonical twin through envelope → typed canonicalize → stateful
    stream dedup, while the same scramble under PassengerCount stays two
    records (raw-bytes identity, Deduplicator.java:76-106)."""
    from transitdata_hfp_deduplicator_spark.sources.envelope import (
        envelope_from_rows,
        with_envelope_canonical,
    )
    from transitdata_hfp_deduplicator_spark.streaming import (
        parquet_stream,
        run_to_memory,
        stream_dedup,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = _mqtt_raw(1, "/hfp/v1/journey", b'{"VP":{"spd":7}}')
    m_scr = _mqtt_raw(1, "/hfp/v1/journey", b'{"VP":{"spd":7}}', order=(3, 1, 2))
    mqtt = {"protobuf-schema": "MqttRawMessage", "schema-version": "1"}
    pc = {"protobuf-schema": "PassengerCount", "schema-version": "1"}
    rows = [
        ("k1", m, base, mqtt),
        ("k2", m_scr, base.replace(second=1), mqtt),  # canonical dup of k1
        ("k3", m, base.replace(second=2), pc),  # same bytes as k1 -> dup
        ("k4", m_scr, base.replace(second=3), pc),  # raw-bytes: unique
    ]
    src = str(tmp_path / "env")
    envelope_from_rows(spark, rows).coalesce(1).write.parquet(src)

    canonical = with_envelope_canonical(parquet_stream(spark, src))
    uniques = run_to_memory(stream_dedup(canonical, ["canonical"], "event_time"))
    assert sorted(r.key for r in uniques.collect()) == ["k1", "k4"]


def test_hfp_corpus_resolves_reference_then_sample(tmp_path):
    """``q_hfp_*`` read the reference's corpus where that file exists and
    the committed sample otherwise; both oracles read the same path."""
    import os

    from transitdata_hfp_deduplicator_spark import queries

    reference = tmp_path / "hfp-5000.txt"
    reference.write_text("2018-10-09T04:32:52.549698+0000 /hfp/v1/t {}\n")
    assert queries.resolve_hfp_corpus(str(reference)) == str(reference)
    absent = str(tmp_path / "absent.txt")
    assert queries.resolve_hfp_corpus(absent) == queries.HFP_SAMPLE
    assert os.path.isfile(queries.HFP_SAMPLE)
    assert queries.HFP_CORPUS == queries.resolve_hfp_corpus()
    for name in ("q_hfp_golden", "q_hfp_domain"):
        assert f"read_csv('{queries.HFP_CORPUS}'" in queries.ORACLES[name]


def test_hfp_golden_over_sample_matches_python_recount(spark, sf_dir, monkeypatch):
    """``q_hfp_golden`` over the committed sample agrees with a plain
    recount by the first-space/first-brace rule
    (ITDeduplicatorTest.java:138-148), and the recount shows the sample's
    planted truth: 1000 lines, 500 uniques, each delivered once per feed."""
    from transitdata_hfp_deduplicator_spark import queries

    copies: dict[tuple[str, str], int] = {}
    with open(queries.HFP_SAMPLE, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            sp, brace = line.find(" "), line.find("{")
            key = (line[sp + 1 : brace].strip(), line[brace:])
            copies[key] = copies.get(key, 0) + 1
    n_messages = sum(copies.values())
    n_topics = len({topic for topic, _ in copies})
    assert (n_messages, len(copies), n_topics) == (1000, 500, 498)
    assert set(copies.values()) == {2}

    monkeypatch.setattr(queries, "HFP_CORPUS", queries.HFP_SAMPLE)
    (row,) = queries.QUERIES["q_hfp_golden"](spark, sf_dir).collect()
    assert row.asDict() == {
        "n_messages": n_messages,
        "n_unique": len(copies),
        "n_topics": n_topics,
    }
