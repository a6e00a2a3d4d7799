"""Native MQTT leg (streaming/mqtt.py) against a REAL in-process TCP
broker: codec golden bytes from the 3.1.1 spec grammar, varint
boundaries, filter matching, publish/subscribe round-trip over
loopback sockets, and the full broker -> bridge -> Structured
Streaming -> parquet path plus the foreachBatch publisher."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from lambda_sample_spark.streaming import mqtt as M
from tests.mqtt_broker import MiniBroker


# --- codec -------------------------------------------------------------
# (pure byte-level tests run in the default tier; every test that
# starts a broker, a bridge or a Spark job is marked slow)


def test_varint_spec_boundaries():
    # spec §2.2.3 table: the four length-band boundaries
    cases = {
        0: b"\x00",
        127: b"\x7f",
        128: b"\x80\x01",
        16_383: b"\xff\x7f",
        16_384: b"\x80\x80\x01",
        2_097_151: b"\xff\xff\x7f",
        2_097_152: b"\x80\x80\x80\x01",
        268_435_455: b"\xff\xff\xff\x7f",
    }
    for n, enc in cases.items():
        assert M.encode_varint(n) == enc
        assert M.decode_varint(enc) == (n, len(enc))
    with pytest.raises(ValueError):
        M.encode_varint(268_435_456)


def test_connect_packet_golden_bytes():
    # hand-assembled from the spec grammar: fixed header 0x10,
    # remaining length 10 + 2 + len(id), "MQTT" proto, level 4,
    # clean-session flags 0x02, keepalive 60, client id "abc"
    pkt = M.encode_connect("abc", keepalive=60)
    assert pkt == bytes.fromhex("10 0f 0004 4d515454 04 02 003c 0003 616263".replace(" ", ""))


def test_publish_roundtrip_and_golden():
    pkt = M.encode_publish("t/x", b"hi")
    assert pkt == bytes.fromhex("30 07 0003 742f78 6869".replace(" ", ""))
    ptype, flags = pkt[0] >> 4, pkt[0] & 0xF
    assert (ptype, flags) == (M.PUBLISH, 0)
    length, used = M.decode_varint(pkt, 1)
    assert M.decode_publish(pkt[1 + used :]) == ("t/x", b"hi")


def test_subscribe_packet_flags_bit():
    pkt = M.encode_subscribe(1, "sensors/#")
    assert pkt[0] == (M.SUBSCRIBE << 4) | 0x02  # mandatory 0b0010 flags


@pytest.mark.parametrize(
    "filt,topic,want",
    [
        ("a/b", "a/b", True),
        ("a/b", "a/c", False),
        ("a/+", "a/b", True),
        ("a/+", "a/b/c", False),
        ("a/#", "a/b/c", True),
        ("#", "anything/at/all", True),
        ("a/+/c", "a/b/c", True),
        ("+/b", "a/b", True),
        ("a/b", "a", False),
        # malformed filters (spec §4.7.1) match NOTHING instead of
        # silently over-matching: '#' must be the whole last level
        ("a/#/b", "a/x/b", False),
        ("a/x#", "a/x1", False),
        ("a/+b", "a/xb", False),
    ],
)
def test_topic_filter_matching(filt, topic, want):
    assert M.topic_matches(filt, topic) is want


@pytest.mark.slow
def test_subscribe_rejects_invalid_filter(broker):
    cli = M.MqttClient(broker.host, broker.port, "strict")
    with pytest.raises(ValueError, match="invalid MQTT topic filter"):
        cli.subscribe("sensors/#/power")
    cli.disconnect()


# --- loopback broker ---------------------------------------------------


@pytest.fixture()
def broker():
    b = MiniBroker()
    yield b
    b.stop()


@pytest.mark.slow
def test_pubsub_roundtrip_over_real_sockets(broker):
    sub = M.MqttClient(broker.host, broker.port, "sub1")
    sub.subscribe("sensors/power")
    pub = M.MqttClient(broker.host, broker.port, "pub1")
    sent = [json.dumps({"sensor": f"s{i}", "value": i * 1.5, "anomaly": 0}).encode()
            for i in range(5)]
    for m in sent:
        pub.publish("sensors/power", m)
    got = []
    it = sub.messages()
    for _ in range(5):
        got.append(next(it))
    assert [p for _, p in got] == sent
    assert all(t == "sensors/power" for t, _ in got)
    pub.disconnect()
    sub.disconnect()


@pytest.mark.slow
def test_wildcard_subscriber_and_isolation(broker):
    wild = M.MqttClient(broker.host, broker.port, "wild")
    wild.subscribe("sensors/#")
    other = M.MqttClient(broker.host, broker.port, "other")
    other.subscribe("elsewhere/topic")
    pub = M.MqttClient(broker.host, broker.port, "pub")
    pub.publish("sensors/power", b"yes")
    assert next(wild.messages()) == ("sensors/power", b"yes")
    # the non-matching subscriber got nothing: publish a sentinel to
    # its own topic and confirm it arrives FIRST (ordered socket)
    pub.publish("elsewhere/topic", b"sentinel")
    assert next(other.messages()) == ("elsewhere/topic", b"sentinel")
    for c in (wild, other, pub):
        c.disconnect()


# --- Spark integration -------------------------------------------------


@pytest.mark.slow
def test_bridge_to_structured_streaming(spark, broker, tmp_path):
    land = str(tmp_path / "landing")
    bridge = M.MqttFileBridge(
        broker.host, broker.port, "sensors/power", land, roll_secs=0.2
    )
    try:
        pub = M.MqttClient(broker.host, broker.port, "pub")
        n = 20
        for i in range(n):
            pub.publish(
                "sensors/power",
                json.dumps({"sensor": f"s{i % 3}", "value": float(i), "anomaly": i % 2}).encode(),
            )
        pub.disconnect()
        deadline = time.time() + 10
        while time.time() < deadline:
            bridge.flush()
            if any(f.startswith("batch-") for f in os.listdir(land)):
                time.sleep(0.3)  # let any tail messages land too
                bridge.flush()
                break
            time.sleep(0.1)
        out = str(tmp_path / "out")
        q = (
            M.mqtt_stream(spark, land)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == n
        vals = sorted(r["value"] for r in rows)
        assert vals == [float(i) for i in range(n)]
        assert all(r["sensor"].startswith("s") and r["ts"] is not None for r in rows)
    finally:
        bridge.stop()


@pytest.mark.slow
def test_bridge_flags_dead_inbound_leg_on_broker_death(tmp_path):
    b = MiniBroker()
    bridge = M.MqttFileBridge(
        b.host, b.port, "sensors/power", str(tmp_path / "land"), roll_secs=0.2
    )
    try:
        assert bridge.dead is False
        b.stop()  # broker dies underneath the bridge
        deadline = time.time() + 10
        while time.time() < deadline and not bridge.dead:
            time.sleep(0.05)
        assert bridge.dead, "bridge kept looking healthy after broker death"
    finally:
        bridge.stop()


@pytest.mark.slow
def test_bridge_clean_stop_is_not_flagged_dead(broker, tmp_path):
    bridge = M.MqttFileBridge(
        broker.host, broker.port, "sensors/power", str(tmp_path / "land"),
        roll_secs=0.2,
    )
    bridge.stop()
    time.sleep(0.3)  # let the reader thread observe the disconnect
    assert bridge.dead is False and bridge.error is None


@pytest.mark.slow
def test_mqtt_stream_uses_per_message_receive_ts(spark, tmp_path):
    # the envelope's ts_ms must become each ROW's ts (distinct per
    # message) — a stream-side current_timestamp() would stamp every
    # row of the micro-batch identically and collapse the downstream
    # (sensor, ts) LWW upsert to one row per sensor per batch
    land = tmp_path / "land"
    land.mkdir()
    lines = [
        {"ts_ms": 1_700_000_000_000 + i,
         "raw": json.dumps({"sensor": "s", "value": float(i), "anomaly": 0})}
        for i in range(5)
    ]
    (land / "batch-00000000.json").write_text(
        "\n".join(json.dumps(e) for e in lines) + "\n"
    )
    out = str(tmp_path / "out")
    q = (
        M.mqtt_stream(spark, str(land))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.read.parquet(out).collect()
    got = sorted((r["value"], r["ts"].timestamp() * 1000) for r in rows)
    assert got == [(float(i), 1_700_000_000_000 + i) for i in range(5)]


@pytest.mark.slow
def test_publish_stream_foreachbatch_sink(spark, broker, tmp_path):
    sub = M.MqttClient(broker.host, broker.port, "sink-sub")
    sub.subscribe("out/scores")
    got: list[bytes] = []

    def collect():
        for _t, p in sub.messages():
            got.append(p)
            if len(got) >= 4:
                return

    t = threading.Thread(target=collect, daemon=True)
    t.start()

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        for i in range(4):
            f.write(json.dumps({"sensor": f"s{i}", "value": i * 2.0, "anomaly": 0}) + "\n")
    stream = spark.readStream.schema(M.WIRE_SCHEMA).json(src)
    q = (
        M.publish_stream(
            stream, broker.host, broker.port, "out/scores", str(tmp_path / "ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    t.join(timeout=10)
    assert len(got) == 4
    parsed = sorted(json.loads(p)["value"] for p in got)
    assert parsed == [0.0, 2.0, 4.0, 6.0]
    sub.disconnect()
