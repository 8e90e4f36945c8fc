"""ROS2/MCAP source (r9): golden-file extraction, chunked (none +
lz4) equality with the plain file, CDR decode against hand-encoded
payloads (alignment, strings, arrays, nested types incl. time),
topic-metadata parity with the ROS1 reader's shape, corrupt-file
salvage, and builtin zstd chunk decode (r14). The MCAP byte images are built
here from the public spec (https://mcap.dev/spec) — the same
synthetic-golden-file discipline as tests/test_rosbag.py."""

from __future__ import annotations

import os
import struct

import pytest

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
    decode_cdr_messages, mcap_topic_metadata, parse_mcap_bytes,
    read_mcap_messages,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.mcap import MCAP_MAGIC

# ------------------------------------------------------------ file builders


def _s(v: str) -> bytes:
    b = v.encode()
    return struct.pack("<I", len(b)) + b


def _rec(op: int, content: bytes) -> bytes:
    return bytes([op]) + struct.pack("<Q", len(content)) + content


def _schema(sid: int, name: str, defn: str) -> bytes:
    d = defn.encode()
    return _rec(0x03, struct.pack("<H", sid) + _s(name)
                + _s("ros2msg") + struct.pack("<I", len(d)) + d)


def _channel(cid: int, sid: int, topic: str) -> bytes:
    return _rec(0x04, struct.pack("<HH", cid, sid) + _s(topic)
                + _s("cdr") + struct.pack("<I", 0))


def _message(cid: int, seq: int, log_t: int, pub_t: int,
             data: bytes) -> bytes:
    return _rec(0x05, struct.pack("<HIQQ", cid, seq, log_t, pub_t)
                + data)


def _chunk(records: bytes, compression: str,
           payload: bytes | None = None) -> bytes:
    body = payload if payload is not None else records
    return _rec(0x06, struct.pack("<QQQ", 0, 0, len(records))
                + struct.pack("<I", 0) + _s(compression)
                + struct.pack("<Q", len(body)) + body)


def _lz4_stored_frame(data: bytes) -> bytes:
    """A valid LZ4 frame whose single block is STORED (high bit set):
    exercises the shared frame walker without needing a compressor."""
    return (struct.pack("<I", 0x184D2204) + bytes([0x40, 0x40, 0x00])
            + struct.pack("<I", 0x80000000 | len(data)) + data
            + struct.pack("<I", 0))


def _footer() -> bytes:
    return _rec(0x02, struct.pack("<QQI", 0, 0, 0))


def _file(*records: bytes) -> bytes:
    header = _rec(0x01, _s("ros2") + _s("testwriter"))
    data_end = _rec(0x0F, struct.pack("<I", 0))
    return (MCAP_MAGIC + header + b"".join(records) + data_end
            + _footer() + MCAP_MAGIC)


# ------------------------------------------------------------- CDR encoders


class _CdrW:
    def __init__(self):
        self.buf = bytearray(b"\x00\x01\x00\x00")  # XCDR1 LE

    def _align(self, n: int) -> None:
        body = len(self.buf) - 4
        self.buf += b"\x00" * ((-body) % n)

    def prim(self, fmt: str, n: int, v) -> "_CdrW":
        self._align(n)
        self.buf += struct.pack("<" + fmt, v)
        return self

    def string(self, v: str) -> "_CdrW":
        b = v.encode() + b"\x00"
        self.prim("I", 4, len(b))
        self.buf += b
        return self

    def raw(self, b: bytes) -> "_CdrW":
        self.buf += b
        return self

    def bytes_(self) -> bytes:
        return bytes(self.buf)


DEFN = """int32 a
float64 x
string name
bool flag
int16[2] pair
float32[] seq
uint8[] blob
geometry_msgs/Point p
================================================================================
MSG: geometry_msgs/Point
float64 px
int32 py
"""


def _payload(a, x, name, flag, pair, seq, blob, px, py) -> bytes:
    w = _CdrW()
    w.prim("i", 4, a).prim("d", 8, x).string(name)
    w.prim("?", 1, flag)
    for v in pair:
        w.prim("h", 2, v)
    w.prim("I", 4, len(seq))
    for v in seq:
        w.prim("f", 4, v)
    w.prim("I", 4, len(blob)).raw(blob)
    w.prim("d", 8, px).prim("i", 4, py)
    return w.bytes_()


def _simple_file(compression: str | None = None) -> bytes:
    recs = (_schema(1, "demo/Mixed", DEFN) + _channel(7, 1, "/demo")
            + _message(7, 0, 1_000, 999,
                       _payload(5, 2.5, "hi", True, [3, 4],
                                [1.0, 2.0], b"\xab\xcd", 9.5, -2))
            + _message(7, 1, 2_000, 1_999,
                       _payload(-6, 0.25, "worldly", False, [1, 2],
                                [], b"", -1.5, 7)))
    if compression is None:
        return _file(recs)
    if compression == "lz4":
        return _file(_chunk(recs, "lz4", _lz4_stored_frame(recs)))
    return _file(_chunk(recs, compression))


def _write(tmp_path, name: str, blob: bytes) -> str:
    d = str(tmp_path / "mcaps")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "wb") as f:
        f.write(blob)
    return d


# -------------------------------------------------------------------- tests


def test_golden_extraction_plain(spark, tmp_path):
    d = _write(tmp_path, "a.mcap", _simple_file())
    df = read_mcap_messages(spark, d)
    rows = sorted(df.collect(), key=lambda r: r["sequence"])
    assert len(rows) == 2
    r = rows[0]
    assert (r["mcap_file"], r["topic"], r["schema_name"]) == \
        ("a.mcap", "/demo", "demo/Mixed")
    assert (r["message_encoding"], r["schema_encoding"]) == \
        ("cdr", "ros2msg")
    assert (r["log_time_ns"], r["publish_time_ns"]) == (1_000, 999)
    assert r["message_definition"] == DEFN


@pytest.mark.parametrize("compression", ["", "lz4"])
def test_chunked_equals_plain(spark, tmp_path, compression):
    d1 = _write(tmp_path / "p", "a.mcap", _simple_file())
    d2 = _write(tmp_path / "c", "a.mcap", _simple_file(compression))
    plain = {tuple(r) for r in read_mcap_messages(spark, d1).collect()}
    chunked = {tuple(r) for r in
               read_mcap_messages(spark, d2).collect()}
    assert plain == chunked


def test_cdr_decode_typed_columns(spark, tmp_path):
    d = _write(tmp_path, "a.mcap", _simple_file())
    msgs = read_mcap_messages(spark, d)
    dec = decode_cdr_messages(msgs, DEFN)
    rows = sorted(dec.collect(), key=lambda r: r["sequence"])
    r0, r1 = rows
    assert r0["a"] == 5 and r0["x"] == 2.5 and r0["name"] == "hi"
    assert r0["flag"] is True and r0["pair"] == [3, 4]
    assert r0["seq"] == [1.0, 2.0]
    assert bytes(r0["blob"]) == b"\xab\xcd"
    assert r0["p"]["px"] == 9.5 and r0["p"]["py"] == -2
    assert r1["a"] == -6 and r1["name"] == "worldly"
    assert r1["flag"] is False and r1["seq"] == [] \
        and bytes(r1["blob"]) == b""
    assert r1["p"]["px"] == -1.5 and r1["p"]["py"] == 7


def test_cdr_big_endian_payload():
    defn = "int32 a\nfloat64 x\n"
    body = struct.pack(">i", 42) + b"\x00" * 4 + struct.pack(">d", 1.5)
    payload = b"\x00\x00\x00\x00" + body  # representation id 0x0000
    recs = list(parse_mcap_bytes(
        "b.mcap",
        _file(_schema(1, "t/BE", defn) + _channel(1, 1, "/be")
              + _message(1, 0, 1, 1, payload))))
    assert len(recs) == 1
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.mcap import (
        _Cdr, _decode_cdr_value,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
        parse_definition_sections,
    )
    r = _Cdr(recs[0][-1])
    secs = parse_definition_sections(defn)
    assert _decode_cdr_value(r, "int32", secs) == 42
    assert _decode_cdr_value(r, "float64", secs) == 1.5


def test_time_builtin_without_section(spark, tmp_path):
    defn = ("builtin_interfaces/Time stamp\nstring frame_id\n")
    w = _CdrW()
    w.prim("i", 4, 100).prim("I", 4, 500).string("base")
    recs = (_schema(1, "std_msgs/Header", defn)
            + _channel(1, 1, "/hdr")
            + _message(1, 0, 1, 1, w.bytes_()))
    d = _write(tmp_path, "h.mcap", _file(recs))
    dec = decode_cdr_messages(read_mcap_messages(spark, d), defn)
    r = dec.collect()[0]
    assert r["stamp"]["sec"] == 100 and r["stamp"]["nanosec"] == 500
    assert r["frame_id"] == "base"


def test_topic_metadata_parity(spark, tmp_path):
    d = _write(tmp_path, "a.mcap", _simple_file())
    meta = mcap_topic_metadata(read_mcap_messages(spark, d)).collect()
    assert len(meta) == 1
    m = meta[0]
    assert (m["mcap_file"], m["topic"], m["msg_type"]) == \
        ("a.mcap", "/demo", "demo/Mixed")
    assert m["message_count"] == 2
    assert m["t_min"] == 1_000 / 1e9 and m["t_max"] == 2_000 / 1e9
    # (count-1)/span, same formula as rosbag.topic_metadata
    assert abs(m["frequency_hz"] - 1 / (1_000 / 1e9)) < 1e-6


def test_corrupt_file_salvage_and_fail(spark, tmp_path):
    good = _simple_file()
    # cut inside the second message record's body: prefix survives
    cut = good.find(b"worldly") - 10
    assert cut > 0
    bad = good[:cut]
    d = _write(tmp_path, "bad.mcap", bad)
    with pytest.raises(Exception):
        read_mcap_messages(spark, d).collect()
    df = read_mcap_messages(spark, d, on_error="skip")
    rows = df.collect()
    msgs = [r for r in rows if r["error"] is None]
    marks = [r for r in rows if r["error"] is not None]
    assert len(msgs) == 1 and msgs[0]["sequence"] == 0
    assert len(marks) == 1 and marks[0]["mcap_file"] == "bad.mcap"
    assert "truncated" in marks[0]["error"]


def test_zstd_chunk_decodes_builtin(spark, tmp_path, zstd_ref):
    """zstd chunks (the DEFAULT `ros2 bag record` MCAP preset) decode
    builtin (r14, functions/zstd.py): a zstd-chunked file is
    byte-equal to its plain twin."""
    recs = (_schema(1, "demo/Mixed", DEFN) + _channel(7, 1, "/demo")
            + _message(7, 0, 1_000, 999,
                       _payload(5, 2.5, "hi", True, [3, 4],
                                [1.0, 2.0], b"\xab\xcd", 9.5, -2)))
    d1 = _write(tmp_path / "p", "a.mcap", _file(recs))
    d2 = _write(tmp_path / "z", "a.mcap",
                _file(_chunk(recs, "zstd", zstd_ref(recs))))
    plain = {tuple(r) for r in read_mcap_messages(spark, d1).collect()}
    z = {tuple(r) for r in read_mcap_messages(spark, d2).collect()}
    assert plain == z and len(z) == 1


def test_zstd_chunk_corrupt_raises(tmp_path):
    blob = _file(_chunk(b"x" * 4, "zstd",
                        b"\x28\xb5\x2f\xfd" + b"\x00" * 8))
    with pytest.raises(ValueError, match="zstd"):
        list(parse_mcap_bytes("z.mcap", blob))


def test_not_mcap_raises():
    with pytest.raises(ValueError, match="not an MCAP file"):
        list(parse_mcap_bytes("x.mcap", b"#ROSBAG V2.0\n..."))


DET_DEF = """my_msgs/Detection2D[] detections
================================================================================
MSG: my_msgs/Detection2D
float64 x
float64 y
float64 width
float64 height
string Class
"""

LANE_DEF = """my_msgs/Lane[] lanes
================================================================================
MSG: my_msgs/Lane
my_msgs/Point2D[] image_points
================================================================================
MSG: my_msgs/Point2D
float64 x
float64 y
"""


def _cdr_detections(dets) -> bytes:
    w = _CdrW()
    w.prim("I", 4, len(dets))
    for x, y, wd, h, cls in dets:
        for v in (x, y, wd, h):
            w.prim("d", 8, v)
        w.string(cls)
    return w.bytes_()


def _cdr_lanes(lanes) -> bytes:
    w = _CdrW()
    w.prim("I", 4, len(lanes))
    for pts in lanes:
        w.prim("I", 4, len(pts))
        for x, y in pts:
            w.prim("d", 8, x)
            w.prim("d", 8, y)
    return w.bytes_()


def test_mcap_to_scene_detection_end_to_end(spark, tmp_path):
    """Raw MCAP → CDR decode → object-in-lane geometry → change-point
    scene intervals: the reference's whole pipeline (entry points
    A+B+C, service/app/main.py + detect_scenes.py) running from the
    MODERN container format — parity with the ROS1 twin
    (tests/test_rosbag.py::test_bag_to_scene_detection_end_to_end)."""
    from pyspark.sql import functions as F

    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.scenes import (
        objects_in_lane_by_key, summarize_person_scenes,
    )
    two_lanes = [[(0.0, 0.0), (0.0, 50.0)],
                 [(10.0, 0.0), (10.0, 50.0)]]
    person_in = (5.0, 20.0, 2.0, 2.0, "person")
    person_out = (50.0, 20.0, 2.0, 2.0, "person")
    car_out = (50.0, 20.0, 4.0, 4.0, "car")
    ticks = [([car_out], 0), ([person_in], 1),
             ([person_in, car_out], 2), ([], 3), ([person_out], 4)]
    recs = (_schema(1, "my_msgs/DetectionArray", DET_DEF)
            + _schema(2, "my_msgs/LaneArray", LANE_DEF)
            + _channel(1, 1, "/perception/detections")
            + _channel(2, 2, "/perception/lanes"))
    for dets, i in ticks:
        t = 200 * 10**9 + i * 100_000_000
        recs += _message(1, i, t, t, _cdr_detections(dets))
        recs += _message(2, i, t, t, _cdr_lanes(two_lanes))
    d = _write(tmp_path, "scene.mcap", _file(recs))

    msgs = read_mcap_messages(spark, d)
    from pyspark.sql import functions as F
    dets = decode_cdr_messages(
        msgs.where(F.col("topic") == "/perception/detections"),
        DET_DEF).select("mcap_file",
                        F.col("log_time_ns").alias("time_ns"),
                        "detections")
    lanes = decode_cdr_messages(
        msgs.where(F.col("topic") == "/perception/lanes"),
        LANE_DEF).select("mcap_file",
                         F.col("log_time_ns").alias("time_ns"),
                         "lanes")
    joined = dets.join(lanes, ["mcap_file", "time_ns"])
    scored = objects_in_lane_by_key(joined, "detections", "lanes",
                                    ["mcap_file", "time_ns"])
    intervals = summarize_person_scenes(scored, ["mcap_file"],
                                        time_col="time_ns").collect()
    assert len(intervals) == 1
    iv = intervals[0]
    t1 = 200 * 10**9 + 100_000_000
    t3 = 200 * 10**9 + 300_000_000
    assert iv.start_time == t1 and iv.end_time == t3
    assert iv.num_people_in_scene_start == 1


def test_wstring_guard():
    """CDR wstring is UTF-16 on the wire; the builtin decoder refuses
    honestly instead of mis-decoding it as bytes."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.mcap import _ros2_spark_type
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
        parse_definition_sections,
    )
    secs = parse_definition_sections("wstring w\n")
    with pytest.raises(NotImplementedError, match="wstring"):
        _ros2_spark_type("wstring", secs)


def test_mcap_ingest_stream_end_to_end(spark, tmp_path):
    """The AV extract loop (r9): streaming binaryFile source → MCAP
    extract → quarantine for corrupt files → ONE exactly-once
    snapshot_append per micro-batch. Good messages land in the
    snapshot table, a corrupt file quarantines with its reason, and
    a restart with no new files publishes nothing (replay marker)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        latest_version, read_snapshot,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        mcap_ingest_stream,
    )
    src = str(tmp_path / "landing")
    tbl = str(tmp_path / "tbl")
    quar = str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    good = _simple_file()
    with open(os.path.join(src, "good.mcap"), "wb") as f:
        f.write(good)
    with open(os.path.join(src, "bad.mcap"), "wb") as f:
        f.write(good[:good.find(b"worldly") - 10])

    ingest_log = str(tmp_path / "ingest_log.jsonl")
    q = mcap_ingest_stream(
        spark, src, table_path=tbl, quarantine_path=quar,
        checkpoint_dir=ckpt,
        transform=lambda df: df.select("mcap_file", "topic",
                                       "log_time_ns", "data"),
        ingest_log=ingest_log)
    q.awaitTermination(120)
    # per-batch admission stats on record (r10 VERDICT item 8)
    import json
    entries = [json.loads(ln) for ln in
               open(ingest_log, encoding="utf-8")]
    assert sum(e["files"] for e in entries) == 2
    assert sum(e["records"] for e in entries) == 3
    assert sum(e["quarantined"] for e in entries) == 1
    rows = read_snapshot(spark, tbl).collect()
    # good file's 2 messages + bad file's salvaged prefix (1 message)
    assert sorted((r["mcap_file"], r["log_time_ns"]) for r in rows) \
        == [("bad.mcap", 1000), ("good.mcap", 1000),
            ("good.mcap", 2000)]
    quar_rows = spark.read.parquet(quar).collect()
    assert len(quar_rows) == 1
    assert quar_rows[0]["mcap_file"] == "bad.mcap"
    assert "truncated" in quar_rows[0]["reason"]
    v = latest_version(spark, tbl)

    # restart with nothing new: no version published
    q2 = mcap_ingest_stream(
        spark, src, table_path=tbl, quarantine_path=quar,
        checkpoint_dir=ckpt,
        transform=lambda df: df.select("mcap_file", "topic",
                                       "log_time_ns", "data"))
    q2.awaitTermination(120)
    assert latest_version(spark, tbl) == v


def test_mcap_ingest_stream_zstd_chunks(spark, tmp_path, zstd_ref):
    """The ingest loop's front door on the DEFAULT `ros2 bag record`
    MCAP preset — zstd-compressed chunks — decoding builtin (r14,
    functions/zstd.py): messages extract and land exactly-once with
    no optional package installed."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import (
        read_snapshot,
    )
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming import (
        mcap_ingest_stream,
    )
    src = str(tmp_path / "landing")
    os.makedirs(src, exist_ok=True)
    recs = (_schema(1, "demo/Mixed", DEFN) + _channel(7, 1, "/demo")
            + _message(7, 0, 1_000, 999,
                       _payload(5, 2.5, "hi", True, [3, 4],
                                [1.0, 2.0], b"\xab\xcd", 9.5, -2))
            + _message(7, 1, 2_000, 1_999,
                       _payload(-6, 0.25, "worldly", False, [1, 2],
                                [], b"", -1.5, 7)))
    with open(os.path.join(src, "z.mcap"), "wb") as f:
        f.write(_file(_chunk(recs, "zstd", zstd_ref(recs, 19))))
    tbl = str(tmp_path / "tbl")
    q = mcap_ingest_stream(
        spark, src, table_path=tbl,
        quarantine_path=str(tmp_path / "quar"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=lambda df: df.select("mcap_file", "topic",
                                       "log_time_ns", "data"))
    q.awaitTermination(120)
    rows = read_snapshot(spark, tbl).collect()
    assert sorted(r["log_time_ns"] for r in rows) == [1_000, 2_000]
    assert all(r["mcap_file"] == "z.mcap" for r in rows)


def test_uint64_two_complement_reinterpretation():
    """uint64 values >= 2^63 (hash-style ids) reinterpret two's-
    complement into LongType instead of crashing the Arrow
    conversion; the mapping is bijective (mask to recover)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.mcap import (
        _Cdr, _decode_cdr_value,
    )
    big = 0x9000_0000_0000_0001
    payload = b"\x00\x01\x00\x00" + struct.pack("<Q", big)
    v = _decode_cdr_value(_Cdr(payload), "uint64", {"": []})
    assert v == big - (1 << 64) and v < 0
    assert v & 0xFFFF_FFFF_FFFF_FFFF == big
    small = _decode_cdr_value(
        _Cdr(b"\x00\x01\x00\x00" + struct.pack("<Q", 7)),
        "uint64", {"": []})
    assert small == 7


def test_extract_mcap_topics_per_topic_typed_frames(spark, tmp_path):
    """extract_mcap_topics: one typed DataFrame per topic, decoded
    from each topic's own embedded definition, column names
    sanitized — the MCAP face of the reference's bag -> per-topic
    tables hop (main.py:77-127)."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import extract_mcap_topics
    recs = (_schema(1, "demo/Mixed", DEFN) + _channel(7, 1, "/demo")
            + _message(7, 0, 1_000, 999,
                       _payload(5, 2.5, "hi", True, [3, 4],
                                [1.0], b"\xab", 9.5, -2))
            + _schema(2, "t/Small", "int32 a\n")
            + _channel(8, 2, "/small"))
    w = _CdrW(); w.prim("i", 4, 42)
    recs += _message(8, 0, 2_000, 2_000, w.bytes_())
    d = _write(tmp_path, "m.mcap", _file(recs))
    out = extract_mcap_topics(read_mcap_messages(spark, d))
    assert set(out) == {"/demo", "/small"}
    r = out["/demo"].first()
    assert r["a"] == 5 and r["p"]["px"] == 9.5
    assert out["/small"].first()["a"] == 42


def test_extract_mcap_topics_schema_evolution(spark, tmp_path):
    """r9 advisor finding: a topic carrying MORE THAN ONE distinct
    embedded definition across the log set must decode each group
    with its own schema, never an arbitrarily chosen one. Same
    decoded shape -> union; different shape -> loud error."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources import extract_mcap_topics

    # two definition STRINGS for /t that decode to the same shape
    # (comment-only drift): both messages must land, each parsed
    # under its own definition
    w1 = _CdrW(); w1.prim("i", 4, 11)
    w2 = _CdrW(); w2.prim("i", 4, 22)
    recs = (_schema(1, "t/V", "int32 a\n") + _channel(7, 1, "/t")
            + _message(7, 0, 1_000, 1_000, w1.bytes_())
            + _schema(2, "t/V", "int32 a  # rev2\n")
            + _channel(8, 2, "/t")
            + _message(8, 0, 2_000, 2_000, w2.bytes_()))
    d = _write(tmp_path, "evo_ok.mcap", _file(recs))
    out = extract_mcap_topics(read_mcap_messages(spark, d))
    assert sorted(r["a"] for r in out["/t"].collect()) == [11, 22]

    # incompatible evolution (extra field): refuse, naming the topic
    w3 = _CdrW(); w3.prim("i", 4, 1); w3.prim("i", 4, 2)
    recs2 = (_schema(1, "t/V", "int32 a\n") + _channel(7, 1, "/t")
             + _message(7, 0, 1_000, 1_000, w1.bytes_())
             + _schema(2, "t/V2", "int32 a\nint32 b\n")
             + _channel(8, 2, "/t")
             + _message(8, 0, 2_000, 2_000, w3.bytes_()))
    d2 = _write(tmp_path, "evo_bad.mcap", _file(recs2))
    with pytest.raises(ValueError, match="/t.*DIFFERENT"):
        extract_mcap_topics(read_mcap_messages(spark, d2))
