"""ROS1 bag source tests.

The tests synthesize byte-exact ROS1 v2.0 bags (public format:
length-prefixed records, key=value headers, messages in optionally
bz2-compressed chunks) and read them back through the distributed
source, pinning topics, timestamps, and primitive-field decoding.
"""

from __future__ import annotations

import bz2
import struct

import pytest
from pyspark.sql import functions as F

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
    decode_primitive_messages, parse_bag_bytes, parse_message_definition,
    read_bag_messages, topic_metadata,
)

STEERING_DEF = """# steering report
float64 steering_wheel_angle
float64 speed
bool enabled
"""

GPS_DEF = """string status_text
int32 num_sats
"""


def _field(name: str, value: bytes) -> bytes:
    payload = name.encode() + b"=" + value
    return struct.pack("<I", len(payload)) + payload


def _record(fields: dict[str, bytes], data: bytes) -> bytes:
    header = b"".join(_field(k, v) for k, v in fields.items())
    return (struct.pack("<I", len(header)) + header
            + struct.pack("<I", len(data)) + data)


def _connection(cid: int, topic: str, msg_type: str, defn: str) -> bytes:
    data = (_field("topic", topic.encode())
            + _field("type", msg_type.encode())
            + _field("md5sum", b"d" * 32)
            + _field("message_definition", defn.encode()))
    return _record({"op": b"\x07", "conn": struct.pack("<I", cid),
                    "topic": topic.encode()}, data)


def _message(cid: int, t_sec: int, t_nsec: int, payload: bytes) -> bytes:
    return _record({"op": b"\x02", "conn": struct.pack("<I", cid),
                    "time": struct.pack("<II", t_sec, t_nsec)}, payload)


def _steering_payload(angle: float, speed: float, enabled: bool) -> bytes:
    return struct.pack("<dd?", angle, speed, enabled)


def _gps_payload(status: str, sats: int) -> bytes:
    s = status.encode()
    return struct.pack("<I", len(s)) + s + struct.pack("<i", sats)


def _lz4_literal_block(data: bytes) -> bytes:
    """A valid LZ4 block holding only literals (one final sequence)."""
    lit = len(data)
    if lit < 15:
        head = bytes([lit << 4])
    else:
        rem = lit - 15
        head = b"\xf0"
        while rem >= 255:
            head += b"\xff"
            rem -= 255
        head += bytes([rem])
    return head + data


def _lz4_frame(data: bytes, block: bytes | None = None) -> bytes:
    """Minimal LZ4 frame: FLG v1 + 64 KB BD + arbitrary header-checksum
    byte (not validated), one block, EndMark."""
    block = _lz4_literal_block(data) if block is None else block
    return (struct.pack("<I", 0x184D2204) + bytes([0x60, 0x40, 0x00])
            + struct.pack("<I", len(block)) + block
            + struct.pack("<I", 0))


def _chunk(records: bytes, compression: str = "none") -> bytes:
    if compression == "bz2":
        body = bz2.compress(records)
    elif compression == "lz4":
        body = _lz4_frame(records)
    else:
        body = records
    return _record({"op": b"\x05", "compression": compression.encode(),
                    "size": struct.pack("<I", len(records))}, body)


def make_bag(compression: str = "none") -> bytes:
    """Two topics: /vehicle/steering_report (3 msgs), /vehicle/gps (2)."""
    inner = (
        _connection(0, "/vehicle/steering_report",
                    "dbw_mkz_msgs/SteeringReport", STEERING_DEF)
        + _connection(1, "/vehicle/gps", "gps_msgs/GPSStatus", GPS_DEF)
        + _message(0, 100, 0, _steering_payload(0.5, 10.0, True))
        + _message(0, 100, 500_000_000, _steering_payload(0.6, 11.0, True))
        + _message(1, 100, 250_000_000, _gps_payload("OK", 7))
        + _message(0, 101, 0, _steering_payload(0.7, 12.0, False))
        + _message(1, 101, 250_000_000, _gps_payload("WEAK", 3))
    )
    bag_header = _record({"op": b"\x03",
                          "index_pos": struct.pack("<Q", 0),
                          "conn_count": struct.pack("<I", 2),
                          "chunk_count": struct.pack("<I", 1)}, b" " * 64)
    return b"#ROSBAG V2.0\n" + bag_header + _chunk(inner, compression)


@pytest.fixture(scope="module", params=["none", "bz2", "lz4"])
def bag_dir(request, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp(f"bags_{request.param}")
    (d / "drive1.bag").write_bytes(make_bag(request.param))
    return str(d)


def test_lz4_block_match_copy():
    """Hand-crafted LZ4 sequences: a back-reference copy and an
    overlapping (RLE) match — the two match paths of the decoder."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
        _lz4_block_decompress, _lz4_frame_decompress,
    )
    # literals "01234567", match(offset=8, len=8) → "0123456701234567"
    # then final literals "ab"
    block = (bytes([0x84]) + b"01234567" + b"\x08\x00"
             + bytes([0x20]) + b"ab")
    out = bytearray()
    _lz4_block_decompress(block, out)
    assert bytes(out) == b"0123456701234567ab"

    # RLE: literal "a", match(offset=1, len=9) → ten a's
    rle = bytes([0x15]) + b"a" + b"\x01\x00"
    out = bytearray()
    _lz4_block_decompress(rle, out)
    assert bytes(out) == b"a" * 10

    # same match block inside a full frame
    assert _lz4_frame_decompress(_lz4_frame(b"", block)) == b"0123456701234567ab"


def test_lz4_frame_roundtrip_large_literals():
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
        _lz4_frame_decompress,
    )
    payload = bytes(range(256)) * 40  # >15 literals → extended length path
    assert _lz4_frame_decompress(_lz4_frame(payload)) == payload


def test_parse_bag_bytes_pure():
    msgs = list(parse_bag_bytes("x.bag", make_bag()))
    assert len(msgs) == 5
    topics = {m[1] for m in msgs}
    assert topics == {"/vehicle/steering_report", "/vehicle/gps"}
    # time_ns of first steering message
    assert msgs[0][5] == 100 * 1_000_000_000


def test_read_bag_messages_distributed(spark, bag_dir):
    df = read_bag_messages(spark, bag_dir)
    rows = df.collect()
    assert len(rows) == 5
    assert all(r.bag_file == "drive1.bag" for r in rows)
    steering = [r for r in rows if r.topic == "/vehicle/steering_report"]
    assert len(steering) == 3
    assert steering[0].msg_type == "dbw_mkz_msgs/SteeringReport"
    assert "float64 steering_wheel_angle" in steering[0].message_definition


def test_read_bag_messages_skip_salvages_corrupt_bag(spark, tmp_path):
    """on_error='skip' keeps the pre-corruption prefix of a truncated
    bag and all messages of healthy bags; the default mode fails the
    job (curated-input behavior)."""
    good = make_bag()
    (tmp_path / "good.bag").write_bytes(good)
    # truncate mid-way through the record stream: header magic intact,
    # last record cut → struct.unpack/length errors at the cut point
    (tmp_path / "bad.bag").write_bytes(good[: len(good) - 30])
    strict = read_bag_messages(spark, str(tmp_path))
    with pytest.raises(Exception):
        strict.collect()
    salvaged = read_bag_messages(spark, str(tmp_path), on_error="skip")
    rows = salvaged.collect()
    by_bag = {}
    for r in rows:
        by_bag.setdefault(r.bag_file, []).append(r)
    good_rows = by_bag["good.bag"]
    assert len(good_rows) == 5                   # healthy bag untouched
    assert all(r.error is None for r in good_rows)
    # the corrupt bag emits its salvageable prefix plus ONE marker row
    # so callers can quarantine via where("error is not null")
    bad_markers = [r for r in by_bag["bad.bag"] if r.error is not None]
    assert len(bad_markers) == 1
    assert bad_markers[0].topic is None
    assert 0 <= len(by_bag["bad.bag"]) - 1 < 5   # prefix only
    quarantined = [r.bag_file for r in
                   salvaged.where("error is not null").collect()]
    assert quarantined == ["bad.bag"]
    with pytest.raises(ValueError, match="on_error"):
        read_bag_messages(spark, str(tmp_path), on_error="quarantine")


def test_topic_metadata_stats(spark, bag_dir):
    meta = {r.topic: r for r in
            topic_metadata(read_bag_messages(spark, bag_dir)).collect()}
    s = meta["/vehicle/steering_report"]
    assert s.n_messages == 3
    assert s.first_time_ns == 100 * 10**9 and s.last_time_ns == 101 * 10**9
    assert s.frequency_hz == 3.0  # 3 msgs over exactly 1 s


def test_decode_primitive_messages(spark, bag_dir):
    msgs = read_bag_messages(spark, bag_dir)
    steering = decode_primitive_messages(
        msgs.where(F.col("topic") == "/vehicle/steering_report"), STEERING_DEF)
    rows = sorted(steering.collect(), key=lambda r: r.time_ns)
    assert [r.steering_wheel_angle for r in rows] == [0.5, 0.6, 0.7]
    assert [r.speed for r in rows] == [10.0, 11.0, 12.0]
    assert [r.enabled for r in rows] == [True, True, False]

    gps = decode_primitive_messages(
        msgs.where(F.col("topic") == "/vehicle/gps"), GPS_DEF)
    grows = sorted(gps.collect(), key=lambda r: r.time_ns)
    assert [(r.status_text, r.num_sats) for r in grows] == [("OK", 7), ("WEAK", 3)]


def test_parse_message_definition_skips_constants_and_deps():
    defn = ("uint8 GEAR_PARK=1  # constant\n"
            "float64 speed\n"
            "================================================================================\n"
            "MSG: std_msgs/Header\nuint32 seq\n")
    assert parse_message_definition(defn) == [("float64", "speed")]


def test_unresolvable_nested_type_raises(spark, bag_dir):
    """A definition referencing a type with no dependent section is a
    malformed bag, not a decodable one."""
    msgs = read_bag_messages(spark, bag_dir)
    with pytest.raises(ValueError, match="msg-IDL"):
        decode_primitive_messages(msgs, "std_msgs/Header header\nfloat64 x\n")


SEP = "=" * 80

DETECTIONS_DEF = f"""my_msgs/Detection2D[] detections
{SEP}
MSG: my_msgs/Detection2D
float64 x
float64 y
float64 width
float64 height
string Class
"""

LANES_DEF = f"""my_msgs/Lane[] lanes
{SEP}
MSG: my_msgs/Lane
my_msgs/Point2D[] image_points
{SEP}
MSG: my_msgs/Point2D
float64 x
float64 y
"""

IMU_DEF = f"""Header header
float64[2] orientation
uint8[] raw
{SEP}
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""


def _detections_payload(dets):
    out = struct.pack("<I", len(dets))
    for x, y, w, h, cls in dets:
        c = cls.encode()
        out += struct.pack("<dddd", x, y, w, h) + struct.pack("<I", len(c)) + c
    return out


def _lanes_payload(lanes):
    out = struct.pack("<I", len(lanes))
    for pts in lanes:
        out += struct.pack("<I", len(pts))
        for x, y in pts:
            out += struct.pack("<dd", x, y)
    return out


def _imu_payload(seq, secs, nsecs, frame, orientation, raw):
    f = frame.encode()
    out = struct.pack("<III", seq, secs, nsecs)
    out += struct.pack("<I", len(f)) + f
    out += struct.pack("<dd", *orientation)
    return out + struct.pack("<I", len(raw)) + raw


# two lanes at x=0 and x=10: an object whose bbox corners fall between
# them is "in lane" (x-only bracket test, like the reference)
TWO_LANES = [[(0.0, 0.0), (0.0, 50.0)], [(10.0, 0.0), (10.0, 50.0)]]
PERSON_IN = (5.0, 20.0, 2.0, 2.0, "person")
PERSON_OUT = (50.0, 20.0, 2.0, 2.0, "person")
CAR_OUT = (50.0, 20.0, 4.0, 4.0, "car")


def make_scene_bag() -> bytes:
    """Detection + lane topics over 5 ticks at 10 Hz; a person is in
    lane only at ticks 1-2 (the person at tick 4 is outside the lanes)."""
    ticks = [
        ([CAR_OUT], 0), ([PERSON_IN], 1), ([PERSON_IN, CAR_OUT], 2),
        ([], 3), ([PERSON_OUT], 4),
    ]
    inner = (_connection(0, "/perception/detections",
                         "my_msgs/DetectionArray", DETECTIONS_DEF)
             + _connection(1, "/perception/lanes",
                           "my_msgs/LaneArray", LANES_DEF))
    for dets, i in ticks:
        nsec = i * 100_000_000
        inner += _message(0, 200, nsec, _detections_payload(dets))
        inner += _message(1, 200, nsec, _lanes_payload(TWO_LANES))
    bag_header = _record({"op": b"\x03",
                          "index_pos": struct.pack("<Q", 0),
                          "conn_count": struct.pack("<I", 2),
                          "chunk_count": struct.pack("<I", 1)}, b" " * 64)
    return b"#ROSBAG V2.0\n" + bag_header + _chunk(inner)


def test_decode_nested_array_of_struct(spark, tmp_path):
    (tmp_path / "scene.bag").write_bytes(make_scene_bag())
    msgs = read_bag_messages(spark, str(tmp_path))
    dets = decode_primitive_messages(
        msgs.where(F.col("topic") == "/perception/detections"),
        DETECTIONS_DEF)
    rows = sorted(dets.collect(), key=lambda r: r.time_ns)
    assert len(rows) == 5
    assert rows[0].detections[0].Class == "car"
    assert rows[2].detections[0].x == 5.0
    assert [len(r.detections) for r in rows] == [1, 1, 2, 0, 1]

    lanes = decode_primitive_messages(
        msgs.where(F.col("topic") == "/perception/lanes"), LANES_DEF)
    lrow = lanes.first()
    assert len(lrow.lanes) == 2
    assert [p.x for p in lrow.lanes[1].image_points] == [10.0, 10.0]


def test_decode_header_fixed_array_and_bytes(spark, tmp_path):
    inner = (_connection(0, "/imu", "my_msgs/Imu", IMU_DEF)
             + _message(0, 300, 0,
                        _imu_payload(7, 300, 1, "base_link",
                                     (0.25, -0.5), b"\x01\x02\x03")))
    bag = (b"#ROSBAG V2.0\n"
           + _record({"op": b"\x03", "index_pos": struct.pack("<Q", 0),
                      "conn_count": struct.pack("<I", 1),
                      "chunk_count": struct.pack("<I", 1)}, b" " * 64)
           + _chunk(inner))
    (tmp_path / "imu.bag").write_bytes(bag)
    row = decode_primitive_messages(
        read_bag_messages(spark, str(tmp_path)), IMU_DEF).first()
    assert row.header.seq == 7
    assert row.header.stamp == 300 * 10**9 + 1
    assert row.header.frame_id == "base_link"
    assert list(row.orientation) == [0.25, -0.5]
    assert bytes(row.raw) == b"\x01\x02\x03"


def test_bag_to_scene_detection_end_to_end(spark, tmp_path):
    """Raw bag → typed decode → object-in-lane geometry → change-point
    scene intervals: the reference's whole pipeline (entry points A+B+C)
    on bag-derived columns, no JSON round trip."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.scenes import (
        objects_in_lane_by_key, summarize_person_scenes,
    )
    (tmp_path / "scene.bag").write_bytes(make_scene_bag())
    msgs = read_bag_messages(spark, str(tmp_path))
    dets = decode_primitive_messages(
        msgs.where(F.col("topic") == "/perception/detections"),
        DETECTIONS_DEF).select("bag_file", "time_ns", "detections")
    lanes = decode_primitive_messages(
        msgs.where(F.col("topic") == "/perception/lanes"),
        LANES_DEF).select("bag_file", "time_ns", "lanes")
    joined = dets.join(lanes, ["bag_file", "time_ns"])

    scored = objects_in_lane_by_key(joined, "detections", "lanes",
                                    ["bag_file", "time_ns"])
    intervals = summarize_person_scenes(scored, ["bag_file"],
                                        time_col="time_ns").collect()
    assert len(intervals) == 1
    iv = intervals[0]
    t1, t3 = 200 * 10**9 + 100_000_000, 200 * 10**9 + 300_000_000
    assert iv.start_time == t1
    assert iv.end_time == t3
    assert iv.num_people_in_scene_start == 1
    assert iv.scene_id == f"scene.bag_PersonInLane_{t1}"


def test_bag_to_synchronize_pipeline_end_to_end(spark, bag_dir):
    """Bag → decode → wide 2 Hz LOCF table: the reference's entry-point-A
    feeding entry-point-B, all in one Spark plan."""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline import (
        synchronize_topics,
    )
    msgs = read_bag_messages(spark, bag_dir)
    steering = decode_primitive_messages(
        msgs.where(F.col("topic") == "/vehicle/steering_report"), STEERING_DEF) \
        .select("bag_file", F.col("time_ns").alias("t"), "speed")
    gps = decode_primitive_messages(
        msgs.where(F.col("topic") == "/vehicle/gps"), GPS_DEF) \
        .select("bag_file", F.col("time_ns").alias("t"), "num_sats")
    wide = synchronize_topics({"steering": steering, "gps": gps},
                              ["bag_file"], time_col="t", step=500_000_000)
    rows = sorted(wide.collect(), key=lambda r: r.t)
    assert len(rows) == 3  # ticks at 100.0, 100.5, 101.0 s
    assert rows[0].steering.speed == 10.0
    assert rows[1].steering.speed == 11.0
    assert rows[1].gps.num_sats == 7   # LOCF from 100.25
    # the sats=3 reading lands at 101.25 s — after the last tick — so
    # LOCF at 101.0 still carries 7
    assert rows[2].gps.num_sats == 7
