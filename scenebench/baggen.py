"""Seeded ROS1 v2.0 bag generator with planted person-in-lane scenes.

Writes byte-exact bags (public format: http://wiki.ros.org/Bags/Format/2.0)
with chunks stored uncompressed, bz2 or LZ4. LZ4 chunks are compressed
here by a small greedy matcher (``lz4_compress_block``), so they carry
real back-references, including overlapping ones (offset shorter than
the match) over the IMU's all-zero covariance arrays. Every frame is checked by a
round-trip through ``lz4_decompress_frame`` and must come out smaller
than its input.

The generator also returns the truth the benchmark checks the program
against: message counts per topic, the grid-aligned person-in-lane
intervals, and the steering speed on every 10 Hz tick.

Geometry is planted with margins so the truth needs no geometry code:
lanes are near-vertical lines at well-separated x, an "in lane" object
has all four bbox corners strictly between two adjacent lanes, and an
"out" object has all four corners outside the outermost lanes. Every
point lies in [200, 1000] x [100, 620], so every corner-to-lane-point
distance stays below the 1000-pixel nearest-point cutoff.
"""

from __future__ import annotations

import bz2
import dataclasses
import random
import struct
from dataclasses import dataclass, field

import numpy as np

MAGIC = b"#ROSBAG V2.0\n"
TICK_NS = 100_000_000          # the 10 Hz synchronization grid
CHUNK_BYTES = 256 * 1024       # uncompressed chunk threshold
LZ4_BLOCK = 64 * 1024          # LZ4 frame block size (BD = 64 KB)
SEP = "=" * 80
LIDAR_POINTS = 64              # points per lidar message (16 bytes each)

HEADER_DEF = f"""{SEP}
MSG: std_msgs/Header
uint32 seq
time stamp
string frame_id
"""

VECTOR3_DEF = f"""{SEP}
MSG: geometry_msgs/Vector3
float64 x
float64 y
float64 z
"""

DEFS = {
    "imu": ("/vehicle/imu", "sensor_msgs/Imu", f"""Header header
geometry_msgs/Quaternion orientation
float64[9] orientation_covariance
geometry_msgs/Vector3 angular_velocity
float64[9] angular_velocity_covariance
geometry_msgs/Vector3 linear_acceleration
float64[9] linear_acceleration_covariance
{HEADER_DEF}{SEP}
MSG: geometry_msgs/Quaternion
float64 x
float64 y
float64 z
float64 w
{VECTOR3_DEF}"""),
    "steering": ("/vehicle/steering_report", "dbw_mkz_msgs/SteeringReport",
                 f"""Header header
float64 steering_wheel_angle
float64 speed
bool enabled
{HEADER_DEF}"""),
    "wheel_speed": ("/vehicle/wheel_speed_report",
                    "dbw_mkz_msgs/WheelSpeedReport", f"""Header header
float64 front_left
float64 front_right
float64 rear_left
float64 rear_right
{HEADER_DEF}"""),
    "twist": ("/vehicle/twist", "geometry_msgs/TwistStamped", f"""Header header
geometry_msgs/Twist twist
{HEADER_DEF}{SEP}
MSG: geometry_msgs/Twist
geometry_msgs/Vector3 linear
geometry_msgs/Vector3 angular
{VECTOR3_DEF}"""),
    "gps": ("/vehicle/gps/fix", "sensor_msgs/NavSatFix", f"""Header header
float64 latitude
float64 longitude
float64 altitude
string status
{HEADER_DEF}"""),
    "diagnostics": ("/diagnostics", "diagnostic_msgs/DiagnosticStatus",
                    """uint8 level
string name
string message
"""),
    "lidar": ("/lidar/points", "sensor_msgs/PointCloud2", f"""Header header
uint32 height
uint32 width
uint32 point_step
uint8[] data
{HEADER_DEF}"""),
    "detections": ("/perception/detections", "perception_msgs/DetectionArray",
                   f"""Header header
perception_msgs/Detection2D[] detections
{HEADER_DEF}{SEP}
MSG: perception_msgs/Detection2D
float64 x
float64 y
float64 width
float64 height
string Class
"""),
    "lanes": ("/perception/lanes", "perception_msgs/LaneArray", f"""Header header
perception_msgs/Lane[] lanes
{HEADER_DEF}{SEP}
MSG: perception_msgs/Lane
perception_msgs/Point2D[] image_points
{SEP}
MSG: perception_msgs/Point2D
float64 x
float64 y
"""),
}

# drive-by-wire status reports: Header, N float64 readings, a bool
REPORTS = {
    "brake": ("/vehicle/brake_report", "dbw_mkz_msgs/BrakeReport", 3),
    "throttle": ("/vehicle/throttle_report", "dbw_mkz_msgs/ThrottleReport", 3),
    "gear": ("/vehicle/gear_report", "dbw_mkz_msgs/GearReport", 1),
    "surround": ("/vehicle/surround_report", "dbw_mkz_msgs/SurroundReport", 6),
    "tire_pressure": ("/vehicle/tire_pressure_report",
                      "dbw_mkz_msgs/TirePressureReport", 4),
}
for _short, (_topic, _type, _n) in REPORTS.items():
    DEFS[_short] = (_topic, _type, "Header header\n"
                    + "".join(f"float64 value{i}\n" for i in range(_n))
                    + f"bool enabled\n{HEADER_DEF}")


@dataclass(frozen=True)
class Shape:
    """One workload's bag shape. Rates are messages per second; a rate
    of 0 leaves the topic out of the bag."""
    seconds: int
    rates: dict
    compressions: tuple        # cycled over bags
    objects: tuple             # (min, max) detections per frame
    lanes: tuple               # (min, max) lanes per frame
    lane_points: int
    flip_s: tuple              # (min, max) seconds between state flips
    sync: tuple = ("steering", "detections", "lanes")   # synchronized topics


SHAPES = {
    # many modest bags per batch: 14 topics including 100 Hz IMU, 50 Hz
    # steering and 10 Hz lidar, every chunk codec, sparse detections at 2 Hz;
    # extraction carries most of the work
    "fleet_ingest": Shape(
        seconds=30,
        rates={"imu": 100, "steering": 50, "wheel_speed": 50, "brake": 50,
               "throttle": 50, "twist": 50, "gear": 20, "surround": 10,
               "tire_pressure": 2, "gps": 10, "diagnostics": 1, "lidar": 10,
               "detections": 2, "lanes": 2},
        compressions=("lz4", "bz2", "none", "bz2", "none", "bz2"),
        objects=(0, 2), lanes=(3, 4), lane_points=20, flip_s=(2, 6),
        sync=("steering", "gps", "detections", "lanes")),
    # a few long uncompressed bags: steering, detections and lanes at
    # 10 Hz, 8-16 objects and 3-4 lanes of 20 points per frame, person
    # in lane flipping every 1-5 s; synchronization and the dets x
    # lane-points join carry most of the work
    "scene_search": Shape(
        seconds=40,
        rates={"steering": 10, "detections": 10, "lanes": 10},
        compressions=("none",),
        objects=(8, 16), lanes=(3, 4), lane_points=20, flip_s=(1, 5)),
}

CLASSES_OTHER = ("car", "truck", "bicycle", "traffic_sign")


@dataclass
class BagTruth:
    name: str
    size: int
    counts: dict = field(default_factory=dict)        # topic -> messages
    # (start_ns, end_ns or None, people in lane at start)
    scenes: list = field(default_factory=list)
    t0_ns: int = 0
    ticks: int = 0                                    # grid ticks covered
    speed: list = field(default_factory=list)         # steering speed per tick
    grid_objects: int = 0                             # detections over all ticks

    @property
    def messages(self) -> int:
        return sum(self.counts.values())


# ------------------------------------------------------------------ LZ4

def lz4_compress_block(src: bytes) -> bytes:
    """Greedy single-probe LZ4 block compressor (public block format).

    Matches are at least 4 bytes, at most 65535 back, end 5 bytes
    before the block end and start at least 12 bytes before it; the
    last sequence is literals only. Overlapping matches (offset <
    length) are emitted wherever the input repeats with a short period.
    """
    n = len(src)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = i = 0
    limit = n - 12

    def emit(lit_end: int, offset: int = 0, mlen: int = 0) -> None:
        lit = lit_end - anchor
        ml = mlen - 4 if offset else 0
        out.append((min(lit, 15) << 4) | min(ml, 15))
        if lit >= 15:
            r = lit - 15
            while r >= 255:
                out.append(255)
                r -= 255
            out.append(r)
        out.extend(src[anchor:lit_end])
        if offset:
            out.extend(struct.pack("<H", offset))
            if ml >= 15:
                r = ml - 15
                while r >= 255:
                    out.append(255)
                    r -= 255
                out.append(r)

    misses = 0
    while i < limit:
        key = src[i:i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 65535:
            # LZ4's acceleration: probe more sparsely the longer the
            # input goes without a match
            misses += 1
            i += 1 + (misses >> 5)
            continue
        misses = 0
        m, maxm = 4, n - 5 - i
        while m + 8 <= maxm and src[cand + m:cand + m + 8] == src[i + m:i + m + 8]:
            m += 8
        while m < maxm and src[cand + m] == src[i + m]:
            m += 1
        emit(i, i - cand, m)
        i += m
        anchor = i
        if i - 2 < limit:
            table[src[i - 2:i + 2]] = i - 2
    emit(n)
    return bytes(out)


def lz4_decompress_block(src: bytes) -> bytes:
    """Reference decoder used only to check the compressor."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        out += src[i:i + lit]
        i += lit
        if i >= n:
            break
        off = src[i] | (src[i + 1] << 8)
        i += 2
        ml = token & 15
        if ml == 15:
            while True:
                b = src[i]
                i += 1
                ml += b
                if b != 255:
                    break
        ml += 4
        start = len(out) - off
        if ml <= off:
            out += out[start:start + ml]
        else:
            for k in range(ml):
                out.append(out[start + k])
    return bytes(out)


def lz4_compress_frame(data: bytes) -> bytes:
    """LZ4 frame: independent 64 KB blocks, no checksums. A block that
    does not shrink is stored raw (high size bit), as the spec allows."""
    out = bytearray(struct.pack("<I", 0x184D2204) + bytes([0x60, 0x40, 0x82]))
    matched = 0
    for off in range(0, len(data), LZ4_BLOCK):
        raw = data[off:off + LZ4_BLOCK]
        blk = lz4_compress_block(raw)
        if lz4_decompress_block(blk) != raw:
            raise AssertionError("lz4 round trip failed")
        if len(blk) < len(raw):
            out += struct.pack("<I", len(blk)) + blk
            matched += 1
        else:
            out += struct.pack("<I", len(raw) | 0x80000000) + raw
    out += struct.pack("<I", 0)
    if not matched or len(out) >= len(data):
        raise AssertionError("lz4 frame did not compress")
    return bytes(out)


# ------------------------------------------------------------- records

def _field(name: str, value: bytes) -> bytes:
    payload = name.encode() + b"=" + value
    return struct.pack("<I", len(payload)) + payload


def _record(fields: dict, data: bytes) -> bytes:
    header = b"".join(_field(k, v) for k, v in fields.items())
    return (struct.pack("<I", len(header)) + header
            + struct.pack("<I", len(data)) + data)


def _connection(cid: int, topic: str, msg_type: str, defn: str) -> bytes:
    data = (_field("topic", topic.encode()) + _field("type", msg_type.encode())
            + _field("md5sum", b"%032x" % cid)
            + _field("message_definition", defn.encode()))
    return _record({"op": b"\x07", "conn": struct.pack("<I", cid),
                    "topic": topic.encode()}, data)


def _message(cid: int, t_ns: int, payload: bytes) -> bytes:
    return _record({"op": b"\x02", "conn": struct.pack("<I", cid),
                    "time": struct.pack("<II", t_ns // 10**9, t_ns % 10**9)},
                   payload)


def _chunk(records: bytes, compression: str) -> bytes:
    if compression == "bz2":
        body = bz2.compress(records, 9)
    elif compression == "lz4":
        body = lz4_compress_frame(records)
    else:
        body = records
    return _record({"op": b"\x05", "compression": compression.encode(),
                    "size": struct.pack("<I", len(records))}, body)


def _string(s: str) -> bytes:
    b = s.encode()
    return struct.pack("<I", len(b)) + b


def _header(seq: int, t_ns: int, frame: str) -> bytes:
    return struct.pack("<III", seq, t_ns // 10**9, t_ns % 10**9) + _string(frame)


def _q(rng: random.Random, lo: float, hi: float, bits: int = 8) -> float:
    """A sensor reading quantized to 1/2**bits, as fixed-point sensors
    publish them; quantized float64s end in runs of zero bytes."""
    return round(rng.uniform(lo, hi) * (1 << bits)) / (1 << bits)


# ------------------------------------------------------------ geometry

def _lanes(rng: random.Random, shape: Shape) -> list:
    """Near-vertical lanes spread over x in [420, 880]; each lane's x
    drifts by at most 12 px over its points."""
    n = rng.randint(*shape.lanes)
    gap = 460 / (n - 1)
    lanes = []
    for k in range(n):
        x0 = 420 + k * gap
        slope = rng.uniform(-12, 12)
        pts = [(_q(rng, x0 + slope * j / shape.lane_points - 1,
                   x0 + slope * j / shape.lane_points + 1, 4),
                100 + 520 * j / (shape.lane_points - 1))
               for j in range(shape.lane_points)]
        lanes.append(pts)
    return lanes


def _in_lane_box(rng: random.Random, lanes: list) -> tuple:
    k = rng.randrange(len(lanes) - 1)
    lo = max(p[0] for p in lanes[k]) + 8
    hi = min(p[0] for p in lanes[k + 1]) - 8
    w = _q(rng, 10, min(60, (hi - lo) / 2), 2)
    x = _q(rng, lo + w / 2 + 1, hi - w / 2 - 1, 2)
    h = _q(rng, 20, 120, 2)
    y = _q(rng, 110 + h / 2, 610 - h / 2, 2)
    return x, y, w, h


def _out_box(rng: random.Random, lanes: list) -> tuple:
    left = min(p[0] for p in lanes[0]) - 8
    right = max(p[0] for p in lanes[-1]) + 8
    w = _q(rng, 10, 60, 2)
    if rng.random() < 0.5:
        x = _q(rng, 200 + w / 2, left - w / 2 - 1, 2)
    else:
        x = _q(rng, right + w / 2 + 1, 1000 - w / 2, 2)
    h = _q(rng, 20, 120, 2)
    y = _q(rng, 110 + h / 2, 610 - h / 2, 2)
    return x, y, w, h


def _frame(rng: random.Random, shape: Shape, lanes: list, people_in: int) -> list:
    """Detections of one frame: ``people_in`` persons inside a lane, the
    rest persons outside the lanes or other classes anywhere."""
    n = max(people_in, rng.randint(*shape.objects))
    dets = [(*_in_lane_box(rng, lanes), "person") for _ in range(people_in)]
    for _ in range(n - people_in):
        if rng.random() < 0.4:
            dets.append((*_out_box(rng, lanes), "person"))
        elif rng.random() < 0.5:
            dets.append((*_in_lane_box(rng, lanes), rng.choice(CLASSES_OTHER)))
        else:
            dets.append((*_out_box(rng, lanes), rng.choice(CLASSES_OTHER)))
    rng.shuffle(dets)
    return dets


def _state_plan(rng: random.Random, shape: Shape, frames: int, fps: int) -> list:
    """People in lane per detection frame: alternating runs whose
    lengths are whole seconds in ``shape.flip_s``; in-lane runs carry
    1-3 people. With at most 2 objects per frame at most 2."""
    plan, state = [], rng.random() < 0.5
    cap = min(3, shape.objects[1])
    while len(plan) < frames:
        run = rng.randint(*shape.flip_s) * fps
        people = rng.randint(1, cap) if state else 0
        plan.extend([people] * run)
        state = not state
    return plan[:frames]


# ---------------------------------------------------------------- bags

def _quant(g, lo: float, hi: float, bits: int, size) -> np.ndarray:
    """:func:`_q` over a whole array."""
    return np.round(g.uniform(lo, hi, size) * (1 << bits)) / (1 << bits)


LIDAR_POINT = np.dtype([("x", "<f4"), ("y", "<f4"), ("z", "<f4"),
                        ("intensity", "<u2"), ("pad", "<u2")])


def _bodies(topic: str, g, n: int) -> list[bytes]:
    """Serialized fields after the header of ``n`` messages of a
    high-rate topic, generated array-at-a-time."""
    if topic == "imu":
        # covariances are all zero ("unknown"), as many IMU drivers
        # publish them: 72-byte zero runs, which LZ4 encodes as
        # overlapping matches
        unknown = np.zeros((n, 9))
        v = np.concatenate([_quant(g, -1, 1, 12, (n, 4)), unknown,
                            _quant(g, -2, 2, 8, (n, 3)), unknown,
                            _quant(g, -3, 3, 8, (n, 2)),
                            9.8125 + _quant(g, -0.5, 0.5, 8, (n, 1)), unknown], axis=1)
    elif topic == "wheel_speed":
        s = _quant(g, 0, 30, 6, (n, 1))
        v = np.concatenate([s, s + 0.125, s - 0.0625, s], axis=1)
    elif topic in REPORTS:
        v = _quant(g, 0, 1, 10, (n, REPORTS[topic][2]))
    elif topic == "twist":
        v = np.concatenate([_quant(g, 0, 30, 6, (n, 1)), _quant(g, -1, 1, 8, (n, 5))],
                           axis=1)
    elif topic == "gps":
        v = np.concatenate([47.5 + _quant(g, 0, 0.01, 20, (n, 1)),
                            -122.25 + _quant(g, 0, 0.01, 20, (n, 1)),
                            _quant(g, 10, 60, 4, (n, 1))], axis=1)
    elif topic == "lidar":
        # one ring per message: ranges quantized to 1/16 m around a
        # per-scan base range, coarse heights and intensities
        pts = np.zeros((n, LIDAR_POINTS), LIDAR_POINT)
        base = g.uniform(5, 40, (n, 1))
        pts["x"] = np.round((base + g.uniform(-0.5, 0.5, (n, LIDAR_POINTS))) * 16) / 16
        pts["y"] = _quant(g, -1, 1, 6, (n, LIDAR_POINTS))
        pts["z"] = _quant(g, -2, 2, 4, (n, LIDAR_POINTS))
        pts["intensity"] = g.integers(0, 16, (n, LIDAR_POINTS)) * 16
        raw, w = pts.tobytes(), LIDAR_POINTS * LIDAR_POINT.itemsize
        prefix = struct.pack("<IIII", 1, LIDAR_POINTS, LIDAR_POINT.itemsize, w)
        return [prefix + raw[i * w:(i + 1) * w] for i in range(n)]
    elif topic == "diagnostics":
        return [struct.pack("<B", int(lvl)) + _string("/vehicle/dbw")
                + _string(f"ok level={lvl}") for lvl in g.integers(0, 3, n)]
    else:
        raise KeyError(topic)
    raw, w = v.astype("<f8").tobytes(), v.shape[1] * 8
    tail = _string("FIX") if topic == "gps" else b"\x01" if topic in REPORTS else b""
    return [raw[i * w:(i + 1) * w] + tail for i in range(n)]


FRAMES = {"imu": "imu_link", "wheel_speed": "base_link", "gps": "gps",
          "twist": "base_link", **{r: "base_link" for r in REPORTS},
          "lidar": "lidar", "diagnostics": None}


def make_bag(name: str, shape: Shape, seed: int, compression: str,
             t0_s: int) -> tuple[bytes, BagTruth]:
    """One bag and its truth. All topics start at ``t0_s`` (a grid
    tick); detections and lanes are published on grid ticks, the other
    topics at their own rates."""
    rng = random.Random(seed)
    g = np.random.default_rng(seed)
    t0 = t0_s * 10**9
    topics = [t for t in DEFS if shape.rates.get(t)]
    cid = {t: i for i, t in enumerate(topics)}
    counts = {t: 0 for t in topics}
    msgs: list[tuple[int, int, bytes]] = []   # (t_ns, conn order, record)
    truth = BagTruth(name=name, size=0, t0_ns=t0)

    det_fps = shape.rates["detections"]
    frames = shape.seconds * det_fps
    plan = _state_plan(rng, shape, frames, det_fps)
    lane_fps = shape.rates["lanes"]
    lanes = _lanes(rng, shape)
    lane_frames = []
    for k in range(shape.seconds * lane_fps):
        if k % max(1, lane_fps) == 0:
            lanes = _lanes(rng, shape)      # geometry changes once a second
        lane_frames.append(lanes)

    def lanes_at(t_ns: int) -> list:
        return lane_frames[(t_ns - t0) * lane_fps // 10**9]

    n_objects = []
    for k in range(frames):
        t = t0 + k * 10**9 // det_fps
        dets = _frame(rng, shape, lanes_at(t), plan[k])
        n_objects.append(len(dets))
        body = _header(k, t, "camera") + struct.pack("<I", len(dets))
        for x, y, w, h, cls in dets:
            body += struct.pack("<4d", x, y, w, h) + _string(cls)
        msgs.append((t, cid["detections"], _message(cid["detections"], t, body)))
    counts["detections"] = frames

    for k, lf in enumerate(lane_frames):
        t = t0 + k * 10**9 // lane_fps
        body = _header(k, t, "camera") + struct.pack("<I", len(lf))
        for pts in lf:
            body += struct.pack("<I", len(pts))
            body += b"".join(struct.pack("<2d", x, y) for x, y in pts)
        msgs.append((t, cid["lanes"], _message(cid["lanes"], t, body)))
    counts["lanes"] = len(lane_frames)

    steer_hz = shape.rates["steering"]
    speeds = {}
    for k in range(shape.seconds * steer_hz):
        t = t0 + k * 10**9 // steer_hz
        speed = _q(rng, 0, 30, 6)
        body = _header(k, t, "base_link") + struct.pack(
            "<dd?", _q(rng, -0.5, 0.5, 10), speed, True)
        msgs.append((t, cid["steering"], _message(cid["steering"], t, body)))
        speeds[t] = speed
    counts["steering"] = shape.seconds * steer_hz

    for topic in topics:
        if topic in ("detections", "lanes", "steering"):
            continue
        hz = shape.rates[topic]
        n = shape.seconds * hz
        frame = FRAMES[topic]
        for k, body in enumerate(_bodies(topic, g, n)):
            t = t0 + k * 10**9 // hz
            if frame:
                body = _header(k, t, frame) + body
            msgs.append((t, cid[topic], _message(cid[topic], t, body)))
        counts[topic] = n

    msgs.sort(key=lambda m: (m[0], m[1]))
    conns = b"".join(_connection(cid[t], *DEFS[t]) for t in topics)
    chunks, buf = [], bytearray(conns)
    for _, _, rec in msgs:
        buf += rec
        if len(buf) >= CHUNK_BYTES:
            chunks.append(_chunk(bytes(buf), compression))
            buf = bytearray()
    if buf:
        chunks.append(_chunk(bytes(buf), compression))
    bag_header = _record({"op": b"\x03", "index_pos": struct.pack("<Q", 0),
                          "conn_count": struct.pack("<I", len(topics)),
                          "chunk_count": struct.pack("<I", len(chunks))},
                         b" " * 64)
    data = MAGIC + bag_header + b"".join(chunks)

    # truth on the 10 Hz grid: the last detection/steering message at or
    # before each tick (forward fill), as the synchronized table holds it
    steer_times = sorted(speeds)
    last_t = max(m[0] for m in msgs)
    truth.ticks = (last_t - t0) // TICK_NS + 1
    people, speed_at, j, s = [], [], 0, 0
    for k in range(truth.ticks):
        t = t0 + k * TICK_NS
        while j + 1 < frames and t0 + (j + 1) * 10**9 // det_fps <= t:
            j += 1
        while s + 1 < len(steer_times) and steer_times[s + 1] <= t:
            s += 1
        people.append(plan[j])
        truth.grid_objects += n_objects[j]
        speed_at.append(speeds[steer_times[s]])
    start = None
    for k, p in enumerate(people):
        if p and start is None:
            start = k
        elif not p and start is not None:
            truth.scenes.append((t0 + start * TICK_NS, t0 + k * TICK_NS,
                                 people[start]))
            start = None
    if start is not None:
        truth.scenes.append((t0 + start * TICK_NS, None, people[start]))
    truth.speed = speed_at
    truth.counts = {DEFS[t][0]: c for t, c in counts.items()}
    truth.size = len(data)
    return data, truth


def make_bags(workload: str, seed: int, prefix: str, count: int,
              seconds: int | None = None) -> list[tuple[bytes, BagTruth]]:
    """``count`` bags of ``workload``'s shape (``seconds`` long, if
    given) named ``<prefix>_<i>.bag``, each with its own sub-seed and a
    distinct start time."""
    shape = SHAPES[workload]
    if seconds is not None:
        shape = dataclasses.replace(shape, seconds=seconds)
    out = []
    for i in range(count):
        name = f"{prefix}_{i:04d}.bag"
        comp = shape.compressions[i % len(shape.compressions)]
        sub = random.Random(f"{workload}:{seed}:{prefix}:{i}").getrandbits(63)
        out.append(make_bag(name, shape, sub, comp, 1000 + 100 * i))
    return out
