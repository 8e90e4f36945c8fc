"""The bag-to-scene user path, driven through the package's public calls.

One ingest step: bags sit in a landing partition; the exactly-once
ledger (``streaming.sources.file_ingest_batch``) hands them to
``process``, which parses them (``sources.rosbag``), feeds the
completeness gate (``streaming.gate``), writes one table per topic
(``sources.tables``), synchronizes the topics onto the 10 Hz grid
(``pipeline.synchronize``), detects objects in lane and person-in-lane
scenes (``pipeline.scenes``) and registers every table in the catalog
(``pipeline.batch.register_table``). Each stage writes its own table,
as the reference's extraction container and two EMR jobs do, so each
span holds the Spark job that computes its stage.

Spans wrap the public calls from here; the program itself is not
instrumented. Spark runs ``decode_messages`` and the parquet encoder
in one stage, so the topic decode is charged to
``sources.tables.lake_write``; ``sources.rosbag.extract`` is the
driver-side construction of the per-topic plans.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.batch import (
    register_table,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.scenes import (
    DETECTIONS_SCHEMA, LANES_SCHEMA, objects_in_lane_by_key,
    summarize_person_scenes,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.pipeline.synchronize import (
    synchronize_topics,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.rosbag import (
    extract_topics, read_bag_messages,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.sources.tables import (
    read_topics, write_partitioned,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming.gate import (
    CompletenessGate,
)
from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark.streaming.sources import (
    file_ingest_batch,
)

from baggen import DEFS, TICK_NS

WRITE_PATH_SPANS = {
    "streaming.sources.ingest_step", "streaming.gate.observe",
    "sources.rosbag.scan", "sources.rosbag.extract",
    "sources.tables.lake_write", "pipeline.synchronize",
    "pipeline.scenes.geometry", "pipeline.scenes.intervals",
    "pipeline.batch.register",
}

KEYS = ["bag_file"]

# synchronized payloads are JSON strings, the reference's format
# (synchronize_topics.py:93-98); the scene stage parses the two it needs
DETECTIONS_PAYLOAD = T.StructType([T.StructField("detections", DETECTIONS_SCHEMA)])
LANES_PAYLOAD = T.StructType([T.StructField("lanes", LANES_SCHEMA)])


def data_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class SceneLake:
    """Landing zone, ledger and lake tables of one benchmark run."""

    def __init__(self, spark, root: str, topics: list[str],
                 sync_topics: list[str], tracer):
        self.spark = spark
        self.tracer = tracer
        self.landing = os.path.join(root, "landing")
        self.ledger = os.path.join(root, "ledger")
        self.lake = os.path.join(root, "lake")
        self.topics = topics                       # short names (DEFS keys)
        self.sync_topics = sync_topics
        self.short = {DEFS[t][0]: t for t in topics}   # ROS topic -> short
        self.gate = CompletenessGate(set(self.short), min_bags=1)
        # the pipeline's outputs, registered in the catalog every batch
        self.tables = {
            "synchronized_topics": os.path.join(self.lake, "synchronized"),
            "scene_detections": os.path.join(self.lake, "scene_detections"),
            "person_scenes": os.path.join(self.lake, "person_scenes"),
        }
        os.makedirs(self.landing, exist_ok=True)

    def topic_path(self, short: str) -> str:
        return os.path.join(self.lake, "topics", short)

    def land(self, part: str, bags: list[tuple[bytes, object]],
             staging: str) -> None:
        """Write bags to ``staging`` first, then move them into the
        landing partition, so a listing never sees a partial bag."""
        os.makedirs(staging, exist_ok=True)
        dst = os.path.join(self.landing, f"part={part}")
        os.makedirs(dst, exist_ok=True)
        for data, truth in bags:
            src = os.path.join(staging, truth.name)
            with open(src, "wb") as f:
                f.write(data)
            os.replace(src, os.path.join(dst, truth.name))

    def ingest(self, part: str) -> dict:
        """One exactly-once ingest step over landing partition ``part``.
        Returns what the step saw: released bags and per-(bag, topic)
        message counts from the parse."""
        tr = self.tracer
        seen: dict = {}

        def process(files_df, batch_id):
            with tr.span("batch.process"):
                self._process(part, seen)

        with tr.span("streaming.sources.ingest_step"):
            stats = file_ingest_batch(
                self.spark, self.landing, self.ledger, process=process,
                glob="*.bag", partition_col="part", seal_below=part)
        tr.count("streaming.sources.files_listed", stats["files_listed"])
        return seen

    def _process(self, part: str, seen: dict) -> None:
        spark, tr = self.spark, self.tracer
        bag_dir = os.path.join(self.landing, f"part={part}")
        with tr.span("sources.rosbag.scan"):
            msgs = read_bag_messages(spark, bag_dir).persist(
                StorageLevel.MEMORY_AND_DISK)
            scan = (msgs.groupBy("bag_file", "topic", "message_definition")
                    .count().collect())
        try:
            with tr.span("streaming.gate.observe"):
                released = self.gate.observe(
                    [(r.bag_file, r.topic) for r in scan])
            bags = sorted(released or [])
            seen["released"] = bags
            seen["counts"] = {(r.bag_file, r.topic): r["count"] for r in scan}
            tr.count("sources.rosbag.msgs", sum(r["count"] for r in scan))
            if not bags:
                return
            defs = {r.topic: r.message_definition for r in scan}
            with tr.span("sources.rosbag.extract"):
                topic_dfs = extract_topics(
                    msgs.where(F.col("bag_file").isin(bags)), defs)
            with tr.span("sources.tables.lake_write"):
                for ros_topic, df in topic_dfs.items():
                    write_partitioned(df.drop("topic"),
                                      self.topic_path(self.short[ros_topic]),
                                      KEYS)
        finally:
            msgs.unpersist()
        self._synchronize(bags)
        self._scenes(bags)
        with tr.span("pipeline.batch.register"):
            for name, path in self.tables.items():
                register_table(spark, name, path, partition_cols=KEYS)

    def partitions(self, path: str, bags: list[str]):
        return (self.spark.read.option("basePath", path)
                .parquet(*[f"{path}/bag_file={b}" for b in bags]))

    def _synchronize(self, bags: list[str]) -> None:
        with self.tracer.span("pipeline.synchronize"):
            topic_dfs = {}
            for t in self.sync_topics:
                base = self.topic_path(t)
                df = read_topics(
                    self.spark, {t: [f"{base}/bag_file={b}" for b in bags]},
                    base_path=base)[t]
                topic_dfs[t] = df.withColumnRenamed("time_ns", "Time")
            wide = synchronize_topics(topic_dfs, KEYS, time_col="Time",
                                      step=TICK_NS, as_json=True)
            write_partitioned(wide, self.tables["synchronized_topics"], KEYS)

    def _scenes(self, bags: list[str]) -> None:
        tr = self.tracer
        with tr.span("pipeline.scenes.geometry"):
            syn = self.partitions(self.tables["synchronized_topics"], bags)
            frames = syn.select(
                "bag_file", "Time",
                F.from_json("detections", DETECTIONS_PAYLOAD)["detections"]
                .alias("detections"),
                F.from_json("lanes", LANES_PAYLOAD)["lanes"].alias("lanes"))
            oil = objects_in_lane_by_key(frames, "detections", "lanes",
                                         ["bag_file", "Time"])
            write_partitioned(oil.select("bag_file", "Time", "objects_in_lane"),
                              self.tables["scene_detections"], KEYS)
        with tr.span("pipeline.scenes.intervals"):
            det = self.partitions(self.tables["scene_detections"], bags)
            scenes = summarize_person_scenes(
                det, KEYS, time_col="Time",
                topics_analyzed=",".join(sorted(self.sync_topics)))
            write_partitioned(scenes, self.tables["person_scenes"], KEYS)
