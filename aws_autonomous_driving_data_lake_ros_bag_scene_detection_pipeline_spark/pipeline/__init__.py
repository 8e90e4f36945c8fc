from .batch import BatchManifest, register_table, run_sync_batch
from .scenes import (
    DETECTIONS_SCHEMA, LANES_SCHEMA, normalize_pseudo_json,
    objects_in_lane_by_key, parse_reference_json, people_in_scene,
    summarize_person_scenes,
)
from .synchronize import synchronize_topics

__all__ = [
    "BatchManifest", "DETECTIONS_SCHEMA", "LANES_SCHEMA",
    "normalize_pseudo_json", "objects_in_lane_by_key",
    "parse_reference_json", "people_in_scene", "register_table",
    "run_sync_batch", "summarize_person_scenes", "synchronize_topics",
]
