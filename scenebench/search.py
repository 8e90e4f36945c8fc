"""Scene search: the four query kinds, each with its truth check.

Every query is Spark SQL over the catalog tables the ingest path
registered. Each kind returns ``(sql, check)``; ``check(rows)`` returns
True when the answer equals the generator-side truth.
"""

from __future__ import annotations

from baggen import TICK_NS

KINDS = ("fleet_long", "bag_scenes", "scene_rows", "bag_counts")


def fleet_long(truths: dict, min_s: float):
    """Fleet-wide person-in-lane scenes longer than ``min_s`` seconds."""
    min_ns = int(min_s * 1e9)
    sql = ("SELECT bag_file, start_time, end_time FROM person_scenes "
           f"WHERE scene_length > {min_ns}")
    want = sorted((b, s, e) for b, t in truths.items() for s, e, _ in t.scenes
                  if e is not None and e - s > min_ns)
    return sql, lambda rows: sorted(tuple(r) for r in rows) == want


def bag_scenes(truth):
    """Every scene of one bag, in time order."""
    sql = ("SELECT start_time, end_time, num_people_in_scene_start "
           f"FROM person_scenes WHERE bag_file = '{truth.name}' "
           "ORDER BY start_time")
    return sql, lambda rows: [tuple(r) for r in rows] == truth.scenes


def scene_rows(truth, k: int):
    """The 10 Hz synchronized rows of one scene (partition-pruned on
    the bag), with the steering speed forward-filled onto each tick."""
    start, end, _ = truth.scenes[k % len(truth.scenes)]
    if end is None:
        end = truth.t0_ns + truth.ticks * TICK_NS
    sql = ("SELECT Time, CAST(get_json_object(steering, '$.speed') AS DOUBLE) "
           f"FROM synchronized_topics WHERE bag_file = '{truth.name}' "
           f"AND Time >= {start} AND Time < {end} ORDER BY Time")
    first = (start - truth.t0_ns) // TICK_NS
    want = [(start + i * TICK_NS, truth.speed[first + i])
            for i in range((end - start) // TICK_NS)]
    return sql, lambda rows: [tuple(r) for r in rows] == want


def bag_counts(truths: dict):
    """Scene count of every bag."""
    sql = ("SELECT bag_file, count(*) FROM person_scenes GROUP BY bag_file")
    want = sorted((b, len(t.scenes)) for b, t in truths.items())
    return sql, lambda rows: sorted(tuple(r) for r in rows) == want


def make(kind: str, rng, truths: dict):
    """One seeded query of ``kind`` over the bags in ``truths``."""
    if kind == "fleet_long":
        return fleet_long(truths, rng.choice((1.0, 2.0, 3.0, 4.0)))
    if kind == "bag_counts":
        return bag_counts(truths)
    truth = truths[rng.choice(sorted(truths))]
    if kind == "bag_scenes":
        return bag_scenes(truth)
    return scene_rows(truth, rng.randrange(len(truth.scenes)))
