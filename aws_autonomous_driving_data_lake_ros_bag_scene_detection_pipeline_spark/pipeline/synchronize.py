"""Topic synchronization: per-topic streams → one wide 10 Hz table.

Re-expresses the reference's first EMR job (synchronize_topics.py) as a
single lazy Catalyst plan:

| reference step | here |
|---|---|
| per-file loop + union (44-75) | one multi-path read / ``union_by_name`` |
| ``to_json(struct)`` payload (93-98) | optional — typed values by default |
| driver ``collect()`` + per-bag ``spark.range`` grid (111-157) | ``operators.timeseries.resample_asof``'s spine: ``groupBy().agg(min,max)`` + ``sequence``/``explode`` (pure plan) |
| pivot without values (173-178) | none — each topic already owns its column; the narrow per-topic frames are unioned by name |
| global ``orderBy(Time)`` (184) | dropped — the window sort suffices |
| per-topic window fill loop (189-191) | ``resample_asof``'s one Window operator (shared spec) |

Scale: two shuffles on the bag keys (spine bounds agg, window); no
driver round trip, no Python. Works unchanged for millions of bags at
100 TB because the spine is generated executor-side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.timeseries import resample_asof


def synchronize_topics(topic_dfs: dict[str, DataFrame], keys: list[str],
                       time_col: str = "Time", step: float = 0.1,
                       as_json: bool = False) -> DataFrame:
    """Synchronize per-topic streams onto a regular ``step`` grid per key
    group, forward-filling each topic's latest payload — the whole sync
    job (synchronize_topics.py:200-223) as one composable transform.

    Each topic's non-key columns become one payload column named after
    the topic: ``struct(<data cols>)``, or its ``to_json`` string with
    ``as_json`` (the reference's ``create_json_payload``,
    synchronize_topics.py:93-98). The narrow per-topic frames are
    unioned by name — a topic's column is null on other topics' rows —
    and handed to :func:`resample_asof`, so each output column carries
    exactly its own topic's type.

    Output: ``keys + [time_col] + sorted(topics)``, one row per
    (keys, tick).

    Ties: a sample exactly on a tick is visible at that tick. When one
    topic has two samples at the same instant, one of them is kept
    arbitrarily — the reference's post-shuffle ``first()``
    (synchronize_topics.py:177) is equally unordered."""
    topics = sorted(topic_dfs)

    def payload(t: str) -> DataFrame:
        df = topic_dfs[t]
        p = F.struct(*[c for c in df.columns if c not in set(keys) | {time_col}])
        return df.select(*keys, time_col, (F.to_json(p) if as_json else p).alias(t))

    signals = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                     [payload(t) for t in topics])
    return resample_asof(signals, keys, time_col, step, topics)
