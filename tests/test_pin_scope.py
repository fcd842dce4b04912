"""No inner step of a near-dup front door may drop the call's own pins.

Each collapsing front door releases the previous call's pins once, at its
top, and then pins its own intermediates (the collapse, the parallel
text/shingle cuts, the candidate table). Every pin registered while the
result is built must still be cached when construction returns: a release
buried in a shared helper would unpersist the collapse mid-query, and the
result would silently recompute the window per expansion branch.
"""

from __future__ import annotations

import pytest

from m12_kafkastreams_python_azure_spark.operators import api, dedup, multimodal
from m12_kafkastreams_python_azure_spark.sources import readers
from m12_kafkastreams_python_azure_spark.sources.readers import load_table


class _RecordingRegistry(list):
    """The pin registry, remembering every DataFrame ever appended."""

    def __init__(self) -> None:
        super().__init__()
        self.seen: list = []

    def append(self, df) -> None:
        self.seen.append(df)
        super().append(df)


FRONT_DOORS = {
    "minhash": ("documents", dedup.minhash_near_dup_pairs),
    "simhash": ("documents", dedup.simhash_near_dup_pairs),
    "embedding_lsh": ("embeddings", api.embedding_near_dup_lsh),
    "phash": ("documents", multimodal.phash_near_dup),
}


@pytest.mark.parametrize("name", sorted(FRONT_DOORS))
def test_front_door_keeps_its_own_pins(spark, sf_dir, monkeypatch, name):
    table, front_door = FRONT_DOORS[name]
    inp = load_table(spark, sf_dir, table)
    if name == "phash":
        inp = multimodal.media_with_planted_near_dups(inp)
    registry = _RecordingRegistry()
    monkeypatch.setattr(readers, "_CACHED", registry)
    try:
        front_door(inp)
        dropped = [i for i, df in enumerate(registry.seen) if not df.is_cached]
    finally:
        readers.release_parallel_caches()
    assert registry.seen, f"{name} registered no pin"
    assert not dropped, f"{name}: pins {dropped} of {len(registry.seen)} dropped"
