"""Incremental connected components: per-batch parity with the batch
operator, cross-batch merges, alias flatness (one-hop resolution),
replay idempotence, append-only label deltas."""

import os

import pytest

from cdc_connector_spark.ops.components import connected_components
from cdc_connector_spark.streaming.components import IncrementalComponents

SCHEMA = "id_a long, id_b long"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, SCHEMA)


def _full(spark, pairs):
    return {
        (r["id"], r["comp"])
        for r in connected_components(_edges(spark, pairs)).collect()
    }


def _got(spark, mon):
    return {(r["id"], r["comp"]) for r in mon.components(spark).collect()}


BATCHES = [
    # b0: two separate components {1,2,3} and {10,11}
    [(1, 2), (2, 3), (10, 11)],
    # b1: new component {20,21}; extend {10,11} with 12
    [(20, 21), (11, 12)],
    # b2: MERGE the two big components (3-10) and add isolated pair
    [(3, 10), (30, 31)],
    # b3: merge across everything (31-20) plus a duplicate edge replay
    [(31, 20), (1, 2)],
]


def test_incremental_matches_batch_recompute_every_batch(spark, tmp_path):
    mon = IncrementalComponents(state_dir=str(tmp_path / "s"))
    seen = []
    for i, b in enumerate(BATCHES):
        seen += b
        mon.process_batch(_edges(spark, b), i)
        assert _got(spark, mon) == _full(spark, seen), f"batch {i}"


def test_alias_stays_flat_one_hop(spark, tmp_path):
    mon = IncrementalComponents(state_dir=str(tmp_path / "s"))
    for i, b in enumerate(BATCHES):
        mon.process_batch(_edges(spark, b), i)
        alias = mon._alias(spark, mon.committed_batch_ids())
        keys = {r["comp"] for r in alias.collect()}
        canons = {r["canon"] for r in alias.collect()}
        assert not (keys & canons), f"alias not flat at batch {i}"


def test_replay_and_crash_window(spark, tmp_path):
    mon = IncrementalComponents(state_dir=str(tmp_path / "s"))
    for i, b in enumerate(BATCHES[:3]):
        mon.process_batch(_edges(spark, b), i)
    before = _got(spark, mon)
    # committed replay short-circuits
    mon.process_batch(_edges(spark, BATCHES[2]), 2)
    assert _got(spark, mon) == before
    # crash window: marker lost after write -> rerun converges
    os.remove(mon.committer.marker(2))
    mon.process_batch(_edges(spark, BATCHES[2]), 2)
    assert _got(spark, mon) == before


def test_label_deltas_are_append_only(spark, tmp_path):
    """A node's label row is written once, at first sight — later merges
    go through the alias, never a label rewrite."""
    mon = IncrementalComponents(state_dir=str(tmp_path / "s"))
    for i, b in enumerate(BATCHES):
        mon.process_batch(_edges(spark, b), i)
    per_batch = {}
    for i in range(len(BATCHES)):
        d = mon.committer.dir("labels", i)
        rows = spark.read.parquet(d).collect() if os.path.isdir(d) else []
        per_batch[i] = {r["id"] for r in rows}
    # batch 3 introduced no new nodes
    assert per_batch[3] == set()
    # no node appears in two deltas
    all_ids = [i for s in per_batch.values() for i in s]
    assert len(all_ids) == len(set(all_ids))


def test_streaming_wiring_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    for i, b in enumerate(BATCHES[:2]):
        _edges(spark, b).repartition(1).write.parquet(os.path.join(src, f"f{i}"))
    mon = IncrementalComponents(state_dir=str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = mon.start(stream, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    assert len(mon.committed_batch_ids()) == 2
    assert _got(spark, mon) == _full(spark, BATCHES[0] + BATCHES[1])
