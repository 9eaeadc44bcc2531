"""Crash injection for the exactly-once commit of every ``foreachBatch``
applier, driven only through the on-disk state layout.

Two crash points per applier, both at batch ``CRASH_AT``:

- ``before_marker``: the batch's state landed but its marker did not —
  remove the marker, then replay the batch;
- ``before_prune``: the marker landed but pruning of superseded
  snapshots did not — put back what the batch pruned, then run the next
  batch.

Either way the run must end equal to a clean run of the same batches:
the same readout and the same top-level state listing (so a left-over
snapshot is pruned by the next commit)."""

from __future__ import annotations

import os
import shutil
from typing import Callable, NamedTuple

import numpy as np
import pytest

from pyspark.sql import functions as F

from cdc_connector_spark.changelog.txlog import TxLogMergeSink
from cdc_connector_spark.ops.textstats import build_vocab
from cdc_connector_spark.streaming.cms import StreamingCMS
from cdc_connector_spark.streaming.components import IncrementalComponents
from cdc_connector_spark.streaming.dedup import StreamingCorpusDedup, StreamingSemanticDedup
from cdc_connector_spark.streaming.drift import StreamingDriftMonitor
from cdc_connector_spark.streaming.export import StreamingTrainingExport
from cdc_connector_spark.streaming.gaps import StreamingGapMonitor
from cdc_connector_spark.streaming.hll import StreamingHLL
from cdc_connector_spark.streaming.ivm import StreamingJoinView
from cdc_connector_spark.streaming.kmv import StreamingKMV
from cdc_connector_spark.streaming.lateness import StreamingLateness
from cdc_connector_spark.streaming.profile import StreamingColumnProfile

CRASH_AT = 2  # the first batch whose commit prunes (batch 0's snapshot)
N_BATCHES = 4


def _rows(df) -> list[tuple]:
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _committed_marker(root: str) -> Callable[[int], str]:
    return lambda k: os.path.join(root, "_committed", str(k))


class Applier(NamedTuple):
    """``process(df, batch_id)``, the state root, a readout of the query
    surface, and the path of batch k's marker."""

    process: Callable
    root: str
    readout: Callable[[], list]
    marker: Callable[[int], str]


class Case(NamedTuple):
    make: Callable  # (spark, dir) -> Applier
    batch: Callable  # (spark, i) -> DataFrame
    prunes: bool  # does a commit delete superseded snapshots?


# -- the twelve appliers ------------------------------------------------------


def _cms(spark, d):
    m = StreamingCMS(d, key_col="k", depth=3, width=16)
    return Applier(m.process_batch, d, lambda: _rows(m.counters(spark)), _committed_marker(d))


def _hll(spark, d):
    m = StreamingHLL(d, key_col="k", group_col="g", p=4)
    return Applier(m.process_batch, d, lambda: _rows(m.registers(spark)), _committed_marker(d))


def _kmv(spark, d):
    m = StreamingKMV(d, key_col="k", group_col="g", k=4)
    return Applier(m.process_batch, d, lambda: _rows(m.sketch(spark)), _committed_marker(d))


def _keys(spark, i):
    return spark.createDataFrame(
        [(f"k{(3 * i + j) % 11}", f"g{j % 2}") for j in range(6)], "k string, g string"
    )


def _drift(spark, d):
    m = StreamingDriftMonitor(d, "v", lo=0.0, hi=10.0, bins=5)
    m.set_reference(spark.createDataFrame([(float(v),) for v in range(10)], "v double"))
    return Applier(
        m.process_batch,
        d,
        lambda: _rows(m.histogram(spark)) + _rows(m.psi(spark)),
        _committed_marker(d),
    )


def _drift_batch(spark, i):
    return spark.createDataFrame([(float(i + j),) for j in range(5)], "v double")


def _gaps(spark, d):
    m = StreamingGapMonitor(d, id_col="seq", group_col="part")
    return Applier(
        m.process_batch, d, lambda: _rows(m.islands(spark)) + _rows(m.holes(spark)),
        _committed_marker(d),
    )


def _gaps_batch(spark, i):
    # each batch leaves a hole; batch 3 also fills batch 0's hole late
    ids = [10 * i + j for j in (0, 1, 4)] + ([2, 3] if i == 3 else [])
    return spark.createDataFrame([("p0", s) for s in ids], "part string, seq bigint")


def _profile(spark, d):
    m = StreamingColumnProfile(d, cols=["k", "x"], p=7)
    return Applier(m.process_batch, d, lambda: _rows(m.profile(spark)), _committed_marker(d))


def _profile_batch(spark, i):
    return spark.createDataFrame(
        [(10 * i + j, None if j == 0 else float(j)) for j in range(5)], "k bigint, x double"
    )


def _lateness(spark, d):
    m = StreamingLateness(d, candidate_minutes=(1, 5))
    return Applier(m.process_batch, d, lambda: _rows(m.report(spark)), _committed_marker(d))


def _lateness_batch(spark, i):
    rows = [
        (f"2024-01-01 0{i}:{50 - 3 * j:02d}:00", f"2024-01-01 0{i}:50:00", t)
        for j, t in enumerate(["click", "click", "view"])
    ]
    return spark.createDataFrame(rows, "ts_s string, in_s string, event_type string").select(
        F.to_timestamp("ts_s").alias("ts"),
        F.to_timestamp("in_s").alias("ingest_ts"),
        "event_type",
    )


def _components(spark, d):
    m = IncrementalComponents(d)
    return Applier(m.process_batch, d, lambda: _rows(m.components(spark)), _committed_marker(d))


_EDGES = [[(1, 2), (10, 11)], [(2, 10), (20, 21)], [(3, 10), (30, 31)], [(31, 20), (1, 2)]]


def _components_batch(spark, i):
    return spark.createDataFrame(_EDGES[i], "id_a long, id_b long")


_DOCS = [
    [(1, "alpha beta gamma"), (2, "beta delta")],
    [(3, "gamma gamma alpha"), (4, "")],
    [(5, "delta alpha beta beta"), (6, "epsilon")],
    [(7, "zeta alpha"), (8, "beta")],
]


def _export(spark, d):
    vocab = build_vocab(
        spark.createDataFrame([r for b in _DOCS for r in b], "doc_id bigint, text string"),
        min_count=1,
    )
    m = StreamingTrainingExport(spark, d, vocab=vocab, n_shards=2)
    return Applier(m.process_batch, d, lambda: _rows(m.exported()), _committed_marker(d))


def _export_batch(spark, i):
    return spark.createDataFrame(_DOCS[i], "doc_id bigint, text string")


_IVM_A = "o_id bigint, cust_id bigint, status string, " + (
    "__op string, __ts_ms bigint, __source_db string, __source_table string, __seq bigint"
)


def _ivm(spark, d):
    a = TxLogMergeSink(spark, os.path.join(d, "a_sink"), ["o_id"], num_buckets=2)
    b = TxLogMergeSink(spark, os.path.join(d, "b_sink"), ["cust_id"], num_buckets=2)
    v = TxLogMergeSink(spark, os.path.join(d, "v_sink"), ["o_id", "cust_id"], num_buckets=2)
    a.overwrite(spark.createDataFrame([(1, 100, "A")], "o_id bigint, cust_id bigint, status string"))
    b.overwrite(
        spark.createDataFrame([(100, "alice"), (200, "bob")], "cust_id bigint, name string")
    )
    v.overwrite(a.read().join(b.read(), "cust_id"))
    root = os.path.join(d, "markers")
    jv = StreamingJoinView(a, b, v, on=["cust_id"], a_pk=["o_id"], b_pk=["cust_id"], marker_dir=root)

    def marker(k):
        # side A's marker: per-side committer layout, or the flat
        # ``a-<k>`` file the join view wrote before it had a committer
        nested = os.path.join(root, "a", "_committed", str(k))
        return nested if os.path.exists(nested) else os.path.join(root, f"a-{k}")

    cols = ["o_id", "cust_id", "status", "name"]
    return Applier(jv.process_a_batch, root, lambda: _rows(jv.view().select(*cols)), marker)


def _ivm_batch(spark, i):
    rows = [
        [(2, 200, "B", "c", 10, "db", "t", 1)],
        [(1, 200, "A2", "u", 20, "db", "t", 1), (3, 100, "C", "c", 20, "db", "t", 2)],
        [(2, None, None, "d", 30, "db", "t", 1)],
        [(4, 100, "D", "c", 40, "db", "t", 1), (3, 200, "C", "u", 40, "db", "t", 2)],
    ][i]
    return spark.createDataFrame(rows, _IVM_A)


_TEXT = [
    "the quick brown fox jumps over the lazy dog while seventeen sleepy badgers watch",
    "distributed query engines and the cost model of shuffle exchanges in plans",
    "tidal patterns in estuaries and the migratory habits of arctic terns overhead",
    "a short history of lighthouse keeping along the rocky northern coastline",
]


def _dedup(spark, d):
    m = StreamingCorpusDedup(os.path.join(d, "index"), os.path.join(d, "out"))
    return Applier(
        m.process_batch,
        m.out_dir,
        lambda: _rows(m.accepted(spark)),
        _committed_marker(m.out_dir),
    )


def _dedup_batch(spark, i):
    # a novel doc, a near-dup of the previous batch's novel doc, and an
    # exact in-batch dup
    rows = [(10 * i + 1, _TEXT[i]), (10 * i + 2, _TEXT[i])]
    if i:
        rows.append((10 * i + 3, _TEXT[i - 1].replace("the", "a", 1)))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


_VECS = np.random.default_rng(7).normal(0, 1, (4, 8))


def _semdedup(spark, d):
    m = StreamingSemanticDedup(
        os.path.join(d, "index"), os.path.join(d, "out"), k=2, iters=2, threshold=0.98
    )
    return Applier(
        m.process_batch,
        m.out_dir,
        lambda: _rows(m.accepted(spark)),
        _committed_marker(m.out_dir),
    )


def _semdedup_batch(spark, i):
    rows = [(10 * i + 1, _VECS[i]), (10 * i + 2, _VECS[i] * 1.001)]
    if i:
        rows.append((10 * i + 3, _VECS[i - 1] + 0.001))
    return spark.createDataFrame(
        [(int(k), [float(x) for x in v]) for k, v in rows],
        "vec_id bigint, embedding array<float>",
    )


CASES = {
    "cms": Case(_cms, _keys, True),
    "hll": Case(_hll, _keys, True),
    "kmv": Case(_kmv, _keys, True),
    "drift": Case(_drift, _drift_batch, True),
    "gaps": Case(_gaps, _gaps_batch, True),
    "profile": Case(_profile, _profile_batch, True),
    "lateness": Case(_lateness, _lateness_batch, True),
    "components": Case(_components, _components_batch, True),
    "export": Case(_export, _export_batch, False),
    "ivm": Case(_ivm, _ivm_batch, False),
    "dedup": Case(_dedup, _dedup_batch, False),
    "semdedup": Case(_semdedup, _semdedup_batch, False),
}


def _end_state(a: Applier):
    return a.readout(), sorted(os.listdir(a.root))


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """The uninterrupted run of each applier's batches, computed once."""
    cache = {}

    def get(name):
        if name not in cache:
            case = CASES[name]
            a = case.make(spark, str(tmp_path_factory.mktemp(f"clean_{name}")))
            for i in range(N_BATCHES):
                a.process(case.batch(spark, i), i)
            cache[name] = _end_state(a)
        return cache[name]

    return get


@pytest.mark.parametrize("crash", ["before_marker", "before_prune"])
@pytest.mark.parametrize("name", list(CASES))
def test_crash_then_recovery_equals_clean_run(spark, tmp_path, clean_run, name, crash):
    case = CASES[name]
    a = case.make(spark, str(tmp_path / "run"))
    for i in range(CRASH_AT):
        a.process(case.batch(spark, i), i)
    crashed = case.batch(spark, CRASH_AT)
    if crash == "before_marker":
        a.process(crashed, CRASH_AT)
        os.remove(a.marker(CRASH_AT))
        a.process(crashed, CRASH_AT)  # the replay: state written, not committed
    else:
        saved = str(tmp_path / "saved")
        shutil.copytree(a.root, saved)
        a.process(crashed, CRASH_AT)
        assert os.path.exists(a.marker(CRASH_AT))
        pruned = [n for n in os.listdir(saved) if not os.path.exists(os.path.join(a.root, n))]
        assert bool(pruned) == case.prunes, pruned
        for n in pruned:  # as if the commit died before pruning
            shutil.copytree(os.path.join(saved, n), os.path.join(a.root, n))
    for i in range(CRASH_AT + 1, N_BATCHES):
        a.process(case.batch(spark, i), i)
    assert _end_state(a) == clean_run(name)
