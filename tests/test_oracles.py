"""The correctness gate: every ``queries()`` entry value-checked against its
``oracle_sql()`` twin on DuckDB over the same sf0.001 parquet tables, with
ANSI mode on, as a default Spark 4 session runs it. The comparison is
``tools/check_oracle.py::problems`` (row count, column names, order-
insensitive value hash). ``SPARK_GRAFT_TEST_SF_DIR`` runs it at another
scale (``make oracle``: sf0.01).

The two persisted-layout IVF probes have no oracle by design (pruned recall
< 1 is their semantics). They still run here, with their in-entry recall
floor active, and their value-verified twins ``ivf_recall_topk`` /
``ivf_batch_recall_topk`` pin the matched counts per fixture.
"""

import re
import sys

import pytest

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from tools.check_oracle import oracle_connection, problems

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()
ROWS_ONLY = {"ivf_ann_topk", "ivf_ann_topk_batch"}


@pytest.fixture(scope="module")
def ansi_spark(spark):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_oracle(name, ansi_spark, duck, sf_dir, monkeypatch):
    # bench.py alone skips the IVF recall floor; here it must raise
    monkeypatch.delenv("SPARK_GRAFT_SKIP_RECALL_GATE", raising=False)
    got = QUERIES[name](ansi_spark, sf_dir).toPandas()
    if name in ROWS_ONLY:
        assert len(got) > 0
        return
    found = problems(got, duck.execute(ORACLES[name]).fetchdf())
    assert not found, "\n".join(found)


def test_oracle_surface_and_docs():
    """Spark-free: the rows-only set is exactly the two IVF probes and
    they come last (a consumer that checks only a prefix of ``queries()``
    sees value-checked entries), every oracle names an entry, PLANS.md has
    a row per entry, and no COVERAGE.md ``q:NAME (rows-only)`` tag names
    an entry that has an oracle."""
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY
    assert set(list(QUERIES)[-len(ROWS_ONLY):]) == ROWS_ONLY
    assert set(ORACLES) <= set(QUERIES)
    plans = open("PLANS.md").read()
    assert [q for q in QUERIES if f"| {q} |" not in plans] == []
    cov = open("COVERAGE.md").read()
    assert [q for q in re.findall(r"q:(\w+) \(rows-only\)", cov) if q in ORACLES] == []
