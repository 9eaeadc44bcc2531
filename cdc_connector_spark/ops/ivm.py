"""Incremental JOIN view maintenance — the join half of the IVM story
(``ops/rollup.py`` maintains aggregates; this maintains a materialized
equi-join).

Problem shape: a materialized view V = A ⋈ B over two PK-keyed tables fed
by changelog batches. Recomputing V per batch re-joins the full tables —
O(|A|+|B|) per trigger, unusable at 100 TB. The standard delta rule for
PK-keyed inputs: only view rows involving a CHANGED key can change, so

    V' = (V minus rows touching changed keys)
         ∪ (ΔA_live ⋈ B')                 -- changed A rows vs the NEW B
         ∪ ((A' minus changed keys) ⋈ ΔB_live)  -- unchanged A vs changed B

The three parts are disjoint by construction (partitioned on "does the
row's A-side key appear in ΔA"), deletes fall out for free (a deleted row
is simply absent from A'/ΔA_live), and per-batch cost is O(|Δ| · match
fan-out) + an anti-join against V — never a full A ⋈ B.

State/persistence is the CALLER's concern (the merge sinks already
materialize A' and B'; pair this with ``TxLogMergeSink.scan(keys=...)``
to make the ``ΔA ⋈ B'`` probe a bucket-pruned read instead of a full
scan). This module is pure DataFrame algebra, proved equal to the full
recompute by the parity tests.

Correctness contract: ``a_new``/``b_new`` are the POST-apply table
states; ``changed_a`` / ``changed_b`` are the DISTINCT PK sets touched by
the batch (upserts AND deletes — the before-key of a delete counts as
touched). Join keys may differ from PKs (the classic orders ⋈ customer
case: PK o_orderkey, join key o_custkey).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_view_update(
    view: DataFrame | None,
    a_new: DataFrame,
    b_new: DataFrame,
    changed_a: DataFrame,
    changed_b: DataFrame,
    on: list[str],
    a_pk: list[str],
    b_pk: list[str],
) -> DataFrame:
    """Next state of the materialized inner equi-join view.

    ``view=None`` bootstraps with the full join (an EMPTY DataFrame is
    NOT a bootstrap signal — it is taken at face value as "the view has
    no rows", and with empty change sets stays empty). ``changed_a``
    / ``changed_b`` carry exactly the PK columns (extra columns are
    ignored). Column layout of the view: join keys once, then the
    remaining A columns, then the remaining B columns — same as
    ``a_new.join(b_new, on)``."""
    ca = changed_a.select(*[F.col(c) for c in a_pk]).distinct()
    cb = changed_b.select(*[F.col(c) for c in b_pk]).distinct()
    if view is None:
        return a_new.join(b_new, on)
    untouched = view.join(ca, a_pk, "left_anti").join(cb, b_pk, "left_anti")
    delta_a_live = a_new.join(ca, a_pk, "left_semi")
    a_unchanged = a_new.join(ca, a_pk, "left_anti")
    delta_b_live = b_new.join(cb, b_pk, "left_semi")
    part1 = delta_a_live.join(b_new, on)
    part2 = a_unchanged.join(delta_b_live, on)
    return untouched.unionByName(part1).unionByName(part2)


def changed_keys(delta: DataFrame, pk: list[str]) -> DataFrame:
    """Distinct touched PKs of a flattened changelog batch — upserts and
    deletes alike (both mean 'every view row with this key is stale')."""
    return delta.select(*[F.col(c) for c in pk]).distinct()
