"""ops/fuzzy.py — blocked fuzzy matching (token/q-gram blocking +
Levenshtein verify)."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from cdc_connector_spark.ops.fuzzy import fuzzy_pairs


def test_fuzzy_pairs_token_blocking(spark):
    df = spark.createDataFrame(
        [
            (1, "Acme Widgets Inc"),
            (2, "acme  widgets inc"),     # case/whitespace only -> dist 0
            (3, "Acme Widgets Incc"),     # one insertion -> dist 1
            (4, "Acme Gizmos Inc"),       # widgets->gizmos = dist 5
            (5, "Globex Corporation"),
        ],
        "id bigint, name string",
    )
    got = {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_pairs(df, max_dist=2).collect()}
    assert got[(1, 2)] == 0
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1
    assert (1, 4) not in got  # dist 5 > budget
    assert all(5 not in p for p in got)
    # widening the budget admits the gizmos variant (shared tokens block it)
    got5 = {(r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_pairs(df, max_dist=5).collect()}
    assert got5[(1, 4)] == 5


def test_fuzzy_pairs_qgram_blocking_catches_all_edited_tokens(spark):
    """Every token edited: token blocking is blind, q-gram blocking finds
    the pair (shared unedited character runs)."""
    df = spark.createDataFrame(
        [(1, "jonathon smythe"), (2, "jonathan smythee")],
        "id bigint, name string",
    )
    token = fuzzy_pairs(df, max_dist=3, block="token").collect()
    assert token == []  # both tokens differ -> no shared word
    qg = {(r["id_a"], r["id_b"]): r["dist"]
          for r in fuzzy_pairs(df, max_dist=3, block="qgram").collect()}
    assert qg == {(1, 2): 2}


def test_fuzzy_pairs_hot_token_cap_and_guards(spark):
    rows = [(i, f"unique{i} inc") for i in range(10)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    # "inc" blocks everything -> C(10,2) candidates, all verify-rejected
    # anyway, but the cap removes the block key up front
    assert fuzzy_pairs(df, max_dist=1, max_token_freq=5).collect() == []
    with pytest.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, max_dist=-1)
    with pytest.raises(ValueError, match="block"):
        fuzzy_pairs(df, block="soundex")


def test_fuzzy_dropped_keys_and_coverage_audit(spark):
    """The cap audit (r11, from the SCALING 4o finding): dropped keys
    surface largest-first, and orphaned records — every key dropped —
    are exactly the ones fuzzy_pairs is structurally blind to."""
    from cdc_connector_spark.ops.fuzzy import (
        fuzzy_blocking_coverage,
        fuzzy_dropped_keys,
    )

    # "inc" appears in all 10 names; "corp" in 3; unique tokens elsewhere
    rows = [(i, f"unique{i} inc") for i in range(7)] + [
        (7, "alpha corp inc"),
        (8, "beta corp inc"),
        (9, "gamma corp inc"),
    ]
    df = spark.createDataFrame(rows, "id bigint, name string")
    dropped = fuzzy_dropped_keys(df, max_token_freq=5).collect()
    assert [(r["key"], r["n_records"]) for r in dropped] == [("inc", 10)]
    # cap 2 drops "inc" AND "corp": rows 7-9 keep their unique first
    # token; nothing is orphaned yet
    [cov] = fuzzy_blocking_coverage(df, max_token_freq=2).collect()
    assert (cov["records"], cov["orphaned_records"]) == (10, 0)
    # a name made ONLY of hot tokens is orphaned and the audit says so
    df2 = df.union(spark.createDataFrame([(10, "inc")], "id bigint, name string"))
    [cov2] = fuzzy_blocking_coverage(df2, max_token_freq=5).collect()
    assert cov2["orphaned_records"] == 1
    assert cov2["orphaned_share"] == round(1 / 11, 6)
    # the orphan really is invisible to the matcher at the same cap
    pairs = fuzzy_pairs(df2, max_dist=1, max_token_freq=5).collect()
    assert all(10 not in (p["id_a"], p["id_b"]) for p in pairs)


def test_fuzzy_extra_block_cols_equals_posthoc_gate(spark):
    """extra_block_cols semantics (r15 revision of the r11 identity):
    since the frequency cap counts the FULL join key (gram + attrs), a
    gated run under cap pressure keeps STRICTLY MORE true pairs than
    plain ∩ gate (the 100× rehearsal showed the old global-per-gram cap
    collapsing gated recall to zero). Pins: (a) gated == the brute-force
    equal-attr pair set when no per-cell posting exceeds the cap even
    though grams are GLOBALLY hot; (b) gated ⊇ plain ∩ gate always;
    (c) with the cap slack, gated == plain ∩ gate (the r11 identity
    survives when the cap does not bind)."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(120):
        base = f"name{rng.randint(0, 30):03d}"
        # random single-char edits create true near pairs across groups
        s = list(base)
        if rng.random() < 0.5:
            s[rng.randrange(len(s))] = rng.choice("abcxyz")
        rows.append((i, "".join(s), rng.randint(0, 2), rng.choice(["A", "B"])))
    df = spark.createDataFrame(rows, "id bigint, name string, nat int, seg string")
    attrs = {r["id"]: (r["nat"], r["seg"]) for r in df.collect()}
    # ground truth: brute-force equal-attr pairs at dist <= 1 (names are
    # 7 chars >= q*(d+1)=6, so qgram blocking is complete)
    brute = _brute_pairs([(r["id"], r["name"]) for r in df.collect()], 1)
    want_true = sorted(
        (a, b, d) for (a, b), d in brute.items() if attrs[a] == attrs[b]
    )
    # cap=50 binds GLOBALLY ("nam"/"ame" appear ~120x) but no
    # (gram, nat, seg) cell exceeds it -> full recall under the r15 rule
    gated = fuzzy_pairs(
        df, max_dist=1, block="qgram", max_token_freq=50,
        extra_block_cols=("nat", "seg"),
    )
    got = sorted((p["id_a"], p["id_b"], p["dist"]) for p in gated.collect())
    assert got == want_true and len(want_true) > 0
    # plain run at the same cap loses pairs (global grams hot) — gated
    # must be a superset of plain ∩ gate
    plain = fuzzy_pairs(df, max_dist=1, block="qgram", max_token_freq=50)
    plain_gate = sorted(
        (p["id_a"], p["id_b"], p["dist"])
        for p in plain.collect()
        if attrs[p["id_a"]] == attrs[p["id_b"]]
    )
    assert set(plain_gate) <= set(got)
    # slack cap: the r11 identity holds when nothing is hot either way
    plain_hi = fuzzy_pairs(df, max_dist=1, block="qgram", max_token_freq=10_000)
    want_id = sorted(
        (p["id_a"], p["id_b"], p["dist"])
        for p in plain_hi.collect()
        if attrs[p["id_a"]] == attrs[p["id_b"]]
    )
    gated_hi = fuzzy_pairs(
        df, max_dist=1, block="qgram", max_token_freq=10_000,
        extra_block_cols=("nat", "seg"),
    )
    assert sorted((p["id_a"], p["id_b"], p["dist"]) for p in gated_hi.collect()) == want_id
    # NULL attributes match nothing (the SQL gate convention)
    df_null = df.withColumn(
        "nat", F.when(F.col("id") < 60, None).otherwise(F.col("nat"))
    )
    gated_null = fuzzy_pairs(
        df_null, max_dist=1, block="qgram", max_token_freq=50,
        extra_block_cols=("nat", "seg"),
    ).collect()
    assert all(p["id_a"] >= 60 and p["id_b"] >= 60 for p in gated_null)


def _brute_pairs(rows, max_dist):
    """Exact all-pairs reference: normalized-name Levenshtein."""
    import re

    def norm(s):
        return re.sub(r"\s+", " ", (s or "").strip().lower())

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    out = {}
    norms = [(i, norm(s)) for i, s in rows if norm(s or "") != ""]
    for x in range(len(norms)):
        for y in range(x + 1, len(norms)):
            (ia, sa), (ib, sb) = norms[x], norms[y]
            lo, hi = (ia, ib) if ia < ib else (ib, ia)
            d = lev(sa, sb)
            if d <= max_dist:
                out[(lo, hi)] = d
    return out


def test_prefix_selection_lossless_where_cap_over_binds(spark):
    """The r12 recall-preserving mode (Ed-Join prefix filtering) on the
    exact corpus shape that killed cap mode in SCALING §4o: uniform
    synthetic keys where EVERY shared gram is hot. A low cap drops all
    discriminative grams (0 pairs); prefix mode keeps each record's
    q·d+1 rarest grams and must equal brute force exactly."""
    import random

    rng = random.Random(7)
    # names over a 2-letter alphabet: only 8 possible 3-grams, every one
    # of them hot (doc freq >> cap) -> cap mode drops ALL blocking keys
    rows = [(i, "".join(rng.choice("ab") for _ in range(10))) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    capped = fuzzy_pairs(df, max_dist=1, block="qgram", max_token_freq=10).collect()
    assert capped == []
    want = _brute_pairs(rows, 1)
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(df, max_dist=1, block="qgram", selection="prefix").collect()
    }
    assert got == want and len(want) > 0


def test_prefix_selection_superset_of_cap_and_brute_parity(spark):
    """Randomized parity: prefix mode equals brute force (lossless) and
    is a superset of cap mode at ANY cap, for both block shapes and
    several edit budgets."""
    import random

    rng = random.Random(12)
    rows = []
    for i in range(150):
        base = f"vendor {rng.randint(0, 40):03d} inc"
        s = list(base)
        for _ in range(rng.randrange(3)):
            s[rng.randrange(len(s))] = rng.choice("abcdefxyz ")
        rows.append((i, "".join(s)))
    df = spark.createDataFrame(rows, "id bigint, name string")
    for block, d in (("qgram", 1), ("qgram", 2), ("token", 2)):
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_pairs(
                df, max_dist=d, block=block, selection="prefix"
            ).collect()
        }
        if block == "qgram":
            assert got == _brute_pairs(rows, d)
        for cap in (5, 30, 10**6):
            capped = {
                (r["id_a"], r["id_b"]): r["dist"]
                for r in fuzzy_pairs(
                    df, max_dist=d, block=block, max_token_freq=cap
                ).collect()
            }
            assert set(capped) <= set(got)
            assert all(got[k] == v for k, v in capped.items())


def test_prefix_selection_with_attribute_gate_and_guards(spark):
    """Gated prefix blocking keeps the identity (= plain prefix ∩
    attribute equality), frequencies stay global (shared order), and
    the hotspots audit prices the posting lists."""
    from cdc_connector_spark.ops.fuzzy import fuzzy_prefix_hotspots

    rows = [(i, f"acct#{i % 20:05d}", i % 2) for i in range(80)]
    df = spark.createDataFrame(rows, "id bigint, name string, grp int")
    plain = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(
            df, max_dist=1, block="qgram", selection="prefix"
        ).collect()
    }
    grp = {r["id"]: r["grp"] for r in df.collect()}
    want = {k: v for k, v in plain.items() if grp[k[0]] == grp[k[1]]}
    gated = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(
            df, max_dist=1, block="qgram", selection="prefix",
            extra_block_cols=("grp",),
        ).collect()
    }
    assert gated == want and len(want) > 0
    hot = fuzzy_prefix_hotspots(df, max_dist=1, block="qgram", top_k=5).collect()
    assert len(hot) == 5
    assert hot[0]["n_records"] >= hot[-1]["n_records"]
    # every posting list is bounded by the corpus (sanity) and positive
    assert all(1 <= r["n_records"] <= 80 for r in hot)
    with pytest.raises(ValueError, match="selection"):
        fuzzy_pairs(df, selection="topk")


def test_delete_blocking_lossless_and_linear_shape(spark):
    """block="delete" (SymSpell deletion neighborhoods): exact equality
    with brute force at d=1 AND d=2 on a corpus with random edits
    including spaces; and on the uniform-key shape its posting lists
    stay alphabet-bounded (the property that keeps it ~linear where
    prefix mode's candidates grow quadratically — SCALING §4p)."""
    import random

    rng = random.Random(21)
    rows = []
    for i in range(140):
        base = f"client {rng.randint(0, 35):04d} ltd"
        s = list(base)
        for _ in range(rng.randrange(3)):
            op = rng.randrange(3)
            p = rng.randrange(len(s))
            if op == 0:
                s[p] = rng.choice("abcx y")
            elif op == 1 and len(s) > 4:
                del s[p]
            else:
                s.insert(p, rng.choice("qz "))
        rows.append((i, "".join(s)))
    df = spark.createDataFrame(rows, "id bigint, name string")
    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_pairs(df, max_dist=d, block="delete").collect()
        }
        assert got == _brute_pairs(rows, d), f"d={d}"
    # uniform keys: every posting list is a one-edit family, not corpus
    from cdc_connector_spark.ops.fuzzy import _blocking_index

    uni = spark.createDataFrame(
        [(i, f"customer#{i:09d}") for i in range(500)], "id bigint, name string"
    )
    inv = _blocking_index(uni, "name", "id", "delete", 3, max_dist=1)
    top = (
        inv.groupBy("__k").count().orderBy(F.col("count").desc()).limit(1).collect()
    )
    # bound = the one-edit family that maps onto the key (≤ ~len·|Σ|
    # strings and only those PRESENT in the corpus) — independent of
    # corpus size, unlike qgram postings which grow ∝ N on these names
    assert top[0]["count"] <= 40


def test_delete_blocking_guards_and_gate(spark):
    """delete-mode guards (d ≤ 2, no prefix composition) and the
    attribute gate identity carries over."""
    df = spark.createDataFrame(
        [(1, "abc", 0), (2, "abd", 0), (3, "abe", 1)],
        "id bigint, name string, grp int",
    )
    with pytest.raises(ValueError, match="max_dist <= 2"):
        fuzzy_pairs(df, max_dist=3, block="delete")
    with pytest.raises(ValueError, match="does not compose"):
        fuzzy_pairs(df, max_dist=1, block="delete", selection="prefix")
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(
            df, max_dist=1, block="delete", extra_block_cols=("grp",)
        ).collect()
    }
    assert got == {(1, 2)}  # (1,3)/(2,3) gated out by grp


def test_prefix_selection_max_dist_zero_and_short_strings(spark):
    """d=0 keeps ONE gram per record (the globally rarest under the
    (freq, key) order — identical strings keep the same one, so exact
    duplicates still pair); strings shorter than the gram width key on
    their full text and still match."""
    rows = [(1, "zz"), (2, "zz"), (3, "same name"), (4, "same name"), (5, "other")]
    df = spark.createDataFrame(rows, "id bigint, name string")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(df, max_dist=0, block="qgram", selection="prefix").collect()
    }
    assert got == {(1, 2): 0, (3, 4): 0}


def test_r12_driver_entries_identity_and_superset(spark):
    """The two r12 driver entries' documented identities on the real
    fixture: fuzzy_gated_customers == fuzzy_match_customers ∩
    nation-equality, and fuzzy_prefix_customers ⊇ fuzzy_match_customers
    (prefix selection never loses a pair the cap kept)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    plain = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in e.fuzzy_match_customers(spark, sf).collect()
    }
    nat = {
        r["c_custkey"]: r["c_nationkey"]
        for r in spark.read.parquet(f"{sf}/customer.parquet").collect()
    }
    want_gated = {k: v for k, v in plain.items() if nat[k[0]] == nat[k[1]]}
    gated = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in e.fuzzy_gated_customers(spark, sf).collect()
    }
    assert gated == want_gated and len(want_gated) > 0
    prefix = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in e.fuzzy_prefix_customers(spark, sf).collect()
    }
    assert set(plain) <= set(prefix)
    assert all(prefix[k] == v for k, v in plain.items())
    # both lossless modes must return the IDENTICAL exact pair set
    delete = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in e.fuzzy_delete_customers(spark, sf).collect()
    }
    assert delete == prefix


def test_blocking_coverage_counts_null_and_empty_names_as_orphans(spark):
    """NULL/whitespace-only names have no blocking keys at all and
    fuzzy_pairs can never match them — the coverage audit must count
    them as orphaned, not silently exclude them (r11 review)."""
    from cdc_connector_spark.ops.fuzzy import fuzzy_blocking_coverage

    rows = [(1, "acme inc"), (2, "acme co"), (3, None), (4, "   "), (5, "")]
    df = spark.createDataFrame(rows, "id bigint, name string")
    [cov] = fuzzy_blocking_coverage(df, max_token_freq=100).collect()
    assert cov["records"] == 5
    assert cov["orphaned_records"] == 3  # NULL, whitespace, empty
    assert cov["blocked_records"] == 2
    assert cov["orphaned_share"] == 0.6


def test_qgram_blocking_short_string_boundary_vs_delete(spark):
    """Pins the SCOPE of the prefix-mode guarantee (r12 ADVICE): q-gram
    blocking (prefix or not) is complete only for len(normalized) >=
    q*(max_dist+1). 'abcd'/'abxd' differ by one substitution yet share
    NO 3-gram, so qgram+prefix must MISS the pair — while
    block='delete' (truly lossless at any length) must find it. The
    driver entries' delete==prefix equality is fixture-dependent
    (TPC-H names are 18+ chars), not a theorem."""
    rows = [(1, "abcd"), (2, "abxd"), (3, "unrelated")]
    df = spark.createDataFrame(rows, "id bigint, name string")
    prefix = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(
            df, max_dist=1, block="qgram", selection="prefix"
        ).collect()
    }
    delete = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(df, max_dist=1, block="delete").collect()
    }
    assert prefix == set()  # the documented blocking limit
    assert delete == {(1, 2)}
    # at/above the q*(d+1) length bound the q-gram pair IS found
    rows2 = [(1, "abcdef"), (2, "abxdef")]
    df2 = spark.createDataFrame(rows2, "id bigint, name string")
    prefix2 = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(
            df2, max_dist=1, block="qgram", selection="prefix"
        ).collect()
    }
    assert prefix2 == {(1, 2)}


def test_grid_split_pair_set_equality_on_hot_keys(spark):
    """r13 straggler fix pin: the chunk-grid self-join (hot posting
    lists split m-ways, pairs enumerated per chunk-pair task) returns
    EXACTLY the plain self-join's pair set. Forced here with a tiny
    chunk so every key is hot and m hits the fan-out cap."""
    from cdc_connector_spark.ops.fuzzy import _blocking_index, _pair_candidates
    from pyspark.sql import functions as F

    rows = [(i, f"name {i % 7} suffix") for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    inv = _blocking_index(df, "name", "id", "qgram", 3)
    idx = inv.select("__id", F.length("__s").alias("__len"), "__k")
    plain = {
        (r["id_a"], r["id_b"])
        for r in _pair_candidates(idx, [], max_dist=1, hot_chunk=10**9).collect()
    }
    grid = {
        (r["id_a"], r["id_b"])
        for r in _pair_candidates(
            idx, [], max_dist=1, hot_chunk=4, max_fanout=5
        ).collect()
    }
    assert grid == plain and len(plain) > 0
    # and through the full operator: tiny-chunk grid == default output
    import cdc_connector_spark.ops.fuzzy as fz

    base = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fz.fuzzy_pairs(
            df, text_col="name", id_col="id", max_dist=1, block="qgram",
            selection="prefix",
        ).collect()
    }
    assert {(a, b) for a, b, _ in base} <= plain


def test_carry_strings_branch_pair_set_equality(spark):
    """r14 carry-mode pin (verdict #3, resolved as explicit-opt-in):
    carrying the normalized strings THROUGH the candidate join and the
    id-only candidate join + re-attach (the DEFAULT — the scale shape,
    SCALING 4t) return the identical (id_a, id_b, dist) set in every
    blocking/selection mode — including the hot-key grid path, where
    the carried strings must swap sides with the ids."""
    rows = [
        (1, "Acme Corp"),
        (2, "Acme Corp."),
        (3, "ACME corp"),
        (4, "Globex Inc"),
        (5, "Globex  Inc"),
        (6, "Initech"),
        (7, "Initech LLC"),
        (8, None),
    ] + [(100 + i, f"common name {i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    for kw in (
        dict(block="token", selection="cap", max_token_freq=1000),
        dict(block="qgram", selection="cap", max_token_freq=1000),
        dict(block="qgram", selection="prefix"),
        dict(block="delete", max_dist=2),
    ):
        kw.setdefault("max_dist", 2)
        carried = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in fuzzy_pairs(
                df, text_col="name", id_col="id", carry_strings=True, **kw
            ).collect()
        }
        reattached = {
            (r["id_a"], r["id_b"], r["dist"])
            for r in fuzzy_pairs(
                df, text_col="name", id_col="id", carry_strings=False, **kw
            ).collect()
        }
        assert carried == reattached and len(carried) > 0, kw
    # the DEFAULT is the id-only re-attach branch at every corpus size
    # (the r14b 10x rehearsal rejected carry as a default, SCALING 4t)
    default = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs(df, text_col="name", id_col="id", max_dist=2).collect()
    }
    explicit = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in fuzzy_pairs(
            df, text_col="name", id_col="id", max_dist=2, carry_strings=False
        ).collect()
    }
    assert default == explicit


def test_carry_strings_grid_side_swap(spark):
    """The hot-grid emits (least, greatest) id pairs: with carried
    strings the string columns must swap in lockstep or the verify
    computes levenshtein of a row against ITSELF. Forced via a tiny
    hot_chunk so every key takes the grid path."""
    from cdc_connector_spark.ops.fuzzy import _blocking_index, _pair_candidates

    rows = [(i, f"item {i % 5} pad") for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    inv = _blocking_index(df, "name", "id", "qgram", 3)
    idx = inv.select("__id", F.length("__s").alias("__len"), "__s", "__k")
    got = _pair_candidates(idx, [], max_dist=2, hot_chunk=4, carry=True).collect()
    strs = {r["__id"]: r["__s"] for r in inv.select("__id", "__s").distinct().collect()}
    assert len(got) > 0
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert r["__sa"] == strs[r["id_a"]] and r["__sb"] == strs[r["id_b"]]


def _brute_cap_pairs(rows, max_dist, cap, q=3, block="qgram", gate=None):
    """Exact replay of CAP-MODE semantics: pairs within the edit budget
    that share >= 1 SURVIVING blocking key (full-join-key frequency <=
    cap; r15 full-key rule), optionally gated on equal ``gate`` values.
    The reference for the r15 cap+Ed-Join-prune composition: the prune
    is a plan optimization and must never change this set."""
    import re
    from collections import Counter

    def norm(s):
        return re.sub(r"\s+", " ", (s or "").strip().lower())

    def keys(s):
        if block == "token":
            return set(s.split(" "))
        if len(s) < q:
            return {s}
        return {s[i : i + q] for i in range(len(s) - q + 1)}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    recs = []
    for row in rows:
        i, s = row[0], norm(row[1])
        g = row[2] if gate else None
        if s:
            recs.append((i, s, keys(s), g))
    freq = Counter()
    for _, _, ks, g in recs:
        for k in ks:
            freq[(k, g)] += 1
    out = {}
    for x in range(len(recs)):
        for y in range(x + 1, len(recs)):
            (ia, sa, ka, ga), (ib, sb, kb, gb) = recs[x], recs[y]
            if gate and (ga is None or ga != gb):
                continue
            shared = {k for k in ka & kb if freq[(k, ga)] <= cap}
            if not shared:
                continue
            d = lev(sa, sb)
            if d <= max_dist:
                lo, hi = (ia, ib) if ia < ib else (ib, ia)
                out[(lo, hi)] = d
    return out


def test_cap_prune_composition_equals_cap_semantics(spark):
    """r15 optimization-round pin: cap mode's Ed-Join prune (keep each
    record's u*d+1 rarest SURVIVING keys before the candidate join) is
    output-invariant — on a corpus where the cap BINDS (hot shared
    grams dropped), with and without an attribute gate, and for token
    blocking, the pair set equals the brute-force replay of cap
    semantics."""
    import random

    rng = random.Random(7)
    rows = []
    # templated names: a near-universal stem (hot grams at cap=20) plus
    # a rare numeric tail; ~30% get a 1-edit twin
    for i in range(120):
        tail = f"{rng.randint(0, 999):03d}"
        name = f"customer#{tail}{rng.choice('abcdef')}"
        rows.append((2 * i, name, i % 5))
        if i % 3 == 0:
            s = list(name)
            s[rng.randrange(len(s))] = rng.choice("xyz0123")
            rows.append((2 * i + 1, "".join(s), i % 5))
    df = spark.createDataFrame(rows, "id bigint, name string, nat int")

    for cap in (20, 60, 10**6):
        # prune forced ON and OFF (the auto rule picks OFF here —
        # ungated): both plans must return the identical cap-mode set
        for prune in (True, False, None):
            got = {
                (r["id_a"], r["id_b"]): r["dist"]
                for r in fuzzy_pairs(
                    df, max_dist=1, block="qgram", max_token_freq=cap,
                    cap_prune=prune,
                ).collect()
            }
            assert got == _brute_cap_pairs(rows, 1, cap), f"qgram cap={cap} prune={prune}"

    # gated: frequencies count the FULL (gram, nat) key; prune forced
    # OFF and ON (the auto rule picks ON here) — identical set
    for prune in (True, False, None):
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_pairs(
                df,
                max_dist=1,
                block="qgram",
                max_token_freq=12,
                extra_block_cols=("nat",),
                cap_prune=prune,
            ).collect()
        }
        assert got == _brute_cap_pairs(rows, 1, 12, gate=True), f"gated cap prune={prune}"
    # guard: cap_prune composes only with cap selection
    with pytest.raises(ValueError, match="cap_prune"):
        fuzzy_pairs(df, max_dist=1, block="qgram", selection="prefix", cap_prune=True)
    with pytest.raises(ValueError, match="cap_prune"):
        fuzzy_pairs(df, max_dist=1, block="delete", cap_prune=True)

    # token blocking (u = 2): two-token names, hot second token
    trows = [(i, f"vendor{i // 4:02d} gmbh", 0) for i in range(80)]
    tdf = spark.createDataFrame(trows, "id bigint, name string, nat int")
    for cap in (10, 10**6):
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_pairs(
                tdf, max_dist=2, block="token", max_token_freq=cap
            ).collect()
        }
        assert got == _brute_cap_pairs(trows, 2, cap, block="token"), f"token cap={cap}"


def test_positional_prefix_banding_equals_brute_force(spark):
    """r16 optimization-round pin: adversarial prefix-mode shapes the
    randomized parity test doesn't guarantee to hit. (History: written for
    the positional Ed-Join location-filter experiment — occurrence index +
    (key, position-band) candidate join + |Δpos| <= d filter — which was
    REVERTED after same-session A/Bs measured it slower at sf0.1, 10x AND
    100x; see OPTIMIZATION_r16.md. The corpora remain the right lossless-
    recall boundary pins for ANY prefix-selection implementation.)

    - matched grams sitting exactly max_dist positions apart (a positional
      filter's |Δp| = d boundary);
    - repeated gram content at many positions (occurrence multiset != set);
    - leading indels that SHIFT every downstream occurrence by d;
    - the documents-entry shape q=3, d=4 on long strings, and d=0.

    Each corpus is checked against the exact all-pairs Levenshtein brute
    force — prefix mode is lossless for len >= q*(d+1), which all rows here
    satisfy."""
    # (a) d-position shifts via leading indels + 1-char edits mid-string;
    # repeated 'abcabcabc...' stems make hot repeated grams
    rows_a = []
    for i in range(40):
        stem = "abc" * 6 + f"{i % 7:01d}" + "xyzw"
        pad = "q" * (i % 5)  # 0..4 leading chars -> positional shift
        rows_a.append((2 * i, pad + stem))
        if i % 2 == 0:
            s = list(pad + stem)
            s[len(s) // 2] = "z"
            rows_a.append((2 * i + 1, "".join(s)))
    df_a = spark.createDataFrame(rows_a, "id bigint, name string")
    for d in (1, 2, 4):
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in fuzzy_pairs(
                df_a, max_dist=d, block="qgram", selection="prefix"
            ).collect()
        }
        assert got == _brute_pairs(rows_a, d), f"shifted corpus d={d}"

    # (b) d = 0: the band is the position itself; equal strings only
    rows_b = [(i, f"supplier {i % 9} gmbh") for i in range(30)]
    df_b = spark.createDataFrame(rows_b, "id bigint, name string")
    got0 = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(
            df_b, max_dist=0, block="qgram", selection="prefix"
        ).collect()
    }
    assert got0 == _brute_pairs(rows_b, 0)
    assert got0  # duplicates exist by construction

    # (c) token blocking positional: token index is the position; a leading
    # extra token shifts all downstream tokens by 1 = max_dist
    rows_c = []
    for i in range(30):
        base = f"alpha beta gamma {i % 6:02d} corp"
        rows_c.append((2 * i, base))
        if i % 3 == 0:
            rows_c.append((2 * i + 1, "zz " + base[: -1] + "x"))
    df_c = spark.createDataFrame(rows_c, "id bigint, name string")
    got_c = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(
            df_c, max_dist=2, block="token", selection="prefix"
        ).collect()
    }
    # token mode is not lossless vs raw Levenshtein (token grams), but must
    # be a superset-consistent subset: verify dist values on the pairs found
    brute = _brute_pairs(rows_c, 2)
    assert set(got_c) <= set(brute)
    assert all(brute[k] == v for k, v in got_c.items())
    # the expected pairs, from the construction: two families — the base
    # rows (even ids) and the shifted twins (odd ids). Within a family two
    # rows differ only in the counter token, one edit apart, and share
    # every other token at the same position, so token blocking must pair
    # them; a base and a twin are 4 edits apart ("zz " + the last char)
    bases = sorted(i for i, _ in rows_c if i % 2 == 0)
    twins = sorted(i for i, _ in rows_c if i % 2 == 1)
    family = {
        pair for ids in (bases, twins) for pair in itertools.combinations(ids, 2)
    }
    assert family <= set(brute)
    assert set(got_c) == family
