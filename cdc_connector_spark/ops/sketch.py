"""Probabilistic-sketch operators: Bloom-filter decontamination and
Count-Min-Sketch heavy hitters.

Both sketches exist for the same 100 TB reason: the exact answer needs a
shuffle keyed by a high-cardinality column (every distinct n-gram / every
distinct key), while the sketch replaces it with a FIXED-SIZE broadcast
structure the corpus streams past — the classic memory/accuracy trade
every large-scale pipeline eventually makes. The Bloom probe touches each
training document once against a broadcast bitset (no train-side shuffle
at all beyond the per-doc collapse); the CMS counter table is
``depth × width`` rows regardless of input size, so the heavy-hitter scan
is one map-side-combinable aggregation plus a broadcast join.

Value-portability: every hash is the repo's portable 60-bit md5 fold
(``conv(substring(md5(s),1,15),16,10)`` ↔ DuckDB's hex-digit
``list_reduce`` fold — bit-identical, see ``key_skew_events``), so a SQL
oracle can replay the ENTIRE sketch — bit positions, counter cells,
collisions and all — and the driver hash-matches the sketch's real output
including its false positives / over-estimates. That is the point: the
sketch error is deterministic given (m, k) / (depth, width), not noise.

Sketch semantics guarantees (tested):
- Bloom: NO false negatives — every truly-contaminated gram is flagged;
  false positives possible and surfaced honestly (``flagged >= exact``).
- CMS: estimate >= exact count ALWAYS (counters only ever over-count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdc_connector_spark.ops.textstats import tokenize, word_ngrams


def portable_hash60(col, salt: str | None = None) -> F.Column:
    """Portable 60-bit hash of a column's string form: the first 15 hex
    digits of md5, base-converted — non-negative, fits a BIGINT, and
    replayable digit-by-digit in any engine with md5. ``salt`` prefixes
    the input (``'<salt>:'``) to derive independent hash functions for
    multi-hash sketches."""
    c = F.col(col) if isinstance(col, str) else col
    s = c.cast("string")
    if salt is not None:
        s = F.concat_ws(":", F.lit(salt), s)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def bloom_positions(col, m_bits: int, k: int) -> F.Column:
    """Array of the ``k`` bit positions (each in [0, m_bits)) a value sets
    in the Bloom filter — hash functions derived by salting the portable
    fold with the hash index."""
    return F.array(
        *[F.pmod(portable_hash60(col, salt=str(i)), F.lit(m_bits)) for i in range(k)]
    )


def bloom_build(keys: DataFrame, key_col: str, m_bits: int, k: int) -> DataFrame:
    """Distinct set-bit positions of the Bloom filter over ``keys`` —
    one ``pos: long`` column, at most ``min(m_bits, k·|keys|)`` rows.
    This IS the broadcast side of every probe: for benchmark
    decontamination the key set is an eval suite (thousands of grams),
    so the bitset is a few KB no matter how large the training corpus."""
    return (
        keys.select(F.explode(bloom_positions(F.col(key_col), m_bits, k)).alias("pos"))
        .distinct()
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    n: int = 3,
    m_bits: int = 4096,
    k: int = 3,
    min_flagged: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination: flag training documents
    whose distinct word ``n``-grams hit the eval-set Bloom filter
    ≥ ``min_flagged`` times.

    Versus the exact inverted-index ``decontaminate`` (ops/corpus.py),
    which joins train grams against eval grams on the gram hash: here the
    eval side collapses to an ``m_bits``-bit filter ONCE, and the training
    corpus only ever joins against that broadcast bitset — no gram-keyed
    shuffle of the 100 TB side, no skew from stop-grams, and the filter is
    reusable verbatim across corpus versions. The price is false
    positives (≈ (1-e^{-kn/m})^k per gram), surfaced honestly: no false
    negatives (guaranteed — a present gram's bits are all set), so the
    flag is a safe SUPERSET screen to route into the exact checker.

    Returns one row per training doc that has ≥ 1 flagged gram:
    (doc_id, n_grams, flagged_grams, contaminated) — ``flagged_grams``
    counts distinct grams whose ``k`` positions are all set;
    ``contaminated`` = flagged_grams ≥ min_flagged.

    Shape: eval → bitset (≤ m_bits rows, broadcast); train → distinct
    grams per doc (one projection) → posexplode to (doc, gram, pos) →
    broadcast LEFT join against the bitset → per-(doc, gram) all-k-hit
    test → per-doc count. The only exchange on the train side is the
    final doc-keyed collapse.
    """
    bits = bloom_build(
        eval_set.select(
            F.explode(
                F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n))
            ).alias("gram")
        ).distinct(),
        "gram",
        m_bits,
        k,
    ).withColumn("__set", F.lit(1))
    grams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(tokenize(F.col(text_col)), n))).alias(
            "gram"
        ),
    )
    probed = grams.select(
        id_col, "gram", F.explode(bloom_positions(F.col("gram"), m_bits, k)).alias("pos")
    )
    gram_hits = (
        probed.join(F.broadcast(bits), "pos", "left")
        .groupBy(id_col, "gram")
        .agg((F.count(F.col("__set")) == F.lit(k)).alias("__hit"))
    )
    return (
        gram_hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__hit").cast("long")).alias("flagged_grams"),
        )
        .filter(F.col("flagged_grams") > 0)
        .select(
            id_col,
            "n_grams",
            "flagged_grams",
            (F.col("flagged_grams") >= F.lit(min_flagged)).alias("contaminated"),
        )
    )


def cms_counters(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """The Count-Min-Sketch counter table over ``df[key_col]`` (NULLs
    ignored): one row per (row_idx, pos) cell with its count — at most
    ``depth × width`` rows TOTAL, which is the whole scale argument: the
    aggregation is map-side combinable into a bounded table, so building
    the sketch over 100 TB is one scan plus a trivially small shuffle."""
    keyed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("__key")
    )
    cells = keyed.select(
        F.posexplode(
            F.array(
                *[
                    F.pmod(portable_hash60(F.col("__key"), salt=str(i)), F.lit(width))
                    for i in range(depth)
                ]
            )
        ).alias("row_idx", "pos")
    )
    return cells.groupBy("row_idx", "pos").agg(F.count(F.lit(1)).alias("cnt"))


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    topn: int = 40,
) -> DataFrame:
    """Heavy hitters by Count-Min-Sketch estimate: for each distinct key,
    the CMS point estimate (min over the sketch's ``depth`` counter rows)
    next to the exact count, top-``topn`` by estimate.

    ``est >= exact`` always (cells only over-count; the min can't dip
    below the key's own contribution), and the over-estimate is exactly
    the hash-collision mass — deterministic under the portable fold, so
    the whole readout value-verifies. In production the exact column is
    dropped and the candidate set comes from a stream; here it's kept to
    make the sketch error measurable row-by-row (``err = est - exact``).

    Shape: counter table (≤ depth×width rows) broadcast; distinct keys
    aggregate once (the same shuffle the exact answer needs — the sketch
    SAVES that shuffle only when the candidate set is external, which is
    how a production heavy-hitter monitor uses it; the entry keeps the
    exact twin to pin the estimate semantics).

    Ordering: (est DESC, exact DESC, key ASC) — total, so top-N is
    deterministic."""
    counters = cms_counters(df, key_col, depth, width)
    keys = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).cast("string").alias("__key"))
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    probes = keys.select(
        "__key",
        "exact",
        F.posexplode(
            F.array(
                *[
                    F.pmod(portable_hash60(F.col("__key"), salt=str(i)), F.lit(width))
                    for i in range(depth)
                ]
            )
        ).alias("row_idx", "pos"),
    )
    est = (
        probes.join(F.broadcast(counters), ["row_idx", "pos"])
        .groupBy("__key", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    return (
        est.select(
            F.col("__key").alias("key"),
            "est",
            "exact",
            (F.col("est") - F.col("exact")).alias("err"),
        )
        .orderBy(F.col("est").desc(), F.col("exact").desc(), F.col("key").asc())
        .limit(topn)
    )


def check_precision(p: int) -> None:
    """Reject an HLL register precision the estimator cannot read: the
    alpha_m constant used by ``hll_estimate`` holds for m = 2**p >= 128."""
    if p < 7:
        raise ValueError(f"HLL precision p must be >= 7 (alpha constant), got {p}")


def hll_registers(
    df: DataFrame, key_col: str, group_col: str, p: int = 8
) -> DataFrame:
    """HyperLogLog register table over ``df[key_col]`` per ``group_col``
    (NULL keys ignored): one row per (group, bucket) with the register
    value M = max over the bucket's keys of rho(w) — the position of the
    leftmost 1-bit in the key hash's upper 52 bits. At most ``2**p``
    rows per group regardless of input size: the sketch build is one
    map-side-combinable MAX aggregation, the same bounded-table scale
    argument as the CMS.

    Value-portability: bucket = h % 2**p and w = h // 2**p of the
    portable 60-bit md5 fold; w has 60-p bits, so
    rho = (61-p) - bit_length(w) (61-p for w = 0 — at the default p=8
    that is the familiar 53), with bit_length as length(bin(w)) in both
    engines — every register is an exact integer a SQL oracle replays
    digit-for-digit. The width constant MUST track p: a fixed 53 is
    only correct at p=8 and biases the estimate by ~2^(p-8) elsewhere
    (r11 review finding, regression-pinned at p=12)."""
    m = 1 << p
    keyed = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        portable_hash60(F.col(key_col)).alias("__h"),
    )
    reg = keyed.select(
        "grp",
        F.pmod(F.col("__h"), F.lit(m)).alias("bucket"),
        # exact integer division: m = 2**p, so a right shift — Spark `/`
        # is double division and the 60-bit hash exceeds 2**53, where the
        # rounded quotient can cross a bit-length boundary and corrupt rho
        F.shiftright(F.col("__h"), p).alias("__w"),
    )
    width = 61 - p
    rho = F.when(F.col("__w") == 0, F.lit(width)).otherwise(
        F.lit(width) - F.length(F.bin(F.col("__w")))
    )
    return (
        reg.select("grp", "bucket", rho.alias("rho"))
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("mreg"))
    )


def hll_distinct(
    df: DataFrame, key_col: str, group_col: str, p: int = 8
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group, next to the exact
    count so the sketch error is measurable row-by-row (the CMS-entry
    convention; production drops the exact twin — that is the point of
    the sketch: the register table is 2**p rows per group forever, while
    the exact count shuffles every distinct key).

    Estimator (Flajolet et al. 2007): raw = alpha_m * m^2 / sum(2^-M_j).
    The harmonic sum is kept EXACT by scaling: S = sum(2^(C - M_j)) with
    C = 61 - p (the register width, so C >= max M always) is a BIGINT
    (absent buckets contribute 2^C each), so
    raw = alpha_m * m^2 * 2^C / S is ONE fixed IEEE double expression
    over exact integers — correctly rounded, hence bit-identical in any
    IEEE engine (at the default p=8, C = 53, the historical constant).
    Small-range (linear counting) correction when raw <= 2.5m and zero
    registers remain: m * ln(m / zeros), rounded 6 (single libm call on
    identical double inputs; the zipf_slope precedent). Returns (grp,
    zeros, s_scaled, raw_est, est, exact_distinct).

    Composed as ``hll_estimate(hll_registers(...))`` joined to the
    exact twin — ONE estimator definition, so batch and
    production/streaming paths can never diverge estimate-for-estimate.

    alpha_m uses the standard constants for m >= 128; p < 7 is rejected
    rather than silently mis-estimated."""
    check_precision(p)
    regs = hll_registers(df, key_col, group_col, p=p)
    exact = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count_distinct(F.col(key_col)).alias("exact_distinct"))
    )
    return hll_estimate(regs, p=p).join(F.broadcast(exact), "grp").orderBy("grp")


def hll_merge(register_tables: list[DataFrame]) -> DataFrame:
    """MAX-merge of HLL register tables (``grp``, ``bucket``, ``mreg``
    rows from ``hll_registers``): registers of the union are the
    per-(grp, bucket) MAX — HLL's defining mergeability (Flajolet et
    al. 2007), which is what lets per-partition / per-day / per-feed
    sketches roll up without touching raw keys. Exact, not
    approximate-on-approximate: merge(regs(A), regs(B)) ==
    regs(A ∪ B) register-for-register, because max is associative on
    the per-key rho values. Each side ships ≤ 2^p rows per group."""
    merged = register_tables[0].select("grp", "bucket", "mreg")
    for t in register_tables[1:]:
        merged = merged.unionByName(t.select("grp", "bucket", "mreg"))
    return merged.groupBy("grp", "bucket").agg(F.max("mreg").alias("mreg"))


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """PRODUCTION-shaped distinct-count estimate from an HLL register
    table: (grp, zeros, s_scaled, raw_est, est) — estimate ONLY, no
    exact twin in the plan (the ``kmv_estimate`` counterpart). The ONE
    estimator definition in this module (``hll_distinct`` composes it):
    S = Σ 2^(C−M_j) with C = 61−p (register width ⇒ C ≥ max M at any
    p; = the historical 53 at the default p=8) as a BIGINT with absent
    buckets contributing 2^C each, raw = α·m²·2^C/S as ONE IEEE
    expression, linear-counting correction in its standard range. Input
    is the bounded register state, so no corpus-keyed shuffle happens
    here."""
    check_precision(p)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    width = 61 - p
    scale = float(1 << width)
    agg = registers.groupBy("grp").agg(
        F.count(F.lit(1)).alias("__nb"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), cast({width} - mreg as int))")
        ).alias("__sp"),
    )
    zeros = (F.lit(m) - F.col("__nb")).cast("long")
    s_scaled = (F.col("__sp") + zeros * F.lit(1 << width)).cast("long")
    raw = F.round(
        F.lit(alpha) * F.lit(float(m) * float(m)) * F.lit(scale)
        / F.col("s_scaled").cast("double"),
        6,
    )
    est = F.when(
        (F.col("raw_est") <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")), 6),
    ).otherwise(F.col("raw_est"))
    return (
        agg.select("grp", zeros.alias("zeros"), s_scaled.alias("s_scaled"))
        .withColumn("raw_est", raw)
        .withColumn("est", est)
        .orderBy("grp")
    )


def kmv_sketch(
    df: DataFrame, key_col: str, group_col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values sketch per group: the ``k`` smallest DISTINCT
    portable-hash values of ``df[key_col]`` (NULL keys ignored), as rows
    (grp, h, rk). The KMV sketch is a uniform size-k sample of the
    group's distinct-key hash space — mergeable by union-then-truncate,
    which is what makes it the distributed/streaming distinct-count and
    set-overlap primitive: shipping k BIGINTs per group replaces
    shuffling every distinct key.

    The per-group top-k is a window row_number over the hash order —
    per-group state is k rows, so groups partition-parallelize and the
    sketch table is |groups| * k rows total."""
    from pyspark.sql import Window

    hashed = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            portable_hash60(F.col(key_col)).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (
        hashed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def kmv_merge(sketches: list[DataFrame], k: int = 64) -> DataFrame:
    """Union-then-truncate merge of KMV sketch tables (``grp``, ``h``
    rows, e.g. from ``kmv_sketch``): the k smallest distinct hashes of
    the union per group. KMV's defining property (Beyer et al. 2007):
    merge(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY — the k
    smallest hashes of the union are always among the two sketches'
    2k hashes — so incremental maintenance is exact, not
    approximate-on-approximate (the CMS-linearity argument, order
    statistics instead of counters). Each merge ships k BIGINTs per
    group per side; the merged state is |groups| × k rows forever."""
    from pyspark.sql import Window

    merged = sketches[0].select("grp", "h")
    for s in sketches[1:]:
        merged = merged.unionByName(s.select("grp", "h"))
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (
        merged.distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """PRODUCTION-shaped distinct-count estimate from a KMV sketch table
    (``grp``, ``h``, ``rk`` rows): (grp, n_sketch, kth_hash,
    est_distinct) — estimate ONLY, no exact twin anywhere in the plan.
    The input is the bounded sketch state (|groups| × k rows), so this
    runs with NO corpus-keyed shuffle at all — the shape the
    error-measuring ``kmv_distinct`` entry documents production as
    dropping to. Estimator as in ``kmv_distinct``: exact below k, else
    (k-1) * 2^60 / h_k as ONE fixed IEEE double expression."""
    agg = sketch.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_sketch"),
        F.max(F.when(F.col("rk") == k, F.col("h"))).alias("kth_hash"),
    )
    est = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(k - 1)) * F.lit(float(1 << 60))
            / F.col("kth_hash").cast("double"),
            6,
        )
    )
    return agg.withColumn("est_distinct", est).orderBy("grp")


def kmv_distinct(
    df: DataFrame, key_col: str, group_col: str, k: int = 64
) -> DataFrame:
    """KMV distinct-count estimate per group next to the exact count.
    With fewer than ``k`` distinct keys the sketch IS the distinct set
    (estimate exact by construction); otherwise the classic unbiased
    estimator (k-1) * H / h_k with H = 2^60 (the portable fold's range)
    — ONE fixed IEEE double expression over exact integers. Composed as
    ``kmv_estimate(kmv_sketch(...))`` joined to the exact twin — one
    estimator definition shared with the production path. Returns
    (grp, n_sketch, kth_hash, est_distinct, exact_distinct)."""
    exact = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.count_distinct(F.col(key_col)).alias("exact_distinct"))
    )
    return (
        kmv_estimate(kmv_sketch(df, key_col, group_col, k=k), k=k)
        .join(F.broadcast(exact), "grp")
        .select("grp", "n_sketch", "kth_hash", "est_distinct", "exact_distinct")
        .orderBy("grp")
    )


def kmv_jaccard(
    df: DataFrame, key_col: str, group_col: str, k: int = 64
) -> DataFrame:
    """Pairwise set-similarity between groups from their KMV sketches:
    for each group pair a < b, the union sketch U = k smallest hashes of
    S_a ∪ S_b, matched = |{h in U : h in S_a AND h in S_b}|, and the
    Jaccard estimate matched / |U| (Beyer et al. 2007) — emitted in
    exact integer MICRO units (matched * 1000000 // |U|, documented
    floor division) so the row hash-verifies. The exact Jaccard twin
    (BIGINT intersection / union counts) is kept for error measurement;
    production drops it — comparing G groups costs G^2 * k sketch rows
    instead of a key-keyed shuffle of the full corpus per pair.

    Returns (grp_a, grp_b, u_size, matched, est_jaccard_micro,
    inter_exact, union_exact)."""
    from pyspark.sql import Window

    sk = kmv_sketch(df, key_col, group_col, k=k).select("grp", "h")
    # Pair-tagged union rows: the pair dim is tiny (groups), so cross the
    # group list, then union the two sketches per pair.
    groups = sk.select("grp").distinct()
    pairs = (
        groups.alias("ga")
        .crossJoin(groups.alias("gb"))
        .filter(F.col("ga.grp") < F.col("gb.grp"))
        .select(F.col("ga.grp").alias("grp_a"), F.col("gb.grp").alias("grp_b"))
    )
    tagged = (
        pairs.join(sk, sk.grp == pairs.grp_a, "inner")
        .select("grp_a", "grp_b", "h")
        .unionByName(
            pairs.join(sk, sk.grp == pairs.grp_b, "inner").select(
                "grp_a", "grp_b", "h"
            )
        )
        .groupBy("grp_a", "grp_b", "h")
        .agg(F.count(F.lit(1)).alias("__occ"))
    )
    w = Window.partitionBy("grp_a", "grp_b").orderBy(F.col("h").asc())
    u = tagged.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    per = u.groupBy("grp_a", "grp_b").agg(
        F.count(F.lit(1)).alias("u_size"),
        F.sum((F.col("__occ") == 2).cast("long")).alias("matched"),
    )
    exact_sets = df.filter(F.col(key_col).isNotNull()).select(
        F.col(group_col).alias("grp"), F.col(key_col).alias("key")
    ).distinct()
    ea = exact_sets.select(F.col("grp").alias("grp_a"), "key")
    eb = exact_sets.select(F.col("grp").alias("grp_b"), "key")
    inter = (
        ea.join(eb, "key")
        .filter(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.count(F.lit(1)).alias("inter_exact"))
    )
    sizes = exact_sets.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    # disjoint pairs have NO row in `inter` — sizes must come from the
    # pair itself so union_exact = |A| + |B| when the intersection is
    # empty (left-joining a precomputed union would NULL it out)
    return (
        per.join(
            F.broadcast(sizes.select(F.col("grp").alias("grp_a"), F.col("n").alias("__na"))),
            "grp_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("grp").alias("grp_b"), F.col("n").alias("__nb"))),
            "grp_b",
        )
        .join(inter, ["grp_a", "grp_b"], "left")
        .select(
            "grp_a",
            "grp_b",
            "u_size",
            "matched",
            F.floor(F.col("matched") * F.lit(1_000_000) / F.col("u_size"))
            .cast("long")
            .alias("est_jaccard_micro"),
            F.coalesce(F.col("inter_exact"), F.lit(0)).alias("inter_exact"),
            (F.col("__na") + F.col("__nb") - F.coalesce(F.col("inter_exact"), F.lit(0))).alias(
                "union_exact"
            ),
        )
        .orderBy("grp_a", "grp_b")
    )
