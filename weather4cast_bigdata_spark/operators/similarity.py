"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the correctness baseline, plus a
partition-pruned (IVF-style) variant as the scale path: with a coarse
bucket assignment column, the search join only touches same-bucket
rows — at 100 TB that's the difference between an O(n·q) cross join
and bucket-local probes. Vector math is JVM higher-order functions
(zip_with/aggregate) by default; past a corpus-size gate the LSH
signature and the near-dup verify run numpy over Arrow batches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.functions.arrays import dot, norm, to_double_array
from weather4cast_bigdata_spark.partitioning import ensure_scan_parallelism


def _scored(queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str, on=None) -> DataFrame:
    # Norms are attached PER VECTOR before the pairing join:
    # computing cosine(qv, cv) per pair re-folds norm(qv)/norm(cv)
    # for every pair a vector appears in — 3 HOF folds per pair where
    # 1 suffices. The per-pair expression is one dot fold + a
    # multiply/divide over the carried norms; values are bit-identical
    # to the per-pair form (same fold on the same input, IEEE ops in
    # the same order).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double_array(F.col(vec_col)).alias("qv"),
        *([F.col(c) for c in on] if on else []),
    ).withColumn("_qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("item_id"),
        to_double_array(F.col(vec_col)).alias("cv"),
        *([F.col(c_) for c_ in on] if on else []),
    ).withColumn("_cn", norm(F.col("cv")))
    joined = q.join(c, on=list(on), how="inner") if on else q.crossJoin(c)
    # +1e-9 tie-break epsilon before rounding (see plans.registry
    # numeric policy): summation order differs across engines.
    return joined.where(F.col("query_id") != F.col("item_id")).select(
        "query_id",
        "item_id",
        F.round(
            F.try_divide(
                dot(F.col("qv"), F.col("cv")), F.col("_qn") * F.col("_cn")
            )
            + F.lit(1e-9),
            6,
        ).alias("cos_sim"),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: every query scored against the whole
    corpus, ``row_number`` per query. Ties break on item id
    (deterministic)."""
    scored = _scored(queries, corpus, id_col, vec_col)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cos_sim")
    )


def cosine_topk_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """IVF-style ANN: score only within the same coarse bucket
    (precomputed assignment column ≈ nearest-centroid list). The join
    becomes an equi join on the bucket key — shuffle-partitioned,
    bucket-local, no cross join."""
    scored = _scored(queries, corpus, id_col, vec_col, on=[bucket_col])
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cos_sim")
    )


def near_dup_pairs(
    df: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: same-bucket
    self-join (a<b dedup of the pair space), keep pairs whose rounded
    cosine ≥ threshold. The bucket key makes the candidate space
    bucket-local — the embedding analog of LSH banding."""
    scored = _scored(df, df, id_col, vec_col, on=[bucket_col])
    return (
        scored.where(
            (F.col("query_id") < F.col("item_id"))
            & (F.col("cos_sim") >= F.lit(threshold))
        )
        .select(
            F.col("query_id").alias("a_id"),
            F.col("item_id").alias("b_id"),
            "cos_sim",
        )
    )


def adaptive_n_planes(
    n: int, target_bucket: int = 8, base: int = 0, max_extra: int = 24
) -> int:
    """Scale-adaptive LSH resolution: the smallest plane count that
    keeps E[bucket depth] ≤ ``target_bucket`` as the corpus grows —
    ``base + ceil(log2(n / target_bucket))``, computed as a chain of
    INTEGER comparisons (extra = #{k ≥ 1 : n > target·2^(k-1)}) so a
    SQL oracle restates it bit-exactly with no float log in sight.
    Fixed planes make within-bucket verify work quadratic in corpus
    size (bucket depth ∝ n); deriving the count from a cheap
    ``df.count()`` keeps depth — and therefore per-bucket pair work —
    constant, so total verify cost scales ~linearly with the corpus.
    ``max_extra`` = 24 covers ~134 M rows at the default target; at
    true 100 TB scale extend the chain (each step is one comparison).
    """
    extra = 0
    while extra < max_extra and n > target_bucket * (1 << extra):
        extra += 1
    return base + extra


def adaptive_n_planes_sql(
    count_sql: str, target_bucket: int = 8, base: int = 0, max_extra: int = 24
) -> str:
    """The SQL restatement of :func:`adaptive_n_planes`: a scalar
    subquery summing the same integer comparisons over the same
    thresholds, so oracle and plan derive the identical plane count
    from the identical corpus count."""
    terms = " + ".join(
        f"(CASE WHEN c > {target_bucket * (1 << k)} THEN 1 ELSE 0 END)"
        for k in range(max_extra)
    )
    return f"(SELECT {base} + {terms} FROM (SELECT ({count_sql}) AS c))"


#: Planes carried per bigint word of a signature. A single bigint
#: key holds ≤60 sign bits; wider signatures (the banded
#: construction's total plane count past ~8·2^14.75 rows) split into
#: ceil(P / 60) words — see hyperplane_bucket_words /
#: band_key_words. 60 (not 62) leaves shift arithmetic comfortably
#: inside the sign bit on both engines.
SIGNATURE_WORD_BITS = 60

#: Cap of the fractional (1/4-step) plane chains. A cap of 60 — one
#: bigint word — was measured binding at 200 k vectors
#: (sim_lsh_multiprobe's chain wanted depth 80/17 ≈ 4.7 but clamped
#: at Q=60, work/row growing by the uncompensated probe fan-out,
#: 12.8× wall per decade). 120 quarter-steps = two words for the
#: banded construction (its total plane count is Q) and still ONE
#: word for the single-signature keys (they read only Q//4 + 1 ≤ 31
#: planes), covering ~8·2^29.75 ≈ 7×10⁹ rows per band at target 8
#: before the cap binds again.
MAX_QUARTER_STEPS = 120


def _fractional_thresholds(
    n_bands: int, target_bucket: int, max_total: int
) -> list[int]:
    """Integer thresholds of the fractional (1/n_bands-step) plane
    chain: t_k = floor(target · 2^((k-1)/n_bands)). For integer
    corpus counts ``n > target·2^((k-1)/n_bands)`` ⟺ ``n > t_k``, so
    the chain is pure integer comparison; both engines embed the SAME
    Python-computed literals, so a 1-ulp float wobble in the
    irrational powers cannot diverge them."""
    return [
        int(target_bucket * 2.0 ** ((k - 1) / n_bands))
        for k in range(1, max_total + 1)
    ]


def adaptive_total_planes(
    n: int, n_bands: int = 4, target_bucket: int = 8, max_total: int = MAX_QUARTER_STEPS
) -> int:
    """Fractional-resolution total plane count for the BANDED
    construction: the smallest total Q with sum-of-band-widths
    granularity 1 plane — i.e. resolution steps of 2^(1/n_bands) ≈
    1.19× (n_bands=4) in per-band bucket depth, vs the 2× step of
    the integral single-signature chain. Q = #{k ≤ max_total :
    n > target·2^((k-1)/n_bands)}; with :func:`band_layout`
    splitting Q into widths W/W+1, the geometric-mean band depth
    stays within 2^(1/n_bands) of target at ANY corpus size — the
    flattened version of the integral variants' ±2× sawtooth.
    max_total = MAX_QUARTER_STEPS (120): the banded construction's
    Q-plane signature spans ceil(Q/60) bigint words
    (hyperplane_bucket_words) while the single-signature keys read
    only Q//4 + 1 ≤ 31 planes — always word 0."""
    q = 0
    for t in _fractional_thresholds(n_bands, target_bucket, max_total):
        if n > t:
            q += 1
        else:
            break
    return q


def adaptive_total_planes_sql(
    count_sql: str, n_bands: int = 4, target_bucket: int = 8, max_total: int = MAX_QUARTER_STEPS
) -> str:
    """SQL restatement of :func:`adaptive_total_planes` — same
    literal thresholds, same integer comparisons, summed in a scalar
    subquery over the same corpus count. The sum is CHUNKED into
    parenthesized groups of 32: integer addition is associative, and
    a flat 120-term left-nested chain exceeds DuckDB's 128-deep
    expression-binder recursion limit."""
    terms = [
        f"(CASE WHEN c > {t} THEN 1 ELSE 0 END)"
        for t in _fractional_thresholds(n_bands, target_bucket, max_total)
    ]
    chunks = [
        "(" + " + ".join(terms[i : i + 32]) + ")"
        for i in range(0, len(terms), 32)
    ]
    return f"(SELECT {' + '.join(chunks)} FROM (SELECT ({count_sql}) AS c))"


def fractional_split(
    n: int, n_bands: int = 4, target_bucket: int = 8, max_total: int = MAX_QUARTER_STEPS
) -> tuple[int, int]:
    """Fractional resolution for the SINGLE-SIGNATURE constructions
    (exact-collision and multiprobe): derive the 1/4-step total Q
    from :func:`adaptive_total_planes` and split it as
    ``(p, r) = (Q // 4, Q % 4)``. The signature reads ``p + 1``
    planes; ``p`` low bits form the bucket PREFIX and bit ``p`` is an
    EXTENSION bit that only the ``r/4`` fraction of prefixes selected
    by ``prefix % 4 < r`` actually key on (see
    :func:`fractional_key`). One quarter-octave of corpus growth
    increments Q by one, moving only ``r`` — i.e. splitting one more
    quarter of the buckets in two — so E[bucket depth] steps by
    ~2^(1/4) ≈ 1.19× instead of the integral chain's 2× sawtooth
    (measured 3.21×/4.07× wall at 3× data for the integral variants
    vs 2.35× for the fractional banded sibling).

    ``prefix % 4`` (the signs of planes 0 and 1) is the split
    selector because it is a pure function of the bucket id that both
    engines restate with one modulo — on sign-balanced data each
    residue class holds ~1/4 of the rows; a corpus collapsed onto one
    side of planes 0/1 degrades the mixture toward pure-``p`` or
    pure-``p+1`` width, which is exactly the old integral behavior
    (never worse), and the hot-bucket census cap still bounds the
    worst key."""
    q = adaptive_total_planes(
        n, n_bands=n_bands, target_bucket=target_bucket, max_total=max_total
    )
    return q // n_bands, q % n_bands


#: Work budget of the multiprobe rule per row: fan-out × depth.
#: 80 = 8 (the family's target bucket depth) × 10 (the probe
#: fan-out p+2 at the 2 k-vector bench-reference corpus), so the
#: normalized split reproduces the depth-constant split exactly at
#: the bench SF (n=2000 → (8, 0) either way) and gets gently FINER
#: beyond it (depth 6.1 at 20 k, 5.5 at 60 k) — constant probe work
#: per row, paid in the recall knob, which stays above the integral
#: rule at every measured scale (its over-resolved chain ran depth
#: 4.9 at 20 k).
MULTIPROBE_WORK_TARGET = 80


def fractional_split_multiprobe(
    n: int, n_bands: int = 4, max_total: int = MAX_QUARTER_STEPS
) -> tuple[int, int]:
    """Fan-out-normalized fractional split for the MULTIPROBE rule.

    :func:`fractional_split` holds E[bucket depth] constant — right
    for exact collision (work/row = depth), but multiprobe work/row
    is ``(p+2)·depth``: the p prefix flips + extension flip each
    probe a depth-sized bucket, so constant depth still drifts
    super-linear by the log-n fan-out (measured 3.45× wall at 3×
    data AFTER the sawtooth fix — the fan-out term isolated).
    Normalization: run the same quarter-step integer chain with the
    COUNT side multiplied by the fan-out, against thresholds scaled
    by the work target —

        Q = #{k ≤ max: n·(p₁+2) > floor(T·2^((k-1)/4))},
        T = MULTIPROBE_WORK_TARGET, p₁ = fractional_split(n)'s
        prefix width

    — giving depth ≈ T/(p₁+2), i.e. work/row ≈ T = const at
    every corpus size. Still pure integer comparisons (both factors
    are integers, thresholds are Python-computed literals), so the
    SQL oracle restates it from the same count. Depth shrinks only
    as 1/log(n) (13 → 6.9 from 20 k to 60 k), and at gate scales
    the split is COARSER than the exact-collision one (depth 13 vs
    8 at n=500), so per-pair recall only rises vs the
    depth-constant form."""
    q1 = adaptive_total_planes(n, n_bands=n_bands, max_total=max_total)
    p1 = q1 // n_bands
    return fractional_split(
        n * (p1 + 2),
        n_bands=n_bands,
        target_bucket=MULTIPROBE_WORK_TARGET,
        max_total=max_total,
    )


def fractional_split_multiprobe_sql(
    count_sql: str, n_bands: int = 4, max_total: int = MAX_QUARTER_STEPS
) -> str:
    """SQL restatement of :func:`fractional_split_multiprobe`'s
    TOTAL (the caller derives p = Q//4, r = Q%4): the inner chain
    computes p₁ from the same thresholds as
    :func:`adaptive_total_planes_sql`, the outer chain compares the
    fan-out-multiplied count against the work-target thresholds."""
    q1 = adaptive_total_planes_sql(count_sql, n_bands=n_bands, max_total=max_total)
    boosted = (
        f"SELECT CAST((SELECT ({count_sql})) AS BIGINT)"
        f" * ((({q1}) // {n_bands}) + 2)"
    )
    return adaptive_total_planes_sql(
        boosted,
        n_bands=n_bands,
        target_bucket=MULTIPROBE_WORK_TARGET,
        max_total=max_total,
    )


def fractional_key_parts(prefix: Column, ext: Column, r: int) -> Column:
    """The key rule of the fractional construction from its parts:
    ``prefix·2 + (unmerged(prefix) ? ext : 0)`` with
    ``unmerged(prefix) ⟺ prefix % 4 < r`` — the ONE place the rule
    lives, so the probe generator (which flips prefixes and
    extension bits before keying) cannot desynchronize from the
    exact-collision key."""
    unmerged = (prefix % 4) < F.lit(r)
    return prefix * 2 + F.when(unmerged, ext).otherwise(F.lit(0).cast("bigint"))


def fractional_key(hp_col: Column, p: int, r: int) -> Column:
    """Bucket key of the fractional single-signature construction:
    ``prefix·2 + (unmerged(prefix) ? bit_p : 0)`` where ``prefix`` is
    the low ``p`` bits of the (p+1)-plane signature and
    ``unmerged(prefix) ⟺ prefix % 4 < r``. Merged prefixes key on
    ``p`` planes (depth n/2^p), unmerged ones on ``p+1`` (depth
    n/2^(p+1)); the r/4 mixture holds the EXPECTED depth within ±6%
    of target across a whole octave. ``p``/``r`` are Python literals
    (derived driver-side from one bounded count), so the SQL oracle
    restates the key with the same integer arithmetic."""
    prefix = hp_col.bitwiseAND(F.lit(((1 << p) - 1)).cast("bigint"))
    ext = F.shiftright(hp_col, p).bitwiseAND(F.lit(1).cast("bigint"))
    return fractional_key_parts(prefix, ext, r)


def band_layout(total: int, n_bands: int = 4) -> list[tuple[int, int]]:
    """Split a total plane count into ``n_bands`` (offset, width)
    bit-slices whose widths differ by at most one: the first
    ``total % n_bands`` bands get ``total//n_bands + 1`` planes, the
    rest ``total//n_bands``. Restated in SQL as
    off_b = b·(q//4) + least(b, q%4), w_b = q//4 + (b < q%4)."""
    w, m = divmod(total, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        wi = w + (1 if i < m else 0)
        out.append((off, wi))
        off += wi
    return out


def hyperplane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix: sign p,d is drawn
    from the parity of ``md5(f"{p}_{d}")``. Driver-side constants —
    the same matrix is embedded as literals in the SQL oracle, so both
    engines share the planes bit-exactly, and at any corpus size the
    plane table stays a few KB broadcast inside the plan."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16) % 2 == 0 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def hyperplane_bucket_words(vec_col: Column, signs) -> Column:
    """Random-hyperplane LSH signature (SimHash for embeddings),
    expression form: bit p = [⟨v, s_p⟩ + 1e-9 ≥ 0], packed
    :data:`SIGNATURE_WORD_BITS` planes per bigint word, so a P-plane
    signature is an array of ceil(P/60) words (one word, 0, for no
    planes). Two vectors at angle θ agree on a plane with probability
    1 - θ/π. The +1e-9 nudge keeps the sign decision identical across
    engines when a dot lands within float noise of zero.

    Each word is ONE ``aggregate`` over a literal plane table emitted
    as a single SQL string, with a (sum, power-of-two) accumulator: a
    chain of per-plane expressions (or per-literal Columns) costs
    seconds of plan construction at tens of planes.
    Missing dimensions of a short row contribute 0 to every dot, as in
    the numpy kernel and the SQL oracles; a NULL embedding has a NULL
    signature and so joins no bucket.

    This is the small-corpus path (:func:`hyperplane_signature`) and
    the reference the numpy kernel is parity-tested against; the SQL
    oracles restate it term for term."""
    zero = F.struct(
        F.lit(0).cast("bigint").alias("s"), F.lit(1).cast("bigint").alias("pw")
    )

    def step(acc, sv):
        dot = F.aggregate(
            F.zip_with(
                vec_col,
                sv,
                lambda a, b: F.coalesce(a.cast("double") * b, F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda t, x: t + x,
        )
        return F.struct(
            (
                acc["s"]
                + F.when(dot + F.lit(1e-9) >= 0, acc["pw"]).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("s"),
            (acc["pw"] * F.lit(2).cast("bigint")).alias("pw"),
        )

    def word(planes) -> Column:
        if not planes:
            return F.lit(0).cast("bigint")
        table = F.expr(
            "array("
            + ",".join(
                "array(" + ",".join(f"{float(x)}D" for x in s) + ")"
                for s in planes
            )
            + ")"
        )
        return F.aggregate(table, zero, step, lambda acc: acc["s"])

    wb = SIGNATURE_WORD_BITS
    return F.when(
        vec_col.isNotNull(),
        F.array(
            *[
                word(signs[w * wb : (w + 1) * wb])
                for w in range(signature_n_words(len(signs)))
            ]
        ),
    )


def hyperplane_bucket_words_arrow(
    vec_col: Column, signs, probe: tuple[int, int] | None = None
) -> Column:
    """Numpy form of :func:`hyperplane_bucket_words`: one matmul per
    Arrow batch instead of P·dim interpreted higher-order-function ops
    per row, which never enter whole-stage codegen (23× faster on the
    signature stage at 200 k vectors). Same +1e-9 nudge, word layout,
    short-row and NULL-row handling. numpy may reassociate a dot's
    additions, but the nudge is exactly the tolerance that keeps the
    sign decision stable under that ~1e-16 noise; the parity test pins
    the two forms against each other.

    ``probe=(prefix_planes, n_probes)`` appends one more element: the
    bounded multiprobe mask, with bit i set for the ``n_probes`` planes
    among the first ``prefix_planes`` whose dot lies closest to the
    hyperplane — the planes a borderline neighbour most likely sits
    across (Lv et al. 2007, multi-probe LSH). Closeness is ranked on
    floor((|dot| + 1e-9)·10⁶ + 0.5), the half-up rounding SQL
    round(x, 6) computes (numpy's own round is half-even), ties to the
    lower plane, so the oracle's row_number ranks identically. The
    nudge protects fixed thresholds, not this data-relative rank: two
    planes whose |dot| straddle a 10⁻⁶ quantization edge by less than
    float-summation noise could still rank differently on the two
    engines (a tie-heavy test fixture pins the rounding)."""
    if not signs:
        return F.when(vec_col.isNotNull(), F.array(F.lit(0).cast("bigint")))
    s_t = np.asarray(signs, dtype=np.float64).T  # (dim, P)
    dim, n_planes = s_t.shape
    word_of = np.arange(n_planes) // SIGNATURE_WORD_BITS
    weight = np.int64(1) << (np.arange(n_planes) % SIGNATURE_WORD_BITS)

    @F.pandas_udf("array<long>")
    def _signature(v: pd.Series) -> pd.Series:
        valid = v.notna().to_numpy()
        m = np.zeros((len(v), dim))
        try:
            x = np.stack(v[valid].to_numpy())
            m[valid, : x.shape[1]] = x[:, :dim]
        except ValueError:  # ragged rows (or none): pad/truncate each
            for i, row in zip(np.flatnonzero(valid), v[valid]):
                row = np.asarray(row[:dim], dtype=np.float64)
                m[i, : len(row)] = row
        m[np.isnan(m)] = 0.0  # a NULL element is a missing dimension
        dots = m @ s_t
        bits = ((dots + 1e-9) >= 0) * weight
        cols = [bits[:, word_of == w].sum(axis=1) for w in range(word_of[-1] + 1)]
        if probe is not None:
            prefix_planes, n_probes = probe
            rank = np.floor((np.abs(dots[:, :prefix_planes]) + 1e-9) * 1e6 + 0.5)
            nearest = np.argsort(rank, axis=1, kind="stable")[:, :n_probes]
            cols.append((np.int64(1) << nearest).sum(axis=1))
        out = pd.Series(list(np.stack(cols, axis=1).astype(np.int64)))
        out[~valid] = None
        return out

    return _signature(vec_col)


def signature_n_words(n_planes: int) -> int:
    """Words of a P-plane signature: ceil(P / 60), minimum 1."""
    return max(1, -(-n_planes // SIGNATURE_WORD_BITS))


#: Corpus size where the numpy signature kernel starts to win. The
#: pandas_udf round trip is a fixed per-query cost (~0.2-0.4 s), which
#: cost 2 k-vector queries 15-45% while the kernel ran the signature
#: stage 23× faster at 200 k vectors; 10 k rows is where the
#: interpreted per-row cost (planes × dim HOF ops) first exceeds that
#: fixed cost with margin.
ARROW_SIGNATURE_MIN_ROWS = 10_000

#: ... or when rows × planes crosses this: the interpreted cost is per
#: plane-dot, the kernel's per query (a 90-plane signature over 2 k
#: rows ran 2.45 s as expressions vs 1.24 s in numpy; at ≤ 16 planes
#: the two are within noise).
ARROW_SIGNATURE_MIN_WORK = 100_000


def hyperplane_signature(
    vec_col: Column, signs, n_rows: int | None, probe: tuple[int, int] | None = None
) -> Column:
    """The signature words of :func:`hyperplane_bucket_words` from the
    cheaper engine for the shape. The numpy kernel runs when the corpus
    is large (:data:`ARROW_SIGNATURE_MIN_ROWS`), the plane-dot work is
    large (:data:`ARROW_SIGNATURE_MIN_WORK`), the size is unknown (the
    scale-safe default) or a probe mask is asked for (only the kernel
    computes one); the expression form otherwise, which skips the
    pandas_udf round trip. The forms are bit-identical, so this only
    picks speed."""
    small = (
        n_rows is not None
        and n_rows < ARROW_SIGNATURE_MIN_ROWS
        and n_rows * max(len(signs), 1) < ARROW_SIGNATURE_MIN_WORK
    )
    if small and probe is None:
        return hyperplane_bucket_words(vec_col, signs)
    return hyperplane_bucket_words_arrow(vec_col, signs, probe)


def band_key_words(word_cols: list[Column], off: int, width: int) -> Column:
    """Bit-slice [off, off+width) of a multi-word signature as one
    bigint band key. ``off``/``width`` are Python literals (the
    driver-side band layout), so word selection and the straddle
    split are resolved at plan-build time: a band lies in one word,
    or spans exactly two (width ≤ 31 < 60). The SQL oracle restates
    the same split with CASE arithmetic over the same layout
    scalars."""
    wb = SIGNATURE_WORD_BITS
    lo_word, lo_off = divmod(off, wb)
    lo_bits = min(wb - lo_off, width)
    key = F.shiftright(word_cols[lo_word], lo_off).bitwiseAND(
        F.lit((1 << lo_bits) - 1).cast("bigint")
    )
    if width > lo_bits:  # straddles into the next word
        hi = word_cols[lo_word + 1].bitwiseAND(
            F.lit((1 << (width - lo_bits)) - 1).cast("bigint")
        )
        key = key + F.shiftleft(hi, lo_bits)
    return key


def near_dup_pairs_hyperplane(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    target_bucket: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with random-hyperplane LSH candidate
    generation: bucket on the hyperplane signature, then verify cosine
    within buckets. No label or trained centroids needed — the
    data-independent LSH variant of :func:`near_dup_pairs`.

    The resolution comes from the corpus count via
    :func:`fractional_split`: the signature reads p+1 planes, merged
    prefixes bucket on p bits and the ``prefix % 4 < r`` quarter on
    p+1 (:func:`fractional_key`), so E[bucket depth] — and with it
    per-bucket verify work — stays within ±6% of ``target_bucket`` at
    any corpus size instead of sawtoothing ±2× per octave. A genuine
    near-dup pair collides only with probability ≈ (1-θ/π)^p; probing
    (:func:`near_dup_pairs_multiprobe`) or banding
    (:func:`near_dup_pairs_banded`) over the same signature buys that
    recall back. ``n_rows`` (the corpus count when the caller already
    knows it, e.g. from parquet footers) skips the count job.

    Verify tail: exact-collision verify work is Σ bucket-depth², and on
    label-clustered corpora dense cells split slower than the mean as
    planes are added (Σd² grew 14.5× per decade at 200 k vectors while
    mean depth stayed flat). Past :data:`ARROW_SIGNATURE_MIN_ROWS` the
    pairs therefore come from :func:`near_dup_pairs_blas` — numpy
    matmuls per bucket, dense cells spread over block-pair tasks;
    smaller corpora keep the higher-order-function join, which is
    faster under the applyInPandas fixed cost. Both tails emit the same
    pairs (test-pinned)."""
    n = df.count() if n_rows is None else n_rows
    p, r = fractional_split(n, target_bucket=target_bucket)
    # r = 0 never keys on the extension bit, so skip its plane
    signs = hyperplane_signs(p + (1 if r else 0), dim)
    hp = F.element_at(hyperplane_signature(F.col(vec_col), signs, n), 1)
    df = ensure_scan_parallelism(df, n)
    bucketed = _cache_signatures(
        df.select(
            F.col(id_col), F.col(vec_col), fractional_key(hp, p, r).alias("hp_bucket")
        )
    )
    if n < ARROW_SIGNATURE_MIN_ROWS:
        return near_dup_pairs(
            bucketed, "hp_bucket", id_col=id_col, vec_col=vec_col, threshold=threshold
        )
    return near_dup_pairs_blas(
        bucketed,
        "hp_bucket",
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        split_bucket=4096,
    )


# One persisted signature frame at a time: the census, the anti join
# and both sides of the candidate join all read the signature frame,
# and the interpreted signature is the family's dominant per-row cost,
# so an unpersisted frame would recompute it once per consumer. Each
# call evicts the previous call's frame.
_SIG_CACHE: list = []


def _cache_signatures(bucketed: DataFrame) -> DataFrame:
    while _SIG_CACHE:
        try:
            _SIG_CACHE.pop().unpersist()
        except Exception:
            pass  # stale handle from a stopped session
    bucketed = bucketed.persist()
    _SIG_CACHE.append(bucketed)
    return bucketed


def _verify_pairs(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Attach both vectors to distinct candidate id pairs and apply
    the shared rounded-cosine cut. Norms ride the per-vector
    projections (n folds), not the pair expression (2 folds per
    pair) — the same values with a third of the per-pair work."""
    a = df.select(
        F.col(id_col).alias("a_id"), to_double_array(F.col(vec_col)).alias("qv")
    ).withColumn("_qn", norm(F.col("qv")))
    b = df.select(
        F.col(id_col).alias("b_id"), to_double_array(F.col(vec_col)).alias("cv")
    ).withColumn("_cn", norm(F.col("cv")))
    return (
        cand.join(a, on="a_id")
        .join(b, on="b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.try_divide(
                    dot(F.col("qv"), F.col("cv")), F.col("_qn") * F.col("_cn")
                )
                + F.lit(1e-9),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def _probe_join_pairs(
    df: DataFrame,
    sig: Column,
    exact_keys: Column,
    probe_keys: Column,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_bucket: int,
    n_rows: int | None,
) -> DataFrame:
    """The candidate generator under the probe and band constructions,
    followed by the rounded-cosine verify. ``sig`` is the signature
    column; ``exact_keys`` (over column ``sig``) is the array of a
    row's bucket keys, one per *unit* — one unit per row for probing,
    one per band for banding; ``probe_keys`` (over ``sig`` and the
    unit's own ``key``) is the array of buckets the unit looks into,
    NULL entries skipped. A pair is a candidate when a probe key of
    one side's unit equals an exact key of the other's.

    The shared work, in order: persist the signature frame (every
    step below reads it); drop the units whose exact key holds more
    than ``max_bucket`` rows (census groupBy + broadcast anti join),
    so an adversarial corpus collapsing onto one key loses recall on
    that key but can never make a task's pair work exceed
    max_bucket² — on non-adversarial data the adaptive widths keep
    depth far below the cap; explode the probes, equi-join on the key
    and keep the canonical (least, greatest) id pairs distinct. A
    probe rule need not be symmetric — a pair may meet in one
    direction only — so the pair is canonicalized rather than
    filtered with ``<``. Bare ids travel through the join and the
    distinct; the vectors attach only in :func:`_verify_pairs`. Rows
    with a NULL signature (NULL embeddings) take part in no pair."""
    df = ensure_scan_parallelism(df, n_rows)
    # filter the cached frame: pushed below the projection, the NULL
    # test would evaluate the signature a second time
    rows = _cache_signatures(df.select(F.col(id_col), sig.alias("sig"))).where(
        F.col("sig").isNotNull()
    )
    units = rows.select(F.col(id_col), "sig", F.explode(exact_keys).alias("key"))
    hot = (
        units.groupBy("key")
        .agg(F.count(F.lit(1)).alias("_bn"))
        .where(F.col("_bn") > max_bucket)
        .select("key")
    )
    units = units.join(F.broadcast(hot), on="key", how="left_anti")
    probes = units.select(
        F.col(id_col), F.explode(probe_keys).alias("key")
    ).where(F.col("key").isNotNull())
    exact = units.select(F.col(id_col).alias("item_id"), "key")
    cand = (
        probes.join(exact, on="key")
        .where(F.col(id_col) != F.col("item_id"))
        .select(
            F.least(F.col(id_col), F.col("item_id")).alias("a_id"),
            F.greatest(F.col(id_col), F.col("item_id")).alias("b_id"),
        )
        .distinct()
    )
    return _verify_pairs(cand, df, id_col, vec_col, threshold)


#: Default probe budget of :func:`near_dup_pairs_multiprobe`. While the
#: prefix width p ≤ 8, flipping every prefix plane costs no more than
#: the bounded rule would (fan-out p+2 ≤ 10) and both rules emit the
#: same pairs, so small corpora — p = 6 at 500 vectors, 8 at 2 000 —
#: run the full rule. Past it each row probes only its 8 nearest
#: planes: 10 probe rows per input row at every corpus size, where the
#: full rule's log-n fan-out made the explode n·log n (11.1× wall per
#: decade).
MULTIPROBE_BOUNDED_FANOUT = 8


def near_dup_pairs_multiprobe(
    df: DataFrame,
    signs,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_bucket: int = 4096,
    prefix_planes: int | None = None,
    split_r: int = 0,
    n_rows: int | None = None,
    n_probes: int = MULTIPROBE_BOUNDED_FANOUT,
) -> DataFrame:
    """Multi-probe hyperplane LSH near-dup pairs — the recall knob
    the adaptive resolution trades against: a pair whose bucket
    prefixes differ in one plane is still a candidate, so a
    borderline vector that flips one near-zero dot still meets its
    neighbour, at the cost of one explode to a few probe keys per row
    (candidate volume linear in bucket depth, never quadratic).

    Keys are :func:`fractional_key` over a (p+1)-plane signature
    (``prefix_planes=p``, ``split_r=r``): merged prefixes
    (``prefix % 4 >= r``) key on p bits, the rest on p+1, so depth
    steps by ~1.19× per quarter-octave of data instead of 2×.
    ``prefix_planes=None`` is the integral rule: p = len(signs), r = 0.
    With d = Hamming(prefix_a, prefix_b) the full rule is

      d = 0  → candidate (the extension-flip probe covers unmerged
               pairs whose extension bits differ);
      d = 1  → candidate iff merged(prefix_a) OR merged(prefix_b)
               OR ext_a = ext_b;
      d ≥ 2  → not a candidate.

    While p ≤ ``n_probes`` the full rule runs, probing in one
    canonical direction since it is symmetric: each row probes its
    exact key; the UP flips of its prefix (planes where its bit is 0 —
    for a pair one plane apart exactly the side with bit 0 probes, and
    the key match encodes the meet condition against the target's
    layout); the DOWN flips only from an unmerged prefix into a merged
    one (possible for planes 0/1 only, the ``% 4`` selector bits),
    the one case the up-prober's key cannot reach; and the extension
    flip only when unmerged with ext = 0 (a merged row's flip keys
    like its exact probe and would re-enumerate its whole bucket).
    Every qualifying pair meets, with about half the meetings of
    two-directional probing.

    Past p > ``n_probes`` the masked rule runs (Lv et al. 2007): each
    row probes its exact key, its extension flip when unmerged, and
    only the ``n_probes`` prefix planes nearest its hyperplanes
    (:func:`hyperplane_bucket_words_arrow`'s probe mask), in both
    directions because the masks are per side. A d = 1 pair is then a
    candidate iff the differing plane is in either side's mask and the
    meet condition holds — the full rule restricted to masked planes,
    and the same rule exactly when every plane is masked. Probe work
    per row is (n_probes+2)·depth with both factors constant, so the
    candidate stage stays linear at any corpus size; a pair is missed
    only when its differing plane lies outside both rows' nearest
    sets."""
    p = len(signs) if prefix_planes is None else prefix_planes
    r = split_r
    # one bigint word: p ≤ MAX_QUARTER_STEPS // 4 = 30 by construction
    assert p + 1 <= SIGNATURE_WORD_BITS and len(signs) <= SIGNATURE_WORD_BITS
    masked = p > n_probes
    sig = hyperplane_signature(
        F.col(vec_col), signs, n_rows, probe=(p, n_probes) if masked else None
    )
    hp = F.element_at("sig", 1)
    prefix = hp.bitwiseAND(F.lit((1 << p) - 1).cast("bigint"))
    ext = F.shiftright(hp, p).bitwiseAND(F.lit(1).cast("bigint"))
    unmerged = (prefix % 4) < F.lit(r)

    def bit(x: Column, i: int) -> Column:
        return F.shiftright(x, i).bitwiseAND(F.lit(1).cast("bigint")) == 1

    def flip(i: int) -> Column:
        target = prefix.bitwiseXOR(F.lit(1 << i).cast("bigint"))
        if masked:
            ok = bit(F.element_at("sig", -1), i)
        else:
            ok = ~bit(prefix, i)
            if i < 2 and r > 0:
                ok = ok | (unmerged & ((target % 4) >= F.lit(r)))
        return F.when(ok, fractional_key_parts(target, ext, r))

    ext_ok = unmerged if masked else unmerged & (ext == 0)
    probes = F.array(
        F.col("key"),
        F.when(
            ext_ok,
            fractional_key_parts(prefix, F.lit(1).cast("bigint") - ext, r),
        ),
        *[flip(i) for i in range(p)],
    )
    return _probe_join_pairs(
        df,
        sig,
        F.array(fractional_key_parts(prefix, ext, r)),
        probes,
        id_col,
        vec_col,
        threshold,
        max_bucket,
        n_rows,
    )


def near_dup_pairs_banded(
    df: DataFrame,
    signs,
    n_bands: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_bucket: int = 4096,
    widths: list[int] | None = None,
    n_rows: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """Banded hyperplane LSH — the canonical high-recall
    construction: ONE wide signature is sliced into ``n_bands``
    disjoint bit-bands, and a pair is a candidate when ANY band
    matches exactly. Per-band collision s^P (s = 1-θ/π, P = band
    width) compounds to 1-(1-s^P)^R: width buys precision (bucket
    depth), bands buy recall, both at linear cost. Each (row, band)
    is a unit of :func:`_probe_join_pairs` whose only probe is its own
    key, so a hot band key drops just that band of its rows. Because
    bands are bit-slices of the same signature, the planes are
    computed once and the SQL oracle recovers every band key by
    slicing the one signature value.

    ``widths`` makes the resolution fractional: band b is the slice
    [off_b, off_b + widths[b]) with widths differing by at most one
    (:func:`band_layout` of an :func:`adaptive_total_planes` count),
    so one more plane doubles the depth of ONE band and candidate
    work steps by ~2^(1/n_bands) instead of 2×. Zero-width bands
    (corpora of ≤ ~13 rows) key every row to 0, which the census cap
    bounds like any other key. ``None`` splits ``len(signs)`` evenly.
    ``offset`` shifts every slice up by that many planes — planes are
    i.i.d., so this reads a different but statistically identical
    signature; it lets small corpora exercise band keys in word 1 and
    across the 60-bit word boundary (``sim_lsh_banded_hiword``)."""
    if widths is None:
        assert offset == 0, "offset requires explicit widths"
        assert len(signs) % n_bands == 0, "plane count must divide into bands"
        widths = [len(signs) // n_bands] * n_bands
    assert len(widths) == n_bands and offset + sum(widths) <= len(signs)
    words = [
        F.element_at("sig", w + 1) for w in range(signature_n_words(len(signs)))
    ]
    bands, off = [], offset
    for b, w in enumerate(widths):
        bands.append(
            F.struct(F.lit(b).alias("band"), band_key_words(words, off, w).alias("key"))
        )
        off += w
    return _probe_join_pairs(
        df,
        hyperplane_signature(F.col(vec_col), signs, n_rows),
        F.array(*bands),
        F.array(F.col("key")),
        id_col,
        vec_col,
        threshold,
        max_bucket,
        n_rows,
    )


def near_dup_pairs_blas(
    df: DataFrame,
    bucket_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_blocks: int = 8,
    split_bucket: int = 8192,
) -> DataFrame:
    """Vectorized variant of :func:`near_dup_pairs`: BLAS matrix
    products via ``applyInPandas`` instead of per-pair interpreted
    array lambdas (~10× at 64 dims, growing with dimension).

    Oversized-bucket split (the hot-bucket guard, same design as
    ``prefix_filtered_jaccard_pairs``'s ``split_bucket``): a bucket's
    pairwise work is intrinsically quadratic in its population, and
    one-task-per-bucket made the largest bucket a straggler — the
    sf1 sweep measured 16× wall-clock at 10× vectors because each
    label bucket ran as ONE task. Buckets larger
    than ``split_bucket`` rows (a bounded census: groupBy count on
    the bucket key, broadcast back — the corpus itself never
    shuffles for the census) hash their rows into ``n_blocks``
    blocks and replicate each row to the ``n_blocks`` (i ≤ j)
    block-pair groups it participates in, so the bucket's n²
    products spread over n_blocks(n_blocks+1)/2 tasks of
    (n/n_blocks)² each: no task ever holds a whole oversized bucket
    (memory bound = 2n/n_blocks rows), stragglers parallelize, and
    every unordered pair is computed in EXACTLY ONE group — output
    bit-identical to the one-task form (same float64 dot from the
    same inputs). Buckets at or under the cap keep the
    single-group, zero-replication path, so small-corpus plans pay
    only the census. Raw cosines are computed in float64;
    rounding/threshold semantics applied JVM-side so they stay
    identical to the HOF form.
    """
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("a_id", LongType()),
            StructField("b_id", LongType()),
            StructField("raw_cos", DoubleType()),
        ]
    )

    def pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[-2]), int(key[-1])
        empty = pd.DataFrame(columns=["a_id", "b_id", "raw_cos"])
        if len(pdf) < 2:
            return empty

        def block(sel: pd.DataFrame):
            order = sel[id_col].to_numpy().argsort()
            ids = sel[id_col].to_numpy()[order]
            x = np.stack(sel[vec_col].to_numpy()[order]).astype(np.float64)
            # zero-norm guard: an all-zero embedding must score 0
            # (below any positive threshold), matching the HOF form's
            # NULL-drop — an unguarded 0/0 NaN would PASS the >=
            # filter (NaN sorts high in Spark) and emit spurious pairs
            xn = x / np.maximum(
                np.linalg.norm(x, axis=1, keepdims=True), 1e-300
            )
            return ids, xn

        if gi == gj:
            ids, xn = block(pdf)
            sims = xn @ xn.T
            ai, bi = np.triu_indices(len(ids), k=1)
            return pd.DataFrame(
                {"a_id": ids[ai], "b_id": ids[bi], "raw_cos": sims[ai, bi]}
            )
        a_sel = pdf[pdf["_blk"] == gi]
        b_sel = pdf[pdf["_blk"] == gj]
        if a_sel.empty or b_sel.empty:
            return empty
        a_ids, a_xn = block(a_sel)
        b_ids, b_xn = block(b_sel)
        sims = a_xn @ b_xn.T
        ai, bi = np.indices(sims.shape)
        ai, bi = ai.ravel(), bi.ravel()
        lo = np.minimum(a_ids[ai], b_ids[bi])
        hi = np.maximum(a_ids[ai], b_ids[bi])
        return pd.DataFrame(
            {"a_id": lo, "b_id": hi, "raw_cos": sims[ai, bi]}
        )

    # a NULL embedding pairs with nothing (the HOF form's NULL cosine)
    base = df.select(F.col(bucket_col), F.col(id_col), F.col(vec_col)).where(
        F.col(vec_col).isNotNull()
    )
    census = base.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("_bn"))
    big = F.col("_bn") > F.lit(split_bucket)
    blk = F.when(
        big, F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    ).otherwise(F.lit(0))
    ks = F.when(big, F.sequence(F.lit(0), F.lit(n_blocks - 1))).otherwise(
        F.array(F.lit(0))
    )
    rep = (
        base.join(F.broadcast(census), bucket_col)
        .withColumn("_blk", blk)
        .withColumn("_k", F.explode(ks))
        .select(
            bucket_col,
            id_col,
            vec_col,
            "_blk",
            F.least("_blk", "_k").alias("_gi"),
            F.greatest("_blk", "_k").alias("_gj"),
        )
    )
    scored = rep.groupBy(bucket_col, "_gi", "_gj").applyInPandas(
        pairs, schema=out_schema
    )
    rounded = F.round(F.col("raw_cos") + F.lit(1e-9), 6)
    return (
        scored.select("a_id", "b_id", rounded.alias("cos_sim"))
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# IVF: real centroid training + assignment (the 100 TB ANN path).
# Training is driver-side numpy over a BOUNDED sample (the classic IVF
# recipe — centroid count and sample size are independent of corpus
# size); assignment and search are distributed.
# ---------------------------------------------------------------------------


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 10,
    sample_limit: int = 10_000,
    seed: int = 42,
):
    """Spherical k-means on a bounded sample, driver-side.

    Returns a unit-normalized (k, d) numpy array. The sample cap (not
    a fraction) keeps driver memory constant at any corpus size;
    deterministic under the seed.
    """
    # Narrow deterministic sample: hash-filter then limit — no global
    # sort/shuffle of the corpus, constant driver memory.
    sample = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .where(F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(4)) == 0)
        .limit(sample_limit)
        .collect()
    )
    if len(sample) < k:
        # small corpus: the ~1/4 hash filter can starve (or empty) the
        # sample — fall back to an unfiltered limit so training never
        # crashes on a corpus that brute force would handle anyway
        sample = (
            df.select(F.col(vec_col).cast("array<double>").alias("v"))
            .limit(sample_limit)
            .collect()
        )
    if not sample:
        raise ValueError("kmeans_centroids: empty corpus — nothing to train on")
    x = np.array([r[0] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(k, len(x)), replace=False)]
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def assign_ivf_buckets(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    nprobe: int = 1,
    out_col: str = "ivf_bucket",
) -> DataFrame:
    """Attach the top-``nprobe`` centroid ids per row (vectorized
    argpartition over the broadcast (k, d) centroid matrix; one output
    row per probe via explode). nprobe=1 for corpus indexing, >1 for
    query-side multi-probe recall."""
    from pyspark.sql.types import ArrayType, IntegerType

    cents = centroids.astype("float64")

    @F.pandas_udf(ArrayType(IntegerType()))
    def probes(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cents.T
        if nprobe >= sims.shape[1]:
            top = np.argsort(-sims, axis=1)
        else:
            part = np.argpartition(-sims, nprobe, axis=1)[:, :nprobe]
            order = np.take_along_axis(sims, part, axis=1).argsort(axis=1)[:, ::-1]
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series([row[:nprobe].tolist() for row in top])

    return df.withColumn(out_col, F.explode(probes(F.col(vec_col))))


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN search: corpus indexed once (nprobe=1), queries probe
    their ``nprobe`` nearest cells, scoring is bucket-local (equi join
    on the cell id — never a cross join). Recall improves with nprobe
    at linear probe cost; results become exact (= cosine_topk) only
    when nprobe reaches the centroid count — nprobe is unrelated to
    k."""
    c = assign_ivf_buckets(corpus, centroids, vec_col, nprobe=1)
    q = assign_ivf_buckets(queries, centroids, vec_col, nprobe=nprobe)
    scored = _scored(q, c, id_col, vec_col, on=["ivf_bucket"])
    # A (query, item) pair can meet in several probed cells → dedup
    # before ranking.
    scored = scored.groupBy("query_id", "item_id").agg(F.max("cos_sim").alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "item_id", "cos_sim")
    )


def cosine_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_index_rows: int = 2_000_000,
) -> DataFrame:
    """Broadcast-corpus brute-force top-k: the physical shape
    exhaustive scoring should take when the corpus index fits in
    executor memory — replicate the (ids, matrix, norms) triple once
    per worker via a broadcast variable, then stream query batches
    through ONE BLAS matmul each. No crossJoin row explosion, no
    shuffle, no per-pair interpreted lambdas; wall-clock scales as
    queries × corpus FLOPs at memory bandwidth. Value-identical to
    :func:`cosine_topk` (same +1e-9/round-6 policy applied BEFORE
    ranking, same (cos desc, item_id) tie-break) — the registry
    checks both against one oracle. Corpus larger than worker memory
    → shard the corpus and merge per-shard top-k, or switch to
    :func:`ivf_cosine_topk`.

    The corpus materializes at the DRIVER before broadcast, so the
    index size is a hard contract, not a hope: a cheap count() guard
    (``max_index_rows``, default 2M ≈ a few GB at typical embedding
    widths) turns an oversized corpus into an immediate, actionable
    error instead of a driver OOM minutes into the collect.
    """
    n_index = corpus.count()
    if n_index > max_index_rows:
        raise ValueError(
            f"cosine_topk_blas: corpus has {n_index} rows, over the "
            f"broadcast-index budget of {max_index_rows}. This operator "
            "replicates the whole index to every worker — shard the "
            "corpus and merge per-shard top-k, or use ivf_cosine_topk "
            "(bucketed ANN), which scales past worker memory."
        )
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.stack(
        [np.asarray(rows[int(i)][1], dtype=np.float64) for i in order]
    )
    norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-300)
    bc = queries.sparkSession.sparkContext.broadcast((ids, mat, norms))

    def score(batches):
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf[vec_col].map(np.asarray)).astype(np.float64)
            qn = np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-300)
            raw = (q @ b_mat.T) / (qn * b_norms)
            # rank on a HALF-AWAY-FROM-ZERO 6-decimal round (np.round
            # is half-to-even — it can diverge from Spark/DuckDB round
            # on exact .5 ties); the emitted value stays raw and is
            # rounded JVM-side below, exactly as near_dup_pairs_blas
            # does, so both engines share one rounding implementation
            shifted = raw + 1e-9
            rank_key = np.copysign(np.floor(np.abs(shifted) * 1e6 + 0.5) / 1e6, shifted)
            out = []
            for qi, qid in enumerate(pdf[id_col].to_numpy()):
                keep = b_ids != qid  # exclude self
                cand_ids = b_ids[keep]
                cand_key, cand_raw = rank_key[qi][keep], raw[qi][keep]
                top = np.lexsort((cand_ids, -cand_key))[:k]
                for rank, j in enumerate(top, start=1):
                    out.append((int(qid), rank, int(cand_ids[j]), float(cand_raw[j])))
            yield pd.DataFrame(out, columns=["query_id", "rank", "item_id", "cos_sim"])

    scored = queries.select(id_col, vec_col).mapInPandas(
        score, "query_id long, rank int, item_id long, cos_sim double"
    )
    return scored.withColumn("cos_sim", F.round(F.col("cos_sim") + F.lit(1e-9), 6))


def semantic_dedup(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the embedding space, then drop near-duplicates
    cluster-locally.

    Within each k-means cluster, every pair with rounded cosine >=
    ``threshold`` marks one member for removal: the one MORE similar
    to its centroid (ties -> larger id) — the paper's
    keep-the-outlier rule, which preserves diversity, made
    deterministic. Non-iterative by construction (a single drop pass,
    not a greedy sequence), so the result is order-independent and
    reproducible across partitionings.

    Scale shape: centroid assignment is one Arrow-batched matmul
    against the broadcast (k, d) matrix (no shuffle); the pair scan
    is CLUSTER-local (the near_dup_pairs bucket join — candidate
    space is sum of squared cluster sizes, never corpus²); the drop
    set is one distinct + one anti-join. All keys are ints.

    Returns (id, cluster, centroid_sim, kept) for every input row.
    """
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    cents = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf(
        StructType(
            [
                StructField("cluster", IntegerType()),
                StructField("centroid_sim", DoubleType()),
            ]
        )
    )
    def assign(vecs: pd.Series) -> pd.DataFrame:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cents.T
        best = sims.argmax(axis=1)
        return pd.DataFrame(
            {
                "cluster": best.astype("int32"),
                "centroid_sim": sims[np.arange(len(best)), best],
            }
        )

    assigned = df.select(
        F.col(id_col),
        F.col(vec_col),
        assign(F.col(vec_col)).alias("_a"),
    ).select(
        id_col,
        vec_col,
        F.col("_a.cluster").alias("cluster"),
        F.round(F.col("_a.centroid_sim") + F.lit(1e-9), 6).alias("centroid_sim"),
    )
    pairs = near_dup_pairs(
        assigned, "cluster", id_col=id_col, vec_col=vec_col, threshold=threshold
    )
    sims = assigned.select(F.col(id_col).alias("_id"), F.col("centroid_sim").alias("_cs"))
    # For each near-dup pair, drop the member closer to the centroid
    # (tie -> larger id): one broadcast-sized decision join per side.
    drops = (
        pairs.join(sims.withColumnRenamed("_id", "a_id").withColumnRenamed("_cs", "a_cs"), "a_id")
        .join(sims.withColumnRenamed("_id", "b_id").withColumnRenamed("_cs", "b_cs"), "b_id")
        .select(
            F.when(
                (F.col("a_cs") > F.col("b_cs"))
                | ((F.col("a_cs") == F.col("b_cs")) & (F.col("a_id") > F.col("b_id"))),
                F.col("a_id"),
            )
            .otherwise(F.col("b_id"))
            .alias("_drop")
        )
        .distinct()
    )
    return assigned.join(
        drops, assigned[id_col] == drops["_drop"], "left"
    ).select(
        id_col,
        "cluster",
        "centroid_sim",
        F.col("_drop").isNull().alias("kept"),
    )


def quantize_embeddings_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar (per-dimension min/max) int8 quantization of an
    embedding column — the storage/bandwidth compression every
    production ANN index applies before sharding (4x smaller than
    float32, 8x smaller than the float64 shuffle representation).

    Two passes, both scale-safe:

    1. Per-dimension corpus min/max via posexplode + groupBy(dim).
       d keys only, and min/max partial-aggregate map-side, so the
       exchange carries d rows per partition — never the corpus.
    2. The d-row stats table is collapsed to one array row and
       broadcast-joined back (BroadcastNestedLoopJoin of a 1-row
       build side — constant cost); codes are computed JVM-side with
       ``transform`` + ``element_at``: code = round(255*(x-lo)/span),
       span clamped so constant dimensions quantize to 0.

    Emits per-vector codes plus the mean absolute reconstruction
    error — the quality metric a quantized index is accepted on.
    """
    v = F.col(vec_col).cast("array<double>")
    dims = df.select(F.posexplode(v).alias("i", "x"))
    stats = dims.groupBy("i").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    minmax = stats.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("i", "lo", "hi"))
        ).alias("_s")
    ).select(
        F.transform("_s", lambda s: s["lo"]).alias("_lo"),
        F.transform("_s", lambda s: F.greatest(s["hi"] - s["lo"], F.lit(1e-12))).alias(
            "_span"
        ),
    )
    coded = df.select(F.col(id_col), v.alias("_v")).crossJoin(F.broadcast(minmax))
    code = lambda x, i: F.round(
        (x - F.element_at("_lo", i + 1)) / F.element_at("_span", i + 1) * 255
        + F.lit(1e-9)
    ).cast("int")
    recon = lambda c, i: F.element_at("_lo", i + 1) + c / F.lit(255.0) * F.element_at(
        "_span", i + 1
    )
    codes = F.transform("_v", code)
    err = F.aggregate(
        F.zip_with(F.transform(codes, recon), "_v", lambda r, x: F.abs(r - x)),
        F.lit(0.0),
        lambda acc, e: acc + e,
    ) / F.size("_v")
    return coded.select(
        id_col,
        F.array_join(codes.cast("array<string>"), ",").alias("codes"),
        F.round(err + F.lit(1e-9), 6).alias("mean_abs_err"),
    )


# --- product quantization (PQ) ----------------------------------------------



def pq_codebook_rows(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
) -> list[tuple[int, list[tuple[int, list[float]]]]]:
    """Deterministic PQ codebook, materialized at the DRIVER: the
    ``n_codes`` seed vectors (corpus rows ranked by ``md5(id)`` — a
    uniform, engine-portable pseudo-random draw; sample-initialized
    codebooks are the standard PQ baseline) are collected with ONE
    bounded TakeOrdered job (n_codes rows — same driver contract as
    the k-means sample cap) and sliced locally.

    Returns ``[(sub, [(code, cent), ...]), ...]`` — the whole
    codebook is ``n_sub × n_codes`` subvectors (128 here). Collecting
    it once is what keeps the ADC search a single corpus scan: built
    lazily, every broadcast of the codebook (assignment join, lookup
    table) re-ran the corpus TakeOrdered subplan.
    """
    d_sub = dim // n_sub
    h = F.md5(F.col(id_col).cast("string"))
    rows = (
        embeddings.orderBy(h, F.col(id_col))
        .limit(n_codes)
        .select(h.alias("_h"), F.col(id_col), to_double_array(F.col(vec_col)).alias("v"))
        .collect()
    )
    rows.sort(key=lambda r: (r[0], r[1]))  # (md5, id) — row_number order
    return [
        (
            s,
            [
                (code, list(r[2][s * d_sub : (s + 1) * d_sub]))
                for code, r in enumerate(rows)
            ],
        )
        for s in range(n_sub)
    ]



def _d(x: float) -> str:
    """Shortest-repr double SQL literal — round-trips to the exact
    same IEEE double when Spark's parser reads it back."""
    return repr(float(x)) + "D"


def _pq_best_sql(v_sql: str, sub: int, cands, d_sub: int) -> str:
    """SQL for the (dist, code) struct of the nearest centroid in
    subspace ``sub``: ``array_min`` over ``transform`` of the literal
    candidate array, distance via ``zip_with``+``aggregate`` — the
    same left-associated IEEE chain and (rounded dist, code)
    tie-break as the joined form this replaces.

    Emitted as ONE SQL string (parsed JVM-side in a single call)
    because building the equivalent unrolled Column tree in Python
    costs ~10 s of py4j round trips per query and overflows codegen
    into slow interpreted eval; the HOF form stays compact and its
    lambdas touch only attributes and the constant-folded candidate
    literal. The raw float element is cast to double per element
    (exact) — no whole-array cast that CollapseProject would inline
    into every reference."""
    items = ", ".join(
        f"named_struct('code', {code}, 'cent', "
        f"array({', '.join(_d(x) for x in cent)}))"
        for code, cent in cands
    )
    sv = f"slice({v_sql}, {sub * d_sub + 1}, {d_sub})"
    return (
        f"array_min(transform(array({items}), c -> named_struct("
        f"'dist', round(aggregate(zip_with({sv}, c.cent, "
        f"(a, b) -> (cast(a AS double) - b) * (cast(a AS double) - b)), "
        f"0.0D, (acc, x) -> acc + x) + 1e-9, 6), "
        f"'code', c.code)))"
    )


def pq_codes(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
    codebook_rows: list | None = None,
) -> DataFrame:
    """Product-quantization encoding: each vector compresses to
    ``n_sub`` one-byte codes — the nearest codebook centroid per
    subspace (squared-L2, ties to the lowest code). 64 float32 dims
    → 8 bytes: a 32× memory cut that lets a 100 TB embedding corpus
    sit in RAM-resident ANN indexes.

    Shape: the driver-literal codebook is folded INTO the projection
    (constant-folded candidate arrays — see :func:`_pq_best_sql`), so
    each row computes its 8 (code, dist) structs in one pass and
    ``posexplode`` emits them: ONE corpus scan, zero joins, zero
    exchanges, zero Python. (The previous
    posexplode→broadcast-join→array_min form produced identical
    values but shipped every sub-row through a join.)
    Returns (id, sub, code, dist) with dist rounded at 6 decimals
    (the argmin key, cross-engine stable). Pass ``codebook_rows`` to
    share one collected codebook across encode and search stages.
    """
    d_sub = dim // n_sub
    rows = (
        codebook_rows
        if codebook_rows is not None
        else pq_codebook_rows(embeddings, id_col, vec_col, dim, n_sub, n_codes)
    )
    per_sub = F.expr(
        "array("
        + ", ".join(_pq_best_sql(f"`{vec_col}`", s, cands, d_sub) for s, cands in rows)
        + ")"
    )
    return embeddings.select(
        F.col(id_col), F.posexplode(per_sub).alias("sub", "_b")
    ).select(
        F.col(id_col),
        "sub",
        F.col("_b.code").alias("code"),
        F.col("_b.dist").alias("dist"),
    )


def _pq_l2_chain_py(a: list[float], b: list[float]) -> float:
    """Driver-side twin of the SQL chain emitted by
    :func:`_pq_best_sql`: the same
    left-associated (x−y)·(x−y) addition chain over IEEE doubles —
    python floats ARE doubles, so the result is bit-identical to the
    JVM/DuckDB evaluation of the same chain."""
    total = 0.0
    for x, y in zip(a, b):
        total += (x - y) * (x - y)
    return total



def pq_adc_topk(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """Asymmetric-distance (ADC) search over PQ codes: the query (the
    code-0 seed vector) precomputes its distance to every codebook
    centroid — an ``n_sub × n_codes`` lookup table (128 rows) — and a
    corpus vector's distance estimate is the sum of 8 table lookups,
    never a touch of the raw floats. This is the PQ search path: at
    100 TB the scan reads 8-byte codes + a broadcast table instead of
    256-byte vectors.

    The per-vector sum adds the 8 looked-up distances in a fixed
    chain (not a groupBy-sum whose float order is nondeterministic),
    keeping the top-k selection engine-portable. Returns the ``k``
    nearest (id, adc_dist).

    The codebook is collected ONCE (n_codes rows); both the per-sub
    code argmin and the LUT lookup are folded into ONE narrow
    projection as literals (``element_at`` on a 16-double literal
    array indexed by the in-row code), so the whole search plans as
    scan → project → TakeOrdered: zero joins, zero shuffles. The LUT
    is computed at the driver with the identical left-associated IEEE
    chain :func:`_pq_best_sql` emits in-plan (via its driver twin
    :func:`_pq_l2_chain_py`) — bit-equal doubles, so the oracle
    identity is unchanged.
    """
    d_sub = dim // n_sub
    cb_rows = pq_codebook_rows(embeddings, id_col, vec_col, dim, n_sub, n_codes)
    return (
        embeddings.select(
            F.col(id_col), _adc_dist_inrow(cb_rows, d_sub, vec_col)
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def _adc_dist_inrow(cb_rows, d_sub: int, vec_col: str) -> Column:
    """The ADC distance of the raw vector column as one in-row
    expression: per subspace, argmin code against the literal
    codebook (:func:`_pq_best_sql`), then a literal-array LUT lookup
    of the query→centroid distance; the 8 lookups summed in a fixed
    left-associated chain and rounded like the joined/pivoted form
    this replaces. One ``F.expr`` parse — see :func:`_pq_best_sql`
    for why the SQL-string form."""
    terms = []
    for s, cands in cb_rows:
        qcent = cands[0][1]  # code 0 = the query seed subvector
        lut = "array(" + ", ".join(
            _d(_pq_l2_chain_py(qcent, cent)) for _code, cent in cands
        ) + ")"
        best = _pq_best_sql(f"`{vec_col}`", s, cands, d_sub)
        terms.append(f"element_at({lut}, {best}.code + 1)")
    return F.expr(f"round({' + '.join(terms)} + 1e-9, 6)").alias("adc_dist")


def ivfpq_adc_topk(
    embeddings: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
) -> DataFrame:
    """IVF-PQ: the production ANN composition — a coarse k-means cell
    per vector (IVF) restricts the scan, and within probed cells
    distances come from 8-byte PQ codes via the broadcast ADC lookup
    table, never the raw floats. At 100 TB the index is cell-
    partitioned code rows: a probe touches nprobe/n_cells of the
    bytes and each touched row is 32× smaller than its vector.

    ``nprobe=None`` probes every cell, which makes the result
    provably identical to exhaustive ADC (``pq_adc_topk``) — the
    oracle identity, same pattern as ``sink_ivf_index`` proving the
    IVF round-trip against brute force. A partial probe trades that
    guarantee for scan fraction, monotonically: fewer cells can only
    remove candidates, never reorder survivors (asserted in tests).

    Codebook and ADC table are collected/computed once at the driver
    (see :func:`pq_adc_topk`); the cell id comes from the same
    Arrow-batched assignment pass the IVF index build uses, attached
    IN the scan row — so the whole search is scan → assign (narrow
    Arrow) → project → optional broadcast probe-filter →
    TakeOrdered, with no corpus self-join and no pivot shuffle.
    """
    d_sub = dim // n_sub
    cents = kmeans_centroids(
        embeddings, k=n_cells, iters=5, seed=42, vec_col=vec_col
    )
    bucketed = assign_ivf_buckets(embeddings, cents, vec_col=vec_col, nprobe=1)
    cb_rows = pq_codebook_rows(embeddings, id_col, vec_col, dim, n_sub, n_codes)
    if nprobe is not None:
        # probe the nprobe cells nearest the QUERY (the code-0 seed)
        h = F.md5(F.col(id_col).cast("string"))
        seed1 = embeddings.orderBy(h, F.col(id_col)).limit(1)
        probe_cells = (
            assign_ivf_buckets(seed1, cents, vec_col=vec_col, nprobe=nprobe)
            .select("ivf_bucket")
            .distinct()
        )
        bucketed = bucketed.join(F.broadcast(probe_cells), on="ivf_bucket")
    return (
        bucketed.select(
            F.col(id_col), _adc_dist_inrow(cb_rows, d_sub, vec_col)
        )
        .orderBy("adc_dist", id_col)
        .limit(k)
    )


def pq_codes_wide(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
    codebook_rows: list | None = None,
    keep_cols: tuple = (),
) -> DataFrame:
    """PQ encode in the WIDE storage layout — one ``code_{s}`` int
    column per subspace instead of exploded (sub, code) rows. This is
    what a persisted PQ index actually stores (8 bytes per vector, no
    row-count blowup) and what lets ADC search over STORED codes stay
    a narrow projection. Same in-row literal-codebook argmin as
    :func:`pq_codes` (shared ``_pq_best_sql``), zero joins/exchanges.
    """
    d_sub = dim // n_sub
    rows = (
        codebook_rows
        if codebook_rows is not None
        else pq_codebook_rows(embeddings, id_col, vec_col, dim, n_sub, n_codes)
    )
    return embeddings.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[
            F.expr(f"{_pq_best_sql(f'`{vec_col}`', s, cands, d_sub)}.code").alias(
                f"code_{s}"
            )
            for s, cands in rows
        ],
    )


def adc_from_stored_codes(cb_rows) -> Column:
    """ADC distance recomputed from STORED wide PQ codes (``code_{s}``
    columns) — the search-over-persisted-index path: 8 literal-array
    lookups summed in the same fixed chain (and rounding) as
    :func:`_adc_dist_inrow`, so full-probe search over the stored
    index is bit-identical to in-memory exhaustive ADC."""
    terms = []
    for s, cands in cb_rows:
        qcent = cands[0][1]
        lut = "array(" + ", ".join(
            _d(_pq_l2_chain_py(qcent, cent)) for _code, cent in cands
        ) + ")"
        terms.append(f"element_at({lut}, code_{s} + 1)")
    return F.expr(f"round({' + '.join(terms)} + 1e-9, 6)").alias("adc_dist")
