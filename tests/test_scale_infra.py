"""Scale-infrastructure tests: bucketed co-located joins and salted
aggregation (SCALING.md §2/§3 made checkable)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from weather4cast_bigdata_spark.operators import skew
from weather4cast_bigdata_spark.sources import bucketed
from weather4cast_bigdata_spark.sources.catalog import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join without shuffling either side."""
    tag = uuid.uuid4().hex[:8]
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    bucketed.write_bucketed(
        li, f"t_li_{tag}", ["l_orderkey"], 4,
        sort_keys=["l_orderkey"], path=str(tmp_path / "li"),
    )
    bucketed.write_bucketed(
        orders, f"t_ord_{tag}", ["o_orderkey"], 4,
        sort_keys=["o_orderkey"], path=str(tmp_path / "ord"),
    )
    # Force SMJ (broadcast would hide the property being tested).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(f"t_li_{tag}").join(
            spark.table(f"t_ord_{tag}"),
            on=[F.col("l_orderkey") == F.col("o_orderkey")],
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        # No Exchange detail node anywhere: co-location replaced the
        # shuffle. (BroadcastExchange disabled above.)
        import re

        assert not re.search(r"^\(\d+\) Exchange", plan, re.M), plan
        # And the join still returns the right rows.
        n = joined.count()
        assert n == li.count()  # every lineitem has its order
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_agg_equals_plain_groupby(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    plain = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.sum("value").alias("total"),
            F.count("value").alias("n"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.avg("value").alias("mean"),
        )
        .collect()
    }
    salted = {
        r["event_type"]: r
        for r in skew.salted_agg(
            ev,
            ["event_type"],
            {
                "total": ("sum", "value"),
                "n": ("count", "value"),
                "vmin": ("min", "value"),
                "vmax": ("max", "value"),
                "mean": ("avg", "value"),
            },
            n_salts=8,
        ).collect()
    }
    assert plain.keys() == salted.keys()
    for k, p in plain.items():
        s = salted[k]
        assert s["n"] == p["n"]
        assert s["vmin"] == p["vmin"] and s["vmax"] == p["vmax"]
        # sums/avgs differ only by float summation order
        assert s["total"] == pytest.approx(p["total"], rel=1e-12)
        assert s["mean"] == pytest.approx(p["mean"], rel=1e-12)


def test_salted_agg_rejects_nondecomposable(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="non-decomposable"):
        skew.salted_agg(ev, ["event_type"], {"m": ("median", "value")})


def test_connected_components_chain_converges(spark):
    """Pointer jumping makes a path graph (diameter ≫ dense-cluster
    norm) converge in O(log diameter) rounds: a 100-node chain must
    fully label as component 0 well inside max_iter=10."""
    from weather4cast_bigdata_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], ["id_a", "id_b"]
    )
    labels = connected_components(edges, max_iter=10).collect()
    assert len(labels) == 100
    assert all(r.comp == 0 for r in labels)


def test_connected_components_multi(spark):
    """Disjoint clusters keep distinct canonical (minimum) labels."""
    from weather4cast_bigdata_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        ["id_a", "id_b"],
    )
    got = {r.id: r.comp for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """With a selective dim-side filter, AQE injects a runtime bloom
    filter on the fact side of a shuffle join (the 100 TB path when
    the dim outgrows broadcast; SCALING.md §3). Size thresholds are
    lowered to fire at test scale — the injected plan shape is what
    matters."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        assert "bloom_filter" in _plan(j).lower()
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)


def test_static_dim_join_is_broadcast_no_exchange(spark, sf_dir):
    """The dim-attach path must plan as BroadcastHashJoin with zero
    shuffle Exchanges — a regression here would shuffle the fact
    table for a kB dim at 100 TB."""
    from weather4cast_bigdata_spark.operators.joins import join_static_broadcast

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plan = _plan(join_static_broadcast(li, sup, on=["l_suppkey"]))
    assert "BroadcastHashJoin" in plan
    import re
    assert not re.search(r"^\s*\(\d+\) Exchange", plan, re.M)


def test_lake_schema_evolution_merge(spark, tmp_path):
    """A growing lake gains columns over time: mergeSchema reads old
    and new files together, old rows NULL-filled for new columns —
    no rewrite of petabytes of history."""
    base = str(tmp_path / "lake")
    spark.createDataFrame([(1, "a")], ["id", "v"]).write.parquet(base + "/p=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "v", "score"]).write.parquet(base + "/p=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    rows = {r.id: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_ngram_jaccard_max_df_bounds_pathological_bucket(spark):
    """One boilerplate shingle shared by ALL docs would emit
    d(d-1)/2 candidate pairs from a single bucket; max_df stop-lists
    it, bounding the blowup, while shingles under the cap still pair —
    a recall knob, never a correctness one (threshold=0 exposes the
    raw candidate set)."""
    from weather4cast_bigdata_spark.operators.dedup import ngram_jaccard_pairs_docs

    n_docs = 40
    boiler = "all rights reserved by publisher"  # shared by every doc
    rows = [
        (i, f"{boiler} unique {i} filler words {i * 7} here {i * 13}")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = ngram_jaccard_pairs_docs(docs, threshold=0.0).count()
    capped = ngram_jaccard_pairs_docs(docs, threshold=0.0, max_df=10).count()
    # every doc pairs with every other through the boilerplate shingles
    assert uncapped == n_docs * (n_docs - 1) // 2
    # the 40-doc buckets are dropped; only sub-cap shingles may pair
    assert capped < uncapped
    # and the cap bounds any surviving bucket's contribution
    assert capped <= n_docs * 9 // 2 * 10


def test_lsh_max_bucket_bounds_pathological_band(spark):
    """A template cluster landing in ONE band bucket emits b(b-1)/2
    pairs; max_bucket drops the over-populated bucket entirely."""
    from weather4cast_bigdata_spark.operators.dedup import lsh_candidate_pairs

    n_docs = 50
    # identical signatures: every doc shares every band bucket
    sigs = spark.createDataFrame(
        [(i, 11, 22, 33, 44) for i in range(n_docs)],
        ["doc_id", "mh_0", "mh_1", "mh_2", "mh_3"],
    )
    uncapped = lsh_candidate_pairs(sigs, n_hashes=4, band_size=2).count()
    capped = lsh_candidate_pairs(sigs, n_hashes=4, band_size=2, max_bucket=10).count()
    assert uncapped == n_docs * (n_docs - 1) // 2
    assert capped == 0


def test_cosine_topk_blas_over_budget_fails_fast(spark):
    """A corpus over the broadcast-index budget must fail with an
    actionable error BEFORE the driver-side collect, not OOM into it."""
    from weather4cast_bigdata_spark.operators.similarity import cosine_topk_blas

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="ivf_cosine_topk"):
        cosine_topk_blas(vecs, vecs, max_index_rows=10)
    # under budget the same call plans fine
    assert cosine_topk_blas(vecs.limit(4), vecs.limit(4), k=2).count() == 8


def test_range_join_binned_matches_nested_loop(spark):
    """The binned equi-join rewrite must be result-identical to the
    naive inequality join, including the start-inclusive /
    end-exclusive boundary and intervals spanning multiple bins."""
    import datetime as dt

    from weather4cast_bigdata_spark.operators import joins

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    facts = spark.createDataFrame(
        [(i, t0 + i * 37 * s) for i in range(400)], ["fact_id", "ts"]
    )
    # Intervals deliberately misaligned with the 120 s bin: one spans
    # 4 bins, some end exactly on a bin boundary.
    intervals = spark.createDataFrame(
        [
            (0, t0, t0 + 120 * s),                 # == one bin exactly
            (1, t0 + 60 * s, t0 + 480 * s),        # spans 4+ bins
            (2, t0 + 113 * s, t0 + 114 * s),       # sub-bin sliver
            (3, t0 + 7000 * s, t0 + 7300 * s),     # tail, partial overlap
            (4, t0 + 100000 * s, t0 + 100120 * s), # fully out of range
        ],
        ["interval_id", "s", "e"],
    )
    binned = joins.range_join_binned(
        facts, intervals, ts_col="ts", start_col="s", end_col="e", bin_seconds=120
    ).select("fact_id", "interval_id")
    naive = (
        facts.crossJoin(intervals)
        .where((F.col("s") <= F.col("ts")) & (F.col("ts") < F.col("e")))
        .select("fact_id", "interval_id")
    )
    got = sorted(map(tuple, binned.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want and len(want) > 0
    # boundary: a fact exactly at an interval's exclusive end is out
    end_hits = [r for r in got if r[1] == 0]
    assert all(
        f * 37 < 120 for f, _ in end_hits
    ), "end-exclusive boundary leaked into interval 0"


def test_write_compacted_layout(spark, tmp_path):
    """Compaction contract: file count == range partitions when under
    the record cap; content round-trips exactly; rotation kicks in
    when a range partition exceeds the cap."""
    from weather4cast_bigdata_spark.sources import compact

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    p1 = str(tmp_path / "c1")
    compact.write_compacted(df, p1, cluster_by=["k"], n_files=4)
    assert compact.parquet_file_count(p1) == 4
    back = compact.read_compacted(spark, p1)
    assert sorted(r.k for r in back.collect()) == list(range(1000))

    p2 = str(tmp_path / "c2")
    compact.write_compacted(
        df, p2, cluster_by=["k"], n_files=2, max_records_per_file=100
    )
    # 2 range partitions x ~500 rows -> ceil(500/100)=5 files each
    assert compact.parquet_file_count(p2) >= 10
    assert compact.read_compacted(spark, p2).count() == 1000


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The 100 TB swap for `agg_percentile` (SCALING.md §5): the
    GK-sketch `approx_percentile` at accuracy 10000 must track the
    exact sort-based percentile within 0.5% relative — one partial-agg
    exchange of a bounded sketch instead of a corpus-wide sort."""
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("exact"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
        ).alias("approx"),
    ).collect()[0]
    for e, a in zip(row.exact, row.approx):
        assert abs(a - e) <= 0.005 * max(abs(e), 1.0), (e, a)


def test_cdc_apply_changes_semantics(spark):
    """MERGE edge semantics: latest seq wins, same-seq
    delete-vs-upsert conflict resolves to delete, inserts land, and
    untouched base rows survive."""
    from weather4cast_bigdata_spark.operators import cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], ["k", "v"]
    )
    changes = spark.createDataFrame(
        [
            (2, "b1", "upsert", 1),
            (2, "b2", "upsert", 2),   # latest wins
            (3, "c1", "upsert", 5),
            (3, "cX", "delete", 5),   # same seq: delete wins
            (5, "e", "upsert", 1),    # insert
            (4, "dX", "delete", 9),   # plain delete
        ],
        ["k", "v", "op", "seq"],
    )
    got = {r.k: r.v for r in cdc.apply_changes(base, changes, ["k"], "seq").collect()}
    assert got == {1: "a", 2: "b2", 5: "e"}


def test_constraint_audit_null_is_violation(spark):
    """A NULL predicate must count as a violation (unverifiable !=
    verified), and the uniqueness counter must count rows in excess
    of one per key."""
    from weather4cast_bigdata_spark.operators import quality

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0), (3, 2.0)], ["k", "v"]
    )
    audit = {
        r.rule: r.n_violations
        for r in quality.constraint_audit(df, {"v_pos": F.col("v") > 0}).collect()
    }
    assert audit == {"v_pos": 2}  # NULL row + negative row
    uniq = quality.uniqueness_violations(df, ["k"]).collect()[0]
    assert uniq.n_duplicate_rows == 1 and uniq.n_rows == 4


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order clustering must tighten per-file min/max stats on BOTH
    interleaved keys: under partkey-only range clustering every file
    spans ~the full suppkey domain (no pruning for suppkey filters);
    under the Morton layout the average per-file suppkey span must
    shrink materially."""
    import pyarrow.parquet as pq

    from weather4cast_bigdata_spark.sources import compact

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    single = str(tmp_path / "single")
    zorder = str(tmp_path / "zorder")
    compact.write_compacted(li, single, ["l_partkey"], n_files=8)
    compact.write_zordered(li, zorder, "l_partkey", "l_suppkey", n_files=8)

    def avg_span(path):
        spans, lo_all, hi_all = [], None, None
        for root, _d, files in __import__("os").walk(path):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                md = pq.read_metadata(__import__("os").path.join(root, f))
                for rg in range(md.num_row_groups):
                    col = next(
                        md.row_group(rg).column(i)
                        for i in range(md.num_columns)
                        if md.row_group(rg).column(i).path_in_schema == "l_suppkey"
                    )
                    lo, hi = col.statistics.min, col.statistics.max
                    spans.append(hi - lo)
                    lo_all = lo if lo_all is None else min(lo_all, lo)
                    hi_all = hi if hi_all is None else max(hi_all, hi)
        return (sum(spans) / len(spans)) / max(hi_all - lo_all, 1)

    span_single = avg_span(single)
    span_zorder = avg_span(zorder)
    # single-key layout leaves suppkey unsorted: each file ~full domain
    assert span_single > 0.8
    # Morton layout: suppkey locality inside every file
    assert span_zorder < 0.6 * span_single

    # content round-trip: clustering must not change the data
    a = sorted(tuple(r) for r in spark.read.parquet(zorder).collect())
    b = sorted(tuple(r) for r in li.collect())
    assert a == b


def test_salted_join_row_identical_under_skew(spark):
    """The salt must never change which pairs match: a hot key with
    duplicate dim rows reproduces the plain join's multiset exactly,
    and fact rows spread across salt partitions (hot key split)."""
    from collections import Counter

    from weather4cast_bigdata_spark.operators import skew

    fact = spark.createDataFrame(
        [(i, 1 if i < 90 else i % 5, float(i)) for i in range(100)],
        "row_id long, k long, v double",
    )
    # duplicate dim rows for the hot key -> join multiplicity 2
    dim = spark.createDataFrame(
        [(1, "hot_a"), (1, "hot_b"), (2, "two"), (3, "three")], "k long, tag string"
    )
    plain = Counter(
        (r["row_id"], r["tag"]) for r in fact.join(dim, "k").collect()
    )
    salted = Counter(
        (r["row_id"], r["tag"])
        for r in skew.salted_join(fact, dim, "k", n_salts=4).collect()
    )
    assert salted == plain and sum(plain.values()) == 90 * 2 + 8
    # the hot key's fact rows really do land in >1 salt bucket
    import pyspark.sql.functions as F

    n_salts_used = (
        fact.where("k = 1")
        .select(F.pmod(F.xxhash64("row_id", "k", "v"), F.lit(4)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts_used > 1


# --- dedup skew caps (VERDICT r3 item 7) -------------------------------------


def test_ngram_jaccard_max_df_caps_pathological_bucket(spark):
    """The max_df stop-list is the 100x-scale safety valve for the
    single-shuffle pair enumerator: a boilerplate shingle shared by d
    docs yields d(d-1)/2 pair rows, so one hot shingle in a 3k-doc
    corpus is a ~4.5M-row bucket. The cap must (a) drop that bucket
    entirely — bounded pair output — and (b) leave the plan shape
    unchanged (the cap is a filter on the grouped bucket table, never
    a new exchange)."""
    from weather4cast_bigdata_spark.operators import dedup

    n = 3000
    # every doc shares exactly ONE shingle ("all rights reserved");
    # the remaining trigrams are doc-unique
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("all rights reserved u"),
            F.col("id"),
            F.lit("x v"),
            F.col("id"),
            F.lit("y w"),
            F.col("id"),
            F.lit("z"),
        ).alias("text"),
    )
    # threshold=0 surfaces every candidate pair the buckets enumerate
    capped = dedup.ngram_jaccard_pairs_docs(docs, threshold=0.0)
    uncapped = dedup.ngram_jaccard_pairs_docs(docs, threshold=0.0, max_df=None)
    assert capped.count() == 0  # hot bucket stop-listed, nothing else collides
    assert uncapped.count() == n * (n - 1) // 2  # the blowup the cap prevents
    # same exchange count with and without the cap, and same as a
    # benign corpus — the valve costs no extra shuffle
    benign = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc body number "), F.col("id"), F.lit(" end")).alias("text"),
    )
    n_ex = _plan(dedup.ngram_jaccard_pairs_docs(benign, threshold=0.0)).count("Exchange")
    assert _plan(capped).count("Exchange") == n_ex
    assert _plan(uncapped).count("Exchange") == n_ex


def test_lsh_max_bucket_cap_bounds_candidates(spark):
    """Same valve on the LSH banding path: identical docs all land in
    one band bucket; max_bucket drops the over-populated bucket so the
    candidate-pair volume is bounded instead of quadratic."""
    from weather4cast_bigdata_spark.operators import dedup

    n = 500
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("exact same boilerplate text everywhere forever and ever").alias("text"),
    )
    sig = dedup.minhash_signatures_docs(docs)
    uncapped = dedup.lsh_candidate_pairs(sig)
    capped = dedup.lsh_candidate_pairs(sig, max_bucket=64)
    assert uncapped.count() == n * (n - 1) // 2
    assert capped.count() == 0


# --- driver-boundary contracts (VERDICT r3 item 8) ---------------------------


def test_cosine_topk_blas_oversize_guard_fires(spark):
    """The broadcast-index budget is a hard contract: an oversized
    corpus must fail fast with the actionable error, never reach the
    driver collect."""
    from weather4cast_bigdata_spark.operators import similarity

    emb = spark.range(101).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=7) for _ in range(4)]).alias("embedding"),
    )
    with pytest.raises(ValueError, match="broadcast-index budget"):
        similarity.cosine_topk_blas(emb, emb, k=3, max_index_rows=100)


def test_kmeans_centroids_sample_cap_bounds_driver_rows(spark, monkeypatch):
    """Centroid training must never materialize more than sample_limit
    rows at the driver, whatever the corpus size — spied via
    DataFrame.collect."""
    from weather4cast_bigdata_spark.operators import similarity

    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 17).cast("double"),
            (F.col("id") % 5).cast("double"),
            (F.col("id") % 3).cast("double"),
        ).alias("embedding"),
    )
    sizes: list[int] = []
    # patch the session's concrete DataFrame class (pyspark 4 routes
    # `pyspark.sql.DataFrame` to a base the classic class overrides)
    DataFrame = type(emb)
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    cents = similarity.kmeans_centroids(emb, k=4, iters=3, sample_limit=50)
    assert cents.shape == (4, 3)
    assert sizes and max(sizes) <= 50


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    """Runtime complement to the static salted-join operators: with
    AQE skew handling on (the recommended 100 TB posture), a forced
    hot key whose shuffle partition exceeds the skew threshold is
    SPLIT at runtime — the finalized adaptive plan must carry
    ``SortMergeJoin(skew=true)`` over an ``AQEShuffleRead skewed``.
    Thresholds are scaled down so the local fixture crosses them; on
    a cluster the defaults (256 MB / factor 5) play the same role."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200000).select(
            F.when(F.col("id") < 160000, F.lit(0))
            .otherwise(F.pmod("id", F.lit(997)))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200000  # every left row keeps its match
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_persisted_python_stage_is_coalesced(spark):
    """A persisted ``groupBy`` -> ``mapInPandas`` plan is re-planned by
    AQE like any other query: its shuffle read is coalesced below
    ``shuffle.partitions``, so the Python stage above it does not run
    one near-empty task per shuffle partition, and the cached rows
    equal the unpersisted result."""

    def doubled(batches):
        for pdf in batches:
            pdf["s2"] = pdf["s"] * 2
            yield pdf

    def frame():
        sums = spark.range(0, 5_000).groupBy((F.col("id") % 50).alias("k")).agg(
            F.sum("id").alias("s")
        )
        return sums.mapInPandas(doubled, "k long, s long, s2 long")

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    out = frame()
    try:
        want = sorted(map(tuple, frame().collect()))
        out.persist()
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" in plan
        assert "AQEShuffleRead coalesced" in plan, plan
        assert out.rdd.getNumPartitions() < 64
        assert sorted(map(tuple, out.collect())) == want
    finally:
        out.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize(
    "name",
    [
        "curation_pipeline",
        "sim_lsh_multiprobe",
        "dedup_embedding_cosine",
        "cache_decoded",
        "streaming_lsh_ingest",
    ],
)
def test_cached_plan_coalescing_keeps_results(spark, sf_dir, name):
    """Letting AQE re-plan persisted plans moves only partitioning:
    the curation, LSH, embedding-dedup, decode-cache and streaming
    ingest queries give the same rows (``testing.digest_exprs``) with
    ``canChangeCachedPlanOutputPartitioning`` on and off. The cache
    is cleared before each side, so neither reads a frame the other
    persisted."""
    from weather4cast_bigdata_spark.plans.registry import REGISTRY
    from weather4cast_bigdata_spark.session import DEFAULT_SHUFFLE_PARTITIONS
    from weather4cast_bigdata_spark.testing import digest_exprs

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    saved = {k: spark.conf.get(k) for k in (key, "spark.sql.shuffle.partitions")}
    spark.conf.set("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
    digests = {}
    try:
        for flag in ("false", "true"):
            spark.conf.set(key, flag)
            spark.catalog.clearCache()
            df = REGISTRY[name].fn(spark, sf_dir)
            sel, _ = digest_exprs(df.schema)
            df.createOrReplaceTempView("_cached_plan_digest")
            digests[flag] = tuple(
                spark.sql(f"SELECT {sel} FROM _cached_plan_digest").collect()[0]
            )
    finally:
        spark.catalog.clearCache()
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert digests["true"][0] > 0
    assert digests["true"] == digests["false"]


def test_generated_classes_compile_once_per_session(spark):
    """A session's codegen cache holds more than Spark's default 100
    classes: 110 projections that differ only in a numeric literal
    (eleven unions of ten, each projection its own whole-stage class)
    generate their own classes; running the set a second time
    compiles nothing (``CodegenMetrics`` counts every Janino compile)
    instead of missing the LRU on every lookup."""
    from functools import reduce

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    one = spark.range(0, 1, 1, 1)
    queries = [
        reduce(
            lambda a, b: a.unionAll(b),
            [one.select((F.col("id") * k + k).alias("v")) for k in range(j, j + 10)],
        )
        for j in range(0, 110, 10)
    ]
    grew = []
    for _ in range(2):
        before = compiles.getCount()
        got = sorted(r["v"] for q in queries for r in q.collect())
        grew.append(compiles.getCount() - before)
        assert got == list(range(110))
    assert grew[0] > 100
    assert grew[1] == 0


def test_adaptive_n_planes_python_sql_agree():
    """The scale-adaptive LSH resolution must be derived identically
    by the Spark plan (integer while-loop) and the DuckDB oracle
    (the integer-comparison chain from adaptive_n_planes_sql) —
    including at the exact power-of-two boundaries where a float
    log2 would be one ulp from flipping."""
    import duckdb

    from weather4cast_bigdata_spark.operators import similarity

    con = duckdb.connect()
    for t in (8, 250):
        for n in (1, 7, 8, 9, 15, 16, 17, 249, 250, 251, 499, 500,
                  1999, 2000, 2001, 16000, 16001, 20000, 10**7):
            py = similarity.adaptive_n_planes(n, target_bucket=t)
            sql = similarity.adaptive_n_planes_sql(str(n), target_bucket=t)
            got = con.execute(f"SELECT {sql}").fetchone()[0]
            assert got == py, (n, t, py, got)


def test_adaptive_total_planes_python_sql_agree():
    """The fractional (1/4-step) plane chain must be derived
    identically by the Spark plan (Python loop) and the DuckDB
    oracle (integer-comparison chain) — the thresholds are irrational
    powers floored to literals, so both sides must share the SAME
    literals, including at power-of-two boundaries."""
    import duckdb

    from weather4cast_bigdata_spark.operators import similarity

    con = duckdb.connect()
    for n in (1, 7, 8, 9, 10, 11, 12, 15, 16, 17, 40, 250, 500, 2000,
              2001, 20000, 60000, 10**7):
        py = similarity.adaptive_total_planes(n)
        sql = similarity.adaptive_total_planes_sql(str(n))
        got = con.execute(f"SELECT {sql}").fetchone()[0]
        assert got == py, (n, py, got)


def test_band_layout_fractional_depth_envelope():
    """band_layout(adaptive_total_planes(n)) must keep every band's
    E[depth] = n/2^w within [target·2^(-1/4)·0.99, target·2·1.01] —
    the ~1.19×-step envelope that replaces the integral chain's ±2×
    sawtooth (widths differ by at most one, geometric mean within
    one quarter-step of target)."""
    from weather4cast_bigdata_spark.operators import similarity

    t = 8
    for n in (40, 100, 500, 2000, 6000, 20000, 60000, 200000):
        total = similarity.adaptive_total_planes(n, target_bucket=t)
        layout = similarity.band_layout(total, 4)
        assert sum(w for _, w in layout) == total
        assert [w for _, w in layout] == sorted(
            (w for _, w in layout), reverse=True
        )
        for _, w in layout:
            depth = n / (1 << w)
            assert depth <= t * 2 * 1.01, (n, w, depth)
        gm = n / (2 ** (total / 4))
        assert gm <= t * 1.2 and gm >= t * 2 ** (-0.25) * 0.99, (n, total, gm)
    # r9: the chain runs past the old one-bigint 60-plane cap (the
    # measured binding constraint at the 100× lake, SCALING.md §7c)
    # — a 10^6-row corpus now resolves to 68 quarter-steps, carried
    # as a two-word signature by the banded construction; the new
    # cap is MAX_QUARTER_STEPS = 120 (~7×10^9 rows per band)
    assert similarity.adaptive_total_planes(10**6, target_bucket=t) == 68
    assert similarity.MAX_QUARTER_STEPS == 120
    assert (
        similarity.adaptive_total_planes(10**12, target_bucket=t) == 120
    )


def test_adaptive_n_planes_bounds_bucket_depth():
    """E[bucket depth] = n / 2^P must stay <= target for any corpus
    size the comparison chain covers — the invariant that keeps
    within-bucket verify work linear in corpus size."""
    from weather4cast_bigdata_spark.operators import similarity

    for t in (8, 250):
        for exp in range(1, 24):
            n = t * (1 << exp) + 1  # just past a boundary
            p = similarity.adaptive_n_planes(n, target_bucket=t)
            assert n / (1 << p) <= t * 1.01, (n, t, p)


def test_exact_group_percentiles_matches_sort_buffer(spark, sf_dir):
    """Histogram-refine distributed selection must reproduce the
    sort-buffer percentile() aggregate bit-for-bit (same linear
    interpolation) — the parity anchor for agg_percentile_histref."""
    from weather4cast_bigdata_spark.operators import aggregates

    li = load_table(spark, sf_dir, "lineitem")
    ps = [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]
    got = {
        (r["l_returnflag"], r["p"]): r["value"]
        for r in aggregates.exact_group_percentiles(
            li, "l_returnflag", "l_extendedprice", ps
        ).collect()
    }
    arr = ", ".join(str(p) for p in ps)
    want_rows = (
        li.groupBy("l_returnflag")
        .agg(F.expr(f"percentile(l_extendedprice, array({arr}))").alias("v"))
        .collect()
    )
    want = {
        (r["l_returnflag"], p): r["v"][i]
        for r in want_rows
        for i, p in enumerate(ps)
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], (k, got[k], want[k])


def test_exact_group_percentiles_edges(spark):
    """Single-value groups, all-equal values (degenerate span), and
    NULLs (excluded, matching the aggregate)."""
    from weather4cast_bigdata_spark.operators import aggregates

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 1.0), ("b", 1.0), ("b", 1.0),
         ("c", 2.0), ("c", None), ("c", 4.0)],
        ["g", "v"],
    )
    got = {
        (r["g"], r["p"]): r["value"]
        for r in aggregates.exact_group_percentiles(df, "g", "v", [0.5]).collect()
    }
    assert got == {("a", 0.5): 5.0, ("b", 0.5): 1.0, ("c", 0.5): 3.0}


def test_lsh_probe_and_band_caps_bound_pathological_buckets(spark):
    """An adversarial corpus collapsing onto one signature (identical
    vectors) must have its hot bucket DROPPED by the census cap in
    both new candidate generators — bounded work, documented recall
    loss — while distinct-signature pairs still verify."""
    from weather4cast_bigdata_spark.operators import similarity

    signs = similarity.hyperplane_signs(4, 4)
    # 50 identical vectors (one hot bucket) + 2 distinct near-dup pairs
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    rows += [(100, [0.0, 1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.001, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    mp = similarity.near_dup_pairs_multiprobe(
        df, signs, threshold=0.5, max_bucket=10
    ).collect()
    ids = {(r.a_id, r.b_id) for r in mp}
    assert (100, 101) in ids
    assert not any(a < 50 and b < 50 for a, b in ids), "hot bucket not dropped"

    bd = similarity.near_dup_pairs_banded(
        df, signs, n_bands=2, threshold=0.5, max_bucket=10
    ).collect()
    ids = {(r.a_id, r.b_id) for r in bd}
    assert (100, 101) in ids
    assert not any(a < 50 and b < 50 for a, b in ids), "hot band not dropped"

    # without the guard binding (cap above population) the hot pairs appear
    free = similarity.near_dup_pairs_multiprobe(
        df, signs, threshold=0.5, max_bucket=4096
    ).count()
    assert free > len(mp)


def test_lsh_family_ignores_null_embeddings(spark, monkeypatch):
    """A NULL embedding has no signature: on every LSH path — the
    full and the masked multiprobe rule, banding, exact collision with
    the HOF and with the BLAS verify tail — it yields no pair and no
    error, and the pairs of the other rows are exactly those of the
    corpus without it (the SQL oracles drop such rows)."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(61)
    dim = 8
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(6)]
    rows = [
        (i, [c + rng.gauss(0, 0.05) for c in centers[i % 6]]) for i in range(120)
    ]
    schema = "vec_id bigint, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame(rows + [(900, None), (901, None)], schema)
    s5, s8 = similarity.hyperplane_signs(5, dim), similarity.hyperplane_signs(8, dim)
    paths = {
        "multiprobe": lambda d: similarity.near_dup_pairs_multiprobe(
            d, s5, threshold=0.5, prefix_planes=4, split_r=1
        ),
        "multiprobe_masked": lambda d: similarity.near_dup_pairs_multiprobe(
            d, s5, threshold=0.5, prefix_planes=4, split_r=1, n_probes=2
        ),
        "banded": lambda d: similarity.near_dup_pairs_banded(
            d, s8, n_bands=4, threshold=0.5
        ),
        "hyperplane": lambda d: similarity.near_dup_pairs_hyperplane(
            d, threshold=0.5, dim=dim, target_bucket=8, n_rows=120
        ),
    }

    def pairs(fn, d):
        return {(r["a_id"], r["b_id"], r["cos_sim"]) for r in fn(d).collect()}

    for name, fn in paths.items():
        want = pairs(fn, clean)
        assert want and pairs(fn, dirty) == want, name
    # the BLAS verify tail (hyperplane past ARROW_SIGNATURE_MIN_ROWS)
    want = pairs(paths["hyperplane"], clean)
    monkeypatch.setattr(similarity, "ARROW_SIGNATURE_MIN_ROWS", 1)
    assert pairs(paths["hyperplane"], dirty) == want


def test_fractional_split_flattens_depth_sawtooth():
    """The (p, r) mixture must hold EXPECTED bucket depth within a
    ~±19% band of target at every corpus size — the flattened
    version of the integral chain's ±2× sawtooth (the r7 weak flag).
    E[depth] = n·(m/2^p + (1-m)/2^(p+1)) with m = (4-r)/4 the merged
    fraction; the integral chain's n/2^P sweeps [t, 2t) across an
    octave."""
    from weather4cast_bigdata_spark.operators import similarity

    t = 8
    for k in range(20, 560):  # n from ~9 to ~8·2^14 (below the 60-bit cap)
        n = int(t * 2 ** (k / 40.0))
        p, r = similarity.fractional_split(n, target_bucket=t)
        m = (4 - r) / 4.0
        depth = n * (m / 2**p + (1 - m) / 2 ** (p + 1))
        assert t * 0.70 <= depth <= t * 1.30, (n, p, r, depth)


def test_fractional_key_python_matches_sql(spark):
    """fractional_key's Spark arithmetic and the oracle CTE's SQL
    restatement must agree bit-for-bit for every (hp, p, r) —
    including r = 0 (pure prefix), unmerged prefixes keying on the
    extension bit, and p = 0 degenerates."""
    import duckdb

    from weather4cast_bigdata_spark.operators import similarity

    con = duckdb.connect()
    cases = [(hp, p, r) for hp in (0, 1, 5, 37, 1023, 4095) for p in (0, 3, 6)
             for r in (0, 1, 2, 3)]
    df = spark.createDataFrame(
        [(hp, p, r) for hp, p, r in cases], ["hp", "p", "r"]
    )
    for hp, p, r in cases:
        got_sql = con.execute(
            f"""SELECT ({hp} & ((1::BIGINT << {p}) - 1)) * 2
                 + CASE WHEN (({hp} & ((1::BIGINT << {p}) - 1)) % 4) < {r}
                        THEN (({hp} >> {p}) & 1) ELSE 0 END"""
        ).fetchone()[0]
        got_py = (
            df.where((F.col("hp") == hp) & (F.col("p") == p) & (F.col("r") == r))
            .select(similarity.fractional_key(F.col("hp").cast("bigint"), p, r).alias("k"))
            .collect()[0]["k"]
        )
        assert got_py == got_sql, (hp, p, r, got_py, got_sql)


def _np_brute_pairs(vecs, signs, p, r, threshold, probe):
    """Driver-side reference for the fractional candidate rules:
    signature by the same plane matrix, exact = fractional-key
    equality, probe = (prefix distance 0) OR (distance 1 AND
    (merged_a OR merged_b OR ext_a = ext_b)); then the cosine cut."""
    import numpy as np

    s = np.asarray(signs, dtype=float)  # (P+1, dim)
    v = np.asarray([x[1] for x in vecs], dtype=float)
    sig = ((v @ s.T) + 1e-9 >= 0).astype(int)  # (n, P+1)
    hp = (sig * (1 << np.arange(sig.shape[1]))).sum(axis=1)
    pref = hp & ((1 << p) - 1)
    ext = (hp >> p) & 1
    merged = (pref % 4) >= r
    key = pref * 2 + np.where(~merged, ext, 0)
    out = set()
    norms = np.linalg.norm(v, axis=1)
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            d = bin(int(pref[i]) ^ int(pref[j])).count("1")
            if probe:
                ok = d == 0 or (
                    d == 1 and (merged[i] or merged[j] or ext[i] == ext[j])
                )
            else:
                ok = key[i] == key[j]
            if not ok:
                continue
            cos = round(
                float(v[i] @ v[j]) / max(norms[i] * norms[j], 1e-300) + 1e-9, 6
            )
            if cos >= threshold:
                a, b = vecs[i][0], vecs[j][0]
                out.add((min(a, b), max(a, b)))
    return out


@pytest.mark.parametrize("r", [0, 1, 2, 3])
def test_fractional_multiprobe_matches_brute_force(spark, r):
    """near_dup_pairs_multiprobe at every split r (including the
    NONZERO r the sf0.01/0.1 gates never reach — their corpus counts
    land on r = 0) must emit exactly the declared candidate-rule
    pairs: the probe-explode meeting rule is an implementation of the
    symmetric predicate, and any missed meeting path would surface
    here as a lost pair."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(1234 + r)
    dim, p = 6, 4
    signs = similarity.hyperplane_signs(p + 1, dim)
    vecs = [
        (i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(120)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    got = {
        (a, b)
        for a, b in similarity.near_dup_pairs_multiprobe(
            df, signs, threshold=0.1, prefix_planes=p, split_r=r
        ).select("a_id", "b_id").collect()
    }
    want = _np_brute_pairs(vecs, signs, p, r, 0.1, probe=True)
    assert got == want, (r, len(got), len(want), got ^ want)


@pytest.mark.parametrize("r", [0, 1, 2, 3])
def test_fractional_exact_key_matches_brute_force(spark, r):
    """The fractional-key exact-collision generator (the
    sim_hyperplane_lsh path) must emit exactly the key-equality
    pairs at every split r."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(987 + r)
    dim, p = 6, 4
    signs = similarity.hyperplane_signs(p + 1, dim)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(120)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    key = similarity.fractional_key(
        F.element_at(similarity.hyperplane_bucket_words(F.col("embedding"), signs), 1),
        p,
        r,
    )
    bucketed = df.select("vec_id", "embedding", key.alias("hp_bucket"))
    got = {
        (a, b)
        for a, b in similarity.near_dup_pairs(
            bucketed, "hp_bucket", threshold=0.1
        ).select("a_id", "b_id").collect()
    }
    want = _np_brute_pairs(vecs, signs, p, r, 0.1, probe=False)
    assert got == want, (r, len(got), len(want), got ^ want)


def test_digest_exprs_cross_engine_canonical(spark, tmp_path):
    """testing.digest_exprs must produce the SAME (n_rows, digest)
    from Spark and DuckDB over identical data covering every
    supported canonical form — ints, doubles (incl. NaN and values
    float-formatting would diverge on), strings, booleans, dates,
    timestamps, and NULLs of each. This is the instrument behind the
    sf1 digest rows; a silent canonicalization divergence here would
    fake value mismatches (or worse, mask them) at exactly the scale
    the driver can't re-check."""
    import datetime as dt

    import duckdb

    from weather4cast_bigdata_spark.testing import digest_exprs

    rows = [
        (1, 1.5, "a", True, dt.date(2020, 1, 2), dt.datetime(2020, 1, 2, 3, 4, 5, 123456)),
        (2, 0.30000000000000004, "b|with|seps", False, dt.date(1999, 12, 31), dt.datetime(2020, 1, 2, 3, 4, 5)),
        (3, float("nan"), None, None, None, None),
        (None, None, "", True, dt.date(2020, 1, 2), dt.datetime(1970, 1, 1)),
        (5, -12345678.9012345, "unicode ß", False, dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 23, 59, 59, 999999)),
        # magnitude bands: micro-scaled / unit-floored / sign-bucketed
        (6, 8.9e12, "band-lo", True, None, None),
        (7, -3.7e15, "band-mid", False, None, None),
        (8, 2.5e200, "band-huge", None, None, None),
        (9, float("-inf"), "band-inf", True, None, None),
    ]
    df = spark.createDataFrame(
        rows, "i bigint, d double, s string, b boolean, dt date, ts timestamp_ntz"
    )
    sel_s, sel_d = digest_exprs(df.schema)
    df.createOrReplaceTempView("_digest_test")
    srow = spark.sql(f"SELECT {sel_s} FROM _digest_test").collect()[0]

    p = str(tmp_path / "digest.parquet")
    df.write.parquet(p)
    con = duckdb.connect()
    orow = con.execute(
        f"SELECT {sel_d} FROM (SELECT * FROM read_parquet('{p}/*.parquet'))"
    ).fetchone()
    assert int(srow[0]) == int(orow[0]) == len(rows)
    assert str(srow[1]) == str(orow[1])

    # unsupported column types must decline, not guess
    arr_df = spark.createDataFrame([(1, [1.0])], "i bigint, v array<double>")
    assert digest_exprs(arr_df.schema) is None


def test_fractional_split_multiprobe_python_sql_agree():
    """The fan-out-normalized quarter-step chain must be derived
    identically by the Spark plan (two-stage Python computation) and
    the DuckDB oracle (nested integer-comparison chains) at every
    corpus size — a desynchronization here would silently split the
    multiprobe query and its oracle onto different bucket layouts."""
    import duckdb

    from weather4cast_bigdata_spark.operators import similarity

    con = duckdb.connect()
    for n in (1, 7, 8, 9, 13, 16, 100, 500, 2000, 2001, 20000, 60000,
              10**6, 10**8):
        py = similarity.fractional_split_multiprobe(n)
        sql = similarity.fractional_split_multiprobe_sql(str(n))
        q = con.execute(f"SELECT {sql}").fetchone()[0]
        assert (q // 4, q % 4) == py, (n, py, q)


def test_multiprobe_split_bounds_work_per_row():
    """The normalized split must hold probe work per row —
    (p+2)·E[depth] — inside a ~±25% band of the 80 work target at
    every corpus size the MAX_QUARTER_STEPS=120 cap covers (above
    the cap depth grows linearly again). The depth-constant split's
    work/row grows like log n — the measured 3.45x residual this
    bound exists to prevent; the r8 measurement of the OLD 60-step
    cap binding at 200 k vectors (12.8× wall per decade, SCALING.md
    §7c) is why the range below runs far past it."""
    from weather4cast_bigdata_spark.operators import similarity

    t = similarity.MULTIPROBE_WORK_TARGET
    for k in range(40, 1000):  # n ~ 16 .. ~3·10^9 (inside the new cap)
        n = int(8 * 2 ** (k / 40.0))
        p, r = similarity.fractional_split_multiprobe(n)
        m = (4 - r) / 4.0
        depth = n * (m / 2**p + (1 - m) / 2 ** (p + 1))
        work = (p + 2) * depth
        # the upper bound is the scale contract; the lower bound only
        # binds once the corpus can fill a whole work budget (below
        # ~3t the split correctly leaves everything in few buckets)
        assert work <= t * 1.3, (n, p, r, depth, work)
        if n >= 3 * t:
            assert work >= t * 0.7, (n, p, r, depth, work)


def _reference_signature(vec, signs, probe):
    """Reference signature of one row, computed outside Spark:
    missing dimensions count 0 (NULL elements too), extra ones are
    ignored, a NULL row has none; words of 60 planes, then the probe
    mask when asked."""
    import numpy as np

    if vec is None:
        return None
    if not signs:
        return [0]
    s = np.asarray(signs, dtype=np.float64)
    x = np.zeros(s.shape[1])
    row = [0.0 if e is None else e for e in vec[: s.shape[1]]]
    x[: len(row)] = row
    dots = s @ x
    wb = 60
    words = [
        sum(1 << (p - w * wb) for p in range(w * wb, min(len(signs), (w + 1) * wb))
            if dots[p] + 1e-9 >= 0)
        for w in range(max(1, -(-len(signs) // wb)))
    ]
    if probe:
        planes, t = probe
        key = np.floor((np.abs(dots[:planes]) + 1e-9) * 1e6 + 0.5)
        words.append(sum(1 << int(j) for j in np.argsort(key, kind="stable")[:t]))
    return words


@pytest.mark.parametrize(
    "n_planes,probe",
    [
        (9, None),  # one word
        (60, None),  # exactly one full word
        (70, None),  # two words, the second partial
        (125, None),  # three words
        (0, None),  # no planes: the single word 0
        (9, (7, 3)),  # probe mask over the 7 prefix planes
    ],
    ids=["1word", "60planes", "2words", "3words", "noplanes", "probe"],
)
def test_signature_kernels_agree(spark, n_planes, probe):
    """The numpy signature kernel and the expression form must give
    the SAME words for every row, and both must equal a reference
    computed outside Spark — including near-zero dots where the +1e-9
    nudge decides the sign (numpy's reassociated summation stays
    inside the nudge), rows shorter or longer than the planes (missing
    dimensions count 0, as in the SQL oracles), a NULL element, and a
    NULL row (NULL signature, no error). With a probe the kernel appends the mask of
    the nearest prefix planes, checked against the same reference."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(42 + n_planes)
    dim = 16
    signs = similarity.hyperplane_signs(n_planes, dim)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(300)]
    # adversarial near-orthogonal rows: tiny components, sums near 0
    rows += [(1000 + i, [rng.gauss(0, 1e-12) for _ in range(dim)]) for i in range(50)]
    rows += [
        (2000, [1.0]),
        (2001, [-1.0]),
        (2002, [rng.gauss(0, 1) for _ in range(dim // 2)]),
        (2003, [rng.gauss(0, 1) for _ in range(dim + 3)]),
        (2004, [1.0, None] + [rng.gauss(0, 1) for _ in range(dim - 2)]),
        (2005, None),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {
        r["vec_id"]: (r["we"], r["wa"])
        for r in df.select(
            "vec_id",
            similarity.hyperplane_bucket_words(F.col("embedding"), signs).alias("we"),
            similarity.hyperplane_bucket_words_arrow(
                F.col("embedding"), signs, probe
            ).alias("wa"),
        ).collect()
    }
    n_words = similarity.signature_n_words(n_planes)
    for vid, vec in rows:
        want = _reference_signature(vec, signs, probe)
        we, wa = got[vid]
        assert wa == want, (vid, wa, want)
        assert we == (None if want is None else want[:n_words]), (vid, we, want)


def test_band_key_words_matches_python_slice(spark):
    """band_key_words must extract the bit-slice [off, off+w) of the
    multi-word signature exactly as integer arithmetic on the full
    Python int — including slices inside word 0, inside word 1, and
    straddling the 60-bit boundary."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(11)
    sigs = [rng.getrandbits(115) for _ in range(64)]
    wb = similarity.SIGNATURE_WORD_BITS
    rows = [
        (i, s & ((1 << wb) - 1), s >> wb) for i, s in enumerate(sigs)
    ]
    df = spark.createDataFrame(rows, ["i", "w0", "w1"])
    cases = [(0, 17), (50, 14), (59, 2), (60, 20), (61, 31), (88, 27), (40, 31)]
    sel = df.select(
        "i",
        *[
            similarity.band_key_words(
                [F.col("w0"), F.col("w1")], off, w
            ).alias(f"k{j}")
            for j, (off, w) in enumerate(cases)
        ],
    )
    got = {r["i"]: r for r in sel.collect()}
    for i, s in enumerate(sigs):
        for j, (off, w) in enumerate(cases):
            want = (s >> off) & ((1 << w) - 1)
            assert got[i][f"k{j}"] == want, (i, off, w)


def test_band_key2_sql_matches_python_slice():
    """_band_key2_sql (the DuckDB restatement of band_key_words) must
    agree with Python integer slicing for every band of layouts whose
    totals span the one-word, boundary, and two-word regimes — the
    oracle-side half of the r9 two-word extension."""
    import random

    import duckdb

    from weather4cast_bigdata_spark.operators import similarity
    from weather4cast_bigdata_spark.plans.registry_oracles import (
        _band_key2_sql,
    )

    rng = random.Random(13)
    con = duckdb.connect()
    for q in (3, 14, 59, 60, 61, 62, 80, 119, 120):
        layout = similarity.band_layout(q, 4)
        for s in (rng.getrandbits(max(q, 1)) for _ in range(16)):
            hp0 = s & ((1 << 60) - 1)
            hp1 = s >> 60
            row = con.execute(
                "SELECT "
                + ", ".join(
                    _band_key2_sql(str(hp0), str(hp1), str(b), str(q))
                    for b in range(4)
                )
            ).fetchone()
            for b, (off, w) in enumerate(layout):
                want = (s >> off) & ((1 << w) - 1)
                assert row[b] == want, (q, b, off, w)


def test_banded_near_dup_two_word_parity(spark):
    """near_dup_pairs_banded with a >60-plane signature (two words,
    one band straddling the boundary) must emit exactly the pairs a
    driver-side numpy reference derives from the same planes, layout,
    and rounded-cosine cut — the end-to-end pin of the r9 two-word
    path that no sf ≤ 10 lake reaches organically."""
    import random

    import numpy as np

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(23)
    dim = 16
    total = 82  # band_layout -> widths [21, 21, 20, 20]; band 2 = [42, 62)
    signs = similarity.hyperplane_signs(total, dim)
    layout = similarity.band_layout(total, 4)
    assert any(off < 60 < off + w for off, w in layout)
    # clustered corpus so same-band collisions actually occur at 82 planes
    centers = [
        np.array([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(12)
    ]
    vecs = [
        centers[i % 12] + np.array([rng.gauss(0, 0.02) for _ in range(dim)])
        for i in range(120)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in similarity.near_dup_pairs_banded(
            df, signs, n_bands=4, threshold=0.2,
            widths=[w for _, w in layout],
        ).collect()
    }
    s_m = np.asarray(signs, dtype=np.float64)
    sig = [
        sum(
            1 << p
            for p in range(total)
            if float(s_m[p] @ v) + 1e-9 >= 0
        )
        for v in vecs
    ]
    want = set()
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            x = sig[a] ^ sig[b]
            if not any(
                (x >> off) & ((1 << w) - 1) == 0 for off, w in layout
            ):
                continue
            va, vb = vecs[a], vecs[b]
            cos = float(va @ vb) / max(
                float(np.sqrt(va @ va)) * float(np.sqrt(vb @ vb)), 1e-300
            )
            if round(cos + 1e-9, 6) >= 0.2:
                want.add((a, b))
    assert got == want and len(want) > 0


def test_hyperplane_verify_paths_identical(spark, monkeypatch):
    """near_dup_pairs_hyperplane's two verify tails — the HOF join
    (small corpora / the declarative reference) and the census-gated
    BLAS block-pair path (the r9 answer to the Σdepth² weak flag,
    SCALING.md §7c) — must emit the IDENTICAL pair set with identical
    rounded cosines. The BLAS path normalizes before the matmul, so
    this also pins the round-6 + 1e-9 nudge as sufficient tolerance
    for the float-order difference."""
    import random

    import numpy as np

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(31)
    dim = 16
    centers = [
        np.array([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(8)
    ]
    vecs = [
        centers[i % 8] + np.array([rng.gauss(0, 0.05) for _ in range(dim)])
        for i in range(240)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding"],
    )

    def run():
        return {
            (r["a_id"], r["b_id"]): r["cos_sim"]
            for r in similarity.near_dup_pairs_hyperplane(
                df, threshold=0.2, dim=dim, target_bucket=8
            ).collect()
        }

    hof = run()  # 240 < ARROW_SIGNATURE_MIN_ROWS -> expression + HOF join
    monkeypatch.setattr(similarity, "ARROW_SIGNATURE_MIN_ROWS", 1)
    blas = run()  # forced Arrow signature + BLAS block-pair verify
    assert hof == blas and len(hof) > 0


def _masked_rule_pairs(side, p, r):
    """Masked multiprobe rule computed outside Spark, over
    {id: (hp, mask)}: a d = 1 pair qualifies iff the differing plane
    is in A's mask and (merged_b or ext_a = ext_b), or symmetrically —
    with full masks exactly the full rule (merged_a or merged_b or
    ext_a = ext_b)."""
    pm_full = (1 << p) - 1
    want = set()
    for a in sorted(side):
        for b in sorted(side):
            if a >= b:
                continue
            ha, ma = side[a]
            hb, mb = side[b]
            pa, pb = ha & pm_full, hb & pm_full
            ea, eb = (ha >> p) & 1, (hb >> p) & 1
            mga, mgb = (pa % 4) >= r, (pb % 4) >= r
            x = pa ^ pb
            if x == 0:
                want.add((a, b))
            elif bin(x).count("1") == 1:
                if (x & ma == x and (mgb or ea == eb)) or (
                    x & mb == x and (mga or ea == eb)
                ):
                    want.add((a, b))
    return want


@pytest.mark.parametrize(
    "p,r,n_probes",
    [(5, 0, 5), (6, 2, 8), (6, 1, None), (10, 2, None)],
    ids=["p5-budget5", "p6-budget8", "p6-default", "p10-default"],
)
def test_multiprobe_rule_follows_probe_budget(spark, p, r, n_probes):
    """near_dup_pairs_multiprobe runs the full rule while p <= n_probes
    (default MULTIPROBE_BOUNDED_FANOUT = 8) and the masked rule past
    it: at p <= n_probes its candidates must equal the masked rule
    with FULL masks — the full rule, which is why one oracle covers
    both regimes — and at p > n_probes the masked rule with the
    kernel's n_probes-nearest masks, which must drop some of the full
    rule's pairs."""
    import random

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(53 + p + r)
    dim = 16
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(280)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    signs = similarity.hyperplane_signs(p + 1, dim)
    t = similarity.MULTIPROBE_BOUNDED_FANOUT if n_probes is None else n_probes
    kw = {} if n_probes is None else {"n_probes": n_probes}
    got = {
        (x["a_id"], x["b_id"])
        for x in similarity.near_dup_pairs_multiprobe(
            df, signs, prefix_planes=p, split_r=r, threshold=-1.0, **kw
        ).collect()
    }
    sig = similarity.hyperplane_bucket_words_arrow(
        F.col("embedding"), signs, probe=(p, t)
    )
    side = {
        x["vec_id"]: (x["s"][0], x["s"][1])
        for x in df.select("vec_id", sig.alias("s")).collect()
    }
    full = _masked_rule_pairs(
        {k: (hp, (1 << p) - 1) for k, (hp, _) in side.items()}, p, r
    )
    want = _masked_rule_pairs(side, p, r) if p > t else full
    assert got == want and len(want) > 0, (p, r, t, len(got ^ want))
    assert (want < full) == (p > t)


def test_bounded_multiprobe_matches_python_reference(spark):
    """The bounded meet rule, checked against a driver-side
    reference derived from the SAME kernel outputs (signature +
    probe mask): a d=1 pair qualifies iff the differing plane is in
    A's mask and (merged_b or ext_a = ext_b), or symmetrically — the
    per-direction rule the oracle restates. Small n_probes so the
    bound actually binds (some d=1 pairs are excluded)."""
    import random

    from pyspark.sql import functions as F

    from weather4cast_bigdata_spark.operators import similarity

    rng = random.Random(41)
    dim = 16
    p, r, t = 7, 2, 2
    signs = similarity.hyperplane_signs(p + 1, dim)
    rows = [(i, [rng.gauss(0, 1) for _ in range(dim)]) for i in range(260)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    sig = similarity.hyperplane_bucket_words_arrow(
        F.col("embedding"), signs, probe=(p, t)
    )
    side = {
        x["vec_id"]: (x["s"][0], x["s"][1])
        for x in df.select("vec_id", sig.alias("s")).collect()
    }
    full = _masked_rule_pairs(
        {k: (hp, (1 << p) - 1) for k, (hp, _) in side.items()}, p, r
    )
    got = {
        (x["a_id"], x["b_id"])
        for x in similarity.near_dup_pairs_multiprobe(
            df, signs, prefix_planes=p, split_r=r, threshold=-1.0,
            n_probes=t,
        ).collect()
    }
    want = _masked_rule_pairs(side, p, r)
    assert got == want and len(want) > 0
    assert want < full, "fixture too small: the bound never bound"


def test_table_rows_matches_spark_count(spark, sf_dir):
    """catalog.table_rows (parquet footer statistics, no Spark job)
    must return the IDENTICAL integer a distributed count produces —
    the contract every adaptive-resolution derivation (LSH planes,
    SimHash width) and its DuckDB count(*) oracle restatement rides.
    Also pin the fallback: a path pyarrow cannot open routes to
    df.count() instead of raising."""
    from weather4cast_bigdata_spark.sources import catalog

    for name in ("documents", "embeddings", "events"):
        want = catalog.load_table(spark, sf_dir, name).count()
        got = catalog.table_rows(spark, sf_dir, name)
        assert got == want, (name, got, want)
    # fallback path: break the pyarrow branch, keep the Spark one
    import pytest as _pytest

    with _pytest.raises(Exception):
        # a missing table must still raise (both branches fail) —
        # the helper must not silently invent a count
        catalog.table_rows(spark, sf_dir, "no_such_table")


def test_probe_arrow_tie_heavy_rank_is_quantized_half_up(spark):
    """Tie-heavy fixture for the probe kernel's rank key (ADVICE r9):
    vectors built so several planes share EXACTLY the same |dot|
    (axis-aligned ±1 signs, integer-coordinate vectors) plus values
    sitting a hair under/over a 1e-6 quantization edge. The mask must
    equal a driver-side restatement of floor((|dot|+1e-9)*1e6 + 0.5)
    ranked with plane-index tiebreak — i.e. ties break to the LOWER
    plane, and half-up (not numpy half-even) decides edge values."""
    import numpy as np
    from pyspark.sql import functions as F

    from weather4cast_bigdata_spark.operators import similarity

    dim = 8
    # planes 0/1 identical |dot| for every integer vector (pure axis
    # signs); planes 2/3 scaled so |dot| lands on a .5e-6 edge
    signs = [
        [1, 0, 0, 0, 0, 0, 0, 0],
        [0, 1, 0, 0, 0, 0, 0, 0],
        [0, 0, 1, 0, 0, 0, 0, 0],
        [0, 0, 0, 1, 0, 0, 0, 0],
        [0, 0, 0, 0, 1, 0, 0, 0],
    ]
    rows = []
    for i in range(64):
        v = [0.0] * dim
        v[0] = 1.0  # plane 0 |dot| = 1.0
        v[1] = -1.0  # plane 1 |dot| = 1.0 (exact tie with plane 0)
        v[2] = 1.0000005  # plane 2: quantization-edge value
        v[3] = 0.9999995  # plane 3: quantization-edge value
        v[4] = 2.0 + i  # plane 4: clearly far
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    p, t = 5, 2
    sig = similarity.hyperplane_bucket_words_arrow(
        F.col("embedding"), signs, probe=(p, t)
    )
    got = {
        x["vec_id"]: x["s"][-1]
        for x in df.select("vec_id", sig.alias("s")).collect()
    }
    s_t = np.asarray(signs, dtype=np.float64).T
    for vid, vec in rows:
        dots = np.asarray(vec, dtype=np.float64) @ s_t
        key = np.floor((np.abs(dots[:p]) + 1e-9) * 1e6 + 0.5)
        order = np.argsort(key, kind="stable")[:t]
        want = 0
        for j in order:
            want |= 1 << int(j)
        assert got[vid] == want, (vid, got[vid], want, key.tolist())
    # the fixture is genuinely tie-heavy: planes 0 and 1 quantize
    # identically, so the stable sort must have picked plane 0 first
    assert all(m & 1 for m in got.values())


def test_ensure_scan_parallelism_row_budget(spark):
    """The r12 scan-parallelism guard: a deficient single-partition
    input with a known row count is repartitioned to
    min(defaultParallelism, ceil(n / rows_per_task)); a corpus within
    one task's budget — every bench gate — and an unknown count are
    passed through UNTOUCHED (no exchange enters the gate plans)."""
    from weather4cast_bigdata_spark.partitioning import (
        SCAN_ROWS_PER_TASK,
        ensure_scan_parallelism,
    )

    one = spark.range(0, 10_000).coalesce(1)
    cores = spark.sparkContext.defaultParallelism
    want = min(cores, -(-10_000 // SCAN_ROWS_PER_TASK))
    got = ensure_scan_parallelism(one, 10_000)
    assert got.rdd.getNumPartitions() == want > 1
    # row set unchanged (round-robin moves rows, never drops them)
    assert got.count() == 10_000

    # within one task's budget -> untouched plan object
    small = spark.range(0, SCAN_ROWS_PER_TASK).coalesce(1)
    assert ensure_scan_parallelism(small, SCAN_ROWS_PER_TASK) is small
    # unknown count -> untouched
    assert ensure_scan_parallelism(one, None) is one
    # already-parallel scan -> untouched (the 100 TB no-op path)
    wide = spark.range(0, 10_000).repartition(cores)
    assert ensure_scan_parallelism(wide, 10_000) is wide
