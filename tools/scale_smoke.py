#!/usr/bin/env python
"""Empirical scale-out smoke for the dedup/curation family.

Builds two synthetic 10× corpora from the sf0.1 documents table in a
temp dir and measures the heavy text operators at 1× and 10×:

- GROWTH lake: each of the 10 copies re-salts every token with a
  copy tag, so documents stay unique across copies — the "corpus got
  10× bigger" case. Near-linear runtime scaling is the pass signal.
- DUP lake: 10 verbatim copies under fresh doc_ids — the adversarial
  high-duplication case (every doc in a 10-clone cluster; shingle
  document frequencies ×10 ⇒ uncapped pair volume ×100). Run with
  the production `max_df` cap to show the bound holds.

Prints one JSON line per (lake, query) with rows and seconds; the
summary ratios land in SCALING.md §5. Pure read-only over
$SPARK_GRAFT_SF_DIR (default sf0.1); writes only under /tmp.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from weather4cast_bigdata_spark.operators import curate_ext, dedup, similarity  # noqa: E402
from weather4cast_bigdata_spark.plans.curation import curate  # noqa: E402
from weather4cast_bigdata_spark.session import get_spark  # noqa: E402

N_COPIES = 10
MAX_DF = 200  # production boilerplate stop-list for the DUP lake


def build_lakes(spark, sf_dir: str, root: str) -> dict[str, str]:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    paths = {"base": os.path.join(root, "base")}
    # same partitioning as the synthetic lakes — ratios must compare
    # equal scan parallelism, not one coalesced file vs 32 splits
    docs.repartition(32).write.mode("overwrite").parquet(paths["base"])

    def copy(i: int, salt: bool):
        d = docs.select(
            (F.col("doc_id") + F.lit(i * 10_000_000)).alias("doc_id"),
            # re-salt every token: "tok" -> "tok_ci" keeps doc length and
            # shingle structure but makes the copy's vocabulary disjoint
            (
                F.array_join(
                    F.transform(
                        F.split(F.trim("text"), r"\s+"),
                        lambda t: F.concat(t, F.lit(f"_c{i}")),
                    ),
                    " ",
                )
                if salt
                else F.col("text")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        return d

    for name, salt in (("growth", True), ("dup", False)):
        p = os.path.join(root, name)
        out = copy(0, salt)
        for i in range(1, N_COPIES):
            out = out.unionByName(copy(i, salt))
        out.repartition(32).write.mode("overwrite").parquet(p)
        paths[name] = p
    return paths


def run(spark, docs, lake: str, max_df: int | None):
    def probe(qname, build):
        # time construction + execution: curate() materializes its CC
        # stage eagerly at build time, so timing only .count() lies
        best, n = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            n = build().count()
            best = min(best, time.perf_counter() - t0)
        t0 = None
        print(
            json.dumps(
                {"lake": lake, "query": qname, "rows": n, "sec": round(best, 2)}
            ),
            flush=True,
        )

    probe("dedup_exact", lambda: dedup.exact_duplicates(docs))
    probe("minhash_signatures", lambda: dedup.minhash_signatures_docs(docs))
    probe(
        "ngram_jaccard_pairs",
        lambda: dedup.ngram_jaccard_pairs_docs(docs, threshold=0.5, max_df=max_df),
    )
    # Manku pigeonhole near-dup pairs: on the DUP lake the 10-clone
    # clusters multiply identical-signature pairs ×100 — wider
    # signatures (bits) are the production knob that shrinks block
    # buckets; 48 bits (16-bit blocks, 65k bucket values) here vs the
    # registry's demo 24 shows the lever at corpus scale (past 32 bits
    # the token hash must be the 60-bit source).
    probe(
        "simhash_hamming_pairs",
        lambda: dedup.simhash_near_pairs(docs, bits=48, k=2, hash_bits=60),
    )
    # r5 skew guards under the adversarial lake: the bucket CAP bounds
    # the simhash stage even at the demo 24-bit width (clone buckets
    # dropped before the self-join), and the prefix-join bucket SPLIT
    # keeps the EXACT all-pairs join alive on the clone-heavy corpus
    # without any single task holding a whole hot bucket.
    probe(
        "simhash_hamming_capped24",
        lambda: dedup.simhash_near_pairs(docs, bits=24, k=2, max_bucket=64),
    )
    probe(
        "jaccard_prefix_split",
        lambda: dedup.prefix_filtered_jaccard_pairs(
            docs, threshold=0.8, split_bucket=256, n_salt=32
        ),
    )
    probe("curation_pipeline", lambda: curate(docs, max_df=max_df))
    # wave-3 narrow/one-shuffle ops: near-linear scaling is the pass bar
    probe("repetition_features", lambda: curate_ext.repetition_features(docs))
    probe("pack_chunked", lambda: curate_ext.pack_chunked(docs, capacity=2048))
    probe(
        "decontaminate",
        # eval suite = a fixed 500-doc slice; the training side is what scales
        lambda: curate_ext.decontaminate(docs, docs.orderBy("doc_id").limit(500)),
    )
    # inverted index: df/tf stats scale with the corpus, but postings
    # only materialize inside the df band — the DUP lake multiplies
    # every df by 10, so the band itself is the cap under test
    probe(
        "inverted_index",
        lambda: curate_ext.inverted_index(docs, min_df=5, max_df=50),
    )


def build_vec_lakes(spark, sf_dir: str, root: str) -> dict[str, str]:
    """10x embedding lake: verbatim vector clones under fresh ids —
    honest for ANN cost (bucket populations x10; per-query output
    stays k rows)."""
    vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    paths = {"vec_base": os.path.join(root, "vec_base")}
    vecs.repartition(32).write.mode("overwrite").parquet(paths["vec_base"])
    out = None
    for i in range(N_COPIES):
        d = vecs.select(
            (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
            "embedding",
            "label",
        )
        out = d if out is None else out.unionByName(d)
    paths["vec_10x"] = os.path.join(root, "vec_10x")
    out.repartition(32).write.mode("overwrite").parquet(paths["vec_10x"])
    return paths


def run_ann(spark, corpus, lake: str):
    queries = corpus.orderBy("vec_id").limit(200)

    def probe(qname, build):
        best, n = float("inf"), 0
        for _ in range(2):
            t0 = time.perf_counter()
            n = build().count()
            best = min(best, time.perf_counter() - t0)
        print(
            json.dumps({"lake": lake, "query": qname, "rows": n, "sec": round(best, 2)}),
            flush=True,
        )

    cents = similarity.kmeans_centroids(corpus, k=16)
    probe("ivf_cosine_topk", lambda: similarity.ivf_cosine_topk(queries, corpus, cents, k=5, nprobe=2))
    probe("embedding_near_dup", lambda: similarity.near_dup_pairs(corpus, bucket_col="label", threshold=0.9))
    # r6 hot-bucket guard: force every label bucket down the
    # block-pair split (cap far below the 10x bucket populations) —
    # pair volume must match the one-task path's intrinsic output
    # while no task holds a whole bucket
    probe(
        "blas_near_dup_split",
        lambda: similarity.near_dup_pairs_blas(
            corpus, bucket_col="label", threshold=0.9, split_bucket=512
        ),
    )
    probe("semantic_dedup", lambda: similarity.semantic_dedup(corpus, cents, threshold=0.3).where("NOT kept"))
    probe("quantize_int8", lambda: similarity.quantize_embeddings_int8(corpus))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("w4c-scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="w4c_scale_")
    paths = build_lakes(spark, sf_dir, root)
    base = spark.read.parquet(paths["base"])
    run(spark, base, "base_1x", None)
    run(spark, spark.read.parquet(paths["growth"]), "growth_10x", None)
    # the DUP lake is the adversarial case: run capped (production
    # config) — uncapped would be the documented quadratic blowup
    run(spark, base, "base_1x_capped", MAX_DF)
    run(spark, spark.read.parquet(paths["dup"]), "dup_10x_capped", MAX_DF)
    vec_paths = build_vec_lakes(spark, sf_dir, root)
    run_ann(spark, spark.read.parquet(vec_paths["vec_base"]), "vec_base_1x")
    run_ann(spark, spark.read.parquet(vec_paths["vec_10x"]), "vec_10x")


if __name__ == "__main__":
    main()
