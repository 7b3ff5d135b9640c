"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments and
writes one of the repository's own input layouts: the ``documents``
and ``embeddings`` parquet tables that ``sources.catalog.load_table``
reads, the frame-lake path layout that ``sources.netcdf.FRAME_PATH_RE``
parses (with nav/elevation files), and files of quantized submission
cells for the streaming ingest. Each returns the properties that drive
the program's behaviour, so a run record says what was measured.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# embeddings (curate_vectors)
# ---------------------------------------------------------------------------


# What drives the similarity queries' behaviour: cluster density and
# the planted near-duplicate rate. Written into every run record.
EMB_DIM = 64
EMB_LABELS = 10
EMB_CENTERS_PER_LABEL = 4
EMB_SPREAD = 0.6
EMB_NEAR_DUP_RATE = 0.10
EMB_NEAR_DUP_NOISE = 0.02


def embeddings(seed: int, n_vectors: int) -> tuple[pd.DataFrame, dict]:
    """Clustered vectors with planted near duplicates.

    Each label owns ``EMB_CENTERS_PER_LABEL`` unit centres; a vector is
    a centre plus isotropic noise of norm ~``EMB_SPREAD`` (density: a
    larger spread makes clusters looser). A near duplicate is an
    existing vector plus noise of norm ~``EMB_NEAR_DUP_NOISE``.
    """
    rng = np.random.default_rng(seed)
    dim = EMB_DIM
    centers = rng.normal(size=(EMB_LABELS * EMB_CENTERS_PER_LABEL, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n_dup = int(n_vectors * EMB_NEAR_DUP_RATE)
    n_base = n_vectors - n_dup
    cid = rng.integers(0, len(centers), size=n_base)
    base = centers[cid] + rng.normal(size=(n_base, dim)) * (EMB_SPREAD / np.sqrt(dim))
    src = rng.integers(0, n_base, size=n_dup)
    dups = base[src] + rng.normal(size=(n_dup, dim)) * (EMB_NEAR_DUP_NOISE / np.sqrt(dim))
    vecs = np.vstack([base, dups]).astype(np.float32)
    labels = np.concatenate([cid, cid[src]]) // EMB_CENTERS_PER_LABEL
    perm = rng.permutation(n_vectors)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n_vectors, dtype=np.int64),
            "embedding": list(vecs[perm]),
            "label": labels[perm].astype(np.int32),
        }
    )
    props = {
        "n_vectors": n_vectors,
        "dim": dim,
        "n_labels": EMB_LABELS,
        "centers_per_label": EMB_CENTERS_PER_LABEL,
        "cluster_spread": EMB_SPREAD,
        "near_dup_rate": EMB_NEAR_DUP_RATE,
        "near_dup_noise": EMB_NEAR_DUP_NOISE,
    }
    return df, props


EMBEDDINGS_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


# ---------------------------------------------------------------------------
# documents (curate_vectors)
# ---------------------------------------------------------------------------

# What drives curation's behaviour: the share of planted exact copies
# and of near-duplicate edits, how skewed the duplicate clusters are
# (a copy's source is drawn Zipf-like, so a few documents gather most
# copies), and the share of documents below the quality cut. Written
# into every run record.
DOC_EXACT_DUP_RATE = 0.10
DOC_NEAR_DUP_RATE = 0.15
DOC_CLUSTER_ZIPF = 1.3
DOC_LOW_QUALITY_RATE = 0.08
DOC_EDIT_RATE = 0.06  # share of a near duplicate's tokens replaced
DOC_TOKENS = (30, 160)
DOC_LANGS = ("en", "en", "en", "de", "fr")
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "dor")

DOCUMENTS_SCHEMA = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("n_chars", pa.int64())]
)


def documents(seed: int, n_docs: int) -> tuple[pd.DataFrame, dict]:
    """A ``documents`` table with planted exact and near duplicates.

    Base documents mix content words with stopwords so most pass the
    quality cut; ``DOC_LOW_QUALITY_RATE`` of them are short
    punctuation soup that fails it. Exact copies and near-duplicate
    edits (``DOC_EDIT_RATE`` of the tokens replaced) point at base
    documents drawn Zipf-like, so cluster sizes are skewed.
    """
    rng = np.random.default_rng(seed)
    vocab = sorted({"".join(rng.choice(_SYLLABLES, size=rng.integers(2, 4))) for _ in range(3000)})
    n_exact = int(n_docs * DOC_EXACT_DUP_RATE)
    n_near = int(n_docs * DOC_NEAR_DUP_RATE)
    n_base = n_docs - n_exact - n_near

    def words(n):
        content = rng.choice(vocab, size=n)
        stop = rng.choice(_STOPWORDS, size=n)
        return np.where(rng.random(n) < 0.3, stop, content)

    base = []
    for _ in range(n_base):
        if rng.random() < DOC_LOW_QUALITY_RATE:
            base.append(" ".join(f"{w}!!,;" for w in rng.choice(vocab, size=rng.integers(3, 8))))
        else:
            base.append(" ".join(words(int(rng.integers(*DOC_TOKENS)))))
    ranks = np.arange(1, n_base + 1, dtype=np.float64) ** -DOC_CLUSTER_ZIPF
    pick = rng.permutation(n_base)  # which base documents the popular ranks land on
    src = pick[rng.choice(n_base, size=n_exact + n_near, p=ranks / ranks.sum())]
    texts = list(base) + [base[i] for i in src[:n_exact]]
    for i in src[n_exact:]:
        toks = base[i].split(" ")
        swap = rng.random(len(toks)) < DOC_EDIT_RATE
        texts.append(" ".join(str(w) if s else t for t, w, s in zip(toks, words(len(toks)), swap)))
    perm = rng.permutation(n_docs)
    texts = [texts[i] for i in perm]
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, size=n_docs),
            "source": [f"src{k}" for k in rng.integers(0, 8, size=n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    sizes = np.bincount(src, minlength=n_base) + 1
    props = {
        "n_docs": n_docs,
        "exact_dup_rate": DOC_EXACT_DUP_RATE,
        "near_dup_rate": DOC_NEAR_DUP_RATE,
        "near_dup_edit_rate": DOC_EDIT_RATE,
        "low_quality_rate": DOC_LOW_QUALITY_RATE,
        "cluster_zipf": DOC_CLUSTER_ZIPF,
        "largest_cluster": int(sizes.max()),
        "docs_in_clusters": int(sizes[sizes > 1].sum()),
    }
    return df, props


def write_table(df: pd.DataFrame, schema: pa.Schema, sf_dir: str, name: str) -> str:
    """The single-file lake table ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)
    return path


# ---------------------------------------------------------------------------
# frame lake and submission ticks (submit)
# ---------------------------------------------------------------------------

REGIONS = ("R1", "R2")
PRODUCT_VARS = {
    "CTTH": ["temperature"],
    "CRR": ["crr_intensity"],
    "ASII": ["asii_turb_trop_prob"],
    "CMA": ["cma"],
}
VARIABLES = [v for vs in PRODUCT_VARS.values() for v in vs]
# variable -> (valid_lo, valid_hi, fill_code, quant_hi). The stand-in
# decoder emits integers 0..999, so the valid range is [0, 999]; a
# temperature code of 0 is the fill value, which exercises impute.
VARIABLE_META = {
    "temperature": (0.0, 999.0, 0.0, 65535),
    "crr_intensity": (0.0, 999.0, -1.0, 65535),
    "asii_turb_trop_prob": (0.0, 999.0, -1.0, 255),
    "cma": (0.0, 999.0, -1.0, 255),
}
# 21:00 start: the slot grid crosses midnight, so the day-boundary
# stamp of the submission layout is exercised.
T0 = dt.datetime(2019, 7, 23, 21, 0, 0)
CADENCE = dt.timedelta(minutes=15)


def frame_name(seed: int, product: str, region: str, ts: dt.datetime) -> str:
    """A frame filename whose timestamp ``functions.strings`` parses.
    The seed is part of the basename because the stand-in decoder
    derives pixel values from it."""
    return f"S_NWC_{product}_MSG4_{region}-VISIR_s{seed}_{ts:%Y%m%dT%H%M%S}Z.nc"


# share of (region, product, slot) files left out of the lake
GAP_RATE = 0.03


def frame_lake(seed: int, root: str, n_slots: int, grid: int) -> dict:
    """Write ``root/w4c/<region>/training/<YYYYDDD>/<product>/<file>.nc``
    plus ``root/nav/<region>_latlon.nc`` and the raw float32
    ``root/nav/<region>_elevation.dat``. ``GAP_RATE`` of the
    (region, product, slot) files are left out, so sequence validity
    has gaps to find. Returns the lake's properties, including the
    present slots per (region, product)."""
    rng = np.random.default_rng(seed)
    present: dict[str, list[int]] = {}
    n_files = 0
    for region in REGIONS:
        for product in PRODUCT_VARS:
            keep = rng.random(n_slots) >= GAP_RATE
            slots = [i for i in range(n_slots) if keep[i]]
            present[f"{region}/{product}"] = slots
            for i in slots:
                ts = T0 + i * CADENCE
                d = os.path.join(root, "w4c", region, "training", f"{ts:%Y%j}", product)
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, frame_name(seed, product, region, ts)), "wb") as f:
                    f.write(rng.bytes(64))
                n_files += 1
        nav = os.path.join(root, "nav")
        os.makedirs(nav, exist_ok=True)
        with open(os.path.join(nav, f"{region}_latlon.nc"), "wb") as f:
            f.write(rng.bytes(64))
        elev = np.round(rng.uniform(-200, 3000, size=grid * grid)).astype(np.float32)
        with open(os.path.join(nav, f"{region}_elevation.dat"), "wb") as f:
            f.write(elev.tobytes())
    return {
        "regions": len(REGIONS),
        "products": len(PRODUCT_VARS),
        "slots": n_slots,
        "grid": grid,
        "gap_rate": GAP_RATE,
        "n_files": n_files,
        "n_gaps": len(REGIONS) * len(PRODUCT_VARS) * n_slots - n_files,
        "present": present,
    }


def fake_pixels(name: str, variable: str, grid: int) -> np.ndarray:
    """The stand-in decoder's pixel values, restated independently of
    ``sources.netcdf``: cell (y, x) is md5(basename|variable|y|x) mod 1000."""
    return np.array(
        [
            int(hashlib.md5(f"{name}|{variable}|{y}|{x}".encode()).hexdigest()[:8], 16)
            % 1000
            for y in range(grid)
            for x in range(grid)
        ],
        dtype=np.float64,
    ).reshape(grid, grid)


def submission_day(ts: dt.datetime) -> str:
    """``YYYYDDD`` directory stamp; a midnight slot belongs to the
    previous day (the submission layout's day-boundary rule)."""
    eff = ts - dt.timedelta(days=1) if (ts.hour == 0 and ts.minute == 0) else ts
    return f"{eff:%Y%j}"


TICK_SCHEMA = pa.schema(
    [("region", pa.string()), ("day", pa.string()), ("variable", pa.string()),
     ("ts", pa.timestamp("us", tz="UTC")), ("y", pa.int32()), ("x", pa.int32()),
     ("qv", pa.int32())]
)


def write_ticks(root: str, quantized: dict) -> list[list[str]]:
    """One parquet file of quantized cells (the ``quantize_for_submission``
    output schema) per (region, 15-minute slot), under ``root``. Returns
    the files in two arrival waves: the slots before midnight, then the
    rest, so the second wave re-touches the first day's files (the
    midnight slot belongs to the previous day)."""
    os.makedirs(root, exist_ok=True)
    waves: list[list[str]] = [[], []]
    for (region, slot), by_var in sorted(quantized.items()):
        ts = T0 + slot * CADENCE
        rows = {k: [] for k in TICK_SCHEMA.names}
        for variable, qv in sorted(by_var.items()):
            g = qv.shape[0]
            yy, xx = np.divmod(np.arange(g * g), g)
            rows["region"] += [region] * (g * g)
            rows["day"] += [submission_day(ts)] * (g * g)
            rows["variable"] += [variable] * (g * g)
            rows["ts"] += [ts.replace(tzinfo=dt.timezone.utc)] * (g * g)
            rows["y"] += yy.tolist()
            rows["x"] += xx.tolist()
            rows["qv"] += qv.reshape(-1).tolist()
        path = os.path.join(root, f"tick_{slot:03d}_{region}.parquet")
        pq.write_table(pa.Table.from_pydict(rows, schema=TICK_SCHEMA), path)
        waves[ts.date() > T0.date()].append(path)
    return waves
