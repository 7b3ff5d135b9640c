"""DuckDB oracle SQL for every SQL-expressible registry.py query
(pure data; VERDICT r5 item 8).

Each entry in ``ORACLES`` is the ANSI-SQL restatement the driver runs
on DuckDB against the same parquet lake to hash-compare a query's
result. Keeping them here (keyed by query name, one assignment per
query, byte-identical to the strings formerly inlined in the @qdef
decorators) means plan edits in registry.py no longer churn oracle
lines and vice versa. ``qdef`` looks a query's oracle up by name when
the decorator does not pass one explicitly; the weather/quality/
verified registries keep their inline oracles (their fragments are
local to those modules).

Shared SQL fragments (shingle pipelines, hash slices, cosine CTEs,
PQ codebooks) live here too — they are oracle-side vocabulary, not
plan code. registry.py re-imports the handful its sibling modules
reference.
"""

from __future__ import annotations

from weather4cast_bigdata_spark.functions import text
from weather4cast_bigdata_spark.operators import similarity

SLOT_SQL = "make_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900*1000000)"

_MEMBER_SQL = """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           l_extendedprice * (1.0 - l_discount) / 100000.0 AS m1,
           l_extendedprice / 100000.0 AS m2,
           l_extendedprice * (1.0 + l_tax) / 100000.0 AS m3,
           l_quantity / 50.0 AS y
    FROM lineitem
"""

_HOURLY_SQL = """
    SELECT event_type, date_trunc('hour', ts) AS hslot,
           round(avg(value) + 1e-9, 6) AS value
    FROM events GROUP BY 1, 2
"""

_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"

_H32_SQL = "CAST(('0x' || substring(md5({expr}), 1, 8)) AS BIGINT)"

_SHINGLES_SQL = f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    shingled AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM pos
    )
"""

def _lang_hits_sql(markers):
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({_TOKS_SQL.replace('text', 'lower(text)')}, t -> t IN ({inlist})))"

_COSINE_SQL = """
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings {qfilter}),
    c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS cv FROM embeddings),
    dots AS (
        -- list_dot_product keeps the oracle LINEAR in candidate
        -- pairs: the unnest-per-dimension form multiplied every pair
        -- row by the vector width, which at the sf1 sweep's 10x
        -- embeddings turned the oracle itself into the bottleneck.
        -- Same elements, same r6 rounding domain; only DuckDB's
        -- internal summation order changes (absorbed by the +1e-9
        -- nudge like every other float aggregate here).
        SELECT query_id, item_id,
               list_dot_product(q.qv, c.cv) AS dot,
               sqrt(list_dot_product(q.qv, q.qv)) AS nq,
               sqrt(list_dot_product(c.cv, c.cv)) AS nc
        FROM q, c
        WHERE query_id != item_id {pair_cond}
    ),
    scored AS (
        SELECT query_id, item_id, round(dot / (greatest(nq, 1e-300) * greatest(nc, 1e-300)) + 1e-9, 6) AS cos_sim
        FROM dots
    )
    SELECT query_id, rank, item_id, cos_sim FROM (
        SELECT query_id, item_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, item_id) AS rank
        FROM scored
    ) WHERE rank <= 5
"""

# Deterministic ±1 hyperplane matrix, embedded at its MAXIMUM
# resolution (32 planes — the single-signature families read at most
# Q//4 + 1 = 31 planes at the MAX_QUARTER_STEPS=120 cap, ~7×10⁹
# rows); each oracle selects its adaptive prefix pl.p < n_planes
# where n_planes is derived from count(*) by the same
# integer-comparison chain the Spark plan evaluates
# (similarity.adaptive_n_planes / adaptive_n_planes_sql), so plan and
# oracle share both the planes and the resolution bit-exactly at
# every corpus size.
_HP_MAX_PLANES = 32
_HP_SIGNS = similarity.hyperplane_signs(_HP_MAX_PLANES, 64)

_HP_PLANES_SQL = "\n        UNION ALL ".join(
    f"SELECT {p} AS p, {list(s)} AS s" for p, s in enumerate(_HP_SIGNS)
)

# adaptive plane count for the label-composite near-dup query (labels
# already split the corpus 10-way; target 250 keeps per-(label,hp)
# depth ~25 at every SF)
_HP_NP250_SQL = similarity.adaptive_n_planes_sql(
    "SELECT count(*) FROM embeddings", target_bucket=250,
    max_extra=_HP_MAX_PLANES,
)

# Fractional total plane count over the embeddings corpus — the
# 1/4-step integer-comparison chain (same literal thresholds as
# similarity.adaptive_total_planes). Shared by the banded oracle
# (band widths W/W+1 summing to q) and, since r8, the
# single-signature family through the (fp, fr) = (q//4, q%4) split.
_HP_Q_SQL = similarity.adaptive_total_planes_sql(
    "SELECT count(*) FROM embeddings", n_bands=4, target_bucket=8
)

# Fan-out-normalized quarter-step total for the MULTIPROBE split:
# same integer-comparison chain with the count side multiplied by
# the probe fan-out p1+2 against work-target thresholds, so
# (p+2)·depth stays constant (similarity.fractional_split_multiprobe).
_HP_Q2_SQL = similarity.fractional_split_multiprobe_sql(
    "SELECT count(*) FROM embeddings", n_bands=4
)


def _hp_frac_cte(q_sql: str) -> str:
    """Fractional single-signature CTE (the r7 weak-flag port,
    mirroring similarity.fractional_split/fractional_key
    bit-exactly): pv carries the (fp, fr) split from the SAME
    quarter-step chain the Spark plan counts (``q_sql`` — the
    depth-constant chain for the exact-collision query, the
    fan-out-normalized one for multiprobe); the signature reads fp+1
    planes; keyed derives the mixture bucket key
    pref*2 + (pref % 4 < fr ? ext : 0), where merged prefixes
    (pref % 4 >= fr) collapse the extension bit — one extra
    quarter-octave of corpus splits one more quarter of the buckets,
    stepping E[depth] by ~1.19x instead of the integral chain's 2x."""
    return f"""
    pv AS (SELECT CAST(({q_sql}) // 4 AS BIGINT) AS fp,
                  CAST(({q_sql}) % 4 AS BIGINT) AS fr),
    planes AS (
        {_HP_PLANES_SQL}
    ),
    dots1 AS (
        SELECT e.vec_id, pl.p,
               sum(e.embedding[r.i]::DOUBLE * pl.s[r.i]) AS dot
        FROM embeddings e, planes pl, (SELECT unnest(range(1, 65)) AS i) r
        WHERE r.i <= len(e.embedding)
          -- fr = 0 never keys on the extension bit: its plane is
          -- skipped on both engines (the ext read below then yields 0)
          AND pl.p < (SELECT fp + CASE WHEN fr > 0 THEN 1 ELSE 0 END FROM pv)
        GROUP BY 1, 2
    ),
    bucketed AS (
        SELECT vec_id,
               sum(CASE WHEN dot + 1e-9 >= 0 THEN 1::BIGINT << p ELSE 0 END) AS hp
        FROM dots1 GROUP BY 1
    ),
    keyed AS (
        SELECT b.vec_id,
               (b.hp & ((1::BIGINT << pv.fp) - 1)) AS pref,
               ((b.hp >> pv.fp) & 1) AS ext,
               ((b.hp & ((1::BIGINT << pv.fp) - 1)) % 4) >= pv.fr AS merged,
               (b.hp & ((1::BIGINT << pv.fp) - 1)) * 2
               + CASE WHEN ((b.hp & ((1::BIGINT << pv.fp) - 1)) % 4) < pv.fr
                      THEN ((b.hp >> pv.fp) & 1) ELSE 0 END AS k
        FROM bucketed b, pv
    )
"""


_HP_FRAC_CTE = _hp_frac_cte(_HP_Q_SQL)
_HP_FRAC_MP_CTE = _hp_frac_cte(_HP_Q2_SQL)

def _pq_l2_terms_sql(a: str, b: str, d_sub: int = 8) -> str:
    """Squared-L2 between 8-dim subvectors of two list columns at
    subspace offset ``s.sub`` — an explicit left-associated addition
    chain of double-cast terms, matching operators/similarity.py
    ``_sq_l2_chain`` bit-for-bit (fixed association order + IEEE
    correctly-rounded ops)."""
    terms = []
    for i in range(1, d_sub + 1):
        x = f"CAST({a}[s.sub*{d_sub} + {i}] AS DOUBLE)"
        y = f"CAST({b}[s.sub*{d_sub} + {i}] AS DOUBLE)"
        terms.append(f"(({x}) - ({y})) * (({x}) - ({y}))")
    return " + ".join(terms)

_PQ_SEEDS_SQL = """
    ord AS (
        SELECT vec_id, embedding,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) - 1 AS code
        FROM embeddings
    ),
    seeds AS (SELECT code, embedding AS cb FROM ord WHERE code < 16),
    subs AS (SELECT unnest(range(8)) AS sub)
"""

_PQ_CODES_SQL = f"""
    {_PQ_SEEDS_SQL},
    pairs AS (
        SELECT e.vec_id, s.sub, c.code,
               {_pq_l2_terms_sql("e.embedding", "c.cb")} AS dist
        FROM embeddings e, subs s, seeds c
    ),
    best AS (
        SELECT vec_id, sub, code, round(dist + 1e-9, 6) AS dist,
               row_number() OVER (
                   PARTITION BY vec_id, sub
                   ORDER BY round(dist + 1e-9, 6), code
               ) AS rk
        FROM pairs
    ),
    codes AS (SELECT vec_id, sub, code, dist FROM best WHERE rk = 1)
"""

_H64_SQL = "CAST(('0x' || substring(md5({expr}), 1, 15)) AS BIGINT)"

_QUALITY_SQL = r"""
        (least(len(string_split_regex(trim(lower(text)), '\s+')) / 50.0, 1.0)
         + least((len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> t IN ('the','a','and','of','to','in','is','it','for','on')))
                  * 1.0 / len(string_split_regex(trim(lower(text)), '\s+'))) * 5.0, 1.0)
         + greatest(1.0 - (length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                  * 1.0 / length(text)) * 10.0, 0.0)) / 3.0
"""

_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
)

def _ewma_sql(alpha: float = 0.5, lookback: int = 8) -> str:
    num = ["0.0"]
    den = ["0.0"]
    for k in range(lookback):
        wk = repr(alpha**k)
        val = "value" if k == 0 else f"lag(value, {k}) OVER w"
        num.append(f"coalesce({val} * {wk}, 0.0)")
        den.append(f"CASE WHEN {val} IS NOT NULL THEN {wk} ELSE 0.0 END")
    return f"""
    SELECT event_id, user_id, ts,
           round(({' + '.join(num)}) / ({' + '.join(den)}) + 1e-9, 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

def _zorder_sql(a: str, b: str, bits: int = 16) -> str:
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((({a} & {mask}) >> {i}) & 1) << {2 * i}")
        terms.append(f"((({b} & {mask}) >> {i}) & 1) << {2 * i + 1}")
    return " | ".join(f"({t})" for t in terms)


ORACLES: dict[str, str] = {}

ORACLES["scan_file_index"] = (
f"""
    SELECT event_id,
           'CTTH_MSG4_' || strftime(ts, '%Y%m%dT%H%M%S') || 'Z.nc' AS filename,
           strptime(strftime(ts, '%Y%m%dT%H%M%S'), '%Y%m%dT%H%M%S') AS file_ts
    FROM events
    """
)

ORACLES["partition_subset_select"] = (
"""
    SELECT event_id, user_id, ts, value
    FROM events
    WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    """
)

ORACLES["scan_fallback_source"] = (
f"""
    WITH p AS (
        SELECT user_id, {SLOT_SQL} AS slot, avg(value) AS value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ),
    a AS (
        SELECT user_id, {SLOT_SQL} AS slot, avg(value) AS value
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.slot,
           round(coalesce(p.value, a.value) + 1e-9, 6) AS value
    FROM p LEFT JOIN a ON a.user_id = p.user_id AND a.slot = p.slot
    """
)

ORACLES["project_minmax_normalize"] = (
"""
    SELECT event_id, (value - 0.0) / 400.0 AS norm_value
    FROM events
    """
)

ORACLES["predicate_fill_detect"] = (
"""
    SELECT event_id, CAST(round(value) AS INT) = 0 AS is_fill
    FROM events
    """
)

ORACLES["impute_mean_nonfill"] = (
"""
    SELECT event_id,
           round((CASE WHEN value < 1.0
                 THEN coalesce(avg(CASE WHEN value >= 1.0 THEN value END)
                               OVER (PARTITION BY event_type), 0.0)
                 ELSE value END) + 1e-9, 6) AS imputed
    FROM events
    """
)

ORACLES["impute_constant"] = (
"""
    SELECT event_id,
           coalesce(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) AS imputed
    FROM events
    """
)

ORACLES["project_affine_geo"] = (
"""
    SELECT event_id,
           (value + 76.0) / 152.0 AS lon_norm,
           (value - 23.0) / 63.0 AS lat_norm
    FROM events
    """
)

ORACLES["project_clamp_scale"] = (
"""
    SELECT event_id,
           greatest(value - 200.0, 0.0)
               / (SELECT max(greatest(value - 200.0, 0.0)) FROM events) AS elev_norm
    FROM events
    """
)

ORACLES["project_log_clamp"] = (
"""
    SELECT event_id, round(ln(greatest(value / 400.0, 0.0002)) + 1e-9, 6) AS log_crr
    FROM events
    """
)

ORACLES["project_logit"] = (
"""
    SELECT event_id, round(ln(x / (1.0 - x)) + 1e-9, 6) AS logit_v
    FROM (SELECT event_id, least(greatest(value/400.0, 0.01), 0.99) AS x FROM events)
    """
)

ORACLES["project_normlogit"] = (
"""
    SELECT event_id,
           round((ln(x/(1.0-x)) - ln(0.003/0.997))
                 / (ln(0.997/0.003) - ln(0.003/0.997)) + 1e-9, 6) AS nl
    FROM (SELECT event_id,
                 least(greatest(value/400.0, 0.003), 0.997) AS x
          FROM events)
    """
)

ORACLES["project_inv_normlogit"] = (
"""
    SELECT event_id,
           round(1.0 / (1.0 + exp(-((value/400.0) * (ln(0.997/0.003) - ln(0.003/0.997))
                                    + ln(0.003/0.997)))) + 1e-9, 6) AS inl
    FROM events
    """
)

ORACLES["project_quantize"] = (
"""
    SELECT e.event_id,
           CAST(floor((e.value/400.0) * (c.hi - c.lo) + c.lo + 0.5) AS INT) AS qv
    FROM events e
    JOIN (VALUES ('click', 0.0, 22000.0), ('view', 0.0, 500.0),
                 ('purchase', 0.0, 100.0), ('signup', 0.0, 1.0),
                 ('error', 0.0, 1.0)) AS c(event_type, lo, hi)
      ON c.event_type = e.event_type
    """
)

ORACLES["project_channel_select"] = (
"""
    SELECT event_id, user_id, value FROM events WHERE event_type = 'view'
    """
)

ORACLES["conditional_where"] = (
"""
    SELECT event_id,
           CASE WHEN value > 100.0 THEN value * 2.0 ELSE value / 2.0 END AS branched
    FROM events
    """
)

ORACLES["filter_region_membership"] = (
"""
    SELECT event_id, user_id, event_type
    FROM events WHERE user_id IN (1, 2, 3, 7, 8)
    """
)

ORACLES["filter_valid_sequence"] = (
f"""
    WITH slots AS (
        SELECT DISTINCT event_type, {SLOT_SQL} AS slot FROM events
    ),
    nexts AS (
        SELECT event_type, slot,
               lead(slot, 1) OVER (PARTITION BY event_type ORDER BY slot) AS s1,
               lead(slot, 2) OVER (PARTITION BY event_type ORDER BY slot) AS s2,
               lead(slot, 3) OVER (PARTITION BY event_type ORDER BY slot) AS s3
        FROM slots
    )
    SELECT event_type, slot FROM nexts
    WHERE s1 = slot + INTERVAL 15 MINUTES
      AND s2 = slot + INTERVAL 30 MINUTES
      AND s3 = slot + INTERVAL 45 MINUTES
    """
)

ORACLES["predicate_rain_event"] = (
"""
    SELECT user_id, bool_or(value > 250.0) AS has_rain
    FROM events GROUP BY user_id
    """
)

ORACLES["join_time_intersect"] = (
f"""
    SELECT slot FROM (SELECT DISTINCT {SLOT_SQL} AS slot FROM events WHERE event_type='click')
    INTERSECT
    SELECT slot FROM (SELECT DISTINCT {SLOT_SQL} AS slot FROM events WHERE event_type='view')
    INTERSECT
    SELECT slot FROM (SELECT DISTINCT {SLOT_SQL} AS slot FROM events WHERE event_type='purchase')
    """
)

ORACLES["join_multichannel"] = (
"""
    SELECT user_id, CAST(ts AS DATE) AS day,
           round(avg(CASE WHEN event_type='click' THEN value END) + 1e-9, 6) AS click,
           round(avg(CASE WHEN event_type='view' THEN value END) + 1e-9, 6) AS view,
           round(avg(CASE WHEN event_type='purchase' THEN value END) + 1e-9, 6) AS purchase,
           round(avg(CASE WHEN event_type='signup' THEN value END) + 1e-9, 6) AS signup,
           round(avg(CASE WHEN event_type='error' THEN value END) + 1e-9, 6) AS error
    FROM events GROUP BY 1, 2
    """
)

ORACLES["join_static_broadcast"] = (
"""
    SELECT l.l_orderkey, l.l_linenumber, s.s_name, n.n_name, r.r_name,
           l.l_extendedprice AS price
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    """
)

ORACLES["join_asof_offset"] = (
"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hslot, avg(value) AS value
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.hslot,
           round(a.value + 1e-9, 6) AS value,
           round(b.value + 1e-9, 6) AS value_future
    FROM hourly a
    JOIN hourly b ON b.event_type = a.event_type
                 AND b.hslot = a.hslot + INTERVAL 1 HOUR
    """
)

ORACLES["join_frame_lookup"] = (
"""
    SELECT l.l_orderkey, l.l_linenumber, p.p_name,
           l.l_extendedprice AS price
    FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 10
    """
)

ORACLES["join_ensemble_align"] = (
f"""
    WITH m AS (
        SELECT l_orderkey, l_linenumber,
               min(l_extendedprice * (1.0 - l_discount) / 100000.0) AS m1,
               min(l_extendedprice / 100000.0) AS m2,
               min(l_extendedprice * (1.0 + l_tax) / 100000.0) AS m3
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, l_linenumber,
           m1 AS pred_a, m2 AS pred_b, m3 AS pred_c,
           0.5*m1 + 0.3*m2 + 0.2*m3 AS blend
    FROM m
    """
)

ORACLES["udf_ensemble_blend"] = (
"""
    WITH p AS (
        SELECT event_id,
               least(greatest(value/400.0, 0.003), 0.997) AS p1,
               least(greatest(value/500.0, 0.003), 0.997) AS p2
    FROM events
    ),
    nl AS (
        SELECT event_id,
               (ln(p1/(1.0-p1)) - ln(0.003/0.997)) / (ln(0.997/0.003) - ln(0.003/0.997)) AS n1,
               (ln(p2/(1.0-p2)) - ln(0.003/0.997)) / (ln(0.997/0.003) - ln(0.003/0.997)) AS n2
        FROM p
    )
    SELECT event_id,
           round(1.0 / (1.0 + exp(-((0.6*n1 + 0.4*n2) * (ln(0.997/0.003) - ln(0.003/0.997))
                                    + ln(0.003/0.997)))) + 1e-9, 6) AS blend
    FROM nl
    """
)

ORACLES["join_fallback_day"] = (
"""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day, avg(value) AS value
        FROM events GROUP BY 1, 2
    )
    SELECT t.user_id, t.day,
           round(coalesce(t.value, y.value) + 1e-9, 6) AS value
    FROM daily t
    LEFT JOIN daily y ON y.user_id = t.user_id AND y.day = t.day - INTERVAL 1 DAY
    """
)

ORACLES["agg_mean_nonfill"] = (
"""
    SELECT event_type,
           round(avg(CASE WHEN value >= 1.0 THEN value END) + 1e-9, 6) AS mean_nonfill,
           count(*) AS n
    FROM events GROUP BY 1
    """
)

ORACLES["agg_global_max"] = (
"""
    SELECT max(value) AS max_value, max(ts) AS max_ts, count(*) AS n
    FROM events
    """
)

ORACLES["agg_bool_any"] = (
"""
    SELECT event_type, bool_or(value > 300.0) AS any_extreme
    FROM events GROUP BY 1
    """
)

ORACLES["agg_mse"] = (
f"""
    WITH m AS ({_MEMBER_SQL})
    SELECT l_returnflag, round(avg(pow(m1 - m2, 2)) + 1e-12, 9) AS mse
    FROM m GROUP BY 1
    """
)

ORACLES["agg_rounded_mse"] = (
"""
    SELECT event_type,
           round(avg(pow(round(value/400.0) - (CASE WHEN value > 200.0 THEN 1 ELSE 0 END), 2)) + 1e-12, 9)
               AS rmse
    FROM events GROUP BY 1
    """
)

ORACLES["agg_normlogit_mse"] = (
"""
    WITH p AS (
        SELECT event_type,
               least(greatest(value/400.0, 0.003), 0.997) AS p1,
               least(greatest(value/500.0, 0.003), 0.997) AS p2
        FROM events
    )
    SELECT event_type,
           round(avg(pow(
               (ln(p1/(1.0-p1)) - ln(p2/(1.0-p2)))
               / (ln(0.997/0.003) - ln(0.003/0.997)), 2)) + 1e-12, 9) AS nl_mse
    FROM p GROUP BY 1
    """
)

ORACLES["agg_weighted_multiloss"] = (
"""
    WITH losses AS (
        SELECT event_type, avg(pow(value/400.0 - value/500.0, 2)) AS loss
        FROM events GROUP BY 1
    )
    SELECT round(sum(l.loss * w.weight) / count(*) + 1e-12, 9) AS total_loss
    FROM losses l
    JOIN (VALUES ('click', 0.2611), ('view', 1.1241), ('purchase', 2.8800),
                 ('signup', 0.1100), ('error', 2.0300)) AS w(event_type, weight)
      ON w.event_type = l.event_type
    """
)

ORACLES["agg_gram_matrix"] = (
f"""
    WITH m AS ({_MEMBER_SQL})
    SELECT round(sum(m1*m1)/count(*) + 1e-9, 6) AS ata_0_0,
           round(sum(m1*m2)/count(*) + 1e-9, 6) AS ata_0_1,
           round(sum(m1*m3)/count(*) + 1e-9, 6) AS ata_0_2,
           round(sum(m2*m2)/count(*) + 1e-9, 6) AS ata_1_1,
           round(sum(m2*m3)/count(*) + 1e-9, 6) AS ata_1_2,
           round(sum(m3*m3)/count(*) + 1e-9, 6) AS ata_2_2,
           round(sum(m1*y)/count(*) + 1e-9, 6) AS aty_0,
           round(sum(m2*y)/count(*) + 1e-9, 6) AS aty_1,
           round(sum(m3*y)/count(*) + 1e-9, 6) AS aty_2
    FROM m
    """
)

ORACLES["agg_running_mean"] = (
"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, avg(value) AS day_mean
        FROM events GROUP BY 1
    )
    SELECT day, round(day_mean + 1e-9, 6) AS day_mean,
           round(avg(day_mean) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1e-9, 6) AS running_mean
    FROM daily
    """
)

ORACLES["agg_correlation_matrix"] = (
f"""
    WITH m AS ({_MEMBER_SQL})
    SELECT round(corr(m1, m2) + 1e-9, 6) AS corr_0_1,
           round(corr(m1, m3) + 1e-9, 6) AS corr_0_2,
           round(corr(m1, y) + 1e-9, 6) AS corr_0_3,
           round(corr(m2, m3) + 1e-9, 6) AS corr_1_2,
           round(corr(m2, y) + 1e-9, 6) AS corr_1_3,
           round(corr(m3, y) + 1e-9, 6) AS corr_2_3
    FROM m
    """
)

ORACLES["agg_count_sequences"] = (
f"""
    SELECT user_id, count(DISTINCT {SLOT_SQL}) AS n_slots,
           count(DISTINCT {SLOT_SQL}) // 32 AS n_batches
    FROM events GROUP BY 1
    """
)

ORACLES["agg_distinct_times"] = (
f"""
    SELECT count(*) AS n_distinct, min(slot) AS first_slot, max(slot) AS last_slot
    FROM (SELECT DISTINCT {SLOT_SQL} AS slot FROM events)
    """
)

ORACLES["window_past_sequence"] = (
f"""
    WITH hourly AS ({_HOURLY_SQL})
    SELECT event_type, hslot, value,
           lag(value, 1) OVER w AS value_lag1,
           lag(value, 2) OVER w AS value_lag2,
           lag(value, 3) OVER w AS value_lag3
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hslot)
    """
)

ORACLES["window_future_horizon"] = (
f"""
    WITH hourly AS ({_HOURLY_SQL})
    SELECT event_type, hslot, value,
           lead(value, 1) OVER w AS value_lead1,
           lead(value, 2) OVER w AS value_lead2,
           lead(value, 3) OVER w AS value_lead3,
           lead(value, 4) OVER w AS value_lead4
    FROM hourly
    WINDOW w AS (PARTITION BY event_type ORDER BY hslot)
    """
)

ORACLES["interval_arith"] = (
f"""
    SELECT DISTINCT {SLOT_SQL} AS slot,
           {SLOT_SQL} + INTERVAL 15 MINUTES AS slot_p1,
           {SLOT_SQL} + INTERVAL 30 MINUTES AS slot_p2,
           {SLOT_SQL} + INTERVAL 45 MINUTES AS slot_p3
    FROM events
    """
)

ORACLES["window_prev_day_fallback"] = (
"""
    WITH days AS (
        SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-01-30',
                                      INTERVAL 1 DAY))::DATE AS day
    ),
    users AS (SELECT DISTINCT user_id FROM events),
    daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               round(avg(value) + 1e-9, 6) AS value
        FROM events GROUP BY 1, 2
    )
    SELECT u.user_id, d.day,
           last_value(dl.value IGNORE NULLS) OVER (
               PARTITION BY u.user_id ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
    FROM days d
    CROSS JOIN users u
    LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day
    """
)

ORACLES["day_boundary_correct"] = (
f"""
    WITH slots AS (SELECT DISTINCT {SLOT_SQL} AS slot FROM events)
    SELECT slot,
           strftime(CASE WHEN extract(hour FROM slot) = 0
                          AND extract(minute FROM slot) = 0
                    THEN slot - INTERVAL 1 DAY ELSE slot END, '%Y%j') AS day_dir
    FROM slots
    """
)

ORACLES["argmin_checkpoint"] = (
"""
    SELECT user_id, event_id AS best_event, value AS best_value
    FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """
)

ORACLES["sort_time"] = (
f"""
    SELECT DISTINCT {SLOT_SQL} AS slot FROM events ORDER BY 1
    """
)

ORACLES["set_intersect"] = (
"""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """
)

ORACLES["set_distinct"] = (
"SELECT DISTINCT user_id, event_type FROM events"
)

ORACLES["sample_random_crop"] = (
"""
    WITH origin AS (
        SELECT CAST(('0x' || substring(md5('crop_y_42'), 1, 8)) AS BIGINT) % 8 AS y0,
               CAST(('0x' || substring(md5('crop_x_42'), 1, 8)) AS BIGINT) % 8 AS x0
    )
    SELECT event_id, y, x, value FROM (
        SELECT event_id,
               event_id % 16 AS y,
               (event_id // 16) % 16 AS x,
               value
        FROM events
    ) g, origin o
    WHERE g.y >= o.y0 AND g.y < o.y0 + 8
      AND g.x >= o.x0 AND g.x < o.x0 + 8
    """
)

ORACLES["sample_augment"] = (
"""
    SELECT event_id,
           event_id % 16 AS y, (event_id // 16) % 16 AS x,
           15 - (event_id % 16) AS y_flipud,
           15 - ((event_id // 16) % 16) AS x_fliplr,
           15 - ((event_id // 16) % 16) AS rot90_y,
           event_id % 16 AS rot90_x
    FROM events
    """
)

ORACLES["array_slice_2d"] = (
"""
    SELECT event_id, event_id % 16 AS y, (event_id // 16) % 16 AS x, value
    FROM events
    WHERE event_id % 16 BETWEEN 4 AND 11
      AND (event_id // 16) % 16 BETWEEN 2 AND 9
    """
)

ORACLES["array_stack_channels"] = (
"""
    SELECT user_id, CAST(ts AS DATE) AS day,
           concat_ws('|',
             coalesce(CAST(CAST(floor(round(avg(CASE WHEN event_type='click' THEN value END) + 1e-9, 6) + 0.5) AS INT) AS VARCHAR), 'NA'),
             coalesce(CAST(CAST(floor(round(avg(CASE WHEN event_type='view' THEN value END) + 1e-9, 6) + 0.5) AS INT) AS VARCHAR), 'NA'),
             coalesce(CAST(CAST(floor(round(avg(CASE WHEN event_type='purchase' THEN value END) + 1e-9, 6) + 0.5) AS INT) AS VARCHAR), 'NA')
           ) AS stacked
    FROM events GROUP BY 1, 2
    """
)

ORACLES["array_concat"] = (
"""
    SELECT event_id, 'purchase' AS channel, value FROM events WHERE event_type='purchase'
    UNION ALL
    SELECT event_id, 'click' AS channel, value FROM events WHERE event_type='click'
    """
)

ORACLES["array_flatten"] = (
"""
    SELECT vec_id, r.i AS idx, embedding[r.i]::DOUBLE AS val
    FROM embeddings, (SELECT unnest(range(1, 129)) AS i) r
    WHERE r.i <= len(embedding)
    """
)

ORACLES["str_format_path"] = (
"""
    SELECT event_id,
           'w4c' || '/' || 'R' || user_id || '/' || 'training' || '/'
                 || strftime(ts, '%Y%j') || '/' || event_type AS path
    FROM events
    """
)

ORACLES["str_replace"] = (
"""
    SELECT event_id,
           replace('CTTH_MSG4_' || strftime(ts, '%Y%m%dT%H%M%S') || 'Z.nc',
                   'MSG4', 'MSG2') AS alt_filename
    FROM events
    """
)

ORACLES["json_get"] = (
"""
    SELECT json_extract_string(props, '$.k')::INT % 10 AS k_bucket,
           count(*) AS n, round(avg(value) + 1e-9, 6) AS mean_value
    FROM events GROUP BY 1
    """
)

ORACLES["dedup_exact"] = (
"""
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents GROUP BY 1
    """
)

ORACLES["dedup_minhash_signature"] = (
f"""
    {_SHINGLES_SQL}
    SELECT doc_id,
           min(({_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
           min(({_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
           min(({_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
           min(({_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
    FROM shingled GROUP BY doc_id
    """
)

ORACLES["dedup_minhash_lsh"] = (
f"""
    {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               min(({_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
               min(({_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
               min(({_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
               min(({_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
        FROM shingled GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx,
               CAST(mh_0 AS VARCHAR) || '_' || CAST(mh_1 AS VARCHAR) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1,
               CAST(mh_2 AS VARCHAR) || '_' || CAST(mh_3 AS VARCHAR) FROM sig
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band_idx = r.band_idx AND l.band_key = r.band_key
     AND l.doc_id < r.doc_id
    """
)

ORACLES["dedup_minhash_recall"] = (
f"""
    {_SHINGLES_SQL},
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    szq AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id % 3 = 0 AND a.doc_id != b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT id_a, id_b FROM inter
        JOIN szq x ON x.doc_id = id_a
        JOIN szq y ON y.doc_id = id_b
        WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    ),
    sig AS (
        SELECT doc_id,
               min(({_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
               min(({_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
               min(({_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
               min(({_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
        FROM shingled GROUP BY doc_id
    ),
    hits AS (
        SELECT CASE WHEN (sa.mh_0 = sb.mh_0 AND sa.mh_1 = sb.mh_1)
                      OR (sa.mh_2 = sb.mh_2 AND sa.mh_3 = sb.mh_3)
                    THEN 1 ELSE 0 END AS hit
        FROM truth t
        JOIN sig sa ON sa.doc_id = t.id_a
        JOIN sig sb ON sb.doc_id = t.id_b
    )
    SELECT count(*) AS n_true,
           CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hit,
           round(coalesce(sum(hit), 0) * 1.0 / greatest(count(*), 1) + 1e-9, 6)
               AS recall
    FROM hits
    """
)

ORACLES["sink_lsh_index"] = (
f"""
    {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               min(({_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
               min(({_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
               min(({_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
               min(({_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
        FROM shingled GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx,
               CAST(mh_0 AS VARCHAR) || '_' || CAST(mh_1 AS VARCHAR) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1,
               CAST(mh_2 AS VARCHAR) || '_' || CAST(mh_3 AS VARCHAR) FROM sig
    )
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band_idx = r.band_idx AND l.band_key = r.band_key
    WHERE l.doc_id < 50 AND r.doc_id >= 50
    """
)

ORACLES["dedup_minhash_estimate"] = (
f"""
    {_SHINGLES_SQL},
    sig AS (
        SELECT doc_id,
               min(({_H32_SQL.format(expr='shingle')} * 1103515245 + 12345) % 2147483647) AS mh_0,
               min(({_H32_SQL.format(expr='shingle')} * 214013 + 2531011) % 2147483647) AS mh_1,
               min(({_H32_SQL.format(expr='shingle')} * 69069 + 362437) % 2147483647) AS mh_2,
               min(({_H32_SQL.format(expr='shingle')} * 1664525 + 1013904223) % 2147483647) AS mh_3
        FROM shingled GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, 0 AS band_idx,
               CAST(mh_0 AS VARCHAR) || '_' || CAST(mh_1 AS VARCHAR) AS band_key FROM sig
        UNION ALL
        SELECT doc_id, 1,
               CAST(mh_2 AS VARCHAR) || '_' || CAST(mh_3 AS VARCHAR) FROM sig
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band_idx = r.band_idx AND l.band_key = r.band_key
         AND l.doc_id < r.doc_id
    )
    SELECT c.id_a, c.id_b,
           round(((CASE WHEN a.mh_0 = b.mh_0 THEN 1 ELSE 0 END
                 + CASE WHEN a.mh_1 = b.mh_1 THEN 1 ELSE 0 END
                 + CASE WHEN a.mh_2 = b.mh_2 THEN 1 ELSE 0 END
                 + CASE WHEN a.mh_3 = b.mh_3 THEN 1 ELSE 0 END) / 4.0)
                 + 1e-9, 6) AS jaccard_est
    FROM cand c
    JOIN sig a ON a.doc_id = c.id_a
    JOIN sig b ON b.doc_id = c.id_b
    """
)

ORACLES["dedup_ngram_jaccard"] = (
f"""
    {_SHINGLES_SQL},
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    live AS (SELECT h32 FROM hashed GROUP BY 1 HAVING count(*) <= 256),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        JOIN live ON live.h32 = a.h32
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (x.sz + y.sz - inter) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = id_a
    JOIN sz y ON y.doc_id = id_b
    WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    """
)

ORACLES["dedup_jaccard_prefix"] = (
f"""
    {_SHINGLES_SQL},
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (x.sz + y.sz - inter) + 1e-9, 6) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = id_a
    JOIN sz y ON y.doc_id = id_b
    WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    """
)

ORACLES["dedup_connected_components"] = (
f"""
    {_SHINGLES_SQL.replace("WITH ", "WITH RECURSIVE ", 1)},
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    live AS (SELECT h32 FROM hashed GROUP BY 1 HAVING count(*) <= 256),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        JOIN live ON live.h32 = a.h32
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sz x ON x.doc_id = id_a
        JOIN sz y ON y.doc_id = id_b
        WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, min(b) AS component_id, a = min(b) AS is_canonical
    FROM reach GROUP BY a
    """
)

ORACLES["dedup_simhash"] = (
f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, {_H32_SQL.format(expr='tok')} AS h FROM toks),
    bits AS (
        SELECT doc_id,
               {', '.join(
                   f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS bit_{b}"
                   for b in range(16)
               )}
        FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           {' + '.join(f"CASE WHEN bit_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))}
               AS simhash
    FROM bits
    """
)

ORACLES["text_token_count"] = (
r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
               AS n_bpe_ish
    FROM documents
    """
)

ORACLES["text_lang_id"] = (
f"""
    WITH scored AS (
        SELECT doc_id,
               {_lang_hits_sql(text.LANG_MARKERS['de'])} AS h_de,
               {_lang_hits_sql(text.LANG_MARKERS['en'])} AS h_en,
               {_lang_hits_sql(text.LANG_MARKERS['es'])} AS h_es,
               {_lang_hits_sql(text.LANG_MARKERS['fr'])} AS h_fr
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scored
    """
)

ORACLES["text_quality_score"] = (
r"""
    WITH f AS (
        SELECT doc_id,
               len(string_split_regex(trim(lower(text)), '\s+')) AS n_tok,
               length(text) AS n_chars,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
               len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                   t -> t IN ('the','a','and','of','to','in','is','it','for','on')))
                   AS n_stop
        FROM documents
    )
    SELECT doc_id,
           (least(n_tok / 50.0, 1.0)
            + least((n_stop * 1.0 / n_tok) * 5.0, 1.0)
            + greatest(1.0 - (n_punct * 1.0 / n_chars) * 10.0, 0.0)) / 3.0 AS quality
    FROM f
    """
)

ORACLES["text_fingerprint"] = (
f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM toks
    ),
    positioned AS (
        SELECT doc_id, {_H32_SQL.format(expr='w[i]')} * i AS term FROM pos
    )
    SELECT doc_id,
           CAST(sum(term) % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM positioned GROUP BY doc_id
    """
)

ORACLES["sim_cosine_topk"] = (
"WITH " + _COSINE_SQL.format(qfilter="WHERE vec_id < 8", pair_cond="")
)

ORACLES["sim_cosine_topk_blas"] = (
"WITH " + _COSINE_SQL.format(qfilter="WHERE vec_id < 8", pair_cond="")
)

ORACLES["sim_cosine_bucketed"] = (
"WITH "
    + _COSINE_SQL.format(
        qfilter="WHERE vec_id < 40", pair_cond=""
    ).replace(
        "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 40),",
        "q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 40),",
    ).replace(
        "c AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS cv FROM embeddings),",
        "c AS (SELECT vec_id AS item_id, label, embedding::DOUBLE[] AS cv FROM embeddings),",
    ).replace(
        "WHERE query_id != item_id ",
        "WHERE query_id != item_id AND q.label = c.label ",
    )
)

ORACLES["sim_hyperplane_lsh"] = (
f"""
    WITH {_HP_FRAC_CTE},
    eb AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v, k.k
           FROM embeddings e JOIN keyed k USING (vec_id)),
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               a.v AS qv, b.v AS cv
        FROM eb a JOIN eb b
          ON a.k = b.k AND a.vec_id < b.vec_id
    )
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id,
               round(list_dot_product(qv, cv)
                     / (greatest(sqrt(list_dot_product(qv, qv)), 1e-300)
                        * greatest(sqrt(list_dot_product(cv, cv)), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM cand
    ) WHERE cos_sim >= 0.2
    """
)

ORACLES["embed_pq_codes"] = (
f"""
    WITH {_PQ_CODES_SQL}
    SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code, dist
    FROM codes
    """
)

ORACLES["sim_pq_adc_topk"] = (
f"""
    WITH {_PQ_CODES_SQL},
    q AS (SELECT cb FROM seeds WHERE code = 0),
    lut AS (
        SELECT s.sub, c.code,
               {_pq_l2_terms_sql("q.cb", "c.cb")} AS qdist
        FROM q, subs s, seeds c
    ),
    per AS (
        SELECT b.vec_id,
               {", ".join(f"max(CASE WHEN b.sub = {s} THEN l.qdist END) AS d{s}" for s in range(8))}
        FROM codes b JOIN lut l ON b.sub = l.sub AND b.code = l.code
        GROUP BY 1
    )
    SELECT vec_id,
           round({" + ".join(f"d{s}" for s in range(8))} + 1e-9, 6) AS adc_dist
    FROM per
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """
)

ORACLES["sim_ivfpq_topk"] = (
f"""
    WITH {_PQ_CODES_SQL},
    q AS (SELECT cb FROM seeds WHERE code = 0),
    lut AS (
        SELECT s.sub, c.code,
               {_pq_l2_terms_sql("q.cb", "c.cb")} AS qdist
        FROM q, subs s, seeds c
    ),
    per AS (
        SELECT b.vec_id,
               {", ".join(f"max(CASE WHEN b.sub = {s} THEN l.qdist END) AS d{s}" for s in range(8))}
        FROM codes b JOIN lut l ON b.sub = l.sub AND b.code = l.code
        GROUP BY 1
    )
    SELECT vec_id,
           round({" + ".join(f"d{s}" for s in range(8))} + 1e-9, 6) AS adc_dist
    FROM per
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """
)

ORACLES["sink_ivfpq_index"] = (
None
)

ORACLES["curation_pipeline"] = (
f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, lang, text,
               round({_QUALITY_SQL} + 1e-9, 6) AS quality
        FROM documents
    ),
    q AS (SELECT * FROM scored WHERE quality >= 0.5),
    ex AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM q
        ) WHERE rn = 1
    ),
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM ex),
    tpos AS (
        SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    shingled AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM tpos
    ),
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    live AS (SELECT h32 FROM hashed GROUP BY 1 HAVING count(*) <= 256),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        JOIN live ON live.h32 = a.h32
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sz x ON x.doc_id = id_a
        JOIN sz y ON y.doc_id = id_b
        WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS comp FROM reach GROUP BY a)
    SELECT e.doc_id, e.lang,
           CASE WHEN {_H64_SQL.format(expr="'42_' || CAST(e.doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {_H64_SQL.format(expr="'42_' || CAST(e.doc_id AS VARCHAR)")} % 100 < 90
                THEN 'validation'
                ELSE 'test' END AS split,
           len(string_split_regex(trim(e.text), '\\s+')) AS n_tokens,
           e.quality
    FROM ex e LEFT JOIN comp c ON c.doc_id = e.doc_id
    WHERE coalesce(c.comp, e.doc_id) = e.doc_id
    """
)

ORACLES["scan_jsonl_roundtrip"] = (
"""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """
)

ORACLES["scan_orc_roundtrip"] = (
"""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """
)

ORACLES["join_fuzzy_blocked"] = (
"""
    WITH c AS (SELECT c_custkey, c_name, substr(c_name, 1, 16) AS blk
               FROM customer)
    SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
           levenshtein(a.c_name, b.c_name) AS edit_dist
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """
)

ORACLES["scan_csv_roundtrip"] = (
"""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """
)

ORACLES["plot_frame_grid"] = (
"""
    WITH slots AS (
        SELECT DISTINCT user_id,
               make_timestamp(CAST(floor(epoch(ts)/900) AS BIGINT)*900*1000000) AS slot
        FROM events
    ),
    numbered AS (
        SELECT user_id, slot,
               row_number() OVER (PARTITION BY user_id ORDER BY slot) - 1 AS pos
        FROM slots
    )
    SELECT user_id, slot,
           CASE pos WHEN 1 THEN 0 WHEN 3 THEN 1 WHEN 4 THEN 2 WHEN 6 THEN 3
                    WHEN 11 THEN 4 WHEN 19 THEN 5 WHEN 35 THEN 6 END AS panel_idx,
           CASE pos WHEN 1 THEN -2 WHEN 3 THEN 0 WHEN 4 THEN 1 WHEN 6 THEN 3
                    WHEN 11 THEN 8 WHEN 19 THEN 16 WHEN 35 THEN 32 END AS t_offset
    FROM numbered
    WHERE pos IN (1, 3, 4, 6, 11, 19, 35)
    """
)

ORACLES["curation_source_stats"] = (
f"""
    WITH scored AS (
        SELECT source, doc_id, text,
               round({_QUALITY_SQL} + 1e-9, 6) AS quality,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(quality) + 1e-9, 6) AS mean_quality,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
    FROM scored GROUP BY source
    """
)

ORACLES["sample_stratified_split"] = (
f"""
    SELECT doc_id, lang,
           CASE WHEN {_H64_SQL.format(expr="'42_' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                THEN 'train'
                WHEN {_H64_SQL.format(expr="'42_' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'validation'
                ELSE 'test' END AS split
    FROM documents
    """
)

ORACLES["text_unigram_logprob"] = (
r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    freq AS (SELECT tok, count(*) AS tok_n FROM toks GROUP BY 1),
    total AS (SELECT sum(tok_n) AS tok_total FROM freq)
    SELECT t.doc_id,
           round(avg(ln(f.tok_n * 1.0 / total.tok_total)) + 1e-9, 6)
               AS mean_logprob,
           count(*) AS n_tokens
    FROM toks t JOIN freq f ON f.tok = t.tok, total
    GROUP BY t.doc_id
    """
)

ORACLES["text_strip_markup"] = (
r"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace('<p>' || text || '</p><br/>', '<[^>]*>', ' ', 'g'),
               '\s+', ' ', 'g')) AS clean
    FROM documents
    """
)

ORACLES["text_vocab_topk"] = (
r"""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
    ),
    t AS (SELECT unnest(w) AS token FROM toks)
    SELECT token, count(*) AS freq
    FROM t GROUP BY 1
    ORDER BY freq DESC, token
    LIMIT 100
    """
)

ORACLES["text_heavy_hitters_cms"] = (
r"""
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS item
        FROM documents
    ),
    bits AS (
        SELECT item, j,
               CAST(('0x' || substring(md5(item), 1 + 8 * j, 8)) AS BIGINT) % 1024 AS bucket
        FROM toks, (SELECT unnest([0, 1, 2]) AS j)
    ),
    counters AS (SELECT j, bucket, count(*) AS c FROM bits GROUP BY 1, 2),
    probes AS (SELECT DISTINCT item, j, bucket FROM bits),
    est AS (
        SELECT item, min(c) AS cms_estimate
        FROM probes JOIN counters USING (j, bucket) GROUP BY 1
    ),
    tru AS (SELECT item, count(*) AS true_count FROM toks GROUP BY 1)
    SELECT item, true_count, cms_estimate
    FROM tru JOIN est USING (item)
    ORDER BY true_count DESC, item
    LIMIT 25
    """
)

ORACLES["sample_weighted_priority"] = (
r"""
    WITH w AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS w
        FROM documents
    ),
    pri AS (
        SELECT doc_id, w,
               w / ((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
                    / 4294967296.0) AS priority
        FROM w
    ),
    ranked AS (
        SELECT doc_id, w, priority,
               row_number() OVER (ORDER BY priority DESC, doc_id) AS rk
        FROM pri
    ),
    tau AS (
        SELECT coalesce(min(CASE WHEN rk = 101 THEN priority END), 0.0) AS t
        FROM ranked
    )
    SELECT doc_id, w AS weight, round(priority, 6) AS priority,
           round(greatest(w, t), 6) AS est_weight
    FROM ranked, tau WHERE rk <= 100
    """
)

ORACLES["join_range_binned"] = (
"""
    WITH d0 AS (SELECT date_trunc('day', min(ts)) AS d0 FROM events),
    iv AS (
        SELECT k AS interval_id,
               d0 + (k*12000) * INTERVAL 1 SECOND AS s,
               d0 + (k*12000 + 9000) * INTERVAL 1 SECOND AS e
        FROM d0, range(200) t(k)
    )
    SELECT interval_id,
           count(*) AS n_events,
           round(sum(value) + 1e-9, 6) AS sum_value
    FROM iv JOIN events ON ts >= s AND ts < e
    GROUP BY 1
    """
)

ORACLES["text_tfidf_topk"] = (
r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
    ),
    t AS (SELECT doc_id, unnest(w) AS term FROM toks),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    tfn AS (SELECT *, sum(tf) OVER (PARTITION BY doc_id) AS n_tok FROM tf),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, tfn.term,
               round((tf * 1.0 / n_tok) * ln(n_docs * 1.0 / df) + 1e-12, 9) AS tfidf
        FROM tfn JOIN dft ON tfn.term = dft.term, n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """
)

ORACLES["sink_compacted"] = (
"""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag,
           l_linestatus, l_shipdate
    FROM lineitem
    """
)

ORACLES["project_unpivot_long"] = (
"""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    """
)

ORACLES["project_pivot_wide"] = (
"""
    SELECT date_trunc('day', ts) AS day,
           round(coalesce(sum(value) FILTER (event_type = 'click'), 0) + 1e-9, 6) AS click_sum,
           round(coalesce(sum(value) FILTER (event_type = 'error'), 0) + 1e-9, 6) AS error_sum,
           round(coalesce(sum(value) FILTER (event_type = 'purchase'), 0) + 1e-9, 6) AS purchase_sum,
           round(coalesce(sum(value) FILTER (event_type = 'signup'), 0) + 1e-9, 6) AS signup_sum,
           round(coalesce(sum(value) FILTER (event_type = 'view'), 0) + 1e-9, 6) AS view_sum
    FROM events GROUP BY 1
    """
)

ORACLES["sink_merge_upsert"] = (
f"""
    WITH changes AS (
        SELECT {_ORDER_COLS}, 'delete' AS op, 1 AS seq
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.05,
               o_orderdate, o_orderpriority, 'upsert', 1
        FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.2,
               o_orderdate, o_orderpriority, 'upsert', 2
        FROM orders WHERE o_orderkey % 10 = 1
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.3,
               o_orderdate, o_orderpriority, 'upsert', 3
        FROM orders WHERE o_orderkey % 10 = 2
        UNION ALL
        SELECT {_ORDER_COLS}, 'delete', 3
        FROM orders WHERE o_orderkey % 10 = 2
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
               o_totalprice + 1000, o_orderdate, o_orderpriority, 'upsert', 1
        FROM orders WHERE o_orderkey % 10 = 3
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY o_orderkey
                ORDER BY seq DESC, CASE WHEN op = 'delete' THEN 0 ELSE 1 END
            ) AS rn FROM changes
        ) WHERE rn = 1
    )
    SELECT {_ORDER_COLS.replace('o_', 'b.o_')}
    FROM orders b LEFT JOIN latest l ON b.o_orderkey = l.o_orderkey
    WHERE l.o_orderkey IS NULL
    UNION ALL
    SELECT {_ORDER_COLS} FROM latest WHERE op = 'upsert'
    """
)

ORACLES["audit_constraints"] = (
"""
    WITH n AS (SELECT count(*) AS n_rows FROM lineitem)
    SELECT 'qty_positive' AS rule,
           CAST(sum(CASE WHEN coalesce(l_quantity > 0, FALSE) THEN 0 ELSE 1 END) AS BIGINT) AS n_violations,
           (SELECT n_rows FROM n) AS n_rows
    FROM lineitem
    UNION ALL
    SELECT 'discount_unit_range',
           CAST(sum(CASE WHEN coalesce(l_discount >= 0 AND l_discount <= 0.05, FALSE) THEN 0 ELSE 1 END) AS BIGINT),
           (SELECT n_rows FROM n)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_domain',
           CAST(sum(CASE WHEN coalesce(l_returnflag IN ('A','N','R'), FALSE) THEN 0 ELSE 1 END) AS BIGINT),
           (SELECT n_rows FROM n)
    FROM lineitem
    UNION ALL
    SELECT 'shipdate_present',
           CAST(sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
           (SELECT n_rows FROM n)
    FROM lineitem
    """
)

ORACLES["agg_histogram"] = (
"""
    WITH s AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    b AS (
        SELECT least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9) AS bin,
               lo, hi
        FROM lineitem, s
        WHERE l_extendedprice IS NOT NULL
    )
    SELECT bin,
           lo + bin * (hi - lo) / 10.0 AS bin_lo,
           lo + (bin + 1) * (hi - lo) / 10.0 AS bin_hi,
           count(*) AS n
    FROM b GROUP BY bin, lo, hi
    """
)

ORACLES["text_decontaminate"] = (
f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, source, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               {_H32_SQL.format(expr="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS h32
        FROM pos
    ),
    ev AS (SELECT DISTINCT h32 FROM sh WHERE source = 'src0'),
    ov AS (
        SELECT doc_id, count(*) AS n_overlap
        FROM sh JOIN ev USING (h32) WHERE sh.source <> 'src0' GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(ov.n_overlap, 0) AS n_overlap,
           coalesce(ov.n_overlap, 0) >= 2 AS contaminated
    FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    WHERE d.source <> 'src0'
    """
)

ORACLES["text_decontaminate_bloom"] = (
f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents),
    pos_ AS (
        SELECT doc_id, source, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
        FROM pos_
    ),
    bits AS (
        SELECT doc_id, source, h, j,
               CAST(('0x' || substring(h, 1 + 8 * j, 8)) AS BIGINT) % 262144 AS pos
        FROM sh, (SELECT unnest([0, 1, 2]) AS j)
    ),
    ev AS (SELECT DISTINCT pos FROM bits WHERE source = 'src0'),
    hits AS (
        SELECT doc_id, h
        FROM bits JOIN ev USING (pos) WHERE bits.source <> 'src0'
        GROUP BY doc_id, h HAVING count(DISTINCT j) = 3
    ),
    ov AS (SELECT doc_id, count(*) AS n FROM hits GROUP BY 1)
    SELECT d.doc_id,
           CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap_bloom,
           coalesce(ov.n, 0) >= 2 AS contaminated
    FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
    WHERE d.source <> 'src0'
    """
)

ORACLES["text_pii_redact"] = (
"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or 555-123-4567 at 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR) || '.7' AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '\\b[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}\\b', '<PHONE>', 'g'),
               '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b',
               '<IP>', 'g') AS redacted
    FROM synth
    """
)

ORACLES["text_repetition_score"] = (
f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS_SQL.replace('text', 'lower(text)')}) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           count(*) AS n_distinct,
           round(max(tf) * 1.0 / sum(tf) + 1e-9, 6) AS top_token_frac,
           round(1.0 - count(*) * 1.0 / sum(tf) + 1e-9, 6) AS dup_token_frac
    FROM tf GROUP BY 1
    """
)

ORACLES["sample_mixture_weighted"] = (
"""
    WITH r AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
                           WHEN 'src2' THEN 0.25 ELSE 0.1 END AS rate
        FROM documents
    )
    SELECT doc_id, source, round(1.0 / rate, 6) AS weight
    FROM r
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < rate * 10000
    """
)

ORACLES["pack_chunked"] = (
r"""
    WITH d AS (
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               CAST(sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                    - n_tok AS BIGINT) AS start_offset
        FROM d
    )
    SELECT doc_id, n_tok, start_offset,
           CAST(floor(start_offset / 128) AS BIGINT) AS pack_first,
           CAST(floor((start_offset + n_tok - 1) / 128) AS BIGINT) AS pack_last
    FROM c
    """
)

ORACLES["window_ewma"] = (
_ewma_sql()
)

ORACLES["flagship_pricing_summary"] = (
"""
    -- DECIMAL -> VARCHAR -> DOUBLE: DuckDB's direct DECIMAL->DOUBLE
    -- cast is not correctly rounded (1-ulp off at ~2.8e10, caught by
    -- the sf1 sweep); the string round-trip is, matching Spark's
    -- BigDecimal.doubleValue exactly.
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
               AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(3,2)))
                    * (1 + CAST(l_tax AS DECIMAL(3,2)))) AS VARCHAR) AS DOUBLE)
               AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(3,2))) AS VARCHAR) AS DOUBLE)
               / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    """
)

ORACLES["agg_moments"] = (
"""
    WITH p AS (
        SELECT event_type,
               count(*) AS n,
               sum(value) AS s1,
               sum(value * value) AS s2,
               sum(value * value * value) AS s3,
               sum(value * value * value * value) AS s4
        FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT event_type, n,
           round(s1 / n + 1e-9, 6) AS mean,
           round(s2 / n - (s1/n) * (s1/n) + 1e-9, 6) AS variance,
           round((s3/n - 3 * (s1/n) * s2/n + 2 * (s1/n) * (s1/n) * (s1/n))
                 / pow(s2 / n - (s1/n) * (s1/n), 1.5) + 1e-9, 6) AS skewness,
           round((s4/n - 4 * (s1/n) * s3/n + 6 * (s1/n) * (s1/n) * s2/n
                  - 3 * (s1/n) * (s1/n) * (s1/n) * (s1/n))
                 / pow(s2 / n - (s1/n) * (s1/n), 2) - 3 + 1e-9, 6) AS excess_kurtosis
    FROM p
    """
)

ORACLES["dim_scd2_build"] = (
"""
    WITH h AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT o_custkey, o_orderstatus, o_orderdate,
               sum(CASE WHEN prev_status IS NULL
                          OR prev_status <> o_orderstatus THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS run_id
        FROM h
    ),
    spans AS (
        SELECT o_custkey AS custkey, o_orderstatus AS status, run_id,
               min(o_orderdate) AS valid_from
        FROM runs GROUP BY 1, 2, 3
    )
    SELECT custkey, status, valid_from,
           lead(valid_from) OVER (PARTITION BY custkey ORDER BY run_id)
               AS valid_to,
           (lead(valid_from) OVER (PARTITION BY custkey ORDER BY run_id) IS NULL)
               AS is_current
    FROM spans
    """
)

ORACLES["join_point_in_time"] = (
"""
    WITH h AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER w AS prev_status
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    runs AS (
        SELECT o_custkey, o_orderstatus, o_orderdate,
               sum(CASE WHEN prev_status IS NULL
                          OR prev_status <> o_orderstatus THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS UNBOUNDED PRECEDING) AS run_id
        FROM h
    ),
    spans AS (
        SELECT o_custkey AS custkey, o_orderstatus AS status, run_id,
               min(o_orderdate) AS valid_from
        FROM runs GROUP BY 1, 2, 3
    ),
    eod AS (
        SELECT custkey, status, valid_from FROM (
            SELECT *, row_number() OVER (PARTITION BY custkey, valid_from
                                         ORDER BY run_id DESC) AS rn
            FROM spans
        ) WHERE rn = 1
    ),
    matched AS (
        SELECT o.o_orderkey, o.o_custkey AS custkey, o.o_orderdate AS ts,
               o.o_orderstatus, d.status AS status_asof,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY d.valid_from DESC) AS rn
        FROM orders o JOIN eod d
          ON d.custkey = o.o_custkey AND d.valid_from <= o.o_orderdate
    )
    SELECT o_orderkey, custkey, ts, o_orderstatus, status_asof
    FROM matched WHERE rn = 1
    """
)

ORACLES["sample_exact_k_per_group"] = (
f"""
    SELECT doc_id, source, sample_rank FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_H32_SQL.format(expr="CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS sample_rank
        FROM documents
    ) WHERE sample_rank <= 20
    """
)

ORACLES["text_pmi_collocations"] = (
r"""
    WITH toks AS (
        SELECT string_split_regex(trim(lower(text)), '\s+') AS w FROM documents
    ),
    uni AS (
        SELECT t.tok, count(*) AS c FROM (
            SELECT unnest(w) AS tok FROM toks
        ) t GROUP BY 1
    ),
    un AS (SELECT sum(c) AS n FROM uni),
    big AS (
        SELECT w[i] AS t1, w[i+1] AS t2, count(*) AS c
        FROM toks, unnest(range(1, len(w))) r(i)
        WHERE len(w) >= 2
        GROUP BY 1, 2
    ),
    bn AS (SELECT sum(c) AS n FROM big)
    SELECT t1, t2, big.c AS pair_count,
           round(ln((big.c * 1.0 / bn.n)
                    / ((u1.c * 1.0 / un.n) * (u2.c * 1.0 / un.n))) + 1e-9, 6)
               AS pmi
    FROM big, bn, un
    JOIN uni u1 ON u1.tok = t1
    JOIN uni u2 ON u2.tok = t2
    WHERE big.c >= 25
    ORDER BY pmi DESC, t1, t2
    LIMIT 50
    """
)

ORACLES["graph_triangles"] = (
f"""
    {_SHINGLES_SQL},
    hashed AS (
        SELECT DISTINCT doc_id, {_H32_SQL.format(expr='shingle')} AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    live AS (SELECT h32 FROM hashed GROUP BY 1 HAVING count(*) <= 256),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        JOIN live ON live.h32 = a.h32
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v
        FROM inter
        JOIN sz x ON x.doc_id = id_a
        JOIN sz y ON y.doc_id = id_b
        WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    ),
    deg AS (
        SELECT id, count(*) AS deg
        FROM (SELECT u AS id FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY 1
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.u AND e2.v > e1.v
        JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT count(*) FROM edges) AS n_edges,
           (SELECT sum(deg * (deg - 1) // 2)::BIGINT FROM deg) AS n_wedges,
           n_triangles,
           round(CASE WHEN (SELECT sum(deg * (deg - 1) / 2) FROM deg) > 0
                      THEN 3.0 * n_triangles
                           / (SELECT sum(deg * (deg - 1) / 2) FROM deg)
                      ELSE 0.0 END + 1e-9, 6) AS clustering_coeff
    FROM tri
    """
)

ORACLES["flagship_star_join"] = (
"""
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority,
           round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(3,2)))) AS DOUBLE)
                 + 1e-9, 6) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """
)

ORACLES["agg_mode_deterministic"] = (
"""
    WITH c AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q, count(*) AS n
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, q AS mode_qty, n AS mode_n
    FROM (
        SELECT l_returnflag, q, n,
               row_number() OVER (
                   PARTITION BY l_returnflag ORDER BY n DESC, q DESC
               ) AS rn
        FROM c
    ) WHERE rn = 1
    """
)

ORACLES["window_rank_stats"] = (
"""
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w + 1e-9, 6) AS prank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """
)

ORACLES["agg_string_concat"] = (
"""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           count(*) AS n
    FROM nation GROUP BY 1
    """
)

ORACLES["join_semi_anti"] = (
"""
    SELECT c.c_custkey,
           (c.c_custkey IN (SELECT o_custkey FROM orders)) AS has_orders
    FROM customer c
    """
)

ORACLES["window_range_trailing"] = (
"""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER w + 1e-9, 6) AS trailing_1h_sum,
           count(*) OVER w AS trailing_1h_n
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """
)

ORACLES["text_inverted_index"] = (
r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM toks, unnest(range(1, len(w) - 1)) t(i)
        WHERE len(w) >= 3
    ),
    pairs AS (
        SELECT shingle, doc_id, count(*) AS tf FROM sh GROUP BY 1, 2
    ),
    stats AS (
        SELECT shingle, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total
        FROM pairs GROUP BY 1
    ),
    keep AS (SELECT * FROM stats WHERE df BETWEEN 5 AND 50),
    post AS (
        SELECT p.shingle, list_sort(list(p.doc_id)) AS postings
        FROM pairs p JOIN keep k ON p.shingle = k.shingle
        GROUP BY 1
    )
    SELECT k.shingle, k.df, k.tf_total,
           array_to_string(post.postings, ',') AS postings
    FROM keep k JOIN post USING (shingle)
    """
)

ORACLES["curation_report"] = (
f"""
    WITH toks AS (SELECT doc_id, source, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, source, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               {_H32_SQL.format(expr="w[i] || ' ' || w[i+1] || ' ' || w[i+2]")} AS h32
        FROM pos
    ),
    ev AS (SELECT DISTINCT h32 FROM sh WHERE source = 'src0'),
    ov AS (
        SELECT doc_id, count(*) AS n_overlap
        FROM sh JOIN ev USING (h32) WHERE sh.source <> 'src0' GROUP BY 1
    ),
    contam AS (
        SELECT d.source, count(*) AS n_contaminated
        FROM documents d JOIN ov ON d.doc_id = ov.doc_id
        WHERE ov.n_overlap >= 2 GROUP BY 1
    ),
    rep AS (
        SELECT source, doc_id,
               round(max(tf) * 1.0 / sum(tf) + 1e-9, 6) AS ttf
        FROM (
            SELECT t.source, t.doc_id, tok, count(*) AS tf
            FROM (SELECT doc_id, source,
                         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
                  FROM documents) t
            JOIN documents d USING (doc_id)
            GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    )
    SELECT d.source,
           count(*) AS n_docs,
           round(avg(len(string_split_regex(trim(d.text), '\\s+'))) + 1e-9, 6)
               AS mean_tokens,
           round(avg(rep.ttf) + 1e-9, 6) AS mean_top_token_frac,
           coalesce(max(contam.n_contaminated), 0) AS n_contaminated
    FROM documents d
    JOIN rep ON rep.doc_id = d.doc_id
    LEFT JOIN contam ON contam.source = d.source
    GROUP BY 1
    """
)

ORACLES["solve_ridge_verified"] = (
"""
    WITH f AS (
        SELECT value AS p0,
               value * 0.5 + (event_id % 7) AS p1,
               value * 0.8 + (event_id % 3) AS y
        FROM events
    ),
    g AS (
        SELECT avg(p0*p0) AS a, avg(p0*p1) AS b, avg(p1*p1) AS c,
               avg(p0*y) AS d0, avg(p1*y) AS d1
        FROM f
    ),
    l AS (SELECT *, 1e-4 * ((a + c) / 2.0) AS lam FROM g)
    SELECT 0 AS model_id,
           round(((c+lam)*d0 - b*d1) / ((a+lam)*(c+lam) - b*b) + 1e-9, 6) AS weight
    FROM l
    UNION ALL
    SELECT 1,
           round(((a+lam)*d1 - b*d0) / ((a+lam)*(c+lam) - b*b) + 1e-9, 6)
    FROM l
    """
)

ORACLES["sample_topk_per_group"] = (
"""
    WITH scored AS (
        SELECT doc_id, source,
               round(
                   (least(len(string_split_regex(trim(lower(text)), '\\s+')) / 50.0, 1.0)
                    + least(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                          t -> t IN ('the','a','and','of','to','in','is','it','for','on'))) * 1.0
                        / len(string_split_regex(trim(lower(text)), '\\s+')) * 5.0, 1.0)
                    + greatest(1.0 - len(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 1.0
                        / len(text) * 10.0, 0.0)
                   ) / 3.0 + 1e-9, 6) AS q
        FROM documents
    )
    SELECT doc_id, source, q AS quality, rank FROM (
        SELECT doc_id, source, q,
               row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """
)

ORACLES["audit_profile"] = (
"""
    WITH m AS (
        SELECT count(*) AS o_rows,
               sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS o_nulls,
               count(DISTINCT o_orderpriority) AS o_distinct,
               CAST(min(o_orderpriority) AS VARCHAR) AS o_min,
               CAST(max(o_orderpriority) AS VARCHAR) AS o_max,
               sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS p_nulls,
               count(DISTINCT o_totalprice) AS p_distinct,
               CAST(min(o_totalprice) AS VARCHAR) AS p_min,
               CAST(max(o_totalprice) AS VARCHAR) AS p_max
        FROM orders
    )
    SELECT 'o_orderpriority' AS "column", v.metric, v.value
    FROM m, LATERAL (VALUES
        ('rows', CAST(o_rows AS VARCHAR)), ('nulls', CAST(o_nulls AS VARCHAR)),
        ('distinct', CAST(o_distinct AS VARCHAR)), ('min', o_min), ('max', o_max)
    ) v(metric, value)
    UNION ALL
    SELECT 'o_totalprice', v.metric, v.value
    FROM m, LATERAL (VALUES
        ('rows', CAST(o_rows AS VARCHAR)), ('nulls', CAST(p_nulls AS VARCHAR)),
        ('distinct', CAST(p_distinct AS VARCHAR)), ('min', p_min), ('max', p_max)
    ) v(metric, value)
    """
)

ORACLES["agg_entropy"] = (
"""
    WITH c AS (
        SELECT event_type, user_id % 10 AS bucket, count(*) AS n
        FROM events GROUP BY 1, 2
    ),
    p AS (
        SELECT event_type,
               n * 1.0 / sum(n) OVER (PARTITION BY event_type) AS pr
        FROM c
    )
    SELECT event_type,
           round(-sum(pr * ln(pr)) + 1e-9, 6) AS entropy,
           count(*) AS n_values
    FROM p GROUP BY 1
    """
)

ORACLES["text_chunk_overlap"] = (
f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    ch AS (
        SELECT doc_id, w,
               unnest(range(0,
                   CAST(floor((greatest(len(w) - 64, 0) + 31) / 32) AS BIGINT) + 1
               )) AS chunk_idx
        FROM toks
    )
    SELECT doc_id, chunk_idx,
           len(w[chunk_idx*32 + 1 : chunk_idx*32 + 64]) AS n_chunk_tokens,
           array_to_string(w[chunk_idx*32 + 1 : chunk_idx*32 + 64], ' ')
               AS chunk_text
    FROM ch
    """
)

ORACLES["text_bigram_logprob"] = (
f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, w, unnest(range(1, len(w))) AS i
        FROM toks WHERE len(w) >= 2
    ),
    bg AS (SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS b FROM pos),
    c2 AS (SELECT b, count(*) AS c2 FROM bg GROUP BY 1),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
    SELECT doc_id,
           round(avg(ln(c2 * 1.0 / c1)) + 1e-9, 6) AS mean_logprob,
           count(*) AS n_bigrams
    FROM bg JOIN c2 USING (b) JOIN c1 USING (w1)
    GROUP BY 1
    """
)

ORACLES["sink_zorder"] = (
"""
    SELECT l_orderkey, l_partkey, l_suppkey, l_quantity
    FROM lineitem
    """
)

ORACLES["project_zorder_key"] = (
f"""
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CAST({_zorder_sql('l_partkey', 'l_suppkey')} AS BIGINT) AS zval
    FROM lineitem
    """
)

ORACLES["join_interval_overlap"] = (
"""
    WITH a AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               min(ts) AS a_start, max(ts) AS a_end
        FROM events GROUP BY 1, 2
    ),
    b AS (
        SELECT event_id,
               ts - INTERVAL 30 MINUTE AS b_start,
               ts + INTERVAL 30 MINUTE AS b_end
        FROM events WHERE event_type = 'error' AND value > 150
    )
    SELECT a.user_id, a.day, b.event_id,
           epoch_us(least(a_end, b_end)) - epoch_us(greatest(a_start, b_start))
               AS overlap_us
    FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
    """
)

ORACLES["dedup_substring_spans"] = (
f"""
    WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS w FROM documents),
    pos AS (
        SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
        FROM toks WHERE len(w) >= 5
    ),
    wh AS (
        SELECT doc_id,
               {_H32_SQL.format(expr="w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")} AS h
        FROM pos
    ),
    dup AS (
        SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS nd FROM wh GROUP BY 1)
        WHERE nd >= 2
    ),
    pd AS (
        SELECT doc_id, count(*) AS n_dup_windows
        FROM wh JOIN dup USING (h) GROUP BY 1
    ),
    base AS (
        SELECT doc_id, greatest(len({_TOKS_SQL}) - 4, 0) AS n_windows
        FROM documents
    )
    SELECT b.doc_id, b.n_windows,
           coalesce(pd.n_dup_windows, 0) AS n_dup_windows,
           round(coalesce(pd.n_dup_windows, 0) / greatest(b.n_windows, 1)
                 + 1e-9, 6) AS dup_ratio
    FROM base b LEFT JOIN pd USING (doc_id)
    """
)

ORACLES["agg_winsorize"] = (
"""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT e.event_type,
           round(avg(least(greatest(e.value, b.lo), b.hi)) + 1e-9, 6) AS winsor_mean,
           round(min(b.lo) + 1e-9, 6) AS p_lo,
           round(min(b.hi) + 1e-9, 6) AS p_hi,
           count(*) AS n
    FROM events e JOIN b USING (event_type)
    WHERE e.value IS NOT NULL
    GROUP BY 1
    """
)

ORACLES["sink_exact_dedup_index"] = (
    """
    SELECT b.batch_id, a.doc_id AS stored_id
    FROM documents a
    JOIN (
        SELECT doc_id + 1000000 AS batch_id, md5(text) AS h
        FROM documents WHERE doc_id % 7 = 0
    ) b ON md5(a.text) = b.h
    """
)
ORACLES["dedup_ngram_containment"] = (
    r"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000,
               array_to_string(
                   w[1:greatest(CAST(floor((len(w) * 2) / 5) AS INT), 3)], ' ')
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
              FROM documents)
        WHERE doc_id % 9 = 0
    ),
    toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus),
    pos AS (
        SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        FROM toks WHERE len(w) >= 3
    ),
    shingled AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM pos
    ),
    hashed AS (
        SELECT DISTINCT doc_id, CAST(('0x' || substring(md5(shingle), 1, 8)) AS BIGINT) AS h32 FROM shingled
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM hashed GROUP BY 1),
    live AS (SELECT h32 FROM hashed GROUP BY 1 HAVING count(*) <= 256),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM hashed a JOIN hashed b
          ON a.h32 = b.h32 AND a.doc_id < b.doc_id
        JOIN live ON live.h32 = a.h32
        GROUP BY 1, 2
    ),
    directed AS (
        SELECT id_a AS contained_id, id_b AS container_id,
               inter * 1.0 / x.sz AS c
        FROM inter JOIN sz x ON x.doc_id = id_a
        UNION ALL
        SELECT id_b, id_a, inter * 1.0 / y.sz
        FROM inter JOIN sz y ON y.doc_id = id_b
    )
    SELECT contained_id, container_id, round(c + 1e-9, 6) AS containment
    FROM directed WHERE c >= 0.8
    """
)


# Multi-probe candidate rule over the fan-out-normalized fractional
# split. ONE oracle covers the size-gated default
# (similarity.near_dup_pairs_multiprobe, n_probes=8) at every corpus size —
# the bounded per-direction meet rule with rnk <= 8 masks. While the
# prefix width p2 <= 8 (both oracle gates) every prefix plane ranks
# within 8, the masks are FULL, and the rule degenerates to the old
# symmetric predicate (distance 0 always; distance 1 unless both
# prefixes unmerged and the extension bits differ) — the recorded
# results. Past the gate the Spark side probes only the 8
# lowest-|dot| prefix planes and the masks here restate exactly
# that (the same row_number over round(|dot|+1e-9, 6) as the
# bounded sibling's oracle).
ORACLES["sim_lsh_multiprobe"] = (
f"""
    WITH {_HP_FRAC_MP_CTE},
    ranked AS (
        SELECT d.vec_id, d.p,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY round(abs(d.dot) + 1e-9, 6), d.p)
                   AS rnk
        FROM dots1 d, pv WHERE d.p < pv.fp
    ),
    pmask AS (
        SELECT vec_id,
               sum(CASE WHEN rnk <= 8 THEN 1::BIGINT << p ELSE 0 END) AS pm
        FROM ranked GROUP BY 1
    ),
    eb AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                  k.pref, k.ext, k.merged, COALESCE(m.pm, 0) AS pm
           FROM embeddings e JOIN keyed k USING (vec_id)
           LEFT JOIN pmask m USING (vec_id)),
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               a.v AS qv, b.v AS cv
        FROM eb a JOIN eb b
          ON a.vec_id < b.vec_id
         AND (xor(a.pref, b.pref) = 0
              OR (bit_count(xor(a.pref, b.pref)) = 1
                  AND (((xor(a.pref, b.pref) & a.pm) = xor(a.pref, b.pref)
                        AND (b.merged OR a.ext = b.ext))
                       OR ((xor(a.pref, b.pref) & b.pm) = xor(a.pref, b.pref)
                           AND (a.merged OR a.ext = b.ext)))))
    )
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id,
               round(list_dot_product(qv, cv)
                     / (greatest(sqrt(list_dot_product(qv, qv)), 1e-300)
                        * greatest(sqrt(list_dot_product(cv, cv)), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM cand
    ) WHERE cos_sim >= 0.2
    """
)



# Wider master plane table for the BANDED construction: the
# fractional total runs to MAX_QUARTER_STEPS = 120 planes (the r9
# two-word extension of the measured 60-bit single-bigint cap,
# SCALING.md §7c), carried as TWO bigint words — word 0 holds planes
# [0, 60), word 1 holds [60, 120).
_HP_SIGNS_WIDE = similarity.hyperplane_signs(
    similarity.MAX_QUARTER_STEPS, 64
)
_HP_PLANES_WIDE_SQL = "\n        UNION ALL ".join(
    f"SELECT {p} AS p, {list(s_)} AS s" for p, s_ in enumerate(_HP_SIGNS_WIDE)
)

# Band layout restated in SQL from the scalar q: band b covers the
# bit-slice [b·(q//4) + least(b, q%4), +(q//4 + (b < q%4))).
# (_HP_Q_SQL — the shared fractional total — is defined at the top of
# the module next to the single-signature split CTE.)
def _band_off_sql(b: str, q: str = "qv.q") -> str:
    return f"({b} * ({q} // 4) + least({b}, {q} % 4))"


def _band_w_sql(b: str, q: str = "qv.q") -> str:
    return f"(({q} // 4) + (CASE WHEN {b} < {q} % 4 THEN 1 ELSE 0 END))"


def _band_key2_from(hp0: str, hp1: str, off: str, w: str) -> str:
    """Bit-slice [off, off+w) of a TWO-WORD signature — the SQL
    restatement of similarity.band_key_words at
    SIGNATURE_WORD_BITS = 60: the low part comes from word 0 when
    the band starts below bit 60, the high part (when the band
    straddles or lies past the boundary) from word 1, shifted into
    place; lo = the bits the band takes from word 0 (0 when
    off ≥ 60, all of them when off + w ≤ 60)."""
    lo = f"greatest(0, least(60 - {off}, {w}))"
    return (
        f"((CASE WHEN {off} < 60 THEN ({hp0} >> {off}) ELSE 0 END)"
        f" & ((1::BIGINT << {lo}) - 1))"
        f" + ((({hp1} >> greatest({off} - 60, 0))"
        f" & ((1::BIGINT << ({w} - {lo})) - 1)) << {lo})"
    )


def _band_key2_sql(hp0: str, hp1: str, b: str, q: str) -> str:
    """Two-word band key at the standard q-derived layout (see
    _band_off_sql/_band_w_sql)."""
    return _band_key2_from(hp0, hp1, _band_off_sql(b, q), _band_w_sql(b, q))


# Banded signature CTE: qv carries the fractional TOTAL plane count
# (q2v the fan-out-normalized multiprobe total); the signature covers
# greatest(q, q//4 + 1, q2//4 + 1) planes so the band slices and both
# of the recall harness's single-signature reads — exact via (fp, fr),
# probe via the normalized (fp2, fr2) — are defined off one bucket
# value. TWO words (the r9 cap extension): hp0 carries planes
# [0, 60), hp1 carries [60, 120) — the restatement of
# similarity.hyperplane_bucket_words at SIGNATURE_WORD_BITS = 60.
_HP_SIG4_CTE = f"""
    qv AS (SELECT {_HP_Q_SQL} AS q),
    q2v AS (SELECT {_HP_Q2_SQL} AS q2),
    planes_wide AS (
        {_HP_PLANES_WIDE_SQL}
    ),
    dots4 AS (
        SELECT e.vec_id, pl.p,
               sum(e.embedding[r.i]::DOUBLE * pl.s[r.i]) AS dot
        FROM embeddings e, planes_wide pl, (SELECT unnest(range(1, 65)) AS i) r
        WHERE r.i <= len(e.embedding)
          AND pl.p < greatest((SELECT q FROM qv),
                              (SELECT q FROM qv) // 4 + 1,
                              (SELECT q2 FROM q2v) // 4 + 1)
        GROUP BY 1, 2
    ),
    bucketed4 AS (
        SELECT vec_id,
               sum(CASE WHEN dot + 1e-9 >= 0 AND p < 60
                        THEN 1::BIGINT << p ELSE 0 END) AS hp0,
               sum(CASE WHEN dot + 1e-9 >= 0 AND p >= 60
                        THEN 1::BIGINT << (p - 60) ELSE 0 END) AS hp1
        FROM dots4 GROUP BY 1
    )
"""

# Band membership as an EQUI self-join on exploded (band, key) rows
# — the declarative twin of the Spark plan's shape, and a hash join
# for DuckDB instead of the previous all-pairs nested loop with a
# shifted-xor predicate (509 s of the r7 sf1 sweep for this one row;
# identical pair set: any band matches ⟺ some (band, key) collides).
ORACLES["sim_lsh_banded"] = (
f"""
    WITH {_HP_SIG4_CTE},
    bands AS (
        SELECT b.vec_id, r.band,
               {_band_key2_sql("b.hp0", "b.hp1", "r.band", "qb.q")} AS key
        FROM bucketed4 b, (SELECT unnest(range(4)) AS band) r, qv AS qb
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id,
               round(list_dot_product(qa.v, qb2.v)
                     / (greatest(sqrt(list_dot_product(qa.v, qa.v)), 1e-300)
                        * greatest(sqrt(list_dot_product(qb2.v, qb2.v)), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM cand JOIN eb qa ON qa.vec_id = cand.a_id
                  JOIN eb qb2 ON qb2.vec_id = cand.b_id
    ) WHERE cos_sim >= 0.2
    """
)

# Bounded-fan-out multiprobe (r9): the probe mask is the 8
# lowest-|dot| prefix planes per row — restated with a row_number
# over the identically-quantized key (round(|dot|+1e-9, 6); the
# kernel computes floor((|dot|+1e-9)·10⁶+0.5), the same positive-
# value half-up, as its sort key), plane index as tiebreak. The
# d = 1 meet rule is per DIRECTION: A's flip-i probe lands in B's
# exact bucket iff i ∈ mask_a AND (merged_b OR ext_a = ext_b).
ORACLES["sim_lsh_multiprobe_bounded"] = (
f"""
    WITH {_HP_FRAC_CTE},
    ranked AS (
        SELECT d.vec_id, d.p,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY round(abs(d.dot) + 1e-9, 6), d.p)
                   AS rnk
        FROM dots1 d, pv WHERE d.p < pv.fp
    ),
    pmask AS (
        SELECT vec_id,
               sum(CASE WHEN rnk <= 8 THEN 1::BIGINT << p ELSE 0 END) AS pm
        FROM ranked GROUP BY 1
    ),
    eb AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
                  k.pref, k.ext, k.merged, COALESCE(m.pm, 0) AS pm
           FROM embeddings e JOIN keyed k USING (vec_id)
           LEFT JOIN pmask m USING (vec_id)),
    cand AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               a.v AS qv, b.v AS cv
        FROM eb a JOIN eb b
          ON a.vec_id < b.vec_id
         AND (xor(a.pref, b.pref) = 0
              OR (bit_count(xor(a.pref, b.pref)) = 1
                  AND (((xor(a.pref, b.pref) & a.pm) = xor(a.pref, b.pref)
                        AND (b.merged OR a.ext = b.ext))
                       OR ((xor(a.pref, b.pref) & b.pm) = xor(a.pref, b.pref)
                           AND (a.merged OR a.ext = b.ext)))))
    )
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id,
               round(list_dot_product(qv, cv)
                     / (greatest(sqrt(list_dot_product(qv, qv)), 1e-300)
                        * greatest(sqrt(list_dot_product(cv, cv)), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM cand
    ) WHERE cos_sim >= 0.2
    """
)

# Two-word coverage query (r9): band slices start at plane 58, so
# every band key reads word 1 or straddles the 60-bit boundary at
# EVERY corpus size. Signature covers 58 + q planes; two words
# suffice while 58 + q <= 120 (n <= ~311k — every oracle lake).
# Past that size the Spark side generalizes to 3 words but
# planes_wide only carries 120 planes, so the guard below fails
# LOUDLY instead of silently truncating the signature (ADVICE r9).
ORACLES["sim_lsh_banded_hiword"] = (
f"""
    WITH qv AS (
        SELECT CASE WHEN 58 + ({_HP_Q_SQL}) > 120 THEN error(
                 'sim_lsh_banded_hiword oracle invalid: 58+q > 120 planes '
                 || '(two-word signature exhausted at this corpus size)')
               ELSE ({_HP_Q_SQL}) END AS q),
    planes_wide AS (
        {_HP_PLANES_WIDE_SQL}
    ),
    dotsH AS (
        SELECT e.vec_id, pl.p,
               sum(e.embedding[r.i]::DOUBLE * pl.s[r.i]) AS dot
        FROM embeddings e, planes_wide pl, (SELECT unnest(range(1, 65)) AS i) r
        WHERE r.i <= len(e.embedding)
          AND pl.p < 58 + (SELECT q FROM qv)
        GROUP BY 1, 2
    ),
    bucketedH AS (
        SELECT vec_id,
               sum(CASE WHEN dot + 1e-9 >= 0 AND p < 60
                        THEN 1::BIGINT << p ELSE 0 END) AS hp0,
               sum(CASE WHEN dot + 1e-9 >= 0 AND p >= 60
                        THEN 1::BIGINT << (p - 60) ELSE 0 END) AS hp1
        FROM dotsH GROUP BY 1
    ),
    bands AS (
        SELECT b.vec_id, r.band,
               {_band_key2_from("b.hp0", "b.hp1",
                                f"(58 + {_band_off_sql('r.band', 'qb.q')})",
                                _band_w_sql("r.band", "qb.q"))} AS key
        FROM bucketedH b, (SELECT unnest(range(4)) AS band) r, qv AS qb
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    ),
    eb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a_id, b_id, cos_sim FROM (
        SELECT a_id, b_id,
               round(list_dot_product(qa.v, qb2.v)
                     / (greatest(sqrt(list_dot_product(qa.v, qa.v)), 1e-300)
                        * greatest(sqrt(list_dot_product(qb2.v, qb2.v)), 1e-300))
                     + 1e-9, 6) AS cos_sim
        FROM cand JOIN eb qa ON qa.vec_id = cand.a_id
                  JOIN eb qb2 ON qb2.vec_id = cand.b_id
    ) WHERE cos_sim >= 0.2
    """
)

ORACLES["sim_lsh_recall"] = (
f"""
    WITH {_HP_SIG4_CTE},
    q AS (SELECT e.vec_id AS a_id, e.embedding::DOUBLE[] AS qv,
                 b.hp0 AS hq0, b.hp1 AS hq1
          FROM embeddings e JOIN bucketed4 b USING (vec_id)
          WHERE e.vec_id % 23 = 0),
    c AS (SELECT e.vec_id AS b_id, e.embedding::DOUBLE[] AS cv,
                 b.hp0 AS hc0, b.hp1 AS hc1
          FROM embeddings e JOIN bucketed4 b USING (vec_id)),
    dots AS (
        -- list_dot_product: linear in sample x corpus pairs (the
        -- unnest-per-dimension form cost pairs x 64 rows)
        SELECT a_id, b_id, hq0, hq1, hc0, hc1,
               list_dot_product(qv, cv) AS dot,
               sqrt(list_dot_product(qv, qv)) AS nq,
               sqrt(list_dot_product(cv, cv)) AS nc
        FROM q, c
        WHERE a_id != b_id
    ),
    truth AS (
        SELECT a_id, b_id, hq0, hc0,
               xor(hq0, hc0) AS x0, xor(hq1, hc1) AS x1,
               (SELECT q FROM qv) // 4 AS fp,
               (SELECT q FROM qv) % 4 AS fr,
               (SELECT q2 FROM q2v) // 4 AS fp2,
               (SELECT q2 FROM q2v) % 4 AS fr2,
               (SELECT q FROM qv) AS q FROM (
            SELECT a_id, b_id, hq0, hq1, hc0, hc1,
                   round(dot / (greatest(nq, 1e-300) * greatest(nc, 1e-300)) + 1e-9, 6) AS cos_sim
            FROM dots
        ) WHERE cos_sim >= 0.2
    ),
    -- exact membership restated with the depth-constant (fp, fr)
    -- split; probe membership with the fan-out-normalized
    -- (fp2, fr2) split — the same rules the candidate queries use.
    -- Both single-signature reads touch WORD 0 only (fp, fp2 ≤ 30
    -- by construction); the band hit slices the XOR words with the
    -- same straddle extraction the banded candidate query uses
    -- (a slice of the XOR is 0 ⟺ the band keys match).
    hits AS (
        SELECT
            CASE WHEN (x0 & ((1::BIGINT << fp) - 1)) = 0
                  AND (((hq0 & ((1::BIGINT << fp) - 1)) % 4) >= fr
                       OR ((x0 >> fp) & 1) = 0)
                 THEN 1 ELSE 0 END AS he,
            CASE WHEN (x0 & ((1::BIGINT << fp2) - 1)) = 0
                  OR (bit_count(x0 & ((1::BIGINT << fp2) - 1)) = 1
                      AND (((hq0 & ((1::BIGINT << fp2) - 1)) % 4) >= fr2
                           OR ((hc0 & ((1::BIGINT << fp2) - 1)) % 4) >= fr2
                           OR ((x0 >> fp2) & 1) = 0))
                 THEN 1 ELSE 0 END AS hp_,
            CASE WHEN {" OR ".join(
                f"({_band_key2_sql('x0', 'x1', b, 'q')}) = 0"
                for b in ("0", "1", "2", "3")
            )}
                 THEN 1 ELSE 0 END AS hb
        FROM truth
    )
    SELECT count(*) AS n_true,
           CAST(sum(he) AS BIGINT) AS n_hit_exact,
           CAST(sum(hp_) AS BIGINT) AS n_hit_probe,
           CAST(sum(hb) AS BIGINT) AS n_hit_banded,
           round(sum(he) * 1.0 / greatest(count(*), 1) + 1e-9, 6) AS recall_exact,
           round(sum(hp_) * 1.0 / greatest(count(*), 1) + 1e-9, 6) AS recall_probe,
           round(sum(hb) * 1.0 / greatest(count(*), 1) + 1e-9, 6) AS recall_banded
    FROM hits
    """
)
