"""Embedding similarity search over the ``embeddings`` table.

Operators (each with a DuckDB oracle twin, see t2p_spark.textkit for the
parity engineering rules):

  - ann_topk_brute: exact cosine top-k for a fixed query set. Spark plan:
    broadcast the (tiny) query side, one narrow pass over embeddings,
    per-query top-k via window row_number. At cluster scale this is the
    baseline scoring pass: no shuffle of the big side except the final
    per-query aggregation, which carries only k rows per partition after
    partial ranking.
  - ann_topk_lsh: random-hyperplane LSH variant — 8 signed projections ->
    16-bit-ish bucket; candidates share the query's bucket prefix. Scale
    path: the equi-join on bucket replaces the cross product.
  - embedding_neardup: near-duplicate pairs within an LSH bucket at
    cosine >= threshold.

Determinism: hyperplanes are fixed seeded literals baked into both SQL
texts; cosine is computed element-wise in double and ROUNDed before any
comparison or ranking, so engine-side float summation order cannot flip
results.
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from t2p_spark.materialize import materialize

DIM = 64
# N_PLANES sizes the LSH bucket space: 2^N_PLANES buckets. 8 (=256 buckets)
# matches the oracle-scale corpus (~2k vectors -> ~8 vecs/bucket). Scale
# preset: at 10^9 vectors target ~1k vecs/bucket -> N_PLANES=20; recall at
# scale additionally needs multi-probe (flip 1-2 lowest-margin bits) or
# multiple independent tables — single-probe recall degrades as planes grow.
N_PLANES = 8
TOP_K = 10
N_QUERIES = 8  # vec_id < 8 are the query vectors
# data-relative: the synthetic embeddings are near-orthogonal (max
# within-bucket cosine ~0.45 at sf0.01), so a production-style 0.9 would
# trivially return zero rows; 0.35 keeps the operator's output non-empty.
NEARDUP_TAU = 0.35
# multi-probe LSH: how many lowest-|margin| hyperplane bits to flip per
# query (probe set = own bucket + N_FLIPS single-bit neighbors). Scale
# preset: grow with n_planes (recall loss per plane compounds).
N_FLIPS = 2

_rng = random.Random(20240716)
PLANES = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)]
    for _ in range(N_PLANES)
]


def _dot(a: str, b_literal: list, engine: str) -> str:
    lit = ", ".join(repr(v) for v in b_literal)
    if engine == "s":
        return (f"aggregate(zip_with({a}, array({lit}), "
                f"(x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)")
    return (f"list_sum(list_transform(list_zip({a}, [{lit}]), "
            f"p -> CAST(p[1] AS DOUBLE) * p[2]))")


def _dot_cols(a: str, b: str, engine: str) -> str:
    if engine == "s":
        return (f"aggregate(zip_with({a}, {b}, "
                f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"0D, (acc, v) -> acc + v)")
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))")


def _norm(a: str, engine: str) -> str:
    if engine == "s":
        return (f"sqrt(aggregate({a}, 0D, "
                f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
    return (f"sqrt(list_sum(list_transform({a}, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")


def _bucket_expr(col: str, engine: str, planes: list) -> str:
    bits = []
    for j, plane in enumerate(planes):
        bits.append(
            f"(CASE WHEN {_dot(col, plane, engine)} > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def _with_buckets(engine: str, planes: list) -> str:
    return (f"SELECT vec_id, label, embedding, "
            f"{_bucket_expr('embedding', engine, planes)} AS bucket, "
            f"{_norm('embedding', engine)} AS norm "
            f"FROM embeddings")


def _with_buckets2(engine: str, planes: list, planes2: list) -> str:
    """Two-table variant (multi-table LSH): both bucket columns."""
    b1 = _bucket_expr("embedding", engine, planes)
    b2 = _bucket_expr("embedding", engine, planes2)
    return (f"SELECT vec_id, label, embedding, {b1} AS bkt_a, "
            f"{b2} AS bkt_b, {_norm('embedding', engine)} AS norm "
            f"FROM embeddings")


# --- IVF (inverted-file) index: integer-exact k-means coarse quantizer ------
#
# The scale path for ANN beyond LSH: train K coarse centroids, assign every
# vector to its nearest centroid (the inverted lists), probe only the
# query's nearest IVF_PROBE lists. Engine-parity engineering: embeddings
# are quantized to integers (FLOOR(x*1000)), so distances, argmins and
# centroid updates (FLOOR(SUM/COUNT), sums < 2^53 so exact in double) are
# bit-identical in Spark and DuckDB; Lloyd iterations are UNROLLED
# (IVF_ITERS=2) as chained CTEs — deterministic init from the first K
# corpus vectors, ties broken by centroid id. At cluster scale: centroid
# set is tiny (broadcast), assignment is one narrow pass, candidate
# lookup is an equi-join on cid — no cross product of the corpus.

IVF_K = 16
IVF_ITERS = 2
IVF_PROBE = 4
IVF_SCALE = 1000  # quantization: FLOOR(x * IVF_SCALE) per component


def _ivf_qe(col: str, e: str) -> str:
    """Element-wise integer quantization of an embedding array."""
    if e == "s":
        return (f"transform({col}, x -> "
                f"CAST(FLOOR(CAST(x AS DOUBLE) * {IVF_SCALE}) AS BIGINT))")
    return (f"list_transform({col}, x -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * {IVF_SCALE}) AS BIGINT))")


def _ivf_dist(a: str, b: str, e: str) -> str:
    """Exact integer squared-L2 distance between two quantized arrays."""
    if e == "s":
        return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
                f"0L, (acc, v) -> acc + v)")
    return (f"CAST(list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)")


def _ivf_assign(vecs: str, cents: str, e: str) -> str:
    """Nearest-centroid assignment: argmin integer distance, ties -> min cid.

    This windowed form exists for the one-shot SQL twin (ivf_sql) where the
    centroids are a relation; the Spark execution path uses the map-only
    _ivf_assign_maponly instead (centroids inlined, zero exchange)."""
    return f"""
        SELECT vec_id, qe, cid FROM (
          SELECT v.vec_id, v.qe, c.cid,
                 ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_ivf_dist('v.qe', 'c.qe', e)}, c.cid
                 ) AS rn
          FROM {vecs} v CROSS JOIN {cents} c
        ) t WHERE rn = 1
    """


def _cent_literal(cents: list) -> str:
    """SQL literal array<struct<cid,qe>> from driver-side centroids.

    K=16 centroids x DIM=64 bigints is driver-small by definition; inlining
    them into the SQL text IS the broadcast — every task evaluates the
    argmin against a local constant, so assignment needs no join and no
    exchange at any corpus size."""
    items = []
    for c in sorted(cents, key=lambda c: c["cid"]):
        qe = ", ".join(f"{int(v)}L" for v in c["qe"])
        items.append(f"named_struct('cid', CAST({int(c['cid'])} AS BIGINT), "
                     f"'qe', array({qe}))")
    return "array(" + ", ".join(items) + ")"


def _ivf_assign_maponly(vecs: str, cent_lit: str) -> str:
    """Map-only assignment: argmin over the inlined centroid array.

    array_min over struct(d, cid) is lexicographic — smallest distance,
    ties to smallest cid — identical semantics to the windowed twin's
    ORDER BY dist, cid. Physical plan: scan -> project. Zero Exchange."""
    return f"""
        SELECT vec_id, qe,
               array_min(transform({cent_lit},
                 c -> struct({_ivf_dist('qe', 'c.qe', 's')} AS d,
                             c.cid AS cid))).cid AS cid
        FROM {vecs}
    """


def _ivf_probes_maponly(vecs: str, cent_lit: str,
                        probe: int = None) -> str:
    """Map-only probe-list selection for the query vectors: sort the
    per-centroid (dist, cid) structs, keep the first `probe` — same
    result as the windowed rn <= probe, no exchange."""
    ivf_probe = IVF_PROBE if probe is None else probe
    return f"""
        SELECT vec_id AS query_id, p.cid AS cid
        FROM (
          SELECT vec_id,
                 slice(array_sort(transform({cent_lit},
                   c -> struct({_ivf_dist('qe', 'c.qe', 's')} AS d,
                               c.cid AS cid))), 1, {ivf_probe}) AS probe_arr
          FROM {vecs} WHERE vec_id < {N_QUERIES}
        ) q LATERAL VIEW explode(probe_arr) t AS p
    """


def _ivf_means_sql(assign: str) -> str:
    """Per-cluster element-wise FLOOR-mean (Spark side): posexplode ->
    partial+final agg on (cid, idx) — map-side combine reduces each task's
    contribution to <= K*DIM rows before the (tiny) shuffle — -> ordered
    array rebuild. Clusters with no members are absent; the driver keeps
    their previous centroid (same COALESCE semantics as the SQL twin)."""
    return f"""
        SELECT cid, transform(array_sort(collect_list(struct(idx, val))),
                              s -> s.val) AS qe
        FROM (
          SELECT cid, idx,
                 CAST(FLOOR(CAST(SUM(comp) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS val
          FROM (SELECT cid, posexplode(qe) AS (idx, comp) FROM {assign}) ex
          GROUP BY cid, idx
        ) m GROUP BY cid
    """


def _ivf_update(assign: str, prev: str, e: str) -> str:
    """Element-wise integer centroid update; empty clusters keep the
    previous centroid. Array rebuild is order-pinned in both engines."""
    if e == "s":
        rebuild = ("transform(array_sort(collect_list(struct(idx, val))), "
                   "s -> s.val)")
        explode = (f"SELECT cid, posexplode(qe) AS (idx, comp) FROM {assign}")
    else:
        rebuild = "list(val ORDER BY idx)"
        # parallel unnests align positionally in DuckDB (no WITH ORDINALITY)
        explode = (f"SELECT cid, unnest(range(len(qe))) AS idx, "
                   f"unnest(qe) AS comp FROM {assign}")
    return f"""
        SELECT p.cid, COALESCE(n.qe, p.qe) AS qe
        FROM {prev} p LEFT JOIN (
          SELECT cid, {rebuild} AS qe FROM (
            SELECT cid, idx,
                   CAST(FLOOR(CAST(SUM(comp) AS DOUBLE) / COUNT(*)) AS BIGINT)
                     AS val
            FROM ({explode}) ex
            GROUP BY cid, idx
          ) m GROUP BY cid
        ) n ON n.cid = p.cid
    """


def ivf_sql(e: str, k: int = None, probe: int = None,
            iters: int = None) -> str:
    """ann_topk_ivf: unrolled-Lloyd IVF index + probe, one SQL text per
    engine with identical integer semantics.

    Scale presets (mirror make_planes / the textkit knobs; pass the SAME
    values to run_ivf_spark — parity holds for any preset): oracle corpus
    K=16/probe=4; 10^9 vecs target K~4096 (sqrt(N)-ish inverted lists)
    with probe 32-64 for recall, iters 2-5 (assignment is map-only, so
    extra Lloyd passes cost one corpus scan each, never a shuffle)."""
    ivf_k = IVF_K if k is None else k
    ivf_probe = IVF_PROBE if probe is None else probe
    ivf_iters = IVF_ITERS if iters is None else iters
    cos = (f"ROUND({_dot_cols('q.embedding', 'c.embedding', e)} "
           f"/ (q.norm * c.norm), 6)")
    ctes = [
        f"vecs AS (SELECT vec_id, embedding, {_ivf_qe('embedding', e)} AS qe,"
        f" {_norm('embedding', e)} AS norm FROM embeddings)",
        # deterministic init: the first K corpus (non-query) vectors
        f"c0 AS (SELECT vec_id - {N_QUERIES} AS cid, qe FROM vecs "
        f"WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + ivf_k})",
    ]
    prev = "c0"
    for it in range(1, ivf_iters + 1):
        ctes.append(f"a{it} AS ({_ivf_assign('vecs', prev, e)})")
        ctes.append(f"c{it} AS ({_ivf_update(f'a{it}', prev, e)})")
        prev = f"c{it}"
    final_assign = f"af AS ({_ivf_assign('vecs', prev, e)})"
    ctes.append(final_assign)
    ctes.append(f"""
        probes AS (
          SELECT vec_id AS query_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY {_ivf_dist('v.qe', 'c.qe', e)}, c.cid
                   ) AS rn
            FROM vecs v CROSS JOIN {prev} c
            WHERE v.vec_id < {N_QUERIES}
          ) t WHERE rn <= {ivf_probe}
        )""")
    return f"""
        WITH {', '.join(ctes)},
        cands AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN af a ON a.cid = p.cid
          WHERE a.vec_id <> p.query_id
        ),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM cands cd
          JOIN vecs q ON q.vec_id = cd.query_id
          JOIN vecs c ON c.vec_id = cd.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """


def make_planes(n_planes: int, dim: int = DIM, seed: int = 20240716) -> list:
    """Seeded hyperplanes for any bucket-space size — the scale preset knob.

    Presets: oracle corpus (~2k vecs) n_planes=8 (256 buckets); 10^9 vecs
    n_planes=20 (~1k vecs/bucket). Recall at high n_planes needs multi-probe
    or multiple tables (see module docstring).
    """
    rng = random.Random(seed)
    return [[round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
            for _ in range(n_planes)]


def ann_sql(engine: str, n_planes: Optional[int] = None,
            use_view: bool = False) -> dict:
    """SQL catalog; pass n_planes to re-derive at a different bucket-space
    size (both engine twins shift together, so parity is preserved).

    use_view=True (Spark only; the run_ann path) makes every query read
    the materialized ``vecs_mat`` / ``vecs2_mat`` relations built by
    ensure_ann_vecs instead of inlining the bucket/norm projection — the
    vector-index table an ANN pipeline persists, computed once per corpus
    instead of once per CTE reference (ann_recall_eval alone inlines the
    projection ~10x). Semantics identical; the DuckDB twin keeps the
    inline form."""
    planes = PLANES if n_planes is None else make_planes(n_planes)
    cos = (f"ROUND({_dot_cols('q.embedding', 'c.embedding', engine)} "
           f"/ (q.norm * c.norm), 6)")
    base = ("SELECT * FROM vecs_mat" if use_view and engine == "s"
            else _with_buckets(engine, planes))
    q = {}
    q["embedding_buckets"] = f"""
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
               CAST(MIN(vec_id) AS BIGINT) AS rep_vec_id
        FROM ({base}) b
        GROUP BY bucket
    """
    # Explicit BROADCAST(q): the {N_QUERIES}-row query side must ALWAYS be
    # the build side. Without the hint the build side is stats-chosen, and
    # at small SF Catalyst broadcasts the *corpus* — a plan that OOMs the
    # moment the corpus outgrows the broadcast threshold. (Spark-only hint;
    # DuckDB parses it as a plain comment.)
    hint = f"/*+ BROADCAST(q) */ " if engine == "s" else ""
    q["ann_topk_brute"] = f"""
        WITH vecs AS ({base}),
        scored AS (
          SELECT {hint}q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {cos} AS cosine
          FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """
    q["ann_topk_lsh"] = f"""
        WITH vecs AS ({base}),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {cos} AS cosine
          FROM vecs q JOIN vecs c
            ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
          WHERE q.vec_id < {N_QUERIES}
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """
    q["embedding_neardup"] = f"""
        WITH vecs AS ({base})
        SELECT q.vec_id AS vec_a, c.vec_id AS vec_b, {cos} AS cosine
        FROM vecs q JOIN vecs c
          ON q.bucket = c.bucket AND q.vec_id < c.vec_id
        WHERE {cos} >= {NEARDUP_TAU}
    """
    # multi-table LSH: L independent hyperplane tables (re-seeded planes);
    # candidates = UNION of per-table same-bucket equi-joins — the other
    # standard recall mechanism besides multi-probe (independent tables
    # de-correlate the misses; probe cost is L bucket joins, never an
    # OR-join nested loop). Each table's join keeps the bucketed shape.
    planes2 = make_planes(len(planes), seed=20240717)
    vecs2 = ("SELECT * FROM vecs2_mat" if use_view and engine == "s"
             else _with_buckets2(engine, planes, planes2))
    table_arms = " UNION ".join(
        f"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM vecs q JOIN vecs c
              ON q.{b} = c.{b} AND c.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}"""
        for b in ("bkt_a", "bkt_b"))
    q["ann_topk_multitable"] = f"""
        WITH vecs AS ({vecs2}),
        cands AS ({table_arms}),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM cands cd
          JOIN vecs q ON q.vec_id = cd.query_id
          JOIN vecs c ON c.vec_id = cd.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """

    # per-label embedding centroid (element-wise integer FLOOR-mean over
    # FLOOR(x*1000) quantized components — the IVF parity trick, exact in
    # both engines). Scale shape: positional explode -> partial+final agg
    # on (label, idx) — map-side combine caps each task's shuffle
    # contribution at labels x DIM rows; the centroid itself is the
    # cluster-prototype every embedding pipeline materializes.
    # The COMPARED output carries a scalar md5 digest of the centroid
    # components, not the raw array: the correctness gate canonicalizes
    # with pandas sort_values, which cannot sort list-valued columns
    # (unhashable type — the one red row in CORRECTNESS_r04). The
    # array-producing relation stays internal (_cent_arr) for
    # embedding_outliers, which folds over the actual components.
    if engine == "s":
        cent_explode = (f"SELECT label, posexplode({_ivf_qe('embedding', 's')})"
                        f" AS (idx, comp) FROM embeddings")
        cent_rebuild = ("transform(array_sort(collect_list(struct(idx, val))),"
                        " s -> s.val)")
        cent_md5 = ("md5(concat_ws(',', transform("
                    "array_sort(collect_list(struct(idx, val))), "
                    "s -> CAST(s.val AS STRING))))")
    else:
        cent_explode = (
            f"SELECT label, unnest(range(len(qe))) AS idx, unnest(qe) AS comp"
            f" FROM (SELECT label, {_ivf_qe('embedding', 'd')} AS qe"
            f" FROM embeddings) qz")
        cent_rebuild = "list(val ORDER BY idx)"
        cent_md5 = "md5(string_agg(CAST(val AS VARCHAR), ',' ORDER BY idx))"
    cent_by_dim = f"""
          SELECT label, idx,
                 CAST(FLOOR(CAST(SUM(comp) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS val,
                 CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM ({cent_explode}) ex
          GROUP BY label, idx
    """
    _cent_arr = f"""
        SELECT label, n_vecs, {cent_rebuild} AS centroid_q
        FROM ({cent_by_dim}) m GROUP BY label, n_vecs
    """
    q["embedding_centroids"] = f"""
        SELECT label, n_vecs, {cent_md5} AS centroid_md5
        FROM ({cent_by_dim}) m GROUP BY label, n_vecs
    """

    # embedding outlier flags — the data-cleaning pass that drops vectors
    # far from their cluster prototype (mislabeled / corrupted embeddings).
    # Entirely in the quantized-integer domain: squared distance to the
    # label's integer centroid, and the outlier rule dist2 > 1.05*mean is
    # tested DIVISION-FREE as 20*dist2*n_label > 21*sum_dist2_label —
    # exact bigint comparison, nothing to round on either engine. (1.05
    # is the knob; high-dimensional random embeddings concentrate hard —
    # the oracle corpus spans mean-ratios 0.91-1.11 — so a 2x-mean rule
    # would never fire; production pipelines tune this per encoder.)
    # Scale shape: centroid/moment relations are one row per label
    # (broadcast joins); the distance is a narrow per-row fold.
    qz_src = (f"SELECT vec_id, label, {_ivf_qe('embedding', engine)} AS qe "
              f"FROM embeddings")
    if engine == "s":
        dist2 = ("aggregate(zip_with(e.qe, c.centroid_q, "
                 "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
    else:
        dist2 = ("CAST(list_sum(list_transform(range(1, len(e.qe) + 1), "
                 "i -> (e.qe[i] - c.centroid_q[i]) "
                 "* (e.qe[i] - c.centroid_q[i]))) AS BIGINT)")
    q["embedding_outliers"] = f"""
        WITH cent AS ({_cent_arr}),
        d AS (
          SELECT e.vec_id, e.label, {dist2} AS dist2
          FROM ({qz_src}) e JOIN cent c ON c.label = e.label
        ),
        m AS (
          SELECT label, CAST(SUM(dist2) AS BIGINT) AS sum_d2,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM d GROUP BY label
        )
        SELECT /*+ BROADCAST(m) */ d.vec_id, d.label, d.dist2,
               CASE WHEN 20 * d.dist2 * m.n > 21 * m.sum_d2
                    THEN 'outlier' ELSE 'ok' END AS verdict
        FROM d JOIN m ON m.label = d.label
    """
    # multi-probe LSH: probe the query's own bucket PLUS the buckets
    # reached by flipping the N_FLIPS lowest-|margin| hyperplane bits —
    # the recall fix single-probe LSH needs as the bucket space grows
    # (at 2^20 buckets a near neighbor routinely sits one low-margin bit
    # away). Margins are the plane dots the bucket already evaluates;
    # the candidate join stays an equi-join on bucket, so the scale shape
    # is unchanged — only the (tiny) query side fans out x(1+N_FLIPS).
    # Engine parity: margins ROUNDed before ranking; (j, p) tie-break;
    # bit flip via arithmetic on the &-tested bit (DuckDB's ^ is POWER,
    # so no XOR operator in the shared text).
    arms = []
    for j, plane in enumerate(planes):
        arms.append(
            f"SELECT vec_id, bucket, {j} AS j, {1 << j} AS p, "
            f"ROUND(ABS({_dot('embedding', plane, engine)}), 6) AS m "
            f"FROM qvecs"
        )
    qm = " UNION ALL ".join(arms)
    q["ann_topk_multiprobe"] = f"""
        WITH vecs AS ({base}),
        qvecs AS (SELECT * FROM vecs WHERE vec_id < {N_QUERIES}),
        qm AS ({qm}),
        flips AS (
          SELECT vec_id, CASE WHEN (bucket & p) > 0 THEN bucket - p
                              ELSE bucket + p END AS bucket
          FROM (
            SELECT vec_id, bucket, p, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY m, j)
                     AS rn
            FROM qm
          ) r WHERE rn <= {N_FLIPS}
        ),
        probes AS (
          SELECT vec_id, bucket FROM qvecs
          UNION
          SELECT vec_id, bucket FROM flips
        ),
        cands AS (
          SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
          FROM probes p JOIN vecs c ON c.bucket = p.bucket
          WHERE c.vec_id <> p.vec_id
        ),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM cands cd
          JOIN vecs q ON q.vec_id = cd.query_id
          JOIN vecs c ON c.vec_id = cd.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """

    # SQ8 scalar quantization — the storage-compression step of a vector
    # index (FAISS SQ8 shape): per-dimension [min, max] over the corpus,
    # each component coded to 0..255, with per-vector reconstruction
    # error. All in the quantized-integer domain: codes via exact integer
    # division, reconstruction likewise, err2 an exact bigint sum — no
    # float anywhere. Scale shape: positional explode -> per-dim min/max
    # (64-row relation, broadcast back) -> one groupBy per vec_id; the
    # dim-stats join is the textbook tiny-dim broadcast.
    div = (lambda a, b: f"(({a}) DIV ({b}))") if engine == "s" else \
          (lambda a, b: f"(({a}) // ({b}))")
    if engine == "s":
        sq_explode = (f"SELECT vec_id, posexplode({_ivf_qe('embedding', 's')})"
                      f" AS (idx, comp) FROM embeddings")
        codes_md5 = ("md5(concat_ws(',', transform("
                     "array_sort(collect_list(struct(idx, code))), "
                     "s -> CAST(s.code AS STRING))))")
    else:
        sq_explode = (
            f"SELECT vec_id, unnest(range(len(qe))) AS idx, unnest(qe) AS comp"
            f" FROM (SELECT vec_id, {_ivf_qe('embedding', 'd')} AS qe"
            f" FROM embeddings) qz")
        codes_md5 = "md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY idx))"
    q["embedding_sq8"] = f"""
        WITH ex AS ({sq_explode}),
        stats AS (
          SELECT idx, CAST(MIN(comp) AS BIGINT) AS lo,
                 CAST(MAX(comp) AS BIGINT) AS hi
          FROM ex GROUP BY idx
        ),
        coded AS (
          SELECT ex.vec_id, ex.idx, ex.comp, s.lo, s.hi,
                 CASE WHEN s.hi = s.lo THEN 0
                      ELSE {div('(ex.comp - s.lo) * 255', 's.hi - s.lo')}
                 END AS code
          FROM ex JOIN stats s ON s.idx = ex.idx
        ),
        recon AS (
          SELECT vec_id, idx, code,
                 comp - (lo + CASE WHEN hi = lo THEN 0
                                   ELSE {div('code * (hi - lo)', '255')}
                              END) AS resid
          FROM coded
        )
        SELECT vec_id,
               CAST(SUM(resid * resid) AS BIGINT) AS err2,
               {codes_md5} AS codes_md5
        FROM recon GROUP BY vec_id
    """

    # ANN recall evaluation — the index-quality harness every vector
    # pipeline runs before trusting an approximate index: per-query
    # recall@{TOP_K} of each approximate variant (single-probe LSH,
    # multi-probe, multi-table) against the brute-force truth, as a
    # first-class query. Exact integers (hit counts, x1e6 recall via
    # integer division; n_truth >= 1 by construction of the truth rows).
    # Scale shape: the truth relation is N_QUERIES x TOP_K rows (tiny —
    # a sampled query set, exactly how production recall evals run), so
    # every join here broadcasts; the approximate arms keep their
    # bucketed candidate generation.
    rdiv = (lambda a, b: f"(({a}) DIV ({b}))") if engine == "s" else \
           (lambda a, b: f"(({a}) // ({b}))")
    vr_rel = ("SELECT * FROM VALUES ('lsh'), ('multiprobe'), "
              "('multitable') AS vr(variant)" if engine == "s" else
              "SELECT * FROM (VALUES ('lsh'), ('multiprobe'), "
              "('multitable')) vr(variant)")
    q["ann_recall_eval"] = f"""
        WITH truth AS ({q['ann_topk_brute']}),
        approx AS (
          SELECT 'lsh' AS variant, query_id, neighbor_id
          FROM ({q['ann_topk_lsh']}) xl
          UNION ALL
          SELECT 'multiprobe' AS variant, query_id, neighbor_id
          FROM ({q['ann_topk_multiprobe']}) xp
          UNION ALL
          SELECT 'multitable' AS variant, query_id, neighbor_id
          FROM ({q['ann_topk_multitable']}) xt
        ),
        hits AS (
          SELECT v.variant, t.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
          FROM truth t
          JOIN approx v ON v.query_id = t.query_id
                       AND v.neighbor_id = t.neighbor_id
          GROUP BY v.variant, t.query_id
        ),
        tsz AS (
          SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_truth
          FROM truth GROUP BY query_id
        )
        SELECT vr.variant, ts.query_id, ts.n_truth,
               COALESCE(h.n_hit, 0) AS n_hit,
               CAST({rdiv('COALESCE(h.n_hit, 0) * 1000000', 'ts.n_truth')}
                 AS BIGINT) AS recall_x1e6
        FROM tsz ts
        CROSS JOIN ({vr_rel}) vr
        LEFT JOIN hits h ON h.variant = vr.variant
                        AND h.query_id = ts.query_id
    """
    return q


def run_ivf_spark(spark: SparkSession, k: int = None, probe: int = None,
                  iters: int = None) -> DataFrame:
    """Spark execution of ann_topk_ivf, staged like a real k-means job.

    The one-shot SQL form (ivf_sql, kept verbatim for the DuckDB twin)
    re-expands every iteration's CTEs — the physical plan re-scans the
    corpus 18x. Here each stage materializes what a cluster job would:
    the quantized vectors (``ivf_vecs``) are cached once per input epoch
    and shared by every call in it, each Lloyd iteration's K=16
    centroids are collected to the driver (driver-small by definition)
    and inlined into the next pass's SQL text, and every assignment is a
    MAP-ONLY argmin projection over that centroid constant — the corpus
    is scanned once per pass with zero Exchange between the scan and the
    assignment (the r2 plan shuffled N x K array-carrying rows through a
    ROW_NUMBER window per pass — a multi-TB exchange at 10^9 vectors).
    The only shuffle per iteration is the centroid-mean aggregation,
    which map-side-combines to <= K*DIM rows per task. Identical
    arithmetic to ivf_sql: integer distances, FLOOR-mean updates,
    min-cid ties.
    """
    ivf_k = IVF_K if k is None else k
    ivf_iters = IVF_ITERS if iters is None else iters
    materialize(spark, "ivf_vecs", lambda: spark.sql(
        f"SELECT vec_id, embedding, {_ivf_qe('embedding', 's')} AS qe, "
        f"{_norm('embedding', 's')} AS norm FROM embeddings"))

    # deterministic init: first K corpus (non-query) vectors
    cents = [
        {"cid": r["cid"], "qe": list(r["qe"])}
        for r in spark.sql(
            f"SELECT vec_id - {N_QUERIES} AS cid, qe FROM ivf_vecs "
            f"WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + ivf_k}"
        ).collect()
    ]
    for _it in range(ivf_iters):
        spark.sql(_ivf_assign_maponly("ivf_vecs", _cent_literal(cents))) \
            .createOrReplaceTempView("ivf_a")
        means = {r["cid"]: list(r["qe"])
                 for r in spark.sql(_ivf_means_sql("ivf_a")).collect()}
        # empty clusters keep their previous centroid (twin's COALESCE)
        cents = [{"cid": c["cid"], "qe": means.get(c["cid"], c["qe"])}
                 for c in cents]
    cent_lit = _cent_literal(cents)
    spark.sql(_ivf_assign_maponly("ivf_vecs", cent_lit)) \
        .createOrReplaceTempView("ivf_af")

    cos = (f"ROUND({_dot_cols('q.embedding', 'c.embedding', 's')} "
           f"/ (q.norm * c.norm), 6)")
    return spark.sql(f"""
        WITH probes AS ({_ivf_probes_maponly('ivf_vecs', cent_lit, probe)}),
        cands AS (
          SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN ivf_af a ON a.cid = p.cid
          WHERE a.vec_id <> p.query_id
        ),
        scored AS (
          SELECT cd.query_id, cd.neighbor_id, {cos} AS cosine
          FROM cands cd
          JOIN ivf_vecs q ON q.vec_id = cd.query_id
          JOIN ivf_vecs c ON c.vec_id = cd.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
                 ) AS BIGINT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= {TOP_K}
    """)


def ensure_ann_vecs(spark: SparkSession, n_planes: Optional[int] = None
                    ) -> None:
    """Materialize the bucketed/normed vector relations (vecs_mat for the
    single-table queries, vecs2_mat for multi-table LSH) once per
    registered embeddings table — the persisted index table of a vector
    pipeline. Keyed on the input epoch plus n_planes; register_views
    starts a new epoch whenever the embeddings view changes, so a swapped
    sf_dir rebuilds. (Tests that swap the embeddings view directly keep
    using the inline ann_sql form and never read these views.)"""
    planes = PLANES if n_planes is None else make_planes(n_planes)
    planes2 = make_planes(len(planes), seed=20240717)
    materialize(spark, "vecs_mat",
                lambda: spark.sql(_with_buckets("s", planes)),
                key=(n_planes,))
    materialize(spark, "vecs2_mat",
                lambda: spark.sql(_with_buckets2("s", planes, planes2)),
                key=(n_planes,))


def run_ann(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from t2p_spark.relational import register_views

    register_views(spark, sf_dir)
    if name == "ann_topk_ivf":
        return run_ivf_spark(spark)
    ensure_ann_vecs(spark)
    return spark.sql(ann_sql("s", use_view=True)[name])
