"""Similarity search over the `embeddings` table (array<float>, dim 64).

Brute-force cosine top-k as the exactness baseline, sign-bit (random
hyperplane) LSH as the scale path, and threshold near-dup pairs. The dot
products run as Catalyst higher-order functions (zip_with + aggregate) over
double-cast elements — sequential left-to-right folds on both engines, so the
oracle matches bit-for-bit before rounding.

Scale notes (100 TB):
  * top-k brute force is O(Q·N) — fine for small Q (broadcast the queries,
    never shuffle the corpus; the scan stays pipelined, no wide exchange);
  * the LSH variant buckets the corpus once (linear), then probes only the
    query's bucket — the standard recall/cost dial at billions of vectors;
  * hyperplanes are derived arithmetically ((b·131071 + d·524287) mod 1000003,
    scaled to [-0.5, 0.5)) so both engines regenerate identical planes with no
    literal blobs and executors need no broadcast side data.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dsq_spark.queries.base import fround, register, t

# double-cast embedding (float32 → float64 is exact; all downstream math is
# then identical IEEE-754 double arithmetic in both engines)
VD = "transform(embedding, x -> CAST(x AS DOUBLE))"
D_VD = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

N_PLANES = 16
PLANE = "((({b}) * 131071 + d * 524287) % 1000003) / 1000003.0 - 0.5"


@register(
    "sim_topk_bruteforce",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
),
n AS (SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v),
q AS (SELECT vec_id AS q_id, vd AS q_vd, nrm AS q_nrm FROM n WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, n.vec_id,
         list_dot_product(q.q_vd, n.vd) / (q.q_nrm * n.nrm) AS cos
  FROM q JOIN n ON n.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, round(cos, 4) AS cosine, rnk
FROM ranked WHERE rnk <= 10
""",
    doc="Brute-force cosine top-10 for 5 query vectors: broadcast queries, "
        "single corpus scan, per-query row_number — the exact ANN baseline.",
)
def sim_topk_bruteforce(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    n = v.select(
        "vec_id", "vd",
        F.sqrt(F.expr(DOT.format(a="vd", b="vd"))).alias("nrm"),
    )
    q = (
        n.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"), F.col("nrm").alias("q_nrm"))
    )
    scored = (
        n.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id", "vec_id",
            (F.expr(DOT.format(a="q_vd", b="vd")) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", "cos", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


@register(
    "sim_lsh_buckets",
    oracle=f"""
WITH v AS (
  SELECT vec_id, {D_VD} AS vd FROM embeddings
),
sig AS (
  SELECT vec_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, {N_PLANES})),
           (acc, b) -> acc + CASE WHEN
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), range(0, 64)),
               (s, d) -> s + vd[CAST(d AS INTEGER) + 1] * ({PLANE.format(b="b")})) >= 0
             THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS bucket
  FROM v
)
SELECT CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets,
       CAST(sum(c) AS BIGINT) AS n_vectors,
       CAST(max(c) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi
FROM (SELECT bucket, count(*) AS c FROM sig GROUP BY bucket) z
""",
    doc="Random-hyperplane (sign-bit) LSH bucketing: 16 arithmetic planes → "
        "16-bit bucket id; bucket-occupancy stats. The scale path for ANN: "
        "probe one bucket instead of scanning the corpus.",
)
def sim_lsh_buckets(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    sig = e.select(
        "vec_id",
        F.expr(
            f"aggregate(sequence(0, {N_PLANES - 1}), CAST(0 AS BIGINT), (acc, b) -> acc + "
            f"CASE WHEN aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
            f"(s, d) -> s + CAST(element_at(embedding, d + 1) AS DOUBLE) * ({PLANE.format(b='b')})) >= 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0 END)"
        ).alias("bucket"),
    )
    occ = sig.groupBy("bucket").agg(F.count("*").alias("c"))
    return occ.agg(
        F.countDistinct("bucket").alias("n_buckets"),
        F.sum("c").alias("n_vectors"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("long").alias("n_multi"),
    )


N_CELLS = 8

# IVF centroid component (k = cell, d = dimension): same arithmetic-derived
# pseudo-random construction as PLANE, so both engines regenerate identical
# centroids with no broadcast side data.
CENTROID = "((({k}) * 131071 + d * 524287) % 1000003) / 1000003.0 - 0.5"


@register(
    "sim_ivf_topk",
    oracle=f"""
WITH v AS (
  SELECT vec_id, {D_VD} AS vd FROM embeddings
),
assigned AS (
  SELECT vec_id, vd,
         list_transform(range(0, {N_CELLS}), k ->
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), range(0, 64)),
             (s, d) -> s + vd[CAST(d AS INTEGER) + 1] * ({CENTROID.format(k="k")}))) AS dots
  FROM v
),
cells AS (
  SELECT vec_id, vd,
         CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS cell
  FROM assigned
),
n AS (SELECT vec_id, vd, cell, sqrt(list_dot_product(vd, vd)) AS nrm FROM cells),
q AS (SELECT vec_id AS q_id, vd AS q_vd, cell AS q_cell, nrm AS q_nrm FROM n WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, n.vec_id, q.q_cell AS cell,
         list_dot_product(q.q_vd, n.vd) / (q.q_nrm * n.nrm) AS cos
  FROM q JOIN n ON n.cell = q.q_cell AND n.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cell, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, CAST(cell AS BIGINT) AS cell, round(cos, 4) AS cosine, rnk
FROM ranked WHERE rnk <= 10
""",
    doc="IVF-style ANN: 8 arithmetic centroids, argmax-dot cell assignment "
        "(one linear pass), then top-10 cosine probing ONLY the query's "
        "cell — the standard recall/cost dial: at billions of vectors the "
        "probe touches 1/n_cells of the corpus instead of all of it.",
)
def sim_ivf_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    dots = F.expr(
        f"transform(sequence(0, {N_CELLS - 1}), k -> "
        f"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
        f"(s, d) -> s + element_at(vd, d + 1) * ({CENTROID.format(k='k')})))"
    )
    cells = v.select(
        "vec_id", "vd", dots.alias("dots")
    ).select(
        "vec_id", "vd",
        (F.expr("array_position(dots, array_max(dots))") - 1).cast("long").alias("cell"),
    )
    # cell assignment (8×64 interpreted lambda ops/row) feeds both the probe
    # side and the query side — persist so it evaluates once.
    n = cells.select(
        "vec_id", "vd", "cell",
        F.sqrt(F.expr(DOT.format(a="vd", b="vd"))).alias("nrm"),
    ).persist()
    q = (
        n.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"),
                F.col("cell").alias("q_cell"), F.col("nrm").alias("q_nrm"))
    )
    scored = (
        n.join(F.broadcast(q), (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")))
        .select(
            "q_id", "vec_id", "cell",
            (F.expr(DOT.format(a="q_vd", b="vd")) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", "cell", "cos",
                      F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id", F.col("cell").cast("long").alias("cell"),
                F.round("cos", 4).alias("cosine"), "rnk")
    )


@register(
    "sim_cosine_neardup",
    oracle="""
WITH v AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE vec_id < 200
),
n AS (SELECT vec_id, label, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm), 4) AS cosine,
       CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.45
""",
    doc="Embedding-cosine near-duplicate pairs (threshold 0.45) over a "
        "bounded key range; at corpus scale the LSH buckets gate this "
        "quadratic verify down to candidate pairs.",
)
def sim_cosine_neardup(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    n = e.select(
        "vec_id", "label", F.expr(VD).alias("vd")
    ).select("vec_id", "label", "vd", F.sqrt(F.expr(DOT.format(a="vd", b="vd"))).alias("nrm"))
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
                 F.col("vd").alias("vd_a"), F.col("nrm").alias("nrm_a"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
                 F.col("vd").alias("vd_b"), F.col("nrm").alias("nrm_b"))
    cos = F.expr(DOT.format(a="vd_a", b="vd_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.45)
        .select(
            "vec_a", "vec_b", F.round(cos, 4).alias("cosine"),
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
        )
    )


def _neardup_pairs(spark, sf_dir):
    """Near-dup pairs (vec_a < vec_b) with cosine >= 0.35 over
    vec_id < 200 — the same pair set sim_cosine_neardup verifies."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    n = e.select("vec_id", F.expr(VD).alias("vd")).select(
        "vec_id", "vd", F.sqrt(F.expr(DOT.format(a="vd", b="vd"))).alias("nrm"))
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("vd").alias("vd_a"),
                 F.col("nrm").alias("nrm_a"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("vd").alias("vd_b"),
                 F.col("nrm").alias("nrm_b"))
    cos = F.expr(DOT.format(a="vd_a", b="vd_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.35)
        .select("vec_a", "vec_b")
    )


@register(
    "sim_neardup_components",
    oracle="""
WITH RECURSIVE
v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
      FROM embeddings WHERE vec_id < 200),
n AS (SELECT vec_id, vd, sqrt(list_dot_product(vd, vd)) AS nrm FROM v),
pairs AS (
  SELECT a.vec_id AS pu, b.vec_id AS pv
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.vd, b.vd) / (a.nrm * b.nrm) >= 0.35
),
edges AS (SELECT pu AS u, pv AS v FROM pairs UNION ALL SELECT pv, pu FROM pairs),
reach(s, d) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) z
  UNION
  SELECT r.s, e.v FROM reach r JOIN edges e ON e.u = r.d
),
comp AS (SELECT s AS vec_id, min(d) AS component FROM reach GROUP BY s)
SELECT vec_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
FROM comp
""",
    doc="Duplicate-cluster assignment: connected components over the "
        "embedding near-dup graph (cosine >= 0.35, vec_id < 200), each "
        "labelled by its smallest vec_id — the cluster's canonical id, the "
        "standard keep-one-per-cluster dedup step. The graph is bounded by "
        "construction (200 vertices, at most 19,900 pairs), so the pairs "
        "are collected in one distributed join and union-find runs on the "
        "driver; the labels come back as an inline VALUES relation, with "
        "no job per round. Oracle: DuckDB WITH RECURSIVE transitive "
        "closure, min(d) per s.",
)
def sim_neardup_components(spark, sf_dir):
    pairs = _neardup_pairs(spark, sf_dir)
    id_type = pairs.schema["vec_a"].dataType.simpleString()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in pairs.collect():
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        # the smaller root wins, so every root is its component's min vec_id
        parent[max(ra, rb)] = min(ra, rb)
    comp = {v: find(v) for v in parent}
    size = Counter(comp.values())
    # an empty graph still needs one VALUES row; the filter drops it
    rows = ", ".join(f"({v}, {c}, {size[c]})" for v, c in sorted(comp.items()))
    return spark.sql(
        f"SELECT CAST(col1 AS {id_type}) AS vec_id, CAST(col2 AS {id_type}) AS component, "
        f"CAST(col3 AS BIGINT) AS cluster_size "
        f"FROM VALUES {rows or '(NULL, NULL, NULL)'} WHERE col1 IS NOT NULL")


from dsq_spark.queries.base import REGISTRY as _REG

@register(
    "sim_ivf_recall",
    oracle=f"""
WITH bf AS (SELECT * FROM ({_REG['sim_topk_bruteforce'].oracle}) bfq),
     ivf AS (SELECT * FROM ({_REG['sim_ivf_topk'].oracle}) ivfq)
SELECT bf.q_id,
       round(CAST(count(ivf.vec_id) AS DOUBLE) / 10.0, 4) AS recall_at_10
FROM bf LEFT JOIN ivf ON bf.q_id = ivf.q_id AND bf.vec_id = ivf.vec_id
GROUP BY bf.q_id
""",
    doc=(
        "ANN quality metric: recall@10 of the IVF(single-probe) index "
        "against the exact brute-force top-10 per query vector — the "
        "standard measurement that decides probe count / cell count "
        "trade-offs before scaling an index out. Composed from the two "
        "oracle-matched pipelines, so the metric itself is value-checked."
    ),
)
def sim_ivf_recall(spark, sf_dir):
    bf = sim_topk_bruteforce(spark, sf_dir).select("q_id", "vec_id")
    ivf = sim_ivf_topk(spark, sf_dir).select(
        F.col("q_id").alias("i_qid"), F.col("vec_id").alias("i_vid")
    )
    return (
        bf.join(
            ivf,
            (bf.q_id == ivf.i_qid) & (bf.vec_id == ivf.i_vid),
            "left",
        )
        .groupBy("q_id")
        .agg(F.round(F.count("i_vid").cast("double") / 10.0, 4).alias("recall_at_10"))
    )


@register(
    "sim_ivf_multiprobe",
    oracle=f"""
WITH v AS (
  SELECT vec_id, {D_VD} AS vd FROM embeddings
),
assigned AS (
  SELECT vec_id, vd,
         list_transform(range(0, {N_CELLS}), k ->
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), range(0, 64)),
             (s, d) -> s + vd[CAST(d AS INTEGER) + 1] * ({CENTROID.format(k="k")}))) AS dots
  FROM v
),
cells AS (
  SELECT vec_id, vd,
         CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS cell
  FROM assigned
),
n AS (SELECT vec_id, vd, cell, sqrt(list_dot_product(vd, vd)) AS nrm FROM cells),
qtop AS (
  SELECT q_id, k AS q_cell FROM (
    SELECT vec_id AS q_id, CAST(t.k AS BIGINT) AS k,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dots[CAST(t.k AS INTEGER) + 1] DESC, t.k) AS rn
    FROM assigned, range(0, {N_CELLS}) t(k)
    WHERE vec_id < 5
  ) z WHERE rn <= 2
),
q AS (
  SELECT qtop.q_id, qtop.q_cell, n.vd AS q_vd, n.nrm AS q_nrm
  FROM qtop JOIN n ON n.vec_id = qtop.q_id
),
scored AS (
  SELECT q.q_id, n.vec_id,
         list_dot_product(q.q_vd, n.vd) / (q.q_nrm * n.nrm) AS cos
  FROM q JOIN n ON n.cell = q.q_cell AND n.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, round(cos, 4) AS cosine, rnk
FROM ranked WHERE rnk <= 10
""",
    doc="Multi-probe IVF (nprobe=2): each query probes its TWO nearest "
        "cells instead of one — the standard recall/cost dial turned one "
        "notch (2/8 of the corpus touched; single-probe recall@10 measured "
        "0.2-0.5 by sim_ivf_recall). Candidates from the two probed cells "
        "are disjoint by construction (a vector lives in exactly one "
        "cell), so no dedup step is needed before ranking.",
)
def sim_ivf_multiprobe(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    dots = F.expr(
        f"transform(sequence(0, {N_CELLS - 1}), k -> "
        f"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), "
        f"(s, d) -> s + element_at(vd, d + 1) * ({CENTROID.format(k='k')})))"
    )
    assigned = v.select("vec_id", "vd", dots.alias("dots"))
    n = assigned.select(
        "vec_id", "vd",
        (F.expr("array_position(dots, array_max(dots))") - 1).cast("long").alias("cell"),
        F.sqrt(F.expr(DOT.format(a="vd", b="vd"))).alias("nrm"),
    ).persist()
    # top-2 cells per query vector (5 rows exploded to 40, ranked)
    qd = (
        assigned.filter(F.col("vec_id") < 5)
        .select("vec_id", F.posexplode("dots").alias("k", "dot"))
    )
    wq = Window.partitionBy("vec_id").orderBy(F.desc("dot"), F.asc("k"))
    qtop = (
        qd.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select(F.col("vec_id").alias("q_id"), F.col("k").cast("long").alias("q_cell"))
    )
    qv = n.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qv_id"), F.col("vd").alias("q_vd"), F.col("nrm").alias("q_nrm")
    )
    q = qtop.join(qv, qtop.q_id == qv.qv_id).drop("qv_id")
    scored = (
        n.join(F.broadcast(q), (n.cell == q.q_cell) & (n.vec_id != q.q_id))
        .select(
            "q_id", "vec_id",
            (F.expr(DOT.format(a="q_vd", b="vd")) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.select("q_id", "vec_id", "cos", F.row_number().over(w).cast("long").alias("rnk"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


@register(
    "dedup_canonical_keep",
    oracle=f"""
WITH comp AS ({_REG['sim_neardup_components'].oracle}),
     stats AS (SELECT CAST(count(*) AS BIGINT) AS n_in_clusters,
                      CAST(sum(CASE WHEN vec_id <> component THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
                      CAST(count(DISTINCT component) AS BIGINT) AS n_clusters,
                      CAST(max(cluster_size) AS BIGINT) AS max_cluster
               FROM comp),
     tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM embeddings)
SELECT t.n_total,
       t.n_total - s.n_dropped AS n_kept,
       s.n_dropped, s.n_clusters, s.max_cluster
FROM tot t CROSS JOIN stats s
""",
    doc=(
        "End-to-end near-dup dedup: each connected component of the "
        "near-duplicate graph keeps ONE canonical member (the min vec_id — "
        "which IS the component label), "
        "everything else is dropped. The operation a training pipeline "
        "actually runs on top of the cluster assignment; composed from the "
        "oracle-matched components query so the summary is value-checked. "
        "At scale: the canonical choice is a map-side comparison on the "
        "already-computed labels — no extra shuffle beyond the rollup."
    ),
    bench=False,  # re-runs sim_neardup_components, which is benched
)
def dedup_canonical_keep(spark, sf_dir):
    comp = sim_neardup_components(spark, sf_dir)
    stats = comp.agg(
        F.sum(F.when(F.col("vec_id") != F.col("component"), 1).otherwise(0))
         .cast("long").alias("n_dropped"),
        F.countDistinct("component").cast("long").alias("n_clusters"),
        F.max("cluster_size").cast("long").alias("max_cluster"),
    )
    tot = t(spark, sf_dir, "embeddings").agg(
        F.count("*").cast("long").alias("n_total"))
    return tot.crossJoin(F.broadcast(stats)).select(
        "n_total",
        (F.col("n_total") - F.col("n_dropped")).alias("n_kept"),
        "n_dropped", "n_clusters", "max_cluster",
    )


@register(
    "emb_quantize_int8",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE vec_id < 50
),
s AS (
  SELECT vec_id, vd, list_max(list_transform(vd, x -> abs(x))) / 127.0 AS scale
  FROM v
)
SELECT vec_id,
       round(scale, 6) AS scale_q,
       round(sqrt(
         list_sum(list_transform(vd, x -> pow(x - floor(x / scale + 0.5) * scale, 2)))
         / list_sum(list_transform(vd, x -> pow(x, 2)))), 6) AS rel_err
FROM s
WHERE scale > 0
""",
    doc=(
        "Symmetric per-vector int8 quantization (scale = absmax/127, "
        "round-half-up via floor(x/s + 0.5)) with relative L2 reconstruction "
        "error — the storage-compression path that cuts an embedding corpus "
        "4x before ANN indexing. Pure Catalyst array HOFs, one scan, no "
        "shuffle; Spark's aggregate() and DuckDB's list_sum both reduce in "
        "element order, so the float math matches bit-for-bit."
    ),
)
def emb_quantize_int8(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    s = v.withColumn(
        "scale",
        F.expr("aggregate(vd, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))") / 127.0,
    ).filter(F.col("scale") > 0)
    err2 = F.expr(
        "aggregate(vd, CAST(0.0 AS DOUBLE), "
        "(a, x) -> a + pow(x - floor(x / scale + 0.5) * scale, 2))")
    norm2 = F.expr("aggregate(vd, CAST(0.0 AS DOUBLE), (a, x) -> a + pow(x, 2))")
    return s.select(
        "vec_id",
        F.round(F.col("scale"), 6).alias("scale_q"),
        F.round(F.sqrt(err2 / norm2), 6).alias("rel_err"),
    )


def _dk_assign(vtab: str, ctab: str, out: str) -> str:
    """One Lloyd assignment step in DuckDB SQL: nearest centroid by L2
    (index-ordered sum — the same FP order as Spark's zip_with aggregate)."""
    return f"""
{out}_d AS (
  SELECT v.vec_id, v.vd, c.cluster,
         list_sum(list_transform(range(1, len(v.vd) + 1),
                  i -> (v.vd[i] - c.cd[i]) * (v.vd[i] - c.cd[i]))) AS d2
  FROM {vtab} v CROSS JOIN {ctab} c
),
{out} AS (
  SELECT vec_id, vd, cluster, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
  FROM {out}_d
)"""


def _dk_update(atab: str, out: str) -> str:
    """One Lloyd centroid update: per-dimension mean, rounded to 6dp so the
    engines' different summation orders cannot leak into the next
    assignment."""
    return f"""
{out}_e AS (
  SELECT a.cluster, s.i AS i, s.x AS x
  FROM (SELECT * FROM {atab} WHERE rn = 1) a,
  LATERAL (SELECT unnest(list_transform(range(1, len(a.vd) + 1),
           i -> {{'i': i, 'x': a.vd[i]}}), recursive := true)) s(i, x)
),
{out} AS (
  SELECT cluster, list(round(c, 6) ORDER BY i) AS cd
  FROM (SELECT cluster, i, avg(x) AS c FROM {out}_e GROUP BY cluster, i)
  GROUP BY cluster
)"""


_DK_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings WHERE vec_id < 2000
),
c0 AS (SELECT vec_id AS cluster, vd AS cd FROM v WHERE vec_id < 8),
{_dk_assign('v', 'c0', 'a1')},
{_dk_update('a1', 'u1')},
{_dk_assign('v', 'u1', 'a2')},
{_dk_update('a2', 'u2')},
{_dk_assign('v', 'u2', 'a3')}
SELECT cluster,
       count(*) AS n_members,
       round(sqrt(avg(d2)), 6) AS rms_dist
FROM a3 WHERE rn = 1
GROUP BY cluster
"""


def _fmt_double_lit(x) -> str:
    """One double as a Spark SQL literal.  repr() emits the shortest
    round-tripping decimal so parsing reproduces the bits exactly; NaN and
    +/-Infinity have no numeric-literal spelling (repr gives 'nan'/'inf',
    which the SQL parser rejects — ADVICE r10 #3), so they emit as casts,
    which Spark folds to the exact special value."""
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _km_literal(cents):
    """SQL literal array<struct<cluster:bigint, cd:array<double>>> from
    driver-side centroids.  repr() emits the shortest round-tripping decimal,
    so parsing the literal reproduces each double bit-for-bit."""
    items = ", ".join(
        "named_struct('cluster', CAST({} AS BIGINT), 'cd', array({}))".format(
            c, ", ".join(_fmt_double_lit(x) for x in cd))
        for c, cd in cents)
    return f"array({items})"


def _km_assign_lit(v, cents, keep_cd=False):
    """Exchange-free Lloyd assignment: nearest centroid by L2 with the
    (d2, cluster) tiebreak, as a PURE MAP over the corpus scan.

    The centroids are a constant-folded literal array, so the per-row argmin
    is array_min over (d2, cluster[, cd]) structs — struct ordering compares
    d2 first, then cluster, exactly the min_by tiebreak the broadcast-join
    formulation used.  No crossJoin row expansion, no per-vector shuffle: at
    any corpus scale the assignment pipelines inside the scan stage (r10
    follow-up; guide §2.1 'remove the shuffle outright')."""
    d2 = ("aggregate(zip_with(vd, c.cd, (x, y) -> (x - y) * (x - y)), "
          "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")
    tail = ", c.cd AS cd" if keep_cd else ""
    m = (f"array_min(transform({_km_literal(cents)}, "
         f"c -> struct({d2} AS d2, c.cluster AS cluster{tail})))")
    out = ["vec_id", "vd", F.col("m.cluster").alias("cluster"),
           F.col("m.d2").alias("d2")]
    if keep_cd:
        out.append(F.col("m.cd").alias("cd"))
    return v.withColumn("m", F.expr(m)).select(*out)


def _km_train(v, init_bound, iters=2):
    """Lloyd with a per-iteration driver round-trip of the k centroids
    (k·dim doubles — bounded at ANY corpus scale; the MLlib KMeans shape).

    All arithmetic stays in Spark expressions: the init is the literal
    first-k corpus vectors, each update is the same posexplode +
    per-(cluster, dim) round(avg, 6) aggregate the chained formulation ran —
    only the final array assembly (sort by dim index) moves to the driver,
    on the collected 6dp-rounded values.  Chaining the rounds instead built
    one plan with 3 exchanges per iteration that re-ran inside every
    broadcast of the result (guide §5)."""
    cents = sorted(
        (r["vec_id"], list(r["vd"]))
        for r in v.filter(F.col("vec_id") < init_bound)
                  .select("vec_id", "vd").collect())
    for _ in range(iters):
        rows = (
            _km_assign_lit(v, cents)
            .select("cluster", F.posexplode("vd").alias("i", "x"))
            .groupBy("cluster", "i").agg(F.round(F.avg("x"), 6).alias("c"))
            .collect())
        by_c = {}
        for r in rows:
            by_c.setdefault(r["cluster"], []).append((r["i"], r["c"]))
        cents = sorted((c, [x for _, x in sorted(dims)])
                       for c, dims in by_c.items())
    return cents


def _km_refined(spark, sf_dir, iters=2):
    """(persisted corpus vectors, centroids after `iters` Lloyd rounds)."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000)
    v = e.select("vec_id", F.expr(VD).alias("vd")).persist()
    return v, _km_train(v, 8, iters)



@register(
    "sim_kmeans_refine",
    oracle=_DK_SQL,
    doc=(
        "Two Lloyd iterations of k-means (k=8, init = first 8 vectors) "
        "refining IVF centroids, reporting per-cluster membership and RMS "
        "distance under the refined centroids. The iterative-ML shape done "
        "Spark-first: each iteration is a broadcast of 8 centroids onto one "
        "corpus scan (assignment) plus a (cluster, dim) aggregate "
        "(update) — no corpus self-join, no driver-side vectors. Centroids "
        "round to 6dp each update so cross-engine FP summation order can't "
        "flip an argmin; distances accumulate in identical element order "
        "(zip_with vs indexed loop)."
    ),
)
def sim_kmeans_refine(spark, sf_dir):
    v, cents = _km_refined(spark, sf_dir)
    final = _km_assign_lit(v, cents)
    return final.groupBy("cluster").agg(
        F.count("*").alias("n_members"),
        F.round(F.sqrt(F.avg("d2")), 6).alias("rms_dist"),
    )


_IVFK_TOPK_TAIL = """,
asg AS (SELECT vec_id, vd, cluster FROM a3 WHERE rn = 1),
nrm AS (
  SELECT vec_id, vd, cluster,
         sqrt(list_sum(list_transform(range(1, len(vd) + 1),
              i -> vd[i] * vd[i]))) AS nrm
  FROM asg
),
q AS (
  SELECT vec_id AS q_id, vd AS q_vd, cluster AS q_cluster, nrm AS q_nrm
  FROM nrm WHERE vec_id < 5
),
scored AS (
  SELECT q.q_id, n.vec_id,
         list_sum(list_transform(range(1, len(n.vd) + 1),
                  i -> q.q_vd[i] * n.vd[i])) / (q.q_nrm * n.nrm) AS cos
  FROM q JOIN nrm n ON n.cluster = q.q_cluster AND n.vec_id != q.q_id
),
ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, round(cos, 4) AS cosine, rnk
FROM ranked WHERE rnk <= 10
"""

# slice off _DK_SQL's final report SELECT (the LAST "SELECT cluster," —
# earlier ones live inside the update CTEs) and graft the top-k tail on
_IVFK_SQL = _DK_SQL[:_DK_SQL.rindex("SELECT cluster,")].rstrip() + _IVFK_TOPK_TAIL


@register(
    "sim_ivf_kmeans_topk",
    oracle=_IVFK_SQL,
    doc=(
        "IVF top-10 over LEARNED cells: the Lloyd-refined centroids "
        "(sim_kmeans_refine) partition the corpus, each query probes its "
        "own cell, and only same-cell vectors are scored — the full "
        "train-then-search ANN pipeline in one plan. Cell assignment is a "
        "broadcast of 8 centroids; candidate scoring touches 1/k of the "
        "corpus per query; cosine accumulates in identical element order "
        "on both engines so ranking is bit-deterministic."
    ),
)
def sim_ivf_kmeans_topk(spark, sf_dir):
    from pyspark.sql.window import Window

    v, cents = _km_refined(spark, sf_dir)
    asg = _km_assign_lit(v, cents).select("vec_id", "vd", "cluster")
    nrm = asg.withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(zip_with(vd, vd, (x, y) -> x * y), "
                      "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")),
    ).persist()
    q = nrm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"),
        F.col("cluster").alias("q_cluster"), F.col("nrm").alias("q_nrm"))
    dot = ("aggregate(zip_with(q_vd, vd, (x, y) -> x * y), "
           "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")
    scored = (
        nrm.join(F.broadcast(q),
                 (F.col("cluster") == F.col("q_cluster"))
                 & (F.col("vec_id") != F.col("q_id")))
        .select("q_id", "vec_id",
                (F.expr(dot) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id", F.round(F.col("cos"), 4).alias("cosine"), "rnk")
    )


_IVFK_RECALL_TAIL = """,
brute_s AS (
  SELECT q.q_id, n.vec_id,
         list_sum(list_transform(range(1, len(n.vd) + 1),
                  i -> q.q_vd[i] * n.vd[i])) / (q.q_nrm * n.nrm) AS cos
  FROM q JOIN nrm n ON n.vec_id != q.q_id
),
brute AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
    FROM brute_s) WHERE rnk <= 10
),
cellk AS (SELECT q_id, vec_id FROM ranked WHERE rnk <= 10)
SELECT CAST(count(DISTINCT b.q_id) AS BIGINT) AS n_queries,
       round(count(c.vec_id) * 1.0 / count(*), 4) AS recall_at_10
FROM brute b LEFT JOIN cellk c USING (q_id, vec_id)
"""

_IVFK_RECALL_SQL = (
    _IVFK_SQL[:_IVFK_SQL.rindex("SELECT q_id,")].rstrip().rstrip(")")
    + ")" + _IVFK_RECALL_TAIL)


@register(
    "sim_ivf_kmeans_recall",
    oracle=_IVFK_RECALL_SQL,
    doc=(
        "recall@10 of the learned-cell IVF against bounded brute-force "
        "ground truth — measured 0.84 at sf0.01 vs 0.2/0.42 for the "
        "hyperplane IVF at nprobe 1/2 (sim_ivf_recall): Lloyd refinement "
        "buys 2-4x recall at identical probe cost. Composes two "
        "already-oracle-verified paths; the exact path is bounded to the "
        "same vec_id < 2000 corpus so it stays a verification metric, not "
        "a scale landmine."
    ),
)
def sim_ivf_kmeans_recall(spark, sf_dir):
    from pyspark.sql.window import Window

    v, cents = _km_refined(spark, sf_dir)
    asg = _km_assign_lit(v, cents).select("vec_id", "vd", "cluster")
    nrm = asg.withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(zip_with(vd, vd, (x, y) -> x * y), "
                      "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")),
    ).persist()
    q = nrm.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"),
        F.col("cluster").alias("q_cluster"), F.col("nrm").alias("q_nrm"))
    dot = ("aggregate(zip_with(q_vd, vd, (x, y) -> x * y), "
           "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")

    def topk(cand):
        return (cand.select("q_id", "vec_id",
                            (F.expr(dot) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"))
                .withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= 10).select("q_id", "vec_id"))

    cellk = topk(nrm.join(F.broadcast(q),
                          (F.col("cluster") == F.col("q_cluster"))
                          & (F.col("vec_id") != F.col("q_id"))))
    brute = topk(nrm.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")))
    return (
        brute.join(cellk.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .agg(
            F.countDistinct("q_id").cast("long").alias("n_queries"),
            F.round(F.count("hit") * 1.0 / F.count("*"), 4).alias("recall_at_10"),
        )
    )

# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-bounded ANN path.  IVF (above) cuts
# the number of candidates scored per query; PQ cuts the BYTES per candidate —
# each 64-dim float vector compresses to M=8 one-byte codes (32x), and query
# scoring never touches the original vectors, only an M x K lookup table of
# partial distances (asymmetric distance computation, ADC).  At 100 TB of
# embeddings the PQ-encoded corpus is the only representation that fits in
# cluster memory.  Jegou et al., "Product Quantization for Nearest Neighbor
# Search", IEEE TPAMI 2011.

_PQ_M = 8       # subspaces (64 dims / 8 per subspace)
_PQ_K = 16      # codes per subspace codebook
_PQ_SCALE = 1000000  # ADC table entries quantize to 1e-6 ints: exact sums

# Shared oracle prefix: train (1 Lloyd round from the first-16-vectors init,
# 6dp-rounded centroid means — same determinism discipline as _dk_update),
# encode the corpus, build per-query ADC tables, rank by integer ADC distance.
# ADC partial distances are quantized to BIGINT micro-units BEFORE the
# per-vector sum so the 8-term accumulation is integer (order-independent) —
# cross-engine FP summation order cannot flip a rank.
_PQ_PREFIX = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
),
vs AS (
  SELECT vec_id, CAST(s AS INTEGER) AS sub, list_slice(vd, s*8+1, s*8+8) AS svd
  FROM v, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS s) z
),
c0 AS (
  SELECT sub, CAST(vec_id AS INTEGER) AS code, svd AS cd FROM vs WHERE vec_id < {_PQ_K}
),
a1 AS (
  SELECT vec_id, sub, svd, code, d2,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
  FROM (
    SELECT vs.vec_id, vs.sub, vs.svd, c.code,
           list_sum(list_transform(range(1, 9),
                    i -> (vs.svd[i] - c.cd[i]) * (vs.svd[i] - c.cd[i]))) AS d2
    FROM vs JOIN c0 c ON c.sub = vs.sub) d
),
u1e AS (
  SELECT a.sub, a.code, s.i AS i, s.x AS x
  FROM (SELECT * FROM a1 WHERE rn = 1) a,
  LATERAL (SELECT unnest(list_transform(range(1, len(a.svd) + 1),
           i -> {{'i': i, 'x': a.svd[i]}}), recursive := true)) s(i, x)
),
u1 AS (
  SELECT sub, code, list(round(c, 6) ORDER BY i) AS cd
  FROM (SELECT sub, code, i, avg(x) AS c FROM u1e GROUP BY sub, code, i) g
  GROUP BY sub, code
),
enc AS (
  SELECT vec_id, sub, code FROM (
    SELECT vs.vec_id, vs.sub, c.code,
           row_number() OVER (PARTITION BY vs.vec_id, vs.sub ORDER BY
             list_sum(list_transform(range(1, 9),
                      i -> (vs.svd[i] - c.cd[i]) * (vs.svd[i] - c.cd[i]))), c.code) AS rn
    FROM vs JOIN u1 c ON c.sub = vs.sub) d
  WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, sub, svd AS q_svd FROM vs WHERE vec_id < 5),
lut AS (
  SELECT q.q_id, q.sub, c.code,
         CAST(round(list_sum(list_transform(range(1, 9),
              i -> (q.q_svd[i] - c.cd[i]) * (q.q_svd[i] - c.cd[i]))) * {_PQ_SCALE})
              AS BIGINT) AS d2u
  FROM q JOIN u1 c ON c.sub = q.sub
),
adc AS (
  SELECT l.q_id, e.vec_id, sum(l.d2u) AS adc_u
  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
  WHERE e.vec_id != l.q_id
  GROUP BY l.q_id, e.vec_id
),
ranked AS (
  SELECT q_id, vec_id, adc_u,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) AS BIGINT) AS rnk
  FROM adc
)
"""

_PQ_TOPK_SQL = _PQ_PREFIX + f"""
SELECT q_id, vec_id, round(adc_u / {_PQ_SCALE}.0, 6) AS adc_d2, rnk
FROM ranked WHERE rnk <= 10
"""

_PQ_RECALL_SQL = _PQ_PREFIX + """,
qf AS (SELECT vec_id AS q_id, vd AS q_vd FROM v WHERE vec_id < 5),
brute AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, n.vec_id,
           row_number() OVER (PARTITION BY q.q_id ORDER BY
             list_sum(list_transform(range(1, len(n.vd) + 1),
                      i -> (q.q_vd[i] - n.vd[i]) * (q.q_vd[i] - n.vd[i]))), n.vec_id) AS rnk
    FROM qf q JOIN v n ON n.vec_id != q.q_id) s
  WHERE rnk <= 10
),
pqk AS (SELECT q_id, vec_id FROM ranked WHERE rnk <= 10)
SELECT CAST(count(DISTINCT b.q_id) AS BIGINT) AS n_queries,
       floor((count(p.vec_id) * 1.0 / count(*)) * 10000 + 0.5) / 10000 AS recall_at_10
FROM brute b LEFT JOIN pqk p ON p.q_id = b.q_id AND p.vec_id = b.vec_id
"""

def _pq_literal(cb, int_cd=False):
    """SQL literal map<int, array<struct<code:int, cd:array<…>>>> from a
    driver-side codebook [(sub, code, [vals])]: one map entry per subspace,
    so the per-row argmin only scans that subspace's K codes.  Doubles emit
    via repr() (shortest round-tripping decimal → bit-exact); the residual
    path's codebooks are exact BIGINTs."""
    by_sub = {}
    for sub, code, cd in cb:
        by_sub.setdefault(sub, []).append((code, cd))
    fmt = (lambda x: f"{int(x)}L") if int_cd else _fmt_double_lit
    entries = []
    for sub in sorted(by_sub):
        items = ", ".join(
            "named_struct('code', CAST({} AS INT), 'cd', array({}))".format(
                code, ", ".join(fmt(x) for x in cd))
            for code, cd in sorted(by_sub[sub]))
        entries.append(f"CAST({sub} AS INT), array({items})")
    return "map(" + ", ".join(entries) + ")"


def _pq_d2(cd_ref, int_math=False):
    """Per-subvector squared distance against a codebook entry, accumulated
    left-to-right (double for raw subvectors, exact BIGINT for residuals)."""
    zero = "CAST(0 AS BIGINT)" if int_math else "CAST(0.0 AS DOUBLE)"
    return (f"aggregate(zip_with(svd, {cd_ref}, (x, y) -> (x - y) * (x - y)), "
            f"{zero}, (a, p) -> a + p)")


def _pq_assign_lit(vs, cb, carry=(), int_math=False):
    """Nearest codebook entry per (vector, subspace) as a PURE MAP: argmin
    over the sub's K literal codes via array_min on (d2, code) structs — the
    same (d2, code) tiebreak the min_by formulation used, with no broadcast
    join and no per-subvector exchange on the encode path (guide §2.1)."""
    m = (f"array_min(transform(element_at({_pq_literal(cb, int_math)}, sub), "
         f"c -> struct({_pq_d2('c.cd', int_math)} AS d2, c.code AS code)))")
    return vs.withColumn("m", F.expr(m)).select(
        "vec_id", "sub", "svd", F.col("m.code").alias("code"),
        F.col("m.d2").alias("d2"), *carry)


def _pq_train(vs, mean_col, int_math=False):
    """One PQ Lloyd round with a driver round-trip of the codebook
    (M·K·(dim/M) values — bounded at any corpus scale).  Init is the literal
    first-K subvectors; the update is the same per-(sub, code, dim) mean
    aggregate the chained formulation ran, under the CALLER'S rounding rule
    (load-bearing: plain PQ rounds to 6dp, the residual path uses
    exact-integer floor(avg + 0.5) — see sim_ivfpq_topk); only the array
    assembly (sort by dim index) moves to the driver."""
    c0 = sorted(
        (r["sub"], int(r["vec_id"]), list(r["svd"]))
        for r in vs.filter(F.col("vec_id") < _PQ_K)
                   .select("vec_id", "sub", "svd").collect())
    rows = (
        _pq_assign_lit(vs, c0, int_math=int_math)
        .select("sub", "code", F.posexplode("svd").alias("i", "x"))
        .groupBy("sub", "code", "i").agg(mean_col.alias("c"))
        .collect())
    by_sc = {}
    for r in rows:
        by_sc.setdefault((r["sub"], r["code"]), []).append((r["i"], r["c"]))
    return sorted((s, c, [x for _, x in sorted(dims)])
                  for (s, c), dims in by_sc.items())


def _pq_parts(spark, sf_dir):
    """(full vectors v, subvectors vs, trained codebook u1, encoded corpus,
    per-query integer ADC rank table) shared by the PQ queries."""
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    vs = (
        v.select("vec_id", "vd", F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("sub"))
        .select("vec_id", F.col("sub").cast("int").alias("sub"),
                F.expr("slice(vd, sub * 8 + 1, 8)").alias("svd"))
        .persist()  # feeds train, encode, and the query-side LUT
    )
    # r10 follow-up: the trained codebook (M*K = 128 rows) round-trips the
    # driver, so the encode pass and the query-side LUT are pure maps over
    # the subvector stream — no training-subtree re-run per consumer, no
    # per-subvector argmin exchange (guide §2.1/§5).
    u1 = _pq_train(vs, F.round(F.avg("x"), 6))
    u1_lit = _pq_literal(u1)
    enc = _pq_assign_lit(vs, u1).select("vec_id", "sub", "code")
    qs = vs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "sub", F.col("svd").alias("q_svd"))
    lut = qs.select(
        "q_id", "sub", "q_svd",
        F.expr(f"explode(element_at({u1_lit}, sub))").alias("c")
    ).select(
        "q_id", "sub", F.col("c.code").alias("code"),
        F.expr("CAST(round(aggregate(zip_with(q_svd, c.cd, (x, y) -> (x - y) * (x - y)), "
               f"CAST(0.0 AS DOUBLE), (a, p) -> a + p) * {_PQ_SCALE}) AS BIGINT)").alias("d2u"))
    adc = (
        enc.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id").agg(F.sum("d2u").alias("adc_u"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_u", "vec_id")
    ranked = adc.withColumn("rnk", F.row_number().over(w).cast("long"))
    return v, vs, u1, enc, ranked


@register(
    "sim_pq_topk",
    oracle=_PQ_TOPK_SQL,
    doc=(
        "Product-quantization ANN (Jegou et al. 2011): per-subspace k-means "
        "codebooks (M=8 subspaces x K=16 codes, one Lloyd round from the "
        "deterministic first-16 init) encode each 64-dim vector as 8 bytes "
        "(32x compression); queries score candidates via an asymmetric-"
        "distance lookup table (M*K partial squared distances, broadcast) "
        "summed per encoded vector — the original floats are never touched "
        "at search time. ADC entries quantize to 1e-6 integer units before "
        "the sum, so ranking is exact-integer and cross-engine FP summation "
        "order cannot flip a rank. At 100 TB: training touches a sample, "
        "encode is one linear scan against a broadcast 128-row codebook, and "
        "search reads only the 8-byte codes — the corpus-in-memory ANN path."
    ),
)
def sim_pq_topk(spark, sf_dir):
    _, _, _, _, ranked = _pq_parts(spark, sf_dir)
    return (
        ranked.filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id",
                F.round(F.col("adc_u") / _PQ_SCALE, 6).alias("adc_d2"), "rnk")
    )


@register(
    "sim_pq_recall",
    oracle=_PQ_RECALL_SQL,
    doc=(
        "recall@10 of PQ/ADC search against exact-L2 ground truth over the "
        "same corpus — the compression-quality metric that decides M and K "
        "before a production rollout (measured 0.36 at sf0.01 on the "
        "uniform-random synthetic embeddings, which are PQ's worst case: no "
        "subspace structure to exploit). The exact arm is 5 broadcast "
        "queries x one corpus scan — linear, a metric not a landmine."
    ),
    bench=False,  # re-runs training + encode; sim_pq_topk already benched
)
def sim_pq_recall(spark, sf_dir):
    v, _, _, _, ranked = _pq_parts(spark, sf_dir)
    qf = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"))
    d2 = ("aggregate(zip_with(q_vd, vd, (x, y) -> (x - y) * (x - y)), "
          "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")
    wb = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    brute = (
        v.join(F.broadcast(qf), F.col("vec_id") != F.col("q_id"))
        .withColumn("d2", F.expr(d2))
        .withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") <= 10).select("q_id", "vec_id")
    )
    pqk = ranked.filter(F.col("rnk") <= 10).select("q_id", "vec_id")
    return (
        brute.join(pqk.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .agg(
            F.countDistinct("q_id").cast("long").alias("n_queries"),
            fround(F.count("hit") * 1.0 / F.count("*"), 4).alias("recall_at_10"),
        )
    )


# --- IVF+PQ: the production composition (FAISS-style IVFPQ, nprobe=1) ------
# Coarse k-means cells bound the candidate set per query; PQ codebooks are
# trained on the RESIDUALS (vector minus its cell centroid), which carry far
# less variance than raw vectors, so the same 8-byte code spends its 16
# levels per subspace on a tighter range. Search = probe own cell + integer
# ADC over residual LUTs. Jegou et al. 2011 §IV (IVFADC).

_IVFPQ_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
c0 AS (SELECT vec_id AS cluster, vd AS cd FROM v WHERE vec_id < 8),
{_dk_assign('v', 'c0', 'ka1')},
{_dk_update('ka1', 'ku1')},
{_dk_assign('v', 'ku1', 'ka2')},
{_dk_update('ka2', 'ku2')},
{_dk_assign('v', 'ku2', 'ka3')},
res AS (
  SELECT a.vec_id, a.cluster,
         list_transform(range(1, len(a.vd) + 1),
                        i -> CAST(round((a.vd[i] - c.cd[i]) * {_PQ_SCALE}) AS BIGINT)) AS rv
  FROM (SELECT * FROM ka3 WHERE rn = 1) a JOIN ku2 c ON c.cluster = a.cluster
),
rs AS (
  SELECT vec_id, cluster, CAST(s AS INTEGER) AS sub,
         list_slice(rv, s*8+1, s*8+8) AS svd
  FROM res, LATERAL (SELECT unnest(range(0, {_PQ_M})) AS s) z
),
pc0 AS (
  SELECT sub, CAST(vec_id AS INTEGER) AS code, svd AS cd FROM rs WHERE vec_id < {_PQ_K}
),
pa1 AS (
  SELECT vec_id, sub, svd, code, d2,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
  FROM (
    SELECT rs.vec_id, rs.sub, rs.svd, c.code,
           list_sum(list_transform(range(1, 9),
                    i -> (rs.svd[i] - c.cd[i]) * (rs.svd[i] - c.cd[i]))) AS d2
    FROM rs JOIN pc0 c ON c.sub = rs.sub) d
),
pu1e AS (
  SELECT a.sub, a.code, s.i AS i, s.x AS x
  FROM (SELECT * FROM pa1 WHERE rn = 1) a,
  LATERAL (SELECT unnest(list_transform(range(1, len(a.svd) + 1),
           i -> {{'i': i, 'x': a.svd[i]}}), recursive := true)) s(i, x)
),
pu1 AS (
  SELECT sub, code, list(CAST(floor(c + 0.5) AS BIGINT) ORDER BY i) AS cd
  FROM (SELECT sub, code, i, avg(x) AS c FROM pu1e GROUP BY sub, code, i) g
  GROUP BY sub, code
),
enc AS (
  SELECT vec_id, cluster, sub, code FROM (
    SELECT rs.vec_id, rs.cluster, rs.sub, c.code,
           row_number() OVER (PARTITION BY rs.vec_id, rs.sub ORDER BY
             list_sum(list_transform(range(1, 9),
                      i -> (rs.svd[i] - c.cd[i]) * (rs.svd[i] - c.cd[i]))), c.code) AS rn
    FROM rs JOIN pu1 c ON c.sub = rs.sub) d
  WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, cluster AS q_cluster, sub, svd AS q_svd
      FROM rs WHERE vec_id < 5),
lut AS (
  SELECT q.q_id, q.q_cluster, q.sub, c.code,
         list_sum(list_transform(range(1, 9),
                  i -> (q.q_svd[i] - c.cd[i]) * (q.q_svd[i] - c.cd[i]))) AS d2u
  FROM q JOIN pu1 c ON c.sub = q.sub
),
adc AS (
  SELECT l.q_id, e.vec_id, CAST(sum(l.d2u) AS BIGINT) AS adc_u
  FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
                        AND l.q_cluster = e.cluster
  WHERE e.vec_id != l.q_id
  GROUP BY l.q_id, e.vec_id
),
ranked AS (
  SELECT q_id, vec_id, adc_u,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_u, vec_id) AS BIGINT) AS rnk
  FROM adc
)
SELECT q_id, vec_id,
       floor(adc_u / ({_PQ_SCALE}.0 * {_PQ_SCALE}.0) * 1000000 + 0.5) / 1000000 AS adc_d2,
       rnk
FROM ranked WHERE rnk <= 10
"""

@register(
    "sim_ivfpq_topk",
    oracle=_IVFPQ_SQL,
    doc=(
        "IVF+PQ, the production ANN composition (FAISS IVFADC, Jegou et al. "
        "2011 §IV): 8 Lloyd-trained coarse cells bound WHICH candidates each "
        "query scores (nprobe=1 probes 1/k of the corpus), and PQ codebooks "
        "trained on cell RESIDUALS bound the BYTES per candidate (8 codes = "
        "32x compression; residuals carry less variance than raw vectors, so "
        "the 16 levels per subspace quantize a tighter range). Search joins "
        "the 8-byte codes against a broadcast per-query residual LUT and "
        "ranks by exact-integer ADC sums. Every stage is a broadcast onto a "
        "linear corpus scan — coarse assign (8 centroids), residual (join "
        "back the same 8), encode (128-row codebook), search (640-row LUT) "
        "— with map-side min_by argmins; nothing quadratic, nothing "
        "corpus-sized on the driver. Measured recall@10 = 0.36 at sf0.01 — "
        "identical to full-scan PQ (sim_pq_recall) while scoring 8x fewer "
        "candidates: on these structure-free uniform-random vectors the "
        "cell restriction costs nothing, and quantization loss dominates."
    ),
)
def sim_ivfpq_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd")).persist()
    # r10 follow-up: coarse centroids round-trip the driver per Lloyd round
    # (8·dim doubles, bounded at any corpus scale), so the assignment AND
    # the residual subtraction are pure maps over the corpus scan — the
    # old chained form re-ran the training subtree inside every broadcast
    # and shuffled once per vector for the argmin (guide §2.1/§5).
    cents = _km_train(v, 8)
    asg = _km_assign_lit(v, cents, keep_cd=True)
    res = asg.select(
        "vec_id", "cluster",
        F.expr("zip_with(vd, cd, (x, y) -> "
               f"CAST(round((x - y) * {_PQ_SCALE}) AS BIGINT))").alias("rv"))
    rs = (
        res.select("vec_id", "cluster", "rv",
                   F.explode(F.expr(f"sequence(0, {_PQ_M - 1})")).alias("sub"))
        .select("vec_id", "cluster", F.col("sub").cast("int").alias("sub"),
                F.expr("slice(rv, sub * 8 + 1, 8)").alias("svd"))
        .persist()  # feeds train, encode, and the query-side LUT
    )
    # codebook means in integer micro-units via floor(avg + 0.5): the sums
    # stay exact in doubles (members * 2e6 << 2^53), so the rule is
    # bit-deterministic cross-engine — unlike round(avg, 6) over grid-aligned
    # residuals, whose means land EXACTLY on 6dp half-way points (measured: 7
    # of 1024 codebook elements flipped between engines before this change).
    # r10 follow-up: the residual codebook round-trips the driver (M*K = 128
    # bounded rows of exact BIGINTs), so the encode pass and the query-side
    # LUT are pure maps over the residual stream (guide §2.1/§5).
    pu1 = _pq_train(rs, F.floor(F.avg("x") + 0.5).cast("long"), int_math=True)
    pu1_lit = _pq_literal(pu1, int_cd=True)
    enc = _pq_assign_lit(rs, pu1, carry=("cluster",), int_math=True).select(
        "vec_id", "cluster", "sub", "code")
    qs = rs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("cluster").alias("q_cluster"),
        "sub", F.col("svd").alias("q_svd"))
    lut = qs.select(
        "q_id", "q_cluster", "sub", "q_svd",
        F.expr(f"explode(element_at({pu1_lit}, sub))").alias("c"),
    ).select(
        "q_id", "q_cluster", "sub", F.col("c.code").alias("code"),
        F.expr("aggregate(zip_with(q_svd, c.cd, (x, y) -> (x - y) * (x - y)), "
               "CAST(0 AS BIGINT), (a, p) -> a + p)").alias("d2u"))
    adc = (
        enc.join(F.broadcast(lut), ["sub", "code"])
        .filter((F.col("cluster") == F.col("q_cluster"))
                & (F.col("vec_id") != F.col("q_id")))
        .groupBy("q_id", "vec_id").agg(F.sum("d2u").alias("adc_u"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_u", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "vec_id",
                fround(F.col("adc_u") / (float(_PQ_SCALE) * _PQ_SCALE), 6).alias("adc_d2"),
                "rnk")
    )


# --- Incremental ANN ingest: frozen index, batch-only probing --------------

_INC_SQL = f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
  FROM embeddings
),
idx AS (SELECT * FROM v WHERE vec_id % 5 != 0),
c0 AS (SELECT vec_id AS cluster, vd AS cd FROM idx WHERE vec_id < 10),
{_dk_assign('idx', 'c0', 'ia1')},
{_dk_update('ia1', 'iu1')},
{_dk_assign('idx', 'iu1', 'ia2')},
{_dk_update('ia2', 'iu2')},
{_dk_assign('idx', 'iu2', 'ia3')},
inrm AS (
  SELECT vec_id, vd, cluster,
         sqrt(list_sum(list_transform(range(1, len(vd) + 1), i -> vd[i] * vd[i]))) AS nrm
  FROM ia3 WHERE rn = 1
),
bat AS (SELECT * FROM v WHERE vec_id % 5 = 0 AND vec_id < 50),
{_dk_assign('bat', 'iu2', 'ba1')},
bnrm AS (
  SELECT vec_id AS q_id, vd AS q_vd, cluster AS q_cluster,
         sqrt(list_sum(list_transform(range(1, len(vd) + 1), i -> vd[i] * vd[i]))) AS q_nrm
  FROM ba1 WHERE rn = 1
),
scored AS (
  SELECT b.q_id, n.vec_id,
         list_sum(list_transform(range(1, len(n.vd) + 1),
                  i -> b.q_vd[i] * n.vd[i])) / (b.q_nrm * n.nrm) AS cos
  FROM bnrm b JOIN inrm n ON n.cluster = b.q_cluster
),
ranked AS (
  SELECT q_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rnk
  FROM scored
)
SELECT q_id, vec_id, round(cos, 4) AS cosine, rnk
FROM ranked WHERE rnk <= 3
"""


@register(
    "sim_ivf_incremental",
    oracle=_INC_SQL,
    doc=(
        "Continuous-ingest ANN (the serving analog of dedup_incremental_lsh): "
        "the index side — 80% of the corpus — trains k=8 Lloyd cells, "
        "assigns, and norms ONCE; an arriving batch then only (a) assigns "
        "each new vector to its nearest frozen centroid (a broadcast of 8 "
        "rows onto the batch scan) and (b) scores against the one matching "
        "index cell. The index is never re-trained or re-scanned beyond the "
        "probed cells, there is no batch x batch work, and the batch side "
        "broadcasts — per-ingest cost is O(batch x cell), independent of "
        "total index size growth per batch. Cosines accumulate in identical "
        "element order on both engines, so ranking is bit-deterministic."
    ),
)
def sim_ivf_incremental(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.expr(VD).alias("vd"))
    idx = v.filter(F.col("vec_id") % 5 != 0).persist()
    # r10 follow-up: the frozen index centroids round-trip the driver per
    # Lloyd round (k·dim doubles — bounded at any index size), so both the
    # index scan (inrm) and the arriving batch (bnrm) assign against a
    # constant-folded literal with NO exchange and NO re-run of the
    # training chain (guide §2.1/§5).
    cents = _km_train(idx, 10)
    nrm_expr = F.sqrt(F.expr(
        "aggregate(zip_with(vd, vd, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (a, p) -> a + p)"))
    inrm = _km_assign_lit(idx, cents).withColumn("nrm", nrm_expr)
    bat = v.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 50))
    bnrm = _km_assign_lit(bat, cents).withColumn("nrm", nrm_expr).select(
        F.col("vec_id").alias("q_id"), F.col("vd").alias("q_vd"),
        F.col("cluster").alias("q_cluster"), F.col("nrm").alias("q_nrm"))
    dot = ("aggregate(zip_with(q_vd, vd, (x, y) -> x * y), "
           "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")
    scored = (
        inrm.join(F.broadcast(bnrm), F.col("cluster") == F.col("q_cluster"))
        .select("q_id", "vec_id",
                (F.expr(dot) / (F.col("q_nrm") * F.col("nrm"))).alias("cos"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "vec_id", F.round("cos", 4).alias("cosine"), "rnk")
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDedup): k-means cells bound the pairwise work.
# Abbas et al., "SemDedup: Data-efficient learning at web-scale through
# semantic deduplication", arXiv:2303.09540 — cluster the embedding space,
# then look for near-duplicate pairs ONLY within a cell.  The quadratic
# cosine verify that is impossible corpus-wide becomes O(sum cell_i^2), and
# each cell's pair join is one shuffle partition — the same cells-as-blocking
# trick IVF uses for search, reused for dedup.

_SEMDEDUP_TAIL = """,
asg AS (SELECT vec_id, vd, cluster FROM a3 WHERE rn = 1),
nrm AS (
  SELECT vec_id, vd, cluster,
         sqrt(list_sum(list_transform(range(1, len(vd) + 1),
              i -> vd[i] * vd[i]))) AS nrm
  FROM asg
),
pairs AS (
  SELECT a.cluster, b.vec_id AS dup_id
  FROM nrm a JOIN nrm b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, len(a.vd) + 1),
                 i -> a.vd[i] * b.vd[i])) / (a.nrm * b.nrm) >= 0.45
),
removed AS (SELECT DISTINCT cluster, dup_id FROM pairs)
SELECT n.cluster,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(r.dup_id) AS BIGINT) AS n_removed,
       floor((count(*) - count(r.dup_id)) * 1.0 / count(*) * 1000000 + 0.5)
         / 1000000 AS keep_fraction
FROM nrm n LEFT JOIN removed r ON r.cluster = n.cluster AND r.dup_id = n.vec_id
GROUP BY n.cluster
"""

_SEMDEDUP_SQL = _DK_SQL[:_DK_SQL.rindex("SELECT cluster,")].rstrip() + _SEMDEDUP_TAIL


@register(
    "dedup_semantic",
    oracle=_SEMDEDUP_SQL,
    doc=(
        "SemDedup over the embedding corpus: the Lloyd-refined k=8 cells "
        "(sim_kmeans_refine) block the corpus, then cosine >= 0.45 pairs are "
        "sought ONLY within a cell (one equi-join shuffle keyed on cluster — "
        "never a corpus-wide cross join), and every pair's higher vec_id is "
        "marked removed (deterministic keep-lowest-id rule, the one-pass "
        "upper bound of the greedy sweep). Reports per-cell members, "
        "removals, and keep fraction. At 100 TB the cell count k scales with "
        "the corpus so cells stay bounded and the within-cell quadratic is "
        "the controllable knob (SemDedup, arXiv:2303.09540); cosines "
        "accumulate in identical element order on both engines, so the "
        "threshold compare is bit-deterministic. keep_fraction is an exact "
        "count ratio -> floor-form rounding (see queries/__init__)."
    ),
)
def dedup_semantic(spark, sf_dir):
    v, cents = _km_refined(spark, sf_dir)
    nrm = (
        _km_assign_lit(v, cents)
        .select("vec_id", "vd", "cluster")
        .withColumn(
            "nrm",
            F.sqrt(F.expr("aggregate(zip_with(vd, vd, (x, y) -> x * y), "
                          "CAST(0.0 AS DOUBLE), (a, p) -> a + p)")),
        )
        .persist()  # pair join reads it twice (a-side and b-side)
    )
    a = nrm.select("cluster", F.col("vec_id").alias("id_a"),
                   F.col("vd").alias("vd_a"), F.col("nrm").alias("nrm_a"))
    b = nrm.select("cluster", F.col("vec_id").alias("id_b"),
                   F.col("vd").alias("vd_b"), F.col("nrm").alias("nrm_b"))
    cos = F.expr(DOT.format(a="vd_a", b="vd_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    removed = (
        a.join(b, "cluster")  # equi-join on cluster: within-cell pairs only
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos >= 0.45)
        .select("cluster", F.col("id_b").alias("dup_id"))
        .distinct()
        .withColumnRenamed("cluster", "rcluster")
    )
    return (
        nrm.select("cluster", "vec_id")
        .join(removed, (F.col("cluster") == F.col("rcluster"))
              & (F.col("vec_id") == F.col("dup_id")), "left")
        .groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.count("dup_id").cast("long").alias("n_removed"),
            fround((F.count("*") - F.count("dup_id")) * 1.0 / F.count("*"), 6)
            .alias("keep_fraction"),
        )
    )
