"""Similarity search over the ``embeddings`` table (array<float> column).

Brute-force cosine top-k as the correctness baseline, random-hyperplane LSH
bucketing as the scale path, and an IVF-style partition-probed variant
(coarse partitions = the table's ``label`` column). Dot products stay
JVM-side via ``aggregate``/``zip_with`` — no Python in the hot path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from search_engine_spark.pipelines.common import load

N_PROBES = 5          # probe vectors: vec_id 0..4
TOP_K = 10
N_PLANES = 8
PLANE_MOD = 1001      # hyperplane weights in [-500, 500]
COS_ROUND = 6


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def sim_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for each probe vector (brute force baseline)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("p")
    )
    joined = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("probe_id")
    )
    cos = _dot(F.col("v"), F.col("p")) / (_norm(F.col("v")) * _norm(F.col("p")))
    scored = joined.select(
        "probe_id", "vec_id", F.round(cos, COS_ROUND).alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "vec_id", "cosine")
    )


SQL_SIM_BRUTEFORCE_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probes AS (SELECT vec_id AS probe_id, v AS p FROM e WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, vec_id,
         round(list_dot_product(v, p)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p))),
               {COS_ROUND}) AS cosine
  FROM e CROSS JOIN probes
  WHERE vec_id <> probe_id
)
SELECT probe_id, rank, vec_id, cosine
FROM (
  SELECT probe_id, vec_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, vec_id ASC)::INT AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


def _plane_weight_expr_spark(p: int, dim: int):
    """Deterministic hyperplane weight w[p][d] derived from md5, identical in
    both engines: (hash60('plane-p-d') % 1001) - 500."""
    return [
        (
            F.conv(
                F.substring(F.md5(F.lit(f"plane-{p}-{d}")), 1, 15), 16, 10
            ).cast("long")
            % PLANE_MOD
            - (PLANE_MOD - 1) // 2
        ).cast("double")
        for d in range(dim)
    ]


def sim_lsh_buckets(spark: SparkSession, sf_dir: str, dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH signature per vector (the ANN bucketing stage)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = F.lit(0)
    for p in range(N_PLANES):
        ws = _plane_weight_expr_spark(p, dim)
        dot = sum(
            F.element_at(F.col("v"), d + 1) * ws[d] for d in range(dim)
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << p)).otherwise(0)
    return (
        emb.select("vec_id", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.min("vec_id").cast("long").alias("min_vec_id"),
        )
    )


def _sql_plane_dot(p: int, dim: int) -> str:
    terms = " + ".join(
        f"v[{d + 1}] * ((('0x' || substr(md5('plane-{p}-{d}'), 1, 15))::BIGINT"
        f" % {PLANE_MOD}) - {(PLANE_MOD - 1) // 2})::DOUBLE"
        for d in range(dim)
    )
    return f"({terms})"


def sql_sim_lsh_buckets(dim: int = 64) -> str:
    bucket = " + ".join(
        f"CASE WHEN {_sql_plane_dot(p, dim)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT bucket, count(*)::BIGINT AS n_vectors, min(vec_id)::BIGINT AS min_vec_id
FROM (SELECT vec_id, ({bucket})::BIGINT AS bucket FROM e)
GROUP BY bucket
"""


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the probe vector's own coarse partition
    (label), exact cosine within it. The 100 TB shape: per-partition search
    instead of a full scan. The given-``label`` cells stand in for a coarse
    quantizer; ``sim_ivf_kmeans_topk`` below is the full version that
    TRAINS its own centroids."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("v").alias("p"),
    )
    joined = emb.join(
        F.broadcast(probes),
        (F.col("label") == F.col("probe_label"))
        & (F.col("vec_id") != F.col("probe_id")),
    )
    cos = _dot(F.col("v"), F.col("p")) / (_norm(F.col("v")) * _norm(F.col("p")))
    scored = joined.select(
        "probe_id", "vec_id", F.round(cos, COS_ROUND).alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "vec_id", "cosine")
    )


SQL_SIM_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
probes AS (SELECT vec_id AS probe_id, label AS probe_label, v AS p
           FROM e WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, vec_id,
         round(list_dot_product(v, p)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p))),
               {COS_ROUND}) AS cosine
  FROM e JOIN probes
    ON e.label = probes.probe_label AND e.vec_id <> probes.probe_id
)
SELECT probe_id, rank, vec_id, cosine
FROM (
  SELECT probe_id, vec_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, vec_id ASC)::INT AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


# --- LSH retrieval (ANN query path) ---------------------------------------
# sim_lsh_buckets above is the BUCKETING stage; this is the full ANN query:
# probe signature → banded bucket join (same band-join shape as
# dedup.dedup_minhash_lsh) → exact cosine rerank of the candidate union →
# top-k. 18 hyperplanes split into 6 bands of 3 bits: a candidate is any
# vector sharing at least one band with the probe, so near neighbors
# (per-plane agreement ≈ 1 - θ/π) are recalled with high probability while
# a random vector matches a 3-bit band only 1/8 of the time. On this
# synthetic table the neighbors are weak (top cosine ≈ 0.36, near-random),
# which is the hard case for LSH — measured recall@10 is 0.70 at a 0.51
# candidate fraction (swept in DuckDB: 4×4 bands→0.34@0.21, 8×3→0.72@0.56;
# the curve is ~linear because the data has no cluster structure). On real
# embedding corpora the same banding prunes orders of magnitude harder;
# bands/bits are the production knobs. No all-pairs, no full-scan scoring
# anywhere.
#
# The hyperplane family is a seeded LCG over the flattened (plane, dim)
# index — compact to express identically in Spark and DuckDB, unlike the
# per-element md5 family used by the bucketing gate entry.

TOPK_PLANES = 18
TOPK_BANDS = 6
_BAND_BITS = TOPK_PLANES // TOPK_BANDS
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2001


def _lcg_plane_weights(p: int, dim: int) -> list[float]:
    return [
        float((_LCG_A * (p * dim + d + 1) + _LCG_C) % _LCG_M - _LCG_M // 2)
        for d in range(dim)
    ]


def _band_cols(v, dim: int, planes: int = TOPK_PLANES,
               bands: int = TOPK_BANDS):
    """band_id → band value (int) from the ``planes`` hyperplane sign bits,
    grouped into ``bands`` bands of planes//bands bits each. The defaults
    (18 planes / 6 bands) are the gate configuration; callers tune both to
    trade recall against candidate fraction (more bits per band prunes
    harder, more bands recalls more)."""
    band_bits = planes // bands
    bits = []
    for p in range(planes):
        ws = _lcg_plane_weights(p, dim)
        dot = _dot(v, F.array(*[F.lit(w) for w in ws]))
        bits.append(F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)))
    out = []
    for b in range(bands):
        val = F.lit(0)
        for j in range(band_bits):
            val = val + bits[b * band_bits + j] * F.lit(1 << j)
        out.append(val.cast("int"))
    return F.array(*out)


def _lsh_candidates(emb: DataFrame, dim: int, planes: int = TOPK_PLANES,
                    bands: int = TOPK_BANDS) -> DataFrame:
    """(probe_id, vec_id) candidate pairs sharing ≥1 LSH band with a probe.

    The pruning stage of the ANN query, exposed separately so tests (and
    capacity planning) can measure the candidate fraction directly."""
    sigs = emb.select(
        "vec_id", F.posexplode(_band_cols(F.col("v"), dim, planes, bands))
    ).select(
        "vec_id", F.col("pos").alias("band_id"), F.col("col").alias("band_val")
    )
    probe_sigs = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.posexplode(_band_cols(F.col("v"), dim, planes, bands)),
    ).select(
        "probe_id", F.col("pos").alias("band_id"), F.col("col").alias("band_val")
    )
    return (
        sigs.join(F.broadcast(probe_sigs), ["band_id", "band_val"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )


def sim_lsh_topk(spark: SparkSession, sf_dir: str, dim: int = 64,
                 planes: int = TOPK_PLANES,
                 bands: int = TOPK_BANDS) -> DataFrame:
    """ANN top-k via banded hyperplane LSH + exact cosine rerank."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = emb.filter(F.col("vec_id") < N_PROBES)
    candidates = _lsh_candidates(emb, dim, planes, bands)
    rerank = (
        candidates.join(emb, "vec_id")
        .join(
            F.broadcast(
                probes.select(F.col("vec_id").alias("probe_id"),
                              F.col("v").alias("p"))
            ),
            "probe_id",
        )
    )
    cos = _dot(F.col("v"), F.col("p")) / (_norm(F.col("v")) * _norm(F.col("p")))
    scored = rerank.select(
        "probe_id", "vec_id", F.round(cos, COS_ROUND).alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "vec_id", "cosine")
    )


def sql_sim_lsh_topk(dim: int = 64) -> str:
    half = _LCG_M // 2
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bits AS (
  SELECT vec_id, p,
         CASE WHEN list_dot_product(
                v,
                list_transform(range(1, {dim + 1}),
                  d -> (({_LCG_A} * (p * {dim} + d) + {_LCG_C})
                        % {_LCG_M} - {half})::DOUBLE)
              ) > 0 THEN 1 ELSE 0 END AS bit
  FROM e CROSS JOIN (SELECT unnest(range({TOPK_PLANES})) AS p)
),
bands AS (
  SELECT vec_id, (p // {_BAND_BITS})::INT AS band_id,
         sum(bit << (p % {_BAND_BITS}))::INT AS band_val
  FROM bits GROUP BY vec_id, p // {_BAND_BITS}
),
pbands AS (
  SELECT vec_id AS probe_id, band_id, band_val FROM bands
  WHERE vec_id < {N_PROBES}
),
cand AS (
  SELECT DISTINCT pb.probe_id, b.vec_id
  FROM bands b JOIN pbands pb
    ON b.band_id = pb.band_id AND b.band_val = pb.band_val
   AND b.vec_id <> pb.probe_id
),
scored AS (
  SELECT cand.probe_id, cand.vec_id,
         round(list_dot_product(e.v, pe.v)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(pe.v, pe.v))), {COS_ROUND}) AS cosine
  FROM cand
  JOIN e ON e.vec_id = cand.vec_id
  JOIN e pe ON pe.vec_id = cand.probe_id
)
SELECT probe_id, rank, vec_id, cosine
FROM (
  SELECT probe_id, vec_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, vec_id ASC)::INT AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""


# --- IVF with LEARNED coarse centroids ------------------------------------
# sim_ivf_topk above probes the table's given ``label`` column; a real IVF
# trains its own coarse quantizer. This variant runs deterministic seeded
# k-means — init = the embeddings of fixed vec_ids, ITERS unrolled Lloyd
# steps — entirely as DataFrame aggregations (the only driver traffic is
# the K×dim centroid matrix per iteration, which is what a real IVF
# trainer broadcasts anyway). The centroid matrix rides the plan as
# broadcast DATA — a K-row DataFrame joined to every vector, nearest cell
# via min_by over (dist2, cell) — never as per-centroid literal
# expressions, so the plan stays O(1) in K and the quantizer
# parameterizes up to production K ≈ 10³-10⁴ (plan-size pinned at K=64 in
# tests/test_plans.py::test_ivf_kmeans_plan_bounded_at_large_k).
# Cross-engine determinism: centroid means and squared distances are
# rounded to 6 decimals on both sides and every argmin tie-breaks on cell
# id, so DuckDB can replay the identical training run declaratively
# (unrolled CTE chain, sql_sim_ivf_kmeans_topk). Empty cells keep their
# previous centroid on both sides.

KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_INIT_IDS = tuple(range(N_PROBES, N_PROBES + KMEANS_K))  # 5..12
#: cap on Lloyd-iteration training rows: at 100 TB the coarse quantizer is
#: trained on a bounded deterministic sample (vec_id stride — expressible in
#: the DuckDB replay) and only cell ASSIGNMENT touches the full table. All
#: fixture scales fit under the cap (stride 1), so gate results are
#: unchanged; tests/test_similarity_sampling.py pins the sampled path.
KMEANS_MAX_TRAIN = 65_536
IVF_NPROBE = 2


def _centroid_df(spark: SparkSession, cents: list[list[float]]) -> DataFrame:
    """The K×dim centroid matrix as a (cell, c) DataFrame — broadcast data,
    not plan literals."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, c array<double>",
    )


def _dist2_cc():
    """round(||v - c||², 6) between the vector and centroid columns —
    the same left-to-right fold the literal-centroid formulation used, so
    historical results (and the DuckDB replay) are bit-identical."""
    return F.round(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )


def _assign_cells(emb: DataFrame, cent_df: DataFrame) -> DataFrame:
    """(vec_id, v, cell) with cell = argmin dist² (ties → lowest cell).

    Broadcast nested-loop join of the K-row centroid table against every
    vector (K distance rows per vector — the O(N·K) a flat coarse
    quantizer always pays), then one hash aggregation taking
    ``min_by(cell, (dist2, cell))``. No per-centroid expressions anywhere:
    K scales without touching the plan."""
    d = (
        emb.crossJoin(F.broadcast(cent_df))
        .select("vec_id", "v", "cell", _dist2_cc().alias("dist2"))
    )
    return d.groupBy("vec_id").agg(
        F.min_by("cell", F.struct("dist2", "cell")).alias("cell"),
        F.first("v").alias("v"),
    )


def _train_stride(n: int, max_train: int) -> int:
    """Deterministic sampling stride: smallest s with n/s <= max_train."""
    return max(1, -(-n // max_train))


def _train_kmeans(spark: SparkSession, emb: DataFrame, dim: int,
                  k: int = KMEANS_K,
                  iters: int = KMEANS_ITERS,
                  max_train: int = KMEANS_MAX_TRAIN) -> list[list[float]]:
    init_ids = tuple(range(N_PROBES, N_PROBES + k))
    init_rows = {
        int(r["vec_id"]): list(r["v"])
        for r in emb.filter(F.col("vec_id").isin(*init_ids)).collect()
    }
    cents = [init_rows[i] for i in sorted(init_rows)]
    # Lloyd iterations run over a BOUNDED deterministic sample (vec_id
    # stride, SQL-replayable); assignment of the full table happens once,
    # outside this function. count() is a parquet-stats read, not a scan.
    stride = _train_stride(emb.count(), max_train)
    train = emb if stride == 1 else emb.filter(
        F.col("vec_id") % stride == 0)
    for _ in range(iters):
        assigned = _assign_cells(train, _centroid_df(spark, cents))
        means = (
            assigned.select("cell", F.posexplode("v").alias("d", "val"))
            .groupBy("cell", "d")
            .agg(F.round(F.avg("val"), 6).alias("mv"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(int(r["cell"]), {})[int(r["d"])] = float(r["mv"])
        cents = [
            [by_cell[c][d] for d in range(dim)] if c in by_cell else cents[c]
            for c in range(k)
        ]
    return cents


def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str, dim: int = 64,
                        k: int = KMEANS_K, nprobe: int = IVF_NPROBE,
                        iters: int = KMEANS_ITERS,
                        max_train: int = KMEANS_MAX_TRAIN) -> DataFrame:
    """IVF ANN with learned centroids: train k-means on a bounded sample,
    assign cells over the full table, probe the ``nprobe`` nearest cells
    per probe vector, exact cosine rerank within them.
    ``k``/``nprobe``/``iters``/``max_train`` parameterize the quantizer;
    the gate entry runs the defaults (K=8, stride 1 at fixture scale,
    replayed exactly by sql_sim_ivf_kmeans_topk)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _train_kmeans(spark, emb, dim, k=k, iters=iters,
                          max_train=max_train)
    cent_df = _centroid_df(spark, cents)

    members = _assign_cells(emb, cent_df).select("vec_id", "cell")
    probe_dists = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .crossJoin(F.broadcast(cent_df))
        .select(
            F.col("vec_id").alias("probe_id"), "cell",
            _dist2_cc().alias("dist2"),
        )
    )
    wp = Window.partitionBy("probe_id").orderBy("dist2", "cell")
    probe_cells = (
        probe_dists.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= nprobe)
        .select("probe_id", "cell")
    )
    candidates = (
        members.join(F.broadcast(probe_cells), "cell")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
    )
    rerank = candidates.join(emb, "vec_id").join(
        F.broadcast(
            emb.filter(F.col("vec_id") < N_PROBES).select(
                F.col("vec_id").alias("probe_id"), F.col("v").alias("p")
            )
        ),
        "probe_id",
    )
    cos = _dot(F.col("v"), F.col("p")) / (_norm(F.col("v")) * _norm(F.col("p")))
    scored = rerank.select(
        "probe_id", "vec_id", F.round(cos, COS_ROUND).alias("cosine")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("probe_id", "rank", "vec_id", "cosine")
    )


def sql_sim_ivf_kmeans_topk(dim: int = 64,
                            max_train: int = KMEANS_MAX_TRAIN) -> str:
    """Unrolled-Lloyd DuckDB replay of the identical k-means + IVF query.

    The training sample is replayed with the stride _train_kmeans uses,
    _train_stride(count, max_train), computed from the table's row count
    when the query runs (vec_id % stride = 0); assignment/probe/rerank
    CTEs always run over the full table, like the Spark side."""
    init_ids = ", ".join(str(i) for i in KMEANS_INIT_IDS)
    dist = ("round(list_sum(list_transform(range(1, {n}), "
            "d -> (e.v[d] - c.c[d]) * (e.v[d] - c.c[d]))), 6)"
            ).format(n=dim + 1)
    ctes = [
        f"e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        (f"t AS (SELECT * FROM e WHERE vec_id % (SELECT greatest(1, "
         f"(count(*) + {max_train} - 1) // {max_train}) FROM e) = 0)"),
        ("cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT "
         f"AS cell, v AS c FROM e WHERE vec_id IN ({init_ids}))"),
    ]
    for i in range(1, KMEANS_ITERS + 1):
        prev = f"cent{i - 1}"
        ctes += [
            (f"a{i} AS (SELECT vec_id, v, cell FROM ("
             f"SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
             f"PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn "
             f"FROM t e CROSS JOIN {prev} c) WHERE rn = 1)"),
            (f"m{i} AS (SELECT cell, d, round(avg(val), 6) AS mv FROM ("
             f"SELECT cell, unnest(v) AS val, unnest(range(1, {dim + 1})) "
             f"AS d FROM a{i}) GROUP BY cell, d)"),
            (f"n{i} AS (SELECT cell, list(mv ORDER BY d) AS c FROM m{i} "
             f"GROUP BY cell)"),
            (f"cent{i} AS (SELECT p.cell, coalesce(n.c, p.c) AS c "
             f"FROM {prev} p LEFT JOIN n{i} n ON n.cell = p.cell)"),
        ]
    last = f"cent{KMEANS_ITERS}"
    ctes += [
        (f"members AS (SELECT vec_id, cell FROM ("
         f"SELECT e.vec_id, c.cell, row_number() OVER ("
         f"PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn "
         f"FROM e CROSS JOIN {last} c) WHERE rn = 1)"),
        (f"pcells AS (SELECT probe_id, cell FROM ("
         f"SELECT e.vec_id AS probe_id, c.cell, row_number() OVER ("
         f"PARTITION BY e.vec_id ORDER BY {dist}, c.cell) AS rn "
         f"FROM e CROSS JOIN {last} c WHERE e.vec_id < {N_PROBES}) "
         f"WHERE rn <= {IVF_NPROBE})"),
        ("cand AS (SELECT DISTINCT p.probe_id, m.vec_id "
         "FROM members m JOIN pcells p ON m.cell = p.cell "
         "AND m.vec_id <> p.probe_id)"),
        (f"scored AS (SELECT cand.probe_id, cand.vec_id, "
         f"round(list_dot_product(e.v, pe.v) / "
         f"(sqrt(list_dot_product(e.v, e.v)) * "
         f"sqrt(list_dot_product(pe.v, pe.v))), {COS_ROUND}) AS cosine "
         f"FROM cand JOIN e ON e.vec_id = cand.vec_id "
         f"JOIN e pe ON pe.vec_id = cand.probe_id)"),
    ]
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT probe_id, rank, vec_id, cosine
FROM (
  SELECT probe_id, vec_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, vec_id ASC)::INT AS rank
  FROM scored
)
WHERE rank <= {TOP_K}
"""
    )


def dedup_embedding_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a high threshold, probed
    for the first N probe vectors (near-dup detection flavor)."""
    topk = sim_bruteforce_topk(spark, sf_dir)
    return topk.filter(F.col("rank") == 1).select(
        "probe_id", F.col("vec_id").alias("nearest_id"), "cosine"
    )


SQL_DEDUP_EMBEDDING_NEIGHBORS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
probes AS (SELECT vec_id AS probe_id, v AS p FROM e WHERE vec_id < {N_PROBES}),
scored AS (
  SELECT probe_id, vec_id,
         round(list_dot_product(v, p)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(p, p))),
               {COS_ROUND}) AS cosine
  FROM e CROSS JOIN probes
  WHERE vec_id <> probe_id
)
SELECT probe_id, vec_id AS nearest_id, cosine
FROM (
  SELECT probe_id, vec_id, cosine,
         row_number() OVER (PARTITION BY probe_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
WHERE rank = 1
"""
