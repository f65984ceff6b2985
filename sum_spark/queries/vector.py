"""Vector-kernel queries Q24/Q25 (SURVEY §2.F) over the ``embeddings``
table — the direct analog of the reference's records
(vec_id ↔ id, embedding ↔ data; FIXTURES.md §B).

DuckDB oracles compute the same float32 -> float64 accumulation via
positional UNNEST zipping, so values match at the mandated 4-decimal
rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sum_spark.functions.vector import cosine, dot, jaccard, magnitude, vec_equal, vec_get
from sum_spark.operators.similarity import find_similar
from sum_spark.queries.base import query
from sum_spark.sources.tables import load_table

# Shared oracle scaffold: consecutive (vec_id, vec_id+next) pairs via LEAD,
# exploded positionally (multiple UNNESTs zip in DuckDB).
_PAIRS_CTE = """
    WITH pairs AS (
      SELECT vec_id, embedding AS e1, LEAD(embedding) OVER (ORDER BY vec_id) AS e2
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, unnest(e1) AS x, unnest(e2) AS y
      FROM pairs WHERE e2 IS NOT NULL
    )
"""


@query(
    "q24_vector_kernels",
    oracle=_PAIRS_CTE
    + """
    , sums AS (
      SELECT vec_id,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS d,
             sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
             sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb,
             SUM(CASE WHEN x > 0 AND y > 0 THEN 1.0 ELSE 0.0 END) AS m11,
             SUM(CASE WHEN (x > 0) <> (y > 0) THEN 1.0 ELSE 0.0 END) AS m10
      FROM ex GROUP BY vec_id
    ),
    exr AS (
      SELECT vec_id, unnest(list_slice(e1, 9, 24)) AS x,
             unnest(list_slice(e2, 9, 24)) AS y
      FROM pairs WHERE e2 IS NOT NULL
    ),
    sums_r AS (
      SELECT vec_id,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS d,
             SUM(CASE WHEN x > 0 AND y > 0 THEN 1.0 ELSE 0.0 END) AS m11,
             SUM(CASE WHEN (x > 0) <> (y > 0) THEN 1.0 ELSE 0.0 END) AS m10
      FROM exr GROUP BY vec_id
    ),
    exs AS (
      SELECT vec_id, unnest(list_slice(e1, 1, 16)) AS x,
             unnest(list_slice(e2, 1, 16)) AS y
      FROM pairs WHERE e2 IS NOT NULL
    ),
    sums_s AS (
      SELECT vec_id,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS d,
             sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
             sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
      FROM exs GROUP BY vec_id
    )
    SELECT s.vec_id, ROUND(s.d, 4) AS dp, ROUND(s.na, 4) AS mag_a,
           ROUND(CASE WHEN s.na * s.nb = 0 THEN 0.0
                 ELSE s.d / (s.na * s.nb) END, 4) AS cos_sim,
           ROUND(CASE WHEN s.m11 + s.m10 = 0 THEN 0.0
                 ELSE s.m11 / (s.m11 + s.m10) END, 4) AS jac,
           ROUND(r.d, 4) AS dp_r,
           ROUND(CASE WHEN ss.na * ss.nb = 0 THEN 0.0
                 ELSE ss.d / (ss.na * ss.nb) END, 4) AS cos_sub,
           ROUND(CASE WHEN r.m11 + r.m10 = 0 THEN 0.0
                 ELSE r.m11 / (r.m11 + r.m10) END, 4) AS jac_r,
           p.e1 = p.e2 AS eq,
           ROUND(CAST(p.e1[9] AS DOUBLE), 4) AS g8
    FROM sums s JOIN sums_r r ON r.vec_id = s.vec_id
    JOIN sums_s ss ON ss.vec_id = s.vec_id
    JOIN pairs p ON p.vec_id = s.vec_id
    ORDER BY s.vec_id
    """,
    doc="Full kernel battery over consecutive embedding pairs (consolidated "
    "q24a_vector_kernels + q24b_jaccard): dot / magnitude / cosine "
    "(zero-denominator -> 0.0 rule, /root/reference/node/wrapper/"
    "record.go:96-103) plus binary Jaccard m11/(m11+m10) on the "
    "sign-binarized pair (record.go:129-147), plus the windowed kernels — "
    "DotRange over [8,24) (record.go:78-84), CosineSub over the first 16 "
    "elements (record.go:105-115), JaccardRange over [8,24) "
    "(record.go:149-168), Equal (record.go:68-71), and Get "
    "(record.go:57-60, NULL instead of panic out-of-range) — so every "
    "pair-applicable §2.A kernel is driver-checked. "
    "Sequential-pair semantics run through "
    "plans.scale.range_partitioned_lead — LEAD over a range-partitioned "
    "order with boundary stitching, never the single-task "
    "empty-partitionBy window (plan guarded against Exchange "
    "SinglePartition in tests/test_plans.py).",
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sum_spark.functions.vector import cosine_sub, dot_range, jaccard_range
    from sum_spark.plans.scale import carry_caches, range_partitioned_lead

    emb = load_table(spark, sf_dir, "embeddings")
    binarize = lambda c: F.transform(  # noqa: E731
        F.col(c), lambda x: F.when(x > 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    led = range_partitioned_lead(
        emb.select("vec_id", "embedding"), "vec_id", ["embedding"]
    )
    pairs = led.where(F.col("__lead_embedding").isNotNull()).select(
        "vec_id",
        F.col("embedding").alias("e1"),
        F.col("__lead_embedding").alias("e2"),
    )
    out = pairs.select(
        "vec_id",
        F.round(dot("e1", "e2"), 4).alias("dp"),
        F.round(magnitude("e1"), 4).alias("mag_a"),
        F.round(cosine("e1", "e2"), 4).alias("cos_sim"),
        F.round(jaccard(binarize("e1"), binarize("e2")), 4).alias("jac"),
        F.round(dot_range("e1", "e2", 8, 24), 4).alias("dp_r"),
        F.round(cosine_sub("e1", "e2", 16), 4).alias("cos_sub"),
        F.round(
            jaccard_range(binarize("e1"), binarize("e2"), 8, 24), 4
        ).alias("jac_r"),
        vec_equal("e1", "e2").alias("eq"),
        F.round(vec_get("e1", 8).cast("double"), 4).alias("g8"),
    ).orderBy("vec_id")
    return carry_caches(out, led)


@query(
    "q25_find_similar",
    oracle="""
    WITH probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 1),
    ex AS (
      SELECT e.vec_id, unnest(e.embedding) AS x, unnest(p.pe) AS y
      FROM embeddings e, probe p
      WHERE e.vec_id <> 1
    ),
    sums AS (
      SELECT vec_id,
             SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS d,
             sqrt(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS na,
             sqrt(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) AS nb
      FROM ex GROUP BY vec_id
    ),
    sims AS (
      SELECT vec_id,
             ROUND(CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END, 4) AS sim
      FROM sums
      WHERE CASE WHEN na * nb = 0 THEN 0.0 ELSE d / (na * nb) END >= 0.0
    )
    SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 20
    """,
    doc="The canonical findSimilar oracle (/root/reference/README.md:147-166) "
    "end to end: probe vec_id=1, threshold 0.0, top-20 by cosine. The "
    "broadcast of the probe row ≡ the master's code-patching "
    "(master/ast_raccoon.go:94-148).",
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = find_similar(
        emb, probe_id=1, threshold=0.0, id_col="vec_id", vec_col="embedding"
    )
    # Round *after* thresholding (matching the oracle), then re-rank on the
    # rounded value with vec_id tie-break so the top-20 cut is deterministic.
    return (
        out.select("vec_id", F.round("sim", 4).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(20)
    )
