"""Thirteenth pipeline wave (round 6): clustering-quality evaluation
— external cluster validity (purity + normalized mutual information
of embedding cells vs true labels) and the near-dup cluster-size
distribution (the shape report a dedup rollout reads before deciding
keep-one-per-cluster policy).

Scale posture: purity/NMI reduce a (cells x labels)-cardinality
contingency table (bounded, not data-scale) built from one narrow
cell-assignment map + one grouped pass; the size distribution rides
the memoized near-dup edge stage and the existing CC operator, then
aggregates cluster-cardinality rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_generator_spark.operators import dedup, similarity
from parquet_generator_spark.operators.util import broadcast_scalars
from parquet_generator_spark.plans.llm_queries import near_dup_edges
from parquet_generator_spark.sources.catalog import load_table

QUERIES: dict = {}
ORACLES: dict = {}

PURITY_CELLS = 8


def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External validity of the embedding-space cells against the
    true labels: purity (fraction of vectors whose cell's majority
    label is theirs) and NMI (mutual information normalized by
    sqrt(H(cell) * H(label)), in bits). Cell = nearest of the
    smallest-id coarse centroids (the oracle-reproducible quantizer
    ann_ivf uses); every statistic reduces the bounded contingency
    table. The total is one collect over the checkpointed table;
    the purity and entropy scalars attach as scalar subqueries."""
    emb = load_table(spark, "embeddings", sf_dir)
    cents = similarity.make_centroids_from_corpus(emb, PURITY_CELLS)
    assign = (similarity.ivf_assign_cells(emb, cents, 1)
              .select("vec_id", "cell"))
    labeled = assign.join(emb.select("vec_id", "label"), "vec_id")
    cnt = (labeled.groupBy("cell", "label")
           .agg(F.count(F.lit(1)).alias("n"))
           .localCheckpoint())  # bounded: cells x labels rows
    per_cell = cnt.groupBy("cell").agg(F.sum("n").alias("nc"))
    per_label = cnt.groupBy("label").agg(F.sum("n").alias("nl"))
    n_total = float(cnt.agg(F.sum("n")).collect()[0][0])
    purity = (cnt.groupBy("cell").agg(F.max("n").alias("mx"))
              .agg((F.sum("mx") / F.lit(n_total)).alias("purity")))
    mi = (cnt.join(F.broadcast(per_cell), "cell")
          .join(F.broadcast(per_label), "label")
          .agg(F.sum((F.col("n") / n_total)
                     * F.log2(F.col("n") * n_total
                              / (F.col("nc") * F.col("nl"))))
               .alias("mi")))
    hc = per_cell.agg(
        (-F.sum((F.col("nc") / n_total)
                * F.log2(F.col("nc") / n_total))).alias("hc"))
    hl = per_label.agg(
        (-F.sum((F.col("nl") / n_total)
                * F.log2(F.col("nl") / n_total))).alias("hl"))
    one = broadcast_scalars(
        broadcast_scalars(broadcast_scalars(purity, mi), hc), hl)
    return one.select(
        F.lit(PURITY_CELLS).alias("n_cells"),
        F.round("purity", 4).alias("purity"),
        F.round(F.col("mi") / F.sqrt(F.col("hc") * F.col("hl")), 4)
        .alias("nmi"))


CLUSTER_PURITY_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
  FROM embeddings),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ce
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT {PURITY_CELLS})),
sims AS (
  SELECT v.vec_id, v.label, cent.cell,
         list_dot_product(v.e, cent.ce)
           / sqrt(list_dot_product(v.e, v.e)) AS sim
  FROM v CROSS JOIN cent),
asg AS (
  SELECT vec_id, label, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY sim DESC, cell ASC) AS pr
    FROM sims) WHERE pr = 1),
cnt AS (SELECT cell, label, count(*) AS n FROM asg GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM cnt),
pc AS (SELECT cell, CAST(sum(n) AS DOUBLE) AS nc FROM cnt GROUP BY 1),
pl AS (SELECT label, CAST(sum(n) AS DOUBLE) AS nl FROM cnt GROUP BY 1),
pur AS (SELECT sum(mx) / min(t.nt) AS purity
        FROM (SELECT cell, max(n) AS mx FROM cnt GROUP BY cell), tot t),
mi AS (SELECT sum((c.n / t.nt)
                  * log2(c.n * t.nt / (pc.nc * pl.nl))) AS mi
       FROM cnt c JOIN pc USING (cell) JOIN pl USING (label), tot t),
hc AS (SELECT -sum((nc / t.nt) * log2(nc / t.nt)) AS hc FROM pc, tot t),
hl AS (SELECT -sum((nl / t.nt) * log2(nl / t.nt)) AS hl FROM pl, tot t)
SELECT {PURITY_CELLS} AS n_cells,
       round(pur.purity, 4) AS purity,
       round(mi.mi / sqrt(hc.hc * hl.hl), 4) AS nmi
FROM pur, mi, hc, hl
"""


def dedup_cluster_size_dist(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Near-dup cluster-size distribution: how many clusters of each
    size the corpus contains and how many documents each size class
    would delete under keep-one-per-cluster — the report that decides
    whether near-dup removal is worth a corpus rewrite. Rides the
    memoized edge stage; singleton docs count as size-1 clusters via
    the total as a plan literal (never joined back to the corpus)."""
    docs = load_table(spark, "documents", sf_dir)
    pairs = near_dup_edges(spark, sf_dir)
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("cluster").agg(F.count(F.lit(1)).alias("size"))
    dist = (sizes.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))
    n_docs = docs.count()  # bounded scalar
    in_clusters = cc.count()
    singletons = spark.createDataFrame(
        [(1, n_docs - in_clusters)], "size long, n_clusters long")
    return (dist.unionByName(singletons)
            .groupBy("size")
            .agg(F.sum("n_clusters").alias("n_clusters"))
            .filter(F.col("n_clusters") > 0)
            .select("size", "n_clusters",
                    ((F.col("size") - 1) * F.col("n_clusters"))
                    .alias("docs_removed"))
            .orderBy("size"))


def _size_dist_oracle() -> str:
    from parquet_generator_spark.plans.llm_queries import (
        JACCARD_THRESHOLD,
    )
    pairs = dedup.jaccard_pairs_duck_sql(
        "documents", "doc_id", "text", JACCARD_THRESHOLD).strip()
    return f"""
WITH RECURSIVE jp AS ({pairs}),
e AS (SELECT id_a AS a, id_b AS b FROM jp
      UNION ALL SELECT id_b, id_a FROM jp),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
lab AS (SELECT a AS id, least(a, min(b)) AS cluster
        FROM reach GROUP BY a),
sizes AS (SELECT cluster, count(*) AS size FROM lab GROUP BY cluster),
dist AS (SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size
         UNION ALL
         SELECT 1, (SELECT count(*) FROM documents)
                   - (SELECT count(*) FROM lab))
SELECT size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       CAST((size - 1) * sum(n_clusters) AS BIGINT) AS docs_removed
FROM dist GROUP BY size
HAVING sum(n_clusters) > 0
ORDER BY size
"""


QUERIES.update({
    "cluster_purity": cluster_purity,
    "dedup_cluster_size_dist": dedup_cluster_size_dist,
})
ORACLES.update({
    "cluster_purity": CLUSTER_PURITY_ORACLE,
    "dedup_cluster_size_dist": _size_dist_oracle(),
})
