"""Min-label (hash-min) propagation connected components: the reference
that ``dedup_clusters``' star components are checked against.  It is
implemented independently of the star algorithm and converges in
O(diameter) rounds, so it raises on long chains that the star rounds
collapse."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hashmin_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: every node takes the minimum of
    its label and its neighbours' labels."""
    nbr_min = (
        edges.join(labels.select(F.col("id").alias("dst"),
                                 F.col("label").alias("_dl"))
                   .hint("shuffle_hash"), "dst")
        .groupBy("src").agg(F.min("_dl").alias("_nmin")))
    return (
        labels.join(nbr_min.withColumnRenamed("src", "id")
                    .hint("shuffle_hash"), "id", "left")
        .select("id", F.least("label", F.coalesce("_nmin", "label"))
                .alias("label")))


def dedup_clusters_hashmin(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                           max_iter: int = 30) -> DataFrame:
    """(doc_id, cluster_rep) by min-label propagation; raises past
    ``max_iter`` rounds rather than silently under-merging."""
    edges = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
             .unionByName(pairs.select(F.col(id_b).alias("src"),
                                       F.col(id_a).alias("dst")))
             .distinct().localCheckpoint())
    labels = (edges.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")).localCheckpoint())
    for _ in range(max_iter):
        new_labels = hashmin_round(edges, labels).localCheckpoint()
        changed = (new_labels.alias("n").join(labels.alias("o"), "id")
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("id").alias("doc_id"),
                                 F.col("label").alias("cluster_rep"))
    raise RuntimeError(f"hash-min propagation did not converge in {max_iter} rounds")
