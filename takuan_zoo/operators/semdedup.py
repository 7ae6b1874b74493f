"""Semantic deduplication over an embedding column (SemDeDup-style,
SURVEY.md §2.2 north-star family; no reference analog).

Published recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540): cluster
the corpus embeddings, compare pairs only *within* a cluster, and among
semantic duplicates keep the example **least similar to its cluster
centroid** (low-centroid-similarity examples carry the most marginal
information; the prototypical ones are redundant).

Spark-first shape, and why it holds at 100 TB:

- clustering reuses the IVF coarse quantizer
  (:func:`takuan_zoo.operators.similarity.fixed_centroids` — fixed,
  seed-derived, so an external SQL engine re-derives identical cells);
  assignment is one Arrow-batched GEMM, no fitted model, no extra pass;
- within-cell pairing runs through :func:`similarity.cosine_pairs` with
  ``bucket_col="cell"`` — the quadratic work is n_cell^2 per cell
  instead of n^2, executed as dense block-pair GEMMs, and cells score
  independently in parallel (nlist scales with corpus size in prod);
- the keep/drop verdict is a pure projection + aggregate over the pair
  list: no iteration, no driver logic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from takuan_zoo.operators import similarity


def assign_cells_with_centroid_sim(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, cell, c_sim): IVF cell by the exact
    ``ivf_assign_fixed`` rule (argmax of round(dot, 6), first-index
    tiebreak) plus the cosine to the chosen cell's centroid, rounded to
    6 (centroids are unit vectors, so cos = dot / |v|). One Arrow GEMM
    per batch computes both."""
    from pyspark.sql.functions import pandas_udf

    cmat = np.array(centroids, dtype=np.float64)  # nlist x dim

    @pandas_udf("cell int, c_sim double")
    def cell_sim(v: pd.Series) -> pd.DataFrame:
        x = np.stack(v.to_numpy()).astype(np.float64)
        d = x @ cmat.T
        cell = np.argmax(np.round(d, 6), axis=1)
        nrm = np.sqrt(np.einsum("ij,ij->i", x, x))
        c_sim = np.round(d[np.arange(len(cell)), cell] / nrm, 6)
        return pd.DataFrame(
            {"cell": cell.astype("int32"), "c_sim": c_sim}
        )

    s = cell_sim(F.col(vec_col)).alias("_cs")
    return embeddings.select(F.col(id_col), F.col(vec_col), s).select(
        id_col,
        vec_col,
        F.col("_cs.cell").alias("cell"),
        F.col("_cs.c_sim").alias("c_sim"),
    )


def semdedup_victims(
    embeddings: DataFrame,
    *,
    threshold: float,
    nlist: int = 16,
    dim: int = 64,
    seed: int = 777,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_blocks: int = 4,
) -> DataFrame:
    """Rows SemDeDup would DROP: for every same-cell pair with cosine >=
    ``threshold``, the member with the HIGHER centroid similarity (the
    more prototypical one; ties keep the lower id) is a victim.

    Output: (vec_id, cell, c_sim, n_dups) — n_dups = how many duplicate
    pairs named this row the drop, ordered by vec_id. Downstream corpus
    construction is one anti-join of the corpus against this frame.
    """
    from takuan_zoo.operators.skew import snapshot

    cents = similarity.fixed_centroids(dim, nlist=nlist, seed=seed)
    # The assignment frame feeds THREE consumers (the pair generator
    # plus both sides of the victim-metadata join); unmaterialized,
    # Catalyst plants the Arrow GEMM UDF subtree — a full embeddings
    # scan + matmul — once per consumer. One snapshot = one GEMM pass.
    assigned = snapshot(
        assign_cells_with_centroid_sim(
            embeddings, cents, vec_col=vec_col, id_col=id_col
        )
    )
    pairs = similarity.cosine_pairs(
        assigned,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        num_blocks=num_blocks,
        bucket_col="cell",
    )
    meta = assigned.select(id_col, "cell", "c_sim")
    a = meta.select(
        F.col(id_col).alias("id_a"),
        F.col("cell").alias("cell_a"),
        F.col("c_sim").alias("c_sim_a"),
    )
    b = meta.select(
        F.col(id_col).alias("id_b"), F.col("c_sim").alias("c_sim_b")
    )
    drop_a = F.col("c_sim_a") > F.col("c_sim_b")
    victims = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.when(drop_a, F.col("id_a")).otherwise(F.col("id_b")).alias(id_col),
            F.col("cell_a").alias("cell"),
            F.when(drop_a, F.col("c_sim_a"))
            .otherwise(F.col("c_sim_b"))
            .alias("c_sim"),
        )
    )
    return (
        victims.groupBy(id_col, "cell", "c_sim")
        .agg(F.count("*").alias("n_dups"))
        .orderBy(id_col)
    )
