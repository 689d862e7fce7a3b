"""IVF coarse-quantizer training: distributed Lloyd iterations.

The ANN scale path (SURVEY.md §2.5 kNN row; queries ``ivf_centroids`` /
``ivf_search``) needs a coarse quantizer. The label-mean build is the
supervised stand-in; this module trains one unsupervised — classic k-means
as a driver loop over DataFrame ops, the same iterative-algorithm shape as
the connected-components canonicalizer:

* deterministic init: the ``k`` lowest-id vectors seed the centroids
  (reproducible across runs and partitionings — no sampling);
* assignment: centroids live in one packed ``n_cells × dim`` broadcast
  array table; squared distance is an index-order ``zip_with`` fold — the
  corpus never explodes per-dimension (corpus × k rows max);
* update: new centroid = mean of assigned vectors via one hash
  aggregation per dimension-packed array (``posexplode`` only over the
  ASSIGNED pairs, never corpus × k);
* each iteration ends in an eager ``checkpoints.truncate`` (strategy-switchable: localCheckpoint or
    reliable file checkpoint — see search_spark/checkpoints.py) of the (tiny)
  centroid table — lineage stays flat however many iterations run;
* stop when assignments stop changing (count of moved vectors = 0) or
  ``max_iterations`` is reached.

Empty cells keep their previous centroid (the standard Lloyd fallback),
so ``k`` never silently shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_spark.checkpoints import chain as _ckpt
from search_spark.session import local_df


def _assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, cell, dist) — nearest centroid per vector (ties: lowest cell)."""
    dist = F.aggregate(
        F.zip_with("v_arr", "c_arr", lambda v, c: (v - c) * (v - c)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = vecs.join(F.broadcast(centroids), on="k").select(
        "id", "cell", dist.alias("dist")
    )
    best = scored.groupBy("id").agg(
        F.min(F.struct("dist", "cell")).alias("b")
    )
    return best.select(
        "id", F.col("b.cell").alias("cell"), F.col("b.dist").alias("dist")
    )


def train_ivf(
    embeddings: DataFrame,
    n_cells: int,
    max_iterations: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, dict]:
    """Train an IVF coarse quantizer with Lloyd iterations.

    Returns ``(centroids, assignments, info)``: ``centroids(cell, c_arr)``,
    ``assignments(id, cell, dist)``, and an info dict with per-iteration
    moved-vector counts and inertia (sum of squared distances).
    """
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(emb_col), lambda x: x.cast("double")).alias(
            "v_arr"
        ),
        F.lit(1).alias("k"),
    ).transform(_ckpt(eager=True))

    seeds = vecs.orderBy("id").limit(n_cells).collect()
    if len(seeds) < n_cells:
        raise ValueError(f"need ≥ {n_cells} vectors, got {len(seeds)}")
    centroids = local_df(
        spark,
        [(i, list(r["v_arr"]), 1) for i, r in enumerate(seeds)],
        "cell bigint, c_arr array<double>, k bigint",
    ).transform(_ckpt(eager=True))

    prev_assign: DataFrame | None = None
    info: dict = {"moved": [], "inertia": []}
    assign = _assign(vecs, centroids)
    for _ in range(max_iterations):
        assign = assign.transform(_ckpt(eager=True))
        agg = assign.select("id", "cell").join(vecs, on="id").select(
            "cell", F.posexplode("v_arr").alias("dim_i", "v")
        ).groupBy("cell", "dim_i").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
        ).groupBy("cell").agg(
            F.array_sort(
                F.collect_list(F.struct("dim_i", (F.col("s") / F.col("n"))
                                        .alias("m")))
            ).alias("packed")
        ).select(
            "cell",
            F.transform("packed", lambda x: x["m"]).alias("c_arr"),
            F.lit(1).alias("k"),
        )
        # empty cells keep their previous centroid
        centroids = (
            centroids.select("cell", F.col("c_arr").alias("old"), "k")
            .join(agg.select("cell", "c_arr"), on="cell", how="left")
            .select(
                "cell", F.coalesce("c_arr", "old").alias("c_arr"), "k"
            )
            .transform(_ckpt(eager=True))
        )
        new_assign = _assign(vecs, centroids)
        moved = (
            new_assign.select("id", "cell")
            .exceptAll(assign.select("id", "cell"))
            .count()
        )
        inertia = new_assign.agg(F.sum("dist")).collect()[0][0]
        info["moved"].append(moved)
        info["inertia"].append(float(inertia))
        prev_assign = assign
        assign = new_assign
        if moved == 0:
            break
    del prev_assign
    return centroids.select("cell", "c_arr"), assign, info


def train_pq(
    embeddings: DataFrame,
    n_subspaces: int,
    n_codes: int,
    max_iterations: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, dict]:
    """Train an unsupervised product quantizer (Jégou et al. 2011):
    split each vector into ``n_subspaces`` contiguous sub-vectors and
    run the :func:`train_ivf` Lloyd loop independently per subspace
    (``n_codes`` centroids each) — the standard PQ training recipe,
    inheriting the trainer's determinism (lowest-id seeding, packed
    broadcast codebooks, checkpointed iterations).

    Returns ``(codebooks, codes, info)``: ``codebooks(subspace, cell,
    c_arr)``, ``codes(id, subspace, cell, dist)`` (``dist`` = squared
    quantization error of that subspace), and per-subspace trainer info.
    The M trainings are independent jobs over corpus-×-1 sub-vector
    tables — at scale they run sequentially against the same cached
    scan, never corpus × M blowup within a job.
    """
    dim = len(
        embeddings.select(emb_col).first()[0]
    )
    if dim % n_subspaces != 0:
        raise ValueError(
            f"dim {dim} not divisible into {n_subspaces} subspaces"
        )
    sub_dim = dim // n_subspaces
    codebooks = None
    codes = None
    info: dict = {}
    for s in range(n_subspaces):
        sub = embeddings.select(
            F.col(id_col),
            F.slice(
                F.transform(F.col(emb_col), lambda x: x.cast("double")),
                s * sub_dim + 1,
                sub_dim,
            ).alias("sub_vec"),
        )
        cents, assign, inf = train_ivf(
            sub,
            n_cells=n_codes,
            max_iterations=max_iterations,
            id_col=id_col,
            emb_col="sub_vec",
        )
        cb = cents.select(F.lit(s).alias("subspace"), "cell", "c_arr")
        cd = assign.select("id", F.lit(s).alias("subspace"), "cell", "dist")
        codebooks = cb if codebooks is None else codebooks.unionByName(cb)
        codes = cd if codes is None else codes.unionByName(cd)
        info[s] = inf
    return codebooks, codes, info
