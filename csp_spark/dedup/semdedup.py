"""SemDeDup: semantic deduplication over an embedding column.

Public method (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540):
k-means cluster the embeddings, compare pairs only WITHIN a cluster,
and for every pair whose cosine similarity clears ``eps`` drop one
side. The paper's keep policy retains the item with the LOWEST
cosine similarity to its cluster centroid (the "edge" example);
removal is judged against every other cluster member, not just
surviving ones — both properties are preserved here.

Scale shape (100 TB contract): clustering bounds candidate
generation to sum(|cell|^2) instead of N^2 — n_clusters is the knob
(the paper uses 50k clusters for LAION). Each cell is scored in one
pass of the similarity kernel (csp_spark/similarity/_kernel.py: BLAS
selection, exact JVM re-check of the margin band and of degenerate
vectors). A cell past ``cap`` rides
:func:`csp_spark.dedup.dedup._capped_bucket_pairs` instead, so a
degenerate cell (e.g. an all-zeros embedding family) is star-grouped
through its exact-signature hash instead of exploding quadratically,
with the recall loss logged. Vectors travel only within their cell's
shuffle partition; the centroid table is n_clusters x dim — always
broadcast. KMeans trains on the deterministic md5 identity sample
(see ivf_index), never a full-corpus scan.

``n_clusters=1`` degenerates to exact all-pairs semantic dedup —
the hash-checkable oracle case (every pair is compared, so the
result is centroid-free for ``keep="min_id"`` and must equal the
plain SQL EXISTS formulation regardless of where KMeans sits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import math as _math

from ..similarity._kernel import MARGIN, select, vec_matrix
from ..similarity.ann import cosine, dot, ivf_index, norm
from .dedup import _capped_bucket_pairs


def semdedup(
    embeddings: DataFrame,
    eps: float = 0.95,
    n_clusters: int = 16,
    keep: str = "edge",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cap: int = 20_000,
) -> DataFrame:
    """Mark semantic duplicates: returns one row per input id with
    ``kept`` (1 = survivor, 0 = removed) and the ``cell`` it was
    compared within.

    keep="edge"   — paper policy: within a duplicate pair the member
                    with the LOWER (centroid_sim, id) survives, so
                    cluster-edge examples are retained.
    keep="min_id" — order-free policy: the lower id survives.
                    Deterministic without any centroid, which makes
                    the n_clusters=1 case pure-SQL checkable.

    A row is removed iff ANY same-cell row with a better (lower)
    keep-order is eps-similar to it — matching the paper's
    triangular max-similarity test, where removal does not depend on
    whether the better row itself survives.
    """
    if keep not in ("edge", "min_id"):
        raise ValueError(f"semdedup keep must be 'edge' or 'min_id', got {keep!r}")
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    spark = base.sparkSession
    if n_clusters <= 1:
        cells = base.withColumn("cell", F.lit(0))
        if keep == "edge":
            # single-cell centroid = the exact mean vector, computed
            # distributively (posexplode -> per-dimension avg); the
            # collected centroid is dim doubles — a literal, not data
            mean = (
                base.select(F.posexplode("v").alias("i", "x"))
                .groupBy("i").agg(F.avg("x").alias("m"))
                .orderBy("i").collect()
            )
            cvec = F.array(*[F.lit(float(r["m"])) for r in mean])
            # centroid norm folded driver-side with the JVM fold's own
            # 0.0-seeded left-to-right accumulation — bit-identical to
            # the per-row interpreted norm(cvec) it replaces (r12; the
            # higher-order fold never enters codegen, so re-running it
            # per row was a third of the per-row scoring work)
            cn = _math.sqrt(sum(float(r["m"]) * float(r["m"]) for r in mean))
            cells = cells.withColumn(
                "__csim",
                dot(F.col("v"), cvec) / (norm(F.col("v")) * F.lit(cn)),
            )
    else:
        indexed, centers = ivf_index(
            base, n_cells=n_clusters, id_col="id", vec_col="v", seed=seed
        )
        # per-cell centroid norm computed ONCE here (same sequential
        # fold as the JVM norm() — see the n_clusters<=1 branch)
        cdf = spark.createDataFrame(
            [
                (
                    int(i),
                    [float(x) for x in c],
                    _math.sqrt(sum(float(x) * float(x) for x in c)),
                )
                for i, c in enumerate(centers)
            ],
            "cell int, __cvec array<double>, __cn double",
        )
        cells = indexed.join(F.broadcast(cdf), "cell").withColumn(
            "__csim",
            dot(F.col("v"), F.col("__cvec"))
            / (norm(F.col("v")) * F.col("__cn")),
        ).drop("__cvec", "__cn")
    ord_col = (
        F.struct(F.col("__csim"), F.col("id")) if keep == "edge"
        else F.struct(F.col("id"))
    )
    rows = cells.select(
        "id", "cell", "v",
        # the decision pass replays the __ord struct comparison from its
        # components — carry the csim column itself for edge
        *(["__csim"] if keep == "edge" else []),
        ord_col.alias("__ord"),
        # exact-signature hash for the degenerate-cell star grouping:
        # identical vectors share it, and payload (v, __ord with
        # csim derived from v) is signature-determined within a group
        # as _capped_bucket_pairs requires — except __ord's id field,
        # which only breaks exact ties, where either orientation is a
        # valid dup-pair removal
        F.xxhash64(F.col("v").cast("string")).alias("__sigh"),
    )
    # Removal decisions are one similarity-kernel pass per cell
    # (similarity/_kernel.py): a pair whose rounded BLAS score is at
    # least eps + MARGIN is certainly a duplicate and is decided here;
    # the kernel's other candidates — the margin band around eps and
    # every degenerate pair — get the exact JVM test, so the removed-id
    # SET equals the all-pairs JVM form. Over-cap cells keep the
    # star/salt guard path with the exact filter (bounded pair volume
    # by construction, logged).
    sizes = rows.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    over_rows = sizes.filter(F.col("__n") > cap).collect()
    removed_parts = []
    if over_rows:
        over_df = spark.createDataFrame(
            [(r["cell"],) for r in over_rows], rows.select("cell").schema
        )
        ok_rows = rows.join(F.broadcast(over_df), "cell", "left_anti")
        bad_rows = rows.join(F.broadcast(over_df), "cell", "left_semi")
        pairs_bad = _capped_bucket_pairs(
            bad_rows, ["cell"], cap, "semdedup", payload=("v", "__ord")
        )
        removed_parts.append(
            pairs_bad.filter(cosine(F.col("v_a"), F.col("v_b")) >= F.lit(eps))
            .select(
                F.when(F.col("__ord_a") > F.col("__ord_b"), F.col("id_a"))
                .otherwise(F.col("id_b")).alias("id")
            )
        )
    else:
        ok_rows = rows

    from pyspark.sql.types import ByteType, StructField, StructType

    id_type = rows.schema["id"].dataType
    dec_schema = StructType([
        StructField("__kind", ByteType(), False),
        StructField("__xa", id_type),
        StructField("__xb", id_type),
    ])
    eps_f = float(eps)
    edge_order = keep == "edge"

    def _decide(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["id"].to_numpy()
        # keep-order rank replaying the JVM __ord struct comparison —
        # (__csim, id) for "edge", else id; higher rank == worse == the
        # removed side of a duplicate pair. A pair decided here has two
        # finite vectors of non-zero norm, so its two __csim are finite,
        # or both NULL or both NaN (a zero or NaN centroid makes the
        # whole cell's __csim so); Arrow delivers both as NaN, and
        # mapping NaN to +inf keeps such ties tied, falling through to
        # the id as the struct comparison does.
        key = {"i": ids}
        if edge_order:
            csim = pdf["__csim"].to_numpy(dtype=np.float64)
            key = {"k": np.where(np.isnan(csim), np.inf, csim), "i": ids}
        srt = pd.DataFrame(key).sort_values(
            list(key), kind="stable"
        ).index.to_numpy()
        rank = np.empty(len(ids), dtype=np.int64)
        rank[srt] = np.arange(len(ids))
        V = vec_matrix(pdf["v"], None, "semdedup", "v", null_rows=True)
        rm = np.zeros(len(ids), dtype=bool)
        frames = []
        for i, j, s in select(V, V, lo=eps_f, a_ids=ids, b_ids=ids):
            up = i < j  # each unordered pair once
            i, j, s = i[up], j[up], s[up]
            sure = s >= eps_f + MARGIN  # NaN compares False: never sure
            a, b = i[sure], j[sure]
            rm[np.where(rank[b] > rank[a], b, a)] = True
            frames.append(pd.DataFrame({
                "__kind": np.ones((~sure).sum(), dtype="int8"),
                "__xa": ids[i[~sure]], "__xb": ids[j[~sure]],
            }))
        frames.append(pd.DataFrame({
            "__kind": np.zeros(rm.sum(), dtype="int8"),
            "__xa": ids[rm], "__xb": ids[rm],
        }))
        return pd.concat(frames, ignore_index=True)

    dec_cols = ["cell", "id", "v"] + (["__csim"] if edge_order else [])
    decisions = (
        ok_rows.select(*dec_cols)
        .groupBy("cell")
        .applyInPandas(lambda _, pdf: _decide(pdf), schema=dec_schema)
    )
    # margin-band and degenerate pairs get the exact JVM decision: the
    # all-pairs form's cosine expression and __ord struct comparison
    side = rows.select("id", "v", "__ord")
    recheck = (
        decisions.filter(F.col("__kind") == 1)
        .join(side.select(F.col("id").alias("__xa"),
                          F.col("v").alias("v_a"),
                          F.col("__ord").alias("__ord_a")), "__xa")
        .join(side.select(F.col("id").alias("__xb"),
                          F.col("v").alias("v_b"),
                          F.col("__ord").alias("__ord_b")), "__xb")
        .filter(cosine(F.col("v_a"), F.col("v_b")) >= F.lit(eps))
        .select(
            F.when(F.col("__ord_a") > F.col("__ord_b"), F.col("__xa"))
            .otherwise(F.col("__xb")).alias("id")
        )
    )
    removed_parts.append(
        decisions.filter(F.col("__kind") == 0).select(F.col("__xa").alias("id"))
    )
    removed_parts.append(recheck)
    removed = removed_parts[0]
    for p in removed_parts[1:]:
        removed = removed.unionByName(p)
    removed = removed.distinct()
    return (
        cells.join(removed.withColumn("__rm", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("__rm").isNull(), 1).otherwise(0).cast("int").alias("kept"),
            "cell",
        )
    )
