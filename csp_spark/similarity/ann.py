"""Similarity search over embedding columns (array<float>).

Two tiers:
- brute-force cosine top-k — exact baseline; one scan, JVM-side
  zip_with/aggregate dot products, no shuffle until the final top-k.
- LSH-bucketed ANN (random hyperplanes) — the 100 TB path: b sign-bits
  bucket the corpus; a query probes its own bucket (+ optional
  multi-probe neighbors), so the scan touches ~N/2^b vectors. Planes
  are seeded → deterministic, reproducible across runs and engines.

An IVF variant (k-means coarse quantizer) would use the same shape:
assign → bucket column → partition pruning on bucket. LSH chosen here
because it needs no training pass.

The pairwise operators — knn_join, hard_negatives, cosine_pairs_above
(and csp_spark.dedup.semdedup) — share one filter-and-refine kernel,
:mod:`._kernel`: a numpy/C-BLAS pass selects a margin-guarded superset
of the answer's pairs and only those are re-scored exactly in the JVM,
so returned doubles are bit-identical to the all-pairs expression form.
Its margin proof and its NaN / NULL / zero-norm / ragged /
duplicate-id contract are written there, once.
"""

from __future__ import annotations

import logging
import math
import os
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._kernel import (
    collect_small_side, dot, norm, rescore, select, vec_matrix,
)

logger = logging.getLogger(__name__)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    Single scan + global top-k (orderBy+limit → TakeOrderedAndProject,
    no full sort shuffle)."""
    import math

    q = F.array(*[F.lit(float(v)) for v in query])
    # the query norm is a constant: fold it driver-side (same 0.0-seeded
    # sequential accumulation as norm(), so the double is bit-identical)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        embeddings.select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def infer_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Read the vector dimensionality from ONE row — a deliberate,
    visible driver action. Index builders below require ``dim``
    explicitly so that plan construction never hides a job; call this
    once up front and thread the result (at scale the dim is a known
    property of the embedding model — pass the constant)."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer dim: {vec_col} has no rows")
    return int(row["d"])


def _planes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim))


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id of a vector under the given hyperplanes —
    pure column expressions, evaluated at scan time."""
    bits = []
    for i, p in enumerate(planes):
        lit_p = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(dot(vec, lit_p) >= 0,
                   F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_index(
    embeddings: DataFrame,
    bits: int = 8,
    dim: int | None = None,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Attach the LSH bucket column. At scale, write this out
    partitioned/bucketed by `bucket` so queries prune partitions.

    ``dim`` is required: plan construction runs no hidden driver
    action. Use :func:`infer_dim` once and thread the value."""
    if dim is None:
        raise ValueError(
            "lsh_index requires dim (vector length); call "
            "infer_dim(embeddings) once and pass it through"
        )
    planes = _planes(dim, bits, seed)
    return embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))


def lsh_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors whose bucket is within
    probe_hamming bits of the query's bucket (multi-probe LSH). With a
    bucket-partitioned table this becomes a partition-pruned scan."""
    dim = len(query)
    planes = _planes(dim, bits, seed)
    qv = np.asarray(query, dtype=np.float64)
    qbucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) >= 0:
            qbucket |= 1 << i
    probes = [qbucket]
    if probe_hamming >= 1:
        probes += [qbucket ^ (1 << i) for i in range(bits)]
    indexed = lsh_index(embeddings, bits=bits, dim=dim, vec_col=vec_col, seed=seed)
    q = F.array(*[F.lit(float(v)) for v in query])
    # query norm folded driver-side (cosine(v, q) would re-run the
    # interpreted norm(q) fold on EVERY scanned row — a third of the
    # per-row work for a constant). math.sqrt over the 0.0-seeded
    # left-to-right sum replays norm()'s own accumulation order, so
    # the double — and the output — is bit-identical (NOT
    # np.linalg.norm, whose BLAS nrm2 scales to avoid overflow and can
    # differ in the last ulp).
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        indexed.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _collect_train_matrix(
    train: DataFrame, id_col: str, vec_col: str, op: str,
    known_count: int | None = None,
) -> np.ndarray:
    """Collect a BOUNDED KMeans training sample to the driver as a
    float64 matrix, sorted by id so the init is independent of the
    on-disk layout (collect() order follows partition/file layout).

    The collect is driver-side by design — quantizer quality saturates
    at small sample sizes, so the sample is bounded by contract. An
    unbounded call (huge sample_fraction, train_cap=None on a huge
    corpus) must fail LOUDLY before the collect, not OOM the driver:
    the guard checks the sample size against
    ``CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS`` (rows x dim doubles; read
    at call time; default 64M ≈ 0.5 GB matrix). ``known_count`` is any
    UPPER BOUND on the sample's row count the caller already holds
    (e.g. the corpus count from the train_cap branch) — passing it
    skips the guard's own count() aggregate, so a fit that already
    counted never counts twice."""
    n = train.count() if known_count is None else known_count
    if n:
        dim = infer_dim(train, vec_col)
        max_el = int(os.environ.get(
            "CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS", str(64 * 1024 * 1024)
        ))
        if n * dim > max_el:
            raise ValueError(
                f"{op}: training sample is {n} rows x {dim} dims = "
                f"{n * dim} doubles, past the driver-collect guard "
                f"({max_el}). Lower train_cap/sample_fraction — "
                "quantizer quality saturates long before this — or "
                "raise CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS."
            )
    return np.array(
        [
            list(r[1])
            for r in sorted(
                train.select(id_col, vec_col).collect(), key=lambda r: r[0]
            )
        ],
        dtype=np.float64,
    )


def _sample_bound(n_total: int | None, train_cap: int | None) -> int | None:
    """Upper bound on the md5-sampled training rows for the
    driver-collect guard: the corpus count when no downsampling
    happened, else train_cap plus six binomial standard deviations
    (the sample is ~Binomial(n_total, cap/n_total); P(exceed) < 1e-9).
    Passing the raw corpus count would make the guard reject exactly
    the large corpora the sampling exists for."""
    if n_total is None:
        return None
    if train_cap is None or n_total <= train_cap:
        return n_total
    import math

    return min(n_total, int(train_cap + 6 * math.sqrt(train_cap)) + 10)


def _lloyd_iterate(X: np.ndarray, C: np.ndarray, max_iter: int) -> np.ndarray:
    """Lloyd's iterations from a given init, in-place on ``C``:
    ||x-c||^2 via the matmul form — O(n*k) memory, BLAS speed; an
    empty cluster keeps its old center (deterministic)."""
    x2 = (X ** 2).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d2 = x2 - 2.0 * (X @ C.T) + (C ** 2).sum(axis=1)[None, :]
        a = d2.argmin(axis=1)
        for c in range(len(C)):
            pts = X[a == c]
            if len(pts):
                C[c] = pts.mean(axis=0)
    return C


def ivf_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    train_cap: int | None = 100_000,
):
    """IVF coarse quantizer: KMeans (kmeans++ init + Lloyd's, driver-side
    numpy over the bounded sample) assigns every vector a cell id.
    At scale, train on a sample and write the indexed table partitioned
    by `cell` so queries prune partitions — the classic IVF-flat layout.

    Training never scans the full corpus by default: `train_cap` bounds
    the KMeans input to ~train_cap rows drawn by the DETERMINISTIC md5
    identity sample (pipeline/sampling.split_uniform) — uniform over the
    whole corpus regardless of file order. (A bare limit() would take
    the first partitions, i.e. whatever files sort first — a time- or
    source-skewed training set at 100 TB that degrades cell balance and
    recall.) The one count() it needs is a parquet-footer-cheap
    aggregate, and it is REUSED as the driver-collect guard's bound —
    the train_cap path never counts twice. `sample_fraction` samples
    directly (its guard count is the sample's, inside
    :func:`_collect_train_matrix`); pass both None to train on
    everything. Quantizer quality saturates
    long before 100k vectors; assignment still covers every row.

    The fit itself is the pq_index discipline (r9, replacing an MLlib
    KMeans fit measured at 5.3 s cold / 2.5 s warm at sf0.1): the
    sample is bounded by contract, so it collects once — sorted by id
    to decouple the init from the on-disk layout — and Lloyd's runs on
    the driver in numpy in well under a second. Assignment rides
    :func:`ivf_assign` (one Arrow matmul per batch against the frozen
    centers, zero shuffle), so index build and incremental append are
    the SAME code path and agree bit-for-bit by construction.
    Returns (indexed DataFrame with `cell`, centers ndarray
    [n_cells, dim]). When the training sample holds fewer DISTINCT
    vectors than n_cells (a dedup-heavy corpus), centers is TRUNCATED
    to that distinct count (with a warning) rather than padded with
    duplicate dead cells — consumers sizing sidecars or n_probe clamps
    must read centers.shape[0], not assume n_cells."""
    from ..pipeline.sampling import split_uniform

    if n_cells < 1:
        raise ValueError(f"ivf_index: n_cells must be >= 1, got {n_cells}")
    feat = embeddings
    n_total = None
    if sample_fraction is not None:
        train = feat.filter(
            split_uniform(F.col(id_col), seed) < F.lit(sample_fraction)
        )
    elif train_cap is not None:
        n_total = feat.count()
        if n_total > train_cap:
            # ~train_cap expected rows (binomial, ±sqrt(cap)); no
            # residual limit() — that would re-introduce first-partition
            # bias on the tail of the sample
            frac = min(1.0, train_cap / n_total)
            train = feat.filter(
                split_uniform(F.col(id_col), seed) < F.lit(frac)
            )
        else:
            train = feat
    else:
        train = feat
    X = _collect_train_matrix(
        train, id_col, vec_col, "ivf_index",
        known_count=_sample_bound(n_total, train_cap),
    )
    if len(X) < n_cells:
        raise ValueError(
            f"ivf_index: training sample ({len(X)}) smaller than "
            f"n_cells ({n_cells})"
        )
    rng = np.random.RandomState(seed)
    x2 = (X ** 2).sum(axis=1)
    # kmeans++ init (Arthur & Vassilvitskii, SODA'07 — the init MLlib's
    # kmeans|| approximates): D²-weighted seeding keeps quantizer
    # quality at MLlib levels on small training samples, where a plain
    # uniform draw measurably degrades probe recall
    i0 = rng.randint(len(X))
    centers = [X[i0]]
    d2min = x2 - 2.0 * (X @ centers[0]) + (centers[0] ** 2).sum()
    # The matmul form leaves a ~1e-16 residual at the picked point
    # itself; pin it to exactly 0 so rng.choice can never re-select an
    # already-chosen center (a duplicate that Lloyd's empty-cluster
    # rule would then preserve forever — a dead cell).
    d2min[i0] = 0.0
    while len(centers) < n_cells:
        p = np.maximum(d2min, 0.0)
        tot = p.sum()
        if tot <= 0:
            # fewer DISTINCT vectors than n_cells (a dedup-heavy
            # sample): stop instead of seeding duplicate centers that
            # would stay empty forever and waste probe budget
            logger.warning(
                "ivf_index: sample has only %d distinct vector(s); "
                "quantizer truncated from n_cells=%d",
                len(centers), n_cells,
            )
            break
        i = rng.choice(len(X), p=p / tot)
        centers.append(X[i])
        d2min = np.minimum(
            d2min, x2 - 2.0 * (X @ centers[-1]) + (centers[-1] ** 2).sum()
        )
        d2min[i] = 0.0
    C = _lloyd_iterate(X, np.array(centers, dtype=np.float64), max_iter)
    indexed = ivf_assign(feat, C, vec_col=vec_col, out_col="cell")
    return indexed, C


def ivf_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via IVF: score only vectors in the n_probe cells whose
    centroids are nearest the query (centroid ranking is a driver-side
    numpy op over n_cells×dim — tiny). With a cell-partitioned table the
    filter becomes partition pruning; the scan touches ~n_probe/n_cells
    of the corpus."""
    import numpy as np

    indexed, centers = ivf_index(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed
    )
    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((centers - q) ** 2).sum(axis=1))
    probes = [int(c) for c in order[:n_probe]]
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # constant query norm folded driver-side — bit-identical to the
    # per-row interpreted norm(qlit) fold (see lsh_topk)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        indexed.filter(F.col("cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), qlit)
                / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_assign(
    embeddings: DataFrame,
    centers,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign vectors to an EXISTING coarse quantizer — the
    incremental-index path: daily increments of a 100 TB corpus are
    assigned against the frozen centroids (no re-train, no KMeans
    fit-job) and appended to the partitioned index, e.g.
    ``ivf_assign(new_batch, centers).write.mode("append")
    .partitionBy("cell").parquet(path)`` — the layout
    :func:`save_index` created and :func:`ivf_topk_indexed` prunes.

    One Arrow-batched matmul per batch (the same encode discipline as
    :func:`pq_index`): nearest centroid via the ``‖s‖²``-free form
    ``argmin_c(‖c‖² − 2·s·c)`` computed as ``cn² − 2·V@Cᵀ`` — the
    centers (n_cells×dim, tiny) travel in the closure, the corpus
    never shuffles, and the per-row cost is one BLAS row of a
    [batch, n_cells] matmul. (A pure-expression form — pq_encode_expr
    with one full-dim codebook — compiles past janino's 64 KB method
    cap only for small n_cells·dim; the matmul has no such cliff and
    matches it bit-for-bit on the argmin.)"""
    from pyspark.sql.types import IntegerType, StructField, StructType

    if out_col in embeddings.columns:
        raise ValueError(
            f"ivf_assign: input already has a column {out_col!r} — "
            "drop it (e.g. load_index(...)[0].drop('cell')) before "
            "re-assigning, or pass a different out_col"
        )
    C = np.asarray(centers, dtype=np.float64)
    cn2 = (C ** 2).sum(axis=1)
    cols = list(embeddings.columns)
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField(out_col, IntegerType())]
    )

    dim = C.shape[1]

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                # a 0-row batch would make np.array a 1-D (0,) array
                # and the matmul raise on shape mismatch
                yield pdf.assign(
                    **{out_col: np.empty(0, dtype=np.int32)}
                )
                continue
            V = vec_matrix(pdf[vec_col], dim, "ivf_assign", vec_col)
            d2 = cn2[None, :] - 2.0 * (V @ C.T)
            pdf = pdf.copy()
            pdf[out_col] = d2.argmin(axis=1).astype(np.int32)
            yield pdf

    return embeddings.select(*cols).mapInPandas(_assign, schema=out_schema)


def hard_negatives(
    embeddings: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    exclude_eps: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cap: int = 20_000,
    on_over_cap: str = "raise",
    cell_assignment: DataFrame | None = None,
) -> DataFrame:
    """Per-anchor hard-negative mining for contrastive/embedding
    training: for every vector, the ``k`` most-cosine-similar OTHER
    vectors in its cell — the informative negatives (Robinson et al.
    2021, arXiv:2010.04592) — optionally excluding pairs at or above
    ``exclude_eps`` (semantic near-duplicates are false negatives;
    feed those to :func:`csp_spark.dedup.semdedup` instead).

    Scale shape: candidates are CELL-BOUNDED (the SemDeDup
    discipline — sum |cell|² not N², KMeans on the md5 identity
    sample), then one rank window partitioned by anchor. Ranking is
    on the 6dp-ROUNDED similarity with neg-id tiebreak, so an
    external engine replays the exact boundary (the doc_dsir
    discipline). ``n_clusters=1`` degenerates to the exact all-pairs
    top-k — the SQL-checkable oracle case.

    A cell past ``cap`` rows makes the in-cell self-join that cell's
    |cell|² bottleneck. Dedup's star-reroute is WRONG here — it
    preserves connectivity, not per-anchor top-k — so over-cap cells
    follow ``on_over_cap``: ``"raise"`` (default) fails with guidance
    (raise ``n_clusters`` so cells shrink, or raise ``cap``);
    ``"sample"`` scores every anchor against a deterministic
    md5-sampled ~``cap``-row candidate subset of its cell — per-anchor
    top-k OF THE SAMPLE, an unbiased approximation that keeps every
    anchor served (under-cap cells stay exact).

    ``cell_assignment`` — an (id_col, cell) frame, e.g. the table
    :func:`save_index` persisted or :func:`ivf_assign` extended —
    skips the internal KMeans entirely: mine negatives against a
    FROZEN index (the incremental pipeline's shape, and the
    replayable-oracle shape: the assignment is data another engine
    can read). ``n_clusters`` is ignored when given.

    Returns (anchor, negative, cos_sim, rank), rank 1-based."""
    from pyspark.sql import Window

    from ..pipeline.sampling import split_uniform

    if on_over_cap not in ("raise", "sample"):
        raise ValueError("on_over_cap must be 'raise' or 'sample'")
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if cell_assignment is not None:
        # LEFT join + in-expression raise (the demultiplex pattern):
        # an anchor missing from the frozen assignment must fail
        # loudly, not silently mine zero negatives — new vectors go
        # through ivf_assign first.
        cells = base.join(
            cell_assignment.select(
                F.col(id_col).alias("id"), F.col("cell").cast("int")
            ),
            "id", "left",
        ).withColumn(
            "cell",
            F.when(
                F.col("cell").isNull(),
                F.raise_error(F.concat(
                    F.lit("hard_negatives: id "),
                    F.col("id").cast("string"),
                    F.lit(" has no row in cell_assignment — assign new "
                          "vectors with ivf_assign first, or filter "
                          "them out of the anchor set"),
                )).cast("int"),
            ).otherwise(F.col("cell")),
        )
    elif n_clusters <= 1:
        # the exact-all-pairs contract of this mode must never be
        # capped: raise the cap to the corpus size (one cheap count —
        # this is the oracle/small-corpus form)
        cap = max(cap, base.count())
        cells = base.withColumn("cell", F.lit(0))
    else:
        cells, _ = ivf_index(
            base, n_cells=n_clusters, id_col="id", vec_col="v", seed=seed
        )
    # per-row norm ONCE below the re-score join: the exact score reads
    # each side's norm from a column instead of refolding it per pair
    celln = cells.withColumn("__vn", norm(F.col("v")))
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    over = sizes.filter(F.col("__n") > cap).collect()
    if over and on_over_cap == "raise":
        worst = max(r["__n"] for r in over)
        raise RuntimeError(
            f"hard_negatives: {len(over)} cell(s) exceed cap={cap} "
            f"(largest={worst}) — the in-cell candidate scoring would "
            "be that cell's |cell|^2. Raise n_clusters (smaller "
            "cells), raise cap, or pass on_over_cap='sample' to rank "
            "each anchor against a deterministic md5 sample of its "
            "cell."
        )
    if over:
        logger.warning(
            "hard_negatives: %d cell(s) over cap=%d (largest=%d) — "
            "anchors there rank against an md5-sampled ~cap-row "
            "candidate subset (top-k of the sample)",
            len(over), cap, max(r["__n"] for r in over),
        )

    # The md5 candidate draw for over-cap cells is computed JVM-side
    # (split_uniform at seed+1) and shipped to the selection pass as a
    # boolean column.
    if over:
        over_ids = [r["cell"] for r in over]
        frac_map = F.create_map(*[
            F.lit(x)
            for r in over
            for x in (r["cell"], float(cap) / float(r["__n"]))
        ])
        cand_flag = F.when(
            F.col("cell").isin(over_ids),
            split_uniform(F.col("id"), seed + 1)
            < F.element_at(frac_map, F.col("cell")),
        ).otherwise(F.lit(True))
    else:
        cand_flag = F.lit(True)

    from pyspark.sql.types import IntegerType, StructField, StructType

    id_type = cells.schema["id"].dataType
    pair_schema = StructType([
        StructField("cell", IntegerType()),
        StructField("anchor", id_type), StructField("negative", id_type),
    ])

    def _select_pairs(pdf):
        # the kernel's top-k rule per anchor row over the cell's
        # candidates, below exclude_eps when given; each id pair once
        # (the in-cell join-back restores duplicate-id rows)
        import pandas as pd

        ids = pdf["id"].to_numpy()
        cand = pdf["__cand"].to_numpy(dtype=bool)
        V = vec_matrix(pdf["v"], None, "hard_negatives", "v", null_rows=True)
        i, j, _ = map(np.concatenate, zip(*select(
            V, V[cand], k=int(k), hi=exclude_eps, a_ids=ids,
            b_ids=ids[cand],
        )))
        return pd.DataFrame({
            "cell": pdf["cell"].iloc[0], "anchor": ids[i],
            "negative": ids[cand][j],
        }).drop_duplicates()

    pair_keys = (
        celln.select("cell", "id", "v", cand_flag.alias("__cand"))
        .groupBy("cell")
        .applyInPandas(lambda _, pdf: _select_pairs(pdf),
                       schema=pair_schema)
    )
    va = celln.select(
        "cell", F.col("id").alias("anchor"), F.col("v").alias("__va"),
        F.col("__vn").alias("__na"),
    )
    vb = celln.select(
        "cell", F.col("id").alias("negative"), F.col("v").alias("__vb"),
        F.col("__vn").alias("__nb"),
    )
    directed = (
        pair_keys.join(va, ["cell", "anchor"])
        .join(vb, ["cell", "negative"])
        .select(
            "anchor", "negative",
            rescore(F.col("__va"), F.col("__vb"),
                    F.col("__na"), F.col("__nb")).alias("cos_sim"),
        )
    )
    if exclude_eps is not None:
        directed = directed.filter(
            F.col("cos_sim") < F.lit(float(exclude_eps))
        )
    w = Window.partitionBy("anchor").orderBy(
        F.desc("cos_sim"), F.col("negative")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def save_index(
    indexed: DataFrame,
    path: str,
    partition_col: str = "cell",
    centers=None,
) -> None:
    """Persist an ANN index table PARTITIONED by its bucket/cell column
    — the on-disk form of the 100 TB contract: a probe filter on the
    partition column becomes directory-level partition PRUNING, so a
    query reads ~n_probe/n_cells of the corpus and never opens the
    rest (verify with .explain: PartitionFilters on the scan).
    Centroids (tiny) ride along as one JSON sidecar so queries need no
    re-training."""
    indexed.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    if centers is not None:
        import json
        import os

        import numpy as np

        payload = json.dumps(np.asarray(centers).tolist())
        with open(os.path.join(path, "_centers.json"), "w") as f:
            f.write(payload)


def load_index(spark, path: str):
    """Read back a saved index → (DataFrame, centers ndarray | None).
    The partition column comes from the directory layout, so probe
    filters prune at the file listing."""
    import json
    import os

    import numpy as np

    df = spark.read.parquet(path)
    centers = None
    sidecar = os.path.join(path, "_centers.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            centers = np.asarray(json.load(f))
    return df, centers


def ivf_topk_indexed(
    index_df: DataFrame,
    centers,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a PRE-BUILT (typically disk-partitioned) index:
    no training pass, no assignment — rank centroids driver-side
    (n_cells×dim numpy, tiny), filter to the n_probe nearest cells
    (partition pruning on a saved index), score only those vectors."""
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((np.asarray(centers) - q) ** 2).sum(axis=1))
    probes = [int(c) for c in order[:n_probe]]
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # constant query norm folded driver-side — bit-identical to the
    # per-row interpreted norm(qlit) fold (see lsh_topk)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        index_df.filter(F.col("cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), qlit)
                / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold): bucket by LSH,
    pair only within buckets (plus 1-bit neighbors via multi-bucket
    explode), verify exactly. The standard embedding-dedup sweep.

    Scale shape: the probe explode carries ONLY (id, bucket) — 16
    bytes/row × (bits+1) — never the vector payload; candidate docs (an
    LSH-selected sliver) get their vectors back via a broadcast
    semi-join, so shuffled bytes are independent of bits × vector
    size. Same pattern as minhash_lsh_pairs' Jaccard verification.

    ``dim`` is required (see :func:`infer_dim`) — building the plan
    runs no hidden driver action."""
    if dim is None:
        raise ValueError(
            "embedding_near_dups requires dim (vector length); call "
            "infer_dim(embeddings) once and pass it through"
        )
    planes = _planes(dim, bits, seed)
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucket = lsh_bucket(F.col("v"), planes)
    # explode each id into its own bucket + hamming-1 neighborhood →
    # any pair with bucket distance ≤1 shares at least one probe bucket
    probe_arr = F.array(
        bucket, *[bucket.bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i)) for i in range(bits)]
    )
    exploded = base.select("id", F.explode(probe_arr).alias("bucket"))
    cand = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # The pair list feeds the id-set broadcast AND the verify joins;
    # persist so the bucket self-join isn't recomputed per use. A few
    # MB by construction (pairs, no payload).
    cand = cand.persist()
    cand.count()
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    vecs = base.join(F.broadcast(cand_ids), "id", "left_semi")
    out = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    # Materialize the (small) verified pair set, then release the
    # intermediate cache so repeated calls don't accumulate executor
    # memory; only the result itself stays cached.
    out = out.persist()
    out.count()
    cand.unpersist()
    return out


def cosine_pairs_above(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine pairs: every (id_a < id_b) pair with
    ``round(cosine, 6) >= threshold`` — the brute-force ground-truth
    counterpart to :func:`embedding_near_dups` (which buckets by LSH
    and only verifies within buckets).

    The vector table is collected once and broadcast; a numpy matmul
    per scan partition selects the pairs within the kernel margin of
    ``threshold`` (see :mod:`._kernel`), and only those are re-scored
    with the exact JVM expression and the same ``id_a < id_b``
    comparison, so every row and double equals the all-pairs join.
    The scan side and the re-score side are both built from the
    collected rows, so they see the same data.

    Bounds: the collect is guarded by
    ``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS`` doubles (default 64M ≈
    0.5 GB); past it this raises instead of OOMing the driver — at
    corpus scale use :func:`embedding_near_dups`. Ragged vector
    lengths raise. Duplicate ids keep the join's multiplicity: the
    re-score joins every row of a selected id pair back.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    id_type = base.schema["id"].dataType
    rows = collect_small_side(
        base, "v", "cosine_pairs_above",
        "This is the brute-force exact all-pairs form — at corpus "
        "scale use embedding_near_dups (LSH-bucketed) instead.",
    )
    spark = embeddings.sparkSession
    if not rows:
        return spark.createDataFrame([], StructType([
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos_sim", DoubleType()),
        ]))
    small = spark.createDataFrame(rows, base.schema)
    ids = np.array([r["id"] for r in rows])
    M = vec_matrix([r["v"] for r in rows], None, "cosine_pairs_above",
                   vec_col, null_rows=True)
    bm = spark.sparkContext.broadcast((ids, M))
    thr = float(threshold)
    cand_schema = StructType([
        StructField("id_a", id_type), StructField("id_b", id_type),
    ])

    def _select_pairs(batches):
        import pandas as pd

        bids, bM = bm.value
        for pdf in batches:
            V = vec_matrix(pdf["v"], bM.shape[1], "cosine_pairs_above",
                           vec_col, null_rows=True)
            for i, j, _ in select(V, bM, lo=thr):
                yield pd.DataFrame({"id_a": pdf["id"].to_numpy()[i],
                                    "id_b": bids[j]})

    cand = (
        small.mapInPandas(_select_pairs, schema=cand_schema)
        # one candidate per id PAIR (each unordered pair is seen in both
        # orientations; dup-id multiplicity is reinstated by the
        # row-level join-back below)
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    side = small.withColumn("n", norm(F.col("v")))
    return (
        cand.join(F.broadcast(side.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"),
            F.col("n").alias("na"))), "id_a")
        .join(F.broadcast(side.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"),
            F.col("n").alias("nb"))), "id_b")
        .withColumn("cos_sim", rescore(F.col("va"), F.col("vb"),
                                       F.col("na"), F.col("nb")))
        .filter(F.col("cos_sim") >= F.lit(thr))
        .select("id_a", "id_b", "cos_sim")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    corpus_id: str = "cid",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    method: str = "exact",
) -> DataFrame:
    """Exact k-nearest-neighbors JOIN: for EVERY query row, the top-k
    corpus rows by cosine — the batch shape a training pipeline needs
    (ann retrieval for eval sets, hard-negative mining), vs
    cosine_topk's single literal query. Ranking is on the 6dp-rounded
    cosine, ties broken by corpus id; ``exclude_self`` drops pairs whose
    query and corpus ids are equal.

    100 TB plan: the (small) query side is collected once — guarded by
    ``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS`` doubles, raising past it —
    and broadcast, so scoring is map-side over the corpus scan with
    ZERO shuffle of corpus rows. Never pass a large query side — flip
    the arguments and transpose the result instead.

    Scoring has one path (``method`` accepts ``"exact"`` and
    ``"blas"`` for existing call sites; anything else raises): each
    corpus partition keeps a running pool of the rows that the kernel's
    top-k rule (see :mod:`._kernel`) selects for any query, re-selecting
    the pool with every Arrow batch, and ships only those
    ``<= partitions x |Q| x (k + ties)`` rows, vectors included, to the
    exact JVM re-score and the global per-query window. The returned
    doubles are bit-identical to scoring every pair with the JVM
    expressions, and the same DuckDB oracle replays them.
    """
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType, BooleanType, DoubleType, IntegerType, StructField,
        StructType,
    )

    if method not in ("exact", "blas"):
        raise ValueError(
            f"knn_join method must be 'exact' or 'blas', got {method!r}"
        )
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv")
    )
    qid_type = q.schema["__qid"].dataType
    cid_type = corpus.schema[corpus_id].dataType
    spark = corpus.sparkSession
    qrows = collect_small_side(
        q, "__qv", "knn_join",
        "Pass the larger table as the corpus: flip the arguments and "
        "transpose the result.",
    )
    if not qrows:
        return spark.createDataFrame([], StructType([
            StructField(query_id, qid_type),
            StructField(corpus_id, cid_type),
            StructField("rank", IntegerType(), False),
            StructField("cos_sim", DoubleType()),
        ]))
    qids = np.array([r["__qid"] for r in qrows])
    Q = vec_matrix([r["__qv"] for r in qrows], None, "knn_join",
                   query_vec, null_rows=True)
    bq = spark.sparkContext.broadcast((qids, Q))
    kk = int(k)

    def _select_topk(batches):
        import pandas as pd

        bqids, bQ = bq.value
        pool = ()
        for pdf in batches:
            # the pool so far plus this batch, re-selected as one matrix
            batch = (pdf["__cid"].to_numpy(), pdf["__cv"].to_numpy(),
                     vec_matrix(pdf["__cv"], bQ.shape[1], "knn_join",
                                corpus_vec, null_rows=True))
            cids, cvs, C = (tuple(map(np.concatenate, zip(pool, batch)))
                            if pool else batch)
            i, j, _ = map(np.concatenate, zip(*select(
                bQ, C, k=kk, a_ids=bqids if exclude_self else None,
                b_ids=cids if exclude_self else None,
            )))
            rows = np.unique(j)
            pool = (cids[rows], cvs[rows], C[rows])
            j = np.searchsorted(rows, j)
        if pool and len(i):
            # each (query id, corpus row) once: the re-score join by
            # query id restores every query row sharing that id
            out = pd.DataFrame({"__qid": bqids[i], "__j": j}).drop_duplicates()
            j = out.pop("__j").to_numpy()
            cids, cvs, C = pool
            yield out.assign(__cid=cids[j], __cv=cvs[j],
                             __cnan=np.isnan(C[j]).any(axis=1))

    # Arrow rewrites a NaN element to NULL on the way OUT of pandas, and
    # a NULL element arrives in pandas as NaN; the re-score must see the
    # original vector. A vector with a NULL element scores NULL exactly
    # as a NULL vector does, so it enters as NULL; every NULL element of
    # a carried vector is then a NaN, and __cnan restores it. (SQL text:
    # one JVM call each, where Column lambdas cost a py4j round trip per
    # node at plan build.)
    cand = (
        corpus.select(
            F.col(corpus_id).alias("__cid"),
            F.col(corpus_vec).cast("array<double>").alias("__cv"),
        )
        .select("__cid", F.expr(
            "IF(exists(__cv, x -> x IS NULL), NULL, __cv)").alias("__cv"))
        .mapInPandas(_select_topk, schema=StructType([
            StructField("__qid", qid_type),
            StructField("__cid", cid_type),
            StructField("__cv", ArrayType(DoubleType())),
            StructField("__cnan", BooleanType()),
        ]))
        .withColumn("__cv", F.expr(
            "IF(__cnan, transform(__cv, x -> coalesce(x, double('NaN'))),"
            " __cv)"))
    )
    # the re-score's query table comes from the rows already collected
    # for the broadcast: no second scan of the query side's source
    qn = (
        spark.createDataFrame(qrows, schema=q.schema)
        .select("__qid", F.col("__qv").cast("array<double>").alias("__qv"))
        .withColumn("__qn", norm(F.col("__qv")))
    )
    pruned = (
        cand.withColumn("__cn", norm(F.col("__cv")))
        .join(F.broadcast(qn), "__qid")
        .select(
            "__qid", "__cid",
            rescore(F.col("__cv"), F.col("__qv"),
                    F.col("__cn"), F.col("__qn")).alias("cos_sim"),
        )
    )
    final = Window.partitionBy("__qid").orderBy(F.desc("cos_sim"), F.col("__cid"))
    return (
        pruned.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            "cos_sim",
        )
    )


def pq_index(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    train_cap: int | None = 100_000,
):
    """Product quantization (Jégou/Douze/Schmid, TPAMI'11 — the
    billion-scale ANN compression standard, the "PQ" of FAISS IVF-PQ):
    split the vector into ``m`` contiguous subspaces, learn an
    ``n_codes``-entry KMeans codebook per subspace, and encode every
    vector as ``m`` small integer codes — dim×4 bytes shrink to m bytes
    (e.g. 64-dim float → 4 codes = 16x), so a 100 TB embedding corpus
    scans as a few TB of codes with the original vectors left cold on
    disk.

    Training draws the same DETERMINISTIC md5 identity sample as
    ivf_index (no first-partition bias) and — because the sample is
    bounded by contract (``train_cap``, the train_bpe discipline) —
    collects it once and runs all m Lloyd's KMeans on the driver in
    numpy: one pass over a few-MB matrix replaces m sequential
    distributed fits (measured 17.8s → well under 1s at m=8). The m
    codebooks (m × n_codes × dim/m floats) travel in the encode
    closure, never a shuffle. Encoding IS corpus-sized and runs
    distributed: ONE Arrow pass computes all m argmin codes per
    vector with two small matmuls per batch.

    Returns (encoded DataFrame: original columns + ``codes``
    array<int> of length m, codebooks ndarray [m, n_codes, dim//m]).
    """
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from ..pipeline.sampling import split_uniform

    dim = infer_dim(embeddings, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    feat = embeddings
    train = feat
    n_total = None
    if train_cap is not None:
        n_total = feat.count()
        if n_total > train_cap:
            frac = train_cap / n_total
            train = feat.filter(
                split_uniform(F.col(id_col), seed) < F.lit(frac)
            )
    X = _collect_train_matrix(
        train, id_col, vec_col, "pq_index",
        known_count=_sample_bound(n_total, train_cap),
    )
    if len(X) < n_codes:
        raise ValueError(
            f"training sample ({len(X)}) smaller than n_codes ({n_codes})"
        )

    def lloyd(S: np.ndarray, rng: np.random.RandomState) -> np.ndarray:
        # uniform-choice init (ivf_index uses kmeans++; subspace
        # codebooks are small and restart-cheap), shared iterations
        return _lloyd_iterate(
            S, S[rng.choice(len(S), n_codes, replace=False)].copy(),
            max_iter,
        )

    books = np.stack([
        lloyd(
            X[:, j * dsub:(j + 1) * dsub],
            np.random.RandomState(seed + j),
        )
        for j in range(m)
    ])

    out_schema = StructType(
        list(embeddings.schema.fields)
        + [StructField("codes", ArrayType(IntegerType()))]
    )
    cols = list(embeddings.columns)

    def _encode(batches):
        # flat [m*n_codes, dsub] center matrix: squared distance per
        # subspace via ||s||^2 - 2 s·c + ||c||^2, argmin per block
        flat = books.reshape(m * n_codes, dsub)
        cn2 = (flat ** 2).sum(axis=1)
        for pdf in batches:
            if pdf.empty:  # (0,) array would break the matmul
                yield pdf.assign(codes=np.empty(0, dtype=object))
                continue
            V = vec_matrix(pdf[vec_col], m * dsub, "pq_index", vec_col)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * dsub:(j + 1) * dsub]
                blk = slice(j * n_codes, (j + 1) * n_codes)
                d2 = cn2[blk][None, :] - 2.0 * (S @ flat[blk].T)
                codes[:, j] = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf["codes"] = list(codes)
            yield pdf

    encoded = feat.select(*cols).mapInPandas(_encode, schema=out_schema)
    return encoded, books


def pq_topk(
    encoded: DataFrame,
    codebooks,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over PQ
    codes: the query stays exact; each corpus vector's inner product
    and squared norm are looked up from per-subspace tables computed
    ONCE on the driver (m × n_codes dot products — microseconds) and
    embedded as array literals. Scoring a row is then m integer
    indexes + adds — pure codegen arithmetic over the m-byte codes,
    never touching the original vectors; top-k is
    TakeOrderedAndProject (no sort shuffle).

    cos ≈ Σ_j <q_j, c_j[code_j]>  /  (‖q‖ · sqrt(Σ_j ‖c_j[code_j]‖²))
    — exact when vectors equal their reconstructions (lossless
    codebooks), approximate otherwise; recall is the unit-test
    contract, matching the ivf_topk discipline.

    Output: (id_col, pq_sim) — approximate cosine, 6dp.
    """
    q = np.asarray(query, dtype=np.float64)
    m, n_codes, dsub = codebooks.shape
    ip_lut = np.stack([
        codebooks[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)
    ])  # [m, n_codes] partial inner products
    sq_lut = (codebooks ** 2).sum(axis=2)  # [m, n_codes] partial ||x||^2
    qn = float(np.linalg.norm(q))

    def lut_col(lut_row) -> "list[Column]":
        return [F.lit(float(v)) for v in lut_row]

    ip = None
    sq = None
    for j in range(m):
        code = F.element_at(F.col("codes"), j + 1) + 1
        ip_j = F.element_at(F.array(*lut_col(ip_lut[j])), code)
        sq_j = F.element_at(F.array(*lut_col(sq_lut[j])), code)
        ip = ip_j if ip is None else ip + ip_j
        sq = sq_j if sq is None else sq + sq_j
    sim = ip / (F.lit(qn) * F.sqrt(sq))
    return (
        encoded.select(F.col(id_col), F.round(sim, 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.col(id_col))
        .limit(k)
    )


def hash_codebooks(
    m: int, n_codes: int, dsub: int, seed: int = 42
) -> np.ndarray:
    """Deterministic seeded PQ codebooks — standard-normal centers from
    a fixed RNG stream, NO training pass. Two uses: (a) a random
    quantizer baseline (random codebooks are the classic PQ ablation
    control), and (b) a cross-engine-replayable quantizer — every
    center is a plain float64 the same call regenerates anywhere, so an
    external engine (the DuckDB oracle) can replay encode + ADC
    bit-for-bit, which a data-trained KMeans codebook cannot."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((m, n_codes, dsub))


def pq_encode_expr(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """PQ encode with GIVEN codebooks as pure JVM expressions — zero
    Python in the scan: per subspace j the squared-distance argmin
    over the n_codes centers is an expression array (the ||s||²-free
    form ``cn² - 2·s·c``, same as pq_index's Arrow encode) and the
    code is ``array_position(arr, array_min(arr)) - 1``. All products
    and sums are emitted LEFT-ASSOCIATIVE so an engine replaying the
    same expression text (e.g. a SQL oracle) reproduces every IEEE
    rounding step bit-for-bit.

    Whole-stage-codegen encode is the 100 TB fast path when the
    codebooks are already known (hash_codebooks, or a trained book
    reused across daily increments); pq_index's Arrow pass is for
    training+encode in one shot. Expression size is m × n_codes × dsub
    multiply-adds — keep m·n_codes·dsub ≲ 10⁴ (codegen limit).
    """
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape

    # ONE SQL-text expression parsed in a single JVM call: building the
    # same tree from Column objects costs a py4j round trip per node
    # (~10 s of pure driver time at m·n_codes·dsub = 1024), while the
    # parsed text is milliseconds. The 'D' suffix makes every literal a
    # DOUBLE parsed via Double.parseDouble — bit-identical to the
    # Python float the oracle generator embeds.
    def lit(x) -> str:
        return f"{float(x)!r}D"

    code_texts = []
    for j in range(m):
        d2s = []
        for c in range(n_codes):
            center = books[j, c]
            cn2 = float((center ** 2).sum())
            dot = " + ".join(
                f"CAST(element_at({vec_col}, {j * dsub + i + 1}) AS DOUBLE)"
                f" * {lit(center[i])}"
                for i in range(dsub)
            )
            d2s.append(f"{lit(cn2)} - 2.0D * ({dot})")
        arr = "array(" + ", ".join(d2s) + ")"
        code_texts.append(
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
        )
    expr = "array(" + ", ".join(code_texts) + ")"
    return embeddings.withColumn(out_col, F.expr(expr))


def save_pq_index(encoded: DataFrame, codebooks, path: str) -> None:
    """Persist a PQ index: the (id, codes) table as parquet — m bytes
    of payload per vector, the compressed scan set — with the m
    codebooks in a JSON sidecar (same contract as save_index's
    centroid sidecar). Queries then run pq_topk over the codes table
    WITHOUT the original vectors or a re-encode: the 100 TB shape is
    a scan of ~m bytes/vector plus a driver-side lookup-table build."""
    import json
    import os

    encoded.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "_codebooks.json"), "w") as f:
        f.write(json.dumps(np.asarray(codebooks).tolist()))


def load_pq_index(spark, path: str):
    """Read back a saved PQ index → (codes DataFrame, codebooks
    ndarray [m, n_codes, dsub])."""
    import json
    import os

    df = spark.read.parquet(path)
    with open(os.path.join(path, "_codebooks.json")) as f:
        books = np.asarray(json.load(f))
    return df, books
