"""Output checks, run on the cold pass, before the timed region.

Ops whose result is exact on any input are compared with the DuckDB
query of the same name in ``__spark_entry__.oracle_sql()``. The LSH and
BLAS ops have no exact oracle of that kind; they are checked for their
exact-verification property (every reported pair or neighbour is what
exact arithmetic gives) and report a digest of their output, which is a
function of the seed alone.
"""

from __future__ import annotations

import glob
import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


class Mismatch(Exception):
    pass


def duckdb_con(paths):
    import duckdb

    con = duckdb.connect()
    for name, path in paths.items():
        if path.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def same_frame(got: pd.DataFrame, want: pd.DataFrame, what: str):
    """Equal up to row order; floats within 1e-6 absolute (the oracles
    round to 6 decimals, and Spark and DuckDB may round a value on the
    boundary to neighbouring results)."""
    if sorted(got.columns) != sorted(want.columns):
        raise Mismatch(f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        raise Mismatch(f"{what}: {len(got)} rows, oracle has {len(want)}")
    cols = sorted(got.columns)
    exact = [c for c in cols if not pd.api.types.is_float_dtype(want[c])]
    order = exact + [c for c in cols if c not in exact]
    g = got[cols].sort_values(order, kind="stable").reset_index(drop=True)
    w = want[cols].sort_values(order, kind="stable").reset_index(drop=True)
    for c in cols:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        if c in exact:
            bad = ~((a == b) | (pd.isna(a) & pd.isna(b)))
        else:
            a, b = a.astype(float), b.astype(float)
            bad = ~(np.isclose(a, b, rtol=1e-9, atol=1e-6) | (np.isnan(a) & np.isnan(b)))
        if bad.any():
            i = int(np.argmax(bad))
            raise Mismatch(f"{what}: column {c} row {g.iloc[i].to_dict()} vs {w.iloc[i].to_dict()}")


def digest(pdf: pd.DataFrame) -> str:
    rows = pdf[sorted(pdf.columns)].astype(str).agg("|".join, axis=1).sort_values()
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


class Checker:
    """Holds the DuckDB connection and the oracle queries for one run and
    records what each check found (``notes``)."""

    def __init__(self, paths):
        import __spark_entry__

        self.paths = paths
        self.con = duckdb_con(paths)
        self.oracles = __spark_entry__.oracle_sql()
        self.notes = {}

    def oracle(self, name, got):
        same_frame(got, self.con.execute(self.oracles[name]).df(), name)

    def lsh_pairs(self, inp, got):
        exact = self.con.execute(self.oracles["dedup_minhash"]).df()
        want = {(a, b): j for a, b, j in exact.itertuples(index=False)}
        for a, b, j in got[["id_a", "id_b", "jaccard"]].itertuples(index=False):
            if (a, b) not in want or abs(want[(a, b)] - j) > 1e-6:
                raise Mismatch(f"minhash: pair ({a}, {b}) jaccard {j} not exact")
        if got.duplicated(["id_a", "id_b"]).any():
            raise Mismatch("minhash: duplicate pairs")
        self.notes["minhash"] = {
            "digest": digest(got), "pairs": len(got), "exact_pairs": len(want),
        }

    def components(self, inp, got):
        pairs = inp.results["minhash"].select("id_a", "id_b").collect()
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = pd.DataFrame(
            [(n, find(n)) for n in list(parent)], columns=["doc_id", "component_id"]
        )
        same_frame(got, want, "components")

    def dsir(self, inp, got):
        from perfbench.workloads import DSIR_K

        k = int(got["selected"].sum())
        ranked = got.sort_values(["log_w", "doc_id"], ascending=[False, True])
        if k != DSIR_K or ranked["selected"].iloc[:k].sum() != k:
            raise Mismatch(f"dsir: {k} selected, not the {DSIR_K} top-weighted docs")
        self.notes["dsir"] = {"digest": digest(got)}

    def knn(self, inp, got):
        from perfbench.workloads import KNN_K as k

        t = pq.read_table(self.paths["embeddings"]).to_pandas()
        emb = np.stack(t["embedding"].to_numpy()).astype(np.float64)
        ids = t["vec_id"].to_numpy()
        unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        qi = np.flatnonzero(ids % 25 == 0)
        sims = unit[qi] @ unit.T
        sims[np.arange(len(qi)), qi] = -np.inf  # a query is not its own neighbour
        top = -np.sort(-sims, axis=1)[:, :k]
        pos = {v: i for i, v in enumerate(ids)}
        qrow = {ids[q]: r for r, q in enumerate(qi)}
        if len(got) != len(qi) * k:
            raise Mismatch(f"knn: {len(got)} rows for {len(qi)} queries")
        for q, grp in got.groupby("qid"):
            r = qrow[q]
            exact = sims[r, [pos[c] for c in grp["cid"]]]
            if not np.allclose(grp["cos_sim"], exact, atol=1e-6, rtol=0):
                raise Mismatch(f"knn: query {q} scores are not the exact cosines")
            if not np.allclose(np.sort(exact)[::-1], top[r], atol=1e-6, rtol=0):
                raise Mismatch(f"knn: query {q} neighbours are not the exact top {k}")
        self.notes["knn_blas"] = {"digest": digest(got)}

    def shards(self, inp, got):
        from perfbench.workloads import shards_path

        files = sorted(glob.glob(os.path.join(shards_path(inp), "*.parquet")))
        parts = [pq.read_table(f).to_pandas() for f in files]
        parts = [p for p in parts if len(p)]
        for p in parts:
            if not p["begin_seq"].is_monotonic_increasing:
                raise Mismatch("shards: a shard is not sorted by begin_seq")
        spans = sorted((p["begin_seq"].min(), p["begin_seq"].max()) for p in parts)
        if any(a[1] > b[0] for a, b in zip(spans, spans[1:])):
            raise Mismatch("shards: shard key ranges overlap")
        written = pd.concat(parts, ignore_index=True)
        same_frame(written, got, "shards")
        self.oracle("doc_pack", written.drop(columns="text"))

    def ema_stream(self, inp, got):
        """The streamed per-tick EMA equals the batch recursion over the
        same ticks in (ts, event_id) order, key by key."""
        from perfbench.workloads import EMA_ALPHA

        ticks = pq.read_table(self.paths["landing"]).to_pandas()
        got = pq.read_table(inp.results["stream_out"]).to_pandas()
        rows = []
        for key, g in ticks.sort_values(["ts", "event_id"]).groupby("user_id"):
            e = None
            for ts, seq, v in zip(g["ts"], g["event_id"], g["value"]):
                e = v if e is None else (1.0 - EMA_ALPHA) * e + EMA_ALPHA * v
                rows.append((str(key), ts, seq, e))
        want = pd.DataFrame(rows, columns=["key", "ts", "seq", "value"])
        for df in (got, want):
            df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
        same_frame(got[["key", "ts", "seq", "value"]], want, "ema_stream")
