"""The benchmark's workloads, written against csp_spark's public API.

Each op is built fresh on every pass: ``build`` returns the DataFrame the
public function produces (any Spark jobs it runs eagerly happen inside
that call), and the pass then sinks it (``noop`` format, so Catalyst
cannot prune columns, or a real write for the sink op). ``oracle`` names
the ``__spark_entry__.oracle_sql()`` query whose output the op's output
must equal; ops without an exact oracle carry their own ``check``.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import csp_spark as csp
from csp_spark import TickStream
from csp_spark.core.ticks import KEY, SEQ, TS
from csp_spark.operators import baselib as bl
from csp_spark.plans import dynamic_apply
from csp_spark.stats import Rolling, ema

EMA_ALPHA = 0.1


@dataclass
class Op:
    name: str
    layer: str  # the csp_spark module whose public function the op calls
    build: Callable[["Inputs"], DataFrame]
    oracle: str | None = None
    check: str | None = None  # name of a verify.Checker method
    write: Callable | None = None  # (inputs, df) -> None: the op's own sink


class Inputs:
    """The registered inputs of one run plus a scratch directory for
    sinks; ops reach the session and tables through it."""

    def __init__(self, spark, paths, scratch):
        from csp_spark.sources import read_table

        self.spark = spark
        self.paths = paths
        self.scratch = scratch
        os.makedirs(scratch, exist_ok=True)
        self.tables = {
            name: read_table(spark, path)
            for name, path in paths.items()
            if path.endswith(".parquet")
        }
        self.results = {}  # op name -> DataFrame, for ops that chain

    def ticks(self, event_type=None) -> TickStream:
        df = self.tables["events"]
        if event_type is not None:
            df = df.filter(F.col("event_type") == event_type)
        return TickStream.from_table(
            df, ts_col="ts", value_col="value", key_col="user_id", seq_col="event_id"
        )


def _out(x: TickStream, value_name: str) -> DataFrame:
    return x.df.select(
        F.col(SEQ).alias("event_id"),
        F.col(KEY).cast("long").alias("user_id"),
        F.col(x.value_col).alias(value_name),
    )


# ---------------------------------------------------------------- tick_replay


def sample_asof(inp):
    return _out(bl.sample(inp.ticks("click"), inp.ticks("view")), "last_view_value")


def rolling_tick(inp):
    r = Rolling(inp.ticks(), interval=5, min_window=5)
    out = r.agg(
        roll_sum=F.round(r.sum_col(), 6),
        roll_mean=F.round(r.mean_col(), 6),
        roll_min=r.min_col(),
        roll_max=r.max_col(),
    )
    return out.select(
        F.col(SEQ).alias("event_id"), F.col(KEY).cast("long").alias("user_id"),
        "roll_sum", "roll_mean", "roll_min", "roll_max",
    )


def ema_last(inp):
    e = ema(inp.ticks(), alpha=0.1, adjust=False, ignore_na=True)
    w = Window.partitionBy(KEY).orderBy(F.desc(TS), F.desc(SEQ))
    return (
        e.df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(KEY).cast("long").alias("user_id"),
            F.round(F.col("value"), 6).alias("ema_last"),
        )
    )


@csp.node
def _spread_ema(bid: csp.ts[float], ask: csp.ts[float]) -> csp.ts[float]:
    with csp.state():
        s_ema = 0.0
        s_n = 0

    if csp.ticked(bid, ask) and csp.valid(bid, ask):
        sp = ask - bid
        s_n += 1
        s_ema = sp if s_n == 1 else 0.9 * s_ema + 0.1 * sp
        return s_ema


def node_spread_ema(inp):
    out = _spread_ema(inp.ticks("click"), inp.ticks("view"))
    return out.df.select(
        F.col(KEY).cast("long").alias("user_id"),
        F.col(SEQ).alias("event_id"),
        F.col(out.value_col).alias("ema"),
    )


def _cummax(pdf):
    pdf = pdf.copy()
    pdf["value"] = pdf["value"].cummax()
    return pdf


def dynamic_cummax(inp):
    out = dynamic_apply(
        inp.ticks(), _cummax, f"{KEY} string, {TS} timestamp, {SEQ} long, value double"
    )
    return _out(out, "run_max")


EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


def stream_ema(inp):
    """csp's realtime mode over the landing files: one file per
    micro-batch, EMA state carried in the state store."""
    from csp_spark.streaming import ema_stream, file_ticks

    ticks = file_ticks(
        inp.spark, inp.paths["landing"], EVENTS_SCHEMA, ts_col="ts", value_col="value",
        key_col="user_id", seq_col="event_id", max_files_per_trigger=1,
    )
    return ema_stream(ticks, EMA_ALPHA)


def stream_write(inp, df):
    """Run the query until the landing files are consumed; each batch
    starts when the previous one has committed (a closed loop)."""
    out = os.path.join(inp.scratch, f"stream-{uuid.uuid4().hex}")
    q = (
        df.writeStream.format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    inp.results["stream"] = (str(q.runId), [p.json for p in q.recentProgress])
    inp.results["stream_out"] = os.path.join(out, "data")


TICK_REPLAY = [
    Op("sample_asof", "core.align", sample_asof, oracle="op_sample_asof"),
    Op("rolling_tick", "stats.rolling", rolling_tick, oracle="stats_rolling_tick"),
    Op("ema_last", "stats.ema", ema_last, oracle="stats_ema"),
    Op("node_spread_ema", "core.noderun", node_spread_ema, oracle="op_node_ast"),
    Op("dynamic_cummax", "plans.runtime", dynamic_cummax, oracle="dyn_cummax"),
    Op("stream_ema", "streaming", stream_ema, write=stream_write, check="ema_stream"),
]


# ----------------------------------------------------------------- doc_curate

LSH = dict(shingle_k=5, use_words=True, threshold=0.5, num_hashes=48, bands=12)
KNN_K = 5
DSIR_K = 120


def gopher(inp):
    from csp_spark.text import gopher_rules

    return gopher_rules(inp.tables["documents"])


def minhash(inp):
    from csp_spark.dedup import minhash_lsh_pairs

    inp.results["minhash"] = minhash_lsh_pairs(inp.tables["documents"], **LSH)
    return inp.results["minhash"]


def components(inp):
    from csp_spark.dedup import connected_components

    comp = connected_components(inp.results["minhash"])
    return comp.select(F.col("id").alias("doc_id"), F.col("component").alias("component_id"))


def dsir(inp):
    from csp_spark.pipeline import dsir_select

    docs = inp.tables["documents"]
    tgt = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    return dsir_select(docs, tgt, k=DSIR_K, n_buckets=1 << 12)


def knn(inp):
    from csp_spark.similarity import knn_join

    emb = inp.tables["embeddings"]
    out = knn_join(
        emb.filter(F.col("vec_id") % 25 == 0).select(F.col("vec_id").alias("qid"), "embedding"),
        emb.select(F.col("vec_id").alias("cid"), "embedding"),
        k=KNN_K, query_id="qid", corpus_id="cid", method="blas",
    )
    return out.select("qid", "cid", F.col("rank").cast("long").alias("rank"), "cos_sim")


def shards_input(inp):
    """The training table: concat-and-cut packing placements joined back
    to the text (pipeline.pack_offsets), written as shards below."""
    from csp_spark.pipeline import pack_offsets
    from csp_spark.text import token_count

    docs = inp.tables["documents"]
    t = docs.select("doc_id", token_count(F.col("text")).alias("tok"))
    packed = pack_offsets(t, "doc_id", "tok", budget=128, num_shards=4, order="shuffle", seed=11)
    return packed.join(docs.select("doc_id", "text"), "doc_id")


def write_shards(inp, df):
    from csp_spark.pipeline import write_training_shards

    write_training_shards(df, shards_path(inp), order_col="begin_seq", rows_per_shard=500)


def shards_path(inp):
    return os.path.join(inp.scratch, "shards")


DOC_CURATE = [
    Op("gopher", "text", gopher, oracle="doc_gopher"),
    Op("minhash", "dedup", minhash, check="lsh_pairs"),
    Op("components", "dedup", components, check="components"),
    Op("dsir", "pipeline", dsir, check="dsir"),
    Op("knn_blas", "similarity", knn, check="knn"),
    Op("shards", "sinks", shards_input, write=write_shards, check="shards"),
]


WORKLOADS = {"tick_replay": TICK_REPLAY, "doc_curate": DOC_CURATE}
