"""The benchmark's workloads: which operations one pass runs, and how each
operation is built, executed and checked.

Every operation goes through the package's public functions only:
``__spark_entry__.queries()``, ``sources.sinks`` and ``streaming.events``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Ctx:
    """What an operation needs: the session, its inputs and a scratch dir,
    plus the modules loaded by the latest set-up."""

    spark: SparkSession
    data_dir: str
    small_files_dir: str
    work_dir: str
    mods: dict[str, Any]

    def out(self, name: str) -> str:
        return os.path.join(self.work_dir, "out", name)


def content_hash(df: DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash): the sum over rows of the
    xxhash64 of each row's JSON form, exact in decimal(38,0)."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"] if row["h"] is not None else 0)


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Op:
    """One operation of a pass. ``build`` constructs the frame (the
    construction layer), ``execute`` runs the timed action, ``verify``
    runs an untimed action that yields (rows, hash) for the output check.
    ``prepare`` resets inputs the operation consumes, outside timing."""

    kind = "query"

    def __init__(self, name: str):
        self.name = name

    def prepare(self, ctx: Ctx) -> None:
        pass

    def build(self, ctx: Ctx) -> DataFrame | None:
        return ctx.mods["queries"][self.name](ctx.spark, ctx.data_dir)

    def execute(self, ctx: Ctx, df: DataFrame | None) -> dict:
        df.write.mode("overwrite").format("noop").save()
        return {}

    def verify(self, ctx: Ctx, df: DataFrame | None) -> tuple[int, str]:
        return content_hash(df)

    def input_bytes(self, ctx: Ctx, df: DataFrame | None) -> int:
        """Bytes of the files the operation reads."""
        return sum(os.path.getsize(urlparse(f).path) for f in df.inputFiles()) if df is not None else 0


class SinkOp(Op):
    """Build a frame, write it through ``sources.sinks``; the check reads
    the written files back."""

    kind = "sink"

    def __init__(self, name: str, build: Callable[[Ctx], DataFrame], write: Callable[[Ctx, DataFrame, str], None]):
        super().__init__(name)
        self._build = build
        self._write = write

    def build(self, ctx: Ctx) -> DataFrame | None:
        return self._build(ctx)

    def execute(self, ctx: Ctx, df: DataFrame | None) -> dict:
        path = ctx.out(self.name)
        self._write(ctx, df, path)
        return {"path": path}

    def verify(self, ctx: Ctx, df: DataFrame | None) -> tuple[int, str]:
        path = self.execute(ctx, df)["path"]
        return content_hash(ctx.spark.read.parquet(path))


class CompactOp(SinkOp):
    """``sinks.compact_parquet`` over a fresh copy of the small-files
    lineitem directory (the copy is made untimed, in ``prepare``)."""

    def __init__(self, name: str):
        super().__init__(name, build=lambda ctx: None, write=self._compact)

    def prepare(self, ctx: Ctx) -> None:
        path = ctx.out(self.name)
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(ctx.small_files_dir, path)

    @staticmethod
    def _compact(ctx: Ctx, df: DataFrame | None, path: str) -> None:
        ctx.mods["sinks"].compact_parquet(ctx.spark, path)

    def input_bytes(self, ctx: Ctx, df: DataFrame | None) -> int:
        return dir_stats(ctx.small_files_dir)[1]


class StreamOp(Op):
    """An ``availableNow`` drain of a ``streaming.events`` pipeline over
    the events file. Timed passes drain into the noop sink; the check
    drains into a memory sink and hashes it."""

    kind = "stream"

    def __init__(self, name: str, pipeline: str, mode: str):
        super().__init__(name)
        self.pipeline = pipeline
        self.mode = mode

    def _checkpoint(self, ctx: Ctx) -> str:
        return os.path.join(ctx.work_dir, "checkpoints", self.name)

    def prepare(self, ctx: Ctx) -> None:
        shutil.rmtree(self._checkpoint(ctx), ignore_errors=True)

    def build(self, ctx: Ctx) -> DataFrame | None:
        ev = ctx.mods["events"]
        return getattr(ev, self.pipeline)(ev.read_event_stream(ctx.spark, ctx.data_dir))

    def _drain(self, ctx: Ctx, df: DataFrame, fmt: str):
        w = (
            df.writeStream.outputMode(self.mode)
            .format(fmt)
            .option("checkpointLocation", self._checkpoint(ctx))
            .trigger(availableNow=True)
        )
        if fmt == "memory":
            w = w.queryName(f"perfbench_{self.name}")
        q = w.start()
        try:
            q.awaitTermination()
        finally:
            q.stop()
        return q

    def execute(self, ctx: Ctx, df: DataFrame | None) -> dict:
        q = self._drain(ctx, df, "noop")
        return {"progress": q.recentProgress}

    def verify(self, ctx: Ctx, df: DataFrame | None) -> tuple[int, str]:
        self._drain(ctx, df, "memory")
        return content_hash(ctx.spark.table(f"perfbench_{self.name}"))


def _lh_merge_upsert(ctx: Ctx) -> DataFrame:
    return ctx.mods["queries"]["lh_merge_upsert"](ctx.spark, ctx.data_dir)


def _lineitem(ctx: Ctx) -> DataFrame:
    return ctx.mods["catalog"].Catalog(ctx.spark, ctx.data_dir).lineitem


def _write_parquet(ctx: Ctx, df: DataFrame, path: str) -> None:
    ctx.mods["sinks"].write_parquet(df, path)


def _write_zordered(ctx: Ctx, df: DataFrame, path: str) -> None:
    ctx.mods["sinks"].write_zordered_parquet(df, path, ("l_partkey", "l_suppkey"), num_files=8)


def _queries(*names: str) -> list[Op]:
    return [Op(n) for n in names]


# A run spends about 30 s on set-up and the cold checking pass before timing
# starts, and the benchmark's time budget leaves it about 24 s of timed
# passes. So each workload keeps about 4 s of warm operations per pass, and
# text_curation is not in BENCHMARK.json. README.md lists what was left out.
WORKLOADS: dict[str, list[Op]] = {
    "mag_graph": _queries(
        "g1_coauthor_edges",
        "g3_personal_net",
        "g5_hierarchy_roots",
        "g_triangle_count",
        "web_pagerank",
    ),
    "text_curation": _queries(
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "curation_pipeline_v10",
        "text_bpe_encode",
        "text_cdc_chunks",
    ),
    "star_ingest": _queries(
        "q1_pricing_summary",
        "q9_product_profit",
        "q21_waiting_suppliers",
        "asof_signup_value",
        "f7_json_extract",
    )
    + [
        StreamOp("stream_tumbling_counts", "tumbling_counts", "complete"),
        SinkOp("sink_lh_merge_upsert", _lh_merge_upsert, _write_parquet),
        SinkOp("sink_zordered_lineitem", _lineitem, _write_zordered),
        CompactOp("sink_compact_lineitem"),
    ],
}
