"""Table catalog.

The reference wires tables two ways — a lazy object catalog
(``/root/reference/src/scala/model/MAG.scala:14-36``) and (global) temp
views shared across notebooks
(``/root/reference/src/notebooks/scala/SetUpEnv.scala:119-125``,
``AddTestData.scala:101-105``). This module is the Spark-first equivalent:
a lazy path→DataFrame catalog plus view registration, over the driver's
parquet star schema (TESTDATA.md) and, for MAG-shaped TSV data, the
readers in ``sources/``.

Scale posture: parquet scans get predicate pushdown + column pruning from
Catalyst for free; the catalog never materializes or collects. ``cache()``
is opt-in per table (the reference cached every base table —
``StaticNet.scala:203-205`` — which at 100 TB would evict constantly; we
cache only multi-consumer intermediates inside pipelines).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver's synthetic star schema (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo of base-table RELATIONS (query-plan objects, not
# data): ``spark.read.parquet`` re-lists the directory and re-reads
# parquet footers on every call, a blocking driver-side cost of
# ~50-200 ms per table that recurs on EVERY query construction (each
# one builds a fresh Catalog).  DataFrames are immutable plans, so
# reusing the relation changes nothing about execution — every action
# still scans the parquet files; no rows or results are cached (guide
# §1.2: construction is serial driver time).  Keyed weakly by session
# (a stopped session's entries vanish with it) and only for the named
# base tables, whose files are immutable for a session's lifetime.
_RELATIONS: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]]" = (
    weakref.WeakKeyDictionary()
)


def _path_signature(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of a parquet file or directory-of-
    files; any rewrite changes it.  os.stat is microseconds against the
    50-200 ms directory listing + footer read the memo saves."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        parts = []
        for entry in sorted(os.listdir(path)):
            s = os.stat(os.path.join(path, entry))
            parts.append((entry, s.st_mtime_ns, s.st_size))
        return tuple(parts)
    except OSError:
        return ("missing",)


def base_relations(spark: SparkSession, sf_dir: str, name: str) -> tuple[DataFrame, DataFrame]:
    """(raw, table) relations of base table ``name`` under ``sf_dir``:
    the parquet relation as read, and the one ``Catalog.table`` serves
    (``events`` gets its ts normalized). Memoized per session; the memo
    entry is only valid while the underlying file is byte-identical to
    the one the relation captured, because the relation pins the parquet
    schema (and possibly file listing) at creation. Keying on
    (mtime_ns, size) means a caller that rewrites a table in place — the
    fuzz gates do this between hypothesis examples — always gets a fresh
    relation instead of one with a stale footer snapshot."""
    per_session = _RELATIONS.setdefault(spark, {})
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = _path_signature(path)
    hit = per_session.get(path)
    if hit is None or hit[0] != sig:
        raw = spark.read.parquet(path)
        table = raw
        if name == "events":
            from .streaming.events import normalize_ts

            table = normalize_ts(raw)
        hit = per_session[path] = (sig, raw, table)
    return hit[1], hit[2]


class Catalog:
    """Lazy parquet table catalog rooted at a scale-factor directory."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str,
        overrides: dict[str, DataFrame] | None = None,
    ):
        """``overrides`` maps table name → DataFrame and is the engine's
        debug/prod toggle (P10): the reference swaps fixture views for
        real MAG views via a notebook widget (PersonalNet.scala:2-6,
        108-114; StaticNet.scala:186-207) — here a pipeline runs
        unchanged against fixtures by constructing the catalog with
        overrides."""
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables: dict[str, DataFrame] = dict(overrides or {})

    def table(self, name: str) -> DataFrame:
        """DataFrame for a base table (lazy; no job until an action)."""
        if name not in self._tables:
            self._tables[name] = base_relations(self.spark, self.sf_dir, name)[1]
        return self._tables[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TPCH_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TPCH_TABLES, global_views: bool = False) -> None:
        """Register temp views (the reference's S11 surface).

        ``global_views=True`` mirrors the reference's cross-notebook
        ``createGlobalTempView`` (``SetUpEnv.scala:119-125``); plain temp
        views are session-scoped.
        """
        for name in names:
            df = self.table(name)
            if global_views:
                df.createOrReplaceGlobalTempView(name)
            else:
                df.createOrReplaceTempView(name)

    def cache(self, *names: str) -> None:
        """Opt-in caching (S12) for tables consumed by multiple pipelines."""
        for name in names:
            self.table(name).cache()

    # key columns every pipeline assumes; validate() turns silent
    # upstream schema drift into one clear error instead of a cascade of
    # unresolved-column failures deep inside operators
    REQUIRED_COLUMNS: dict[str, tuple[str, ...]] = {
        "lineitem": ("l_orderkey", "l_suppkey", "l_extendedprice", "l_shipdate"),
        "orders": ("o_orderkey", "o_custkey", "o_orderdate"),
        "customer": ("c_custkey", "c_nationkey"),
        "supplier": ("s_suppkey", "s_nationkey"),
        "nation": ("n_nationkey", "n_regionkey", "n_name"),
        "region": ("r_regionkey", "r_name"),
        "part": ("p_partkey",),
        "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
        "documents": ("doc_id", "text"),
        "embeddings": ("vec_id", "embedding"),
    }

    def validate(self, names: tuple[str, ...] = TPCH_TABLES) -> None:
        """Check every table exists and carries its assumed key columns;
        raises one ValueError listing all problems (metadata-only — reads
        parquet footers, runs no jobs)."""
        problems: list[str] = []
        for name in names:
            try:
                cols = set(self.table(name).columns)
            except Exception as exc:  # missing/corrupt file
                problems.append(f"{name}: unreadable ({str(exc).splitlines()[0][:80]})")
                continue
            missing = [c for c in self.REQUIRED_COLUMNS.get(name, ()) if c not in cols]
            if missing:
                problems.append(f"{name}: missing columns {missing}")
        if problems:
            raise ValueError("catalog validation failed: " + "; ".join(problems))


def load_catalog(spark: SparkSession, sf_dir: str, register: bool = False) -> Catalog:
    cat = Catalog(spark, sf_dir)
    if register:
        cat.register_views()
    return cat
