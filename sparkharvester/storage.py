"""Iceberg-style snapshot store + multi-format sinks (S6-S10).

The sandbox has no Iceberg/Delta jars (SURVEY.md §7.0), so snapshots
are immutable parquet directories + a JSON manifest with an atomically
renamed ``current`` pointer — the same commit protocol shape
(write-new, swap-pointer) as Iceberg's metadata swap, behind a small
adapter so a real cluster can substitute catalog tables without
touching the engine.  Each crawl round commits one snapshot listing
the four state tables (frontier, seen_urls, seen_hashes, pages) plus
round metadata — giving exact-resume (north rule; reference analog:
SQLite known_urls, storage.py:94-105).
"""
from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    """Versioned parquet tables with an atomic ``current`` manifest."""

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- table io ----------------------------------------------------------

    def _path(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"v{version:06d}")

    def write(self, df: DataFrame, table: str, version: int) -> str:
        path = self._path(table, version)
        df.write.mode("overwrite").parquet(path)
        return path

    def read(self, spark: SparkSession, table: str, version: int,
             schema: str | None = None) -> DataFrame:
        """*schema* skips parquet schema inference, which costs a Spark
        job per read."""
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(self._path(table, version))

    # -- append-only delta tables ---------------------------------------------
    # Accumulating tables (pages, seen, metrics) write one small delta per
    # round instead of rewriting the whole table — O(delta) commit cost,
    # like an Iceberg append snapshot.  Readers union the delta files.

    def _delta_path(self, table: str, version: int) -> str:
        return os.path.join(self.root, table, f"delta-r{version:06d}")

    def write_delta(self, df: DataFrame, table: str, version: int) -> str:
        path = self._delta_path(table, version)
        # coalesce(1) guarantees a schema-bearing footer even when empty
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return path

    def read_deltas(self, spark: SparkSession, table: str, schema: str,
                    upto_version: int) -> DataFrame:
        paths = [
            self._delta_path(table, v)
            for v in range(upto_version + 1)
            if os.path.isdir(self._delta_path(table, v))
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    # -- manifest commit protocol -------------------------------------------

    def commit(self, meta: dict[str, Any]) -> None:
        """Atomic snapshot commit: write manifest, rename over pointer."""
        meta = dict(meta)
        meta["committed_at"] = time.time()
        tmp = os.path.join(self.root, f".manifest.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(self.root, "current"))  # atomic swap
        # keep the historical manifest for time travel
        hist = os.path.join(self.root, f"manifest-r{meta.get('round', 0):06d}.json")
        with open(hist, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)

    def load_manifest(self) -> dict[str, Any] | None:
        p = os.path.join(self.root, "current")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)


# ---------------------------------------------------------------------------
# Idempotent MERGE (S7/D4): SQLite INSERT OR IGNORE analog
# ---------------------------------------------------------------------------


def merge_new_only(existing: DataFrame, batch: DataFrame,
                   keys: list[str]) -> tuple[DataFrame, DataFrame]:
    """``INSERT OR IGNORE`` semantics (storage.py:28,135-147): rows of
    *batch* whose key is absent from *existing* are inserted; returns
    ``(merged, inserted)``.  On a catalog-backed cluster this is
    ``MERGE INTO … WHEN NOT MATCHED THEN INSERT``; here it's an exact
    anti-join append, with batch-internal duplicates collapsed to the
    first row by key (UNIQUE constraint analog).

    Scale: the anti-join shuffles on the key — the same physics Iceberg
    MERGE pays; AQE picks broadcast when the batch is small.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    order_cols = [c for c in batch.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(*(order_cols or keys))
    deduped = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )
    inserted = deduped.join(existing.select(*keys), keys, "left_anti")
    return existing.unionByName(inserted), inserted


# ---------------------------------------------------------------------------
# Multi-format sinks (storage.py:158-261 analogs)
# ---------------------------------------------------------------------------


def save_json(df: DataFrame, path: str) -> str:
    """JSON sink with the reference's field names (storage.py:175-187)."""
    from pyspark.sql import functions as F

    (
        df.select(
            "url", "site", "title", "depth",
            F.round("crawl_time", 3).alias("crawl_time_s"),
            "links_found", "content_hash", "text",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .json(path)
    )
    return path


def save_csv(df: DataFrame, path: str) -> str:
    """CSV sink with newline-scrubbed text (storage.py:218-228)."""
    from pyspark.sql import functions as F

    (
        df.select(
            F.col("url").alias("URL"),
            F.col("site").alias("Site"),
            F.col("title").alias("Title"),
            F.col("depth").alias("Depth"),
            F.round("crawl_time", 3).alias("CrawlTime(s)"),
            F.col("links_found").alias("LinksFound"),
            F.col("content_hash").alias("ContentHash"),
            F.regexp_replace("text", "[\\n\\r]", " ").alias("Text"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    return path


def save_all(df: DataFrame, out_dir: str,
             formats: tuple[str, ...] = ("parquet", "json", "csv")) -> dict[str, str]:
    """Fan-out sink (storage.py:236-261): one cached DF, every format."""
    df = df.cache()
    paths: dict[str, str] = {}
    try:
        if "parquet" in formats:
            p = os.path.join(out_dir, "crawl_results.parquet")
            df.write.mode("overwrite").parquet(p)
            paths["parquet"] = p
        if "json" in formats:
            paths["json"] = save_json(df, os.path.join(out_dir, "crawl_results.json"))
        if "csv" in formats:
            paths["csv"] = save_csv(df, os.path.join(out_dir, "crawl_results.csv"))
    finally:
        df.unpersist()
    return paths


# ---------------------------------------------------------------------------
# Live stats polling (reference gui.py:933-940 _poll_stats analog)
# ---------------------------------------------------------------------------

def read_live_stats(root: str) -> dict[str, Any] | None:
    """Poll a running (or finished) crawl's committed progress.

    The reference GUI polls ``crawler.stats`` on a timer from the UI
    thread while the crawl runs in a worker (gui.py:926,933-940).  The
    distributed analog is this Spark-free reader: every round's
    snapshot commit publishes the manifest atomically (``current``
    pointer swap), so ANY process can poll the checkpoint root and see
    the last COMMITTED round's counters without touching the running
    job.  Sums the per-partition metrics deltas with pyarrow — no
    SparkSession, so a monitoring sidecar stays off the cluster.
    """
    store = SnapshotStore(root)
    manifest = store.load_manifest()
    if manifest is None:
        return None
    totals = {"pages_crawled": 0, "pages_failed": 0,
              "pages_skipped": 0, "pages_deduplicated": 0}
    import pyarrow.parquet as pq

    for v in range(manifest["round"] + 1):
        path = store._delta_path("metrics", v)
        if not os.path.isdir(path):
            continue
        t = pq.read_table(path, columns=list(totals))
        for k in totals:
            s = sum(x if x is not None else 0 for x in t[k].to_pylist())
            totals[k] += int(s)
    return {
        "round": manifest["round"],
        "depth": manifest["depth"],
        "run_id": manifest.get("run_id"),
        "sites_crawled": manifest.get("n_seeds"),
        "urls_seen": manifest.get("seen_total"),
        "pages_by_seed": {int(k): v for k, v in manifest["counts"].items()},
        "committed_at": manifest.get("committed_at"),
        **totals,
    }
