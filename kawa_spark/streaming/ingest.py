"""Structured Streaming ingest wrapper (beyond-reference add-on).

The reference has NO streaming semantics (SURVEY.md §2.11) and the
north rule is batch-with-resume; this wrapper is the optional
continuous-ingest front end: a page stream (new Common-Crawl fetches
landing as parquet/Iceberg files) is micro-batched through the SAME
batch pipeline via ``foreachBatch``, so there is exactly one
implementation of extraction/blocking/scoring/clustering.

Incremental semantics: each micro-batch extracts and scores ONLY new
documents, but pairs them against the accumulated surface table
(new-new and new-old pairs), then folds the resulting edges into the
running cluster assignment with the same CC operator — the standard
incremental-ER formulation; a periodic full batch run re-canonicalizes
cluster ids (min-id is stable under edge additions only within a
component, so merges of existing clusters re-label).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..operators.blocking import add_block_keys, candidate_pairs
from ..operators.cc import connected_components
from ..operators.extract_join import extractor_for
from ..operators.scoring import match_edges, score_pairs


class StreamingERIngest:
    """foreachBatch bridge: page stream -> incremental mention/edge state.

    State lives in parquet under ``state_dir`` (mentions, surfaces,
    edges) — idempotent per batch_id (a replayed batch overwrites its
    own subdirectory, the exactly-once pattern for file sinks)."""

    def __init__(
        self,
        spark: SparkSession,
        word2ner: list,
        state_dir: str,
        cfg: PipelineConfig | None = None,
    ):
        self.spark = spark
        self.word2ner = word2ner
        self.state_dir = state_dir
        self.cfg = cfg or DEFAULT_CONFIG

    # -------------- batch-side (reused by foreachBatch) --------------

    def process_batch(self, docs: DataFrame, batch_id: int) -> None:
        cfg = self.cfg
        mentions = (
            extractor_for(cfg)(docs, self.word2ner, cfg, emit_text=False)
            .filter(F.col("mention").isNotNull())
        )
        # idempotent per-batch output: replay overwrites, never appends
        mdir = os.path.join(self.state_dir, "mentions", f"batch_id={batch_id}")
        mentions.write.mode("overwrite").parquet(mdir)

        new_surfaces = (
            self.spark.read.parquet(mdir)
            .groupBy("norm")
            .agg(F.min("mention_id").alias("surface_id"))
        )
        old = self._read_optional(self._surfaces_path())
        if old is not None:
            # union-dedup: keep the first-seen surface_id (stable min)
            all_s = (
                old.unionByName(new_surfaces)
                .groupBy("norm")
                .agg(F.min("surface_id").alias("surface_id"))
            )
        else:
            all_s = new_surfaces
        # versioned dir + atomic pointer flip: the previous version stays
        # on disk for in-flight readers, and a crash before the flip
        # leaves the old pointer (and table) fully intact — unlike an
        # rmtree+rename swap, which has a window with NO surfaces table
        vdir = os.path.join(self.state_dir, f"surfaces_v{batch_id}")
        all_s.write.mode("overwrite").parquet(vdir)
        self._flip_pointer(vdir)

        # pair NEW surfaces against the full surface table (new-new +
        # new-old) — blocking keys bound the join exactly as in batch
        keyed_all = add_block_keys(
            self.spark.read.parquet(self._surfaces_path()).select(
                F.col("surface_id").alias("mention_id"), "norm"
            ),
            cfg,
        )
        keyed_new = keyed_all.join(
            F.broadcast(new_surfaces.select(F.col("surface_id").alias("mention_id"))),
            "mention_id",
        )
        pairs = candidate_pairs(
            keyed_all.join(
                keyed_new.select("block_key").distinct(), "block_key", "left_semi"
            ),
            cfg,
        )
        edges = match_edges(score_pairs(pairs, None, cfg), cfg)
        edir = os.path.join(self.state_dir, "edges", f"batch_id={batch_id}")
        edges.write.mode("overwrite").parquet(edir)

    def current_clusters(self) -> DataFrame:
        """Full re-resolution over accumulated edges (periodic
        canonicalization; cheap — edges are surface-level)."""
        edges = self.spark.read.parquet(os.path.join(self.state_dir, "edges"))
        comp = connected_components(edges, max_iter=self.cfg.cc_max_iter)
        surfaces = self.spark.read.parquet(self._surfaces_path())
        return (
            surfaces.join(comp, surfaces["surface_id"] == comp["node"], "left")
            .withColumn("cluster_id", F.coalesce("component", "surface_id"))
            .select("norm", "surface_id", "cluster_id")
        )

    # ----------------------- stream wiring -----------------------

    def start(self, source_dir: str, checkpoint_dir: str, schema: str | None = None):
        """readStream over a landing directory -> foreachBatch into the
        incremental state. Returns the StreamingQuery."""
        reader = self.spark.readStream.format("parquet")
        if schema:
            reader = reader.schema(schema)
        else:
            reader = reader.schema("url string, text string, lang string")
        stream = reader.load(source_dir)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    # ----------------------- helpers -----------------------

    def _read_optional(self, path: str) -> DataFrame | None:
        if path is None:
            return None
        try:
            return self.spark.read.parquet(path)
        except Exception:
            return None

    def _pointer_file(self) -> str:
        return os.path.join(self.state_dir, "surfaces_CURRENT")

    def _surfaces_path(self) -> str | None:
        """Resolve the live surfaces version via the pointer file."""
        try:
            with open(self._pointer_file()) as f:
                return os.path.join(self.state_dir, f.read().strip())
        except FileNotFoundError:
            return None

    def _flip_pointer(self, vdir: str) -> None:
        """Single atomic rename of a one-line pointer file; keeps the
        previous version directory for concurrent readers and prunes
        older ones. On object stores, replace this local-FS pointer with
        the catalog's atomic snapshot commit (the Iceberg path)."""
        prev = self._surfaces_path()
        ptr, tmp = self._pointer_file(), self._pointer_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write(os.path.basename(vdir))
        os.replace(tmp, ptr)
        # prune versions older than the one readers may still hold
        import shutil

        keep = {os.path.basename(vdir), prev and os.path.basename(prev)}
        for name in os.listdir(self.state_dir):
            if name.startswith("surfaces_v") and name not in keep:
                shutil.rmtree(os.path.join(self.state_dir, name), ignore_errors=True)
