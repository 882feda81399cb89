"""End-to-end ER pipeline with per-stage checkpoints, lineage + resume.

documents -> extract (mapInPandas) -> block keys -> candidate pairs ->
score -> threshold edges -> large-star/small-star CC -> clusters.

Each stage writes parquet to ``<out_dir>/<stage>/`` with a manifest
(config fingerprint, input/output row counts, per-partition row counts =
the lineage record). ``resume=True`` skips stages whose manifest matches
the current config — the reference's file-existence checkpointing
(ontology_builder.py:186,286-290) made atomic and partition-aware
(BASELINE.json:14: per-partition lineage + metrics enabling
resume-from-checkpoint).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .operators.blocking import add_block_keys, candidate_pairs
from .operators.cc import (
    assign_surface_clusters,
    component_metrics,
    connected_components,
    constrained_components,
    repair_components,
)
from .operators.urls import dedup_canonical
from .operators.extract import split_outputs
from .operators.extract_join import extractor_for
from .operators.scoring import fs_match_edges, match_edges, score_pairs

STAGES = ["mentions", "surfaces", "block_keys", "pairs", "edges", "clusters"]

# The characters Hive/Spark escape in partition directory names
# (Hive FileUtils.escapePathName, mirrored by Spark's
# ExternalCatalogUtils; verified empirically against Spark 4 output —
# note space and '}' are NOT escaped).
_HIVE_ESCAPE = set('"#%\'*/:=?\\^[]{\x7f') | {chr(i) for i in range(0x20)}


def _hive_escape(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in value
    )


@dataclass
class StageResult:
    name: str
    rows: int
    seconds: float
    resumed: bool


class ERPipeline:
    def __init__(
        self,
        spark: SparkSession,
        word2ner: list | None = None,
        embeddings: dict[str, np.ndarray] | None = None,
        cfg: PipelineConfig | None = None,
        out_dir: str | None = None,
        lexicon_path: str | None = None,
        partition_cols: list[str] | None = None,
        cannot_link: DataFrame | None = None,
        must_link: DataFrame | None = None,
    ):
        """Lexicon source: either ``word2ner`` seed records (broadcast,
        cascade built per executor) or ``lexicon_path`` — a saved
        ``KawaMatcher.save`` gzip-JSON artifact loaded without rebuild
        (S5; reference ontology_manager.py:176-229).

        ``partition_cols``: table partition columns (e.g. ``["lang"]``).
        Stage outputs that carry them are written Hive/Iceberg-layout
        partitioned (``lang=en/``), and each manifest's lineage block is
        keyed by partition VALUE — the "per-Iceberg-partition lineage +
        metrics" contract — instead of the physical spark partition id.
        Stages without the columns fall back to physical-partition
        lineage.

        ``cannot_link``: optional (norm_a, norm_b) DataFrame of
        adjudicated-distinct surface-form pairs (negative rules). Their
        direct edges are dropped before CC and any residual transitive
        violation is split by greedy score-ordered repair
        (operators/cc.py: constrained_components + repair_components),
        so no cannot-link pair ever shares a cluster. Norms absent from
        the corpus are ignored. Default None = behavior unchanged.

        ``must_link``: optional (norm_a, norm_b) DataFrame of
        adjudicated-same pairs (positive rules). They join the edge
        list with +inf score ahead of CC, so they always co-cluster —
        and in greedy repair they replay before every scored edge. A
        pair under BOTH rules resolves to cannot-link (the conservative
        precedence: never re-merge an adjudicated-distinct pair)."""
        if word2ner is None and lexicon_path is None:
            raise ValueError("ERPipeline needs word2ner or lexicon_path")
        _cfg = cfg or DEFAULT_CONFIG
        if _cfg.clustering not in ("cc", "star"):
            raise ValueError(
                f"unknown clustering strategy {_cfg.clustering!r}"
                " (expected 'cc' or 'star')"
            )
        if _cfg.extract_strategy not in ("broadcast", "join"):
            raise ValueError(
                f"unknown extract_strategy {_cfg.extract_strategy!r}"
                " (expected 'broadcast' or 'join')"
            )
        if (_cfg.fs_missing_aware or _cfg.fs_value_specific) and not _cfg.fs_scoring:
            # the refinements parameterize the FS edge selection; with
            # fs_scoring off they would be silent no-ops — fail loud
            raise ValueError(
                "fs_missing_aware/fs_value_specific require fs_scoring=True"
            )
        if _cfg.clustering == "star" and must_link is not None:
            # star clustering is structural (centers by degree, not
            # score); a +inf must-link edge cannot force co-membership
            # the way it does under transitive closure — fail loud
            # instead of silently weakening an adjudicated-same rule
            raise ValueError(
                "must_link requires clustering='cc' (star clustering"
                " cannot guarantee positive-rule co-membership)"
            )
        self.spark = spark
        self.word2ner = word2ner
        self.lexicon_path = lexicon_path
        # (checkpoint dir is set at run() time, not here: setCheckpointDir
        # is session-global, and constructing a second pipeline before
        # running the first would redirect the first's CC iteration state
        # into the second's out_dir)
        self.embeddings = embeddings or {}
        self.cfg = cfg or DEFAULT_CONFIG
        self.out_dir = out_dir
        self.cannot_link = cannot_link
        self.must_link = must_link
        self.partition_cols = partition_cols or []
        self.metrics: list[StageResult] = []
        self._persisted: list[DataFrame] = []
        # populated by run() for cluster_metrics(); None until the
        # clusters stage actually executes in this process
        self._last_edges: DataFrame | None = None
        self._last_components: DataFrame | None = None

    # ---------------- checkpoint / lineage ----------------

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.out_dir, stage, "_MANIFEST.json")

    def _write_stage(self, stage: str, df: DataFrame, t0: float) -> DataFrame:
        if not self.out_dir:
            # no checkpoint dir: materialize so the multi-branch DAG
            # (surfaces, pairs, final cluster join all reuse `mentions`)
            # does not re-run the extraction UDF once per branch.
            # Eager localCheckpoint with SERIALIZED blocks: measured ~2x
            # cheaper than DataFrame persist's columnar-compressed cache
            # build, and byte blocks avoid the deserialized-row heap
            # churn (GC) that throttles wide string columns; lineage is
            # truncated for the iterative CC consumer.
            from pyspark import StorageLevel

            # PySpark 4: MEMORY_AND_DISK is the serialized level
            # (deserialized is the _DESER variant)
            df = df.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            self._persisted.append(df)
            self.metrics.append(StageResult(stage, -1, time.time() - t0, False))
            return df
        path = os.path.join(self.out_dir, stage)
        pcols = [c for c in self.partition_cols if c in df.columns]
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(path)
        out = self.spark.read.parquet(path)
        if pcols:
            # logical (Iceberg-style) partition lineage: key by value
            per_part = out.groupBy(*pcols).count().collect()
            # NULL partition values land in the Hive default partition dir,
            # and special characters are Hive-escaped in directory names;
            # key the manifest the same way so manifest keys always match
            # the physical layout (f"{c}=None" or a raw 'a/b' value would
            # never match on disk)
            hive_null = "__HIVE_DEFAULT_PARTITION__"
            partitions = {
                "/".join(
                    f"{c}={_hive_escape(str(r[c])) if r[c] is not None else hive_null}"
                    for c in pcols
                ): r["count"]
                for r in per_part
            }
        else:
            per_part = (
                out.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .collect()
            )
            partitions = {str(r["pid"]): r["count"] for r in per_part}
        rows = sum(r["count"] for r in per_part)
        manifest = {
            "stage": stage,
            "config": self.cfg.fingerprint(),
            "rows": rows,
            "partition_cols": pcols,
            "partitions": partitions,
            "completed": True,
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=1)
        self.metrics.append(StageResult(stage, rows, time.time() - t0, False))
        return out

    def _resume_stage(self, stage: str) -> DataFrame | None:
        if not self.out_dir:
            return None
        mp = self._manifest_path(stage)
        if not os.path.exists(mp):
            return None
        with open(mp) as f:
            manifest = json.load(f)
        if manifest.get("config") != self.cfg.fingerprint() or not manifest.get(
            "completed"
        ):
            return None
        df = self.spark.read.parquet(os.path.join(self.out_dir, stage))
        self.metrics.append(StageResult(stage, manifest["rows"], 0.0, True))
        return df

    def _stage(self, name: str, resume: bool, compute) -> DataFrame:
        if resume:
            cached = self._resume_stage(name)
            if cached is not None:
                return cached
        t0 = time.time()
        return self._write_stage(name, compute(), t0)

    def _fusable_stage(self, name: str, resume: bool, compute) -> DataFrame:
        """Stage with exactly one downstream consumer: with a checkpoint
        dir it behaves like _stage (durable parquet + manifest, the
        resume contract); without one it stays LAZY — no materialization
        barrier, the work fuses into the consumer's job. block_keys /
        pairs / edges qualify: nothing re-reads them, their recompute
        roots at the nearest checkpointed stage (surfaces), and CC
        eagerly checkpoints its own input anyway (cc.py), so an extra
        eager copy here only added a serial barrier + a duplicate pass."""
        if self.out_dir:
            return self._stage(name, resume, compute)
        self.metrics.append(StageResult(name, -1, 0.0, False))
        return compute()

    # ---------------- the pipeline ----------------

    def run(self, docs: DataFrame, resume: bool = False) -> DataFrame:
        cfg = self.cfg
        if cfg.canonical_urls:
            # drop crawl-alias re-crawls before any heavy stage: one
            # narrow winner-election shuffle + a semi-join (see
            # operators/urls.dedup_canonical); config-fingerprinted so
            # resume manifests distinguish deduped runs
            docs = dedup_canonical(docs)
        if self.out_dir:
            # reliable checkpoints for the CC loop (see operators/cc.ckpt):
            # localCheckpoint blocks die with an executor; with a durable
            # out_dir the iteration state must survive node loss too
            self.spark.sparkContext.setCheckpointDir(
                os.path.join(self.out_dir, "_cc_ckpt")
            )
        # clustering never reads the spliced text -> emit_text=False
        # keeps the 10^12-row text column out of Arrow/cache entirely
        # (the byte-identity surface is extracted_text(), a separate run)
        extract = extractor_for(cfg)
        mentions = self._stage(
            "mentions",
            resume,
            lambda: extract(
                docs, self.word2ner, cfg, emit_text=False,
                lexicon_path=self.lexicon_path,
            ).filter(F.col("mention").isNotNull()),
        )

        # Surface dedup: identical norms are trivially the same entity, so
        # blocking/pairing/scoring run over DISTINCT surface forms, never
        # occurrences — pairs drop from O(mentions²) to O(surfaces²) per
        # block key. At 10^12 documents the mention stream is ~10^12 rows
        # while distinct surfaces are ~10^8-9; the groupBy is a map-side
        # partial min, and mentions rejoin clusters by norm at the end.
        surfaces = self._stage(
            "surfaces",
            resume,
            lambda: mentions.groupBy("norm").agg(
                F.min("mention_id").alias("surface_id"),
                F.count("*").alias("n_mentions"),
            ),
        )

        # block_keys stays EAGER even without out_dir: candidate_pairs
        # scans it ~5x (hot-key count + cold/hot self-join sides), and
        # each lazy rescan would re-run the MinHash fold
        keyed = self._stage(
            "block_keys",
            resume,
            lambda: add_block_keys(
                surfaces.select(
                    F.col("surface_id").alias("mention_id"), "norm"
                ),
                cfg,
            ),
        )
        pairs = self._fusable_stage(
            "pairs", resume, lambda: candidate_pairs(keyed, cfg)
        )
        if cfg.fs_scoring:
            # the EM collect + the edge output both read the scored
            # pairs: persist between them (registered for unpersist())
            def _mk_edges() -> DataFrame:
                return fs_match_edges(
                    score_pairs(pairs, self.embeddings, cfg), cfg,
                    register_persist=self._persisted.append,
                    surfaces=surfaces.select("norm"),
                )
        else:
            def _mk_edges() -> DataFrame:
                return match_edges(score_pairs(pairs, self.embeddings, cfg), cfg)

        edges = self._fusable_stage("edges", resume, _mk_edges)
        self._last_edges = edges

        def _norm_pairs_to_ids(pairs: DataFrame) -> DataFrame:
            # norms -> surface ids; inner joins drop constraints on
            # norms absent from this corpus
            s = surfaces.select("norm", "surface_id")
            return (
                pairs.join(
                    s.withColumnRenamed("norm", "norm_a").withColumnRenamed(
                        "surface_id", "id_a"
                    ),
                    "norm_a",
                )
                .join(
                    s.withColumnRenamed("norm", "norm_b").withColumnRenamed(
                        "surface_id", "id_b"
                    ),
                    "norm_b",
                )
                .select("id_a", "id_b")
            )

        def _components() -> DataFrame:
            reliable = bool(self.out_dir)
            if cfg.clustering == "star":
                # diameter-2 star clusters (operators/star.py): the
                # opt-in over-merge control. Structural — must_link is
                # rejected in __init__; cannot_link composes exactly
                # like the CC path (direct edges dropped before
                # clustering, residual violations split by the same
                # greedy repair).
                from .operators.cc import ckpt
                from .operators.star import star_components

                star_edges = edges.select(
                    F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"),
                    "score",
                )
                if self.cannot_link is not None:
                    cl_ids = _norm_pairs_to_ids(self.cannot_link).select(
                        F.least("id_a", "id_b").alias("cl_u"),
                        F.greatest("id_a", "id_b").alias("cl_v"),
                    ).distinct()
                    star_edges = star_edges.join(
                        F.broadcast(cl_ids),
                        (star_edges["id_a"] == cl_ids["cl_u"])
                        & (star_edges["id_b"] == cl_ids["cl_v"]),
                        "left_anti",
                    )
                # Truncate lineage BEFORE fan-out: star_components
                # references its input several times (sym both ways,
                # two degree joins) and repair references the component
                # table five more — without a checkpoint each reference
                # re-inlines the full extraction plan and the combined
                # tree grows multiplicatively (observed: plan-tree OOM
                # at 80 docs). Same ckpt the CC rounds use.
                star_edges = ckpt(star_edges, reliable)
                comps = star_components(star_edges).select(
                    "node", "component"
                )
                if self.cannot_link is None:
                    return comps
                return repair_components(
                    star_edges, ckpt(comps, reliable),
                    _norm_pairs_to_ids(self.cannot_link),
                    src="id_a", dst="id_b", score="score",
                )
            cc_edges = edges
            if self.must_link is not None:
                # positive rules ride the edge list at +inf score: they
                # always co-cluster, and greedy repair replays them
                # before every scored edge
                cc_edges = cc_edges.unionByName(
                    _norm_pairs_to_ids(self.must_link)
                    .withColumn("score", F.lit(float("inf")))
                    .withColumn("block_key", F.lit("must_link"))
                )
            if self.cannot_link is None:
                return connected_components(
                    cc_edges, max_iter=cfg.cc_max_iter,
                    reliable_checkpoints=reliable,
                )
            # negative rules: direct violating edges filtered pre-CC,
            # residual transitive violations split by greedy
            # score-ordered repair (cannot-link outranks must-link: the
            # anti-join drops a pair under both rules, and repair never
            # merges across a constraint regardless of edge score)
            cl_ids = _norm_pairs_to_ids(self.cannot_link)
            comps = constrained_components(
                cc_edges, cl_ids, src="id_a", dst="id_b",
                cl_src="id_a", cl_dst="id_b",
                max_iter=cfg.cc_max_iter, reliable_checkpoints=reliable,
            )
            return repair_components(
                cc_edges, comps, cl_ids, src="id_a", dst="id_b", score="score"
            )

        def _clusters() -> DataFrame:
            comps = _components()
            self._last_components = comps
            return assign_surface_clusters(mentions, surfaces, comps)

        clusters = self._stage("clusters", resume, _clusters)
        return clusters

    def cluster_metrics(self) -> DataFrame:
        """Per-cluster graph diagnostics over the last run's match edges
        and components (:func:`operators.cc.component_metrics`):
        node/edge counts, edge density, weakest/strongest edge per
        entity cluster — the hair-ball triage table that flags chain
        merges for repair, computed from the already-scored edge stream
        (no pair is re-scored). Components are keyed by surface id; map
        through the clusters table's cluster_id to reach mentions.

        Call after :meth:`run`. Raises if the clusters stage never
        executed in this process (e.g. resumed straight from parquet —
        resume skips CC, so there is no component table to diagnose).
        Scored edges only (must-link rule edges are not diagnostics);
        cannot-link repair can split a scored edge's endpoints into two
        clusters — such cross-cluster edges are excluded, so a heavily
        repaired cluster correctly reads as sparse. Without an
        ``out_dir`` the lazy edge plan recomputes scoring when this
        evaluates; with one it re-reads the durable stage parquet."""
        if self._last_edges is None or self._last_components is None:
            raise RuntimeError(
                "cluster_metrics requires a run() that executed the "
                "clusters stage in this process (a resume that restored "
                "clusters from parquet skips component construction)"
            )
        comps = self._last_components
        intra = (
            self._last_edges.join(
                comps.select(
                    F.col("node").alias("id_b"),
                    F.col("component").alias("_comp_b"),
                ),
                "id_b",
            )
            .join(
                comps.select(
                    F.col("node").alias("id_a"),
                    F.col("component").alias("_comp_a"),
                ),
                "id_a",
            )
            .filter(F.col("_comp_a") == F.col("_comp_b"))
            .select("id_a", "id_b", "score")
        )
        return component_metrics(
            intra, comps, src="id_a", dst="id_b", weight="score"
        )

    def unpersist(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def extracted_text(self, docs: DataFrame) -> DataFrame:
        """(url, text) after extraction splice — the byte-identity surface."""
        extracted, _ = split_outputs(
            extractor_for(self.cfg)(
                docs, self.word2ner, self.cfg, lexicon_path=self.lexicon_path
            )
        )
        return extracted
