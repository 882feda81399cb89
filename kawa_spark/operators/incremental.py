"""Incremental entity linkage: fold a delta batch of documents into an
existing clustering without re-scoring the standing corpus.

The reference rebuilds its ontology/KB with full staged passes over the
corpus (ontology_builder.py:186,286-290 — file-existence checkpoints
around complete rebuilds); at 10^12 documents a daily delta cannot pay
a full re-run. ``incremental_link`` keeps the batch pipeline's EXACT
output contract — linking delta B into state(A) yields the same
surface- and mention-level cluster ids as ``ERPipeline.run(A ∪ B)``,
row for row (pinned by tests/test_incremental.py) — because:

* blocking keys and pair scores are pure functions of the surface norm,
  so every A-internal pair re-scores identically and its verdict is
  already folded into state(A)'s cluster ids;
* every pair with at least one B-side surface IS generated: B×B via
  :func:`~kawa_spark.operators.blocking.candidate_pairs`, B×A via
  :func:`~kawa_spark.operators.blocking.bounded_cross_pairs` against
  the standing block-key index restricted to touched keys;
* cluster ids are component-minimum surface ids, recovered exactly by
  contracting each A-cluster to one node and re-labeling components
  with the updated per-cluster minima (a new mention of a known norm
  can lower that norm's surface id, hence its cluster's minimum).

Cost scales with the DELTA, not the corpus: the only standing-table
passes are one semi-join pruning the block-key index to touched keys
and one broadcast-remap join over the surface tables when writing the
updated state. (A production deployment can keep the remap as a layered
view instead of rewriting the surface table per increment; the rewrite
is the simple contract and the surface table is orders of magnitude
smaller than the mention stream.)
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import PipelineConfig
from .blocking import add_block_keys, bounded_cross_pairs, candidate_pairs
from .cc import connected_components
from .extract_join import extractor_for
from .scoring import match_edges, score_pairs

STATE_STAGES = ["surfaces", "block_keys", "surface_clusters"]


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager lineage cut for multi-consumer frames (same rationale as
    ERPipeline._write_stage's no-out_dir branch)."""
    return df.localCheckpoint(eager=True)


@dataclass
class ERState:
    """The standing linkage state between increments.

    surfaces:         (norm, surface_id, n_mentions) — surface_id is the
                      minimum mention_id of the norm over ALL batches so
                      far (kept exact so cluster ids match a full run).
    block_keys:       (mention_id, norm, block_key) — the standing
                      blocking index; ids are FROZEN at first keying
                      (re-keying a norm would change nothing: keys are
                      functions of the norm alone).
    surface_clusters: (norm, block_id, cluster_id) — block_id is the
                      frozen id under which the norm appears in
                      block_keys; cluster_id is the current exact label.
    """

    surfaces: DataFrame
    block_keys: DataFrame
    surface_clusters: DataFrame

    @staticmethod
    def from_batch_run(
        surfaces: DataFrame, block_keys: DataFrame, clusters: DataFrame
    ) -> "ERState":
        """Build state from a completed ``ERPipeline.run``: ``surfaces``
        and ``block_keys`` are the pipeline's stages of the same name;
        ``clusters`` is its mention-level output. The per-norm cluster
        map is a map-side partial agg (all mentions of a norm share one
        cluster_id by construction)."""
        norm_clusters = clusters.groupBy("norm").agg(
            F.min("cluster_id").alias("cluster_id")
        )
        surface_clusters = (
            surfaces.select("norm", F.col("surface_id").alias("block_id"))
            .join(norm_clusters, "norm")
        )
        return ERState(
            surfaces=surfaces.select("norm", "surface_id", "n_mentions"),
            block_keys=block_keys.select("mention_id", "norm", "block_key"),
            surface_clusters=surface_clusters,
        )

    @staticmethod
    def empty(spark: SparkSession) -> "ERState":
        """Zero-document state: the bootstrap for a stream that starts
        from nothing (incremental_link over empty state degenerates to
        exactly the batch run of the first delta)."""
        return ERState(
            surfaces=spark.createDataFrame(
                [], "norm string, surface_id string, n_mentions long"
            ),
            block_keys=spark.createDataFrame(
                [], "mention_id string, norm string, block_key string"
            ),
            surface_clusters=spark.createDataFrame(
                [], "norm string, block_id string, cluster_id string"
            ),
        )

    @staticmethod
    def from_out_dir(spark: SparkSession, out_dir: str) -> "ERState":
        """Build state from a checkpointed ``ERPipeline.run(out_dir=...)``:
        reads the ``surfaces``/``block_keys``/``clusters`` stage parquet
        the batch run already wrote (the resume/lineage layout doubles
        as the incremental handoff — no extra batch-side cost)."""
        return ERState.from_batch_run(
            surfaces=spark.read.parquet(os.path.join(out_dir, "surfaces")),
            block_keys=spark.read.parquet(os.path.join(out_dir, "block_keys")),
            clusters=spark.read.parquet(os.path.join(out_dir, "clusters")),
        )

    @staticmethod
    def load(spark: SparkSession, state_dir: str) -> "ERState":
        frames = {
            s: spark.read.parquet(os.path.join(state_dir, s))
            for s in STATE_STAGES
        }
        return ERState(
            surfaces=frames["surfaces"],
            block_keys=frames["block_keys"],
            surface_clusters=frames["surface_clusters"],
        )

    def save(self, state_dir: str, cfg: PipelineConfig) -> None:
        """Parquet + manifest per state table (the batch pipeline's
        lineage convention: config fingerprint + row count, so a resumed
        increment can verify it is reading state built under the same
        config)."""
        for name, df in (
            ("surfaces", self.surfaces),
            ("block_keys", self.block_keys),
            ("surface_clusters", self.surface_clusters),
        ):
            path = os.path.join(state_dir, name)
            df.write.mode("overwrite").parquet(path)
            rows = df.sparkSession.read.parquet(path).count()
            with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
                json.dump(
                    {
                        "stage": name,
                        "config": cfg.fingerprint(),
                        "rows": rows,
                        "completed": True,
                    },
                    f,
                    indent=1,
                )


@dataclass
class IncrementResult:
    state: ERState          # updated standing state (feed the next increment)
    new_clusters: DataFrame  # mention-level assignment for the delta batch
    remap: DataFrame         # (cluster_id, final) for old clusters whose label changed
    merges: DataFrame        # (component, merged_clusters: array, final) — >=2 old clusters fused


def incremental_link(pipe, state: ERState, new_docs: DataFrame) -> IncrementResult:
    """Link ``new_docs`` into ``state`` using ``pipe``'s lexicon,
    embeddings and config (an :class:`~kawa_spark.pipeline.ERPipeline`).

    Exactness contract: ``result.state.surface_clusters`` equals the
    surface-level map of a full ``pipe.run(old_docs ∪ new_docs)``, and
    ``result.new_clusters`` carries the full run's cluster ids for the
    delta mentions; old mention-level outputs are reconciled by joining
    ``result.remap`` (delta-bounded, broadcastable)."""
    cfg = pipe.cfg

    new_mentions = _ckpt(
        extractor_for(cfg)(
            new_docs, pipe.word2ner, cfg, emit_text=False,
            lexicon_path=pipe.lexicon_path,
        ).filter(F.col("mention").isNotNull())
    )
    delta = _ckpt(
        new_mentions.groupBy("norm").agg(
            F.min("mention_id").alias("delta_id"),
            F.count("*").alias("delta_n"),
        )
    )

    old_surf = state.surfaces
    # norms already known: no scoring needed (identical norm = same
    # entity by pipeline definition) — but a new, lexicographically
    # smaller mention id can lower the norm's surface id and therefore
    # its cluster's minimum label
    seen = delta.join(old_surf, "norm").select(
        "norm",
        F.least("surface_id", "delta_id").alias("new_sid"),
        (F.col("n_mentions") + F.col("delta_n")).alias("n_mentions"),
    )
    seen = _ckpt(seen)
    fresh = _ckpt(
        delta.join(old_surf, "norm", "left_anti").select(
            "norm",
            F.col("delta_id").alias("surface_id"),
            F.col("delta_n").alias("n_mentions"),
        )
    )

    # -------- blocking: B×B and B×A candidate pairs --------
    fresh_keyed = _ckpt(
        add_block_keys(
            fresh.select(F.col("surface_id").alias("mention_id"), "norm"), cfg
        )
    )
    nn_pairs = candidate_pairs(fresh_keyed, cfg)

    # the standing index pruned to keys the delta actually touches —
    # the corpus-side pass is this one semi-join, nothing else
    touched = state.block_keys.join(
        fresh_keyed.select("block_key").distinct(), "block_key", "left_semi"
    )
    cross = bounded_cross_pairs(
        fresh_keyed,
        touched,
        threshold=cfg.hot_key_threshold,
        groups=cfg.hot_key_groups,
    )
    l_first = F.col("id_l") < F.col("id_r")
    cross_pairs = (
        cross.select(
            F.least("id_l", "id_r").alias("id_a"),
            F.greatest("id_l", "id_r").alias("id_b"),
            F.when(l_first, F.col("norm_l")).otherwise(F.col("norm_r")).alias("norm_a"),
            F.when(l_first, F.col("norm_r")).otherwise(F.col("norm_l")).alias("norm_b"),
            "block_key",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("block_key").alias("block_key"),
            F.first("norm_a").alias("norm_a"),
            F.first("norm_b").alias("norm_b"),
        )
    )
    # disjoint by construction: nn has two fresh ids, cross exactly one
    pairs = nn_pairs.unionByName(cross_pairs)

    # -------- scoring (same operators as the batch run) --------
    edges = match_edges(score_pairs(pairs, pipe.embeddings, cfg), cfg)

    # -------- contract old surfaces to their cluster node --------
    bmap = state.surface_clusters.select("block_id", "cluster_id")
    contracted = _ckpt(
        edges.select("id_a", "id_b")
        .join(
            bmap.select(
                F.col("block_id").alias("id_a"), F.col("cluster_id").alias("ca")
            ),
            "id_a",
            "left",
        )
        .join(
            bmap.select(
                F.col("block_id").alias("id_b"), F.col("cluster_id").alias("cb")
            ),
            "id_b",
            "left",
        )
        .select(
            F.coalesce("ca", F.col("id_a")).alias("u"),
            F.coalesce("cb", F.col("id_b")).alias("v"),
            "ca",
            "cb",
        )
    )
    comps = connected_components(
        contracted.filter(F.col("u") != F.col("v")),
        src="u",
        dst="v",
        max_iter=cfg.cc_max_iter,
    )

    # -------- exact re-labeling --------
    # delta-lowered per-cluster minima: k' = least(k, min new_sid of the
    # cluster's delta-touched norms). k itself is the min over all other
    # member ids (exact by induction), so k' is the true updated minimum.
    seen_c = seen.join(
        state.surface_clusters.select("norm", "cluster_id"), "norm"
    )
    k_upd = _ckpt(
        seen_c.groupBy("cluster_id")
        .agg(F.min("new_sid").alias("delta_min"))
        .select("cluster_id", F.least("cluster_id", "delta_min").alias("k_upd"))
        .filter(F.col("k_upd") != F.col("cluster_id"))
    )

    # candidate label per component node: fresh node -> its surface id,
    # old-cluster node -> its updated minimum
    cand = comps.join(
        k_upd.select(F.col("cluster_id").alias("node"), "k_upd"), "node", "left"
    ).select(
        "node", "component", F.coalesce("k_upd", F.col("node")).alias("cand")
    )
    comp_label = cand.groupBy("component").agg(F.min("cand").alias("final"))
    node_final = _ckpt(
        cand.join(comp_label, "component").select("node", "component", "final")
    )

    # old clusters that took part in components (delta-bounded sets)
    old_nodes = (
        contracted.select(F.col("ca").alias("k"))
        .unionByName(contracted.select(F.col("cb").alias("k")))
        .filter(F.col("k").isNotNull())
        .distinct()
    )
    remap_cc = node_final.join(
        old_nodes.select(F.col("k").alias("node")), "node", "left_semi"
    ).select(F.col("node").alias("cluster_id"), F.col("final").alias("final_cc"))

    # full relabel map for changed old clusters: component label wins
    # (it already folds k_upd in via cand); otherwise the lowered minimum
    remap = _ckpt(
        k_upd.join(remap_cc, "cluster_id", "full")
        .select(
            "cluster_id",
            F.coalesce("final_cc", "k_upd").alias("final"),
        )
        .filter(F.col("final") != F.col("cluster_id"))
    )

    # -------- updated state --------
    # remap is delta-bounded -> broadcast; this join is the only other
    # full pass over a standing table
    old_sc = (
        state.surface_clusters.join(F.broadcast(remap), "cluster_id", "left")
        .select(
            "norm", "block_id", F.coalesce("final", "cluster_id").alias("cluster_id")
        )
    )
    fresh_sc = (
        fresh.select("norm", F.col("surface_id").alias("block_id"))
        .join(
            node_final.select(F.col("node").alias("block_id"), "final"),
            "block_id",
            "left",
        )
        .select(
            "norm", "block_id", F.coalesce("final", "block_id").alias("cluster_id")
        )
    )
    surface_clusters2 = old_sc.unionByName(fresh_sc)

    surfaces2 = (
        old_surf.join(
            F.broadcast(seen.select("norm", "new_sid", F.col("n_mentions").alias("nm2"))),
            "norm",
            "left",
        )
        .select(
            "norm",
            F.coalesce("new_sid", "surface_id").alias("surface_id"),
            F.coalesce("nm2", "n_mentions").alias("n_mentions"),
        )
        .unionByName(fresh)
    )
    block_keys2 = state.block_keys.unionByName(
        fresh_keyed.select("mention_id", "norm", "block_key")
    )

    new_clusters = new_mentions.join(
        surface_clusters2.select("norm", "cluster_id"), "norm", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", "mention_id"))

    merges = (
        node_final.join(old_nodes.select(F.col("k").alias("node")), "node", "left_semi")
        .groupBy("component")
        .agg(
            F.sort_array(F.collect_set("node")).alias("merged_clusters"),
            F.min("final").alias("final"),
        )
        .filter(F.size("merged_clusters") >= 2)
    )

    return IncrementResult(
        state=ERState(
            surfaces=surfaces2,
            block_keys=block_keys2,
            surface_clusters=surface_clusters2,
        ),
        new_clusters=new_clusters,
        remap=remap,
        merges=merges,
    )


@dataclass
class RetractResult:
    state: ERState           # updated standing state (feed the next increment)
    remap: DataFrame         # (norm, old_cluster_id, cluster_id) for surviving
                             # norms whose cluster label changed
    removed_norms: DataFrame  # (norm) with zero remaining mentions
    splits: DataFrame        # (old_cluster_id, new_labels: array) where the
                             # cluster fell apart into >=2 components


def retract_docs(
    pipe, state: ERState, urls: DataFrame, mentions: DataFrame
) -> RetractResult:
    """Remove every mention of ``urls`` from ``state`` — the inverse of
    :func:`incremental_link` (GDPR-style takedown, robots retro-opt-out,
    spam-domain purge). ``mentions`` is the standing mention-level table
    with at least (url, mention_id, norm) — the batch pipeline's
    ``clusters``/``mentions`` stage parquet (the resume/lineage layout,
    :meth:`ERState.from_out_dir`'s input) doubles as this store.

    Exactness contract (pinned by tests/test_retract.py): the resulting
    state's (norm -> cluster_id) map and surfaces table equal a full
    ``ERPipeline.run`` over the surviving documents, so retract followed
    by :func:`incremental_link` keeps the batch-equality contract on the
    reduced corpus. Why the recompute is bounded:

    * blocking keys and pair verdicts are pure functions of the surface
      norm, so a norm that merely LOSES occurrences (but survives) keeps
      every edge — connectivity changes only where a norm loses its LAST
      mention and its graph node disappears (clusters can split, never
      merge);
    * edges never cross batch-cluster boundaries (a crossing match would
      have merged the clusters), so re-pairing + re-scoring is confined
      to the clusters that lost a norm, with the old cluster id fused
      into the block key;
    * cluster labels are component-minimum surface ids; retracting the
      mention that held a norm's min id raises that surface id, so
      touched clusters relabel from recomputed minima even when their
      topology is intact.

    Cost scales with the RETRACTION, not the corpus: one pass over the
    mention store (anti-join on urls + semi-join on touched norms — at
    web scale the store is bucketed by url, so the pass partition-prunes
    to the retracted buckets' spill-over norms) and semi/anti passes
    over the surface-level state tables; re-scoring is bounded to the
    touched clusters' members."""
    cfg = pipe.cfg
    urls = urls.select("url").distinct()
    ment = mentions.select("url", "mention_id", "norm").filter(
        F.col("norm").isNotNull()
    )
    gone = ment.join(urls, "url", "left_semi")
    touched_norms = _ckpt(gone.select("norm").distinct())

    # the one standing-table pass: surviving stats for touched norms
    new_stats = _ckpt(
        ment.join(touched_norms, "norm", "left_semi")
        .join(urls, "url", "left_anti")
        .groupBy("norm")
        .agg(
            F.min("mention_id").alias("sid2"),
            F.count("*").alias("nm2"),
        )
    )
    dead = _ckpt(touched_norms.join(new_stats, "norm", "left_anti"))

    # touched clusters and their membership (delta-bounded: semi-joins
    # against the retraction's own norm set)
    sc = state.surface_clusters
    touched_cl = _ckpt(
        sc.join(touched_norms, "norm", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    members = _ckpt(
        sc.join(touched_cl, "cluster_id", "left_semi")
        .join(dead, "norm", "left_anti")
        .join(new_stats, "norm", "left")
        .join(state.surfaces.select("norm", "surface_id"), "norm")
        .select(
            "norm",
            "block_id",
            "cluster_id",
            F.coalesce("sid2", "surface_id").alias("sid"),
        )
    )

    # tier split: clusters that LOST a norm must re-run CC (may split);
    # the rest only relabel from recomputed minima
    dead_cl = _ckpt(
        sc.join(dead, "norm", "left_semi").select("cluster_id").distinct()
    )
    relab = members.join(dead_cl, "cluster_id", "left_anti")
    recc = members.join(dead_cl, "cluster_id", "left_semi")

    relab_sc = (
        relab.withColumn(
            "new_cluster_id",
            F.min("sid").over(Window.partitionBy("cluster_id")),
        )
        .select(
            "norm",
            "block_id",
            F.col("cluster_id").alias("old_cluster_id"),
            F.col("new_cluster_id").alias("cluster_id"),
        )
    )

    # re-pair within each dead-norm cluster only: the old cluster id is
    # fused into the block key, so no cross-cluster candidates are ever
    # generated (they are known non-matches) and a hot cluster still
    # flows through the same skew-bounded triangle split
    keyed = (
        add_block_keys(
            recc.select(F.col("sid").alias("mention_id"), "norm"), cfg
        )
        .join(recc.select("norm", "cluster_id"), "norm")
        .withColumn(
            "block_key", F.concat_ws("\x1f", "cluster_id", "block_key")
        )
        .select("mention_id", "norm", "block_key")
    )
    edges = match_edges(
        score_pairs(candidate_pairs(keyed, cfg), pipe.embeddings, cfg), cfg
    )
    comps = connected_components(
        edges, src="id_a", dst="id_b", max_iter=cfg.cc_max_iter
    )
    recc_sc = (
        recc.join(
            comps.withColumnRenamed("node", "sid"), "sid", "left"
        )
        .select(
            "norm",
            "block_id",
            F.col("cluster_id").alias("old_cluster_id"),
            F.coalesce("component", F.col("sid")).alias("cluster_id"),
        )
    )

    new_sc = _ckpt(relab_sc.unionByName(recc_sc))

    # -------- updated state --------
    surfaces2 = (
        state.surfaces.join(dead, "norm", "left_anti")
        .join(new_stats, "norm", "left")
        .select(
            "norm",
            F.coalesce("sid2", "surface_id").alias("surface_id"),
            F.coalesce("nm2", "n_mentions").alias("n_mentions"),
        )
    )
    block_keys2 = state.block_keys.join(dead, "norm", "left_anti")
    surface_clusters2 = (
        sc.join(touched_cl, "cluster_id", "left_anti")
        .unionByName(new_sc.select("norm", "block_id", "cluster_id"))
    )

    remap = new_sc.filter(
        F.col("cluster_id") != F.col("old_cluster_id")
    ).select("norm", "old_cluster_id", "cluster_id")
    splits = (
        new_sc.groupBy("old_cluster_id")
        .agg(F.sort_array(F.collect_set("cluster_id")).alias("new_labels"))
        .filter(F.size("new_labels") >= 2)
    )

    return RetractResult(
        state=ERState(
            surfaces=surfaces2,
            block_keys=block_keys2,
            surface_clusters=surface_clusters2,
        ),
        remap=remap,
        removed_norms=dead,
        splits=splits,
    )
