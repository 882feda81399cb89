"""Traced pass: each layer's public function called by hand, in pipeline
order, with the workload's config, materialized eagerly between calls.

Every Spark job a layer triggers runs under a job group named after the
layer; the session's event log (written under the run directory) then
gives per-layer jobs, task time and shuffle bytes (``attach_event_log``).
Spans (name, start, end, parent) are kept in memory and written to
``spans.json`` at the end.

The on-path chain (pages -> extract -> surfaces -> blocking -> scoring ->
cc) mirrors ``ERPipeline.run`` without an out_dir; its clusters must
hash-equal those of an untraced ``run()`` on the same slice, which
catches drift between this chain and ``pipeline.py``. Off-path probes
follow and are timed apart from the chain: the driver-side matcher, an
identity ``mapInPandas`` over the same docs (Arrow transfer without the
matcher), the join-extraction steps, and a durable write of the chain's
stage outputs followed by ``run(resume=True)``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kawa_spark.lexicon.matcher import KawaMatcher
from kawa_spark.operators import extract_join as ej
from kawa_spark.operators.blocking import add_block_keys, candidate_pairs
from kawa_spark.operators.cc import assign_surface_clusters, connected_components
from kawa_spark.operators.extract import (
    _lexicon_fingerprint,
    _matcher_for,
    normalize_whitespace,
)
from kawa_spark.operators.scoring import match_edges, score_pairs
from kawa_spark.sources.pages import read_pages

from perfbench.checks import cluster_hash
from perfbench.passes import extractor, pipeline, run_pass

TOKENIZE_SAMPLE = 200

# event-log figures reported per layer (the job group's first dotted part)
_LAYER_STATS = {
    "pages": ("jobs",),
    "extract": ("jobs", "task_s", "task_max_s", "task_median_s"),
    "extract_join": ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes"),
    "surfaces": ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes"),
    "blocking": ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "task_max_s", "task_median_s"),
    "scoring": ("jobs", "task_s", "task_max_s", "task_median_s"),
    "cc": ("jobs", "task_s", "shuffle_read_bytes", "shuffle_write_bytes",
           "task_max_s", "task_median_s"),
    "pipeline": ("jobs", "task_s"),
}


class Tracer:
    """In-memory spans; a span's name is also the Spark job group of the
    jobs triggered inside it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or "bench", parent or "bench")
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent}
            )

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
    )


def traced_pass(spark, inputs, k: int, path: str, run_dir: str) -> dict:
    """Per-layer metrics for slice ``k`` (written at ``path``), which no
    earlier pass has read; ``_hash_ok`` tells whether the chain's
    clusters equal an untraced ``run()``'s."""
    cfg = inputs.workload.cfg
    if cfg.fs_scoring or cfg.canonical_urls:
        raise ValueError("the traced chain covers the default scoring path only")
    tr = Tracer(spark)
    m: dict[str, tuple[float, str]] = {}
    pdf = inputs.slices[k]
    persisted: list[DataFrame] = []

    def mat(df):
        # the pipeline's own materialization without an out_dir
        # (ERPipeline._write_stage)
        df = df.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
        persisted.append(df)
        return df

    # ---------------- on-path chain ----------------
    with tr.span("chain"):
        with tr.span("pages"):
            docs = read_pages(spark, path)
            n_docs = docs.count()
        m["pages.read_s"] = (tr.seconds("pages"), "s")
        m["pages.rows"] = (n_docs, "count")

        with tr.span("extract"):
            raw = extractor(cfg)(docs, inputs.word2ner, cfg, emit_text=False)
            mentions = mat(raw.filter(F.col("mention").isNotNull()))
            n_mentions = mentions.count()
        m["extract.wall_s"] = (tr.seconds("extract"), "s")
        m["extract.docs_in"] = (n_docs, "count")
        calls = len(pdf.drop_duplicates(["lang", "text"])) if cfg.dedup_texts else n_docs
        m["extract.matcher_calls"] = (calls, "count")
        m["extract.mentions_out"] = (n_mentions, "count")

        with tr.span("surfaces"):
            surfaces = mat(
                mentions.groupBy("norm").agg(
                    F.min("mention_id").alias("surface_id"),
                    F.count("*").alias("n_mentions"),
                )
            )
            n_surfaces = surfaces.count()
        m["surfaces.wall_s"] = (tr.seconds("surfaces"), "s")
        m["surfaces.rows"] = (n_surfaces, "count")

        with tr.span("blocking.keys"):
            keyed = mat(add_block_keys(
                surfaces.select(F.col("surface_id").alias("mention_id"), "norm"), cfg
            ))
            n_keyed = keyed.count()
        with tr.span("blocking.pairs"):
            pairs = mat(candidate_pairs(keyed, cfg))
            n_pairs = pairs.count()
        with tr.span("scoring"):
            edges = mat(match_edges(score_pairs(pairs, inputs.embeddings, cfg), cfg))
            n_edges = edges.count()
        with tr.span("cc"):
            comps = mat(connected_components(edges, max_iter=cfg.cc_max_iter))
            with tr.span("cc.assign"):
                clusters = mat(assign_surface_clusters(mentions, surfaces, comps))
                clusters.count()
    chain_s = tr.seconds("chain")

    # counts that describe a layer's input, outside its timing
    with tr.span("stats"):
        sizes = keyed.groupBy("block_key").count()
        ks = sizes.agg(
            F.sum((F.col("count") > cfg.hot_key_threshold).cast("long")).alias("hot"),
            F.max("count").alias("mx"),
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("pre"),
        ).first()
        n_components = comps.select("component").distinct().count()
        traced_hash = cluster_hash(clusters)
    m["blocking.keys_wall_s"] = (tr.seconds("blocking.keys"), "s")
    m["blocking.keyed_rows"] = (n_keyed, "count")
    m["blocking.hot_keys"] = (int(ks["hot"] or 0), "count")
    m["blocking.max_key_size"] = (int(ks["mx"] or 0), "count")
    m["blocking.pairs_wall_s"] = (tr.seconds("blocking.pairs"), "s")
    m["blocking.pair_rows_pre_dedup"] = (int(ks["pre"] or 0), "count")
    m["blocking.pairs"] = (n_pairs, "count")
    m["scoring.wall_s"] = (tr.seconds("scoring"), "s")
    m["scoring.pairs_in"] = (n_pairs, "count")
    m["scoring.edges_out"] = (n_edges, "count")
    m["scoring.match_ratio"] = (n_edges / n_pairs if n_pairs else 0.0, "ratio")
    m["cc.wall_s"] = (tr.seconds("cc"), "s")
    m["cc.edges_in"] = (n_edges, "count")
    m["cc.components"] = (n_components, "count")
    m["cc.assign_wall_s"] = (tr.seconds("cc.assign"), "s")

    # ---------------- off-path probes ----------------
    with tr.span("matcher"):
        t0 = time.perf_counter()
        matcher = KawaMatcher(
            "en", word2ner=[list(r) for r in inputs.word2ner],
            connector=cfg.connector, compound_word_step=cfg.compound_word_step,
            word_shingle_cutoff=cfg.word_shingle_cutoff, seed=cfg.seed,
        )
        build_s = time.perf_counter() - t0
        texts = pdf.loc[pdf["lang"] == "en", "text"].iloc[:TOKENIZE_SAMPLE].tolist()
        t0 = time.perf_counter()
        for t in texts:
            matcher.tokenize(t)
        tok_s = time.perf_counter() - t0
    m["matcher.build_s"] = (build_s, "s")
    m["matcher.tokenize_us_per_doc"] = (tok_s / len(texts) * 1e6, "us")
    m["matcher.lexicon_records"] = (len(inputs.word2ner), "count")

    with tr.span("extract.passthrough"):
        src = normalize_whitespace(docs.select("url", "text", "lang"))
        src.mapInPandas(lambda it: it, schema=src.schema).write.format(
            "noop").mode("overwrite").save()
    m["extract.arrow_passthrough_s"] = (tr.seconds("extract.passthrough"), "s")

    m.update(_join_probe(spark, tr, inputs, pdf, docs, mat))
    m.update(_durable_probe(
        spark, tr, inputs, path, run_dir,
        [("mentions", mentions), ("surfaces", surfaces), ("block_keys", keyed),
         ("pairs", pairs), ("edges", edges), ("clusters", clusters)],
        traced_hash,
    ))

    # ---------------- reference: untraced run() on the same slice ----------------
    # in memory like the chain (durable_join's timed passes also write
    # every stage, so their median is not the chain's counterpart)
    with tr.span("reference"):
        ref_s, ref_pipe, ref_clusters, _ = run_pass(spark, inputs, path, None)
        hash_ok = cluster_hash(ref_clusters) == traced_hash
        ref_pipe.unpersist()
    m["trace.overhead_s"] = (chain_s - ref_s, "s")
    for df in persisted:
        df.unpersist()
    with open(os.path.join(run_dir, "spans.json"), "w") as f:
        json.dump(tr.spans, f, indent=1)
    m["_hash_ok"] = hash_ok
    return m


def _join_probe(spark, tr, inputs, pdf, docs, mat) -> dict:
    """The join-extraction steps, timed one by one over the distinct
    (lang, text) representatives (the input ``extract_mentions_dedup``
    hands its inner extractor). ``replay_s`` is the full
    ``extract_mentions_join`` wall minus the flatten, candidate and
    resolve steps it repeats."""
    cfg = inputs.workload.cfg
    src = (
        normalize_whitespace(docs.select("url", "text", "lang"))
        .groupBy("lang", "text").agg(F.min("url").alias("url"))
    )
    langs = sorted({lang or "" for lang in pdf["lang"]})
    fp = _lexicon_fingerprint(inputs.word2ner)
    matchers = {lang: _matcher_for(lang, inputs.word2ner, fp, cfg) for lang in langs}
    with tr.span("extract_join.flatten"):
        rows, bounds, n_levels = [], {}, {}
        for lang, mt in matchers.items():
            r, bounds[lang], n_levels[lang] = ej.flatten_lexicon(mt, lang)
            rows.extend(r)
        lex_table = mat(spark.createDataFrame(rows, ej.PROBE_TABLE_SCHEMA))
    bc_bounds = spark.sparkContext.broadcast(bounds)
    with tr.span("extract_join.candidates"):
        cands = mat(ej.candidate_windows(src, cfg, bc_bounds))
        n_cands = cands.count()
    with tr.span("extract_join.distinct"):
        distinct = mat(cands.select("lang", "word").distinct())
        n_distinct = distinct.count()
    with tr.span("extract_join.resolve"):
        winners = mat(ej.resolve_probes(ej.probe_keys(distinct, cfg, n_levels), lex_table))
        winners.count()
    with tr.span("extract_join.full"):
        mat(ej.extract_mentions_join(src, inputs.word2ner, cfg, emit_text=False,
                                     langs=langs)).count()
    steps = sum(tr.seconds(f"extract_join.{s}") for s in ("flatten", "candidates", "resolve"))
    return {
        "extract_join.flatten_s": (tr.seconds("extract_join.flatten"), "s"),
        "extract_join.candidates": (n_cands, "count"),
        "extract_join.distinct_probes": (n_distinct, "count"),
        "extract_join.resolve_s": (tr.seconds("extract_join.resolve"), "s"),
        "extract_join.replay_s": (tr.seconds("extract_join.full") - steps, "s"),
    }


def _durable_probe(spark, tr, inputs, path, run_dir, stages, traced_hash) -> dict:
    """Write the chain's materialized stage outputs through the
    pipeline's durable stage writer, then ``run(resume=True)`` over them."""
    out_dir = os.path.join(run_dir, "trace_durable")
    writer = pipeline(spark, inputs, out_dir)
    with tr.span("pipeline.write"):
        for name, df in stages:
            writer._write_stage(name, df, time.time())
    resumer = pipeline(spark, inputs, out_dir)
    with tr.span("pipeline.resume"):
        out = resumer.run(read_pages(spark, path), resume=True)
        out.write.format("noop").mode("overwrite").save()
    skipped = sum(1 for s in resumer.metrics if s.resumed)
    if cluster_hash(out) != traced_hash:
        raise RuntimeError("resumed clusters differ from the traced chain's")
    return {
        "pipeline.write_s": (tr.seconds("pipeline.write"), "s"),
        "pipeline.bytes_written_per_input_byte": (
            _dir_bytes(out_dir) / _dir_bytes(path), "ratio"),
        "pipeline.stages_skipped_on_resume": (skipped, "count"),
        "pipeline.resume_s": (tr.seconds("pipeline.resume"), "s"),
    }


def parse_event_log(log_dir: str) -> tuple[dict[str, dict], int]:
    """Event log -> ({job group: {"jobs": n, "tasks": [(run s, shuffle
    read bytes, shuffle write bytes)]}}, total spilled bytes)."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[str, list] = {}
    spill = 0
    # Spark 4 writes a directory of rolled ``events_*`` files per app
    files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(log_dir)
        for f in fs
        if f.startswith("events_") or f.startswith("local-")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "bench"
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif ev == "SparkListenerTaskEnd":
                    tm = e.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    group = stage_group.get(e.get("Stage ID"), "bench")
                    tasks.setdefault(group, []).append((
                        tm.get("Executor Run Time", 0) / 1000.0,
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        sw.get("Shuffle Bytes Written", 0),
                    ))
    out = {
        group: {"jobs": jobs.get(group, 0), "tasks": tasks.get(group, [])}
        for group in set(jobs) | set(tasks)
    }
    return out, spill


def attach_event_log(m: dict, log_dir: str) -> None:
    """Add the per-layer event-log figures (summed over the layer's job
    groups) to ``m``."""
    groups, spill = parse_event_log(log_dir)
    for layer, fields in _LAYER_STATS.items():
        mine = [g for name, g in groups.items()
                if name.split(".")[0] == layer and name != "extract.passthrough"]
        tasks = [t for g in mine for t in g["tasks"]]
        run = [t[0] for t in tasks]
        figures = {
            "jobs": (sum(g["jobs"] for g in mine), "count"),
            "task_s": (sum(run), "s"),
            "task_max_s": (max(run, default=0.0), "s"),
            "task_median_s": (statistics.median(run) if run else 0.0, "s"),
            "shuffle_read_bytes": (sum(t[1] for t in tasks), "bytes"),
            "shuffle_write_bytes": (sum(t[2] for t in tasks), "bytes"),
        }
        for fld in fields:
            m[f"{layer}.{fld}"] = figures[fld]
    m["trace.spill_bytes"] = (spill, "bytes")
