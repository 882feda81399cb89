"""The benchmark's calls into the program: warm-up, one pipeline pass,
its output checks, and the resume check."""

from __future__ import annotations

import time

from kawa_spark.operators.extract import extract_mentions, extract_mentions_dedup
from kawa_spark.operators.extract_join import extract_mentions_join
from kawa_spark.pipeline import ERPipeline
from kawa_spark.sources.pages import read_pages

from perfbench.checks import cluster_hash, surface_pairwise_f1

BYTE_SAMPLE = 24  # urls per pass whose extracted text is checked


def pipeline(spark, inputs, out_dir) -> ERPipeline:
    w = inputs.workload
    return ERPipeline(
        spark,
        inputs.word2ner,
        embeddings=inputs.embeddings,
        cfg=w.cfg,
        out_dir=out_dir,
        partition_cols=list(w.partition_cols),
    )


def run_pass(spark, inputs, path, out_dir):
    """One untraced pipeline pass to a noop sink -> (seconds, pipe,
    clusters, docs)."""
    docs = read_pages(spark, path)
    pipe = pipeline(spark, inputs, out_dir)
    t0 = time.perf_counter()
    clusters = pipe.run(docs)
    clusters.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, pipe, clusters, docs


def extractor(cfg):
    """The extraction call ``ERPipeline.run`` makes for ``cfg``."""
    inner = extract_mentions_join if cfg.extract_strategy == "join" else extract_mentions
    if cfg.dedup_texts:
        return lambda docs, w2n, cfg, **kw: extract_mentions_dedup(
            docs, w2n, cfg, _inner=inner, **kw)
    return inner


def warm_up(spark, inputs, path) -> None:
    """Start the Python worker pool and build every worker's matchers:
    the workload's extraction over the warm-up slice, to a noop sink."""
    cfg = inputs.workload.cfg
    extractor(cfg)(read_pages(spark, path), inputs.word2ner, cfg,
                   emit_text=False).write.format("noop").mode("overwrite").save()


def resume_check(spark, inputs, path, out_dir, ref_hash):
    """Second ``run(resume=True)`` over ``out_dir`` -> (resumed stages,
    clusters hash equal to ``ref_hash``)."""
    pipe = pipeline(spark, inputs, out_dir)
    out = pipe.run(read_pages(spark, path), resume=True)
    return [m.name for m in pipe.metrics if m.resumed], cluster_hash(out) == ref_hash


def check_pass(inputs, k, pipe, clusters, docs, oracle) -> dict:
    """Byte identity on a fixed url sample, pairwise F1, and (for a
    durable workload, whose resume must reproduce it) the cluster hash."""
    w = inputs.workload
    df = inputs.slices[k]
    sample = df.sort_values("url").iloc[:: max(1, len(df) // BYTE_SAMPLE)]
    return {
        "byte_mismatches": oracle.byte_identity(pipe, docs, sample.to_dict("records")),
        "f1": surface_pairwise_f1(clusters, inputs.truth, w.cfg),
        "hash": cluster_hash(clusters) if w.durable else None,
    }
