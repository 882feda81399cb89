"""Output checks run on every timed pass.

* ``surface_pairwise_f1``: the pairwise F1 of ``kawa_spark.eval`` (mention
  pairs that share a blocking key, both labelled), computed per surface
  form with ``n_a * n_b`` mention-count weights. Blocking keys are a
  function of the norm, so every mention of a surface shares the same
  keys and cluster; a mention-level self-join of the hot entity's keys
  is not needed.
* ``byte_identity``: ``ERPipeline.extracted_text`` on a fixed url sample
  equals a driver-side ``KawaMatcher.tokenize``.
* ``cluster_hash``: order-free fingerprint of (mention_id, cluster_id).
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kawa_spark.config import PipelineConfig
from kawa_spark.lexicon.matcher import KawaMatcher
from kawa_spark.operators.blocking import add_block_keys


def surface_counts(clusters: DataFrame, truth: dict[str, int], cfg: PipelineConfig):
    """clusters(norm, cluster_id, ...) -> ({norm: (n, cluster, entity)},
    {norm: [block keys]}) for the labelled surfaces."""
    surf = clusters.groupBy("norm", "cluster_id").agg(F.count("*").alias("n"))
    keyed = add_block_keys(
        surf.select(F.col("norm").alias("mention_id"), "norm"), cfg
    )
    gold = {s.lower(): e for s, e in truth.items()}
    rows = {}
    for r in surf.collect():
        ent = gold.get(r["norm"].replace("_", " "))
        if ent is not None:
            rows[r["norm"]] = (r["n"], r["cluster_id"], ent)
    keys = defaultdict(list)
    for r in keyed.select("norm", "block_key").collect():
        if r["norm"] in rows:
            keys[r["block_key"]].append(r["norm"])
    return rows, keys


def surface_pairwise_f1(
    clusters: DataFrame, truth: dict[str, int], cfg: PipelineConfig
) -> dict:
    rows, keys = surface_counts(clusters, truth, cfg)
    tp = fp = fn = 0
    for n, _, _ in rows.values():
        tp += n * (n - 1) // 2  # same norm: same cluster, same entity
    seen: set[tuple[str, str]] = set()
    for norms in keys.values():
        for a, b in combinations(sorted(set(norms)), 2):
            if (a, b) in seen:
                continue
            seen.add((a, b))
            (na, ca, ea), (nb, cb, eb) = rows[a], rows[b]
            w = na * nb
            if ca == cb and ea == eb:
                tp += w
            elif ca == cb:
                fp += w
            elif ea == eb:
                fn += w
    p = tp / (tp + fp) if tp + fp else 1.0
    r = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": p, "recall": r, "f1": f1}


def cluster_hash(clusters: DataFrame) -> tuple[int, int]:
    row = clusters.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(mention_id, cluster_id))").alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


class Oracle:
    """Driver-side matchers, one per language, built on first use."""

    def __init__(self, word2ner: list, cfg: PipelineConfig):
        self.word2ner = word2ner
        self.cfg = cfg
        self._matchers: dict[str, KawaMatcher] = {}

    def matcher(self, lang: str | None) -> KawaMatcher:
        key = lang or ""
        m = self._matchers.get(key)
        if m is None:
            m = KawaMatcher(
                key,
                word2ner=[list(r) for r in self.word2ner],
                connector=self.cfg.connector,
                compound_word_step=self.cfg.compound_word_step,
                word_shingle_cutoff=self.cfg.word_shingle_cutoff,
                seed=self.cfg.seed,
            )
            self._matchers[key] = m
        return m

    def byte_identity(self, pipe, docs: DataFrame, sample: list[dict]) -> list[str]:
        """Urls in ``sample`` whose extracted text differs from the
        driver matcher's (missing urls count as different)."""
        urls = [d["url"] for d in sample]
        got = {
            r["url"]: r["text"]
            for r in pipe.extracted_text(docs.filter(F.col("url").isin(urls))).collect()
        }
        return [
            d["url"]
            for d in sample
            if got.get(d["url"]) != self.matcher(d["lang"]).tokenize(d["text"])["text"]
        ]
