"""Seeded input generator and workload definitions for the ER benchmark.

Every workload is a set of disjoint *slices* drawn from one seed: slice 0
warms the session up, slices 1.. are the timed passes. All slices share
the workload's entity catalog (``testgen.make_entities``), lexicon, truth and
embeddings (``testgen.make_embeddings``) and a Zipf-distributed filler
vocabulary of synthetic words, but no slice repeats another's texts, so
no timed pass is served by memo state an earlier pass left for the same
texts.

The program sees only the parquet files ``write_slices`` produces.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kawa_spark.config import PipelineConfig
from kawa_spark.testgen import LANGS, STOPFILL, make_embeddings, make_entities

_ONSETS = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl st tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
ZIPF_S = 1.1  # filler-token rank exponent
HOT_FRACTION = 0.3  # share of planted mentions that go to entity 0 (skew)
CORES = 4  # local[CORES]


@dataclass(frozen=True)
class Workload:
    """Sizes and config of one workload; why each was chosen is in
    ``BENCHMARK.json`` and ``README.md``."""

    name: str
    n_entities: int
    vocab_size: int
    texts_per_slice: int
    dup: int  # urls per distinct text
    fill: tuple[int, int] = (20, 60)  # filler tokens per text
    null_lang_share: float = 0.0
    cfg: PipelineConfig = field(default_factory=PipelineConfig)
    durable: bool = False  # timed passes write every stage under an out_dir
    partition_cols: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_dup",
            n_entities=90,
            vocab_size=3000,
            texts_per_slice=3200,
            dup=40,
            fill=(40, 120),
        ),
        Workload(
            name="durable_join",
            n_entities=300,
            vocab_size=15000,
            texts_per_slice=1500,
            dup=4,
            null_lang_share=0.02,
            cfg=PipelineConfig(extract_strategy="join", dedup_texts=True),
            durable=True,
            partition_cols=("lang",),
        ),
    )
}


def synthetic_vocab(n: int, rng: random.Random, taken: set[str]) -> list[str]:
    """``n`` distinct lowercase pseudo-words that collide with no entity
    token or stopword in ``taken``."""
    out: list[str] = []
    seen = set(taken)
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.randint(2, 4))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


@dataclass
class Inputs:
    """Everything one seed determines for one workload."""

    workload: Workload
    word2ner: list[list]
    truth: dict[str, int]
    embeddings: dict[str, np.ndarray]
    vocab: list[str]
    slices: list[pd.DataFrame]  # slice 0 = warm-up


def make_inputs(w: Workload, seed: int, n_slices: int) -> Inputs:
    # the catalog (entities, lexicon, truth, embeddings, filler vocabulary)
    # is fixed per workload; the seed draws the documents. Pairwise F1 is
    # dominated by the hot entity's variants, so a per-seed catalog would
    # make F1 a property of the draw rather than of the program.
    rng = random.Random(f"{w.name}:catalog")
    ents = make_entities(w.n_entities, rng)
    word2ner: list[list] = []
    truth: dict[str, int] = {}
    for ent in ents:
        for v in ent["variants"]:
            word2ner.append([v, ent["label"], 0.0, len(word2ner)])
            truth[v] = ent["entity_id"]
    emb = make_embeddings(ents, 32, rng)
    taken = {t.lower() for v in truth for t in v.split()} | set(STOPFILL)
    vocab = synthetic_vocab(w.vocab_size, rng, taken)
    # slice 0 only warms the session up: worker start and matcher builds
    # cost the same on a few texts as on a full slice
    warm_texts = 64
    slices = [
        _make_slice(w, seed, k, ents, vocab,
                    warm_texts if k == 0 else w.texts_per_slice)
        for k in range(n_slices)
    ]
    return Inputs(w, word2ner, truth, emb, vocab, slices)


def _make_slice(
    w: Workload, seed: int, k: int, ents: list[dict], vocab: list[str],
    n_texts: int,
) -> pd.DataFrame:
    rng = random.Random(f"{w.name}:{seed}:slice{k}")
    nprng = np.random.default_rng(rng.randrange(2**32))
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    latin = [e for e in ents if not any(ord(c) > 0x2E00 for c in e["variants"][0])]
    hot = ents[0]
    n_fill = [rng.randint(*w.fill) for _ in range(n_texts)]
    fill_all = nprng.choice(len(vocab), size=sum(n_fill), p=p)
    ends = np.cumsum(n_fill)
    texts, langs = [], []
    for t in range(n_texts):
        lang = LANGS[t % len(LANGS)]
        if rng.random() < w.null_lang_share:
            lang = None
        fill = fill_all[ends[t] - n_fill[t] : ends[t]]
        toks = [
            rng.choice(STOPFILL) if rng.random() < 0.25 else vocab[i]
            for i in fill
        ]
        for _ in range(rng.randint(1, 4)):
            pool = ents if lang == "zh" else latin
            ent = hot if rng.random() < HOT_FRACTION else pool[rng.randrange(len(pool))]
            v = ent["variants"][rng.randrange(len(ent["variants"]))]
            at = rng.randint(0, len(toks))
            toks[at:at] = v.split()
        texts.append(" ".join(toks))
        langs.append(lang)
    n = n_texts * w.dup
    text_idx = np.repeat(np.arange(n_texts), w.dup)
    order = nprng.permutation(n)
    text_idx = text_idx[order]
    base = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "url": [
                f"https://site{(i * 7919) % 97}.example/s{k}/d{i}" for i in range(n)
            ],
            "warc_ts": [base + dt.timedelta(seconds=37 * i) for i in range(n)],
            "text": [texts[j] for j in text_idx],
            "lang": [langs[j] for j in text_idx],
        }
    )


def write_slices(inputs: Inputs, root: str, files_per_slice: int = 8) -> list[str]:
    """One parquet directory per slice, ``files_per_slice`` files each."""
    paths = []
    for k, df in enumerate(inputs.slices):
        path = os.path.join(root, f"slice{k}")
        os.makedirs(path, exist_ok=True)
        for f, part in enumerate(np.array_split(np.arange(len(df)), files_per_slice)):
            table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
            pq.write_table(
                table, os.path.join(path, f"part-{f:03d}.parquet"),
                coerce_timestamps="us",
            )
        paths.append(path)
    return paths


def input_hash(inputs: Inputs) -> str:
    """sha1 over every slice's rows and the lexicon."""
    h = hashlib.sha1()
    for rec in inputs.word2ner:
        h.update(repr(rec).encode())
    for df in inputs.slices:
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def properties(inputs: Inputs) -> dict:
    """Input properties of a timed slice (all have the same shape),
    reported beside the metrics."""
    df = inputs.slices[1]
    filler = set(inputs.vocab)
    used = {tok for t in df["text"].unique() for tok in t.split() if tok in filler}
    return {
        "docs": int(len(df)),
        "distinct_text_share": round(df["text"].nunique() / len(df), 6),
        "lexicon_records": len(inputs.word2ner),
        "distinct_filler_tokens": len(used),
        "null_lang_share": round(float(df["lang"].isna().mean()), 6),
        "truth_size": len(inputs.truth),
    }
