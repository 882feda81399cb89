"""Deterministic synthetic ER corpus generator (FIXTURES.md).

Generates, from a single seed and with no wall-clock or network:

* ``documents`` — Common-Crawl-shaped pages
  (url, warc_ts, html, text, lang) per BASELINE.json:15; text is
  single-spaced word salad with planted entity mentions.
* ``word2ner``  — lexicon records [word, label, weight, idx] seeding the
  matcher (the reference's ontology.json.gz is absent).
* ``embeddings``— token -> L2-normalized float32 vector; same-entity
  variants share a centroid (cosine >= ~0.9), different entities are
  near-orthogonal.
* ``truth``     — surface form -> entity_id (gold for pairwise F1).

One designated hot entity owns ~30% of planted mentions (skew test).
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

import numpy as np

FILLER_VOCAB = (
    "alpha bravo copper delta echo forest gamma harbor index juliet kilo lumen "
    "meadow nickel onyx pixel quartz river stone timber umber velvet willow xenon "
    "yonder zephyr market garden window stream cloud valley bridge signal"
).split()

STOPFILL = "the and of in on a to for with is".split()

FIRST = [
    "Alice", "Robert", "Maria", "David", "Elena", "Marcus", "Sofia", "Viktor",
    "Nadia", "Pablo", "Ingrid", "Tomas", "Yara", "Felix", "Amara", "Dmitri",
    "Lucia", "Henrik", "Zara", "Omar",
]
LAST = [
    "Anderson", "Brennan", "Castillo", "Dortmund", "Eriksen", "Fontaine",
    "Gustavsson", "Havel", "Ibrahim", "Jankovic", "Kowalski", "Lindqvist",
    "Moretti", "Novak", "Okafor", "Petrov", "Quintana", "Rasmussen",
    "Silveira", "Tanaka",
]
ORG_HEAD = ["Global", "United", "Northern", "Pacific", "Stellar", "Vertex", "Quantum", "Summit"]
ORG_TAIL = ["Dynamics", "Industries", "Holdings", "Partners", "Systems", "Logistics", "Capital", "Labs"]
GPE = ["Kravenburg", "Solmara", "Vesteros", "Northaven", "Eldoria", "Zephyria", "Maristad", "Quillon"]
ZH_ENTS = ["北京大学", "上海交通大学", "清华大学"]

# typo tables: deterministic single-char substitutions (Levenshtein 1-2)
_TYPO = {"a": "e", "e": "a", "o": "0x"[0], "i": "y", "s": "z", "n": "m", "r": "l"}
# phonetic-equivalent respellings (soundex-preserving-ish)
_PHON = {"son": "sen", "ic": "ik", "qu": "kw", "ez": "es", "ff": "f"}

LANGS = ["en", "de", "es", "fr", "zh"]


@dataclass
class Corpus:
    documents: list[dict] = field(default_factory=list)
    word2ner: list[list] = field(default_factory=list)
    embeddings: dict[str, np.ndarray] = field(default_factory=dict)
    truth: dict[str, int] = field(default_factory=dict)  # surface -> entity_id
    entities: list[dict] = field(default_factory=list)


def _typo(word: str, rng: random.Random) -> str:
    chars = list(word)
    idxs = [i for i, c in enumerate(chars) if c.lower() in _TYPO and i > 0]
    if not idxs:
        return word + "e"
    i = idxs[rng.randrange(len(idxs))]
    chars[i] = _TYPO[chars[i].lower()]
    return "".join(chars)


def _phonetic(word: str) -> str:
    for src, dst in _PHON.items():
        if src in word.lower():
            i = word.lower().index(src)
            return word[:i] + dst + word[i + len(src) :]
    return word[:-1] + word[-1] * 2


def make_entities(n_entities: int, rng: random.Random) -> list[dict]:
    """Entity catalog with surface variants; variant strings are unique
    across entities (gold mapping is by surface form)."""
    ents: list[dict] = []
    seen: set[str] = set()
    for eid in range(n_entities):
        kind = ("PERSON", "ORG", "GPE")[eid % 3]
        if kind == "PERSON":
            base = f"{FIRST[eid % len(FIRST)]} {LAST[(eid * 7 + eid // len(FIRST)) % len(LAST)]}"
        elif kind == "ORG":
            base = (
                f"{ORG_HEAD[eid % len(ORG_HEAD)]} "
                f"{ORG_TAIL[(eid * 5 + eid // len(ORG_HEAD)) % len(ORG_TAIL)]}"
            )
        else:
            base = GPE[(eid // 3) % len(GPE)] + ("" if eid < 24 else f" {eid}")
        if base in seen:
            base = base + f" {eid}"
        variants = [base]
        first, _, rest = base.partition(" ")
        if rest:
            variants.append(f"{_typo(first, rng)} {rest}")
            variants.append(f"{first} {_phonetic(rest)}")
            if kind == "PERSON":
                variants.append(f"{first} {chr(65 + eid % 26)}. {rest}")
        else:
            variants.append(_typo(base, rng))
        variants = [v for v in variants if v not in seen]
        seen.update(variants)
        ents.append({"entity_id": eid, "label": kind, "variants": variants})
    # a few CJK entities exercise the CJK branch
    for k, z in enumerate(ZH_ENTS):
        ents.append({"entity_id": n_entities + k, "label": "ORG", "variants": [z]})
    return ents


def make_embeddings(ents: list[dict], dim: int, rng: random.Random) -> dict[str, np.ndarray]:
    """Token-level vectors: per-entity centroid + small noise, then
    L2-normalized (reference extract_word_embeddings.py:33-40 semantics)."""
    nprng = np.random.default_rng(rng.randrange(2**31))
    vecs: dict[str, np.ndarray] = {}
    for ent in ents:
        centroid = nprng.standard_normal(dim)
        centroid /= np.linalg.norm(centroid)
        for v in ent["variants"]:
            for tok in v.lower().replace(".", "").split():
                noisy = centroid + 0.15 * nprng.standard_normal(dim)
                vecs[tok] = (noisy / np.linalg.norm(noisy)).astype(np.float32)
    for tok in FILLER_VOCAB:
        r = nprng.standard_normal(dim)
        vecs[tok] = (r / np.linalg.norm(r)).astype(np.float32)
    return vecs


def generate(
    n_docs: int = 500,
    n_entities: int = 48,
    dim: int = 64,
    seed: int = 42,
    hot_fraction: float = 0.3,
) -> Corpus:
    rng = random.Random(seed)
    ents = make_entities(n_entities, rng)
    corpus = Corpus(entities=ents)

    idx = 0
    for ent in ents:
        for v in ent["variants"]:
            corpus.word2ner.append([v, ent["label"], 0.0, idx])
            corpus.truth[v] = ent["entity_id"]
            idx += 1

    corpus.embeddings = make_embeddings(ents, dim, rng)

    hot = ents[0]  # hot entity: ~hot_fraction of all planted mentions
    base_ts = _dt.datetime(2024, 1, 1)
    for d in range(n_docs):
        lang = LANGS[d % len(LANGS)]
        n_fill = rng.randint(20, 60)
        toks = [
            rng.choice(FILLER_VOCAB if rng.random() > 0.25 else STOPFILL)
            for _ in range(n_fill)
        ]
        n_mentions = rng.randint(1, 4)
        for _ in range(n_mentions):
            if rng.random() < hot_fraction:
                ent = hot
            else:
                ent = ents[rng.randrange(len(ents))]
            if lang != "zh" and any(ord(c) > 0x2E00 for c in ent["variants"][0]):
                ent = ents[rng.randrange(n_entities)]
            v = ent["variants"][rng.randrange(len(ent["variants"]))]
            at = rng.randint(0, len(toks))
            toks[at:at] = v.split()
        text = " ".join(toks)
        url = f"https://site{d % 17}.example/p/{d}"
        corpus.documents.append(
            {
                "url": url,
                "warc_ts": base_ts + _dt.timedelta(seconds=d * 37),
                "html": (f"<html><body><p>{text}</p></body></html>").encode("utf-8"),
                "text": text,
                "lang": lang,
            }
        )
    return corpus


def corpus_to_pandas(corpus: Corpus):
    """(documents_df, word2ner_df, embeddings_df, truth_df) as pandas."""
    import pandas as pd

    docs = pd.DataFrame(corpus.documents)
    w2n = pd.DataFrame(corpus.word2ner, columns=["word", "label", "weight", "idx"])
    emb = pd.DataFrame(
        {
            "token": list(corpus.embeddings.keys()),
            "vector": [v.tolist() for v in corpus.embeddings.values()],
        }
    )
    truth = pd.DataFrame(
        {"surface": list(corpus.truth.keys()), "entity_id": list(corpus.truth.values())}
    )
    return docs, w2n, emb, truth

