"""Join-based mention extraction — the map-side lexicon fallback.

``extract_mentions`` (operators/extract.py) broadcasts the word2ner
seed list and holds one built ``KawaMatcher`` cascade per executor
Python process. At the reference's full scale (~8.5M surface forms,
/root/reference/ontology/ontology_manager.py builds the same cascade
in one process) that dictionary is hundreds of MB *per worker process*,
which is why the broadcast builders fail loudly past their ``max_rows``
guards (lexicon_etl.py:591). This module is the documented fallback,
now implemented: extraction as a distributed equi-join against the
flattened cascade, per SURVEY.md §2.3 J6 ("at scale: join mentions ↔
lexicon on (level, prefix, bucket, pattern)").

The decomposition rests on one structural fact: ``KawaMatcher.
in_lexicon`` is a *pure function of (target_lang, probe word string)*
— the greedy detector's sequential state (token consumption, offsets)
affects WHICH words get probed, never what a probe returns. So:

1. **Candidate windows** (narrow mapInPandas): per document, enumerate
   every window the greedy scan could probe, ignoring consumption (a
   superset — consumption only removes probes). Worker state is the
   tiny prefix→(lo,hi) zone map plus stopwords, NOT the pattern dicts.
2. **Distinct probes**: dedup candidates to distinct (lang, word) —
   Zipf-bounded vocabulary, the same effect as the matcher's
   ``_probe_cache`` but corpus-global.
3. **Probe keys**: for each distinct candidate, emit the exact probe
   sequence ``_in_lexicon`` would attempt — target-lang keys, then
   levels deepest-first with exact probes at the deepest level and the
   shingle variants per level — each key carrying its sequence rank.
4. **Equi-join** against the flattened per-lang cascade table on
   ``(lang, level, prefix, bucket, pattern)``; apply the caps/person
   gate row-wise; the winning label per candidate is
   ``min_by(label, prio)`` — the first hit of the sequential order.
   (The cascade is per-language because the build's leading-stopword
   strip is language-dependent — exactly like ``_matcher_for`` building
   one matcher per lang from the same word2ner.)
5. **Replay** (narrow mapInPandas): the broadcast path's row emitter
   (``extract._emit_mentions``) over the documents, each row's matcher
   being the REAL ``KawaMatcher.detect/tokenize`` with ``in_lexicon``
   overridden to a dict lookup of that document's resolved probes
   (``_ReplayMatcher``). Every quirk (Q1 final-token, Q2 offsets, Q6
   dot restore, Q7 unlabeled fusion, splice) and every emitted row
   (sentinel, norm, NULL lang) comes from the one shared
   implementation, so the output is byte-identical to the broadcast
   path whenever the probe join is faithful — pinned by
   tests/test_extract_join.py.

Scale shape (10^12 docs, 10^7-8 lexicon rows): two narrow maps over
documents, one distinct-shuffle on (lang, word) (partial-agg), one
shuffle equi-join keyed by (lang, level, prefix, bucket, pattern) —
skew bounded because a candidate emits one row per probe variant, not
per lexicon entry — one min_by aggregate, and one url-keyed join to
carry each document's resolved probes into the replay. No pattern
dictionary ever leaves the JVM/shuffle plane; Python workers hold only
the zone maps + stopwords + per-document lookup dicts.

Trade-off vs broadcast: ~4 extra exchanges and a second documents
pass, in return for O(1)-per-worker memory in the lexicon size. Use
when the cascade exceeds the broadcast guards (cfg.extract_strategy
= "join"); below them the broadcast path is faster. ``extractor_for``
at the end of this module is the one strategy selector every pipeline
surface extracts through.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import PipelineConfig
from ..lexicon.cjk import cjk_detect
from ..lexicon.matcher import _PERSON_LIKE, KawaMatcher
from .extract import (
    TRANNUM,
    _emit_mentions,
    _lexicon_fingerprint,
    _lexicon_matcher,
    _mention_schema,
    _prepared_docs,
    _with_mention_id,
    extract_mentions,
    extract_mentions_dedup,
)

# ---------------------------------------------------------------------
# cascade flattening (driver-side, one-time)
# ---------------------------------------------------------------------

PROBE_TABLE_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("level", IntegerType()),
        StructField("prefix", StringType()),
        StructField("bucket", IntegerType()),
        StructField("pattern", StringType()),
        StructField("label", StringType()),
        StructField("person_like", BooleanType()),
    ]
)


def flatten_lexicon(matcher: KawaMatcher, lang: str):
    """Built cascade -> (probe rows, prefix zone map, n_levels).

    Probe rows mirror the storage layout ``_in_lexicon`` reads:
    cascade levels keyed by (level index, prefix, bucket-dict index,
    pattern); the final exact-match level flattens identically (its
    records are ``[0, 0, {'*': ...}]`` = bucket 0, pattern '*');
    target-lang lexicon entries use level = -1. The zone map is the
    ``_ngram_bounds`` aggregate per prefix — O(distinct prefixes),
    small enough to broadcast at any lexicon scale (prefixes are
    cutoff-truncated first tokens)."""
    rows: list[tuple] = []
    prefixes: set[str] = set()
    for level, ontology in enumerate(matcher.ontology.values()):
        for prefix, rec in ontology.items():
            prefixes.add(prefix)
            for bi, patterns in enumerate(rec[2:]):
                for pattern, val in patterns.items():
                    labels = val[0]
                    rows.append(
                        (
                            lang,
                            level,
                            prefix,
                            bi,
                            pattern,
                            labels[0],
                            any(l in labels for l in _PERSON_LIKE),
                        )
                    )
    for word, label in matcher.target_lang_lexicon.items():
        rows.append((lang, -1, word, -1, "", label, False))
    bounds = {p: matcher._ngram_bounds(p) for p in prefixes}
    return rows, bounds, len(matcher.ontology)


# ---------------------------------------------------------------------
# per-process lexicon-FREE matcher (normalization + shingles only)
# ---------------------------------------------------------------------

_PM_CACHE: dict[tuple, KawaMatcher] = {}

def _probe_matcher(lang: str, cfg: PipelineConfig) -> KawaMatcher:
    key = (lang, cfg.connector, cfg.compound_word_step, cfg.word_shingle_cutoff)
    m = _PM_CACHE.get(key)
    if m is None:
        m = KawaMatcher(
            lang,
            word2ner=None,
            connector=cfg.connector,
            compound_word_step=cfg.compound_word_step,
            word_shingle_cutoff=cfg.word_shingle_cutoff,
            seed=cfg.seed,
        )
        _PM_CACHE[key] = m
    return m


class _ReplayMatcher(KawaMatcher):
    """KawaMatcher with the membership probe replaced by a dict of
    join-resolved results and the zone map by the broadcast bounds.
    ``detect``/``tokenize`` (and every quirk inside them) run the
    inherited, shared implementation unchanged."""

    def __init__(self, lang: str, cfg: PipelineConfig, bounds: dict):
        super().__init__(
            lang,
            word2ner=None,
            connector=cfg.connector,
            compound_word_step=cfg.compound_word_step,
            word_shingle_cutoff=cfg.word_shingle_cutoff,
            seed=cfg.seed,
        )
        self._join_bounds = bounds
        self.lookup: dict[str, str] = {}

    def _ngram_bounds(self, start_word: str):
        return self._join_bounds.get(start_word, (-1, 100000))

    def in_lexicon(self, word, connector=None, suppress_cjk_tokenize=False,
                   check_person_org_gpe_caps=True):
        return word, self.lookup.get(word)


# ---------------------------------------------------------------------
# phase 1: candidate windows (superset of the greedy scan's probes)
# ---------------------------------------------------------------------

_CAND_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("word", StringType()),
    ]
)


def candidate_windows(docs: DataFrame, cfg: PipelineConfig, bounds) -> DataFrame:
    """One row per DISTINCT (url, candidate window word). Mirrors the
    greedy scan of ``KawaMatcher.detect`` with consumption ignored:
    token consumption only removes probes, so this is a superset of the
    words the sequential matcher would send to ``in_lexicon``.

    ``bounds``: {lang: {prefix: (lo, hi)}} — a plain dict, or a Spark
    ``Broadcast`` of one (resolved lazily inside the task so the map
    ships once per executor, not once per closure)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_lang = bounds.value if hasattr(bounds, "value") else bounds
        for pdf in batches:
            urls: list[str] = []
            langs: list[str] = []
            words: list[str] = []
            for url, text, lang in zip(pdf["url"], pdf["text"], pdf["lang"]):
                lang = lang or ""
                pm = _probe_matcher(lang, cfg)
                bmap = by_lang.get(lang, {})
                text = text or ""
                if cjk_detect(text):
                    text = pm.cjk_text(text)
                sent = text.strip().split()
                len_sent = len(sent)
                seen: set[str] = set()
                cutoff = pm.word_shingle_cutoff
                for i in range(len_sent - 1):
                    start_word = sent[i].lower().lstrip(pm.strip_chars)
                    if start_word in pm.stopwords:
                        continue
                    start_word = start_word.translate(TRANNUM).split(
                        pm.connector
                    )[0]
                    if len(start_word) > cutoff:
                        start_word = start_word[:cutoff]
                    lo, hi = bmap.get(start_word, (-1, 100000))
                    if lo > 0:
                        for j in range(lo - 1, hi - 2, -1):
                            if len_sent - i > j:
                                word_arr = sent[i : i + 1 + j]
                                if not pm._has_nonstopword(word_arr):
                                    break
                                if word_arr[-1].lower() in pm.stopwords:
                                    continue
                                new_word = " ".join(word_arr).strip(
                                    pm.strip_chars
                                )
                                if new_word not in seen:
                                    seen.add(new_word)
                                    urls.append(url)
                                    langs.append(lang)
                                    words.append(new_word)
            yield pd.DataFrame({"url": urls, "lang": langs, "word": words})

    return docs.mapInPandas(run, schema=_CAND_SCHEMA)


# ---------------------------------------------------------------------
# phases 2-4: probe-key generation + the membership join
# ---------------------------------------------------------------------

_KEY_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("word", StringType()),
        StructField("prio", IntegerType()),
        StructField("level", IntegerType()),
        StructField("prefix", StringType()),
        StructField("bucket", IntegerType()),
        StructField("pattern", StringType()),
        StructField("caps_ok", BooleanType()),
    ]
)


def _probe_sequence(pm: KawaMatcher, word: str, n_levels: int):
    """The exact key sequence ``KawaMatcher._in_lexicon`` probes for
    ``word``, as (prio, level, prefix, bucket, pattern, caps_ok)
    tuples. ``caps_ok`` pre-evaluates the person/caps gate for this
    candidate: gate-exempt probes (target-lang level -1) always
    qualify; for cascade probes a person-like hit qualifies only when
    the candidate is caps (the join keeps a hit when
    ``caps_ok OR NOT person_like``)."""
    connector = pm.connector
    step = pm.compound_word_step
    is_cjk = cjk_detect(word) if pm.is_cjk < 0 else pm.is_cjk
    cword, word_arr = pm.canonical_word(
        word, connector, suppress_cjk_tokenize=True, do_lower=False
    )
    if not word_arr or not word_arr[0] or not word_arr[-1]:
        return
    is_caps = (
        word_arr[0][0] == word_arr[0][0].upper()
        and word_arr[-1][0] == word_arr[-1][0].upper()
    )
    lw = cword.lower()
    w0 = lw.translate(TRANNUM)
    prio = 0
    for probe in (lw, w0):
        yield (prio, -1, probe, -1, "", True)
        prio += 1
    if is_cjk:
        w1 = lw.replace(connector, "")
        w2 = w1.translate(TRANNUM)
        for probe in (w1, w2):
            yield (prio, -1, probe, -1, "", True)
            prio += 1
    lookup_len = len(word_arr) // (step + 1)
    bucket = min(3, lookup_len)
    for level in range(n_levels - 1, -1, -1):
        if level == n_levels - 1:
            exacts = (lw, w0) if not is_cjk else (
                lw.replace(connector, ""),
                lw.replace(connector, "").translate(TRANNUM),
            )
            for probe in exacts:
                if probe:
                    yield (prio, level, probe, 0, "*", is_caps)
                prio += 1
        for sh in pm._shingles(
            word_arr, cutoff=pm.level_cutoff(level), more_shingles=not is_cjk
        ):
            if sh:
                if len(sh) > 1:
                    pattern = "*" + connector + connector.join(sh[1:])
                else:
                    pattern = "*"
                yield (prio, level, sh[0], bucket, pattern, is_caps)
            prio += 1


def probe_keys(
    cands: DataFrame, cfg: PipelineConfig, n_levels_by_lang: dict[str, int]
) -> DataFrame:
    """Distinct (lang, word) candidates -> one row per probe attempt."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in _KEY_SCHEMA.fields}
            for lang, word in zip(pdf["lang"], pdf["word"]):
                lang = lang or ""
                pm = _probe_matcher(lang, cfg)
                n_levels = n_levels_by_lang.get(lang, 0)
                for prio, level, prefix, bucket, pattern, caps_ok in (
                    _probe_sequence(pm, word, n_levels)
                ):
                    out["lang"].append(lang)
                    out["word"].append(word)
                    out["prio"].append(prio)
                    out["level"].append(level)
                    out["prefix"].append(prefix)
                    out["bucket"].append(bucket)
                    out["pattern"].append(pattern)
                    out["caps_ok"].append(caps_ok)
            yield pd.DataFrame(out)

    return cands.mapInPandas(run, schema=_KEY_SCHEMA)


def resolve_probes(keys: DataFrame, lex_table: DataFrame) -> DataFrame:
    """Equi-join probe attempts against the cascade table, apply the
    caps/person gate, keep the first hit of each candidate's probe
    order. -> (lang, word, label)."""
    hits = keys.join(
        lex_table, ["lang", "level", "prefix", "bucket", "pattern"]
    ).filter(F.col("caps_ok") | ~F.col("person_like"))
    return hits.groupBy("lang", "word").agg(
        F.min_by("label", "prio").alias("label")
    )


# ---------------------------------------------------------------------
# phase 5: replay
# ---------------------------------------------------------------------


def extract_mentions_join(
    docs: DataFrame,
    word2ner: list | None,
    cfg: PipelineConfig | None = None,
    emit_text: bool = True,
    lexicon_path: str | None = None,
    langs: list[str] | None = None,
) -> DataFrame:
    """Drop-in for ``extract_mentions`` that never broadcasts the
    cascade: probes resolve via the distributed join above, the greedy
    detector replays per document with the results injected.

    The per-lang cascades are built (or loaded from ``lexicon_path``)
    ONCE on the driver — the same single-process build the reference
    performs — and only their FLATTENED tables enter the cluster.
    ``langs`` lists the corpus languages; when omitted it is derived
    with one bounded collect (distinct langs — at most a few hundred
    values on any real corpus). Output schema, mention ids, and
    sentinel rows match ``extract_mentions``: the replay runs the same
    row emitter, only each row's matcher differs.
    """
    cfg = cfg or PipelineConfig()
    docs = _prepared_docs(docs, word2ner, lexicon_path)
    spark = docs.sparkSession

    if langs is None:
        # bounded collect: distinct languages, not data rows
        langs = [
            r["lang"] or ""
            for r in docs.select("lang").distinct().collect()
        ]

    rows: list[tuple] = []
    bounds_by_lang: dict[str, dict] = {}
    n_levels_by_lang: dict[str, int] = {}
    fp = _lexicon_fingerprint(word2ner) if word2ner is not None else None
    for lang in sorted(set(langs)):
        m = _lexicon_matcher(lang, word2ner, fp, lexicon_path, cfg)
        lrows, lbounds, ln = flatten_lexicon(m, lang)
        rows.extend(lrows)
        bounds_by_lang[lang] = lbounds
        n_levels_by_lang[lang] = ln
    lex_table = spark.createDataFrame(rows, PROBE_TABLE_SCHEMA)
    bc_bounds = spark.sparkContext.broadcast(bounds_by_lang)

    # materialize once: the distinct-probe branch AND the per-url hit
    # join both read the candidates, and recomputing them means a
    # second full Python candidate scan over the corpus (measured
    # win in scripts/extract_join_bench.py)
    cands = candidate_windows(docs, cfg, bc_bounds).localCheckpoint(eager=True)
    distinct_cands = cands.select("lang", "word").distinct()
    keys = probe_keys(distinct_cands, cfg, n_levels_by_lang)
    winners = resolve_probes(keys, lex_table)

    per_url = (
        cands.join(winners, ["lang", "word"])
        .groupBy("url")
        .agg(F.collect_list(F.struct("word", "label")).alias("hits"))
    )
    joined = docs.join(per_url, "url", "left")

    def replay(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        by_lang = bc_bounds.value
        rm_cache: dict[str, _ReplayMatcher] = {}

        def matcher_for(lang: str, hits) -> _ReplayMatcher:
            rm = rm_cache.get(lang)
            if rm is None:
                rm = _ReplayMatcher(lang, cfg, by_lang.get(lang, {}))
                rm_cache[lang] = rm
            try:
                items = [] if hits is None else list(hits)
            except TypeError:  # NaN from the left join
                items = []
            rm.lookup = {h["word"]: h["label"] for h in items}
            return rm

        return _emit_mentions(batches, matcher_for, emit_text, ("hits",))

    return _with_mention_id(
        joined.mapInPandas(replay, schema=_mention_schema(emit_text))
    )


# ---------------------------------------------------------------------
# strategy selection
# ---------------------------------------------------------------------


def extractor_for(cfg: PipelineConfig):
    """The extractor ``cfg`` selects — the one place that reads
    ``cfg.extract_strategy``: the broadcast or join path, wrapped in the
    distinct-text path when ``cfg.dedup_texts``. Same call signature as
    ``extract_mentions``; every pipeline surface (``ERPipeline.run``,
    ``ERPipeline.extracted_text``, ``incremental_link``, streaming
    ingest) extracts through it."""
    inner = (
        extract_mentions_join
        if cfg.extract_strategy == "join"
        else extract_mentions
    )
    if cfg.dedup_texts:
        return partial(extract_mentions_dedup, _inner=inner)
    return inner
