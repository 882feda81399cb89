"""Mention extraction as a vectorized Arrow stage — the one extraction core.

``documents (url, text, lang) -> mentions`` via ``mapInPandas``
(BASELINE.json:15: pandas/Arrow UDFs only — the per-document greedy
matcher is inherently sequential *within* a document
(SURVEY.md §4 X11), so we vectorize *across* documents: one Arrow batch
in, one matcher call per row).

Every extraction strategy runs on the same three pieces of this module:

* ``_prepared_docs`` — the doc preamble: whitespace normalization and a
  repartition up to the cluster's parallelism;
* ``_lexicon_matcher`` — the one lexicon resolver (``word2ner`` seed
  list or saved ``lexicon_path`` cascade): per row on the executors for
  the broadcast path, per language on the driver for the join path;
* ``_emit_mentions`` — the one row emitter: it tokenizes each row with
  the matcher its caller resolves and yields ``MENTION_SCHEMA`` frames
  (one sentinel row per document, the bounded norm memo).

``extract_mentions`` (broadcast lexicon, per-process cascade) and
``extract_join.extract_mentions_join`` (map-side lexicon, probes
resolved by a join) differ only in how a row gets its matcher;
``extract_mentions_dedup`` wraps either. ``extract_join.extractor_for``
is the one place a config selects among them.

The extracted text is byte-identical to the oracle
(kawa_spark.lexicon.matcher) by construction — same module — and the
pipeline defines the invariant on whitespace-normalized text (quirk Q2:
the reference's offsets assume single-space joining, so extraction is
only stable there; SURVEY.md Appendix A).

Plan shape: narrow map only — no shuffle. Filters/column pruning on the
document scan stay relational and reach the parquet reader.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import PipelineConfig
from ..lexicon.matcher import TRANNUM, KawaMatcher

MENTION_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("extracted_text", StringType()),
        StructField("mention", StringType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("label", StringType()),
        StructField("norm", StringType()),
    ]
)

# one matcher per (executor python process, lexicon fingerprint, lang)
_MATCHER_CACHE: dict[tuple, KawaMatcher] = {}


def _matcher_for(lang: str, word2ner: list, fp: str, cfg: PipelineConfig) -> KawaMatcher:
    key = (fp, lang)
    m = _MATCHER_CACHE.get(key)
    if m is None:
        m = KawaMatcher(
            lang,
            word2ner=[list(r) for r in word2ner],
            connector=cfg.connector,
            compound_word_step=cfg.compound_word_step,
            word_shingle_cutoff=cfg.word_shingle_cutoff,
            seed=cfg.seed,
        )
        _MATCHER_CACHE[key] = m
    return m


def _matcher_from_file(
    lang: str, path: str, cfg: PipelineConfig | None = None
) -> KawaMatcher:
    """Per-(path, lang) matcher loaded from a saved cascade (S5): the
    gzip-JSON artifact is read once per executor process per language —
    no per-job add_word2ner rebuild. ``path`` must be visible to the
    executors (shared FS / distributed cache via --files).

    The artifact carries the normalization params it was built with; if
    they disagree with the pipeline cfg the downstream blocking stage
    would silently mis-split norms (add_block_keys splits on
    cfg.connector), so a mismatch is an error, not a warning."""
    key = (path, lang)
    m = _MATCHER_CACHE.get(key)
    if m is None:
        m = KawaMatcher.load(path, target_lang=lang)
        _MATCHER_CACHE[key] = m
    if cfg is not None:
        for attr in ("connector", "compound_word_step", "word_shingle_cutoff"):
            if getattr(m, attr) != getattr(cfg, attr):
                raise ValueError(
                    f"saved lexicon {path!r} was built with {attr}="
                    f"{getattr(m, attr)!r} but the pipeline cfg has "
                    f"{getattr(cfg, attr)!r}; rebuild the lexicon or "
                    "align the cfg"
                )
    return m


def _lexicon_matcher(
    lang: str,
    word2ner: list | None,
    fp: str | None,
    lexicon_path: str | None,
    cfg: PipelineConfig,
) -> KawaMatcher:
    """The lexicon resolver: the cached full matcher for ``lang`` from
    the seed list when there is one, else from the saved cascade."""
    if word2ner is not None:
        return _matcher_for(lang, word2ner, fp, cfg)
    return _matcher_from_file(lang, lexicon_path, cfg)


def _lexicon_fingerprint(word2ner: list) -> str:
    h = hashlib.sha1()
    for rec in word2ner:
        h.update(("|".join(map(str, rec))).encode())
    return h.hexdigest()[:16]


def normalize_whitespace(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single-space the text (native, codegen'd) — defines the domain on
    which byte-identity holds (quirk Q2)."""
    return df.withColumn(
        text_col, F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    )


def _prepared_docs(
    docs: DataFrame, word2ner: list | None, lexicon_path: str | None
) -> DataFrame:
    """The doc preamble every extractor runs: (url, text, lang) with
    whitespace-normalized text, spread over the cluster's cores."""
    if word2ner is None and lexicon_path is None:
        raise ValueError("extraction needs word2ner or lexicon_path")
    docs = normalize_whitespace(docs.select("url", "text", "lang"))
    # extraction is the per-row hot stage; if the source arrived in fewer
    # splits than the cluster has cores (single small file, coalesced
    # upstream, ...) the narrow map would underuse the executors. At
    # scale the scan already yields >= parallelism splits and this is a
    # no-op check (no job is triggered — partition count is plan-time).
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < parallelism:
        docs = docs.repartition(parallelism)
    return docs


def _mention_schema(emit_text: bool) -> StructType:
    if emit_text:
        return MENTION_SCHEMA
    return StructType(
        [f for f in MENTION_SCHEMA.fields if f.name != "extracted_text"]
    )


def _emit_mentions(
    batches: Iterator[pd.DataFrame],
    matcher_for: Callable[..., KawaMatcher],
    emit_text: bool,
    extra_cols: tuple[str, ...] = (),
) -> Iterator[pd.DataFrame]:
    """The extraction row loop of every strategy. Each (url, text, lang)
    row is tokenized by ``matcher_for(lang or "", *extras)`` — ``extras``
    being the row's ``extra_cols`` values — and emitted as one
    ``_mention_schema(emit_text)`` row per mention. ``lang or ""`` is
    only the matcher key: rows keep the document's own ``lang``, NULL
    included."""
    # norm memo: surface forms repeat massively across a corpus
    # (Zipfian mentions), so canonical_word runs once per distinct
    # (lang, chunk) per worker process, not once per occurrence
    norm_cache: dict[tuple, str] = {}
    names = _mention_schema(emit_text).fieldNames()
    for pdf in batches:
        out: dict[str, list] = {name: [] for name in names}
        text_out = out.get("extracted_text")

        def emit(url, lang, text2, mention, start, end, label, norm):
            out["url"].append(url)
            out["lang"].append(lang)
            if text_out is not None:
                text_out.append(text2)
            out["mention"].append(mention)
            out["start"].append(start)
            out["end"].append(end)
            out["label"].append(label)
            out["norm"].append(norm)

        rows = zip(
            pdf["url"], pdf["text"], pdf["lang"], *(pdf[c] for c in extra_cols)
        )
        for url, text, lang, *extras in rows:
            key = lang or ""
            m = matcher_for(key, *extras)
            res = m.tokenize(text or "")
            # ONE sentinel row per document carries the extracted
            # text; mention rows do NOT repeat it (at 10^12 docs the
            # duplicated text column would dominate every downstream
            # shuffle/cache)
            if emit_text:
                emit(url, lang, res["text"], None, None, None, None, None)
            for (chunk, start, end), label in res["chunk2ner"].items():
                norm = norm_cache.get((key, chunk))
                if norm is None:
                    norm, _ = m.canonical_word(
                        chunk, suppress_cjk_tokenize=True, do_lower=True
                    )
                    norm = norm.translate(TRANNUM)
                    if len(norm_cache) >= 1_000_000:
                        # same worker-memory bound as the matcher's
                        # _probe_cache: high-cardinality vocabularies
                        # (CJK, digit-heavy) must not grow unbounded
                        norm_cache.clear()
                    norm_cache[(key, chunk)] = norm
                emit(url, lang, None, chunk, start, end, label, norm)
        yield pd.DataFrame(out)


def _with_mention_id(mentions: DataFrame) -> DataFrame:
    """Stable mention id (FIXTURES.md §4): sha1(url:start:mention) for
    mention rows, NULL for the per-document text sentinel rows. Kept in
    one place so the distinct-text path re-derives ids that are
    byte-equal to the per-document path's."""
    return mentions.withColumn(
        "mention_id",
        F.when(
            F.col("mention").isNotNull(),
            F.sha1(
                F.concat_ws(":", F.col("url"), F.col("start"), F.col("mention"))
            ),
        ),
    )


def _text_dedup_key(lang: Column, text: Column) -> Column:
    """Grouping key for the distinct-text extraction path: extraction
    depends only on (lang, whitespace-normalized text), so docs that
    agree on both produce identical mention sets. sha2-256 makes key
    collisions cryptographically negligible; NULL lang folds to '' —
    the matcher treats both as the '' language, so the merge is
    behavior-preserving, not lossy."""
    return F.sha2(
        F.concat_ws(
            "\x00", F.coalesce(lang, F.lit("")), F.coalesce(text, F.lit(""))
        ),
        256,
    )


def extract_mentions_dedup(
    docs: DataFrame,
    word2ner: list | None,
    cfg: PipelineConfig | None = None,
    emit_text: bool = True,
    lexicon_path: str | None = None,
    _inner=None,
) -> DataFrame:
    """``extract_mentions`` that runs the Python matcher ONCE per
    distinct (lang, normalized text) and fans results back out to every
    url — same output rows, ids included, as the per-document path
    (pinned by tests/test_extract_dedup.py).

    Why: Common-Crawl-style corpora carry heavy exact duplication
    (multi-snapshot re-crawls, mirrored pages, boilerplate-only urls).
    The per-row matcher is the pipeline's dominant cost (~0.4 ms/doc),
    so paying it per distinct text instead of per url short-circuits
    exactly the rows where the work is provably redundant.

    Scale shape (10^12 docs): one partial-aggregated shuffle keyed by
    text hash — the map-side min(struct) combiner keeps ONE text per
    key per map task, so the exchange carries ~distinct-texts rows, not
    the corpus; extraction then runs over the deduped set; the fan-out
    join shuffles only (tkey, url, lang) rows plus the narrow mention
    rows (AQE broadcasts the mention side when the distinct set is
    small). With no duplication it degrades to the per-document cost
    plus one hash exchange — opt in (cfg.dedup_texts) when the corpus is
    crawl-shaped."""
    cfg = cfg or PipelineConfig()
    docs = normalize_whitespace(docs.select("url", "text", "lang"))
    keyed = docs.withColumn(
        "tkey", _text_dedup_key(F.col("lang"), F.col("text"))
    )
    # each url keeps its OWN lang: the key folds NULL and '' together,
    # so the representative's lang may be the other spelling
    mapping = keyed.select("tkey", "url", "lang")
    reps = (
        keyed.groupBy("tkey")
        .agg(F.min(F.struct("url", "lang", "text")).alias("s"))
        .select(
            # ride the tkey through the inner extraction in the url slot:
            # extraction treats url as an opaque passthrough
            F.col("tkey").alias("url"),
            F.col("s.text").alias("text"),
            F.col("s.lang").alias("lang"),
        )
    )
    # ``_inner``: the per-representative extractor (default the
    # broadcast path; extract_join.extractor_for passes the join path
    # for cfg.extract_strategy="join")
    rep_out = (_inner or extract_mentions)(
        reps, word2ner, cfg, emit_text=emit_text, lexicon_path=lexicon_path
    ).drop("mention_id", "lang")
    rep_cols = [c for c in rep_out.columns if c != "url"]
    out = mapping.join(
        rep_out.withColumnRenamed("url", "tkey"), "tkey"
    ).select("url", "lang", *rep_cols)
    return _with_mention_id(out)


def extract_mentions(
    docs: DataFrame,
    word2ner: list | None,
    cfg: PipelineConfig | None = None,
    emit_text: bool = True,
    lexicon_path: str | None = None,
) -> DataFrame:
    """documents(url, text, lang, ...) -> one row per mention, plus one
    mention-null row per document so every url keeps its extracted text.

    ``emit_text=False`` drops the sentinel rows and the spliced-text
    column at the SOURCE (clustering never reads them): at 10^12 docs
    the text column would otherwise ride the Arrow stream and the stage
    cache only to be filtered later.

    The lexicon rides a Spark broadcast; matchers build lazily per
    executor process (heavy init done once, ontology_manager-style)."""
    cfg = cfg or PipelineConfig()
    docs = _prepared_docs(docs, word2ner, lexicon_path)
    # saved-cascade mode ships only the path; seed-list mode broadcasts
    fp = _lexicon_fingerprint(word2ner) if word2ner is not None else None
    bc = (
        docs.sparkSession.sparkContext.broadcast(word2ner)
        if word2ner is not None
        else None
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lexicon = bc.value if bc is not None else None
        return _emit_mentions(
            batches,
            lambda lang: _lexicon_matcher(lang, lexicon, fp, lexicon_path, cfg),
            emit_text,
        )

    return _with_mention_id(
        docs.mapInPandas(run, schema=_mention_schema(emit_text))
    )


def split_outputs(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(extracted(url, text), mentions-only) from the combined stream.

    Extraction emits exactly one sentinel row (mention IS NULL) per
    document carrying the spliced text, so both splits are shuffle-free
    filters over the same narrow stage."""
    extracted = mentions.filter(F.col("mention").isNull()).select(
        "url", F.col("extracted_text").alias("text")
    )
    only = mentions.filter(F.col("mention").isNotNull()).drop("extracted_text")
    return extracted, only
