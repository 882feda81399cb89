"""Distinct-text extraction path (cfg.dedup_texts): the matcher runs
once per distinct (lang, normalized text) and the results fan back out
to every url. The contract is row-set identity with the per-document
path — urls, offsets, labels, norms, AND mention ids — on a corpus with
heavy exact duplication (the Common-Crawl shape the option targets).
"""

import pytest
from pyspark.sql import functions as F

from kawa_spark.config import PipelineConfig
from kawa_spark.operators.extract import (
    extract_mentions,
    extract_mentions_dedup,
)
from kawa_spark.pipeline import ERPipeline
from kawa_spark.testgen import corpus_to_pandas, generate


@pytest.fixture(scope="module")
def corpus():
    return generate(n_docs=60, n_entities=24, seed=7)


@pytest.fixture(scope="module")
def dup_docs_df(spark, corpus):
    """The 60 base docs plus two exact-duplicate crawls of each (same
    text+lang, new urls) and a whitespace-variant crawl that normalizes
    to the same text — 4x url multiplicity, 1x distinct texts."""
    docs, _, _, _ = corpus_to_pandas(corpus)
    base = docs[["url", "text", "lang"]]
    crawls = [base]
    for tag in ("recrawl1", "recrawl2"):
        c = base.copy()
        c["url"] = c["url"] + "#" + tag
        crawls.append(c)
    ws = base.copy()
    ws["url"] = ws["url"] + "#ws"
    ws["text"] = "  " + ws["text"].str.replace(" ", "  ", regex=False) + " "
    crawls.append(ws)
    import pandas as pd

    return spark.createDataFrame(pd.concat(crawls, ignore_index=True))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestDedupExtractEquality:
    def test_mention_rows_identical(self, spark, corpus, dup_docs_df):
        per_doc = extract_mentions(
            dup_docs_df, corpus.word2ner, emit_text=False
        )
        deduped = extract_mentions_dedup(
            dup_docs_df, corpus.word2ner, emit_text=False
        )
        assert per_doc.columns == deduped.columns
        assert _rows(per_doc) == _rows(deduped)

    def test_sentinel_text_rows_identical(self, spark, corpus, dup_docs_df):
        """emit_text=True: every url keeps its byte-identical extracted
        text sentinel row through the fan-out join."""
        per_doc = extract_mentions(dup_docs_df, corpus.word2ner).filter(
            F.col("mention").isNull()
        )
        deduped = extract_mentions_dedup(
            dup_docs_df, corpus.word2ner
        ).filter(F.col("mention").isNull())
        a = _rows(per_doc.select("url", "extracted_text"))
        b = _rows(deduped.select("url", "extracted_text"))
        assert a == b
        assert len(a) == dup_docs_df.count()

    def test_null_lang_matches_empty_lang(self, spark, corpus):
        """NULL lang and '' lang fold to the same matcher — the dedup
        key merges them, and the merged extraction must equal the
        per-document one for both spellings: each url keeps its own
        lang even when a doc of the other spelling shares its text."""
        docs, _, _, _ = corpus_to_pandas(corpus)
        two = docs[["url", "text"]].head(4).copy()
        two["lang"] = [None, "", None, ""]
        # the first NULL doc and the first '' doc share one text
        two.iloc[1, two.columns.get_loc("text")] = two["text"].iloc[0]
        df = spark.createDataFrame(two)
        a = _rows(extract_mentions(df, corpus.word2ner, emit_text=False))
        b = _rows(
            extract_mentions_dedup(df, corpus.word2ner, emit_text=False)
        )
        assert a == b
        shared = set(two["url"].iloc[:2])
        assert {(r[0], r[1]) for r in a if r[0] in shared} == {
            (two["url"].iloc[0], None), (two["url"].iloc[1], "")
        }

    def test_pipeline_clusters_identical(self, spark, corpus, dup_docs_df):
        """End-to-end: cfg.dedup_texts=True yields row-identical
        clusters (ids included) to the default path."""
        cols = ["url", "mention", "start", "end", "label", "norm",
                "mention_id", "cluster_id"]
        base_pipe = ERPipeline(spark, corpus.word2ner)
        base = _rows(base_pipe.run(dup_docs_df).select(*cols))
        base_pipe.unpersist()
        dd_pipe = ERPipeline(
            spark, corpus.word2ner, cfg=PipelineConfig(dedup_texts=True)
        )
        dd = _rows(dd_pipe.run(dup_docs_df).select(*cols))
        dd_pipe.unpersist()
        assert base == dd
