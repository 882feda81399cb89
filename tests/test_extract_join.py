"""Join-based extraction fallback (operators/extract_join.py) — the
map-side lexicon path for cascades too big to broadcast (VERDICT r04
ask #7). Pins: (1) the probe join reproduces ``in_lexicon`` exactly at
the unit level, (2) the full Spark output is BYTE-IDENTICAL to the
broadcast path on the multi-lang synthetic corpus, (3) the pipeline
with cfg.extract_strategy='join' yields the same clusters, (4) the
dedup_texts composition holds."""

from __future__ import annotations

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from kawa_spark.config import PipelineConfig
from kawa_spark.lexicon.matcher import KawaMatcher
from kawa_spark.operators.extract import extract_mentions
from kawa_spark.operators.extract_join import (
    _probe_matcher,
    _probe_sequence,
    extract_mentions_join,
    flatten_lexicon,
)
from kawa_spark.pipeline import ERPipeline
from kawa_spark.testgen import corpus_to_pandas, generate


@pytest.fixture(scope="module")
def corpus():
    return generate(n_docs=80, n_entities=20, seed=7)


@pytest.fixture(scope="module")
def docs_df(spark, corpus):
    docs, _, _, _ = corpus_to_pandas(corpus)
    return spark.createDataFrame(docs[["url", "text", "lang"]])


def _rowset(pdf):
    return set(map(tuple, pdf.fillna("∅").values.tolist()))


# ------------------------------------------------------------- unit ---


class TestProbeFaithfulness:
    def test_probe_sequence_matches_in_lexicon(self, corpus):
        """For every candidate-shaped word the corpus can produce, the
        min-prio hit of the flattened-table lookup must equal the real
        matcher's in_lexicon result — the exact contract the Spark join
        implements."""
        cfg = PipelineConfig()
        w2n = [list(r) for r in corpus.word2ner]
        for lang in ("en", "fr", ""):
            m = KawaMatcher(lang, word2ner=[list(r) for r in w2n])
            rows, bounds, n_levels = flatten_lexicon(m, lang)
            table = {}
            for _, level, prefix, bucket, pattern, label, person in rows:
                table.setdefault((level, prefix, bucket, pattern),
                                 (label, person))
            pm = _probe_matcher(lang, cfg)

            # probe words: every lexicon surface form, case variants,
            # multi-word windows, and misses
            words = [r[0] for r in w2n]
            words += [w.upper() for w in words[:10]]
            words += [w.lower() for w in words[:10]]
            words += [f"{a} {b}" for a, b in zip(words[:5], words[5:10])]
            words += ["definitely not a real entity", "the", "Zq1"]
            checked = 0
            for word in words:
                _, want = m.in_lexicon(word, suppress_cjk_tokenize=True)
                got = None
                best = None
                for prio, level, prefix, bucket, pattern, caps_ok in (
                    _probe_sequence(pm, word, n_levels)
                ):
                    hit = table.get((level, prefix, bucket, pattern))
                    if hit is None:
                        continue
                    label, person = hit
                    if not caps_ok and person:
                        continue
                    if best is None or prio < best:
                        best, got = prio, label
                assert got == want, (lang, word, got, want)
                checked += 1
            assert checked > 60

    def test_flatten_covers_all_levels(self, corpus):
        m = KawaMatcher("en", word2ner=[list(r) for r in corpus.word2ner])
        rows, bounds, n_levels = flatten_lexicon(m, "en")
        assert n_levels == len(m.ontology) and n_levels >= 1
        assert len(rows) > 0 and len(bounds) > 0
        # zone map agrees with the matcher's own bounds
        for p, (lo, hi) in list(bounds.items())[:20]:
            assert m._ngram_bounds(p) == (lo, hi)


# ------------------------------------------------------ spark-level ---


class TestByteIdentity:
    def test_join_path_byte_identical_to_broadcast(
        self, spark, corpus, docs_df
    ):
        cfg = PipelineConfig()
        w2n = [list(r) for r in corpus.word2ner]
        # NULL-lang copies of a few docs: both paths match them with the
        # '' matcher and must both emit the NULL lang unchanged
        docs, _, _, _ = corpus_to_pandas(corpus)
        null_lang = docs[["url", "text"]].head(6).copy()
        null_lang["url"] = null_lang["url"] + "#null-lang"
        null_lang["lang"] = None
        docs_in = docs_df.unionByName(
            spark.createDataFrame(null_lang, docs_df.schema)
        )
        a = extract_mentions(docs_in, w2n, cfg).toPandas()
        b = extract_mentions_join(docs_in, w2n, cfg).toPandas()
        assert list(a.columns) == list(b.columns)
        assert _rowset(a) == _rowset(b)
        # the corpus actually exercises multiple languages and mentions
        assert a["lang"].nunique() > 1
        assert a["mention"].notna().sum() > 0
        assert a["lang"].isna().sum() > len(null_lang)

    def test_emit_text_false_matches_too(self, spark, corpus, docs_df):
        cfg = PipelineConfig()
        w2n = [list(r) for r in corpus.word2ner]
        a = extract_mentions(docs_df, w2n, cfg, emit_text=False).toPandas()
        b = extract_mentions_join(
            docs_df, w2n, cfg, emit_text=False
        ).toPandas()
        assert _rowset(a) == _rowset(b)

    def test_join_path_deterministic(self, spark, corpus, docs_df):
        cfg = PipelineConfig()
        w2n = [list(r) for r in corpus.word2ner]
        a = extract_mentions_join(docs_df, w2n, cfg).toPandas()
        b = extract_mentions_join(docs_df, w2n, cfg).toPandas()
        assert _rowset(a) == _rowset(b)

    def test_first_result_survives_a_second_call(self, spark, corpus, docs_df):
        """A returned frame stays readable, with every row, after the
        next call materializes its own candidate checkpoint."""
        cfg = PipelineConfig()
        w2n = [list(r) for r in corpus.word2ner]
        first = extract_mentions_join(docs_df, w2n, cfg)
        want = _rowset(first.toPandas())
        extract_mentions_join(
            docs_df.filter(F.col("lang") == "en"), w2n, cfg
        ).count()
        assert _rowset(first.toPandas()) == want and len(want) > 0


class TestPipelineJoinStrategy:
    def test_cluster_equivalence(self, spark, corpus, docs_df):
        """The contract test: the flagship pipeline with the join
        extraction produces exactly the broadcast path's clusters."""
        w2n = [list(r) for r in corpus.word2ner]

        def clusters(cfg):
            pipe = ERPipeline(spark, word2ner=w2n, cfg=cfg)
            out = {
                (r["norm"], r["cluster_id"])
                for r in pipe.run(docs_df)
                .select("norm", "cluster_id")
                .distinct()
                .collect()
            }
            pipe.unpersist()
            return out

        base = clusters(PipelineConfig())
        joined = clusters(PipelineConfig(extract_strategy="join"))
        assert joined == base and len(base) > 0

    def test_dedup_texts_composes(self, spark, corpus, docs_df):
        w2n = [list(r) for r in corpus.word2ner]
        # duplicate some docs so dedup_texts has work to do
        dup = docs_df.union(
            docs_df.limit(10).withColumn(
                "url", F.concat(F.col("url"), F.lit("#dup"))
            )
        )
        base = extract_mentions(dup, w2n, PipelineConfig()).toPandas()
        pipe_cfg = PipelineConfig(dedup_texts=True, extract_strategy="join")
        pipe = ERPipeline(spark, word2ner=w2n, cfg=pipe_cfg)
        mentions = pipe.run(dup)
        got = {
            (r["url"], r["mention"], r["start"], r["label"])
            for r in mentions.select(
                "url", "mention", "start", "label"
            ).collect()
        }
        pipe.unpersist()
        want = {
            (r.url, r.mention, r.start, r.label)
            for r in base.itertuples()
            if r.mention == r.mention and r.mention is not None
        }
        assert got == want and len(got) > 0

    @pytest.mark.parametrize("dedup_texts", [False, True])
    def test_extracted_text_never_broadcasts_lexicon(
        self, spark, corpus, docs_df, monkeypatch, dedup_texts
    ):
        """The byte-identity surface follows extract_strategy: under
        "join" it ships no word2ner broadcast, and its text equals the
        broadcast strategy's."""
        w2n = [list(r) for r in corpus.word2ner]

        def texts(strategy):
            cfg = PipelineConfig(
                extract_strategy=strategy, dedup_texts=dedup_texts
            )
            pipe = ERPipeline(spark, word2ner=w2n, cfg=cfg)
            return {tuple(r) for r in pipe.extracted_text(docs_df).collect()}

        want = texts("broadcast")
        shipped = []
        real_broadcast = SparkContext.broadcast

        def spy(sc, value):
            shipped.append(value)
            return real_broadcast(sc, value)

        monkeypatch.setattr(SparkContext, "broadcast", spy)
        got = texts("join")
        assert not any(v is w2n or v == w2n for v in shipped)
        assert got == want and len(got) == docs_df.count()

    def test_rejects_unknown_strategy(self, spark, corpus):
        with pytest.raises(ValueError, match="extract_strategy"):
            ERPipeline(
                spark,
                word2ner=[list(r) for r in corpus.word2ner],
                cfg=PipelineConfig(extract_strategy="magic"),
            )


class TestJoinStrategyResume:
    def test_resume_skips_and_matches_with_join_extraction(
        self, spark, corpus, docs_df, tmp_path
    ):
        """Checkpoint/resume contract holds under the join strategy:
        a resumed run skips every stage and lands identical clusters."""
        cfg = PipelineConfig(extract_strategy="join")
        w2n = [list(r) for r in corpus.word2ner]
        out = str(tmp_path / "er_join")
        pipe = ERPipeline(spark, w2n, cfg=cfg, out_dir=out)
        first = pipe.run(docs_df).select("mention_id", "cluster_id").collect()
        pipe2 = ERPipeline(spark, w2n, cfg=cfg, out_dir=out)
        second = pipe2.run(docs_df, resume=True).select(
            "mention_id", "cluster_id"
        ).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second))
        assert all(m.resumed for m in pipe2.metrics), pipe2.metrics

    def test_config_fingerprint_distinguishes_strategies(self):
        a = PipelineConfig().fingerprint()
        b = PipelineConfig(extract_strategy="join").fingerprint()
        # resume manifests key on the fingerprint: a broadcast-run
        # checkpoint must never satisfy a join-strategy resume
        assert a != b
