"""Pipeline configuration. One dataclass, hashable for resume manifests."""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # extraction: run the Python matcher once per distinct
    # (lang, normalized text) and fan results back out to urls instead
    # of once per document — opt in for crawl-shaped corpora with heavy
    # exact duplication (see operators.extract.extract_mentions_dedup).
    # Changes the physical plan only; the mention row set is identical
    # (tests/test_extract_dedup.py).
    dedup_texts: bool = False
    # crawl-alias dedup: canonicalize urls to SURT keys before
    # extraction and keep one page per key (latest warc_ts wins; see
    # operators.urls.dedup_canonical). Opt in when the crawl carries
    # scheme/www/port/tracking-param alias re-crawls of one resource.
    # NOTE: applies to run() clustering only — extracted_text() stays
    # per-url (the byte-identity contract is keyed by raw url).
    canonical_urls: bool = False
    # extraction strategy: "broadcast" (default — word2ner broadcast,
    # per-executor cascade build; fastest below the max_rows guards) or
    # "join" — the map-side lexicon fallback for cascades too big to
    # hold per Python worker (~8.5M surface forms): membership resolves
    # via a distributed equi-join on (lang, level, prefix, bucket,
    # pattern) against the flattened cascade. Both run the one row
    # emitter of operators/extract.py, so the output is byte-equal
    # (tests/test_extract_join.py); extract_join.extractor_for is the
    # one selector that reads this field, for every pipeline surface.
    extract_strategy: str = "broadcast"
    # matcher
    connector: str = "_"
    compound_word_step: int = 3
    word_shingle_cutoff: int = 3
    seed: int = 42
    # blocking
    minhash_perms: int = 12
    minhash_bands: int = 6  # rows per band = perms // bands
    shingle_size: int = 3
    hot_key_threshold: int = 2000  # mentions per block key before triangle split
    hot_key_groups: int = 8
    max_pairs_per_key: int | None = None  # None = exact (triangle-partitioned)
    # CBS meta-blocking (opt-in, >1): a candidate pair must share at
    # least this many DISTINCT blocking keys to reach scoring — the
    # comparison-budget lever at 10^12 docs; rides the existing pair
    # dedup shuffle for free (operators/blocking.py:candidate_pairs).
    min_shared_keys: int = 1
    # opt-in Arrow-UDF key spaces (F16): double-metaphone primary or
    # secondary + Latin transliteration skeleton. Default off — the
    # native soundex/prefix/MinHash keys cover the Latin fast path
    # without Python workers in the blocking stage; enable for
    # cross-script corpora or higher phonetic recall.
    metaphone_keys: bool = False
    translit_keys: bool = False
    # scoring
    jw_weight: float = 0.4
    lev_weight: float = 0.3
    cos_weight: float = 0.3
    match_threshold: float = 0.82
    # opt-in Fellegi-Sunter edge selection: binarize the similarity
    # columns at the cuts below, fit m/u by EM on the bounded
    # (<=2^K-row) agreement-pattern table, and keep pairs whose log2
    # decision weight clears fs_threshold (0 = likelier match than
    # non-match under conditional independence) instead of the fixed
    # weighted-mean threshold. Default off — the reference-parity F1
    # contract is defined on the fixed formula.
    fs_scoring: bool = False
    fs_threshold: float = 0.0
    fs_jw_cut: float = 0.9
    fs_lev_cut: float = 0.75
    fs_cos_cut: float = 0.9
    # FS refinement (requires fs_scoring): treat an unevaluable cosine
    # comparison (no embedding for either surface) as a third MISSING
    # level contributing zero weight, instead of forcing it into the
    # disagree branch — the standard missing-data treatment; removes
    # the systematic penalty on pairs outside the embedding vocabulary.
    # EM runs on the three-level (<=3^K-row) pattern table
    # (operators/linkage.py:fellegi_sunter_em_levels).
    fs_missing_aware: bool = False
    # FS refinement (requires fs_scoring): add a first-token exact
    # agreement field whose AGREE weight is value-specific (Winkler's
    # frequency-based refinement): agreeing on a rare token is stronger
    # evidence than on a ubiquitous one, w_v = log2(m*(N-1)/(n_v-1))
    # with token frequencies from the surface table, broadcast onto the
    # pair stream. Disagree weight stays the EM field-level estimate.
    fs_value_specific: bool = False
    # clustering
    cc_max_iter: int = 20
    # clustering strategy: "cc" (default, reference-parity transitive
    # closure) or "star" (operators/star.py — diameter-2 star clusters,
    # the opt-in over-merge control: borderline matches cannot
    # daisy-chain distinct entities). "star" is structural (ignores
    # edge scores) and cannot honor must_link pairs, so ERPipeline
    # rejects that combination loudly; cannot_link composes (direct
    # edges dropped pre-clustering, residual violations split by the
    # same greedy repair).
    clustering: str = "cc"

    def fingerprint(self) -> str:
        return hashlib.sha1(
            json.dumps(asdict(self), sort_keys=True).encode()
        ).hexdigest()[:16]


DEFAULT_CONFIG = PipelineConfig()
