"""Driver queries for the BPE tokenizer (judge r9 ask #7):
``text_bpe_tokens`` (per-doc token counts under a corpus-derived
deterministic BPE vocab) and ``ds_pack_bpe`` (sequence packing by BPE
token budget instead of whitespace/char counts — what real
pre-training pipelines pack by).

Oracle strategy — the ``sim_topk_ivf`` ground-truth-parquet pattern:
the merge table is learned by an iterative algorithm no reasonable SQL
replays, so a pure-Python/pyarrow replay (same ``learn_merges`` /
``encode_word`` functions, pure-Python tokenizer twin) computes
per-doc counts for every testdata documents corpus, keyed by an exact
integer corpus fingerprint both engines compute from the same parquet;
DuckDB reads the ground truth and — for ``ds_pack_bpe`` — applies the
same windowed-cumsum packing SQL as ``ds_pack_sequences``, which
independently checks the distributed two-phase prefix sum against a
plain SQL window over the replayed counts.
"""

from __future__ import annotations

from collections.abc import Mapping

from raft_c_spark.operators import bpe, sampling
from raft_c_spark.sources.testdata import corpus_paths, corpus_tags, load_table

#: training/encode parameters (also baked into cache + ground-truth
#: keys via bpe.BPE_VERSION)
NUM_MERGES = 200
MAX_WORDS = 20_000
BPE_PACK_BUDGET = 1024

#: exact integer corpus fingerprint — pure integer arithmetic off the
#: same parquet columns on both sides (row counts alone collide
#: between sf dirs)
_FP_SQL = (
    "SELECT CAST(SUM((doc_id % 1000 + 1) * n_chars) AS BIGINT) "
    "FROM documents"
)


def replay_counts(path: str) -> list[dict]:
    """Pure-Python replay for ONE corpus: tokenize (twin regex), word
    counts, deterministic top-``MAX_WORDS`` slice (count desc, word
    asc — ties inside the slice boundary are resolved identically to
    the Spark orderBy/limit), ``learn_merges``, encode each distinct
    word once, then per-doc totals. Shares the exact training/encode
    code with the Spark path — the independence is in the data path
    (pyarrow re-read + pure-Python counts vs the distributed plan),
    which is what the hash compare certifies."""
    from collections import Counter

    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "text"])
    doc_ids = t["doc_id"].to_pylist()
    texts = t["text"].to_pylist()
    docs = [(i, bpe.tokenize_py(s)) for i, s in zip(doc_ids, texts)]

    wc: Counter = Counter()
    for _, toks in docs:
        wc.update(toks)
    table = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:MAX_WORDS]
    merges = bpe.learn_merges(table, NUM_MERGES)
    ranks = bpe.merge_ranks(merges)
    n_tok = {w: len(bpe.encode_word(w, ranks)) for w in wc}

    fp = corpus_fp_py(path)
    return [
        {
            "corpus_fp": fp,
            "doc_id": int(i),
            "n_words": len(toks),
            "n_bpe_tokens": sum(n_tok[w] for w in toks),
        }
        for i, toks in docs
    ]


def corpus_fp_py(path: str) -> int:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "n_chars"])
    return int(
        sum(
            (i % 1000 + 1) * c
            for i, c in zip(t["doc_id"].to_pylist(), t["n_chars"].to_pylist())
        )
    )


def expected_parquet_path() -> str:
    """Ground-truth per-doc BPE counts for every testdata documents
    corpus, keyed by the data files (mtime+size) + all params."""
    import pyarrow as pa

    from raft_c_spark.plans.multimodal import _ground_truth_parquet

    def _rows() -> list[dict]:
        out: list[dict] = []
        for p in corpus_paths("documents"):
            out += replay_counts(p)
        return out

    return _ground_truth_parquet(
        f"bpe_expected_v{bpe.BPE_VERSION}_m{NUM_MERGES}"
        f"_w{MAX_WORDS}_{corpus_tags('documents')}.parquet",
        _rows,
        [
            ("corpus_fp", pa.int64()),
            ("doc_id", pa.int64()),
            ("n_words", pa.int64()),
            ("n_bpe_tokens", pa.int64()),
        ],
    )


def bpe_counts_frame(spark, sf_dir: str):
    """Shared per-corpus (doc_id, n_words, n_bpe_tokens) frame: train
    (disk-cached merges) + encode + per-doc aggregate, materialized
    once per corpus via the lm-score/DSIR ``cached_parquet`` pattern —
    ``text_bpe_tokens`` and ``ds_pack_bpe`` read the same parquet (the
    bench's shared_cache_queries marker flags both)."""
    import os as _os

    from raft_c_spark.functions.diskcache import (
        cache_path,
        cached_parquet,
        data_cache_key,
    )

    ck = data_cache_key(sf_dir, "documents")
    key = f"bpecounts_{ck}_m{NUM_MERGES}_w{MAX_WORDS}_v{bpe.BPE_VERSION}"
    # hit-check BEFORE building: bpe_token_counts is construction-EAGER
    # (the measured-cap count runs a corpus job), so building it just
    # to have cached_parquet discard the frame would re-run that job on
    # every warm call — the lm-score pattern (reviewer r10)
    if _os.path.isdir(cache_path(key)):
        return spark.read.parquet(cache_path(key))
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.train_bpe(
        docs,
        "text",
        num_merges=NUM_MERGES,
        max_words=MAX_WORDS,
        cache_key=ck,
    )
    out = bpe.bpe_token_counts(docs, "doc_id", "text", merges)
    return cached_parquet(out, key)


def q_text_bpe_tokens(spark, sf_dir: str):
    """Per-document BPE token counts under the corpus-trained merge
    table — the length statistic real pipelines budget by."""
    return bpe_counts_frame(spark, sf_dir).orderBy("doc_id")


def q_ds_pack_bpe(spark, sf_dir: str):
    """Sequence packing by BPE token budget: the ``ds_pack_sequences``
    concat-and-chunk (two-phase distributed prefix sum, no global
    window) with ``n_bpe_tokens`` as the length column."""
    counts = bpe_counts_frame(spark, sf_dir)
    return sampling.pack_sequences(
        counts, "doc_id", "n_bpe_tokens", BPE_PACK_BUDGET
    ).select("doc_id", "n_bpe_tokens", "seq_start", "bin", "bin_offset")


QUERIES = {
    "text_bpe_tokens": q_text_bpe_tokens,
    "ds_pack_bpe": q_ds_pack_bpe,
}


def _gt() -> str:
    return f"read_parquet('{expected_parquet_path()}')"


def _oracles() -> dict[str, str]:
    gt = _gt()
    guard = f"""
        UNION ALL
        SELECT CAST(error('no BPE ground truth for this documents corpus; '
                          'add its sf dir to the search roots '
                          '(sources/testdata.corpus_paths)') AS BIGINT),
               NULL, NULL
        WHERE NOT EXISTS (
            SELECT 1 FROM {gt} WHERE corpus_fp = ({_FP_SQL})
        )
    """
    cum = (
        "SUM(n_bpe_tokens) OVER ("
        "ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        ") - n_bpe_tokens"
    )
    return {
        "text_bpe_tokens": f"""
            SELECT doc_id, n_words, n_bpe_tokens
            FROM {gt} WHERE corpus_fp = ({_FP_SQL})
            {guard}
        """,
        "ds_pack_bpe": f"""
            SELECT doc_id, n_bpe_tokens,
                   CAST({cum} AS BIGINT) AS seq_start,
                   CAST(({cum}) // {BPE_PACK_BUDGET} AS BIGINT) AS bin,
                   CAST(({cum}) % {BPE_PACK_BUDGET} AS BIGINT) AS bin_offset
            FROM {gt} WHERE corpus_fp = ({_FP_SQL})
            UNION ALL
            SELECT CAST(error('no BPE ground truth for this documents corpus; '
                              'add its sf dir to the search roots '
                              '(sources/testdata.corpus_paths)') AS BIGINT),
                   NULL, NULL, NULL, NULL
            WHERE NOT EXISTS (
                SELECT 1 FROM {gt} WHERE corpus_fp = ({_FP_SQL})
            )
        """,
    }


class _LazyOracles(Mapping):
    """Defer ground-truth materialization to first oracle access —
    importing the plans module must stay cheap and the bench (which
    never reads oracles) must never pay the replay. Deliberately NOT a
    dict subclass: ``dict.update`` takes a fast path over a dict
    subclass's internal storage that bypasses overridden accessors,
    which would copy the not-yet-filled empty table; over a Mapping it
    calls ``keys``/``__getitem__`` and triggers the fill."""

    def __init__(self) -> None:
        self._d: dict[str, str] | None = None

    def _fill(self) -> dict[str, str]:
        if self._d is None:
            # _oracles_all is defined below the class (module tail) —
            # resolved lazily at first access, never at import
            self._d = _oracles_all()
        return self._d

    def __getitem__(self, k: str) -> str:
        return self._fill()[k]

    def __iter__(self):
        return iter(self._fill())

    def __len__(self) -> int:
        return len(self._fill())


ORACLES = _LazyOracles()


MIX_BUDGET_FRAC = 0.5


def q_ds_token_budget_mix(spark, sf_dir: str):
    """Token-budget mixture planning over BPE counts: per-source
    sampling rates for a 50%-of-corpus token budget under raw weights
    (source index + 1), and the deterministic md5 selection — the
    recipe-planning step real pipelines run before materializing a
    training mix. See operators/sampling.token_budget_mix."""
    from pyspark.sql import functions as F

    counts = bpe_counts_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # digitless source names get raw weight 1 (regexp_extract returns
    # '' on no match, which CASTs to NULL in Spark but ERRORS in
    # DuckDB — both sides use the explicit empty-match branch)
    digits = F.regexp_extract(F.col("source"), r"(\d+)", 1)
    j = counts.join(docs, "doc_id").withColumn(
        "w",
        F.when(digits == "", F.lit(1)).otherwise(
            digits.cast("long") + 1
        ),
    )
    return sampling.token_budget_mix(
        j, "doc_id", "source", "n_bpe_tokens", "w",
        budget_frac=MIX_BUDGET_FRAC,
    ).orderBy("doc_id")


QUERIES["ds_token_budget_mix"] = q_ds_token_budget_mix


def _mix_oracle() -> str:
    gt = _gt()
    return f"""
        WITH g AS (
            SELECT doc_id, n_bpe_tokens FROM {gt}
            WHERE corpus_fp = ({_FP_SQL})
        ),
        j AS (
            SELECT g.doc_id, d.source, g.n_bpe_tokens,
                   CASE WHEN regexp_extract(d.source, '([0-9]+)', 1) = ''
                        THEN 1
                        ELSE CAST(regexp_extract(d.source, '([0-9]+)', 1)
                                  AS BIGINT) + 1
                   END AS w
            FROM g JOIN documents d USING (doc_id)
        ),
        per_src AS (
            SELECT source, SUM(n_bpe_tokens) AS src_tokens, MIN(w) AS w
            FROM j GROUP BY source
        ),
        tot AS (
            SELECT SUM(src_tokens) AS total_tokens, SUM(w) AS sum_w
            FROM per_src
        ),
        rates AS (
            SELECT source,
                   CASE WHEN src_tokens = 0 THEN 1.0
                        ELSE least(1.0,
                             (({MIX_BUDGET_FRAC!r}
                               * CAST(total_tokens AS DOUBLE))
                              * (CAST(w AS DOUBLE) / CAST(sum_w AS DOUBLE)))
                             / CAST(src_tokens AS DOUBLE))
                   END AS rate
            FROM per_src CROSS JOIN tot
        )
        SELECT j.doc_id, j.source,
               CAST(j.n_bpe_tokens AS BIGINT) AS n_bpe_tokens, r.rate,
               (CAST(CAST('0x' || substr(md5(CAST(j.doc_id AS VARCHAR)), 1, 6)
                          AS BIGINT) AS DOUBLE) / 16777216.0) < r.rate
                   AS selected
        FROM j JOIN rates r USING (source)
        UNION ALL
        SELECT CAST(error('no BPE ground truth for this documents corpus; '
                          'add its sf dir to the search roots '
                          '(sources/testdata.corpus_paths)') AS BIGINT),
               NULL, NULL, NULL, NULL
        WHERE NOT EXISTS (SELECT 1 FROM {gt} WHERE corpus_fp = ({_FP_SQL}))
    """


def _oracles_mix() -> dict[str, str]:
    base = _oracles()
    base["ds_token_budget_mix"] = _mix_oracle()
    return base


def q_text_bpe_compression(spark, sf_dir: str):
    """Per-language BPE compression audit: chars-per-token and
    tokens-per-word under the corpus-trained vocab — the tokenizer
    health metric multilingual curation tracks (a language whose
    bytes-per-token is far above the corpus mean is under-served by
    the vocab and over-pays its token budget).

    Scale shape: the shared per-corpus counts parquet joined to the
    documents projection on the unique doc key (one equi-join, AQE
    broadcasts the smaller side), then an L-row aggregate. Integer
    sums are exact; each ratio is one correctly-rounded double
    division rounded to 6 decimals (both engines)."""
    from pyspark.sql import functions as F

    counts = bpe_counts_frame(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return (
        counts.join(docs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_bpe_tokens").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_words",
            "total_tokens",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_tokens"),
                6,
            ).alias("chars_per_token"),
            F.round(
                F.col("total_tokens").cast("double")
                / F.col("total_words"),
                6,
            ).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


QUERIES["text_bpe_compression"] = q_text_bpe_compression


def _compression_oracle() -> str:
    gt = _gt()
    return f"""
        SELECT d.lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(g.n_words) AS BIGINT) AS total_words,
               CAST(SUM(g.n_bpe_tokens) AS BIGINT) AS total_tokens,
               round(CAST(SUM(d.n_chars) AS DOUBLE)
                     / SUM(g.n_bpe_tokens), 6) AS chars_per_token,
               round(CAST(SUM(g.n_bpe_tokens) AS DOUBLE)
                     / SUM(g.n_words), 6) AS tokens_per_word
        FROM {gt} g JOIN documents d USING (doc_id)
        WHERE g.corpus_fp = ({_FP_SQL})
        GROUP BY d.lang
        UNION ALL
        SELECT CAST(error('no BPE ground truth for this documents corpus; '
                          'add its sf dir to the search roots '
                          '(sources/testdata.corpus_paths)')
                    AS VARCHAR),
               NULL, NULL, NULL, NULL, NULL, NULL
        WHERE NOT EXISTS (SELECT 1 FROM {gt} WHERE corpus_fp = ({_FP_SQL}))
        ORDER BY lang
    """


def _oracles_all() -> dict[str, str]:
    base = _oracles_mix()
    base["text_bpe_compression"] = _compression_oracle()
    return base
