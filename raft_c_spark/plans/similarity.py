"""Driver-facing similarity-search queries over ``embeddings``.

The query vector is the stored embedding of vec_id=0 (data-derived on
both sides, so Spark and the oracle rank the identical vector set).
Exact top-k, the LSH probe (integer-hash hyperplanes, replayed in
SQL) and int8 quantization are hash-oracled; IVF is rows-only
(k-means-dependent), recall-verified in tests.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.operators import similarity
from raft_c_spark.sources.testdata import corpus_paths, corpus_tags, load_table

TOP_K = 20


def _query_vec(spark, sf_dir) -> list[float]:
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])


def q_sim_topk_exact(spark, sf_dir):
    """Brute-force cosine top-20 against vec 0 — single scan,
    per-partition top-k merge (TakeOrderedAndProject), no full sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=TOP_K)


def q_sim_topk_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH approximate top-20 probing the
    PERSISTED bucket-partitioned signature index (built once per
    corpus, partition-pruned reads per query — the at-scale shape).
    Hash-oracled: the DuckDB oracle regenerates the hyperplanes and
    replays bucket membership + the exact-cosine top-k; recall vs
    exact and index-vs-inline equivalence additionally verified in
    tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_topk(
        emb,
        _query_vec(spark, sf_dir),
        k=TOP_K,
        bits=8,
        tables=16,
        cache_key=data_cache_key(sf_dir, "embeddings"),
    )


def q_sim_topk_ivf(spark, sf_dir):
    """IVF approximate top-20: seeded k-means coarse quantizer, probe
    the 4 nearest of 16 inverted lists, exact ranking inside.
    Hash-oracled: the fit (``lloyd_kmeans``), assignment
    (``nearest_list``) and probe are deterministic and
    partitioning-independent, so a pure-numpy replay off the raw
    parquet reproduces the centroids, candidate lists and cosines
    bit-for-bit — the oracle reads that pre-computed ground truth,
    keyed to the corpus by an exact integer fingerprint. Recall on
    planted clones additionally verified in tests/test_scale_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb,
        _query_vec(spark, sf_dir),
        k=TOP_K,
        n_lists=16,
        n_probe=4,
        cache_key=data_cache_key(sf_dir, "embeddings"),
    )


def q_sim_quantize_int8(spark, sf_dir):
    """Int8 scalar quantization of the whole embedding corpus (see
    similarity.quantize_int8) — per-vector scale plus scalar summary
    columns; md5 over the quantized ints pins byte-exactness."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb, "vec_id", "embedding")


QUERIES = {
    "sim_topk_exact": q_sim_topk_exact,
    "sim_topk_lsh": q_sim_topk_lsh,
    "sim_quantize_int8": q_sim_quantize_int8,
    # sim_topk_ivf registers via plans.extras (behind the driver's
    # 50-query correctness window): it is rows-only for the driver
    # either way (approximate, centroid-dependent) and pytest-pinned,
    # so its window slot goes to a hash-oracled query instead
}

_Q = "(SELECT embedding FROM embeddings WHERE vec_id = 0)"
_DOT = (
    f"list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)"
    f" FOR i IN range(1, len(e.embedding) + 1)])"
)
_NORM_E = (
    "sqrt(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)"
    " FOR i IN range(1, len(e.embedding) + 1)]))"
)
_NORM_Q = (
    "sqrt(list_sum([CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)"
    " FOR i IN range(1, len(q.qv) + 1)]))"
)

ORACLES = {
    "sim_quantize_int8": """
        WITH s AS (
            SELECT vec_id,
                   embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS maxabs
            FROM embeddings
        ),
        sc AS (
            SELECT vec_id, embedding,
                   CASE WHEN maxabs > 0 THEN 127.0 / maxabs
                        ELSE 0.0 END AS scale
            FROM s
        ),
        q AS (
            SELECT vec_id, scale,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * scale)
                                 AS INTEGER)) AS qv
            FROM sc
        )
        SELECT vec_id,
               len(qv) AS dim,
               scale,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               list_min(qv) AS q_min,
               list_max(qv) AS q_max,
               md5(array_to_string(qv, ',')) AS q_fp
        FROM q
    """,
    "sim_topk_exact": f"""
        SELECT e.vec_id AS doc,
               {_DOT} / ({_NORM_E} * {_NORM_Q}) AS cosine
        FROM embeddings e, (SELECT {_Q} AS qv) q
        ORDER BY cosine DESC, doc ASC
        LIMIT {TOP_K}
    """,
}


# dim=64 is the DRIVER DATA CONTRACT, pinned loudly by
# tests/test_data_contract.py (a regenerated corpus with another
# dim fails there, not silently here)
def _lsh_topk_oracle(bits: int = 8, tables: int = 16, dim: int = 64) -> str:
    """DuckDB replication of lsh_bucketed_topk(bits=8, tables=16):
    regenerate the hyperplanes from the shared md5 string key
    (plane_weight_sql — bit-identical to _hyperplane), signature per
    (vector, table), candidates = vectors sharing any (table, sig)
    with the query (vec_id 0) — exactly the buckets the
    partition-pruned index probe reads — then the same exact-cosine
    top-k as sim_topk_exact. The persisted index layout (sig_hi
    partitioning) is physical only; bucket membership is what it
    encodes."""
    from raft_c_spark.operators.similarity import plane_weight_sql

    return f"""
WITH pl AS (
  SELECT t.t, b.b, j.j,
         {plane_weight_sql('t.t', 'b.b', 'j.j')} AS w
  FROM (SELECT unnest(range(0, {tables})) AS t) t
  CROSS JOIN (SELECT unnest(range(0, {bits})) AS b) b
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) j
),
planes AS (
  SELECT t, b, list(w ORDER BY j) AS pw FROM pl GROUP BY t, b
),
sigs AS (
  SELECT e.vec_id AS doc, p.t,
         SUM(CASE WHEN list_sum([CAST(e.embedding[i] AS DOUBLE) * p.pw[i]
                                 FOR i IN range(1, {dim} + 1)]) > 0
                  THEN (1::BIGINT << p.b) ELSE 0 END) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
),
qsig AS (SELECT t, sig FROM sigs WHERE doc = 0),
cand AS (
  SELECT DISTINCT s.doc FROM sigs s JOIN qsig USING (t, sig)
)
SELECT e.vec_id AS doc,
       {_DOT} / ({_NORM_E} * {_NORM_Q}) AS cosine
FROM embeddings e JOIN cand ON cand.doc = e.vec_id,
     (SELECT {_Q} AS qv) q
ORDER BY cosine DESC, doc ASC
LIMIT {TOP_K}
"""


ORACLES["sim_topk_lsh"] = _lsh_topk_oracle()


#: bump when the IVF fit/probe parameters or the replay change
IVF_GT_VERSION = 1
IVF_LISTS, IVF_PROBE, IVF_SEED = 16, 4, 42

#: exact integer corpus fingerprint — floor(|x0|·1e6) summed over the
#: first embedding component: pure integer arithmetic off the same
#: float64 parquet values on both sides, so DuckDB selects the ground
#: truth matching whichever sf dir the harness registered (row counts
#: alone collide between sf0.001 and sf0.01)
_FP_SQL = (
    "SELECT CAST(SUM(CAST(FLOOR(ABS(CAST(embedding[1] AS DOUBLE)) * 1000000.0) "
    "AS BIGINT)) AS BIGINT) FROM embeddings"
)


def _corpus_fingerprint(mat) -> int:
    import numpy as np

    return int(np.floor(np.abs(mat[:, 0]) * 1e6).astype(np.int64).sum())


def _ivf_expected_rows() -> list[dict]:
    """Pure-numpy replay of q_sim_topk_ivf over every testdata corpus:
    same id-ordered fit matrix — including the xxhash64 %-denom fit
    sample above ``IVF_FIT_SAMPLE_CAP`` (replayed via
    ``functions.xxh.pmod_xxhash64_long``, pinned bit-exact against
    Spark's F.xxhash64 in tests) — same ``lloyd_kmeans``/
    ``nearest_list`` (shared code), same probe-selection arithmetic,
    and the same sequential-fold cosine as dot_fold/list_sum —
    bit-identical to the distributed pipeline, computed without
    Spark."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from raft_c_spark.functions.xxh import pmod_xxhash64_long
    from raft_c_spark.operators.similarity import (
        IVF_FIT_SAMPLE_CAP,
        lloyd_kmeans,
        nearest_list,
    )

    rows: list[dict] = []
    for path in corpus_paths("embeddings"):
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        ids = np.asarray(t["vec_id"].to_pylist(), dtype=np.int64)
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in t["embedding"].to_pylist()]
        )
        order = np.argsort(ids, kind="stable")  # the fit set is id-ordered
        ids, mat = ids[order], mat[order]
        fp = _corpus_fingerprint(mat)
        fit_mat = mat
        if len(ids) > IVF_FIT_SAMPLE_CAP:
            denom = (len(ids) + IVF_FIT_SAMPLE_CAP - 1) // IVF_FIT_SAMPLE_CAP
            keep = np.fromiter(
                (pmod_xxhash64_long(int(i), denom) == 0 for i in ids),
                dtype=bool,
                count=len(ids),
            )
            fit_mat = mat[keep]
        cent = lloyd_kmeans(fit_mat, IVF_LISTS, IVF_SEED)
        assign = nearest_list(mat, cent)
        qv = [float(x) for x in mat[ids == 0][0]]
        d2 = ((cent - np.asarray(qv, dtype=np.float64)) ** 2).sum(axis=1)
        probe = {int(i) for i in np.argsort(d2)[:IVF_PROBE]}
        qnorm = math.sqrt(sum(float(x) * float(x) for x in qv))
        scored = []
        for vid, lst, vec in zip(ids, assign, mat):
            if int(lst) not in probe:
                continue
            nacc, dacc = 0.0, 0.0
            for j, x in enumerate(vec):
                x = float(x)
                nacc += x * x
                dacc += x * qv[j]
            scored.append((int(vid), dacc / (math.sqrt(nacc) * qnorm)))
        scored.sort(key=lambda s: (-s[1], s[0]))
        rows += [
            {"corpus_fp": fp, "doc": vid, "cosine": cos}
            for vid, cos in scored[:TOP_K]
        ]
    return rows


def ivf_expected_parquet_path() -> str:
    """Ground-truth IVF top-k for every testdata corpus, keyed by the
    data files themselves (mtime+size) so regenerated testdata forces
    a fresh replay."""
    import pyarrow as pa

    from raft_c_spark.plans.multimodal import _ground_truth_parquet

    return _ground_truth_parquet(
        f"ivf_expected_v{IVF_GT_VERSION}_l{IVF_LISTS}_p{IVF_PROBE}"
        f"_s{IVF_SEED}_k{TOP_K}_{corpus_tags('embeddings')}.parquet",
        _ivf_expected_rows,  # thunk: only replayed on a cache miss
        [
            ("corpus_fp", pa.int64()),
            ("doc", pa.int64()),
            ("cosine", pa.float64()),
        ],
    )


def ivf_oracle_sql() -> str:
    """Ground-truth lookup keyed by corpus fingerprint, with a loud
    failure when the registered corpus has no precomputed ground truth
    (e.g. an sf dir outside the search roots) — an explicit error()
    instead of an empty-result hash mismatch."""
    gt = f"read_parquet('{ivf_expected_parquet_path()}')"
    return f"""
        SELECT doc, cosine FROM {gt} WHERE corpus_fp = ({_FP_SQL})
        UNION ALL
        SELECT CAST(error('no IVF ground truth for this embeddings corpus; '
                          'add its sf dir to the search roots '
                          '(sources/testdata.corpus_paths)') AS BIGINT),
               NULL
        WHERE NOT EXISTS (
            SELECT 1 FROM {gt} WHERE corpus_fp = ({_FP_SQL})
        )
    """


CLUSTER_K = 8


def q_sim_cluster_assign(spark, sf_dir):
    """Deterministic k-center cosine assignment (SemDeDup-style
    semantic clustering) — see similarity.cluster_assign for the
    hash-seeded center draw and the zero-shuffle argmax scale shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cluster_assign(emb, k=CLUSTER_K)


QUERIES["sim_cluster_assign"] = q_sim_cluster_assign

_SEED_DOT = (
    "list_sum([CAST(e.embedding[i] AS DOUBLE) * s.sv[i]"
    " FOR i IN range(1, len(e.embedding) + 1)])"
)
_SEED_NORM = (
    "sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)"
    " FOR i IN range(1, len(embedding) + 1)]))"
)

ORACLES["sim_cluster_assign"] = f"""
    WITH keyed AS (
        SELECT vec_id, embedding,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rank
        FROM embeddings
    ),
    seeds AS (
        SELECT rank, vec_id AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv,
               {_SEED_NORM} AS snorm
        FROM keyed WHERE rank <= {CLUSTER_K}
    ),
    scored AS (
        SELECT e.vec_id AS vec_id, s.cluster AS cluster,
               s.rank AS cluster_rank,
               {_SEED_DOT} / ({_NORM_E} * s.snorm) AS cosine
        FROM embeddings e CROSS JOIN seeds s
    )
    SELECT vec_id, cluster, CAST(cluster_rank AS INTEGER) AS cluster_rank,
           cosine
    FROM scored
    QUALIFY row_number() OVER (
        PARTITION BY vec_id ORDER BY cosine DESC, cluster_rank ASC
    ) = 1
"""


SEMDEDUP_T = 0.30  # same top-of-distribution bar as dedup_embedding


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup within-cluster embedding near-dup pairs (cluster
    first, compare inside clusters only) — see
    similarity.semantic_dedup_pairs for the candidate-count argument
    and the documented boundary-miss trade-off."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_pairs(
        emb, k=CLUSTER_K, threshold=SEMDEDUP_T
    )


QUERIES["dedup_semantic"] = q_dedup_semantic


def _pair_dot(ea: str, eb: str) -> str:
    return (
        f"list_sum([CAST({ea}.embedding[i] AS DOUBLE)"
        f" * CAST({eb}.embedding[i] AS DOUBLE)"
        f" FOR i IN range(1, len({ea}.embedding) + 1)])"
    )


def _pair_norm(e: str) -> str:
    return (
        f"sqrt(list_sum([CAST({e}.embedding[i] AS DOUBLE)"
        f" * CAST({e}.embedding[i] AS DOUBLE)"
        f" FOR i IN range(1, len({e}.embedding) + 1)]))"
    )


ORACLES["dedup_semantic"] = f"""
    WITH keyed AS (
        SELECT vec_id, embedding,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rank
        FROM embeddings
    ),
    seeds AS (
        SELECT rank, vec_id AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS sv,
               {_SEED_NORM} AS snorm
        FROM keyed WHERE rank <= {CLUSTER_K}
    ),
    scored AS (
        SELECT e.vec_id AS vec_id, s.cluster AS cluster,
               s.rank AS cluster_rank,
               {_SEED_DOT} / ({_NORM_E} * s.snorm) AS cosine
        FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, cluster FROM scored
        QUALIFY row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, cluster_rank ASC
        ) = 1
    )
    SELECT x.vec_id AS a, y.vec_id AS b, x.cluster AS cluster,
           {_pair_dot('ea', 'eb')} / ({_pair_norm('ea')} * {_pair_norm('eb')})
               AS cosine
    FROM assign x
    JOIN assign y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    JOIN embeddings ea ON ea.vec_id = x.vec_id
    JOIN embeddings eb ON eb.vec_id = y.vec_id
    WHERE {_pair_dot('ea', 'eb')} / ({_pair_norm('ea')} * {_pair_norm('eb')})
          >= {SEMDEDUP_T}
"""
