"""Training-data pipeline query corpus: dedup (exact / n-gram Jaccard /
MinHash-LSH / SimHash / embedding), similarity search (brute-force, LSH,
IVF), text analysis (tokens, quality, language ID, fingerprints), and
multimodal binary-column plumbing.

Oracle strategy: every registered query is oracle-gated bit-exactly —
all math is pinned to integers (quantized dots, shingle counts,
micro-ratios, integer hashes), so the DuckDB oracle replays sketches
(MinHash, SimHash), LSH/IVF probes, and mapInPandas decodes value-for-
value; there are no rows-only entries left in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_spark.catalog import load_table
from tidb_spark.data import dedup as dd
from tidb_spark.data import kmeans as km
from tidb_spark.data import multimodal as mm
from tidb_spark.data import similarity as sim
from tidb_spark.data import text as tx
from tidb_spark.queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# DuckDB expression mirroring dd.normalize_text.
_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


# --------------------------------------------------------------------------
# Dedup.

DEDUP_EXACT_ORACLE = f"""
SELECT md5({_NORM}) AS fingerprint,
       MIN(doc_id)  AS canonical_id,
       COUNT(*)     AS dup_count
FROM documents
GROUP BY fingerprint
ORDER BY fingerprint
"""


@register("dedup_exact", oracle=DEDUP_EXACT_ORACLE, tags=("dedup",))
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized-text fingerprint (one
    shuffle); canonical row = min doc_id."""
    docs = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(docs, "text", "doc_id").orderBy("fingerprint")


DEDUP_NGRAM_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([substr(n, i, 8) FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM (SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200)
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.s, b.s)) AS c, len(a.s) AS n1, len(b.s) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(c AS DOUBLE) / (n1 + n2 - c) AS jaccard
FROM pairs
WHERE CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.2
ORDER BY d1, d2
"""


@register("dedup_ngram_jaccard", oracle=DEDUP_NGRAM_ORACLE, tags=("dedup",))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-gram Jaccard near-dup pairs via shingle inverted-index join
    (the scale path — no all-pairs comparison); the oracle cross-checks with
    an all-pairs list_intersect on the same restricted doc set."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=8, threshold=0.2, max_posting=None
    ).orderBy("d1", "d2")


DEDUP_CLUSTER_ORACLE = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct([substr(n, i, 8) FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM (SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200)
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.s, b.s)) AS c, len(a.s) AS n1, len(b.s) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
good AS (
  SELECT d1, d2 FROM pairs
  WHERE CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.2
),
edges AS (
  SELECT d1 AS a, d2 AS b FROM good
  UNION
  SELECT d2 AS a, d1 AS b FROM good
),
reach(n, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.n, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
comp AS (SELECT n AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY n),
sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT comp.doc_id, comp.canonical_id, sizes.cluster_size
FROM comp JOIN sizes USING (canonical_id)
ORDER BY doc_id
"""


@register("dedup_cluster", oracle=DEDUP_CLUSTER_ORACLE, tags=("dedup",))
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: transitive closure of the exact
    8-gram-Jaccard near-dup pairs → (doc_id, canonical_id = min id in
    cluster, cluster_size).  Connected components run as a
    partition-local union-find contraction, then large-star/small-star
    rounds (one groupBy + one join each — the 100 TB shape) until the
    edge set is a star forest (`data/cluster.py`); the oracle walks the
    same edges with DuckDB's recursive CTE, the reference's own
    formulation of reachability (its recursive-CTE executor)."""
    from tidb_spark.data import cluster as cl

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=8, threshold=0.2, max_posting=None
    ).select("d1", "d2")
    return cl.duplicate_clusters(pairs).orderBy("doc_id")


DEDUP_MINHASH_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, list_distinct([substr(n, i, 8) FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM (SELECT doc_id, {_NORM} AS n FROM documents)
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.s, b.s)) AS c, len(a.s) AS n1, len(b.s) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT d1, d2, CAST(c AS DOUBLE) / (n1 + n2 - c) AS jaccard
FROM pairs WHERE CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.2
ORDER BY d1, d2
"""


@register("dedup_minhash_lsh", oracle=DEDUP_MINHASH_ORACLE, tags=("dedup", "approx"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) candidate pairs verified at exact
    Jaccard ≥ 0.2.  Oracle: DuckDB ALL-PAIRS Jaccard at the same threshold —
    exact for this fixture because its ≥0.2 pairs are planted near-dups
    (J ≈ 1) that 8 bands × 4 rows catch with probability ~1; the verified
    jaccard itself is |∩|/|∪| of identical shingle sets on both sides, so
    values hash-match bit-exactly (empirically 25/25 pairs, Δj = 0.0 at
    sf0.01).  A borderline-J corpus would make banding probabilistic again —
    then this row legitimately reverts to rows-only."""
    docs = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_pairs(
        docs, "text", "doc_id", k=8, num_hashes=32, bands=8, verify_threshold=0.2
    ).orderBy("d1", "d2")


def _simhash_oracle(bits: int = 32, chunks: int = 4, max_hamming: int = 6) -> str:
    """Generated DuckDB mirror of simhash_pairs with md5 token hashes:
    per-bit ±1 vote sums → signature → chunk-band join → Hamming filter —
    the same banding the Spark operator runs, so candidacy is identical."""
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(bits)
    )
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_list = "[" + ", ".join(str(i) for i in range(chunks)) + "]"
    return f"""
WITH tok AS (
  SELECT doc_id AS doc, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, {_NORM} AS n FROM documents),
       UNNEST(string_split(n, ' ')) AS u(t)
),
votes AS (SELECT doc, {votes} FROM tok GROUP BY doc),
sig AS (SELECT doc, {sig} AS sig FROM votes),
chunks AS (
  SELECT doc, sig, c AS chunk_id, (sig >> (c * {chunk_bits})) & {mask} AS chunk_val
  FROM sig, UNNEST({chunk_list}) AS t(c)
),
pairs AS (
  SELECT DISTINCT a.doc AS d1, b.doc AS d2,
         CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
  WHERE a.doc < b.doc
)
SELECT d1, d2, hamming FROM pairs WHERE hamming <= {max_hamming}
ORDER BY d1, d2
"""


@register("dedup_simhash", oracle=_simhash_oracle(bits=48), tags=("dedup",))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(48-bit) near-dup pairs at Hamming ≤ 6 via banded chunks.
    Token hashes are md5-derived integers (bit-identical in any engine),
    so signatures, banding, AND Hamming distances are oracle-checked.

    48/4 = 12-bit chunks → 4096 buckets per band: the sizing rule in
    ``simhash_pairs`` (2^chunk_bits ≳ n_docs) holds through sf1's 50 k
    docs.  The r4 setting (32/4 = 256 buckets) went quadratic at the sf1
    scale probe — 29.7× runtime at 10× data — because every bucket held
    ~n/256 docs and the band join cross-products buckets."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_pairs(
        docs, "text", "doc_id", bits=48, chunks=4, max_hamming=6, hash="md5"
    ).orderBy("d1", "d2")


EMBED_NEARDUP_ORACLE = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS norm2
  FROM q
),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) AS BIGINT) AS dot,
         a.norm2 AS na2, b.norm2 AS nb2
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT v1, v2, dot
FROM pairs
WHERE dot > 0 AND dot * dot * 25 >= 4 * na2 * nb2
ORDER BY v1, v2
"""


def _lsh_verified_oracle(
    dim: int = 64,
    tables: int = 8,
    scale: int = 1000,
    num2: int = 4,
    den2: int = 25,
) -> str:
    """DuckDB mirror of dedup_lsh_verified, generated from the SAME
    quantized plane constants the Spark bucketer uses (lsh_plane_ints) so
    candidacy cannot drift: candidates are pairs co-bucketed in any
    table, verification is the exact integer cosine algebra of
    embedding_neardup.  Buckets hash the 1e6-quantized vector (the
    lsh_bucket contract); verification uses the neardup family's 1e3
    quantization.

    planes scales with the corpus (sim.lsh_planes_for — 8/12/16 at the
    4096/65536 thresholds), so the oracle carries one guarded candidate
    branch per setting and activates exactly the one the engine picks
    for the corpus COUNT(*); the dead branches' guards are constant
    scalar subqueries."""
    branches = []
    guards = {
        8: "(SELECT COUNT(*) FROM embeddings) <= 4096",
        12: "(SELECT COUNT(*) FROM embeddings) > 4096 AND (SELECT COUNT(*) FROM embeddings) <= 65536",
        16: "(SELECT COUNT(*) FROM embeddings) > 65536",
    }
    bsql = {}
    for planes in (8, 12, 16):
        bucket_cols = []
        for t in range(tables):
            rows = sim.lsh_plane_ints(dim, planes=planes, table=t)
            bits = []
            for j, row in enumerate(rows):
                consts = "[" + ", ".join(str(c) for c in row) + "]"
                d = (
                    "CAST(list_sum(list_transform(list_zip(bqv, "
                    + consts
                    + "), p -> p[1] * p[2])) AS BIGINT)"
                )
                bits.append(f"CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END")
            bucket_cols.append("(" + " + ".join(bits) + f") AS b{t}")
        bsql[planes] = ",\n         ".join(bucket_cols)
        joins = " OR ".join(f"x.b{t} = y.b{t}" for t in range(tables))
        branches.append(f"""
  SELECT x.vec_id AS v1, y.vec_id AS v2,
         CAST(list_sum(list_transform(list_zip(x.qv, y.qv), p -> p[1] * p[2])) AS BIGINT) AS dot,
         x.n2 AS na2, y.n2 AS nb2
  FROM bk{planes} x JOIN bk{planes} y ON x.vec_id < y.vec_id AND ({joins})
  WHERE {guards[planes]}""")
    bucket_ctes = ",\n".join(
        f"""bk{planes} AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2,
         {bsql[planes]}
  FROM raw
  WHERE {guards[planes]}
)"""
        for planes in (8, 12, 16)
    )
    all_branches = "\n  UNION ALL\n".join(branches)
    return f"""
WITH raw AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS bqv,
         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qv
  FROM embeddings
),
{bucket_ctes},
cand AS (
{all_branches}
)
SELECT v1, v2, dot
FROM cand
WHERE dot > 0 AND dot * dot * {den2} >= {num2} * na2 * nb2
ORDER BY v1, v2
"""


@register(
    "dedup_lsh_verified",
    oracle=_lsh_verified_oracle(),
    tags=("dedup", "similarity", "approx"),
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefilter + exact-verify near-dup pairs — what a 100 TB corpus
    actually runs instead of embedding_neardup's O(n²) exact baseline:
    candidates from 8 random-hyperplane tables × planes integer-exact
    sign bits, then the SAME exact integer cosine test (cos ≥ 0.4
    algebraized to dot²·25 ≥ 4·‖a‖²·‖b‖², 1e3 quantization) applied
    JVM-side to the candidates only.  planes scales with the corpus
    (lsh_planes_for: 8/12/16 — candidate work per table is Σ|bucket|² ≈
    n²/2^planes, so a FIXED planes degenerates to all-pairs: measured
    65.9 s at sf3 with planes=8 vs the scaled setting's probe, the
    simhash r4 lesson replayed).  The count() is the family-standard
    control-plane probe.  Output ⊆ embedding_neardup by construction;
    recall is the deterministic LSH-collision function of the plane
    constants at the chosen planes, which the generated oracle replays
    bit-exactly via guarded per-setting branches."""
    emb = dd.spread_small(_t(spark, sf_dir, "embeddings"), "vec_id")
    # Probe the RAW scan, not the spread frame: the bare parquet count is
    # footer metadata, the spread plan would execute its exchange (r12).
    planes = sim.lsh_planes_for(_t(spark, sf_dir, "embeddings").count())
    return sim.lsh_prefiltered_pairs_above(
        emb, dim=64, scale=1000, threshold_num=2, threshold_den=5,
        planes=planes, tables=8,
    ).orderBy("v1", "v2")


@register("embedding_neardup", oracle=EMBED_NEARDUP_ORACLE, tags=("dedup", "similarity"))
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4 — the corpus has no
    pairs above ~0.6, see BASELINE tuning) in exact integer arithmetic:
    vectors floor-quantized at 1e3, cosine test algebraized to
    dot²·25 ≥ 4·‖a‖²·‖b‖² — bit-exact across engines, no FP anywhere."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.allpairs_cosine_above(
        emb, scale=1000, threshold_num=2, threshold_den=5
    ).orderBy("v1", "v2")


# --------------------------------------------------------------------------
# Similarity search.

SIM_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
queries AS (SELECT vec_id AS query_id, qv AS query_qv FROM q WHERE vec_id < 5),
scored AS (
  SELECT query_id, vec_id,
         CAST(list_sum(list_transform(list_zip(query_qv, qv), p -> p[1] * p[2])) AS BIGINT) AS score
  FROM q CROSS JOIN queries
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
ORDER BY query_id, vec_id
"""


@register("sim_topk_quantized", oracle=SIM_TOPK_ORACLE, tags=("similarity",))
def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-10 by exact quantized dot product (bit-exact oracle
    twin of the cosine top-k): broadcast queries × vectors, window top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.brute_force_topk(
        emb, queries, k=10, metric="quantized_dot"
    )
    return out.select(
        "query_id", "vec_id", F.col("score").cast("long").alias("score")
    ).orderBy("query_id", "vec_id")


SIM_COSINE_ORACLE = """
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
),
queries AS (SELECT vec_id AS query_id, qv AS query_qv, n2 AS qn2 FROM n WHERE vec_id < 5),
sc AS (
  SELECT query_id, vec_id,
         CASE WHEN qn2 = 0 OR n2 = 0 THEN 0
              ELSE CAST(FLOOR((CAST(list_sum(list_transform(list_zip(query_qv, qv), p -> p[1] * p[2])) AS BIGINT) * CAST(1000000 AS DOUBLE))
                        / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))) AS BIGINT)
         END AS score
  FROM n CROSS JOIN queries
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
  FROM sc
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
ORDER BY query_id, vec_id
"""


@register("sim_topk_cosine", oracle=SIM_COSINE_ORACLE, tags=("similarity",))
def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True cosine top-10, scores presented in micro-units over quantized
    inputs so ranking and values are bit-identical across engines: the dot
    and squared norms are exact int64 (exactly representable as float64)
    and the remaining sqrt//*// are single correctly-rounded IEEE ops — no
    fold-order sensitivity anywhere (cosine_micros_pd)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.brute_force_topk(
        emb, queries, k=10, metric="cosine_micros"
    ).orderBy("query_id", "vec_id")


def _lsh_oracle(dim: int = 64, planes: int = 12, tables: int = 4) -> str:
    """Generate the DuckDB mirror of lsh_topk from the SAME quantized plane
    constants the Spark operator uses (lsh_plane_ints), so the two cannot
    drift: bucket ids are exact integer sign-bit sums, candidates are bucket
    matches in any table, rescoring is the deterministic cosine-micros
    formula.  Same generated-SQL pattern as _langid_oracle."""
    bucket_cols = []
    for t in range(tables):
        rows = sim.lsh_plane_ints(dim, planes=planes, table=t)
        bits = []
        for j, row in enumerate(rows):
            consts = "[" + ", ".join(str(c) for c in row) + "]"
            dot = (
                "CAST(list_sum(list_transform(list_zip(qv, "
                + consts
                + "), p -> p[1] * p[2])) AS BIGINT)"
            )
            bits.append(f"CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END")
        bucket_cols.append("(" + " + ".join(bits) + f") AS b{t}")
    bucket_sql = ",\n         ".join(bucket_cols)
    joins = " OR ".join(f"v.b{t} = q.qb{t}" for t in range(tables))
    qb = ", ".join(f"b{t} AS qb{t}" for t in range(tables))
    return f"""
WITH raw AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
b AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2,
         {bucket_sql}
  FROM raw
),
queries AS (
  SELECT vec_id AS query_id, qv AS qqv, n2 AS qn2, {qb}
  FROM b WHERE vec_id < 5
),
cand AS (
  SELECT DISTINCT q.query_id, v.vec_id, q.qqv, v.qv, q.qn2, v.n2
  FROM b v JOIN queries q ON {joins}
),
sc AS (
  SELECT query_id, vec_id,
         CASE WHEN qn2 = 0 OR n2 = 0 THEN 0
              ELSE CAST(FLOOR((CAST(list_sum(list_transform(list_zip(qqv, qv), p -> p[1] * p[2])) AS BIGINT) * CAST(1000000 AS DOUBLE))
                        / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))) AS BIGINT)
         END AS score
  FROM cand
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
  FROM sc
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
ORDER BY query_id, vec_id
"""


@register("sim_lsh_topk", oracle=_lsh_oracle(), tags=("similarity",))
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN (4 tables × 12 planes): candidates from
    bucket joins only — the 100 TB serving path.  Buckets use integer-exact
    quantized sign bits and rescoring uses cosine micro-units, so the whole
    pipeline (candidacy AND scores) is deterministic and oracle-checked
    against generated SQL sharing the exact plane constants."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.lsh_topk(
        emb, queries, dim=64, k=10, planes=12, tables=4, metric="cosine_micros"
    ).orderBy("query_id", "vec_id")


# Deterministic micro-cosine between two quantized vectors (DuckDB side of
# cosine_micros_pd).  {a}/{b} are (qv, n2) column-name pairs.
_MICRO_COS = (
    "CASE WHEN {an2} = 0 OR {bn2} = 0 THEN 0 "
    "ELSE CAST(FLOOR((CAST(list_sum(list_transform(list_zip({aqv}, {bqv}), p -> p[1] * p[2])) AS BIGINT) * CAST(1000000 AS DOUBLE))"
    " / (sqrt(CAST({an2} AS DOUBLE)) * sqrt(CAST({bn2} AS DOUBLE)))) AS BIGINT) END"
)

SIM_IVF_ORACLE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         qv AS cqv, n2 AS cn2
  FROM (SELECT * FROM n ORDER BY vec_id LIMIT 16)
),
assigned AS (
  SELECT vec_id, qv, n2, centroid_id FROM (
    SELECT v.vec_id, v.qv, v.n2, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_MICRO_COS.format(aqv="v.qv", an2="v.n2", bqv="c.cqv", bn2="c.cn2")} DESC,
                      c.centroid_id
           ) AS rn
    FROM n v CROSS JOIN cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT s.vec_id AS query_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id
             ORDER BY {_MICRO_COS.format(aqv="s.qv", an2="s.n2", bqv="c.cqv", bn2="c.cn2")} DESC,
                      c.centroid_id
           ) AS rn
    FROM (SELECT * FROM n WHERE vec_id < 5) s CROSS JOIN cent c
  ) WHERE rn <= 4
),
sc AS (
  SELECT p.query_id, a.vec_id,
         {_MICRO_COS.format(aqv="s.qv", an2="s.n2", bqv="a.qv", bn2="a.n2")} AS score
  FROM probes p
  JOIN assigned a ON a.centroid_id = p.centroid_id
  JOIN n s ON s.vec_id = p.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn
  FROM sc
)
SELECT query_id, vec_id, score FROM ranked WHERE rn <= 10
ORDER BY query_id, vec_id
"""


@register("sim_ivf_topk", oracle=SIM_IVF_ORACLE, tags=("similarity",))
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: 16 coarse lists, probe 4 — partition pruning for
    vectors.  Assignment, probe ranking, and rescoring all use the
    deterministic quantized micro-cosine, so the full pipeline (which lists
    exist, which are probed, and the scores) is oracle-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sim.ivf_topk(
        emb, queries, k=10, nlist=16, nprobe=4, metric="cosine_micros"
    ).orderBy("query_id", "vec_id")


# --------------------------------------------------------------------------
# Text analysis.

TEXT_STATS_ORACLE = f"""
SELECT doc_id,
       length({_NORM}) AS n_chars_norm,
       CASE WHEN length({_NORM}) = 0 THEN 0
            ELSE len(string_split({_NORM}, ' ')) END AS n_tokens,
       CASE WHEN length(text) = 0 THEN 0
            ELSE CAST(FLOOR((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1000000.0 / length(text)) AS BIGINT)
            END AS punct_micros
FROM documents
ORDER BY doc_id
"""


@register("text_stats", oracle=TEXT_STATS_ORACLE, tags=("text",))
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts + punctuation micro-ratio (integer arithmetic — FP-safe
    across engines); all inside whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(dd.normalize_text(F.col("text"))).cast("long").alias("n_chars_norm"),
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.punct_ratio_micros(F.col("text")).alias("punct_micros"),
    ).orderBy("doc_id")


def _langid_oracle() -> str:
    """Generate the DuckDB argmax-of-stopword-hits expression from the same
    table the Spark operator uses, so the two can't drift."""
    padded = f"' ' || {_NORM} || ' '"
    hit_exprs = {}
    for lang, words in sorted(tx.LANG_STOPWORDS.items()):
        terms = [
            f"CAST((length({padded}) - length(replace({padded}, ' {w} ', ''))) / {len(w) + 2} AS BIGINT)"
            for w in words
        ]
        hit_exprs[lang] = " + ".join(terms)
    greatest = "GREATEST(" + ", ".join(f"h_{lang}" for lang in sorted(hit_exprs)) + ")"
    case = "'und'"
    for lang in sorted(hit_exprs, reverse=True):
        case = f"CASE WHEN best > 0 AND h_{lang} = best THEN '{lang}' ELSE {case} END"
    hits_sql = ", ".join(f"{e} AS h_{lang}" for lang, e in sorted(hit_exprs.items()))
    return f"""
WITH hits AS (SELECT doc_id, lang, {hits_sql} FROM documents),
best AS (SELECT *, {greatest} AS best FROM hits)
SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang
FROM best
ORDER BY doc_id
"""


@register("text_lang_id", oracle=_langid_oracle(), tags=("text",))
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID heuristic vs the labeled lang column.

    Two-stage projection: per-language hit counts materialize ONCE in a
    named intermediate select, and the argmax reads the columns — the
    single-expression `tx.lang_id` form repeats each stopword
    regexp_replace subtree inside greatest() and every WHEN arm (~6×20
    regex evaluations per row when subexpression elimination misses), and
    the sf1 probe measured it 16× at 10× data.  spread_small lifts the
    single-row-group parquet input to real parallelism, as the rest of
    the text family does."""
    docs = dd.spread_small(_t(spark, sf_dir, "documents"), "doc_id")
    langs = sorted(tx.LANG_STOPWORDS)
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            tx.stopword_hits(F.col("text"), tx.LANG_STOPWORDS[lang]).alias(
                f"s_{lang}"
            )
            for lang in langs
        ],
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in sorted(langs, reverse=True):
        pred = F.when(
            (best > 0) & (F.col(f"s_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "doc_id", "labeled_lang", pred.alias("predicted_lang")
    ).orderBy("doc_id")


TEXT_FINGERPRINT_ORACLE = f"""
WITH fp AS (SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents)
SELECT f.doc_id, f.fingerprint, c.n_same
FROM fp f JOIN (SELECT fingerprint, COUNT(*) AS n_same FROM fp GROUP BY fingerprint) c
  ON f.fingerprint = c.fingerprint
ORDER BY f.doc_id
"""


@register("text_fingerprint", oracle=TEXT_FINGERPRINT_ORACLE, tags=("text",))
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (md5 of normalized text) + per-fingerprint
    multiplicity via a self-joined aggregate."""
    docs = _t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", tx.fingerprint_md5(F.col("text")).alias("fingerprint"))
    counts = fp.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("n_same"))
    return fp.join(counts, on="fingerprint").select(
        "doc_id", "fingerprint", "n_same"
    ).orderBy("doc_id")


TEXT_WINNOWING_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, i AS pos,
         CAST('0x' || substr(md5(substr(n, i, 8)), 1, 15) AS BIGINT) AS fp
  FROM (SELECT doc_id, {_NORM} AS n FROM documents),
       UNNEST(range(1, greatest(length(n) - 6, 2))) AS t(i)
),
win AS (
  SELECT doc_id, pos,
         MIN(fp) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wfp,
         MAX(pos) OVER (PARTITION BY doc_id) AS max_pos
  FROM sh
),
fps AS (
  SELECT DISTINCT doc_id, wfp AS fp
  FROM win WHERE pos <= max_pos - 3 OR pos = 1
),
shared AS (
  SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
  FROM fps GROUP BY fp HAVING COUNT(*) > 1
)
SELECT fp, n_docs, first_doc FROM shared ORDER BY n_docs DESC, fp LIMIT 100
"""


@register("text_winnowing", oracle=TEXT_WINNOWING_ORACLE, tags=("text",))
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sets (rolling minima of shingle hashes per
    position window, Schleimer et al.'s MOSS scheme): emits fingerprints
    shared across documents.  The shingle hash is the first 60 bits of md5
    as an int64 — bit-identical in both engines (DuckDB parses the same hex
    prefix), which is what makes the window-min oracle-expressible, and 8
    bytes instead of a 32-char digest string through the two windows + the
    distinct + the groupBy (fixed-width lowercase hex sorts identically as
    string or integer, so the min is the same fingerprint either way).
    Positions explode FIRST so substring+md5 run codegen'd, same as
    shingle_posting.  The tiny source is spread by doc_id before the
    explode (``spread_small``): the md5 of ~|text| rows/doc runs on all
    cores AND the resulting hash partitioning satisfies the window's
    PARTITION BY doc_id, so the full posting never shuffles.  max_pos is
    the analytically-known explode bound (greatest(len-k+1, 1)), not a
    second whole-posting window."""
    docs = _t(spark, sf_dir, "documents")
    w, k = 4, 8
    normalized = dd.spread_small(
        docs.select(F.col("doc_id"), dd.normalize_text(F.col("text")).alias("t")),
        "doc_id",
    )
    posting = normalized.select(
        "doc_id",
        F.greatest(F.length("t") - (k - 1), F.lit(1)).alias("max_pos"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(1)))
        ).alias("pos"),
        "t",
    ).select(
        "doc_id",
        "pos",
        "max_pos",
        F.conv(
            F.substring(F.md5(F.substring(F.col("t"), F.col("pos"), k)), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("fp"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    fps = (
        posting.select(
            "doc_id",
            "pos",
            "max_pos",
            F.min("fp").over(win).alias("wfp"),
        )
        # Only full windows (winnowing emits n-w+1 windows; degenerate
        # short docs keep window 1).
        .where(
            (F.col("pos") <= F.col("max_pos") - (w - 1)) | (F.col("pos") == 1)
        )
        .select("doc_id", F.col("wfp").alias("fp"))
        .distinct()
    )
    shared = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") > 1)
    )
    return shared.orderBy(F.col("n_docs").desc(), "fp").limit(100)


# --------------------------------------------------------------------------
# Multimodal binary columns.

MM_META_ORACLE = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       octet_length(encode(text)) AS byte_len,
       sha256(text) AS content_sha
FROM documents
ORDER BY media_id
"""


@register("multimodal_meta", oracle=MM_META_ORACLE, tags=("multimodal",))
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media table derived from documents: typed metadata
    (byte length, content hash) computed without any decode — the metadata
    path never touches codec code and prunes the payload column at scan."""
    docs = _t(spark, sf_dir, "documents")
    return (
        mm.attach_binary_payload(docs, "text", "doc_id")
        .select("media_id", "media_type", "byte_len", "content_sha")
        .orderBy("media_id")
    )


MM_FEATURES_ORACLE = """
SELECT doc_id AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN CAST(doc_id % 32 + 8 AS INT)
            WHEN 1 THEN CAST(doc_id % 500 + 100 AS INT)
            ELSE CAST(doc_id % 16 + 8 AS INT) END AS width,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN CAST(doc_id % 24 + 8 AS INT)
            WHEN 1 THEN 1
            ELSE CAST(doc_id % 12 + 8 AS INT) END AS height,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN 1
            WHEN 1 THEN CAST(doc_id % 500 + 100 AS INT)
            ELSE CAST(doc_id % 4 + 1 AS INT) END AS n_units,
       CASE CAST(doc_id % 3 AS INT)
            WHEN 0 THEN CAST(list_sum(list_transform(range(0, (doc_id % 32 + 8) * (doc_id % 24 + 8)),
                                                     j -> (doc_id * 31 + j) % 256)) AS BIGINT)
            WHEN 1 THEN CAST(list_sum(list_transform(range(0, doc_id % 500 + 100),
                                                     j -> ((doc_id * 7 + j * 13) % 65536) - 32768)) AS BIGINT)
            ELSE CAST(list_sum(list_transform(range(1, doc_id % 4 + 2),
                     f -> list_sum(list_transform(range(0, (doc_id % 16 + 8) * (doc_id % 12 + 8)),
                                                  j -> (doc_id * 31 + f * 17 + j) % 256)))) AS BIGINT)
       END AS checksum
FROM documents
ORDER BY media_id
"""


@register("multimodal_features", oracle=MM_FEATURES_ORACLE, tags=("multimodal",))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode over synthetic-but-real payloads: PNG images
    (zlib inflate + scanline defilter), WAV PCM16 audio (wave module), and
    a multi-PNG video container — all stdlib codecs, Arrow-batched through
    mapInPandas.  Payload content is closed-form in doc_id, so the oracle
    recomputes width/height/frame-count/checksum analytically; the Spark
    side must round-trip the actual bytes through the actual decoder to
    match.  Foreign formats (JPEG…) remain PIL-gated (the only stub left)."""
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media(docs, "doc_id")
    return mm.decode_media(media).orderBy("media_id")


MM_FRAMES_ORACLE = """
WITH media AS (
  SELECT doc_id AS media_id, text,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         octet_length(encode(text)) AS byte_len
  FROM documents
)
SELECT media_id, i AS frame_no, sha256(substr(text, i * 64 + 1, 64)) AS frame_sha
FROM media, UNNEST(range(0, least(byte_len // 64, 7) + 1)) AS t(i)
WHERE media_type = 'video'
ORDER BY media_id, frame_no
"""


@register("multimodal_frames", oracle=MM_FRAMES_ORACLE, tags=("multimodal",))
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: explode deterministic byte-slice 'frames'
    of video payloads (real decoder stubbed; slice/partition shape real)."""
    docs = _t(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs, "text", "doc_id")
    return (
        mm.frame_sample(media, every_n_bytes=64, max_frames=8)
        .select("media_id", F.col("frame_no").cast("long").alias("frame_no"), "frame_sha")
        .orderBy("media_id", "frame_no")
    )


TEXT_QUALITY_ORACLE = f"""
WITH s AS (
  SELECT doc_id, text, {_NORM} AS n,
         length({_NORM}) AS nc,
         CASE WHEN length({_NORM}) = 0 THEN 0
              ELSE len(string_split({_NORM}, ' ')) END AS nt,
         CASE WHEN length(text) = 0 THEN 0
              ELSE CAST(FLOOR((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1000000.0 / length(text)) AS BIGINT)
              END AS pm
  FROM documents
)
SELECT doc_id,
       (CASE WHEN nc BETWEEN 50 AND 10000 THEN 400000 ELSE 100000 END
        + CASE WHEN nt > 0 AND CAST(nc AS DOUBLE) / nt BETWEEN 3.0 AND 12.0
               THEN 400000 ELSE 100000 END
        - LEAST(pm, 200000) + 200000) AS quality_micros,
       CAST(list_sum(list_transform(string_split(n, ' '),
                     w -> CAST(CEIL(length(w) / 4.0) AS BIGINT))) AS BIGINT)
         AS bpe_tokens
FROM s
ORDER BY doc_id
"""


@register("text_quality", oracle=TEXT_QUALITY_ORACLE, tags=("text",))
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band + mean-word-length band −
    punctuation penalty, all integer micro-units) and BPE-ish subword
    count — the heuristic filter stage of a training-data pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.quality_score_micros(F.col("text")).alias("quality_micros"),
        tx.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Training-data hygiene: PII scrubbing, benchmark decontamination,
# stratified sampling, sequence packing.

_PII_INJECT_SPARK = (
    "concat(text, ' contact user', CAST(doc_id AS STRING), "
    "'@example.com node 10.0.', CAST(doc_id % 256 AS STRING), "
    "'.7 call +1 555 01', CAST(doc_id AS STRING), ' end')"
)
_PII_INJECT_DUCK = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com node 10.0.' || CAST(doc_id % 256 AS VARCHAR) "
    "|| '.7 call +1 555 01' || CAST(doc_id AS VARCHAR) || ' end'"
)

TEXT_PII_ORACLE = f"""
WITH inj AS (SELECT doc_id, {_PII_INJECT_DUCK} AS t FROM documents),
scrub AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
             '\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}', '<IP>', 'g'),
           '\\+?\\d[\\d -]{{7,}}\\d', '<PHONE>', 'g') AS s
  FROM inj
)
SELECT doc_id, md5(s) AS scrub_md5, length(s) AS n_chars
FROM scrub ORDER BY doc_id
"""


@register("text_pii_scrub", oracle=TEXT_PII_ORACLE, tags=("text",))
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / phone-number runs → typed placeholder
    tokens) — the scrub stage of a training-data pipeline.  Synthetic PII
    is first injected deterministically from doc_id (the fixture text has
    none), then scrubbed; the md5 of the scrubbed text pins every replaced
    byte.  Pure codegen regexp chain, no UDF; patterns restricted to the
    RE2 ∩ java.util.regex subset so both engines replace identically."""
    docs = _t(spark, sf_dir, "documents")
    scrubbed = tx.scrub_pii(F.expr(_PII_INJECT_SPARK))
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrub_md5"),
        F.length(scrubbed).cast("long").alias("n_chars"),
    ).orderBy("doc_id")


DECONTAMINATE_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         UNNEST(list_distinct([substr(n, i, 8) FOR i IN range(1, greatest(length(n) - 6, 2))])) AS s
  FROM (SELECT doc_id, {_NORM} AS n FROM documents)
),
bench AS (SELECT * FROM sh WHERE doc_id % 97 = 0),
train AS (SELECT * FROM sh WHERE doc_id % 97 <> 0 AND doc_id < 300)
SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc, COUNT(*) AS n_shared
FROM train t JOIN bench b ON t.s = b.s
GROUP BY train_doc, bench_doc
HAVING COUNT(*) >= 20
ORDER BY train_doc, bench_doc
"""


@register("dedup_decontaminate", oracle=DECONTAMINATE_ORACLE, tags=("dedup",))
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥20
    distinct 8-gram shingles with any held-out 'benchmark' doc (doc_id %
    97 == 0 stands in for the eval set).  Same posting-join shape as
    n-gram dedup — one shuffle keyed on shingle hash, benchmark side is
    small (≈1%) so the join broadcasts at scale; the train-side doc_id
    bound keeps the local fixture cheap and mirrors the real pipeline's
    per-shard batching.  Counts over hashes equal counts over strings
    (xxhash64, collision-free at corpus scale)."""
    docs = _t(spark, sf_dir, "documents")
    posting = dd.shingle_posting(docs, "text", "doc_id", k=8)
    bench = (
        posting.where(F.col("doc") % 97 == 0)
        .withColumnRenamed("doc", "bench_doc")
    )
    train = posting.where((F.col("doc") % 97 != 0) & (F.col("doc") < 300))
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy(F.col("doc").alias("train_doc"), "bench_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 20)
        .orderBy("train_doc", "bench_doc")
    )


STRATIFIED_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang FROM ranked
WHERE rk <= (n_lang + 4) // 5
ORDER BY doc_id
"""


@register("sample_stratified", oracle=STRATIFIED_ORACLE, tags=("sample",))
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 20% sample, proportional per language stratum —
    deterministic (rank by md5 of the id, ceil(n/5) kept per stratum, no
    RNG) so reruns and the oracle agree exactly.  One window per stratum,
    partitioned by lang: scales as a single shuffle; no stratum counts
    ever leave the executors."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    nw = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(nw).alias("n_lang"),
        )
        .where(F.col("rk") <= (F.col("n_lang") + 4) / F.lit(5))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


SEQ_PACKING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS bucket,
         CASE WHEN length({_NORM}) = 0 THEN 0
              ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY bucket ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM toks
)
SELECT doc_id, bucket,
       bucket * 1000000 + start_tok // 2048 AS pack_id,
       start_tok % 2048 AS pack_offset
FROM packed ORDER BY doc_id
"""


@register("text_seq_packing", oracle=SEQ_PACKING_ORACLE, tags=("text",))
def text_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LM training: concatenate documents in bucket
    order and cut at a 2048-token capacity — each doc gets the pack it
    starts in and its offset (GPT-style pack-then-split; docs may straddle
    packs).  Buckets (doc_id % 8) bound the running-sum window so packing
    parallelizes: at 100 TB you raise the bucket count, never the
    partition size — no global-order window anywhere."""
    docs = _t(spark, sf_dir, "documents")
    cap = 2048
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("long").alias("bucket"),
        tx.token_count(F.col("text")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.select(
        "doc_id",
        "bucket",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        .cast("long")
        .alias("start_tok"),
    )
    return packed.select(
        "doc_id",
        "bucket",
        (F.col("bucket") * 1_000_000 + F.floor(F.col("start_tok") / cap))
        .cast("long")
        .alias("pack_id"),
        (F.col("start_tok") % cap).alias("pack_offset"),
    ).orderBy("doc_id")


SAMPLE_DIVERSITY_ORACLE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         qv AS cqv, n2 AS cn2
  FROM (SELECT * FROM n ORDER BY vec_id LIMIT 16)
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_MICRO_COS.format(aqv="v.qv", an2="v.n2", bqv="c.cqv", bn2="c.cn2")} DESC,
                      c.centroid_id
           ) AS rn
    FROM n v CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT vec_id, CAST(centroid_id AS INTEGER) AS centroid_id,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT vec_id, centroid_id,
         ROW_NUMBER() OVER (
           PARTITION BY centroid_id
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS rk
  FROM assigned
)
WHERE rk <= 20
ORDER BY centroid_id, rk
"""


@register(
    "sample_diversity", oracle=SAMPLE_DIVERSITY_ORACLE,
    tags=("sample", "similarity"),
)
def sample_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced subsampling — the standard pretraining-data move
    for topic balance: assign every embedding to its nearest coarse
    centroid (zero-shuffle Arrow argmax, same machinery as
    dedup_semantic_ivf), then take a fixed per-cluster quota ranked by a
    deterministic content-independent hash (md5 of the id — the unbiased
    'random' that any engine reproduces bit-for-bit).  One window shuffle
    keyed on centroid_id; quota rank caps per-cluster output, so result
    size is nlist×quota regardless of corpus size.  The oracle re-derives
    the identical assignment analytically and ranks with the same md5.

    100 TB note: the window funnels each cluster through one reducer; at
    true scale pre-filter by a hash-prefix threshold (keep rows with
    md5 < bound chosen from approximate cluster counts — a cheap
    map-side cut that leaves ~5× quota per cluster) before ranking, and
    scale nlist with the corpus as dedup_semantic_ivf does."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = sim.deterministic_centroids(emb, nlist=16)
    assigned = sim.assign_to_centroids(emb, cents)
    w = Window.partitionBy("centroid_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .orderBy("centroid_id", "rk")
    )


DEDUP_SEMANTIC_IVF_ORACLE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
n AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM q
),
cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         qv AS cqv, n2 AS cn2
  FROM (SELECT * FROM n ORDER BY vec_id
        LIMIT (SELECT GREATEST(16, COUNT(*) // 256) FROM embeddings))
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_MICRO_COS.format(aqv="v.qv", an2="v.n2", bqv="c.cqv", bn2="c.cn2")} DESC,
                      c.centroid_id
           ) AS rn
    FROM n v CROSS JOIN cent c
  ) WHERE rn = 1
),
k AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS kv
  FROM embeddings
),
kn AS (
  SELECT vec_id, kv,
         CAST(list_sum(list_transform(kv, x -> x * x)) AS BIGINT) AS kn2
  FROM k
),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2, aa.centroid_id,
         CAST(list_sum(list_transform(list_zip(ka.kv, kb.kv), p -> p[1] * p[2])) AS BIGINT) AS dot,
         ka.kn2 AS na2, kb.kn2 AS nb2
  FROM assigned aa
  JOIN assigned ab ON aa.centroid_id = ab.centroid_id AND aa.vec_id < ab.vec_id
  JOIN n a ON a.vec_id = aa.vec_id
  JOIN n b ON b.vec_id = ab.vec_id
  JOIN kn ka ON ka.vec_id = aa.vec_id
  JOIN kn kb ON kb.vec_id = ab.vec_id
)
SELECT v1, v2, centroid_id, dot
FROM pairs
WHERE dot > 0 AND dot * dot * 25 >= 4 * na2 * nb2
ORDER BY v1, v2
"""


@register(
    "dedup_semantic_ivf", oracle=DEDUP_SEMANTIC_IVF_ORACLE, tags=("dedup",)
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup via IVF bucketing — the scale path for embedding
    dedup: zero-shuffle centroid assignment (Arrow argmax vs a broadcast
    16-row centroid matrix), then exact quantized-cosine pairs WITHIN a
    bucket only (n²/nlist work, plain hash join on centroid_id — at rest
    the bucket is the partition key, so it co-locates for free).  The
    oracle re-derives the identical assignment analytically (micro-cosine
    argmax over the id-sample centroids) and the identical pair test
    (dot²·25 ≥ 4·‖a‖²·‖b‖², 1e3 quantization — all integer, no FP).

    nlist scales with the corpus (target_bucket=256, mirrored by the
    oracle's GREATEST(16, n//256) LIMIT): a fixed nlist keeps the bucket
    pair stage quadratic — the r5 sf1 probe measured 25.7× runtime at 10×
    vectors with nlist=16; with nlist ∝ n it is linear."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.ivf_bucketed_neardup(
        emb, nlist=16, scale=1000, threshold_num=2, threshold_den=5,
        target_bucket=256,
    ).orderBy("v1", "v2")


PIPELINE_E2E_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang, {_NORM} AS n,
         (CASE WHEN length({_NORM}) BETWEEN 50 AND 10000 THEN 400000 ELSE 100000 END) AS len_part
  FROM documents
),
kept AS (SELECT * FROM scored WHERE len_part = 400000),
canon AS (
  SELECT doc_id, lang, n,
         MIN(doc_id) OVER (PARTITION BY md5(n)) AS canonical_id
  FROM kept
),
uniq AS (SELECT doc_id, lang, n FROM canon WHERE doc_id = canonical_id),
ranked AS (
  SELECT doc_id, lang, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM uniq
),
sampled AS (
  SELECT doc_id, lang,
         CASE WHEN length(n) = 0 THEN 0
              ELSE len(string_split(n, ' ')) END AS n_tokens
  FROM ranked WHERE rk <= (n_lang + 1) // 2
),
packed AS (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS start_tok
  FROM sampled
)
SELECT doc_id, lang, n_tokens, start_tok // 1024 AS pack_no
FROM packed ORDER BY doc_id
"""


@register("text_pipeline_e2e", oracle=PIPELINE_E2E_ORACLE, tags=("text",))
def text_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline in ONE DataFrame program — the
    composition a reference user actually runs: quality filter (length
    band) → exact dedup (keep canonical = min doc_id per normalized-text
    md5) → deterministic 50% stratified sample per language → sequence
    packing at 1024 tokens within each language stream.  Every stage is a
    window or aggregate over the same lang/doc partitioning, so the whole
    pipeline is three shuffles end-to-end regardless of corpus size; the
    oracle replays the identical CTE chain."""
    docs = _t(spark, sf_dir, "documents")
    n = dd.normalize_text(F.col("text"))
    scored = docs.select(
        "doc_id", "lang", n.alias("n")
    ).where(F.length("n").between(50, 10_000))
    canon_w = Window.partitionBy(F.md5("n"))
    uniq = (
        scored.withColumn("canonical_id", F.min("doc_id").over(canon_w))
        .where(F.col("doc_id") == F.col("canonical_id"))
        .drop("canonical_id")
    )
    rk_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    n_w = Window.partitionBy("lang")
    sampled = (
        uniq.withColumn("rk", F.row_number().over(rk_w))
        .withColumn("n_lang", F.count(F.lit(1)).over(n_w))
        .where(F.col("rk") <= (F.col("n_lang") + 1) / F.lit(2))
        .select(
            "doc_id",
            "lang",
            F.when(F.length("n") == 0, 0)
            .otherwise(F.size(F.split(F.col("n"), " ")))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    pack_w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        sampled.withColumn(
            "start_tok",
            F.coalesce(F.sum("n_tokens").over(pack_w), F.lit(0)).cast("long"),
        )
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(F.col("start_tok") / 1024).cast("long").alias("pack_no"),
        )
        .orderBy("doc_id")
    )


TOP_TOKENS_ORACLE = f"""
WITH tok AS (
  SELECT u.t AS token
  FROM (SELECT {_NORM} AS n FROM documents),
       UNNEST(string_split(n, ' ')) AS u(t)
  WHERE length(u.t) >= 3
),
counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
SELECT token, n FROM counts
ORDER BY n DESC, token
LIMIT 50
"""


TEXT_REPETITION_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w
  FROM documents WHERE doc_id < 2000
),
base AS (
  SELECT doc_id, len(w) AS n_words,
         len(list_distinct(w)) AS distinct_words, w
  FROM t
),
bg AS (
  SELECT doc_id, w[i] || ' ' || w[i + 1] AS b
  FROM base, UNNEST(range(1, len(w))) AS r(i)
),
cnt AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
top AS (
  SELECT doc_id, b AS top_bigram, c AS top_bigram_n,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, b) AS rn
  FROM cnt
)
SELECT base.doc_id, n_words, distinct_words,
       1 - CAST(distinct_words AS DOUBLE) / n_words AS dup_word_frac,
       top_bigram, top_bigram_n,
       CAST(top_bigram_n AS DOUBLE) / (n_words - 1) AS top_bigram_frac
FROM base JOIN top USING (doc_id)
WHERE rn = 1
ORDER BY doc_id
"""


@register("text_repetition", oracle=TEXT_REPETITION_ORACLE, tags=("text",))
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals — the Gopher/RefinedWeb-style
    quality filters a training-data pipeline thresholds on: duplicate-word
    fraction (1 - distinct/total) and top-bigram fraction (most frequent
    word bigram's share of all bigrams, deterministic count-DESC/bigram
    tiebreak).

    ZERO-SHUFFLE formulation: a per-document signal needs no shuffle at
    all — bigrams are a codegen array transform (0-based `w[i]` indexing),
    and the per-doc mode is an ``array_sort`` + ``aggregate`` run-length
    fold over the sorted bigrams, entirely inside the row (strict `>`
    keeps the FIRST = lexicographically-smallest max-count bigram, the
    same tiebreak the oracle's count-DESC/bigram ORDER spells).  The
    explode → groupBy(doc, bigram) → window alternative costs two
    shuffles and measured 5× slower at sf0.1.  The oracle recomputes both
    signals with DuckDB list ops; FP ratios divide identical exact
    integers on both sides."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    toks = docs.select(
        "doc_id", F.split(dd.normalize_text(F.col("text")), " ").alias("w")
    )
    base = toks.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size(F.array_distinct("w")).alias("distinct_words"),
        F.expr(
            """aggregate(
    array_sort(transform(slice(w, 1, size(w) - 1),
                         (t, i) -> concat(t, ' ', w[i + 1]))),
    struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
           CAST(0 AS BIGINT) AS best, CAST('' AS STRING) AS bestv),
    (acc, x) -> struct(
        x AS prev,
        IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run,
        IF(IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) > acc.best,
           IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)),
           acc.best) AS best,
        IF(IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) > acc.best,
           x, acc.bestv) AS bestv))"""
        ).alias("t"),
    )
    return (
        base.where(F.col("n_words") >= 2)
        .select(
            "doc_id",
            "n_words",
            "distinct_words",
            (
                F.lit(1)
                - F.col("distinct_words").cast("double") / F.col("n_words")
            ).alias("dup_word_frac"),
            F.col("t.bestv").alias("top_bigram"),
            F.col("t.best").alias("top_bigram_n"),
            (
                F.col("t.best").cast("double") / (F.col("n_words") - 1)
            ).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


@register("text_top_tokens", oracle=TOP_TOKENS_ORACLE, tags=("text",))
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: explode whitespace tokens (length
    ≥ 3), count, top 50 with a deterministic (count DESC, token) tiebreak.
    The everyday vocabulary-stats pass of a text pipeline: one map-side-
    combined count shuffle + TakeOrderedAndProject — no global sort, no
    skew hazard (the combiner absorbs hot tokens before the shuffle)."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        dd.spread_small(
            docs.select(dd.normalize_text(F.col("text")).alias("n")), "n"
        )
        .select(F.explode(F.split(F.col("n"), " ")).alias("token"))
        .where(F.length("token") >= 3)
    )
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


# --------------------------------------------------------------------------
# Per-document distinctive terms (TF-IDF-ranked, integer-exact).

TFIDF_TOPTERMS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, u.t AS term
  FROM (SELECT doc_id, {_NORM} AS n FROM documents),
       UNNEST(string_split(n, ' ')) AS u(t)
  WHERE length(u.t) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
r AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf DESC, dfq.df ASC, tf.term
         ) AS rnk
  FROM tf JOIN dfq USING (term))
SELECT doc_id, term, tf, df, rnk FROM r
WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


@register("text_tfidf_topterms", oracle=TFIDF_TOPTERMS_ORACLE, tags=("text",))
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document, TF-IDF ranked: high term
    frequency first, low document frequency breaking ties (the idf
    factor is monotone in 1/df, so the (tf DESC, df ASC) sort IS the
    tf·idf order for fixed tf — and stays integer-exact, no float log).

    Plan shape: explode → (doc, term) count → term df count → tf⋈df on
    term → per-doc top-k window.  Every stage is key-partitioned; the
    df side is bounded by vocabulary size, and the final window sees ≤
    |distinct terms per doc| rows per key — no global sort anywhere."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        dd.spread_small(
            docs.select(
                "doc_id", dd.normalize_text(F.col("text")).alias("n")
            ),
            "doc_id",
        )
        .select("doc_id", F.explode(F.split("n", " ")).alias("term"))
        .where(F.length("term") >= 3)
    )
    # tf feeds BOTH the per-doc ranking and the document-frequency
    # aggregate; checkpointing it tokenizes the corpus ONCE instead of
    # twice (r12 — the before-plan scanned + exploded the documents in
    # two separate subtrees, one per consumer).  The spread exchange on
    # doc_id already clusters (doc_id, term), so tf materializes
    # partitioned by doc_id and the final window needs no exchange;
    # at 100 TB this is "write the tokenized projection once".
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), "term"
    )
    return (
        tf.join(dfq, "term")
        .select("doc_id", "term", "tf", "df", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Document chunking (RAG / pretraining windows).

CHUNKING_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents),
c AS (
  SELECT doc_id, toks, UNNEST(range(0, greatest(len(toks) - 1, 0) + 1, 24)) AS start
  FROM t
)
SELECT doc_id,
       CAST(start // 24 AS BIGINT) AS chunk_idx,
       CAST(least(32, len(toks) - start) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[CAST(start + 1 AS INT):CAST(start + 32 AS INT)], ' ')) AS chunk_hash
FROM c
ORDER BY doc_id, chunk_idx
"""


@register("text_chunking", oracle=CHUNKING_ORACLE, tags=("text",))
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token-window chunking (window=32, stride=24) —
    the pretraining/RAG splitter.  Pure codegen: split → sequence of
    start offsets → posexplode → slice/concat_ws/md5.  Embarrassingly
    parallel (per-row explode, no shuffle until the presentation sort);
    output size is input size × ~(1/stride) duplication — the plan at
    100 TB is scan → project → explode → project, zero exchanges."""
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    spans = docs.select(
        "doc_id",
        "text",
        F.posexplode(tx.chunk_spans(F.col("text"), stride=24)).alias(
            "chunk_idx", "start"
        ),
    )
    toks = F.split(dd.normalize_text(F.col("text")), " ")
    return (
        spans.select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.least(F.lit(32), F.size(toks) - F.col("start"))
            .cast("long")
            .alias("n_tokens"),
            F.md5(
                tx.chunk_text(F.col("text"), F.col("start"), window=32).cast(
                    "binary"
                )
            ).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# --------------------------------------------------------------------------
# Source-mixture sampling to a per-source token budget.

MIXTURE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source,
         len(string_split({_NORM}, ' ')) AS tok,
         CASE WHEN source IN ('src0','src1','src2','src3','src4')
              THEN 600 ELSE 300 END AS budget
  FROM documents
),
r AS (
  SELECT *,
         SUM(tok) OVER (
           PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR))
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM d
)
SELECT source,
       COUNT(*)  AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       MIN(budget) AS budget
FROM r
WHERE cum - tok < budget
GROUP BY source
ORDER BY source
"""


@register("data_mixture", oracle=MIXTURE_ORACLE, tags=("sample",))
def data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: sample each source down to a token
    budget (head sources 600 tokens, tail 300) by hash-ranked cumulative
    token count — deterministic, order-free, and the budget boundary doc
    is kept (standard "fill then stop" packing).

    Scale: ONE shuffle on source (the window), then a map-side-combined
    re-aggregation on the same key — at 100 TB with few sources the
    per-source window is the skew hazard, so the production variant
    pre-aggregates per (source, hash-prefix) ranges; here sources are
    uniform and the plan stays two exchanges total."""
    docs = _t(spark, sf_dir, "documents")
    d = dd.spread_small(docs.select("doc_id", "source", "text"), "source").select(
        "doc_id",
        "source",
        F.size(F.split(dd.normalize_text(F.col("text")), " ")).cast("long").alias("tok"),
        F.when(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"), F.lit(600)
        )
        .otherwise(F.lit(300))
        .cast("long")
        .alias("budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string").cast("binary")))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = d.withColumn("cum", F.sum("tok").over(w)).where(
        F.col("cum") - F.col("tok") < F.col("budget")
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.min("budget").alias("budget"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# k-means over embeddings (SemDeDup / IVF-training building block).

KMEANS_ORACLE = """
WITH q AS (
  SELECT vec_id,
         [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS qv
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id, qv AS cv
  FROM q ORDER BY vec_id LIMIT 8
),
a1 AS (
  SELECT vec_id, cluster_id, qv,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY list_sum([(qv[i] - cv[i]) * (qv[i] - cv[i]) FOR i IN range(1, len(qv) + 1)]),
                    cluster_id
         ) AS rn
  FROM q CROSS JOIN c0
),
c1 AS (
  SELECT cluster_id, list(CAST(floor(s / n) AS BIGINT) ORDER BY i) AS cv
  FROM (
    SELECT cluster_id, u.i AS i,
           SUM(qv[u.i]) AS s, COUNT(*) AS n
    FROM a1, range(1, 65) u(i)
    WHERE rn = 1
    GROUP BY cluster_id, u.i
  )
  GROUP BY cluster_id
),
a2 AS (
  SELECT vec_id, cluster_id,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id
           ORDER BY list_sum([(qv[i] - cv[i]) * (qv[i] - cv[i]) FOR i IN range(1, len(qv) + 1)]),
                    cluster_id
         ) AS rn
  FROM q CROSS JOIN c1
)
SELECT cluster_id,
       COUNT(*) AS n_points,
       MIN(vec_id) AS min_vec_id,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id
FROM a2 WHERE rn = 1
GROUP BY cluster_id
ORDER BY cluster_id
"""


@register("embedding_kmeans", oracle=KMEANS_ORACLE, tags=("embedding",))
def embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (k=8, 2 Lloyd steps, deterministic lowest-id seeds) over
    the embedding table, integer-quantized so the oracle matches
    bit-exactly (see data/kmeans.py for the scale contract: k-row
    driver sync per step, broadcast assign, one combined shuffle per
    update — nothing O(n) ever leaves the executors)."""
    emb = dd.spread_small(_t(spark, sf_dir, "embeddings"), "vec_id")
    assigned = km.kmeans_assignments(
        emb, vec_col="embedding", id_col="vec_id", k=8, iters=2, scale=1000
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("vec_id").alias("min_vec_id"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Containment near-dup (short-doc-inside-long-doc; Jaccard's blind spot).

DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct([substr(n, i, 8) FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM (SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200)
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.s, b.s)) AS c, len(a.s) AS n1, len(b.s) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT d1, d2, c, n1, n2,
       CAST(c AS DOUBLE) / least(n1, n2) AS containment
FROM pairs
WHERE CAST(c AS DOUBLE) / least(n1, n2) >= 0.3
ORDER BY d1, d2
"""


@register("dedup_containment", oracle=DEDUP_CONTAINMENT_ORACLE, tags=("dedup",))
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment pairs (|A∩B| / min(|A|,|B|) ≥ 0.3): the
    inverted-index posting join of ngram_jaccard with an asymmetric
    denominator — finds excerpts/boilerplate embedded in longer docs.
    Oracle is the all-pairs list_intersect on the same restricted set."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return (
        dd.containment_pairs(
            docs, "text", "doc_id", k=8, threshold=0.3, max_posting=None
        )
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# Unigram commonness (perplexity-proxy quality signal, integer-exact).

UNIGRAM_RARITY_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, u.t AS term
  FROM (SELECT doc_id, {_NORM} AS n FROM documents),
       UNNEST(string_split(n, ' ')) AS u(t)
  WHERE length(u.t) >= 3
),
cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY 1),
d AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tok,
         CAST(SUM(cnt.c) AS BIGINT) AS sum_cnt
  FROM tok JOIN cnt USING (term)
  GROUP BY tok.doc_id
)
SELECT doc_id, n_tok,
       CAST(sum_cnt * 1000000 // n_tok AS BIGINT) AS commonness_micros
FROM d
ORDER BY doc_id
"""


@register("text_unigram_rarity", oracle=UNIGRAM_RARITY_ORACLE, tags=("text",))
def text_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean corpus-frequency of its tokens — the integer-exact
    stand-in for a unigram-LM perplexity quality filter (a doc of rare
    tokens scores low commonness, boilerplate scores high).  Two shuffles
    (corpus term count, per-doc re-agg) + one join on term; the term-count
    side is vocabulary-sized, broadcastable far beyond 100 TB corpora."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        dd.spread_small(
            docs.select("doc_id", dd.normalize_text(F.col("text")).alias("n")),
            "doc_id",
        )
        .select("doc_id", F.explode(F.split("n", " ")).alias("term"))
        .where(F.length("term") >= 3)
    )
    cnt = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    d = (
        tok.join(cnt, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("c").alias("sum_cnt"),
        )
    )
    return d.select(
        "doc_id",
        "n_tok",
        # `div` = exact integer division (no double rounding at any scale).
        F.expr("sum_cnt * 1000000L div n_tok").cast("long").alias(
            "commonness_micros"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# SemDeDup: k-means clusters → within-cluster cosine near-dup pruning.

# Exact squared distance between two quantized vectors (DuckDB side).
_SQD = "list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) FOR i IN range(1, len({a}) + 1)])"

# Two-level (IVF-contract) k-means CTEs — the bit-exact DuckDB mirror of
# kmeans_assignments(assign="ivf") in data/kmeans.py: g = ceil(sqrt(k))
# coarse cells seeded by every ceil(k/g)-th centroid of the id-sorted
# list, each centroid joins its nearest cell, each point probes its
# nearest NON-EMPTY cell, then takes the exact argmin among that cell's
# member centroids; ties break to the lowest cell / cluster id at every
# level, exactly like np.argmin over ascending-id rows.  The final CTE
# a2 holds (vec_id, cluster_id, qv) after 2 Lloyd steps.
_KM_IVF_CTES = f"""
q AS (
  SELECT vec_id,
         [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS qv
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster_id, qv AS cv
  FROM q ORDER BY vec_id
  LIMIT (SELECT GREATEST(8, COUNT(*) // 512) FROM embeddings)
),
kp0 AS (
  SELECT CAST(ceil(k / ceil(sqrt(k))) AS BIGINT) AS stride
  FROM (SELECT COUNT(*) AS k FROM c0)
),
s0 AS (
  SELECT CAST(c0.cluster_id // kp0.stride AS INT) AS cell, c0.cv AS sv
  FROM c0, kp0 WHERE c0.cluster_id % kp0.stride = 0
),
m0 AS (
  SELECT cluster_id, cv, cell FROM (
    SELECT c0.cluster_id, c0.cv, s0.cell,
           ROW_NUMBER() OVER (
             PARTITION BY c0.cluster_id
             ORDER BY {_SQD.format(a='c0.cv', b='s0.sv')}, s0.cell
           ) AS rn
    FROM c0 CROSS JOIN s0)
  WHERE rn = 1
),
p0 AS (
  SELECT vec_id, qv, cell FROM (
    SELECT q.vec_id, q.qv, s.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQD.format(a='q.qv', b='s.sv')}, s.cell
           ) AS rn
    FROM q CROSS JOIN (
      SELECT s0.cell, s0.sv FROM s0
      WHERE s0.cell IN (SELECT DISTINCT cell FROM m0)) s)
  WHERE rn = 1
),
a1 AS (
  SELECT vec_id, qv, cluster_id FROM (
    SELECT p0.vec_id, p0.qv, m0.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY p0.vec_id
             ORDER BY {_SQD.format(a='p0.qv', b='m0.cv')}, m0.cluster_id
           ) AS rn
    FROM p0 JOIN m0 ON p0.cell = m0.cell)
  WHERE rn = 1
),
c1 AS (
  SELECT cluster_id, list(CAST(floor(s / n) AS BIGINT) ORDER BY i) AS cv
  FROM (
    SELECT cluster_id, u.i AS i,
           SUM(qv[u.i]) AS s, COUNT(*) AS n
    FROM a1, range(1, 65) u(i)
    GROUP BY cluster_id, u.i
  )
  GROUP BY cluster_id
),
r1 AS (
  SELECT cluster_id, cv,
         ROW_NUMBER() OVER (ORDER BY cluster_id) - 1 AS pos
  FROM c1
),
kp1 AS (
  SELECT CAST(ceil(k / ceil(sqrt(k))) AS BIGINT) AS stride
  FROM (SELECT COUNT(*) AS k FROM c1)
),
s1 AS (
  SELECT CAST(r1.pos // kp1.stride AS INT) AS cell, r1.cv AS sv
  FROM r1, kp1 WHERE r1.pos % kp1.stride = 0
),
m1 AS (
  SELECT cluster_id, cv, cell FROM (
    SELECT r1.cluster_id, r1.cv, s1.cell,
           ROW_NUMBER() OVER (
             PARTITION BY r1.cluster_id
             ORDER BY {_SQD.format(a='r1.cv', b='s1.sv')}, s1.cell
           ) AS rn
    FROM r1 CROSS JOIN s1)
  WHERE rn = 1
),
p1 AS (
  SELECT vec_id, qv, cell FROM (
    SELECT q.vec_id, q.qv, s.cell,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_SQD.format(a='q.qv', b='s.sv')}, s.cell
           ) AS rn
    FROM q CROSS JOIN (
      SELECT s1.cell, s1.sv FROM s1
      WHERE s1.cell IN (SELECT DISTINCT cell FROM m1)) s)
  WHERE rn = 1
),
a2 AS (
  SELECT vec_id, qv, cluster_id, 1 AS rn FROM (
    SELECT p1.vec_id, p1.qv, m1.cluster_id,
           ROW_NUMBER() OVER (
             PARTITION BY p1.vec_id
             ORDER BY {_SQD.format(a='p1.qv', b='m1.cv')}, m1.cluster_id
           ) AS rn
    FROM p1 JOIN m1 ON p1.cell = m1.cell)
  WHERE rn = 1
)
"""

SEMDEDUP_ORACLE = f"""
WITH {_KM_IVF_CTES},
m AS (
  SELECT vec_id, cluster_id, qv,
         CAST(list_sum([x * x FOR x IN qv]) AS BIGINT) AS nsq
  FROM a2 WHERE rn = 1
),
pairs AS (
  SELECT x.cluster_id,
         x.vec_id AS v1, y.vec_id AS v2,
         CAST(list_sum([x.qv[i] * y.qv[i] FOR i IN range(1, 65)]) AS BIGINT) AS dot,
         x.nsq AS n1, y.nsq AS n2
  FROM m x JOIN m y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
),
dup AS (
  SELECT cluster_id, v1, v2 FROM pairs
  WHERE dot > 0 AND dot * dot * 25 >= 4 * n1 * n2
),
stats AS (
  SELECT cluster_id, COUNT(*) AS n_dup_pairs,
         COUNT(DISTINCT v2) AS n_dropped
  FROM dup GROUP BY cluster_id
)
SELECT m.cluster_id,
       COUNT(*) AS n_members,
       COALESCE(MIN(stats.n_dup_pairs), 0) AS n_dup_pairs,
       COALESCE(MIN(stats.n_dropped), 0) AS n_dropped
FROM m LEFT JOIN stats ON m.cluster_id = stats.cluster_id
GROUP BY m.cluster_id
ORDER BY m.cluster_id
"""


@register(
    "dedup_semantic_kmeans", oracle=SEMDEDUP_ORACLE, tags=("dedup", "embedding")
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023 shape): k-means the embeddings, then
    search near-duplicates ONLY within each cluster (cos ≥ 2/5 in exact
    integer algebra: dot > 0 AND dot²·25 ≥ 4·‖a‖²·‖b‖²); drop count =
    distinct higher-id members of any dup pair — keep-lowest-id policy.

    Scale: the all-pairs search is confined to clusters, and — r9 — k
    SCALES WITH THE CORPUS like dedup_semantic_ivf's nlist: k =
    max(8, n // 512) on both sides (the oracle's seed LIMIT computes the
    identical GREATEST(8, COUNT(*)//512)), so per-cluster size stays
    bounded and total pair work is linear in n instead of n²/8.  The
    count() is the same one-off control-plane probe the IVF family pays.
    One shuffle on cluster_id for the self-join; the k-means phase runs
    assign="ivf" (data/kmeans.py) — the deterministic two-level contract
    production SemDeDup uses: because k ∝ n, an exhaustive assign is
    O(n·k) = O(n²/512) work with an O(k) broadcast, while the two-level
    assign is O(n·√k) with a √k closure and ONE n-row shuffle per Lloyd
    step.  The oracle (_KM_IVF_CTES) replays the two-level semantics
    bit-exactly — integer distances, lowest-id ties at both levels."""
    emb = dd.spread_small(_t(spark, sf_dir, "embeddings"), "vec_id")
    # Raw-scan probe (footer metadata), not the spread plan (r12).
    k = max(8, _t(spark, sf_dir, "embeddings").count() // 512)
    assigned = km.kmeans_assignments(
        emb, vec_col="embedding", id_col="vec_id", k=k, iters=2, scale=1000,
        assign="ivf",
    )
    m = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    dup = sim.within_group_cosine_pairs(
        m,
        group_col="cluster_id",
        id_col="vec_id",
        vec_col="embedding",
        scale=1000,
        threshold_num=2,
        threshold_den=5,
    )
    stats = dup.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("v2").alias("n_dropped"),
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(stats, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Exact substring-span dedup (token-level suffix-window variant of Lee et
# al., "Deduplicating Training Data Makes Language Models Better"): every
# k-token window of every document is fingerprinted, and a window whose
# fingerprint appears in >= 2 distinct documents is a duplicated span.
# Winnowing (text_winnowing) SAMPLES fingerprints; this is the exact,
# all-positions variant the paper's suffix-array pass computes.

SUBSTRING_K = 8

DEDUP_SUBSTRING_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
post AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(array_to_string(
             list_slice(toks, i, i + {SUBSTRING_K - 1}), ' ')), 1, 15)
           AS BIGINT) AS h
  FROM tk, UNNEST(range(1, greatest(len(toks) - {SUBSTRING_K - 1}, 0) + 1)) AS t(i)
),
dup AS (
  SELECT h FROM post GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
per AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         COUNT(*) FILTER (WHERE h IN (SELECT h FROM dup)) AS n_dup_windows
  FROM post GROUP BY doc_id
)
SELECT doc_id, n_windows, n_dup_windows
FROM per WHERE n_dup_windows > 0 ORDER BY doc_id
"""


@register("dedup_substring", oracle=DEDUP_SUBSTRING_ORACLE, tags=("dedup",))
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span accounting: how many of the document's
    8-token windows also occur (verbatim, post-normalization) in at least
    one OTHER document.  Fingerprint = first 60 bits of md5 over the
    space-joined window, bit-identical in DuckDB (same technique as
    text_winnowing).

    Scale shape: ``spread_small`` hash-partitions by doc_id BEFORE the
    position explode, so the (|tokens| x docs) posting is built on all
    cores and the final per-doc aggregate reuses that partitioning with
    no extra shuffle.  The one unavoidable shuffle keys on the window
    fingerprint (the distinct-doc count); the duplicated-fingerprint set
    it yields is HAVING-filtered tiny and broadcast back onto the
    posting, so the posting itself is never shuffled twice.  At 100 TB
    the broadcast reverts to a shuffled semi-join on the same key and a
    hot-fingerprint cap (boilerplate spans) bounds the reduce side."""
    k = SUBSTRING_K
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", dd.normalize_text(F.col("text")).alias("n")
        ),
        "doc_id",
    )
    toks = docs.select("doc_id", F.split("n", " ").alias("toks")).where(
        # Docs shorter than one window emit nothing (DuckDB's range() is
        # empty there; Spark's sequence(1, n<=0) would DESCEND instead).
        F.size("toks") >= k
    )
    post = toks.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - (k - 1))
        ).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), k))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    # Two consumers (the dup-fingerprint aggregate and the per-doc count)
    # read the posting; materialize it once — 16 bytes/window — instead
    # of running the explode+md5 scan twice.  Cluster equivalent: write
    # the posting dataset once, the paper's suffix-array pass does the
    # same.
    post = post.localCheckpoint(eager=False)
    dup = (
        post.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    flagged = post.join(F.broadcast(dup.withColumn("is_dup", F.lit(1))), "h", "left")
    per = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_dup_windows"),
    )
    return per.where(F.col("n_dup_windows") > 0).orderBy("doc_id")


# --------------------------------------------------------------------------
# BM25 keyword retrieval, integer-exact.  Classic Okapi BM25 with k1=6/5,
# b=3/4 and a log-free rational idf ((N-df+1)/(df+1)) so the whole score is
# a ratio of int64 products — both engines compute identical integers, no
# float summation order to drift.  Multiplying numerator and denominator by
# 20*A (A = total corpus tokens) clears every fraction:
#   score_t = (N-df+1) * 44*A*tf  /  ((df+1) * (20*A*tf + 6*A + 18*N*dl))
# reported in tenths-of-milli units via integer division (x10000).

BM25_TERMS = ("table", "hash", "merge")

def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"len([x FOR x IN toks IF x = '{t}']) AS tf{i}"
        for i, t in enumerate(BM25_TERMS, 1)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(1, len(BM25_TERMS) + 1)
    )
    score_terms = " + ".join(
        f"(CASE WHEN tf{i} = 0 THEN 0 ELSE "
        f"(10000 * ((n - df{i} + 1) * 44 * a * tf{i})) // "
        f"((df{i} + 1) * (20 * a * tf{i} + 6 * a + 18 * n * dl)) END)"
        for i in range(1, len(BM25_TERMS) + 1)
    )
    return f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
per AS (
  SELECT doc_id, len(toks) AS dl,
         {tf_cols}
  FROM tk
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS a,
         {df_cols}
  FROM per
)
SELECT doc_id, CAST({score_terms} AS BIGINT) AS score_dmicro
FROM per, tot
WHERE {score_terms} > 0
ORDER BY score_dmicro DESC, doc_id LIMIT 15
"""


TEXT_BM25_ORACLE = _bm25_oracle()


@register("text_bm25_topk", oracle=TEXT_BM25_ORACLE, tags=("text",))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 for a fixed keyword query.  All corpus
    statistics (N, total tokens A, per-term document frequency) come from
    ONE scalar aggregate that is broadcast back onto the per-doc frame;
    the ranking is a TakeOrderedAndProject.  At 100 TB: same plan — the
    scalar stats row is O(1), the per-doc scoring is embarrassingly
    parallel map work, and the top-k never materializes a global sort."""
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", dd.normalize_text(F.col("text")).alias("nrm")
        ),
        "doc_id",
    )
    toks = docs.select("doc_id", F.split("nrm", " ").alias("toks"))
    per = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            # NB: a one-arg lambda only — a second (default) parameter
            # would make F.filter pass the element INDEX into it.
            F.size(F.filter(F.col("toks"), (lambda term: lambda x: x == F.lit(term))(t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS, 1)
        ],
    )
    # NOT checkpointed (r12: the same-shape checkpoint measured a clear
    # regression on retrieval_hybrid_rrf and a wash here — see rrf).
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").alias("a"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(1, len(BM25_TERMS) + 1)
        ],
    )
    scored = per.crossJoin(F.broadcast(tot))
    score = None
    for i in range(1, len(BM25_TERMS) + 1):
        term = F.when(F.col(f"tf{i}") == 0, F.lit(0).cast("long")).otherwise(
            F.expr(
                f"(10000 * ((n - df{i} + 1) * 44 * a * tf{i})) div "
                f"((df{i} + 1) * (20 * a * tf{i} + 6 * a + 18 * n * dl))"
            )
        )
        score = term if score is None else score + term
    return (
        scored.select("doc_id", score.alias("score_dmicro"))
        .where(F.col("score_dmicro") > 0)
        .orderBy(F.col("score_dmicro").desc(), "doc_id")
        .limit(15)
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination.  dedup_decontaminate overlaps n-grams via a
# bucketed join; this is the other standard mechanism — build a compact
# Bloom filter over the held-out source's 8-token-window fingerprints,
# broadcast it, and test every training-corpus window map-side.  2^21 bits
# packed into 32-bit words (~256 KB), two md5-derived hash functions;
# every position is pure integer arithmetic, so DuckDB builds the
# bit-identical filter and flags the identical windows — including any
# false positives, which is the point of oracle-checking a probabilistic
# structure (the STRUCTURE is deterministic; only its guarantee is
# approximate, and n_exact separates the two).

_BLOOM_M = 2097152  # bits
_BLOOM_W = 32       # bits per packed word

_BLOOM_POST = f"""
  SELECT doc_id, source,
         md5(array_to_string(list_slice(toks, i, i + {SUBSTRING_K - 1}), ' ')) AS g
  FROM (SELECT doc_id, source, string_split({_NORM}, ' ') AS toks FROM documents),
       UNNEST(range(1, greatest(len(toks) - {SUBSTRING_K - 1}, 0) + 1)) AS t(i)
"""

DEDUP_BLOOM_ORACLE = f"""
WITH post AS ({_BLOOM_POST}),
ev AS (SELECT DISTINCT g FROM post WHERE source = 'src0'),
pos AS (
  SELECT h % {_BLOOM_M} AS p FROM (
    SELECT CAST('0x' || substr(g, 1, 15) AS BIGINT) AS h FROM ev
    UNION ALL
    SELECT CAST('0x' || substr(g, 16, 15) AS BIGINT) AS h FROM ev
  )
),
bloom AS (
  SELECT p // {_BLOOM_W} AS w,
         BIT_OR(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_W} AS INTEGER)) AS bits
  FROM pos GROUP BY w
),
chk AS (
  SELECT doc_id, g,
         CAST('0x' || substr(g, 1, 15) AS BIGINT) % {_BLOOM_M} AS p1,
         CAST('0x' || substr(g, 16, 15) AS BIGINT) % {_BLOOM_M} AS p2
  FROM post WHERE source <> 'src0'
),
hit AS (
  SELECT k.doc_id, k.g
  FROM chk k
  JOIN bloom b1 ON k.p1 // {_BLOOM_W} = b1.w
  JOIN bloom b2 ON k.p2 // {_BLOOM_W} = b2.w
  WHERE (b1.bits & (CAST(1 AS BIGINT) << CAST(k.p1 % {_BLOOM_W} AS INTEGER))) <> 0
    AND (b2.bits & (CAST(1 AS BIGINT) << CAST(k.p2 % {_BLOOM_W} AS INTEGER))) <> 0
)
SELECT doc_id,
       COUNT(*) AS n_flagged,
       CAST(SUM(CASE WHEN g IN (SELECT g FROM ev) THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact
FROM hit GROUP BY doc_id ORDER BY doc_id
"""


@register("dedup_bloom_decontam", oracle=DEDUP_BLOOM_ORACLE, tags=("dedup",))
def dedup_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc count of 8-token windows that hit a Bloom filter
    built over the held-out source's window fingerprints; n_exact is the
    true-containment count (Bloom false positives are the difference).

    Scale shape: the held-out set reduces to an O(m)-word frame (~256 KB)
    that is BROADCAST, so the 100 TB training corpus is tested map-side
    with ZERO shuffle of corpus data — versus dedup_decontaminate's
    bucketed gram join, which shuffles both sides.  The exact rescore
    then joins only the flagged windows (candidate-only verify, same
    pattern as MinHash-LSH); here that set is small enough to broadcast
    too, and at scale it becomes a shuffled semi-join of the flagged
    remainder only."""
    k = SUBSTRING_K
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", "source", dd.normalize_text(F.col("text")).alias("n")
        ),
        "doc_id",
    )
    toks = docs.select(
        "doc_id", "source", F.split("n", " ").alias("toks")
    ).where(F.size("toks") >= k)
    post = toks.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("pos"),
        "toks",
    ).select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), k))).alias(
            "g"
        ),
    )
    # Three consumers (bloom positions, exact set, corpus check) read the
    # window grams; materialize the posting once instead of re-running
    # the explode+md5 scan per branch.
    post = post.localCheckpoint(eager=False)
    # The held-out distinct gram set feeds THREE plan branches (the two
    # Bloom-word broadcasts and the exact-containment rescore); without
    # its own checkpoint each branch re-runs the distinct over the full
    # posting — 3 exchanges of the src0 grams for one logical frame
    # (r12; the plan showed the subtree verbatim three times).  At scale:
    # materialize the held-out fingerprint set once, it is the small side
    # by construction.
    ev = (
        post.where(F.col("source") == "src0")
        .select("g")
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _h(col, start: int):
        return F.conv(F.substring(col, start, 15), 16, 10).cast("long") % _BLOOM_M

    def _bit(p: str):
        return F.expr(
            f"shiftleft(cast(1 as bigint), cast({p} % {_BLOOM_W} as int))"
        )

    pos = ev.select(
        F.explode(F.array(_h(F.col("g"), 1), _h(F.col("g"), 16))).alias("p")
    )
    bloom = (
        pos.select(
            (F.col("p") / _BLOOM_W).cast("long").alias("w"),
            _bit("p").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )
    chk = post.where(F.col("source") != "src0").select(
        "doc_id",
        "g",
        _h(F.col("g"), 1).alias("p1"),
        _h(F.col("g"), 16).alias("p2"),
    )
    b1 = F.broadcast(
        bloom.select(F.col("w").alias("w1"), F.col("bits").alias("bits1"))
    )
    b2 = F.broadcast(
        bloom.select(F.col("w").alias("w2"), F.col("bits").alias("bits2"))
    )
    hit = (
        chk.join(b1, (F.col("p1") / _BLOOM_W).cast("long") == F.col("w1"))
        .join(b2, (F.col("p2") / _BLOOM_W).cast("long") == F.col("w2"))
        .where(
            (F.col("bits1").bitwiseAND(_bit("p1")) != 0)
            & (F.col("bits2").bitwiseAND(_bit("p2")) != 0)
        )
        .select("doc_id", "g")
    )
    exact = ev.withColumn("exact", F.lit(1))
    return (
        hit.join(F.broadcast(exact), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_flagged"),
            F.sum(F.coalesce(F.col("exact"), F.lit(0)))
            .cast("long")
            .alias("n_exact"),
        )
        .orderBy("doc_id")
    )


SAMPLE_WEIGHTED_ORACLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         (CAST(n_chars AS DOUBLE) * 1152921504606846976) /
         CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) + 1 AS DOUBLE) AS priority
  FROM documents
)
SELECT doc_id, n_chars, priority
FROM keyed ORDER BY priority DESC, doc_id LIMIT 200
"""


@register("sample_weighted", oracle=SAMPLE_WEIGHTED_ORACLE, tags=("sample",))
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via priority sampling
    (Duffield-Lund-Thorup): each row gets priority w/u with u uniform in
    (0,1], the k largest priorities form the sample.  u derives from an
    md5 of the row id, so the draw is deterministic, reproducible across
    engines, and — unlike the exp/ln formulation of Efraimidis-Spirakis
    keys — uses only IEEE-exactly-rounded multiply/divide, making the
    keys bit-identical in any engine.  Weight = n_chars (length-biased
    selection, the usual token-budget proxy).

    Scale: the only cross-partition step is TakeOrderedAndProject —
    per-partition top-k then a driver merge of k·P candidate rows; no
    shuffle of the corpus, no per-stratum state.  At 100 TB this is the
    one-pass distributed weighted sample."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    priority = (
        F.col("n_chars").cast("double") * F.lit(1152921504606846976.0)
    ) / (h + F.lit(1)).cast("double")
    return (
        docs.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(200)
    )


_RAWURL_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END, "
    "source, CASE WHEN doc_id % 7 = 0 THEN '.Example.COM' ELSE "
    "'.example.com' END, "
    "CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END, "
    "'/Docs/', CAST(doc_id % 40 AS STRING), "
    "CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END, "
    "'?utm_source=feed&b=', CAST(doc_id % 5 AS STRING), '&a=1', "
    "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)"
)
_RAWURL_DUCK = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) || "
    "source || (CASE WHEN doc_id % 7 = 0 THEN '.Example.COM' ELSE "
    "'.example.com' END) || "
    "(CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) || "
    "'/Docs/' || CAST(doc_id % 40 AS VARCHAR) || "
    "(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) || "
    "'?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1' || "
    "(CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)"
)

DEDUP_URL_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_RAWURL_DUCK} AS u FROM documents),
parts AS (
  SELECT doc_id, split_part(u, '#', 1) AS u0 FROM raw
),
canon AS (
  SELECT doc_id,
    regexp_replace(
      lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]+)', 1)),
      ':(80|443)$', '')
    || regexp_replace(
         regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1),
         '/+$', '')
    || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        ELSE '' END) AS url
  FROM (
    SELECT doc_id, u0,
      list_sort(list_filter(string_split(
        CASE WHEN contains(u0, '?') THEN split_part(u0, '?', 2)
             ELSE '' END, '&'),
        x -> x <> '' AND NOT regexp_matches(x,
             '^(utm_[^=]*|fbclid|gclid|ref)='))) AS kept
    FROM parts)
)
SELECT url, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
FROM canon GROUP BY url ORDER BY url
"""


@register("dedup_url_canonical", oracle=DEDUP_URL_ORACLE, tags=("dedup",))
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level deduplication, the cheapest dedup tier in a crawl
    pipeline: canonicalize each document's URL (case-folded scheme+host,
    default ports and fragments stripped, tracking params dropped,
    surviving params sorted, trailing slash trimmed) and group on the
    canonical form, keeping the smallest doc_id.  Raw URLs are built
    deterministically from doc fields (the fixture has none) with
    per-row case/port/fragment noise, so the canonicalizer — not the
    construction — is what collapses groups.  Entirely codegen column
    expressions; dedup is one shuffle on the canonical key at any
    scale."""
    docs = _t(spark, sf_dir, "documents")
    canon = tx.canonicalize_url(F.expr(_RAWURL_SPARK))
    return (
        docs.select(canon.alias("url"), "doc_id")
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper"),
        )
        .orderBy("url")
    )


TEXT_NB_FILTER_ORACLE = """
WITH tok AS (
  SELECT doc_id, doc_id % 2 AS cls, w
  FROM (SELECT doc_id,
               UNNEST(list_distinct(string_split(lower(text), ' '))) AS w
        FROM documents)
  WHERE w <> ''
),
weights AS (
  SELECT w, SUM(CASE WHEN cls = 1 THEN 1 ELSE -1 END) AS wt
  FROM tok WHERE doc_id < 300 GROUP BY w
),
scored AS (
  SELECT t.doc_id, SUM(COALESCE(weights.wt, 0)) AS score
  FROM (SELECT doc_id, w FROM tok
        WHERE doc_id >= 300 AND doc_id < 500) t
  LEFT JOIN weights ON t.w = weights.w
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(score AS BIGINT) AS score, score > 0 AS keep
FROM scored ORDER BY doc_id
"""


@register("text_nb_filter", oracle=TEXT_NB_FILTER_ORACLE, tags=("text",))
def text_nb_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality filter trained on the cluster itself (the fastText-style
    classifier tier of a training-data pipeline, reduced to its Spark
    shape): a labeled seed set (doc_id parity stands in for human
    labels) yields per-word discriminative weights by counting — a
    single (word) shuffle with map-side combine — and unseen documents
    score as the sum of their distinct words' weights via a
    broadcast-joined vocabulary.  Integer count differences instead of
    log-probabilities keep the score engine-exact; the decision
    boundary (score > 0) is the same sign test NB log-odds would give
    with balanced classes.  At 100 TB: vocabulary stays
    broadcast-sized after min-count pruning, scoring is embarrassingly
    parallel."""
    docs = _t(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2).alias("cls"),
            F.explode(
                F.array_distinct(F.split(F.lower(F.col("text")), " "))
            ).alias("w"),
        )
        .where(F.col("w") != "")
    )
    weights = (
        tok.where(F.col("doc_id") < 300)
        .groupBy("w")
        .agg(
            F.sum(
                F.when(F.col("cls") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias("wt")
        )
    )
    return (
        tok.where((F.col("doc_id") >= 300) & (F.col("doc_id") < 500))
        .select("doc_id", "w")
        .join(F.broadcast(weights), "w", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("wt"), F.lit(0))).alias("score"))
        .select(
            "doc_id",
            F.col("score").cast("long").alias("score"),
            (F.col("score") > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


PQ_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id, [CAST(round(x * 1000) AS BIGINT) FOR x IN embedding] AS qv
  FROM embeddings
),
sub AS (
  SELECT vec_id, CAST(s.sub_id AS INT) AS sub_id,
         list_slice(qv, s.sub_id * 16 + 1, s.sub_id * 16 + 16) AS sv
  FROM q, range(0, 4) s(sub_id)
),
c0 AS (
  SELECT sub_id, CAST(rn - 1 AS INT) AS code, sv AS cv FROM (
    SELECT sub_id, sv,
           ROW_NUMBER() OVER (PARTITION BY sub_id ORDER BY vec_id) AS rn
    FROM sub) WHERE rn <= 8
),
a1 AS (
  SELECT vec_id, sub.sub_id, code, sv, ROW_NUMBER() OVER (
    PARTITION BY vec_id, sub.sub_id
    ORDER BY list_sum([(sv[i] - cv[i]) * (sv[i] - cv[i])
                       FOR i IN range(1, len(sv) + 1)]), code) AS rn
  FROM sub JOIN c0 ON sub.sub_id = c0.sub_id
),
c1 AS (
  SELECT sub_id, code, list(CAST(floor(s / n) AS BIGINT) ORDER BY i) AS cv
  FROM (
    SELECT sub_id, code, u.i AS i, SUM(sv[u.i]) AS s, COUNT(*) AS n
    FROM a1, range(1, 17) u(i) WHERE rn = 1
    GROUP BY sub_id, code, u.i)
  GROUP BY sub_id, code
),
enc AS (
  SELECT vec_id, sub_id, code FROM (
    SELECT vec_id, sub.sub_id, code, ROW_NUMBER() OVER (
      PARTITION BY vec_id, sub.sub_id
      ORDER BY list_sum([(sv[i] - cv[i]) * (sv[i] - cv[i])
                         FOR i IN range(1, len(sv) + 1)]), code) AS rn
    FROM sub JOIN c1 ON sub.sub_id = c1.sub_id) WHERE rn = 1
),
qd AS (
  SELECT s.vec_id AS query_id, s.sub_id, c1.code,
         list_sum([(s.sv[i] - c1.cv[i]) * (s.sv[i] - c1.cv[i])
                   FOR i IN range(1, len(s.sv) + 1)]) AS d
  FROM sub s JOIN c1 ON s.sub_id = c1.sub_id
  WHERE s.vec_id < 3
),
adc AS (
  SELECT qd.query_id, e.vec_id, CAST(SUM(qd.d) AS BIGINT) AS adc
  FROM enc e JOIN qd ON e.sub_id = qd.sub_id AND e.code = qd.code
  WHERE e.vec_id <> qd.query_id
  GROUP BY 1, 2
)
SELECT query_id, rank, vec_id, adc FROM (
  SELECT query_id, vec_id, adc,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY adc, vec_id) AS INT) AS rank
  FROM adc) WHERE rank <= 10
ORDER BY query_id, rank
"""


@register("sim_pq_topk", oracle=PQ_TOPK_ORACLE, tags=("sim", "embedding"))
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (data/similarity.py::pq_adc_topk): 4
    subspaces x 8-centroid integer codebooks (one Lloyd refinement from
    lowest-id seeds), every vector encoded as 4 codes, queries answered
    by asymmetric distance over a broadcast (query, subspace, code)
    lookup table.  The oracle replays the identical integer arithmetic,
    so ranks match bit-exactly.  PQ is the memory-bound scale path: the
    stored index is m codes per vector instead of the raw floats."""
    from tidb_spark.data import similarity as sim

    emb = dd.spread_small(_t(spark, sf_dir, "embeddings"), "vec_id")
    return sim.pq_adc_topk(
        emb, vec_col="embedding", id_col="vec_id",
        m=4, k=8, iters=2, scale=1000, n_queries=3, topk=10,
    ).orderBy("query_id", "rank")


DEDUP_EDIT_ORACLE = f"""
WITH nd AS (SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200),
sh AS (
  SELECT doc_id,
         list_distinct([substr(n, i, 8)
                        FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM nd
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.s, b.s)) AS c, len(a.s) AS n1, len(b.s) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
),
cand AS (
  SELECT d1, d2 FROM pairs
  WHERE CAST(c AS DOUBLE) / (n1 + n2 - c) >= 0.2
)
SELECT cand.d1, cand.d2,
       CAST(levenshtein(x.n, y.n) AS BIGINT) AS dist,
       CAST((greatest(length(x.n), length(y.n)) - levenshtein(x.n, y.n))
            * 1000000 // greatest(length(x.n), length(y.n)) AS BIGINT)
         AS sim_micros
FROM cand JOIN nd x ON x.doc_id = cand.d1 JOIN nd y ON y.doc_id = cand.d2
ORDER BY d1, d2
"""


@register("dedup_edit_verify", oracle=DEDUP_EDIT_ORACLE, tags=("dedup",))
def dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification tier: candidate pairs from the shingle
    inverted index (never all-pairs) get an exact Levenshtein check —
    the standard two-stage near-dup pipeline where the O(len²) DP runs
    only on pairs the cheap index already suspects.  Similarity reported
    in integer micros (floor), engine-exact.  Scale: the candidate set
    is the posting join's output; Levenshtein work ∝ |candidates|, never
    ∝ n²."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    cand = dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=8, threshold=0.2, max_posting=None
    ).select("d1", "d2")
    nd = docs.select(
        "doc_id", dd.normalize_text(F.col("text")).alias("n")
    )
    x = nd.toDF("d1", "n1")
    y = nd.toDF("d2", "n2")
    dist = F.levenshtein(F.col("n1"), F.col("n2"))
    mx = F.greatest(F.length("n1"), F.length("n2"))
    return (
        cand.join(x, "d1")
        .join(y, "d2")
        .select(
            "d1",
            "d2",
            dist.cast("long").alias("dist"),
            F.floor((mx - dist) * F.lit(1000000) / mx)
            .cast("long")
            .alias("sim_micros"),
        )
        .orderBy("d1", "d2")
    )


_BP_HEADER = "terms of service apply to all content on this site"
_BP_BLOCK = "subscribe now to our daily newsletter for more updates today"
_BP_INJECT_SPARK = (
    f"concat('{_BP_HEADER} ', "
    f"CASE WHEN doc_id % 2 = 0 THEN '{_BP_BLOCK} ' ELSE '' END, text)"
)
_BP_INJECT_DUCK = (
    f"'{_BP_HEADER} ' || "
    f"(CASE WHEN doc_id % 2 = 0 THEN '{_BP_BLOCK} ' ELSE '' END) || text"
)

BOILERPLATE_ORACLE = f"""
WITH nd AS (
  SELECT doc_id,
         regexp_replace(trim(lower({_BP_INJECT_DUCK})), '\\s+', ' ', 'g') AS n
  FROM documents
),
idx AS (
  SELECT doc_id, n,
         UNNEST(range(0, CAST(ceil(len(string_split(n, ' ')) / 10.0)
                              AS BIGINT))) AS seg_idx
  FROM nd
),
segs AS (
  SELECT doc_id, seg_idx,
         array_to_string(list_slice(string_split(n, ' '),
                                    seg_idx * 10 + 1, seg_idx * 10 + 10),
                         ' ') AS seg
  FROM idx
),
common AS (
  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 50
),
kept AS (
  SELECT s.* FROM segs s LEFT JOIN common c ON s.seg = c.seg
  WHERE c.seg IS NULL
),
before AS (SELECT doc_id, COUNT(*) AS n_seg_before FROM segs GROUP BY doc_id)
SELECT b.doc_id AS doc, b.n_seg_before,
       COALESCE(k.n_seg_kept, 0) AS n_seg_kept,
       md5(COALESCE(k.cleaned, '')) AS cleaned_md5
FROM before b LEFT JOIN (
  SELECT doc_id, COUNT(*) AS n_seg_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned
  FROM kept GROUP BY doc_id) k ON b.doc_id = k.doc_id
ORDER BY doc
"""


@register("text_boilerplate_strip", oracle=BOILERPLATE_ORACLE, tags=("text",))
def text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (CCNet/C4 common-paragraph strip) via
    data/text.py::strip_common_segments: fixed-stride token segments,
    document-frequency count, segments in >= 50 docs stripped, survivors
    reassembled in order.  A universal header and an every-other-doc
    promo block are injected deterministically (the fixture has no
    boilerplate); the strip must remove exactly those and nothing else.
    Two keyed shuffles, boilerplate set applied as an anti-join — no
    all-pairs, no driver state."""
    # spread_small BEFORE the injection/segmentation: the documents
    # parquet arrives as one scan split, so the normalize-regex + explode
    # would run single-threaded without it (r9; same fix as the other
    # heavy per-row doc queries).
    docs = dd.spread_small(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.expr(_BP_INJECT_SPARK).alias("btext")
    )
    out = tx.strip_common_segments(
        docs, "btext", "doc_id", seg_tokens=10, min_df=50
    )
    return out.select(
        "doc",
        "n_seg_before",
        "n_seg_kept",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).orderBy("doc")


SAMPLE_SPLIT_ORACLE = """
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) % 10 AS b
    FROM documents)
)
SELECT split, lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
FROM assigned GROUP BY split, lang ORDER BY split, lang
"""


@register("sample_split", oracle=SAMPLE_SPLIT_ORACLE, tags=("sample",))
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by hashing the
    stable document id — the split every training pipeline needs to be
    reproducible across reruns, engines, and data arrivals: a document's
    split NEVER changes when other documents are added or removed
    (hash-based, not rank-based).  Zero joins, zero window functions —
    one map-side-combined aggregate summarizes the assignment; the id
    checksum per (split, lang) cell pins every single row's assignment."""
    docs = _t(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
    )
    split = (
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    ).alias("split")
    return (
        docs.select(split, "lang", "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("split", "lang")
    )


DEDUP_ENSEMBLE_ORACLE = f"""
WITH RECURSIVE nd AS (
  SELECT doc_id, {_NORM} AS n FROM documents WHERE doc_id < 200
),
raw AS (SELECT doc_id, {_RAWURL_DUCK} AS u FROM documents WHERE doc_id < 200),
parts AS (SELECT doc_id, split_part(u, '#', 1) AS u0 FROM raw),
canon AS (
  SELECT doc_id,
    regexp_replace(
      lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]+)', 1)),
      ':(80|443)$', '')
    || regexp_replace(
         regexp_extract(u0, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+([^?]*)', 1),
         '/+$', '')
    || (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        ELSE '' END) AS url
  FROM (
    SELECT doc_id, u0,
      list_sort(list_filter(string_split(
        CASE WHEN contains(u0, '?') THEN split_part(u0, '?', 2)
             ELSE '' END, '&'),
        x -> x <> '' AND NOT regexp_matches(x,
             '^(utm_[^=]*|fbclid|gclid|ref)='))) AS kept
    FROM parts)
),
url_keep AS (SELECT url, MIN(doc_id) AS k FROM canon GROUP BY url),
url_edges AS (
  SELECT uk.k AS d1, c.doc_id AS d2
  FROM canon c JOIN url_keep uk ON c.url = uk.url
  WHERE c.doc_id <> uk.k
),
sh AS (
  SELECT doc_id,
         list_distinct([substr(n, i, 8)
                        FOR i IN range(1, greatest(length(n) - 6, 2))]) AS s
  FROM nd
),
jac AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
),
all_pairs AS (SELECT d1, d2 FROM url_edges UNION SELECT d1, d2 FROM jac),
-- MATERIALIZED: DuckDB inlines plain CTEs, so the recursive step below
-- would otherwise recompute the full jaccard all-pairs every iteration.
edges AS MATERIALIZED (
  SELECT d1 AS a, d2 AS b FROM all_pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM all_pairs
),
reach(n, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT reach.n, edges.b FROM reach JOIN edges ON reach.r = edges.a
),
comp AS (SELECT n AS doc_id, MIN(r) AS canonical_id FROM reach GROUP BY n),
sizes AS (
  SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id
)
SELECT comp.doc_id, comp.canonical_id, sizes.cluster_size
FROM comp JOIN sizes USING (canonical_id)
ORDER BY doc_id
"""


@register("dedup_ensemble_cluster", oracle=DEDUP_ENSEMBLE_ORACLE, tags=("dedup",))
def dedup_ensemble_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble dedup: union the candidate edges from TWO independent
    signals — same canonical URL (keeper→member star edges, enough for
    connectivity) and 8-gram Jaccard near-dup pairs — then resolve one
    transitive-closure cluster set over the combined graph.  This is the
    production shape: no single dedup signal catches everything, and
    clustering the union is how signals compose without double-counting.
    Edge construction is the two signals' own one-shuffle shapes;
    components run the partition-local contraction, then
    large-star/small-star rounds until the edge set is a star forest."""
    from tidb_spark.data import cluster as cl

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    url = docs.select(
        tx.canonicalize_url(F.expr(_RAWURL_SPARK)).alias("url"), "doc_id"
    )
    keepers = url.groupBy("url").agg(F.min("doc_id").alias("k"))
    url_edges = (
        url.join(keepers, "url")
        .where(F.col("doc_id") != F.col("k"))
        .select(F.col("k").alias("d1"), F.col("doc_id").alias("d2"))
    )
    jac = dd.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=8, threshold=0.2, max_posting=None
    ).select("d1", "d2")
    return cl.duplicate_clusters(url_edges.unionByName(jac)).orderBy("doc_id")


# --------------------------------------------------------------------------
# Hybrid retrieval: BM25 keyword ranking fused with embedding dot-product
# ranking by Reciprocal Rank Fusion (r8; Cormack et al. 2009 — the
# standard first-stage retrieval fusion in RAG data pipelines).  RRF
# needs only the two RANK columns, so the whole fusion is integer-exact:
# contribution = 1e9 // (60 + rank) in integer division (k=60, the
# paper's constant), summed across lists, missing side contributes 0.
# Both engines run identical integer arithmetic end to end.

RRF_TERMS = ("merge", "window", "stream")
_RRF_TF = ",\n         ".join(
    f"len([x FOR x IN toks IF x = '{t}']) AS tf{i}"
    for i, t in enumerate(RRF_TERMS, 1)
)
_RRF_DF = ", ".join(
    f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
    for i in range(1, len(RRF_TERMS) + 1)
)
_RRF_SCORE = " + ".join(
    f"(CASE WHEN tf{i} = 0 THEN 0 ELSE "
    f"(10000 * ((n - df{i} + 1) * 44 * a * tf{i})) // "
    f"((df{i} + 1) * (20 * a * tf{i} + 6 * a + 18 * n * dl)) END)"
    for i in range(1, len(RRF_TERMS) + 1)
)

RETRIEVAL_HYBRID_RRF_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
per AS (
  SELECT doc_id, len(toks) AS dl,
         {_RRF_TF}
  FROM tk
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS a,
         {_RRF_DF}
  FROM per
),
bm AS (
  SELECT doc_id, CAST({_RRF_SCORE} AS BIGINT) AS s
  FROM per, tot
  WHERE {_RRF_SCORE} > 0
),
bmr AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r
  FROM bm QUALIFY r <= 50
),
q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
  FROM embeddings
),
qv0 AS (SELECT qv AS q0 FROM q WHERE vec_id = 0),
vs AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(list_zip(qv, q0), p -> p[1] * p[2]))
              AS BIGINT) AS dot
  FROM q, qv0
),
vsr AS (
  SELECT vec_id AS doc_id,
         ROW_NUMBER() OVER (ORDER BY dot DESC, vec_id) AS r
  FROM vs QUALIFY r <= 50
),
fused AS (
  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id,
         COALESCE(1000000000 // (60 + b.r), 0)
       + COALESCE(1000000000 // (60 + v.r), 0) AS rrf_nano
  FROM bmr b FULL OUTER JOIN vsr v ON b.doc_id = v.doc_id
)
SELECT doc_id, rrf_nano FROM fused
ORDER BY rrf_nano DESC, doc_id
LIMIT 20
"""


@register(
    "retrieval_hybrid_rrf",
    oracle=RETRIEVAL_HYBRID_RRF_ORACLE,
    tags=("text", "similarity"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid first-stage retrieval: BM25 top-50 (integer-exact rational
    idf, same constants as text_bm25_topk) ⊕ embedding dot-product
    top-50 (query = vec 0, quantized 1e6), fused with RRF(k=60) in
    integer nano-units.  Scale shape: each branch is the already-proven
    plan (1-row corpus-stats broadcast + map-side scoring + top-k
    window on one partition of 50 rows); the fusion is a 50×50-row
    full-outer join — driver-free, broadcast-sized by construction, and
    the final top-20 is a TakeOrderedAndProject.  At 100 TB the two
    branches dominate and stay embarrassingly parallel; the fused rank
    join never grows past 2×50 rows regardless of corpus size."""
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", dd.normalize_text(F.col("text")).alias("nrm")
        ),
        "doc_id",
    )
    toks = docs.select("doc_id", F.split("nrm", " ").alias("toks"))
    per = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(
                F.filter(
                    F.col("toks"), (lambda term: lambda x: x == F.lit(term))(t)
                )
            )
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(RRF_TERMS, 1)
        ],
    )
    # NOT checkpointed (r12 negative result, re-measured after the A/B
    # harness fix): materializing `per` for its two consumers (stats
    # aggregate + scoring branch) measured 0.96 → 1.44 s interleaved —
    # the checkpoint barrier serializes the two branches and the
    # embedding branch behind it, costing more than the duplicated
    # tokenize it saves.
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").alias("a"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(1, len(RRF_TERMS) + 1)
        ],
    )
    score = None
    for i in range(1, len(RRF_TERMS) + 1):
        term = F.when(F.col(f"tf{i}") == 0, F.lit(0).cast("long")).otherwise(
            F.expr(
                f"(10000 * ((n - df{i} + 1) * 44 * a * tf{i})) div "
                f"((df{i} + 1) * (20 * a * tf{i} + 6 * a + 18 * n * dl))"
            )
        )
        score = term if score is None else score + term
    bm = (
        per.crossJoin(F.broadcast(tot))
        .select("doc_id", score.alias("s"))
        .where(F.col("s") > 0)
    )
    w_all = Window.orderBy(F.col("s").desc(), "doc_id")
    bmr = (
        bm.orderBy(F.col("s").desc(), "doc_id")
        .limit(50)
        .withColumn("r", F.row_number().over(w_all))
        .select("doc_id", "r")
    )
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qv"),
    )
    q0 = emb.where(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    vs = emb.crossJoin(F.broadcast(q0)).select(
        "vec_id",
        F.expr(
            "CAST(aggregate(zip_with(qv, q0, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS BIGINT)"
        ).alias("dot"),
    )
    w_vec = Window.orderBy(F.col("dot").desc(), "vec_id")
    vsr = (
        vs.orderBy(F.col("dot").desc(), "vec_id")
        .limit(50)
        .withColumn("r", F.row_number().over(w_vec))
        .select(F.col("vec_id").alias("doc_id"), "r")
    )
    fused = (
        bmr.withColumnRenamed("r", "rt")
        .join(vsr.withColumnRenamed("r", "rv"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr("1000000000 div (60 + rt)"), F.lit(0).cast("long")
                )
                + F.coalesce(
                    F.expr("1000000000 div (60 + rv)"), F.lit(0).cast("long")
                )
            ).alias("rrf_nano"),
        )
    )
    return fused.orderBy(F.col("rrf_nano").desc(), "doc_id").limit(20)


# --------------------------------------------------------------------------
# BPE merge-pair counting (r8): the inner statistic of byte-pair-encoding
# tokenizer training (Sennrich et al. 2016) — adjacent-symbol pair
# frequencies over the corpus, weighted by word frequency.  One training
# iteration = "find the argmax pair"; this operator produces the ranked
# pair table.  Integer counts end to end.

TEXT_BPE_PAIRS_ORACLE = f"""
WITH wd AS (
  SELECT unnest(regexp_extract_all({_NORM}, '[a-z]+')) AS w FROM documents
),
wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM wd GROUP BY w
),
pr AS (
  SELECT substring(w, CAST(i AS INT), 2) AS pair, f
  FROM wf, UNNEST(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
FROM pr
GROUP BY pair
ORDER BY cnt DESC, pair
LIMIT 20
"""


@register("text_bpe_pairs", oracle=TEXT_BPE_PAIRS_ORACLE, tags=("text",))
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates: adjacent character pairs ranked by
    frequency-weighted corpus count.  Scale shape: occurrences collapse
    to the VOCABULARY first (one shuffle on word — vocab is sublinear in
    corpus size, Heaps' law), then pairs explode from distinct words
    only and aggregate with map-side partial sums (second shuffle on the
    ≤26² pair space); the argmax is a TakeOrderedAndProject.  At 100 TB
    the occurrence→vocab aggregate is the only data-sized stage and it
    is embarrassingly combinable."""
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", dd.normalize_text(F.col("text")).alias("nrm")
        ),
        "doc_id",
    )
    words = docs.select(
        F.explode(F.expr("regexp_extract_all(nrm, '[a-z]+', 0)")).alias("w")
    )
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("f"))
    pairs = (
        wf.where(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1), "
                    "i -> substring(w, i, 2))"
                )
            ).alias("pair"),
            "f",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Real JPEG decode through the multimodal pipeline (r8; data/jpeg.py —
# baseline ITU-T T.81 in pure numpy).  The payload is a smooth luminance
# ramp whose SOURCE pixel sum has a closed form Σx h·(x·255//(w−1)), so a
# SQL oracle recomputes width/height/exact-sum analytically and the query
# asserts the DECODED sum lands inside a small per-pixel error bound (±3
# per sample — DCT quantization of a smooth ramp).  That turns a lossy
# codec into an oracle-checkable operator without pretending SQL can
# inverse-DCT.

MM_JPEG_ORACLE = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 0 AND doc_id < 400
),
dims AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 16 AS INT) AS width,
         CAST(doc_id % 16 + 8 AS INT) AS height,
         CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END AS BIGINT) AS ch
  FROM ids
),
calc AS (
  SELECT doc_id, width, height,
         ch * height * CAST(list_sum(
             list_transform(range(0, width),
                            x -> CAST(x * 255 // (width - 1) AS BIGINT))
         ) AS BIGINT) AS exact_sum
  FROM dims
)
SELECT doc_id, width, height, TRUE AS sum_in_bound
FROM calc
ORDER BY doc_id
"""


@register("multimodal_jpeg_decode", oracle=MM_JPEG_ORACLE, tags=("multimodal",))
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode→decode baseline JPEG per document id (grayscale/4:2:0 RGB
    alternating, restart markers every 4 MCUs for id%8==0) and verify
    the decoded pixel sum against the analytic source sum within ±3 per
    sample.  Scale shape: synthesis and decode are both Arrow
    mapInPandas over id-partitioned batches — embarrassingly parallel,
    payload bytes shuffle once at most (spread_small no-ops when the
    producer already spread)."""
    ids = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 400))
        .select("doc_id")
    )
    media = mm.synthesize_jpeg_media(ids, "doc_id", n_ids=80)
    dec = mm.decode_media(media)
    out = dec.select(
        F.col("media_id").alias("doc_id"),
        "width",
        "height",
        "checksum",
        F.when(F.col("media_id") % 2 == 1, F.lit(3))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("ch"),
    ).withColumn(
        "exact_sum",
        F.col("ch")
        * F.col("height")
        * F.expr(
            "aggregate(transform(sequence(0, width - 1), "
            "x -> CAST(x * 255 div (width - 1) AS BIGINT)), "
            "CAST(0 AS BIGINT), (a, v) -> a + v)"
        ),
    )
    return out.select(
        "doc_id",
        "width",
        "height",
        (
            F.abs(F.col("checksum") - F.col("exact_sum"))
            <= 3 * F.col("ch") * F.col("width") * F.col("height")
        ).alias("sum_in_bound"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Bigram-LM surprise filter (r8): the KenLM-perplexity-filter shape from
# CCNet/Gopher-style pipelines, made integer-exact.  The corpus trains its
# own bigram model; a document's "surprise" is the mean inverse conditional
# frequency of its word bigrams, in integer micro-units:
#   surprise(doc) = ( Σ_{(w1,w2)∈doc} 1e6 · c_uni(w1) // c_bi(w1,w2) )
#                   // n_bigrams(doc)
# Every quantity is an exact corpus count (the corpus scores itself, so no
# unseen-bigram smoothing is needed); both engines compute identical
# integers.  High surprise = improbable word transitions = the docs a
# perplexity filter would drop.

TEXT_LM_SURPRISE_ORACLE = f"""
WITH tk AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS toks FROM documents
),
bg AS (
  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM tk, UNNEST(range(1, len(toks))) AS t(i)
),
cu AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY w1
),
cb AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY w1, w2
),
scored AS (
  SELECT bg.doc_id,
         CAST(SUM(1000000 * cu.cu // cb.cb) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM bg JOIN cu USING (w1) JOIN cb USING (w1, w2)
  GROUP BY bg.doc_id
)
SELECT doc_id, CAST(total // n AS BIGINT) AS surprise_micro
FROM scored
ORDER BY surprise_micro DESC, doc_id
LIMIT 20
"""


@register("text_lm_surprise", oracle=TEXT_LM_SURPRISE_ORACLE, tags=("text",))
def text_lm_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 highest-surprise documents under the corpus's own bigram
    model (integer-exact perplexity-filter proxy).  Scale shape: the
    bigram stream shuffles twice on (w1) and (w1, w2) to build the model
    with map-side partial counts, then the scoring join keys on the SAME
    (w1, w2) — vocabulary is Heaps-law sublinear in corpus size, the
    per-doc aggregate is combinable, and the final ranking is a
    TakeOrderedAndProject.  At 100 TB the model tables are the only
    state and they partition by key like any aggregate."""
    docs = dd.spread_small(
        _t(spark, sf_dir, "documents").select(
            "doc_id", dd.normalize_text(F.col("text")).alias("nrm")
        ),
        "doc_id",
    )
    bg = (
        docs.select("doc_id", F.split("nrm", " ").alias("toks"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    bg = bg.localCheckpoint(eager=False)  # three consumers, one scan
    cu = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("cu"))
    cb = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    scored = (
        bg.join(cu, "w1")
        .join(cb, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr("1000000 * cu div cb")).cast("long").alias("total"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return (
        scored.select(
            "doc_id", F.expr("total div n").cast("long").alias("surprise_micro")
        )
        .orderBy(F.col("surprise_micro").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Real MP4 demux through the multimodal pipeline (r9; data/mp4.py —
# ISO 14496-12 box tree, Motion-JPEG + PCM16 `twos` tracks, pure
# Python/numpy).  Every muxed quantity is closed-form in doc_id, so the
# oracle recomputes dimensions / frame count / movie duration / the
# EXACT PCM sample sum analytically; the lossy Motion-JPEG pixel sum
# gets the same ±3-per-sample bound as multimodal_jpeg_decode.

MM_MP4_ORACLE = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 2 AND doc_id < 400
),
p AS (
  SELECT doc_id,
         CAST(doc_id % 24 + 16 AS INT) AS width,
         CAST(doc_id % 16 + 8 AS INT) AS height,
         CAST(doc_id % 3 + 1 AS INT) AS n_frames,
         doc_id % 300 + 100 AS n_pcm
  FROM ids
)
SELECT doc_id, width, height, n_frames,
       GREATEST(n_frames * 1000 // 30, n_pcm * 1000 // 8000) AS duration_ms,
       CAST(list_sum(list_transform(range(0, CAST(n_pcm AS INT)),
                j -> ((doc_id * 7 + 13 * j) % 65536) - 32768)) AS BIGINT)
           AS audio_sum,
       TRUE AS video_in_bound
FROM p
ORDER BY doc_id
"""


@register("multimodal_mp4_demux", oracle=MM_MP4_ORACLE, tags=("multimodal",))
def multimodal_mp4_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mux→demux real MP4 per document id: a Motion-JPEG track (id-derived
    ramp frames) plus a PCM16 `twos` track, then parse the box tree, walk
    stsc→stco→stsz exactly as a player does, decode every JPEG frame and
    PCM chunk, and verify frame count / duration / exact audio sum /
    bounded video sum against the analytic formulas.  Scale shape: both
    mux and demux are Arrow mapInPandas over id-partitioned batches —
    embarrassingly parallel, payload bytes never shuffle after synthesis
    (spread_small no-ops on the already-spread producer)."""
    ids = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 5 == 2) & (F.col("doc_id") < 400))
        .select("doc_id")
    )
    out = mm.demux_mp4(mm.synthesize_mp4_media(ids, "doc_id", n_ids=80))
    ramp_sum = F.expr(
        "aggregate(transform(sequence(0, width - 1), "
        "x -> CAST(x * 255 div (width - 1) AS BIGINT)), "
        "CAST(0 AS BIGINT), (a, v) -> a + v)"
    )
    return (
        out.select(
            F.col("media_id").alias("doc_id"),
            "width",
            "height",
            "n_frames",
            "duration_ms",
            "audio_sum",
            (
                F.abs(
                    F.col("video_sum")
                    - F.col("n_frames") * F.col("height") * ramp_sum
                )
                <= 3 * F.col("n_frames") * F.col("width") * F.col("height")
            ).alias("video_in_bound"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# MPEG audio frame walk (r9; data/mpeg_audio.py — ISO 11172-3 header +
# frame-length arithmetic, pure Python).  The stream structure is
# closed-form in doc_id (layer, frame count, sample rate, CBR/VBR
# bitrate pattern), so the oracle recomputes frame count / duration /
# exact byte totals analytically.  PCM synthesis is an explicit honest
# reject (module docstring) — this is the catalog/triage pass an audio
# corpus runs at scale, not a decode claim.

MM_MPEG_ORACLE = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 4 AND doc_id < 400
),
p AS (
  SELECT doc_id,
         CAST(doc_id % 2 + 2 AS INT) AS layer,
         CAST(doc_id % 20 + 5 AS INT) AS n_frames,
         [44100, 48000, 32000][CAST(doc_id % 3 AS INT) + 1] AS sample_rate,
         [64, 96, 128, 160][CAST(doc_id % 4 AS INT) + 1] AS br,
         doc_id % 4 <> 1 AS is_cbr
  FROM ids
)
SELECT doc_id, layer, n_frames, CAST(sample_rate AS INT) AS sample_rate,
       CAST(n_frames * 1152 * 1000 // sample_rate AS BIGINT) AS duration_ms,
       is_cbr,
       CAST(CASE WHEN is_cbr
                 THEN n_frames * (144000 * br // sample_rate)
                 ELSE ((n_frames + 1) // 2) * (144000 * br // sample_rate)
                      + (n_frames // 2) * (144000 * 2 * br // sample_rate)
            END AS BIGINT) AS total_bytes
FROM p
ORDER BY doc_id
"""


@register("multimodal_mpeg_scan", oracle=MM_MPEG_ORACLE, tags=("multimodal",))
def multimodal_mpeg_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize→walk MPEG-1 audio streams per document id (Layer II/III
    headers, CBR and alternating-bitrate VBR) and verify frame count,
    duration, CBR classification, and exact stream byte totals against
    the closed-form spec arithmetic.  Scale shape: synthesis and the
    frame walk are Arrow mapInPandas over id-partitioned batches —
    embarrassingly parallel, no shuffle after synthesis."""
    ids = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 5 == 4) & (F.col("doc_id") < 400))
        .select("doc_id")
    )
    out = mm.scan_mpeg(mm.synthesize_mpeg_media(ids, "doc_id", n_ids=80))
    return (
        out.select(
            F.col("media_id").alias("doc_id"),
            "layer",
            "n_frames",
            "sample_rate",
            "duration_ms",
            "is_cbr",
            "total_bytes",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Image resize (r9): exact area (box-filter) 2x2 downsample fused with the
# real PNG decode in one Arrow mapInPandas stage — the decode→transform
# shape of a training-data image pipeline.  The fixture pixels are
# closed-form in doc_id and the box filter is pure integer arithmetic
# (block sum // 4), so the oracle recomputes the RESIZED checksum exactly
# — no lossy bound needed, unlike the JPEG query.

MM_RESIZE_ORACLE = """
WITH ids AS (
  SELECT doc_id FROM documents WHERE doc_id % 5 = 1 AND doc_id < 400
),
dims AS (
  SELECT doc_id,
         2 * (doc_id % 16 + 8) AS w,
         2 * (doc_id % 12 + 6) AS h
  FROM ids
)
SELECT doc_id,
       CAST(w // 2 AS INT) AS out_w,
       CAST(h // 2 AS INT) AS out_h,
       CAST(list_sum(list_transform(range(0, CAST((w // 2) * (h // 2) AS INT)),
            b -> (  (doc_id * 31 + 2 * (b // (w // 2)) * w + 2 * (b % (w // 2))) % 256
                  + (doc_id * 31 + 2 * (b // (w // 2)) * w + 2 * (b % (w // 2)) + 1) % 256
                  + (doc_id * 31 + (2 * (b // (w // 2)) + 1) * w + 2 * (b % (w // 2))) % 256
                  + (doc_id * 31 + (2 * (b // (w // 2)) + 1) * w + 2 * (b % (w // 2)) + 1) % 256
                 ) // 4)) AS BIGINT) AS checksum
FROM dims
ORDER BY doc_id
"""


@register("multimodal_resize", oracle=MM_RESIZE_ORACLE, tags=("multimodal",))
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode→resize fusion: real PNG decode then exact integer box-filter
    2x2 downsample inside ONE mapInPandas stage (payload bytes cross into
    Python once; no intermediate pixel frames shuffle).  The resized
    checksum is bit-exact against the analytic oracle.  Scale shape:
    embarrassingly parallel over id-partitioned Arrow batches, identical
    to the other decode stages."""
    ids = (
        _t(spark, sf_dir, "documents")
        .where((F.col("doc_id") % 5 == 1) & (F.col("doc_id") < 400))
        .select("doc_id")
    )
    out = mm.decode_resize(mm.synthesize_png_media(ids, "doc_id", n_ids=80), 2, 2)
    return (
        out.select(
            F.col("media_id").alias("doc_id"), "out_w", "out_h", "checksum"
        )
        .orderBy("doc_id")
    )
