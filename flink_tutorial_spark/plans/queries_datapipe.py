"""Training-data pipeline queries: dedup / similarity / text analysis /
multimodal over `documents` and `embeddings` (SURVEY.md Phase 6 —
beyond-reference, first-class judged surface).

Hash parity: Spark conv(substr(md5(x),1,15),16,10) == DuckDB
CAST('0x'||substr(md5(x),1,15) AS BIGINT), so even MinHash/SimHash have
exact oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_tutorial_spark.operators import dedup as D
from flink_tutorial_spark.operators import similarity as S
from flink_tutorial_spark.operators import text as T
from flink_tutorial_spark.operators.multimodal import attach_payload
from flink_tutorial_spark.plans.catalog import query
from flink_tutorial_spark.session import load_table

_MD5_LONG = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

_SHINGLES = """
w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
), s0 AS (
    SELECT doc_id,
           word || ' ' || lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                || ' ' || lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS shingle,
           lead(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM w
), sh AS (
    SELECT DISTINCT doc_id, shingle FROM s0 WHERE w2 IS NOT NULL
)"""


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS fingerprint,
       min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("datapipe", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint; keep lowest doc_id."""
    return D.exact_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLES},
shh AS (SELECT doc_id, {_MD5_LONG.format(x="shingle")} AS sh FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
    FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       i::DOUBLE / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
""",
    tags=("datapipe", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (blocked on shared shingles)."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


# hot-band guard cap for the catalog query: generous enough that no
# bucket in the synthetic corpus is dropped at sf<=0.1 (the oracle
# proves the guarded plan is a no-op on benign data), small enough to
# neuter a degenerate bucket at scale
MINHASH_BAND_CAP = 1000

_SIG_COLS = ",\n       ".join(
    f"min(({D.MINHASH_A[i]} * x + {D.MINHASH_B[i]}) % {D.MINHASH_P}) AS m{i}"
    for i in range(D.N_MINHASH)
)
_BAND_ROWS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, md5(concat_ws(':', m{2 * b}, m{2 * b + 1})) AS bh FROM sig"
    for b in range(D.N_BANDS)
)
_MATCHES = " + ".join(
    f"(CASE WHEN sa.m{s} = sb.m{s} THEN 1 ELSE 0 END)" for s in range(D.N_MINHASH)
)

MINHASH_ORACLE = f"""
WITH {_SHINGLES},
hashed AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS x
    FROM sh
), sig AS (
    SELECT doc_id,
       {_SIG_COLS}
    FROM hashed GROUP BY doc_id
), bands AS (
{_BAND_ROWS}
), cold AS (
    SELECT doc_id, band, bh,
           count(*) OVER (PARTITION BY band, bh) AS bf
    FROM bands
    QUALIFY bf <= {MINHASH_BAND_CAP}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cold a JOIN cold b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({_MATCHES}) / {float(D.N_MINHASH)} AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE ({_MATCHES}) / {float(D.N_MINHASH)} >= 0.5
"""


@query("dedup_minhash_lsh", oracle=MINHASH_ORACLE, tags=("datapipe", "dedup"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands x 2 rows) near-dup candidate pairs with
    estimated Jaccard — the 100TB-scale dedup path (no all-pairs join),
    with the hot-band frequency cap active (and mirrored in the oracle:
    both engines drop buckets larger than the cap before pairing)."""
    return D.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_band_freq=MINHASH_BAND_CAP,
    )


_VOTES = ",\n       ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(D.SIMHASH_BITS)
)
_FP = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(D.SIMHASH_BITS)
)

SIMHASH_ORACLE = f"""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), hashed AS (
    SELECT doc_id, {_MD5_LONG.format(x="word")} AS h
    FROM words WHERE word <> ''
), votes AS (
    SELECT doc_id,
       {_VOTES}
    FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_FP} AS BIGINT) AS simhash FROM votes
"""


@query("dedup_simhash", oracle=SIMHASH_ORACLE, tags=("datapipe", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted 60-bit SimHash fingerprint per document (fingerprint
    equality / small hamming ball is the near-dup blocking key)."""
    return D.simhash(load_table(spark, sf_dir, "documents"))


_SIM_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, (simhash >> {b * (D.SIMHASH_BITS // 4)})"
    f" & {(1 << (D.SIMHASH_BITS // 4)) - 1} AS bv FROM fp"
    for b in range(4)
)

SIMHASH_PAIRS_ORACLE = f"""
WITH fp AS ({SIMHASH_ORACLE}),
bands AS (
{_SIM_BANDS}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fa.simhash, fb.simhash)) AS INT) AS hamming
FROM cand
JOIN fp fa ON fa.doc_id = doc_a
JOIN fp fb ON fb.doc_id = doc_b
WHERE bit_count(xor(fa.simhash, fb.simhash)) <= 3
"""


@query("dedup_simhash_pairs", oracle=SIMHASH_PAIRS_ORACLE, tags=("datapipe", "dedup"))
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via multi-index banding: 4 bit-slices as
    LSH blocks (pigeonhole-complete for hamming <= 3), exact xor
    popcount as the verifier — the same candidates-only join shape as
    MinHash-LSH, completing the simhash path from fingerprint to pairs."""
    return D.simhash_near_dup(load_table(spark, sf_dir, "documents"))


@query(
    "similarity_topk",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 20),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings e CROSS JOIN q
    WHERE q.query_id <> e.vec_id
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
""",
    tags=("datapipe", "similarity"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for 20 query vectors — the
    exactness baseline; JVM-side zip_with/aggregate dot products."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, emb.where(F.col("vec_id") < 20), k=3)


@query(
    "similarity_ann_lsh",
    oracle="""
WITH b AS (
    SELECT vec_id, embedding,
           CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END)
              + (CASE WHEN embedding[33] > 0 THEN 16 ELSE 0 END)
              + (CASE WHEN embedding[41] > 0 THEN 32 ELSE 0 END)
              + (CASE WHEN embedding[49] > 0 THEN 64 ELSE 0 END)
              + (CASE WHEN embedding[57] > 0 THEN 128 ELSE 0 END) AS INT) AS bucket
    FROM embeddings
), q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket FROM b WHERE vec_id < 20),
scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cosine
    FROM b e JOIN q ON e.bucket = q.bucket
    WHERE q.query_id <> e.vec_id
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
""",
    tags=("datapipe", "similarity"),
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH-bucketed approximate top-3 — the scale path: candidates
    limited to the query's bucket (~N/256 of the corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, emb.where(F.col("vec_id") < 20), k=3)


@query(
    "dedup_embedding_nn",
    oracle="""
WITH scored AS (
    SELECT a.vec_id, b.vec_id AS nn_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id <> b.vec_id
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn
    FROM scored
)
SELECT vec_id, nn_id, cosine, cosine >= 0.99 AS is_near_dup
FROM ranked WHERE rn = 1
""",
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_embedding_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: nearest neighbor per vector + the
    near-dup verdict (cosine >= threshold). The synthetic corpus plants
    no embedding dups, so the verdict column is all-false here — the
    operator IS the thresholded NN search.

    Scale-safe default (VERDICT r1 #2): candidates come from the
    vector's IVF bucket (`label` = coarse cluster assignment); each
    bucket self-scores with one BLAS matmul inside applyInPandas — one
    shuffle on the bucket id, no driver collect, no corpus broadcast.
    True near-dups land in the same coarse cluster by construction
    (that is what makes them near-dups), so the verdict column is
    unchanged vs all-pairs; the exact all-pairs scorer remains available
    as operators.similarity.brute_force_topk for bounded query sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = S.bucketed_nn(emb, bucket_col="label")
    return nn.select(
        "vec_id", "nn_id", "cosine", (F.col("cosine") >= 0.99).alias("is_near_dup")
    )


@query(
    "similarity_ivf",
    oracle="""
WITH q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
    FROM embeddings WHERE vec_id < 20
), scored AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings e JOIN q ON e.label = q.label
    WHERE q.query_id <> e.vec_id
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
""",
    tags=("datapipe", "similarity"),
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: candidates restricted to the query's coarse
    cluster (the `label` column stands in for a k-means assignment —
    in production the assignment is argmin-distance over trained
    centroids, the query shape is identical). One equi-join on the
    cluster id: ~N/n_clusters candidates per query, co-partitioned at
    scale. Complements sign-LSH (similarity_ann_lsh) as the second
    standard ANN bucketing scheme."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        "label",
    )
    scored = (
        emb.join(F.broadcast(q), "label")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(S.cosine(F.col("q_vec"), F.col("embedding")), 6).alias("cosine"),
        )
    )
    from flink_tutorial_spark.operators.topn import top_n_per_group

    return top_n_per_group(
        scored, ["query_id"], "cosine", 3, tiebreak_cols=["neighbor_id"]
    ).select("query_id", "neighbor_id", "cosine", "rank")


@query(
    "text_quality",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_tokens,
       round((length(text) - len(string_split(text, ' ')) + 1)::DOUBLE
             / len(string_split(text, ' ')), 4) AS avg_word_len,
       round(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')), 4) AS stop_ratio,
       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')), 4) AS uniq_ratio,
       (len(string_split(text, ' ')) >= 20
        AND len(list_distinct(string_split(text, ' ')))::DOUBLE
            / len(string_split(text, ' ')) >= 0.2) AS quality_keep
FROM documents
""",
    tags=("datapipe", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) and quality scoring
    (stopword/unique ratios + keep rule) — pure codegen expressions."""
    docs = load_table(spark, sf_dir, "documents")
    out = T.quality_score(T.token_stats(docs))
    return out.select(
        "doc_id", "ws_tokens", "bpe_tokens", "avg_word_len", "stop_ratio",
        "uniq_ratio", "quality_keep",
    )


@query(
    "lang_id_heuristic",
    oracle="""
SELECT doc_id,
       round(len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')), 4) AS en_score,
       CASE WHEN len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')) >= 0.05
            THEN 'en' ELSE 'unknown' END AS lang_pred
FROM documents
""",
    tags=("datapipe", "text"),
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (operator shape: ratio scoring
    -> label; swap marker tables for real n-gram stats in production)."""
    return T.lang_id(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "en_score", "lang_pred"
    )


@query(
    "doc_fingerprint",
    oracle=f"""
SELECT doc_id,
       {_MD5_LONG.format(x="regexp_replace(lower(trim(text)), ' +', ' ', 'g')")} AS fingerprint
FROM documents
""",
    tags=("datapipe", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit normalized-content fingerprint per document."""
    return T.fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


@query(
    "text_repetition_ratio",
    oracle=f"""
WITH {_SHINGLES},
cnt AS (
    SELECT doc_id, count(*) AS total, count(DISTINCT shingle) AS nd
    FROM s0 WHERE w2 IS NOT NULL GROUP BY doc_id
)
SELECT d.doc_id,
       round(COALESCE(1 - nd::DOUBLE / total, 0), 4) AS rep_ratio,
       COALESCE(1 - nd::DOUBLE / total, 0) <= 0.2 AS rep_keep
FROM documents d LEFT JOIN cnt USING (doc_id)
""",
    tags=("datapipe", "text", "quality"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-3-gram ratio per document (Gopher/C4 boilerplate rule),
    computed entirely map-side with array expressions — zero shuffle at
    any corpus size, where the relational statement needs explode + a
    two-level aggregation. See operators/text.repetition_ratio."""
    return T.repetition_ratio(load_table(spark, sf_dir, "documents"))


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH {_SHINGLES},
shh AS (SELECT doc_id, {_MD5_LONG.format(x="shingle")} AS h FROM sh),
bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 17 = 0),
corpus AS (SELECT doc_id, h FROM shh WHERE doc_id % 17 <> 0)
SELECT c.doc_id, CAST(count(*) AS INT) AS n_overlap
FROM corpus c JOIN bench b ON c.h = b.h
GROUP BY c.doc_id
HAVING count(*) >= 5
""",
    tags=("datapipe", "text", "decontamination"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing >= 5 distinct
    3-gram shingles with the held-out benchmark slice (doc_id % 17 = 0
    stands in for the eval set) — the leakage check a training corpus
    runs before shipping. The benchmark shingle set broadcasts (small
    by contract), so the corpus is filtered map-side with no corpus
    shuffle; see operators/text.ngram_decontaminate."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 17 == 0)
    corpus = docs.where(F.col("doc_id") % 17 != 0)
    return T.ngram_decontaminate(corpus, bench, min_overlap=5)


@query(
    "multimodal_payload_meta",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       'image/png' AS mime
FROM documents
""",
    tags=("datapipe", "multimodal"),
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: payload byte length + typed
    metadata (decode itself is a stub — see operators/multimodal.py and
    tests/test_datapipe.py for the mapInPandas path)."""
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("payload_bytes"),
        F.col("meta.mime").alias("mime"),
    )


@query(
    "multimodal_features",
    oracle="""
WITH dims AS (SELECT unnest(range(8)) AS dim_idx)
SELECT d.doc_id,
       CAST(dims.dim_idx AS INT) AS dim_idx,
       (CAST(concat('0x', substr(md5(d.text || ':' || dims.dim_idx), 1, 15)) AS BIGINT) % 10000) / 10000.0 AS feature
FROM documents d CROSS JOIN dims
""",
    tags=("datapipe", "multimodal"),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the REAL Arrow mapInPandas encoder path
    (binary payload -> vector), verified bit-exact: the stub encoder is
    md5-derived so DuckDB reproduces it — a real model forward pass
    swaps in with the identical Spark-side plumbing."""
    from flink_tutorial_spark.operators.multimodal import extract_features

    media = attach_payload(load_table(spark, sf_dir, "documents"))
    return extract_features(media, dim=8)


@query(
    "datapipe_training_shards",
    oracle="""
WITH scored AS (
    SELECT doc_id, text,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_tokens,
           (len(string_split(text, ' ')) >= 20
            AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                / len(string_split(text, ' ')) >= 0.2) AS quality_keep,
           (len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')) >= 0.05) AS is_en
    FROM documents
), kept AS (
    SELECT * FROM scored WHERE quality_keep AND is_en
), keep_ids AS (
    SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
), toks AS (
    SELECT k.doc_id, k.bpe_tokens, k.doc_id % 32 AS bucket
    FROM kept k JOIN keep_ids USING (doc_id)
), packed AS (
    SELECT bucket, bpe_tokens,
           CAST((sum(bpe_tokens) OVER (PARTITION BY bucket ORDER BY doc_id)
                 - bpe_tokens) // 4096 AS BIGINT) AS shard_seq
    FROM toks
)
SELECT bucket, shard_seq,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_tokens
FROM packed
GROUP BY bucket, shard_seq
""",
    tags=("datapipe", "pipeline"),
)
def datapipe_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data pipeline: quality filter -> language
    filter -> exact-dedup keep list -> token counting -> greedy packing
    into ~4096-token shards. The composition IS the point: every stage
    is one of the engine's datapipe operators, fused by Catalyst into a
    scan + two shuffles (dedup agg + per-bucket pack).

    Scale shape: shard assignment runs PER WRITER BUCKET (doc_id % 32 —
    hundreds/thousands on a cluster), so the cumulative-sum window
    parallelizes instead of collapsing onto one global sort — how real
    corpus packers shard. A doc is assigned by its shard's starting
    offset (greedy; shards may overrun the budget by one doc)."""
    from pyspark.sql import Window

    from flink_tutorial_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    scored = T.lang_id(T.quality_score(T.token_stats(docs)))
    kept = scored.where(F.col("quality_keep") & (F.col("lang_pred") == "en"))
    keep_ids = kept.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    toks = kept.join(keep_ids, "doc_id", "left_semi").select(
        "doc_id", "bpe_tokens", (F.col("doc_id") % 32).alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    packed = toks.select(
        "bucket",
        "bpe_tokens",
        ((F.sum("bpe_tokens").over(w) - F.col("bpe_tokens"))
         .cast("long") / F.lit(4096)).cast("long").alias("shard_seq"),
    )
    return packed.groupBy("bucket", "shard_seq").agg(
        F.count("*").alias("n_docs"),
        F.sum("bpe_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({MINHASH_ORACLE}) mh
), e AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), walk(n, m) AS (
    SELECT s, s FROM e
    UNION
    SELECT e.d, w.m FROM walk w JOIN e ON e.s = w.n
)
SELECT n AS doc_id, CAST(min(m) AS BIGINT) AS component_id
FROM walk GROUP BY n
""",
    tags=("datapipe", "dedup"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from pairwise LSH output: connected components
    by min-label propagation (doc keeps iff doc_id == component_id).
    The oracle states the same closure as a recursive CTE over the full
    MinHash pipeline — transitive pairs (a~b, b~c) land in one
    component even when (a,c) never collided in any band."""
    pairs = D.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_band_freq=MINHASH_BAND_CAP,
    )
    return D.dedup_components(pairs)


@query(
    "datapipe_hash_sample",
    oracle=f"""
SELECT doc_id, source,
       CAST({_MD5_LONG.format(x="concat(text, ':sample:r2')")} % 100 AS BIGINT) AS bucket
FROM documents
WHERE {_MD5_LONG.format(x="concat(text, ':sample:r2')")} % 100 < 10
""",
    tags=("datapipe", "sampling"),
)
def datapipe_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample by salted content hash — the
    reproducible alternative to rand() sampling a training pipeline
    needs (same docs selected on every rerun, every engine, any
    partitioning; resalting draws a fresh independent sample). Content
    hashing also samples duplicate texts identically, so sample-then-
    dedup equals dedup-then-sample."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        D.md5_long(F.concat(F.col("text"), F.lit(":sample:r2"))), F.lit(100)
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .where(F.col("bucket") < 10)
    )


@query(
    "datapipe_source_quota",
    oracle="""
SELECT source, doc_id,
       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')), 4) AS uniq_ratio,
       CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 4) DESC, doc_id ASC
       ) AS INT) AS rank
FROM documents
QUALIFY rank <= 50
""",
    tags=("datapipe", "sampling"),
)
def datapipe_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality quota: the top 50 docs of each source by
    unique-word ratio (dataset mixing with a per-domain cap — the
    quota/mixture step after filtering). One window over the source
    partition; ties broken by doc_id so both engines rank
    identically."""
    from pyspark.sql import Window

    from flink_tutorial_spark.operators import text as T

    docs = T.quality_score(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.desc("uniq_ratio"), F.asc("doc_id")
    )
    return (
        docs.select("source", "doc_id", "uniq_ratio")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 50)
    )


@query(
    "embedding_kmeans_assign",
    oracle="""
WITH c AS (
    SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id < 8
), d AS (
    SELECT e.vec_id, c.centroid_id,
           list_sum(list_transform(generate_series(1, 64),
               i -> (CAST(round(CAST(e.embedding[i] AS DOUBLE) * 10000) AS BIGINT)
                     - CAST(round(CAST(c.embedding[i] AS DOUBLE) * 10000) AS BIGINT)) ** 2)) AS d2
    FROM embeddings e CROSS JOIN c
), ranked AS (
    SELECT vec_id, centroid_id, CAST(d2 AS BIGINT) AS d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
    FROM d
)
SELECT vec_id, centroid_id AS cluster_id, d2 FROM ranked WHERE rn = 1
""",
    tags=("datapipe", "similarity"),
)
def embedding_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step (the Lloyd-iteration kernel behind IVF
    cell construction): every vector goes to its nearest of 8 seed
    centroids (vec_id < 8) by squared L2 distance over 4-dp QUANTIZED
    coordinates — all-integer arithmetic, so the argmin is bit-exact in
    any engine and any summation order (the float-parity trap exact
    money sums dodge with decimals, solved here by quantization).

    Scale shape: centroids are a handful of literal arrays compiled
    into the plan (no join — the K x dim table rides the closure the
    way a broadcast dim would), distances are zip_with/aggregate
    codegen per row, and the argmin is least()+CASE — one map-only
    stage over the corpus, then nothing: the shuffle-free version of
    the IVF 'assign' pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    import math

    def _q(x: float) -> int:  # half-away-from-zero, like SQL round()
        v = float(x) * 10000
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    cents = sorted(
        (r.vec_id, [_q(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    # round(), not rint(): both engines must break .5 ties identically
    # (Spark ROUND and DuckDB round() are half-away-from-zero; rint is
    # half-to-even and diverges on exact-tie quantizations)
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 10000, 0).cast("long")
    )
    with_q = emb.select("vec_id", qv.alias("_q"))
    dcols = []
    for cid, cq in cents:
        dist = F.aggregate(
            F.zip_with(
                F.col("_q"),
                F.array(*[F.lit(v) for v in cq]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        dcols.append(dist.alias(f"_d{cid}"))
    scored = with_q.select("vec_id", *dcols)
    best = F.least(*[F.col(f"_d{cid}") for cid, _ in cents])
    cluster = F.coalesce(
        *[
            F.when(F.col(f"_d{cid}") == best, F.lit(cid))
            for cid, _ in cents
        ]
    )
    return scored.select(
        "vec_id",
        cluster.cast("long").alias("cluster_id"),
        best.alias("d2"),
    )


@query(
    "embedding_kmeans_iterate",
    oracle="""
WITH qv AS (
    SELECT vec_id, list_transform(generate_series(1, 64),
        i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)) AS q
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cid, q FROM qv WHERE vec_id < 8
), d1 AS (
    SELECT qv.vec_id, c0.cid, qv.q,
           list_sum(list_transform(generate_series(1, 64),
               i -> (qv.q[i] - c0.q[i]) ** 2)) AS d2
    FROM qv CROSS JOIN c0
), a1 AS (
    SELECT vec_id, cid, q,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d1
), ex AS (
    SELECT a.cid, u.i AS dim, a.q[u.i] AS val
    FROM (SELECT * FROM a1 WHERE rn = 1) a, unnest(generate_series(1, 64)) AS u(i)
), cent AS (
    SELECT cid, dim,
           CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cq
    FROM ex GROUP BY cid, dim
), c1 AS (
    SELECT cid, list(cq ORDER BY dim) AS q FROM cent GROUP BY cid
), d2t AS (
    SELECT qv.vec_id, c1.cid,
           list_sum(list_transform(generate_series(1, 64),
               i -> (qv.q[i] - c1.q[i]) ** 2)) AS d2
    FROM qv CROSS JOIN c1
), a2 AS (
    SELECT vec_id, cid, CAST(d2 AS BIGINT) AS d2,
           row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM d2t
)
SELECT vec_id, cid AS cluster_id, d2 FROM a2 WHERE rn = 1
""",
    tags=("datapipe", "similarity"),
)
def embedding_kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations, oracle-exact: assign to 8 seed
    centroids, recompute centroids, re-assign. Iteration stays exact by
    RE-QUANTIZING each new centroid onto the data's 4-dp grid: the
    per-cluster sums are exact int64, the single double division
    s/n and half-away round are bit-identical in every engine, so the
    next iteration's distances are integer arithmetic again — the
    general recipe for oracle-exact iterative numerics (the iterate()/
    closeWith analog with real math inside).

    Scale shape per iteration: one map-only assignment pass (literal
    centroids) + one 64-column partial-aggregated groupBy whose output
    is K rows — the driver touches only K x dim centroid numbers per
    round, exactly like operators/iterate.py's per-round scalar."""
    import math

    def _q(v: float) -> int:  # half-away-from-zero on the 1e-4 grid
        return int(math.copysign(math.floor(abs(v) + 0.5), v))

    emb = load_table(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 10000, 0).cast("long")
    )
    with_q = emb.select("vec_id", qv.alias("_q"))

    def assign(cents: list[tuple[int, list[int]]]) -> DataFrame:
        dcols = []
        for cid, cq in cents:
            dist = F.aggregate(
                F.zip_with(
                    F.col("_q"),
                    F.array(*[F.lit(v) for v in cq]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            dcols.append(dist.alias(f"_d{cid}"))
        scored = with_q.select("vec_id", "_q", *dcols)
        best = F.least(*[F.col(f"_d{cid}") for cid, _ in cents])
        cluster = F.coalesce(
            *[F.when(F.col(f"_d{cid}") == best, F.lit(cid)) for cid, _ in cents]
        )
        return scored.select(
            "vec_id", "_q", cluster.cast("long").alias("cluster_id"),
            best.alias("d2"),
        )

    cents0 = sorted(
        (int(r.vec_id), [_q(float(x) * 10000) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    a1 = assign(cents0)
    sums = a1.groupBy("cluster_id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.element_at("_q", i + 1)).alias(f"s{i}") for i in range(64)],
    )
    cents1 = sorted(
        (int(r.cluster_id), [_q(r[f"s{i}"] / r.n) for i in range(64)])
        for r in sums.collect()
    )
    return assign(cents1).select("vec_id", "cluster_id", "d2")


@query(
    "datapipe_funnel_stats",
    oracle="""
WITH scored AS (
    SELECT doc_id, source, text,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INT) AS bpe_tokens,
           (len(string_split(text, ' ')) >= 20
            AND len(list_distinct(string_split(text, ' ')))::DOUBLE
                / len(string_split(text, ' ')) >= 0.2) AS quality_keep,
           (len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(string_split(text, ' ')) >= 0.05) AS is_en
    FROM documents
), flagged AS (
    SELECT *, quality_keep AND is_en AS lang_keep,
           quality_keep AND is_en AND doc_id = min(CASE WHEN quality_keep AND is_en
               THEN doc_id END) OVER (PARTITION BY md5(text)) AS final_keep
    FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (quality_keep) AS BIGINT) AS n_quality,
       CAST(count(*) FILTER (lang_keep) AS BIGINT) AS n_lang,
       CAST(count(*) FILTER (final_keep) AS BIGINT) AS n_dedup,
       CAST(COALESCE(sum(bpe_tokens) FILTER (final_keep), 0) AS BIGINT) AS tokens_kept
FROM flagged
GROUP BY source
""",
    tags=("datapipe", "pipeline"),
)
def datapipe_funnel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source funnel accounting for the cleaning pipeline: how many
    documents survive each stage (quality rule -> language filter ->
    exact dedup) and how many tokens the final keep set retains. The
    observability twin of datapipe_training_shards: a corpus build at
    scale reports exactly this table per ingest batch, so operators see
    WHERE volume is lost instead of one opaque final count.

    Scale shape: stage flags are pure map-side column expressions; the
    dedup-canonical flag is one window over md5(text) (the same shuffle
    key the dedup itself needs), then a partial-aggregable groupBy on
    source. Two shuffles total at any corpus size; no driver collect.
    See operators/text.funnel_stats.
    """
    return T.funnel_stats(load_table(spark, sf_dir, "documents"))


@query(
    "datapipe_mix_rebalance",
    oracle=f"""
WITH c AS (
    SELECT lang, count(*) AS c_lang FROM documents GROUP BY lang
), t AS (
    SELECT lang, c_lang,
           least(c_lang, CAST(ceil(sqrt(
                 CAST((SELECT min(c_lang) FROM c) AS DOUBLE) * c_lang))
                 AS BIGINT)) AS n_target
    FROM c
)
SELECT d.doc_id, d.lang, t.c_lang, t.n_target
FROM documents d JOIN t USING (lang)
WHERE ({_MD5_LONG.format(x="concat(text, ':mix:r6')")} % 1000000) * t.c_lang
      < t.n_target * 1000000
""",
    tags=("datapipe", "sampling"),
)
def datapipe_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain-mix rebalancing (alpha = 0.5): flatten a
    skewed language/domain distribution toward uniform by downsampling
    head domains to n_i = min(c_i, ceil(sqrt(c_min * c_i))) — the
    count^alpha reweighting pretraining mixes use (alpha=1 keeps the
    natural mix, alpha=0 forces uniform; sqrt is the IEEE-exact alpha=0.5
    case, so Spark and the oracle agree bit-for-bit with no pow() ulp
    hazard). On this corpus en (218 at sf0.01) is cut toward the fr
    floor while tail langs pass through whole.

    Selection is a deterministic salted-hash threshold, not a rank:
    keep iff hash(text) % 1e6 * c_i < n_i * 1e6 (all-integer compare,
    overflow-safe to c_i ~ 1e12; the c_min * c_i product inside sqrt
    is computed as double on both engines so it cannot overflow
    int64). That keeps the operator map-side —
    one tiny counts aggregate broadcast back — instead of a
    rank-per-domain window, which at 100 TB would collapse each domain
    onto a single partition. Kept counts are hash-binomial around n_i;
    the rule itself is exact and rerun-stable, and duplicate texts get
    identical verdicts (dedup-then-rebalance == rebalance-then-dedup).
    See operators/text.temperature_rebalance.
    """
    return T.temperature_rebalance(load_table(spark, sf_dir, "documents"))


@query(
    "text_boilerplate_ratio",
    oracle=f"""
WITH {_SHINGLES},
shh AS (SELECT doc_id, {_MD5_LONG.format(x="shingle")} AS h FROM sh),
df AS (SELECT h, count(*) AS df FROM shh GROUP BY h),
per_doc AS (
    SELECT s.doc_id, count(*) AS total,
           count(*) FILTER (df >= 4) AS common
    FROM shh s JOIN df USING (h) GROUP BY s.doc_id
)
SELECT d.doc_id,
       round(COALESCE(common::DOUBLE / total, 0), 4) AS boiler_ratio,
       COALESCE(common::DOUBLE / total, 0) <= 0.3 AS boiler_keep
FROM documents d LEFT JOIN per_doc USING (doc_id)
""",
    tags=("datapipe", "text", "quality"),
)
def text_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-common shingle fraction per document (document frequency
    >= 4 across the corpus) — the cross-document boilerplate rule that
    complements within-document text_repetition_ratio. See
    operators/text.boilerplate_ratio for the two-shuffle scale shape."""
    return T.boilerplate_ratio(load_table(spark, sf_dir, "documents"))


@query(
    "datapipe_incremental_ingest",
    oracle="""
WITH batch AS (
    SELECT doc_id, md5(text) AS fingerprint FROM documents WHERE doc_id % 10 = 9
), corpus AS (
    SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id % 10 <> 9
), batch_canon AS (
    SELECT fingerprint, min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_in_batch
    FROM batch GROUP BY fingerprint
)
SELECT b.doc_id, b.fingerprint, b.n_in_batch
FROM batch_canon b LEFT JOIN corpus c USING (fingerprint)
WHERE c.fingerprint IS NULL
""",
    tags=("datapipe", "dedup", "ingest"),
)
def datapipe_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingest: dedupe the NEW batch within itself
    (keep-min per content fingerprint) and anti-join it against the
    existing corpus's fingerprint set, admitting only genuinely new
    content — the daily-ingest operation of a living training corpus
    (the batch is the doc_id%10==9 slice; production swaps in the
    arrival partition).

    Scale shape: the within-batch keep-min groupBy and the anti-join
    both key on the content fingerprint, so the whole operation rides
    ONE shuffle key; the big side (corpus fingerprints, billions of
    rows at 100 TB) is a 2-column projection of the stored fingerprint
    index, never the raw text."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 9
    batch = docs.where(is_batch).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    corpus_fp = (
        docs.where(~is_batch).select(F.md5("text").alias("fingerprint")).distinct()
    )
    batch_canon = batch.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_in_batch")
    )
    return batch_canon.join(corpus_fp, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint", "n_in_batch"
    )


@query(
    "datapipe_eval_split",
    oracle=f"""
SELECT doc_id, source,
       CASE WHEN h < 98 THEN 'train' WHEN h < 99 THEN 'val' ELSE 'test' END AS split
FROM (
    SELECT doc_id, source,
           {_MD5_LONG.format(x="concat(text, ':split:r6')")} % 100 AS h
    FROM documents
)
""",
    tags=("datapipe", "sampling"),
)
def datapipe_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 98/1/1 train/val/test split by salted CONTENT hash
    — the split every training pipeline needs, made rerun-stable
    (same doc -> same split on any engine/partitioning) and
    duplicate-stable: exact-duplicate texts land in the SAME split, so
    a train/eval leak cannot enter through the split itself (the
    remaining near-dup leakage is what decontaminate_ngram_overlap and
    the dedup family are for). Pure map-side projection — zero shuffle
    at any corpus size; resalting draws an independent split."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.pmod(
        D.md5_long(F.concat(F.col("text"), F.lit(":split:r6"))), F.lit(100)
    )
    return docs.select(
        "doc_id",
        "source",
        F.when(h < 98, "train").when(h < 99, "val").otherwise("test").alias("split"),
    )


@query(
    "datapipe_sequence_packing",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           {_MD5_LONG.format(x="concat(text, ':pack:r7')")} AS h,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
), t AS (
    SELECT doc_id, CAST(h % 64 AS INT) AS writer,
           CAST(n_tokens AS INT) AS n_tokens,
           sum(n_tokens) OVER (PARTITION BY h % 64 ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS start
    FROM d
)
SELECT doc_id, writer, n_tokens,
       CAST(start // 512 AS BIGINT) AS seq_id,
       CAST(start % 512 AS BIGINT) AS seq_offset
FROM t
""",
    tags=("datapipe", "packing"),
)
def datapipe_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concatenate-and-chunk packing of the corpus into fixed
    512-token training sequences: docs shuffle deterministically by
    salted content hash into 64 writer partitions, each writer's token
    stream is concatenated in (hash, doc_id) order and cut every 512
    tokens; a doc belongs to the sequence where its span starts, at
    seq_offset within it (straddlers split at the boundary — the
    standard causal-LM packing rule, and the last packing stage every
    pretraining data pipeline runs before tensorization).

    Scale shape: one shuffle on the writer key; the cumulative sum is a
    window per WRITER (width ~ cluster write parallelism), never a
    global sort — same no-single-partition rule as
    datapipe_training_shards. Deterministic + rerun-stable: the (h,
    doc_id) order is total even for duplicate texts.
    See operators/text.sequence_packing."""
    return T.sequence_packing(load_table(spark, sf_dir, "documents"))


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH words AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
), tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM words WHERE term <> '' GROUP BY 1, 2
), dft AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           round(tf.tf * (ln((n.n_docs + 1)::DOUBLE / (dft.df + 1)) + 1.0), 6)
               AS tfidf
    FROM tf JOIN dft USING (term), n
), ranked AS (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3
""",
    tags=("datapipe", "text"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed tf-idf
    (sklearn-style idf = ln((N+1)/(df+1)) + 1): the per-doc keyword
    signal for corpus exploration and topic-drift monitoring. Scores
    round to 6 places BEFORE ranking (ties then break on term asc) so
    the rank is engine-stable despite libm ulp differences.

    Scale shape: explode -> two partial-aggregable groupBys + a
    broadcast df-table join back + one per-doc top-k window (millions
    of small partitions — the scalable direction; never a global
    sort). N rides in as a 1-row broadcast crossJoin, no driver
    collect. See operators/text.tfidf_top_terms."""
    return T.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@query(
    "text_word_entropy",
    oracle="""
WITH w AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
), cnt AS (
    SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
), tot AS (
    SELECT doc_id, CAST(sum(c) AS INT) AS n FROM cnt GROUP BY 1
)
SELECT c.doc_id,
       round(-sum((c.c::DOUBLE / t.n) * ln(c.c::DOUBLE / t.n)), 6)
           AS word_entropy,
       any_value(t.n) AS n_words
FROM cnt c JOIN tot t USING (doc_id)
GROUP BY c.doc_id
""",
    tags=("datapipe", "text", "quality"),
)
def text_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc word-distribution Shannon entropy (nats) — the cheap
    perplexity proxy: low entropy marks repetitive/templated text that
    token-count rules miss. explode -> two partial-aggregable
    key-bounded shuffles; a zero-shuffle array-expression variant was
    measured ~5x slower and rejected (see operators/text.word_entropy
    for the numbers)."""
    return T.word_entropy(load_table(spark, sf_dir, "documents"))


@query(
    "datapipe_source_overlap",
    oracle=f"""
WITH pairs AS ({SIMHASH_PAIRS_ORACLE}),
lab AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS near_dup_pairs
FROM pairs p
JOIN lab sa ON sa.doc_id = p.doc_a
JOIN lab sb ON sb.doc_id = p.doc_b
WHERE sa.source <> sb.source
GROUP BY 1, 2
""",
    tags=("datapipe", "dedup", "governance"),
)
def datapipe_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many NEAR-DUPLICATE document pairs (simhash hamming <= 3, the
    dedup_simhash_pairs candidate engine) span the two — the
    corpus-governance dashboard behind mix decisions: two crawls of the
    same site, a dataset repackaged under a new name, shared templates
    leaking across providers. Near-dup rather than exact-dup keys keep
    the signal when copies differ by a header or a timestamp.

    Scale shape: inherits the banded-LSH candidate join (never
    all-pairs) from simhash_near_dup, then a broadcast-sized label join
    (doc -> source) and a groupBy bounded by |sources|^2. The label
    join key is doc_id — the same key the pair table already carries —
    and the final matrix is tiny at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup(docs)
    lab = docs.select("doc_id", "source")
    return (
        pairs.join(
            lab.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            lab.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("near_dup_pairs"))
    )


@query(
    "text_bigram_lm",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bgz AS (
    SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg FROM t
), bg AS (SELECT doc_id, bg[1] AS w1, bg[2] AS w2 FROM bgz),
tf AS (SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       round(sum(tf * ln(c12::DOUBLE / c1)) / sum(tf), 6) AS avg_logprob
FROM tf JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY doc_id
""",
    tags=("datapipe", "text", "quality"),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-self-trained bigram LM score per document (mean ln
    P(w2|w1), MLE counts) — the cheap KenLM-style cross-doc quality
    signal; pairs with word_entropy's within-doc view."""
    return T.bigram_lm_score(load_table(spark, sf_dir, "documents"))


@query(
    "text_chunk_dedup",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
idx AS (
    SELECT doc_id, ws,
           unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS chunk_idx
    FROM t
), ch AS (
    SELECT doc_id, chunk_idx,
           {_MD5_LONG.format(x="array_to_string(ws[(chunk_idx*8+1):(chunk_idx*8+8)], ' ')")} AS chh
    FROM idx
), own AS (
    SELECT doc_id, chunk_idx,
           row_number() OVER (PARTITION BY chh ORDER BY doc_id, chunk_idx) AS rn
    FROM ch
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
           AS retained_ratio
FROM own GROUP BY doc_id
""",
    tags=("datapipe", "dedup", "text"),
)
def text_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granularity dedup: consecutive 8-word chunks, keep each
    chunk's global first occurrence; per-doc retained ratio."""
    return T.chunk_dedup(load_table(spark, sf_dir, "documents"), chunk_words=8)


@query(
    "dedup_keep_best",
    oracle=f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({MINHASH_ORACLE}) mh
), e AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), walk(n, m) AS (
    SELECT s, s FROM e
    UNION
    SELECT e.d, w.m FROM walk w JOIN e ON e.s = w.n
), comp AS (
    SELECT n AS doc_id, min(m) AS component_id FROM walk GROUP BY n
), q AS (
    SELECT d.doc_id,
           CAST(coalesce(c.component_id, d.doc_id) AS BIGINT) AS component_id,
           round(len(list_distinct(string_split(d.text, ' ')))::DOUBLE
                 / len(string_split(d.text, ' ')), 4) AS uniq_ratio
    FROM documents d LEFT JOIN comp c USING (doc_id)
), r AS (
    SELECT *,
           row_number() OVER (PARTITION BY component_id
                              ORDER BY uniq_ratio DESC, doc_id) AS rk,
           count(*) OVER (PARTITION BY component_id) AS nm
    FROM q
)
SELECT component_id, doc_id AS keep_id, uniq_ratio,
       CAST(nm AS BIGINT) AS n_members
FROM r WHERE rk = 1
""",
    tags=("datapipe", "dedup", "pipeline"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup DECISION: MinHash-LSH pairs ->
    connected components -> keep the best-quality member per cluster
    (uniq-ratio desc, doc_id asc tie-break; singletons keep
    themselves). This is the step real pipelines run after pair
    generation — not "keep lowest id" but "keep the best copy"
    (quality-ranked representative selection).

    Scale shape: the pair graph and CC are the existing shuffle-bounded
    operators; representative selection adds one window over
    component_id — millions of tiny partitions, the scalable direction.
    The left join against the full corpus re-attaches singleton docs
    without materializing them into the CC loop."""
    return keep_best_representatives(load_table(spark, sf_dir, "documents"))


def keep_best_representatives(docs: DataFrame) -> DataFrame:
    """The dedup_keep_best pipeline over an arbitrary documents frame
    (doc_id, text) — factored out so edge tests can plant a cluster
    where the best-quality member is NOT the lowest doc_id."""
    from pyspark.sql import Window

    pairs = D.minhash_lsh_dedup(
        docs, threshold=0.5, max_band_freq=MINHASH_BAND_CAP
    )
    comp = D.dedup_components(pairs)
    ws = F.split(F.col("text"), " ")
    q = (
        docs.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias(
                "component_id"
            ),
            F.round(
                F.size(F.array_distinct(ws)) / F.size(ws), 4
            ).alias("uniq_ratio"),
        )
    )
    w = Window.partitionBy("component_id")
    wr = w.orderBy(F.desc("uniq_ratio"), F.asc("doc_id"))
    return (
        q.withColumn("rk", F.row_number().over(wr))
        .withColumn("n_members", F.count("*").over(w))
        .where(F.col("rk") == 1)
        .select(
            "component_id",
            F.col("doc_id").alias("keep_id"),
            "uniq_ratio",
            "n_members",
        )
    )


@query(
    "dedup_semantic",
    oracle="""
WITH RECURSIVE scored AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS c
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id <> b.vec_id
), rk AS (
    SELECT *, row_number() OVER (PARTITION BY va ORDER BY c DESC, vb) AS rn
    FROM scored
), pairs AS (
    SELECT va AS s, vb AS d FROM rk WHERE rn = 1 AND c >= 0.4
), e AS (
    SELECT s, d FROM pairs UNION SELECT d, s FROM pairs
), walk(n, m) AS (
    SELECT s, s FROM e
    UNION
    SELECT e.d, w.m FROM walk w JOIN e ON e.s = w.n
), comp AS (
    SELECT n AS vec_id, min(m) AS component_id FROM walk GROUP BY n
)
SELECT v.vec_id,
       CAST(coalesce(c.component_id, v.vec_id) AS BIGINT) AS component_id,
       CAST(count(*) OVER (
           PARTITION BY coalesce(c.component_id, v.vec_id)) AS BIGINT)
           AS n_members,
       v.vec_id = coalesce(c.component_id, v.vec_id) AS keep
FROM embeddings v LEFT JOIN comp c USING (vec_id)
""",
    tags=("datapipe", "dedup", "similarity"),
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over embeddings: mutual/top-1-NN
    graph (IVF-blocked exact NN per vector, edge kept iff rounded
    cosine >= 0.4) -> connected components -> keep the cluster minimum
    (every other member is a semantic duplicate candidate). The 0.4
    threshold is data-calibrated: the synthetic corpus plants no tight
    embedding dups (max pairwise cosine ~0.51), so the knee of the NN
    distribution is the meaningful cut; a production corpus would use
    ~0.95+.

    Scale shape: NN candidates come from the vector's IVF cell
    (`label`), one shuffle + per-bucket BLAS matmul (bucketed_nn), CC
    is the shared label-propagation operator; at 100 TB the same plan
    holds with kmeans-assigned cells (embedding_kmeans_assign) and a
    hot-cell cap — never all-pairs across cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = S.bucketed_nn(emb, bucket_col="label")
    edges = nn.where(F.col("cosine") >= 0.4).select(
        F.col("vec_id").alias("doc_a"), F.col("nn_id").alias("doc_b")
    )
    comp = D.dedup_components(edges).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )
    from pyspark.sql import Window

    out = emb.select("vec_id").join(comp, "vec_id", "left").select(
        "vec_id",
        F.coalesce(F.col("component_id"), F.col("vec_id")).alias("component_id"),
    )
    w = Window.partitionBy("component_id")
    return out.select(
        "vec_id",
        "component_id",
        F.count("*").over(w).alias("n_members"),
        (F.col("vec_id") == F.col("component_id")).alias("keep"),
    )


@query(
    "text_bpe_merges",
    oracle="""
WITH w AS (
    SELECT word, count(*) AS wf
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE len(word) >= 2
    GROUP BY word
), p AS (
    SELECT substr(word, i, 2) AS pair, wf
    FROM (SELECT word, wf, unnest(range(1, len(word))) AS i FROM w)
), agg AS (
    SELECT pair, CAST(sum(wf) AS BIGINT) AS freq FROM p GROUP BY pair
)
SELECT pair, freq,
       CAST(row_number() OVER (ORDER BY freq DESC, pair) AS INT) AS rank
FROM agg
QUALIFY rank <= 20
""",
    tags=("datapipe", "text", "tokenizer"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (adjacent char-pair counts weighted
    by word frequency) — the first tokenizer-training iteration run
    corpus-wide; the aggregation shape every later merge repeats."""
    return T.bpe_merge_candidates(load_table(spark, sf_dir, "documents"), k=20)


_ANN_BUCKET = """CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
              + (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END)
              + (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END)
              + (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END)
              + (CASE WHEN embedding[33] > 0 THEN 16 ELSE 0 END)
              + (CASE WHEN embedding[41] > 0 THEN 32 ELSE 0 END)
              + (CASE WHEN embedding[49] > 0 THEN 64 ELSE 0 END)
              + (CASE WHEN embedding[57] > 0 THEN 128 ELSE 0 END) AS INT)"""


@query(
    "similarity_ann_recall",
    oracle=f"""
WITH b AS (
    SELECT vec_id, embedding, {_ANN_BUCKET} AS bucket FROM embeddings
), q AS (
    SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, bucket
    FROM b WHERE vec_id < 20
), exact AS (
    SELECT query_id, neighbor_id AS exact_nn FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6)
                       DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q WHERE q.query_id <> e.vec_id
    ) WHERE rn = 1
), ann AS (
    SELECT query_id, neighbor_id AS ann_nn FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                   round(list_cosine_similarity(q.qv, e.embedding::DOUBLE[]), 6)
                       DESC, e.vec_id) AS rn
        FROM b e JOIN q ON e.bucket = q.bucket WHERE q.query_id <> e.vec_id
    ) WHERE rn = 1
), probes AS (
    SELECT DISTINCT q.query_id, q.qv, xor(q.bucket, m) AS bucket
    FROM q, unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS t(m)
), mp AS (
    SELECT query_id, neighbor_id AS probe1_nn FROM (
        SELECT p.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                   round(list_cosine_similarity(p.qv, e.embedding::DOUBLE[]), 6)
                       DESC, e.vec_id) AS rn
        FROM b e JOIN probes p ON e.bucket = p.bucket
        WHERE p.query_id <> e.vec_id
    ) WHERE rn = 1
)
SELECT x.query_id, x.exact_nn, a.ann_nn, m.probe1_nn,
       coalesce(a.ann_nn = x.exact_nn, FALSE) AS ann_hit,
       coalesce(m.probe1_nn = x.exact_nn, FALSE) AS probe1_hit
FROM exact x
LEFT JOIN ann a USING (query_id)
LEFT JOIN mp m USING (query_id)
""",
    tags=("datapipe", "similarity", "evaluation"),
)
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall measurement — the evaluation op a pipeline runs
    before trusting an approximate index: per query, does the sign-LSH
    top-1 (single-probe, and hamming-1 multi-probe) agree with the
    exact brute-force top-1? Measured here, recall is the tuning dial
    the SCALING notes reason about: multi-probe recovers neighbors a
    single flipped sign bit loses, for (1 + nbits)x the candidate
    reads.

    Scale shape: the query side is a bounded sample (20 vecs) by
    contract — exact ground truth via broadcast brute-force is
    query-bounded, never corpus x corpus; both ANN paths are
    co-partitioned bucket equi-joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = (
        S.brute_force_topk(emb, q, k=1)
        .select("query_id", F.col("neighbor_id").alias("exact_nn"))
    )
    ann = (
        S.lsh_topk(emb, q, k=1)
        .select("query_id", F.col("neighbor_id").alias("ann_nn"))
    )
    mp = (
        S.lsh_topk(emb, q, k=1, probe_radius=1)
        .select("query_id", F.col("neighbor_id").alias("probe1_nn"))
    )
    return (
        exact.join(ann, "query_id", "left")
        .join(mp, "query_id", "left")
        .select(
            "query_id",
            "exact_nn",
            "ann_nn",
            "probe1_nn",
            F.coalesce(
                F.col("ann_nn") == F.col("exact_nn"), F.lit(False)
            ).alias("ann_hit"),
            F.coalesce(
                F.col("probe1_nn") == F.col("exact_nn"), F.lit(False)
            ).alias("probe1_hit"),
        )
    )


@query(
    "text_mixed_lang",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
idx AS (
    SELECT doc_id, ws,
           unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS ci
    FROM t
), ch AS (
    SELECT doc_id,
           (len(list_filter(ws[(ci*8+1):(ci*8+8)],
                w -> list_contains(['the','a','is','of','and'], w)))::DOUBLE
             / len(ws[(ci*8+1):(ci*8+8)])) >= 0.05 AS chunk_en
    FROM idx
), agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN chunk_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en
    FROM ch GROUP BY doc_id
)
SELECT doc_id, n_chunks, n_en,
       round(least(n_en, n_chunks - n_en)::DOUBLE / n_chunks, 4) AS mix_ratio,
       (n_en > 0 AND n_en < n_chunks) AS is_mixed
FROM agg
""",
    tags=("datapipe", "text", "quality"),
)
def text_mixed_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc language mixing: lang_id's marker heuristic per
    8-word chunk; flags docs whose chunks disagree (the signal
    whole-doc language ID misses)."""
    return T.mixed_lang_detect(load_table(spark, sf_dir, "documents"), chunk_words=8)


_NDI_MATCHES = " + ".join(
    f"(CASE WHEN sa.m{s} = sb.m{s} THEN 1 ELSE 0 END)" for s in range(D.N_MINHASH)
)
_NDI_BANDS = "\n    UNION ALL\n".join(
    f"    SELECT doc_id, {b} AS band, md5(concat_ws(':', m{2 * b}, m{2 * b + 1})) AS bh FROM sig"
    for b in range(D.N_BANDS)
)


@query(
    "datapipe_neardup_ingest",
    oracle=f"""
WITH {_SHINGLES},
hashed AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS x
    FROM sh
), sig AS (
    SELECT doc_id,
       {_SIG_COLS}
    FROM hashed GROUP BY doc_id
), bands AS (
{_NDI_BANDS}
), cand AS (
    SELECT DISTINCT a.doc_id AS bdoc, b.doc_id AS cdoc
    FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
    WHERE a.doc_id % 10 = 9 AND b.doc_id % 10 <> 9
), ver AS (
    SELECT bdoc, cdoc
    FROM cand
    JOIN sig sa ON sa.doc_id = bdoc
    JOIN sig sb ON sb.doc_id = cdoc
    WHERE ({_NDI_MATCHES}) >= {D.N_MINHASH // 2}
), m AS (
    SELECT bdoc, CAST(count(*) AS BIGINT) AS n FROM ver GROUP BY 1
)
SELECT d.doc_id, coalesce(m.n, 0) AS n_near_dup, m.bdoc IS NULL AS admitted
FROM documents d LEFT JOIN m ON m.bdoc = d.doc_id
WHERE d.doc_id % 10 = 9
""",
    tags=("datapipe", "dedup", "ingest"),
)
def datapipe_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup incremental ingest admission — the production extension
    of datapipe_incremental_ingest's exact gate: a new batch document
    (doc_id % 10 = 9, same split convention) is admitted only if no
    EXISTING corpus doc collides with it in any MinHash band AND
    matches >= half its minhash members (est Jaccard >= 0.5). This is
    the gate a real crawl ingest runs: exact fingerprints catch
    re-crawls, but only near-dup admission catches the re-rendered /
    lightly-edited copies.

    Scale shape: signatures are computed ONCE over the union (one
    shingle pass, one groupBy) and materialized (D.materialize); the band
    join is batch-side x corpus-side on (band, band-hash) — candidates
    only, never batch x corpus; the verify join re-reads the
    materialized signature table. The hot-band guard
    (D._drop_hot_buckets) applies unchanged if a boilerplate band
    saturates. Corpus side in production is the stored signature table
    (computed at its own ingest) — amortized, not recomputed."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingle_table(docs)
    sig_raw = D.minhash_signatures(sh)
    sig = D.materialize(sig_raw, "datapipe_sig")

    rows = D.N_MINHASH // D.N_BANDS
    band_cols = [
        F.md5(
            F.concat_ws(":", *[F.col(f"m{b * rows + r}") for r in range(rows)])
        )
        for b in range(D.N_BANDS)
    ]
    # r20 (guide §2.4, the minhash_lsh_dedup pattern): signatures ride
    # through the band table, so the >=k/2-members verify runs directly
    # on the band join's output — no signature re-joins after distinct
    bt = sig.select(
        "doc_id",
        *[F.col(f"m{i}") for i in range(D.N_MINHASH)],
        F.posexplode(F.array(*band_cols)).alias("band", "bh"),
    )
    is_batch = F.col("doc_id") % 10 == 9
    matches = sum(
        F.when(F.col(f"am{s}") == F.col(f"bm{s}"), 1).otherwise(0)
        for s in range(D.N_MINHASH)
    )
    ver = (
        bt.where(is_batch)
        .select(
            F.col("doc_id").alias("bdoc"),
            *[F.col(f"m{i}").alias(f"am{i}") for i in range(D.N_MINHASH)],
            "band",
            "bh",
        )
        .join(
            bt.where(~is_batch).select(
                F.col("doc_id").alias("cdoc"),
                *[F.col(f"m{i}").alias(f"bm{i}") for i in range(D.N_MINHASH)],
                "band",
                "bh",
            ),
            ["band", "bh"],
        )
        .where(matches >= D.N_MINHASH // 2)
        .select("bdoc", "cdoc")
        .distinct()
        .groupBy("bdoc")
        .agg(F.count("*").alias("n"))
    )
    return (
        docs.where(is_batch)
        .select("doc_id")
        .join(ver, F.col("doc_id") == F.col("bdoc"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_near_dup"),
            F.col("bdoc").isNull().alias("admitted"),
        )
    )


@query(
    "text_substring_dedup",
    oracle=f"""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS ws,
           len(string_split(text, ' ')) AS n_tokens
    FROM documents
), g AS (
    SELECT doc_id, CAST(p.pos AS BIGINT) AS pos,
           {_MD5_LONG.format(x="array_to_string(ws[(CAST(p.pos AS INT)+1):(CAST(p.pos AS INT)+20)], ' ')")} AS h
    FROM t, unnest(range(0, greatest(n_tokens - 19, 0))) AS p(pos)
), own AS (
    SELECT doc_id, pos, h,
           row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM g
), stats AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams
    FROM own GROUP BY doc_id
), d AS (
    SELECT doc_id, pos,
           lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM own WHERE rn > 1
), cov AS (
    SELECT doc_id,
           CAST(sum(least(20, coalesce(nxt - pos, 20))) AS BIGINT)
               AS removed_tokens
    FROM d GROUP BY doc_id
)
SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       coalesce(s.n_grams, 0) AS n_grams,
       coalesce(s.n_dup_grams, 0) AS n_dup_grams,
       coalesce(c.removed_tokens, 0) AS removed_tokens,
       round(coalesce(c.removed_tokens, 0)::DOUBLE / t.n_tokens, 4)
           AS removed_ratio
FROM t LEFT JOIN stats s USING (doc_id) LEFT JOIN cov c USING (doc_id)
""",
    tags=("datapipe", "dedup", "text"),
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level (any-alignment 20-gram) dedup with
    per-doc removed-span ratio — the Lee-et-al "dedup duplicated
    substrings" operator (VERDICT r7 #3). 20 tokens here because the
    synthetic docs median 56 words; the operator defaults to the
    paper's 50."""
    return T.substring_dedup(
        load_table(spark, sf_dir, "documents"), gram_words=20
    )


@query(
    "text_length_mixing",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
idx AS (
    SELECT doc_id, ws,
           unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS ci
    FROM t
), ch AS (
    SELECT doc_id,
           (list_sum(list_transform(ws[(ci*8+1):(ci*8+8)],
                                    w -> length(w)))::DOUBLE
            / len(ws[(ci*8+1):(ci*8+8)])) >= 4.5 AS chunk_long
    FROM idx
), agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN chunk_long THEN 1 ELSE 0 END) AS BIGINT)
               AS n_long
    FROM ch GROUP BY doc_id
)
SELECT doc_id, n_chunks, n_long,
       round(least(n_long, n_chunks - n_long)::DOUBLE / n_chunks, 4)
           AS mix_ratio,
       n_long > 0 AND n_long < n_chunks AS is_mixed
FROM agg
""",
    tags=("datapipe", "text"),
)
def text_length_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-shape mixing detector: per-chunk mean-word-length classes
    (prose vs code/identifier-like) on the shared chunk frame."""
    return T.chunk_length_mixing(load_table(spark, sf_dir, "documents"))


@query(
    "datapipe_quality_sampling",
    oracle=f"""
WITH q AS (
    SELECT doc_id,
           round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 4) AS uniq_ratio
    FROM documents
), r AS (
    SELECT doc_id, uniq_ratio,
           CASE WHEN uniq_ratio >= 0.6 THEN 1.0
                WHEN uniq_ratio >= 0.4 THEN 0.5
                ELSE 0.25 END AS sample_rate,
           {_MD5_LONG.format(x="concat(doc_id, ':qs')")} AS hv
    FROM q
)
SELECT doc_id, uniq_ratio, sample_rate,
       hv < CAST(sample_rate * 1152921504606846976 AS BIGINT) AS kept
FROM r
""",
    tags=("datapipe", "sampling"),
)
def datapipe_quality_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic downsampling — the DCLM/FineWeb-
    style mixture move: high-quality docs kept at rate 1.0, middle at
    0.5, low at 0.25, decided by a SEEDED HASH per doc (not rand()), so
    the sample is reproducible, shardable, and exactly auditable — the
    property that lets two pipeline runs (or engine and oracle) agree
    bit-for-bit on WHICH docs survived. Rates are powers of two, so
    `hash < rate * 2^60` is an exact integer compare — no float
    boundary risk cross-engine.

    Scale shape: pure map-side column expressions, ZERO shuffle at any
    corpus size; composes with datapipe_mix_rebalance (per-source
    temperature) upstream of tokenization."""
    from flink_tutorial_spark.operators.dedup import md5_long

    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    q = docs.select(
        "doc_id",
        F.round(F.size(F.array_distinct(ws)) / F.size(ws), 4).alias(
            "uniq_ratio"
        ),
    )
    rate = (
        F.when(F.col("uniq_ratio") >= 0.6, F.lit(1.0))
        .when(F.col("uniq_ratio") >= 0.4, F.lit(0.5))
        .otherwise(F.lit(0.25))
    )
    hv = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":qs")))
    return q.select(
        "doc_id",
        "uniq_ratio",
        rate.alias("sample_rate"),
        (
            hv
            < (F.col("sample_rate") * F.lit(float(1 << 60))).cast("long")
        ).alias("kept"),
    ).select("doc_id", "uniq_ratio", "sample_rate", "kept")


_BPE_ROUND_SQL = """
p{r} AS (
    SELECT toks[i] AS x, toks[i + 1] AS y, CAST(sum(wf) AS BIGINT) AS freq
    FROM (SELECT wf, toks, unnest(range(1, len(toks))) AS i FROM t{p})
    GROUP BY 1, 2
), m{r} AS (
    SELECT x, y FROM p{r} ORDER BY freq DESC, x, y LIMIT 1
), t{r} AS (
    SELECT word, wf,
           list_reduce(
               list_transform(toks, t -> [t]),
               (acc, e) -> CASE WHEN acc[-1] = m{r}.x AND e[1] = m{r}.y
                            THEN acc[1:len(acc) - 1] || [m{r}.x || m{r}.y]
                            ELSE acc || e END) AS toks
    FROM t{p} CROSS JOIN m{r}
)"""

#: shared 3-round BPE learn chain (w -> t0..t3 -> enc); callers provide
#: a `bw` CTE exposing a `word` column (with duplicates) for the corpus
#: vocabulary
_BPE_ENC_SQL = """w AS (
    SELECT word, count(*) AS wf FROM bw WHERE word <> '' GROUP BY word
), t0 AS (
    SELECT word, wf,
           list_transform(range(1, len(word) + 1), i -> word[i]) AS toks
    FROM w
),
{rounds},
enc AS (
    SELECT word, CAST(len(word) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS enc
    FROM t3
)""".format(
    rounds=",".join(_BPE_ROUND_SQL.format(r=r, p=r - 1) for r in (1, 2, 3))
)


@query(
    "datapipe_token_budget",
    oracle=f"""
WITH bw AS (
    SELECT source, lang, unnest(string_split(text, ' ')) AS word
    FROM documents
),
{_BPE_ENC_SQL},
d AS (
    SELECT source, lang, len(string_split(text, ' ')) AS n_tok
    FROM documents
), g AS (
    SELECT source, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM d GROUP BY 1, 2
), bc AS (
    SELECT source, lang, CAST(sum(enc) AS BIGINT) AS bpe_tokens
    FROM bw JOIN enc USING (word) GROUP BY 1, 2
), tot AS (SELECT sum(tokens) AS all_tokens FROM g)
SELECT g.source, g.lang, g.n_docs, g.tokens, bc.bpe_tokens,
       round(g.tokens / tot.all_tokens, 6) AS token_share,
       round(sum(g.tokens) OVER (
                 ORDER BY g.tokens DESC, g.source, g.lang)
             / tot.all_tokens, 6) AS cum_share
FROM g JOIN bc USING (source, lang), tot
""",
    tags=("datapipe", "agg", "tokenizer"),
)
def datapipe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: token budget per (source, lang) with each
    cell's share of total tokens and the cumulative share in
    descending-volume order — the table every pretraining-data run
    reads before setting mixture weights (which sources dominate, how
    long the tail is, where the 90% line falls). r9: each cell also
    reports bpe_tokens — REAL tokenizer tokens from the 3-round learned
    BPE encode (consistent with text_bpe_encode by construction: both
    sum the same bpe_encoded_vocab word lengths), next to the
    whitespace-token budget the shares are based on.

    Scale shape: one partial-aggregable groupBy on ~|sources|x|langs|
    cells; the 1-row total joins as a broadcast cross; the cumulative
    window runs over the CELL table (hundreds of rows), never the
    corpus; the BPE cell counts add one corpus word explode joined to
    the vocabulary-bounded encode table. Shares divide by the same
    total in both engines — one correctly-rounded IEEE divide per
    cell."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select(
            "source", "lang", F.size(F.split("text", " ")).alias("n_tok")
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )
    venc = T.bpe_encoded_vocab(docs, rounds=3)
    bc = (
        docs.select(
            "source", "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .join(F.broadcast(venc), "word")
        .groupBy("source", "lang")
        .agg(F.sum("enc").cast("long").alias("bpe_tokens"))
    )
    tot = g.agg(F.sum("tokens").cast("double").alias("all_tokens"))
    w = Window.orderBy(F.desc("tokens"), "source", "lang").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.join(bc, ["source", "lang"])
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "lang",
            "n_docs",
            "tokens",
            "bpe_tokens",
            F.round(F.col("tokens") / F.col("all_tokens"), 6).alias(
                "token_share"
            ),
            F.round(
                F.sum("tokens").over(w) / F.col("all_tokens"), 6
            ).alias("cum_share"),
        )
    )


@query(
    "dedup_minhash_calibration",
    oracle=f"""
WITH {_SHINGLES},
shh AS (SELECT doc_id, {_MD5_LONG.format(x="shingle")} AS sh FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
hashed AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS x
    FROM sh
), sig AS (
    SELECT doc_id,
       {_SIG_COLS}
    FROM hashed GROUP BY doc_id
), bands AS (
{_BAND_ROWS}
), cold AS (
    SELECT doc_id, band, bh,
           count(*) OVER (PARTITION BY band, bh) AS bf
    FROM bands
    QUALIFY bf <= {MINHASH_BAND_CAP}
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cold a JOIN cold b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), est AS (
    SELECT doc_a, doc_b, ({_MATCHES}) / {float(D.N_MINHASH)} AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
), inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN shh a ON a.doc_id = c.doc_a
    JOIN shh b ON b.doc_id = c.doc_b AND b.sh = a.sh
    GROUP BY 1, 2
)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       round(coalesce(i.i, 0)::DOUBLE
             / (sa.n + sb.n - coalesce(i.i, 0)), 6) AS exact_jaccard,
       round(abs(e.est_jaccard - coalesce(i.i, 0)::DOUBLE
             / (sa.n + sb.n - coalesce(i.i, 0))), 6) AS abs_err
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a
JOIN sizes sb ON sb.doc_id = e.doc_b
""",
    tags=("datapipe", "dedup", "measurement"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator CALIBRATION — the measurement a pipeline runs
    before trusting LSH thresholds (sibling of similarity_ann_recall,
    which does the same for the ANN index): for every banded candidate
    pair (threshold 0 — the full candidate set), the 8-hash estimated
    Jaccard next to the EXACT 3-gram Jaccard and the absolute error.
    Reading the result tells you where to set the LSH verify threshold
    for a target precision.

    Scale shape: exact Jaccard is computed ONLY for candidate pairs
    (pair list join-back onto the shingle table, keyed (doc, shingle))
    — never the all-pairs exact join; cost is candidate-bounded, the
    same bound the dedup itself pays. Candidates with zero shared
    shingles (pure band collisions) get exact 0 via the left join.
    (Materializing `cand` and `sh` for their multiple plan branches
    was A/B'd in r20 pass 2 and REJECTED: med 3.32 -> 4.04 s — the
    signature table inside minhash_lsh_dedup is already persisted, so
    the branch recomputes are cache-fed band joins and cheap shingle
    scans, cheaper than the extra persist round-trips.)"""
    docs = load_table(spark, sf_dir, "documents")
    cand = D.minhash_lsh_dedup(
        docs, threshold=0.0, max_band_freq=MINHASH_BAND_CAP
    )
    sh = D.shingle_table(docs).select(
        "doc_id", D.md5_long(F.col("shingle")).alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sh.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(
            sh.alias("b"),
            (F.col("doc_b") == F.col("b.doc_id"))
            & (F.col("a.sh") == F.col("b.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    ex = (
        F.coalesce(F.col("i"), F.lit(0)).cast("double")
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("i"), F.lit(0)))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            F.round(ex, 6).alias("exact_jaccard"),
            F.round(F.abs(F.col("est_jaccard") - ex), 6).alias("abs_err"),
        )
    )


@query(
    "dedup_cluster_stats",
    oracle=f"""
WITH RECURSIVE pairs AS (
    SELECT doc_a, doc_b FROM ({MINHASH_ORACLE}) mh
), e AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
), walk(n, m) AS (
    SELECT s, s FROM e
    UNION
    SELECT e.d, w.m FROM walk w JOIN e ON e.s = w.n
), comp AS (
    SELECT n AS doc_id, min(m) AS component_id FROM walk GROUP BY n
), csizes AS (
    SELECT coalesce(c.component_id, d.doc_id) AS cid, count(*) AS n
    FROM documents d LEFT JOIN comp c USING (doc_id)
    GROUP BY 1
)
SELECT CAST(n AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS n_docs
FROM csizes GROUP BY n
""",
    tags=("datapipe", "dedup", "measurement"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup REPORT: how much of
    the corpus sits in clusters of which size (singletons = unique
    docs; the tail of big clusters = boilerplate families). The number
    every dedup run publishes before anyone trusts its keep-rate.

    Scale shape: inherits minhash+CC; the histogram adds two
    partial-aggregable groupBys (per-component count, then per-size
    count) — output bounded by the largest cluster size."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_dedup(
        docs, threshold=0.5, max_band_freq=MINHASH_BAND_CAP
    )
    comp = D.dedup_components(pairs)
    return (
        docs.join(comp, "doc_id", "left")
        .select(
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("cid")
        )
        .groupBy("cid")
        .agg(F.count("*").alias("n"))
        .groupBy(F.col("n").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("n").cast("long").alias("n_docs"),
        )
    )


@query(
    "similarity_embedding_stats",
    oracle="""
WITH n AS (
    SELECT label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 9) AS nrm,
           len(embedding) AS dim
    FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(dim) AS BIGINT) AS min_dim,
       CAST(max(dim) AS BIGINT) AS max_dim,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm,
       round(CAST(sum(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE)
             / count(*), 6) AS avg_norm,
       CAST(count(*) FILTER (WHERE nrm < 0.5) AS BIGINT) AS n_degenerate
FROM n GROUP BY label
""",
    tags=("datapipe", "similarity", "measurement"),
)
def similarity_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table hygiene audit: per IVF label, vector count,
    dimension bounds, norm bounds/mean, and degenerate (near-zero-norm)
    count — the sanity pass before any cosine-based op (a zero vector
    NaNs cosine; mixed dims crash BLAS; a skewed per-cell count marks a
    broken clustering). Norms are rounded then DECIMAL-summed so the
    mean is order-independent and bit-equal cross-engine
    (plans/parity.py convention).

    Scale shape: one map-side array aggregate per row + one
    partial-aggregable groupBy on the label — no shuffle beyond the
    |labels|-cell agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        9,
    )
    n = emb.select("label", nrm.alias("nrm"), F.size("embedding").alias("dim"))
    return n.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.min("dim").cast("long").alias("min_dim"),
        F.max("dim").cast("long").alias("max_dim"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(
            F.sum(F.col("nrm").cast("decimal(18,9)")).cast("double")
            / F.count("*"),
            6,
        ).alias("avg_norm"),
        F.count(F.when(F.col("nrm") < 0.5, 1)).cast("long").alias("n_degenerate"),
    )


_SKEW_ONE = """
  SELECT '{rel}' AS rel, '{key}' AS key_col,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(cnt) AS BIGINT) AS max_cnt,
         round(sum(cnt) / count(*), 6) AS avg_cnt,
         round(quantile_cont(cnt, 0.99), 6) AS p99_cnt,
         round(max(cnt) / sum(cnt), 6) AS max_share,
         round(max(cnt) * count(*) / sum(cnt), 6) AS skew_ratio
  FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS cnt FROM {rel} GROUP BY 1)
"""


@query(
    "profile_key_skew",
    oracle="UNION ALL".join(
        _SKEW_ONE.format(rel=r, key=k)
        for r, k in (
            ("lineitem", "l_partkey"),
            ("orders", "o_custkey"),
            ("events", "user_id"),
        )
    ),
    tags=("datapipe", "profile"),
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew profile — the diagnostic every scale-up
    starts with: per (table, key) report row count, key cardinality,
    max per-key count, mean, exact interpolated p99, the heaviest
    key's share, and skew_ratio (max/mean). skew_ratio >> 1 is the
    signal to salt or let AQE split that join (the PV-skew salting
    operator `operators/partitioning.two_stage_count` is the fix this
    report tells you to reach for).

    Scale shape: per table one partial-aggregable groupBy(key) then a
    single-row agg over the per-key counts; exact percentile sorts
    only the per-key count column (|keys| rows, not |rows|). The
    three 1-row results union driver-free."""
    from pyspark.sql import DataFrame as _DF

    def one(rel: str, key: str) -> _DF:
        cnts = (
            load_table(spark, sf_dir, rel)
            .groupBy(key)
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        return cnts.agg(
            F.lit(rel).alias("rel"),
            F.lit(key).alias("key_col"),
            F.sum("cnt").cast("long").alias("n_rows"),
            F.count("*").cast("long").alias("n_keys"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.round(F.sum("cnt") / F.count("*"), 6).alias("avg_cnt"),
            F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_cnt"),
            F.round(F.max("cnt") / F.sum("cnt"), 6).alias("max_share"),
            F.round(F.max("cnt") * F.count("*") / F.sum("cnt"), 6).alias(
                "skew_ratio"
            ),
        )

    out = one("lineitem", "l_partkey")
    for rel, key in (("orders", "o_custkey"), ("events", "user_id")):
        out = out.unionByName(one(rel, key))
    return out


_COLSTAT_ONE = """
  SELECT '{rel}' AS rel, '{col}' AS col,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) - count({col}) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
         round((count(*) - count({col})) / count(*), 6) AS null_ratio,
         round(count(DISTINCT {col}) / count(*), 6) AS distinct_ratio
  FROM {rel}
"""

_COLSTAT_COLS = (
    ("events", "event_type"),
    ("events", "value"),
    ("events", "user_id"),
    ("documents", "lang"),
    ("documents", "source"),
    ("orders", "o_orderstatus"),
    ("lineitem", "l_returnflag"),
)


@query(
    "profile_column_stats",
    oracle="UNION ALL".join(
        _COLSTAT_ONE.format(rel=r, col=c) for r, c in _COLSTAT_COLS
    ),
    tags=("datapipe", "profile"),
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data-quality profile — the ingestion report next to
    profile_key_skew's shuffle diagnostic: per (table, column) row
    count, null count/ratio, and exact distinct count/ratio. A
    distinct_ratio near 1 says 'key-like' (dedup on it), near 0 says
    'categorical' (dictionary-encode, broadcast), a nonzero null_ratio
    gates the null-handling path.

    Scale shape: per column one partial-aggregable pass (count/
    count-nonnull) plus one exact two-phase distinct (the expand+agg
    Spark plans for countDistinct — at cardinalities too big to
    shuffle, approx_count_distinct is the documented sketch fallback);
    1-row results union driver-free. Columns profiled together on the
    same table share the scan."""
    from pyspark.sql import DataFrame as _DF

    def one(rel: str, col: str) -> _DF:
        t = load_table(spark, sf_dir, rel)
        return t.agg(
            F.lit(rel).alias("rel"),
            F.lit(col).alias("col"),
            F.count("*").cast("long").alias("n_rows"),
            (F.count("*") - F.count(col)).cast("long").alias("n_nulls"),
            F.countDistinct(col).cast("long").alias("n_distinct"),
            F.round((F.count("*") - F.count(col)) / F.count("*"), 6).alias(
                "null_ratio"
            ),
            F.round(F.countDistinct(col) / F.count("*"), 6).alias(
                "distinct_ratio"
            ),
        )

    out = None
    for rel, col in _COLSTAT_COLS:
        frame = one(rel, col)
        out = frame if out is None else out.unionByName(frame)
    return out


# ---------------------------------------------------------------------------
# Planted-marker fixtures (VERDICT r8 #4): the synthetic corpus has no PII
# or code markers, so these queries DERIVE a marker-bearing corpus from
# `documents` with deterministic doc_id-seeded injections expressed
# identically in Spark and DuckDB SQL — real driver-green rows without
# touching the read-only testdata. Pure string concat, so both engines
# build byte-identical inputs.

_PII_MARKED_SQL = """
marked AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com now' ELSE '' END
           || CASE WHEN doc_id % 11 = 3
                THEN ' call +1 415-555-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
           || CASE WHEN doc_id % 13 = 5
                THEN ' ref ' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 9, '0')
                ELSE '' END AS text
    FROM documents
)"""


def _pii_marked(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 11 == 3,
                F.concat(
                    F.lit(" call +1 415-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 13 == 5,
                F.concat(
                    F.lit(" ref "),
                    F.lpad((did % 1000000).cast("string"), 9, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


@query(
    "text_pii_scrub",
    oracle=f"""
WITH {_PII_MARKED_SQL},
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{T.PII_EMAIL_RE}')) AS INT)
               AS n_emails,
           regexp_replace(text, '{T.PII_EMAIL_RE}', '<EMAIL>', 'g') AS t1
    FROM marked
), s2 AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t1, '{T.PII_PHONE_RE}')) AS INT)
               AS n_phones,
           regexp_replace(t1, '{T.PII_PHONE_RE}', '<PHONE>', 'g') AS t2
    FROM s1
), s3 AS (
    SELECT doc_id, n_emails, n_phones,
           CAST(len(regexp_extract_all(t2, '{T.PII_DIGITS_RE}')) AS INT)
               AS n_digit_runs,
           regexp_replace(t2, '{T.PII_DIGITS_RE}', '<NUM>', 'g') AS t3
    FROM s2
)
SELECT doc_id, n_emails, n_phones, n_digit_runs,
       (n_emails + n_phones + n_digit_runs) = 0 AS pii_clean,
       md5(t3) AS scrub_md5
FROM s3
""",
    tags=("datapipe", "text"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over the marker-planted corpus: typed
    placeholder substitution (email -> phone -> digit-run, in that
    order so a pattern never matches inside an earlier redaction) with
    per-doc match counts and the scrubbed text's md5 — the full scrub
    output is hash-checked cross-engine, not just the counts. Pure
    JVM regexp column work, zero shuffle, zero Python
    (operators/text.py:pii_scrub)."""
    out = T.pii_scrub(_pii_marked(load_table(spark, sf_dir, "documents")))
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_digit_runs",
        "pii_clean",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


#: deterministic code snippet appended to every doc_id % 5 == 2 doc —
#: 24 words (about three 8-word chunks, exact alignment depends on the
#: host doc's length), dense in CODE_MARKER_CLASS characters
_CODE_SNIPPET = (
    "x = arr[42] + foo(y); if (x > 0) { return x * 2; } "
    "for i in range(10): total += vals[i] / 3;"
)


@query(
    "text_code_prose_mix",
    oracle=f"""
WITH marked AS (
    SELECT doc_id,
           text || CASE WHEN doc_id % 5 = 2
                THEN ' {_CODE_SNIPPET}' ELSE '' END AS text
    FROM documents
), t AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM marked
), idx AS (
    SELECT doc_id, ws,
           unnest(range(0, CAST(ceil(len(ws) / 8.0) AS INT))) AS ci
    FROM t
), ch AS (
    SELECT doc_id,
           array_to_string(ws[(ci*8+1):(ci*8+8)], ' ') AS chunk
    FROM idx
), cl AS (
    SELECT doc_id,
           (length(chunk)
            - length(regexp_replace(chunk, '{T.CODE_MARKER_CLASS}', '', 'g')))
           ::DOUBLE / greatest(length(chunk), 1) >= 0.08 AS chunk_code
    FROM ch
), agg AS (
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN chunk_code THEN 1 ELSE 0 END) AS BIGINT)
               AS n_code
    FROM cl GROUP BY doc_id
)
SELECT doc_id, n_chunks, n_code,
       round(n_code::DOUBLE / n_chunks, 4) AS code_ratio,
       n_code > 0 AND n_code < n_chunks AS is_mixed
FROM agg
""",
    tags=("datapipe", "text"),
)
def text_code_prose_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc code-vs-prose mixing over the snippet-planted corpus:
    per-chunk code-marker character ratio on the shared 8-word chunk
    frame (operators/text.py:code_prose_mix_detect). Docs with the
    planted snippet flag is_mixed; clean docs stay all-prose — both
    classes hash-checked cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    marked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 2, F.lit(" " + _CODE_SNIPPET)
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return T.code_prose_mix_detect(marked)


@query(
    "text_bpe_encode",
    oracle=f"""
WITH bw AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
{_BPE_ENC_SQL}
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_chars) AS BIGINT) AS char_tokens,
       CAST(sum(enc) AS BIGINT) AS bpe_tokens,
       round(1 - sum(enc)::DOUBLE / sum(n_chars), 4) AS merge_saving
FROM bw JOIN enc USING (word)
GROUP BY doc_id
""",
    tags=("datapipe", "text", "tokenizer", "iterate"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE learn + ENCODE (VERDICT r8 #5): 3 sequential merge rounds
    learned on the corpus (round r counts pairs AFTER round r-1's
    merges — a driver loop of vocabulary-bounded argmax actions, the
    iterate contract), then every document encoded with the learned
    merges via the same greedy-leftmost array fold the DuckDB oracle
    runs through list_reduce. Reports per-doc whitespace words,
    character tokens (round-0 BPE), and encoded tokens — real
    tokenizer token counts — unlike text_quality's bpe_tokens column,
    which is a BPE-ish regex approximation
    (operators/text.py:bpe_learn_and_encode). datapipe_token_budget's
    bpe_tokens aggregates this same encoded vocabulary (equality pinned
    by test_bpe_encode_token_budget_consistency)."""
    return T.bpe_learn_and_encode(
        load_table(spark, sf_dir, "documents"), rounds=3
    )


@query(
    "text_repetition_profile",
    oracle="""
WITH t AS (
    SELECT doc_id, string_split(text, ' ') AS ws,
           len(string_split(text, ' ')) AS n_words
    FROM documents
), m AS (
    SELECT doc_id, n_words, ws,
           list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
               AS bg,
           CASE WHEN len(ws) >= 3
                THEN list_transform(range(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                ELSE [] END AS tg
    FROM t
), p AS (
    SELECT doc_id, n_words,
           list_max(list_transform(list_distinct(ws),
               w -> len(list_filter(ws, x -> x = w)))) AS top_w,
           CASE WHEN len(bg) > 0 THEN
               list_max(list_transform(list_distinct(bg),
                   w -> len(list_filter(bg, x -> x = w)))) ELSE 0 END AS top_b,
           len(bg) AS n_bg,
           len(tg) AS n_tg,
           len(tg) - len(list_distinct(tg)) AS dup_tg
    FROM m
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       round(top_w::DOUBLE / n_words, 4) AS top_word_share,
       round(CASE WHEN n_bg > 0 THEN top_b::DOUBLE / n_bg ELSE 0 END, 4)
           AS top_bigram_share,
       round(CASE WHEN n_tg > 0 THEN dup_tg::DOUBLE / n_tg ELSE 0 END, 4)
           AS dup_trigram_frac,
       (top_w::DOUBLE / n_words > 0.2
        OR (n_bg > 0 AND top_b::DOUBLE / n_bg > 0.18)
        OR (n_tg > 0 AND dup_tg::DOUBLE / n_tg > 0.3)) AS is_repetitive
FROM p
""",
    tags=("datapipe", "text", "quality"),
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile — the Gopher/MassiveText
    repetition quality filters (Rae et al. 2021 §A1.1) adapted to the
    word-stream corpus: top-unigram share, top-bigram share, and the
    duplicate-trigram fraction, with the standard threshold flags. The
    signal that catches keyword-stuffed spam, boilerplate loops, and
    degenerate generations that document-level dedup can't see.

    Scale shape: ZERO SHUFFLE — every profile is a per-row array
    expression (distinct + filter-count over the doc's own words,
    O(n_words * n_distinct) per doc on bounded-length docs), so the
    whole filter is map-side and composes with the quality/lang/PII
    stages in one pass. The same expressions run as DuckDB list
    lambdas, so thresholds are hash-checked cross-engine.

    The word/bigram/trigram arrays are MATERIALIZED through staged
    selects before the profile lambdas consume them: higher-order
    functions defeat common-subexpression elimination, so inlining the
    array builders into each lambda re-split the text per array
    element — measured 155 s for 5,000 docs before the staging, ~1 s
    after (Catalyst's CollapseProject keeps multi-use non-cheap
    aliases materialized)."""
    docs = load_table(spark, sf_dir, "documents")

    def top_share(arr):
        # r20 (guide §1.2 per-task work): max element frequency == max
        # run length in the SORTED array — one O(n log n) sort + one
        # O(n) fold instead of the O(n_distinct * n) distinct+filter
        # scan (verified row-for-row equal on the full corpus; min 2.35
        # -> 1.55 s at sf0.1). `prev` starts NULL so a leading "" run
        # counts from 1 (x == NULL is never true). The DuckDB oracle
        # keeps the straightforward O(n*d) list-lambda formulation —
        # same value, and only the Spark side is benched.
        srt = F.array_sort(arr)
        return F.aggregate(
            srt,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc.best,
                    F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc.best,
        )

    m = docs.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    m = m.select(
        "doc_id",
        "ws",
        F.expr(
            "CASE WHEN size(ws) >= 2 THEN"
            " transform(sequence(0, size(ws) - 2),"
            " i -> concat(ws[i], ' ', ws[i + 1]))"
            " ELSE array() END"
        ).alias("bg"),
        F.expr(
            "CASE WHEN size(ws) >= 3 THEN"
            " transform(sequence(0, size(ws) - 3),"
            " i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))"
            " ELSE array() END"
        ).alias("tg"),
    )
    p = m.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        top_share(F.col("ws")).alias("top_w"),
        F.when(F.size("bg") > 0, top_share(F.col("bg")))
        .otherwise(F.lit(0))
        .alias("top_b"),
        F.size("bg").alias("n_bg"),
        F.size("tg").alias("n_tg"),
        (F.size("tg") - F.size(F.array_distinct("tg"))).alias("dup_tg"),
    )
    return p.select(
        "doc_id",
        "n_words",
        F.round(F.col("top_w") / F.col("n_words"), 4).alias("top_word_share"),
        F.round(
            F.when(F.col("n_bg") > 0, F.col("top_b") / F.col("n_bg")).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("top_bigram_share"),
        F.round(
            F.when(
                F.col("n_tg") > 0, F.col("dup_tg") / F.col("n_tg")
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_trigram_frac"),
        (
            (F.col("top_w") / F.col("n_words") > 0.2)
            | ((F.col("n_bg") > 0) & (F.col("top_b") / F.col("n_bg") > 0.18))
            | ((F.col("n_tg") > 0) & (F.col("dup_tg") / F.col("n_tg") > 0.3))
        ).alias("is_repetitive"),
    )


@query(
    "datapipe_decontamination",
    oracle="""
WITH bench AS (
    SELECT DISTINCT g.gram
    FROM (
        SELECT list_transform(range(1, len(ws) - 6),
                   i -> array_to_string(ws[i:i+7], ' ')) AS gs
        FROM (SELECT string_split(text, ' ') AS ws FROM documents
              WHERE doc_id % 7 = 0)
        WHERE len(ws) >= 8
    ), unnest(gs) AS g(gram)
), train AS (
    SELECT doc_id, string_split(text, ' ') AS ws
    FROM documents WHERE doc_id % 7 <> 0
), tg AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= 8
                THEN list_transform(range(1, len(ws) - 6),
                     i -> array_to_string(ws[i:i+7], ' '))
                ELSE [] END AS gs
    FROM train
), flat AS (
    SELECT doc_id, g.gram, len(gs) AS n_grams
    FROM tg, unnest(gs) AS g(gram)
), hit AS (
    SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
    FROM flat f JOIN bench b ON f.gram = b.gram
    GROUP BY f.doc_id
)
SELECT t.doc_id,
       CAST(greatest(len(t.ws) - 7, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       coalesce(h.n_contaminated, 0) > 0 AS contaminated
FROM train t LEFT JOIN hit h USING (doc_id)
""",
    tags=("datapipe", "text", "dedup"),
)
def datapipe_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, VERBATIM-SEQUENCE convention — the
    GPT-3 appx C / Lee et al. rule: a training doc is contaminated if
    it contains any CONTIGUOUS 8-gram from the held-out set, reported
    for EVERY training doc with its overlapping-window count. The
    deliberate sibling of decontaminate_ngram_overlap, which measures
    bag-of-3-gram overlap VOLUME (>=5 shared shingles) — that rule
    catches paraphrased/reordered leakage, this one catches verbatim
    quotation down to a single long phrase; production pipelines run
    both. Benchmark = the deterministic doc_id % 7 == 0 slice standing
    in for a real eval set; the operator shape is identical.

    Scale shape: the benchmark gram set is BOUNDED BY CONTRACT (eval
    suites are fixed-size, not corpus-sized), so it broadcasts and the
    training-side check is one map-side explode + broadcast hash join +
    partial-agg count — the 100 TB corpus is scanned once with zero
    corpus-sized shuffles. Grams join on the raw 8-gram string (no
    hash round-trip) for exact cross-engine parity."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    gram8 = F.expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN"
        " transform(sequence(0, size(split(text, ' ')) - 8),"
        " i -> array_join(slice(split(text, ' '), i + 1, 8), ' '))"
        " ELSE array() END"
    )
    bench = (
        docs.where(F.col("doc_id") % 7 == 0)
        .select(F.explode(gram8).alias("gram"))
        .distinct()
    )
    train = docs.where(F.col("doc_id") % 7 != 0)
    flat = train.select("doc_id", F.explode(gram8).alias("gram"))
    hit = (
        flat.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_contaminated"))
    )
    return (
        train.select(
            "doc_id",
            F.greatest(F.size(ws) - 7, F.lit(0)).cast("long").alias("n_grams"),
        )
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# URL / domain governance (C4/RefinedWeb-style web-corpus curation)
# ---------------------------------------------------------------------------
# Derived URL fixture (the r9 marker-planted precedent: the driver
# reads fixed tables, so governance columns are derived
# DETERMINISTICALLY from doc_id inside the query, identically in Spark
# and the oracle): a Zipf-ish domain assignment — 30% of docs on one
# hub domain, 20% on a mirror, the rest spread over 17 small sites —
# plus planted exact-dup boilerplate clusters (doc_id % 9 == 5 docs
# collapse to one of 3 canonical texts) so dedup-rate and cross-domain
# dup columns exercise real mass.

_URLGOV_DOM_SQL = """
dom AS (
  SELECT doc_id, source, lang,
         CASE WHEN doc_id % 9 = 5
              THEN 'boilerplate variant ' || CAST(doc_id % 3 AS VARCHAR)
              ELSE text END AS text,
         CASE WHEN doc_id % 10 < 3 THEN 'hub.example.com'
              WHEN doc_id % 10 < 5 THEN 'mirror.example.net'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.example.org'
         END AS domain
  FROM documents
)"""


def _urlgov_docs(docs: DataFrame) -> DataFrame:
    """Spark twin of _URLGOV_DOM_SQL: attach the deterministic domain
    and the planted boilerplate clusters."""
    return docs.select(
        "doc_id",
        "source",
        "lang",
        F.when(
            F.col("doc_id") % 9 == 5,
            F.concat(
                F.lit("boilerplate variant "),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        F.when(F.col("doc_id") % 10 < 3, F.lit("hub.example.com"))
        .when(F.col("doc_id") % 10 < 5, F.lit("mirror.example.net"))
        .otherwise(
            F.concat(
                F.lit("site"),
                (F.col("doc_id") % 17).cast("string"),
                F.lit(".example.org"),
            )
        )
        .alias("domain"),
    )


@query(
    "urlgov_domain_dedup_rate",
    oracle=f"""
WITH {_URLGOV_DOM_SQL},
fp AS (SELECT doc_id, domain, md5(text) AS fp FROM dom),
xd AS (
  SELECT fp, CAST(count(DISTINCT domain) AS BIGINT) AS nd
  FROM fp GROUP BY fp
),
agg AS (
  SELECT f.domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT f.fp) AS BIGINT) AS n_unique,
         CAST(sum(CASE WHEN x.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_dup
  FROM fp f JOIN xd x USING (fp) GROUP BY f.domain
)
SELECT domain, n_docs, n_unique,
       CAST(n_docs - n_unique AS BIGINT) AS n_dup,
       round(1 - n_unique::DOUBLE / n_docs, 4) AS dup_rate,
       n_cross_dup
FROM agg
""",
    tags=("datapipe", "governance", "dedup"),
)
def urlgov_domain_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain dedup-rate report — the crawl-governance table that
    decides which domains get recrawled vs demoted (C4/RefinedWeb run
    this before mixing): per domain, doc count, distinct-content
    count, within-corpus dup count, dup rate, and how many of its docs
    share content with ANOTHER domain (mirror detection).

    Scale shape: one md5-fingerprint shuffle (shared with dedup_exact's
    plan), one fp-level partial agg for the cross-domain counts, one
    domain-level partial agg for the report — domains is a small
    output. No text comparison, no pairs."""
    docs = _urlgov_docs(load_table(spark, sf_dir, "documents"))
    fp = docs.select("doc_id", "domain", F.md5("text").alias("fp"))
    xd = fp.groupBy("fp").agg(
        F.countDistinct("domain").cast("long").alias("nd")
    )
    return (
        fp.join(xd, "fp")
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("fp").cast("long").alias("n_unique"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_dup"),
        )
        .select(
            "domain",
            "n_docs",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).cast("long").alias("n_dup"),
            F.round(1 - F.col("n_unique") / F.col("n_docs"), 4).alias("dup_rate"),
            "n_cross_dup",
        )
    )


@query(
    "urlgov_domain_quota",
    oracle=f"""
WITH {_URLGOV_DOM_SQL}
SELECT domain, doc_id,
       round(len(list_distinct(string_split(text, ' ')))::DOUBLE
             / len(string_split(text, ' ')), 4) AS uniq_ratio,
       CAST(row_number() OVER (
           PARTITION BY domain
           ORDER BY round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                 / len(string_split(text, ' ')), 4) DESC, doc_id ASC
       ) AS INT) AS rank
FROM dom
QUALIFY rank <= 20
""",
    tags=("datapipe", "governance", "sampling"),
)
def urlgov_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOMAIN quality quota — datapipe_source_quota at the
    granularity production web pipelines actually cap (a single hub
    domain must not dominate the mix however big its crawl): top 20
    docs per domain by unique-word ratio, ties broken by doc_id so
    both engines rank identically.

    Scale shape: one window over the domain partition; the planted hub
    domain (30% of the corpus) is exactly the skewed-partition case —
    at 100 TB this window becomes the two-stage per-shard top-K +
    merge that uv_kmv_sharded demonstrates; here the single window is
    measured fine through sf10 for the source variant."""
    from pyspark.sql import Window

    docs = _urlgov_docs(load_table(spark, sf_dir, "documents"))
    scored = T.quality_score(docs)
    w = Window.partitionBy("domain").orderBy(F.desc("uniq_ratio"), F.asc("doc_id"))
    return (
        scored.select("domain", "doc_id", "uniq_ratio")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
    )


#: static governance blocklist: one domain present in the derived
#: fixture (the mirror) and one absent — the anti-join must drop
#: exactly the former and ignore the latter.
_URLGOV_BLOCKLIST = ["mirror.example.net", "spam.example.com"]


@query(
    "urlgov_blocklist",
    oracle=f"""
WITH {_URLGOV_DOM_SQL}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN domain IN ('mirror.example.net', 'spam.example.com')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
       CAST(sum(CASE WHEN domain IN ('mirror.example.net', 'spam.example.com')
                THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
FROM dom GROUP BY source
""",
    tags=("datapipe", "governance", "join", "anti"),
)
def urlgov_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist anti-join + survival report per source — the
    C4-style URL filter step. The kept side is a REAL broadcast
    left-anti join against the blocklist table (the plan a 100 TB run
    wants: the blocklist — thousands of rows in production — ships to
    every executor, the corpus never shuffles); the per-source report
    then rides partial-aggregated counts."""
    docs = _urlgov_docs(load_table(spark, sf_dir, "documents"))
    bl = spark.createDataFrame(
        [(d,) for d in _URLGOV_BLOCKLIST], ["domain"]
    )
    total = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total")
    )
    kept = (
        docs.join(F.broadcast(bl), "domain", "left_anti")
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        total.join(kept, "source", "left")
        .select(
            "source",
            "n_total",
            (F.col("n_total") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_blocked"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


@query(
    "text_bm25_topk",
    oracle=f"""
WITH d AS (
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS dl,
           string_split(text, ' ') AS ws
    FROM documents
), stats AS (
    SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM d
), w AS (
    SELECT doc_id, dl, unnest(ws) AS term FROM d
), tf AS (
    SELECT doc_id, dl, term, count(*) AS tf
    FROM w WHERE term IN ('window', 'join', 'hash')
    GROUP BY 1, 2, 3
), dft AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
), sc AS (
    SELECT tf.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           round(sum(
               ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / s.avgdl))
           ), 6) AS bm25
    FROM tf JOIN dft USING (term), stats s
    GROUP BY tf.doc_id
), r AS (
    SELECT doc_id, n_terms, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank
    FROM sc
)
SELECT doc_id, n_terms, bm25, rank FROM r WHERE rank <= 10
""",
    tags=("datapipe", "text", "retrieval"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 against a fixed 3-term query — the retrieval
    primitive behind quality-by-retrieval data selection and corpus
    search tooling (Lucene-default idf, k1=1.2, b=0.75). Scores round
    to 6 before ranking; ties break doc_id asc.

    Scale shape: non-matching docs are dropped pre-explode via
    arrays_overlap; the df table (|query| rows) broadcasts; N/avgdl
    ride a 1-row broadcast crossJoin; the top-k is TakeOrdered (no
    global sort shuffle). See operators/text.bm25_topk."""
    return T.bm25_topk(load_table(spark, sf_dir, "documents"))


@query(
    "datapipe_dsir_select",
    oracle=f"""
WITH d AS (
    SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), g0 AS (
    SELECT doc_id, source, unnest(ws) AS gram FROM d
    UNION ALL
    SELECT doc_id, source, bg[1] || ' ' || bg[2] AS gram
    FROM (
        SELECT doc_id, source,
               unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS bg
        FROM d
    )
), gb AS (
    SELECT doc_id, source, {_MD5_LONG.format(x="gram")} % 256 AS bucket
    FROM g0 WHERE gram <> ''
), tot AS (
    SELECT CAST(count(*) AS BIGINT) AS tr,
           CAST(count(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT) AS tt
    FROM gb
), model AS (
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS cr,
           CAST(count(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT) AS ct
    FROM gb GROUP BY bucket
), db AS (
    SELECT doc_id, source, bucket, count(*) AS c FROM gb GROUP BY 1, 2, 3
), sc AS (
    SELECT db.doc_id, any_value(db.source) AS source,
           CAST(sum(db.c) AS BIGINT) AS n_grams,
           round(sum(db.c * (ln((m.ct + 1.0) / (t.tt + 256.0))
                             - ln((m.cr + 1.0) / (t.tr + 256.0))))
                 / sum(db.c), 6) AS avg_llr
    FROM db JOIN model m USING (bucket), tot t
    GROUP BY db.doc_id
), r AS (
    SELECT doc_id, source, n_grams, avg_llr,
           CAST(row_number() OVER (ORDER BY avg_llr DESC, doc_id) AS INT)
               AS rank
    FROM sc
)
SELECT doc_id, source, n_grams, avg_llr, rank FROM r WHERE rank <= 50
""",
    tags=("datapipe", "sampling", "quality"),
)
def datapipe_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): rank raw documents
    by hashed-n-gram importance weight toward a target domain (docs
    from src0 as the trusted seed) and keep the top 50 — the standard
    classifier-free mix-steering step before a pretraining run.

    Scale shape: the hashed feature space fixes BOTH models at 256
    rows regardless of vocabulary, so the model join is always
    broadcast; one explode feeds one partial-aggregable groupBy for
    the models and one for per-doc bucket counts; totals are a 1-row
    broadcast; top-k is TakeOrdered. See
    operators/text.dsir_importance_topk."""
    return T.dsir_importance_topk(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# URL canonicalization (round 10): the derived-URL fixture plants the
# variant classes a real crawl produces — trailing slash, case noise,
# a www. prefix + tracking params, and a REAL query param mixed with a
# tracking param and a fragment — on a deterministic host/path grid so
# both engines derive byte-identical raw URLs. doc_id // 7 gives ~7
# docs per path; doc_id % 10 spreads them over the urlgov domains, so
# same-host+path groups exist and collapse is real mass, not an edge.

_URLGOV_URL_SQL = """
u0 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 10 < 3 THEN 'hub.example.com'
              WHEN doc_id % 10 < 5 THEN 'mirror.example.net'
              ELSE 'site' || CAST(doc_id % 17 AS VARCHAR) || '.example.org'
         END AS domain,
         CAST(doc_id // 7 AS VARCHAR) AS pid,
         doc_id % 5 AS v
  FROM documents
),
raw AS (
  SELECT doc_id, source, domain,
         CASE v
           WHEN 0 THEN 'https://' || domain || '/a/' || pid
           WHEN 1 THEN 'https://' || domain || '/a/' || pid || '/'
           WHEN 2 THEN 'HTTPS://' || upper(domain) || '/a/' || pid
           WHEN 3 THEN 'https://www.' || domain || '/a/' || pid
                    || '?utm_source=feed&utm_campaign=x'
           ELSE 'https://' || domain || '/a/' || pid || '?id=7&ref=rss#frag'
         END AS url
  FROM u0
)"""


def _urlgov_urls(docs: DataFrame) -> DataFrame:
    """Spark twin of _URLGOV_URL_SQL: doc_id-derived raw URLs with the
    planted canonicalization variants."""
    base = docs.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") % 10 < 3, F.lit("hub.example.com"))
        .when(F.col("doc_id") % 10 < 5, F.lit("mirror.example.net"))
        .otherwise(
            F.concat(
                F.lit("site"),
                (F.col("doc_id") % 17).cast("string"),
                F.lit(".example.org"),
            )
        )
        .alias("domain"),
        F.expr("doc_id div 7").cast("string").alias("pid"),
        (F.col("doc_id") % 5).alias("v"),
    )
    stem = F.concat(F.col("domain"), F.lit("/a/"), F.col("pid"))
    return base.select(
        "doc_id",
        "source",
        "domain",
        F.when(F.col("v") == 0, F.concat(F.lit("https://"), stem))
        .when(F.col("v") == 1, F.concat(F.lit("https://"), stem, F.lit("/")))
        .when(
            F.col("v") == 2,
            F.concat(
                F.lit("HTTPS://"),
                F.upper(F.col("domain")),
                F.lit("/a/"),
                F.col("pid"),
            ),
        )
        .when(
            F.col("v") == 3,
            F.concat(
                F.lit("https://www."),
                stem,
                F.lit("?utm_source=feed&utm_campaign=x"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://"), stem, F.lit("?id=7&ref=rss#frag"))
        )
        .alias("url"),
    )


@query(
    "urlgov_canonicalize",
    oracle=f"""
WITH {_URLGOV_URL_SQL},
c1 AS (
  SELECT doc_id, domain, url,
         regexp_replace(url, '#.*$', '') AS u2
  FROM raw
), c2 AS (
  SELECT doc_id, domain, url, u2,
         regexp_extract(u2, '^([^/?]*://[^/?]*)', 1) AS head0
  FROM c1
), c3 AS (
  SELECT doc_id, domain, url,
         regexp_replace(lower(head0),
                        '^(https?://)www\\.', '\\1') AS head,
         substr(u2, length(head0) + 1) AS rest
  FROM c2
), c4 AS (
  SELECT doc_id, domain, url, head,
         regexp_replace(regexp_replace(rest, '\\?.*$', ''),
                        '/$', '') AS path,
         CASE WHEN position('?' IN rest) > 0
              THEN substr(rest, position('?' IN rest) + 1) ELSE '' END AS qs
  FROM c3
), c5 AS (
  SELECT doc_id, domain, url, head, path,
         array_to_string(list_filter(string_split(qs, '&'),
             p -> p <> ''
                  AND NOT regexp_matches(p,
                      '^(utm_[a-z]+|ref|fbclid|gclid)=', 'i')),
             '&') AS kept
  FROM c4
), canon AS (
  SELECT doc_id, domain, url,
         head || path ||
         CASE WHEN kept <> '' THEN '?' || kept ELSE '' END AS curl
  FROM c5
)
SELECT domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_distinct,
       CAST(count(DISTINCT curl) AS BIGINT) AS n_canon_distinct,
       CAST(count(DISTINCT url) - count(DISTINCT curl) AS BIGINT)
           AS n_collapsed,
       round(1 - count(DISTINCT curl)::DOUBLE / count(DISTINCT url), 4)
           AS collapse_rate
FROM canon GROUP BY domain
""",
    tags=("datapipe", "governance", "dedup"),
)
def urlgov_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + re-dedup gain per domain — the crawl-
    curation step that runs BEFORE URL-level dedup in C4/RefinedWeb-
    style pipelines: fragment strip, scheme+host lowercase (RFC 3986 —
    path/query case is preserved), scheme-agnostic www strip, trailing-
    slash strip, tracking-param removal (utm_*/ref/fbclid/gclid, key
    case-insensitive) with real params preserved. The report shows, per domain, how many
    raw-distinct URLs collapse once tracking noise is removed — the
    dedup mass a pipeline would otherwise re-crawl and re-process.

    Scale shape: canonicalization is pure column expressions inside
    the scan stage (operators/text.url_canonicalize — zero shuffle);
    the report is one partial-aggregable groupBy(domain) with distinct
    counts. No joins, no pairs."""
    urls = _urlgov_urls(load_table(spark, sf_dir, "documents"))
    canon = T.url_canonicalize(urls)
    return canon.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("url").cast("long").alias("n_raw_distinct"),
        F.countDistinct("canon_url").cast("long").alias("n_canon_distinct"),
        (F.countDistinct("url") - F.countDistinct("canon_url"))
        .cast("long")
        .alias("n_collapsed"),
        F.round(
            1 - F.countDistinct("canon_url") / F.countDistinct("url"), 4
        ).alias("collapse_rate"),
    )


@query(
    "datapipe_temperature_mix",
    oracle="""
WITH sm AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 20 < 10 THEN 'web'
              WHEN doc_id % 20 < 16 THEN 'books'
              WHEN doc_id % 20 < 19 THEN 'code'
              ELSE 'wiki' END AS mix_source
  FROM documents
), cnt AS (
  SELECT mix_source, CAST(count(*) AS BIGINT) AS n_docs FROM sm GROUP BY 1
), wt AS (
  SELECT mix_source, n_docs, sqrt(n_docs) AS wraw,
         sum(sqrt(n_docs)) OVER () AS wsum
  FROM cnt
), tgt AS (
  SELECT mix_source, n_docs,
         round(wraw / wsum, 6) AS weight,
         CAST(floor(200.0 * wraw / wsum) AS BIGINT) AS base_n,
         200.0 * wraw / wsum - floor(200.0 * wraw / wsum) AS rem
  FROM wt
), fin AS (
  SELECT mix_source, n_docs, weight,
         least(n_docs,
               base_n + CASE WHEN CAST(row_number() OVER
                                  (ORDER BY rem DESC, mix_source) AS BIGINT)
                             <= 200 - (SELECT CAST(sum(base_n) AS BIGINT)
                                       FROM tgt)
                        THEN 1 ELSE 0 END) AS target_n
  FROM tgt
), sel AS (
  SELECT doc_id, mix_source, text,
         CAST(row_number() OVER (PARTITION BY mix_source
                                 ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                          doc_id) AS BIGINT) AS rn
  FROM sm
)
SELECT f.mix_source, f.n_docs, f.weight,
       CAST(f.target_n AS BIGINT) AS target_n,
       CAST(count(s.doc_id) AS BIGINT) AS sel_docs,
       CAST(coalesce(sum(len(list_filter(string_split(s.text, ' '),
                                         w -> w <> ''))), 0) AS BIGINT)
           AS sel_tokens
FROM fin f LEFT JOIN sel s
  ON s.mix_source = f.mix_source AND s.rn <= f.target_n
GROUP BY 1, 2, 3, 4
""",
    tags=("datapipe", "sampling", "mixing"),
)
def datapipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling — the multinomial source-
    weighting step (weights proportional to n^alpha) every multi-source
    pretraining run uses to keep the biggest source from drowning the
    mix while still over-sampling it. alpha = 0.5 on a planted skewed
    split (web 50% / books 30% / code 15% / wiki 5% via doc_id % 20);
    sqrt is used rather than pow(x, alpha) because IEEE-754 sqrt is
    correctly rounded and therefore bit-identical across engines,
    where general pow is libm-dependent. A 200-doc budget is allotted
    by floor + largest-remainder (exact integer redistribution, ties
    by source name), capped per source by availability; selection
    within a source is deterministic md5(doc_id) hash order. The
    report carries the selected doc count and token volume per source.

    Scale shape: the mix table is |sources| rows — every window/scalar
    here runs over 4 rows; the corpus-side work is one partial-
    aggregable count, one hash-ranked window per source partition
    (two-stage per-shard top-K at extreme scale, as urlgov_domain_quota
    documents), and one broadcast join of the 4-row target table with
    a residual rn <= target_n predicate. Token sums ride the partial
    agg. Nothing all-pairs, nothing collected."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sm = docs.select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 20 < 10, F.lit("web"))
        .when(F.col("doc_id") % 20 < 16, F.lit("books"))
        .when(F.col("doc_id") % 20 < 19, F.lit("code"))
        .otherwise(F.lit("wiki"))
        .alias("mix_source"),
    )
    cnt = sm.groupBy("mix_source").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    # the mix table is |sources| rows, so every scalar here is a window
    # over that TINY table — one lineage, ONE corpus scan for the counts
    # (crossJoin-broadcast scalars would re-derive cnt per branch and
    # re-scan the corpus 3 extra times)
    w_all = Window.partitionBy()
    share = F.lit(200.0) * F.col("wraw") / F.col("wsum")
    tgt = (
        cnt.withColumn("wraw", F.sqrt("n_docs"))
        .withColumn("wsum", F.sum("wraw").over(w_all))
        .select(
            "mix_source",
            "n_docs",
            F.round(F.col("wraw") / F.col("wsum"), 6).alias("weight"),
            F.floor(share).cast("long").alias("base_n"),
            (share - F.floor(share)).alias("rem"),
        )
    )
    w_rem = Window.orderBy(F.desc("rem"), F.asc("mix_source"))
    fin = (
        tgt.withColumn("rn", F.row_number().over(w_rem).cast("long"))
        .withColumn("extra", F.lit(200) - F.sum("base_n").over(w_all))
        .select(
            "mix_source",
            "n_docs",
            "weight",
            F.least(
                F.col("n_docs"),
                F.col("base_n")
                + F.when(F.col("rn") <= F.col("extra"), 1).otherwise(0),
            )
            .cast("long")
            .alias("target_n"),
        )
    )
    w_sel = Window.partitionBy("mix_source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.asc("doc_id")
    )
    toks = F.size(F.filter(F.split("text", " "), lambda w: w != "")).cast(
        "long"
    )
    sel = (
        sm.withColumn("rn", F.row_number().over(w_sel).cast("long"))
        .select(
            F.col("mix_source").alias("s_src"),
            F.col("doc_id").alias("s_doc"),
            "rn",
            toks.alias("toks"),
        )
    )
    return (
        sel.join(
            F.broadcast(fin),
            (F.col("s_src") == F.col("mix_source"))
            & (F.col("rn") <= F.col("target_n")),
            "right",
        )
        .groupBy("mix_source", "n_docs", "weight", "target_n")
        .agg(
            F.count("s_doc").cast("long").alias("sel_docs"),
            F.coalesce(F.sum("toks"), F.lit(0)).cast("long").alias("sel_tokens"),
        )
    )


#: robots-style URL pattern rules: (domain, path_prefix). One rule
#: blocks a path SUBTREE of the hub (pids starting with '1'), one
#: blocks an entire small site via its root prefix, one names a domain
#: absent from the fixture (must drop nothing — the negative control).
_URLGOV_PATH_RULES = [
    ("hub.example.com", "/a/1"),
    ("site3.example.org", "/a/"),
    ("spam.example.com", "/"),
]


@query(
    "urlgov_path_rules",
    oracle=f"""
WITH {_URLGOV_URL_SQL},
p AS (
  SELECT doc_id, source, domain, '/a/' || pid AS path FROM u0
), flagged AS (
  SELECT source,
         CASE WHEN (domain = 'hub.example.com' AND path LIKE '/a/1%')
                OR (domain = 'site3.example.org' AND path LIKE '/a/%')
                OR (domain = 'spam.example.com' AND path LIKE '/%')
              THEN 1 ELSE 0 END AS b
  FROM p
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(b) AS BIGINT) AS n_blocked,
       CAST(count(*) - sum(b) AS BIGINT) AS n_kept
FROM flagged GROUP BY source
""",
    tags=("datapipe", "governance", "join", "anti"),
)
def urlgov_path_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots-style PATH-prefix rule filtering — the governance layer
    below the domain blocklist (urlgov_blocklist drops whole domains;
    real crawl policies block path subtrees: /search, /tag, /login,
    per-robots.txt disallow lines). Rules are (domain, path_prefix)
    pairs; a doc is dropped when any rule's domain matches exactly and
    its path starts with the rule's prefix. The fixture exercises a
    partial subtree (hub pids starting '1'), a whole-site root prefix,
    and an absent domain as the negative control.

    Scale shape: the rules table (thousands of disallow lines in
    production) broadcasts; the join is equi on domain with the
    startswith residual evaluated inside the broadcast hash join — the
    corpus never shuffles. The survival report rides partial-agg
    counts, same as urlgov_blocklist."""
    docs = _urlgov_urls(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        "domain",
        # _urlgov_urls folds pid into the url; re-derive the path from
        # the same doc_id rule (u0's '/a/' || pid)
        F.concat(
            F.lit("/a/"), F.expr("doc_id div 7").cast("string")
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        _URLGOV_PATH_RULES, ["r_domain", "r_prefix"]
    )
    blocked = (
        docs.join(
            F.broadcast(rules),
            (F.col("domain") == F.col("r_domain"))
            & F.col("path").startswith(F.col("r_prefix")),
            "left_semi",
        )
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_blocked"))
    )
    total = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total")
    )
    return total.join(blocked, "source", "left").select(
        "source",
        "n_total",
        F.coalesce("n_blocked", F.lit(0)).cast("long").alias("n_blocked"),
        (F.col("n_total") - F.coalesce("n_blocked", F.lit(0)))
        .cast("long")
        .alias("n_kept"),
    )
