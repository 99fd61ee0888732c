"""Embedding entries: ANN top-k, near-dup, normalize/quantize, centroids."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from purescript_ifrit_spark.api import run_query
from purescript_ifrit_spark.sources.tables import load_table
from purescript_ifrit_spark.suite._registry import (
    register,
    register_demo,
)



@register_demo("x_ann_cosine_topk")  # retired r14 (VERDICT r13 #6 net-zero
# growth, third swap): the single-query brute form is subsumed by
# x_ann_batch — cosine_topk_batch per-query ids/order/sims ≡ cosine_topk
# is test-pinned, so the batch entry's oracle covers this path. Oracle
# while registered (green r1, r2, r4, r8, r13 in the CORRECTNESS_rNN.json
# artifacts): DuckDB list_cosine_similarity top-10, ordered by the
# unrounded sim, round-5 projected.
def x_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from purescript_ifrit_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    out = cosine_topk(emb, "vec_id", "embedding", query, k=10)
    return out.withColumn("sim", F.round("sim", 5))


@register(
    "x_ann_batch",
    # batch brute-force ANN (r10 partial-top-k shape): top-10 per query
    # for two query vectors in one plan; ordering by the UNROUNDED
    # similarity with vec_id tie-break on both engines, round-5 on the
    # projected value only (the x_ann_cosine_topk convention)
    "WITH q AS (SELECT 0 AS qid, CAST(embedding AS DOUBLE[]) AS qv "
    "FROM embeddings WHERE vec_id = 0 "
    "UNION ALL SELECT 7, CAST(embedding AS DOUBLE[]) "
    "FROM embeddings WHERE vec_id = 7), "
    "s AS (SELECT q.qid, e.vec_id, "
    "list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS s "
    "FROM embeddings e, q), "
    "r AS (SELECT qid, vec_id, s, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY s DESC, vec_id ASC) AS rn FROM s) "
    "SELECT CAST(qid AS BIGINT) AS query_id, vec_id, ROUND(s, 5) AS sim "
    "FROM r WHERE rn <= 10",
)
def x_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch brute-force ANN (operators/similarity.cosine_topk_batch,
    reshaped r10): exact top-10 per query for a 2-query batch — one
    Arrow matmul + worker-local partial top-k per batch, one query-keyed
    exchange of the partials (the full rows x queries sim matrix never
    crosses Arrow; plan-pinned, 16.4x measured at 100x in SCALE.md)."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        cosine_topk_batch,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id").isin([0, 7])).orderBy("vec_id").collect()
    )
    queries = np.stack([np.asarray(r.embedding, dtype=np.float64)
                        for r in qrows])
    out = cosine_topk_batch(emb, "vec_id", "embedding", queries, [0, 7], k=10)
    return out.withColumn("sim", F.round("sim", 5))


@register_demo("x_ann_lsh_topk")  # approximate — demo (twin: x_ann_lsh_planted)
def x_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from purescript_ifrit_spark.operators.similarity import (
        lsh_topk,
        make_hyperplanes,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    planes = make_hyperplanes(dim=len(query), n_planes=8, seed=42)
    out = lsh_topk(emb, "vec_id", "embedding", query, planes, k=10, probe_hamming=1)
    return out.withColumn("sim", F.round("sim", 5))


@register_demo("x_ann_ivf_topk")  # approximate (nprobe cells) — demo (twin: x_ann_ivf_planted)
def x_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index path end-to-end: seeded centroid build (bounded
    driver-side sample), JVM-side cell assignment, nprobe-cell probe +
    exact cosine rerank. Deterministic (fixed seed + hash-ordered sample)
    but approximate vs brute force, so rows-only like the LSH twin;
    pytest pins recall against the brute-force oracle."""
    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    cents = ivf_centroids(emb, "embedding", nlist=16, seed=42, sample=2048)
    out = ivf_topk(emb, "vec_id", "embedding", query, cents, k=10, nprobe=4)
    return out.withColumn("sim", F.round("sim", 5))


@register(
    "x_embedding_neardup",
    # CAST to DOUBLE[]: DuckDB's list_cosine_similarity computes FLOAT[] in
    # float32, which diverges from Spark's double math at the 5th decimal
    "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
    "ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])), 5) AS sim "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
    "CAST(b.embedding AS DOUBLE[])) >= 0.4",
)
def x_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from purescript_ifrit_spark.operators.similarity import embedding_neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    # exact all-pairs mode, opted in: this entry IS the evaluation baseline
    # the oracle recomputes; the scale path (planes=...) is exercised in tests
    out = embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.4, allow_crossjoin=True
    )
    return out.withColumn("sim", F.round("sim", 5))


@register(
    "x_embedding_centroids",
    # per-label mean embedding, component-wise; floor-quantized integer
    # sums (grid 2^20) are order-independent AND tie-free, so the division
    # below is bit-identical across engines
    "SELECT label, i - 1 AS dim, "
    "CAST(SUM(CAST(floor(CAST(list_extract(embedding, i) AS DOUBLE) "
    "* 1048576) AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1048576.0) AS centroid "
    "FROM embeddings, range(1, 65) t(i) GROUP BY 1, 2",
)
def x_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (operators/similarity.label_centroids,
    exact_grid mode): distributed class prototypes — posexplode partials
    collapse map-side; one index-sized shuffle."""
    from purescript_ifrit_spark.operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb, "label", "embedding", exact_grid=2**20)


@register(
    "x_embedding_normalize",
    # FLAT output contract (VERDICT r4 #1): the driver's pandas canonicalizer
    # sorts result columns and cannot factorize list cells, so array-valued
    # results crash the comparator. Emit one row per vector element —
    # (vec_id, pos, val) — which is also how value diffs stay debuggable.
    # sequential double sum + IEEE sqrt/division are bit-reproducible, but
    # round to 6dp anyway so the value hash tolerates float-printing paths.
    # CASE sq = 0 (ADVICE r3): l2_normalize maps all-zero vectors to zeros;
    # without the guard the oracle would emit NaN for that row
    "WITH e AS (SELECT vec_id, embedding, "
    "list_aggregate(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), 'sum') AS sq FROM embeddings), "
    "x AS (SELECT vec_id, embedding, sq, "
    "CAST(unnest(range(len(embedding))) AS INT) AS pos FROM e) "
    "SELECT vec_id, pos, CASE WHEN sq = 0 THEN 0.0 "
    "ELSE ROUND(CAST(embedding[pos + 1] AS DOUBLE) / sqrt(sq), 6) "
    "END AS val FROM x",
)
def x_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from purescript_ifrit_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    unit = V.l2_normalize(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.posexplode(F.transform(unit, lambda x: F.round(x, 6))).alias(
            "pos", "val"
        ),
    )


@register(
    "x_embedding_quantize",
    # FLAT output contract — see x_embedding_normalize. scale repeats per
    # element row (star-schema shape; harmless at the compare and what a
    # downstream exploded consumer joins on anyway).
    # symmetric int8: scale = max|v|/127, q = round(v/scale); both engines
    # round halves away from zero on doubles. CASE sc = 0 mirrors the
    # operator's all-zero-vector convention (scale 0 + zero codes)
    "WITH e AS (SELECT vec_id, embedding, "
    "list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 "
    "AS sc FROM embeddings), "
    "x AS (SELECT vec_id, embedding, sc, "
    "CAST(unnest(range(len(embedding))) AS INT) AS pos FROM e) "
    "SELECT vec_id, ROUND(sc, 9) AS scale, pos, "
    "CASE WHEN sc = 0 THEN 0 "
    "ELSE CAST(ROUND(CAST(embedding[pos + 1] AS DOUBLE) / sc) AS INT) "
    "END AS q FROM x",
)
def x_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from purescript_ifrit_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    qs = V.quantize_int8(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(qs["scale"], 9).alias("scale"),
        F.posexplode(qs["q"]).alias("pos", "q"),
    )


@register_demo("x_knn_join")  # LSH-approximate — demo (twin: x_knn_join_planted); recall in pytest
def x_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate KNN self-join over the embeddings table
    (operators/similarity.knn_join_lsh): per-vector top-5 cosine
    neighbors via 3 rotated hyperplane-LSH bucketings. Recall vs brute
    force is pinned in pytest on planted clusters."""
    from purescript_ifrit_spark.operators.similarity import knn_join_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_lsh(emb, "vec_id", "embedding", k=5)


@register(
    "x_knn_join_planted",
    # planted-truth conversion of the rows-only KNN join (VERDICT r6 #3):
    # vec_ids < 96 get IDENTICAL unit basis vectors e_{id div 6} (dim 32),
    # so every 6-block is one cluster — identical vectors share every LSH
    # bucket under ANY deterministic plane set (a hash of the vector alone),
    # making recall exactly 1 by construction, cosine exactly 1.0
    # (1.0·1.0 / 1·1, no float accumulation), and the top-5 = the 5 block
    # peers with rank ordered by nbr_id (the operator's pinned tiebreak).
    # Cross-cluster candidates score 0 < 1 and can never enter the top-5
    # because every full block has exactly 5 peers; partial tail blocks
    # (N % 6, small sf) emit their fewer-than-5 peers — also closed-form.
    "WITH ids AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 96), "
    "p AS (SELECT a.id AS id, b.id AS nbr_id FROM ids a JOIN ids b "
    "ON a.id // 6 = b.id // 6 AND a.id <> b.id) "
    "SELECT id, nbr_id, CAST(1.0 AS DOUBLE) AS sim, CAST(row_number() OVER "
    "(PARTITION BY id ORDER BY nbr_id) AS BIGINT) AS rank FROM p",
)
def x_knn_join_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN LSH join with planted known-neighbor clusters — the full
    operator path (3 rotated plane sets, bucket cap, candidate join,
    top-k window) under inputs whose true neighbor sets are closed-form,
    so the approximate operator carries an exact value oracle."""
    from purescript_ifrit_spark.operators.similarity import knn_join_lsh

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    out = knn_join_lsh(planted, "vec_id", "embedding", k=5)
    return out.select(
        "id", "nbr_id", "sim", F.col("rank").cast("long").alias("rank")
    )


def _planted_basis_embeddings(emb: DataFrame, n_ids: int = 96, block: int = 6) -> DataFrame:
    """Shared planted-truth input for the approximate-ANN oracle entries:
    vec_ids < `n_ids` get IDENTICAL 32-dim unit basis vectors
    e_{id // block}, so every `block`-sized id range is one cluster of
    bit-equal vectors. Identical vectors agree on every LSH hyperplane
    sign and sit at L2 distance 0 from their own IVF centroid, so recall
    is 1 BY CONSTRUCTION and cosine within a cluster is exactly 1.0
    (1·1/(1·1), no float accumulation) — closed-form truth for
    lsh_topk / ivf_topk / knn_join_lsh."""
    return emb.filter(F.col("vec_id") < n_ids).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda d: F.when(
                d == (F.col("vec_id") / block).cast("int"), F.lit(1.0)
            ).otherwise(F.lit(0.0)).cast("float"),
        ).alias("embedding"),
    )


# the e_0 basis query both planted top-k entries probe with: cluster 0
# (vec_ids 0-5) is the unique answer set at sim exactly 1.0
_E0_QUERY = [1.0] + [0.0] * 31

_PLANTED_TOPK_ORACLE = (
    # closed-form: the 6 cluster-0 members, each at cosine exactly 1.0.
    # Everything outside the cluster is orthogonal (sim 0.0) and can never
    # enter a top-6 that cluster 0 already fills.
    "SELECT vec_id, CAST(1.0 AS DOUBLE) AS sim "
    "FROM embeddings WHERE vec_id < 6"
)


@register_demo("x_ann_lsh_planted")  # retired r14 (VERDICT r13 #6 net-zero
# growth): the single-query form is subsumed by x_ann_lsh_batch_planted —
# lsh_topk_batch 1-query ≡ lsh_topk is test-pinned, so the batch entry's
# oracle covers this path. Oracle while registered: _PLANTED_TOPK_ORACLE
# (green r7, r12 in the CORRECTNESS_rNN.json artifacts).
def x_ann_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH multi-probe top-k under planted basis clusters — the full
    operator path (signature in the scan, probe-bucket filter, exact
    cosine rerank) with a closed-form answer set, so the approximate
    operator carries an exact value oracle (the r6 planted-conversion
    pattern; recall itself stays pinned by pytest on real data)."""
    from purescript_ifrit_spark.operators.similarity import (
        lsh_topk,
        make_hyperplanes,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    planes = make_hyperplanes(dim=32, n_planes=8, seed=42)
    out = lsh_topk(
        planted, "vec_id", "embedding", _E0_QUERY, planes, k=6, probe_hamming=1
    )
    return out.select("vec_id", "sim")


@register_demo("x_ann_ivf_planted")  # retired r14 (VERDICT r13 #6 net-zero
# growth): the single-query form is subsumed by x_ann_ivf_batch_planted —
# ivf_topk_batch 1-query ≡ ivf_topk is test-pinned, so the batch entry's
# oracle covers this path. Oracle while registered: _PLANTED_TOPK_ORACLE
# (green r7, r12 in the CORRECTNESS_rNN.json artifacts).
def x_ann_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k under planted basis clusters — the full index path
    (bounded seeded centroid build, JVM-side cell assignment, nprobe
    filter, exact rerank) with a closed-form answer set."""
    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(planted, "embedding", nlist=16, seed=42, sample=4096)
    out = ivf_topk(
        planted, "vec_id", "embedding", _E0_QUERY, cents, k=6, nprobe=1
    )
    return out.select("vec_id", "sim")


@register(
    "x_ann_ivf_batch_planted",
    # planted-truth batch IVF (r10): with the 16 identical-basis-vector
    # clusters and nlist=16 the centroid build lands every centroid
    # exactly on its basis vector (the x_ann_ivf_planted argument), so
    # an e_0/e_1 two-query batch at nprobe=1 probes cluster 0 / cluster
    # 1 respectively and each returns exactly its own 6 members at
    # cosine exactly 1.0
    "SELECT CAST(q.qid AS BIGINT) AS query_id, e.vec_id, "
    "CAST(1.0 AS DOUBLE) AS sim "
    "FROM (SELECT 0 AS qid UNION ALL SELECT 1) q "
    "JOIN embeddings e ON e.vec_id >= q.qid * 6 "
    "AND e.vec_id < q.qid * 6 + 6",
)
def x_ann_ivf_batch_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF top-k under planted basis clusters (operators/
    similarity.ivf_topk_batch, r10): the full batch index path — seeded
    centroid build, driver-side per-query cell probe, JVM cell
    assignment + probed-cells pruning, worker-local partial top-k — with
    a closed-form two-query answer set."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids,
        ivf_topk_batch,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(planted, "embedding", nlist=16, seed=42, sample=4096)
    e0 = np.array(_E0_QUERY, dtype=np.float64)
    e1 = np.zeros(32)
    e1[1] = 1.0
    out = ivf_topk_batch(
        planted, "vec_id", "embedding", np.stack([e0, e1]), [0, 1], cents,
        k=6, nprobe=1,
    )
    return out.select("query_id", "vec_id", "sim")


@register(
    "x_ann_lsh_batch_planted",
    # planted-truth batch LSH (r11): identical basis vectors share every
    # hyperplane sign with their own cluster's query, so each query's
    # probe set always contains its whole cluster and the exact rerank
    # returns it at cosine exactly 1.0; colliding orthogonal clusters
    # (sign-pattern coincidences) only add sim-0.0 rows that can never
    # enter a top-6 the home cluster fills — the same closed form as
    # x_ann_ivf_batch_planted, same oracle SQL verbatim
    "SELECT CAST(q.qid AS BIGINT) AS query_id, e.vec_id, "
    "CAST(1.0 AS DOUBLE) AS sim "
    "FROM (SELECT 0 AS qid UNION ALL SELECT 1) q "
    "JOIN embeddings e ON e.vec_id >= q.qid * 6 "
    "AND e.vec_id < q.qid * 6 + 6",
)
def x_ann_lsh_batch_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch multi-probe LSH top-k under planted basis clusters
    (operators/similarity.lsh_topk_batch, r11): the full batch path —
    driver-side signature + hamming-ball probe map, in-Arrow sign-pack
    assignment, per-bucket matmul, tie-exact worker-local top-k — with
    a closed-form two-query answer set."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        lsh_topk_batch,
        make_hyperplanes,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    planes = make_hyperplanes(dim=32, n_planes=8, seed=42)
    e0 = np.array(_E0_QUERY, dtype=np.float64)
    e1 = np.zeros(32)
    e1[1] = 1.0
    out = lsh_topk_batch(
        planted, "vec_id", "embedding", np.stack([e0, e1]), [0, 1],
        planes, k=6, probe_hamming=1,
    )
    return out.select("query_id", "vec_id", "sim")


@register(
    "x_ann_recall_planted",
    # closed-form recall arithmetic under the planted basis geometry
    # (centroids land EXACTLY on the basis vectors — the
    # x_ann_ivf_planted argument). Query 0 probes e_0 at nprobe=1 with
    # k=12: ground truth is cluster 0 (sim 1.0) plus the six LOWEST-id
    # orthogonal rows (sim 0.0, id tie-break) = vec_id < 12, while the
    # probed cell holds only cluster 0 — recall 6/12. Query 1
    # (0.9·e0 + 0.45·e1) probes cells {0,1} at nprobe=2: truth is
    # clusters 0∪1 (sims .894/.447) = vec_id < 12 again, all returned —
    # recall 1. The oracle derives both rows from the same vec_id<12
    # truth set and the closed-form cell membership vec_id<6.
    "WITH t AS (SELECT vec_id FROM embeddings WHERE vec_id < 12) "
    "SELECT CAST(0 AS BIGINT) AS query_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_truth, "
    "CAST(SUM(CASE WHEN vec_id < 6 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, "
    "CAST((SUM(CASE WHEN vec_id < 6 THEN 1 ELSE 0 END) * 1000000) "
    "// COUNT(*) AS BIGINT) AS recall_micro FROM t "
    "UNION ALL SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT), "
    "CAST(COUNT(*) AS BIGINT), CAST(1000000 AS BIGINT) FROM t",
)
def x_ann_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN recall (operators/similarity.ann_recall_estimate,
    r11 — VERDICT r10 #3): the full helper path — seeded query sample,
    one brute-force truth pass through cosine_topk_batch, metadata-sized
    hit join, integer micro-unit recall — against an IVF answer whose
    per-query recall is closed-form under the planted basis clusters
    (query 0 deliberately under-probes at nprobe=1 and must read
    recall_micro 500000; query 1 probes both straddled cells and must
    read 1000000)."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ann_recall_estimate,
        ivf_centroids,
        ivf_topk_batch,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = ivf_centroids(planted, "embedding", nlist=16, seed=42, sample=4096)
    qa = np.array(_E0_QUERY, dtype=np.float64)
    qb = np.zeros(32)
    qb[0], qb[1] = 0.9, 0.45
    approx = ivf_topk_batch(
        planted, "vec_id", "embedding", qa[None, :], [0], cents,
        k=12, nprobe=1,
    ).unionByName(
        ivf_topk_batch(
            planted, "vec_id", "embedding", qb[None, :], [1], cents,
            k=12, nprobe=2,
        )
    )
    return ann_recall_estimate(
        planted, "vec_id", "embedding", np.stack([qa, qb]), [0, 1],
        approx, k=12, n_sample=2,
    )


_FH_TOK = (
    "WITH tok AS (SELECT doc_id, "
    "UNNEST(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t "
    "FROM documents), "
    "f AS (SELECT doc_id, "
    "CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 64 AS INT) AS bucket, "
    "CASE WHEN CAST('0x' || substr(md5(t), 9, 1) AS BIGINT) % 2 = 0 "
    "THEN 1 ELSE -1 END AS s FROM tok WHERE t <> '') "
)


@register(
    "x_feature_hash",
    _FH_TOK + "SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS value "
    "FROM f GROUP BY doc_id, bucket HAVING SUM(s) <> 0",
)
def x_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse document vectors (operators/vectorize.
    feature_hash_sparse): md5 bucket + sign per token, signed counts —
    a pure function of the text, recomputed exactly by the oracle."""
    from purescript_ifrit_spark.operators.vectorize import feature_hash_sparse

    docs = load_table(spark, sf_dir, "documents")
    out = feature_hash_sparse(docs, "doc_id", "text", dim=64)
    return out.select(
        "doc_id", "bucket", F.col("value").cast("long").alias("value")
    )


@register(
    "x_linear_filter",
    # planted integer-derived weights: w(b) = ((b*2654435761) % 1000)/1000 - 0.5
    _FH_TOK + ", sc AS (SELECT doc_id, "
    "SUM(s * (((bucket * 2654435761) % 1000) / 1000.0 - 0.5)) AS margin "
    "FROM f GROUP BY doc_id) "
    "SELECT doc_id, ROUND(margin, 6) AS margin, "
    "ROUND(1.0 / (1.0 + exp(-margin)), 6) AS score, "
    "margin >= 0 AS keep FROM sc",
)
def x_linear_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality filter over hashed features
    (operators/vectorize.linear_hash_score) with planted deterministic
    weights — the apply-a-learned-filter-at-scale path."""
    from purescript_ifrit_spark.operators.vectorize import linear_hash_score

    docs = load_table(spark, sf_dir, "documents")
    w = spark.range(64).select(
        F.col("id").cast("int").alias("bucket"),
        (((F.col("id") * 2654435761) % 1000) / 1000.0 - 0.5).alias("w"),
    )
    out = linear_hash_score(docs, w, "doc_id", "text", dim=64)
    return out.select(
        "doc_id",
        F.round(F.col("margin"), 6).alias("margin"),
        F.round(F.col("score"), 6).alias("score"),
        "keep",
    )


_KM_K = 4
_KM_DIM = 4
_KM_ITER = 3
_KM_OFF = 1024  # translation to the nonnegative domain (clustering.py)


def _km_quant_sql(i: int) -> str:
    # DuckDB lists are 1-based; corpus floats are in (-1, 1) so the
    # offset keeps every coordinate positive
    return (
        f"CAST(floor(CAST(embedding[{i}] AS DOUBLE) * 1000) AS BIGINT) "
        f"+ {_KM_OFF}"
    )


def _kmeans_cte(points_sql: str | None = None) -> str:
    """The unrolled kmeans_lloyd WITH-chain (the _pagerank_oracle
    pattern): 3 assign+update rounds plus the final assignment CTE
    a{iter+1}, all in exact integer arithmetic. `points_sql` overrides
    the quantized-embeddings point set (must yield vec_id, v1..v4) so
    compositions (semdedup) can plant variants while replaying the
    identical clustering."""
    vs = [f"v{i}" for i in range(1, _KM_DIM + 1)]
    dist = " + ".join(f"(p.{v} - c.e{j+1}) * (p.{v} - c.e{j+1})"
                      for j, v in enumerate(vs))
    if points_sql is None:
        points_sql = (
            "SELECT vec_id, "
            + ", ".join(
                f"{_km_quant_sql(i+1)} AS v{i+1}" for i in range(_KM_DIM)
            )
            + " FROM embeddings"
        )
    parts = [
        "WITH p AS (" + points_sql + "), ",
        "c0 AS (SELECT vec_id AS cid, "
        + ", ".join(f"v{i+1} AS e{i+1}" for i in range(_KM_DIM))
        + f" FROM p WHERE vec_id < {_KM_K}), ",
    ]
    for i in range(1, _KM_ITER + 2):
        parts.append(
            f"a{i} AS (SELECT vec_id, cid, dist FROM ("
            "SELECT vec_id, cid, dist, row_number() OVER ("
            "PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM ("
            f"SELECT p.vec_id, c.cid, {dist} AS dist "
            f"FROM p CROSS JOIN c{i-1} c)) WHERE rn = 1), "
        )
        if i <= _KM_ITER:
            sums = ", ".join(f"SUM(p.v{j+1}) AS s{j+1}" for j in range(_KM_DIM))
            upd = ", ".join(
                f"COALESCE(g.s{j+1} // g.n, c.e{j+1}) AS e{j+1}"
                for j in range(_KM_DIM)
            )
            parts.append(
                f"c{i} AS (SELECT c.cid, {upd} FROM c{i-1} c "
                f"LEFT JOIN (SELECT a.cid, {sums}, COUNT(*) AS n "
                f"FROM a{i} a JOIN p USING (vec_id) GROUP BY a.cid) g "
                "USING (cid)), "
            )
    parts[-1] = parts[-1].rstrip(", ") + " "
    return "".join(parts)


def _kmeans_oracle() -> str:
    return _kmeans_cte() + (
        # BIGINT*BIGINT is HUGEINT in DuckDB — cast the surfaced distance
        # back to BIGINT or the driver's type-sensitive hash mismatches
        # Spark's LONG even with every value equal (the r1/r3 failure class)
        f"SELECT vec_id, CAST(cid AS INT) AS cluster, "
        f"CAST(dist AS BIGINT) AS sq_dist FROM a{_KM_ITER + 1}"
    )


@register("x_kmeans_planted", _kmeans_oracle())
def x_kmeans_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact distributed k-means (operators/clustering.
    kmeans_lloyd) on offset-quantized embedding slices, seeded at the
    four lowest vec_ids — assignments AND exact squared distances under
    the final centroids, value-exact vs the unrolled DuckDB twin."""
    from purescript_ifrit_spark.operators.clustering import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.array(
            *[
                (
                    F.floor(
                        F.element_at("embedding", i + 1).cast("double")
                        * 1000
                    )
                    + _KM_OFF
                ).cast("long")
                for i in range(_KM_DIM)
            ]
        ).alias("qv"),
    )
    seeds = [
        list(r["qv"])
        for r in q.filter(F.col("vec_id") < _KM_K)
        .orderBy("vec_id")
        .collect()
    ]
    out, _ = kmeans_lloyd(q, "qv", seeds, n_iter=_KM_ITER, with_dist=True)
    return out.select("vec_id", "cluster", "sq_dist")


_SD_NUM, _SD_DEN = 19, 20  # semdedup cosine threshold 0.95, rational


def _sd_coord_sql(j: int) -> str:
    # planted direction families (pure function of vec_id, naturally
    # nonnegative — no translation offset, which would collapse all
    # cosines toward 1): family f = vec_id % 4 puts weight s on axis f;
    # every 10th-plus-7 point is TWO-hot (axes f and f+1 mod 4, cosine
    # ~0.707 vs its one-hot family — below threshold, so it survives);
    # off-axis coordinates carry small noise n
    return (
        f"CASE WHEN (vec_id % 4) = {j} OR (vec_id % 10 = 7 AND "
        f"((vec_id % 4) + 1) % 4 = {j}) THEN 1000 + vec_id % 97 "
        f"ELSE vec_id % 13 END"
    )


def _semdedup_points_sql() -> str:
    cols = ", ".join(
        f"CAST({_sd_coord_sql(j)} AS BIGINT) AS v{j+1}"
        for j in range(_KM_DIM)
    )
    return f"SELECT vec_id, {cols} FROM embeddings"


def _sd_coord_expr(j: int):
    f = F.col("vec_id") % 4
    hot = (f == j) | (
        (F.col("vec_id") % 10 == 7) & (((f + 1) % 4) == j)
    )
    return (
        F.when(hot, 1000 + F.col("vec_id") % 97)
        .otherwise(F.col("vec_id") % 13)
        .cast("long")
    )


def _semdedup_oracle() -> str:
    vs = [f"v{i}" for i in range(1, _KM_DIM + 1)]
    dot = " + ".join(f"pa.{v} * pb.{v}" for v in vs)
    nx2 = " + ".join(f"pa.{v} * pa.{v}" for v in vs)
    ny2 = " + ".join(f"pb.{v} * pb.{v}" for v in vs)
    a_last = f"a{_KM_ITER + 1}"
    return _kmeans_cte(_semdedup_points_sql()) + (
        "SELECT a.vec_id, CAST(a.cid AS INT) AS cluster, "
        f"NOT EXISTS (SELECT 1 FROM {a_last} b JOIN p pb "
        "ON b.vec_id = pb.vec_id "
        "WHERE b.cid = a.cid AND b.vec_id < a.vec_id "
        # zero-norm guard mirrors the operator (ADVICE r7): cosine is
        # undefined for zero vectors, so they can never pair
        f"AND ({nx2}) > 0 AND ({ny2}) > 0 "
        f"AND ({dot}) >= 0 "
        f"AND ({dot}) * ({dot}) * {_SD_DEN * _SD_DEN} >= "
        f"{_SD_NUM * _SD_NUM} * ({nx2}) * ({ny2})) AS keep "
        f"FROM {a_last} a JOIN p pa ON a.vec_id = pa.vec_id"
    )


@register("x_semdedup_planted", _semdedup_oracle())
def x_semdedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/clustering.semdedup; Abbas et al. 2023) on
    planted direction families: k-means replayed exactly, then the
    integer cosine-squared predicate decides every within-cluster
    keep/drop — one-hot family members collapse to their minimum id,
    two-hot outliers (cos ~0.707 < 19/20) survive; bit-reproducible vs
    the unrolled DuckDB twin."""
    from purescript_ifrit_spark.operators.clustering import semdedup

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    pts = ids.select(
        "vec_id",
        F.array(
            *[_sd_coord_expr(j) for j in range(_KM_DIM)]
        ).alias("qv"),
    )
    seeds = [
        list(r["qv"])
        for r in pts.filter(F.col("vec_id") < _KM_K)
        .orderBy("vec_id")
        .collect()
    ]
    return semdedup(
        pts, "vec_id", "qv", seeds, n_iter=_KM_ITER,
        threshold_num=_SD_NUM, threshold_den=_SD_DEN,
    )


_MMR_BASE = (9, 5, 3, 1)   # rotated by vec_id % 4 — every norm equal
_MMR_K = 5
_MMR_REL, _MMR_DIV = 3, 7  # diversity-heavy: duplicates of a selected
                           # class (dot 116) lose to fresh rotations


def _mmr_vec_sql() -> tuple:
    # coordinate j of rotation r is base[(j - r) mod 4]
    cols = []
    for j in range(4):
        branches = " ".join(
            f"WHEN vec_id % 4 = {r} THEN {_MMR_BASE[(j - r) % 4]}"
            for r in range(4)
        )
        cols.append(f"CAST(CASE {branches} END AS BIGINT) AS v{j+1}")
    return ", ".join(cols)


def _mmr_oracle() -> str:
    q = _MMR_BASE
    rel = " + ".join(f"{q[j]} * v{j+1}" for j in range(4))

    def dot(a, b):
        return " + ".join(f"{a}.v{j+1} * {b}.v{j+1}" for j in range(4))

    parts = [
        f"WITH p AS (SELECT vec_id, {_mmr_vec_sql()}, "
        f"CAST({rel} AS BIGINT) AS rel FROM embeddings), ",
        f"s1 AS (SELECT vec_id, v1, v2, v3, v4, "
        f"{_MMR_REL} * rel AS sc FROM p "
        "ORDER BY sc DESC, vec_id LIMIT 1), ",
    ]
    for step in range(2, _MMR_K + 1):
        prev = [f"s{i}" for i in range(1, step)]
        maxsim = ", ".join(f"({dot('p', s)})" for s in prev)
        notin = ", ".join(s + ".vec_id" for s in prev)
        joins = " CROSS JOIN ".join(prev)
        parts.append(
            f"s{step} AS (SELECT p.vec_id, p.v1, p.v2, p.v3, p.v4, "
            f"{_MMR_REL} * p.rel - {_MMR_DIV} * greatest({maxsim}) AS sc "
            f"FROM p CROSS JOIN {joins} "
            f"WHERE p.vec_id NOT IN ({notin}) "
            "ORDER BY sc DESC, p.vec_id LIMIT 1), "
        )
    parts[-1] = parts[-1].rstrip(", ") + " "
    sel = " UNION ALL ".join(
        f"SELECT {i - 1} AS rank, vec_id, sc FROM s{i}"
        for i in range(1, _MMR_K + 1)
    )
    return "".join(parts) + (
        "SELECT CAST(rank AS INT) AS rank, vec_id, "
        f"CAST(sc AS BIGINT) AS score FROM ({sel})"
    )


@register("x_mmr_planted", _mmr_oracle())
def x_mmr_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k
    (operators/similarity.mmr_topk; Carbonell & Goldstein 1998) on a
    planted equal-norm rotation family — every greedy step's argmax and
    integer score replayed exactly by the unrolled oracle (duplicates of
    an already-selected direction lose to fresh rotations under the
    3:7 diversity-heavy weights)."""
    from purescript_ifrit_spark.operators.similarity import mmr_topk

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    coords = []
    for j in range(4):
        c = F.when(F.col("vec_id") % 4 == 0, F.lit(_MMR_BASE[j]))
        for r in range(1, 4):
            c = c.when(
                F.col("vec_id") % 4 == r, F.lit(_MMR_BASE[(j - r) % 4])
            )
        coords.append(c.cast("long"))
    pts = ids.select("vec_id", F.array(*coords).alias("qv"))
    return mmr_topk(
        pts, "vec_id", "qv", list(_MMR_BASE), k=_MMR_K,
        rel_weight=_MMR_REL, div_weight=_MMR_DIV,
    )


def _hardneg_oracle() -> str:
    vs = [f"v{i}" for i in range(1, _KM_DIM + 1)]
    dot = " + ".join(f"pa.{v} * pb.{v}" for v in vs)
    a_last = f"a{_KM_ITER + 1}"
    return _kmeans_cte(_semdedup_points_sql()) + (
        "SELECT vec_id, CAST(neg_rank AS INT) AS neg_rank, neg_id, "
        "CAST(dot AS BIGINT) AS dot FROM ("
        "SELECT a.vec_id, b.vec_id AS neg_id, "
        f"CAST(({dot}) AS BIGINT) AS dot, "
        "row_number() OVER (PARTITION BY a.vec_id "
        f"ORDER BY ({dot}) DESC, b.vec_id) AS neg_rank "
        f"FROM {a_last} a JOIN p pa ON a.vec_id = pa.vec_id "
        f"JOIN {a_last} b ON b.cid = a.cid "
        "JOIN p pb ON b.vec_id = pb.vec_id "
        "WHERE (a.vec_id // 4) % 2 <> (b.vec_id // 4) % 2) t WHERE neg_rank <= 3"
    )


@register("x_hard_negatives_planted", _hardneg_oracle())
def x_hard_negatives_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators/clustering.hard_negatives): per anchor, the 3
    most-similar different-label items within its k-means cluster —
    clustering, integer dots, ranks and ties all replayed exactly by
    the unrolled twin on the planted direction families (label =
    (vec_id div 4) mod 2, alternating WITHIN each family so every
    anchor has same-direction opposite-label neighbors)."""
    from purescript_ifrit_spark.operators.clustering import hard_negatives

    ids = load_table(spark, sf_dir, "embeddings").select("vec_id")
    coords = []
    for j in range(_KM_DIM):
        f_ = F.col("vec_id") % 4
        hot = (f_ == j) | (
            (F.col("vec_id") % 10 == 7) & (((f_ + 1) % 4) == j)
        )
        coords.append(
            F.when(hot, 1000 + F.col("vec_id") % 97)
            .otherwise(F.col("vec_id") % 13)
            .cast("long")
        )
    pts = ids.select(
        "vec_id",
        F.array(*coords).alias("qv"),
        ((F.col("vec_id") / 4).cast("long") % 2).cast("int").alias("lbl"),
    )
    seeds = [
        list(r["qv"])
        for r in pts.filter(F.col("vec_id") < _KM_K)
        .orderBy("vec_id")
        .collect()
    ]
    return hard_negatives(
        pts, "vec_id", "qv", "lbl", seeds, n_iter=_KM_ITER, k=3
    )


def jl_projection_oracle(pos_alias: str) -> str:
    """The DuckDB replay of the 64->16 JL projection over quantized
    embeddings — ONE builder shared by x_jl_project and xd_jl_project
    (suite/dialect.py) so the two oracles can never drift; every
    constant (quantization, sign arithmetic, dims, seed) derives from
    operators/vectorize."""
    from purescript_ifrit_spark.operators.vectorize import (
        _JLP_HALF,
        _JLP_MOD,
        _JLP_MULT,
        _JLP_SEED_MULT,
        JL_IN_DIM,
        JL_OUT_DIM,
        JL_SEED,
        jl_quantize_duckdb,
    )

    qv = jl_quantize_duckdb("embedding")
    return (
        f"WITH q AS (SELECT vec_id, {qv} AS qv FROM embeddings), "
        f"j AS (SELECT unnest(range(0, {JL_OUT_DIM})) AS j) "
        f"SELECT vec_id, CAST(j.j AS INT) AS {pos_alias}, "
        f"CAST(list_sum(list_transform(range(0, {JL_IN_DIM}), i -> "
        "list_extract(qv, i+1) * CASE WHEN "
        f"((i+1)*(j.j+2)*{_JLP_MULT} + {JL_SEED * _JLP_SEED_MULT}) "
        f"% {_JLP_MOD} "
        f"< {_JLP_HALF} THEN 1 ELSE -1 END)) AS BIGINT) AS val "
        "FROM q CROSS JOIN j"
    )


@register("x_jl_project", jl_projection_oracle("j"))
def x_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss ±1 projection 64 → 16 dims
    (operators/vectorize.jl_project, the Arrow matvec default) on the
    floor-quantized embedding table, exploded to (vec_id, j, val) rows.
    The sign matrix is plain int64 modular arithmetic, so the oracle
    replays the EXACT projection — and the JVM HOF twin (jl_project_sql)
    is pinned bit-identical in test_jl_project_arrow_equals_sql."""
    from purescript_ifrit_spark.operators.vectorize import jl_project

    from purescript_ifrit_spark.operators.vectorize import (
        JL_IN_DIM,
        JL_OUT_DIM,
        JL_SEED,
        jl_quantize_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", F.expr(jl_quantize_sql("embedding")).alias("qv")
    )
    proj = jl_project(
        q, "vec_id", "qv", in_dim=JL_IN_DIM, out_dim=JL_OUT_DIM, seed=JL_SEED
    )
    return proj.select(
        "vec_id", F.posexplode("proj").alias("j", "val")
    )


@register(
    "x_neardup_multiprobe_planted",
    # planted-truth multi-table near-dup mining (r12, VERDICT r11 #4):
    # members of a 6-block carry IDENTICAL basis vectors, so they share
    # every table's bucket under ANY plane set — OR-construction recall
    # is 1 BY CONSTRUCTION and within-block cosine is exactly 1.0.
    # Cross-block candidates (sign-pattern coincidences between
    # orthogonal vectors) score 0.0 < 0.95 and die in the exact
    # verification, so the answer is the closed-form block-pair set:
    # C(6,2) = 15 pairs per full block, id_a < id_b.
    "WITH ids AS (SELECT vec_id AS id FROM embeddings WHERE vec_id < 96) "
    "SELECT a.id AS id_a, b.id AS id_b, CAST(1.0 AS DOUBLE) AS sim "
    "FROM ids a JOIN ids b ON a.id // 6 = b.id // 6 AND a.id < b.id",
)
def x_neardup_multiprobe_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the full multi-table
    OR-construction path (operators/similarity.embedding_neardup_pairs
    `tables=` mode, r12): 4 independent 8-plane tables, narrow band
    rows, first-shared-table single emission, id join-back
    verification — under inputs whose true pair set is closed-form."""
    from purescript_ifrit_spark.operators.similarity import (
        embedding_neardup_pairs,
        make_hyperplanes,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    tables = [make_hyperplanes(32, 8, seed=s) for s in range(4)]
    out = embedding_neardup_pairs(
        planted, "vec_id", "embedding", threshold=0.95, tables=tables
    )
    return out.withColumn("sim", F.round("sim", 5))


@register(
    "x_ivf_refined_planted",
    # planted-truth distributed Lloyd refinement (r12, VERDICT r11 #7):
    # starting centroids 0.5*e_c sit within L2 0.5 of their own identical
    # basis cluster and >= sqrt(1.25) from every other, so assignment is
    # closed-form; the refined centroid of cell c is the mean of 6
    # IDENTICAL e_c vectors = e_c EXACTLY (no float accumulation), and a
    # second iteration is a fixed point — iterations=2 pins both facts
    # in one oracle: val = 1.0 where dim == cell, else 0.0.
    "SELECT CAST(c.range AS INT) AS cell, CAST(d.range AS INT) AS dim, "
    "CASE WHEN c.range = d.range THEN CAST(1.0 AS DOUBLE) "
    "ELSE CAST(0.0 AS DOUBLE) END AS val "
    "FROM range(16) c, range(32) d",
)
def x_ivf_refined_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus Lloyd refinement (operators/similarity.
    ivf_centroids_refine) under planted basis clusters: JVM-side
    assignment + posexplode/groupBy per-cell means, driver collects only
    nlist*dim index metadata; flat (cell, dim, val) output."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_centroids_refine,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    start = np.eye(16, 32) * 0.5
    refined = ivf_centroids_refine(planted, "embedding", start, iterations=2)
    flat = [
        (int(c), int(d), float(refined[c, d]))
        for c in range(16)
        for d in range(32)
    ]
    return spark.createDataFrame(flat, "cell int, dim int, val double")


@register(
    "x_pq_adc_planted",
    # planted-truth product quantization (r12): explicit codebooks —
    # per 8-dim subspace, center 0 = the zero vector and center 1+i =
    # e_i — make encoding closed-form for the identical basis clusters
    # (code 1 + j%8 in subspace j//8, 0 elsewhere; every argmin unique)
    # and vectors sit ON the codebook grid, so ADC distance equals the
    # TRUE squared distance: 0.0 for cluster 0 (the e_0 query's own
    # block), 2.0 for every other cluster. k=12 exercises the id
    # tie-break across the 2.0 tier: ids 0-5 at 0.0 + ids 6-11 at 2.0.
    "SELECT vec_id, CASE WHEN vec_id < 6 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(2.0 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 12",
)
def x_pq_adc_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.pq_encode +
    pq_topk, r12): JVM scan-stage code assignment, driver-side m×k
    lookup table unrolled as literals, TakeOrdered(dist asc, id asc) —
    under planted inputs whose codes and distances are closed-form."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 1.0
    coded = pq_encode(planted, "embedding", books)
    return pq_topk(
        coded, "vec_id", "pq_code", [1.0] + [0.0] * 31, books, k=12
    )


@register(
    "x_embedding_contamination_planted",
    # embedding-level benchmark decontamination (r12) under the planted
    # basis geometry: bench = e_0..e_3 (bids 0-3), corpus clusters
    # 0-3 hit their own bench vector at cosine exactly 1.0 (identical
    # vectors, no float accumulation), clusters 4-15 are orthogonal to
    # every bench vector (all sims exactly 0.0) and resolve to the
    # LOWEST bench id by the first-max tie rule — every output value
    # closed-form
    "SELECT vec_id, "
    "CAST(CASE WHEN vec_id // 6 < 4 THEN vec_id // 6 ELSE 0 END AS BIGINT) "
    "AS nearest_bench_id, "
    "CASE WHEN vec_id // 6 < 4 THEN CAST(1.0 AS DOUBLE) "
    "ELSE CAST(0.0 AS DOUBLE) END AS max_sim, "
    "vec_id // 6 < 4 AS contaminated "
    "FROM embeddings WHERE vec_id < 96",
)
def x_embedding_contamination_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine benchmark decontamination
    (operators/similarity.embedding_contamination, r12): one Arrow
    corpus pass against the driver-collected bench matrix — under
    planted inputs whose max-sims, nearest ids and flags are
    closed-form."""
    corpus = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    bench_rows = []
    for j in range(4):
        v = [0.0] * 32
        v[j] = 1.0
        bench_rows.append((j, v))
    bench = spark.createDataFrame(
        bench_rows, "bid long, embedding array<double>"
    )
    from purescript_ifrit_spark.operators.similarity import (
        embedding_contamination,
    )

    return embedding_contamination(
        corpus, "vec_id", "embedding", bench, "bid", "embedding",
        threshold=0.95,
    )


@register(
    "x_ivf_pq_at_rest_planted",
    # the STORED residual IVF-PQ path end-to-end (r13, VERDICT r12 #3):
    # write_ivf_pq_partitioned persists (id, cell, residual-code) hive-
    # partitioned by cell; the probe prunes to nprobe=2 cells via
    # PartitionFilters and ADC-ranks with per-cell LUTs. Planted closed
    # form: centroids 0.5*e_c make every residual 0.5*e_c; codebooks
    # (center 0 = zero, center 1+i = 0.5*e_i per 8-dim subspace) encode
    # it uniquely and reconstruct it EXACTLY, so ADC distance equals the
    # true squared distance ||e_0 - e_c||^2 — 0.0 inside cluster 0, 2.0
    # elsewhere. Probing order is closed-form too (cell 0 at 0.25, all
    # others at 1.25, stable argsort -> cells {0, 1}), so k=12 returns
    # exactly ids 0-5 at 0.0 and ids 6-11 at 2.0.
    "SELECT vec_id, CASE WHEN vec_id < 6 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(2.0 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 12",
)
def x_ivf_pq_at_rest_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-rest residual IVF-PQ retrieval (operators/similarity.
    write_ivf_pq_partitioned + ivf_pq_topk_residual, r13): cell
    assignment, residual PQ encode and a hive-partitioned write are the
    one-time index build; the probe reads the layout back, prunes to
    the probed cells (PartitionFilters — plan pinned in
    tests/test_extensions.py::test_write_ivf_pq_partitioned_layout and
    EXPLAINS.md) and ADC-ranks the stored codes with per-cell lookup
    tables. The read-back is localCheckpoint-ed so the temp layout can
    be removed before returning (the x_partitioned_sink convention)."""
    import shutil
    import tempfile

    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_pq_topk_residual,
        write_ivf_pq_partitioned,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = np.eye(16, 32) * 0.5
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 0.5
    out_dir = tempfile.mkdtemp(prefix="ifrit_ivfpq_at_rest_")
    try:
        write_ivf_pq_partitioned(
            planted, "vec_id", "embedding", cents, books, out_dir,
            residual=True,
        )
        stored = spark.read.parquet(out_dir)
        return ivf_pq_topk_residual(
            stored, "vec_id", "pq_code", _E0_QUERY, books, cents,
            k=12, nprobe=2,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "x_ann_advise_planted",
    # the recall-SLO advisor's CHOICE as hard signal (r13, VERDICT r12
    # #4): on the planted basis geometry with the cluster-straddling
    # query (6 of the true top-12 in cell 0, 6 in cell 1 — measured
    # recall exactly 0.5 at nprobe=1 and 1.0 at nprobe=2), the cheapest
    # config meeting each SLO is closed-form: a 0.95 target needs
    # nprobe=2 after recording the failing nprobe=1 point; a 0.5 target
    # stops at nprobe=1. One row per SLO with the chosen cost and the
    # exact measured recall in micro-units.
    "SELECT * FROM (VALUES "
    "(CAST(500000 AS BIGINT), CAST(1 AS DOUBLE), CAST(500000 AS BIGINT)), "
    "(CAST(950000 AS BIGINT), CAST(2 AS DOUBLE), CAST(1000000 AS BIGINT))"
    ") AS t(slo_micro, chosen_cost, recall_micro)",
)
def x_ann_advise_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN parameter advisor (operators/similarity.ivf_advise_nprobe,
    r13): sweep nprobe in cost order against sampled brute-force truth
    and return the cheapest config meeting the recall SLO — under
    planted inputs whose whole cost/recall curve is closed-form. The
    embeddings table supplies the corpus ids (the planted-basis
    convention); output is one row per SLO."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_advise_nprobe,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = np.eye(16, 32)
    q = np.zeros((1, 32))
    q[0, 0], q[0, 1] = 0.7, 0.7141428
    rows = []
    for slo in (0.5, 0.95):
        out = ivf_advise_nprobe(
            planted, "vec_id", "embedding", q, [0], cents,
            k=12, target_recall=slo, nprobes=(1, 2, 4), n_sample=1,
        )
        rows.append(
            (
                int(round(slo * 1_000_000)),
                float(out["chosen"]["cost"]),
                int(round(out["chosen"]["recall"] * 1_000_000)),
            )
        )
    return spark.createDataFrame(
        rows, "slo_micro long, chosen_cost double, recall_micro long"
    )


@register(
    "x_pq_distortion_planted",
    # the m/k sizing diagnostic as hard signal (r13): pq_distortion_stats
    # on a mixed on/off-grid planted corpus whose reconstruction errors
    # are exact binary fractions. Even vec_ids carry e_c (ON the explicit
    # grid codebook -> error exactly 0); odd vec_ids carry 1.5*e_c, whose
    # unique nearest center is still e_c (0.25 vs 2.25 vs 3.25) -> error
    # exactly ||1.5*e_c - e_c||^2 = 0.25, norm^2 = 2.25. All aggregates
    # are exact in binary floating point: mean error 0.125, max 0.25,
    # mean norm^2 (1 + 2.25)/2 = 1.625 over the 96 planted rows.
    "SELECT CAST(96 AS BIGINT) AS n_rows, "
    "CAST(0.125 AS DOUBLE) AS mean_sq_error, "
    "CAST(0.25 AS DOUBLE) AS max_sq_error, "
    "CAST(1.625 AS DOUBLE) AS mean_norm_sq",
)
def x_pq_distortion_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook-quality measurement (operators/similarity.
    pq_distortion_stats, r12; driver-oracled r13): one map-side-partial
    corpus pass computing reconstruction MSE/max and relative norm —
    the decide-m/k-BEFORE-encoding diagnostic — under planted inputs
    whose every aggregate is a closed-form binary fraction."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        pq_distortion_stats,
        pq_encode,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    scaled = planted.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            * F.when(F.col("vec_id") % 2 == 0, F.lit(1.0)).otherwise(
                F.lit(1.5)
            ),
        ).alias("embedding"),
    )
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 1.0
    coded = pq_encode(scaled, "embedding", books)
    return pq_distortion_stats(coded, "embedding", "pq_code", books)


@register(
    "x_pq_rerank_batch_planted",
    # the ADC-shortlist -> exact-rerank loop as hard signal (r13): on
    # the mixed-scale planted corpus (even vec_ids e_c ON the grid
    # codebook, odd vec_ids 1.5*e_c OFF it — both encode to the SAME
    # code, so ADC ties all six cluster-0 rows at distance 0), the e_0
    # query's k=6, overfetch=2 shortlist is closed-form (ids 0-5 at ADC
    # 0, ids 6-11 at ADC 2) and the exact rerank separates what ADC
    # cannot: true distances 0.0 for the on-grid rows and
    # ||1.5*e_0 - e_0||^2 = 0.25 for the scaled ones — quantization
    # loss recovered from the shortlist, every value an exact binary
    # fraction.
    "SELECT CAST(0 AS BIGINT) AS query_id, vec_id, "
    "CASE WHEN vec_id % 2 = 0 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(0.25 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 6",
)
def x_pq_rerank_batch_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch PQ rerank (operators/similarity.pq_topk_rerank_batch, r13):
    batch ADC shortlist over the codes, candidate-sized join-back of the
    full vectors, JVM-side exact squared-L2 re-rank against the joined
    query frame — under planted inputs whose shortlist AND reranked
    distances are closed-form."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        pq_encode,
        pq_topk_rerank_batch,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    scaled = planted.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            * F.when(F.col("vec_id") % 2 == 0, F.lit(1.0)).otherwise(
                F.lit(1.5)
            ),
        ).alias("embedding"),
    )
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 1.0
    coded = pq_encode(scaled, "embedding", books)
    q = np.zeros((1, 32))
    q[0, 0] = 1.0
    return pq_topk_rerank_batch(
        coded, "vec_id", "embedding", "pq_code", q, [0], books,
        k=6, overfetch=2,
    )


@register(
    "x_ivf_pq_rerank_planted",
    # the COMPOSED billion-scale query path as hard signal (r13): stored
    # keep_vector layout -> PartitionFilters cell probe (nprobe=2 ->
    # cells {0, 1}, closed-form: cell 0 at 0.25, others at 1.25) ->
    # residual-ADC shortlist (mixed-scale cluster 0 ties at ADC 0: even
    # rows' residual 0.5*e_0 and odd rows' residual e_0 BOTH encode to
    # center 0.5*e_0; cell-1 rows at ADC 2) -> exact rerank separating
    # what ADC cannot: 0.0 for the on-scale rows, 0.25 for the
    # 1.5-scaled ones. Every probed cell, shortlist member and reranked
    # distance closed-form.
    "SELECT CAST(0 AS BIGINT) AS query_id, vec_id, "
    "CASE WHEN vec_id % 2 = 0 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(0.25 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 6",
)
def x_ivf_pq_rerank_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed at-rest retrieval (operators/similarity.
    write_ivf_pq_partitioned(keep_vector=True) + ivf_pq_rerank_batch,
    r13): cell pruning via PartitionFilters, residual-ADC shortlist
    from the stored codes, exact candidate-sized rerank from the stored
    vectors — under planted inputs whose every stage is closed-form.
    The read-back is localCheckpoint-ed so the temp layout can be
    removed before returning (the x_partitioned_sink convention)."""
    import shutil
    import tempfile

    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_pq_rerank_batch,
        write_ivf_pq_partitioned,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    scaled = planted.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            * F.when(F.col("vec_id") % 2 == 0, F.lit(1.0)).otherwise(
                F.lit(1.5)
            ),
        ).alias("embedding"),
    )
    cents = np.eye(16, 32) * 0.5
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 0.5
    q = np.zeros((1, 32))
    q[0, 0] = 1.0
    out_dir = tempfile.mkdtemp(prefix="ifrit_ivfpq_rerank_")
    try:
        write_ivf_pq_partitioned(
            scaled, "vec_id", "embedding", cents, books, out_dir,
            residual=True, keep_vector=True,
        )
        stored = spark.read.parquet(out_dir)
        return ivf_pq_rerank_batch(
            stored, "vec_id", "embedding", "pq_code", q, [0], books, cents,
            k=6, nprobe=2, overfetch=2,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "x_pq_rerank_pushdown_planted",
    # the candidate-id pushdown rerank as hard signal (r14, VERDICT r13
    # #3): same mixed-scale planted corpus and closed-form answer as
    # x_pq_rerank_batch_planted, but the corpus is an id-SORTED parquet
    # layout and the shortlist ids are collected and pushed as
    # `vec_id IN (...)` into the vector-side scan (parquet PushedFilters
    # + row-group pruning — plan- and scan-metric-pinned in
    # tests/test_extensions.py::test_pq_rerank_pushdown_ids_prunes_the_
    # vector_scan). Results must be byte-identical to the default
    # streaming join-back; the oracle IS that closed form.
    "SELECT CAST(0 AS BIGINT) AS query_id, vec_id, "
    "CASE WHEN vec_id % 2 = 0 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(0.25 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 6",
)
def x_pq_rerank_pushdown_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-bounded batch PQ rerank (operators/similarity.
    pq_topk_rerank_batch(pushdown_ids=True), r14): ADC shortlist over
    the codes, then the driver-bounded candidate ids are pushed into
    the vector-side scan of an id-sorted layout — the 100 TB recipe for
    the unpartitioned tier. The read-back is localCheckpoint-ed so the
    temp layout can be removed before returning (the x_partitioned_sink
    convention)."""
    import shutil
    import tempfile

    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        pq_encode,
        pq_topk_rerank_batch,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    scaled = planted.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            * F.when(F.col("vec_id") % 2 == 0, F.lit(1.0)).otherwise(
                F.lit(1.5)
            ),
        ).alias("embedding"),
    )
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 1.0
    coded = pq_encode(scaled, "embedding", books)
    q = np.zeros((1, 32))
    q[0, 0] = 1.0
    out_dir = tempfile.mkdtemp(prefix="ifrit_pq_pushdown_")
    try:
        coded.repartitionByRange(4, "vec_id").sortWithinPartitions(
            "vec_id"
        ).write.parquet(out_dir, mode="overwrite")
        stored = spark.read.parquet(out_dir)
        return pq_topk_rerank_batch(
            stored, "vec_id", "embedding", "pq_code", q, [0], books,
            k=6, overfetch=2, pushdown_ids=True,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


@register(
    "x_ivf_pq_advise_planted",
    # the JOINT (nprobe x overfetch) advisor's choice as hard signal
    # (r14, VERDICT r13 #5): planted 2-cell x-axis geometry where BOTH
    # axes bind and every recall is closed-form. Zero codebooks make ADC
    # tie every in-cell row, so the shortlist is purely (cell order, id
    # order): cell 0 holds ids 0-3 at x = 0/0.1/3/3.1, cell 1 holds ids
    # 4-7 at x = 10/9.9/6/6.1, the query sits at 4*e_x -> true top-4 =
    # {3, 2, 6, 7}; recall is 0.5 anywhere short of (nprobe=2,
    # overfetch=2) and exactly 1.0 there. With alpha=1, beta=0.1 the
    # composite costs are strictly ascending (0.9 / 1.3 / 1.4 / 1.8),
    # so a 0.95 SLO walks all four points and chooses (2,2) while a 0.5
    # SLO stops at (1,1). One row per SLO.
    "SELECT * FROM (VALUES "
    "(CAST(500000 AS BIGINT), 1, 1, CAST(500000 AS BIGINT)), "
    "(CAST(950000 AS BIGINT), 2, 2, CAST(1000000 AS BIGINT))"
    ") AS t(slo_micro, chosen_nprobe, chosen_overfetch, recall_micro)",
)
def x_ivf_pq_advise_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint composed-path advisor (operators/similarity.ivf_pq_advise,
    r14, VERDICT r13 #5): sweep the (nprobe, overfetch) grid in
    ascending composite cost (alpha*nprobe/nlist + beta*k*overfetch*Q)
    against sampled exact-L2 truth and return the cheapest pair meeting
    the recall SLO — under planted inputs whose whole 2-D cost/recall
    surface is closed-form. The embeddings table supplies the corpus
    ids (the planted-basis convention); output is one row per SLO."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_pq_advise,
        pq_encode,
        with_ivf_assignment,
        with_ivf_residual,
    )

    xs = [0.0, 0.1, 3.0, 3.1, 10.0, 9.9, 6.0, 6.1]
    base = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 8
    )
    # try_element_at: conjunct reordering may evaluate this projection's
    # expression tree on rows the vec_id < 8 filter would drop (strict
    # element_at then throws INVALID_ARRAY_INDEX; observed in-round)
    corpus = base.select(
        "vec_id",
        F.array(
            F.try_element_at(
                F.array(*[F.lit(float(x)) for x in xs]),
                (F.col("vec_id") + 1).cast("int"),
            ),
            F.lit(0.0), F.lit(0.0), F.lit(0.0),
        ).alias("embedding"),
    )
    cents = np.zeros((2, 4))
    cents[1, 0] = 10.0
    books = np.zeros((1, 1, 4))  # every residual -> code [0], ADC ties
    assigned = with_ivf_assignment(corpus, "embedding", cents)
    coded = pq_encode(
        with_ivf_residual(assigned, "embedding", cents), "residual", books
    ).drop("residual")
    q = np.array([[4.0, 0.0, 0.0, 0.0]])
    rows = []
    for slo in (0.5, 0.95):
        out = ivf_pq_advise(
            coded, "vec_id", "embedding", "pq_code", q, [0], books, cents,
            k=4, target_recall=slo, nprobes=(1, 2), overfetches=(1, 2),
            alpha=1.0, beta=0.1, n_sample=1,
        )
        rows.append(
            (
                int(round(slo * 1_000_000)),
                int(out["chosen"]["nprobe"]),
                int(out["chosen"]["overfetch"]),
                int(round(out["chosen"]["recall"] * 1_000_000)),
            )
        )
    return spark.createDataFrame(
        rows,
        "slo_micro long, chosen_nprobe int, chosen_overfetch int, "
        "recall_micro long",
    )


@register(
    "x_ivf_cell_health_planted",
    # the index-freshness measurement as hard signal (r14): per-cell
    # counts + residual-norm drift vs the FROZEN centroids, closed-form
    # on the planted basis geometry. Centroids 0.5*e_c make every
    # in-distribution row's residual exactly ||e_c - 0.5*e_c||^2 = 0.25;
    # the one drifted row per cluster (vec_id % 6 == 5, scaled 2.0)
    # sits at ||2*e_c - 0.5*e_c||^2 = 2.25 and still assigns to cell c
    # (2.25 < 4.25 to any other centroid). Per cell: n_rows = 6,
    # avg = (5*0.25 + 2.25)/6 = 0.583333 (round-6 both engines),
    # max = 2.25 exactly — the drift a build-time avg of 0.25 would
    # flag for rebuild.
    "SELECT CAST(vec_id AS INT) AS ivf_cell, CAST(6 AS BIGINT) AS n_rows, "
    "CAST(0.583333 AS DOUBLE) AS avg_residual_sq, "
    "CAST(2.25 AS DOUBLE) AS max_residual_sq "
    "FROM embeddings WHERE vec_id < 16",
)
def x_ivf_cell_health_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index freshness/drift measurement (operators/similarity.
    ivf_cell_health, r14): one corpus scan, map-side partial agg, one
    nlist-row exchange — per-cell counts (probe-cost skew) and squared
    distance to the frozen centroid (the append-mode drift proxy whose
    build-time value gates a rebuild). Planted inputs make every output
    value closed-form."""
    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_cell_health,
        with_ivf_assignment,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    drifted = planted.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: x.cast("double")
            * F.when(F.col("vec_id") % 6 == 5, F.lit(2.0)).otherwise(
                F.lit(1.0)
            ),
        ).alias("embedding"),
    )
    cents = np.eye(16, 32) * 0.5
    assigned = with_ivf_assignment(drifted, "embedding", cents)
    out = ivf_cell_health(assigned, cents, vec_col="embedding")
    return out.select(
        "ivf_cell",
        "n_rows",
        F.round("avg_residual_sq", 6).alias("avg_residual_sq"),
        F.round("max_residual_sq", 6).alias("max_residual_sq"),
    )


@register(
    "x_ivf_pq_query_planted",
    # the SELF-DESCRIBING stored index as hard signal (r14): the layout
    # carries its own centroids/codebooks (_ifrit_index.json sidecar),
    # so retrieval is one call against the PATH — no caller-held arrays.
    # Same planted closed form as x_ivf_pq_at_rest_planted: the sidecar
    # round-trips the explicit-grid metadata bit-exactly, the codes-only
    # layout routes to the residual-ADC probe, cells {0, 1} prune via
    # PartitionFilters, and k=12 returns exactly ids 0-5 at 0.0 and ids
    # 6-11 at 2.0.
    "SELECT CAST(0 AS BIGINT) AS query_id, vec_id, "
    "CASE WHEN vec_id < 6 THEN CAST(0.0 AS DOUBLE) "
    "ELSE CAST(2.0 AS DOUBLE) END AS dist "
    "FROM embeddings WHERE vec_id < 12",
)
def x_ivf_pq_query_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-describing at-rest retrieval (operators/similarity.
    ivf_pq_query over a write_ivf_pq_partitioned layout + its metadata
    sidecar, r14): the index is a path, not a path plus two numpy
    arrays the caller must never lose — read_ivf_pq_index restores the
    frozen metadata bit-exactly and the probe plans are unchanged
    (PartitionFilters pinned in the unit suite). localCheckpoint-ed so
    the temp layout can be removed before returning."""
    import shutil
    import tempfile

    import numpy as np

    from purescript_ifrit_spark.operators.similarity import (
        ivf_pq_query,
        write_ivf_pq_partitioned,
    )

    planted = _planted_basis_embeddings(load_table(spark, sf_dir, "embeddings"))
    cents = np.eye(16, 32) * 0.5
    books = np.zeros((4, 9, 8))
    for s in range(4):
        for i in range(8):
            books[s, 1 + i, i] = 0.5
    q = np.zeros((1, 32))
    q[0, 0] = 1.0
    out_dir = tempfile.mkdtemp(prefix="ifrit_ivfpq_query_")
    try:
        write_ivf_pq_partitioned(
            planted, "vec_id", "embedding", cents, books, out_dir,
            residual=True,
        )
        return ivf_pq_query(
            spark, out_dir, q, [0], k=12, nprobe=2
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
