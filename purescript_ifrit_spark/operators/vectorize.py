"""Text → vector operators built on the hashing trick, plus linear-model
scoring — the bridge between the text-curation stack and the ANN/embedding
stack without any external model artifact.

No reference counterpart (SURVEY.md §2.7 family). Feature-hash embeddings
are the classic deterministic text vectorizer (Weinberger et al.'s hashing
trick): token → md5 bucket + sign, so the vector is a pure function of the
text — reproducible across engines, which is what makes the paired oracles
value-exact. A linear classifier over those features is exactly the
fastText-style quality-filter shape corpora are actually filtered with at
scale; `linear_hash_score` applies such a model (any (bucket, weight)
table) in one scan-stage join-free pass per token stream.

100 TB design: everything follows the codegen-aggregate discipline the
dedup signatures use — tokens explode once, bucket/sign are scan-stage
integer expressions on the md5 the engine computes anyway, and the only
exchanges are doc-keyed aggregations with map-side partials. No interpreted
per-token higher-order folds, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from purescript_ifrit_spark.functions import text as X

# the fixed dialect geometry and SQL renderings are Spark-free
# (functions/vector_sql.py); re-exported here for the operator-layer API
from purescript_ifrit_spark.functions.vector_sql import (  # noqa: F401
    _JLP_HALF,
    _JLP_MOD,
    _JLP_MULT,
    _JLP_SEED_MULT,
    _W_MOD,
    _W_MULT,
    _W_OFF,
    JL_IN_DIM,
    JL_OUT_DIM,
    JL_SEED,
    PQ_DIA_K,
    PQ_DIA_M,
    PQ_DIA_SUB,
    VECTOR_DIM,
    hash_margin_sql,
    jl_project_sql,
    jl_quantize_sql,
    jlproject_dialect_sql,
    pq_code_dialect_sql,
    vectorize_sql,
)


def _bucket_and_sign(tok_col, dim: int):
    """(bucket, sign) of a token under the hashing trick: bucket = the
    first 8 md5 hex digits mod dim; sign = ±1 from the 9th hex digit's
    low bit. Engine-neutral (md5 + integer ops only).

    For the codegen'd explode+agg operators only — whole-stage codegen's
    subexpression elimination dedupes the two md5 references. The
    interpreted HOF renderings (vectorize_sql / hash_margin_sql) must NOT
    repeat this per fold step: HOF lambdas re-evaluate every subtree per
    invocation, so they go through _bs_sql, which binds the 9-char md5
    prefix once per token (r8 review: 2·dim·n_tokens md5 calls per row
    down to n_tokens)."""
    h8 = F.conv(F.substring(F.md5(tok_col), 1, 8), 16, 10).cast("long")
    bucket = (h8 % dim).cast("int")
    sign9 = F.conv(F.substring(F.md5(tok_col), 9, 1), 16, 10).cast("long")
    sign = F.when(sign9 % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return bucket, sign


def feature_hash_sparse(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Sparse hashing-trick document vectors: one (id, bucket, value) row
    per non-zero coordinate, value = signed token count. Flat rows — the
    oracle-comparable form, and the storage-efficient one (a 1M-dim space
    costs only the non-zeros).

    Zero-sum coordinates (a +1 and a −1 token colliding) are DROPPED, so
    the sparse form contains exactly the non-zeros of the dense vector."""
    if dim <= 0:
        raise ValueError(f"dim must be positive (got {dim})")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(X.tokens(F.col(text_col))).alias("_t"),
    ).filter(F.col("_t") != "")
    bucket, sign = _bucket_and_sign(F.col("_t"), dim)
    return (
        toks.select("_id", bucket.alias("bucket"), sign.alias("_s"))
        .groupBy("_id", "bucket")
        .agg(F.sum("_s").alias("value"))
        .filter(F.col("value") != 0)
        .select(F.col("_id").alias(id_col), "bucket", "value")
    )


def feature_hash_embed(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    dim: int = 64, normalize: bool = True,
) -> DataFrame:
    """Dense hashing-trick embeddings (id, embedding: array<double>) —
    the composable form for the ANN/similarity stack (cosine_topk,
    knn_join_lsh, embedding_neardup_pairs all accept it directly).

    Built FROM the sparse form: map_from_entries + a sequence transform
    densify per doc (vocabulary work is already done; this is one
    scan-stage projection over the aggregated rows), then one id-keyed
    left join back to the input so token-less docs get the ZERO vector
    instead of no row at all (r8 review: the sparse form rightly holds
    only non-zeros, but an embedding TABLE consumer expects one row per
    document). `normalize` L2-scales so cosine is an inner product
    downstream; the zero vector stays zero. Sparse↔dense equivalence is
    pinned in tests; use the sparse form for driver-comparable output."""
    sparse = feature_hash_sparse(df, id_col, text_col, dim)
    entries = df.select(id_col).join(
        sparse.groupBy(id_col).agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "value"))
            ).alias("_m")
        ),
        id_col,
        "left",
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("int")).cast("double"),
            F.lit(0.0),
        ),
    )
    if not normalize:
        return entries.select(id_col, dense.alias("embedding"))
    # STAGED projections: the dense array and its norm materialize as
    # columns before the element-wise divide — embedding the norm
    # aggregate inside the transform lambda re-evaluates the full O(dim)
    # reduction per ELEMENT (higher-order functions run interpreted with
    # no cross-invocation CSE → O(dim²) per row). CollapseProject keeps
    # the stages apart because merging would duplicate the non-cheap
    # aggregate (SPARK-36718 semantics, same as quality_score's stages).
    staged = entries.select(id_col, dense.alias("_emb")).withColumn(
        "_nrm",
        F.sqrt(
            F.aggregate(
                F.col("_emb"), F.lit(0.0), lambda acc, x: acc + x * x
            )
        ),
    )
    return staged.select(
        id_col,
        F.transform(
            F.col("_emb"),
            lambda x: F.when(F.col("_nrm") == 0, F.lit(0.0)).otherwise(
                x / F.col("_nrm")
            ),
        ).alias("embedding"),
    )


def linear_hash_score(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    bias: float = 0.0,
) -> DataFrame:
    """Apply a linear model over hashed token features — the fastText-style
    corpus quality filter: score = σ(bias + Σ_tokens sign·w[bucket]),
    keep = score ≥ 0.5 (equivalently margin ≥ 0).

    `weights` is any (bucket:int, w:double) table — learned offline or a
    heuristic. It is vocabulary-free and at most `dim` rows, so it
    BROADCASTS; the corpus-side cost is one token explode + one broadcast
    join + one doc-keyed aggregation with map-side partials, plus one
    id-keyed left join back to the input so EVERY document gets a
    decision (r8 review: token-less — empty/blank/NULL-text — docs used
    to vanish from the output entirely, silently escaping the quality
    gate; they now score margin = bias, keep ≡ bias ≥ 0). Output:
    (id, margin, score, keep)."""
    if dim <= 0:
        raise ValueError(f"dim must be positive (got {dim})")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(X.tokens(F.col(text_col))).alias("_t"),
    ).filter(F.col("_t") != "")
    bucket, sign = _bucket_and_sign(F.col("_t"), dim)
    feats = toks.select("_id", bucket.alias("bucket"), sign.alias("_s"))
    joined = feats.join(
        F.broadcast(weights.select("bucket", "w")), "bucket", "left"
    ).withColumn("_contrib", F.col("_s") * F.coalesce(F.col("w"), F.lit(0.0)))
    agg = joined.groupBy(F.col("_id").alias(id_col)).agg(
        (F.lit(float(bias)) + F.sum("_contrib")).alias("margin")
    )
    full = df.select(id_col).join(agg, id_col, "left").withColumn(
        "margin", F.coalesce(F.col("margin"), F.lit(float(bias)))
    )
    return full.select(
        id_col,
        "margin",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("score"),
        (F.col("margin") >= 0).alias("keep"),
    )


def margin_weights(spark, dim: int = VECTOR_DIM):
    """The fixed QUALITY_SCORE weight table as a (bucket, w) DataFrame —
    feed it to linear_hash_score to reproduce the dialect margin through
    the verified operator (the parity test's bridge)."""
    rows = [
        (b, float((b * _W_MULT) % _W_MOD - _W_OFF)) for b in range(dim)
    ]
    return spark.createDataFrame(rows, ["bucket", "w"])


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss-style ±1 random projection (dimensionality
# reduction for embedding columns: project dim-d integer vectors onto
# out_dim ±1 pseudo-random directions before LSH banding / ANN probing —
# JL: pairwise distances are preserved within (1±ε) for
# out_dim = O(log n / ε²), at 1/d the storage and probe cost)
# ---------------------------------------------------------------------------


def jl_project(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    seed: int = 1,
) -> DataFrame:
    """(id_col, proj ARRAY<BIGINT>) — the Arrow default: one numpy
    matvec per batch against the sign matrix built once per task.
    Bit-identical to the JVM twin jl_project_sql (pinned in
    test_jl_project_arrow_equals_sql); the interpreted-HOF rule from
    SCALE.md says vectorize above ~10 ops/element, and this is
    out_dim (16-64) multiply-adds per element. NULL or wrong-length
    vectors yield NULL, matching the twin.

    100 TB design: scan-stage, no exchange; int64-exact (|out[j]| ≤
    in_dim·max|v|, no overflow for quantized embeddings)."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, proj array<long>"
    off = seed * _JLP_SEED_MULT

    def gen(batches):
        import numpy as np
        import pandas as pd

        ii = np.arange(1, in_dim + 1, dtype=np.int64)[:, None]
        jj = np.arange(2, out_dim + 2, dtype=np.int64)[None, :]
        signs = np.where(
            (ii * jj * _JLP_MULT + off) % _JLP_MOD < _JLP_HALF, 1, -1
        ).astype(np.int64)
        for pdf in batches:
            ids, projs = [], []
            for rid, vec in zip(pdf[id_col], pdf[vec_col]):
                ids.append(rid)
                if vec is None or len(vec) != in_dim:
                    projs.append(None)
                    continue
                # Arrow hands a list with nulls over as float64+NaN;
                # an unsafe int64 cast would turn NaN into INT64_MIN
                # garbage — null elements collapse to NULL, matching
                # the SQL twin's exists(_e IS NULL) guard
                v = np.asarray(vec)
                if v.dtype.kind == "f":
                    if np.isnan(v).any():
                        projs.append(None)
                        continue
                    v = v.astype(np.int64)
                elif v.dtype.kind == "O":
                    if any(e is None for e in vec):
                        projs.append(None)
                        continue
                    v = v.astype(np.int64)
                else:
                    v = v.astype(np.int64)
                projs.append((v @ signs).tolist())
            yield pd.DataFrame({id_col: ids, "proj": projs})

    return df.select(id_col, vec_col).mapInPandas(gen, out_schema)


def jl_quantize_duckdb(x: str) -> str:
    """DuckDB twin of jl_quantize_sql (list_transform; same floor/cast)."""
    return (
        f"list_transform({x}, _q -> "
        "CAST(floor(CAST(_q AS DOUBLE) * 1000) AS BIGINT))"
    )


def pq_code_expr(c) -> "F.Column":
    """Column form of the dialect PQ_ENCODE (the reference its SQL
    rendering pq_code_dialect_sql is tested against): the 4 nearest-center
    indices as ONE ':'-joined string (a groupable scalar — `GROUP BY
    PQ_ENCODE(embedding)` collapses a quantization cell, the
    compressed-domain dedup move). Wrong-length vectors and vectors
    with null elements yield NULL (the JL_PROJECT contract). The input
    array is BOUND ONCE (X.bind_once): each of the m*k distance folds
    references it, and an unbound computed argument would re-evaluate
    per fold."""

    def code(q, s):
        sl = F.slice(q, s * PQ_DIA_SUB + 1, PQ_DIA_SUB)
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(PQ_DIA_K - 1)),
            lambda j: F.aggregate(
                F.zip_with(
                    sl,
                    F.sequence(F.lit(0), F.lit(PQ_DIA_SUB - 1)),
                    lambda x, d: (
                        x.cast("double")
                        - F.when(d == j, F.lit(1.0)).otherwise(F.lit(0.0))
                    )
                    ** 2,
                ),
                F.lit(0.0).cast("double"),
                lambda a, v: a + v,
            ),
        )
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    def enc(q):
        return F.when(
            (F.size(q) == JL_IN_DIM) & ~F.exists(q, lambda x: x.isNull()),
            F.concat_ws(
                ":", *[code(q, s).cast("string") for s in range(PQ_DIA_M)]
            ),
        )

    return X.bind_once(c, enc)


