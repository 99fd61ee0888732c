"""Spark SQL renderings of the hashing-trick vector and projection
recipes, with their fixed geometry: the dialect VECTORIZE, QUALITY_SCORE,
JL_PROJECT and PQ_ENCODE texts. Imports no pyspark, so rendering those
functions to SQL stays Spark-free; operators/vectorize.py builds the
Column and Arrow forms from the same constants."""

from __future__ import annotations

# ---------------------------------------------------------------------------
# scan-stage scalar renderings for the dialect surface
# (functions/dialect_ext.py: VECTORIZE / QUALITY_SCORE). Same hashing trick
# as the operators in operators/vectorize.py, re-expressed as per-row Spark SQL expressions so
# the query dialect can reach them without a groupBy. Geometry is FIXED
# (the one-argument fn grammar has no room for parameters); the Python
# operators take dim/weights/bias.
# ---------------------------------------------------------------------------

VECTOR_DIM = 16  # dialect VECTORIZE / QUALITY_SCORE dimensionality

# fixed integer weight of a bucket for the dialect QUALITY_SCORE margin:
# w(b) = (b * 2654435761) % 201 − 100 ∈ [−100, 100] (Knuth multiplicative
# constant — a deterministic stand-in model; a learned model goes through
# linear_hash_score with its own weights table). INTEGER weights on
# purpose: the margin is then a pure integer function of the text —
# value-exact across engines, no float summation order, no sigmoid ulp.
_W_MULT = 2654435761
_W_MOD = 201
_W_OFF = 100


# SQL-renderer fragments shared by vectorize_sql / hash_margin_sql — one
# copy of the tokenization + hash recipe, so the two dialect functions can
# never desynchronize.
def _toks_sql(x: str) -> str:
    norm = f"trim(regexp_replace(lower({x}), '\\\\s+', ' '))"
    return f"filter(split({norm}, ' '), t -> t <> '')"


def _bs_sql(x: str, dim: int) -> str:
    """array<struct<b, s>> of (bucket, sign) per token — _bucket_and_sign's
    recipe with the md5 bound once per token: the inner transform
    materializes the 9-hex-char prefix, the outer derives bucket and sign
    from it, so the md5 count is n_tokens regardless of dim or fold
    width."""
    return (
        f"transform(transform({_toks_sql(x)}, "
        "t -> substring(md5(t), 1, 9)), "
        "h -> named_struct("
        f"'b', CAST(CAST(conv(substring(h, 1, 8), 16, 10) AS BIGINT) "
        f"% {dim} AS INT), "
        "'s', CASE WHEN CAST(conv(substring(h, 9, 1), 16, 10) AS BIGINT) "
        "% 2 = 0 THEN 1L ELSE -1L END))"
    )


def vectorize_sql(x: str, dim: int = VECTOR_DIM) -> str:
    """Per-row dense hashing-trick vector (array<double>, signed token
    counts — the UNnormalized feature_hash_embed row) as Spark SQL: one
    md5 per token (_bs_sql), then ONE fold building the whole dim-array
    through the index-aware transform lambda. O(dim·n_tokens) interpreted
    work per row: the convenience form for dialect queries and small
    dims; the 100 TB path for large dims is the explode+aggregate
    operator feature_hash_sparse/embed (equality pinned in tests)."""
    return (
        f"transform(aggregate({_bs_sql(x, dim)}, "
        f"array_repeat(0L, {dim}), "
        "(acc, p) -> transform(acc, (v, i) -> v + "
        "(CASE WHEN p.b = CAST(i AS INT) THEN p.s ELSE 0L END))), "
        "v -> CAST(v AS DOUBLE))"
    )


def hash_margin_sql(x: str, dim: int = VECTOR_DIM) -> str:
    """Per-row linear-model margin over hashed token features with the
    FIXED integer weights above: margin = Σ_tokens sign·w(bucket), a pure
    integer function of the text (long). keep ≡ margin ≥ 0 — the dialect
    QUALITY_SCORE form of linear_hash_score (equality with the operator
    under the same weights table pinned in tests)."""
    w = f"((CAST(p.b AS BIGINT) * {_W_MULT}L) % {_W_MOD} - {_W_OFF})"
    return (
        f"aggregate({_bs_sql(x, dim)}, 0L, "
        f"(acc, p) -> acc + p.s * {w})"
    )


# fixed multiplicative-scramble sign matrix: s(i,j) = +1 iff
# ((i+1)·(j+2)·_JLP_MULT + seed·_JLP_SEED_MULT) mod _JLP_MOD < _JLP_HALF.
# Plain int64 arithmetic on BOTH engines (max operand
# (in_dim+1)·(out_dim+2)·_JLP_MULT ≈ 5.6e15 at 4096×512 — no wrap), so
# the oracle replays the exact matrix with no engine-specific hash.
# Balanced ±1 and row-decorrelated enough for JL in practice; swap
# functions/vectors.random_hyperplane_signature's explicit planes in
# where cryptographic-strength independence matters.
_JLP_MULT = 2654435761
_JLP_SEED_MULT = 40503
_JLP_MOD = 1000003
_JLP_HALF = 500002


def jl_project_sql(
    vec_sql: str, in_dim: int, out_dim: int, seed: int = 1
) -> str:
    """The projection as ONE parsed SQL expression over an ARRAY<BIGINT>
    column expression: out[j] = Σᵢ v[i]·s(i,j), j in [0, out_dim).
    Vectors whose size != in_dim yield NULL (zip_with padding would
    otherwise silently treat a short vector as a different point).

    One expr string, not Column DSL: the sign matrix is a model-sized
    constant (out_dim·in_dim terms) — the centroid-matrix/band-key
    lesson (SCALE.md): Column construction pays a py4j round trip per
    node on every fresh plan. This JVM form exists as the engine-pinned
    twin of the Arrow default (jl_project) and for JVM-only deployments;
    its HOF lambdas run interpreted at out_dim ops per element.

    A NULL element anywhere in the vector yields NULL (the whole
    projection, not a partially-null array: every component sums every
    element, so one null poisons all 16 — collapsing to NULL keeps the
    Arrow twin exactly matchable, where numpy would otherwise cast the
    null's NaN to INT64_MIN and emit garbage)."""
    off = seed * _JLP_SEED_MULT
    proj = (
        f"transform(sequence(0, {out_dim - 1}), j -> aggregate("
        f"zip_with({vec_sql}, sequence(0, {in_dim - 1}), (v, i) -> "
        f"v * (CASE WHEN ((i+1)*(j+2)*{_JLP_MULT}L + {off}L) "
        f"% {_JLP_MOD} < {_JLP_HALF} THEN 1L ELSE -1L END)), "
        "0L, (a, x) -> a + x))"
    )
    return (
        f"CASE WHEN size({vec_sql}) = {in_dim} "
        f"AND NOT exists({vec_sql}, _e -> _e IS NULL) THEN {proj} "
        "ELSE CAST(NULL AS ARRAY<BIGINT>) END"
    )


# dialect JL_PROJECT geometry: the corpus embedding width and a
# log-n-ish target (the VECTORIZE fixed-dim precedent — parameterized
# projections go through jl_project/jl_project_sql directly)
JL_IN_DIM = 64
JL_OUT_DIM = 16
JL_SEED = 1
_JL_QUANT_SQL = "CAST(floor(CAST({v} AS DOUBLE) * 1000) AS BIGINT)"


def jl_quantize_sql(x: str) -> str:
    """The floor-quantization of a float embedding as Spark SQL — THE
    single definition every call site (dialect, suite, bench, tests)
    derives from, so a scale change cannot silently diverge them."""
    return f"transform({x}, _q -> {_JL_QUANT_SQL.format(v='_q')})"


def jlproject_dialect_sql(x: str) -> str:
    """The dialect JL_PROJECT as Spark SQL: floor-quantize a float
    embedding array and project 64 → 16 ±1 pseudo-random directions via
    jl_project_sql (signs COMPUTED from (i, j), so the expression is
    constant-size regardless of dims). Value-equal to the Arrow operator
    jl_project (pinned in test_dialect_ext). The quantized array binds
    once (element_at(transform(array(...)))): HOF lambdas have no
    subexpression elimination, so an inline quantize would re-run inside
    every one of the 16 component folds."""
    proj = jl_project_sql("_qa", JL_IN_DIM, JL_OUT_DIM, JL_SEED)
    return (
        f"element_at(transform(array({jl_quantize_sql(x)}), "
        f"_qa -> {proj}), 1)"
    )


# ---------------------------------------------------------------------------
# Dialect PQ_ENCODE (r13, VERDICT r12 #6): the compressed-retrieval tier
# reached from SQL. The one-argument fn grammar has no room for trained
# codebooks, so — exactly like BM25's frozen query model and
# QUALITY_SCORE's frozen linear model — the dialect quantizes against a
# FROZEN codebook: PQ_DIA_M subspaces of PQ_DIA_SUB dims over the
# JL_IN_DIM embedding, PQ_DIA_K one-hot unit centers e_j per subspace
# (closed-form: the nearest center is the subspace's dominant
# coordinate; ||x - e_j||^2 = ||x||^2 - 2*x_j + 1, unique argmin unless
# tied, ties -> lowest j via array_position-of-min — the pq_encode
# contract). Parameterized, data-trained codebooks stay in
# operators/similarity.pq_codebooks / pq_encode.
# ---------------------------------------------------------------------------

PQ_DIA_M = 4  # subspaces
PQ_DIA_SUB = 16  # dims per subspace (PQ_DIA_M * PQ_DIA_SUB = JL_IN_DIM)
PQ_DIA_K = 16  # one-hot centers per subspace


def pq_code_dialect_sql(x: str) -> str:
    """Spark-SQL twin of pq_code_expr — the same frozen one-hot
    codebook, the same distance tree, the same bind-once shape
    (element_at(transform(array(x), ...), 1)); the dialect PQ_ENCODE
    rendering, value-equal to pq_code_expr (pinned in test_dialect_ext)."""
    codes = []
    for s in range(PQ_DIA_M):
        sl = f"slice(_pa, {s * PQ_DIA_SUB + 1}, {PQ_DIA_SUB})"
        dists = (
            f"transform(sequence(0, {PQ_DIA_K - 1}), j -> "
            f"aggregate(zip_with({sl}, sequence(0, {PQ_DIA_SUB - 1}), "
            "(x, d) -> power(CAST(x AS DOUBLE) - "
            "(CASE WHEN d = j THEN 1.0D ELSE 0.0D END), 2)), "
            "CAST(0.0D AS DOUBLE), (a, v) -> a + v))"
        )
        codes.append(
            f"CAST((array_position({dists}, array_min({dists})) - 1) "
            "AS INT)"
        )
    joined = "concat_ws(':', " + ", ".join(
        f"CAST({c} AS STRING)" for c in codes
    ) + ")"
    guard = (
        f"CASE WHEN size(_pa) = {JL_IN_DIM} "
        f"AND NOT exists(_pa, x -> x IS NULL) THEN {joined} END"
    )
    return f"element_at(transform(array({x}), _pa -> {guard}), 1)"
