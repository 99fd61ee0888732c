"""Conversation / SFT data-prep operators: chat-format validation stats,
assistant-span loss masks, preference-pair assembly.

The reference has no multi-turn or instruction-data concept (its data
model is flat single-collection documents, SURVEY §1) — these are engine
extensions in the LLM-training-data family (§2.7), covering the step
between raw curated text and a supervised-fine-tuning / preference-
modeling dataset:

- `conversation_stats`: per-conversation structural profile — turn
  counts per role, first/last roles, char volumes, and a strict
  alternation check (optional `system` head, then `user`/`assistant`
  strictly alternating starting at `user`). The check runs over ONE
  sorted collect per conversation using higher-order array functions, so
  the whole operator is a single hash exchange on conv_id; no window
  pass, no second shuffle. Conversations are bounded (thousands of
  turns, not billions), so the per-group array is safe at 100 TB corpus
  scale — the scale axis is the number of conversations, which shards
  freely.
- `sft_loss_spans`: token-offset spans [span_start, span_end) of every
  assistant turn within the concatenated conversation token stream — the
  loss mask a trainer applies so only assistant tokens contribute to the
  SFT objective. One window pass (cumulative token counts per
  conversation ordered by turn) = one exchange on conv_id.
- `preference_pairs`: chosen/rejected assembly for reward-model /
  DPO-style training — groups candidate completions by prompt, picks
  winner and loser by an integer score with a deterministic id
  tie-break, and reports the token-length gap (the classic length-bias
  diagnostic). min_by/max_by aggregation — one exchange, no join, no
  window.

All outputs are flat scalar columns (the driver's comparator hashes flat
cells; array columns crashed it in r4 — CORRECTNESS_r04.json). NULL
content counts as zero tokens / zero chars throughout (real corpora
always contain some): token and char expressions are coalesced at the
operator boundary so window sums and kept-flags never go NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from purescript_ifrit_spark.functions.text import token_count


def _sorted_roles(turn_col: str, role_col: str) -> Column:
    """Roles of one conversation in turn order (agg expression)."""
    return F.transform(
        F.sort_array(F.collect_list(F.struct(F.col(turn_col).alias("t"),
                                             F.col(role_col).alias("r")))),
        lambda x: x["r"],
    )


def _alternation_ok(roles: Column) -> Column:
    """True iff roles = [system]? then user/assistant strictly
    alternating from user. Pure array expression over the collected
    roles; evaluates map-side after the partial aggregate."""
    body = F.when(
        F.element_at(roles, 1) == "system", F.slice(roles, 2, F.size(roles))
    ).otherwise(roles)
    expected_ok = F.forall(
        F.zip_with(
            body,
            F.sequence(F.lit(0), F.size(body) - 1),
            lambda r, i: r
            == F.when(i % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")),
        ),
        lambda ok: ok,
    )
    # empty body (conversation that is ONLY a system turn) is vacuously
    # alternating-true in forall; call that malformed explicitly
    return (F.size(body) > 0) & expected_ok


def conversation_stats(
    msgs: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    content_col: str = "content",
) -> DataFrame:
    """Per-conversation structural stats over a flat messages relation
    (conv_id, turn, role, content).

    Output: conv_id, n_turns, n_system, n_user, n_assistant, first_role,
    last_role, total_chars, assistant_chars, alternation_ok.
    """
    roles = _sorted_roles(turn_col, role_col)
    is_a = F.col(role_col) == "assistant"
    return msgs.groupBy(F.col(conv_col).alias("conv_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.count(F.when(F.col(role_col) == "system", 1)).alias("n_system"),
        F.count(F.when(F.col(role_col) == "user", 1)).alias("n_user"),
        F.count(F.when(is_a, 1)).alias("n_assistant"),
        F.min_by(F.col(role_col), F.col(turn_col)).alias("first_role"),
        F.max_by(F.col(role_col), F.col(turn_col)).alias("last_role"),
        F.coalesce(F.sum(F.length(content_col)), F.lit(0))
        .cast("long").alias("total_chars"),
        F.coalesce(
            F.sum(F.when(is_a, F.length(content_col))), F.lit(0)
        ).cast("long").alias("assistant_chars"),
        _alternation_ok(roles).alias("alternation_ok"),
    )


def sft_loss_spans(
    msgs: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    content_col: str = "content",
    loss_role: str = "assistant",
) -> DataFrame:
    """Token-offset loss-mask spans: for every `loss_role` turn, the
    half-open [span_start, span_end) interval it occupies in the
    conversation's concatenated token stream (tokens counted by the
    engine-wide whitespace identity, functions/text.token_count).

    One window exchange on conv_id; turns ordered by `turn_col`.
    Output: conv_id, turn, span_start, span_end, n_tokens.
    """
    w = (
        Window.partitionBy(conv_col)
        .orderBy(turn_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = msgs.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn"),
        F.col(role_col).alias("_role"),
        F.coalesce(token_count(F.col(content_col)), F.lit(0))
        .cast("long").alias("n_tokens"),
    )
    spans = toks.select(
        "conv_id",
        "turn",
        "_role",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("span_start"),
        F.sum("n_tokens").over(w).alias("span_end"),
    )
    return spans.filter(F.col("_role") == loss_role).select(
        "conv_id", "turn", "span_start", "span_end", "n_tokens"
    )


def preference_pairs(
    cands: DataFrame,
    prompt_col: str = "prompt_id",
    cand_col: str = "cand_id",
    score_col: str = "score",
    content_col: str = "content",
) -> DataFrame:
    """Assemble chosen/rejected preference pairs from scored candidate
    completions. Winner = highest integer score, ties broken toward the
    LOWER candidate id; loser = lowest score, ties toward the HIGHER id
    (so a two-way tie still yields a deterministic, distinct pair).
    Prompts with fewer than two candidates are dropped (no pair to
    form).

    The ordering key is a STRUCT (score, ~cand_id) compared
    lexicographically — no magnitude precondition (ADVICE r7: the old
    scalar key score·2^20 − cand_id silently mis-picked when
    cand_id ≥ 2^20·score-gap, went wrong on negative ids, and could
    overflow int64 near score ≈ 2^43). The id leg is bitwise NOT, not
    arithmetic negation: ~x = −x−1 reverses the total order of every
    long INCLUDING Long.MIN_VALUE, where −x overflows (r8 review).

    Candidates with a NULL score or NULL id are EXCLUDED up front (r8
    review: the old scalar key went NULL on them so min_by/max_by
    skipped them implicitly; a struct key is non-NULL when any field
    is, which would have let unscored candidates leak in as
    always-losing rejected examples). A prompt needs >= 2 SCORED
    candidates to emit a pair.

    One hash exchange on prompt_col; min_by/max_by aggregation, no join.
    Output: prompt_id, chosen_id, rejected_id, chosen_tokens,
    rejected_tokens, len_gap, score_gap.
    """
    cands = cands.filter(
        F.col(score_col).isNotNull() & F.col(cand_col).isNotNull()
    )
    ord_ = F.struct(
        F.col(score_col).cast("long").alias("s"),
        F.bitwise_not(F.col(cand_col).cast("long")).alias("nid"),
    )
    toks = F.coalesce(token_count(F.col(content_col)), F.lit(0)).cast("long")
    out = cands.groupBy(F.col(prompt_col).alias("prompt_id")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.max_by(F.col(cand_col), ord_).cast("long").alias("chosen_id"),
        F.min_by(F.col(cand_col), ord_).cast("long").alias("rejected_id"),
        F.max_by(toks, ord_).alias("chosen_tokens"),
        F.min_by(toks, ord_).alias("rejected_tokens"),
        (F.max(F.col(score_col).cast("long"))
         - F.min(F.col(score_col).cast("long"))).alias("score_gap"),
    )
    return out.filter(F.col("_n") >= 2).select(
        "prompt_id",
        "chosen_id",
        "rejected_id",
        "chosen_tokens",
        "rejected_tokens",
        (F.col("chosen_tokens") - F.col("rejected_tokens")).alias("len_gap"),
        "score_gap",
    )


def truncate_conversation(
    msgs: DataFrame,
    token_budget: int,
    conv_col: str = "conv_id",
    turn_col: str = "turn",
    role_col: str = "role",
    content_col: str = "content",
) -> DataFrame:
    """Context-window truncation for SFT data: keep every `system` turn
    plus the LONGEST SUFFIX of the remaining turns whose token total
    fits in `token_budget − system_tokens` — the standard "system
    prompt + most recent history" recipe. A non-system turn survives
    iff the token sum from it to the conversation's end (system turns
    excluded) fits the residual budget; if the system turns alone
    exceed the budget, only they survive.

    One conv-keyed exchange: a suffix window sum (turn descending) and
    a whole-partition system-token sum share the same partitioning.
    Output: conv_id, turn, role, n_tokens, kept.
    """
    w_sfx = (
        Window.partitionBy(conv_col)
        .orderBy(F.col(turn_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(conv_col)
    is_sys = F.col(role_col) == "system"
    toks = F.coalesce(token_count(F.col(content_col)), F.lit(0)).cast("long")
    base = msgs.select(
        F.col(conv_col).alias("conv_id"),
        F.col(turn_col).alias("turn"),
        F.col(role_col).alias("role"),
        toks.alias("n_tokens"),
        F.sum(F.when(~is_sys, toks).otherwise(0)).over(w_sfx).alias("_sfx"),
        F.sum(F.when(is_sys, toks).otherwise(0)).over(w_all).alias("_systot"),
    )
    return base.select(
        "conv_id",
        "turn",
        "role",
        "n_tokens",
        (
            (F.col("role") == "system")
            | (F.col("_sfx") <= F.lit(token_budget) - F.col("_systot"))
        ).alias("kept"),
    )
