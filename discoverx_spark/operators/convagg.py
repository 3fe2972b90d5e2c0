"""Conversation-level aggregates with explicit skew handling.

North-rule requirement (BASELINE.json): conv-level aggregates (turn count,
role balance, dedup signature) over a table where ~1% of conversations hold
a large share of turns.  The naive ``groupBy("conv_id")`` hashes every turn
of a hot conversation onto one reducer; here every aggregate is decomposed
into a **two-phase salted aggregation** — partial aggregate on
``(conv_id, salt)`` (salt = turn_idx bucket, so hot keys fan out across
reducers), then a tiny final aggregate on ``conv_id`` over the partials.
AQE skew-join handling covers the join back to turns.

All aggregates are algebraic (sum/count/min/max decomposable), so the
salted plan is exactly equivalent to the direct one — asserted in tests.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import fingerprint_expr, token_count_expr


def conversation_stats(turns: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Per-conversation stats:
    (conv_id, n_turns, n_user, n_assistant, n_tool, n_system, total_chars,
    total_tokens, first_ts, last_ts, role_balance).

    ``salt_buckets=0`` → direct groupBy (Spark's partial aggregation already
    combines map-side; adequate when no key is pathological).
    ``salt_buckets=S`` → explicit two-phase salted aggregation for hot keys.
    """
    base = turns.select(
        "conv_id",
        F.col("turn_idx"),
        (F.col("role") == "user").cast("long").alias("is_user"),
        (F.col("role") == "assistant").cast("long").alias("is_assistant"),
        (F.col("role") == "tool").cast("long").alias("is_tool"),
        (F.col("role") == "system").cast("long").alias("is_system"),
        F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("n_chars"),
        F.coalesce(token_count_expr("text"), F.lit(0)).cast("long").alias("n_tokens"),
        F.col("ts"),
    )

    partial_aggs = [
        F.count("*").alias("n_turns"),
        F.sum("is_user").alias("n_user"),
        F.sum("is_assistant").alias("n_assistant"),
        F.sum("is_tool").alias("n_tool"),
        F.sum("is_system").alias("n_system"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    ]

    if salt_buckets and salt_buckets > 1:
        salted = base.withColumn(
            "_salt", F.pmod(F.col("turn_idx"), F.lit(salt_buckets)))
        part = salted.groupBy("conv_id", "_salt").agg(*partial_aggs)
        agg = part.groupBy("conv_id").agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_user").alias("n_user"),
            F.sum("n_assistant").alias("n_assistant"),
            F.sum("n_tool").alias("n_tool"),
            F.sum("n_system").alias("n_system"),
            F.sum("total_chars").alias("total_chars"),
            F.sum("total_tokens").alias("total_tokens"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    else:
        agg = base.groupBy("conv_id").agg(*partial_aggs)

    balance = (
        F.least(F.col("n_user"), F.col("n_assistant")).cast("double")
        / F.greatest(F.greatest(F.col("n_user"), F.col("n_assistant")), F.lit(1)).cast("double")
    )
    return agg.withColumn("role_balance", balance)


def conversation_fingerprints(turns: DataFrame) -> DataFrame:
    """Whole-conversation dedup key: md5 over the ordered turn fingerprints.
    Order-stable under any physical partitioning: turns are sorted by
    turn_idx inside the aggregation, not by arrival order."""
    # null-text turns get a per-(conv, turn) sentinel: concat_ws SKIPS
    # nulls, so a conversation differing only by a null-text turn would
    # otherwise collide with one lacking that turn — and dedup would
    # delete a distinct conversation.  The sentinel embeds the conv id,
    # so a conversation containing missing text is never deleted as a
    # duplicate of another (missing != missing, same principle as
    # dedup_exact's per-row sentinel).
    per_turn = turns.select(
        "conv_id", "turn_idx",
        F.coalesce(fingerprint_expr("text"),
                   F.concat(F.lit("__null__:"), F.col("conv_id"),
                            F.lit(":"), F.col("turn_idx").cast("string")))
        .alias("fp"))
    return (
        per_turn.groupBy("conv_id")
        .agg(F.sort_array(F.collect_list(F.struct("turn_idx", "fp"))).alias("ordered"))
        .select(
            "conv_id",
            F.md5(F.concat_ws("|", F.transform(F.col("ordered"),
                                               lambda s: s["fp"]))).alias("conv_fingerprint"),
        )
    )


def with_conversation_stats(turns: DataFrame, salt_buckets: int = 8,
                            stats: Optional[DataFrame] = None) -> DataFrame:
    """Enrich each turn with its conversation's stats (join on conv_id;
    AQE splits skewed partitions at runtime)."""
    s = stats if stats is not None else conversation_stats(turns, salt_buckets)
    return turns.join(s, on="conv_id", how="left")


def conversation_minhash_signatures(turns: DataFrame, k: int = 16,
                                    hash_mode: str = "xxhash64") -> DataFrame:
    """Per-conversation MinHash over the *set of turn fingerprints*
    (north-star conv-level dedup signature): ``mh_i = min over turns of
    h_i(turn_fingerprint)``.

    Fully algebraic — computed as k ``min`` aggregates over per-turn
    hashes, so it rides the same salted/partial-aggregation path as every
    other conv aggregate and two conversations sharing most turns (any
    order) get mostly-equal signatures."""
    from .dedup import _hash_fn

    fp = fingerprint_expr("text")
    per_turn = turns.select(
        F.col("conv_id").alias("id"),
        *[_hash_fn(hash_mode, i)(fp).alias(f"h_{i}") for i in range(k)])
    return per_turn.groupBy("id").agg(
        *[F.min(f"h_{i}").alias(f"mh_{i}") for i in range(k)])


def conversation_near_duplicates(turns: DataFrame, k: int = 16,
                                 bands: int = 8, threshold: float = 0.7,
                                 hash_mode: str = "xxhash64",
                                 max_bucket: Optional[int] = 1024) -> DataFrame:
    """Near-duplicate conversation pairs via conv-level MinHash + LSH
    banding + signature-agreement verification.  The signature struct is
    carried through the banding shuffle (see dedup.minhash_near_duplicates)
    so verification needs no re-join; hot buckets are capped."""
    from .dedup import _minhash_pairs

    # a conversation whose EVERY turn has null text yields an all-null
    # signature (min over no non-null hashes); such convs carry no
    # content evidence and must not pair with each other
    sigs = conversation_minhash_signatures(turns, k, hash_mode) \
        .filter(F.col("mh_0").isNotNull())
    packed = sigs.select(
        "id", F.struct(*[F.col(f"mh_{i}").alias(f"m{i}")
                         for i in range(k)]).alias("sig"))
    return _minhash_pairs(packed, k, bands, threshold, max_bucket)


def dedup_conversations(turns: DataFrame) -> DataFrame:
    """Conversation-level exact dedup: keep one conversation (min conv_id)
    per whole-conversation fingerprint; returns the surviving turns.

    Scale shape: fingerprint agg (one shuffle on conv_id) → tiny keep-list
    → left-semi join back (AQE broadcasts the keep side when small)."""
    fps = conversation_fingerprints(turns)
    keep = (fps.groupBy("conv_fingerprint")
            .agg(F.min("conv_id").alias("conv_id")))
    return turns.join(keep.select("conv_id"), on="conv_id", how="left_semi")


def conversation_apply_stats(turns: DataFrame) -> DataFrame:
    """Per-conversation NON-algebraic statistics via grouped-map
    ``applyInPandas`` — the north-star's sanctioned escape hatch for conv
    logic that partial aggregation cannot decompose (medians here; in
    production: arbitrary per-conversation Python).  One shuffle on
    conv_id; AQE's skew handling splits hot conversations at runtime.
    Algebraic stats should use :func:`conversation_stats` instead (it
    combines map-side); this operator exists for the logic that can't.

    Returns (conv_id, n_turns, median_text_len, median_tokens)."""
    import numpy as np
    import pandas as pd

    def per_conv(pdf: pd.DataFrame) -> pd.DataFrame:
        text = pdf["text"].fillna("")
        lens = text.str.len().to_numpy()
        toks = text.str.split().str.len().to_numpy()
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [len(pdf)],
            "median_text_len": [float(np.median(lens))],
            "median_tokens": [float(np.median(toks))],
        })

    return turns.groupBy("conv_id").applyInPandas(
        per_conv, schema=("conv_id string, n_turns long, "
                          "median_text_len double, median_tokens double"))


def role_alternation_violations(turns: DataFrame) -> DataFrame:
    """Turns whose role equals the previous turn's role (lag over the
    stable (conv_id, turn_idx) window — SURVEY §2.5 rebuild usage)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        turns.withColumn("_prev_role", F.lag("role").over(w))
        .filter(F.col("_prev_role").isNotNull()
                & (F.col("_prev_role") == F.col("role")))
        .select("conv_id", "turn_idx", "role")
    )


def conversation_turn_flags(turns: DataFrame) -> DataFrame:
    """Per-turn gate signals as one JVM projection:
    ``(conv_id, turn_idx, role, is_toxic, has_pii)``.  Shared by the
    batch :func:`conversation_gates` and the streaming variant so both
    evaluate IDENTICAL flag semantics (batch/stream parity is asserted
    in tests)."""
    from ..functions.text import toxicity_exprs
    from ..scrub import scrub_text_expr

    tox_hits, _ = toxicity_exprs("text")
    # null-text turns carry no evidence → flags coalesce to 0 (a NULL
    # flag would make the conv-level SUM NULL for all-null conversations
    # and keep_conversation NULL — invisible to both keep and ~keep)
    return turns.select(
        "conv_id", "turn_idx", "role",
        F.coalesce((tox_hits > 0).cast("long"), F.lit(0))
        .alias("is_toxic"),
        F.coalesce((scrub_text_expr("text") != F.col("text")).cast("long"),
                   F.lit(0)).alias("has_pii"))


def conversation_gates(turns: DataFrame, min_turns: int = 2,
                       max_turns: int = 512,
                       max_toxic_frac: float = 0.25,
                       max_pii_frac: float = 0.5,
                       max_alternation_violations: int = 0) -> DataFrame:
    """Conversation-level keep/drop: a whole conversation is dropped when
    too many of its turns fail (the step after per-turn filtering in every
    transcript-curation pipeline — per-turn drops alone leave gutted
    conversations in the corpus).

    Per-turn signals are pure JVM projections: toxicity (keyword regex),
    PII presence (``scrub_text_expr(text) != text`` — the same canonical
    scrub chain the pipeline uses, so "has PII" means "the scrubber would
    change it"), and role-alternation violations (same lag-window
    semantics as :func:`role_alternation_violations`).  The violation
    window and the aggregation share the ``conv_id`` hash partitioning,
    so the whole operator costs ONE shuffle of short flag rows.

    Returns ``(conv_id, n_turns, toxic_frac, pii_frac,
    n_alternation_violations, keep_conversation)``.
    """
    from pyspark.sql.window import Window

    flags = conversation_turn_flags(turns)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    per = flags.withColumn(
        "is_viol",
        (F.lag("role").over(w).isNotNull()
         & (F.lag("role").over(w) == F.col("role"))).cast("long"))
    agg = per.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.round(F.sum("is_toxic") / F.count(F.lit(1)), 6).alias("toxic_frac"),
        F.round(F.sum("has_pii") / F.count(F.lit(1)), 6).alias("pii_frac"),
        F.sum("is_viol").alias("n_alternation_violations"))
    keep = ((F.col("n_turns") >= min_turns)
            & (F.col("n_turns") <= max_turns)
            & (F.col("toxic_frac") <= max_toxic_frac)
            & (F.col("pii_frac") <= max_pii_frac)
            & (F.col("n_alternation_violations")
               <= max_alternation_violations))
    return agg.withColumn("keep_conversation", keep)


def tool_call_stats(turns: DataFrame,
                    max_tool_frac: float = 0.8,
                    max_tool_run: int = 8) -> DataFrame:
    """Agent-transcript tool-usage profile + runaway-loop gate, per
    conversation (the ``tool`` column of the north-rule input schema:
    assistant/agent traces where an agent stuck re-calling the same tool
    is a quality failure no per-turn text gate can see).

    Signals: tool-call count and fraction, distinct tools used, and the
    longest run of CONSECUTIVE same-tool calls (consecutive among the
    conversation's tool turns in ``turn_idx`` order — interleaved
    assistant turns do not break a loop, matching how agent executors
    retry).  ``keep_tool_gate`` drops conversations whose tool fraction
    exceeds ``max_tool_frac`` or whose longest same-tool run exceeds
    ``max_tool_run``.

    Plan shape: every window and aggregation partitions on ``conv_id``
    alone — the run id is a lag-flag running sum, never a
    ``(conv_id, tool)`` re-partition, so BOTH run aggregations reuse the
    window's exchange.  Total: two conv_id hash exchanges of short
    ``(conv_id, turn_idx, tool)`` rows (the stats branch and the
    tool-turn branch) plus a broadcast join-back; the text column never
    moves.

    Returns ``(conv_id, n_turns, n_tool_calls, n_distinct_tools,
    max_tool_run, tool_frac, keep_tool_gate)``.
    """
    from pyspark.sql.window import Window

    base = turns.select("conv_id", "turn_idx", "role", "tool")
    # size(collect_set) not count_distinct: Spark rewrites a distinct
    # aggregate into TWO exchanges ((conv_id, tool) then conv_id);
    # collect_set holds the per-conversation tool set in the aggregation
    # buffer — tool vocabularies are tiny by nature — and keeps the
    # stats branch at one conv_id exchange (same NULL-excluding
    # semantics; plan-tested)
    stats = base.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum((F.col("role") == "tool").cast("long")).alias("n_tool_calls"),
        F.size(F.collect_set(
            F.when(F.col("role") == "tool", F.col("tool"))))
        .cast("long").alias("n_distinct_tools"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    tool_turns = base.filter(F.col("role") == "tool")
    # gaps-and-islands without a (conv_id, tool) re-partition: a run
    # starts where the previous tool differs (null-safe — a first turn
    # or a genuinely NULL tool name starts its own run)
    runs = (tool_turns
            .withColumn("_new_run",
                        (~F.lag("tool").over(w).eqNullSafe(F.col("tool")))
                        .cast("long"))
            .withColumn("_rid", F.sum("_new_run").over(w))
            .groupBy("conv_id", "_rid").agg(F.count(F.lit(1)).alias("_run"))
            .groupBy("conv_id").agg(F.max("_run").alias("max_tool_run")))
    return (stats.join(runs, "conv_id", "left")
            .withColumn("max_tool_run",
                        F.coalesce("max_tool_run", F.lit(0)).cast("int"))
            .withColumn("tool_frac",
                        F.round(F.col("n_tool_calls")
                                / F.col("n_turns").cast("double"), 6))
            .withColumn("keep_tool_gate",
                        (F.col("tool_frac") <= max_tool_frac)
                        & (F.col("max_tool_run") <= max_tool_run)))


def turn_latency_stats(turns: DataFrame,
                       max_gap_s: int = 600) -> DataFrame:
    """Per-conversation temporal profile over the north-rule ``ts``
    column: wall-clock duration, the largest inter-turn gap (a session
    break / stuck-agent signal), and user→assistant response latency
    (count, total, mean) — the latency analytics an agent-trace pipeline
    publishes next to its quality gates.

    One conv_id shuffle shared by the lag window and the final
    aggregate; all arithmetic in exact integer microseconds
    (``unix_micros``), the mean derived at the end.  ``keep_latency_gate``
    flags conversations whose largest gap stays within ``max_gap_s``
    (interrupted/resumed sessions are a different population than live
    conversations and are usually filtered or split).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = turns.select(
        "conv_id", "turn_idx", "role", us.alias("_us"),
        (us - F.lag(us).over(w)).alias("_gap"),
        ((F.col("role") == "assistant")
         & (F.lag("role").over(w) == "user")).alias("_resp"))
    agg = (base.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
        F.coalesce(F.max("_gap"), F.lit(0).cast("long"))
        .alias("max_gap_us"),
        F.coalesce(F.sum(F.when(F.col("_resp"), F.col("_gap"))),
                   F.lit(0).cast("long")).alias("response_us_total"),
        F.sum(F.when(F.col("_resp"), 1).otherwise(0)).cast("long")
        .alias("n_responses")))
    return agg.select(
        "conv_id", "n_turns", "duration_us", "max_gap_us",
        "n_responses", "response_us_total",
        F.when(F.col("n_responses") > 0,
               F.round(F.col("response_us_total")
                       / F.col("n_responses").cast("double"), 6))
        .alias("avg_response_us"),
        (F.col("max_gap_us") <= max_gap_s * 1_000_000)
        .alias("keep_latency_gate"))


def conversation_context_windows(turns: DataFrame,
                                 window_turns: int = 4) -> DataFrame:
    """Training-example construction over agent transcripts: for every
    turn, the role-tagged concatenation of the last ``window_turns``
    turns (inclusive) of its conversation, in turn order — the sliding
    context window a fine-tuning pipeline feeds the tokenizer.

    One conv_id shuffle; the window's ``collect_list`` assembles at most
    ``window_turns`` short strings per row, so the state is bounded by
    the window, not the conversation (a 10^4-turn agent trace costs the
    same per row as a 6-turn chat).  Null texts render as empty strings
    (``concat_ws`` would silently DROP the null element and glue the
    role tag to the next turn).
    """
    if window_turns < 1:
        raise ValueError(f"window_turns must be >= 1, got {window_turns}")
    from pyspark.sql.window import Window

    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(-(window_turns - 1), Window.currentRow))
    # role is coalesced too: a null role would null the whole concat and
    # collect_list would silently DROP the turn from context_text while
    # n_context_turns still counts it
    tagged = F.concat(F.coalesce(F.col("role"), F.lit("")), F.lit(": "),
                      F.coalesce(F.col("text"), F.lit("")))
    return turns.select(
        "conv_id", "turn_idx",
        F.count(F.lit(1)).over(w).cast("int").alias("n_context_turns"),
        F.array_join(F.collect_list(tagged).over(w), "\n")
        .alias("context_text"))
