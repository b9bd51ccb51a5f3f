"""Conversation-level SFT-prep operators over transcript tables.

The input-hint table shape (conv_id, turn_idx, role, text, tool, ts)
feeds supervised fine-tuning pipelines through two standard steps this
module distributes:

- :func:`render_conversations` — flatten each conversation into ONE
  training text under a role template (the conversation → example
  step), plus the loss-accounting stats a data curator filters on
  (assistant turn/char share: an example with no assistant content
  carries no gradient signal under assistant-only loss).
- :func:`truncate_context` — head+tail turn truncation (keep the
  system prompt / first turns AND the most recent turns, drop the
  middle) for conversations longer than the model context.

Both are one shuffle on the conversation key; per-group state is
conversation-sized (arrays of turns), never corpus-sized. All logic is
JVM expressions — collect_list + array_sort + transform/array_join —
no Python in the row path.

hipipe parity note: hipipe's column streams have no conversation
grouping concept (reference ``stream/transform.hpp`` operates on
in-core batch columns); these extend the engine along the task-spec
transcript axis.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TEMPLATES = {
    # role-prefixed lines, the simplest public convention
    "plain": lambda role, text: F.concat(role, F.lit(": "), text),
    # ChatML-style blocks (public convention, e.g. OpenAI cookbook)
    "chatml": lambda role, text: F.concat(
        F.lit("<|im_start|>"), role, F.lit("\n"), text, F.lit("<|im_end|>")),
}


def render_conversations(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    template: str = "plain",
    sep: str = "\n",
    cap_tail: int | None = None,
) -> DataFrame:
    """One row per conversation: ``n_turns``, ``rendered`` (turns
    sorted by ``order_col``, each formatted by ``template``, joined by
    ``sep``), ``assistant_turns``, and ``assistant_char_frac`` (share
    of TEXT characters in assistant turns — the assistant-only-loss
    signal fraction; 0.0 when the conversation has no text at all).

    One hash aggregation on ``key`` — note collect_list partials don't
    SHRINK shuffle volume (every turn crosses the wire once, which is
    this op's information-theoretic lower bound; the stats columns do
    combine) — then per-group array_sort + transform, group state one
    conversation's turns. Turn order ties on ``order_col`` are broken
    by (role, text) via the struct sort, deterministically.

    ``cap_tail`` — the monster-conversation guard: keep only each
    conversation's LAST ``cap_tail`` turns before rendering (via
    :func:`truncate_context`). A pathological multi-million-turn
    conversation otherwise materializes as ONE group's array in one
    task; with the cap, per-group state is bounded by construction.
    ``n_turns``/stats then describe the capped conversation.
    """
    if cap_tail is not None:
        df = truncate_context(df, key=key, order_col=order_col,
                              tail=cap_tail)
    if template not in TEMPLATES:
        raise ValueError(f"unknown template {template!r}; "
                         f"options: {sorted(TEMPLATES)}")
    fmt = TEMPLATES[template]
    turns = F.array_sort(F.collect_list(F.struct(
        F.col(order_col).alias("o"),
        F.col(role_col).alias("r"),
        F.col(text_col).alias("t"),
    )))
    rendered = F.array_join(
        F.transform(turns, lambda s: fmt(s["r"], s["t"])), sep)
    is_asst = F.col(role_col) == "assistant"
    total_chars = F.sum(F.length(text_col))
    asst_chars = F.sum(F.when(is_asst, F.length(text_col)).otherwise(0))
    return df.groupBy(key).agg(
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        rendered.alias("rendered"),
        F.sum(is_asst.cast("int")).cast("int").alias("assistant_turns"),
        F.when(total_chars > 0,
               F.round(asst_chars.cast("double") / total_chars, 6))
        .otherwise(F.lit(0.0)).alias("assistant_char_frac"),
    )


def truncate_token_budget(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    budget: int = 2048,
    order_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Token-budget truncation: keep the longest SUFFIX of each
    conversation whose whitespace-token total fits ``budget`` — the
    actual SFT context constraint (models bound tokens, not turns;
    recent turns matter most). A single turn larger than the whole
    budget is dropped with the rest of the prefix (no partial turns).

    Adds ``turn_tokens`` and ``suffix_tokens`` (running total from the
    END, inclusive of the current turn). One window exchange on
    ``key``; the reverse running sum is the same sort DESCENDING, so
    rows stream through one sort — no second pass, no collect.
    """
    from hipipe_spark.functions.text import token_count

    if budget < 1:
        raise ValueError("budget must be >= 1")
    wd = Window.partitionBy(key).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in order_extra]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks = token_count(F.col(text_col))
    return (
        df.withColumn("turn_tokens", toks)
        .withColumn("suffix_tokens", F.sum("turn_tokens").over(wd))
        .filter(F.col("suffix_tokens") <= budget)
    )


def build_sft_examples(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    template: str = "plain",
    cap_tail: int | None = None,
    min_turns: int = 2,
    require_assistant: bool = True,
    dedup: bool = True,
) -> DataFrame:
    """The transcript-side training-set recipe as ONE lazy plan
    (the conversation analog of ``corpus.build_training_set``):

    1. render each conversation under ``template`` (optionally
       ``cap_tail``-truncated — the monster-conversation guard);
    2. drop conversations with fewer than ``min_turns`` turns or (with
       ``require_assistant``) no assistant content — such examples
       carry no gradient under assistant-only loss;
    3. exact-dedup the RENDERED text (``dedup=True``) — templated
       near-identical conversations collapse to the min-key
       representative.

    Output: (key, n_turns, rendered, assistant_turns,
    assistant_char_frac). Shuffle budget: render's conv-key agg +
    dedup's fingerprint window — two exchanges end-to-end; the filters
    run between them without extra passes, and Catalyst schedules the
    whole chain at once.
    """
    from hipipe_spark.operators.dedup import exact_dedup

    r = render_conversations(df, key=key, order_col=order_col,
                             role_col=role_col, text_col=text_col,
                             template=template, cap_tail=cap_tail)
    r = r.filter(F.col("n_turns") >= min_turns)
    if require_assistant:
        r = r.filter(F.col("assistant_turns") >= 1)
    if dedup:
        r = exact_dedup(r, text_col="rendered", id_col=key)
    return r


def truncate_context(
    df: DataFrame,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    head: int = 0,
    tail: int = 0,
    order_extra: tuple[str, ...] = (),
) -> DataFrame:
    """Keep the first ``head`` and last ``tail`` turns of each
    conversation, dropping the middle — the context-window truncation
    that preserves the system prompt AND the recent exchange.
    Conversations with ≤ head+tail turns pass through whole. Adds
    ``kept_rank`` (1-based position among the group's ordered turns)
    and ``conv_turns`` (the group's pre-truncation size).

    One exchange on ``key``; the ordered row_number and the unordered
    group count share the partitioning. ``order_extra`` breaks
    ``order_col`` ties (pass ts / an id for full determinism).
    """
    if head < 0 or tail < 0 or head + tail == 0:
        raise ValueError("need head >= 0, tail >= 0, head + tail >= 1")
    wo = Window.partitionBy(key).orderBy(order_col, *order_extra)
    wa = Window.partitionBy(key)
    rn: Column = F.row_number().over(wo)
    n: Column = F.count(F.lit(1)).over(wa)
    return (
        df.withColumn("kept_rank", rn)
        .withColumn("conv_turns", n.cast("int"))
        .filter((F.col("kept_rank") <= head)
                | (F.col("kept_rank") > F.col("conv_turns") - tail))
    )


def relevance_context(
    df: DataFrame,
    score_col: str,
    budget: int = 2048,
    key: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    out: str = "kept",
) -> DataFrame:
    """Relevance-ranked context selection under a token budget — the
    retrieval-augmented sibling of :func:`truncate_token_budget`
    (which keeps the recency suffix): per conversation, turns are
    taken greedily by ``score_col`` DESCENDING (ties by recency —
    later turn first) while the running token total fits ``budget``;
    selected turns are then re-read in original turn order. Emits
    ``turn_tokens``, ``sel_tokens`` (running total in selection
    order), and ``{out}`` (0/1) for EVERY row — filter on it, or keep
    the flag so the leakage/audit suite can see what was dropped.

    Greedy-prefix rule: a turn is kept iff the cumulative tokens of
    all better-scored turns plus itself fit the budget — one window
    sort per conversation (score desc), the same single-exchange shape
    as the suffix truncator; no collect, no per-row Python.
    """
    from hipipe_spark.functions.text import token_count

    if budget < 1:
        raise ValueError("budget must be >= 1")
    ws = Window.partitionBy(key).orderBy(
        F.col(score_col).desc(), F.col(order_col).desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (df.withColumn("turn_tokens", token_count(F.col(text_col)))
            .withColumn("sel_tokens", F.sum("turn_tokens").over(ws))
            .withColumn(out, (F.col("sel_tokens") <= budget).cast("int")))


def transcript_integrity(
    df: DataFrame,
    key: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation ordering audit — the data-quality gate for the
    engine's core invariant ("per-turn text equality under STABLE TURN
    ORDERING" only holds if the ordering itself is sane). One row per
    conversation:

    - ``n_turns``
    - ``n_dup_idx`` — turns sharing a ``turn_idx`` with an earlier
      turn (``n_turns − countDistinct(idx)``)
    - ``n_ts_inversions`` — turns whose ``ts`` goes BACKWARD relative
      to the previous turn in ``turn_idx`` order (clock skew /
      mis-merged shards; the thing that silently breaks every as-of
      join and lag feature downstream)
    - ``n_idx_gaps`` — index jumps > 1 (dropped turns)
    - ``n_role_repeats`` — consecutive turns with the same role
      (reported, NOT counted against ``is_clean`` — agent transcripts
      legitimately chain tool turns)
    - ``first_idx`` — min index (0 expected)
    - ``is_clean`` — 1 iff dups = inversions = gaps = 0 and
      ``first_idx`` = 0

    One conversation-bounded window (lag on idx/ts/role) + one hash
    aggregate with map-side partial combine — the lag/lead skew
    profile, no global sort, no Python. Run it BEFORE featurize on a
    fresh ingest; quarantine ``is_clean = 0`` conversations or route
    them through a repair pass.

    Reference contrast: hipipe asserts batch rectangularity at stream
    build time (``include/hipipe/core/stream/create.hpp``); value-level
    ordering audits are new surface the transcript axis requires.
    """
    w = Window.partitionBy(key).orderBy(idx_col, ts_col)
    idx = F.col(idx_col).cast("long")
    prev_idx = F.lag(idx).over(w)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    prev_role = F.lag(F.col(role_col)).over(w)
    flagged = df.select(
        key, idx_col, ts_col, role_col,
        F.when(F.col(ts_col) < prev_ts, 1).otherwise(0).alias("__inv"),
        F.when(idx - prev_idx > 1, 1).otherwise(0).alias("__gap"),
        F.when(F.col(role_col) == prev_role, 1).otherwise(0)
         .alias("__rep"),
    )
    n = F.count(F.lit(1))
    dup = (n - F.countDistinct(F.col(idx_col))).cast("bigint")
    inv = F.sum("__inv").cast("bigint")
    gap = F.sum("__gap").cast("bigint")
    rep = F.sum("__rep").cast("bigint")
    first = F.min(idx)
    out = flagged.groupBy(key).agg(
        n.cast("bigint").alias("n_turns"),
        dup.alias("n_dup_idx"),
        inv.alias("n_ts_inversions"),
        gap.alias("n_idx_gaps"),
        rep.alias("n_role_repeats"),
        first.alias("first_idx"),
    )
    clean = ((F.col("n_dup_idx") == 0) & (F.col("n_ts_inversions") == 0)
             & (F.col("n_idx_gaps") == 0) & (F.col("first_idx") == 0))
    return out.withColumn("is_clean", clean.cast("int"))


def topic_segments(
    df: DataFrame,
    text_col: str = "text",
    key: str = "conv_id",
    order_cols: tuple[str, ...] = ("ts", "turn_idx"),
    threshold: float = 0.2,
) -> DataFrame:
    """Content-based conversation segmentation: start a new segment
    whenever a turn's token-set Jaccard against the PREVIOUS turn
    drops below ``threshold`` — the lexical topic-shift detector
    (TextTiling's boundary rule on distributed rails). Gap-based
    sessionization (temporal.Sessionize) cuts on TIME; this cuts on
    CONTENT — long single-session conversations that switch tasks
    mid-stream need both.

    Adds ``prev_jaccard`` (null on the first turn), ``segment_seq``
    (0-based per conversation) and ``segment_id``
    (``{key}#{segment_seq}``).

    Scale shape: ONE conversation-key exchange; token sets via
    sort_array(array_distinct(tokens)) (JVM, no UDF); the lag +
    running-sum pair shares the single window sort — the Sessionize
    plan with a lexical predicate.
    """
    from hipipe_spark.functions.text import tokens
    from hipipe_spark.operators.dedup import _jaccard

    order = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(key).orderBy(*order)
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    base = (df.withColumn("__ts_set", toks)
              .withColumn("__ts_prev", F.lag("__ts_set").over(w)))
    prev = F.col("__ts_prev")
    jac = F.when(prev.isNull(), F.lit(None).cast("double")).otherwise(
        _jaccard(F.col("__ts_set"), prev))
    base = base.withColumn("prev_jaccard", F.round(jac, 6))
    new_seg = F.when(F.col("prev_jaccard").isNull()
                     | (F.col("prev_jaccard") < threshold), 1).otherwise(0)
    seg = (F.sum(new_seg).over(
        w.rowsBetween(Window.unboundedPreceding, 0)) - 1).cast("int")
    return (base.withColumn("segment_seq", seg)
            .withColumn("segment_id",
                        F.concat_ws("#", F.col(key).cast("string"),
                                    F.col("segment_seq").cast("string")))
            .drop("__ts_set", "__ts_prev"))
