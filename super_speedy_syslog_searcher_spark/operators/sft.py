"""Transcript-to-training-data operators: turn conversation/agent
transcripts (conv_id, turn_idx, role, text, tool, ts) into supervised
fine-tuning examples.

Both operators are pure window functions over (conv_id, turn_idx) —
one shuffle keyed on conv_id, sortWithinPartitions on turn_idx, no
self-join against the corpus, so they hold their shape unchanged at
10^12 turns.

Reference parity: s4 has no SFT stage; these are training-data ops
(SURVEY.md LLM-pipeline section) over the transcript payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def build_sft_pairs(turns: DataFrame) -> DataFrame:
    """(prompt, response) extraction: every user turn pairs with the
    FIRST assistant turn that follows it in the same conversation,
    provided no other user turn intervenes (an intervening user turn
    means the assistant was answering someone else's message).

    Computed with a single descending-scan window: ``next_asst`` /
    ``next_user`` are running minima over the following rows — no
    join back to the corpus; the assistant text rides along via a
    ``lead``-style min_by on the same frame."""
    w_follow = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    asst_idx = F.min(
        F.when(F.col("role") == "assistant", F.col("turn_idx"))
    ).over(w_follow)
    user_idx = F.min(
        F.when(F.col("role") == "user", F.col("turn_idx"))
    ).over(w_follow)
    # text of the first following assistant turn: min_by over the
    # same frame keyed on the assistant-only turn_idx
    asst_text = F.expr(
        "min_by(CASE WHEN role = 'assistant' THEN text END,"
        " CASE WHEN role = 'assistant' THEN turn_idx END)"
    ).over(w_follow)
    out = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        asst_idx.alias("asst_idx"),
        user_idx.alias("next_user_idx"),
        asst_text.alias("response"),
    )
    return (
        out.filter(
            (F.col("role") == "user")
            & F.col("asst_idx").isNotNull()
            & (
                F.col("next_user_idx").isNull()
                | (F.col("asst_idx") < F.col("next_user_idx"))
            )
        )
        .select(
            "conv_id",
            F.col("turn_idx").alias("user_idx"),
            F.col("asst_idx").cast("int").alias("asst_idx"),
            F.col("text").alias("prompt"),
            "response",
        )
    )


def conv_chunks(
    turns: DataFrame, k: int = 4, stride: int = 2
) -> DataFrame:
    """Sliding context windows for long-context curriculum: at every
    `stride`-th turn of a conversation emit the concatenation of the
    last `k` turns (role-prefixed), newest last.  Output (conv_id,
    turn_idx, n_ctx, chunk_text)."""
    line = F.concat_ws(": ", F.col("role"), F.col("text"))
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-(k - 1), 0)
    )
    wn = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        turns.withColumn("_line", line)
        .withColumn("_ctx", F.collect_list("_line").over(w))
        .withColumn("_rn", F.row_number().over(wn))
        .filter((F.col("_rn") - 1) % stride == 0)
        .select(
            "conv_id",
            "turn_idx",
            F.size("_ctx").cast("int").alias("n_ctx"),
            F.array_join("_ctx", "\n").alias("chunk_text"),
        )
    )


def rollout_tree(turns: DataFrame) -> DataFrame:
    """Rollout prefix-tree profile: RL / best-of-n sampling re-runs
    the same conversation prefix many times, so the corpus of
    rollouts is a TREE — storing (and re-embedding, re-tokenizing)
    each rollout independently duplicates every shared prefix.  This
    op materializes the tree's nodes: one row per distinct
    conversation prefix, with how many rollouts pass through it
    (``n_convs``) and how many distinct continuations leave it
    (``n_children``); ``n_convs - 1`` is exactly the number of
    duplicate copies of that prefix a flat store would hold.

    Prefix identity = md5 of the role-prefixed turn texts so far
    (conversations are bounded by the model context window, so the
    running concatenation is bounded per row).  Shape: ONE conv_id
    Exchange feeds both windows (same partitioning), then two
    map-side-combinable aggregates joined on the hash key — no
    corpus self-join, holds at 10^12 turns.
    """
    wo = Window.partitionBy("conv_id").orderBy("turn_idx")
    wcum = wo.rowsBetween(Window.unboundedPreceding, 0)
    step = F.concat_ws(":", F.col("role"), F.col("text"))
    p = turns.select(
        "conv_id",
        F.row_number().over(wo).alias("depth"),
        F.md5(
            F.concat_ws("\n", F.collect_list(step).over(wcum))
        ).alias("prefix_key"),
    ).withColumn(
        "parent_key",
        F.lag("prefix_key").over(
            Window.partitionBy("conv_id").orderBy("depth")
        ),
    )
    nodes = p.groupBy("depth", "prefix_key").agg(
        F.count("*").cast("bigint").alias("n_convs")
    )
    children = (
        p.filter(F.col("parent_key").isNotNull())
        .groupBy("parent_key")
        .agg(
            F.countDistinct("prefix_key").cast("bigint").alias(
                "n_children"
            )
        )
    )
    return (
        nodes.join(
            children,
            nodes["prefix_key"] == children["parent_key"],
            "left",
        )
        .select(
            F.col("depth").cast("int").alias("depth"),
            "prefix_key",
            "n_convs",
            F.coalesce(F.col("n_children"), F.lit(0))
            .cast("bigint")
            .alias("n_children"),
        )
    )


def _conv_scores(turns: DataFrame) -> DataFrame:
    """One row per conversation: the shared-prompt group key (md5 of
    the FIRST turn's text — rollouts of one prompt share it by
    construction) and a deterministic reward proxy (total assistant
    characters).  One conv_id-keyed aggregate."""
    first_text = F.expr("min_by(text, turn_idx)")
    score = F.sum(
        F.when(
            F.col("role") == "assistant", F.length("text")
        ).otherwise(F.lit(0))
    )
    return turns.groupBy("conv_id").agg(
        F.md5(first_text).alias("prompt_key"),
        score.cast("bigint").alias("score"),
    )


def best_of_n(turns: DataFrame) -> DataFrame:
    """Best-of-n rollout selection: group rollouts by shared prompt
    (first-turn digest), keep the highest-scoring conversation
    (tie-break: smallest conv_id).  Output one row per prompt:
    (prompt_key, n_rollouts, best_conv, best_score).

    Shape: per-conv aggregate (corpus pass), then a window over the
    conversation-sized table — never over turns."""
    t = _conv_scores(turns)
    wb = Window.partitionBy("prompt_key").orderBy(
        F.col("score").desc(), "conv_id"
    )
    nw = Window.partitionBy("prompt_key")
    return (
        t.withColumn("_rn", F.row_number().over(wb))
        .withColumn("n_rollouts", F.count("*").over(nw))
        .filter(F.col("_rn") == 1)
        .select(
            "prompt_key",
            F.col("n_rollouts").cast("bigint").alias("n_rollouts"),
            F.col("conv_id").alias("best_conv"),
            F.col("score").alias("best_score"),
        )
    )


def preference_pairs(turns: DataFrame) -> DataFrame:
    """RLHF-style preference-pair extraction: for every shared-prompt
    rollout group whose best and worst scores differ, emit
    (chosen, rejected) = (argmax, argmin) conversation with
    deterministic tie-breaks (chosen: score desc then conv_id asc;
    rejected: score asc then conv_id desc — so a 2-rollout tie never
    pairs a conv with itself, it is filtered by the margin > 0 rule).

    Same shape as best_of_n: corpus pass -> conv-sized windows."""
    t = _conv_scores(turns)
    wb = Window.partitionBy("prompt_key").orderBy(
        F.col("score").desc(), "conv_id"
    )
    ww = Window.partitionBy("prompt_key").orderBy(
        F.col("score").asc(), F.col("conv_id").desc()
    )
    ranked = t.select(
        "prompt_key",
        "conv_id",
        "score",
        F.row_number().over(wb).alias("_rb"),
        F.row_number().over(ww).alias("_rw"),
    )
    chosen = ranked.filter(F.col("_rb") == 1).select(
        "prompt_key",
        F.col("conv_id").alias("chosen_conv"),
        F.col("score").alias("chosen_score"),
    )
    rejected = ranked.filter(F.col("_rw") == 1).select(
        "prompt_key",
        F.col("conv_id").alias("rejected_conv"),
        F.col("score").alias("rejected_score"),
    )
    return (
        chosen.join(rejected, "prompt_key")
        .filter(F.col("chosen_score") > F.col("rejected_score"))
        .select(
            "prompt_key",
            "chosen_conv",
            "rejected_conv",
            "chosen_score",
            "rejected_score",
            (F.col("chosen_score") - F.col("rejected_score"))
            .cast("bigint")
            .alias("margin"),
        )
    )


def grpo_advantage(turns: DataFrame) -> DataFrame:
    """Group-relative advantages (the GRPO / RLOO baseline): for each
    rollout, its score centered on the MEAN of its shared-prompt
    group, in integer permille so the value is bit-identical across
    engines: ``adv_permille = (1000 * (n*score - sum)) DIV n`` —
    score − mean == (n·score − Σ)/n lifted to integers before the one
    division (Spark ``DIV`` and DuckDB ``//`` both truncate toward
    zero, verified on negatives).  Singleton groups score exactly 0.

    Shape: per-conv aggregate (the only corpus pass), then one
    prompt_key-partitioned window over the conversation-sized table.
    Overflow bound: |1000·n·score| < 2^63 ⇔ n·score < 9.2e15 — holds
    for any real rollout group (scores are per-conv char counts).
    """
    t = _conv_scores(turns)
    wg = Window.partitionBy("prompt_key")
    return (
        t.withColumn("_n", F.count("*").over(wg))
        .withColumn("_s", F.sum("score").over(wg))
        .select(
            "prompt_key",
            "conv_id",
            "score",
            F.col("_n").cast("bigint").alias("n_rollouts"),
            F.expr("(1000 * (_n * score - _s)) DIV _n")
            .cast("bigint")
            .alias("adv_permille"),
        )
    )


def loss_mask_spans(turns: DataFrame) -> DataFrame:
    """Loss-mask character spans for SFT training: render each
    conversation as ``role: text\\n`` lines concatenated in turn
    order (the conv_chunks line format) and emit, for every
    ASSISTANT turn, the 0-based [span_start, span_end) offsets of its
    text within the rendered conversation — the spans where the
    training loss is active.

    Pure integer window math: line length = len(role) + 2 + len(text)
    + 1; span_start = Σ previous line lengths + len(role) + 2.  One
    conv_id-keyed Exchange, a single cumulative-sum frame on it."""
    line_len = (
        F.length("role") + F.lit(2) + F.length("text") + F.lit(1)
    )
    wprev = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(
        F.sum(line_len).over(wprev), F.lit(0)
    )
    start = prev + F.length("role") + F.lit(2)
    return (
        turns.select(
            "conv_id",
            "turn_idx",
            "role",
            start.cast("bigint").alias("span_start"),
            (start + F.length("text"))
            .cast("bigint")
            .alias("span_end"),
        )
        .filter(F.col("role") == "assistant")
        .select("conv_id", "turn_idx", "span_start", "span_end")
    )


def role_alternation(turns: DataFrame) -> DataFrame:
    """SFT-data hygiene report, one row per conversation: first/last
    role, adjacent same-role repeats (``n_adjacent_dups``), assistant
    presence, and the strict-dialogue verdict ``alternation_ok``
    (starts with user, ends with assistant, no adjacent repeats) —
    the validation gate chat-format trainers run before templating.

    One conv_id Exchange: the lag window and the per-conv aggregate
    share the same hash partitioning."""
    wo = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = turns.withColumn("_prev_role", F.lag("role").over(wo))
    dup = F.sum(
        F.when(F.col("role") == F.col("_prev_role"), 1).otherwise(0)
    )
    first_role = F.expr("min_by(role, turn_idx)")
    last_role = F.expr("max_by(role, turn_idx)")
    agg = t.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        first_role.alias("first_role"),
        last_role.alias("last_role"),
        dup.cast("bigint").alias("n_adjacent_dups"),
        F.max(
            (F.col("role") == "assistant").cast("int")
        ).alias("_has_asst"),
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "first_role",
        "last_role",
        "n_adjacent_dups",
        (
            (F.col("first_role") == "user")
            & (F.col("last_role") == "assistant")
            & (F.col("n_adjacent_dups") == 0)
            & (F.col("_has_asst") == 1)
        ).alias("alternation_ok"),
    )


def _line_len() -> F.Column:
    """Rendered length of one turn: 'role: text\\n'."""
    return F.length("role") + F.lit(2) + F.length("text") + F.lit(1)


def pack_sft(
    turns: DataFrame, capacity: int = 2048
) -> DataFrame:
    """SFT sequence packing WITH loss masks: pack whole conversations
    (never split — the SFT invariant pretraining packing doesn't
    have) into fixed-capacity training sequences in conv_id order and
    emit every assistant turn's loss-mask span re-based to its pack:

        pack_id    = exclusive_prefix_sum(conv_len) DIV capacity
        conv_off   = prefix_sum − min(prefix_sum) within the pack
        span       = conv-internal offsets (loss_mask_spans) + conv_off

    A conversation longer than `capacity` overflows its pack (packs
    are bounded by capacity + max_conv_len − 1); the assignment stays
    a pure function of the corpus, bit-identical across engines.

    Scale shape: the prefix sum over the CONVERSATION-sized length
    table uses the merge.with_global_seq two-level discipline — range
    shuffle on conv_id, within-partition cumsum in one Arrow
    mapInPandas pass (no global single-partition window), per-partition
    totals (scalar driver traffic) broadcast back as offsets.  Then
    one pack_id window (pack-sized groups) and one conv_id-keyed join
    against the turn-level spans."""
    from pyspark import StorageLevel

    lens = (
        turns.groupBy("conv_id")
        .agg(F.sum(_line_len()).cast("bigint").alias("_len"))
        .repartitionByRange("conv_id")
        .sortWithinPartitions("conv_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        totals = {
            r["_pid"]: r["s"]
            for r in lens.groupBy("_pid")
            .agg(F.sum("_len").alias("s"))
            .collect()
        }
        offsets, acc = [], 0
        for pid in sorted(totals):
            offsets.append((pid, acc))
            acc += int(totals[pid])
        spark = turns.sparkSession
        off_df = spark.createDataFrame(
            offsets or [(0, 0)], "_pid int, _off long"
        )

        def _cumsum(batches):
            run = 0
            for pdf in batches:
                ln = pdf["_len"].to_numpy()
                cum = ln.cumsum() + run - ln  # exclusive
                run += int(ln.sum())
                pdf = pdf.assign(_cum=cum)
                yield pdf[["conv_id", "_pid", "_cum"]]

        local = lens.mapInPandas(
            _cumsum, "conv_id string, _pid int, _cum long"
        )
        s = (
            local.join(F.broadcast(off_df), "_pid", "left")
            .select(
                "conv_id",
                (
                    F.col("_cum")
                    + F.coalesce(F.col("_off"), F.lit(0))
                ).alias("_s"),
            )
            .withColumn(
                "pack_id",
                F.expr(f"_s DIV {int(capacity)}").cast("bigint"),
            )
        )
        wpack = Window.partitionBy("pack_id")
        placed = s.withColumn(
            "conv_off", (F.col("_s") - F.min("_s").over(wpack))
        )
        spans = loss_mask_spans(turns)
        return spans.join(placed, "conv_id").select(
            "pack_id",
            "conv_id",
            "turn_idx",
            (F.col("span_start") + F.col("conv_off"))
            .cast("bigint")
            .alias("span_start"),
            (F.col("span_end") + F.col("conv_off"))
            .cast("bigint")
            .alias("span_end"),
        )
    finally:
        # the collect above already materialized `lens`; it stays
        # cached for the second job in the returned plan and Spark's
        # LRU reclaims it (same convention as merge.with_global_seq
        # when no staging list is passed).
        pass


def response_latency(turns: DataFrame) -> DataFrame:
    """Reply-latency distribution: for every (user → first following
    assistant) pair — same intervening-user guard as
    build_sft_pairs — the whole-second latency between the two
    turns' ingest timestamps, summarized as exact integer order-
    statistic quantiles (p50/p90/p99 via sketch.int_quantiles).

    Shape: the pair extraction reuses the single descending-frame
    conv window (no corpus self-join); the quantile step's corpus
    pass is one map-side-combined groupBy on the distinct latency
    values."""
    from .sketch import int_quantiles

    w_follow = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    asst_idx = F.min(
        F.when(F.col("role") == "assistant", F.col("turn_idx"))
    ).over(w_follow)
    user_idx = F.min(
        F.when(F.col("role") == "user", F.col("turn_idx"))
    ).over(w_follow)
    asst_ts = F.expr(
        "min_by(CASE WHEN role = 'assistant' THEN ts END,"
        " CASE WHEN role = 'assistant' THEN turn_idx END)"
    ).over(w_follow)
    pairs = (
        turns.select(
            "conv_id",
            "turn_idx",
            "role",
            "ts",
            asst_idx.alias("asst_idx"),
            user_idx.alias("next_user_idx"),
            asst_ts.alias("asst_ts"),
        )
        .filter(
            (F.col("role") == "user")
            & F.col("asst_idx").isNotNull()
            & (
                F.col("next_user_idx").isNull()
                | (F.col("asst_idx") < F.col("next_user_idx"))
            )
        )
        .select(
            F.expr(
                "(unix_micros(asst_ts) - unix_micros(ts)) DIV 1000000"
            )
            .cast("bigint")
            .alias("latency_s")
        )
    )
    return int_quantiles(pairs, "latency_s")


def rollout_diversity(turns: DataFrame) -> DataFrame:
    """Distinct-n diversity of rollout groups — the mode-collapse
    metric of RL / best-of-n sampling: per shared-prompt group, the
    fraction of assistant bigrams that are distinct across all
    rollouts (1000 = every bigram unique; low values = rollouts
    parroting each other).  Output (prompt_key, n_rollouts,
    n_bigrams, n_distinct, distinct_permille) for groups with at
    least one assistant bigram; the ratio is integer permille
    (truncating division) so both engines agree exactly.

    Shape: one conv-keyed aggregate (prompt keys), joined back on the
    conv key; bigrams explode from a zip_with over the token array
    (bounded per turn); the distinct count shuffles on prompt_key —
    group-bounded (rollout groups are fan-out-sized, never
    corpus-sized)."""
    pk = turns.groupBy("conv_id").agg(
        F.md5(F.expr("min_by(text, turn_idx)")).alias("prompt_key")
    )
    nr = pk.groupBy("prompt_key").agg(
        F.count("*").cast("bigint").alias("n_rollouts")
    )
    bg = (
        turns.filter(F.col("role") == "assistant")
        .join(pk, "conv_id")
        .select(
            "prompt_key", F.split(F.col("text"), " ").alias("ws")
        )
        .filter(F.size("ws") >= 2)
        .select(
            "prompt_key",
            F.explode(
                F.expr(
                    "zip_with(slice(ws, 1, size(ws) - 1),"
                    " slice(ws, 2, size(ws) - 1),"
                    " (a, b) -> concat(a, ' ', b))"
                )
            ).alias("bg"),
        )
    )
    st = bg.groupBy("prompt_key").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.countDistinct("bg").cast("bigint").alias("n_distinct"),
    )
    return st.join(nr, "prompt_key").select(
        "prompt_key",
        "n_rollouts",
        "n_bigrams",
        "n_distinct",
        F.expr("(1000 * n_distinct) DIV n_bigrams")
        .cast("bigint")
        .alias("distinct_permille"),
    )
