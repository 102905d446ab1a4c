"""Sampled pair-delta BPE training — the production trainer shape.

``plans/curation.text_bpe_train`` (r13) is the reference fixed-round
form: each learned merge costs a full pass over every document's state
string plus a corpus-wide pair-count exchange. Real tokenizer training
(SentencePiece, HF tokenizers) never does that — it (1) collapses the
corpus to a DISTINCT-WORD frequency table once (BPE pairs never span
words, so a word contributes its pair multiset times its count; Heaps'
law makes |vocab| << corpus tokens), (2) trains on a deterministic
corpus SAMPLE, and (3) maintains the pair-count relation by DELTA: a
merge (a, b) changes only words whose state contains the pair, so the
new counts are ``old − pairs(affected before) + pairs(affected after)``
— a keyed incremental aggregation (the ``table_incremental_agg``
pattern), not a recount.

Exactness (what keeps the DuckDB unrolled-recurrence oracle
hash-green): the delta identity above is exact over integers — replace
is word-local and exhaustive per word (functions/bpe.py module proof),
unaffected words' pair multisets are untouched, and +/- integer weights
commute under sum — so after every round the maintained relation equals
a full recount bit-for-bit, and the learned merge sequence (argmax by
count DESC, then lexicographic (a, b) — a total order over ASCII
[a-z0-9] tokens, identical collation in both engines) is reproducible.

Scale shape (the loop discipline of operators/graph.py): ONE exchange
over the corpus sample builds the word-frequency vocab (the trainer
never reads the corpus again); the loop runs on an AQE-off private
session sized to the measured vocab; each round's data movement is one
vocab-scale filter+explode (narrow) feeding one pair-relation groupBy
exchange, plus a bounded 1-row argmax collect (the IRLS/centroid
pattern). The pair-count relation is eagerly localCheckpointed every
round (two next-round consumers: the argmax and the merge input — the
SSSP lesson: lazy rounds re-embed the prior subtree exponentially); the
vocab relation carries at most ``vocab_checkpoint_every`` pending
narrow replaces before its own checkpoint truncates the chain.

Measured passes-vs-deltas (sf0.1 documents, local[32], quiet launch,
median of 3): the r13 full-pass trainer spends 9.68 s learning 6
merges (1.61 s per merge — each one a full corpus pair-explode +
exchange); this trainer learns 64 merges in 12.91 s TOTAL (0.20 s per
merge) — the per-merge cost drops ~8× because a round is vocab-scale,
not corpus-scale, and is FLAT in corpus size after the one sampling
pass (at 100 TB the full-pass form is K corpus scans; this is one).

No reference parity: the reference (task.ts:1-224) has no tokenizer;
this extends SURVEY §2 C4 per the r13 VERDICT mandate (item 1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import bpe as BPE
from .graph import narrow_private_session, observed_checkpoint, on_session

# Adjacent-pair extraction from a token list: the same expression the
# r13 full-pass trainer counts with (plans/curation.py) — kept textually
# identical so both trainers count the same relation.
_PAIRS_EXPR = (
    "transform(sequence(1, size(tk) - 1), "
    "i -> struct(element_at(tk, i) AS a, element_at(tk, i + 1) AS b))"
)


def _pair_counts(vocab: DataFrame, state: Column, weight: Column) -> DataFrame:
    """(a, b, wt) — every adjacent token pair of ``state``, one row per
    occurrence, carrying ``weight`` (word count, possibly negated for
    delta retraction). Narrow until the caller aggregates."""
    tk_df = vocab.select(BPE.word_tokens(state).alias("tk"), weight.alias("wt"))
    return (
        tk_df.filter(F.size("tk") >= 2)
        .select(F.explode(F.expr(_PAIRS_EXPR)).alias("pr"), "wt")
        .select("pr.a", "pr.b", "wt")
    )


def _init_training_state(
    docs: DataFrame, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared trainer setup — the ONLY corpus-scale step, one exchange:
    the distinct-word frequency vocab (initial per-word state = every
    character its own marker-wrapped token, functions/bpe.initial_state
    applied per word), hopped onto an AQE-off private session sized to
    the measured vocab, plus the initial pair-count relation over it.
    Both trainers call this — the batched trainer's exactness claims are
    'inherited from train_merges_delta', which holds only while the two
    start from the IDENTICAL state, so the initialization lives in one
    place instead of two lockstep copies (r15 ADVICE)."""
    caller = docs.sparkSession
    vocab0, seen = observed_checkpoint(
        docs.select(F.explode(BPE.words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("wc"))
        .select(
            F.regexp_replace("w", "(.)", f"{BPE.O}$1{BPE.C}").alias("state"),
            "wc",
        )
    )
    priv = narrow_private_session(caller, seen["rows"])
    vocab = on_session(vocab0, priv)

    pc = (
        _pair_counts(vocab, F.col("state"), F.col("wc"))
        .groupBy("a", "b")
        .agg(F.sum("wt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    return vocab, pc


def train_merges_delta(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = 64,
    vocab_checkpoint_every: int = 8,
) -> list[tuple[int, str, str, str, int]]:
    """Learn up to ``rounds`` BPE merges from ``docs`` (already sampled
    by the caller) via delta-maintained pair counts over the
    distinct-word frequency vocab. Returns
    ``[(merge_rank, a, b, merged, cnt), ...]`` — stops early when no
    pair remains (every distinct word fully collapsed), in lockstep
    with the unrolled oracle's empty-relation propagation."""
    vocab, pc = _init_training_state(docs, text_col)

    learned: list[tuple[int, str, str, str, int]] = []
    pending = 0
    for k in range(1, rounds + 1):
        best = pc.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        # pc is filtered to cnt > 0 each round, so a non-positive argmax
        # can only mean the delta maintenance corrupted the counts —
        # surface it instead of silently ending training early.
        if cnt <= 0:
            raise AssertionError(
                f"BPE delta maintenance produced a non-positive argmax "
                f"count ({a!r},{b!r})={cnt} at round {k} — pair-count "
                "relation is corrupted"
            )
        learned.append((k, a, b, a + b, cnt))
        pat, rep = BPE.merge_pattern(a, b)

        # Delta: only words containing the merged pair change state —
        # retract their old pair rows (−wc), assert the new ones (+wc).
        affected = vocab.filter(F.col("state").contains(pat))
        neg = _pair_counts(affected, F.col("state"), -F.col("wc"))
        pos = _pair_counts(
            affected,
            F.replace(F.col("state"), F.lit(pat), F.lit(rep)),
            F.col("wc"),
        )
        pc = (
            pc.select("a", "b", F.col("cnt").alias("wt"))
            .unionByName(neg)
            .unionByName(pos)
            .groupBy("a", "b")
            .agg(F.sum("wt").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint(eager=True)
        )

        # The vocab update is a narrow no-op-on-unaffected replace;
        # checkpoint every few rounds so a round evaluates a bounded
        # replace chain, never the whole history.
        vocab = vocab.withColumn(
            "state", F.replace(F.col("state"), F.lit(pat), F.lit(rep))
        )
        pending += 1
        if pending >= vocab_checkpoint_every:
            vocab = vocab.localCheckpoint(eager=True)
            pending = 0
    return learned


def train_merges_batched(
    docs: DataFrame,
    text_col: str = "text",
    batch_rounds: int = 16,
    batch_k: int = 16,
    stats_out: list | None = None,
) -> list[tuple[int, str, str, str, int]]:
    """Vocab-scale trainer shape (r15 — r14 VERDICT item 2): amortize
    the per-merge driver round trip by learning a BATCH of merges per
    driver round. ``train_merges_delta`` collects one argmax row per
    merge — at a real 32k-100k vocab that is tens of thousands of py4j
    round trips + checkpoints (hours of driver-loop LATENCY, not
    compute). Here each round collects the top-``batch_k`` pair
    frontier ONCE, selects the dominance-filtered token-disjoint
    subset, and applies every selected merge in one vocab update + one
    pair-count delta, so driver round trips scale with
    ``merges / |batch|``, not ``merges``.

    Selection rule (mirrored verbatim by the DuckDB oracle): rank the
    frontier by (cnt DESC, a, b); walk it in order, GREEDILY keeping
    each candidate whose token triple {a, b, a+b} is disjoint from the
    union of all previously KEPT triples — the maximal-independent-set
    walk standard in parallel BPE training. (A non-recursive dominance
    variant — conflict vs every higher-ranked row, kept or not — was
    measured first: it degenerates to ~1 merge/round once the frontier
    concentrates on a few hot tokens, because one unkept conflicted row
    poisons everything below it. Greedy admits strictly more.) The
    walk is sequential over <= batch_k rows, so the oracle expresses it
    as a depth-K recursive CTE carrying the used-token list. Top-1
    always survives, so every round learns >= 1 merge.

    Correctness of batching (why the result is well-defined and the
    recorded counts exact): selected merges are pairwise
    token-disjoint INCLUDING merged outputs, so (1) no merge's pattern
    can overlap another's in any word state — marker-wrapped tokens
    match only at token boundaries, and disjoint token sets can never
    claim the same position — hence the replaces commute and applying
    them in rank order equals applying them in any order; (2) merging
    (a, b) only destroys pairs touching a or b and only creates pairs
    touching the new token a+b, so the round-start count of every
    other selected pair is invariant under the earlier merges in the
    batch — the recorded (rank, pair, cnt) rows are exactly the counts
    the pairs had when measured. The sequence can differ from strict
    sequential BPE (a pair created mid-batch could out-count a later
    batch member), which is the standard trade in parallel BPE
    training; determinism and the hash gate are preserved because the
    oracle computes the identical batched recurrence.

    Delta maintenance, exactness of the pair-count relation, and loop
    discipline are inherited from ``train_merges_delta`` (module
    docstring): affected words = states containing ANY selected
    pattern; retraction uses the pre-batch state, assertion the
    post-batch state; integer +/- weights commute under sum, so the
    maintained relation equals a full recount bit-for-bit. The vocab
    checkpoint cadence is per ROUND here — a batch already chains up
    to ``batch_k`` narrow replaces, which is the bounded chain depth
    the single-merge form reaches only every ``vocab_checkpoint_every``
    rounds.

    Measured (sf0.1 documents sample, local[32], same warm session,
    back-to-back): the 64-round delta form learns 64 merges in 36.5 s
    (0.571 s/merge, 64 driver collects); the 16x16 greedy-batched form
    learns 89 merges — the fixture vocab's ENTIRE merge space, pc
    drains — in 4.8-11.0 s (0.054-0.123 s/merge, 16 driver collects:
    0.18 round trips per merge vs 1.0). Per-merge cost falls ~5-10x
    and, more importantly for the 32k-vocab case, driver ROUND TRIPS
    per merge fall with 1/|batch| — the quantity that was hours of
    latency at real vocab scale.
    """
    import time as _time

    vocab, pc = _init_training_state(docs, text_col)

    learned: list[tuple[int, str, str, str, int]] = []
    for r in range(1, batch_rounds + 1):
        _t0 = _time.perf_counter()
        top = pc.orderBy(F.col("cnt").desc(), "a", "b").limit(batch_k).collect()
        if not top:
            break
        sel: list[tuple[str, str, int]] = []
        used: set[str] = set()
        for row in top:
            trip = {row["a"], row["b"], row["a"] + row["b"]}
            if not (trip & used):
                sel.append((row["a"], row["b"], int(row["cnt"])))
                used |= trip
        for a, b, cnt in sel:
            if cnt <= 0:
                raise AssertionError(
                    f"BPE delta maintenance produced a non-positive "
                    f"frontier count ({a!r},{b!r})={cnt} at batch round "
                    f"{r} — pair-count relation is corrupted"
                )
            learned.append((len(learned) + 1, a, b, a + b, cnt))

        pats = [BPE.merge_pattern(a, b) for a, b, _ in sel]
        any_pat = pats[0][0]
        contains = F.col("state").contains(any_pat)
        for pat, _ in pats[1:]:
            contains = contains | F.col("state").contains(pat)
        new_state = F.col("state")
        for pat, rep in pats:
            new_state = F.replace(new_state, F.lit(pat), F.lit(rep))

        affected = vocab.filter(contains)
        neg = _pair_counts(affected, F.col("state"), -F.col("wc"))
        pos = _pair_counts(affected, new_state, F.col("wc"))
        pc = (
            pc.select("a", "b", F.col("cnt").alias("wt"))
            .unionByName(neg)
            .unionByName(pos)
            .groupBy("a", "b")
            .agg(F.sum("wt").alias("cnt"))
            .filter(F.col("cnt") > 0)
            .localCheckpoint(eager=True)
        )
        vocab = vocab.withColumn("state", new_state).localCheckpoint(
            eager=True
        )
        if stats_out is not None:
            # Per-round amortization telemetry (tools/bpe_scale_probe.py):
            # admitted/|frontier| is the quantity that must NOT collapse
            # as the frontier concentrates at vocab scale.
            stats_out.append(
                {
                    "round": r,
                    "frontier": len(top),
                    "admitted": len(sel),
                    "wall_s": round(_time.perf_counter() - _t0, 3),
                }
            )
    return learned
