"""Round-4 curation operators: snapshot-diff/merge round trip, SemDeDup
keep-policy invariants, bigram-LM relation sanity (value parity itself is
covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_drone_sense_spark.operators.merge import merge_into, snapshot_diff
from etl_drone_sense_spark.plans.curation import (
    _DOMAIN_BUDGET_TOKENS,
    _MIXTURE_WEIGHTS,
    cdc_snapshot_diff,
    corpus_domain_budget,
    corpus_mixture_sample,
    dedup_semantic,
    events_pattern_match,
    layout_zorder,
    sample_importance,
    text_bigram_lm,
)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_snapshot_diff_roundtrip(spark, sf_dir):
    """snapshot_diff is the inverse of merge_into: applying the derived
    changelog to the old snapshot reproduces the new snapshot exactly."""
    from etl_drone_sense_spark.sources.readers import read_table

    old = read_table(spark, sf_dir, "nation")
    new = (
        old.filter(F.col("n_nationkey") % 7 != 0)
        .withColumn(
            "n_name",
            F.when(
                F.col("n_nationkey") % 5 == 0, F.lit("edited")
            ).otherwise(F.col("n_name")),
        )
        .unionByName(
            old.filter(F.col("n_nationkey") % 11 == 0).select(
                (F.col("n_nationkey") + 100).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            )
        )
    )
    diff = snapshot_diff(old, new, ["n_nationkey"])
    ops = {r.op for r in diff.collect()}
    assert ops == {"I", "U", "D"}  # the mutation exercises every tier
    merged = merge_into(old, diff, ["n_nationkey"]).drop("action")
    assert _rows(merged) == _rows(new)


def test_snapshot_diff_delete_carries_preimage(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    new = spark.createDataFrame([(2, "b")], "k long, v string")
    d = snapshot_diff(old, new, ["k"]).collect()
    assert len(d) == 1 and d[0].op == "D" and d[0].v == "a"  # Delta-CDF preimage


def test_snapshot_diff_identical_rows_absent(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], "k long, v string")
    assert snapshot_diff(df, df, ["k"]).count() == 0  # null-safe comparison


def test_semantic_dedup_keep_policy(spark, sf_dir):
    """Greedy keep-first-by-id: every dropped vector has a ≥-threshold
    LOWER-id neighbor in its own cell; kept vectors have none. The seeded
    companions guarantee the check is non-vacuous."""
    out = dedup_semantic(spark, sf_dir).collect()
    dropped = [r for r in out if not r.kept]
    kept = [r for r in out if r.kept]
    assert dropped, "seeding must produce semantic duplicates"
    assert all(r.n_dup_prior > 0 for r in dropped)
    assert all(r.n_dup_prior == 0 for r in kept)
    # Exactly one row per input vector (500 fixture + 50 companions).
    assert len(out) == 550


def test_cdc_diff_tiers_nonvacuous(spark, sf_dir):
    ops = {
        r.op: r.n
        for r in cdc_snapshot_diff(spark, sf_dir)
        .groupBy("op")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(ops) == {"I", "U", "D"} and min(ops.values()) > 0


def test_zorder_skips_more_files_than_linear(spark, sf_dir):
    """The point of the layout: for a custkey range predicate, the
    fraction of files whose min/max stats overlap the range must be
    strictly smaller under z-order than under the linear (date) sort,
    where every file spans the whole custkey domain."""
    stats = layout_zorder(spark, sf_dir).collect()

    def overlapping(layout, lo, hi):
        return sum(
            1
            for r in stats
            if r.layout == layout and r.max_cust >= lo and r.min_cust <= hi
        )

    z, lin = overlapping("zorder", 100, 199), overlapping("linear", 100, 199)
    assert z < lin
    # The date dimension stays useful too: a day-range predicate must not
    # degrade to scanning every z-ordered file.
    zd = sum(
        1
        for r in stats
        if r.layout == "zorder" and r.max_day >= 0 and r.min_day <= 300
    )
    assert zd < 16


def test_dsir_surfaces_heldout_target_flavor(spark, sf_dir):
    """The DSIR claim: documents distributionally similar to the target
    must outrank the rest WITHOUT being labeled target. The 10 held-out
    target-flavored seeds (source='tgt_holdout') and the 10 declared
    target seeds must fill the top of the ranking; the off-domain spam
    seeds must not appear anywhere in the top-N."""
    top = sample_importance(spark, sf_dir).collect()
    ranks = {r.doc_id: i for i, r in enumerate(top)}
    holdout = [-9100 - i for i in range(10)]
    off = [-9200 - i for i in range(10)]
    assert all(d in ranks and ranks[d] < 25 for d in holdout)
    # Off-domain seeds may still enter the tail (rare-token inflation is a
    # known DSIR artifact: buckets absent from BOTH distributions score
    # ~neutral while common source text scores negative) — but they must
    # rank strictly below every target-flavored document.
    worst_target = max(
        ranks[d] for d in holdout + [-9000 - i for i in range(10)]
    )
    assert all(ranks.get(d, len(top)) > worst_target for d in off)
    # Scores are ordered and the ordering is strict-deterministic.
    scores = [(r.score, r.doc_id) for r in top]
    assert scores == sorted(scores, key=lambda p: (-p[0], p[1]))


def test_mixture_sample_hits_targets(spark, sf_dir):
    """Realized shares must approximate the target weights (md5 coin is
    uniform-ish): each within 10 points; capped domains keep every row."""
    out = corpus_mixture_sample(spark, sf_dir).collect()
    from etl_drone_sense_spark.sources.readers import read_table

    src = {
        r.lang: r.n
        for r in read_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = len(out)
    by_lang = {}
    for r in out:
        by_lang[r.lang] = by_lang.get(r.lang, 0) + 1
    for lang, w in _MIXTURE_WEIGHTS.items():
        assert abs(by_lang.get(lang, 0) / total - w) < 0.10, lang
    # rate-capped domains (under-represented vs target) keep all rows
    capped = {r.lang for r in out if r.rate_ppm == 1_000_000}
    for lang in capped:
        assert by_lang[lang] == src[lang]


def test_domain_budget_caps_expected_tokens(spark, sf_dir):
    """Per-domain kept-token expectation must track the budget for
    truncated domains (rate < 1: binomial mean = budget, so within ~35%
    at fixture scale), rate-1 domains must keep every row (the seeded
    URL domains — which also pins the canonical-URL host derivation),
    and both regimes must be present (non-vacuity)."""
    out = corpus_domain_budget(spark, sf_dir).collect()
    by_dom: dict[str, list] = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    rates = {d: rows[0].rate_ppm for d, rows in by_dom.items()}
    capped = {d for d, p in rates.items() if p == 1_000_000}
    truncated = {d for d, p in rates.items() if p < 1_000_000}
    assert capped and truncated, "both rate regimes must be exercised"
    # URL-derived domains from the HTML seeds survive whole
    assert {"example.com", "mirror.test.org"} <= capped
    for d in truncated:
        kept_tokens = sum(r.n_tokens for r in by_dom[d])
        assert abs(kept_tokens - _DOMAIN_BUDGET_TOKENS) < (
            0.35 * _DOMAIN_BUDGET_TOKENS
        ), (d, kept_tokens)


def test_keep_best_matches_unionfind_argmax(spark, sf_dir):
    """dedup_keep_best re-derived independently: union-find over the LSH
    pair relation + python argmax by (quality DESC, doc_id) — pins the
    composition (cluster labels, member counts, the keep flag) without
    trusting either engine's window machinery."""
    from etl_drone_sense_spark.operators.dedup import minhash_lsh_pairs
    from etl_drone_sense_spark.plans.extensions import (
        MH_BANDS,
        MH_K,
        SHINGLE_N,
        dedup_keep_best,
    )
    from etl_drone_sense_spark.sources.readers import read_table
    from .test_graph import _union_find

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text",
        k=MH_K, bands=MH_BANDS, threshold=0.2, shingle_n=SHINGLE_N,
    )
    raw = [(r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()]
    comp = _union_find(raw)

    got = dedup_keep_best(spark, sf_dir).collect()
    quality = {r.doc_id: r.quality_score for r in got}
    members: dict[int, list[int]] = {}
    for node, lab in comp.items():
        members.setdefault(lab, []).append(node)
    want = set()
    for lab, mem in members.items():
        best = min(mem, key=lambda d: (-quality[d], d))
        for d in mem:
            want.add((d, lab, len(mem), d == best))
    assert {(r.doc_id, r.cluster, r.n_members, r.kept) for r in got} == want
    assert any(not r.kept for r in got), "fixture must have droppable dups"


def test_pattern_match_against_bruteforce(spark, sf_dir):
    """Re-derive matches in python for a sample of users: for each
    purchase, the last qualifying click (preceded ≤30min by a view) at
    most 30min before it."""
    from etl_drone_sense_spark.sources.readers import read_table

    got = [
        r
        for r in events_pattern_match(spark, sf_dir).collect()
        if r.user_id % 10 == 0
    ]
    ev = sorted(
        (
            (r.user_id, r.ts, r.event_id, r.event_type)
            for r in read_table(spark, sf_dir, "events").collect()
            if r.user_id % 10 == 0
        ),
    )
    from collections import defaultdict
    from datetime import timedelta

    per_user = defaultdict(list)
    for u, ts, eid, et in sorted(ev, key=lambda t: (t[0], t[1], t[2])):
        per_user[u].append((ts, eid, et))
    from etl_drone_sense_spark.plans.curation import _PATTERN_GAP_MIN

    gap = timedelta(minutes=_PATTERN_GAP_MIN)
    want = []
    for u, rows in per_user.items():
        last_view = None
        q_click = q_view = None
        for ts, eid, et in rows:
            if et == "view":
                last_view = ts
            elif et == "click" and last_view is not None and ts <= last_view + gap:
                q_click, q_view = ts, last_view
            elif et == "purchase" and q_click is not None and ts <= q_click + gap:
                want.append((u, q_view, q_click, ts, eid))
    got_set = {
        (r.user_id, r.view_ts, r.click_ts, r.purchase_ts, r.purchase_event_id)
        for r in got
    }
    assert got_set == set(want)
    assert want, "fixture must contain at least one full chain"


def test_stream_dedup_restores_original_relation(spark, sf_dir):
    """The landing holds events + exact copies of every 7th event; the
    streaming dedup must emit exactly one row per event_id — and the
    injection must be real (landing strictly larger than the fixture)."""
    from etl_drone_sense_spark.plans.curation import stream_dedup_exact
    from etl_drone_sense_spark.sources.readers import (
        _BUILT,
        fixture_fingerprint,
        read_table,
    )

    out = stream_dedup_exact(spark, sf_dir)
    n_events = read_table(spark, sf_dir, "events").count()
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events
    cache_key = (
        "sg_dedup_landing_",
        sf_dir,
        fixture_fingerprint(f"{sf_dir}/events.parquet"),
    )
    landing = spark.read.parquet(_BUILT[cache_key])
    assert landing.count() > n_events


def test_retention_cohort_offsets_nonnegative(spark, sf_dir):
    from etl_drone_sense_spark.plans.curation import events_retention_cohorts

    rows = events_retention_cohorts(spark, sf_dir).collect()
    assert rows and all(r.week_offset >= 0 for r in rows)
    # Offset 0 exists for every cohort (the first-touch week itself).
    cohorts = {r.cohort_week for r in rows}
    zero = {r.cohort_week for r in rows if r.week_offset == 0}
    assert zero == cohorts


def test_bigram_lm_excludes_short_docs(spark, sf_dir):
    """Docs with < 2 tokens yield no bigrams (unpadded n-gram semantics)
    and must be absent; every present doc has n_bigrams = n_tokens - 1."""
    from etl_drone_sense_spark.functions import text as TXT
    from etl_drone_sense_spark.sources.readers import read_table

    scored = {r.doc_id: r for r in text_bigram_lm(spark, sf_dir).collect()}
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", TXT.token_count(F.col("text")).alias("nt")
    )
    for row in docs.collect():
        if row.nt < 2:
            assert row.doc_id not in scored
        else:
            assert scored[row.doc_id].n_bigrams == row.nt - 1


def test_domain_budget_bpe_caps_expected_tokens(spark, sf_dir):
    """The BPE twin must exercise both rate regimes and track the
    tokenizer-token budget for truncated domains, same contract as the
    whitespace original."""
    from etl_drone_sense_spark.plans.curation import (
        _DOMAIN_BUDGET_BPE_TOKENS,
        corpus_domain_budget_bpe,
    )

    out = corpus_domain_budget_bpe(spark, sf_dir).collect()
    by_dom: dict[str, list] = {}
    for r in out:
        by_dom.setdefault(r.domain, []).append(r)
    rates = {d: rows[0].rate_ppm for d, rows in by_dom.items()}
    capped = {d for d, p in rates.items() if p == 1_000_000}
    truncated = {d for d, p in rates.items() if p < 1_000_000}
    assert capped and truncated, "both rate regimes must be exercised"
    assert {"example.com", "mirror.test.org"} <= capped
    for d in truncated:
        kept = sum(r.n_bpe_tokens for r in by_dom[d])
        assert abs(kept - _DOMAIN_BUDGET_BPE_TOKENS) < (
            0.35 * _DOMAIN_BUDGET_BPE_TOKENS
        ), (d, kept)


def test_gopher_bpe_fertility_gate_branches(spark, sf_dir):
    """Seed -201 is the gate's reason to exist: passes every word-level
    Gopher rule yet fails on fertility (uncompressible 9-char consonant
    words). -202 passes both; -203 is wordless (NULL fertility, both
    false). Fixture docs must all clear the fertility bar (the gate adds
    no false positives at 2.89-4.18 tokens/word)."""
    from etl_drone_sense_spark.plans.curation import text_gopher_quality_bpe

    rows = {r.doc_id: r for r in text_gopher_quality_bpe(spark, sf_dir).collect()}
    s_fail = rows[-201]
    assert s_fail.gopher_pass and not s_fail.bpe_pass
    assert s_fail.fertility_ppm > 4_500_000
    s_ok = rows[-202]
    assert s_ok.gopher_pass and s_ok.bpe_pass
    s_empty = rows[-203]
    assert s_empty.n_words == 0 and s_empty.fertility_ppm is None
    assert not s_empty.gopher_pass and not s_empty.bpe_pass
    fixture = [r for i, r in rows.items() if i >= 0]
    assert fixture
    for r in fixture:
        assert r.fertility_ppm <= 4_500_000
        assert r.bpe_pass == r.gopher_pass


def test_quality_ensemble_gates_flip_independently(spark, sf_dir):
    """Each conjunct must be the SOLE reason its seed fails — otherwise
    the ensemble is vacuous for that gate."""
    from etl_drone_sense_spark.plans.curation import corpus_quality_ensemble

    rows = {
        r.doc_id: r for r in corpus_quality_ensemble(spark, sf_dir).collect()
    }
    ok = rows[-701]
    assert ok.keep and ok.gopher_pass and ok.keep_page and ok.lang_pass
    g = rows[-702]  # gopher-only fail (zero stopwords)
    assert (not g.gopher_pass) and g.keep_page and g.lang_pass
    assert g.fertility_ppm <= 4_500_000 and not g.keep
    c = rows[-703]  # c4-only fail (no terminal punctuation)
    assert c.gopher_pass and (not c.keep_page) and c.lang_pass
    assert c.fertility_ppm <= 4_500_000 and not c.keep
    f = rows[-704]  # fertility-only fail
    assert f.gopher_pass and f.keep_page and f.lang_pass
    assert f.fertility_ppm > 4_500_000 and not f.keep
    z = rows[-705]  # language-only fail
    assert z.gopher_pass and z.keep_page and (not z.lang_pass)
    assert z.fertility_ppm <= 4_500_000 and not z.keep


def test_stream_domain_budget_cutoff_state_crosses_batches(spark, sf_dir):
    """The streaming cutoff's whole point is per-domain state carried
    across micro-batches: at the fixture scale every domain's budget
    must run out MID-STREAM (first rejection in batch >= 1, some
    acceptance still in the same batch's predecessor), and the verdict
    must equal an independent python replay of the (batch, doc_id)
    arrival order."""
    from etl_drone_sense_spark.plans.curation import (
        _DOMAIN_BUDGET_TOKENS,
        stream_domain_budget_cutoff,
    )

    rows = stream_domain_budget_cutoff(spark, sf_dir).collect()
    by_dom: dict[str, list] = {}
    for r in rows:
        by_dom.setdefault(r.domain, []).append(r)
    crossed = 0
    for dom, rs in by_dom.items():
        rs.sort(key=lambda r: (r.doc_id % 4, r.doc_id))
        cum = 0
        for r in rs:
            assert r.cum_before == cum, (dom, r.doc_id)
            assert r.accepted == (cum < _DOMAIN_BUDGET_TOKENS), (dom, r.doc_id)
            cum += r.n_tokens
        first_rej = next((r for r in rs if not r.accepted), None)
        assert first_rej is not None, f"{dom}: budget never ran out"
        if first_rej.doc_id % 4 >= 1:
            crossed += 1
    assert crossed >= 3, "cutoffs never straddled a micro-batch boundary"
