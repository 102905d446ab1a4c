"""Deduplication operators (extension surface, SURVEY §2 Part C1/C2).

Four strategies, all shaped for 100 TB:

* exact          — hash-groupBy on a canonical fingerprint. One shuffle on
                   the fingerprint; map-side partial aggregation applies.
* MinHash + LSH  — shingle → k salted min-hashes → band buckets → equi-join
                   on (band, bucket). The join is on a hashed key, so it
                   shuffles candidate *buckets*, never the O(n²) pair space.
* SimHash        — nbit majority fingerprint + pigeonhole block join for
                   hamming-distance candidates.
* n-gram Jaccard — exact Jaccard verification on LSH candidate pairs
                   (verify-after-block, the standard scalable shape).

Implementation notes for scale:
* signatures are built as ONE array expression per row (a per-component
  column would be duplicated k× by projection collapse — measured 20× wall
  clock on the bench);
* the signature relation feeding a self-join is persisted: Spark cannot
  share a subplan across the two sides of a self-join, and recomputing
  shingle+md5 pipelines is the dominant cost. At production scale this is
  the step you materialize to storage (signatures are ~100 B/doc).
* everything stays Catalyst expressions — no Python in the row path; AQE
  handles skewed buckets (e.g. boilerplate shared by millions of docs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..caching import scoped_persist
from ..functions import text as TXT
from ..sources.readers import rebalance_for_compute


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical (normalized) texts; keep the min id as survivor."""
    return (
        df.withColumn("fp", TXT.fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_from_hashes(hashes: Column, k: int = 12) -> Column:
    """k-component minhash signature (array<bigint>) from pre-computed
    shingle hashes: component i = min over shingles of (Aᵢ·h + Bᵢ) mod P.
    Pure integer arithmetic — the md5 cost lives in ``TXT.shingle_hashes``,
    evaluated once per shingle, not once per (shingle, component)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                hashes,
                # (A_i, B_i) = (2i+1, 7919i) — matches TXT._mh_a/_mh_b
                lambda h: F.pmod(h * (i * 2 + 1) + i * 7919, F.lit(TXT.MINHASH_P)),
            )
        ),
    )


def _band_buckets(mhs: Column, k: int, bands: int) -> Column:
    """Per-band bucket keys: md5 of the '|'-joined signature slice."""
    rows = k // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.array_join(
                F.transform(
                    F.slice(mhs, b * rows + 1, rows), lambda x: x.cast("string")
                ),
                "|",
            )
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Two docs become candidates iff some band's signature slice matches
    exactly; estimated Jaccard = fraction of all k components that agree.
    Returns (id_a, id_b, est_jaccard) with id_a < id_b, est >= threshold.

    Scale shape: the md5-per-shingle hash relation is repartitioned (a
    single small input file must not serialize the CPU-heavy hash stage on
    one core) and persisted — it is the one expensive subtree, consumed by
    the signature projection on both sides of the self-join. At production
    scale this is the relation you'd write to storage (~8 B/shingle).
    """
    hv = (
        rebalance_for_compute(df)
        .withColumn("_toks", TXT.tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            TXT.shingle_hashes_from_tokens(F.col("_toks"), shingle_n).alias("hv"),
        )
    )
    hv = scoped_persist("dedup.minhash_hashes", hv)
    sig = hv.select(
        F.col(id_col), minhash_from_hashes(F.col("hv"), k).alias("mhs")
    )
    exploded = sig.select(
        F.col(id_col),
        F.col("mhs"),
        F.posexplode(_band_buckets(F.col("mhs"), k, bands)).alias(
            "band_idx", "bucket"
        ),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.mhs").alias("mhs_a"),
            F.col("b.mhs").alias("mhs_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("mhs_a"),
            F.col("mhs_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(k)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    k: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Exact n-gram Jaccard on LSH candidate pairs (blocked verification)."""
    cands = minhash_lsh_pairs(
        df, id_col, text_col, k=k, bands=bands, threshold=0.0, shingle_n=shingle_n
    ).select("id_a", "id_b")
    sets = (
        rebalance_for_compute(df)
        .withColumn("_toks", TXT.tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            F.array_distinct(
                TXT.shingles_from_tokens(F.col("_toks"), shingle_n)
            ).alias("sh"),
        )
    )
    # joined twice (id_a side and id_b side)
    sets = scoped_persist("dedup.jaccard_sets", sets)
    joined = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        ).join(
            sets.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        joined.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_col(text_col: Column, nbits: int = 16) -> Column:
    """SimHash fingerprint ('0'/'1' string): one md5 per token, per-bit
    majority folded in a single aggregate pass (functions.text.simhash_bits
    is the shared implementation — the oracle SQL renders the same family)."""
    return TXT.simhash_bits(text_col, nbits)


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 16
) -> DataFrame:
    return df.select(
        F.col(id_col), simhash_col(F.col(text_col), nbits).alias("simhash")
    )


def simhash_fingerprints_packed(
    df: DataFrame, id_col: str, text_col: str, nbits: int = 16
) -> DataFrame:
    """(id, fp): the SAME SimHash fingerprint as ``simhash_fingerprints``
    packed into a BIGINT — ``fp = conv(simhash, 2, 10)``, i.e. char j of
    the string form is bit ``nbits - j`` of ``fp`` (MSB-first). The
    packing is a bijection, so bucket keys sliced from it block
    identically and ``bit_count(a XOR b)`` equals the per-char hamming
    sum. A NULL text stays a NULL fingerprint (conv of NULL is NULL).

    Why pack at all (r16 optimization — guide §2.3 "shuffle fewer
    bytes"): everything DOWNSTREAM of the fingerprint — block keys, the
    persisted bucket relation, the pair self-join, the dedup shuffle,
    the exact hamming filter — gets 8-byte integers instead of
    ``nbits``-char strings, and the hamming check collapses from
    ``nbits`` substring comparisons per candidate pair to one XOR +
    popcount. The fingerprint itself stays the narrow per-doc fold
    (``simhash_bits``): an exploded groupBy-sum formulation was measured
    SLOWER here (0.67 s vs 0.29 s at sf0.1) because
    ``rebalance_for_compute`` already spreads the fold across all cores
    and the aggregate adds an exchange the narrow form doesn't have."""
    if nbits > 63:
        # conv(bits, 2, 10).cast('long') overflows for a 64-bit
        # fingerprint with the MSB set (NULL under non-ANSI cast), which
        # would silently DROP candidate pairs — refuse loudly instead
        # (r16 ADVICE; mirrors the key_bits/max_hamming validation)
        raise ValueError(
            f"simhash_fingerprints_packed: nbits must be <= 63, got {nbits}"
        )
    return df.select(
        F.col(id_col),
        F.conv(simhash_col(F.col(text_col), nbits), 2, 10)
        .cast("long")
        .alias("fp"),
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    nbits: int = 16,
    blocks: int = 4,
    key_bits: int | None = None,
    bucket_cap: int | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole blocking: split the fingerprint into ``blocks`` slices; any
    pair within distance ``max_hamming < blocks`` must agree on ≥1 slice, so
    the join key is (slice_idx, slice_value) — never an all-pairs product.

    ``key_bits`` (default: the full slice width) keys each slice on its
    first ``key_bits`` bits only — the adaptive-occupancy hook. A pair
    agreeing on a full slice agrees on any prefix of it, so narrowing the
    key only WIDENS the candidate set; the exact hamming filter below
    makes the OUTPUT invariant to ``key_bits``. What the knob controls is
    Σ|bucket|²: bucket count per slice is 2^key_bits, so callers hold
    occupancy constant by deriving ``key_bits`` from the corpus count
    (see plans/extensions.dedup_simhash_adaptive).

    ``bucket_cap`` (r10 — r9 VERDICT item 3: the dup-heavy quadratic
    output class) keeps only the ``bucket_cap`` LOWEST ids per
    (slice_idx, slice_key) bucket before pairing, bounding per-bucket
    emission at cap·(cap−1)/2 regardless of how duplicate-heavy the
    corpus is. The truncation is deterministic (id-ordered), so an
    oracle encoding the same cap hash-matches exactly. Recall bound:
    the output is EXACT for every pair whose agreeing bucket holds
    ≤ cap members; a pair survives iff in at least one agreeing slice
    both ids rank within that bucket's lowest ``bucket_cap``. The
    row_number+filter shape plans as WindowGroupLimit (per-partition
    top-k, no full bucket sort materialization).

    ``pair_budget`` (r12 — r11 VERDICT item 3: the uncapped emitter as a
    deployment hazard) is an occupancy GUARD for the exact/audit config:
    before the pair self-join runs, one aggregate over the (persisted)
    bucket relation computes the exact candidate-pair count
    Σ |bucket|·(|bucket|−1)/2; if it exceeds the budget the call raises
    ``ValueError`` naming the count and the hottest bucket, instead of
    launching a shuffle that would emit billions of rows. The guard job
    reuses the persisted bucket relation the join needs anyway, so its
    cost is one node-scale aggregate. Deployment guidance: at corpus
    scale prefer ``bucket_cap`` (bounded output class, still
    hash-exact); use ``pair_budget`` when the run must be
    definition-exact but an unbounded pair set would be an OOM/runtime
    hazard — the raise is the circuit breaker, not a fallback.
    """
    if max_hamming >= blocks:
        # the pigeonhole guarantee needs more blocks than allowed
        # differing bits; silently missing pairs would be far worse
        # than refusing the config
        raise ValueError(
            f"pigeonhole blocking requires max_hamming < blocks "
            f"({max_hamming} >= {blocks}): pairs at distance "
            f">= {blocks} can differ in every block and would be "
            "silently missed"
        )
    width = nbits // blocks
    kb = width if key_bits is None else key_bits
    if not 1 <= kb <= width:
        raise ValueError(f"key_bits {kb} outside [1, {width}]")
    # r16 (guide §2.3/§4.1): fingerprints flow as packed BIGINTs, not
    # '0'/'1' strings — the block key is a bit slice (a bijection of the
    # old substring key, so the pigeonhole buckets are identical), the
    # exploded/persisted/joined relation carries 8-byte keys instead of
    # 48-char strings, and the exact hamming filter below collapses from
    # 48 substring comparisons per candidate pair to one bit_count(XOR).
    fp = simhash_fingerprints_packed(
        rebalance_for_compute(df), id_col, text_col, nbits
    )
    # conv packs MSB-first: string chars b*width+1 .. b*width+kb are fp
    # bits nbits-b*width-1 down to nbits-b*width-kb — the slice below is
    # the substring key under that bijection.
    exploded = fp.select(
        F.col(id_col),
        F.col("fp"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("fp", nbits - b * width - kb).bitwiseAND(
                        F.lit((1 << kb) - 1)
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    if bucket_cap is not None:
        if bucket_cap < 2:
            raise ValueError(f"bucket_cap {bucket_cap} must be >= 2")
        w = Window.partitionBy("block_idx", "block_val").orderBy(id_col)
        exploded = (
            exploded.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= bucket_cap)
            .drop("_rk")
        )
    # both sides of the self-join
    exploded = scoped_persist("dedup.simhash_blocks", exploded)
    if pair_budget is not None:
        if pair_budget < 1:
            raise ValueError(f"pair_budget {pair_budget} must be >= 1")
        occ = (
            exploded.groupBy("block_idx", "block_val")
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(
                    # integer DIV, not float /: the guard's whole promise is an
                    # EXACT candidate count, and huge buckets (c*(c-1) > 2^53,
                    # where a double quotient loses integer precision) are
                    # precisely when it must fire correctly.
                    F.expr("(c * (c - 1)) DIV 2")
                ).alias("cand"),
                F.max("c").alias("hot"),
            )
            .first()
        )
        cand = int(occ["cand"] or 0)
        if cand > pair_budget:
            raise ValueError(
                f"simhash candidate-pair count {cand} exceeds "
                f"pair_budget {pair_budget} (hottest bucket holds "
                f"{int(occ['hot'])} members) — the corpus is too "
                "dup-heavy for the uncapped exact emitter; rerun with "
                "bucket_cap or raise the budget"
            )
    a, b = exploded.alias("a"), exploded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.block_idx") == F.col("b.block_idx"),
                F.col("a.block_val") == F.col("b.block_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # bit_count over the XOR of the packed fingerprints == the per-char
    # hamming sum of the string form (bits beyond nbits are 0 on both
    # sides, so they never differ).
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The STORABLE LSH index relation: one row per (doc, band) —
    ``(id, mhs, band_idx, bucket)``, ~(k ints + bands rows) per doc.

    This is the relation a growing lake materializes to a managed table
    (e.g. ``table_commit.commit(..., mode='append')`` per ingest batch):
    each batch hashes only ITS OWN documents once, ever; the corpus side
    of every future probe is a stored scan, not a recompute. Same hash
    family as ``minhash_lsh_pairs``, so probes against the stored index
    are bit-identical to an in-memory run."""
    hv = (
        rebalance_for_compute(df)
        .withColumn("_toks", TXT.tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            TXT.shingle_hashes_from_tokens(F.col("_toks"), shingle_n).alias("hv"),
        )
    )
    hv = scoped_persist("dedup.minhash_index_hashes", hv)  # md5-once barrier
    sig = hv.select(
        F.col(id_col), minhash_from_hashes(F.col("hv"), k).alias("mhs")
    )
    return sig.select(
        F.col(id_col),
        "mhs",
        F.posexplode(_band_buckets(F.col("mhs"), k, bands)).alias(
            "band_idx", "bucket"
        ),
    )


def _mhs_agreement(a: Column, b: Column, k: int) -> Column:
    agree = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return agree / F.lit(float(k))


def minhash_probe_index(
    new_index: DataFrame,
    corpus_index: DataFrame,
    id_col: str,
    threshold: float = 0.2,
    k: int = 12,
) -> DataFrame:
    """Probe a STORED corpus index (``minhash_index`` rows, e.g. read back
    from a ``table_commit`` table) with a new batch's index rows. Same
    output contract as ``minhash_lsh_pairs_incremental`` —
    ``(id_new, id_other, vs_corpus, est_jaccard)`` — but the corpus text
    is never re-read and never re-hashed: join work is
    |new| x bucket occupancy over the stored relation, the true
    growing-lake steady state."""
    a = new_index.alias("a")
    vs_corpus = a.join(
        corpus_index.alias("b"),
        on=[
            F.col("a.band_idx") == F.col("b.band_idx"),
            F.col("a.bucket") == F.col("b.bucket"),
            F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
        ],
    ).select(
        F.col(f"a.{id_col}").alias("id_new"),
        F.col(f"b.{id_col}").alias("id_other"),
        F.lit(True).alias("vs_corpus"),
        F.col("a.mhs").alias("mhs_a"),
        F.col("b.mhs").alias("mhs_b"),
    )
    within_batch = a.join(
        new_index.alias("b"),
        on=[
            F.col("a.band_idx") == F.col("b.band_idx"),
            F.col("a.bucket") == F.col("b.bucket"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),  # each new-new pair once
        ],
    ).select(
        F.col(f"a.{id_col}").alias("id_new"),
        F.col(f"b.{id_col}").alias("id_other"),
        F.lit(False).alias("vs_corpus"),
        F.col("a.mhs").alias("mhs_a"),
        F.col("b.mhs").alias("mhs_b"),
    )
    pairs = vs_corpus.unionByName(within_batch).dropDuplicates(
        ["id_new", "id_other"]
    )
    return (
        pairs.withColumn(
            "est_jaccard", _mhs_agreement(F.col("mhs_a"), F.col("mhs_b"), k)
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_new", "id_other", "vs_corpus", "est_jaccard")
    )


def minhash_lsh_pairs_incremental(
    df: DataFrame,
    id_col: str,
    text_col: str,
    new_pred: Column,
    threshold: float = 0.2,
    k: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup a NEW batch against the full corpus without re-pairing the
    historical corpus (the production shape for a growing lake: history was
    already deduped; only pairs touching new documents matter).

    The banded bucket join is restricted so the probe side is always a new
    document: join cost is |new| × bucket occupancy instead of Σ|bucket|²
    over the whole corpus — on a 100 TB lake ingesting 0.1% a day, ~1000×
    less join work than a full re-pair, with identical per-pair math
    (same hash family / signatures as ``minhash_lsh_pairs``). New-new
    pairs are emitted once (id order); new-old pairs as (new, old).
    Returns (id_new, id_other, vs_corpus, est_jaccard).
    """
    hv = (
        rebalance_for_compute(df)
        .withColumn("_toks", TXT.tokens(F.col(text_col)))
        .select(
            F.col(id_col),
            new_pred.alias("_new"),
            TXT.shingle_hashes_from_tokens(F.col("_toks"), shingle_n).alias("hv"),
        )
    )
    # The persist is a materialization BARRIER, not just reuse: without it
    # Catalyst inlines the md5-per-shingle subtree into each of the k
    # signature components (k× the hashing — the same trap the full
    # variant and winnowing document). Cached hv feeds both join sides.
    hv = scoped_persist("dedup.minhash_inc_hashes", hv)
    sig = hv.select(
        F.col(id_col), F.col("_new"), minhash_from_hashes(F.col("hv"), k).alias("mhs")
    )
    exploded = sig.select(
        F.col(id_col),
        F.col("_new"),
        F.col("mhs"),
        F.posexplode(_band_buckets(F.col("mhs"), k, bands)).alias(
            "band_idx", "bucket"
        ),
    )
    a = exploded.filter(F.col("_new")).alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.bucket") == F.col("b.bucket"),
                F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
                # old partners always pair; new partners only once (ordered)
                (~F.col("b._new")) | (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_other"),
            (~F.col("b._new")).alias("vs_corpus"),
            F.col("a.mhs").alias("mhs_a"),
            F.col("b.mhs").alias("mhs_b"),
        )
        .dropDuplicates(["id_new", "id_other"])
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("mhs_a"),
            F.col("mhs_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.withColumn("est_jaccard", agree / F.lit(float(k)))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_new", "id_other", "vs_corpus", "est_jaccard")
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """C4-style global paragraph/line dedup: across the WHOLE corpus, keep
    only the first occurrence (min (doc_id, pos)) of every distinct
    non-blank paragraph, then reassemble each document from its surviving
    paragraphs in order.

    Returns (id, n_paras, n_kept, text_clean) for every input document —
    n_paras counts non-blank paragraphs, text_clean is '' when everything
    a document had was boilerplate seen earlier.

    Scale shape (r11 rework — the clean-docs bypass, r10 VERDICT item 6):
    explode (narrow, scoped-persisted — it feeds the duplicate census,
    the affected-doc probe, and the dirty-path rebuild) → ONE shuffle on
    the 128-bit paragraph fingerprint counting global occurrences. Docs
    whose every paragraph is globally UNIQUE — the bulk of a deduped-ish
    crawl and ~all of this fixture — can lose nothing (a count-1
    fingerprint is trivially its own first occurrence), so they take a
    PURE COLUMN bypass: n_paras = n_kept = size of the trimmed non-blank
    line array, text_clean = that array rejoined — no window, no
    collect_list, no shuffle. Only docs holding a fingerprint seen ≥ 2
    times run the first-occurrence window + doc-id rebuild, and
    restricting the window input to those docs is EXACT: a ≥2-count
    fingerprint's occurrences are all inside the affected set by
    definition, and a 1-count fingerprint inside an affected doc keeps
    rank 1 in its singleton partition either way. Nothing pairs
    documents; boilerplate shared by millions of docs is a single hot
    fingerprint group handled by AQE. This is the published C4 cleanup
    rule (Raffel et al. 2020, "three-sentence span" dedup) expressed on
    paragraph units.
    """
    from pyspark.sql import Window

    from ..caching import scoped_persist

    # Coalesce NULL text to '' BEFORE splitting: split(NULL) is NULL, and
    # the clean-branch bypass would then emit NULL/NULL/NULL where the
    # operator's contract (and the pre-r11 left-join+coalesce plan, and
    # the SQL oracle) says a no-text doc gets 0/0/''.
    lns = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )
    # r16: (a) spread the split/trim explode out of the single scan task
    # (no-op on splittable sources — guide §2.5); (b) compute the
    # paragraph fingerprint ONCE into the persisted relation — it used to
    # be re-evaluated by the census groupBy, the semi-join probe AND the
    # first-occurrence window (3× the md5 bytes over the whole corpus).
    nonblank = scoped_persist(
        "dedup.paragraphs",
        rebalance_for_compute(docs).select(
            F.col(id_col), F.posexplode(lns).alias("pos", "para")
        ).withColumn("_fp", F.md5(F.col("para"))),
    )
    dup_fps = (
        nonblank.groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("_fp")
    )
    affected = (
        nonblank.join(dup_fps, "_fp", "semi")
        .select(id_col)
        .distinct()
    )
    # The bypass branch re-splits ~every doc's text (size/array_join of
    # lns) — also scan-task work worth spreading.
    clean = rebalance_for_compute(docs).join(affected, id_col, "anti").select(
        F.col(id_col),
        F.size(lns).cast("long").alias("n_paras"),
        F.size(lns).cast("long").alias("n_kept"),
        F.array_join(lns, sep).alias("text_clean"),
    )
    w = Window.partitionBy("_fp").orderBy(id_col, "pos")
    flagged = (
        nonblank.join(affected, id_col, "semi")
        .withColumn("kept", F.row_number().over(w) == 1)
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("pos", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("text_clean"),
    )
    # affected docs all have ≥ 1 paragraph, so the dirty aggregate covers
    # them exactly; every other doc (including all-blank ones, for which
    # the bypass yields 0/0/'') is in the clean branch — the union
    # replaces the old final left join.
    return clean.unionByName(
        docs.select(id_col)
        .join(affected, id_col, "semi")
        .join(agg, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def duplicated_span_stats(
    docs: DataFrame, id_col: str, text_col: str, width: int = 8
) -> DataFrame:
    """ExactSubstr-style duplicated-span audit (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): for every document, how much of it is covered by
    token spans of ``width`` words that also occur verbatim in ANOTHER
    document. The paper removes the spans; this operator emits the
    per-document measurement that drives that removal (and is the usual
    corpus-health metric when span surgery is too aggressive).

    Returns (id, n_spans, n_dup_spans, dup_frac) for EVERY input document
    (short docs with < width tokens report 0 spans).

    Scale shape — the suffix-array of the paper replaced by hashed fixed
    width spans, which distribute: explode to one 48-bit hash per span
    position (narrow, staged-tokens so the tokenize subtree evaluates once
    per doc, not per span), ONE shuffle on the span hash to find hashes in
    >= 2 distinct docs, a semi join back on the same hash (AQE broadcasts
    the dup set when small), then a groupBy on the doc id. Nothing is
    quadratic: a boilerplate span shared by millions of docs is one hot
    hash group, not a pair explosion.
    """
    # r16 (guide §2.5 input under-split): the tokenize+shingle+md5
    # pipeline below is the dominant cost and runs INSIDE the scan task —
    # spread it first (no-op on splittable production sources; measured
    # 1.10 → 0.30 s for the span relation at sf0.1's one-row-group file).
    toks = rebalance_for_compute(docs).select(
        F.col(id_col), TXT.tokens(F.col(text_col)).alias("_toks")
    )
    spans = toks.filter(F.size("_toks") >= width).select(
        F.col(id_col),
        F.explode(
            TXT.shingle_hashes_from_tokens(F.col("_toks"), width)
        ).alias("h"),
    )
    # The span relation feeds both the dup-hash agg and the probe join;
    # persist it so the tokenize+shingle+md5 pipeline (the dominant cost)
    # runs exactly once. Everything downstream — including each doc's
    # TOTAL span count — derives from this relation, so the raw text is
    # never re-tokenized (a prior draft recomputed TXT.tokens on the
    # whole corpus just to project n_spans; review catch r5).
    spans = scoped_persist("dedup.span_hashes", spans)
    dup = (
        spans.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("_dup"))
    )
    # One left join carries the dup flag (AQE broadcasts the small dup
    # set), and ONE aggregate produces both the total and the duplicated
    # span counts per doc — no separate semi join + second shuffle.
    per_doc = (
        spans.join(dup, "h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n_spans"),
            F.count("_dup").alias("_n_dup"),
        )
    )
    # Docs shorter than `width` have no span rows — restore them via a
    # left join from the id spine (ids only: no text is touched).
    return docs.select(id_col).join(per_doc, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce("_n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("_n_dup", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.round(
            F.coalesce("_n_dup", F.lit(0))
            / F.greatest(F.coalesce("_n_spans", F.lit(0)), F.lit(1)).cast(
                "double"
            ),
            6,
        ).alias("dup_frac"),
    )


def editdistance_pairs(
    df: DataFrame,
    id_col: str,
    key_col: Column,
    max_ed: int = 1,
) -> DataFrame:
    """(id_a, id_b, edist): pairs whose KEY strings are within ``max_ed``
    Levenshtein edits — the string-similarity join, via the FastSS
    deletion-neighborhood index (Bocek et al. 2007, "Fast Similarity
    Search in Large Dictionaries").

    Candidate completeness: if ed(a, b) <= k then deleting (at most k)
    characters of each at the edit positions reaches a COMMON string, so
    a's and b's k-deletion neighborhoods intersect — an equi join on the
    variant string finds every true pair, and the exact levenshtein
    filter on top removes the false candidates. No all-pairs comparison
    anywhere (tests/test_editdistance.py proves set-equality against the
    quadratic definition).

    Only max_ed=1 is accepted: the k-deletion neighborhood is C(L, k)
    variants per string — linear in key length for k=1 (L+1 rows), but
    quadratic for k=2 — and the single-deletion neighborhood-intersection
    property is what the oracle SQL transcribes. A wider radius wants a
    segment-based filter (PassJoin), not a bigger neighborhood.

    Scale: the exploded variant relation is N×(L+1) rows of short
    strings; the self-join shuffles BOTH sides on the variant hash —
    bucket occupancy is the deletion-neighborhood collision count, which
    mirrors the true duplicate structure (near-dup-heavy corpora emit
    more candidates because they HAVE more pairs). The distinct collapses
    multi-variant agreement before the levenshtein evaluation."""
    if max_ed != 1:
        raise ValueError(
            "editdistance_pairs implements the single-deletion FastSS "
            f"neighborhood; max_ed must be 1, got {max_ed}"
        )
    keyed = df.select(F.col(id_col).alias("_id"), key_col.alias("_key"))
    variants = keyed.select(
        "_id",
        "_key",
        F.explode(
            F.concat(
                F.array(F.col("_key")),
                F.expr(
                    "transform(sequence(1, length(_key)), "
                    "i -> concat(substring(_key, 1, i - 1), "
                    "substring(_key, i + 1)))"
                ),
            )
        ).alias("_variant"),
    )
    variants = scoped_persist("dedup.ed_variants", variants)
    a = variants.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("_key_a"),
        "_variant",
    )
    b = variants.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("_key_b"),
        "_variant",
    )
    return (
        a.join(b, "_variant")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_key_a", "_key_b")
        .distinct()
        .withColumn("edist", F.levenshtein("_key_a", "_key_b").cast("long"))
        .filter(F.col("edist") <= max_ed)
        .select("id_a", "id_b", "edist")
    )


def editdistance_pairs_passjoin(
    df: DataFrame,
    id_col: str,
    key_col: Column,
    max_ed: int = 2,
) -> DataFrame:
    """(id_a, id_b, edist): pairs of FIXED-LENGTH keys within ``max_ed``
    Levenshtein edits — the PassJoin segment filter (Li, Deng, Feng 2011,
    "PASS-JOIN: A Partition-based Method for Similarity Joins"), the
    scale path past the single-deletion FastSS radius.

    Candidate completeness (same-length strings): partition the key into
    ``max_ed + 1`` segments; at most ``max_ed`` edits touch the
    alignment, so BY PIGEONHOLE one segment is untouched, and the edits
    before it shift its aligned copy in the other string by at most
    ±``max_ed`` positions. Hence an equi-join of every string's exact
    segments against every string's position-shifted substrings (the
    (2·max_ed+1)-slot probe grid) finds every true pair; exact
    levenshtein on the survivors makes the output definition-exact.
    tests/test_editdistance.py proves set-equality against an
    independent quadratic DuckDB join.

    Fixed-length contract: segment offsets are static columns, so the
    key length must be uniform — validated with one tiny distinct-scan
    (driver-side, one value). Variable-length corpora need PassJoin's
    length-grouped indexes; refusing loudly beats silently missing
    cross-length pairs.

    Scale: 3 index rows + ≤15 probe rows per key (for max_ed=2), one
    equi shuffle on (segment_idx, content) — bucket occupancy mirrors
    true duplicate structure exactly like the FastSS join; never
    all-pairs. The neighborhood alternative at k=2 is C(L,2) ≈ 66
    variants per string and grows quadratically with the radius; the
    probe grid grows linearly."""
    keyed = df.select(F.col(id_col).alias("_id"), key_col.alias("_key"))
    lens = [
        r["_l"]
        for r in keyed.select(F.length("_key").alias("_l")).distinct().limit(3).collect()
    ]
    if not lens:  # empty corpus → empty pair relation, not an error
        return keyed.sparkSession.createDataFrame(
            [], "id_a long, id_b long, edist long"
        )
    if len(lens) != 1:
        raise ValueError(
            f"editdistance_pairs_passjoin requires fixed-length keys, "
            f"saw lengths {sorted(lens)}; pad/truncate the key or group "
            "by length first"
        )
    L = int(lens[0])
    segs = max_ed + 1
    if L < segs:
        raise ValueError(f"key length {L} shorter than {segs} segments")
    bounds = []
    start = 0
    base, rem = divmod(L, segs)
    for i in range(segs):
        ln = base + (1 if i < rem else 0)
        bounds.append((i, start, ln))
        start += ln

    idx_structs = [
        F.struct(
            F.lit(i).alias("i"), F.substring("_key", s + 1, ln).alias("c")
        )
        for i, s, ln in bounds
    ]
    probe_structs = [
        F.struct(
            F.lit(i).alias("i"), F.substring("_key", s + d + 1, ln).alias("c")
        )
        for i, s, ln in bounds
        for d in range(-max_ed, max_ed + 1)
        if 0 <= s + d and s + d + ln <= L
    ]
    idx = keyed.select(
        F.col("_id").alias("id_i"),
        F.col("_key").alias("key_i"),
        F.explode(F.array(*idx_structs)).alias("sg"),
    ).select("id_i", "key_i", F.col("sg.i").alias("i"), F.col("sg.c").alias("c"))
    prb = keyed.select(
        F.col("_id").alias("id_p"),
        F.col("_key").alias("key_p"),
        F.explode(F.array(*probe_structs)).alias("sg"),
    ).select("id_p", "key_p", F.col("sg.i").alias("i"), F.col("sg.c").alias("c"))
    lo = F.col("id_i") < F.col("id_p")
    cand = (
        idx.join(prb, ["i", "c"])
        .filter(F.col("id_i") != F.col("id_p"))
        .select(
            F.when(lo, F.col("id_i")).otherwise(F.col("id_p")).alias("id_a"),
            F.when(lo, F.col("id_p")).otherwise(F.col("id_i")).alias("id_b"),
            F.when(lo, F.col("key_i")).otherwise(F.col("key_p")).alias("_key_a"),
            F.when(lo, F.col("key_p")).otherwise(F.col("key_i")).alias("_key_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "edist", F.levenshtein("_key_a", "_key_b").cast("long")
        )
        .filter(F.col("edist") <= max_ed)
        .select("id_a", "id_b", "edist")
    )
