"""Deduplication operators (engine extension: the dedup stage of a
large-scale training-data pipeline).

Four families, all reusable on any DataFrame with a text column:

- exact        — hash-groupBy on a normalized md5 (one shuffle on a short
                 key; at 100 TB this is the cheapest possible dedup pass)
- minhash LSH  — per-row minhash signature (map-only expressions, no
                 explode), band keys, bucket self-join on (band, key) so
                 only LSH candidates are verified with the exact Jaccard;
                 the self-join shuffles ONLY (band, key, doc_id, shingles)
- ngram Jaccard— exhaustive verification via shingle-explode + equi-join
                 (the classic inverted-index pairing) with an optional
                 hot-shingle document-frequency cap applied before the
                 self-join — the scale path at 100 TB
- simhash      — 32-bit per-row signature; near-dup = small Hamming
                 distance, found by banding the signature bytes

Embedding-cosine near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import round2
from .caching import persist_tracked
from ..functions.text import (
    MINHASH_A,
    MINHASH_BANDS,
    MINHASH_BUCKET_CAP,
    MINHASH_ROWS_PER_BAND,
    band_key,
    cached_columns,
    minhash_signature_from_hashes,
    normalized_md5,
    shingle_hashes,
    shingles,
    simhash,
    word_hash,
    word_hashes,
    words,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: every row keyed by normalized-md5; canonical_id is the
    min id of its group. Output: id, canonical id, group size."""
    hashed = df.select(
        F.col(id_col), normalized_md5(F.col(text_col)).alias("content_hash")
    )
    groups = hashed.groupBy("content_hash").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return hashed.join(groups, "content_hash", "inner").select(
        id_col, "canonical_id", "group_size"
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    history: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Daily-batch dedup against a persisted hash index — the 100 TB
    production shape: today's (small) batch is hashed and anti-joined
    against the historical ``content_hash`` table instead of ever
    re-scanning the corpus. Identity is CONTENT-keyed: within-batch
    duplicate contents collapse to the min id first, so the output has
    exactly one row per distinct new content. The same id arriving with
    two different texts is two documents (a re-crawl/correction) and both
    survive — deduplicate on id upstream if ids must be unique.

    Returns ``(fresh, updated_history)``: the surviving new documents and
    the history to persist for tomorrow. At scale the history table is
    written bucketed by content_hash so the anti-join stays co-located
    (no full shuffle of history)."""
    hashed = new_docs.withColumn(
        "content_hash", normalized_md5(F.col(text_col))
    )
    canon = hashed.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    # the join back is many-to-one if the batch re-delivers the SAME
    # (id, text) row twice — dropDuplicates collapses those re-deliveries.
    # NULL-SAFE on the hash: a parse-failure row (text NULL -> hash NULL)
    # still forms a canonical group in the groupBy above, but plain
    # equality here would drop it from both fresh and the history while
    # the oracle's GROUP BY + ANTI JOIN keeps it (r11 review) — silent
    # data loss, not just divergence.
    cn = canon.select(
        F.col(id_col).alias("__cid"), F.col("content_hash").alias("__chash")
    )
    batch_unique = (
        hashed.join(
            cn,
            (F.col(id_col) == F.col("__cid"))
            & F.col("content_hash").eqNullSafe(F.col("__chash")),
            "inner",
        )
        .drop("__cid", "__chash")
        .dropDuplicates([id_col, "content_hash"])
    )
    fresh = (
        batch_unique.join(history, "content_hash", "left_anti")
        if history is not None
        else batch_unique
    )
    # fresh is already one row per content_hash, and the two union sides
    # are provably disjoint (fresh was anti-joined against history), so
    # NO distinct anywhere — appending the day's hashes never re-shuffles
    # the index. A NULL hash is excluded: it matches nothing in any later
    # anti-join (contentless rows always come through fresh), so storing
    # it would only grow the index by one dead row per batch.
    new_hashes = fresh.select("content_hash").where(
        F.col("content_hash").isNotNull()
    )
    updated = (
        history.unionByName(new_hashes) if history is not None else new_hashes
    )
    return fresh, updated


SPAN_WORDS = 20


# okey = doc_id * SPAN_IDX_BASE + span_idx encodes the first-occurrence
# order in one BIGINT: valid while doc_id < 9.2e12 and a document has
# fewer than 1e6 spans (2e7 words at the default window) — both far above
# any real corpus. The DuckDB oracle uses the identical formula.
SPAN_IDX_BASE = 1_000_000


def _span_kept(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_words: int,
    keep_text: bool,
) -> DataFrame:
    """Span-occurrence table joined with the first-occurrence rule: every
    non-overlapping ``span_words``-word window of every document, keyed
    by its md5, with ``is_first`` marking the corpus-wide lowest
    (doc_id, span_idx) occurrence of each distinct span. The occurrence
    table is persisted because two consumers read it (the first-occurrence
    aggregate and the probe side of the join back); at 100 TB it becomes
    a written intermediate bucketed by span hash, so neither pass
    re-shuffles. ``keep_text`` carries span_idx + span_text through for
    corpus rewriting; the stats path drops them so the cached table stays
    hash-sized. (The slice lambda re-evaluates the inlined words(text)
    per span — a one-time linear factor paid during the single
    materialization of the persisted table.)"""
    spans = F.transform(
        F.sequence(
            F.lit(0),
            F.greatest(
                F.ceil(F.size("__w") / F.lit(span_words)).cast("int") - 1,
                F.lit(0),
            ),
        ),
        lambda i: F.array_join(
            F.slice("__w", i * span_words + 1, span_words), " "
        ),
    )
    tokenized = df.select(
        F.col(id_col), words(F.col(text_col)).alias("__w")
    ).filter(F.size("__w") > 0)
    cols = [
        F.col(id_col),
        F.md5("span_text").alias("span_hash"),
        (
            F.col(id_col).cast("bigint") * F.lit(SPAN_IDX_BASE)
            + F.col("span_idx")
        ).alias("okey"),
    ]
    if keep_text:
        cols += [F.col("span_idx"), F.col("span_text")]
    occ = persist_tracked(
        tokenized.select(
            F.col(id_col), F.posexplode(spans).alias("span_idx", "span_text")
        ).select(*cols)
    )
    first = occ.groupBy("span_hash").agg(F.min("okey").alias("first_key"))
    return occ.join(first, "span_hash").withColumn(
        "is_first", F.col("okey") == F.col("first_key")
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = SPAN_WORDS,
) -> DataFrame:
    """Span-level (sub-document) exact dedup — the substring-dedup stage
    of an LLM training pipeline (the fixed-window form of Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): each
    document is cut into non-overlapping ``span_words``-word spans, spans
    are deduplicated corpus-wide, and a span survives only at its first
    occurrence (lowest (doc_id, span_idx)). Catches boilerplate passages
    duplicated INSIDE otherwise-distinct documents, which whole-document
    hashing cannot see.

    Output per document: span count, surviving-span count, and the
    duplicated fraction ``dup_ratio`` (documents with zero words have no
    spans and are absent).

    Scale shape: one explode (linear in corpus token count) and one
    shuffle on a 32-char md5 span key — the same cost class as exact doc
    dedup (see _span_kept for the shared occurrence/first-occurrence
    machinery)."""
    kept = _span_kept(df, text_col, id_col, span_words, keep_text=False)
    per_doc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_kept"),
    )
    return per_doc.select(
        id_col,
        "n_spans",
        "n_kept",
        round2(
            (F.col("n_spans") - F.col("n_kept")) / F.col("n_spans"), 6
        ).alias("dup_ratio"),
    )


def span_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = SPAN_WORDS,
) -> DataFrame:
    """The production output of span dedup: the corpus REWRITTEN with
    duplicated spans removed. Same first-occurrence rule as
    ``span_dedup``; each document's surviving spans are reassembled in
    original order. Documents whose every span was a duplicate drop out
    entirely (they contributed nothing new).

    Scale shape: identical to ``span_dedup`` plus one aggregation on
    doc_id — collect_list is safe because a document's spans are bounded
    by its own length; order is restored by array_sort on span_idx, not
    by shuffle order."""
    kept = _span_kept(df, text_col, id_col, span_words, keep_text=True).filter(
        F.col("is_first")
    )
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span_text"))),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias(text_col)
    )


def benchmark_contamination(
    df: DataFrame,
    is_bench: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing word
    n-grams with an evaluation/benchmark subset (the standard n-gram
    overlap check run before any pretraining corpus ships). ``is_bench``
    is a boolean Column partitioning ``df`` into benchmark vs train.

    Output: every train document sharing >= 1 shingle with the benchmark,
    with its shared-shingle count, total shingle count, overlap ratio and
    a ``contaminated`` verdict at ``threshold``.

    Scale shape: the benchmark shingle set is tiny relative to the corpus
    (eval suites are thousands of documents), so its distinct hash set is
    broadcast and the train side stays map-local until the final partial
    aggregation on doc_id. The shingled table is persisted: two readers
    (bench set + train side) would otherwise each re-run the HOF hashing
    pipeline (the no-CSE-in-lambdas trap)."""
    shingled = persist_tracked(
        shingle_hash_prepped(
            df.withColumn("__b", is_bench), text_col, id_col, carry=("__b",)
        )
    )
    bench_toks = (
        shingled.filter(F.col("__b"))
        .select(F.explode("hs").alias("tok"))
        .distinct()
    )
    train = shingled.filter(~F.col("__b")).select(
        id_col, F.size("hs").alias("n_shingles"), F.explode("hs").alias("tok")
    )
    overlap = (
        train.join(F.broadcast(bench_toks), "tok")
        .groupBy(id_col, "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ratio = round2(F.col("n_shared") / F.col("n_shingles"), 6)
    return overlap.select(
        id_col,
        "n_shared",
        "n_shingles",
        ratio.alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def with_shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    return df.select(
        F.col(id_col), shingles(words(F.col(text_col)), n).alias("sh")
    )


def shingle_hash_prepped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hs_col: str = "hs",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The shared words -> word_hashes -> shingle_hashes pipeline (each
    stage materialized as its own column — the HOF no-CSE rule; see
    functions/text.py). ``carry`` names extra columns of ``df`` to keep.
    Every shingle-hash consumer (minhash LSH, ngram index, contamination)
    builds on this ONE definition, mirrored by the oracle's
    _shingle_cte()."""
    extra = [F.col(c) for c in carry]
    # stage Columns memoized per (column names + every constant the tree
    # binds) — see text.cached_columns. shingle_hashes defaults n=3; the
    # key carries it explicitly so a future caller-varied n can't serve
    # a stale tree (ADVICE r13).
    w = cached_columns(
        ("shp_words", text_col), lambda: words(F.col(text_col)).alias("__w")
    )
    wh = cached_columns(
        ("shp_word_hashes", "__w"), lambda: word_hashes(F.col("__w")).alias("__wh")
    )
    hs = cached_columns(
        ("shp_shingle_hashes", hs_col, "__wh", 3),
        lambda: shingle_hashes(F.col("__wh"), n=3).alias(hs_col),
    )
    return (
        df.select(F.col(id_col), *extra, w)
        .select(id_col, *carry, wh)
        .select(id_col, *carry, hs)
    )


# strides 2^j for every 2^j < min(occ, 2^31) — integer-exact, and the
# stride ceiling is an OPERATIONAL bound, not a correctness cap: a
# bucket needs > 2^31 rows before stride 2^31 would be live, and a
# bucket IS one window partition (one task) in every formulation of
# this pairing (lead window here, ROW_NUMBER in the r8 rank-join and in
# the oracle alike) — a two-billion-row single partition does not
# execute on any engine, and the adaptive signature widths + 64-bit
# band keys exist precisely to keep occupancy orders of magnitude below
# that. See doubling_chain_pairs for the r9 lesson: carrying a "dormant"
# plan branch for the unreachable regime cost two extra expansions of
# the whole upstream signature pipeline per query.
_LEAD_MAX_J = 30  # lead offsets are JVM ints; 2^30 is the largest safe one

# connected_components: probed rounds persist on top of each other; cut
# the lineage with a localCheckpoint once this many cache levels nest
# (see the loop comment — nested InMemoryRelations cost O(2^depth) in
# driver plan machinery; 3 keeps that term under ~35 KB of plan text).
_CC_TRUNCATE_NESTING = 3


def doubling_chain_pairs(
    occ_df: DataFrame, id_col: str, part_cols: list[str], cap: int
) -> DataFrame:
    """Bounded pairing for oversized LSH buckets with TRUE O(log C)
    pair-graph diameter: bucket member at id-rank r pairs with ranks
    r + 2^j for every power of two below the bucket occupancy.

    Replaces the r7 fixed stride ladder (1,2,4,...,128). The r8
    giant-cluster probe exposed that a capped ladder only divides the
    diameter by its largest stride — C/128 label-propagation rounds, so
    a 10^5-member boilerplate cluster (real crawls have them) needs
    ~780 rounds and silently exceeds connected_components' max_iter.
    Rank-doubling pairs reach any rank from any other in <= 2*log2(C)
    hops (binary decomposition of the rank gap), so propagation
    converges in <= log2(C)+1 rounds — 18 at C=10^5 — and the star
    variant in fewer still. Costs: occ * (log2(occ)+1) pairs per bucket
    (the old ladder's 8*occ, now growing logarithmically — the minimum
    for a log diameter), plus one extra shuffle (the rank equi-join
    instead of window leads). Rank 1 pairs with rank 2 (j=0 is always a
    live stride since occ > cap >= 1), so bucket connectivity — the
    property dedup_groups' single-group guarantee rests on — is
    preserved exactly as before. For occ <= 2*max(old ladder) = 256 the
    generated pairs are IDENTICAL to the old ladder's.

    ``occ_df`` must carry ``occ`` (per-bucket row count over
    ``part_cols``); output is (d1, d2) with d1's id < d2's id — the
    same orientation as the all-pairs branch. The DuckDB oracle mirrors
    this via ROW_NUMBER + generate_series + a rank self-join
    (plans/dedup._doubling_chain_sql), so capped queries stay
    value-exact.

    r9 (VERDICT r8 #5): pairs are generated by WINDOW LEADS, not the r8
    rank equi-join. ``lead(id, 2^j)`` over the id-ordered bucket window
    is non-null exactly when a member exists at rank r + 2^j (lead
    nullness IS the rank join's existence constraint: non-null ⟺
    r + 2^j ≤ occ ⟺ 2^j < occ given r ≥ 1), so the emitted pair set is
    IDENTICAL — re-proven by the r8 oracle-parity pytests — while the
    rank-join's extra (part_cols, r2) shuffle and the stride explode
    disappear: the lead window reuses the occ window's hash exchange
    with one added sort. This was the measured ~8% capped-vs-uncapped
    overhead at mild 2% skew (BASELINE §4.3 recall table); leads also
    make the no-oversized-bucket case genuinely free — the branch is an
    empty filter on the already-built exchange, no join stages to
    schedule.

    Stride ceiling: lead offsets are JVM ints, so strides stop at 2^30
    — an operational bound shared by every formulation (see the module
    comment above _LEAD_MAX_J): a stride past 2^30 is live only in a
    bucket of > 2^31 rows, and a bucket is ONE window partition in the
    lead form, the r8 rank-join form, and the oracle alike — it cannot
    execute before the stride set matters. The first r9 cut carried a
    "dormant" rank-join tail for that regime anyway; it cost two extra
    expansions of the whole upstream signature pipeline per query
    (Spark expands every DataFrame reference into its own subtree) —
    measurable at mild skew, guarding nothing reachable. Removed; the
    oracle's generate_series ceiling matches."""
    word = Window.partitionBy(*part_cols).orderBy(id_col)
    pos = occ_df.filter(F.col("occ") > cap)
    led = pos.select(
        F.col(id_col).alias("d1"),
        F.array_compact(
            F.array(
                *[
                    F.lead(id_col, 1 << j).over(word)
                    for j in range(_LEAD_MAX_J + 1)
                ]
            )
        ).alias("__tgts"),
    )
    return led.select("d1", F.explode("__tgts").alias("d2"))


def grouped_bucket_pairs(
    banded: DataFrame, id_col: str, part_cols: list[str], cap: int
) -> DataFrame:
    """Candidate pairs per LSH bucket as ONE aggregation (r13, guide
    §2.4): ``groupBy(part_cols).collect_list(id)`` then map-side pair
    generation from the sorted id array — buckets at <= ``cap`` ids pair
    exhaustively (i < j over the sorted array == the id< self-join),
    larger buckets pair by id-rank doubling (rank r with r + 2^j for
    every 2^j < occupancy — the same set doubling_chain_pairs emits;
    see its docstring for the O(log C) diameter argument and the
    _LEAD_MAX_J stride ceiling). Replaces the occupancy window + SMJ
    self-join + lead-window + union shape in the two self-pairing call
    sites: one exchange and one pipeline instead of a reused exchange
    feeding a join build, two sorts, a window and a union — measured
    2.7x on the candidate stage at sf0.1 with a bit-identical pair set.

    Memory: a bucket is one group in the aggregation, exactly as it was
    one window partition before — the window buffered the whole bucket
    per task too, so the worst-case per-task footprint is unchanged.
    BOUND (r14, VERDICT r13 #7): the all-pairs branch materializes the
    per-bucket pair array as ONE expression value — O(cap²) structs on a
    single group row at occupancy <= cap (above cap the doubling branch
    emits O(occ·log occ)). The all-pairs branch emits C(cap,2) =
    cap·(cap−1)/2 pairs: fine at the shipped caps (496 pairs at cap 32,
    8,128 at cap 128) but a cap of 10³ would make it a per-row
    ~5·10⁵-struct array; tests/test_round14_fixes.py pins every shipped cap
    under the documented ceiling so a future bump is a conscious
    decision, not a drive-by constant edit.

    Callers whose bucket key can be NULL (minhash band keys NULL out
    for contentless docs) must filter NULL keys on the PERSISTED banded
    table first: SQL equi-joins reject NULL keys, so the oracle's
    formulation never pairs them — and note lesson 18, the filter must
    sit above a materialized column, never a live HOF pipeline. Output
    (d1 < d2) may repeat across bucket columns; callers dedup."""
    ids = F.sort_array(F.collect_list(id_col))
    g = banded.groupBy(*part_cols).agg(ids.alias("__ids"))
    id_type = dict(banded.dtypes)[id_col]

    def _build_pairs() -> Column:
        s = F.size("__ids")
        pair_t = f"array<struct<d1:{id_type},d2:{id_type}>>"
        all_pairs = F.when(
            s >= 2,
            F.flatten(
                F.transform(
                    F.sequence(F.lit(2), s),
                    lambda j: F.transform(
                        F.sequence(F.lit(1), j - 1),
                        lambda i: F.struct(
                            F.element_at(
                                F.col("__ids"), i.cast("int")
                            ).alias("d1"),
                            F.element_at(
                                F.col("__ids"), j.cast("int")
                            ).alias("d2"),
                        ),
                    ),
                )
            ),
        ).otherwise(F.array().cast(pair_t))
        # live strides 2^j < occupancy, ceiling shared with the oracle /
        # doubling_chain_pairs (_LEAD_MAX_J)
        strides = F.filter(
            F.array(*[F.lit(1 << j) for j in range(_LEAD_MAX_J + 1)]),
            lambda st: st < s,
        )
        doubling = F.flatten(
            F.transform(
                F.sequence(F.lit(1), s),
                lambda r: F.transform(
                    F.filter(strides, lambda st: (r + st) <= s),
                    lambda st: F.struct(
                        F.element_at(F.col("__ids"), r.cast("int")).alias(
                            "d1"
                        ),
                        F.element_at(
                            F.col("__ids"), (r + st).cast("int")
                        ).alias("d2"),
                    ),
                ),
            )
        )
        return F.when(s <= cap, all_pairs).otherwise(doubling)

    # the pair-expansion tree is ~0.2 s of py4j per build and depends
    # only on (cap, id type) — memoized per session (text.cached_columns)
    pairs = cached_columns(("bucket_pairs", cap, id_type), _build_pairs)
    return g.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.d1").alias("d1"), F.col("__p.d2").alias("d2")
    )


def capped_bucket_ids(
    banded: DataFrame, id_col: str, part_cols: list[str], cap: int
) -> DataFrame:
    """The ``cap`` SMALLEST ids per bucket — the index-side skew bound of
    the incremental/recovery probes — as one aggregation:
    ``slice(sort_array(collect_list(id)), 1, cap)`` exploded back to
    rows. Row-for-row identical to the former ROW_NUMBER <= cap window
    (same orderBy, same keep-set), minus the window's per-bucket sort
    machinery on top of the exchange (r13; the grouped_bucket_pairs
    memory note applies — a bucket was already one window partition)."""
    return (
        banded.groupBy(*part_cols)
        .agg(
            F.slice(F.sort_array(F.collect_list(id_col)), 1, cap).alias(
                "__ids"
            )
        )
        .select(*part_cols, F.explode("__ids").alias(id_col))
        .select(id_col, *part_cols)
    )


def minhash_band_keys(
    prepped: DataFrame,
    id_col: str = "doc_id",
    hs_col: str = "hs",
    carry: tuple[str, ...] = (),
    seed: int = 0,
) -> DataFrame:
    """(id, band, key [, carry…]) rows — THE banding definition, shared
    by the batch pair-finder (minhash_lsh_pairs), the batch incremental
    path (incremental_minhash_pairs) and its streaming twin
    (streaming/file_ingest.streaming_minhash_neardup), so every consumer
    bands identically by construction — the attribution_join parity
    pattern. ``carry`` keeps extra columns of ``prepped`` on the banded
    rows (the streaming side carries ``hs`` through — see the
    incremental builder's note on why). ``seed=1`` bands with the
    independent second permutation set — the straggler-recovery pass
    (minhash_recovery_pairs)."""
    # signature + band-struct Columns memoized per (hs_col, seed) — the
    # 16 array_min(transform(...)) trees were ~0.5 s of py4j per fresh
    # build (see text.cached_columns)
    sig_exprs = cached_columns(
        ("mh_sig", hs_col, seed),
        lambda: tuple(
            minhash_signature_from_hashes(F.col(hs_col), seed=seed)
        ),
    )
    sig = prepped.select(id_col, *carry, *sig_exprs)
    # contentless docs (NULL text / under-shingle-length) band into
    # NOTHING: band_key is NULL-propagating (F.concat), so their all-NULL
    # signatures yield NULL keys, and NULL keys never equi-join — same
    # semantics as the oracle's `||` without a row filter. (An explicit
    # `mh0.isNotNull()` where-clause here re-inlines the minhash/shingle
    # HOF pipeline into the predicate and cost 5x at sf0.1 — r11 lesson.)
    bands = cached_columns(
        # key carries the module constants the tree bakes in (ADVICE r13:
        # a key that assumes constants never vary would serve a stale
        # tree if one ever became a parameter)
        ("mh_bands", MINHASH_BANDS, MINHASH_ROWS_PER_BAND, len(MINHASH_A)),
        lambda: F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    band_key(
                        [F.col(f"mh{i}") for i in range(len(MINHASH_A))], b
                    ).alias("key"),
                )
                for b in range(MINHASH_BANDS)
            ]
        ),
    )
    return sig.select(id_col, *carry, F.explode(bands).alias("bk")).select(
        id_col,
        *carry,
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )


def build_minhash_index(
    index_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    index_bucket_cap: int = MINHASH_BUCKET_CAP,
) -> tuple[DataFrame, DataFrame]:
    """The persisted-index half of the incremental near-dup pipeline:
    ``(prepped, bands)`` — the corpus shingle-set table and the
    bucket-capped band table ``incremental_minhash_pairs`` probes. A
    daily pipeline builds these ONCE (linear in corpus size), writes
    them out (bucketed by ``id_col`` / by (band, key) at scale so the
    per-batch joins are co-located), and passes them back via
    ``index_tables=`` — per-batch cost is then independent of how the
    corpus grew (tools/inc_probe.py measures exactly this). Kept as one
    definition so the operator's inline path and every probe/caller
    build bit-identical index tables."""
    prepped = shingle_hash_prepped(index_docs, text_col, id_col)
    bands = capped_bucket_ids(
        minhash_band_keys(prepped, id_col),
        id_col,
        ["band", "key"],
        index_bucket_cap,
    )
    return prepped, bands


def incremental_minhash_pairs(
    new_docs: DataFrame,
    index_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    index_bucket_cap: int = MINHASH_BUCKET_CAP,
    watermark: str = "1 hour",
    index_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Incremental near-dup against a persisted corpus index — the
    minhash twin of incremental_exact_dedup, and the VERDICT r7 #8
    batch/streaming pair: today's (small) new batch bands with the SAME
    minhash_band_keys code as the full-corpus path and equi-joins the
    index's band table; candidates verify by the exact hashed-shingle
    jaccard against the index's prepped sets. Output: (d1 = index doc,
    d2 = new doc, jaccard) for every verified pair — "d2 has any pair"
    IS the dup flag, and d1's min is the canonical attribution.

    ``new_docs`` may be a STREAMING DataFrame: every stage is a
    stateless projection or a stream-static equi-join (the index side
    is static), legal in append mode; the only stateful operator is the
    final within-watermark pair dedup. The same builder serves batch
    and streaming — parity by construction, asserted by the
    streaming-vs-batch pytest.

    Two deliberate shape choices, both documented trade-offs:
    - The index side keeps only the ``index_bucket_cap`` SMALLEST ids
      per (band, key) (a window on the STATIC side): an incoming doc
      joining a boilerplate bucket fans out to at most cap rows per
      band, bounding per-doc candidates at cap*BANDS under any index
      skew. Within a bucket whose rows all belong to one near-dup
      family, the family's minimum id is among the kept rows, so the
      dup FLAG (what incremental dedup consumes) is preserved and only
      attributions to larger-id members are forgone. In a MIXED
      oversized bucket (several families colliding on one band key) the
      cap keeps the bucket-wide smallest ids, which can all belong to a
      different family than the incoming doc's — if that happens in all
      BANDS bands simultaneously the doc's flag itself is lost, the
      same mixed-bucket caveat the batch pair-cap documents. Band keys
      are minhash minima over the doc's own shingles, so cross-family
      collisions need shared boilerplate in every band — the measured
      recall on clustered staging (tools/recall_probe.py) prices this.
    - The new side CARRIES its hashed shingle set through the band
      explode (4 copies) instead of the full-corpus path's ID-only join:
      joining candidates back to the stream-derived prepped table would
      be a stream-stream join (watermark bookkeeping for no benefit),
      and the carried payload is today's small batch, not the corpus.
      The stream side also pays the note-6 no-CSE re-evaluation of the
      hashing pipeline (a stream can't persist); at scale wrap the sink
      in foreachBatch and persist per micro-batch if the batch stops
      being small.

    Index input, one of:
    - ``index_docs``: raw corpus documents — prepped and banded inline
      (via build_minhash_index) and persisted for this call. The probe /
      small-corpus shape.
    - ``index_tables=(prepped, bands)``: the PREBUILT persisted index
      (build_minhash_index written to storage) — the daily-pipeline
      steady state, where index construction is amortized once per
      ingest day instead of paid per batch.
    """
    if index_tables is not None:
        if index_docs is not None:
            # r10 (ADVICE r9 #4): passing both was silently dropping the
            # raw docs — a mismatched corpus/index pair got no signal.
            raise ValueError(
                "incremental_minhash_pairs got BOTH index_docs and "
                "index_tables; pass exactly one (index_tables is the "
                "prebuilt form of index_docs, they cannot be reconciled)"
            )
        idx_prepped, idx_bands = index_tables
    else:
        if index_docs is None:
            raise ValueError(
                "incremental_minhash_pairs needs index_docs or index_tables"
            )
        prepped, bands = build_minhash_index(
            index_docs, text_col, id_col, index_bucket_cap
        )
        idx_prepped = persist_tracked(prepped)
        idx_bands = persist_tracked(bands)
    new_prepped = shingle_hash_prepped(new_docs, text_col, id_col)
    new_bands = minhash_band_keys(new_prepped, id_col, carry=("hs",))
    cand = (
        new_bands.select(
            F.col(id_col).alias("d2"), F.col("hs").alias("hs2"), "band", "key"
        )
        .join(
            idx_bands.select(F.col(id_col).alias("d1"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("d1") != F.col("d2"))
    )
    ea = idx_prepped.select(F.col(id_col).alias("d1"), F.col("hs").alias("hs1"))
    verified = cand.join(ea, "d1")
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    out = verified.select(
        "d1",
        "d2",
        round2(
            F.when(union > 0, inter.cast("double") / union).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    # a pair sharing k bands appears k times with identical jaccard —
    # collapse: bounded within-watermark state on a stream (the
    # streaming_dedup precedent), plain dropDuplicates in batch
    if out.isStreaming:
        return (
            out.withColumn("ingest_ts", F.current_timestamp())
            .withWatermark("ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(["d1", "d2"])
            .drop("ingest_ts")
        )
    return out.dropDuplicates(["d1", "d2"])


def minhash_lsh_pairs(
    df: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    bucket_cap: int = MINHASH_BUCKET_CAP,
    prepped: DataFrame | None = None,
    band_subset: tuple[int, ...] | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    ``prepped`` optionally supplies an ALREADY-PERSISTED
    shingle_hash_prepped table so a composition (e.g. the seed-1 +
    seed-2 recovery query) hashes the corpus ONCE and shares one cache
    across both passes (r10, ADVICE r9 #3). When ``prepped`` is given it
    IS the corpus — ``df`` is not read (pass None); supplying a prepped
    table built from a different corpus than ``df`` would otherwise be a
    silent mismatch (r11 review, the index_docs/index_tables lesson).
    ``band_subset`` restricts
    the banding lottery to the named bands — a reduced banding budget
    trades recall for candidate volume (the standard bands/rows knob);
    the registered recovery query runs its first pass at one band so
    organic corpora exercise the straggler-recovery path end-to-end.

    Plan shape (restructured r7 after the first two-decade probe measured
    exponent ~1.0 with the second decade at 1.10): ONE map-only pass
    builds shingles + hashes + the 16-value signature (md5 computed once
    per shingle, not per permutation). Candidate generation is ID-ONLY —
    the (band, key) self-join moves (id, band, key) rows, ~30 bytes,
    never the shingle arrays; pairs are deduped FIRST and the hashed
    shingle sets join back per pair for the exact-Jaccard verify, the
    same candidates-then-verify shape the DuckDB oracle states (and the
    dedup_semantic_lsh lesson: payload through a bucket self-join grows
    the shuffle ~|hs|-fold and invites a giant runtime broadcast).

    Skew (duplicate-cluster) cap: a (band, key) bucket is a set of docs
    whose 4-permutation band agrees — organic collisions are tiny
    (measured max 10 at 5 k docs), so an oversized bucket IS a
    duplicate cluster, and real crawl corpora have huge ones
    (boilerplate). Buckets at <= MINHASH_BUCKET_CAP docs pair
    exhaustively (every corpus in tests stays under it); above that,
    id-rank DOUBLING pairs (rank r with r + 2^j for every 2^j < occ —
    see doubling_chain_pairs) bound pairs at N * log2(C) * BANDS under
    any skew. The unit stride keeps a tight cluster CONNECTED
    (i <-> i+1), so the downstream connected-components grouping
    (dedup_groups) is unchanged for genuine duplicate clusters, and the
    rank-doubling reach bounds the cluster pair-graph's DIAMETER at a
    true O(log C) so the propagation loop's round count stays
    logarithmic at ANY cluster size (r8 probe: the former fixed
    1..128 ladder only divided the diameter by 128, so a 10^5-member
    cluster needed ~C/128 propagation rounds and silently exceeded
    max_iter); forgone are only bucket pairs off the doubling ladder in
    a mixed oversized bucket — quantified capped-vs-uncapped in
    BASELINE.md's recall table (tools/recall_probe.py). On a cluster at
    100 TB the persisted tables become written intermediates (bucketed
    by band key).
    """
    # verification runs on the hashed shingle sets too: both the engine
    # and the oracle compute the identical function, and bigint arrays
    # shuffle/intersect far cheaper than shingle strings (collision odds
    # vs true string jaccard ~ |sh|^2 / 2P ~ 1e-4 relative). prepped is
    # persisted (signature build + both verify sides read it); banded is
    # persisted slim (both pairing branches read it).
    if prepped is None:
        if df is None:
            raise ValueError(
                "minhash_lsh_pairs needs df (the corpus) or prepped "
                "(its shingle_hash_prepped table)"
            )
        prepped = persist_tracked(shingle_hash_prepped(df, text_col, id_col))
    banded = minhash_band_keys(prepped, id_col)
    if band_subset is not None:
        banded = banded.filter(F.col("band").isin(list(band_subset)))
    banded = persist_tracked(banded)
    # ``bucket_cap`` defaults to the shipped MINHASH_BUCKET_CAP; the
    # recall probe (tools/recall_probe.py) passes a huge value to measure
    # the uncapped form against the same corpus. NULL band keys
    # (contentless docs — see band_key) are excluded exactly as the
    # oracle's equi-join excludes them; the filter reads the PERSISTED
    # banded column, so no HOF re-inline (lesson 18 caveat in
    # grouped_bucket_pairs).
    cand = grouped_bucket_pairs(
        banded.where(F.col("key").isNotNull()),
        id_col,
        ["band", "key"],
        bucket_cap,
    ).dropDuplicates(["d1", "d2"])
    ea = prepped.select(F.col(id_col).alias("d1"), F.col("hs").alias("hs1"))
    eb = prepped.select(F.col(id_col).alias("d2"), F.col("hs").alias("hs2"))
    verified = cand.join(ea, "d1").join(eb, "d2")
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    return verified.select(
        "d1",
        "d2",
        round2(
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def minhash_recovery_pairs(
    docs: DataFrame | None,
    first_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    index_bucket_cap: int = MINHASH_BUCKET_CAP,
    prepped: DataFrame | None = None,
) -> DataFrame:
    """Second-seed banding recall booster (VERDICT r8 stretch #8): the
    cc_probe found 0.06–0.08% of a giant cluster's members share NO band
    bucket with the cluster (their unique-token shingles claim every
    band minimum) — isolated under ANY pairing rule, a property of the
    seed-1 permutations, not of the cap. The standard fix is a second,
    independent permutation draw over ONLY the unmatched docs: each
    straggler gets four fresh band lotteries while the pass stays
    sub-linear (the query side is the straggler set, not the corpus).

    Shape = the incremental_minhash_pairs probe-the-index pattern with
    the unpaired set as the "batch": docs with no seed-1 pair re-band
    with MINHASH_A2/B2 (minhash_band_keys seed=1) and equi-join the full
    corpus's seed-2 band table, capped to the ``index_bucket_cap``
    smallest ids per bucket (the same skew bound); exact hashed-shingle
    jaccard verifies. The corpus side's seed-2 banding is one linear
    map-side pass — no pairing within already-paired docs is ever
    generated (candidates require an unpaired side). Output: (d1 < d2,
    jaccard) NEW verified pairs to union with the seed-1 pair set before
    grouping. Cost/recovery on the giant-cluster staging is measured by
    tools/cc_probe.py --recover (BASELINE §4.3).

    ``prepped`` optionally supplies the ALREADY-PERSISTED
    shingle_hash_prepped table the first pass built, so the composed
    seed-1 + seed-2 query hashes and caches the corpus exactly once
    (r10, ADVICE r9 #3 — the same sharing device as
    incremental_minhash_pairs' index_tables=). When given, it IS the
    corpus and ``docs`` is not read (pass None) — see the
    minhash_lsh_pairs contract note."""
    if prepped is None:
        if docs is None:
            raise ValueError(
                "minhash_recovery_pairs needs docs (the corpus) or "
                "prepped (its shingle_hash_prepped table)"
            )
        prepped = persist_tracked(
            shingle_hash_prepped(docs, text_col, id_col)
        )
    paired_ids = first_pairs.select(
        F.explode(F.array("d1", "d2")).alias(id_col)
    ).distinct()
    unpaired = prepped.join(paired_ids, id_col, "left_anti")
    idx_bands = capped_bucket_ids(
        minhash_band_keys(prepped, id_col, seed=1),
        id_col,
        ["band", "key"],
        index_bucket_cap,
    )
    new_bands = minhash_band_keys(unpaired, id_col, seed=1)
    cand = (
        new_bands.select(F.col(id_col).alias("q"), "band", "key")
        .join(
            idx_bands.select(F.col(id_col).alias("m"), "band", "key"),
            ["band", "key"],
        )
        .filter(F.col("q") != F.col("m"))
        .select(
            F.least("q", "m").alias("d1"), F.greatest("q", "m").alias("d2")
        )
        .dropDuplicates(["d1", "d2"])
    )
    ea = prepped.select(F.col(id_col).alias("d1"), F.col("hs").alias("hs1"))
    eb = prepped.select(F.col(id_col).alias("d2"), F.col("hs").alias("hs2"))
    verified = cand.join(ea, "d1").join(eb, "d2")
    inter = F.size(F.array_intersect("hs1", "hs2"))
    union = F.size("hs1") + F.size("hs2") - inter
    return verified.select(
        "d1",
        "d2",
        round2(
            F.when(union > 0, inter.cast("double") / union).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exhaustive n-gram Jaccard near-dup pairs via the inverted-index
    equi-join: explode shingles, pair docs sharing one, count intersections
    with a hash aggregation, then inclusion-exclusion for the union.

    ``max_doc_freq`` is the hot-shingle frequency cap: shingles appearing
    in more than that many documents are dropped BEFORE the self-join.
    Without it one stop-phrase shingle shared by k docs contributes
    O(k^2) candidate pairs — quadratic blowup at 100 TB. The capped form
    underestimates jaccard for pairs whose overlap includes hot shingles
    (exactly the overlap a near-dup pass cares least about); pairs sharing
    only hot shingles disappear entirely. ``None`` keeps the exhaustive
    form as the verification baseline.

    The index is built over HASHED shingles (same convention as minhash —
    md5 once per word, arithmetic 3-gram combine): the pairing join
    shuffles 8-byte bigints instead of ~30-char shingle strings, and the
    oracle reproduces the hashes exactly. The set table is persisted
    because THREE consumers read it (both join sides + sizes) and
    Catalyst's projection collapse would otherwise re-inline the HOF
    hashing pipeline into each — re-evaluating it per element, the
    no-CSE-in-lambdas trap (measured 90 s vs 3 s at sf0.1). At 100 TB it
    becomes a written intermediate, like the minhash signature table."""
    sets = persist_tracked(shingle_hash_prepped(df, text_col, id_col, hs_col="sh"))
    inv = sets.select(F.col(id_col), F.explode("sh").alias("s"))
    if max_doc_freq is not None:
        hot = (
            inv.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        # anti-join shuffles on the same key as the pairing join below;
        # at scale the hot set is tiny and AQE broadcasts it
        inv = inv.join(hot, "s", "left_anti")
    sizes = sets.select(F.col(id_col), F.size("sh").alias("n"))
    a = inv.select(F.col(id_col).alias("d1"), "s")
    b = inv.select(F.col(id_col).alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    n1 = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("n2"))
    return (
        inter.join(n1, "d1")
        .join(n2, "d2")
        .select(
            "d1",
            "d2",
            round2(
                F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
    stats: dict | None = None,
    with_sizes: bool = True,
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: connected components
    by iterative min-label propagation (the standard distributed CC — each
    round every node adopts the smallest label among itself and its
    neighbors; converges in O(component diameter) rounds, and near-dup
    components are shallow by construction).

    ``ids`` is the full universe (one row per ``id_col``), so singleton
    documents come out as their own group — the output is a complete
    doc -> canonical-doc assignment, the thing a dedup pass actually
    feeds downstream.

    CONTRACT (r13, ADVICE): ``pairs`` must be DISTINCT rows with
    ``d1 < d2`` — every in-repo pair producer ends in a
    ``dropDuplicates``/``distinct`` over ordered pairs. Duplicate pairs
    stay correctness-safe under the min aggregation but multiply every
    round's join output; this operator deliberately carries no
    ``.distinct()`` of its own (a full-width exchange that map-side
    partial aggregation cannot shrink when rows are already unique).

    Scale shape (restructured r13 — guide §2.3/§2.4): propagation runs
    ONLY over nodes that appear in the edge list — a singleton's label
    never changes and never influences a neighbor's min, so the full
    universe attaches with one left join AFTER the fixpoint. At a
    realistic dup rate that shrinks per-round state ~10x; the per-round
    shuffle moves near-dup nodes, not the corpus. The edge list is
    repartitioned ONCE on its probe key (dst) so the per-round join is
    co-partitioned against label state (itself id-hash-partitioned by
    the previous round's groupBy) — one exchange per round (the
    unavoidable label regroup), not three. Label state is persisted and
    materialized BY the convergence aggregate — one driver-blocked job
    per round, where the r4 form paid two (eager localCheckpoint + the
    sum probe; under AQE an eager checkpoint additionally materializes
    every upstream stage as its own job). Convergence is the monotone
    label-sum aggregate, one tiny job per round. At 100 TB the same
    loop swaps persist for a durable checkpoint every few rounds
    (bounded lineage); rounds stay few because text near-dup graphs are
    star-like (large-star/small-star alternation is the escalation path
    for adversarial diameters, per the Kang et al. CC-MR line of work).

    Why a driver loop and not SQL: Spark 4's recursive CTEs support only
    UNION ALL in the recursive member (UNION_NOT_SUPPORTED_IN_RECURSIVE_
    CTE), and an ALL-closure diverges on any cyclic edge set — so the
    transitive closure is not SQL-expressible here; the DuckDB oracle
    uses its recursive UNION (distinct) form instead.
    """
    # both directions from ONE scan of the (possibly expensive) pair
    # plan — no self-loops and no distinct (r13 second pass, guide
    # §2.3/§2.4): pairs are already dropDuplicates'd with d1 < d2, so
    # (d1→d2) and (d2→d1) are each unique and mutually disjoint — the
    # exploded list has NO duplicate rows, and the old (src,dst)
    # distinct was a full-width exchange that map-side partial
    # aggregation couldn't shrink (every row unique). Self-inclusion —
    # the self-loop rows' only job — moves into the aggregates below.
    # persist_tracked: the explicit unpersist below reclaims on the
    # happy path; the collector tie is the exception-path backstop
    # (double-unpersist is a no-op).
    edges = persist_tracked(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
                    F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition("dst")
    )
    # round 1 fused into initialization: with labels0(v) = v, a node's
    # first-round label is min over N(u) ∪ {u} — least(node, min of
    # neighbors). The edge set is SYMMETRIC (both directions emitted),
    # so grouping by dst gives the same neighbor sets as grouping by
    # src while REUSING the repartition("dst") layout — the init
    # aggregate runs exchange-free where the old groupBy(src) form
    # re-shuffled the whole edge list a second time.
    labels = persist_tracked(
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("__m"))
        .select("id", F.least("id", "__m").alias("label"))
    )
    # convergence probe: labels only ever decrease, so the label sum is
    # strictly monotone until the fixpoint — one cheap aggregate per round
    # instead of a label-vs-label shuffle join (decimal(38) can't overflow
    # at any realistic id range x row count). The aggregate doubles as the
    # materialization action for the round's persisted state.
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    prev_sum = labels.agg(label_sum).first()["s"]
    prev_probe_round = 1
    last_persisted = labels
    nested_caches = 1  # persist-on-persist depth since the last lineage cut
    rounds = 1
    for _ in range(max_iter - 1):
        # Round update: label'(u) = least(u, min over N(u) of label(v)).
        # This references the previous round's state ONCE (r14): the r13
        # form unioned ``labels`` back into the aggregate to add the
        # self-label, which referenced the round-(r-1) plan TWICE — the
        # logical plan doubled every round, and on deep graphs plan
        # analysis/cache-normalization cost grew 2^rounds (measured: an
        # 8-node chain took 304 s, a long-chain test 1457 s; invisible at
        # sf0.1's 2 rounds). least(u, ·) is provably label-identical to
        # min over N(u) ∪ {u}: labels are monotone non-increasing, and by
        # induction any label u holds is either u itself (the least arm)
        # or arrived from a neighbor whose own label is still <= it (so
        # the neighbor-min arm re-delivers it) — per-round label values,
        # the convergence round count and the fixpoint are unchanged.
        # The join runs over the co-partitioned edge layout (edges hashed
        # by dst at persist, labels by id from the previous aggregate —
        # no exchange); the groupBy(src) regroup is the round's one
        # unavoidable exchange.
        nxt = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("label").alias("__m"))
            .select("id", F.least("id", "__m").alias("label"))
        )
        rounds += 1
        # Convergence-probe cadence (r14, guide §2.4 — halve driver
        # round-trips on deep graphs): labels are MONOTONE non-increasing,
        # so equality of the label sum across a k-round span proves every
        # round in the span was a no-op — overshooting the fixpoint by
        # k-1 rounds is semantics-free (the fixpoint is idempotent).
        # Rounds 1-2 are probed every round (near-dup graphs are
        # star-like and usually converge by round 2 — the common case
        # pays zero extra rounds); past round 2 the probe runs every 2nd
        # round, and the unprobed round stays UNPERSISTED pure lineage,
        # computed once inside the next probe's job — one driver-blocked
        # job per two rounds instead of one per round.
        cadence = 1 if rounds <= 2 else 2
        if rounds - prev_probe_round < cadence and rounds < max_iter:
            labels = nxt
            continue
        prev_persisted = last_persisted
        if nested_caches >= _CC_TRUNCATE_NESTING:
            # Bound the NESTED-CACHE depth (r14, measured): a chain of
            # persisted rounds nests each InMemoryRelation's cached
            # physical plan inside the next, and Spark's plan
            # rendering/canonicalization over that nesting costs
            # O(2^depth) — the optimized-plan STRING of a 15-round chain
            # reached 80 MB and per-probe driver time grew 0.4 s → 55 s
            # while job counts stayed constant (pure driver plan-
            # machinery, no recomputation). localCheckpoint(eager=True)
            # truncates to a LogicalRDD leaf, resetting the depth; like
            # any localCheckpoint it trades fault-tolerance of that
            # intermediate for lineage truncation (guide §5) — at
            # cluster scale the docstring's durable-checkpoint swap
            # applies. Shallow graphs (the sf corpora converge in 2
            # rounds) never reach the threshold, so the common-case
            # plan/job shape is untouched.
            labels = nxt.localCheckpoint(eager=True)
            nested_caches = 0
        else:
            labels = persist_tracked(nxt)
            nested_caches += 1
        last_persisted = labels if nested_caches else None
        cur_sum = labels.agg(label_sum).first()["s"]
        if prev_persisted is not None:
            prev_persisted.unpersist()
        if cur_sum == prev_sum:
            # monotonicity: sum(prev_probe) == sum(now) means every round
            # since the previous probe was already at the fixpoint, so
            # the first no-op round was prev_probe_round + 1 (within
            # cadence-1 of the probe-every-round stat; exact at cadence 1)
            rounds = prev_probe_round + 1
            break
        prev_sum = cur_sum
        prev_probe_round = rounds
    edges.unpersist()
    if stats is not None:
        # observability for the giant-cluster probe (VERDICT r7 #3): the
        # stride-ladder claim is rounds ∝ log(cluster size)
        stats["rounds"] = rounds
    # with_sizes=False: a consumer that only needs the group LABEL (the
    # leakage-safe split hashes group_id and never reads group_size)
    # skips the sizes aggregate + join — an inner join that never changes
    # cardinality here, but one Catalyst cannot prune away on its own
    # (it can't prove every label survives the aggregate).
    if not with_sizes:
        return (
            ids.select(F.col(id_col))
            .join(
                labels.select(F.col("id").alias(id_col), "label"),
                id_col,
                "left",
            )
            .select(
                id_col,
                F.coalesce("label", F.col(id_col)).alias("group_id"),
            )
        )
    sizes = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    grouped = labels.join(sizes, "label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("group_id"),
        "group_size",
    )
    # attach the full universe: singletons (never touched by an edge)
    # come out as their own size-1 group. The final label state's cache
    # is already enrolled (persist_tracked in the loop) and scanned
    # twice by the returned plan (sizes + the grouped join), so it must
    # outlive this call — intermediate rounds were unpersisted above
    # (double-unpersist at collector release is a no-op).
    return (
        ids.select(F.col(id_col))
        .join(grouped, id_col, "left")
        .select(
            id_col,
            F.coalesce("group_id", F.col(id_col)).alias("group_id"),
            F.coalesce("group_size", F.lit(1).cast("long")).alias(
                "group_size"
            ),
        )
    )


def connected_components_two_phase(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewrites (the Kiveris et al. 2014 "Connected Components in MapReduce
    and Beyond" two-phase algorithm) — the escalation path for graphs
    whose diameter defeats plain min-label propagation: a D-hop chain
    needs D propagation rounds but only O(log D) star rounds, because
    every round re-points whole neighborhoods at their minimum rather
    than moving labels one hop.

    Per round, with m(u) = min(N(u) ∪ {u}) computed as a window MIN over
    the symmetric edge list (never a collected neighbor set):
      large-star: every edge (u,v), v > u  becomes (v, m(u))
      small-star: every edge (u,v), v <= u becomes (v, m(u)), plus
                  (u, m(u)) — re-pointing u itself
    At the fixpoint the edge set is a forest of stars rooted at each
    component's minimum id; labels read directly off the edges. Same
    output contract as ``connected_components``.

    Scale shape: each phase is one shuffle on the grouping node (window
    partition) + a distinct; edge state is localCheckpoint'ed per round
    (constant lineage — durable checkpoints on a cluster). Convergence is
    a signature of the canonicalized edge set — (count, sum(hi), sum(lo),
    sum(xxhash64(hi, lo))) — one tiny aggregate, never an edge-vs-edge
    join; the order-insensitive hash sum distinguishes edge sets that tie
    on counts and coordinate sums (e.g. {(5,1),(4,2)} vs {(5,2),(4,1)}),
    so a false fixpoint would need a 64-bit hash-sum collision.
    """
    # canonical undirected pair (hi, lo), self-loops dropped
    edges = (
        pairs.select(
            F.greatest("d1", "d2").alias("hi"), F.least("d1", "d2").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )

    def star(e: DataFrame, large: bool) -> DataFrame:
        s = sym(e)
        m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        s = s.withColumn("m", m)
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = s.filter(cond).select(F.col("v").alias("a"), F.col("m").alias("b"))
        if not large:
            out = out.unionByName(
                s.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
        return (
            out.select(
                F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
            )
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )

    sig_cols = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("hi").cast("decimal(38,0)")).alias("sh"),
        F.sum(F.col("lo").cast("decimal(38,0)")).alias("sl"),
        # collision-resistant term: distinct edge sets can tie on the
        # coordinate sums, but not (modulo a 64-bit collision) on the sum
        # of per-edge hashes
        F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("sx"),
    ]
    sig_keys = ("n", "sh", "sl", "sx")
    prev = edges.agg(*sig_cols).first()
    rounds = 0
    for _ in range(max_rounds):
        # checkpoint BETWEEN the phases too: sym() references its input
        # from two union branches, so an un-materialized large-star plan
        # would execute twice inside small-star (the note-6 trap)
        edges = star(edges, large=True).localCheckpoint()
        edges = star(edges, large=False).localCheckpoint()
        rounds += 1
        cur = edges.agg(*sig_cols).first()
        if tuple(cur[k] for k in sig_keys) == tuple(prev[k] for k in sig_keys):
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
    # star edges: hi -> root(lo); singletons label themselves. min-agg
    # guards the not-fully-converged case (max_rounds hit) from fanning
    # out the left join
    roots = edges.groupBy("hi").agg(F.min("lo").alias("lo"))
    labels = (
        ids.select(F.col(id_col).alias("id"))
        .join(roots.select(F.col("hi").alias("id"), F.col("lo")), "id", "left")
        .select("id", F.coalesce("lo", "id").alias("label"))
    )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("group_size"))
    return labels.join(sizes, "label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("group_id"),
        "group_size",
    )


def canonical_docs(
    labels: DataFrame,
    docs: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-best selection per near-dup group: given ``connected_components``
    labels and a per-doc quality column, mark exactly one survivor per group
    — highest quality, smallest id on ties (deterministic under re-runs).

    This is the retention *policy* stage of a dedup pipeline: pair-finding
    says who duplicates whom; this says which copy the training corpus
    keeps. min-id canonicalization (``dedup_groups``) keeps an arbitrary
    copy — real pipelines keep the best one.

    Scale shape: one hash join on ``id_col`` to attach quality, one window
    shuffle on ``group_id``. Near-dup groups are small by construction, so
    the per-partition sort inside the window is bounded; no driver-side
    state.
    """
    w = Window.partitionBy("group_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        labels.join(docs.select(id_col, quality_col), id_col)
        .withColumn("keep", F.row_number().over(w) == F.lit(1))
        .select(id_col, "group_id", "group_size", quality_col, "keep")
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document 32-bit SimHash (map-only; word hashes materialized as
    a column so the 32 bit-votes share them)."""
    hashed = df.select(
        F.col(id_col), word_hashes(words(F.col(text_col))).alias("__wh")
    )
    return hashed.select(F.col(id_col), simhash(F.col("__wh")).alias("simhash"))
