"""Vector similarity search over an embedding column (engine extension).

- ``cosine_topk``   — exact brute-force top-k: the correctness baseline.
  All arithmetic in DOUBLE via zip_with/aggregate expressions (JVM-side,
  no Python). O(Q x N) — fine for verification scale; at 100 TB use the
  LSH path.
- ``rhp_bucket``    — random-hyperplane LSH signature (deterministic
  hyperplanes derived from md5 parity, so results are reproducible and
  testable). Bucketing turns ANN into an equi-join on the signature;
  recall is tested against the brute-force baseline in pytest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import round2
from .caching import persist_tracked, release_on_gc


# Adaptive index widths (r10 — the note-10 discipline applied to the ANN
# paths: any bucket/list parameter FIXED while N grows degrades the
# index toward brute force — at planes=4 a 200 k-vector corpus averaged
# 12,500 rows per (table, bucket) and ~55–61 k candidates PER QUERY in
# the r10 query-skew probe). The REGISTERED queries pin widths (their
# DuckDB oracles replay the exact banding, and recall on a given corpus
# is a data-geometry question the pinned form keeps reproducible); the
# operator API defaults to these N-tracking widths, the form you'd ship
# at 100 TB.
ANN_OCC_TARGET = 64  # target expected bucket occupancy per table
ANN_P_MIN = 4
ANN_P_MAX = 24
IVF_LISTS_MIN = 16
# widest centroid set expressed as Catalyst literals (above this, the
# per-centroid expression tree — n_lists structs × dims literals —
# dominates analysis time outright; assignment switches to the Arrow
# GEMM path)
_IVF_LITERAL_MAX = 64


def ann_planes(
    n: int,
    occ: int = ANN_OCC_TARGET,
    p_min: int = ANN_P_MIN,
    p_max: int = ANN_P_MAX,
) -> int:
    """Smallest p in [p_min, p_max] with n <= occ * 2**p — expected
    bucket occupancy stays ~occ as the corpus grows (the slsh_planes
    ladder, same integer form). More planes cut per-table recall for a
    FIXED data geometry; production counters with more tables, which
    multiplies candidates linearly instead of exponentially."""
    p = p_min
    while p < p_max and n > occ * (1 << p):
        p += 1
    return p


def ivf_lists(n: int, floor: int = IVF_LISTS_MIN) -> int:
    """~sqrt(N) coarse lists, rounded up to a power of two (the standard
    IVF sizing: per-list scan cost and list count balance at sqrt(N), so
    a probe visits ~n_probe*sqrt(N) candidates instead of n_probe*N/16).
    Floor keeps tiny corpora at the pinned registered width."""
    lists = floor
    while lists * lists < n:
        lists <<= 1
    return lists


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding itself).
    Ranking key is (rounded cosine DESC, neighbor id) so ties are
    deterministic across engines."""
    from pyspark.sql.window import Window as W

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("nv")
    )
    scored = (
        q.crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            round2(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans coarse quantizer -> every vector
    assigned to its nearest centroid's list; a query probes its
    ``n_probe`` nearest lists and ranks only those candidates by exact
    cosine. The crossJoin becomes an equi-join on ``list_id`` — with
    n_lists lists and n_probe probes the candidate set shrinks by
    ~n_probe/n_lists. The quantizer trains on a deterministic hash sample
    (``train_fraction``) — at 100 TB the coarse quantizer never needs the
    full corpus, only enough vectors per list (~256·n_lists); the sample
    is the same rows every run, so list assignment stays reproducible.
    Centroids ship as literals, so assignment is a pure map-side
    expression. ``n_lists=None`` (default, r10) sizes the list count at
    ~sqrt(N) via ivf_lists — the standard IVF balance point — so probe
    cost stays ~n_probe*sqrt(N) as the corpus grows instead of
    n_probe*N/16 (the note-10 fixed-parameter trap); the registered
    query pins 16 for oracle determinism."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.window import Window as W

    from .sampling import hash_sample

    if n_lists is None:
        n_lists = ivf_lists(vectors.count())
    train_src = (
        hash_sample(vectors, train_fraction, id_col=id_col, salt="ivf-train-v1")
        if train_fraction < 1.0
        else vectors
    )
    train = train_src.select(
        array_to_vector(as_double(F.col(vec_col))).alias("features")
    )
    # guard the quantizer: hash sampling gives no per-run size guarantee
    # on small corpora, and KMeans needs comfortably more vectors than
    # lists — fall back to full training below 4 per list (the count is a
    # tiny aggregate, paid once at train time)
    if train_fraction < 1.0 and train.count() < 4 * n_lists:
        train = vectors.select(
            array_to_vector(as_double(F.col(vec_col))).alias("features")
        )
    model = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    def dist2(v: Column, center: list[float]) -> Column:
        c = F.array(*[F.lit(x) for x in center])
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    def ranked_lists(v: Column, n: int) -> Column:
        scored = F.array(
            *[
                F.struct(dist2(v, c).alias("d"), F.lit(i).alias("i"))
                for i, c in enumerate(centroids)
            ]
        )
        return F.slice(F.array_sort(scored), 1, n)

    def numpy_ranked(df: DataFrame, idn: str, n: int) -> DataFrame:
        """(id, list_id) for each vector's n nearest centroids via an
        Arrow-batched vectorized kernel — above the literal-width
        threshold the per-centroid literal expression tree is the
        bottleneck (32 k AST nodes at 512 lists × 64 dims stall
        analysis outright, the r10 adaptive-width lesson), and the
        distance pass itself is the N·n_lists term a vectorized kernel
        does ~40–70× faster. The distance is accumulated dim-by-dim in
        the SAME left-fold order as the literal branch's ``aggregate``
        (acc = 0.0, then acc + (x_j - c_j)^2 in dim order, each step an
        elementwise add) — NOT the expanded |v|^2 - 2·v·c + |c|^2 GEMM
        form, whose different float summation could flip near-tie list
        assignments across the _IVF_LITERAL_MAX switch (ADVICE r10).
        Ties break to the LOWER centroid index, matching array_sort on
        the (d, i) struct. The id column's output type is derived from
        the input, so non-integral ids pass through unchanged."""
        import numpy as np

        cmat = np.array(centroids, dtype="float64")
        dims = cmat.shape[1]
        id_sql = df.schema["vid"].dataType.simpleString()

        def _rank(batches):
            import pandas as pd

            for pdf in batches:
                if not len(pdf):
                    continue
                vm = np.array(list(pdf["v"]), dtype="float64")
                d = np.zeros((vm.shape[0], cmat.shape[0]))
                for j in range(dims):
                    t = vm[:, j, None] - cmat[None, :, j]
                    t *= t
                    d += t
                idx = np.argsort(d, axis=1, kind="stable")[:, :n]
                ids = np.repeat(pdf["vid"].to_numpy(), n)
                yield pd.DataFrame(
                    {idn: ids, "list_id": idx.reshape(-1).astype("int64")}
                )

        return df.mapInPandas(_rank, schema=f"{idn} {id_sql}, list_id long")

    if n_lists > _IVF_LITERAL_MAX:
        vp = vectors.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        )
        qp = queries.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        )
        v = vp.select(F.col("vid").alias("neighbor_id"),
                      F.col("v").alias("nv")).join(
            numpy_ranked(vp, "neighbor_id", 1), "neighbor_id"
        )
        q = qp.select(F.col("vid").alias("query_id"),
                      F.col("v").alias("qv")).join(
            numpy_ranked(qp, "query_id", n_probe), "query_id"
        )
    else:
        v = vectors.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("nv")
        ).withColumn("list_id", ranked_lists(F.col("nv"), 1)[0]["i"])
        q = (
            queries.select(
                F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
            )
            .withColumn("probe", F.explode(ranked_lists(F.col("qv"), n_probe)))
            .select("query_id", "qv", F.col("probe.i").alias("list_id"))
        )
    scored = (
        q.join(v, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            round2(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


_INTEGRAL_SQL = {"tinyint", "smallint", "int", "bigint"}


def _argmax_list(scored: DataFrame, idn: str) -> DataFrame:
    """argmax over (cos_r DESC, list_id ASC) per id, as a hash
    aggregate: max_by collapses each vector's n_lists candidate rows
    map-side so only one row per vector reaches the exchange — a
    row_number window here shuffles the full cross product (r10: the
    100x adaptive probe timed out on exactly that). The max_by struct
    trick needs a numeric list_id (``-list_id`` makes max pick the
    min); non-integral ids keep the same tie-break as an order-by
    (ADVICE r10), paying the window shuffle only on that generic path.
    """
    if scored.schema["list_id"].dataType.simpleString() in _INTEGRAL_SQL:
        return scored.groupBy(idn).agg(
            F.max_by(
                "list_id",
                F.struct(F.col("cos_r"), (-F.col("list_id")).alias("nl")),
            ).alias("list_id")
        )
    from pyspark.sql.window import Window as W

    w = W.partitionBy(idn).orderBy(F.col("cos_r").desc(), F.col("list_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(idn, "list_id")
    )


def build_ivf_index(
    vectors: DataFrame,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    numpy_assign: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The persisted-index half of IVF (r10 — the build_minhash_index
    pattern applied to vectors): ``(seeds, assigned)`` — the seed
    centroid table and every corpus vector's nearest-seed list
    assignment. A daily pipeline builds these ONCE (the N·n_lists
    dot-product pass — at the adaptive sqrt(N) width this is the N^1.5
    index-build term, THE cost that must not be paid per query: the r10
    probe measured 715 s at 200 k vectors when ivf_seed_topk re-assigned
    inline), writes them out (bucketed by list_id at scale so probe
    joins are co-located), and passes them back via ``index_tables=``.

    ``numpy_assign=True`` runs the assignment as an Arrow-batched
    ``mapInPandas`` matmul against the broadcast seed matrix — dense
    linear algebra is the one place the HOF dot-fold loses to a
    vectorized kernel by ~40× (6.5 B scalar multiplies at 200 k × 512 ×
    64 dims; numpy does them as BLAS GEMM). Same float64 arithmetic,
    but summation ORDER differs from the fold, so the rounded cosine is
    not bit-guaranteed at ties — the pytest pins empirical equality on
    the test corpora, and the oracle-exact registered query keeps the
    HOF path (numpy_assign=False replays it exactly, argmax on
    round2(cos, 6) with the min-list_id tie-break)."""
    if n_lists is None:
        n_lists = ivf_lists(vectors.count())
    prepped = persist_tracked(
        vectors.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        ).select("vid", "v", norm(F.col("v")).alias("nv"))
    )
    seeds = (
        prepped.orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(n_lists)
        .select(
            F.col("vid").alias("list_id"),
            F.col("v").alias("sv"),
            F.col("nv").alias("ns"),
        )
    )
    id_sql = prepped.schema["vid"].dataType.simpleString()
    if not numpy_assign:
        # zero-norm guard (ADVICE r10): clamp a zero denominator to 1 so
        # a degenerate all-zeros vector scores cos = 0 against every
        # seed and the min-list_id tie-break assigns it to the FIRST
        # list — the same defined fallback the numpy path applies, so
        # the two paths agree by construction instead of diverging
        # NULL-vs-NaN. (The unclamped division never fires on real
        # corpora — the testdata embeddings are unit-norm — so oracle
        # replays are unaffected.)
        den = F.col("nv") * F.col("ns")
        scored = prepped.crossJoin(F.broadcast(seeds)).select(
            F.col("vid").alias("neighbor_id"),
            "list_id",
            round2(
                dot(F.col("v"), F.col("sv"))
                / F.when(den == 0, F.lit(1.0)).otherwise(den),
                6,
            ).alias("cos_r"),
        )
        assigned = _argmax_list(scored, "neighbor_id")
        return seeds, release_on_gc(assigned, prepped)

    seed_rows = seeds.collect()  # n_lists x dims doubles — tiny
    import numpy as np

    # pre-sort seeds by list_id so argmax's first-max rule below gives
    # the min-list_id tie-break; a Python sort keeps this generic over
    # string ids (np.lexsort chokes on object dtype)
    seed_rows = sorted(seed_rows, key=lambda r: r["list_id"])
    smat = np.array([r["sv"] for r in seed_rows], dtype="float64")
    snorm = np.array([r["ns"] for r in seed_rows], dtype="float64")
    sids = np.array([r["list_id"] for r in seed_rows])

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vm = np.array(list(pdf["v"]), dtype="float64")
            den = np.outer(pdf["nv"].to_numpy(dtype="float64"), snorm)
            # zero-norm guard — see the HOF branch: cos = 0, first list
            den[den == 0.0] = 1.0
            cos = np.round((vm @ smat.T) / den, 6)
            # argmax returns the FIRST max; columns are list_id-sorted,
            # so ties resolve to the smallest list_id — the HOF rule
            pick = cos.argmax(axis=1)
            yield pd.DataFrame(
                {"neighbor_id": pdf["vid"].to_numpy(), "list_id": sids[pick]}
            )

    assigned = prepped.mapInPandas(
        _assign, schema=f"neighbor_id {id_sql}, list_id {id_sql}"
    )
    return seeds, release_on_gc(assigned, prepped)


def ivf_seed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int | None = None,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_tables: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF ANN with a DETERMINISTIC seed quantizer: the coarse centroids
    are the ``n_lists`` corpus vectors with the smallest md5(id) — a
    hash-uniform draw standing in for KMeans' sampled training set (the
    random-init special case of ``ivf_topk``; FAISS calls the same idea
    a flat coarse quantizer over sampled points). That substitution is
    what makes this ANN path EXACTLY reproducible in SQL: seed choice,
    cosine list assignment (rounded to 6), n_probe probing and the final
    exact-cosine rank are all engine-stable expressions, so the DuckDB
    oracle replays the whole pipeline bit-for-bit — the
    vector_ann_lsh / dedup_semantic treatment applied to IVF.

    Metric is cosine (inner-product IVF): assignment and ranking share
    one rounded expression tree. Scale shape: seeds are a
    TakeOrderedAndProject top-K broadcast to a map-side assignment (one
    dot fold per (vector, seed)); the only data shuffle is the list_id
    equi-join, whose candidate set shrinks ~n_probe/n_lists vs the
    brute-force cross join. Norms are computed once per vector on the
    persisted prepped table (3 HOF folds -> 1 per pair); the cache must
    outlive the call because the returned plan is lazy and scans prepped
    for seeds, assignment and neighbor-side scoring (see dedup_semantic).

    ``n_lists=None`` (default, r10) sizes the list count at ~sqrt(N) via
    ivf_lists; the registered query pins 16 so its DuckDB oracle replays
    the exact quantizer (see the module's adaptive-width note).

    ``index_tables=(seeds, assigned)`` (r10) supplies the PREBUILT
    persisted index from build_ivf_index — the daily-pipeline steady
    state: the N·n_lists assignment pass is amortized once per ingest,
    and a query call pays only its own probes + the list-local verify
    (the build_minhash_index / index_tables= convention).
    """
    from pyspark.sql.window import Window as W

    prepped = persist_tracked(
        vectors.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        ).select("vid", "v", norm(F.col("v")).alias("nv"))
    )
    if index_tables is not None:
        seeds, pre_assigned = index_tables
    else:
        pre_assigned = None
        if n_lists is None:
            n_lists = ivf_lists(vectors.count())
        seeds = (
            prepped.orderBy(F.md5(F.col("vid").cast("string")), "vid")
            .limit(n_lists)
            .select(
                F.col("vid").alias("list_id"),
                F.col("v").alias("sv"),
                F.col("nv").alias("ns"),
            )
        )

    def nearest_lists(df: DataFrame, idn: str, n: int) -> DataFrame:
        # zero-norm clamp mirrors build_ivf_index so inline assignment
        # and a prebuilt index agree on degenerate vectors (cos = 0,
        # first list); no-op on real unit-norm corpora
        den = F.col("nv") * F.col("ns")
        scored = df.crossJoin(F.broadcast(seeds)).select(
            F.col("vid").alias(idn),
            "list_id",
            round2(
                dot(F.col("v"), F.col("sv"))
                / F.when(den == 0, F.lit(1.0)).otherwise(den),
                6,
            ).alias("cos_r"),
        )
        if n == 1:
            # the CORPUS assignment (N x n_lists rows — at the adaptive
            # sqrt(N) width this is the N^1.5 index-build term): see
            # _argmax_list for the map-side-combine rationale
            return _argmax_list(scored, idn)
        w = W.partitionBy(idn).orderBy(F.col("cos_r").desc(), F.col("list_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select(idn, "list_id")
        )

    q_prepped = queries.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).select("vid", "v", norm(F.col("v")).alias("nv"))
    assigned = (
        pre_assigned
        if pre_assigned is not None
        else nearest_lists(prepped, "neighbor_id", 1)
    )
    probes = nearest_lists(q_prepped, "query_id", n_probe)
    qv = q_prepped.select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("q_v"),
        F.col("nv").alias("q_n"),
    )
    nv = prepped.select(
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("n_v"),
        F.col("nv").alias("n_n"),
    )
    scored = (
        probes.join(assigned, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(qv, "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            round2(
                dot(F.col("q_v"), F.col("n_v"))
                / (F.col("q_n") * F.col("n_n")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    out = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    return release_on_gc(out, prepped)


def check_dims(df: DataFrame, vec_col: str, dims: int) -> None:
    """Fail fast when ``dims`` disagrees with the corpus's actual vector
    width: ``zip_with`` pads the shorter side with NULLs, NULL poisons
    the projection fold, and every sign bit silently degenerates to 0 —
    all vectors land in ONE all-zeros bucket and the bucketed equi-join
    becomes a full cross product (r11 review).

    Schema-first: a ``dims`` entry in the column's StructField metadata
    is trusted outright (no Spark job). PRODUCER CONTRACT (ADVICE r12):
    Spark propagates column metadata through select/alias, so any
    transform that changes the vector width MUST strip or refresh the
    ``dims`` entry (``F.col(c).alias(c, metadata={})``) — stale
    metadata skips this check and reintroduces the all-zeros-bucket
    cross product it exists to prevent. In this repo the only producer
    is sources/tables.load_table (trusted, width set by probe-once);
    callers wiring UNTRUSTED metadata-bearing input should drop the
    metadata at ingest and let the probe run. Without metadata: ONE
    LIMIT-1 row scan per build (~0.3 s locally; LIMIT-1 stays constant
    at any corpus size). The probe samples a single arbitrary row, so
    it assumes a
    UNIFORM-width corpus — a mixed-width corpus where only some rows
    mismatch still slips through (a full min==max aggregate would cost
    a pass over the corpus; callers with untrusted mixed-width data
    should validate at ingest).

    NOTE (r12, root-caused r13): a memoized variant (probe once per
    (semanticHash, column)) was tried for VERDICT r11 #5 and REVERTED
    after an apparent progressive same-session degradation (6.6 -> 28 s
    by the 5th rebuild). Round 13 root-caused that as HOST-VM NOISE,
    not a code mechanism (BASELINE lesson 19): instrumented
    rebuild loops (per-rebuild wall/build/exec split, Spark-job time
    via the UI REST API, JVM GC time, persisted-RDD count) and the
    memoized form measured FLAT over 8 rebuilds (~6.5-10 s, zero cache
    accumulation, GC 50-300 ms, summed job time ~2.5 s) — while
    un-instrumented runs on a loaded host showed 2-50x swings with a
    different hotspot each run (the same pattern as BASELINE lesson
    17's bench variance). Memoization is still NOT restored: the
    schema-first metadata branch above (fed by load_table, r13) makes
    it redundant for every registered caller, and a filesystem-keyed
    cache beats a plan-keyed one anyway (BASELINE lesson 19)."""
    width: int | None = None
    try:
        field = df.schema[vec_col]
        if field.metadata and "dims" in field.metadata:
            width = int(field.metadata["dims"])
    except (KeyError, TypeError, ValueError):
        pass
    if width is None:
        row = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if row is not None and row["d"] is not None:
            width = int(row["d"])
    if width is not None and width != dims:
        raise ValueError(
            f"dims={dims} but '{vec_col}' vectors have {width} "
            f"components — the hyperplane zip_with would NULL-pad and "
            f"every bucket key would degenerate to the all-zeros bucket"
        )


def rhp_sign_vector(plane: int, dims: int) -> list[int]:
    """The +-1 hyperplane for ``plane``: component d is the parity of
    H(plane || '_' || d). Deterministic constants — the same list feeds
    the Spark plan (as literals) and the DuckDB oracle SQL (as an array
    literal), so bucket assignment is engine-reproducible."""
    import functools
    import hashlib

    @functools.lru_cache(maxsize=4096)
    def _sv(plane: int, dims: int) -> tuple[int, ...]:
        return tuple(
            1
            if int(hashlib.md5(f"{plane}_{d}".encode()).hexdigest()[:8], 16)
            % 2
            else -1
            for d in range(dims)
        )

    return list(_sv(plane, dims))


# Constructed-Column cache for the per-plane +-1 literal arrays (r13,
# guide §1.2 "per-task work" applied to the DRIVER: plan BUILD time).
# Each plane's array is ``dims`` F.lit py4j round-trips; a 4-table
# 16-plane bucket set costs ~0.9 s of pure Column construction, paid
# once per with_buckets side on EVERY fresh DataFrame build (the bench
# rebuilds per pass; a long-lived service rebuilds per request). Columns
# are immutable expression trees, so one constructed array serves every
# plan in the session — the lesson-9 fund-cascade Column cache applied
# to the ANN family. Keyed per SparkContext: a JVM restart in-process
# would otherwise leave stale gateway refs in the cache.
_SIGNS_CACHE: dict[tuple[int, int], Column] = {}
_SIGNS_CACHE_CTX: object | None = None


def _signs_array(plane: int, dims: int) -> Column:
    global _SIGNS_CACHE_CTX
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if _SIGNS_CACHE_CTX is not sc:
        _SIGNS_CACHE.clear()
        _SIGNS_CACHE_CTX = sc
    key = (plane, dims)
    col = _SIGNS_CACHE.get(key)
    if col is None:
        col = F.array(
            *[F.lit(float(s)) for s in rhp_sign_vector(plane, dims)]
        )
        _SIGNS_CACHE[key] = col
    return col


def rhp_sign(vec: Column, plane: int, dims: int) -> Column:
    """Sign bit of <v, r_plane> — deterministic pseudo-random
    hyperplanes via ``rhp_sign_vector``."""
    proj = F.aggregate(
        F.zip_with(
            vec,
            _signs_array(plane, dims),
            lambda x, r: x * r,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def rhp_bucket(
    vec: Column | str, planes: int, dims: int, offset: int = 0
) -> Column:
    """Concatenated sign bits -> LSH bucket key; ``offset`` selects an
    independent plane family per hash table.

    ``vec`` may be a Column (the historical API) or a SQL expression
    STRING. The string form builds the whole ``planes``-bit key as ONE
    ``F.expr`` parse — the Column form pays ~5 py4j round-trips per
    plane for the zip_with/aggregate/when combinators on every build
    (~0.4 s per 16-plane set even with the literal-array cache; measured
    bit-identical on real data, r13). Semantics are identical: same
    literal sign arrays, same sequential left-to-right fold, same
    ``>= 0`` sign rule with a NULL vector collapsing to all-zeros."""
    if isinstance(vec, str):
        bits_sql = []
        for p in range(planes):
            signs = rhp_sign_vector(offset + p, dims)
            lits = ", ".join(f"{float(s):.1f}D" for s in signs)
            bits_sql.append(
                f"CASE WHEN aggregate(zip_with({vec}, array({lits}),"
                " (x, r) -> x * r), 0.0D, (acc, v) -> acc + v) >= 0"
                " THEN '1' ELSE '0' END"
            )
        return F.expr("concat_ws(''," + ",".join(bits_sql) + ")")
    bits = [
        rhp_sign(vec, offset + p, dims).cast("string") for p in range(planes)
    ]
    return F.concat_ws("", *bits)


def ann_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int | None = None,
    tables: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH.

    ``tables`` independent signatures of ``planes`` bits each; a candidate
    is any vector sharing at least one table's bucket with the query, then
    exact cosine ranks the candidates. The crossJoin of cosine_topk becomes
    an equi-join on (table, bucket) — the 100 TB-scale path; recall grows
    with ``tables``, candidate count shrinks with ``planes``.

    ``planes=None`` (default, r10) sizes the signature from the corpus
    count via the ann_planes ladder so expected bucket occupancy — and
    with it per-query candidate volume — stays ~ANN_OCC_TARGET as N
    grows instead of N/2**planes (the note-10 fixed-parameter trap; at
    the pinned width 4 the r10 probe measured ~55–61 k candidates per
    query at 200 k vectors). The registered query pins planes=4: its
    DuckDB oracle replays that exact banding, and pinning keeps its
    recall a stable property of the test corpus.

    Candidate generation is ID-ONLY (r10, VERDICT r9 #2 — the same
    restructure dedup_semantic_lsh got in r6): the (tbl, bucket)
    equi-join and the pair dedup move (id, tbl, bucket) rows, never the
    embedding arrays; the distinct (query_id, neighbor_id) pairs join
    the vectors back by id for the exact-cosine rank. At the test's 64
    dims the payload was ~16× the id width — at production 1–4 k-dim
    embeddings the old form's candidate shuffle grows ~50×, while this
    one is invariant to dimension until the verify stage.
    """
    from pyspark.sql.window import Window as W

    if planes is None:
        planes = ann_planes(vectors.count())
    check_dims(vectors, vec_col, dims)

    def with_buckets(df: DataFrame, idn: str) -> DataFrame:
        # SQL-string vec -> one F.expr parse per table (see rhp_bucket)
        v = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
        buckets = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    rhp_bucket(v, planes, dims, offset=t * planes).alias("bucket"),
                )
                for t in range(tables)
            ]
        )
        return df.select(
            F.col(id_col).alias(idn), F.explode(buckets).alias("tb")
        ).select(idn, F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))

    q = with_buckets(queries, "query_id")
    v = with_buckets(vectors, "neighbor_id")
    cand = (
        q.join(v, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    nvecs = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("nv"),
    )
    scored = (
        cand.join(qvecs, "query_id")
        .join(nvecs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            round2(cosine(F.col("qv"), F.col("nv")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
