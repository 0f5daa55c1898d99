"""Registry-wide plan-hygiene audit.

Builds every registered query at a small SF and inspects the PHYSICAL
plan (no execution beyond what eager builders do): per-query operator
census plus hard scale-hygiene gates:

- ``BatchEvalPython`` (row-wise Python UDF) and Arrow-batched Python
  (``ArrowEvalPython`` / ``MapInPandas``) — forbidden in every registered
  query's returned plan.
- ``CartesianProduct`` / all-pairs joins — allowed only in the labeled
  brute-force verification baselines and the replication probe.
- ``InMemoryTableScan`` in a RETURNED plan — allowed only where the
  builder deliberately persists a reused intermediate (LSH signature /
  candidate tables); anything else is a persist leak.

Exit code 1 on any violation. Usage:
    python tools/audit_plans.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# labeled brute-force / replication baselines (COVERAGE.md):
# exact-cosine verification baselines self-join all pairs; the scaled
# dividend probe crossJoins spark.range to replicate its fixture corpus;
# bm25 / tfidf / winsorize / deciles broadcast a 1-row or tiny stats
# frame through a BroadcastNestedLoopJoin, which Spark still prints
# under the nested-loop family.
CROSS_OK = {
    "vector_cosine_topk",
    "dedup_embedding_cosine",
    "dedup_hybrid",
    "fund_dividend_scaled",
    "vector_ann_ivf",  # centroid assignment compares against k literals
    "bm25_topk",
    "doc_tfidf_topk",
    "event_value_winsorized",
    "quality_deciles",
    "contamination_check",
    "quality_weighted_sample",
    "corpus_curation",
    "text_c4_filters",
}
# builders that deliberately persist a reused intermediate (signature /
# inverted-index / span / benchmark-shingle / prepped-embedding tables —
# each is scanned 2+ times by design and documented in COVERAGE.md; on a
# cluster these become written bucketed intermediates). Since r7 every
# such persist is GC-tied (VERDICT r6 #5): operators enroll via
# caching.persist_tracked and the registry wrapper ties the collected
# set to the returned handle, verified by this audit's end-state check
# (cache manager empty once every plan handle is dropped) and by the
# static no-raw-.persist() source rule below. (Operator-internal
# persists can't self-tie — a finalizer on an intermediate the builder
# derives further would early-fire, see caching.py — which is why the
# tie lives in the registry wrapper around the OUTERMOST build.)
PERSIST_OK = {
    "dedup_minhash_lsh",
    "dedup_groups",
    "dedup_groups_star",
    "dedup_canonical",
    "dedup_hybrid",
    "leakage_safe_split",
    "vector_ann_lsh",
    "vector_ann_ivf",
    "dedup_ngram_jaccard",
    "dedup_ngram_capped",
    "dedup_spans",
    "contamination_check",
    "dedup_embedding_cosine",
    "dedup_semantic",
    # r9: the inline-index incremental path persists the prepped/band
    # index tables (GC-tied like every entry here); the prebuilt-index
    # production shape reads them from parquet instead
    "dedup_incremental_minhash",
    # r9: composes minhash_lsh_pairs (seed-1) + the recovery pass, both
    # persisting the shared prepped table
    "dedup_recovery_pairs",
    # r12: the on-disk-index IVF form still persists the corpus prepped
    # table (ivf_seed_topk scans it for the query-side assignment and
    # the neighbor-side verify — same deliberate reuse as the inline
    # vector_ann_ivf entry above; the INDEX itself reads from parquet)
    "vector_ann_ivf_indexed",
}


def check_persist_sources() -> list[str]:
    """Static half of the VERDICT r6 #5 invariant: every ``.persist()``
    in package source must go through ``caching.persist_tracked`` (the
    registry wrapper then ties its lifetime to the returned handle) —
    a raw ``.persist()`` has an unauditable lifetime."""
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parent.parent
        / "fund_data_etl_pipeline_spark"
    )
    bad: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        if py.name == "caching.py":  # persist_tracked's own df.persist()
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if ".persist()" in line and not line.lstrip().startswith("#"):
                bad.append(
                    f"{py.relative_to(pkg.parent)}:{i}: raw .persist() — "
                    "route through caching.persist_tracked"
                )
    return bad


def audit(sf_dir: str, names: list[str] | None = None) -> int:
    import __spark_entry__ as e
    from fund_data_etl_pipeline_spark.session import get_spark

    spark = get_spark("audit")
    # audit each plan on a CLEAN cache: a shared test session may hold a
    # persist from an earlier query (e.g. dedup_semantic's prepped
    # embeddings), and Spark's cache manager substitutes
    # InMemoryTableScan into ANY later plan with the same subtree —
    # which would flag an innocent query as CACHE here
    spark.catalog.clearCache()
    qs = e.queries()
    picked = names or list(qs)
    bad: list[str] = check_persist_sources()
    print(
        f"{'query':30s} {'scan':>4} {'exch':>4} {'bcast':>5} "
        f"{'wind':>4} {'wscg':>4}  flags"
    )
    for name in picked:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            bad.append(f"{name}: build error {type(ex).__name__}: {ex}")
            print(f"{name:30s} BUILD ERROR")
            continue
        scans = plan.count("Scan parquet")
        exch = plan.count("Exchange hashpartitioning")
        bcast = plan.count("BroadcastExchange")
        wind = plan.count("Window")
        wscg = plan.count("WholeStageCodegen")
        flags = []
        if "BatchEvalPython" in plan:
            flags.append("ROW-UDF")
            bad.append(f"{name}: row-wise Python UDF (BatchEvalPython)")
        if "ArrowEvalPython" in plan or "MapInPandas" in plan:
            flags.append("ARROW?")
            bad.append(f"{name}: unexpected Arrow-Python stage")
        if "CartesianProduct" in plan and name not in CROSS_OK:
            flags.append("CROSS")
            bad.append(f"{name}: unlabeled CartesianProduct")
        if "InMemoryTableScan" in plan and name not in PERSIST_OK:
            flags.append("CACHE")
            bad.append(f"{name}: persisted intermediate in returned plan")
        print(
            f"{name:30s} {scans:4d} {exch:4d} {bcast:5d} "
            f"{wind:4d} {wscg:4d}  {' '.join(flags)}"
        )
    # GC end-state check (VERDICT r6 #5): `df` rebinding dropped every
    # prior handle; dropping the last one must leave zero live caches —
    # proof each builder's persists are tied to its returned handle.
    if names is None:  # only meaningful over the full registry
        import gc

        try:
            del df
        except UnboundLocalError:
            pass
        gc.collect()
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            bad.append(
                "cache manager not empty after dropping all plan handles "
                "— a persist escaped its GC tie"
            )
    spark.catalog.clearCache()
    if bad:
        print("\nVIOLATIONS:")
        for b in bad:
            print(" -", b)
        return 1
    print(f"\n{len(picked)} plans audited, 0 violations")
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    a = ap.parse_args()
    sys.exit(audit(a.sf, a.names or None))
