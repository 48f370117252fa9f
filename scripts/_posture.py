"""The bench posture: headline query set, shuffle sizing and env defaults.

``bench.py`` and every probe that times queries take their posture from
here, so it is defined once. Importing this module changes nothing;
only :func:`apply` writes ``os.environ``.

Serving posture: hot base tables live in the in-memory columnar cache
(repartitioned once at materialization) — see io.load_table — and each
headline plan is prepared once and re-executed (registry plan cache).
Static planning + data-sized shuffle partitions: AQE's stage-by-stage
materialization (one scheduler job + driver replan per exchange) and
32-task micro-shuffles dominate sub-second queries at this SF —
measured 11.1s -> ~3s total on this headline set. AQE remains the
default for the batch/cluster paths (get_spark without these envs);
at 100 TB each shuffle carries GBs per partition and AQE's runtime
re-planning pays for itself.

``SPARK_GRAFT_AQE=0`` is also the JIT posture: ``session.get_spark``
launches a serving-profile JVM with full tiered compilation, because a
long-lived bench or A/B session re-runs the same hot code and C2 pays
back there (C1-only made the warm headline 1.67x slower). A batch
session, a one-shot op in a fresh JVM, is launched C1-only instead. The
two batch jobs that run minutes of work in one JVM without this posture
(the generator CLI and the correctness sweep, which the scale probe also
runs for its at-scale check) pass ``session.TIERED_JIT`` to keep C2.
"""

from __future__ import annotations

import os

# headline set: one per operator family, weighted toward the shapes that
# dominate real workloads (scan-agg, star join, window, dedup, ANN, text)
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_regional_revenue",
    "a03_percentile_summary",
    "a11_share_of_group_window",
    "s05_upsert_last_writer_wins",
    "ev02_sessionize",
    "dd01_exact_dedup",
    "dd04_minhash_lsh_pairs",
    # xxhash64 production twin of dd04: no SQL oracle (rows-only), so it
    # counts toward `value` but stays out of the DuckDB ratio; here to put
    # a wall-time number on the codegen'd-hash path (expected < dd04)
    "dd09_minhash_lsh_pairs_xxh",
    # Bloom-prefilter decontamination: dd07's exact answer in the
    # bench-set-too-big-to-broadcast regime (oracled — same SQL)
    "dd10_bloom_decontaminate",
    "tx02_quality_score",
    "tx11_corpus_filter_pipeline",
    "ev05_funnel_conversion",
    "sim01_ann_bruteforce_topk",
    # the bucketed ANN scale path beside its brute-force baseline, plus
    # its per-bucket-GEMM production twin (rows-only: no oracle, frame
    # equality with sim02 pinned in tests — at sf5: 2.7s vs 6.6s HOF)
    "sim02_ann_lsh_bucketed",
    "sim02x_ann_lsh_bucketed_np",
    "tp02_resample_gapfill",
    # PQ/ADC ANN (oracled — integer-grid distances, exact SQL twin):
    # the compressed-scan end of the ANN ladder
    "sim06_pq_adc",
    # distributed spherical k-means (3 Lloyd's rounds over the full
    # embedding table; rows-only — iterative, no single SQL statement)
    "sim05_kmeans_assign",
    # the composed IVF-PQ serving shape (oracled): coarse cells bound
    # candidates, PQ codes bound per-candidate cost — the flagship
    # 100 TB ANN plan, timed beside its two ingredients
    "sim07_ann_ivfpq",
    # + exact re-rank of the ADC top-50 (oracled): the recall-recovery
    # stage; full-vector reads stay bounded per query
    "sim08_ann_ivfpq_rerank",
    # self-kNN graph over IVF cells (oracled): the edge-list input to
    # SemDeDup-style clustering — pair set O(N^1.5) via occupancy gate
    "sim09_knn_graph",
    # semantic dedup, cluster-then-compare (oracled): the SemDeDup
    # scale path — pair count is cell occupancy, never corpus^2
    "dd13_semantic_dedup",
    # incremental ingest dedup (oracled): new batch LSH-probes the
    # existing corpus index without recomputing it — the scale claim is
    # cost ∝ batch, so it belongs in the per-SF probes
    "dd14_incremental_ingest_dedup",
    "mm02_decode_features",
    # the composed curation funnel (oracled): quality -> near-dup ->
    # decontaminate -> holdout in ONE attributed pass — the end-to-end
    # number a training-data pipeline actually ships. The BENCHMARKED
    # funnel is the banded-LSH production mode: pipe01's exact pair
    # stage is the ground-truth baseline whose corpus-scale pair
    # exchange (~2B pairs / 50+ GB shuffle at sf10) exceeds a single
    # box's scratch in EITHER engine — it stays value-verified at
    # sf<=1 via the driver gate, sweeps, and the sf1 probe
    "pipe02_curation_funnel_lsh",
    # MMR diversified retrieval (rows-only: greedy re-rank, bit-exact
    # Python-mirror tested): bounded-broadcast GEMM candidates + 40-row
    # applyInPandas groups — re-rank cost is corpus-size-independent
    "sim10_mmr_diverse_topk",
    # r8 additions (r7 verdict ask #6 — both were oracled at 3 SFs but
    # absent from the at-scale artifacts): hard-negative mining rides
    # the IVF family's GEMM assignment and per-cell probe stage, with a
    # label filter inside the cell kernel; the bigram-LM quality score is a
    # vocab^2-bounded broadcast model over one corpus scan
    "sim11_hard_negatives",
    "tx16_bigram_logprob",
]


def sized_shuffle_partitions(sf_dir: str, cpus: int) -> int:
    """Static-planning analog of AQE coalescing: shuffle partition count
    sized from the SF dir's bytes (~64 MB per partition, floor 8, cap at
    ``cpus``; the cap wins below 8 cores) so the sf0.1 posture doesn't
    serialize 50x data through 8-way exchanges at a bigger SF."""
    total = 0
    try:
        for root, _dirs, files in os.walk(sf_dir):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if not f.startswith((".", "_"))
            )
    except OSError:
        pass
    return min(cpus, max(8, total // (64 * 1024 * 1024)))


def apply(sf_dir: str, cpus: int, plan_cache: bool = True) -> None:
    """Set the bench posture's env defaults for a session not yet built.

    Values already in the environment win. ``plan_cache=False`` forces
    the registry's plan cache off: it memoizes per (app, sf_dir, name),
    so an in-process A/B would otherwise time one arm's plan twice.
    """
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    if plan_cache:
        os.environ.setdefault("SPARK_GRAFT_PLAN_CACHE", "1")
    else:
        os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    os.environ.setdefault("SPARK_GRAFT_AQE", "0")
    os.environ.setdefault(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
        str(sized_shuffle_partitions(sf_dir, cpus)),
    )
