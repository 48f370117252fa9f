"""End-to-end curation funnel: the composed training-data pipeline.

Every stage here exists as a standalone operator (tx02 quality gates,
dd02/dd04 near-dup, dd07 decontamination, smp01 hash split); this module
pins the COMPOSITION — one query that takes the raw document pool to a
training-ready kept set with first-failing-stage attribution per
document, the shape a real curation run reports to its owners.

Stage order (first failure wins, later stages only see survivors):

1. ``quality``       — token-count floor (tx02's gate family)
2. ``duplicate``     — near-duplicate loser (exact n-gram Jaccard,
                       dd02 semantics; the larger doc_id of a pair drops)
3. ``contaminated``  — shares >= 2 shingles with the benchmark slice
                       (dd07 semantics, benchmark = doc_id % 97 == 0)
4. ``holdout``       — md5-of-key eval split (smp01 semantics)
5. ``kept``          — survives everything: the training set

Scale note: the registered pipe01 uses the EXACT shingle-join pair
stage (dd02) because the funnel's oracle must be SQL-expressible
end-to-end; ``curation_funnel(..., pair_stage="lsh")`` swaps in dd04's
banded MinHash-LSH pair generator (same (doc_a, doc_b) interface,
bucketed instead of quadratic in shared-shingle groups) — the
executable 100 TB path, pinned frame-equal to the exact mode on the
gate fixtures by ``tests/test_plans.py``. Everything else is already
the scale shape: shingle equi-joins, size-aware benchmark-set and
flag-set join hints, hash-split projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import broadcast_or_shuffle_hash, load_table, parallelize_scan
from ..registry import register
from .dedup import (
    _CONTAM_MIN_SHARED,
    _SQL_SHINGLES,
    _SQL_TOKS,
    JACCARD_THRESHOLD,
    LSH_MAX_BUCKET,
    minhash_lsh_pairs,
    shingles,
)
from .textops import tokens

PIPE_WC_MIN = 15  # quality gate: drops the short tail (~5% here)
PIPE_HOLDOUT_NIBBLE = "f"  # md5 first hex char -> ~1/16 eval holdout

_PIPE_BASE_CTES = f"""
    WITH wcd AS (
      SELECT doc_id, lang, source, {_SQL_TOKS} AS t,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS wc
      FROM documents WHERE doc_id % 97 <> 0
    ),
    sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM wcd WHERE wc >= {PIPE_WC_MIN}
    )"""

# the funnel's tail (benchmark shingles, contamination, stage CASE) —
# shared verbatim by pipe01's and pipe02's oracles, parameterized on
# where `dupes` comes from
_PIPE_TAIL = f"""
    bsh AS (
      SELECT DISTINCT unnest({_SQL_SHINGLES}) AS s
      FROM (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 97 = 0)
    ),
    ex AS (
      SELECT doc_id, unnest(shingles) AS s FROM sh
    ),
    contam AS (
      SELECT ex.doc_id FROM ex JOIN bsh ON ex.s = bsh.s
      WHERE ex.doc_id NOT IN (SELECT doc_id FROM dupes)
      GROUP BY ex.doc_id
      HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}
    )
    SELECT w.doc_id, w.lang, w.source, w.wc,
           CASE
             WHEN w.wc < {PIPE_WC_MIN} THEN 'quality'
             WHEN w.doc_id IN (SELECT doc_id FROM dupes) THEN 'duplicate'
             WHEN w.doc_id IN (SELECT doc_id FROM contam)
               THEN 'contaminated'
             WHEN substr(md5(CAST(w.doc_id AS VARCHAR)), 1, 1)
                  = '{PIPE_HOLDOUT_NIBBLE}' THEN 'holdout'
             ELSE 'kept'
           END AS stage
    FROM wcd w
    """

_PIPE_ORACLE_PLAIN = (
    _PIPE_BASE_CTES
    + f""",
    exn AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      FROM exn a JOIN exn b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    dupes AS (
      SELECT DISTINCT doc_b AS doc_id FROM pairs
      WHERE shared * 1.0 / (na + nb - shared) >= {JACCARD_THRESHOLD}
    ),
"""
    + _PIPE_TAIL
)


@register("pipe01_curation_funnel", oracle=_PIPE_ORACLE_PLAIN)
def pipe01_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-compat funnel: exact pair stage (see curation_funnel).

    The exact pair stage is the funnel's ground-truth baseline (sim01's
    role in the ANN ladder): every pair, no recall question — and
    quadratic in shared-shingle group sizes, so its corpus-scale cost
    is a full pair-multiset exchange. At sf10 that exchange outgrows a
    single box's disk in either engine (PIPE01_SF10_EXCLUSION.json; the
    chunked Spark mode and DuckDB staging twin that completed it there
    are at eaa7e1c). Value-verified at sf0.001-0.1 (driver gate +
    sweep); ``pipe02_curation_funnel_lsh`` is the at-scale-benchmarked
    production path.
    """
    return curation_funnel(spark, sf_dir, pair_stage="exact")


# pipe02's oracle: the SAME funnel with dd04's banded MinHash-LSH pair
# stage (md5 band keys — reproducible in DuckDB; max_bucket=None is the
# oracle-compat cap mode, dd04's convention). The only oracle difference
# from pipe01 is where `dupes` comes from: banded candidates verified by
# exact Jaccard instead of the full exact pair multiset.
def _pipe02_oracle() -> str:
    from .dedup import _SLICE_LEN, _SLICE_OFFSETS, NUM_BANDS

    mins = ",\n             ".join(
        f"min(substr(md5(s), {o}, {_SLICE_LEN})) AS h{j}"
        for j, o in enumerate(_SLICE_OFFSETS)
    )
    band_case = " ".join(
        f"WHEN {b} THEN md5(h{2 * b} || h{2 * b + 1})"
        for b in range(NUM_BANDS)
    )
    band_ids = ", ".join(map(str, range(NUM_BANDS)))
    return (
        _PIPE_BASE_CTES
        + f""",
    shx AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM shx GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b, CASE b {band_case} END AS band_key
      FROM sig CROSS JOIN (SELECT unnest([{band_ids}]) AS b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    exn AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      FROM cand c
      JOIN exn a ON a.doc_id = c.doc_a
      JOIN exn b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY c.doc_a, c.doc_b
    ),
    dupes AS (
      SELECT DISTINCT doc_b AS doc_id FROM verified
      WHERE shared * 1.0 / (na + nb - shared) >= {JACCARD_THRESHOLD}
    ),
"""
        + _PIPE_TAIL
    )


@register("pipe02_curation_funnel_lsh", oracle=_pipe02_oracle())
def pipe02_curation_funnel_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production curation funnel: banded MinHash-LSH pair stage.

    The funnel users actually run at 100 TB: candidate pairs come from
    dd04's banded LSH buckets (cost scales with bucket occupancy, not
    corpus size — no corpus-scale pair exchange exists in the plan),
    verified by exact Jaccard before any document is dropped. Band
    keys are md5 (DuckDB-reproducible) with the oracle-compat uncapped
    bucket mode, so the whole funnel value-checks against SQL at every
    probe SF — including sf10, where pipe01's exact pair stage exceeds
    single-box scratch in both engines. Candidate recall is
    1-(1-j^r)^b with b=4 bands of r=2 rows: ≈ 1.0 at j >= 0.9, but
    only ≈ 0.68 AT the enforced ``JACCARD_THRESHOLD`` = 0.5 itself —
    borderline duplicates right at the bar can be missed, which is
    the LSH trade pipe01's exact stage does not make (the fixtures'
    dups sit at j >= 0.9, which is why the two modes pin frame-equal
    there; that equality is fixture-scoped, not a general claim).
    Pairs that do qualify carry exact Jaccard either way; tighten
    bands/rows if the corpus needs recall at j ≈ 0.5.
    """
    return curation_funnel(
        spark,
        sf_dir,
        pair_stage="lsh",
        lsh_hash_mode="md5",
        lsh_max_bucket=None,
    )


def curation_funnel(
    spark: SparkSession,
    sf_dir: str,
    pair_stage: str = "exact",
    lsh_hash_mode: str = "xxhash64",
    lsh_max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Raw pool -> training set, with per-document drop attribution.

    One row per input document, ``stage`` naming the first gate it
    failed (or ``kept``). Composes the tested building blocks in their
    production order; because every stage is deterministic (token
    arithmetic, exact Jaccard rationals, md5 membership), the whole
    funnel carries a value oracle end-to-end.

    ``pair_stage``: ``"exact"`` (oracle-compat, dd02's shingle
    self-join — quadratic within shared-shingle groups) or ``"lsh"``
    (dd04's banded MinHash-LSH generator with the ``LSH_MAX_BUCKET``
    hot-bucket cap — the 100 TB path; candidate recall 1-(1-j^2)^4:
    ≈ 1.0 at j >= 0.9 where the fixtures' duplicates sit — hence the
    frame-equality pin on the gate fixtures — but ≈ 0.68 at the 0.5
    threshold boundary itself; the pin is fixture-scoped evidence,
    not general exact-vs-LSH frame equality).

    Plan shape: one scan of documents feeds the width/shingle
    projections; the pair stage is the only corpus-scale shuffle (a
    shingle self-equi-join, or LSH band buckets). The benchmark shingle
    set and the duplicate/contaminated flag sets join back through
    size-aware hints (``io.broadcast_or_shuffle_hash``): the dup set is
    one key per near-duplicate document — O(corpus) on a duplicate-heavy
    web crawl, NOT guaranteed small — so it broadcasts only while its
    base relation's stats stay under the session threshold and otherwise
    degrades to a bounded hash (or spillable sort-merge) join. No
    window, no driver collection.
    """
    if pair_stage not in ("exact", "lsh"):
        raise ValueError(f"pair_stage must be 'exact' or 'lsh': {pair_stage}")
    docs, wcd, sh, ex = _funnel_prelude(spark, sf_dir)
    if pair_stage == "exact":
        # _exact_pairs renames EVERY column on the right side of the
        # self-join so the equi-predicate can't resolve trivially-true
        # against shared names (round-5 sim07 lesson)
        pairs = _exact_pairs(ex)
    else:  # banded MinHash-LSH over the SAME quality-gated shingle frame
        pairs = minhash_lsh_pairs(
            spark,
            sf_dir,
            hash_mode=lsh_hash_mode,
            max_bucket=lsh_max_bucket,
            sh_arr=sh,
        )
    return _funnel_from_pairs(spark, docs, wcd, ex, pairs)


def _funnel_prelude(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The shared pre-pair-stage frames: docs, wcd, sh, ex."""
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents"), force=True
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    wcd = corpus.select(
        "doc_id",
        "lang",
        "source",
        tokens().alias("t"),
        F.size(tokens()).cast("long").alias("wc"),
    )
    # projection barrier: shingle arrays are expensive — materialize the
    # column once per row instead of letting CollapseProject inline the
    # expression into each downstream consumer (shingle_arrays' trick)
    sh = (
        wcd.filter(F.col("wc") >= PIPE_WC_MIN)
        .select("doc_id", shingles(F.col("t")).alias("sh"))
        .repartition("doc_id")
    )
    ex = sh.select(
        "doc_id", F.explode("sh").alias("s"), F.size("sh").alias("nsh")
    )
    return docs, wcd, sh, ex


def _exact_pairs(ex: DataFrame) -> DataFrame:
    """dd02's exact shingle self-join pair stage."""
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        "s",
        F.col("nsh").alias("na"),
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s").alias("s_b"),
        F.col("nsh").alias("nb"),
    )
    return (
        a.join(
            b,
            (F.col("s") == F.col("s_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.any_value(F.col("na")).alias("na"),
            F.any_value(F.col("nb")).alias("nb"),
        )
        .filter(
            F.col("shared")
            * 1.0
            / (F.col("na") + F.col("nb") - F.col("shared"))
            >= JACCARD_THRESHOLD
        )
    )


def _funnel_from_pairs(
    spark: SparkSession,
    docs: DataFrame,
    wcd: DataFrame,
    ex: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """The funnel tail: everything after the pair stage."""
    dupes = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    bsh = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(shingles(tokens())).alias("s"))
        .distinct()
    )
    # size-aware hints throughout (never a hard F.broadcast): the
    # benchmark shingle set is bounded by the benchmark slice's text
    # bytes (base: the pruned text projection), but dup_flag/con_flag
    # are one key per flagged DOCUMENT — on a duplicate-heavy corpus
    # that is O(corpus), so their honest base is the corpus key column
    # and past the threshold the joins run as bounded hash / AQE plans.
    doc_keys = docs.select("doc_id")
    contam = (
        ex.join(dupes, "doc_id", "left_anti")
        .join(broadcast_or_shuffle_hash(bsh, docs.select("text")), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= _CONTAM_MIN_SHARED)
        .select("doc_id")
    )
    dup_flag = broadcast_or_shuffle_hash(
        dupes.withColumn("is_dup", F.lit(True)), doc_keys
    )
    con_flag = broadcast_or_shuffle_hash(
        contam.withColumn("is_con", F.lit(True)), doc_keys
    )
    stage = (
        F.when(F.col("wc") < PIPE_WC_MIN, "quality")
        .when(F.col("is_dup"), "duplicate")
        .when(F.col("is_con"), "contaminated")
        .when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            == PIPE_HOLDOUT_NIBBLE,
            "holdout",
        )
        .otherwise("kept")
    )
    return (
        wcd.join(dup_flag, "doc_id", "left")
        .join(con_flag, "doc_id", "left")
        .select("doc_id", "lang", "source", "wc", stage.alias("stage"))
    )
