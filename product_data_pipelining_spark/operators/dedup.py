"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The scale path for a 100 TB corpus is always the same shape:
fingerprint map-side → shuffle on the (small) fingerprint → resolve
within buckets. Nothing here collects to the driver; candidate
generation is banded LSH so the quadratic verify only runs inside tiny
buckets.

Hashing is pluggable (``hash_mode``):

- ``"xxhash64"`` (production default for the API): k seeded
  ``F.xxhash64`` calls — JVM-intrinsic, codegen'd, no hex
  materialization; min-hashes are numeric minima over signed longs.
- ``"md5"`` (oracle-compat): one md5 per shingle, min-hashes are
  lexicographic minima over k overlapping hex windows of the digest —
  identical hex in Spark and DuckDB, so the DuckDB oracles reproduce
  the exact signatures. The *registered* dd03/dd04 queries pin this
  mode because LSH candidate sets (and therefore outputs) depend on
  the hash: value-level parity requires both engines to hash alike.

Both modes produce uniform signatures, so recall/precision behavior is
identical; tests assert the xxhash64 path's verified pairs are a subset
of the exact-Jaccard answer with equal-threshold semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table, parallelize_scan
from ..functions.rounding import duck_round
from ..registry import register
from .textops import tokens

NUM_MINHASH = 8  # k hash functions
NUM_BANDS = 4  # r = k / bands = 2 rows per band
JACCARD_THRESHOLD = 0.5
# Production LSH guards (dd09; the oracle-compat dd04 keeps the uncapped
# semantics DuckDB reproduces). Measured need: the sf5 probe (250k
# generated docs, self-similar corpus) produced 1.33M candidate pairs
# and a 306-doc hot bucket — 22x the sf1 candidates for 5x the docs —
# and the unconditional broadcast of candidates+shingles OOMed an 8g
# driver on the cold run.
LSH_MAX_BUCKET = 128  # cap in-bucket pairing; see minhash_lsh_pairs
MAX_BROADCAST_CANDIDATES = 200_000  # verify join: broadcast below, shuffle above

# DuckDB-side shingle expression twins (kept adjacent to the Spark defs)
_SQL_TOKS = "list_filter(string_split(text, ' '), x -> x <> '')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(range(1, len(t) - 1), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


def gram_windows(toks: Column, n: int) -> Column:
    """All overlapping n-gram (word) windows of a token array, in
    positional order (index i holds the gram starting at token i).

    Built by zipping the array with its shifted slices rather than
    indexing inside a ``transform`` lambda: higher-order functions are
    not whole-stage-codegen'd, so an ``element_at(toks, i+j)`` lambda
    re-evaluates the underlying ``split()`` child once per element —
    O(len²) per document. ``zip_with`` evaluates each array argument
    once per row and zips element-wise, keeping shingling linear.
    """
    # slice length must not overflow start+length int32 math — size() is
    # always enough to take "the rest of the array"
    grams = toks
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, F.size(toks)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    # zip_with pads the shorter side with null; concat_ws skips nulls, so
    # the trailing entries are partial (<n)-grams — cut to the full ones.
    return F.slice(grams, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles of a token array."""
    return F.array_distinct(gram_windows(toks, n))


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle s, shingle-set size nsh) — the dedup work table."""
    sh = shingle_arrays(spark, sf_dir)
    return sh.select(
        "doc_id", F.explode("sh").alias("s"), F.size("sh").alias("nsh")
    )


# k hash functions = k overlapping 16-hex-char (64-bit) windows of ONE
# md5 per shingle — one digest instead of k, same lexicographic-min
# semantics, identical on both engines. Offsets 1,3,..,15 into the
# 32-char hex digest.
_SLICE_LEN = 16
_SLICE_OFFSETS = tuple(1 + 2 * j for j in range(NUM_MINHASH))


def shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh: array<string>) — one shingle array per document.

    The repartition balances load AND acts as a projection barrier:
    without it CollapseProject would inline the shingle expression into
    every downstream consumer, recomputing it per consumer.
    """
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents"), force=True
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    # hash (not round-robin) so the downstream signature groupBy and any
    # doc-keyed join inherit the partitioning instead of re-shuffling
    return docs.select(
        "doc_id", shingles(tokens()).alias("sh")
    ).repartition(par, "doc_id")


def signature_from_shingles(
    sh_arr: DataFrame, hash_mode: str = "xxhash64"
) -> DataFrame:
    """One row per doc with NUM_MINHASH min-hash columns ``h0..h{k-1}``.

    explode → hash per shingle → hash-aggregate with k ``min``
    partials. Higher-order-function formulations (``aggregate`` +
    ``zip_with`` over the array) compute the same thing shuffle-free but
    sit outside whole-stage codegen and allocate a k-array per element —
    measured slower end-to-end than this exploded form, whose k minima
    ride the codegen'd partial-aggregation path (the shuffle moves one
    partially-minimized row per doc per partition). Docs with no
    shingles are dropped (explode of an empty array — parity with the
    exploded oracle form).

    ``hash_mode="xxhash64"``: k seeded 64-bit hashes, numeric minima
    (long columns). ``hash_mode="md5"``: one digest, k overlapping hex
    windows, lexicographic minima (string columns) — byte-identical to
    the DuckDB oracle's signatures.
    """
    ex = sh_arr.select("doc_id", F.explode("sh").alias("s"))
    if hash_mode == "xxhash64":
        return ex.groupBy("doc_id").agg(
            *[
                F.min(F.xxhash64(F.lit(j), "s")).alias(f"h{j}")
                for j in range(NUM_MINHASH)
            ]
        )
    if hash_mode == "md5":
        digests = ex.select("doc_id", F.md5("s").alias("dg"))
        # String minima over the raw hex windows — the MEASURED winner,
        # restored in r13 after the r12 numeric-min experiment lost at
        # scale. History, so no round re-pays either experiment:
        # - r12 replaced these string mins with
        #   min(conv(window,16,10)::decimal(20,0)) + hex round-trip, on
        #   the plan-shape argument that min-over-STRING's variable-
        #   width agg buffer forces the SortAggregate fallback (a sort
        #   of the exploded shingle table) while the numeric form rides
        #   the codegen'd partial HashAggregate. At sf0.1 the change
        #   measured flat (inside jitter); the sf5 support came from
        #   adjacent-process legs whose DuckDB baseline itself drifted
        #   330->246 s.
        # - r13 A/B'd both arms in ONE process at sf10 with alternating
        #   reps and plan-sanity checks (the script is at the
        #   artifacts' code_commit 75d5d2c):
        #   the numeric arm is SLOWER on the pure signature build (dd03)
        #   and on dd14 at sf10, a tie on dd04/pipe02 where LSH work
        #   dominates — and the gap GROWS with scale; the ratios are in
        #   BENCH_R13_MINHASH_AB_SF10.json (and ..._SF01.json): eight
        #   conv() string parses + decimal(20,0) buffers per exploded
        #   shingle cost more than the sort they remove, and scale
        #   amplifies the linear parse term faster than the sort's log
        #   factor. SortAggregate over doc_id-clustered shingles is
        #   cheap precisely because shingle_arrays pre-partitions by
        #   doc_id (mostly-sorted runs, spillable).
        return digests.groupBy("doc_id").agg(
            *[
                F.min(F.substring("dg", o, _SLICE_LEN)).alias(f"h{j}")
                for j, o in enumerate(_SLICE_OFFSETS)
            ]
        )
    raise ValueError(f"hash_mode must be 'xxhash64' or 'md5', got {hash_mode!r}")


def minhash_signature(
    spark: SparkSession, sf_dir: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """Signature table straight from the documents scan."""
    return signature_from_shingles(shingle_arrays(spark, sf_dir), hash_mode)


def _sql_signature() -> str:
    mins = ",\n      ".join(
        f"min(substr(md5(s), {o}, {_SLICE_LEN})) AS h{j}"
        for j, o in enumerate(_SLICE_OFFSETS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM toks
    )
    SELECT doc_id,
      {mins}
    FROM sh GROUP BY doc_id
    """


@register(
    "dd01_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_fp,
           min(doc_id) AS canonical_doc_id,
           count(*) AS copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dd01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint.

    Canonical row = lowest doc_id per identical text. The classic
    first-stage pass of every corpus pipeline; shuffles only
    (hash, doc_id) pairs, never the text.

    Floor evidence: this query's legs in FLOOR_PROBE.json.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("copies"))
    )


@register(
    "dd02_ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM toks
    ), ex AS (
      SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS shared,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(shared * 1.0 / (na + nb - shared), 4) AS jaccard
    FROM pairs
    WHERE shared * 1.0 / (na + nb - shared) >= {JACCARD_THRESHOLD}
    """,
)
def dd02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (exact, shingle-join candidate gen).

    Docs sharing ≥1 shingle meet in the shuffle; Jaccard is
    |∩| / (|A|+|B|−|∩|) over distinct shingles. Exact but quadratic in
    bucket size — at 100 TB this runs *after* MinHash-LSH pruning
    (dd04); standalone here to give the oracle-checkable exact answer.
    """
    ex = _exploded_shingles(spark, sf_dir)
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("shared"),
            F.first("a.nsh").alias("na"),
            F.first("b.nsh").alias("nb"),
        )
    )
    jacc = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return pairs.filter(jacc >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", duck_round(jacc, 4).alias("jaccard")
    )


@register("dd03_minhash_signatures", oracle=_sql_signature())
def dd03_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: k=8 lexicographic-min md5 sketches per doc.

    Pins ``hash_mode="md5"`` so the DuckDB oracle reproduces the exact
    signature bytes; the API default is xxhash64 (see module doc).
    """
    return minhash_signature(spark, sf_dir, hash_mode="md5")


def _sql_lsh_pairs() -> str:
    band_case = " ".join(
        f"WHEN {b} THEN md5(h{2 * b} || h{2 * b + 1})" for b in range(NUM_BANDS)
    )
    return f"""
    WITH sig AS ({_sql_signature()}),
    bands AS (
      SELECT doc_id, b, CASE b {band_case} END AS band_key
      FROM sig CROSS JOIN
        (SELECT unnest([{", ".join(map(str, range(NUM_BANDS)))}]) AS b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM toks),
    ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh),
    verified AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb
      FROM cand c
      JOIN ex a ON a.doc_id = c.doc_a
      JOIN ex b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(shared * 1.0 / (na + nb - shared), 4) AS jaccard
    FROM verified
    WHERE shared * 1.0 / (na + nb - shared) >= {JACCARD_THRESHOLD}
    """


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    hash_mode: str = "xxhash64",
    max_bucket: int | None = None,
    broadcast_limit: int = MAX_BROADCAST_CANDIDATES,
    sh_arr: DataFrame | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup detection — the 100 TB dedup path.

    shingle → minhash (k=8) → band (4 bands × 2 rows) → bucket pairs →
    exact-Jaccard verify of candidates only. For Jaccard j, candidate
    recall is 1-(1-j²)⁴ (≈ 1.0 at j ≥ 0.9); the quadratic verify touches
    only same-bucket pairs, so cost scales with bucket (not corpus) size.

    Each expensive subtree computes exactly once:

    - the shingle arrays are computed in ONE pass, persisted, and shared
      by the signature derivation AND the verify join (at corpus scale
      this is the stage you'd write to parquet between jobs);
    - candidate pairs come from ``collect_list`` per band bucket +
      higher-order in-bucket pairing — no self-join, so the signature
      pipeline isn't re-derived for each side;
    - the verify joins per-doc shingle *arrays* and intersects JVM-side
      (``array_intersect``) instead of re-exploding shingles into a
      join+groupBy.

    The band key combines each band's two min-hashes: ``xxhash64(h_a,
    h_b)`` in production mode (numeric, codegen'd), ``md5(h_a || h_b)``
    in oracle-compat mode (hex, reproducible in DuckDB).

    Scale guards (added after the sf5 probe caught both failure modes on
    a 250k-doc self-similar corpus — 1.33M candidates, 306-doc hot
    bucket, broadcast OOM on an 8g driver):

    - ``max_bucket``: skip in-bucket pairing for buckets larger than
      this (size is counted BEFORE ``collect_list``, so an over-full
      bucket never materializes its id array or its O(B^2) pair array).
      An over-full bucket at r=2 is a degenerate band key — nearly all
      its pairs fail verify — while a true near-dup pair that loses one
      capped band still has the other ``NUM_BANDS - 1`` bands: recall
      for j = 0.8 drops only 0.983 -> 0.953. Mass-duplicate clusters
      (identical docs, which fill ALL their buckets) belong to exact
      dedup (dd01) upstream, the standard pipeline order. ``None`` = no
      cap (dd04's oracle-compat semantics).
    - ``broadcast_limit``: the candidate set is counted (it is
      persisted for the two verify joins anyway — at corpus scale this
      is the stage boundary you'd write to parquet); at or below the
      limit both verify joins broadcast it, above they run as plain
      shuffle equi-joins and AQE picks the strategy from runtime sizes.

    ``sh_arr`` lets a caller that already owns a ``(doc_id, sh)``
    shingle frame (e.g. pipe01's quality-gated corpus) reuse it instead
    of re-deriving shingles from the raw table.
    """
    if sh_arr is None:
        sh_arr = shingle_arrays(spark, sf_dir)
    sh_arr = sh_arr.persist()
    sig = signature_from_shingles(sh_arr, hash_mode)
    if hash_mode == "md5":
        band_cols = F.array(
            *[
                F.md5(F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}")))
                for b in range(NUM_BANDS)
            ]
        )
    else:
        band_cols = F.array(
            *[
                F.xxhash64(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                for b in range(NUM_BANDS)
            ]
        )
    bands = sig.select(
        "doc_id", F.posexplode(band_cols).alias("b", "band_key")
    )
    if max_bucket is not None:
        # pre-count bucket sizes and drop oversized keys BEFORE the
        # collect_list, so a degenerate bucket never builds its array;
        # the count groupBy and the join share the (b, band_key) hash
        # partitioning with the collect_list groupBy — one extra
        # aggregation pass, no extra shuffle of `bands`
        ok = (
            bands.groupBy("b", "band_key")
            .count()
            .filter((F.col("count") > 1) & (F.col("count") <= max_bucket))
            .select("b", "band_key")
        )
        bands = bands.join(ok, ["b", "band_key"])
    buckets = (
        bands.groupBy("b", "band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    in_bucket_pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(in_bucket_pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
        .persist()
    )
    # Adaptive verify: on a well-behaved corpus the candidate set is
    # tiny (LSH prunes ~all pairs) and BOTH verify joins broadcast it —
    # the shingle-array table streams through twice without shuffling.
    # On a self-similar corpus candidates can explode quadratically
    # (sf5 probe: 1.33M), so above `broadcast_limit` the joins stay
    # plain shuffle equi-joins and AQE chooses from runtime sizes. The
    # count materializes `cand` once, exactly where a multi-job
    # pipeline would persist the candidate stage anyway.
    small = cand.limit(broadcast_limit + 1).count() <= broadcast_limit
    hint = F.broadcast if small else (lambda df: df)
    a = sh_arr.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    b = sh_arr.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    ab = a.join(hint(cand), "doc_a")
    verified = (
        b.join(hint(ab), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sha", "shb")).alias("shared"),
            F.size("sha").alias("na"),
            F.size("shb").alias("nb"),
        )
    )
    jacc = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return verified.filter(jacc >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", duck_round(jacc, 4).alias("jaccard")
    )


@register("dd04_minhash_lsh_pairs", oracle=_sql_lsh_pairs())
def dd04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-compat LSH pairs: pins ``hash_mode="md5"`` so DuckDB
    reproduces the exact candidate buckets (LSH output depends on the
    hash; value parity requires both engines hash alike)."""
    return minhash_lsh_pairs(spark, sf_dir, hash_mode="md5")


@register("dd09_minhash_lsh_pairs_xxh")
def dd09_minhash_lsh_pairs_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-mode LSH pairs (seeded ``xxhash64``, numeric band
    keys) — no hex materialization, all hashing codegen'd, degenerate
    buckets capped at ``LSH_MAX_BUCKET`` (see ``minhash_lsh_pairs`` for
    the measured sf5 rationale and recall math). No SQL oracle: DuckDB
    cannot compute xxhash64, and the candidate set is hash-dependent;
    correctness is covered by the pytest property that every emitted
    pair is in the exact n-gram-Jaccard answer (dd02) with the same
    jaccard value."""
    return minhash_lsh_pairs(
        spark, sf_dir, hash_mode="xxhash64", max_bucket=LSH_MAX_BUCKET
    )


def _sql_simhash() -> str:
    # per (token, bit) weight: hex nibble of md5(token) at char b//4,
    # bit (3 - b%4) within the nibble; +1/-1 votes summed per doc.
    return """
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ), bits AS (
      SELECT doc_id, b.b AS b,
             ((strpos('0123456789abcdef',
                      substr(md5(tok), CAST(1 + (b.b // 4) AS INT), 1)) - 1)
              >> CAST(3 - (b.b % 4) AS INT)) & 1 AS bit
      FROM toks CROSS JOIN (SELECT unnest(range(16)) AS b) b
    ), votes AS (
      SELECT doc_id, b, SUM(2 * bit - 1) AS vote FROM bits GROUP BY doc_id, b
    ), sig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote >= 0
                           THEN CAST(power(2, b) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash16
      FROM votes GROUP BY doc_id
    )
    SELECT doc_id, simhash16,
           COUNT(*) OVER (PARTITION BY simhash16) AS bucket_size
    FROM sig
    """


@register("dd05_simhash_signatures", oracle=_sql_simhash())
def dd05_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) signatures + bucket sizes.

    Each token votes ±1 on every bit of its md5-derived nibble pattern;
    the sign of the summed vote is the signature bit. Near-identical docs
    land in the same bucket (bucket_size > 1 ⇒ near-dup cluster). One
    explode + one groupBy with 16 map-side-partial sums; the production
    variant widens to 64 bits via xxhash64.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), force=True)
    tok = docs.select("doc_id", F.explode(tokens()).alias("tok"))
    tok = tok.withColumn("h", F.md5("tok"))
    votes = [
        F.sum(
            2
            * (
                F.shiftright(
                    F.expr(
                        f"locate(substring(h, {1 + b // 4}, 1), '0123456789abcdef')"
                    )
                    - 1,
                    3 - (b % 4),
                ).bitwiseAND(F.lit(1))
            )
            - 1
        ).alias(f"v{b}")
        for b in range(16)
    ]
    per_doc = tok.groupBy("doc_id").agg(*votes)
    sim = sum(
        F.when(F.col(f"v{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
        for b in range(16)
    )
    sig = per_doc.select("doc_id", sim.cast("long").alias("simhash16"))
    from pyspark.sql import Window

    return sig.select(
        "doc_id",
        "simhash16",
        F.count("*").over(Window.partitionBy("simhash16")).alias("bucket_size"),
    )


def _sql_components() -> str:
    # closure-based components: reach(a,b) = b reachable from a; the
    # component id is the minimum reachable doc. UNION (not UNION ALL)
    # dedups the recursive frontier so the CTE terminates.
    return f"""
    WITH RECURSIVE pairs AS ({_sql_lsh_pairs()}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION ALL
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
    ),
    reach(a, b) AS (
      SELECT doc_a, doc_a FROM (SELECT DISTINCT doc_a FROM edges)
      UNION
      SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
    )
    SELECT a AS doc_id, MIN(b) AS component_id FROM reach GROUP BY a
    """


@register("dd06_neardup_components", oracle=_sql_components())
def dd06_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: connected components over LSH pairs.

    Pairwise near-dup output (dd04) is not yet a dedup decision — A~B
    and B~C must collapse into ONE keep-group even when A~C was never
    tested. This is min-label propagation to a fixpoint: each node's
    label becomes the min of its own and its neighbors' labels, iterated
    until the label sum stops changing (monotone + bounded ⇒ converges,
    in O(component diameter) rounds — near-dup clusters are shallow).
    The iterative loop is genuinely non-SQL (the oracle uses DuckDB's
    recursive CTE closure, which is O(|component|²) rows and only viable
    because near-dup components are tiny); Spark-side each round is one
    join + groupBy-min on the edge list, the same plan GraphFrames'
    connected-components uses per superstep. At 100 TB: persist each
    round, localCheckpoint every few rounds to cut lineage, and switch
    to the large-star/small-star algorithm if components stop being
    shallow.
    """
    pairs = dd04_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).persist()
    labels = (
        edges.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(20):  # diameter bound; near-dup clusters are shallow
        nbr = (
            edges.join(labels, edges.doc_b == labels.node)
            .groupBy("doc_a")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.doc_a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", "label")
                ).alias("label"),
            )
            .persist()
        )
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        old = labels
        labels = new_labels
        old.unpersist()
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


# Benchmark-contamination threshold: a corpus doc sharing this many
# distinct shingles with the held-out set is flagged for removal. (Real
# pipelines use 8-13-gram windows with threshold 1; the synthetic corpus
# is short word soup, so 3-gram shingles + a small count keep the
# flagged set non-degenerate.)
_CONTAM_MIN_SHARED = 2


@register(
    "dd07_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM toks
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS shared_shingles
      FROM sh c JOIN bench b ON c.s = b.s
      WHERE c.doc_id % 97 <> 0
      GROUP BY c.doc_id
    )
    SELECT doc_id, shared_shingles
    FROM hits WHERE shared_shingles >= {_CONTAM_MIN_SHARED}
    """,
)
def dd07_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs overlapping a held-out
    evaluation set (here: every 97th doc stands in for the benchmark).

    The standard eval-leakage scrub in training-data pipelines: shingle
    both sides, inner-join corpus shingles to the *distinct* benchmark
    shingle set, count distinct overlaps per corpus doc, and flag docs at
    or above the threshold. The benchmark side is tiny relative to the
    corpus (eval suites are fixed-size; the corpus is the 100 TB side),
    so its deduped shingle set broadcasts and the corpus side never
    shuffles — a map-side semi-join-with-count. Candidates already share
    the exploded-shingle work table with dd02/dd04.
    """
    ex = _exploded_shingles(spark, sf_dir)
    bench = (
        ex.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    )
    corpus = ex.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= _CONTAM_MIN_SHARED)
    )


@register(
    "dd08_url_canonical_dedup",
    oracle="""
    WITH pages AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || CAST(doc_id % 500 AS VARCHAR)
               || '.COM/Path/' || CAST(doc_id % 37 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
               || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(url), '[?#].*$', ''),
                 '^https?://(www\\.)?', ''),
               '/$', '') AS canonical_url
      FROM pages
    )
    SELECT canonical_url,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_duplicates
    FROM canon
    GROUP BY canonical_url
    """,
)
def dd08_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl dedup by canonical URL: normalize, group, keep first.

    The corpus has no URL column, so the query deterministically plants
    messy URLs from ``doc_id`` (scheme/case/tracking-params/trailing-
    slash variants — identical string built on both engines), then
    canonicalizes with three JVM-side ``regexp_replace`` passes (strip
    query/fragment, scheme + www, trailing slash) and deduplicates with
    min-keeper per canonical key. All regexes sit in the Java-regex ∩
    RE2 common subset. At crawl scale this is a map stage plus one
    count-combined shuffle on the canonical key — the exact-dedup
    (dd01) shape with normalization fused into the scan's project.
    """
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"),
        (F.col("doc_id") % 500).cast("string"),
        F.lit(".COM/Path/"),
        (F.col("doc_id") % 37).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    canonical = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"[?#].*$", ""),
            r"^https?://(www\.)?",
            "",
        ),
        r"/$",
        "",
    )
    return (
        docs.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_duplicates"),
        )
    )


# ---------------------------------------------------------------------------
# dd10: Bloom-prefiltered decontamination — dd07's answer, the "benchmark
# set too big to broadcast" execution.

BLOOM_BITS = 1 << 20  # 1 Mi bits = 128 KiB bitmap, fixed regardless of |bench|
BLOOM_HASHES = 3  # seeded xxhash64 probes per shingle


def _bloom_probe(s: Column, seed: int) -> Column:
    """Bit position in [0, BLOOM_BITS) for one seeded probe."""
    return F.pmod(F.xxhash64(s, F.lit(seed)), F.lit(BLOOM_BITS))


@register(
    "dd10_bloom_decontaminate",
    # Bloom filters have no false negatives and every candidate is
    # exact-confirmed, so the answer is identical to dd07's — the oracle
    # is the same SQL (DuckDB needs no prefilter at oracle scale).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM toks
    ), bench AS (
      SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS shared_shingles
      FROM sh c JOIN bench b ON c.s = b.s
      WHERE c.doc_id % 97 <> 0
      GROUP BY c.doc_id
    )
    SELECT doc_id, shared_shingles
    FROM hits WHERE shared_shingles >= {_CONTAM_MIN_SHARED}
    """,
)
def dd10_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a Bloom-bitmap prefilter: dd07's exact
    answer in the regime where the benchmark shingle set is too big to
    broadcast as strings.

    dd07 broadcasts the distinct benchmark shingles — right when the
    eval suite is small, impossible when the held-out set is itself
    corpus-sized (e.g. scrubbing a 100 TB crawl against a multi-TB
    blocklist). This variant compresses the benchmark side into a
    fixed 128 KiB Bloom bitmap (1 Mi bits, 3 seeded ``xxhash64``
    probes) and keeps every stage JVM-side:

    1. BUILD: benchmark shingles → bit positions → 64-bit words via
       ``bit_or`` partial aggregation — a ≤16 Ki-row (word, bits)
       table, broadcast regardless of how many shingles fed it.
    2. PROBE: each corpus shingle joins the bitmap on its word index —
       3 broadcast hash joins, no Python — and survives only if all 3
       probed bits are set. The inner join drops absent words for
       free (missing word ⇒ definitely not in the set).
    3. CONFIRM: survivors (true hits + ~|corpus|·FPR false positives)
       are exact-joined to the real benchmark shingles with a SHUFFLE
       join — modeling the too-big-to-broadcast side — then counted
       per doc exactly as dd07.

    No false negatives (Bloom guarantee) + exact confirm ⇒ the output
    is provably identical to dd07; ``tests`` pin frame equality and
    the prefilter's selectivity. At FPR ≈ (1-e^(-3n/m))^3 the confirm
    shuffle moves a few percent of the corpus shingles instead of all
    of them.
    """
    ex = _exploded_shingles(spark, sf_dir)
    bench = ex.filter(F.col("doc_id") % 97 == 0).select("s").distinct()
    corpus = ex.filter(F.col("doc_id") % 97 != 0)

    # BUILD: word-indexed bitmap of the benchmark shingle set
    probes = F.array(
        *[_bloom_probe(F.col("s"), seed) for seed in range(BLOOM_HASHES)]
    )
    bitmap = (
        bench.select(F.explode(probes).alias("pos"))
        .select(
            F.shiftright("pos", 6).alias("word"),
            F.expr("shiftleft(1L, CAST(pmod(pos, 64) AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )

    # PROBE: 3 broadcast joins against the tiny bitmap table
    survivors = corpus
    for seed in range(BLOOM_HASHES):
        pos = _bloom_probe(F.col("s"), seed)
        probe = survivors.withColumn(f"w{seed}", F.shiftright(pos, 6)).withColumn(
            f"m{seed}", F.expr(
                f"shiftleft(1L, CAST(pmod(pmod(xxhash64(s, {seed}), "
                f"{BLOOM_BITS}), 64) AS INT))"
            )
        )
        bm = bitmap.withColumnRenamed("word", f"w{seed}").withColumnRenamed(
            "bits", f"b{seed}"
        )
        survivors = (
            probe.join(F.broadcast(bm), f"w{seed}")
            .filter(F.col(f"b{seed}").bitwiseAND(F.col(f"m{seed}")) != 0)
            .drop(f"w{seed}", f"m{seed}", f"b{seed}")
        )

    # CONFIRM: exact shuffle join on the surviving minority
    return (
        survivors.join(bench.hint("shuffle_hash"), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= _CONTAM_MIN_SHARED)
    )


@register(
    "dd11_cluster_keep_best",
    oracle="""
    WITH canon AS (
      SELECT doc_id, n_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS cluster_fp
      FROM documents
    ), ranked AS (
      SELECT cluster_fp, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster_fp
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY cluster_fp) AS n_members
      FROM canon
    )
    SELECT cluster_fp, doc_id AS keeper_doc_id,
           n_chars AS keeper_n_chars, n_members
    FROM ranked WHERE rn = 1
    """,
)
def dd11_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster representative selection: keep the best doc.

    After clustering (here: md5 over case-folded, punctuation-stripped,
    whitespace-collapsed text, so formatting variants of the same
    content collide), a curation pipeline keeps ONE representative per
    cluster — the highest-quality member (longest original text;
    doc_id breaks ties for determinism) — and drops the rest.

    The oracle states it as the textbook ROW_NUMBER()-per-partition
    window; the Spark plan deliberately does NOT: an arg-max is a
    plain aggregate over ``max(struct(quality, -doc_id))``, which gets
    map-side partial aggregation and one exchange on the cluster key —
    at 100 TB that's strictly better than a window (full sort of every
    cluster, no partial aggregation). Same technique as a19.
    """
    docs = load_table(spark, sf_dir, "documents")
    canon = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                " +",
                " ",
            )
        )
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("neg_id")
        )
    )
    return (
        docs.select(canon.alias("cluster_fp"), "doc_id", "n_chars")
        .groupBy("cluster_fp")
        .agg(best.alias("best"), F.count("*").alias("n_members"))
        .select(
            "cluster_fp",
            (-F.col("best.neg_id")).alias("keeper_doc_id"),
            F.col("best.q").alias("keeper_n_chars"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# dd12: exact duplicated-span coverage — the substring-level dedup family
# (Lee et al., "Deduplicating Training Data Makes Language Models Better"),
# simplified to fixed-width token windows so the decision stays exact and
# SQL-expressible. Distinct from tx05 (winnowing *selects* fingerprints)
# and dd02/dd04 (set-similarity over whole documents): dd12 measures how
# much of EACH document is covered by spans that also occur verbatim in
# at least one OTHER document — the actual curation signal for
# boilerplate/template removal.

SPAN_W = 8  # window width in tokens (real pipelines: 50-token windows)
SPAN_KEEP_MAX = 0.5  # drop docs with >= 50% duplicated-token coverage

_SQL_SPAN_GRAM = " || ' ' || ".join(f"t[i+{j}]" for j in range(SPAN_W))


@register(
    "dd12_span_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS t FROM documents
    ), spans AS (
      SELECT doc_id, i - 1 AS pos, {_SQL_SPAN_GRAM} AS gram
      FROM toks, unnest(range(1, len(t) - {SPAN_W} + 2)) AS u(i)
    ), dup AS (
      SELECT gram FROM spans GROUP BY gram
      HAVING MIN(doc_id) <> MAX(doc_id)
    ), cov AS (
      SELECT s.doc_id, COUNT(DISTINCT p) AS dup_positions
      FROM spans s JOIN dup USING (gram),
           unnest(range(s.pos, s.pos + {SPAN_W})) AS q(p)
      GROUP BY s.doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.dup_positions, 0) AS BIGINT) AS dup_positions,
           ROUND(CAST(COALESCE(c.dup_positions, 0) AS DOUBLE)
                 / CAST(len(t.t) AS DOUBLE), 4) AS dup_coverage,
           ROUND(CAST(COALESCE(c.dup_positions, 0) AS DOUBLE)
                 / CAST(len(t.t) AS DOUBLE), 4) < {SPAN_KEEP_MAX} AS keep
    FROM toks t LEFT JOIN cov c ON t.doc_id = c.doc_id
    """,
)
def dd12_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span coverage per document (substring dedup).

    Every overlapping ``SPAN_W``-token window is a span; a span is
    *duplicated* if its exact text occurs in >= 2 distinct documents.
    Each document reports the fraction of its token positions covered
    by at least one duplicated span (positions covered by overlapping
    spans count once — an exact interval union, computed as a distinct
    count over the exploded position range), and a ``keep`` decision
    at the ``SPAN_KEEP_MAX`` coverage threshold.

    Scale shape: spans explode map-side off the scan (positional
    ``gram_windows`` — linear per doc, no O(len²) lambda indexing);
    the duplicated-gram set is one partial-aggregated exchange keyed
    on the gram; marking covered spans is an equi-join on the same
    key, so the shuffle moves (gram -> doc, pos) rows, never document
    text. The per-doc interval union explodes at most SPAN_W
    positions per duplicated span and collapses in the doc-keyed
    aggregate. At 100 TB the gram key would be ``xxhash64(gram)``
    (64-bit fingerprints instead of strings in the exchange — dd09's
    pattern); the oracle-compat form keeps the string so DuckDB
    reproduces it byte-for-byte.
    """
    docs = parallelize_scan(load_table(spark, sf_dir, "documents"), force=True)
    toks = docs.select("doc_id", tokens().alias("t"))
    spans = toks.select(
        "doc_id",
        F.posexplode(gram_windows(F.col("t"), SPAN_W)).alias("pos", "gram"),
    )
    # ">= 2 distinct docs" as min<>max: partial-aggregable min/max pairs
    # instead of a distinct-expand on the (huge) gram key space
    dup = (
        spans.groupBy("gram")
        .agg(F.min("doc_id").alias("d_lo"), F.max("doc_id").alias("d_hi"))
        .filter(F.col("d_lo") != F.col("d_hi"))
        .select("gram")
    )
    covered = (
        spans.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN_W - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("p").alias("dup_positions"))
    )
    base = toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
    cov = F.coalesce(F.col("dup_positions"), F.lit(0).cast("long"))
    coverage = duck_round(
        cov.cast("double") / F.col("n_tokens").cast("double"), 4
    )
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        cov.alias("dup_positions"),
        coverage.alias("dup_coverage"),
        (coverage < SPAN_KEEP_MAX).alias("keep"),
    )


# ---------------------------------------------------------------------------
# dd13: semantic dedup — cluster-then-compare over document embeddings
# (SemDeDup, Abbas et al. 2023, arXiv:2303.09540). sim03 is the exact
# all-pairs baseline; this is its scale path: documents only ever meet
# inside their coarse cell, so pair count is cell occupancy, never
# corpus size.

SEMDEDUP_COSINE = 0.4  # same near-dup bar as sim03's exact baseline
# Degenerate-cell backstop (dd04's max_bucket pattern): a cell larger
# than this skips pair generation entirely — its occupancy array and
# O(occ^2) pair set never materialize. With k = ceil(sqrt(N)) cells the
# EXPECTED occupancy is ~sqrt(N), so this only fires on pathological
# mass-duplicate clusters (which belong to exact dedup upstream) or
# once the corpus outgrows MAX_CENTROIDS * SEMDEDUP_MAX_CELL vectors;
# docs in a skipped cell keep n_sem_dups = 0 (keep = true), mirrored
# exactly in the oracle. Never fires at any probe SF (sf10 max
# occupancy is ~200).
SEMDEDUP_MAX_CELL = 4096


def _dd13_oracle() -> str:
    from .similarity import (
        _SQL_CENT_PRED,
        _SQL_DOT,
        _SQL_NORM,
        _sql_asg_cte,
    )

    return f"""
    WITH v AS (
      SELECT vec_id, embedding,
             {_SQL_NORM.format(a="embedding")} AS nrm
      FROM embeddings
    ),
    c AS (
      SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
      FROM v WHERE {_SQL_CENT_PRED}
    ),
    -- asg stays NARROW (ids + rank only; sim6 pre-projected below the
    -- window — see similarity._sql_asg_cte): the vectors re-join by
    -- key after the rank cut (values identical)
    asg AS ({_sql_asg_cte()}),
    cells AS (
      SELECT a.vec_id, a.cent_id AS cell, v.embedding, v.nrm
      FROM asg a JOIN v USING (vec_id) WHERE a.crank = 1
    ),
    ok AS (
      SELECT cell FROM cells GROUP BY cell
      HAVING COUNT(*) > 1 AND COUNT(*) <= {SEMDEDUP_MAX_CELL}
    ),
    pairs AS (
      SELECT b.vec_id,
             ROUND({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
                   / (a.nrm * b.nrm), 4) AS cos
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN ok ON ok.cell = a.cell
    ),
    dups AS (
      SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_sem_dups
      FROM pairs WHERE cos >= {SEMDEDUP_COSINE}
      GROUP BY vec_id
    )
    SELECT d.doc_id, cells.cell, d.source,
           COALESCE(dups.n_sem_dups, 0) AS n_sem_dups,
           COALESCE(dups.n_sem_dups, 0) = 0 AS keep
    FROM documents d
    JOIN cells ON cells.vec_id = d.doc_id
    LEFT JOIN dups ON dups.vec_id = d.doc_id
    """


@register("dd13_semantic_dedup", oracle=_dd13_oracle())
def dd13_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over document embeddings, cluster-then-compare.

    SemDeDup's shape (arXiv:2303.09540): assign every document's
    embedding to a coarse cell (sim04's seed-centroid quantizer,
    round-6 cosine, cent_id tiebreak), compare pairs ONLY within a
    cell (exact round-4 cosine), and drop the higher doc_id of any
    pair at or above ``SEMDEDUP_COSINE`` — min-id-wins, the same
    deterministic keep rule as dd04/dd08. Output is one row per
    clustered document: its cell, how many kept lower-id semantic
    twins it has, and the keep verdict.

    Scale shape (r8 rework — sim09's GEMM kernels replace the JVM
    higher-order-function cosines, which evaluate interpreted per
    element and put dd13 at 4.3-4.6x DuckDB at sf0.1/sf1 under honest
    timing): the corpus-adaptive quantizer (k = ceil(sqrt(N)) cells,
    hard-capped — SemDeDup's recipe, so expected occupancy stays
    ~sqrt(N) and within-cell pair work is O(N^1.5), never the
    O(N^2/k) a fixed k degrades to) assigns cells in one corpus-scan
    ``mapInPandas`` float64-BLAS GEMM against the broadcast codebook,
    with longdouble refinement of grid-boundary entries (sim01's
    verified oracle-parity technique) — emitting only narrow
    (vec_id, cell) rows. The occupancy gate (``SEMDEDUP_MAX_CELL``,
    dd04's max_bucket backstop) drops degenerate cells BEFORE
    pairing; qualifying members shuffle once on the cell key into a
    grouped per-cell GEMM that counts each member's lower-id
    semantic twins directly from the strictly-upper triangle of the
    round-4 similarity matrix (occ^2 <= 4096^2 doubles per group,
    bounded by the gate) — the occupancy^2 pair rows never exist as
    an exchange. The assignment frame is persisted (three consumers)
    under the lifecycle registry sim09 uses, so bench repeats hold
    one live copy. sim03 (exact all-pairs) is the recall reference:
    within-cell comparison trades recall for the cell bound exactly
    as dd04's LSH banding does for text — the miss rate is pinned in
    tests/test_plans.py.

    Measured A/B (same session, noop-write timing, REPEATS=3 medians):
    sf0.1 0.855 s -> 0.534 s (3.5x -> 2.2x DuckDB; N=2000 vectors,
    the residual is fixed scheduler/Python-worker floor), sf1 5.18 s
    -> 0.891 s vs DuckDB 1.15 s (4.3x -> 0.77x). The Spark/DuckDB
    crossover sits between sf0.1 and sf1: below ~20k vectors the
    multi-stage plan pays more fixed overhead than the whole query
    costs DuckDB; from sf1 up the GEMM pair stage wins and the gap
    widens with N (DuckDB's within-cell pairing is a single-threaded
    nested-loop per cell).
    """
    from .similarity import (
        CENT_STRIDE,
        _LIVE_QUERY_BLOCK,
        centroid_budget,
        corpus_size,
        swap_live_persisted,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    k = centroid_budget(corpus_size(spark, sf_dir))
    cent_rows = (
        emb.filter(
            (F.col("vec_id") % CENT_STRIDE == 7)
            & (F.col("vec_id") < CENT_STRIDE * k)
        )
        .select("vec_id", "embedding")
        .collect()  # bounded by MAX_CENTROIDS (codebook, never corpus)
    )
    cent_rows.sort(key=lambda r: r.vec_id)
    bkey = (id(spark.sparkContext), "dd13")
    prev = _LIVE_QUERY_BLOCK.pop(bkey, None)
    if prev is not None:
        prev.unpersist(blocking=False)
    c_block = spark.sparkContext.broadcast(
        (
            [int(r.vec_id) for r in cent_rows],
            [list(map(float, r.embedding)) for r in cent_rows],
        )
    )
    _LIVE_QUERY_BLOCK[bkey] = c_block

    def assign(batches):
        # nested closure: pickled by value, workers don't need the repo
        import numpy as np
        import pandas as pd

        c_ids, c_mat = c_block.value
        if not c_ids:
            return
        Cm = np.array(c_mat, dtype=np.float64)
        cid = np.array(c_ids, dtype=np.int64)
        c_nrm = np.sqrt(
            np.sum(Cm.astype(np.longdouble) ** 2, axis=1)
        ).astype(np.float64)
        c_nrm = np.where(c_nrm == 0.0, 1.0, c_nrm)  # zero-norm guard
        Cn = np.ascontiguousarray((Cm / c_nrm[:, None]).T)  # (dim, k)
        kk = len(cid)
        pow2 = 1
        while pow2 < max(kk, 2):
            pow2 <<= 1
        idx_arr = np.arange(kk, dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            x_nrm = np.sqrt(
                np.sum(X.astype(np.longdouble) ** 2, axis=1)
            ).astype(np.float64)
            # zero-norm guard: an all-zero embedding would make X/x_nrm
            # NaN and the later NaN->int64 cast is platform-undefined;
            # dividing by 1 keeps the row all-zero (sim 0 to everything)
            x_nrm = np.where(x_nrm == 0.0, 1.0, x_nrm)
            sims = (X / x_nrm[:, None]) @ Cn
            # duck_round to the 1e-6 grid (the oracle's 6 dp
            # assignment): in-place half-away passes + longdouble
            # refinement for boundary-straddling entries (sim01)
            a = np.abs(sims)
            a *= 1e6
            a += 0.5
            b = np.rint(a)
            np.subtract(b, a, out=b)
            np.abs(b, out=b)
            near = b < 1e-6
            if near.any():
                Xl = X.astype(np.longdouble)
                Cl = Cm.astype(np.longdouble)
                for i, j in zip(*np.nonzero(near)):
                    sims[i, j] = np.float64(
                        np.dot(Xl[i], Cl[j])
                        / np.longdouble(x_nrm[i] * c_nrm[j])
                    )
                av = np.abs(sims[near])
                av *= 1e6
                av += 0.5
                a[near] = av
            np.floor(a, out=a)
            s6 = (a * np.sign(sims)).astype(np.int64)
            # ascending packed key (-s6, centroid index); index order
            # IS cent_id order (sorted above), matching the oracle's
            # (sim DESC, cent_id ASC) ranking
            keym = (np.int64(1_000_000) - s6) * pow2 + idx_arr
            bestc = np.argmin(keym, axis=1)
            yield pd.DataFrame({"vec_id": vid, "cell": cid[bestc]})

    asg = swap_live_persisted(
        (id(spark.sparkContext), "dd13_asg"),
        emb.select("vec_id", "embedding").mapInPandas(
            assign, "vec_id long, cell long"
        ),
    )  # consumed by the gate, the pair stage, and the final output
    # occupancy gate BEFORE pairing (dd04's max_bucket shape): an
    # over-full cell never reaches the O(occ^2) kernel, singletons
    # drop early — and the gate counts NARROW rows, so a degenerate
    # quantizer cell costs a hash-agg row, not a buffered matrix
    ok = (
        asg.groupBy("cell")
        .count()
        .filter((F.col("count") > 1) & (F.col("count") <= SEMDEDUP_MAX_CELL))
        .select("cell")
    )
    members = (
        asg.join(ok, "cell")
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    thr = SEMDEDUP_COSINE

    def cell_dups(pdf):
        # grouped per-cell GEMM: round-4 similarity matrix, count each
        # member's lower-id partners at/above the threshold straight
        # from the strictly-upper triangle — pairs never materialize
        import numpy as np
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series([], dtype="int64"),
                    "n_sem_dups": pd.Series([], dtype="int64"),
                }
            )
        order = np.argsort(pdf["vec_id"].to_numpy(dtype=np.int64))
        vid = pdf["vec_id"].to_numpy(dtype=np.int64)[order]
        X = np.array(pdf["embedding"].tolist(), dtype=np.float64)[order]
        nrm = np.sqrt(
            np.sum(X.astype(np.longdouble) ** 2, axis=1)
        ).astype(np.float64)
        nrm = np.where(nrm == 0.0, 1.0, nrm)  # zero-norm guard (see assign)
        Xn = X / nrm[:, None]
        sims = Xn @ Xn.T
        g = np.abs(sims)
        g *= 1e4
        g += 0.5
        d = np.rint(g)
        np.subtract(d, g, out=d)
        np.abs(d, out=d)
        near = d < 1e-6
        if near.any():
            Xl = X.astype(np.longdouble)
            for i, j in zip(*np.nonzero(near)):
                sims[i, j] = np.float64(
                    np.dot(Xl[i], Xl[j]) / np.longdouble(nrm[i] * nrm[j])
                )
            gv = np.abs(sims[near])
            gv *= 1e4
            gv += 0.5
            g[near] = gv
        np.floor(g, out=g)
        cos4 = (g * np.sign(sims)).astype(np.int64) / 1e4
        mask = cos4 >= thr
        cnt = np.triu(mask, 1).sum(axis=0)  # per column j: |{i<j}| hits
        sel = cnt > 0
        return pd.DataFrame(
            {
                "vec_id": vid[sel],
                "n_sem_dups": cnt[sel].astype("int64"),
            }
        )

    # explicit partition count: Python-stage cost is per-KEY, and AQE
    # would coalesce the few-MB exchange to one worker (cg01's lesson)
    par = spark.sparkContext.defaultParallelism
    dups = (
        members.repartition(par, "cell")
        .groupBy("cell")
        .applyInPandas(cell_dups, "vec_id long, n_sem_dups long")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    n_dups = F.coalesce(F.col("n_sem_dups"), F.lit(0).cast("long"))
    return (
        docs.join(asg, docs.doc_id == asg.vec_id)
        .join(dups, asg.vec_id == dups.vec_id, "left")
        .select(
            "doc_id",
            "cell",
            "source",
            n_dups.alias("n_sem_dups"),
            (n_dups == 0).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# dd14: incremental ingest dedup — new-batch-vs-existing-corpus, the
# shape every dd* above misses: dd01-dd13 dedup WITHIN a corpus or
# against a benchmark set, but the daily production question is "is
# this NEW document a near-dup of anything already ingested?". At
# 100 TB the corpus side's signatures are precomputed once and stored;
# only the batch (tiny) is signed at ingest, and candidates come from
# a band-bucket equi-join of batch bands against the corpus band
# index — never a scan of corpus text.

BATCH_MOD = 5  # doc_id % 5 == 0 plays the incoming batch


def _sql_incremental() -> str:
    band_case = " ".join(
        f"WHEN {b} THEN md5(h{2 * b} || h{2 * b + 1})" for b in range(NUM_BANDS)
    )
    return f"""
    WITH sig AS ({_sql_signature()}),
    bands AS (
      SELECT doc_id, b, CASE b {band_case} END AS band_key
      FROM sig CROSS JOIN
        (SELECT unnest([{", ".join(map(str, range(NUM_BANDS)))}]) AS b)
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS batch_id, y.doc_id AS corpus_id
      FROM bands x JOIN bands y
        ON x.b = y.b AND x.band_key = y.band_key
      WHERE x.doc_id % {BATCH_MOD} = 0 AND y.doc_id % {BATCH_MOD} <> 0
    ),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM toks),
    ex AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS nsh FROM sh),
    verified AS (
      SELECT c.batch_id, count(*) AS shared,
             any_value(a.nsh) AS na, any_value(b.nsh) AS nb,
             c.corpus_id
      FROM cand c
      JOIN ex a ON a.doc_id = c.batch_id
      JOIN ex b ON b.doc_id = c.corpus_id AND b.s = a.s
      GROUP BY c.batch_id, c.corpus_id
    ),
    matches AS (
      SELECT batch_id,
             CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
             MAX(ROUND(shared * 1.0 / (na + nb - shared), 4))
               AS best_jaccard
      FROM verified
      WHERE shared * 1.0 / (na + nb - shared) >= {JACCARD_THRESHOLD}
      GROUP BY batch_id
    )
    SELECT d.doc_id,
           COALESCE(m.n_corpus_matches, 0) AS n_corpus_matches,
           m.best_jaccard,
           COALESCE(m.n_corpus_matches, 0) = 0 AS keep
    FROM documents d
    LEFT JOIN matches m ON m.batch_id = d.doc_id
    WHERE d.doc_id % {BATCH_MOD} = 0
    """


@register("dd14_incremental_ingest_dedup", oracle=_sql_incremental())
def dd14_incremental_ingest_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time dedup: each batch doc vs the existing corpus.

    dd04's LSH machinery re-pointed at the incremental shape: the
    batch's band keys equi-join the corpus band index (candidates =
    bucket co-occupancy, direction batch->corpus only — no batch-batch
    or corpus-corpus pairs), the exact-Jaccard verify touches only
    candidates, and the verdict aggregates per batch doc: how many
    verified corpus near-dups, the best Jaccard, and the keep gate.
    Batch docs with no candidates (or no shingles at all) surface via
    the left join as keep=true — a silent drop of clean documents is
    the one failure mode an ingest gate cannot have.

    At scale: the corpus bands/signatures are write-once artifacts
    (dd09's xxhash64 form — md5 here for the DuckDB oracle); the daily
    batch is signed map-side, the band join fans out by bucket
    occupancy, and corpus TEXT is only read for the verified-candidate
    docs, never scanned wholesale.
    """
    sh_arr = shingle_arrays(spark, sf_dir)
    sig = signature_from_shingles(sh_arr, hash_mode="md5")
    band_struct = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.md5(
                    F.concat(F.col(f"h{2 * b}"), F.col(f"h{2 * b + 1}"))
                ).alias("band_key"),
            )
            for b in range(NUM_BANDS)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_struct).alias("bk")
    ).select("doc_id", "bk.b", "bk.band_key")
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    bb = bands.filter(is_batch).select(
        F.col("doc_id").alias("batch_id"), "b", "band_key"
    )
    cb = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_id"), "b", "band_key"
    )
    cand = (
        bb.join(cb, ["b", "band_key"])
        .select("batch_id", "corpus_id")
        .distinct()
    )
    sh_n = sh_arr.select(
        "doc_id", "sh", F.size("sh").alias("nsh")
    )
    a = sh_n.select(
        F.col("doc_id").alias("batch_id"),
        F.col("sh").alias("sh_a"),
        F.col("nsh").alias("na"),
    )
    b_ = sh_n.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("sh").alias("sh_b"),
        F.col("nsh").alias("nb"),
    )
    shared = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = shared.cast("double") / (
        F.col("na") + F.col("nb") - shared
    ).cast("double")
    matches = (
        cand.join(a, "batch_id")
        .join(b_, "corpus_id")
        .filter(jacc >= JACCARD_THRESHOLD)
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_corpus_matches"),
            F.max(duck_round(jacc, 4)).alias("best_jaccard"),
        )
    )
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(is_batch)
        .select("doc_id")
    )
    n_m = F.coalesce(F.col("n_corpus_matches"), F.lit(0).cast("long"))
    return base.join(
        matches, base.doc_id == matches.batch_id, "left"
    ).select(
        "doc_id",
        n_m.alias("n_corpus_matches"),
        "best_jaccard",
        (n_m == 0).alias("keep"),
    )
