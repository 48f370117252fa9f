"""Text-analysis operators over the ``documents`` table.

Large-scale training-data pipeline surface (beyond the reference's own
operators): token counting, quality scoring, language identification,
and document fingerprinting. Hot-path logic is built-in
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen) — never
row-at-a-time Python UDFs — with ONE sanctioned exception since r13:
the shared tokenize+vocab-count featurization behind tx02/tx03/tx11
can run as a single ``mapInArrow`` batch pass over ``pyarrow.compute``
kernels (:func:`_arrow_token_counts`), dispatched by measured corpus
size and vocabulary-pass count (Arrow wins at sf10 for the 4-/6-count
shapes with bit-equal outputs; the JVM chain stays cheaper below the
crossover — ratios in ``BENCH_R13_TEXT_AB_SF10.json`` /
``..._SF01.json`` and ``EXP_TEXT_ARROW_SF10.json``).

Cross-engine determinism notes (these queries carry DuckDB oracles):
- ``md5`` produces identical hex in Spark and DuckDB → fingerprints match.
- Tokenization is a literal single-space split + empty-token filter, the
  one split semantics both engines agree on exactly.
- Ratios are rounded to fixed decimals on both sides.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table, parallelize_scan
from ..functions.rounding import duck_round
from ..registry import register

# fixed marker vocabularies for the deterministic n-gram/stopword language
# scorer; chosen from the corpus vocabulary — the scoring mechanics (not
# linguistic accuracy) are what the operator contract specifies.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast"),
    "de": ("row", "key", "batch"),
    "fr": ("scan", "data", "query"),
    "es": ("slow", "agg", "merge"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "is")


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokens with empties removed (exact cross-engine split)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, " "), lambda x: x != "")


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


def marker_score(toks: Column, markers: tuple[str, ...]) -> Column:
    """Count of tokens that appear in a fixed marker vocabulary."""
    return F.size(F.filter(toks, lambda x: x.isin(*markers)))


# Measured dispatch bounds for the Arrow featurization (see
# _arrow_token_counts): the Python boundary costs a fixed ~0.15 s per
# job locally (worker round-trip + Arrow transpose), repaid by the
# split-once batch kernels only when BOTH hold —
# - enough vocabulary passes share the one split (tx02's 2-count shape
#   measured SLOWER at sf10 even at 500k docs; the 4- and 6-count
#   shapes win there: BENCH_R13_TEXT_AB_SF10.json), and
# - enough rows amortize the fixed cost (all shapes lose at sf0.1's 5k
#   docs: BENCH_R13_TEXT_AB_SF01.json; the sf1/sf5 legs bracket the
#   4-count crossover between 50k docs / 4.3 MB and 250k docs / 21 MB,
#   and the 6-count tx11 crosses earlier, already at sf1:
#   BENCH_R13_TEXT_AB_SF1.json / ..._SF5.json).
# At the 100 TB design point both bounds are trivially cleared; they
# exist so small interactive corpora keep the cheaper JVM plan — the
# same input-size dispatch as io.parallelize_scan's _MIN_HEAL_BYTES.
_TEXT_ARROW_MIN_COUNTS = 4
_TEXT_ARROW_MIN_BYTES = 16 * 1024 * 1024


def _arrow_token_counts(
    docs: DataFrame,
    counts: dict[str, tuple[str, ...] | None],
    passthrough: tuple[str, ...] = ("doc_id",),
    sf_dir: str | None = None,
) -> DataFrame:
    """Tokenize-and-count featurization: ONE ``mapInArrow`` batch pass
    when the corpus is big enough to pay the Python boundary, the JVM
    expression chain otherwise.

    The shared hot path behind tx02/tx03/tx11: split ``text`` on a
    literal space and count, per document, the tokens matching each of
    several fixed vocabularies (``counts`` maps an output column name to
    its marker vocabulary; ``None`` means the plain non-empty word
    count). The JVM expression chain (``size(filter(split(...)))`` per
    vocabulary) re-walks the token array once per count; the Arrow pass
    splits ONCE per batch with ``pyarrow.compute.split_pattern``, then
    answers every count from the same flattened token buffer via an
    ``is_in`` bitmask + cumulative-sum segment reduction — guide §4.2's
    "hand whole batches to vectorized native libraries" move.

    Measured (one process, alternating arms, bench posture —
    BENCH_R13_TEXT_AB_SF10/SF01.json; isolated featurization kernel in
    EXP_TEXT_ARROW_SF10.json; the ratios live in those files): the
    Arrow arm wins at sf10 for the multi-vocabulary shapes (tx11, tx03;
    the isolated kernel over 500k docs) and loses everywhere the fixed
    per-job boundary cost dominates (all shapes at sf0.1; tx02's 2-count
    shape even at sf10). Dispatch is therefore data-sized, not hardcoded:
    Arrow iff ``len(counts) >= _TEXT_ARROW_MIN_COUNTS`` and the
    documents table is at least ``_TEXT_ARROW_MIN_BYTES`` on disk.
    ``SPARK_GRAFT_TEXT_ARROW=1`` forces the Arrow arm, ``=0`` forces
    the JVM arm (the A/B switch; also the escape hatch for
    Python-worker-less deployments).

    Counts are exact integers — bit-identical between the arms (pinned
    frame-equal by test_text_arrow_featurization_matches_jvm_twin, and
    row-compared over the full sf10 corpus: EXP_TEXT_ARROW_SF10.json,
    code_commit 75cd1b4) — so
    oracle parity does not depend on the dispatch; a NULL text gets the
    JVM arm's ``size(NULL)`` in both. Emitted count
    columns are INT, matching ``F.size``'s type. ``passthrough``
    columns ride the batch unchanged (md5 fingerprints stay JVM-side:
    compute them BEFORE this pass and list them here). Only
    ``passthrough + (text,)`` crosses the Python boundary (guide §4.1:
    project before an opaque op — Spark cannot prune through it).
    """
    forced = os.environ.get("SPARK_GRAFT_TEXT_ARROW")
    if forced == "1":
        use_arrow = True
    elif forced == "0":
        use_arrow = False
    else:
        from ..io import _table_bytes

        table_bytes = (
            _table_bytes(os.path.join(sf_dir, "documents.parquet"))
            if sf_dir
            else 0
        )
        use_arrow = (
            len(counts) >= _TEXT_ARROW_MIN_COUNTS
            and table_bytes >= _TEXT_ARROW_MIN_BYTES
        )
    if not use_arrow:
        toks = tokens()
        return docs.select(
            *passthrough,
            *[
                (
                    F.size(toks) if vocab is None
                    else marker_score(toks, vocab)
                ).alias(name)
                for name, vocab in counts.items()
            ],
        )

    schema = dict(zip(docs.schema.names, docs.schema.fields))
    out_schema = ", ".join(
        [f"{c} {schema[c].dataType.simpleString()}" for c in passthrough]
        + [f"{name} INT" for name in counts]
    )
    # plain-python captures only: the closure is pickled by value, so
    # workers never import this module (foreign-cwd drivers don't ship
    # the repo onto executor PYTHONPATH)
    pass_names = list(passthrough)
    # a NULL text gets the JVM arm's size(NULL): -1 under the legacy
    # sizeOfNull rule (on unless ANSI mode), NULL otherwise
    conf = docs.sparkSession.conf
    null_count = (
        -1
        if conf.get("spark.sql.legacy.sizeOfNull").lower() == "true"
        and conf.get("spark.sql.ansi.enabled").lower() == "false"
        else None
    )
    count_spec = [
        (name, list(vocab) if vocab is not None else None)
        for name, vocab in counts.items()
    ]

    def featurize(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        vocab_arrays = [
            (name, pa.array(vocab) if vocab is not None else None)
            for name, vocab in count_spec
        ]
        for batch in batches:
            text = batch.column("text")
            toks = pc.split_pattern(text, " ")
            arr = (
                toks.combine_chunks()
                if isinstance(toks, pa.ChunkedArray)
                else toks
            )
            offsets = arr.offsets.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            flat = arr.values
            lo, hi = offsets[:-1], offsets[1:]

            def seg_count(mask_arr):
                # per-document count of set bits: cumsum over the flat
                # token mask, differenced at the list offsets
                m = mask_arr.to_numpy(zero_copy_only=False).astype(np.int64)
                cs = np.concatenate(([0], np.cumsum(m)))
                return (cs[hi] - cs[lo]).astype(np.int32)

            nulls = pc.is_null(text).to_numpy(zero_copy_only=False)
            cols = {n: batch.column(n) for n in pass_names}
            for name, vs in vocab_arrays:
                mask = (
                    pc.not_equal(flat, "")
                    if vs is None
                    else pc.is_in(flat, value_set=vs)
                )
                cnt = seg_count(mask)
                if null_count is None:
                    cols[name] = pa.array(cnt, type=pa.int32(), mask=nulls)
                else:
                    cnt[nulls] = null_count
                    cols[name] = pa.array(cnt, type=pa.int32())
            yield pa.RecordBatch.from_pydict(cols)

    return docs.select(*pass_names, "text").mapInArrow(featurize, out_schema)


def _sql_tokens(expr: str = "text") -> str:
    """DuckDB-side twin of :func:`tokens`."""
    return f"list_filter(string_split({expr}, ' '), x -> x <> '')"


def _sql_marker_score(toks_expr: str, markers: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({toks_expr}, x -> x IN ({inlist})))"


@register(
    "tx01_token_count",
    oracle=f"""
    SELECT doc_id,
           n_chars,
           len({_sql_tokens()}) AS word_count,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS bpe_token_estimate
    FROM documents
    """,
)
def tx01_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace word count + BPE-ish length estimate.

    The chars/4 heuristic is the standard BPE budget approximation used
    for context-length accounting in training pipelines.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "n_chars",
        F.size(tokens()).alias("word_count"),
        F.ceil(F.col("n_chars") / 4.0).alias("bpe_token_estimate"),
    )


@register(
    "tx02_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang, n_chars,
             len({_sql_tokens()}) AS word_count,
             {_sql_marker_score(_sql_tokens(), STOPWORDS)} AS stopword_count
      FROM documents
    )
    SELECT doc_id, lang, n_chars, word_count,
           ROUND(CAST(stopword_count AS DOUBLE) / word_count, 4) AS stopword_ratio,
           ROUND(CAST(n_chars AS DOUBLE) / word_count, 4) AS avg_word_len,
           CASE WHEN word_count BETWEEN 20 AND 1000
                 AND CAST(stopword_count AS DOUBLE) / word_count
                     BETWEEN 0.01 AND 0.5
                THEN 1 ELSE 0 END AS passes_quality
    FROM feats
    """,
)
def tx02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword-ratio gates (C4/Gopher-style rules).

    Documents outside the [20, 1000]-word band or with an implausible
    stopword ratio are flagged; the same rule family the reference's
    null-gating plays at ingest (``main_pipeline.py:379-380``), scaled to
    corpus curation.

    Floor evidence: this query's legs in FLOOR_PROBE.json.
    """
    docs = load_table(spark, sf_dir, "documents")
    # shared featurization helper; the 2-count shape stays on the JVM
    # chain under auto-dispatch (counts < _TEXT_ARROW_MIN_COUNTS: the
    # Arrow arm measured SLOWER even at sf10, BENCH_R13_TEXT_AB_SF10.json
    # — too few vocabulary passes share the one split to repay the
    # Python boundary)
    feats = _arrow_token_counts(
        docs,
        {"word_count": None, "stopword_count": STOPWORDS},
        passthrough=("doc_id", "lang", "n_chars"),
        sf_dir=sf_dir,
    )
    stop_ratio = F.col("stopword_count").cast("double") / F.col("word_count")
    return feats.select(
        "doc_id",
        "lang",
        "n_chars",
        "word_count",
        duck_round(stop_ratio, 4).alias("stopword_ratio"),
        duck_round(F.col("n_chars").cast("double") / F.col("word_count"), 4).alias(
            "avg_word_len"
        ),
        F.when(
            F.col("word_count").between(20, 1000) & stop_ratio.between(0.01, 0.5),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("passes_quality"),
    )


@register(
    "tx03_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["en"])} AS s_en,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["de"])} AS s_de,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["fr"])} AS s_fr,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["es"])} AS s_es
      FROM documents
    )
    SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
           CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                WHEN s_fr >= s_es THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
)
def tx03_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: marker-vocabulary scoring with a deterministic argmax.

    An n-gram-frequency heuristic classifier: score each language by
    marker-token hits, break ties in a fixed language order. Pure
    columnar expressions — at 100 TB this is a single narrow map stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    # all four marker scores in one featurization pass; auto-dispatch
    # plans the Arrow batch form on big corpora (measured faster at
    # sf10: BENCH_R13_TEXT_AB_SF10.json), the JVM chain on small ones —
    # see _arrow_token_counts
    scored = _arrow_token_counts(
        docs,
        {f"s_{lang}": LANG_MARKERS[lang] for lang in ("en", "de", "fr", "es")},
        passthrough=("doc_id", "lang"),
        sf_dir=sf_dir,
    )
    s_en, s_de, s_fr, s_es = (F.col(c) for c in ("s_en", "s_de", "s_fr", "s_es"))
    predicted = (
        F.when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), F.lit("en"))
        .when((s_de >= s_fr) & (s_de >= s_es), F.lit("de"))
        .when(s_fr >= s_es, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return scored.select(
        "doc_id", "lang", "s_en", "s_de", "s_fr", "s_es", predicted.alias("predicted_lang")
    )


@register(
    "tx04_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS content_fp,
           md5(array_to_string(list_sort(list_distinct(
             list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS bow_fp,
           substr(md5(text), 1, 8) AS shard_key
    FROM documents
    """,
)
def tx04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash + order-insensitive BoW hash.

    ``content_fp`` is the exact-dup key; ``bow_fp`` (sorted distinct
    tokens re-joined then hashed) catches token-order shuffles — the
    rolling-hash family's cheap cousin, fully expressible JVM-side.
    ``shard_key`` is the uniform partitioner a 100 TB dedup would
    repartition on.
    """
    docs = load_table(spark, sf_dir, "documents")
    bow = F.concat_ws(" ", F.array_sort(F.array_distinct(tokens())))
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_fp"),
        F.md5(bow).alias("bow_fp"),
        F.substring(F.md5("text"), 1, 8).alias("shard_key"),
    )


K_GRAM = 3
WINNOW_WINDOW = 4


@register(
    "tx05_winnow_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_sql_tokens()} AS t FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform(range(1, len(t) - 1),
                            i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS hs
      FROM toks
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(hs) - {WINNOW_WINDOW - 2}),
               i -> list_min(hs[i:i+{WINNOW_WINDOW - 1}]))) AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM wins
    """,
)
def tx05_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (MOSS-style rolling selection).

    k-gram hash sequence → sliding-window (w={WINNOW_WINDOW}) minimum →
    distinct selected hashes per document. Guarantees any shared
    substring of ≥ w+k-1 tokens yields a shared fingerprint, at ~2/(w+1)
    of the k-gram density — the standard local-fingerprint dedup
    primitive. Window minima are built from w shifted array zips
    (``least``), so the whole operator is one narrow map stage: no
    explode-shuffle until the final per-fingerprint grouping a consumer
    adds.

    The gram/hash/min chain costs ~100x the scan per byte, so the scan
    is force-spread across the cluster even when the file arrives as a
    single split — compute-bound maps size parallelism to CPU, not to
    input bytes.
    """
    docs = parallelize_scan(
        load_table(spark, sf_dir, "documents"), force=True
    )
    toks = tokens()
    grams = gram_windows(toks, K_GRAM)
    hs = F.transform(grams, lambda g: F.md5(g))
    mins = hs
    for j in range(1, WINNOW_WINDOW):
        mins = F.zip_with(
            mins,
            F.slice(hs, j + 1, F.size(hs)),
            lambda a, b: F.least(a, b),
        )
    mins = F.slice(
        mins, 1, F.greatest(F.size(hs) - (WINNOW_WINDOW - 1), F.lit(0))
    )
    return docs.select(
        "doc_id", F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


@register(
    "tx06_fuzzy_name_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def tx06_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: near-identical name pairs by edit distance.

    Dedup-by-typo for catalog strings (the reference's product names
    arrive from a live API with inconsistent casing/spacing,
    ``main_pipeline.py:256-268``). Distinct-first is the scale move: the
    quadratic levenshtein runs over the unique-name set (vocabulary-
    sized, broadcastable), never over the row count. levenshtein is
    JVM-side in Spark and identical by definition across engines.
    """
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .filter(dist <= 3)
        .select("name_a", "name_b", dist.cast("long").alias("edit_dist"))
    )


@register(
    "tx07_token_topk",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ), freq AS (
      SELECT tok, COUNT(*) AS n FROM tok GROUP BY tok
    )
    SELECT tok, n, rnk FROM (
      SELECT tok, n, rank() OVER (ORDER BY n DESC, tok) AS rnk FROM freq
    ) WHERE rnk <= 20
    """,
)
def tx07_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token frequency top-k (vocabulary head).

    explode → count (map-side partial, one shuffle on token) → global
    rank over the *vocabulary-sized* frequency table. The single-
    partition rank window is safe because its input is |vocab|, not
    |corpus| — at 100 TB the frequency table is still small; were it
    not, the standard move is per-partition top-k then re-rank the
    k·partitions survivors. Ties rank identically in both engines via
    the (count desc, token) total order.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens()).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count("*").alias("n"))
    from pyspark.sql import Window

    rnk = F.rank().over(Window.orderBy(F.desc("n"), F.asc("tok")))
    return freq.select("tok", "n", rnk.alias("rnk")).filter(F.col("rnk") <= 20)


# Synthetic-PII enrichment templates: the corpus itself is clean word
# soup, so the redaction query first *plants* deterministic PII derived
# from doc_id (identical string built on both engines), then scrubs it —
# exercising the real pattern library end-to-end with a verifiable
# oracle. Patterns stay in the Java-regex ∩ RE2 common subset (no
# backrefs, no lookaround) so Spark and DuckDB match identically.
_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"


@register(
    "tx08_redact_pii",
    oracle=f"""
    WITH enriched AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-'
                  || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_PII_EMAIL}'))
             + len(regexp_extract_all(text, '{_PII_PHONE}'))
             AS n_redactions,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
    FROM enriched
    """,
)
def tx08_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: regex scrub of emails/phones (training-data hygiene).

    The corpus is synthetic and clean, so the query deterministically
    plants one email + one phone per document (derived from ``doc_id``)
    before scrubbing — the redaction machinery, not the planted data, is
    the operator under test. All regex work is JVM-side
    ``regexp_replace`` / ``regexp_count`` inside whole-stage codegen; at
    100 TB this is a pure map stage — no shuffle, no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return enriched.select(
        "doc_id",
        (
            F.regexp_count("text", F.lit(_PII_EMAIL))
            + F.regexp_count("text", F.lit(_PII_PHONE))
        ).alias("n_redactions"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ).alias("redacted"),
    )


@register(
    "tx09_repetition_ratio",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ), counts AS (
      SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS word_count,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS distinct_ratio,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 4) AS top_word_share,
           CASE WHEN CAST(COUNT(*) AS DOUBLE) / SUM(c) >= 0.3
                 AND CAST(MAX(c) AS DOUBLE) / SUM(c) <= 0.2
                THEN 1 ELSE 0 END AS passes_repetition
    FROM counts GROUP BY doc_id
    """,
)
def tx09_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filtering: distinct-word ratio + top-word share
    (Gopher-style repetition rules for training corpora).

    explode → per-(doc, word) count → per-doc re-aggregate. Both
    aggregations keep map-side partials; the second groupBy's keys are a
    prefix of the first's, so Spark reuses the (doc_id, w) partitioning
    — one wide shuffle of the exploded corpus, one narrow one of the
    per-word counts. No per-doc data structure ever exceeds the
    vocabulary of a single document.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokens()).alias("w"))
    counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    distinct_ratio = F.count("*").cast("double") / F.sum("c")
    top_share = F.max("c").cast("double") / F.sum("c")
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("word_count"),
        duck_round(distinct_ratio, 4).alias("distinct_ratio"),
        duck_round(top_share, 4).alias("top_word_share"),
        F.when((distinct_ratio >= 0.3) & (top_share <= 0.2), F.lit(1))
        .otherwise(F.lit(0))
        .alias("passes_repetition"),
    )


@register(
    "tx10_tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_sql_tokens()}) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE)
               * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tf, df, ROUND(score, 6) AS score, rn FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def tx10_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF (rarity-weighted term salience).

    Term frequency shuffles the exploded corpus once on (doc_id, tok);
    document frequency re-aggregates the *already-distinct* (doc_id,
    tok) pairs, so its count is a cheap second pass — and its output is
    vocabulary-sized, which makes the tf⋈df join broadcastable at any
    corpus scale. The corpus-size scalar rides the same broadcast
    (1-row cross join, no ``collect``). IDF stays a pure ratio
    ``n_docs / df`` — two exact int→double casts and one division, the
    identical float sequence in both engines — rather than a ``log``
    whose libm rounding is not cross-engine-portable. Final per-doc
    top-3 is the WindowGroupLimit pattern of ``a18_topk_per_group``.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("tok"))
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.col("tf").cast("double") * (
        F.col("n_docs").cast("double") / F.col("df").cast("double")
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(F.broadcast(n))
        .withColumn("score", score)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "tok", "tf", "df",
            duck_round("score", 6).alias("score"), "rn",
        )
    )


@register(
    "tx11_corpus_filter_pipeline",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len({_sql_tokens()}) AS word_count,
             {_sql_marker_score(_sql_tokens(), STOPWORDS)} AS stopword_count,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["en"])} AS s_en,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["de"])} AS s_de,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["fr"])} AS s_fr,
             {_sql_marker_score(_sql_tokens(), LANG_MARKERS["es"])} AS s_es,
             md5(text) AS content_fp
      FROM documents
    ), flags AS (
      SELECT doc_id,
             CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
                  THEN 1 ELSE 0 END AS is_en,
             CASE WHEN word_count BETWEEN 20 AND 1000
                   AND CAST(stopword_count AS DOUBLE) / word_count
                       BETWEEN 0.01 AND 0.5
                  THEN 1 ELSE 0 END AS passes_quality,
             CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY content_fp)
                  THEN 1 ELSE 0 END AS is_canonical
      FROM feats
    )
    SELECT doc_id, is_en, passes_quality, is_canonical,
           is_en * passes_quality * is_canonical AS kept,
           CASE WHEN is_en = 0 THEN 'lang'
                WHEN passes_quality = 0 THEN 'quality'
                WHEN is_canonical = 0 THEN 'duplicate'
                ELSE NULL END AS drop_reason
    FROM flags
    """,
)
def tx11_corpus_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end C4-style curation: lang-ID → quality gate → exact dedup.

    The three filter families composed the way a production corpus
    pipeline runs them, in one DataFrame chain: marker-vocabulary
    language argmax (tx03), length/stopword quality rules (tx02), and
    exact-hash canonical-keeper dedup (dd01's shape as a window min
    over the content fingerprint). Per-doc verdicts carry a first-
    failing ``drop_reason`` for curation accounting. One scan computes
    every feature map-side; the only shuffle is the fingerprint window
    — at 100 TB the featurization cost is amortized across all three
    gates instead of three separate pipeline passes.

    Floor evidence: this query's legs in FLOOR_PROBE.json.
    """
    docs = load_table(spark, sf_dir, "documents")
    # all six token counts in one featurization pass (Arrow batch form
    # on big corpora — measured faster at sf10, BENCH_R13_TEXT_AB_SF10.json
    # — JVM chain on small ones, see _arrow_token_counts); the md5
    # fingerprint stays a JVM column computed BEFORE the pass and rides
    # the batch as a passthrough (pyarrow has no md5 kernel, and the
    # oracle pins the exact hex)
    feats = _arrow_token_counts(
        docs.select("doc_id", F.md5("text").alias("content_fp"), "text"),
        {
            "word_count": None,
            "stopword_count": STOPWORDS,
            "s_en": LANG_MARKERS["en"],
            "s_de": LANG_MARKERS["de"],
            "s_fr": LANG_MARKERS["fr"],
            "s_es": LANG_MARKERS["es"],
        },
        passthrough=("doc_id", "content_fp"),
        sf_dir=sf_dir,
    )
    s_en, s_de, s_fr, s_es = (
        F.col(c) for c in ("s_en", "s_de", "s_fr", "s_es")
    )
    stop_ratio = F.col("stopword_count").cast("double") / F.col("word_count")
    w_fp = Window.partitionBy("content_fp")
    flags = feats.select(
        "doc_id",
        F.when(
            (s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_en"),
        F.when(
            F.col("word_count").between(20, 1000)
            & stop_ratio.between(0.01, 0.5),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("passes_quality"),
        F.when(
            F.col("doc_id") == F.min("doc_id").over(w_fp), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_canonical"),
    )
    return flags.select(
        "doc_id",
        "is_en",
        "passes_quality",
        "is_canonical",
        (
            F.col("is_en") * F.col("passes_quality") * F.col("is_canonical")
        ).alias("kept"),
        F.when(F.col("is_en") == 0, F.lit("lang"))
        .when(F.col("passes_quality") == 0, F.lit("quality"))
        .when(F.col("is_canonical") == 0, F.lit("duplicate"))
        .otherwise(F.lit(None).cast("string"))
        .alias("drop_reason"),
    )


# Public redaction API over the registered tx08 patterns, plus IPv4.
# Patterns stay in the common subset of Java regex (Spark) and RE2
# (DuckDB) — no backreferences, no lookaround — so tx08's oracle can
# reproduce the email/phone rewrites exactly; the broader email class
# here also covers upper-case/plus-tagged mailboxes for API callers.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = _PII_PHONE
PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
_PII_RULES = (
    (PII_EMAIL_RE, "<EMAIL>"),
    (PII_PHONE_RE, "<PHONE>"),
    (PII_IP_RE, "<IP>"),
)


def redact_pii(c: Column) -> Column:
    """Replace emails, then phone numbers, then IPv4 literals with typed
    placeholders. Generalizes the registered/oracled ``tx08_redact_pii``
    query's patterns (a strict superset: wider case-insensitive email
    class, plus an IPv4 rule tx08 and its oracle do not apply) — it is
    NOT the implementation behind tx08, whose narrower patterns are
    pinned verbatim against the DuckDB oracle. Pure ``regexp_replace``
    chain: whole-stage codegen, zero Python, applied in a fixed order so
    the output is deterministic (the email pass runs first because its
    character class overlaps the later patterns)."""
    for pat, repl in _PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


# context-window chunking: 32-token windows advancing by 24 (8 overlap) —
# the overlap preserves cross-boundary context for training examples
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "tx12_chunk_documents",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_sql_tokens()} AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(
               0, CAST((len(toks) - 1) // {CHUNK_STRIDE} AS BIGINT)
             )) AS chunk_id
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id, chunk_id,
           len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                          chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
             AS n_chunk_tokens,
           array_to_string(
             list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
             AS chunk_text
    FROM c
    """,
)
def tx12_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping token windows per document.

    The example-preparation step between corpus curation and training:
    every document becomes ceil(n_tokens / stride) overlapping chunks
    sized to the model's context budget. All array math is JVM-side
    (``split``/``sequence``/``explode``/``slice``) — per-row fan-out is
    n/stride with no shuffle at all: chunks are emitted inside the scan
    stage and flow straight into whatever sink or tokenizer stage
    follows. Chunk membership is a pure function of the document text,
    so the output is identical at any parallelism.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.col("toks"))
    last_chunk = F.floor((n - 1) / F.lit(CHUNK_STRIDE)).cast("long")
    with_chunks = (
        docs.select("doc_id", tokens().alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0).cast("long"), last_chunk)
            ).alias("chunk_id"),
        )
    )
    sl = F.slice(
        F.col("toks"),
        (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"),
        CHUNK_TOKENS,
    )
    return with_chunks.select(
        "doc_id",
        "chunk_id",
        F.size(sl).cast("long").alias("n_chunk_tokens"),
        F.array_join(sl, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# tx13: corpus-trained unigram LM quality score — the CCNet-style
# language-model perplexity proxy (Wenzek et al. 2020, CCNet): score
# each document by the mean log-probability of its tokens under a
# unigram model fitted on the corpus itself. Rare-token-heavy (noisy)
# documents score low; the keep gate drops the low tail.

TX13_KEEP_MIN = -3.42  # avg-logprob floor (drops the bottom ~decile here)
TX13_HIGH_MIN = -3.40  # bucket boundary: 'high' at/above the median band

from ..functions.rounding import _scaled_long, _sql_scaled_long  # noqa: E402


@register(
    "tx13_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_sql_tokens()}) AS tok FROM documents
    ),
    freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM freq),
    lp AS (
      SELECT tok,
             {_sql_scaled_long("ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))")}
               AS d6
      FROM freq, tot
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(d6) AS BIGINT) AS s6
      FROM toks JOIN lp USING (tok) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_tokens, 4) AS avg_logprob,
           CASE WHEN ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_tokens, 4)
                     >= {TX13_HIGH_MIN} THEN 'high'
                WHEN ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_tokens, 4)
                     >= {TX13_KEEP_MIN} THEN 'mid'
                ELSE 'low' END AS lm_bucket,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_tokens, 4)
             >= {TX13_KEEP_MIN} AS keep
    FROM agg
    """,
)
def tx13_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean token log-probability per doc.

    The CCNet-style LM filter with the LM fitted in-pipeline: token
    frequencies over the corpus define p(tok) = cnt/total; each
    document scores avg(ln p(tok)) over its token INSTANCES, so
    documents dominated by rare/noisy tokens sink. ``lm_bucket``
    (high/mid/low) and ``keep`` gate on fixed avg-logprob thresholds.

    Determinism: per-token-type log-probs land on the 1e-6 integer
    grid (``_scaled_long`` — one value per vocab entry, computed once)
    and per-doc sums are exact BIGINT adds, so token order and
    partitioning can't perturb the mean; the only float ops both
    engines must agree on are one IEEE division and one ``ln`` per
    VOCAB TYPE, not per token instance.

    Scale shape: the frequency table is vocabulary-bounded (tiny next
    to the corpus — broadcast into the instance join), the total is a
    one-row broadcast replication, and the per-doc aggregate is a
    partial-aggregated count+sum keyed on doc_id. One shuffle each on
    tok (fit) and doc_id (score); document text never moves twice.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens()).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("total"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "tok",
        _scaled_long(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
        ).alias("d6"),
    )
    agg = (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("d6").alias("s6"),
        )
    )
    avg = duck_round(
        F.col("s6").cast("double") / F.lit(1e6) / F.col("n_tokens"), 4
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        avg.alias("avg_logprob"),
        F.when(avg >= TX13_HIGH_MIN, F.lit("high"))
        .when(avg >= TX13_KEEP_MIN, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("lm_bucket"),
        (avg >= TX13_KEEP_MIN).alias("keep"),
    )


TX14_TARGET_LANG = "en"  # the "high-quality target distribution" stand-in


@register(
    "tx14_dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest({_sql_tokens()}) AS tok FROM documents
    ),
    tgt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS tc
      FROM toks WHERE lang = '{TX14_TARGET_LANG}' GROUP BY tok
    ),
    raw AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS rc FROM toks GROUP BY tok
    ),
    tt AS (SELECT CAST(SUM(tc) AS BIGINT) AS tgt_total FROM tgt),
    rt AS (SELECT CAST(SUM(rc) AS BIGINT) AS raw_total FROM raw),
    lr AS (
      SELECT raw.tok,
             {_sql_scaled_long(
                 "ln((CAST(tc AS DOUBLE) / tgt_total)"
                 " / (CAST(rc AS DOUBLE) / raw_total))")} AS d6
      FROM raw JOIN tgt USING (tok), tt, rt
    ),
    agg AS (
      SELECT doc_id, ANY_VALUE(lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(d6) AS BIGINT) AS s6
      FROM toks JOIN lr USING (tok) GROUP BY doc_id
    )
    -- + 0.0 canonicalizes IEEE negative zero: DuckDB ROUND keeps the
    -- input's sign on a |x| < 0.5*10^-4 negative average (-0.0), Spark's
    -- long-typed ceil path lands on +0.0; -0.0 + 0.0 = +0.0 and the add
    -- is the identity everywhere else.
    SELECT doc_id, lang, n_scored,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_scored, 4) + 0.0 AS avg_logratio,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_scored, 4) > 0.0 AS selected
    FROM agg
    """,
)
def tx14_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight: target-vs-raw unigram log ratio.

    Data Selection via Importance Resampling (Xie et al.,
    arXiv:2302.03169) scores every raw document by how much more
    likely its features are under a TARGET distribution than under
    the raw pool, then samples proportionally to that weight. Here
    both unigram LMs are fitted in-pipeline — target = the
    ``lang = 'en'`` slice (the stand-in for "looks like my curated
    set"), raw = the whole corpus — and each doc gets
    avg over token instances of ln(p_target(tok) / p_raw(tok)).
    ``selected`` keeps docs that score target-positive; downstream a
    resampler (smp08's weighted pattern) would use exp(s6/1e6) as the
    sampling weight directly. Tokens absent from the target slice are
    skipped (inner join — add-nothing smoothing) identically on both
    engines.

    Fixture honesty: the synthetic corpus shares one 31-word
    vocabulary across langs, so the signal is real but mild —
    measured at sf0.01, 65% of target-lang docs score above the
    corpus median vs 34-43% for each other lang. On a natural corpus
    the ratio LM is far more discriminative; the mechanics (two
    vocab-bounded LM fits + one broadcast instance join) are what
    this operator pins.

    Scale shape: tx13's, twice — both frequency tables are
    vocab-bounded and broadcast; the per-doc score is one
    partial-aggregated sum keyed on doc_id. Document text is
    tokenized ONCE (`toks` reused by fit and score); nothing
    driver-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", F.explode(tokens()).alias("tok"))
    tgt = (
        toks.filter(F.col("lang") == TX14_TARGET_LANG)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    raw = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("rc"))
    tt = tgt.agg(F.sum("tc").alias("tgt_total"))
    rt = raw.agg(F.sum("rc").alias("raw_total"))
    lr = (
        raw.join(tgt, "tok")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .select(
            "tok",
            _scaled_long(
                F.log(
                    (F.col("tc").cast("double") / F.col("tgt_total"))
                    / (F.col("rc").cast("double") / F.col("raw_total"))
                )
            ).alias("d6"),
        )
    )
    agg = (
        toks.join(F.broadcast(lr), "tok")
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.count(F.lit(1)).alias("n_scored"),
            F.sum("d6").alias("s6"),
        )
    )
    avg = duck_round(
        F.col("s6").cast("double") / F.lit(1e6) / F.col("n_scored"), 4
    )
    return agg.select(
        "doc_id",
        "lang",
        "n_scored",
        avg.alias("avg_logratio"),
        (avg > 0.0).alias("selected"),
    )


TX15_MIN_PAIR_DOCS = 5  # drop pairs seen in fewer docs (PMI noise floor)


@register(
    "tx15_token_pmi",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest({_sql_tokens()}) AS tok
      FROM documents
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM documents),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY tok
    ),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, n_ab, ua.df AS df_a, ub.df AS df_b,
           ROUND(ln(CAST(n_ab AS DOUBLE) * nd.n_docs
                    / (CAST(ua.df AS DOUBLE) * ub.df)), 6) AS pmi
    FROM pairs
    JOIN uni ua ON pairs.tok_a = ua.tok
    JOIN uni ub ON pairs.tok_b = ub.tok, nd
    WHERE n_ab >= {TX15_MIN_PAIR_DOCS}
    """,
)
def tx15_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence PMI — collocation mining.

    The vocabulary-analysis pass a corpus pipeline runs to find token
    pairs that travel together (phrase candidates, template detection):
    for tokens a < b, PMI = ln(P(a,b) / (P(a)P(b))) over document
    co-occurrence, with a min-support floor so rare-pair noise never
    surfaces. All probabilities are exact integer ratios entering ONE
    ln per output row — deterministic across engines.

    Scale shape: the distinct (doc, token) projection collapses term
    frequency first (map-side combinable), the pair stage self-joins
    on doc_id — per-doc work is O(v²) in the doc's DISTINCT vocabulary,
    the standard co-occurrence cost. At 100 TB you bound v per doc
    (top-v tokens by tf) before pairing, exactly like dd04 caps its
    bucket fan-out; the fixture's 31-token vocabulary keeps v <= 31
    here. Unigram document frequencies are vocab-bounded and broadcast
    back onto the pair table.
    """
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(tokens()).alias("tok")
    ).distinct()
    nd = docs.agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    uni = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    b = dt.select(
        F.col("doc_id").alias("doc_id_b"), F.col("tok").alias("tok_b")
    )
    pairs = (
        dt.join(
            b,
            (F.col("doc_id") == F.col("doc_id_b"))
            & (F.col("tok") < F.col("tok_b")),
        )
        .groupBy(F.col("tok").alias("tok_a"), "tok_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= TX15_MIN_PAIR_DOCS)
    )
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "df_a",
            "df_b",
            duck_round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("n_docs")
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# tx16: bigram-LM quality score — the n-gram upgrade of tx13's unigram
# filter (CCNet/KenLM pipelines score documents with a 5-gram LM; a
# bigram model is the same machinery at the corpus scale an in-pipeline
# fit allows, and the fixtures' 31-token vocabulary gives it 961 bigram
# types — measured 402 distinct per-doc scores over 500 docs at sf0.01,
# so the gate genuinely discriminates).

TX16_KEEP_MIN = -3.43  # avg bigram-logprob floor (drops the low tail)
TX16_HIGH_MIN = -3.38  # 'high' bucket: at/above the median band


@register(
    "tx16_bigram_logprob",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_sql_tokens()} AS t FROM documents),
    bg AS (
      SELECT doc_id, t[i] AS u, t[i+1] AS v
      FROM t, unnest(range(1, len(t))) AS r(i)
    ),
    cuv AS (
      SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM bg GROUP BY u, v
    ),
    cu AS (SELECT u, CAST(SUM(cnt) AS BIGINT) AS tot FROM cuv GROUP BY u),
    lp AS (
      SELECT cuv.u, cuv.v,
             {_sql_scaled_long("ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))")}
               AS d6
      FROM cuv JOIN cu USING (u)
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(d6) AS BIGINT) AS s6
      FROM bg JOIN lp ON bg.u = lp.u AND bg.v = lp.v
      GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_bigrams, 4) AS avg_logprob,
           CASE WHEN ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_bigrams, 4)
                     >= {TX16_HIGH_MIN} THEN 'high'
                WHEN ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_bigrams, 4)
                     >= {TX16_KEEP_MIN} THEN 'mid'
                ELSE 'low' END AS lm_bucket,
           ROUND(CAST(s6 AS DOUBLE) / 1e6 / n_bigrams, 4)
             >= {TX16_KEEP_MIN} AS keep
    FROM agg
    """,
)
def tx16_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: mean transition log-probability per doc.

    tx13's filter upgraded one Markov order: corpus bigram counts
    define p(v|u) = c(u,v)/c(u); each document scores the mean
    ``ln p(v|u)`` over its ADJACENT token pairs, so documents whose
    word order deviates from corpus patterns sink even when their
    unigram mix looks normal (the failure mode unigram LMs can't see —
    shuffled/templated text). Documents under 2 tokens have no
    transitions and carry no row (same as the oracle's inner join).

    Determinism mirrors tx13: one ``ln`` per bigram TYPE on the 1e-6
    integer grid (vocabulary²-bounded table), exact BIGINT per-doc
    sums, so token order / partitioning can't perturb the mean.

    Scale shape: the bigram model is vocab²-bounded (broadcast), the
    instance join is map-side, and the per-doc aggregate partial-
    aggregates on doc_id — one corpus-scale shuffle. The bigram
    explode is width-1 amplification of the token stream (n-1 pairs
    per n tokens), not a join blowup.
    """
    docs = load_table(spark, sf_dir, "documents")
    # the n >= 2 filter guards F.slice's length arg (negative length
    # throws on empty token arrays); <2-token docs have no bigrams
    # anyway, matching the oracle's inner join
    t = docs.select("doc_id", tokens().alias("t")).filter(
        F.size("t") >= 2
    )
    n = F.size("t")
    bg = t.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("u"),
                F.slice(F.col("t"), 2, n - 1).alias("v"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    cuv = bg.groupBy("u", "v").agg(F.count(F.lit(1)).alias("cnt"))
    # per-u totals as a window sum over the vocab²-bounded cuv instead of
    # a groupBy + broadcast join: same exact integer totals, but ONE
    # model-build job instead of two — the join form spawned a separate
    # broadcast-build job for cu that re-ran the corpus tokenize+explode
    # (guide §2.4: operations keyed the same way share one exchange; the
    # window's exchange moves <= vocab² narrow rows)
    tot = F.sum("cnt").over(Window.partitionBy("u"))
    lp = cuv.select(
        "u",
        "v",
        _scaled_long(
            F.log(F.col("cnt").cast("double") / tot.cast("double"))
        ).alias("d6"),
    )
    agg = (
        bg.join(F.broadcast(lp), ["u", "v"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("d6").alias("s6"),
        )
    )
    avg = duck_round(
        F.col("s6").cast("double") / F.lit(1e6) / F.col("n_bigrams"), 4
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        avg.alias("avg_logprob"),
        F.when(avg >= TX16_HIGH_MIN, F.lit("high"))
        .when(avg >= TX16_KEEP_MIN, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("lm_bucket"),
        (avg >= TX16_KEEP_MIN).alias("keep"),
    )
