"""Corpus-hygiene operators for training-data pipelines: repetition
signals, quality heuristics, PII scrubbing, corpus-level line dedup, and
benchmark decontamination.

Design rules (the 100 TB posture):

- Every *per-document* signal is a pure Spark SQL ``Column`` expression —
  whole-stage codegen, zero Python workers, zero shuffle. Even the
  "most frequent n-gram" statistic is computed per row with a sort +
  run-length scan over the shingle array instead of an explode/groupBy
  (no shuffle at all: the classic mode-by-groupBy plan shuffles
  O(total n-grams) rows; this one shuffles nothing).
- The two *corpus-level* operators shuffle exactly once on a uniform
  hash key: :func:`line_dedup` partitions by line hash (then one more
  narrow shuffle to reassemble docs), :func:`decontaminate` semi-joins
  doc n-grams against the (small, broadcastable) benchmark n-gram set.

The heuristics follow the published training-data literature: repetition
and quality thresholds per Gopher (Rae et al. 2021, §A1.1), corpus-level
duplicate-line removal per C4 (Raffel et al. 2020, §2.2), n-gram
decontamination per GPT-3 (Brown et al. 2020, §C). All public.

Reference scope note: the reference engine (Oreilles/polars-st) has no
text-pipeline surface; these operators belong to the driver-mandated
training-data extension family alongside operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_st_spark.functions.factory import col_or_lit, spark_dt
from polars_st_spark.operators.textops import (
    STOPWORDS,
    shingles,
    stopword_ratio,
    tokens,
)

__all__ = [
    "alpha_word_frac",
    "bullet_line_frac",
    "decontaminate",
    "dup_line_char_frac",
    "dup_line_frac",
    "ellipsis_line_frac",
    "gopher_filter",
    "line_dedup",
    "lines",
    "mean_word_length",
    "pii_scrub",
    "repetition_signals",
    "top_ngram_char_frac",
]


# --------------------------------------------------------------------------
# per-document signals (pure Column expressions — no shuffle, no Python)
# --------------------------------------------------------------------------


def lines(text) -> Column:
    """Non-empty lines of a document (split on newline, blank lines
    dropped — blank separators don't count as repeated content)."""
    c = col_or_lit(text)
    return F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")


def dup_line_frac(text) -> Column:
    """Fraction of lines that are duplicates of an earlier line
    (``1 - distinct/total``; 0.0 for empty docs). Gopher's
    `duplicate_line_fraction`."""
    ls = lines(text)
    n = F.size(ls)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(ls))).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))


def dup_line_char_frac(text) -> Column:
    """Fraction of line characters sitting in duplicate occurrences
    (chars beyond each line's first occurrence / total line chars).
    Gopher's `duplicate_line_character_fraction`."""
    ls = lines(text)
    tot = _sum_lengths(ls)
    dist = _sum_lengths(F.array_distinct(ls))
    return F.when(
        tot > 0, (tot - dist).cast("double") / tot.cast("double")
    ).otherwise(F.lit(0.0))


def _bind(value: Column, fn) -> Column:
    """Evaluate ``value`` once and hand it to ``fn`` as a lambda attribute.

    Spark re-evaluates non-attribute subexpressions inside higher-order
    lambdas once PER ELEMENT (see operators/dedup.py `_shingle_table`);
    wrapping the subexpression as the input of a single-element transform
    binds it to a NamedLambdaVariable, which inner lambdas reference for
    free. Same trick as a SQL LATERAL alias, expressed as a Column."""
    return F.element_at(F.transform(F.array(value), fn), 1)


def top_ngram_char_frac(text, n: int = 2) -> Column:
    """Fraction of document characters covered by the single most frequent
    word ``n``-gram: ``count(top gram) * chars(top gram) / length(text)``
    (Gopher's `top_n_gram_character_fraction`; ties resolve to the larger
    character product, which is what the threshold consumes).

    Shuffle-free by construction: the shingle array is sorted and the
    maximal run is found with a run-length scan over adjacent elements —
    the usual explode → groupBy mode plan would shuffle every n-gram of
    every document; this touches only the row. Docs shorter than ``n``
    words degenerate to one whole-text shingle (frac ≈ gram/total chars).
    """
    c = col_or_lit(text)

    def over_runs(s: Column, bounds: Column) -> Column:
        # per-run char mass: (run length) × (chars in the gram)
        return F.array_max(
            F.transform(
                F.sequence(F.lit(1), F.size(bounds) - 1),
                lambda j: (F.element_at(bounds, j + 1) - F.element_at(bounds, j))
                * F.length(F.element_at(s, F.element_at(bounds, j))),
            )
        )

    def over_sorted(s: Column) -> Column:
        sz = F.size(s)
        # 1-based start positions of each run of equal adjacent shingles;
        # when() (not |) so index 0 is never touched under ANSI mode
        starts = F.filter(
            F.sequence(F.lit(1), sz),
            lambda i: F.when(i == F.lit(1), F.lit(True)).otherwise(
                F.element_at(s, i) != F.element_at(s, i - 1)
            ),
        )
        return _bind(F.concat(starts, F.array(sz + 1)), lambda b: over_runs(s, b))

    top_chars = _bind(F.array_sort(shingles(c, n)), over_sorted)
    return F.when(
        F.length(c) > 0, top_chars.cast("double") / F.length(c).cast("double")
    ).otherwise(F.lit(0.0))


def mean_word_length(text) -> Column:
    """Mean characters per whitespace token (0.0 for empty docs)."""
    t = tokens(text)
    return F.when(
        F.size(t) > 0, _sum_lengths(t).cast("double") / F.size(t).cast("double")
    ).otherwise(F.lit(0.0))


def alpha_word_frac(text) -> Column:
    """Fraction of words containing at least one alphabetic character
    (Gopher requires ≥ 0.8)."""
    t = tokens(text)
    hits = F.size(F.filter(t, lambda w: w.rlike("[a-zA-Z]")))
    return F.when(
        F.size(t) > 0, hits.cast("double") / F.size(t).cast("double")
    ).otherwise(F.lit(0.0))


def bullet_line_frac(text) -> Column:
    """Fraction of lines starting with a bullet glyph (Gopher drops docs
    where > 90% of lines are bullets)."""
    ls = lines(text)
    hits = F.size(F.filter(ls, lambda x: F.trim(x).rlike("^[-*•]")))
    return F.when(
        F.size(ls) > 0, hits.cast("double") / F.size(ls).cast("double")
    ).otherwise(F.lit(0.0))


def ellipsis_line_frac(text) -> Column:
    """Fraction of lines ending in an ellipsis (Gopher drops docs where
    > 30% of lines end mid-thought)."""
    ls = lines(text)
    hits = F.size(F.filter(ls, lambda x: F.rtrim(x).rlike("(\\.\\.\\.|…)$")))
    return F.when(
        F.size(ls) > 0, hits.cast("double") / F.size(ls).cast("double")
    ).otherwise(F.lit(0.0))


def gopher_filter(
    text,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    max_top2gram_char_frac: float = 0.2,
    stop_lang: str = "en",
) -> Column:
    """Boolean keep/drop mask combining the Gopher quality rules (Rae et
    al. 2021, table A1) — word-count band, mean word length band, alphabetic
    word fraction, minimum distinct stopword evidence, duplicate-line cap,
    and top-2-gram repetition cap. Thresholds are the published defaults;
    every one is a keyword so pipelines tune them per corpus. Pure SQL —
    composes into a single codegen'd projection with the signal columns."""
    c = col_or_lit(text)
    t = tokens(c)
    n_words = F.size(t)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS[stop_lang]])
    stop_hits = F.size(F.array_intersect(F.array_distinct(t), stop_arr))
    return (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_length(c) >= min_mean_word_len)
        & (mean_word_length(c) <= max_mean_word_len)
        & (alpha_word_frac(c) >= min_alpha_word_frac)
        & (stop_hits >= min_stopword_hits)
        & (dup_line_frac(c) <= max_dup_line_frac)
        & (top_ngram_char_frac(c, 2) <= max_top2gram_char_frac)
    )


# PII patterns restricted to the Java-regex ∩ RE2 subset (no lookaround, no
# backreferences) so the same semantics are expressible in the DuckDB oracle.
# Order matters: emails before phones (an email's digit run must not be
# half-eaten by the phone pattern), IPs before phones (dotted quads contain
# phone-length digit runs).
_PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b(?:\+\d{1,3}[ -]?)?(?:\(\d{2,4}\)[ -]?)?\d{3}[ -]\d{3,4}[ -]?\d{0,4}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def pii_scrub(text) -> Column:
    """Replace emails, IPv4 addresses, phone-shaped digit runs, and
    SSN-shaped triples with typed placeholder tokens. One chained
    ``regexp_replace`` projection (codegen; replace-all is Spark's default).
    The patterns are deliberately conservative, high-precision shapes — the
    standard scrubbing pass before tokenization, not a compliance tool."""
    c = col_or_lit(text)
    for pat, repl in _PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """All per-document hygiene signals in one codegen'd projection:
    (id, n_lines, dup_line_frac, dup_line_char_frac, top2gram_char_frac,
    top3gram_char_frac, mean_word_len, alpha_word_frac, gopher_keep)."""
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.size(lines(c)).alias("n_lines"),
        dup_line_frac(c).alias("dup_line_frac"),
        dup_line_char_frac(c).alias("dup_line_char_frac"),
        top_ngram_char_frac(c, 2).alias("top2gram_char_frac"),
        top_ngram_char_frac(c, 3).alias("top3gram_char_frac"),
        mean_word_length(c).alias("mean_word_len"),
        alpha_word_frac(c).alias("alpha_word_frac"),
        gopher_filter(c).alias("gopher_keep"),
    )


# --------------------------------------------------------------------------
# corpus-level operators (single uniform-key shuffle each)
# --------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """C4-style corpus-level line deduplication: any line occurring
    ``min_count``-or-more times ACROSS the corpus is kept only at its first
    occurrence (ordered by (id, line index)) and removed everywhere else;
    documents are reassembled in original line order. Returns the input
    columns with ``text_col`` rewritten (docs whose every line was removed
    keep an empty string so no rows vanish). Blank lines are dropped during
    reassembly — they are separators, not content, and dedup-ing them would
    absurdly keep only the corpus's "first" blank line.

    Scale shape: one shuffle partitioned by line md5 (uniform — no skew even
    when one line dominates the corpus, because the hash key carries the
    line, and the window only ranks within one hash), then one groupBy on
    the doc id to reassemble. No joins against the full corpus text; the
    non-text columns ride along via a join on the (unique) doc id.
    """
    from pyspark.sql.window import Window

    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_idx", "_line"),
    ).where(F.trim(F.col("_line")) != "")
    h = F.md5(F.col("_line"))
    w = Window.partitionBy(h)
    w_rank = w.orderBy(F.col("_id").asc(), F.col("_idx").asc())
    kept = (
        exploded.withColumn("_cnt", F.count("*").over(w))
        .withColumn("_rn", F.row_number().over(w_rank))
        .where((F.col("_cnt") < min_count) | (F.col("_rn") == 1))
    )
    rebuilt = kept.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias("_clean")
    )
    out = df.join(rebuilt, df[id_col] == rebuilt["_id"], "left")
    replaced = [
        F.coalesce(F.col("_clean"), F.lit("")).alias(text_col)
        if name == text_col
        else df[name]
        for name in df.columns
    ]
    return out.select(*replaced)


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    benchmark_text_col: str = "text",
    mode: str = "filter",
    broadcast: bool = True,
    bloom_fpp: float | None = None,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 §C): a training document is
    *contaminated* when it shares any word ``n``-gram with any benchmark
    document. ``mode="filter"`` (default) returns the clean rows;
    ``mode="tag"`` returns every row plus a boolean ``contaminated``
    column (for audit counts before committing to a drop).

    Scale shape: both sides reduce to DISTINCT n-gram sets; the benchmark
    side (eval suites — tiny vs a 100 TB corpus) is broadcast by default so
    the contamination check is a map-side semi-join with NO shuffle of the
    corpus. Set ``broadcast=False`` for a giant blocklist: the check becomes
    a shuffled semi-join on the n-gram string (uniform key). Only doc ids
    and n-grams move — never document text.

    ``bloom_fpp`` (with ``broadcast=True``) inserts a Bloom prescreen for
    the large-blocklist case: the benchmark n-gram set is folded into a
    Bloom filter (one aggregation over the benchmark side; a few MB even
    for 10⁸ n-grams vs gigabytes for the literal set), the corpus is
    filtered map-side against the broadcast filter, and ONLY the
    prescreen survivors (true hits + ~fpp false positives) reach the exact
    semi-join — so the result is still EXACT, but the shuffled/joined
    volume drops from every doc n-gram to roughly the contaminated ones.
    """
    if mode not in ("filter", "tag"):
        raise ValueError(f"mode must be 'filter' or 'tag', got {mode!r}")
    doc_grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("_g"),
    )
    bench_grams = benchmark.select(
        F.explode(F.array_distinct(shingles(F.col(benchmark_text_col), n))).alias("_g")
    ).distinct()
    if bloom_fpp is not None:
        doc_grams = _bloom_prescreen(doc_grams, bench_grams, bloom_fpp)
    if broadcast:
        bench_grams = F.broadcast(bench_grams)
    dirty_ids = doc_grams.join(bench_grams, on="_g", how="left_semi").select("_id").distinct()
    if mode == "filter":
        return df.join(dirty_ids, df[id_col] == dirty_ids["_id"], "left_anti")
    tagged = df.join(
        dirty_ids.withColumn("_dirty", F.lit(True)),
        df[id_col] == dirty_ids["_id"],
        "left",
    )
    return tagged.select(*[df[c] for c in df.columns],
                         F.coalesce(F.col("_dirty"), F.lit(False)).alias("contaminated"))


def _bloom_prescreen(doc_grams: DataFrame, bench_grams: DataFrame, fpp: float) -> DataFrame:
    """Filter (id, n-gram) rows to those whose n-gram MIGHT be in the
    benchmark set, exactly-vectorized end to end:

    - bit positions are ``pmod(xxhash64(i, gram), m)`` computed JVM-side
      (whole-stage codegen) on BOTH sides — no string hashing in Python;
    - the build side folds its positions into per-partition numpy bitmaps
      (mapInArrow) which the driver ORs into one m-bit array (driver
      memory m/8 bytes — ~12 MB per 10⁷ benchmark n-grams at 1% fpp);
    - the probe side tests k positions per n-gram with one broadcast
      numpy gather per Arrow batch.

    False positives pass through (the exact semi-join after catches
    them); false negatives are impossible, so exactness holds. Standard
    Bloom sizing: m = -n·ln(fpp)/ln²2, k = m/n·ln2 (public formula).
    """
    if not 0.0 < fpp < 1.0:
        raise ValueError(f"bloom_fpp must be in (0, 1), got {fpp!r}")
    import math

    import numpy as np
    import pyarrow as pa

    n_items = max(1024, bench_grams.count())
    m = int(math.ceil(-n_items * math.log(fpp) / (math.log(2.0) ** 2)))
    m = max(8, (m + 7) // 8 * 8)
    k = max(1, round(m / n_items * math.log(2.0)))

    def positions(g: Column) -> Column:
        return F.array(*[F.pmod(F.xxhash64(F.lit(i), g), F.lit(m)) for i in range(k)])

    nbytes = m // 8

    def build(batches):
        bits = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for rb in batches:
            if not rb.num_rows:
                continue
            any_rows = True
            pos = rb.column(0).flatten().to_numpy().astype(np.int64)
            np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if any_rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array([bits.tobytes()], type=pa.binary())], names=["bm"])

    partials = (
        bench_grams.select(positions(F.col("_g")).alias("_pos"))
        .mapInArrow(build, "bm binary")
    )
    bitmap = np.zeros(nbytes, dtype=np.uint8)
    for row in partials.toLocalIterator():
        bitmap |= np.frombuffer(row["bm"], dtype=np.uint8)
    bc = doc_grams.sparkSession.sparkContext.broadcast(bitmap)

    from pyspark.sql.functions import arrow_udf

    @arrow_udf(spark_dt("boolean"))
    def might(pos_a):
        bm = bc.value
        # k positions per row, read straight off the list's value buffer
        pos = pos_a.flatten().to_numpy().astype(np.int64).reshape(len(pos_a), k)
        hit = (bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return pa.array(hit.all(axis=1), type=pa.bool_())

    return (
        doc_grams.withColumn("_pos", positions(F.col("_g")))
        .where(might(F.col("_pos")))
        .drop("_pos")
    )
