"""Retrieval / corpus-indexing operators for training-data pipelines.

The reference engine (Frames-map-reduce) stops at generic map/reduce
folds; these are the corpus-scale extensions a training-data pipeline
needs on top (chunking for context windows, relevance scoring, and
benchmark-contamination auditing).  Everything here is expressed with
native Column expressions — JVM-side, whole-stage-codegen, no Python in
the per-row path — and each operator ships a DuckDB-SQL twin generated
from the same constants so the differential oracle cannot drift.

Scale notes (100 TB):
- ``chunk_by_tokens`` is a pure narrow flatMap (sequence → explode →
  slice): no shuffle, parallelism = input splits.
- ``bm25_scores`` shuffles once on (doc, term) for tf — but only rows
  containing a query term survive the pre-shuffle filter, so shuffle
  volume is O(matching postings), not O(corpus).  Per-term document
  frequencies and the corpus-wide (N, avgdl) scalars are tiny aggregates
  broadcast back; top-k is TakeOrderedAndProject (distributed partial
  top-k, no global sort).
- ``ngram_contamination`` broadcasts the *eval-side* distinct n-gram set
  (eval benchmarks are small by construction); the training corpus is
  scanned once, map-side joined against the broadcast set, and reduced
  per document.  No corpus self-join anywhere.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as TX
from ..mapreduce import require_columns

__all__ = [
    "chunk_by_tokens", "chunk_starts_sql", "chunk_by_tokens_sql_select",
    "bm25_scores", "bm25_sql",
    "ngram_contamination", "ngram_contamination_sql",
    "build_contamination_index", "extend_contamination_index",
    "probe_contamination_index", "contamination_index_stats",
]


# ---------------------------------------------------------------------------
# Overlapping token chunking (context-window / RAG preparation)
# ---------------------------------------------------------------------------

def _chunk_starts(toks: Column, size: int, stride: int) -> Column:
    """1-based start offsets of overlapping windows: 1, 1+stride, …,
    stopping after the first window that reaches the end of the token
    array (standard sliding-window splitter semantics — a start is kept
    iff it is the first, or the previous window did NOT already cover
    the last token)."""
    n = F.size(toks)
    return F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride)),
        lambda s: (s == F.lit(1)) | (s - F.lit(stride) + F.lit(size - 1) < n))


def chunk_by_tokens(df: DataFrame, text_col: str, id_col: str,
                    size: int = 64, stride: int = 48) -> DataFrame:
    """Split each document into overlapping windows of ``size``
    whitespace tokens advancing by ``stride`` (the last chunk may be
    shorter; every token is covered exactly by construction).

    Output: (id_col, start_tok, n_tokens, chunk_md5) — one row per
    chunk, identified by its 1-based token offset.  The chunk text
    itself is hashed rather than returned so the operator's output
    stays narrow at corpus scale; callers wanting the text can re-slice.

    Narrow plan: tokenize → sequence → explode → slice, all codegen.
    """
    if not (0 < stride <= size):
        raise ValueError("need 0 < stride <= size")
    require_columns(df, [text_col, id_col])
    toks = TX.tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks"))
    chunk = F.slice(F.col("_toks"), F.col("start_tok"), size)
    return (base
            .select(id_col, "_toks",
                    F.explode(_chunk_starts(F.col("_toks"), size, stride))
                     .alias("start_tok"))
            .select(F.col(id_col),
                    F.col("start_tok").cast("long").alias("start_tok"),
                    F.size(chunk).cast("long").alias("n_tokens"),
                    F.md5(F.encode(F.concat_ws(" ", chunk), "UTF-8"))
                     .alias("chunk_md5")))


def chunk_starts_sql(toks: str, size: int, stride: int) -> str:
    """DuckDB twin of ``_chunk_starts`` (range upper bound is exclusive,
    hence the +1)."""
    n = f"len({toks})"
    return (f"list_filter(range(1, greatest({n}, 1) + 1, {stride}), "
            f"s -> s = 1 OR s - {stride} + {size - 1} < {n})")


def chunk_by_tokens_sql_select(table: str, text_col: str, id_col: str,
                               size: int = 64, stride: int = 48) -> str:
    """Full DuckDB SELECT twin of ``chunk_by_tokens``."""
    toks = TX.tokens_sql(text_col)
    sl = f"_toks[start_tok:start_tok+{size - 1}]"
    return f"""
        SELECT {id_col},
               CAST(start_tok AS BIGINT) AS start_tok,
               CAST(len({sl}) AS BIGINT) AS n_tokens,
               md5(array_to_string({sl}, ' ')) AS chunk_md5
        FROM (SELECT {id_col}, _toks,
                     unnest({chunk_starts_sql('_toks', size, stride)}) AS start_tok
              FROM (SELECT {id_col}, {toks} AS _toks FROM {table}))"""


# ---------------------------------------------------------------------------
# Okapi BM25 relevance scoring
# ---------------------------------------------------------------------------

def bm25_scores(df: DataFrame, text_col: str, id_col: str,
                terms: Sequence[str], k1: float = 1.2, b: float = 0.75,
                k: int = 15) -> DataFrame:
    """Top-``k`` documents by Okapi BM25 score for a bag of query
    ``terms``:  score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Plan: one explode with the term filter applied BEFORE the shuffle
    (only matching postings move), one (doc, term) groupBy carrying dl
    in the key (functionally dependent on doc — avoids a re-join with
    the corpus), then two broadcast joins against the tiny df-per-term
    and (N, avgdl) aggregates.  Scores are rounded to 6 dp *before*
    ranking, with id tiebreak, so the cut is engine-stable.

    The tf subtree feeds both the join and the df aggregation; AQE's
    ReuseExchange dedupes it at runtime (verified: executed plan shows
    ``ReusedExchange`` on the tf shuffle), so total input scans = 2 —
    the postings pass plus the corpus-stats pass, i.e. the canonical
    two-pass BM25 index build.  df-per-term is a 2-phase partial
    aggregate and stays parallel however skewed the term distribution
    (no per-term window).
    """
    require_columns(df, [text_col, id_col])
    terms = [t.lower() for t in terms]
    toks = TX.tokens(F.col(text_col))
    docs = df.select(F.col(id_col),
                     toks.alias("_toks")).withColumn("dl", F.size("_toks"))

    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs"),
                      F.avg("dl").alias("avgdl"))
    tf = (docs.select(id_col, "dl", F.explode("_toks").alias("term"))
              .filter(F.col("term").isin(list(terms)))
              .groupBy(id_col, "dl", "term")
              .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (tf.join(F.broadcast(dfreq), "term")
                .join(F.broadcast(corpus))
                .withColumn("idf", F.log(F.lit(1.0)
                            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                              / (F.col("df") + F.lit(0.5))))
                .withColumn("w", F.col("idf") * F.col("tf") * F.lit(k1 + 1.0)
                            / (F.col("tf") + F.lit(k1)
                               * (F.lit(1.0 - b)
                                  + F.lit(b) * F.col("dl") / F.col("avgdl"))))
                .groupBy(id_col)
                .agg(F.round(F.sum("w"), 6).alias("bm25")))
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


def bm25_sql(table: str, text_col: str, id_col: str,
             terms: Sequence[str], k1: float = 1.2, b: float = 0.75,
             k: int = 15) -> str:
    """DuckDB twin of ``bm25_scores`` (same constants, same rounding)."""
    terms = [t.lower() for t in terms]
    toks = TX.tokens_sql(text_col)
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH docs AS (SELECT {id_col}, {toks} AS _toks FROM {table}),
        dld AS (SELECT {id_col}, len(_toks) AS dl, _toks FROM docs),
        corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dld),
        tf AS (SELECT {id_col}, dl, term, count(*) AS tf
               FROM (SELECT {id_col}, dl, unnest(_toks) AS term FROM dld)
               WHERE term IN ({in_list})
               GROUP BY {id_col}, dl, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        SELECT {id_col}, round(sum(
                 ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * {k1 + 1.0}
                 / (tf + {k1} * ({1.0 - b} + {b} * dl / avgdl))), 6) AS bm25
        FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
        GROUP BY {id_col}
        ORDER BY bm25 DESC, {id_col}
        LIMIT {k}"""


# ---------------------------------------------------------------------------
# Benchmark-contamination audit (train ∩ eval n-gram overlap)
# ---------------------------------------------------------------------------

def ngram_contamination(train: DataFrame, eval_df: DataFrame,
                        text_col: str, id_col: str, n: int = 5) -> DataFrame:
    """For every training document sharing at least one word ``n``-gram
    with the eval set: (id, n_grams, n_hit, hit_frac) where ``n_grams``
    is the document's distinct n-gram count and ``n_hit`` how many of
    those occur anywhere in the eval corpus.

    The distinct eval n-gram set is aggregated first and broadcast
    (eval benchmarks are ≪ the training corpus); the train side is one
    scan → explode(distinct n-grams) → broadcast-hash semi-count →
    per-doc reduce.  No corpus self-join, no shuffle of the train side
    beyond the per-doc groupBy.
    """
    require_columns(train, [text_col, id_col])
    require_columns(eval_df, [text_col])
    grams = lambda c: F.array_distinct(TX.word_ngrams(c, n))  # noqa: E731

    # explode_outer, NOT explode: Catalyst's InferFiltersFromGenerate
    # adds ``size(arr) > 0 AND isnotnull(arr)`` below a non-outer
    # Generate, and predicate pushdown then re-inlines the n-gram
    # zip_with chain — the most expensive expression in the query —
    # into that Filter, evaluating it TWICE per row (the rule skips
    # outer generates).  The ``g IS NOT NULL`` post-filter restores
    # the exact explode semantics: gram arrays cannot contain null
    # elements (concat_ws never yields NULL), so the only null rows
    # are the empty/null-array docs explode would have dropped.
    eval_g = (eval_df.select(
                  F.explode_outer(grams(F.col(text_col))).alias("g"))
                     .where(F.col("g").isNotNull())
                     .distinct()
                     .withColumn("_hit", F.lit(1)))
    tg = (train.select(F.col(id_col), grams(F.col(text_col)).alias("_gs"))
               .withColumn("n_grams", F.size("_gs").cast("long"))
               .select(id_col, "n_grams", F.explode_outer("_gs").alias("g"))
               .where(F.col("g").isNotNull()))
    return (tg.join(F.broadcast(eval_g), "g", "left")
              .groupBy(id_col, "n_grams")
              .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                    .cast("long").alias("n_hit"))
              .filter(F.col("n_hit") > 0)
              .withColumn("hit_frac",
                          F.round(F.try_divide(F.col("n_hit"),
                                               F.col("n_grams")), 6)))


def ngram_contamination_sql(train_sel: str, eval_sel: str,
                            text_col: str, id_col: str, n: int = 5) -> str:
    """DuckDB twin of ``ngram_contamination``.  ``train_sel`` /
    ``eval_sel`` are full SELECTs producing (id_col, text_col) /
    (text_col,) respectively."""
    g = f"list_distinct({TX.word_ngrams_sql(text_col, n)})"
    return f"""
        WITH eg AS (SELECT DISTINCT unnest({g}) AS g
                    FROM ({eval_sel})),
        tg AS (SELECT {id_col}, CAST(len({g}) AS BIGINT) AS n_grams,
                      unnest({g}) AS g
               FROM ({train_sel}))
        SELECT {id_col}, n_grams,
               CAST(count(eg.g) AS BIGINT) AS n_hit,
               round(CAST(count(eg.g) AS DOUBLE) / n_grams, 6) AS hit_frac
        FROM tg LEFT JOIN eg USING (g)
        GROUP BY {id_col}, n_grams
        HAVING count(eg.g) > 0"""


# ---------------------------------------------------------------------------
# Persisted contamination firewall (build -> extend -> probe lifecycle)
# ---------------------------------------------------------------------------
# :func:`ngram_contamination` re-derives the eval n-gram set on every
# audit.  In deployment the benchmark suite is FIXED and the training
# corpus arrives in batches, so the right shape is the firewall
# lifecycle the Bloom/MinHash/IVF indexes already follow: pay the eval
# side ONCE, persist it, screen every incoming batch at probe-only
# cost, and append newly-adopted benchmarks without rebuilding.
# Membership is by the RAW n-gram string (no hashing) — the index is
# benchmark-sized (≪ corpus), so exactness costs nothing and the probe
# result is bit-identical to the recompute-from-scratch audit.

def build_contamination_index(eval_df: DataFrame, table: str,
                              text_col: str, n: int = 5,
                              n_buckets: int = 16) -> None:
    """Train-once half of the benchmark-decontamination firewall
    (GPT-3 Appendix C / PaLM-style n-gram collision screening): derive
    the eval corpus's DISTINCT word ``n``-grams once and persist them
    as the bucketed table ``{table}_grams`` (one column ``g``,
    bucketed+sorted by ``g``).

    One scan + one distinct shuffle over the (small) eval corpus; the
    training corpus is never touched.  ``n`` is the index's spec
    parameter: the build stamps it on the table, and extend/probe check
    theirs against the stamp (an index probed at another ``n`` would
    flag nothing)."""
    from frames_map_reduce_spark.sources import write_bucketed

    require_columns(eval_df, [text_col])
    if n < 1:
        raise ValueError("build_contamination_index needs n >= 1")
    # explode_outer + isnotnull: see ngram_contamination — avoids the
    # InferFiltersFromGenerate double evaluation of the n-gram chain.
    grams = (eval_df
             .select(F.explode_outer(F.array_distinct(
                 TX.word_ngrams(F.col(text_col), n))).alias("g"))
             .where(F.col("g").isNotNull())
             .distinct())
    write_bucketed(grams, f"{table}_grams", ["g"], n_buckets,
                   _contamination_spec(n))


def extend_contamination_index(eval_delta: DataFrame, table: str,
                               text_col: str, n: int = 5) -> None:
    """Append a newly-adopted benchmark's n-grams to a persisted
    contamination index — paying only the delta's distinct pass, never
    reading or rewriting the existing index.

    The append may duplicate grams already present (delta-local
    distinct only — deduplicating against the index would read it,
    defeating the extend contract).  Probes are immune:
    :func:`probe_contamination_index` joins ``left_semi``, which tests
    membership, not multiplicity, so ``build(A); extend(B)`` probes
    bit-identically to ``build(A ∪ B)`` (law pinned in
    tests/test_retrieval.py).  ``n`` is checked against the build's
    stamp."""
    from frames_map_reduce_spark.sources import append_bucketed, require_spec

    require_columns(eval_delta, [text_col])
    if n < 1:
        raise ValueError("extend_contamination_index needs n >= 1")
    require_spec(eval_delta.sparkSession, f"{table}_grams",
                 _contamination_spec(n))
    # explode_outer + isnotnull: see ngram_contamination — avoids the
    # InferFiltersFromGenerate double evaluation of the n-gram chain.
    grams = (eval_delta
             .select(F.explode_outer(F.array_distinct(
                 TX.word_ngrams(F.col(text_col), n))).alias("g"))
             .where(F.col("g").isNotNull())
             .distinct())
    append_bucketed(grams, f"{table}_grams")


def probe_contamination_index(spark, table: str, incoming: DataFrame,
                              text_col: str, id_col: str,
                              n: int = 5) -> DataFrame:
    """Query-many half: screen an incoming training batch against a
    persisted contamination index.  Returns one row per CONTAMINATED
    incoming document — ``(id_col, n_grams, n_hit, hit_frac)``, the
    exact schema and values of :func:`ngram_contamination` run against
    the full eval corpus the index accumulated.

    Plan: the incoming batch is scanned once (distinct n-grams per doc,
    exploded); the index — benchmark-sized by construction — is
    broadcast, and the membership test is a ``left_semi`` hash join
    (multiplicity-blind, so extend-appended duplicate grams cannot
    double-count).  The only shuffle of the incoming side is the
    per-doc reduce.  Zero index-side exchanges, no corpus self-join.
    ``n`` is checked against the build's stamp."""
    from frames_map_reduce_spark.sources import require_spec

    require_columns(incoming, [text_col, id_col])
    require_spec(spark, f"{table}_grams", _contamination_spec(n))
    idx = spark.table(f"{table}_grams")
    # explode_outer + isnotnull: see ngram_contamination — avoids the
    # InferFiltersFromGenerate double evaluation of the n-gram chain.
    tg = (incoming
          .select(F.col(id_col),
                  F.array_distinct(TX.word_ngrams(F.col(text_col), n))
                   .alias("_gs"))
          .withColumn("n_grams", F.size("_gs").cast("long"))
          .select(id_col, "n_grams", F.explode_outer("_gs").alias("g"))
          .where(F.col("g").isNotNull()))
    return (tg.join(F.broadcast(idx), "g", "left_semi")
              .groupBy(id_col, "n_grams")
              .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
              .withColumn("hit_frac",
                          F.round(F.try_divide(F.col("n_hit"),
                                               F.col("n_grams")), 6)))


def _contamination_spec(n: int) -> dict[str, str]:
    from frames_map_reduce_spark.sources import index_spec
    return index_spec("contamination", n=n)


def contamination_index_stats(spark, table: str) -> DataFrame:
    """Lifecycle monitor: one row — total persisted gram rows vs
    distinct grams (the gap is extend-appended duplicates; a large gap
    means a rebuild via :func:`build_contamination_index` over the full
    benchmark suite would shrink the broadcast).  One aggregation over
    the skinny index table, nothing driver-side."""
    idx = spark.table(f"{table}_grams")
    return idx.agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                   F.countDistinct("g").alias("n_distinct"))
