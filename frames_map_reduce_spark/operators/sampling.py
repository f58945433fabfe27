"""Deterministic sampling and dataset-split operators for training-data
pipelines.

A 100 TB corpus cannot be split with ``rand()``: re-runs must land every
document in the same split (resumable pipelines, leak-free eval sets),
adding data must not reshuffle old assignments, and the split must be
reproducible from the row alone — no persisted assignment table, no
driver state.  Everything here therefore keys off a salted MD5 of a
stable business key:

    unit(row) = int(first 8 hex chars of md5(salt || '|' || key)) / 2^32

which is uniform on [0, 1), independent across salts, identical in any
engine with md5 (the DuckDB twins below generate the oracle side from
the same spec, functions/text.py-style, so the two can't drift).

Scale notes:

- ``hash_split`` / ``weighted_mixture`` are pure map-side projections /
  filters — no shuffle, no state, they scale linearly and survive any
  repartitioning.  Thresholds are *integer* literals (floor(w · 2^32))
  so there is no float-boundary ambiguity between engines.
- ``stratified_sample`` (exact n per stratum) rides the native window
  top-k (operators/topk.py): one shuffle on the strata key, rank by
  hash.  Exact-n is inherently a per-stratum ordering; for rate-based
  sampling at scale prefer ``weighted_mixture`` (shuffle-free).

The reference library has no sampling surface (it is a fold engine);
this module is part of the mandated LLM-pipeline extension set.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from frames_map_reduce_spark.schema import require_columns

__all__ = [
    "hash_unit", "hash_unit_sql", "hash_split", "hash_split_sql_case",
    "stratified_sample", "weighted_mixture", "weighted_mixture_sql_pred",
    "weighted_sample", "weighted_sample_sql", "es_priority_sql",
    "temperature_mixture", "temperature_mixture_sql",
    "dsir_resample", "dsir_priority", "dsir_priority_sql",
    "token_budget_sample", "token_budget_sample_sql",
]

_SCALE = 1 << 32  # 8 hex chars


def hash_unit(col: Column, salt: str = "") -> Column:
    """Deterministic uniform 32-bit integer in [0, 2^32) derived from
    ``col`` (cast to string) and ``salt``.  JVM-side: md5 + conv, no
    Python."""
    payload = F.concat(F.lit(salt), F.lit("|"), col.cast("string"))
    hexpart = F.substring(F.md5(F.encode(payload, "UTF-8")), 1, 8)
    return F.conv(hexpart, 16, 10).cast("long")


def hash_unit_sql(col: str, salt: str = "") -> str:
    """DuckDB twin of ``hash_unit`` (generated, not hand-kept)."""
    payload = f"concat('{salt}', '|', CAST({col} AS VARCHAR))"
    return f"CAST(concat('0x', substr(md5({payload}), 1, 8)) AS BIGINT)"


def _cut_points(weights: Mapping[str, float]) -> list[tuple[str, int]]:
    """(split-name, exclusive upper bound) pairs on the integer hash
    scale; bounds are exact integers so every engine draws the same
    boundary."""
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("split weights must sum to a positive value")
    cuts, acc = [], 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cuts.append((name, int(acc * _SCALE)))
    cuts.append((names[-1], _SCALE))  # last bucket absorbs rounding
    return cuts


def hash_split(df: DataFrame, key_col: str,
               weights: Mapping[str, float], salt: str = "",
               split_col: str = "split") -> DataFrame:
    """Assign every row to a named split (e.g. train/val/test) by
    deterministic hash of ``key_col``.  Map-side only: no shuffle, no
    rand(), stable under re-runs and data growth.  ``weights`` are
    relative (normalized); dict order fixes bucket layout."""
    require_columns(df, [key_col])
    h = hash_unit(F.col(key_col), salt)
    expr = None
    for name, bound in _cut_points(weights):
        cond = h < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    return df.withColumn(split_col, expr)


def hash_split_sql_case(key_col: str, weights: Mapping[str, float],
                        salt: str = "") -> str:
    """DuckDB CASE expression twin of ``hash_split``."""
    h = hash_unit_sql(key_col, salt)
    arms = " ".join(
        f"WHEN {h} < {bound} THEN '{name}'"
        for name, bound in _cut_points(weights))
    return f"CASE {arms} END"


def stratified_sample(df: DataFrame, strata_cols: Sequence[str], n: int,
                      key_col: str, salt: str = "",
                      rank_col: str | None = None) -> DataFrame:
    """Exactly ``n`` rows per stratum, chosen deterministically: the n
    smallest salted hashes of ``key_col`` within each stratum (hash
    order ≈ uniform random order, but reproducible).  One shuffle on
    the strata key via the native JVM window top-k."""
    from frames_map_reduce_spark.operators.topk import top_k_per_group
    require_columns(df, [*strata_cols, key_col])
    tagged = df.withColumn("_h", hash_unit(F.col(key_col), salt))
    out = top_k_per_group(
        tagged, list(strata_cols),
        [F.col("_h"), F.col(key_col)],  # hash first, key breaks ties
        n, rank_col=rank_col)
    return out.drop("_h")


def weighted_mixture(df: DataFrame, source_col: str,
                     rates: Mapping[str, float], key_col: str,
                     salt: str = "", default_rate: float = 0.0) -> DataFrame:
    """Re-weight a mixed corpus by subsampling each source at its own
    rate (0 ≤ rate ≤ 1) — the standard way to hit a target training
    mixture.  Pure map-side filter; sources missing from ``rates`` get
    ``default_rate``.  Rates > 1 (upsampling) are out of scope: at
    training scale repetition is done by the data loader, not by
    materializing duplicate rows."""
    require_columns(df, [source_col, key_col])
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    h = hash_unit(F.col(key_col), salt)
    bound = None
    for s, r in rates.items():
        cond = F.col(source_col) == F.lit(s)
        b = F.lit(int(r * _SCALE))
        bound = F.when(cond, b) if bound is None else bound.when(cond, b)
    bound = F.lit(int(default_rate * _SCALE)) if bound is None \
        else bound.otherwise(F.lit(int(default_rate * _SCALE)))
    return df.filter(h < bound)


def weighted_mixture_sql_pred(source_col: str, rates: Mapping[str, float],
                              key_col: str, salt: str = "",
                              default_rate: float = 0.0) -> str:
    """DuckDB WHERE-clause twin of ``weighted_mixture``."""
    h = hash_unit_sql(key_col, salt)
    arms = " ".join(
        f"WHEN {source_col} = '{s}' THEN {int(r * _SCALE)}"
        for s, r in rates.items())
    return f"{h} < (CASE {arms} ELSE {int(default_rate * _SCALE)} END)"


def _es_priority(key_col: str, weight_col: str, salt: str) -> Column:
    """Efraimidis–Spirakis exponential race variate: E = -ln(u) / w with
    u the deterministic salted uniform.  u = (h + 0.5) / 2^32 keeps u in
    (0, 1) exactly (h + 0.5 and the power-of-two division are both exact
    in double), so ln never sees 0."""
    u = (hash_unit(F.col(key_col), salt) + F.lit(0.5)) / F.lit(float(_SCALE))
    return -F.log(u) / F.col(weight_col).cast("double")


def weighted_sample(df: DataFrame, n: int, weight_col: str, key_col: str,
                    salt: str = "", priority_col: str | None = None,
                    assert_unique: bool = False) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: ``n`` rows
    with inclusion driven by ``weight_col`` (w_i / Σw odds, the
    Efraimidis–Spirakis A-ES scheme) — quality- or length-weighted corpus
    selection that re-runs to the same subset.

    Each row gets an exponential race variate ``-ln(u)/w`` with ``u``
    the salted md5 uniform of ``key_col`` (same spec as every sampler
    here: reproducible from the row alone, change the salt to redraw);
    the sample is the ``n`` smallest.  Rows with weight ≤ 0 or NULL are
    excluded (they have no mass).

    Scale: the global "n smallest" lowers to TakeOrderedAndProject —
    per-partition partial top-n, merge of ≤ partitions×n rows — NOT a
    global sort.  Keep ``n`` driver-sized (it is a sample); for
    rate-based selection at corpus scale use ``weighted_mixture``.

    Contract shared with every sampler in this module: ``key_col`` must
    be unique per row — duplicate keys draw one correlated uniform, and
    equal-priority ties at the cutoff would make the selected PAYLOAD
    partition-order-dependent.  The contract is silent by default (a
    pre-pass over the corpus costs a scan); pass ``assert_unique=True``
    to pay one count-vs-count-distinct aggregate and fail loudly on a
    violation.  Cross-engine oracle parity rides on the float variate
    agreeing between JVM ``log`` and DuckDB ``ln`` — a per-row
    disagreement needs two priorities within ~1 ulp of each other at the
    cutoff boundary, the same (accepted) risk class as the suite-wide
    ``round(x, 6)`` hashing convention.
    """
    require_columns(df, [weight_col, key_col])
    if n <= 0:
        raise ValueError(f"sample size must be positive, got {n}")
    if assert_unique:
        r = df.agg(F.count(key_col).alias("n"),
                   F.count_distinct(F.col(key_col)).alias("d")).first()
        if r["n"] != r["d"]:
            raise ValueError(
                f"key_col {key_col!r} is not unique ({r['n'] - r['d']} "
                f"duplicate rows): duplicate keys draw one correlated "
                f"uniform, biasing the sample — deduplicate or choose a "
                f"unique key")
    pri = _es_priority(key_col, weight_col, salt)
    out = (df.filter(F.col(weight_col).isNotNull()
                     & (F.col(weight_col) > 0))
             .withColumn("_pri", pri)
             .orderBy(F.col("_pri"), F.col(key_col))
             .limit(n))
    if priority_col is None:
        return out.drop("_pri")
    return out.withColumnRenamed("_pri", priority_col)


def es_priority_sql(key_col: str, weight_col: str, salt: str = "") -> str:
    """DuckDB twin of ``_es_priority`` (generated from the same spec):
    identical hash, identical -ln(u)/w variate."""
    h = hash_unit_sql(key_col, salt)
    return (f"-ln(({h} + 0.5) / {float(_SCALE)}) "
            f"/ CAST({weight_col} AS DOUBLE)")


def weighted_sample_sql(table: str, n: int, weight_col: str, key_col: str,
                        salt: str = "", priority_col: str | None = None) -> str:
    """DuckDB twin of ``weighted_sample``: identical variate, identical
    tie-break, identical exclusion of non-positive mass."""
    pri = es_priority_sql(key_col, weight_col, salt)
    proj = "*" if priority_col is None else f"*, {pri} AS {priority_col}"
    return (f"SELECT {proj} FROM {table} "
            f"WHERE {weight_col} IS NOT NULL AND {weight_col} > 0 "
            f"ORDER BY {pri}, {key_col} LIMIT {n}")


def deterministic_shuffle(df: DataFrame, key_col: str, salt: str = "",
                          n_buckets: int = 256,
                          out: str = "shuffle_pos") -> DataFrame:
    """Deterministic pseudo-random global permutation index — the
    training-order shuffle: ``out`` is the 0-based position of each row
    in ascending ``(hash_unit(key, salt), key)`` order, a fixed uniform
    permutation per salt (re-runs and retries see the same order; change
    the salt to reshuffle).

    Scalable rendering of the classic zipWithIndex: the hash is uniform
    on [0, 2^32), so RANGE buckets are just its top bits — a monotone
    function of the sort key, no boundary sampling.  Global position =
    (broadcast) cumulative bucket offset + within-bucket rank; the only
    non-distributed step is a window over ``n_buckets`` count rows.
    Size ``n_buckets`` so a bucket (~rows/n_buckets) sorts comfortably
    in one task — at 100 TB raise it to 2^14+ (it only costs count
    rows), keeping per-task sorts in the tens of millions."""
    require_columns(df, [key_col])
    if n_buckets & (n_buckets - 1) or not 0 < n_buckets <= (1 << 30):
        raise ValueError("n_buckets must be a power of two")
    shift = 32 - n_buckets.bit_length() + 1
    h = hash_unit(F.col(key_col), salt)
    with_h = df.withColumn("_h", h).withColumn(
        "_hb", F.shiftrightunsigned(F.col("_h"), shift).cast("int"))
    counts = with_h.groupBy("_hb").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_hb",
        (F.sum("_n").over(
            Window.orderBy("_hb")
                  .rowsBetween(Window.unboundedPreceding, -1))).alias("_off"))
    offsets = offsets.fillna(0, subset=["_off"])
    w = Window.partitionBy("_hb").orderBy("_h", key_col)
    return (with_h.join(F.broadcast(offsets), "_hb")
                  .withColumn(out, (F.col("_off")
                                    + F.row_number().over(w) - 1).cast("bigint"))
                  .drop("_h", "_hb", "_off"))


def deterministic_shuffle_sql(table: str, key_col: str, salt: str = "",
                              out: str = "shuffle_pos") -> str:
    """DuckDB twin of ``deterministic_shuffle``: the straightforward
    global row_number over the same generated hash expression."""
    h = hash_unit_sql(key_col, salt)
    return (f"SELECT *, CAST(row_number() OVER (ORDER BY {h}, {key_col})"
            f" - 1 AS BIGINT) AS {out} FROM {table}")


def _budget_col(budget, by: str | None) -> Column:
    """``budget`` as a Column: a uniform int, or a per-``by``-value
    mapping rendered as a literal when-chain (engine-stable, no join).
    Unmapped group values get NULL — the ``<=`` keep-test then drops
    them, i.e. an absent group has budget 0 by contract."""
    if isinstance(budget, Mapping):
        if by is None:
            raise ValueError("a budget mapping needs `by`")
        c = None
        for k, v in sorted(budget.items()):
            cond = F.col(by) == F.lit(k)
            c = F.when(cond, F.lit(int(v))) if c is None \
                else c.when(cond, F.lit(int(v)))
        if c is None:
            raise ValueError("empty budget mapping")
        return c
    return F.lit(int(budget))


def token_budget_sample(df: DataFrame, cost_col: str, key_col: str,
                        budget, by: str | None = None, salt: str = "",
                        n_buckets: int = 256,
                        out: str = "tokens_through") -> DataFrame:
    """Keep the deterministic-shuffle-order PREFIX of each ``by`` group
    whose cumulative ``cost_col`` mass fits ``budget`` — the data-mixing
    cut of a pretraining pipeline ("400 B tokens of web, 80 B of code"):
    a fixed pseudo-random subset, reproducible per salt, sized in
    TOKENS rather than rows.  A row is kept iff the running total
    through itself (``out``, inclusive) is ≤ its group's budget; costs
    are non-negative, so the running total is monotone and the kept set
    is a true prefix of the shuffle order — re-runs, retries, and any
    partitioning agree on it exactly.

    ``budget`` is a uniform int or a ``{group_value: int}`` mapping
    (unmapped groups drop — budget 0, and a NULL group is "unmapped"
    too: ``CASE``/``when`` comparison is NULL, the filter rejects).
    Under a UNIFORM budget a NULL ``by`` group is a group like any
    other and keeps its prefix — the offsets join is null-safe
    (r12 advice: a plain equi-join silently dropped NULL-group rows
    that the serial-window twin kept).  ``cost_col`` must be integral
    and ≥ 0 (a negative cost breaks prefix monotonicity — named in-plan
    error); NULL costs count 0 (a cost-less row is free to keep).
    ``key_col`` must be unique per row (the `deterministic_shuffle`
    contract — duplicate keys make the order among them undefined).

    Scalable rendering (the ``deterministic_shuffle`` /
    ``top_fraction`` bucket pattern): the hash is uniform on
    [0, 2^32), so its top bits are RANGE buckets — contiguous segments
    of the shuffle order.  One aggregation gets each (group, bucket)'s
    cost mass; a window over those ≤ ``n_buckets`` rows per group
    yields each bucket's preceding-mass offset (broadcast); the running
    total is then offset + a within-(group, bucket) window — never a
    window over a group's full stream, so parallelism is
    groups × n_buckets however few sources there are.  Integer sums
    re-associate exactly across buckets (fuzz-pinned against the serial
    window form)."""
    cols = [cost_col, key_col] + ([by] if by else [])
    require_columns(df, cols)
    if n_buckets & (n_buckets - 1) or not 0 < n_buckets <= (1 << 30):
        raise ValueError("n_buckets must be a power of two")
    shift = 32 - n_buckets.bit_length() + 1
    gb = [by] if by else []
    cost = F.coalesce(F.col(cost_col).cast("bigint"), F.lit(0))
    cost = F.when(
        cost < 0,
        F.raise_error(F.lit(
            f"token_budget_sample: negative {cost_col} breaks prefix "
            "monotonicity; clean or clamp costs upstream"))
    ).otherwise(cost)
    with_h = (df.withColumn("_h", hash_unit(F.col(key_col), salt))
                .withColumn("_hb", F.shiftrightunsigned(F.col("_h"), shift)
                                    .cast("int"))
                .withColumn("_c", cost))
    sums = with_h.groupBy(*gb, "_hb").agg(F.sum("_c").alias("_bsum"))
    woff = (Window.partitionBy(*gb) if gb else Window) \
        .orderBy("_hb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sums.select(
        *gb, "_hb",
        F.coalesce(F.sum("_bsum").over(woff), F.lit(0)).alias("_toff"))
    wrun = Window.partitionBy(*gb, "_hb").orderBy("_h", key_col) \
                 .rowsBetween(Window.unboundedPreceding, 0)
    if by:
        # null-safe on the group key: a NULL-group row must still find
        # its bucket offset (plain equi-join never matches NULL = NULL).
        off = offsets.withColumnRenamed(by, "_gby") \
                     .withColumnRenamed("_hb", "_ohb")
        cond = F.col(by).eqNullSafe(F.col("_gby")) & \
            (F.col("_hb") == F.col("_ohb"))
        joined = with_h.join(F.broadcast(off), cond).drop("_gby", "_ohb")
    else:
        joined = with_h.join(F.broadcast(offsets), ["_hb"])
    return (joined
            .withColumn(out, (F.col("_toff")
                              + F.sum("_c").over(wrun)).cast("bigint"))
            .filter(F.col(out) <= _budget_col(budget, by))
            .drop("_h", "_hb", "_c", "_toff"))


def token_budget_sample_sql(table: str, cost_expr: str, key_col: str,
                            budget, by: str | None = None, salt: str = "",
                            out: str = "tokens_through") -> str:
    """DuckDB twin of ``token_budget_sample``: the serial window form —
    one cumulative sum over the same generated hash order per group
    (the bucket decomposition re-associates exact integer sums, so the
    forms are identical by construction).  ``cost_expr`` is the SQL
    cost expression (e.g. a generated token-count)."""
    h = hash_unit_sql(key_col, salt)
    part = f"PARTITION BY {by} " if by else ""
    if isinstance(budget, Mapping):
        if by is None:
            raise ValueError("a budget mapping needs `by`")

        def lit(k):
            # typed to match the Spark form's F.lit comparison: numbers
            # render bare, strings quote with '' escaping (r12 advice:
            # a bare f-string broke on quotes and coerced numeric keys).
            if isinstance(k, bool) or not isinstance(k, (int, float)):
                return "'" + str(k).replace("'", "''") + "'"
            return repr(k)
        arms = " ".join(f"WHEN {lit(k)} THEN {int(v)}"
                        for k, v in sorted(budget.items()))
        pred = f"{out} <= CASE {by} {arms} END"
    else:
        pred = f"{out} <= {int(budget)}"
    # the CASE below mirrors the Spark form's raise_error guard: a
    # negative cost must fail the query in BOTH engines, not silently
    # yield a non-prefix keep set in one of them (r12 advice).
    guarded = (f"CASE WHEN {cost_expr} < 0 THEN CAST(error("
               f"'token_budget_sample: negative cost') AS BIGINT) "
               f"ELSE coalesce({cost_expr}, 0) END")
    return f"""
        SELECT * FROM (
            SELECT *, CAST(sum({guarded}) OVER (
                       {part}ORDER BY {h}, {key_col}
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS {out}
            FROM {table})
        WHERE {pred}"""


def top_fraction(df: DataFrame, by: Sequence[str], score_col: str,
                 id_col: str, num: int, den: int,
                 n_buckets: int = 256,
                 materialize: str | None = None) -> DataFrame:
    """Keep each ``by`` group's best ``floor(num/den · n)`` rows under
    the total order (``score_col`` DESC, ``id_col`` ASC) — the budgeted
    quality cut of a curation pipeline ("keep each source's top 60%"),
    integer-exact and DISTRIBUTED (r6 verdict #3: a per-group
    ``row_number`` over the full doc stream bounds parallelism by the
    number of groups; at 100 TB with a handful of sources each source is
    one window task).

    Two-phase bucket-cut, the ``deterministic_shuffle`` pattern adapted
    to a data-dependent integer score: (1) one aggregation gets each
    group's count and score range; (2) rows bucket by
    ``(max_score − score) div bucket_width`` — a monotone function of
    the DESC order, so buckets are contiguous rank ranges; (3) a
    window over the ≤ ``n_buckets`` per-group bucket counts yields each
    bucket's preceding-row count, and global rank = that offset +
    within-bucket ``row_number`` — every window in the plan is either
    per-(group, bucket) or over bucket-count rows, never over a group's
    full stream.  Membership is decided by the all-integer compare
    ``global_rank · den ≤ num · n`` — identical to the serial
    ``row_number``-over-group form by construction (fuzz-pinned), no
    float ever enters.

    Contracts: ``score_col`` must be integral (the bucket arithmetic is
    exact integer division; quantize first — see
    ``unigram_lm_score(rank_key=True)``); ``id_col`` must be unique
    within each group or the tie-break is nondeterministic; NULL scores
    sort last (Spark/DuckDB DESC default) via a sentinel bucket; a
    score range wider than ~2^62 raises under ANSI arithmetic rather
    than wrapping.  Skew note: ties all land in one bucket — a single
    dominant score value degrades that bucket's window to the group's
    tie count, the inherent cost of an exact tie-break."""
    require_columns(df, [*by, score_col, id_col])
    if den <= 0 or num < 0:
        raise ValueError(f"need num >= 0, den > 0, got {num}/{den}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    dtype = df.schema[score_col].dataType.simpleString()
    if dtype not in {"tinyint", "smallint", "int", "bigint"}:
        raise ValueError(
            f"top_fraction ranks on integers (got {score_col}: {dtype}); "
            "quantize the score first so the cut cannot wobble at a "
            "float rounding boundary")
    # the two-phase cut references df THREE times (bounds agg, bucket
    # counts, final join+window).  Exchange reuse does NOT cover the
    # shared lineage: each branch prunes a different column set, so the
    # canonicalized exchange subtrees differ and every branch recomputes
    # df from the source (r7 verdict #3 — measured on the composed sf0.1
    # curation pipeline; an explicit repartition barrier recovered only
    # ~16% because ColumnPruning pushes distinct Projects below the
    # exchange too).  ``materialize`` picks the barrier:
    #
    # - None (default): recompute per branch — right for a cheap df
    #   (plain scan + projections), where 3 pruned columnar scans beat
    #   any materialization.
    # - "local_checkpoint": truncate the lineage and compute df ONCE
    #   into executor-local blocks — the measured winner for expensive
    #   multi-join/explode lineages (sf0.1 composed pipeline medians:
    #   3.2 s vs 5.3 s for a persisted df vs 6.9 s recomputed).  The
    #   checkpoint belongs to the returned plan and is freed once that
    #   plan is unreachable.  Non-reliable storage: an executor loss
    #   fails the JOB instead of a stage — acceptable for a batch
    #   curation query whose alternative is a ~6x lineage recompute; at
    #   cluster scale, jobs needing stage retry should write df to a
    #   table and rerank from that.
    if materialize == "local_checkpoint":
        df = df.localCheckpoint(eager=False)
    elif materialize is not None:
        raise ValueError(
            "materialize must be None or 'local_checkpoint', "
            f"got {materialize!r}")
    score = F.col(score_col).cast("bigint")
    bounds = (df.groupBy(*[F.col(c) for c in by])
                .agg(F.count(F.lit(1)).alias("_tf_n"),
                     F.min(score).alias("_tf_mn"),
                     F.max(score).alias("_tf_mx")))
    b_keys = [F.col(c).alias(f"_tfk{i}") for i, c in enumerate(by)]
    bounds = bounds.select(*b_keys, "_tf_n", "_tf_mn", "_tf_mx")
    from functools import reduce as _reduce
    cond = _reduce(lambda a, c: a & c,
                   [df[c].eqNullSafe(bounds[f"_tfk{i}"])
                    for i, c in enumerate(by)],
                   F.lit(True))
    # integer floor-div bucket: (mx − s) div ((mx − mn) div NB + 1) —
    # monotone DESC in score, width ≥ 1 so ≤ NB+1 buckets; NULL score →
    # NULL bucket, ordered LAST below (sentinel semantics = DESC default)
    joined = (df.join(F.broadcast(bounds), cond)
                .drop(*[f"_tfk{i}" for i in range(len(by))])
                .withColumn(
                    "_tf_b",
                    F.expr(f"(_tf_mx - CAST(`{score_col}` AS BIGINT)) div "
                           f"((_tf_mx - _tf_mn) div {int(n_buckets)} + 1)")))
    cnt = (joined.groupBy(*[F.col(c) for c in by], F.col("_tf_b"))
                 .agg(F.count(F.lit(1)).alias("_tf_c")))
    w_off = (Window.partitionBy(*[F.col(c) for c in by])
                   .orderBy(F.col("_tf_b").asc_nulls_last())
                   .rowsBetween(Window.unboundedPreceding, -1))
    above = (cnt.withColumn("_tf_above", F.sum("_tf_c").over(w_off))
                .fillna(0, subset=["_tf_above"]))
    a_keys = [F.col(c).alias(f"_tfa{i}") for i, c in enumerate(by)]
    above = above.select(*a_keys, F.col("_tf_b").alias("_tf_ab"),
                         "_tf_above")
    cond2 = _reduce(lambda a, c: a & c,
                    [joined[c].eqNullSafe(above[f"_tfa{i}"])
                     for i, c in enumerate(by)],
                    joined["_tf_b"].eqNullSafe(above["_tf_ab"]))
    w_rank = (Window.partitionBy(*[F.col(c) for c in by], F.col("_tf_b"))
                    .orderBy(F.col(score_col).desc(), F.col(id_col)))
    out = (joined.join(F.broadcast(above), cond2)
                 .withColumn("_tf_rank",
                             F.col("_tf_above") + F.row_number().over(w_rank))
                 .filter(F.col("_tf_rank") * F.lit(int(den))
                         <= F.lit(int(num)) * F.col("_tf_n")))
    return out.select(*df.columns)


def _temp_threshold(temperature: float) -> None:
    if not 0.0 < temperature <= 1.0:
        raise ValueError(
            f"temperature must be in (0, 1], got {temperature}; "
            "T=1 is the identity, T<1 flattens the mixture, T<=0 is "
            "undefined (and T>1 would need upsampling — out of scope, "
            "same contract as weighted_mixture)")


def temperature_mixture(df: DataFrame, source_col: str, key_col: str,
                        temperature: float, salt: str = "",
                        size_col: str | None = None) -> DataFrame:
    """Rebalance a multi-source corpus toward the temperature-scaled
    mixture (the XLM-R / mT5 "alpha-sampling" recipe — Conneau et al.,
    ACL 2020, arXiv:1911.02116 §3.1; Xue et al., NAACL 2021,
    arXiv:2010.11934 §3.2): after sampling,
    source shares are proportional to ``count^T`` instead of ``count``,
    so T < 1 boosts small sources' RELATIVE share by downsampling large
    ones.  Downsampling-only (rates <= 1, the ``weighted_mixture``
    contract): per-source keep rate is

        r_s = c_s^(T-1) / max_u c_u^(T-1)

    — the algebraic form of "keep the largest total that hits the
    target shares without upsampling anyone"; the smallest source keeps
    rate 1 exactly.  Unlike :func:`weighted_mixture` the rates are
    DERIVED FROM THE DATA in-plan: one per-source count aggregation
    (tiny), a broadcast 1-row max, a broadcast join back, then the
    same deterministic salted-hash filter every sampler here uses —
    no driver collect, so a 100 TB corpus with a million sources works.

    Engine-exactness note: ``pow`` is the one double op (per SOURCE,
    not per row); membership flips only if engines disagree on
    ``floor(r_s * 2^32)`` AND some row's 32-bit hash equals exactly the
    disputed threshold — the same accepted risk class as the suite's
    ``round(x, 6)`` convention, vanishingly unlikely and strictly
    per-boundary-row.  ``key_col`` must be unique per row (shared
    sampler contract; duplicates draw correlated coins).  NULL-source
    rows are DROPPED (the key-equality join back cannot match NULL —
    same in the SQL twin); impute a sentinel source upstream to sample
    them.

    ``size_col`` switches the mass measure from row count to
    ``sum(size_col)`` per source (e.g. a token count): training budgets
    are token budgets, and a source of few huge documents should weigh
    as its tokens, not its rows.  Rates then target token-mass shares
    ∝ mass^T; rows are still kept/dropped whole (documents are the
    sampling unit — a loader can't take half a document).
    """
    require_columns(df, [source_col, key_col]
                    + ([size_col] if size_col else []))
    _temp_threshold(temperature)
    t1 = float(temperature) - 1.0
    mass = (F.sum(F.col(size_col).cast("bigint")) if size_col
            else F.count(F.lit(1)))
    counts = df.groupBy(source_col).agg(mass.alias("_tm_c"))
    g = F.pow(F.col("_tm_c").cast("double"), F.lit(t1))
    rates = counts.select(F.col(source_col), g.alias("_tm_g"))
    gmax = rates.agg(F.max("_tm_g").alias("_tm_gmax"))
    thr = (rates.crossJoin(F.broadcast(gmax))
                .select(source_col,
                        F.floor(F.col("_tm_g") / F.col("_tm_gmax")
                                * F.lit(float(_SCALE)))
                         .cast("bigint").alias("_tm_thr")))
    out = (df.join(F.broadcast(thr), source_col)
             .filter(hash_unit(F.col(key_col), salt) < F.col("_tm_thr")))
    return out.select(*df.columns)


def temperature_mixture_sql(table: str, source_col: str, key_col: str,
                            temperature: float, salt: str = "",
                            size_col: str | None = None) -> str:
    """DuckDB twin of :func:`temperature_mixture` (generated, not
    hand-kept): same count/pow/max/floor staging, same hash filter."""
    _temp_threshold(temperature)
    t1 = repr(float(temperature) - 1.0)
    h = hash_unit_sql(f"t.{key_col}", salt)
    mass = (f"sum(CAST({size_col} AS BIGINT))" if size_col
            else "count(*)")
    return f"""
        WITH _tm_counts AS (
            SELECT {source_col}, {mass}::BIGINT AS _tm_c
            FROM {table} GROUP BY {source_col}),
        _tm_rates AS (
            SELECT {source_col},
                   pow(CAST(_tm_c AS DOUBLE), {t1}) AS _tm_g
            FROM _tm_counts),
        _tm_gmax AS (SELECT max(_tm_g) AS _tm_gmax FROM _tm_rates),
        _tm_thr AS (
            SELECT {source_col},
                   CAST(floor(_tm_g / _tm_gmax * {float(_SCALE)!r})
                        AS BIGINT) AS _tm_thr
            FROM _tm_rates CROSS JOIN _tm_gmax)
        SELECT t.* FROM {table} t
        JOIN _tm_thr USING ({source_col})
        WHERE {h} < _tm_thr"""


# ---------------------------------------------------------------------------
# DSIR-style importance resampling: select raw data toward a target
# distribution
# ---------------------------------------------------------------------------

def dsir_priority(id_col: str, logit_sum, salt: str = "dsir",
                  gumbel: bool = True) -> Column:
    """The DSIR selection key in integer micro-log-odds: the document's
    importance log-weight (``logit_sum``, the exact BIGINT
    micro-log-odds sum of its hashed features — see
    :func:`dsir_resample`) plus, when ``gumbel`` is set, a hash-seeded
    Gumbel(0,1) perturbation quantized to micro-units.

    Gumbel-top-k over ``s_i + G_i`` IS weighted sampling without
    replacement with inclusion ∝ exp(s_i) (the Gumbel-max trick — the
    log-domain form of the Efraimidis–Spirakis race
    :func:`weighted_sample` runs in linear space; equivalent schemes,
    but exp(s) would overflow doubles at corpus-scale logit sums, so
    the selection must stay in the log domain).  The uniform is the
    engine's salted md5 of ``id_col`` under ``salt + "|g"`` — change
    the salt to redraw, re-runs reproduce the same subset.

    Exactness: u is exact in double ((h + 0.5)/2^32 — power-of-two
    division), the two ``ln`` calls are the one float stage, and the
    result is micro-quantized (round-half-away, both engines) back to
    integer — the ``lp_rank`` risk class: a cross-engine flip needs the
    true value within ~1 ulp of a half-micro-unit boundary."""
    from frames_map_reduce_spark.operators.classifier import LOGIT_SCALE

    pri = F.col(logit_sum) if isinstance(logit_sum, str) else logit_sum
    if not gumbel:
        return pri.cast("bigint")
    u = ((hash_unit(F.col(id_col), salt + "|g") + F.lit(0.5))
         / F.lit(float(_SCALE)))
    g = -F.log(-F.log(u))
    return (pri + F.round(g * F.lit(LOGIT_SCALE)).cast("bigint")) \
        .cast("bigint")


def dsir_priority_sql(id_col: str, logit_sum: str, salt: str = "dsir",
                      gumbel: bool = True) -> str:
    """DuckDB twin of :func:`dsir_priority` (generated from the same
    spec): identical hash, identical -ln(-ln(u)) staging, identical
    micro-quantization."""
    from frames_map_reduce_spark.operators.classifier import LOGIT_SCALE

    if not gumbel:
        return f"CAST({logit_sum} AS BIGINT)"
    u = f"(({hash_unit_sql(id_col, salt + '|g')} + 0.5) / {float(_SCALE)!r})"
    return (f"CAST({logit_sum} + CAST(round(-ln(-ln({u})) * {LOGIT_SCALE})"
            f" AS BIGINT) AS BIGINT)")


def dsir_resample(raw: DataFrame, target: DataFrame, text_col: str,
                  id_col: str, num: int, den: int,
                  by: Sequence[str] = (), n_buckets: int = 1 << 14,
                  salt: str = "dsir", gumbel: bool = True,
                  select_buckets=256,
                  materialize: str | None = "local_checkpoint",
                  ngram=(1, 1)) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR — Xie et al.,
    NeurIPS 2023, arXiv:2302.03169): select ``num/den`` of the RAW
    corpus (per ``by`` group) toward the distribution of a TARGET set,
    with inclusion odds ∝ the hashed-feature importance weight
    ``p_target(x) / p_raw(x)``.

    The importance model is the engine's hashed multinomial
    (``operators.classifier``): under add-one-smoothed hashed unigram
    bag-of-words, ``log p_t(x)/p_r(x) = Σ_tokens log-odds(bucket)`` —
    exactly the log-odds table :func:`train_logodds_classifier` fits on
    a target-vs-raw label, and the exact BIGINT ``logit_sum``
    :func:`classifier_score` emits.  ``ngram=(1, 2)`` hashes joined
    adjacent bigrams alongside the unigrams
    (``classifier.feature_tokens``) — the paper's exact feature set
    (arXiv:2302.03169 §3 hashes unigrams + bigrams); the default stays
    the engine's frozen unigram spec.  Selection is Gumbel-top-k over
    ``logit_sum + Gumbel_micro`` (:func:`dsir_priority` — sampling
    without replacement ∝ exp(logit_sum), i.e. ∝ the importance
    weight), cut by the distributed integer :func:`top_fraction`;
    ``gumbel=False`` degenerates to the deterministic hard top-fraction
    by importance ("heuristic classification" in the paper's taxonomy).

    Scale shape, end to end: one explode + 2-phase agg to train (the
    weight table is ``n_buckets`` rows — broadcast), one explode +
    broadcast join + 2-phase agg to score, pure projections for the
    priority, and the two-phase bucket-cut to select — no driver-side
    state, nothing quadratic, no Python anywhere.

    Output: the scored frame filtered to the kept rows — ``(by…,
    id_col, n_tokens, logit_sum, logit_rank, dsir_priority)``; join
    back on ``id_col`` for payload columns.

    ``materialize`` defaults to ``"local_checkpoint"`` (r13, guide
    §1.2/§5 — the scored lineage here is ALWAYS expensive: train +
    explode + broadcast join + agg, and :func:`top_fraction`'s
    two-phase cut references it three times with branch-specific
    pruning that defeats exchange reuse).  Measured on the sf0.1 rig:
    unigram 3.7 → 2.7 s, bigram 4.2–5.5 → 3.6 s (stable).  Values are
    unchanged — the barrier only truncates lineage; pass ``None`` to
    recompute per branch (stage-retry-safe for cluster runs that
    prefer it)."""
    from frames_map_reduce_spark.operators.classifier import (
        classifier_score,
        train_logodds_classifier,
    )

    require_columns(raw, [text_col, id_col, *by])
    require_columns(target, [text_col])
    pool = (target.select(F.col(text_col).alias("_dsir_text"),
                          F.lit(True).alias("_dsir_t"))
                  .unionByName(
                      raw.select(F.col(text_col).alias("_dsir_text"),
                                 F.lit(False).alias("_dsir_t"))))
    weights = train_logodds_classifier(pool, "_dsir_text", "_dsir_t",
                                       n_buckets=n_buckets, salt=salt,
                                       ngram=ngram)
    scored = classifier_score(raw, weights, text_col, id_col,
                              n_buckets=n_buckets, salt=salt, carry=by,
                              ngram=ngram)
    scored = scored.withColumn(
        "dsir_priority",
        dsir_priority(id_col, F.col("logit_sum"), salt=salt,
                      gumbel=gumbel))
    return top_fraction(scored, by, "dsir_priority", id_col, num, den,
                        n_buckets=select_buckets, materialize=materialize)
