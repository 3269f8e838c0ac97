"""Candidate-pair generation under a pair budget (north rule §4.1).

The quadratic hazard: a hot blocking key with c rows makes c(c-1)/2
pairs — AQE can split a skewed *shuffle*, but nothing built-in caps pair
*generation*. We make the cap explicit dataflow:

- blocks with ``count <= max_block_size``: full in-block self-join
  (id_a < id_b). Bounded at C(max_block_size, 2) pairs per block.
- oversized blocks: **sorted-neighborhood pairing** — rows are ordered
  (by id) within the key, chunked into windows, and each row pairs only
  with the next ``window`` rows. Cost O(c * window) instead of O(c^2).
  The (key, chunk) composite IS the salt: a hot key's work spreads
  uniformly over chunks/partitions.

Dropped-pair accounting (``pairs_dropped_estimate``) is reported per run
so recall loss on hot keys is observable, satisfying the "cap/record
dropped pairs" requirement.

Every pair carries the blocking key it was generated under (min key when
several passes agree), which is the evaluation scope for labeled-pair F1
("at the same blocking key").
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from resolve_spark.config import BlockingConfig
from resolve_spark.operators.budgets import fits


@dataclass
class PairGenStats:
    n_records: int
    n_block_keys: int
    n_oversized_keys: int
    n_pruned_keys: int
    max_block_size: int
    pairs_generated: int
    pairs_dropped_estimate: int


def _full_pairs(keyed: DataFrame) -> DataFrame:
    a = keyed.select(
        F.col("key"), F.col("rid").alias("id_a")
    )
    b = keyed.select(F.col("key"), F.col("rid").alias("id_b"))
    return a.join(b, "key").where(F.col("id_a") < F.col("id_b"))


def _windowed_pairs(keyed: DataFrame, window: int) -> DataFrame:
    """Sorted-neighborhood within oversized keys: pair pos i with
    i+1..i+window via chunked equi-joins (chunk and chunk+1)."""
    w = Window.partitionBy("key").orderBy("rid")
    pos = keyed.withColumn("pos", F.row_number().over(w))
    pos = pos.withColumn("chunk", ((F.col("pos") - 1) / window).cast("long"))
    a = pos.select("key", F.col("rid").alias("id_a"), F.col("pos").alias("pa"), "chunk")
    b_same = pos.select("key", F.col("rid").alias("id_b"), F.col("pos").alias("pb"), "chunk")
    b_next = pos.select(
        "key", F.col("rid").alias("id_b"), F.col("pos").alias("pb"),
        (F.col("chunk") - 1).alias("chunk"),
    )
    joined = a.join(b_same.unionByName(b_next), ["key", "chunk"])
    return (
        joined.where(
            (F.col("pb") > F.col("pa")) & (F.col("pb") - F.col("pa") <= window)
        )
        # canonical orientation: ids, not positions, define (a,b)
        .select(
            "key",
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )


def comb2_exact(c) -> "F.Column":
    """Exact-long C(c, 2) that halves the even factor BEFORE the
    product: the naive ``c * (c - 1) / 2`` wraps its int64 intermediate
    at c > ~3.04e9 even though the result still fits. This form is
    exact for any count up to ~4.29e9 — where C(c, 2) itself exceeds
    int64 — matching the documented exact-long range of the metrics
    built on it."""
    c = c.cast("long")
    return F.when(c % 2 == 0, F.shiftright(c, 1) * (c - 1)).otherwise(
        c * F.shiftright(c - 1, 1)
    )


def product_within_budget(ca, cb, budget: int) -> "F.Column":
    """Overflow-free ``ca * cb <= budget`` for long counts: the
    operands are cast to decimal(19,0) and Spark's multiply rule widens
    the RESULT to decimal(38,0), which holds any int64 x int64 product
    exactly (<= 38 digits) — so the comparison never wraps (legacy
    mode) or errors (ANSI mode) once both counts pass ~3e9, exactly
    the hot-band-key regime the budget exists to cut. (The invariant
    relied on is Spark's decimal widening, property-tested to 2^63-1;
    do not narrow the casts.) Float division forms
    (``ca <= floor(B/cb)``) are NOT used: a double quotient can round
    across the floor boundary. Same exactness discipline as
    :func:`comb2_exact`."""
    dec = "decimal(19,0)"
    return (ca.cast(dec) * cb.cast(dec)) <= F.lit(int(budget)).cast(dec)


def _key_fates(cfg: BlockingConfig):
    """Budget fate expressions over a (key, c) block-size row — the
    SINGLE source of truth for which keys are purged vs windowed.
    Returns (pass_of, dead, windowed); a key is 'full' when neither.
    Shared by :func:`candidate_pairs` (the actual pair generation) and
    :func:`pair_budget_accounting` (the observability ledger) so the
    ledger can never drift from the fates the generator applies."""
    pass_of = F.split(F.col("key"), ":").getItem(0)
    purgeable = (
        pass_of.rlike("^(" + "|".join(cfg.purge_passes) + ")")
        if cfg.purge_passes
        else F.lit(False)
    )
    oversized = F.when(purgeable, F.col("c") > cfg.redundant_block_size).otherwise(
        F.col("c") > cfg.max_block_size
    )
    dead = (oversized & purgeable) | (F.col("c") > cfg.prune_block_size)
    windowed = oversized & ~purgeable & (F.col("c") <= cfg.prune_block_size)
    return pass_of, dead, windowed


def candidate_pairs(
    df: DataFrame,
    id_col: str,
    cfg: BlockingConfig,
    keys_col: str = "block_keys",
    with_stats: bool = True,
    count_pairs: bool = True,
) -> tuple[DataFrame, PairGenStats | None]:
    """(record, array-of-keys) -> deduplicated candidate pairs.

    Returns (pairs, stats): pairs has columns (id_a, id_b, block_key)
    with id_a < id_b; block_key is the smallest key that produced the
    pair. Stats trigger two small aggregate jobs when requested.

    ``count_pairs=False`` reports ``pairs_generated = -1`` instead of
    counting: the count action would execute the whole pair-generation
    plan, which a caller that immediately materializes the result (the
    pipeline's stage checkpoint) would then execute a SECOND time.
    Such callers backfill the exact count from the materialization
    (checkpoint footer lineage / persisted count).
    """
    # no (rid, key) dedup shuffle needed: each blocking pass emits
    # distinct keys per record (array_distinct / single key) and passes
    # are prefix-disjoint (c:/t:/q:/m<band>:), so the explode is
    # duplicate-free by construction.
    # r7: localCheckpoint — the keyed stream feeds the key-size counts,
    # the small/windowed splits AND both pair branches; without a pin
    # each consumer re-runs the blocking-key computation (minhash UDF
    # included, measured 3-4 re-executions per call). records x keys
    # rows, the same rows the pair join shuffles anyway.
    keyed = df.select(
        F.col(id_col).alias("rid"), F.explode(keys_col).alias("key")
    ).localCheckpoint()
    counts = keyed.groupBy("key").agg(F.count("*").alias("c"))
    # cache: used by the small/big split and by the stats aggregates
    counts.persist()

    # pass prefix (before ':') decides oversized-key fate: window or purge
    pass_of, dead_cond, windowed_cond = _key_fates(cfg)
    hot = counts.where(dead_cond | windowed_cond).select(
        "key", windowed_cond.alias("_windowed")
    )
    # adaptive: hot keys are few on healthy inputs -> broadcast; but the
    # list is only bounded by n/max_block_size, so fall back to a shuffle
    # count-join when it is genuinely large (the 1000x-scale path)
    n_hot = hot.count()
    if n_hot == 0:
        pairs = _full_pairs(keyed)
    elif fits("broadcast_hot_keys", n_hot):
        hot_b = F.broadcast(hot)
        keyed_small = keyed.join(hot_b, "key", "left_anti")
        keyed_big = keyed.join(
            hot_b.where("_windowed").select("key"), "key", "left_semi"
        )
        pairs = _full_pairs(keyed_small).unionByName(
            _windowed_pairs(keyed_big, cfg.neighborhood_window)
        )
    else:
        keyed2 = keyed.join(counts, "key").withColumn(
            "_fate",
            F.when(dead_cond, "dead").when(windowed_cond, "windowed").otherwise("full"),
        )
        keyed_small = keyed2.where(F.col("_fate") == "full").select("key", "rid")
        keyed_big = keyed2.where(F.col("_fate") == "windowed").select("key", "rid")
        pairs = _full_pairs(keyed_small).unionByName(
            _windowed_pairs(keyed_big, cfg.neighborhood_window)
        )
    deduped = pairs.groupBy("id_a", "id_b").agg(F.min("key").alias("block_key"))

    stats = None
    if with_stats:
        pruned, windowed = dead_cond, windowed_cond
        agg = counts.agg(
            F.count("*").alias("n_keys"),
            F.sum(windowed.cast("long")).alias("n_big"),
            F.sum(pruned.cast("long")).alias("n_dead"),
            # comb2_exact, not c*(c-1)/2: the naive product wraps int64
            # at c > ~3.04e9 and the double division rounds above 2^53 —
            # the wrapped negative would be clamped to 0 by the max()
            # below, reporting zero recall loss exactly when it is
            # largest
            F.sum(
                F.when(
                    windowed,
                    comb2_exact(F.col("c"))
                    - (F.col("c") * cfg.neighborhood_window),
                )
                .when(pruned, comb2_exact(F.col("c")))
                .otherwise(0)
            ).alias("dropped_est"),
        ).collect()[0]
        n_pairs = deduped.count() if count_pairs else -1
        stats = PairGenStats(
            n_records=df.count(),
            n_block_keys=agg["n_keys"] or 0,
            n_oversized_keys=agg["n_big"] or 0,
            n_pruned_keys=agg["n_dead"] or 0,
            max_block_size=cfg.max_block_size,
            pairs_generated=n_pairs,
            pairs_dropped_estimate=max(0, int(agg["dropped_est"] or 0)),
        )
    counts.unpersist()
    return deduped, stats


def pair_budget_accounting(
    df: DataFrame,
    id_col: str,
    cfg: BlockingConfig,
    keys_col: str = "block_keys",
) -> DataFrame:
    """The budget ledger as DATA (one row per blocking pass) instead of
    driver-side PairGenStats: for each pass prefix, how many keys take
    which fate under :func:`candidate_pairs`' budget (full self-join /
    sorted-neighborhood window / purged), how many pairs each fate
    generates, and the exact dropped-pair estimate. This is the
    recall-loss observability the pair budget promises, queryable and
    joinable against evaluation runs.

    Fate columns come from the SAME :func:`_key_fates` expressions
    candidate_pairs applies, so the ledger structurally cannot drift
    from the generator; pairs_full/windowed are per-key upper bounds
    (cross-pass dedup happens later and can only shrink them).

    Determinism: every number is exact-long arithmetic on block sizes.
    Scale plan: one explode + one key-size groupBy + one pass-level
    groupBy, all map-side combinable; output rows = number of passes."""
    keyed = df.select(F.col(id_col).alias("rid"), F.explode(keys_col).alias("key"))
    counts = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("c"))
    pass_of, dead, windowed = _key_fates(cfg)
    full = ~dead & ~windowed
    comb2 = comb2_exact(F.col("c"))
    w = F.lit(cfg.neighborhood_window)
    win_pairs = F.least(comb2, F.col("c") * w)
    fated = counts.select(
        pass_of.alias("pass"),
        F.col("c"),
        full.alias("_full"),
        windowed.alias("_win"),
        dead.alias("_dead"),
        comb2.alias("_all2"),
        win_pairs.alias("_wp"),
    )
    return fated.groupBy("pass").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("_full").cast("long")).alias("n_full"),
        F.sum(F.col("_win").cast("long")).alias("n_windowed"),
        F.sum(F.col("_dead").cast("long")).alias("n_purged"),
        F.sum(F.when(F.col("_full"), F.col("_all2")).otherwise(0)).alias("pairs_full"),
        F.sum(F.when(F.col("_win"), F.col("_wp")).otherwise(0)).alias(
            "pairs_windowed_est"
        ),
        F.sum(
            F.when(F.col("_win"), F.greatest(F.col("_all2") - F.col("_wp"), F.lit(0)))
            .when(F.col("_dead"), F.col("_all2"))
            .otherwise(0)
        ).alias("pairs_dropped_est"),
    )
