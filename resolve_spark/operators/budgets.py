"""One budget table for every fast-path-or-fallback plan choice.

Some operators have a fast plan (one task, a broadcast, or all-pairs
over bitmasks) that is only safe up to some size, and keep their
distributed plan as the fallback above it. Each such choice probes the
size at run time and checks it against its :data:`BUDGETS` entry via
:func:`fits`, :func:`vocab_bitmask` or :func:`broadcaster`; no other
code holds a limit. An entry at 0 forces every plan it gates onto its
fallback. Fallbacks emit the same rows, except where the weighted-
Jaccard all-pairs plan falls back to banding, whose recall is only
approximately full.

entry: operator | probe | fast plan | fallback

- ``cc_local_edges``: clustering.connected_components | deduped edge
  rows | numpy pointer jumping in one task (~16 B/edge) | star rounds
- ``greedy_sequential_pairs``: assignment.greedy_one_to_one | pair
  rows | one sorted scan in one task | mutual-best fixpoint
- ``broadcast_hot_keys``: pairs.candidate_pairs | oversized keys
  (bounded only by records / max_block_size) | broadcast anti/semi
  joins with the hot keys | shuffle join with the key counts
- ``broadcast_rows``: record-sized broadcasts in
  meta_blocking.meta_block_prune (record-level plan: ``df.count()``;
  signature plan: Σ ``_cnt``) and dedup's bitmask weighted-Jaccard
  plans (the ``n_docs`` of the IDF) | that row count | broadcast hash
  join | shuffle join
- ``vocab_bitmask_tokens`` (at most 64, one bit of a long per token):
  dedup.tfidf_weighted_jaccard_pairs, wjaccard_join, containment_pairs
  and driver query q05 | distinct tokens | token sets as longs, set
  similarity as bit operations | token joins, PPJoin, array kernel
- ``wjaccard_set_pairs``: dedup's weighted-Jaccard all-pairs | distinct
  mask pairs | exact all-pairs over distinct masks | MinHash/ICWS
  banding and the exact verify
- ``containment_set_pairs``: dedup.containment_pairs | C(distinct token
  sets, 2) | all-pairs over distinct sets | PPJoin prefix filter
- ``q04_distinct_names``: driver query q04 | distinct names | score
  distinct name pairs, expand by broadcast | score every blocked pair
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUDGETS: dict[str, int] = {
    "cc_local_edges": 20_000_000,
    "greedy_sequential_pairs": 30_000_000,
    "broadcast_hot_keys": 200_000,
    "broadcast_rows": 4_000_000,
    "vocab_bitmask_tokens": 64,
    "wjaccard_set_pairs": 2_000_000_000,
    "containment_set_pairs": 200_000_000,
    "q04_distinct_names": 2048,
}


def fits(name: str, n: int) -> bool:
    """Whether the probed size ``n`` is within budget ``name``."""
    return n <= BUDGETS[name]


def broadcaster(n_rows: int) -> Callable[[DataFrame], DataFrame]:
    """``F.broadcast`` when ``n_rows`` (an upper bound on the rows of
    every table it will be applied to) fits ``broadcast_rows``;
    otherwise the identity, so the planner chooses the join strategy."""
    return F.broadcast if fits("broadcast_rows", n_rows) else (lambda df: df)


def vocab_bitmask(vocab: DataFrame):
    """Vocabulary probe for the bitmask plans: ``(rows, bitmap)``, or
    None when ``vocab`` has more than ``vocab_bitmask_tokens`` rows.

    ``vocab`` holds one row per distinct token in column ``tok``; other
    columns (e.g. weights) come back in ``rows``, which are sorted by
    ``tok``. ``bitmap`` maps the i-th token to bit i as a literal long
    (bit 63 is the sign bit: the negative long with that pattern), so
    summing or OR-ing the bits of a document's distinct tokens gives
    its mask. One job that reads at most budget + 1 rows."""
    cap = BUDGETS["vocab_bitmask_tokens"]
    rows = vocab.orderBy("tok").limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    bitmap = F.map_from_arrays(
        F.array(*[F.lit(r["tok"]) for r in rows]),
        F.array(*[
            F.lit((1 << i) - (1 << 64 if i == 63 else 0)).cast("long")
            for i in range(len(rows))
        ]),
    )
    return rows, bitmap
