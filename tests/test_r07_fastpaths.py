"""Round-7 optimization equivalence tests.

Every r7 fast path must be output-identical to the generic path it
bypasses; these tests force both paths over the same input and compare
full rows (not just counts). A plan is forced by setting its entry in
``operators.budgets.BUDGETS`` to 0 (:func:`test_budget_zero_keeps_rows`
covers every entry).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from resolve_spark.config import BlockingConfig
from resolve_spark.operators import dedup as DD
from resolve_spark.operators import meta_blocking as MB
from resolve_spark.operators.ann import brute_force_topk, cosine_topk_matmul
from resolve_spark.operators.assignment import greedy_one_to_one
from resolve_spark.operators.budgets import BUDGETS
from resolve_spark.operators.clustering import connected_components
from resolve_spark.operators.dedup import containment_pairs, tfidf_weighted_jaccard_pairs
from resolve_spark.operators.fellegi_sunter import (
    estimate_fs,
    estimate_fs_from_counts,
)
from resolve_spark.operators.pairs import candidate_pairs


VOCAB_SMALL = [f"tok{i}" for i in range(31)]
VOCAB_BIG = [f"tok{i}" for i in range(80)]


def _docs(spark, vocab, n_docs=120, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        k = rng.randint(1, min(12, len(vocab)))
        words = rng.sample(vocab, k)
        # repeats + shuffled order so token-set identity is exercised
        text = " ".join(words + rng.sample(words, min(3, k)))
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestContainmentSmallVocab:
    def test_fast_matches_generic(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        # max_token_df high enough to drop nothing => generic path,
        # identical semantics
        generic = containment_pairs(
            d, "doc_id", "text", threshold_pct=70, max_token_df=10**9
        )
        assert _rows(fast) == _rows(generic)
        assert len(_rows(fast)) > 0

    def test_big_vocab_declines_fast_path(self, spark):
        d = _docs(spark, VOCAB_BIG, n_docs=60)
        toks = d.select(
            F.col("doc_id").alias("rid"),
            F.array_distinct(F.split(F.col("text"), " ")).alias("t"),
        )
        assert DD._containment_pairs_small_vocab(toks, 70) is None
        out = containment_pairs(d, "doc_id", "text", threshold_pct=70)
        assert out.columns == [
            "id_a", "id_b", "overlap", "n_a", "n_b", "containment"
        ]


class TestWJaccardSmallVocab:
    def test_big_vocab_declines(self, spark):
        d = _docs(spark, VOCAB_BIG, n_docs=60)
        out = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, hash_impl="portable"
        )
        assert out.columns == ["id_a", "id_b", "wjaccard"]


class TestCosineTopkMatmul:
    def test_matches_brute_force(self, spark):
        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
        ]
        rows.append((50, [0.0] * 8))  # zero vector: scores 0.0
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.where(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = df.select(F.col("vec_id").alias("cand_id"), "embedding")
        bf = brute_force_topk(q, c, k=4)
        mm = cosine_topk_matmul(q, c, k=4)
        b = {(r["query_id"], r["cand_id"]): (r["cos"], r["rk"]) for r in bf.collect()}
        m = {(r["query_id"], r["cand_id"]): (r["cos"], r["rk"]) for r in mm.collect()}
        assert set(b) == set(m)
        for k2 in b:
            assert b[k2][1] == m[k2][1]
            assert abs(b[k2][0] - m[k2][0]) < 1e-9

    def test_rounded_partial_topk_ties(self, spark):
        # many exact-duplicate vectors => heavy ties at the rounded
        # boundary; tie order must be (cos desc, cand_id asc)
        base = [1.0, 2.0, 3.0, 4.0]
        rows = [(i, base) for i in range(30)]
        rows += [(100 + i, [4.0, 3.0, 2.0, 1.0]) for i in range(5)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.where(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        c = df.select(F.col("vec_id").alias("cand_id"), "embedding")
        out = cosine_topk_matmul(
            q, c, k=3, round_to=4, exclude_self=True, parallelism=4
        ).collect()
        got = sorted((r["rk"], r["cand_id"], r["cos"]) for r in out)
        assert got == [(1, 1, 1.0), (2, 2, 1.0), (3, 3, 1.0)]


def test_estimate_fs_from_counts_matches(spark):
    rows = [(a, b, c) for a in (0, 1) for b in (0, 1) for c in (0, 1)
            for _ in range((a + 1) * (b + 2) * (c + 3))]
    pairs = spark.createDataFrame(rows, "g_x int, g_y int, g_z int")
    p1 = estimate_fs(pairs, ["g_x", "g_y", "g_z"], iterations=3)
    counts = pairs.groupBy("g_x", "g_y", "g_z").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    p2 = estimate_fs_from_counts(counts, ["g_x", "g_y", "g_z"],
                                 count_col="n", iterations=3)
    assert p1 == p2


class TestWJaccardAllPairs:
    """The r7 exact-all-pairs-over-distinct-masks fast path must equal
    a NAIVE all-pairs weighted Jaccard (the oracle's semantics) over the
    pairs that share a token — no banding randomness in the comparison.
    Token-disjoint pairs (wjaccard 0) are unreachable by the token-join
    verify, so no plan emits them, even at threshold 0."""

    @staticmethod
    def _naive_allpairs(spark, d, threshold, cross=False):
        from resolve_spark.functions import similarity as S

        n = d.count()
        toks = d.select(F.col("doc_id").alias("rid"), S.tokens("text").alias("t"))
        tw = toks.select("rid", F.explode("t").alias("tok"))
        dfreq = tw.groupBy("tok").agg(F.count("*").alias("df"))
        w = dfreq.select(
            "tok",
            F.round(
                F.lit(1e6) * F.log(F.lit(1.0) + F.lit(float(n)) / F.col("df"))
            ).cast("long").alias("w"),
        )
        tww = tw.join(w, "tok")
        wt = toks.join(
            tww.groupBy("rid").agg(F.sum("w").alias("W")), "rid"
        ).select("rid", "t", "W")
        a = wt.selectExpr("rid as id_a", "t as ta", "W as wa")
        b = wt.selectExpr("rid as id_b", "t as tb", "W as wb")
        if cross:
            pairs = a.where("id_a % 2 = 0").join(b.where("id_b % 2 = 1"))
        else:
            pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        shared = F.array_intersect("ta", "tb")
        iw = (
            pairs.select("id_a", "id_b", "wa", "wb", F.explode(shared).alias("tok"))
            .join(w, "tok")
            .groupBy("id_a", "id_b", "wa", "wb")
            .agg(F.sum("w").alias("iw"))
        )
        return iw.select(
            "id_a", "id_b",
            F.round(F.col("iw") / (F.col("wa") + F.col("wb") - F.col("iw")), 6)
            .alias("wjaccard"),
        ).where(F.col("wjaccard") >= threshold)

    def test_self_matches_naive(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.5, icws_hashes=64, icws_bands=32
        )
        naive = self._naive_allpairs(spark, d, 0.5)
        assert _rows(fast) == _rows(naive)
        assert len(_rows(fast)) > 0

    def test_threshold_zero_skips_disjoint_pairs(self, spark):
        d = _docs(spark, VOCAB_SMALL, n_docs=60)
        fast = tfidf_weighted_jaccard_pairs(
            d, "doc_id", "text", threshold=0.0, icws_hashes=64, icws_bands=32
        )
        naive = self._naive_allpairs(spark, d, 0.0)
        assert _rows(fast) == _rows(naive)
        assert len(_rows(fast)) > 0

    def test_join_matches_naive(self, spark):
        d = _docs(spark, VOCAB_SMALL)
        fast = DD.wjaccard_join(
            d.where("doc_id % 2 = 0"), d.where("doc_id % 2 = 1"),
            "doc_id", "doc_id", threshold=0.5,
        )
        naive = self._naive_allpairs(spark, d, 0.5, cross=True)
        assert _rows(fast) == _rows(naive)
        assert len(_rows(fast)) > 0

    def test_budget_declines_allpairs(self, spark, monkeypatch):
        # the declined budget falls back to MinHash + ICWS banding with
        # the bitmask verify; at this size banding recall is full, so
        # the rows equal the exact all-pairs rows
        d = _docs(spark, VOCAB_SMALL)

        def run():
            return _rows(tfidf_weighted_jaccard_pairs(
                d, "doc_id", "text", threshold=0.5,
                icws_hashes=64, icws_bands=32, hash_impl="portable",
            ))

        fast = run()
        monkeypatch.setitem(BUDGETS, "wjaccard_set_pairs", 0)
        assert run() == fast
        assert len(fast) > 0


def _meta_recs(spark, n=200):
    rng = random.Random(11)
    rows = [
        (
            i,
            [
                f"n:{rng.randint(0, 5)}",
                f"s:{rng.randint(0, 2)}",
                f"b:{rng.randint(0, 3)}",
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, block_keys array<string>")


class TestMetaBlockSignature:
    @pytest.mark.parametrize("scheme", ["wnp", "wep"])
    def test_sig_matches_record_level(self, spark, scheme):
        recs = _meta_recs(spark)
        fast = MB.meta_block_prune(
            recs, "id", weight="cbs", scheme=scheme, max_block_size=60
        )
        slow = MB._meta_block_prune_records(
            recs, "id", "block_keys", "cbs", scheme, 60, 10
        )
        assert _rows(fast.select("id_a", "id_b", "cbs", "weight")) == _rows(
            slow.select("id_a", "id_b", "cbs", "weight")
        )
        assert len(_rows(fast)) > 0


def _cc_inputs(spark):
    rng = random.Random(9)
    rows = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(500)]
    rows += [(i, i + 1) for i in range(301, 340)]  # a long chain
    return [
        spark.createDataFrame(rows, "id_a long, id_b long"),
        spark.createDataFrame(
            [(f"r{a:04d}", f"r{b:04d}") for a, b in rows],
            "id_a string, id_b string",
        ),
    ]


class TestCCLocal:
    @pytest.mark.parametrize("as_str", [False, True])
    def test_local_matches_star(self, spark, monkeypatch, as_str):
        e = _cc_inputs(spark)[int(as_str)]
        fast = connected_components(e)
        monkeypatch.setitem(BUDGETS, "cc_local_edges", 0)  # force star rounds
        slow = connected_components(e)
        assert _rows(fast) == _rows(slow)
        assert len(_rows(fast)) > 0


def _greedy_input(spark):
    rng = random.Random(5)
    rows = [
        (rng.randint(0, 40), rng.randint(100, 140), round(rng.uniform(0, 1), 3))
        for _ in range(400)
    ]
    return spark.createDataFrame(rows, "id_a long, id_b long, score double")


def _hot_key_pairs(spark):
    # "c:" blocks of 20 exceed max_block_size and are windowed; "t:"
    # blocks of 3 pair in full
    rows = [(i, [f"c:{i % 3}", f"t:{i % 20}"]) for i in range(60)]
    df = spark.createDataFrame(rows, "rid long, block_keys array<string>")
    cfg = BlockingConfig(max_block_size=10, neighborhood_window=5)
    return candidate_pairs(df, "rid", cfg, with_stats=False)[0]


def _tfidf(d, threshold=0.5, icws=0):
    # 2-row bands: many low-similarity candidates reach the verify
    return tfidf_weighted_jaccard_pairs(
        d, "doc_id", "text", threshold=threshold, bands=32,
        hash_impl="portable", icws_hashes=icws, icws_bands=32,
    )


def _wjoin(d):
    return DD.wjaccard_join(
        d.where("doc_id % 2 = 0"), d.where("doc_id % 2 = 1"),
        "doc_id", "doc_id", threshold=0.5,
    )


def _sf_dir(spark, tmp_path):
    """A two-table driver directory for the q04/q05 plan choices."""
    sf = tmp_path / "sf"
    if not sf.exists():
        names = ["steel bolt", "steel bolts", "steel nut", "brass bolt",
                 "brass nut", "copper pipe", "copper pipes"]
        spark.createDataFrame(
            [(i, names[i % 7], f"Brand#{i % 2}") for i in range(200)],
            "p_partkey long, p_name string, p_brand string",
        ).write.parquet(str(sf / "part.parquet"))
        # an 8-token vocabulary so q05's sampled docs reach jac >= 0.5
        docs = [(r["doc_id"], r["text"], ["en", "de"][r["doc_id"] % 2])
                for r in _docs(spark, VOCAB_SMALL[:8], n_docs=300).collect()]
        spark.createDataFrame(
            docs, "doc_id long, text string, lang string"
        ).write.parquet(str(sf / "documents.parquet"))
    return str(sf)


#: BUDGETS entry -> (spark, tmp_path) -> the frames whose plan it gates
_BUDGET_CASES = {
    "cc_local_edges": lambda spark, _: [
        connected_components(e) for e in _cc_inputs(spark)
    ],
    "greedy_sequential_pairs": lambda spark, _: [
        greedy_one_to_one(_greedy_input(spark))
    ],
    "broadcast_hot_keys": lambda spark, _: [_hot_key_pairs(spark)],
    "broadcast_rows": lambda spark, _: [
        MB.meta_block_prune(_meta_recs(spark), "id", weight="js", scheme="wnp",
                            max_block_size=60),
        MB.meta_block_prune(_meta_recs(spark), "id", weight="cbs", scheme="wnp",
                            max_block_size=60),
        _tfidf(_docs(spark, VOCAB_SMALL)),
        _tfidf(_docs(spark, VOCAB_SMALL), icws=64),
        _wjoin(_docs(spark, VOCAB_SMALL)),
    ],
    "vocab_bitmask_tokens": lambda spark, tmp: [
        _tfidf(_docs(spark, VOCAB_SMALL)),
        # threshold 0: the bitmask verify emits only token-sharing
        # pairs, like the token-join verify
        _tfidf(_docs(spark, VOCAB_SMALL), threshold=0.0),
        _wjoin(_docs(spark, VOCAB_SMALL)),
        containment_pairs(_docs(spark, VOCAB_SMALL), "doc_id", "text",
                          threshold_pct=70),
        E._q05_jaccard_pairs(spark, _sf_dir(spark, tmp)),
    ],
    "wjaccard_set_pairs": lambda spark, _: [_wjoin(_docs(spark, VOCAB_SMALL))],
    "containment_set_pairs": lambda spark, _: [
        containment_pairs(_docs(spark, VOCAB_SMALL, n_docs=40), "doc_id",
                          "text", threshold_pct=70)
    ],
    "q04_distinct_names": lambda spark, tmp: [
        E._q04_levenshtein_pairs(spark, _sf_dir(spark, tmp))
    ],
}


@pytest.mark.parametrize("entry", sorted(BUDGETS))
def test_budget_zero_keeps_rows(spark, monkeypatch, tmp_path, entry):
    """With the entry at 0 every plan it gates takes its fallback; the
    rows must equal the default run's, and be non-empty."""
    default = [_rows(df) for df in _BUDGET_CASES[entry](spark, tmp_path)]
    monkeypatch.setitem(BUDGETS, entry, 0)
    forced = [_rows(df) for df in _BUDGET_CASES[entry](spark, tmp_path)]
    assert forced == default
    assert all(default)
