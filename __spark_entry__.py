"""Driver contract for the resolve_spark engine.

``entry``    — flagship: end-to-end document dedup (blocking -> pair
               scoring -> connected components) on sf0.001.
``queries``  — one entry per implemented operator family from
               SURVEY.md §2 (IDs noted per query).
``oracle_sql`` — DuckDB-equivalent SQL for ALL 45 queries.
               The randomized operators (MinHash q19/q28, SimHash q27,
               SRP-LSH q30, IVF q32) run here under
               ``hash_impl="portable"`` — an md5-derived hash family
               (resolve_spark/functions/hashing.py) computable
               bit-identically in Spark, numpy and DuckDB, so the full
               banding/bucketing/clustering dataflow is SQL-checkable
               (xxhash64/siphash stays the fast default elsewhere).
               q20's composite needs the reference's exact Jaro-Winkler;
               DuckDB's builtin is semantically different (it gates the
               prefix boost at 0.7 AND uses a different matching rule —
               verified 0.70 vs the reference's 0.6722 on 'hot plate'/
               'blue plate'), so the oracle implements the reference
               algorithm itself as a recursive CTE (_q20_oracle_sql).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resolve_spark.config import BlockingConfig
from resolve_spark.functions import normalize as N
from resolve_spark.functions import similarity as S
from resolve_spark.functions import fields as FD
from resolve_spark.functions.embedding import cosine_similarity_native
from resolve_spark.functions import text as TX
from resolve_spark.operators import ann as ANN
from resolve_spark.operators import blocking as B
from resolve_spark.operators import clustering as C
from resolve_spark.operators import dedup as DD
from resolve_spark.operators.budgets import fits, vocab_bitmask
from resolve_spark.operators.pairs import candidate_pairs
from resolve_spark.sources import tables as T

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a base table, spread across the cluster.

    r7: the testdata parquet files are single-row-group, so their scans
    produce 1-2 splits and every downstream map-side stage — including
    the probe side of broadcast self-joins, where pair generation
    explodes 3-4 orders of magnitude — otherwise runs on 1-2 of N cores
    (observed: q84's 50M-pair brand join ran as ONE task). A round-robin
    repartition to the default parallelism after the scan parallelizes
    every such stage; filters/pruning still push through the exchange to
    the scan (guide §2.6, §6.1). Partition count derives from the
    session (local[N] -> N), never a constant."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return df.repartition(spark.sparkContext.defaultParallelism)


_STOP_SQL = "(" + ",".join(f"'{w}'" for w in N.STOPWORDS) + ")"

# DuckDB replica of normalize_text (N1)
_NORM_TEXT_SQL = (
    "array_to_string(list_filter(string_split("
    "regexp_replace(trim(lower({c})), '\\s+', ' ', 'g'), ' '), "
    f"x -> x <> '' AND x NOT IN {_STOP_SQL}), ' ')"
)

_LEGAL_SUFFIX_SQL = (
    r"\s+(inc\.?|incorporated|corp\.?|corporation|llc|ltd\.?|limited"
    r"|llp|l\.l\.p\.?|pllc|p\.l\.l\.c\.?|pc|p\.c\.?)$"
)

# DuckDB replica of normalize_name (N2) applied to an already-built norm-text expr
def _norm_name_sql(c: str) -> str:
    t = _NORM_TEXT_SQL.format(c=c)
    return (
        "trim(regexp_replace(regexp_replace(" + t +
        f", '{_LEGAL_SUFFIX_SQL}', '', 'g'), '\\b([a-z])\\.', '\\1', 'g'))"
    )

# DuckDB replica of the Go tokenizer (K8) on ASCII text
_TOKENS_SQL = (
    "list_distinct(list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), "
    "x -> x <> ''))"
)

#: q102/q103 input — byte-identical to the q04 oracle so the
#: assignment queries score the exact pairs the Spark side reuses
_LINKAGE_PAIRS_SQL = (
    "SELECT * FROM (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, "
    "round(1.0 - levenshtein(a.p_name, b.p_name)::DOUBLE / "
    "greatest(length(a.p_name), length(b.p_name)), 6) AS lev_sim "
    "FROM part a JOIN part b ON a.p_brand = b.p_brand "
    "AND a.p_partkey < b.p_partkey "
    "WHERE a.p_partkey % 5 = 0 AND b.p_partkey % 5 = 0) WHERE lev_sim >= 0.5"
)


def _mutual_best_sql(src: str) -> str:
    """One mutual-best round over `src` — the same total tie order
    (score desc, partner id asc) as operators/assignment.py."""
    return (
        "SELECT id_a, id_b, lev_sim FROM ("
        "SELECT *, row_number() OVER (PARTITION BY id_a "
        "ORDER BY lev_sim DESC, id_b) AS ra, "
        "row_number() OVER (PARTITION BY id_b "
        "ORDER BY lev_sim DESC, id_a) AS rb "
        f"FROM {src}) WHERE ra = 1 AND rb = 1"
    )


def _greedy_unrolled_sql(rounds: int) -> str:
    """greedy_one_to_one's mutual-best fixpoint unrolled to a fixed
    round count of plain SQL; unioning the final remainder makes an
    under-unrolled oracle disagree loudly instead of truncating."""
    ctes = ["rem0 AS (" + _LINKAGE_PAIRS_SQL + ")"]
    for r in range(1, rounds + 1):
        ctes.append(f"mb{r} AS ({_mutual_best_sql(f'rem{r - 1}')})")
        ctes.append(
            f"rem{r} AS (SELECT * FROM rem{r - 1} WHERE "
            f"id_a NOT IN (SELECT id_a FROM mb{r}) AND "
            f"id_b NOT IN (SELECT id_b FROM mb{r}))"
        )
    union = " UNION ALL ".join(
        [f"SELECT * FROM mb{r}" for r in range(1, rounds + 1)]
        + [f"SELECT * FROM rem{rounds}"]
    )
    return "WITH " + ", ".join(ctes) + " " + union
_TOKENS_RAW_SQL = (
    "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"
)


def _wordset_sql(words: tuple[str, ...]) -> str:
    return "(" + ",".join(f"'{w}'" for w in words) + ")"


def _build_lang_quality_sql() -> tuple[str, str]:
    from resolve_spark.functions.text import LANG_PROFILES

    toks = _TOKENS_RAW_SQL.format(c="text")
    hit = (
        "len(list_filter(toks, x -> x IN {ws}))::DOUBLE / greatest(len(toks), 1)"
    )
    s_en = hit.format(ws=_wordset_sql(LANG_PROFILES["en"]))
    s_de = hit.format(ws=_wordset_sql(LANG_PROFILES["de"]))
    s_fr = hit.format(ws=_wordset_sql(LANG_PROFILES["fr"]))
    s_es = hit.format(ws=_wordset_sql(LANG_PROFILES["es"]))
    lang_sql = (
        f"WITH t AS (SELECT doc_id, {toks} AS toks FROM documents), "
        f"s AS (SELECT doc_id, {s_en} AS s_en, {s_de} AS s_de, "
        f"{s_fr} AS s_fr, {s_es} AS s_es FROM t) "
        "SELECT doc_id, CASE WHEN greatest(s_en, s_de, s_fr, s_es) > 0.02 THEN "
        "CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
        "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
        "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END "
        "ELSE 'und' END AS lang_guess FROM s"
    )
    stop = hit.format(ws=_wordset_sql(LANG_PROFILES["en"]))
    quality_sql = (
        f"WITH t AS (SELECT doc_id, length(text) AS n_chars, {toks} AS toks, "
        "length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct "
        "FROM documents), "
        "f AS (SELECT doc_id, n_chars, greatest(len(toks), 1) AS n_toks, "
        "punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio, "
        f"{stop} AS stop_ratio FROM t) "
        "SELECT doc_id, round("
        "0.3 * least(n_chars / 200.0, 1.0) + "
        "0.25 * (CASE WHEN n_chars::DOUBLE / n_toks >= 3 "
        "AND n_chars::DOUBLE / n_toks <= 12 THEN 1.0 ELSE 0.3 END) + "
        "0.25 * (CASE WHEN punct_ratio < 0.2 THEN 1.0 ELSE 1.0 - punct_ratio END) + "
        "0.2 * least(stop_ratio * 5, 1.0), 6) AS quality FROM f"
    )
    return lang_sql, quality_sql


_LANG_ID_SQL, _QUALITY_SQL = _build_lang_quality_sql()


# ---------------------------------------------------------------------------
# entry — flagship: document dedup pipeline at sf0.001
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Blocking (token-signature + q-gram) -> budgeted pairs -> native
    Jaccard scoring -> connected components over /root/testdata/sf0.001
    documents. Returns (rid, cluster_id, cluster_size)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents").select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("rid"),
        "text", "lang",
    )
    cfg = BlockingConfig(
        enable_canopy=False, token_columns=("text",), qgram_column="text",
        minhash_column="text", max_block_size=100, neighborhood_window=10,
    )
    blocked = B.add_blocking_keys(docs, cfg)
    pairs, _ = candidate_pairs(blocked, "rid", cfg, with_stats=False)
    # tokenize ONCE per document; per-pair work is array intersection
    toks = docs.select("rid", S.tokens(F.col("text")).alias("toks"))
    a = toks.select(F.col("rid").alias("id_a"), F.col("toks").alias("ta"))
    b = toks.select(F.col("rid").alias("id_b"), F.col("toks").alias("tb"))
    edges = (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("score", S.jaccard_token_arrays(F.col("ta"), F.col("tb")))
        .where(F.col("score") >= 0.6)
        .select("id_a", "id_b", "score")
    )
    return C.assign_clusters(docs, edges, "rid")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q01_normalize_text(spark, sf_dir):  # N1
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", N.normalize_text(F.col("text")).alias("text_norm"))


def _q02_normalize_name(spark, sf_dir):  # N2
    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", N.normalize_name(F.col("p_name")).alias("name_norm"))


def _q03_canopy_key(spark, sf_dir):  # B1/B2 (canopy blocking key)
    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_name").alias("name")
    )
    p = p.withColumn("name_normalized", N.normalize_name(F.col("name")))
    return p.select(
        "p_partkey", B.canopy_key(p.columns, ("name",)).alias("block_key")
    )


def _q04_levenshtein_pairs(spark, sf_dir):  # K4 over blocked self-join
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 5 == 0)
    # r7 (guide §1.2): lev_sim is a function of the NAME PAIR alone and
    # p_name takes few distinct values (runtime-checked) — score each
    # distinct name pair once (a tiny cross of the name table), keep
    # only the qualifying ones, and expand through (brand, name) groups
    # with broadcast joins. The inherited plan evaluated the DP kernel
    # on all ~32M brand-blocked pairs (sf1.0) to keep 6.7M; this emits
    # the identical (id_a, id_b, round(lev_sim, 6) >= 0.5) rows — the
    # kernel runs on the same strings, the rounded filter moves to the
    # name-pair level where it is the same predicate — without ever
    # generating the non-qualifying record pairs.
    names = p.select("p_name").distinct()
    lev = F.round(
        S.levenshtein_similarity(F.col("na"), F.col("nb")), 6
    ).alias("lev_sim")
    if fits("q04_distinct_names", names.count()):
        nl = (
            names.select(F.col("p_name").alias("na"))
            .join(names.select(F.col("p_name").alias("nb")),
                  F.col("na") <= F.col("nb"))
            .select("na", "nb", lev)
            .where(F.col("lev_sim") >= 0.5)
        )
        m = p.select("p_partkey", "p_brand", "p_name")
        m1 = m.select(F.col("p_partkey").alias("_ra"),
                      F.col("p_brand").alias("_br"),
                      F.col("p_name").alias("na"))
        m2 = F.broadcast(
            m.select(F.col("p_partkey").alias("_rb"),
                     F.col("p_brand").alias("_br"),
                     F.col("p_name").alias("nb"))
        )
        cross = (
            m1.join(F.broadcast(nl.where(F.col("na") != F.col("nb"))), "na")
            .join(m2, ["_br", "nb"])
            .select(
                F.least("_ra", "_rb").alias("id_a"),
                F.greatest("_ra", "_rb").alias("id_b"),
                "lev_sim",
            )
        )
        within = (
            m1.join(
                F.broadcast(
                    nl.where(F.col("na") == F.col("nb")).select("na", "lev_sim")
                ),
                "na",
            )
            .join(m2.withColumnRenamed("nb", "na"), ["_br", "na"])
            .where(F.col("_ra") < F.col("_rb"))
            .select(
                F.col("_ra").alias("id_a"), F.col("_rb").alias("id_b"),
                "lev_sim",
            )
        )
        return cross.unionByName(within)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"),
                 F.col("p_brand").alias("brand"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"),
                 F.col("p_brand").alias("brand"))
    return (
        a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", lev)
        .where(F.col("lev_sim") >= 0.5)
    )


def _q05_jaccard_pairs(spark, sf_dir):  # K5 over blocked self-join
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    # tokenize ONCE per document, intersect arrays per pair
    d = d.select("doc_id", "lang", S.tokens(F.col("text")).alias("toks"))
    # r7 (guide §2.3): when the corpus vocabulary fits one machine word
    # (runtime probe), each distinct token SET is a bitmask and Jaccard
    # is two popcounts — the 13M-pair (sf1.0) lang-blocked join then
    # shuffles a long per side instead of a ~25-element string array,
    # and the per-pair work is codegen bit ops instead of array
    # intersection. |A∩B| = popcount(ma & mb) and |A| = popcount(ma)
    # are the same integers the array kernel feeds its division, and
    # the empty conventions map to popcount() == 0 — identical rows.
    vocab = vocab_bitmask(d.select(F.explode("toks").alias("tok")).distinct())
    if vocab is not None:
        _, bitmap = vocab
        dm = d.select(
            "doc_id", "lang",
            # null toks -> null mask -> null jac -> filtered, exactly
            # like size(null array) in the array kernel
            F.aggregate(
                "toks", F.lit(0).cast("long"),
                lambda acc, t: acc.bitwiseOR(F.element_at(bitmap, t)),
            ).alias("m"),
        )
        a = dm.select(F.col("doc_id").alias("id_a"), F.col("m").alias("ma"), "lang")
        b = dm.select(F.col("doc_id").alias("id_b"), F.col("m").alias("mb"), "lang")
        inter = F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))
        union = F.bit_count(F.col("ma")) + F.bit_count(F.col("mb")) - inter
        jac = (
            F.when((F.bit_count("ma") == 0) & (F.bit_count("mb") == 0), F.lit(1.0))
            .when((F.bit_count("ma") == 0) | (F.bit_count("mb") == 0), F.lit(0.0))
            .otherwise(inter / union)
        )
        return (
            a.join(b, "lang").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", F.round(jac, 6).alias("jac"))
            .where(F.col("jac") >= 0.5)
        )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"), "lang")
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"), "lang")
    return (
        a.join(b, "lang").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(S.jaccard_token_arrays(F.col("ta"), F.col("tb")), 6).alias("jac"))
        .where(F.col("jac") >= 0.5)
    )


def _q06_contained_in(spark, sf_dir):  # K7
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(
            S.contained_in(F.substring(F.col("p_name"), 1, 12), F.col("p_name")), 6
        ).alias("containment"),
    )


def _phone_cols(tbl):
    pa = F.concat(F.lpad((F.col("c_custkey") * 7 % 1000).cast("string"), 3, "0"),
                  F.lit("-555-"),
                  F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"))
    return pa


def _q07_phone_ladder(spark, sf_dir):  # F3 (trailing-digit ladder)
    c = _t(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("id_a"), _phone_cols(c).alias("pa"),
                 F.col("c_nationkey").alias("nk"))
    c2 = _t(spark, sf_dir, "customer")
    b = c2.select((F.col("c_custkey")).alias("id_b"), _phone_cols(c2).alias("pb"),
                  F.col("c_nationkey").alias("nk"))
    return (
        a.join(b, "nk").where((F.col("id_b") > F.col("id_a")) & (F.col("id_b") - F.col("id_a") <= 3))
        .select("id_a", "id_b",
                F.round(S.phone_similarity(F.col("pa"), F.col("pb")), 6).alias("phone_sim"))
    )


def _q08_zip_ladder(spark, sf_dir):  # F5 (leading-digit ladder)
    c = _t(spark, sf_dir, "customer")
    za = F.lpad((F.col("c_custkey") % 100000).cast("string"), 5, "0")
    zb = F.lpad(((F.col("c_custkey") + F.col("c_nationkey")) % 100000).cast("string"), 5, "0")
    return c.select(
        "c_custkey", F.round(S.zip_similarity(za, zb), 6).alias("zip_sim")
    )


def _q09_exact_dedup(spark, sf_dir):  # dedup: exact (hash-groupBy)
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.count("*").alias("dup_count"))
    )


def _q10_topk_per_group(spark, sf_dir):  # M1 per-query top-k window
    from pyspark.sql import Window
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_nationkey", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"), "rk")
    )


def _q11_group_stats(spark, sf_dir):  # G5 mode/agreement/confidence
    from pyspark.sql.types import StructType, StructField, StringType, DoubleType
    c = _t(spark, sf_dir, "customer")
    ents = c.select(F.col("c_custkey").cast("string").alias("rid"),
                    F.col("c_mktsegment").alias("segment"),
                    F.col("c_nationkey").cast("string").alias("nation"))
    sizes = c.groupBy("c_nationkey").agg(F.count("*").alias("cluster_size"))
    clusters = c.join(sizes, "c_nationkey").select(
        F.col("c_custkey").cast("string").alias("rid"),
        F.col("c_nationkey").cast("string").alias("cluster_id"),
        "cluster_size",
    )
    empty_edges = spark.createDataFrame([], StructType([
        StructField("id_a", StringType()), StructField("id_b", StringType()),
        StructField("score", DoubleType()),
    ]))
    stats = C.group_statistics(clusters, ents, empty_edges, "rid", ["segment"])
    return stats.select(
        "cluster_id", "size", "field", "mode_value",
        F.round("agreement", 6).alias("agreement"),
        F.round("confidence", 6).alias("confidence"),
    )


def _q12_connected_components(spark, sf_dir):  # G3 transitive closure
    c = _t(spark, sf_dir, "customer")
    rid = F.lpad(F.col("c_custkey").cast("string"), 6, "0")
    a = c.select(F.col("c_custkey").alias("k"), rid.alias("id_a"),
                 "c_mktsegment", "c_nationkey")
    b = c.select((F.col("c_custkey") - 1).alias("k"), rid.alias("id_b"),
                 F.col("c_mktsegment").alias("seg_b"), F.col("c_nationkey").alias("nk_b"))
    edges = a.join(b, "k").where(
        (F.col("c_mktsegment") == F.col("seg_b")) & (F.col("c_nationkey") == F.col("nk_b"))
    ).select("id_a", "id_b")
    return C.connected_components(edges).select("rid", "cluster_id")


def _q13_embedding_topk(spark, sf_dir):  # similarity search: brute-force cosine top-k
    # r7: same exact top-3 (cos rounded half-up to 4 BEFORE ranking,
    # ties to the smaller cand_id), computed as one BLAS matmul per
    # Arrow batch with per-task partial top-k instead of a 2-task
    # cross join evaluating nq*n interpreted zip_with/aggregate
    # cosines (guide §4.2; the old plan ran on <=2 scan partitions).
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb")
    )
    cand = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("emb"))
    return ANN.cosine_topk_matmul(
        q, cand, k=3, query_id="query_id", cand_id="cand_id", vec="emb",
        round_to=4, exclude_self=True,
    ).select("query_id", "cand_id", "cos", "rk")


def _q14_entity_count(spark, sf_dir):  # S9
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")


def _q15_point_lookup(spark, sf_dir):  # S4
    d = _t(spark, sf_dir, "documents")
    return T.get_entity(d, "doc_id", 42).select("doc_id", "lang", "source", "n_chars")


def _q16_paginated_list(spark, sf_dir):  # S5
    d = _t(spark, sf_dir, "documents")
    return T.list_entities(d, "doc_id", offset=100, limit=25).select("doc_id", "n_chars")


def _q17_email_domain_key(spark, sf_dir):  # B1 email component
    c = _t(spark, sf_dir, "customer")
    email = F.concat(F.lit("user"), F.col("c_custkey").cast("string"), F.lit("@"),
                     F.lower(F.col("c_mktsegment")), F.lit(".example.com"))
    ents = c.select("c_custkey", email.alias("email"))
    return ents.groupBy(
        B._key_component("email", F.col("email")).alias("domain")
    ).agg(F.count("*").alias("n"))


def _q18_token_signature(spark, sf_dir):  # north-rule token blocking pass
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", B.token_signature_key([F.col("text")]).alias("token_key")
    )


def _q19_minhash_bands(spark, sf_dir):  # MinHash-LSH pass (portable hash, oracled)
    d = _t(spark, sf_dir, "documents")
    mh = B.minhash_band_keys_udf(num_hashes=64, bands=16, hash_impl="portable")
    return (
        d.select("doc_id", F.explode(mh(F.col("text"))).alias("band_key"))
        .groupBy("band_key").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


def _q20_name_similarity(spark, sf_dir):  # F1 composite (rows-only: JW-bearing)
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 20 == 0)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"),
                 F.col("p_brand").alias("brand"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"),
                 F.col("p_brand").alias("brand"))
    return (
        a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(FD.similarity_column("name", F.col("na"), F.col("nb")), 6).alias("name_sim"))
        .where(F.col("name_sim") >= 0.5)
    )


def _q21_merge_upsert(spark, sf_dir):  # S6/S8 merge
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey",
                                             "c_acctbal", "c_mktsegment")
    updates = c.where(F.col("c_custkey") % 100 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    merged = T.merge_entities(c, updates, "c_custkey")
    return merged.select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))


def _q22_delete(spark, sf_dir):  # S7 delete
    c = _t(spark, sf_dir, "customer")
    ids = c.where(F.col("c_custkey") % 10 == 0)
    remaining = T.delete_entities(c, ids, "c_custkey")
    return remaining.groupBy("c_mktsegment").agg(F.count("*").alias("n"))


def _q23_lang_id(spark, sf_dir):  # text analysis: language ID heuristic
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.lang_id(F.col("text")).alias("lang_guess"))


def _q24_quality_score(spark, sf_dir):  # text analysis: quality scoring
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(TX.quality_score(F.col("text")), 6).alias("quality"))


def _q25_token_stats(spark, sf_dir):  # text analysis: token counting
    d = _t(spark, sf_dir, "documents")
    # bigint on both sides: the driver's value hash is dtype-sensitive and
    # DuckDB's len()/list_sum emit BIGINT/HUGEINT where Spark size() is int32
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        TX.subword_count_estimate(F.col("text")).cast("bigint").alias("n_subwords"),
    )


def _q26_dup_histogram(spark, sf_dir):  # fingerprint dedup histogram
    d = _t(spark, sf_dir, "documents")
    groups = d.groupBy(TX.content_fingerprint(F.col("text")).alias("fp")).agg(
        F.count("*").alias("dup_count")
    )
    return groups.groupBy("dup_count").agg(F.count("*").alias("n_groups"))


def _q27_simhash_pairs(spark, sf_dir):  # SimHash near-dup (portable hash, oracled)
    d = _t(spark, sf_dir, "documents")
    return DD.simhash_duplicates(
        d, "doc_id", "text", max_hamming=7, hash_impl="portable"
    ).where(F.col("cluster_size") > 1)


def _q28_minhash_clusters(spark, sf_dir):  # MinHash dedup clusters (portable, oracled)
    d = _t(spark, sf_dir, "documents")
    out = DD.minhash_duplicates(
        d, "doc_id", "text", jaccard_threshold=0.8, hash_impl="portable"
    )
    return out.groupBy("cluster_size").agg(F.count("*").alias("n_records"))


def _q29_exact_dedup_clusters(spark, sf_dir):  # dedup: exact assignment
    d = _t(spark, sf_dir, "documents")
    return DD.exact_duplicates(d, "doc_id", "text")


def _q30_lsh_topk(spark, sf_dir):  # ANN: LSH-bucketed cosine (portable, oracled)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("cand_id"), "embedding")
    out = ANN.lsh_topk(q, c, k=3, planes=10, tables=4, hash_impl="portable")
    return out.select("query_id", "cand_id", F.round("cos", 4).alias("cos"), "rk")


def _q31_brute_force_topk(spark, sf_dir):  # ANN: exact baseline (oracled)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("cand_id"), "embedding")
    out = ANN.brute_force_topk(q, c, k=3)
    return out.select("query_id", "cand_id", F.round("cos", 4).alias("cos"), "rk")


def _q32_ivf_topk(spark, sf_dir):  # ANN: IVF coarse search (portable, oracled)
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("cand_id"), "embedding")
    out = ANN.ivf_topk(q, c, k=3, ncells=8, nprobe=3, hash_impl="portable")
    return out.select("query_id", "cand_id", F.round("cos", 4).alias("cos"), "rk")


def _q33_rolling_windows(spark, sf_dir):  # fingerprinting: window counts
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(TX.rolling_window_fingerprints(F.col("text"))).alias("n_windows"),
    )


def _q34_media_stats(spark, sf_dir):  # multimodal plumbing (oracled)
    # media derives from the documents table (payload = utf-8 text bytes)
    # so the mapInPandas feature path is checkable by plain SQL
    from resolve_spark.operators import multimodal as MM
    d = _t(spark, sf_dir, "documents")
    media = MM.media_from_documents(d)
    feats = MM.extract_features(media, dim=8)
    return feats.groupBy("media_type").agg(
        F.count("*").alias("n"), F.round(F.avg("n_bytes"), 2).alias("avg_bytes")
    )


def _q35_find_matches(spark, sf_dir):  # M1/M2 batch matching (oracled)
    from resolve_spark.operators.matching import find_matches
    from resolve_spark.operators.scoring import FieldSpec
    c = _t(spark, sf_dir, "customer")
    ents = c.select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").cast("string").alias("block_key"),
    )
    qs = ents.where(F.col("id") % 200 == 0).withColumnRenamed("id", "query_id")
    specs = [FieldSpec("name", "name", "levenshtein", 1.0),
             FieldSpec("segment", "segment", "exact", 1.0)]
    out = find_matches(qs, ents, specs, limit=5, threshold=0.6)
    return out.select(
        "query_id", "match_id", F.round("score", 6).alias("score"), "rank"
    )


def _q36_cosine_tf(spark, sf_dir):  # K6 TF-cosine (rows-only: pUDF kernel)
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    a = d.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"), "lang")
    b = d.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"), "lang")
    udf = FD.pair_scorer_udf("cosine")
    return (
        a.join(b, "lang").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(udf(F.col("ta"), F.col("tb")), 6).alias("cos_tf"))
        .where(F.col("cos_tf") >= 0.5)
    )


def _edges_for_groups(spark, sf_dir):
    """Deterministic scored edges over customers (for G2/G4 queries)."""
    c = _t(spark, sf_dir, "customer")
    rid = F.lpad(F.col("c_custkey").cast("string"), 6, "0")
    a = c.select(F.col("c_custkey").alias("k"), rid.alias("id_a"), "c_nationkey")
    b = c.select((F.col("c_custkey") - 1).alias("k"), rid.alias("id_b"),
                 F.col("c_nationkey").alias("nk_b"), F.col("c_acctbal").alias("bal_b"))
    return (
        a.join(b, "k")
        .where(F.col("c_nationkey") == F.col("nk_b"))
        .select("id_a", "id_b",
                F.round(F.lit(0.8) + (F.col("bal_b") % 200) / 1000.0, 6).alias("score"))
    )


def _q37_direct_group(spark, sf_dir):  # G2 — 1-hop group of each seed
    edges = _edges_for_groups(spark, sf_dir)
    seeds = edges.where(F.col("id_a").substr(-1, 1) == "0").select(
        F.col("id_a").alias("seed")
    ).distinct()
    e = edges
    out = (
        seeds.join(e, (e.id_a == seeds.seed) | (e.id_b == seeds.seed))
        .select(
            "seed",
            F.when(F.col("id_a") == F.col("seed"), F.col("id_b"))
            .otherwise(F.col("id_a")).alias("rid"),
            "score",
        )
    )
    return out


def _q38_hybrid_edges(spark, sf_dir):  # G4 — two-threshold hybrid edges
    edges = _edges_for_groups(spark, sf_dir)
    return C.hybrid_edges(edges, threshold=0.85).select("id_a", "id_b", "score")


def _q39_match_groups(spark, sf_dir):  # G1/G3/G4 — per-seed hop-limited BFS
    edges = _edges_for_groups(spark, sf_dir)
    seeds = edges.where(F.col("id_a").substr(-1, 1) == "0").select(
        F.col("id_a").alias("seed")
    ).distinct()
    return C.match_groups(
        edges, seeds, threshold=0.85, strategy="hybrid",
        hops_limit=3, max_group_size=100,
    ).select("seed", "rid", "hop_distance", F.round("score", 6).alias("score"), "rank")


def _q40_windowed_events(spark, sf_dir):  # event-time tumbling windows
    e = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def _q41_json_props(spark, sf_dir):  # semi-structured JSON column extraction
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.groupBy((k % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
    )


def _q42_user_sessions(spark, sf_dir):  # gap-based sessionization (30 min)
    from pyspark.sql import Window as W
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC so the cast is an
    # identity relabel (matches DuckDB's naive epoch_us)
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = tus - F.lag(tus).over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").cast("int").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


def _q43_decontamination(spark, sf_dir):  # benchmark n-gram decontamination
    from resolve_spark.operators.decontaminate import ngram_contamination
    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 29 == 0)
    corpus = d.where(F.col("doc_id") % 29 != 0)
    return ngram_contamination(corpus, bench, "doc_id", "text", n=4,
                               hash_impl="portable")


def _q44_stratified_sample(spark, sf_dir):  # deterministic hash-threshold sample
    from resolve_spark.operators.sampling import stratified_sample
    d = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        d, "doc_id", {"en": 0.4, "de": 0.8, "zh": 0.25},
        strata_col="lang", salt="s44", hash_impl="portable",
    )
    return out.select("doc_id", "lang", "source")


def _q45_quota_sample(spark, sf_dir):  # exact per-stratum quota (n hash-smallest)
    from resolve_spark.operators.sampling import quota_sample
    d = _t(spark, sf_dir, "documents")
    out = quota_sample(d, "doc_id", "lang", n=25, hash_impl="portable")
    return out.select("doc_id", "lang", "n_chars")


def _pair_customers(spark, sf_dir, max_gap: int = 2):
    """Deterministic customer self-pairs: same nation, custkey gap <= max_gap.
    Shared scaffold for the composite-kernel queries q46/q47/q50/q51.

    r7 (guide §3.3): the a-side explodes on the exact partner offset
    1..max_gap and the join is a pure equi-join on (nation, id_a + k =
    id_b) — the old theta join on the 25-value nation key alone
    evaluated the full 900M-row block cross product at sf1.0 to keep
    ~0.03% of it. Identical row set by construction (0 < id_b - id_a
    <= max_gap  <=>  id_b = id_a + k for exactly one k in 1..max_gap)."""
    c = _t(spark, sf_dir, "customer")
    a = c.select(F.col("c_custkey").alias("id_a"),
                 F.col("c_mktsegment").alias("seg_a"),
                 F.col("c_nationkey").alias("nk"),
                 F.explode(F.sequence(F.lit(1), F.lit(max_gap))).alias("_k"))
    c2 = _t(spark, sf_dir, "customer")
    b = c2.select(F.col("c_custkey").alias("id_b"),
                  F.col("c_mktsegment").alias("seg_b"),
                  F.col("c_nationkey").alias("_nkb"))
    return a.join(
        b,
        (F.col("nk") == F.col("_nkb"))
        & (F.col("id_b") == F.col("id_a") + F.col("_k")),
    ).drop("_k", "_nkb")


def _q46_address_similarity(spark, sf_dir):  # F2 composite (oracled, new r4)
    """AddressSimilarity (fields.go:89-256): (0.5*jaccard + 0.2*JW +
    0.3*contained) * house-number penalty, with unit-clause removal and
    street-type/directional abbreviation in the preprocess. Addresses are
    synthesized from customer columns so the DuckDB oracle can rebuild
    the exact inputs; the oracle replicates the preprocess and runs the
    reference JW as a recursive CTE (shared _JW_CHAIN_SQL)."""
    p = _pair_customers(spark, sf_dir)
    addr_a = F.concat((F.col("id_a") % 150).cast("string"), F.lit(" "),
                      F.lower(F.col("seg_a")), F.lit(" Street"))
    addr_b = (
        F.when(F.col("id_b") % 3 == 0,
               F.concat((F.col("id_a") % 150).cast("string"), F.lit(" "),
                        F.lower(F.col("seg_a")), F.lit(" Street")))
        .when(F.col("id_b") % 3 == 1,
              F.concat((F.col("id_b") % 150).cast("string"), F.lit(" "),
                       F.lower(F.col("seg_b")), F.lit(" St Apt "),
                       (F.col("id_b") % 20).cast("string")))
        .otherwise(F.concat((F.col("id_a") % 150).cast("string"), F.lit(" North "),
                            F.lower(F.col("seg_b")), F.lit(" Avenue")))
    )
    return p.select(
        "id_a", "id_b",
        F.round(FD.similarity_column("address", addr_a, addr_b), 6).alias("addr_sim"),
    )


def _q47_email_similarity(spark, sf_dir):  # F4 composite (oracled, new r4)
    """EmailSimilarity (fields.go:335-406): exact 1.0 / case-fold 0.99 /
    unparseable -> JW on full strings / domain mismatch -> 0.0 /
    else 0.4*JW(users) + 0.6."""
    p = _pair_customers(spark, sf_dir)
    ea = F.concat(F.lit("User"), F.col("id_a").cast("string"), F.lit("@"),
                  F.lower(F.col("seg_a")), F.lit(".example.com"))
    eb = (
        F.when(F.col("id_b") % 11 == 0, ea)
        .when(F.col("id_b") % 7 == 0, F.upper(ea))
        .when(F.col("id_b") % 13 == 0,
              F.concat(F.lit("invalid-email-"), F.col("id_b").cast("string")))
        .otherwise(F.concat(F.lit("User"), F.col("id_b").cast("string"), F.lit("@"),
                            F.lower(F.col("seg_b")), F.lit(".example.com")))
    )
    return p.select(
        "id_a", "id_b",
        F.round(FD.similarity_column("email", ea, eb), 6).alias("email_sim"),
    )


def _q48_normalize_multi(spark, sf_dir):  # N3/N4/N5/N6/N7 in one projection
    """Address/phone/email/state/zip normalization (normalize.go:180-294)
    over synthesized inputs covering every branch: E.164 passthrough and
    conversion, invalid passthrough, domain lowercasing, full-state map,
    2-letter upper, zip+4 truncation, letter-led postcode passthrough."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    street = F.element_at(
        F.array(F.lit("Street"), F.lit("Avenue"), F.lit("Boulevard")),
        (k % 3 + 1).cast("int"),
    )
    addr_in = F.concat(
        (k % 999).cast("string"), F.lit(" Main "), street,
        F.when(k % 5 == 0, F.lit(".")).otherwise(F.lit("")),
        F.when(k % 4 == 0,
               F.concat(F.lit(" Apt "), (k % 50).cast("string"))
               ).otherwise(F.lit("")),
    )
    phone_in = (
        F.when(k % 7 == 0, F.lit("not a phone"))
        .when(k % 10 == 0, F.lit("+15551234567"))
        .otherwise(F.concat(F.lit("("), F.lpad((k * 7 % 1000).cast("string"), 3, "0"),
                            F.lit(") 555-"), F.lpad((k % 10000).cast("string"), 4, "0")))
    )
    email_in = (
        F.when(k % 13 == 0, F.lit("not-an-email"))
        .otherwise(F.concat(F.lit("User"), k.cast("string"), F.lit("@EXAMPLE"),
                            (k % 5).cast("string"), F.lit(".COM")))
    )
    state_in = F.element_at(
        F.array(F.lit("california"), F.lit("New York"), F.lit("tx"), F.lit("WA"),
                F.lit("rhode island"), F.lit(""), F.lit("atlantis")),
        (k % 7 + 1).cast("int"),
    )
    zip5 = F.lpad((k % 100000).cast("string"), 5, "0")
    zip_in = (
        F.when(k % 4 == 0, zip5)
        .when(k % 4 == 1, F.concat(zip5, F.lit("-"),
                                   F.lpad((k % 10000).cast("string"), 4, "0")))
        .when(k % 4 == 2, F.lit("A1B 2C3"))
        .otherwise(F.lit("123"))
    )
    return c.select(
        "c_custkey",
        N.normalize_address(addr_in).alias("addr_norm"),
        N.normalize_phone(phone_in).alias("phone_norm"),
        N.normalize_email(email_in).alias("email_norm"),
        N.normalize_state(state_in).alias("state_norm"),
        N.normalize_zip(zip_in).alias("zip_norm"),
    )


def _q49_combine_embed(spark, sf_dir):  # E1 combineFields + E4 mock embedding
    """combine_fields drops null/empty fields then joins with ' '
    (match.go:656-664); mock embedding emb[i] = byte(text[i])/255.0,
    zero-padded (embed.go:233-242). Byte values are recovered as
    round(emb[i]*255) so the float32 array is integer-checkable; e0
    pins the /255.0 scale at 4 decimals (float32 error ~3e-8 is far
    inside the rounding boundary)."""
    from resolve_spark.functions import embedding as E
    c = _t(spark, sf_dir, "customer")
    combined = E.combine_fields([
        F.col("c_name"), F.lit(""), F.col("c_mktsegment"),
        F.lit(None).cast("string"),
    ])
    d = c.select(
        "c_custkey", combined.alias("combined"),
        E.mock_embedding_udf(16)(combined).alias("emb"),
        # 3-char input: indices >= 3 must zero-pad
        E.mock_embedding_udf(16)(F.substring(F.col("c_mktsegment"), 1, 3)).alias("emb2"),
    )
    def _byte(col, i):  # widen float32 -> double BEFORE the multiply:
        # 255 * halfulp(float32 b/255) sits exactly on the float32
        # rounding boundary, so float32 math could land on b +- 1
        return F.round(F.element_at(col, i).cast("double") * 255).cast("int")

    return d.select(
        "c_custkey", "combined",
        _byte(F.col("emb"), 1).alias("b0"),
        _byte(F.col("emb"), 6).alias("b5"),
        _byte(F.col("emb"), 16).alias("b15"),
        F.round(F.element_at(F.col("emb"), 1).cast("double"), 4).alias("e0"),
        _byte(F.col("emb2"), 11).alias("pad_b10"),
    )


def _q50_vector_blend(spark, sf_dir):  # M5 (vec + weighted)/2 blend (match.go:378-384)
    """score_pairs with vector_col: weighted field score, cosine vector
    score, and the reference blend. Vectors are native double arrays
    (ascii(name[i])/255.0) so DuckDB recomputes them exactly."""
    from resolve_spark.operators.scoring import FieldSpec, score_pairs
    c = _t(spark, sf_dir, "customer")
    vec_expr = F.expr(
        "transform(sequence(0, 15), i -> CASE WHEN i < length(c_name) "
        "THEN ascii(substring(c_name, i + 1, 1)) / 255.0 ELSE 0.0 END)"
    )
    base = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
                    F.col("c_mktsegment").alias("segment"),
                    F.col("c_nationkey").alias("nk"), vec_expr.alias("vec"))
    # r7: exploded-offset equi-join, same row set as the theta join on
    # nation alone (see _pair_customers)
    a = base.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"),
                    F.col("segment").alias("segment_a"),
                    F.col("vec").alias("vec_a"), "nk",
                    F.explode(F.sequence(F.lit(1), F.lit(3))).alias("_k"))
    b = base.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"),
                    F.col("segment").alias("segment_b"),
                    F.col("vec").alias("vec_b"), F.col("nk").alias("_nkb"))
    wide = a.join(
        b,
        (F.col("nk") == F.col("_nkb"))
        & (F.col("id_b") == F.col("id_a") + F.col("_k")),
    ).drop("_k", "_nkb")
    specs = [FieldSpec("name", "name", "levenshtein", 1.0),
             FieldSpec("segment", "segment", "exact", 1.0)]
    out = score_pairs(wide, specs, vector_col="vec", blend_with_vector=True)
    return out.select(
        "id_a", "id_b",
        F.round("weighted_score", 6).alias("w_score"),
        F.round("vec_score", 6).alias("v_score"),
        F.round("score", 6).alias("score"),
    )


def _q55_threshold_on_vector(spark, sf_dir):  # match.go:237-240 threshold point
    """score_pairs(threshold_on='vector'): the reference thresholds on
    the VECTOR similarity before field scoring, so kept rows can carry
    a blended final score below the threshold. Vectors are built from
    the customer-key digits (centered so cosines spread 0.54-0.997;
    the nearest value to the 0.8 cutoff is 0.0028 away — far outside
    any float64 summation-order divergence between engines). The query
    DISTINGUISHES the semantics, not just the filter syntax: at sf0.01,
    148 of the 175 kept rows carry a blend below 0.8 — final-score
    thresholding would drop them."""
    from resolve_spark.operators.scoring import FieldSpec, score_pairs
    c = _t(spark, sf_dir, "customer")
    vec_expr = F.expr(
        "transform(sequence(0, 15), i -> CASE WHEN i < length(substring(c_name, 10, 9)) "
        "THEN (ascii(substring(substring(c_name, 10, 9), i + 1, 1)) - 52.5) / 10.0 "
        "ELSE 0.0 END)"
    )
    base = c.select(F.col("c_custkey").alias("id"), F.col("c_name").alias("name"),
                    F.col("c_mktsegment").alias("segment"),
                    F.col("c_nationkey").alias("nk"), vec_expr.alias("vec"))
    # r7: exploded-offset equi-join, same row set as the theta join on
    # nation alone (see _pair_customers)
    a = base.select(F.col("id").alias("id_a"), F.col("name").alias("name_a"),
                    F.col("segment").alias("segment_a"),
                    F.col("vec").alias("vec_a"), "nk",
                    F.explode(F.sequence(F.lit(1), F.lit(3))).alias("_k"))
    b = base.select(F.col("id").alias("id_b"), F.col("name").alias("name_b"),
                    F.col("segment").alias("segment_b"),
                    F.col("vec").alias("vec_b"), F.col("nk").alias("_nkb"))
    wide = a.join(
        b,
        (F.col("nk") == F.col("_nkb"))
        & (F.col("id_b") == F.col("id_a") + F.col("_k")),
    ).drop("_k", "_nkb")
    specs = [FieldSpec("name", "name", "levenshtein", 1.0),
             FieldSpec("segment", "segment", "exact", 1.0)]
    out = score_pairs(wide, specs, threshold=0.8, threshold_on="vector",
                      vector_col="vec", blend_with_vector=True)
    return out.select(
        "id_a", "id_b",
        F.round("weighted_score", 6).alias("w_score"),
        F.round("vec_score", 6).alias("v_score"),
        F.round("score", 6).alias("score"),
    )


def _q56_gopher_quality(spark, sf_dir):  # Gopher repetition/quality gates
    """Gopher-style quality flags (Rae et al. 2021 §A1.1) over planted
    line structure: doc_id%3==0 -> a duplicated line (dup_line 1/3,
    fails), ==1 -> all-bullet lines (bullet_frac 1.0, fails), ==2 ->
    a 4-line doc with one ellipsis line (passes). All ratios are
    small-denominator rationals, so round(.,6) can't straddle a
    half-even/HALF_UP printf boundary between engines."""
    d = _t(spark, sf_dir, "documents")
    base = F.substring(F.col("text"), 1, 80)
    nl = F.lit("\n")
    sid = F.col("doc_id").cast("string")
    t2 = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(base, nl, base, nl, F.lit("tail "), sid))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.lit("- "), base, nl, F.lit("- bullet two"), nl,
                       F.lit("- bullet three")))
        .otherwise(F.concat(base, nl, F.lit("line two "), sid, nl,
                            F.lit("line three"), nl, F.lit("wait for it...")))
    )
    flags = TX.gopher_quality_flags(t2, min_words=5)
    return d.select("doc_id", flags.alias("g")).select(
        "doc_id",
        F.col("g.n_words").cast("bigint").alias("n_words"),
        F.round("g.mean_word_len", 6).alias("mean_word_len"),
        F.round("g.dup_line_frac", 6).alias("dup_line_frac"),
        F.round("g.dup_word_frac", 6).alias("dup_word_frac"),
        F.round("g.symbol_ratio", 6).alias("symbol_ratio"),
        F.round("g.alpha_frac", 6).alias("alpha_frac"),
        F.round("g.bullet_frac", 6).alias("bullet_frac"),
        F.round("g.ellipsis_frac", 6).alias("ellipsis_frac"),
        F.col("g.passes").cast("int").alias("passes"),
    )


def _q57_pii_redaction(spark, sf_dir):  # PII scrub (C4/CCNet hygiene pass)
    """redact_pii + pii_counts over planted PII: doc_id%4==0 -> two
    emails, ==1 -> a formatted phone, ==2 -> an IPv4 and an SSN,
    ==3 -> clean. Counts are taken on the progressively-redacted text
    (a span is attributed to exactly one category)."""
    d = _t(spark, sf_dir, "documents")
    base = F.substring(F.col("text"), 1, 60)
    sid = F.col("doc_id").cast("string")
    t2 = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(base, F.lit(" contact user"), sid,
                        F.lit("@example.com or admin@test.org")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(base, F.lit(" call +1 (555) 010-"),
                       F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                       F.lit(" now")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(base, F.lit(" host 10.0."),
                       (F.col("doc_id") % 256).cast("string"),
                       F.lit(".7 ssn 123-45-6789")))
        .otherwise(base)
    )
    c = TX.pii_counts(t2)
    return d.select("doc_id", c.alias("c"), TX.redact_pii(t2).alias("redacted")).select(
        "doc_id",
        F.col("c.email").cast("bigint").alias("n_email"),
        F.col("c.ipv4").cast("bigint").alias("n_ipv4"),
        F.col("c.ssn").cast("bigint").alias("n_ssn"),
        F.col("c.phone").cast("bigint").alias("n_phone"),
        "redacted",
    )


def _q58_chunk_documents(spark, sf_dir):  # context-window chunking
    """chunk_documents: 16-token windows every 8 tokens (50% overlap)
    — the pretraining context-window layout op. Pure map + explode."""
    from resolve_spark.operators.sharding import chunk_documents
    d = _t(spark, sf_dir, "documents")
    out = chunk_documents(d, "text", "doc_id", chunk_tokens=16, stride=8)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
    )


def _q59_pack_shards(spark, sf_dir):  # token-budget shard packing
    """pack_shards: greedy 2000-token shards in doc_id order via the
    DISTRIBUTED prefix sum (range partition -> parallel per-partition
    cumsum -> broadcast offsets), cross-checked against the oracle's
    global window cumsum."""
    from resolve_spark.operators.sharding import pack_shards
    d = _t(spark, sf_dir, "documents")
    d = d.select("doc_id", TX.token_count(F.col("text")).cast("bigint").alias("n_tok"))
    out = pack_shards(d, token_col="n_tok", order_col="doc_id",
                      tokens_per_shard=2000)
    return out.select("doc_id", "n_tok", "tokens_before", "shard_id")


def _q60_repeated_ngrams(spark, sf_dir):  # span-level duplication profile
    """repeated_ngram_stats: fraction of each doc's 8-token windows
    whose text recurs in >= 2 distinct docs (window-hash approximation
    of exact-substring dedup, Lee et al. 2022). Never all-pairs: the
    explode is linear in corpus tokens and the shared-window set is one
    hash-partitioned agg."""
    from resolve_spark.operators.dedup import repeated_ngram_stats
    d = _t(spark, sf_dir, "documents")
    return repeated_ngram_stats(
        d, "doc_id", "text", n=8, min_docs=2, hash_impl="portable"
    )


def _q61_canonical_keeper(spark, sf_dir):  # keeper selection per dup cluster
    """select_canonical over exact-dup clusters ranked by the q24
    quality score (ties -> lowest rid): the "which copy do we train
    on" step after a dedup pass. One window shuffle on cluster_id."""
    from resolve_spark.operators.dedup import exact_duplicates, select_canonical
    d = _t(spark, sf_dir, "documents")
    clusters = exact_duplicates(d, "doc_id", "text")
    quality = d.select(
        F.col("doc_id").alias("rid"),
        F.round(TX.quality_score(F.col("text")), 6).alias("quality"),
    )
    return select_canonical(clusters.join(quality, "rid")).select(
        "rid", "cluster_id", "cluster_size", "quality", "keep"
    )


def _q62_mixture_sample(spark, sf_dir):  # waterfill domain-mixture sample
    """mixture_sample: down-sample documents to the target lang mixture
    en/de/fr/es/zh = 50/20/15/10/5 at the largest total that upsamples
    nothing (waterfill), portable hash coin so DuckDB replays the keep
    decision bit-exactly."""
    from resolve_spark.operators.sampling import mixture_sample
    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d, "doc_id", "lang",
        {"en": 0.5, "de": 0.2, "fr": 0.15, "es": 0.1, "zh": 0.05},
        salt="mx62", hash_impl="portable",
    )
    return out.select("doc_id", "lang", "source")


def _q63_remove_spans(spark, sf_dir):  # exact-substring span removal
    """remove_repeated_spans: drop every token covered by an 8-token
    window shared by >= 2 docs (the acting counterpart of q60 — Lee et
    al. 2022 exact-substring dedup at window-hash granularity). Fully
    relational: covered positions explode as rows and anti-join the
    token stream; one agg rebuilds each doc."""
    from resolve_spark.operators.dedup import remove_repeated_spans
    d = _t(spark, sf_dir, "documents")
    return remove_repeated_spans(
        d, "doc_id", "text", n=8, min_docs=2, hash_impl="portable"
    )


def _q64_unigram_logprob(spark, sf_dir):  # corpus-conditioned quality score
    """unigram_logprob: mean -ln p(token) under the corpus's own
    unigram model (the CCNet-style perplexity stand-in — needs a
    corpus-level aggregation pass, unlike the per-row q24 score).
    Three linear shuffles; ln attached to the vocabulary, never the
    token stream."""
    from resolve_spark.operators.corpus_stats import unigram_logprob
    d = _t(spark, sf_dir, "documents")
    return unigram_logprob(d, "doc_id", "text")


def _q65_minhash_join(spark, sf_dir):  # cross-corpus near-dup join
    """minhash_join: symmetric near-duplicate pairs BETWEEN two corpora
    (documents split by doc_id parity as stand-ins) via shared MinHash
    band keys + exact-Jaccard verify — the dedup-new-crawl-against-
    existing-corpus pass. Jaccard is a small-int ratio, so the 0.7
    cutoff decides identically in Spark and DuckDB."""
    from resolve_spark.operators.dedup import minhash_join
    d = _t(spark, sf_dir, "documents")
    out = minhash_join(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1),
        "doc_id", "doc_id", jaccard_threshold=0.7, hash_impl="portable",
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _q66_source_overlap(spark, sf_dir):  # cross-source provenance matrix
    """source_overlap: pairwise distinct-4-gram overlap between the 20
    documents sources — shared counts plus containment/Jaccard. All
    ratios are long/long double divisions rounded to 6, the same
    numeric shape q43/q60 already prove hash-exact across engines."""
    from resolve_spark.operators.decontaminate import source_overlap
    d = _t(spark, sf_dir, "documents")
    return source_overlap(d, "text", "source", n=4, hash_impl="portable")


def _q67_tfidf_dedup_pairs(spark, sf_dir):  # IDF-weighted near-dup pairs
    """tfidf_weighted_jaccard_pairs: boilerplate-robust near-dup over
    MinHash-blocked candidates. IDF weights are int64-scaled
    (round(1e6*ln(1+N/df))), so the score is a ratio of exact longs —
    order-independent — and the 0.6 cutoff has a ±0.007 margin at
    sf0.01 (nearest scores 0.592527 / 0.619082)."""
    from resolve_spark.operators.dedup import tfidf_weighted_jaccard_pairs
    d = _t(spark, sf_dir, "documents")
    return tfidf_weighted_jaccard_pairs(
        d, "doc_id", "text", threshold=0.6, hash_impl="portable"
    )


def _linkage_pairs(spark, sf_dir):
    """Shared scored-pair input for the one-to-one assignment queries:
    the q04 brand-blocked Levenshtein pairs, reused verbatim so the
    oracle can rebuild them with the identical SQL."""
    return _q04_levenshtein_pairs(spark, sf_dir)


def _q102_mutual_best(spark, sf_dir):  # one-to-one: single round
    """mutual_best_pairs (operators/assignment.py): a pair survives iff
    it is BOTH endpoints' best option under (score desc, partner id
    asc) — the unique-mapping constraint of classical record linkage
    (Fellegi & Sunter 1969), absent from the reference's per-query
    top-k (match.go:203-253)."""
    from resolve_spark.operators.assignment import mutual_best_pairs
    return mutual_best_pairs(
        _linkage_pairs(spark, sf_dir), score_col="lev_sim"
    )


def _q103_greedy_linkage(spark, sf_dir):  # one-to-one: greedy fixpoint
    """greedy_one_to_one: iterated mutual-best == sequential greedy
    matching (property-tested equivalence, tests/test_assignment.py).
    The oracle UNROLLS the fixpoint to 6 rounds of plain SQL (sf0.01
    converges in 4; a deeper dataset would fail loudly as a hash
    mismatch, never silently truncate)."""
    from resolve_spark.operators.assignment import greedy_one_to_one
    return greedy_one_to_one(
        _linkage_pairs(spark, sf_dir), score_col="lev_sim"
    )


def _q104_wjaccard_join(spark, sf_dir):  # cross-corpus weighted join
    """wjaccard_join: IDF-weighted near-dup join BETWEEN two corpora
    (doc_id parity split, mirroring q65) with ICWS weighted-MinHash
    candidates. Oracle is exact ALL-PAIRS across the split — full
    recall at the threshold, same attestation shape as q101."""
    from resolve_spark.operators.dedup import wjaccard_join
    d = _t(spark, sf_dir, "documents")
    return wjaccard_join(
        d.where(F.col("doc_id") % 2 == 0), d.where(F.col("doc_id") % 2 == 1),
        "doc_id", "doc_id", threshold=0.6,
    )


def _q101_wjaccard_icws(spark, sf_dir):  # ICWS weighted-MinHash recall
    """tfidf_weighted_jaccard_pairs with the ICWS weighted-MinHash
    candidate pass ON (functions/icws.py, Ioffe 2010). The oracle is
    EXACT ALL-PAIRS weighted Jaccard (no candidate CTE) — a hash match
    attests FULL recall at threshold 0.6, the guarantee the default
    unweighted banding cannot make (q67's oracle mirrors its banding
    instead). At J_w = 0.6 with 64 hashes / 32 bands (r=2) the miss
    probability of the weighted pass alone is (1 - 0.36)^32 ~ 6e-7,
    and every candidate is exact-verified, so precision is 1 by
    construction."""
    from resolve_spark.operators.dedup import tfidf_weighted_jaccard_pairs
    d = _t(spark, sf_dir, "documents")
    return tfidf_weighted_jaccard_pairs(
        d, "doc_id", "text", threshold=0.6, icws_hashes=64, icws_bands=32
    )


def _q51_explanation(spark, sf_dir):  # M9 explanation bands (match.go:643-653)
    """Banded confidence + formatted explanation string. Scores are
    0.5001 + k/1000 (k integer) — 4-decimal values ending in 1, so the
    %.2f formatting never hits a round-half tie where Java (HALF_UP)
    and C (half-even) printf semantics diverge."""
    p = _pair_customers(spark, sf_dir, max_gap=3)
    score = F.lit(0.5001) + (F.col("id_b") % 450) / F.lit(1000.0)
    matched_on = F.when(
        F.col("id_b") % 2 == 0,
        F.array(F.lit("name"), F.lit("segment")),
    ).otherwise(F.array(F.lit("name")))
    return p.select(
        "id_a", "id_b",
        F.round(score, 6).alias("score"),
        FD.explanation_column(score, matched_on).alias("explanation"),
    )


def _q52_case_insensitive(spark, sf_dir):  # K2 (similarity.go:33-44)
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    other = (
        F.when(k % 3 == 0, F.upper(F.col("c_name")))
        .when(k % 3 == 1, F.concat(F.col("c_name"), F.lit("X")))
        .otherwise(F.col("c_name"))
    )
    return c.select(
        "c_custkey",
        S.case_insensitive_match(F.col("c_name"), other).alias("ci_match"),
    )


def _q53_ngram_dedup_pairs(spark, sf_dir):  # char-n-gram Jaccard near-dup
    """Character-5-gram Jaccard over MinHash-blocked candidates (the
    LLM-pipeline n-gram dedup operator) under the portable hash so the
    candidate generation is the same chain q19/q28 oracle."""
    d = _t(spark, sf_dir, "documents")
    cfg = BlockingConfig(enable_canopy=False, minhash_column="text",
                         minhash_hash_impl="portable")
    out = DD.ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.7,
                                 cfg=cfg)
    return out.select("id_a", "id_b",
                      F.round("ngram_jaccard", 6).alias("ngram_jaccard"))


def _q54_embedding_dedup(spark, sf_dir):  # embedding-cosine near-dup -> CC
    """SRP-bucketed cosine near-dup clustering (the LLM-pipeline
    embedding dedup operator). Vectors are 16-dim centered-codepoint
    doubles derived from documents.text natively, so DuckDB recomputes
    them exactly (the driver's embeddings table has no planted near-dup
    pairs at any cosine >= 0.6, so real clusters need text-derived
    vectors — planted exact/near text dups land at cos 1.0)."""
    d = _t(spark, sf_dir, "documents")
    vec = F.expr(
        "transform(sequence(0, 15), i -> CASE WHEN i < length(text) "
        "THEN (ascii(substring(text, i + 1, 1)) - 100.0) / 10.0 "
        "ELSE 0.0 END)"
    )
    base = d.select("doc_id", vec.alias("vec"))
    out = DD.embedding_duplicates(base, "doc_id", "vec",
                                  cosine_threshold=0.9, planes=8,
                                  hash_impl="portable")
    return out.select("rid", "cluster_id", "cluster_size")


def _q68_semantic_decontamination(spark, sf_dir):  # embedding-space decon
    """Embedding-space benchmark decontamination (the semantic
    complement of q43's n-gram pass, SemDeDup-style corpus-vs-bench):
    benchmark = every 23rd doc's vector; a doc is contaminated when
    ANY benchmark vector sits at cosine >= 0.95. Vectors are the q54
    text-derived 16-dim doubles so DuckDB recomputes them exactly;
    0.95 sits in a measured cosine gap (nearest values 0.949879 /
    0.950286 at sf0.01, 0.949709 / 0.950603 at sf0.001 — orders of
    magnitude beyond any float64 divergence between engines)."""
    from resolve_spark.operators.decontaminate import semantic_contamination
    d = _t(spark, sf_dir, "documents")
    vec = F.expr(
        "transform(sequence(0, 15), i -> CASE WHEN i < length(text) "
        "THEN (ascii(substring(text, i + 1, 1)) - 100.0) / 10.0 "
        "ELSE 0.0 END)"
    )
    base = d.select("doc_id", vec.alias("vec"))
    bench = base.where(F.col("doc_id") % 23 == 0)
    out = semantic_contamination(base, bench, "doc_id", "vec", threshold=0.95)
    return out.select(
        "doc_id",
        F.round("max_cos", 6).alias("max_cos"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.col("contaminated").cast("int").alias("contaminated"),
    )


def _q69_bm25_topk(spark, sf_dir):  # Okapi BM25 retrieval top-k
    """bm25_topk over documents for a 4-term query. Every weight is
    integerized with floor(x + 0.5) at 1e6 scale BEFORE the per-doc
    sum, so aggregation order can't move the score and the DuckDB
    oracle reproduces the exact BIGINT (the int64-scaled-weight trick
    from q64/q67); ranking orders by that exact long with rid as the
    tie-break. ln() is quarantined inside the integerized idf — every
    other op is IEEE-exact +,*,/ with matching expression shapes."""
    from resolve_spark.operators.corpus_stats import bm25_topk
    d = _t(spark, sf_dir, "documents")
    out = bm25_topk(d, "doc_id", ["spark", "hash", "window", "vector"], k=50)
    return out.select(
        "rank",
        F.col("rid").alias("doc_id"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        "score_scaled",
        F.round("score", 6).alias("score"),
    )


def _q70_blocking_quality(spark, sf_dir):  # blocking-scheme diagnostics
    """blocking_quality (Christen ch.7 reduction ratio / pairs
    completeness / pairs quality) over a two-pass scheme on part:
    pass c = the q03 canopy key, pass b = brand. Truth = adjacent
    partkey pairs — deliberately independent of both passes, so
    completeness is a real measurement, not 1.0 by construction. All
    counts are exact longs; the three ratios are single divisions."""
    from resolve_spark.operators.diagnostics import blocking_quality
    p = _t(spark, sf_dir, "part")
    pn = p.select(F.col("p_partkey"), F.col("p_name").alias("name"))
    pn = pn.withColumn("name_normalized", N.normalize_name(F.col("name")))
    pass_c = pn.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.lit("c:"), B.canopy_key(pn.columns, ("name",))).alias("block_key"),
    )
    pass_b = p.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.lit("b:"), F.col("p_brand")).alias("block_key"),
    )
    blocks = pass_c.unionByName(pass_b)
    a = p.select(F.col("p_partkey").alias("id_a"))
    b = p.select(F.col("p_partkey").alias("id_b"))
    truth = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return blocking_quality(blocks, truth)


def _q71_match_metrics(spark, sf_dir):  # PR sweep vs labeled pairs
    """match_metrics threshold sweep (the tuning pass behind the
    pipeline's 0.87 default): predictions = q04's brand-blocked
    levenshtein pairs UNfiltered, truth = same-brand pairs with key
    distance <= 25. Counts are exact longs; precision/recall/f1 are
    each ONE division (f1 = 2tp/(2tp+fp+fn)), and the score is the raw
    1 - lev/maxlen rational both engines compute identically, so the
    threshold comparisons can't diverge."""
    from resolve_spark.operators.diagnostics import match_metrics
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 5 == 0)
    a = p.select(F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"),
                 F.col("p_brand").alias("brand"))
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"),
                 F.col("p_brand").alias("brand"))
    pairs = a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
    pred = pairs.select(
        "id_a", "id_b",
        S.levenshtein_similarity(F.col("na"), F.col("nb")).alias("score"),
    )
    truth = pairs.where(F.col("id_b") - F.col("id_a") <= 25).select("id_a", "id_b")
    return match_metrics(
        pred, truth, score_col="score", thresholds=[0.5, 0.55, 0.6, 0.65, 0.7]
    ).orderBy("threshold")


def _q72_phonetic_blocking(spark, sf_dir):  # Soundex-family blocking pass
    """The p: phonetic blocking pass end-to-end through BlockingConfig /
    add_blocking_keys: one Soundex-family key per part name
    (misspelling-robust where canopy prefixes and token signatures
    break). Pure native string functions (translate + fixpoint
    pair-collapse + rpad) spelled identically in the DuckDB oracle, so
    the key is bit-exact across engines."""
    from resolve_spark.config import BlockingConfig

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_name").alias("name")
    )
    cfg = BlockingConfig(enable_canopy=False, phonetic_columns=("name",))
    out = B.add_blocking_keys(p, cfg)
    return out.select(
        "p_partkey", F.explode("block_keys").alias("phonetic_key")
    )


def _q73_bpe_merges(spark, sf_dir):  # BPE merge-candidate table
    """bpe_merge_candidates: corpus-wide adjacent-token-pair counts,
    top-100 — the first-round merge table of BPE tokenizer induction
    (and a collocation/boilerplate detector). One map-side-combinable
    shuffle + TakeOrderedAndProject; counts are exact longs and the
    (cnt DESC, pair ASC) order is total, so the top-k cut is unique
    across engines."""
    from resolve_spark.operators.corpus_stats import bpe_merge_candidates

    d = _t(spark, sf_dir, "documents")
    return bpe_merge_candidates(d, "text", top_k=100, min_count=2)


def _q74_containment_pairs(spark, sf_dir):  # prefix-filtered containment join
    """containment_pairs: |A∩B| / min(|A|,|B|) >= 0.7 over distinct
    token sets — the quoted/embedded-document class Jaccard-LSH misses.
    Candidates via PPJoin rarest-token prefix filtering (EXACT recall,
    no hashing), verify by integer comparison 100*overlap >= 70*min, so
    the cut cannot diverge across engines. Subset to doc_id % 5 = 0:
    the synthetic corpus's tiny shared vocabulary makes token-SET
    containment dense (~90% of all pairs qualify at 0.7), so the full
    table's result would be quasi-all-pairs noise, not a dedup signal."""
    from resolve_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    return containment_pairs(d, "doc_id", "text", threshold_pct=70)


def _q75_block_skew(spark, sf_dir):  # per-pass block-size skew profile
    """block_skew_profile over two real passes on part (the q03 canopy
    keys incl. the 'default' block, and the q72 phonetic keys): exact
    rank-based percentiles of block sizes plus the hottest key's share
    of candidate-pair work — the read-before-pair-generation skew
    diagnostic. All counts are exact longs; percentiles are values AT
    integer ranks (no interpolation), so engines cannot disagree."""
    from resolve_spark.config import BlockingConfig
    from resolve_spark.operators.diagnostics import block_skew_profile

    p = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"), F.col("p_name").alias("name")
    )
    p = p.withColumn("name_normalized", N.normalize_name(F.col("name")))
    canopy = p.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.lit("c:"), B.canopy_key(p.columns, ("name",))).alias(
            "block_key"
        ),
    )
    phon = B.add_blocking_keys(
        p, BlockingConfig(enable_canopy=False, phonetic_columns=("name",))
    ).select(F.col("p_partkey").alias("id"), F.explode("block_keys").alias("block_key"))
    return block_skew_profile(canopy.unionByName(phon)).orderBy("pass")


_DOC_VEC_EXPR = (
    "transform(sequence(0, 15), i -> CASE WHEN i < length(text) "
    "THEN (ascii(substring(text, i + 1, 1)) - 100.0) / 10.0 "
    "ELSE 0.0 END)"
)


# DuckDB replica of the q76/q77 k-means chain: v = text-derived doc
# vectors (the q54 idiom), c0 = init centroids from the 8 smallest ids
# (labels 0..7 in id order), a0/a1 = assignment passes (round-6 cosine,
# ties to the smaller label), c1 = round-6 per-dim mean update.
_KMEANS_VEC_SQL = (
    "list_transform(range(0, 16), i -> CASE WHEN i < length(text) THEN "
    "(ascii(substr(text, (i + 1)::INT, 1)) - 100.0) / 10.0 ELSE 0.0 END)"
)
_KMEANS_ASSIGN_SQL = (
    "SELECT id, cl, cos FROM (SELECT v.id, c.cl, "
    "round(list_cosine_similarity(v.vec, c.c), 6) AS cos, "
    "row_number() OVER (PARTITION BY v.id ORDER BY "
    "round(list_cosine_similarity(v.vec, c.c), 6) DESC, c.cl ASC) AS rk "
    "FROM v CROSS JOIN {cte} c) WHERE rk = 1"
)
_KMEANS_CTE = (
    "v AS (SELECT doc_id AS id, " + _KMEANS_VEC_SQL + " AS vec FROM documents), "
    "c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cl, vec AS c "
    "FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8)), "
    "a0 AS (" + _KMEANS_ASSIGN_SQL.format(cte="c0") + "), "
    "c1 AS (SELECT a0.cl AS cl, ["
    + ", ".join(f"round(avg(vec[{i + 1}]), 6)" for i in range(16))
    + "] AS c FROM a0 JOIN v USING (id) GROUP BY a0.cl), "
    "a1 AS (" + _KMEANS_ASSIGN_SQL.format(cte="c1") + ")"
)


def _q76_kmeans_clusters(spark, sf_dir):  # Lloyd's k-means over embeddings
    """kmeans_assign over the q54 text-derived 16-dim doc vectors
    (DuckDB recomputes them exactly). k=8 seeded by the 8 smallest
    doc_ids, 2 assignment passes with one centroid update between;
    every centroid component and cosine rounds to 6 decimals BEFORE
    comparison so both engines compare identical multiples of 1e-6
    (ties -> smaller cluster label). Output is integers only."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.expr(_DOC_VEC_EXPR).alias("vec"))
    out = ANN.kmeans_assign(base, "doc_id", "vec", k=8, iters=2)
    return out.select("doc_id", F.col("cluster").cast("bigint").alias("cluster"))


def _q77_semantic_dedup(spark, sf_dir):  # SemDeDup keep/drop decisions
    """semantic_dedup (SemDeDup, arXiv:2303.09540) over the same
    vectors: q76's k-means partition, then inside each cluster drop
    every doc with a lower-id neighbor at round-6 cosine >= 0.95
    (measured cosine gap: nearest round-6 values 0.949996/0.950007 at
    sf0.001, 0.949975/0.950008 at sf0.01 — far beyond any float64
    engine divergence). Output is integers only."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.expr(_DOC_VEC_EXPR).alias("vec"))
    out = DD.semantic_dedup(base, "doc_id", "vec", k=8, iters=2,
                            cosine_threshold=0.95)
    return out.select(
        "doc_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("kept").cast("int").alias("kept"),
    )


def _q78_prototype_prune(spark, sf_dir):  # SSL-prototype data pruning
    """prototype_prune (Sorscher et al. 2022) over the q76 clustering:
    keep the 20 hardest (least prototypical) docs per cluster, ranked
    on the round-6 assignment cosine with the doc_id tiebreak — exact
    text dups share a cosine, so the id decides. Integer-only output."""
    from resolve_spark.operators.sampling import prototype_prune
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", F.expr(_DOC_VEC_EXPR).alias("vec"))
    out = prototype_prune(base, "doc_id", "vec", k=8, iters=2,
                          keep_per_cluster=20, keep="hard")
    return out.select(
        "doc_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.col("rank").cast("bigint").alias("rank"),
        F.col("kept").cast("int").alias("kept"),
    )


def _q79_hash_split(spark, sf_dir):  # deterministic train/val/test split
    """hash_split with the portable coin: cumulative ppm cutoffs
    (train 900000 / val 950000 / remainder test) over
    portable_hash60('sp79:' || doc_id) % 1e6 — every row labeled, no
    shuffle, reproducible in SQL verbatim."""
    from resolve_spark.operators.sampling import hash_split
    d = _t(spark, sf_dir, "documents")
    out = hash_split(d, "doc_id",
                     {"train": 0.9, "val": 0.05, "test": 0.05},
                     salt="sp79", hash_impl="portable")
    return out.select("doc_id", "lang", "split")


def _q80_dedup_lines(spark, sf_dir):  # within-doc duplicate-line removal
    """dedup_lines over synthesized line structure (documents.text has
    no newlines, so build the q56-style 4-line docs: line 1 repeats at
    position 3). Output keeps the first occurrence of every line; the
    oracle replays the identical keep-first lambda."""
    d = _t(spark, sf_dir, "documents")
    lined = d.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit("\n"),
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit("\n"),
            F.substring("text", 1, 60), F.lit("\n"),
            F.lit("tail"),
        ).alias("text"),
    )
    out = lined.select(
        "doc_id",
        F.size(F.split("text", r"\n")).alias("n_lines"),
        TX.dedup_lines(F.col("text")).alias("deduped"),
    )
    return out.withColumn(
        "n_kept", F.size(F.split("deduped", r"\n"))
    ).select("doc_id", "n_lines", "n_kept", "deduped")


def _q81_fs_pairs(spark, sf_dir):
    """Shared pair stream for q81: nation-blocked customer pairs with
    three native 0/1 agreement indicators (segment equality, synthesized
    phone-area-code equality — the q07 phone formula's area code —
    and an account-balance band)."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            ((F.col("c_custkey") * 7) % 1000).alias("ph"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("balc"),
        )
    )
    a = c.select(*[F.col(x).alias(f"{x}_a") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"{x}_b") for x in c.columns])
    return (
        a.join(b, (F.col("nk_a") == F.col("nk_b")) & (F.col("k_a") < F.col("k_b")))
        .select(
            (F.col("seg_a") == F.col("seg_b")).cast("int").alias("g_seg"),
            (F.col("ph_a") == F.col("ph_b")).cast("int").alias("g_phone"),
            (F.abs(F.col("balc_a") - F.col("balc_b")) < 100000)
            .cast("int")
            .alias("g_bal"),
        )
    )


def _q81_fs_params(spark, sf_dir):  # Fellegi-Sunter EM weight learning
    """estimate_fs (Fellegi & Sunter 1969, EM over the agreement-pattern
    contingency table — the Splink-style unsupervised weight learner)
    on nation-blocked customer pairs, 3 binary fields, 3 iterations
    from the canonical (lam .1, m .9, u .1) inits. The oracle unrolls
    the SAME 3 EM iterations in SQL over the identical pattern counts;
    all products are spelled left-to-right in field order in both
    engines, so the only cross-engine float freedom is the <= 8-term
    pattern-sum order (round 6 absorbs it)."""
    from resolve_spark.operators.fellegi_sunter import estimate_fs, fs_params_df

    pairs = _q81_fs_pairs(spark, sf_dir)
    params = estimate_fs(pairs, ["g_seg", "g_phone", "g_bal"], iterations=3)
    out = fs_params_df(spark, params)
    return out.select(
        "field",
        F.round("m", 6).alias("m"),
        F.round("u", 6).alias("u"),
        F.round("agree_weight", 6).alias("agree_weight"),
        F.round("disagree_weight", 6).alias("disagree_weight"),
        F.round("lam", 6).alias("lam"),
    ).orderBy("field")


def _part_distance_edges(spark, sf_dir, gap: int = 100):
    """Shared q82/q87/q96 edge set: same-brand part pairs with key
    distance <= gap. r7 (guide §3.3): exploded-offset equi-join on
    (brand, id_a + k = id_b) instead of the theta join on the 25-value
    brand key, which evaluated the full 1.6e9-row block cross product
    at sf1.0 to keep ~0.05% of it. Identical row set (0 < id_b - id_a
    <= gap  <=>  id_b = id_a + k for exactly one k in 1..gap)."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_brand").alias("br"),
        F.explode(F.sequence(F.lit(1), F.lit(gap))).alias("_k"),
    )
    b = p.select(F.col("p_partkey").alias("id_b"), F.col("p_brand").alias("_brb"))
    return a.join(
        b,
        (F.col("br") == F.col("_brb"))
        & (F.col("id_b") == F.col("id_a") + F.col("_k")),
    ).select("id_a", "id_b")


def _q82_cluster_metrics(spark, sf_dir):  # per-cluster graph diagnostics
    """cluster_graph_metrics over a brand-clustered part graph: edges =
    same-brand pairs with key distance <= 100, assignments = brand.
    Density/avg_degree are single divisions of exact longs; triangle
    and bridge counts are exact longs — oracle-exact by construction."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    edges = _part_distance_edges(spark, sf_dir)
    asg = p.select(F.col("p_partkey").alias("id"), F.col("p_brand").alias("cluster_id"))
    return C.cluster_graph_metrics(edges, asg).orderBy("cluster_id")


def _q83_tf_weights(spark, sf_dir):  # Winkler/Splink TF adjustment
    """tf_adjusted_weights: agreement on a rare value is stronger match
    evidence — per-value agree_weight = log2(m / share) from ONE
    map-side-combinable groupBy over the record table (no pair pass).
    Two fields demonstrated (segment vocabulary of 5, nation of 25)
    with a fixed prior m = 0.95; share and weight are one division and
    one log2 of it, oracle-exact at 6 dp."""
    from resolve_spark.operators.fellegi_sunter import tf_adjusted_weights

    c = _t(spark, sf_dir, "customer")
    seg = tf_adjusted_weights(c, "c_mktsegment", m=0.95, field="segment")
    nat = tf_adjusted_weights(
        c.withColumn("nk", F.col("c_nationkey").cast("string")),
        "nk",
        m=0.95,
        field="nation",
    )
    out = seg.unionByName(nat)
    return out.select(
        "field",
        "value",
        "n_records",
        F.round("share", 6).alias("share"),
        F.round("agree_weight", 6).alias("agree_weight"),
    ).orderBy("field", "value")


def _value_pair_levels(spark, df, col, expr_fn, out_col, max_values: int = 256):
    """Broadcastable (_va, _vb, out_col) level table over the distinct
    values of ``df[col]`` — or None when the column has too many
    distinct values.

    r7 (guide §1.2): a per-pair kernel whose value depends only on the
    two COLUMN VALUES (levenshtein bands over p_name's ~64 distinct
    names) is evaluated once per distinct value pair — by Spark
    itself, with the caller's exact expression, so the table entries
    are the very ints the inline kernel would produce — and the pair
    stream replaces the DP kernel with one broadcast-hash probe.
    Build notes: the value cross is exploded from a literal array (a
    python createDataFrame here is RDD-backed and costs ~12s of tiny
    python-worker stages for a 64x64 cross; the explode build is
    0.4s), and the table stays a DataFrame for a broadcast JOIN — both
    a 4096-literal CreateArray and a 4096-char substring lookup
    measured ~10x SLOWER than the kernel they replaced (per-row array
    construction / per-row UTF8 byte walk)."""
    vals = [
        r[0]
        for r in df.select(col).where(F.col(col).isNotNull())
        .distinct().orderBy(col).limit(max_values + 1).collect()
    ]
    if len(vals) > max_values:
        return None
    arr = F.array(*[F.lit(v) for v in vals])
    nd = spark.range(1).select(F.explode(arr).alias("_va"))
    return F.broadcast(
        nd.crossJoin(nd.select(F.col("_va").alias("_vb")))
        .select("_va", "_vb", expr_fn(F.col("_va"), F.col("_vb")).alias(out_col))
        .localCheckpoint()
    )


def _q84_indicators(spark, sf_dir):
    """Shared q84/q90 pair stream: brand-blocked part pairs with the
    three 0/1 agreement indicators as NATIVE ints (id_a, id_b, g_name,
    g_size, g_cont).

    r7 (guide §2.3): the indicators are produced directly instead of
    binarizing a map<string,double> of similarities afterwards — the
    50M-row (at sf1.0) pair stream then carries 5 small ints instead of
    a 3-entry string-keyed map, and no multi-GB localCheckpoint of the
    map column is needed. g_name uses the exact integer form of
    levenshtein_similarity >= 0.7: 1 - d/M >= 0.7  <=>  10*d <= 3*M
    (d, M ints, M <= ~55, so the rational d/M is never within 1/(10*M)
    of the 0.3 cut except at exact equality, where IEEE division of
    3k/10k rounds to the same double as the 0.3/0.7 literals — proven
    equivalent in tests/test_entry_contract.py)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 4 == 0)
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"),
        F.col("p_size").alias("sa"), F.col("p_type").alias("ca"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"),
        F.col("p_size").alias("sb"), F.col("p_type").alias("cb"),
        F.col("p_brand").alias("brand"),
    )
    pairs = a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
    g_name = (
        F.lit(10) * F.levenshtein(F.col("na"), F.col("nb"))
        <= F.lit(3) * F.greatest(F.length("na"), F.length("nb"))
    )
    return pairs.select(
        "id_a",
        "id_b",
        g_name.cast("int").alias("g_name"),
        (F.col("sa") == F.col("sb")).cast("int").alias("g_size"),
        (F.col("ca") == F.col("cb")).cast("int").alias("g_cont"),
    )


def _q84_fs_posterior(spark, sf_dir):  # unsupervised edge posterior
    """fs_posterior_edges end-to-end: a scored pair stream (brand-
    blocked part pairs with levenshtein name sim + size/type equality
    indicators) binarized at agree_at=0.7, EM-fit (3 iterations),
    posterior attached. Output = the observed pattern table with
    n_pairs and the learned match_probability; the oracle replays the
    identical EM + posterior (same left-to-right products; 6-dp
    rounding). r7: the pattern table is aggregated from the pair
    stream exactly ONCE (map-side-combinable groupBy to <= 8 rows); EM
    and the posterior run driver-side on that table, identical
    arithmetic (estimate_fs_from_counts), instead of a second full
    pass re-deriving the posterior per pair."""
    from resolve_spark.operators.fellegi_sunter import estimate_fs_from_counts

    g = _q84_indicators(spark, sf_dir)
    g_cols = ["g_name", "g_size", "g_cont"]
    rows = g.groupBy(*g_cols).agg(F.count(F.lit(1)).alias("n_pairs")).collect()
    params = estimate_fs_from_counts(
        rows, g_cols, count_col="n_pairs", iterations=3
    )
    out = spark.createDataFrame(
        [
            (r["g_name"], r["g_size"], r["g_cont"], r["n_pairs"],
             params.posterior((r["g_name"], r["g_size"], r["g_cont"])))
            for r in rows
        ],
        "g_name int, g_size int, g_cont int, n_pairs bigint, "
        "match_probability double",
    )
    return out.select(
        "g_name", "g_size", "g_cont", "n_pairs",
        F.round("match_probability", 6).alias("match_probability"),
    ).orderBy("g_name", "g_size", "g_cont")


def _q85_fs_levels(spark, sf_dir):  # multi-level comparison vectors
    """estimate_fs_levels (the Splink 'comparison levels' FS model):
    3-level vectors on brand-blocked part pairs — name levenshtein
    banded (>=0.85 / >=0.65 / else), size distance (equal / within 2 /
    else), type (exact / same first word / else) — EM over the 27-row
    pattern table, 3 iterations from the geometric fs_level_inits.
    Output is the long-form per-level params with log2 evidence
    weights; the oracle unrolls the identical EM."""
    from resolve_spark.operators.fellegi_sunter import (
        estimate_fs_levels,
        fs_level_params_df,
    )

    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 4 == 0).select(
        "p_partkey", "p_name", "p_brand", "p_size", "p_type",
        F.split("p_type", " ").getItem(0).alias("t1"),
    )
    a = p.select(*[F.col(x).alias(f"{x}_a") for x in p.columns])
    b = p.select(*[F.col(x).alias(f"{x}_b") for x in p.columns])
    pr = a.join(
        b,
        (F.col("p_brand_a") == F.col("p_brand_b"))
        & (F.col("p_partkey_a") < F.col("p_partkey_b")),
    )
    # r7: the two levenshtein_similarity bands in exact integer form
    # (1 - d/M >= t  <=>  20*d <= (1-t)*20*M for t in {0.85, 0.65};
    # same boundary argument as _q84_indicators, covered by tests),
    # evaluated once per distinct NAME PAIR (p_name takes ~64 values —
    # runtime-checked) and attached to the 50M-pair stream with one
    # broadcast-hash probe instead of re-running the DP kernel per
    # pair; left join + coalesce 0 reproduces the inline when-chain's
    # null flow (a null name falls to otherwise(0))
    def _g_name_levels(na, nb):
        dd = F.lit(20) * F.levenshtein(na, nb)
        mm = F.greatest(F.length(na), F.length(nb))
        return (
            F.when(dd <= F.lit(3) * mm, 2)
            .when(dd <= F.lit(7) * mm, 1)
            .otherwise(0)
        )

    lvl = _value_pair_levels(spark, p, "p_name", _g_name_levels, "_gn")
    if lvl is not None:
        pr = pr.join(
            lvl,
            (F.col("p_name_a") == F.col("_va"))
            & (F.col("p_name_b") == F.col("_vb")),
            "left",
        )
        g_name = F.coalesce(F.col("_gn"), F.lit(0))
    else:
        g_name = _g_name_levels(F.col("p_name_a"), F.col("p_name_b"))
    g = pr.select(
        g_name.alias("g_name"),
        F.when(F.col("p_size_a") == F.col("p_size_b"), 2)
        .when(F.abs(F.col("p_size_a") - F.col("p_size_b")) <= 2, 1)
        .otherwise(0)
        .alias("g_size"),
        F.when(F.col("p_type_a") == F.col("p_type_b"), 2)
        .when(F.col("t1_a") == F.col("t1_b"), 1)
        .otherwise(0)
        .alias("g_type"),
    )
    params = estimate_fs_levels(
        g, [("g_name", 3), ("g_size", 3), ("g_type", 3)], iterations=3
    )
    out = fs_level_params_df(spark, params)
    return out.select(
        "field",
        "level",
        F.round("m", 6).alias("m"),
        F.round("u", 6).alias("u"),
        F.round("weight", 6).alias("weight"),
        F.round("lam", 6).alias("lam"),
    ).orderBy("field", "level")


def _q86_fuse_clusters(spark, sf_dir):  # survivorship / golden record
    """fuse_clusters survivorship fusion over an exogenous clustering
    (customers by nation, so the oracle needs no recursive CC): one
    golden record per cluster — modal segment (ties -> smallest),
    longest name (ties -> smallest), max balance, min-id canonical.
    Every rule has a total tie order, so no rounding is needed."""
    from resolve_spark.operators.fusion import fuse_clusters

    c = _t(spark, sf_dir, "customer")
    asg = c.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias(
            "cluster_id"
        ),
    )
    ents = c.select(
        F.col("c_custkey").alias("id"), "c_mktsegment", "c_name", "c_acctbal"
    )
    out = fuse_clusters(
        ents,
        asg,
        {"c_mktsegment": "mode", "c_name": "longest", "c_acctbal": "max"},
    )
    return out.orderBy("cluster_id")


def _q87_bridge_prune(spark, sf_dir):  # structural over-merge repair
    """prune_bridge_edges + connected_components: drop every
    zero-common-neighbor edge inside a >= 3-node cluster of the q82
    part graph (the structurally weakest links — one false positive
    welding two real entities), then re-cluster what survives. Output
    is the repaired (rid, cluster_id) assignment; the oracle replays
    the prune in plain SQL and the closure as a recursive CTE."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    edges = _part_distance_edges(spark, sf_dir)
    asg = p.select(F.col("p_partkey").alias("id"), F.col("p_brand").alias("cluster_id"))
    pruned = C.prune_bridge_edges(edges, asg)
    return C.connected_components(pruned).select("rid", "cluster_id").orderBy("rid")


def _q88_monge_elkan(spark, sf_dir):  # compound token-level kernel
    """Symmetric Monge-Elkan over brand-blocked part-name pairs via the
    Arrow-batched kernel (all token pairs of the batch -> ONE
    jaro_winkler_batch call -> vectorized best-match maxima; per-row
    means summed sequentially for bit-parity with the scalar kernel).
    The oracle replays the reference JW as the shared recursive CTE
    over DISTINCT token pairs, then the same max/mean/symmetric-mean;
    part names are never token-empty so only the generic path runs."""
    me = FD.monge_elkan_udf()
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 20 == 0)
    a = p.select(
        F.col("p_partkey").alias("id_a"), F.col("p_name").alias("na"),
        F.col("p_brand").alias("brand"),
    )
    b = p.select(
        F.col("p_partkey").alias("id_b"), F.col("p_name").alias("nb"),
        F.col("p_brand").alias("brand"),
    )
    pairs = a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b",
        F.round(me(F.col("na"), F.col("nb")), 6).alias("monge_elkan"),
    )


def _q90_uncertainty_sample(spark, sf_dir):  # active-learning queue
    """uncertainty_sample over the q84 posterior stream: the 20 pairs
    closest to P(match)=0.5 — the clerical-review queue where a human
    label buys the most. Total order (|p-0.5|, id_a, id_b) makes the
    selection deterministic; Catalyst compiles it to
    TakeOrderedAndProject (no global sort)."""
    from resolve_spark.operators.fellegi_sunter import (
        estimate_fs_from_counts,
        fs_match_probability,
    )
    from resolve_spark.operators.sampling import uncertainty_sample

    # r7: narrow-int indicator pairs, recomputed by the two consumers
    # (EM contingency groupBy, then TakeOrdered) — measured CHEAPER
    # than materializing them: one indicator pass is ~2.5s at sf1.0
    # (q84) while a 50M-row localCheckpoint write+read costs ~15s, so
    # two passes beat checkpoint+two-reads (guide §5: cache only when
    # recomputing costs more than the materialization).
    g = _q84_indicators(spark, sf_dir)
    g_cols = ["g_name", "g_size", "g_cont"]
    rows = g.groupBy(*g_cols).agg(F.count(F.lit(1)).alias("cnt")).collect()
    params = estimate_fs_from_counts(rows, g_cols, iterations=3)
    # r7: the posterior takes <= 2^3 distinct values, so the top-20 by
    # |p - 0.5| can only come from the patterns whose cumulative count
    # (in ascending-distance order, distance ties included whole)
    # first reaches 20 — a superset of the answer known from the
    # contingency table already in hand. Filtering to those patterns
    # inside the codegen'd stage keeps the 50M-row stream out of the
    # row-based TakeOrdered heap (guide §1.2: don't ship rows a
    # driver-side fact already excludes).
    pats = sorted(
        ((tuple(int(r[c]) for c in g_cols), int(r["cnt"])) for r in rows),
        key=lambda t: (abs(params.posterior(t[0]) - 0.5), t[0]),
    )
    keep, cum, cut = [], 0, None
    for gpat, cnt in pats:
        d = abs(params.posterior(gpat) - 0.5)
        if cut is not None and d > cut:
            break
        keep.append(gpat)
        cum += cnt
        if cut is None and cum >= 20:
            cut = d
    pat_filter = None
    for gpat in keep:
        cond = (
            (F.col("g_name") == gpat[0])
            & (F.col("g_size") == gpat[1])
            & (F.col("g_cont") == gpat[2])
        )
        pat_filter = cond if pat_filter is None else (pat_filter | cond)
    scored = g.where(pat_filter).withColumn(
        "match_probability", fs_match_probability(params)
    )
    out = uncertainty_sample(
        scored.select(
            "id_a", "id_b", "g_name", "g_size", "g_cont", "match_probability"
        ),
        k=20,
    )
    return out.select(
        "id_a", "id_b", "g_name", "g_size", "g_cont",
        F.round("match_probability", 6).alias("match_probability"),
    )


def _q89_bcubed(spark, sf_dir):  # extrinsic clustering evaluation
    """bcubed (Bagga & Baldwin; the record-weighted clustering metric
    that stays affordable when pairwise evaluation is quadratic):
    does the q03 canopy blocking key reconstruct p_brand? pred = the
    canopy key as a clustering, truth = brand. Three groupBys + ONE
    row out; per-record ratios are exact-long divisions, the two
    averages are the only order-unpinned sums (round 6)."""
    from resolve_spark.operators.diagnostics import bcubed

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_name").alias("name"), "p_brand"
    )
    pn = p.withColumn("name_normalized", N.normalize_name(F.col("name")))
    pred = pn.select(
        F.col("p_partkey").alias("id"),
        B.canopy_key(pn.columns, ("name",)).alias("cluster_id"),
    )
    truth = p.select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("truth_id")
    )
    out = bcubed(pred, truth)
    return out.select(
        "n_records",
        F.round("bcubed_precision", 6).alias("bcubed_precision"),
        F.round("bcubed_recall", 6).alias("bcubed_recall"),
        F.round("bcubed_f1", 6).alias("bcubed_f1"),
    )


def _q91_meta_blocking(spark, sf_dir):  # blocking-graph WNP prune
    """meta_block_prune over a 3-pass blocking of customers (nation /
    market-segment / acctbal-bucket keys): block purging drops blocks
    over 4/25 of the corpus (the segment blocks at every SF — the
    three passes have FIXED key cardinalities 25/5/11, so block sizes
    scale with the corpus and the purge threshold must too), the pair
    groupBy computes CBS, and redistributed WNP keeps edges
    at-or-above either endpoint's mean incident weight. CBS weights
    are small exact ints, so the avg comparisons are deterministic
    (meta_blocking.py docstring)."""
    from resolve_spark.operators.meta_blocking import meta_block_prune

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") % 4 == 0)
    n = c.count()
    recs = c.select(
        F.col("c_custkey").alias("id"),
        F.array(
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")),
            F.concat(F.lit("s:"), F.col("c_mktsegment")),
            F.concat(
                F.lit("b:"), F.floor(F.col("c_acctbal") / 1000).cast("string")
            ),
        ).alias("block_keys"),
    )
    out = meta_block_prune(
        recs, "id", weight="cbs", scheme="wnp", max_block_size=n * 4 // 25
    )
    return out.select("id_a", "id_b", "cbs")


def _q92_adjusted_rand(spark, sf_dir):  # chance-corrected clustering eval
    """adjusted_rand_index on the SAME pred/truth as q89 (canopy key vs
    p_brand) so the record-weighted (BCubed) and chance-corrected
    pair-counting (ARI) views of the same clustering sit side by side.
    Contingency-table-only: exact longs everywhere, ONE final double
    division (round 6)."""
    from resolve_spark.operators.diagnostics import adjusted_rand_index

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_name").alias("name"), "p_brand"
    )
    pn = p.withColumn("name_normalized", N.normalize_name(F.col("name")))
    pred = pn.select(
        F.col("p_partkey").alias("id"),
        B.canopy_key(pn.columns, ("name",)).alias("cluster_id"),
    )
    truth = p.select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("truth_id")
    )
    out = adjusted_rand_index(pred, truth)
    return out.select("n_records", F.round("ari", 6).alias("ari"))


def _q93_numeric_temporal(spark, sf_dir):  # Splink-style ladder kernels
    """numeric_similarity + temporal_similarity ladders over event
    pairs blocked on (user_id, event_type): relative-difference levels
    for the numeric field, absolute-time-window levels for the
    timestamp. Outputs are ladder literals (hash-exact); the block
    join is bounded by per-(user, type) group sizes (max 24 at
    sf0.01)."""
    e = _t(spark, sf_dir, "events")
    a = e.select(
        F.col("event_id").alias("id_a"), "user_id", "event_type",
        F.col("value").alias("va"), F.col("ts").alias("ta"),
    )
    b = e.select(
        F.col("event_id").alias("id_b"), "user_id", "event_type",
        F.col("value").alias("vb"), F.col("ts").alias("tb"),
    )
    pairs = a.join(b, ["user_id", "event_type"]).where(
        F.col("id_a") < F.col("id_b")
    )
    out = pairs.select(
        "id_a",
        "id_b",
        S.numeric_similarity(F.col("va"), F.col("vb")).alias("value_sim"),
        S.temporal_similarity(F.col("ta"), F.col("tb")).alias("ts_sim"),
    )
    return out.where((F.col("value_sim") >= 0.7) & (F.col("ts_sim") >= 0.4))


def _q94_pprl_clk(spark, sf_dir):  # privacy-preserving linkage (CLK/Dice)
    """clk_positions + clk_dice (Schnell et al. CLK bigram encodings,
    portable hash family) over part names with brand-blocked
    candidates: linkage quality WITHOUT plaintext comparison. Encoding
    is a pure per-row projection; Dice = 2|A∩B|/(|A|+|B|) over the
    position sets is exact-int arithmetic until one double division
    (round 6 in both engines, filtered on the rounded value)."""
    from resolve_spark.functions.pprl import clk_positions

    # r7: the m=512 position SET is packed once per record into 8 long
    # words (positions are distinct ints in [0,512), so popcounts over
    # the packed words are exactly |A∩B|); the 32M-pair (sf1.0) brand
    # join then compares 8 codegen'd bit_and/bit_count terms per pair
    # instead of hash-building a ~140-element array_intersect per pair.
    # Same ints -> the same 2|A∩B|/(|A|+|B|) double as clk_dice.
    n_words = 512 // 64
    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") % 5 == 0)
    enc = p.select(
        F.col("p_partkey").alias("rid"),
        F.col("p_brand").alias("brand"),
        clk_positions(
            F.col("p_name"), m=512, k=4, q=2, hash_impl="portable"
        ).alias("clk"),
    ).select(
        "rid",
        "brand",
        F.size("clk").alias("n"),
        *[
            F.expr(
                f"aggregate(filter(clk, p -> p div 64 = {i}), 0L, "
                "(acc, p) -> acc | shiftleft(1L, cast(p % 64 as int)))"
            ).alias(f"w{i}")
            for i in range(n_words)
        ],
    )
    a = enc.select(
        F.col("rid").alias("id_a"), "brand", F.col("n").alias("na"),
        *[F.col(f"w{i}").alias(f"wa{i}") for i in range(n_words)],
    )
    b = enc.select(
        F.col("rid").alias("id_b"), "brand", F.col("n").alias("nb"),
        *[F.col(f"w{i}").alias(f"wb{i}") for i in range(n_words)],
    )
    pairs = a.join(b, "brand").where(F.col("id_a") < F.col("id_b"))
    inter = sum(
        F.bit_count(F.col(f"wa{i}").bitwiseAND(F.col(f"wb{i}")))
        for i in range(1, n_words)
    ) + F.bit_count(F.col("wa0").bitwiseAND(F.col("wb0")))
    out = pairs.select(
        "id_a",
        "id_b",
        F.round(
            (F.lit(2) * inter) / (F.col("na") + F.col("nb")), 6
        ).alias("clk_dice"),
    )
    return out.where(F.col("clk_dice") >= 0.5)


def _q95_match_tiers(spark, sf_dir):  # deterministic rule-tier linkage
    """deterministic_match_tiers over same-customer order pairs:
    t1 = same day AND same status, t2 = same day, t3 = same priority
    (first-match-wins, non-matching pairs dropped). One nested CASE
    over the block join — pure codegen, the MDM audit-trail
    complement to probabilistic scoring."""
    from resolve_spark.operators.matching import deterministic_match_tiers

    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("id_a"), F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("da"),
        F.col("o_orderstatus").alias("sa"),
        F.col("o_orderpriority").alias("pa"),
    )
    b = o.select(
        F.col("o_orderkey").alias("id_b"), F.col("o_custkey").alias("cust"),
        F.to_date("o_orderdate").alias("db"),
        F.col("o_orderstatus").alias("sb"),
        F.col("o_orderpriority").alias("pb"),
    )
    pairs = a.join(b, "cust").where(F.col("id_a") < F.col("id_b"))
    out = deterministic_match_tiers(
        pairs,
        [
            ("t1_same_day_status",
             (F.col("da") == F.col("db")) & (F.col("sa") == F.col("sb"))),
            ("t2_same_day", F.col("da") == F.col("db")),
            ("t3_same_priority", F.col("pa") == F.col("pb")),
        ],
    )
    return out.select("id_a", "id_b", "match_tier")


def _q96_link_features(spark, sf_dir):  # per-edge structural support
    """link_prediction_features over the q87 edge set (same-brand
    parts within key distance 100): common neighbors, neighbor-set
    Jaccard, preferential attachment per match edge — the re-ranking
    signal behind bridge-prune decisions. Exact-int columns only (the
    float RA feature is pytest-verified, not hash-oracled)."""
    from resolve_spark.operators.clustering import link_prediction_features

    edges = _part_distance_edges(spark, sf_dir)
    out = link_prediction_features(edges.select("id_a", "id_b"))
    return out.select(
        "id_a", "id_b", "cn",
        F.round("jaccard_nbrs", 6).alias("jaccard_nbrs"),
        "pref_attach",
    )


def _q97_blocking_sweep(spark, sf_dir):  # per-pass blocking quality
    """blocking_quality_by_pass over q70's two-pass scheme (canopy
    pass c, brand pass b) — one metrics row PER pass, the measurement
    behind "which blocking pass pays for itself": same exact-long
    counts, reduction ratio against the GLOBAL corpus so passes are
    comparable."""
    from resolve_spark.operators.diagnostics import blocking_quality_by_pass

    p = _t(spark, sf_dir, "part")
    pn = p.select(F.col("p_partkey"), F.col("p_name").alias("name"))
    pn = pn.withColumn("name_normalized", N.normalize_name(F.col("name")))
    pass_c = pn.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.lit("c:"), B.canopy_key(pn.columns, ("name",))).alias("block_key"),
    )
    pass_b = p.select(
        F.col("p_partkey").alias("id"),
        F.concat(F.lit("b:"), F.col("p_brand")).alias("block_key"),
    )
    blocks = pass_c.unionByName(pass_b)
    a = p.select(F.col("p_partkey").alias("id_a"))
    b = p.select(F.col("p_partkey").alias("id_b"))
    truth = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    return blocking_quality_by_pass(blocks, truth)


def _q98_cluster_stability(spark, sf_dir):  # run-over-run id stability
    """cluster_stability: treat the q03 canopy clustering as the
    PREVIOUS run and brand as the CURRENT one — per current cluster,
    its best-overlap predecessor and the member fraction retained
    (the merge/split audit an id-crosswalk needs). Argmax ties break
    on ascending previous id (total order, hash-safe)."""
    from resolve_spark.operators.clustering import cluster_stability

    p = _t(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_name").alias("name"), "p_brand"
    )
    pn = p.withColumn("name_normalized", N.normalize_name(F.col("name")))
    prev = pn.select(
        F.col("p_partkey").alias("id"),
        B.canopy_key(pn.columns, ("name",)).alias("cluster_id"),
    )
    curr = p.select(
        F.col("p_partkey").alias("id"), F.col("p_brand").alias("cluster_id")
    )
    out = cluster_stability(prev, curr)
    return out.select(
        "cluster_id", "n_records", "best_prev", "overlap",
        F.round("stability", 6).alias("stability"),
    )


def _q99_fusion_conflicts(spark, sf_dir):  # survivorship conflict queue
    """fusion_conflicts over the q86 clustering: per cluster, distinct
    non-null values per survivorship field + how many fields disagree
    — the report of exactly where fuse_clusters silently picked a
    winner. ONE combinable groupBy; output rows = clusters."""
    from resolve_spark.operators.fusion import fusion_conflicts

    c = _t(spark, sf_dir, "customer")
    asg = c.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias(
            "cluster_id"
        ),
    )
    ents = c.select(
        F.col("c_custkey").alias("id"), "c_mktsegment", "c_name", "c_acctbal"
    )
    return fusion_conflicts(
        ents, asg, ["c_mktsegment", "c_name", "c_acctbal"]
    ).orderBy("cluster_id")


def _q100_budget_ledger(spark, sf_dir):  # pair-budget accounting as data
    """pair_budget_accounting over the q91 three-pass customer keys
    with corpus-relative thresholds (max = 4/25 n windowed above,
    purge segment-pass keys above 1/25 n, hard-prune above 12/25 n):
    one ledger row per pass — keys by fate, pairs by fate, and the
    EXACT dropped-pair estimate. The north rule's 'cap and record
    dropped pairs' requirement as a queryable DataFrame."""
    from resolve_spark.operators.pairs import pair_budget_accounting

    c = _t(spark, sf_dir, "customer")
    n = c.count()
    recs = c.select(
        F.col("c_custkey").alias("id"),
        F.array(
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")),
            F.concat(F.lit("s:"), F.col("c_mktsegment")),
            F.concat(
                F.lit("b:"), F.floor(F.col("c_acctbal") / 1000).cast("string")
            ),
        ).alias("block_keys"),
    )
    cfg = BlockingConfig(
        max_block_size=n * 4 // 25,
        prune_block_size=n * 12 // 25,
        redundant_block_size=n // 25,
        purge_passes=("s",),
        neighborhood_window=10,
    )
    out = pair_budget_accounting(recs, "id", cfg)
    return out.orderBy("pass")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is a driver-attestation ROTATION, not a ranking: the
    # correctness driver records the first 50 entries it sees, and
    # rounds 1-5 attested q01-q50, so q51+ (incl. the new q101) are
    # surfaced first this round to get the other half driver-attested.
    # Keys and semantics are unchanged; `tools/check_oracles.py` still
    # gates ALL entries every round regardless of order.
    # r7 rotation (VERDICT r6 #3): q97-q100 are the only queries never
    # driver-attested in six rounds (the r6 window stopped at q96 after
    # the q101-q104 rotation) — they lead now; q101-q104 follow (r6-
    # attested but newest); the rest of the window re-covers q51+.
    never_attested = {
        "q97_blocking_sweep": _q97_blocking_sweep,
        "q98_cluster_stability": _q98_cluster_stability,
        "q99_fusion_conflicts": _q99_fusion_conflicts,
        "q100_budget_ledger": _q100_budget_ledger,
    }
    new_ops = {
        "q101_wjaccard_icws": _q101_wjaccard_icws,
        "q102_mutual_best": _q102_mutual_best,
        "q103_greedy_linkage": _q103_greedy_linkage,
        "q104_wjaccard_join": _q104_wjaccard_join,
    }
    first_half = {
        "q01_normalize_text": _q01_normalize_text,
        "q02_normalize_name": _q02_normalize_name,
        "q03_canopy_key": _q03_canopy_key,
        "q04_levenshtein_pairs": _q04_levenshtein_pairs,
        "q05_jaccard_pairs": _q05_jaccard_pairs,
        "q06_contained_in": _q06_contained_in,
        "q07_phone_ladder": _q07_phone_ladder,
        "q08_zip_ladder": _q08_zip_ladder,
        "q09_exact_dedup": _q09_exact_dedup,
        "q10_topk_per_group": _q10_topk_per_group,
        "q11_group_stats": _q11_group_stats,
        "q12_connected_components": _q12_connected_components,
        "q13_embedding_topk": _q13_embedding_topk,
        "q14_entity_count": _q14_entity_count,
        "q15_point_lookup": _q15_point_lookup,
        "q16_paginated_list": _q16_paginated_list,
        "q17_email_domain_key": _q17_email_domain_key,
        "q18_token_signature": _q18_token_signature,
        "q19_minhash_bands": _q19_minhash_bands,
        "q20_name_similarity": _q20_name_similarity,
        "q21_merge_upsert": _q21_merge_upsert,
        "q22_delete": _q22_delete,
        "q23_lang_id": _q23_lang_id,
        "q24_quality_score": _q24_quality_score,
        "q25_token_stats": _q25_token_stats,
        "q26_dup_histogram": _q26_dup_histogram,
        "q27_simhash_pairs": _q27_simhash_pairs,
        "q28_minhash_clusters": _q28_minhash_clusters,
        "q29_exact_dedup_clusters": _q29_exact_dedup_clusters,
        "q30_lsh_topk": _q30_lsh_topk,
        "q31_brute_force_topk": _q31_brute_force_topk,
        "q32_ivf_topk": _q32_ivf_topk,
        "q33_rolling_windows": _q33_rolling_windows,
        "q34_media_stats": _q34_media_stats,
        "q35_find_matches": _q35_find_matches,
        "q36_cosine_tf": _q36_cosine_tf,
        "q37_direct_group": _q37_direct_group,
        "q38_hybrid_edges": _q38_hybrid_edges,
        "q39_match_groups": _q39_match_groups,
        "q40_windowed_events": _q40_windowed_events,
        "q41_json_props": _q41_json_props,
        "q42_user_sessions": _q42_user_sessions,
        "q43_decontamination": _q43_decontamination,
        "q44_stratified_sample": _q44_stratified_sample,
        "q45_quota_sample": _q45_quota_sample,
        "q46_address_similarity": _q46_address_similarity,
        "q47_email_similarity": _q47_email_similarity,
        "q48_normalize_multi": _q48_normalize_multi,
        "q49_combine_embed": _q49_combine_embed,
        "q50_vector_blend": _q50_vector_blend,
    }
    second_half = {
        "q51_explanation": _q51_explanation,
        "q52_case_insensitive": _q52_case_insensitive,
        "q53_ngram_dedup_pairs": _q53_ngram_dedup_pairs,
        "q54_embedding_dedup": _q54_embedding_dedup,
        "q55_threshold_on_vector": _q55_threshold_on_vector,
        "q56_gopher_quality": _q56_gopher_quality,
        "q57_pii_redaction": _q57_pii_redaction,
        "q58_chunk_documents": _q58_chunk_documents,
        "q59_pack_shards": _q59_pack_shards,
        "q60_repeated_ngrams": _q60_repeated_ngrams,
        "q61_canonical_keeper": _q61_canonical_keeper,
        "q62_mixture_sample": _q62_mixture_sample,
        "q63_remove_spans": _q63_remove_spans,
        "q64_unigram_logprob": _q64_unigram_logprob,
        "q65_minhash_join": _q65_minhash_join,
        "q66_source_overlap": _q66_source_overlap,
        "q67_tfidf_dedup_pairs": _q67_tfidf_dedup_pairs,
        "q68_semantic_decontamination": _q68_semantic_decontamination,
        "q69_bm25_topk": _q69_bm25_topk,
        "q70_blocking_quality": _q70_blocking_quality,
        "q71_match_metrics": _q71_match_metrics,
        "q72_phonetic_blocking": _q72_phonetic_blocking,
        "q73_bpe_merges": _q73_bpe_merges,
        "q74_containment_pairs": _q74_containment_pairs,
        "q75_block_skew": _q75_block_skew,
        "q76_kmeans_clusters": _q76_kmeans_clusters,
        "q77_semantic_dedup": _q77_semantic_dedup,
        "q78_prototype_prune": _q78_prototype_prune,
        "q79_hash_split": _q79_hash_split,
        "q80_dedup_lines": _q80_dedup_lines,
        "q81_fs_params": _q81_fs_params,
        "q82_cluster_metrics": _q82_cluster_metrics,
        "q83_tf_weights": _q83_tf_weights,
        "q84_fs_posterior": _q84_fs_posterior,
        "q85_fs_levels": _q85_fs_levels,
        "q86_fuse_clusters": _q86_fuse_clusters,
        "q87_bridge_prune": _q87_bridge_prune,
        "q88_monge_elkan": _q88_monge_elkan,
        "q89_bcubed": _q89_bcubed,
        "q90_uncertainty_sample": _q90_uncertainty_sample,
        "q91_meta_blocking": _q91_meta_blocking,
        "q92_adjusted_rand": _q92_adjusted_rand,
        "q93_numeric_temporal": _q93_numeric_temporal,
        "q94_pprl_clk": _q94_pprl_clk,
        "q95_match_tiers": _q95_match_tiers,
        "q96_link_features": _q96_link_features,
        "q97_blocking_sweep": _q97_blocking_sweep,
        "q98_cluster_stability": _q98_cluster_stability,
        "q99_fusion_conflicts": _q99_fusion_conflicts,
        "q100_budget_ledger": _q100_budget_ledger,
    }
    return {**never_attested, **new_ops, **second_half, **first_half}


def _phonetic_sql(c: str) -> str:
    """DuckDB replica of functions/normalize.py:phonetic_key — same
    translate map, same 6-round fixpoint pair-collapse, same 64-letter
    prefix; verified bit-identical on the classic Soundex examples."""
    letters = (
        f"substring(upper(regexp_replace(coalesce({c}, ''), "
        "'[^A-Za-z]', '', 'g')), 1, 64)"
    )
    coded = (
        f"translate({letters}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        "'01230120022455012623010202')"
    )
    for _ in range(6):
        for d in "0123456":
            coded = f"replace({coded}, '{d}{d}', '{d}')"
    digits = f"replace(substring({coded}, 2, 64), '0', '')"
    key = f"(substring({letters}, 1, 1) || rpad(substring({digits}, 1, 3), 3, '0'))"
    return f"CASE WHEN {letters} = '' THEN '' ELSE {key} END"


# ---------------------------------------------------------------------------
# DuckDB replicas of the portable-hash randomized operators
# (resolve_spark/functions/hashing.py: 60-bit md5-prefix hash + split-30
# universal family — bit-identical in Spark, numpy and DuckDB)
# ---------------------------------------------------------------------------

def _ph_sql(x: str) -> str:
    return f"('0x' || substr(md5({x}),1,15))::BIGINT"


def _minhash_keys_cte(num_hashes: int = 64, bands: int = 16, seed: int = 42) -> str:
    """CTE chain ending in keys(doc_id, band_key) — the DuckDB replica of
    minhash_band_keys_udf(hash_impl='portable') over documents.text."""
    rpb = num_hashes // bands
    m30 = (1 << 30) - 1
    p61 = (1 << 61) - 1
    _a_expr = f"'mh:a:{seed}:' || i"
    _b_expr = f"'mh:b:{seed}:' || i"
    return (
        # whitespace tokens, as python str.split()
        "mh_d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), "
        "'\\s+'), x -> x <> '') AS toks FROM documents), "
        # 3-token shingle strings; <3 tokens -> one all-token shingle
        "mh_sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) = 0 THEN []::VARCHAR[] "
        "WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')] "
        "ELSE list_distinct(list_transform(range(1, len(toks) - 1), "
        "j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2])) END) AS s FROM mh_d), "
        f"mh_x AS (SELECT doc_id, {_ph_sql('s')} AS x FROM mh_sh), "
        # per-hash-function params from md5 of 'mh:a/b:{seed}:{i}'
        f"mh_p AS (SELECT i, {_ph_sql(_a_expr)} + 1 AS a, "
        f"{_ph_sql(_b_expr)} AS b FROM range({num_hashes}) t(i)), "
        # signature: min of the split-30 universal hash over shingles
        f"mh_sig AS (SELECT doc_id, i, min(((a & {m30}) * (x & {m30}) "
        f"+ (a >> 30) * (x >> 30) + b) % {p61}) AS sg "
        "FROM mh_x, mh_p GROUP BY 1, 2), "
        f"mh_bk AS (SELECT doc_id, i // {rpb} AS band, "
        "string_agg(sg::VARCHAR, '|' ORDER BY i) AS payload FROM mh_sig GROUP BY 1, 2), "
        "keys AS (SELECT doc_id, 'm' || band || ':' || "
        "substr(md5(band || '|' || payload), 1, 12) AS band_key FROM mh_bk)"
    )


def _simhash_cte() -> str:
    """CTE chain ending in sim(doc_id, sim) — DuckDB replica of
    simhash64(hash_impl='portable') over documents.text."""
    toks = _TOKENS_SQL.format(c="text")
    return (
        f"sh_d AS (SELECT doc_id, {toks} AS toks FROM documents), "
        f"sh_h AS (SELECT doc_id, {_ph_sql('t.tok')} AS th FROM "
        "(SELECT doc_id, unnest(toks) AS tok FROM sh_d) t), "
        "sh_bc AS (SELECT doc_id, b.b AS b, sum((th >> b.b) & 1) AS cnt, "
        "count(*) AS n FROM sh_h, range(63) b(b) GROUP BY 1, 2), "
        "sh_s AS (SELECT doc_id, sum(CASE WHEN 2 * cnt > n THEN (1::BIGINT << b) "
        "ELSE 0::BIGINT END) AS sim FROM sh_bc GROUP BY 1), "
        "sim AS (SELECT doc_id, coalesce(s.sim, 0) AS sim FROM documents "
        "LEFT JOIN sh_s s USING (doc_id))"
    )


def _srp_sig_cte(planes: int = 10, tables: int = 4, seed: int = 42,
                 dim: int = 64, quant: int = 1_000_000) -> str:
    """CTE chain ending in sig(vec_id, tbl, bucket) — DuckDB replica of
    signature_udf(hash_impl='portable') over embeddings.embedding for
    every LSH table (seed + 101*t)."""
    assert seed == 42  # seed is baked into the hash-input string below
    w = _ph_sql("'hp:' || (42 + 101 * t.t) || ':' || p.p || ':' || d.d")
    return (
        f"hp AS (SELECT t.t AS tbl, p.p AS pl, d.d AS d, "
        f"({w} % 2001 - 1000) AS w "
        f"FROM range({tables}) t(t), range({planes}) p(p), range({dim}) d(d)), "
        f"vq AS (SELECT vec_id, d.d AS d, "
        f"floor((embedding[d.d + 1])::DOUBLE * {quant})::BIGINT AS q "
        f"FROM embeddings, range({dim}) d(d)), "
        "vdot AS (SELECT v.vec_id, h.tbl, h.pl, sum(v.q * h.w) AS dot "
        "FROM vq v JOIN hp h USING (d) GROUP BY 1, 2, 3), "
        "sig AS (SELECT vec_id, tbl, sum(CASE WHEN dot > 0 THEN (1::BIGINT << pl) "
        "ELSE 0::BIGINT END) AS bucket FROM vdot GROUP BY 1, 2)"
    )


def _jw_chain_sql() -> str:
    """Shared CTE fragment computing ``jwd(id_a, id_b, jw)`` — the
    reference Jaro-Winkler (similarity.go:48-157: greedy byte-window
    matching over the shorter string, transposition halving,
    UNCONDITIONAL prefix boost) over the (pa, pb) string pair columns of
    a prior CTE ``jwp(id_a, id_b, pa, pb)`` with unique (id_a, id_b).
    Splice inside a WITH RECURSIVE. Used by q20/q46/q47; validated
    0-diff against the scalar kernel on 300+ randomized pairs."""
    return (
        # jaro operands: s = shorter string, l = longer
        "jw_dims AS (SELECT id_a, id_b, "
        "CASE WHEN len(pa) > len(pb) THEN pb ELSE pa END AS s, "
        "CASE WHEN len(pa) > len(pb) THEN pa ELSE pb END AS l "
        "FROM jwp WHERE pa <> '' AND pb <> '' AND pa <> pb), "
        "jw_d2 AS (SELECT id_a, id_b, s, l, len(s) AS ls, len(l) AS ll, "
        "greatest(len(l) // 2 - 1, 0) AS md FROM jw_dims WHERE len(s) > 0), "
        # greedy match walk: i steps over s; used = matched positions in l
        "jw_walk(id_a, id_b, i, used, ma) AS ("
        "SELECT id_a, id_b, 0::BIGINT, []::BIGINT[], '' FROM jw_d2 "
        "UNION ALL "
        "SELECT id_a, id_b, i + 1, "
        "CASE WHEN j IS NULL THEN used ELSE list_append(used, j) END, "
        "CASE WHEN j IS NULL THEN ma ELSE ma || substr(s, (i + 1)::INT, 1) END "
        "FROM (SELECT w.id_a, w.id_b, w.i, w.used, w.ma, d.s, d.ls, "
        "list_filter(range(greatest(0, w.i - d.md), least(w.i + d.md + 1, d.ll)), "
        "j -> substr(d.l, (j + 1)::INT, 1) = substr(d.s, (w.i + 1)::INT, 1) "
        "AND NOT list_contains(w.used, j))[1] AS j "
        "FROM jw_walk w JOIN jw_d2 d USING (id_a, id_b) WHERE w.i < d.ls)), "
        "jw_m AS (SELECT w.id_a, w.id_b, len(w.used) AS m, w.ma, "
        "array_to_string(list_transform(list_sort(w.used), "
        "j -> substr(d.l, (j + 1)::INT, 1)), '') AS mb, d.ls, d.ll "
        "FROM jw_walk w JOIN jw_d2 d USING (id_a, id_b) WHERE w.i = d.ls), "
        "jw_jaro AS (SELECT id_a, id_b, CASE WHEN m = 0 THEN 0.0 ELSE "
        "(m::DOUBLE / ls + m::DOUBLE / ll + "
        "(m - len(list_filter(range(1, m + 1), "
        "p -> substr(ma, p::INT, 1) <> substr(mb, p::INT, 1))) / 2.0) / m) / 3.0 "
        "END AS jaro FROM jw_m), "
        # winkler over (pa, pb): unconditional boost; pa = pb short-cuts to 1
        "jwd AS (SELECT q.id_a, q.id_b, CASE "
        "WHEN q.pa = '' OR q.pb = '' THEN 0.0 "
        "WHEN q.pa = q.pb THEN 1.0 "
        "ELSE coalesce(j.jaro, 0.0) + len(list_filter("
        "range(1, least(4, len(q.pa), len(q.pb)) + 1), "
        "p -> substr(q.pa, 1, p::INT) = substr(q.pb, 1, p::INT))) "
        "* 0.1 * (1.0 - coalesce(j.jaro, 0.0)) END AS jw "
        "FROM jwp q LEFT JOIN jw_jaro j USING (id_a, id_b))"
    )


def _q20_oracle_sql() -> str:
    """Full F1 NameSimilarity oracle in pure SQL — including the exact
    reference Jaro-Winkler (similarity.go:48-157: greedy byte-window
    matching, transposition halving, UNCONDITIONAL prefix boost), which
    DuckDB's built-in jaro_winkler does NOT implement (it gates the
    boost at 0.7 and uses a different matching rule). The greedy match
    loop runs as a recursive CTE stepping one character of the shorter
    string per round, carrying the used-position list; validated 0-diff
    against the scalar kernel on 300+ randomized pairs."""
    legal = _LEGAL_SUFFIX_SQL
    pre = (
        "trim(regexp_replace(regexp_replace(lower({x}), '" + legal + "', ''), "
        "'\\s+', ' ', 'g'))"
    )
    toks_pa = _TOKENS_SQL.format(c="pa")
    toks_pb = _TOKENS_SQL.format(c="pb")
    return (
        "WITH RECURSIVE "
        "q20p AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, "
        "a.p_name AS na, b.p_name AS nb, "
        + pre.format(x="a.p_name") + " AS pa, " + pre.format(x="b.p_name") + " AS pb "
        "FROM part a JOIN part b ON a.p_brand = b.p_brand "
        "AND a.p_partkey < b.p_partkey "
        "WHERE a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0), "
        "jwp AS (SELECT id_a, id_b, pa, pb FROM q20p), "
        + _jw_chain_sql() + ", "
        "parts3 AS (SELECT q.id_a, q.id_b, q.na, q.nb, q.pa, q.pb, w.jw, "
        f"{toks_pa} AS ta, {toks_pb} AS tb "
        "FROM q20p q JOIN jwd w USING (id_a, id_b)), "
        "scored AS (SELECT id_a, id_b, CASE "
        "WHEN na = nb THEN 1.0 "
        "WHEN na = '' OR nb = '' THEN 0.0 "
        "WHEN pa = pb THEN 1.0 "
        "ELSE 0.6 * jw + 0.3 * (CASE WHEN pa = '' OR pb = '' THEN 0.0 "
        "WHEN len(list_distinct(list_concat(ta, tb))) = 0 THEN 0.0 "
        "ELSE len(list_intersect(ta, tb))::DOUBLE / "
        "len(list_distinct(list_concat(ta, tb))) END) "
        "+ 0.1 * (CASE WHEN pa = '' OR pb = '' THEN 0.0 "
        "WHEN position(pa IN pb) > 0 OR position(pb IN pa) > 0 "
        "THEN least(len(pa), len(pb))::DOUBLE / greatest(len(pa), len(pb)) "
        "ELSE 0.0 END) END AS name_sim FROM parts3) "
        "SELECT id_a, id_b, round(name_sim, 6) AS name_sim FROM scored "
        "WHERE round(name_sim, 6) >= 0.5"
    )


_PAIR_SQL = (
    "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey "
    "AND b.c_custkey > a.c_custkey AND b.c_custkey - a.c_custkey <= {gap}"
)


def _addr_pre_sql(x: str) -> str:
    """DuckDB replica of kernels._address_preprocess for the q46 inputs:
    lower -> drop unit clauses -> street-type + directional abbreviation
    (only the words the synthesized addresses contain) -> collapse ws."""
    y = f"lower({x})"
    y = ("regexp_replace(" + y +
         ", '(\\s+)(apt|apartment|ste|suite|unit|#)\\.?\\s+[a-z0-9-]+', '', 'g')")
    y = f"regexp_replace({y}, '\\bstreet\\b', 'st', 'g')"
    y = f"regexp_replace({y}, '\\bavenue\\b', 'ave', 'g')"
    y = f"regexp_replace({y}, '\\bnorth\\b', 'n', 'g')"
    return f"regexp_replace(trim({y}), '\\s+', ' ', 'g')"


def _q46_oracle_sql() -> str:
    ra = ("cast(a.c_custkey % 150 as varchar) || ' ' || "
          "lower(a.c_mktsegment) || ' Street'")
    rb = (
        "CASE WHEN b.c_custkey % 3 = 0 THEN cast(a.c_custkey % 150 as varchar) "
        "|| ' ' || lower(a.c_mktsegment) || ' Street' "
        "WHEN b.c_custkey % 3 = 1 THEN cast(b.c_custkey % 150 as varchar) "
        "|| ' ' || lower(b.c_mktsegment) || ' St Apt ' "
        "|| cast(b.c_custkey % 20 as varchar) "
        "ELSE cast(a.c_custkey % 150 as varchar) || ' North ' "
        "|| lower(b.c_mktsegment) || ' Avenue' END"
    )
    ta = _TOKENS_SQL.format(c="t.pa")
    tb = _TOKENS_SQL.format(c="t.pb")
    jac = ("(CASE WHEN len(list_distinct(list_concat(ta, tb))) = 0 THEN 0.0 "
           "ELSE len(list_intersect(ta, tb))::DOUBLE / "
           "len(list_distinct(list_concat(ta, tb))) END)")
    cont = ("(CASE WHEN position(pa IN pb) > 0 OR position(pb IN pa) > 0 "
            "THEN least(len(pa), len(pb))::DOUBLE / greatest(len(pa), len(pb)) "
            "ELSE 0.0 END)")
    pen = ("(CASE WHEN num_a <> '' AND num_b <> '' AND num_a <> num_b "
           "THEN 0.3 ELSE 1.0 END)")
    return (
        "WITH RECURSIVE "
        f"p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, {ra} AS ra, "
        f"{rb} AS rb " + _PAIR_SQL.format(gap=2) + "), "
        "pre AS (SELECT id_a, id_b, ra, rb, " + _addr_pre_sql("ra") + " AS pa, "
        + _addr_pre_sql("rb") + " AS pb FROM p), "
        "jwp AS (SELECT id_a, id_b, pa, pb FROM pre), "
        + _jw_chain_sql() + ", "
        "sc AS (SELECT t.id_a, t.id_b, t.ra, t.rb, t.pa, t.pb, j.jw, "
        f"{ta} AS ta, {tb} AS tb, "
        "regexp_extract(t.pa, '[0-9]+') AS num_a, "
        "regexp_extract(t.pb, '[0-9]+') AS num_b "
        "FROM pre t JOIN jwd j USING (id_a, id_b)) "
        "SELECT id_a, id_b, round(CASE WHEN ra = rb THEN 1.0 "
        "WHEN pa = pb THEN 1.0 "
        f"ELSE (0.5 * {jac} + 0.2 * jw + 0.3 * {cont}) * {pen} END, 6) "
        "AS addr_sim FROM sc"
    )


def _q47_oracle_sql() -> str:
    ea = ("'User' || cast(a.c_custkey as varchar) || '@' || "
          "lower(a.c_mktsegment) || '.example.com'")
    eb = (
        f"CASE WHEN b.c_custkey % 11 = 0 THEN {ea} "
        f"WHEN b.c_custkey % 7 = 0 THEN upper({ea}) "
        "WHEN b.c_custkey % 13 = 0 THEN 'invalid-email-' || "
        "cast(b.c_custkey as varchar) "
        "ELSE 'User' || cast(b.c_custkey as varchar) || '@' || "
        "lower(b.c_mktsegment) || '.example.com' END"
    )
    return (
        "WITH RECURSIVE "
        f"p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, {ea} AS ea, "
        f"{eb} AS eb " + _PAIR_SQL.format(gap=2) + "), "
        # JW operands: full strings when unparseable, user parts otherwise
        "jwp AS (SELECT id_a, id_b, "
        "CASE WHEN position('@' IN eb) = 0 THEN ea "
        "ELSE split_part(ea, '@', 1) END AS pa, "
        "CASE WHEN position('@' IN eb) = 0 THEN eb "
        "ELSE split_part(eb, '@', 1) END AS pb FROM p), "
        + _jw_chain_sql() + " "
        "SELECT p.id_a, p.id_b, round(CASE "
        "WHEN p.ea = p.eb THEN 1.0 "
        "WHEN lower(p.ea) = lower(p.eb) THEN 0.99 "
        "WHEN position('@' IN p.eb) = 0 THEN j.jw "
        "WHEN lower(split_part(p.ea, '@', 2)) <> lower(split_part(p.eb, '@', 2)) "
        "THEN 0.0 "
        "ELSE 0.4 * j.jw + 0.6 END, 6) AS email_sim "
        "FROM p JOIN jwd j USING (id_a, id_b)"
    )


_PHONE_NORM_RE = (
    r"^(?:\+?(\d{1,3}))?[-. (]*(\d{3})[-. )]*(\d{3})[-. ]*(\d{4})$"
)


def _q48_oracle_sql() -> str:
    k = "c_custkey"
    addr_in = (
        f"cast({k} % 999 as varchar) || ' Main ' || "
        f"CASE ({k} % 3) WHEN 0 THEN 'Street' WHEN 1 THEN 'Avenue' "
        "ELSE 'Boulevard' END || "
        f"CASE WHEN {k} % 5 = 0 THEN '.' ELSE '' END || "
        f"CASE WHEN {k} % 4 = 0 THEN ' Apt ' || cast({k} % 50 as varchar) "
        "ELSE '' END"
    )
    a0 = f"regexp_replace(trim(lower({addr_in})), '\\s+', ' ', 'g')"
    a1 = f"regexp_replace({a0}, '\\bstreet\\b\\.?', 'st', 'g')"
    a2 = f"regexp_replace({a1}, '\\bavenue\\b\\.?', 'ave', 'g')"
    a3 = f"regexp_replace({a2}, '\\bboulevard\\b\\.?', 'blvd', 'g')"
    a4 = ("regexp_replace(" + a3 +
          ", '(\\s+)(apt|apartment|ste|suite|unit|#)\\.?\\s+[a-z0-9-]+', '', 'g')")
    addr_norm = f"trim({a4})"
    ph = (f"'(' || lpad(cast({k} * 7 % 1000 as varchar), 3, '0') || ') 555-' || "
          f"lpad(cast({k} % 10000 as varchar), 4, '0')")
    cc = f"regexp_extract({ph}, '{_PHONE_NORM_RE}', 1)"
    phone_norm = (
        f"CASE WHEN {k} % 7 = 0 THEN 'not a phone' "
        f"WHEN {k} % 10 = 0 THEN '+15551234567' "
        f"ELSE '+' || (CASE WHEN {cc} = '' THEN '1' ELSE {cc} END) || "
        f"regexp_extract({ph}, '{_PHONE_NORM_RE}', 2) || "
        f"regexp_extract({ph}, '{_PHONE_NORM_RE}', 3) || "
        f"regexp_extract({ph}, '{_PHONE_NORM_RE}', 4) END"
    )
    email_norm = (
        f"CASE WHEN {k} % 13 = 0 THEN 'not-an-email' "
        f"ELSE 'User' || cast({k} as varchar) || '@example' || "
        f"cast({k} % 5 as varchar) || '.com' END"
    )
    state_norm = (
        f"CASE ({k} % 7) WHEN 0 THEN 'CA' WHEN 1 THEN 'NY' WHEN 2 THEN 'TX' "
        "WHEN 3 THEN 'WA' WHEN 4 THEN 'RI' WHEN 5 THEN '' ELSE 'atlantis' END"
    )
    zip5 = f"lpad(cast({k} % 100000 as varchar), 5, '0')"
    zip_norm = (
        f"CASE WHEN {k} % 4 = 0 THEN {zip5} "
        f"WHEN {k} % 4 = 1 THEN {zip5} "
        f"WHEN {k} % 4 = 2 THEN 'A1B2C3' ELSE '123' END"
    )
    return (
        f"SELECT {k}, {addr_norm} AS addr_norm, {phone_norm} AS phone_norm, "
        f"{email_norm} AS email_norm, {state_norm} AS state_norm, "
        f"{zip_norm} AS zip_norm FROM customer"
    )


# recursive-CTE connected components over e(id_a, id_b): comp(rid, cluster_id)
_CC_CTE = (
    "sym AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b, id_a FROM e), "
    "reach AS (SELECT s, d FROM sym "
    "UNION SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s), "
    "comp AS (SELECT s AS rid, least(s, min(d)) AS cluster_id FROM reach GROUP BY s)"
)


def _fs_prod_sql(fields: list[str], kind: str, params: str) -> str:
    """lam * PROD_f (m_f if g_f else 1-m_f), spelled left-to-right in
    field order — the same expression tree the Python EM evaluates, so
    IEEE doubles agree bit-for-bit per pattern."""
    head = f"{params}.l" if kind == "m" else f"(1e0 - {params}.l)"
    terms = [
        f"(CASE WHEN {g} = 1 THEN {params}.{kind}{i + 1} "
        f"ELSE 1e0 - {params}.{kind}{i + 1} END)"
        for i, g in enumerate(fields)
    ]
    return head + " * " + " * ".join(terms)


def _fs_em_ctes(g_ctes: list[str], fields: list[str], iterations: int) -> list[str]:
    """Unrolled fixed-iteration Fellegi-Sunter EM in DuckDB SQL over
    the agreement-pattern contingency table estimate_fs collects.
    ``g_ctes`` must end with a CTE named ``g`` exposing the 0/1
    ``fields``; the returned chain adds pc/tot/p0..p{iterations}
    (p{K} holds l, m1.., u1..). The pattern sums (<= 2^F terms) are
    the only order-unpinned float ops vs the Python loop; callers
    round to 6 dp, which absorbs them."""
    nf = len(fields)
    prod = lambda kind, params: _fs_prod_sql(fields, kind, params)  # noqa: E731
    clip = lambda x: f"greatest(least({x}, 1e0 - 1e-6), 1e-6)"  # noqa: E731
    cte = list(g_ctes) + [
        f"pc AS (SELECT {', '.join(fields)}, count(*)::BIGINT AS cnt "
        f"FROM g GROUP BY {', '.join(str(i + 1) for i in range(nf))})",
        "tot AS (SELECT sum(cnt) AS t FROM pc)",
        "p0 AS (SELECT 1e-1 AS l, "
        + ", ".join(f"9e-1 AS m{i + 1}" for i in range(nf))
        + ", "
        + ", ".join(f"1e-1 AS u{i + 1}" for i in range(nf))
        + ")",
    ]
    for it in range(1, iterations + 1):
        prev = f"p{it - 1}"
        cte.append(
            f"x{it} AS (SELECT pc.*, CASE WHEN a + b > 0 "
            f"THEN a / (a + b) ELSE 0e0 END AS p FROM "
            f"(SELECT pc.*, {prod('m', 'p')} AS a, {prod('u', 'p')} AS b "
            f"FROM pc, {prev} p) pc)"
        )
        m_terms = ", ".join(
            clip(f"sum(cnt * p * {g}) / sum(cnt * p)") + f" AS m{i + 1}"
            for i, g in enumerate(fields)
        )
        u_terms = ", ".join(
            clip(f"sum(cnt * (1e0 - p) * {g}) / sum(cnt * (1e0 - p))")
            + f" AS u{i + 1}"
            for i, g in enumerate(fields)
        )
        cte.append(
            f"p{it} AS (SELECT "
            + clip("sum(cnt * p) / (SELECT t FROM tot)")
            + f" AS l, {m_terms}, {u_terms} FROM x{it})"
        )
    return cte


def _q81_oracle_sql(iterations: int = 3) -> str:
    fields = ["g_seg", "g_phone", "g_bal"]
    g_ctes = [
        "WITH c AS (SELECT c_custkey AS k, c_nationkey AS nk, "
        "c_mktsegment AS seg, (c_custkey * 7) % 1000 AS ph, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS balc "
        "FROM customer WHERE c_custkey % 3 = 0)",
        "g AS (SELECT CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g_seg, "
        "CASE WHEN a.ph = b.ph THEN 1 ELSE 0 END AS g_phone, "
        "CASE WHEN abs(a.balc - b.balc) < 100000 THEN 1 ELSE 0 END AS g_bal "
        "FROM c a JOIN c b ON a.nk = b.nk AND a.k < b.k)",
    ]
    cte = _fs_em_ctes(g_ctes, fields, iterations)
    last = f"p{iterations}"
    rows = " UNION ALL ".join(
        f"SELECT '{g}' AS field, round(m{i + 1}, 6) AS m, "
        f"round(u{i + 1}, 6) AS u, "
        f"round(log2(m{i + 1} / u{i + 1}), 6) AS agree_weight, "
        f"round(log2((1e0 - m{i + 1}) / (1e0 - u{i + 1})), 6) AS disagree_weight, "
        f"round(l, 6) AS lam FROM {last}"
        for i, g in enumerate(fields)
    )
    return ", ".join(cte) + f" SELECT * FROM ({rows}) ORDER BY field"


def _fs_em_levels_ctes(
    g_ctes: list[str], level_fields: list[tuple[str, int]], iterations: int
) -> list[str]:
    """Levels variant of _fs_em_ctes (estimate_fs_levels): per field f
    and level l the params CTEs carry m{f}_{l} / u{f}_{l}; products
    select the level's probability via CASE (a pure lookup, no
    arithmetic — matching Python's m[f][g[f]] indexing)."""
    from resolve_spark.operators.fellegi_sunter import fs_level_inits

    fields = [f for f, _ in level_fields]

    def prod(kind: str, params: str) -> str:
        head = f"{params}.l" if kind == "m" else f"(1e0 - {params}.l)"
        terms = []
        for fi, (g, L) in enumerate(level_fields):
            whens = " ".join(
                f"WHEN {l} THEN {params}.{kind}{fi}_{l}" for l in range(L)
            )
            terms.append(f"(CASE {g} {whens} END)")
        return head + " * " + " * ".join(terms)

    clip = lambda x: f"greatest(least({x}, 1e0 - 1e-6), 1e-6)"  # noqa: E731
    dbl = lambda x: f"CAST({x!r} AS DOUBLE)"  # noqa: E731
    init_cols = ["1e-1 AS l"]
    for fi, (_, L) in enumerate(level_fields):
        m0, u0 = fs_level_inits(L)
        init_cols += [f"{dbl(m0[l])} AS m{fi}_{l}" for l in range(L)]
        init_cols += [f"{dbl(u0[l])} AS u{fi}_{l}" for l in range(L)]
    cte = list(g_ctes) + [
        f"pc AS (SELECT {', '.join(fields)}, count(*)::BIGINT AS cnt "
        f"FROM g GROUP BY {', '.join(str(i + 1) for i in range(len(fields)))})",
        "tot AS (SELECT sum(cnt) AS t FROM pc)",
        "p0 AS (SELECT " + ", ".join(init_cols) + ")",
    ]
    for it in range(1, iterations + 1):
        prev = f"p{it - 1}"
        cte.append(
            f"x{it} AS (SELECT pc.*, CASE WHEN a + b > 0 "
            f"THEN a / (a + b) ELSE 0e0 END AS p FROM "
            f"(SELECT pc.*, {prod('m', 'p')} AS a, {prod('u', 'p')} AS b "
            f"FROM pc, {prev} p) pc)"
        )
        terms = [clip("sum(cnt * p) / (SELECT t FROM tot)") + " AS l"]
        for fi, (g, L) in enumerate(level_fields):
            terms += [
                clip(
                    f"sum(cnt * p * CASE WHEN {g} = {l} THEN 1e0 ELSE 0e0 END)"
                    " / sum(cnt * p)"
                )
                + f" AS m{fi}_{l}"
                for l in range(L)
            ]
            terms += [
                clip(
                    f"sum(cnt * (1e0 - p) * CASE WHEN {g} = {l} "
                    "THEN 1e0 ELSE 0e0 END) / sum(cnt * (1e0 - p))"
                )
                + f" AS u{fi}_{l}"
                for l in range(L)
            ]
        cte.append(f"p{it} AS (SELECT {', '.join(terms)} FROM x{it})")
    return cte


def _q85_oracle_sql(iterations: int = 3) -> str:
    """estimate_fs_levels over 3-level comparison vectors on part
    pairs: name levenshtein banded (>=0.85 / >=0.65 / else), size
    distance banded (equal / within 2 / else), type (exact / same
    first word / else)."""
    level_fields = [("g_name", 3), ("g_size", 3), ("g_type", 3)]
    g_ctes = [
        "WITH p AS (SELECT p_partkey, p_name, p_brand, p_size, p_type, "
        "string_split(p_type, ' ')[1] AS t1 "
        "FROM part WHERE p_partkey % 4 = 0)",
        "g AS (SELECT CASE WHEN s >= 85e-2 THEN 2 WHEN s >= 65e-2 THEN 1 "
        "ELSE 0 END AS g_name, "
        "CASE WHEN sa = sb THEN 2 WHEN abs(sa - sb) <= 2 THEN 1 ELSE 0 END "
        "AS g_size, "
        "CASE WHEN ta = tb THEN 2 WHEN wa = wb THEN 1 ELSE 0 END AS g_type "
        "FROM (SELECT 1e0 - levenshtein(a.p_name, b.p_name)::DOUBLE / "
        "greatest(length(a.p_name), length(b.p_name)) AS s, "
        "a.p_size AS sa, b.p_size AS sb, a.p_type AS ta, b.p_type AS tb, "
        "a.t1 AS wa, b.t1 AS wb "
        "FROM p a JOIN p b ON a.p_brand = b.p_brand "
        "AND a.p_partkey < b.p_partkey))",
    ]
    cte = _fs_em_levels_ctes(g_ctes, level_fields, iterations)
    last = f"p{iterations}"
    rows = " UNION ALL ".join(
        f"SELECT '{g}' AS field, {l} AS level, round(m{fi}_{l}, 6) AS m, "
        f"round(u{fi}_{l}, 6) AS u, "
        f"round(log2(m{fi}_{l} / u{fi}_{l}), 6) AS weight, "
        f"round(l, 6) AS lam FROM {last}"
        for fi, (g, L) in enumerate(level_fields)
        for l in range(L)
    )
    return ", ".join(cte) + f" SELECT * FROM ({rows}) ORDER BY field, level"


def _q84_g_ctes() -> list[str]:
    """q84/q90 shared agreement CTEs: gp carries the pair ids, g is
    the bare pattern stream the EM generator consumes."""
    return [
        "WITH p AS (SELECT p_partkey, p_name, p_brand, p_size, "
        "p_type FROM part WHERE p_partkey % 4 = 0)",
        "gp AS (SELECT a.p_partkey AS ia, b.p_partkey AS ib, "
        "CASE WHEN 1e0 - levenshtein(a.p_name, b.p_name)::DOUBLE / "
        "greatest(length(a.p_name), length(b.p_name)) >= 7e-1 "
        "THEN 1 ELSE 0 END AS g_name, "
        "CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS g_size, "
        "CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS g_cont "
        "FROM p a JOIN p b ON a.p_brand = b.p_brand "
        "AND a.p_partkey < b.p_partkey)",
        "g AS (SELECT g_name, g_size, g_cont FROM gp)",
    ]


def _q90_oracle_sql(iterations: int = 3) -> str:
    """uncertainty_sample over the q84 posterior: per-pair posterior by
    pattern join, ordered by |p - 0.5| with (ia, ib) tiebreak, top 20.
    The ORDER BY uses the UNROUNDED posterior, mirroring the operator."""
    fields = ["g_name", "g_size", "g_cont"]
    cte = _fs_em_ctes(_q84_g_ctes(), fields, iterations)
    last = f"p{iterations}"
    prod = lambda kind: _fs_prod_sql(fields, kind, "pp")  # noqa: E731
    cte.append(
        "post AS (SELECT g_name, g_size, g_cont, "
        "CASE WHEN a + b > 0 THEN a / (a + b) ELSE 0e0 END AS mp FROM "
        f"(SELECT pc.*, {prod('m')} AS a, {prod('u')} AS b "
        f"FROM pc, {last} pp) pc)"
    )
    return (
        ", ".join(cte)
        + " SELECT gp.ia AS id_a, gp.ib AS id_b, gp.g_name, gp.g_size, "
        "gp.g_cont, round(post.mp, 6) AS match_probability "
        "FROM gp JOIN post USING (g_name, g_size, g_cont) "
        "ORDER BY abs(post.mp - 5e-1), gp.ia, gp.ib LIMIT 20"
    )


def _q84_oracle_sql(iterations: int = 3) -> str:
    """fs_posterior_edges over a SQL-expressible scored-pair stream:
    brand-blocked part pairs, field scores = levenshtein name sim /
    size equality / container equality, binarized at the operator's
    agree_at, then the unrolled EM + per-pattern posterior."""
    fields = ["g_name", "g_size", "g_cont"]
    cte = _fs_em_ctes(_q84_g_ctes(), fields, iterations)
    last = f"p{iterations}"
    prod = lambda kind: _fs_prod_sql(fields, kind, "pp")  # noqa: E731
    cte.append(
        "post AS (SELECT g_name, g_size, g_cont, cnt, "
        "CASE WHEN a + b > 0 THEN a / (a + b) ELSE 0e0 END AS mp FROM "
        f"(SELECT pc.*, {prod('m')} AS a, {prod('u')} AS b "
        f"FROM pc, {last} pp) pc)"
    )
    return (
        ", ".join(cte)
        + " SELECT g_name, g_size, g_cont, cnt AS n_pairs, "
        "round(mp, 6) AS match_probability FROM post "
        "ORDER BY g_name, g_size, g_cont"
    )


def oracle_sql() -> dict[str, str]:
    norm_text = _NORM_TEXT_SQL.format(c="text")
    tokens_a = _TOKENS_SQL.format(c="a.text")
    tokens_b = _TOKENS_SQL.format(c="b.text")
    phone = ("lpad(cast(({k} * 7) % 1000 as varchar), 3, '0') || '-555-' || "
             "lpad(cast({k} % 10000 as varchar), 4, '0')")
    pa, pb = phone.format(k="a.c_custkey"), phone.format(k="b.c_custkey")
    # digits of the synthesized phone (strip the dashes)
    da, db = f"replace({pa}, '-', '')", f"replace({pb}, '-', '')"
    za = "lpad(cast(c_custkey % 100000 as varchar), 5, '0')"
    zb = "lpad(cast((c_custkey + c_nationkey) % 100000 as varchar), 5, '0')"
    return {
        "q01_normalize_text": f"SELECT doc_id, {norm_text} AS text_norm FROM documents",
        "q02_normalize_name": f"SELECT p_partkey, {_norm_name_sql('p_name')} AS name_norm FROM part",
        "q03_canopy_key": (
            "SELECT p_partkey, CASE WHEN comp = '' THEN 'default' "
            "ELSE substring(md5(comp || '|'), 1, 16) END AS block_key FROM ("
            f"SELECT p_partkey, substring({_norm_name_sql('p_name')}, 1, 3) AS comp FROM part)"
        ),
        "q04_levenshtein_pairs": (
            "SELECT * FROM (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, "
            "round(1.0 - levenshtein(a.p_name, b.p_name)::DOUBLE / "
            "greatest(length(a.p_name), length(b.p_name)), 6) AS lev_sim "
            "FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey "
            "WHERE a.p_partkey % 5 = 0 AND b.p_partkey % 5 = 0) WHERE lev_sim >= 0.5"
        ),
        "q05_jaccard_pairs": (
            "SELECT * FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            f"round(len(list_intersect({tokens_a}, {tokens_b}))::DOUBLE / "
            f"len(list_distinct(list_concat({tokens_a}, {tokens_b}))), 6) AS jac "
            "FROM documents a JOIN documents b ON a.lang = b.lang AND a.doc_id < b.doc_id "
            "WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 = 0) WHERE jac >= 0.5"
        ),
        "q06_contained_in": (
            "SELECT p_partkey, round(CASE "
            "WHEN position(lower(substring(p_name,1,12)) IN lower(p_name)) > 0 "
            " OR position(lower(p_name) IN lower(substring(p_name,1,12))) > 0 "
            "THEN least(length(substring(p_name,1,12)), length(p_name))::DOUBLE / "
            "greatest(length(substring(p_name,1,12)), length(p_name)) ELSE 0.0 END, 6) "
            "AS containment FROM part"
        ),
        "q07_phone_ladder": (
            f"SELECT a.c_custkey AS id_a, b.c_custkey AS id_b, round(CASE "
            f"WHEN {da} = {db} THEN 1.0 "
            f"WHEN right({da},10) = right({db},10) THEN 1.0 "
            f"WHEN right({da},7) = right({db},7) THEN 0.9 "
            f"WHEN right({da},4) = right({db},4) THEN 0.7 "
            f"WHEN right({da},3) = right({db},3) THEN 0.3 "
            f"WHEN right({da},2) = right({db},2) THEN 0.2 "
            f"WHEN right({da},1) = right({db},1) THEN 0.1 "
            "ELSE 0.0 END::DOUBLE, 6) AS phone_sim "
            "FROM customer a JOIN customer b ON a.c_nationkey = b.c_nationkey "
            "AND b.c_custkey > a.c_custkey AND b.c_custkey - a.c_custkey <= 3"
        ),
        "q08_zip_ladder": (
            f"SELECT c_custkey, round(CASE WHEN {za} = {zb} THEN 1.0 "
            f"WHEN left({za},5) = left({zb},5) THEN 0.95 "
            f"WHEN left({za},3) = left({zb},3) THEN 0.8 "
            f"WHEN left({za},1) = left({zb},1) THEN 0.5 "
            "ELSE 0.0 END::DOUBLE, 6) AS zip_sim FROM customer"
        ),
        "q09_exact_dedup": (
            "SELECT md5(text) AS content_hash, count(*) AS dup_count "
            "FROM documents GROUP BY 1"
        ),
        "q10_topk_per_group": (
            "SELECT c_nationkey, c_custkey, acctbal, rk FROM ("
            "SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal, "
            "row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rk "
            "FROM customer) WHERE rk <= 3"
        ),
        "q11_group_stats": (
            "WITH sizes AS (SELECT c_nationkey, count(*) AS sz FROM customer GROUP BY 1), "
            "counted AS (SELECT c_nationkey, c_mktsegment, count(*) AS cnt "
            "FROM customer GROUP BY 1, 2), "
            "ranked AS (SELECT c_nationkey, c_mktsegment, cnt, "
            "row_number() OVER (PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment ASC) AS rk "
            "FROM counted) "
            "SELECT cast(r.c_nationkey as varchar) AS cluster_id, s.sz AS size, "
            "'segment' AS field, r.c_mktsegment AS mode_value, "
            "round(r.cnt::DOUBLE / s.sz, 6) AS agreement, "
            "round(r.cnt::DOUBLE / s.sz * 1.0, 6) AS confidence "
            "FROM ranked r JOIN sizes s ON r.c_nationkey = s.c_nationkey WHERE r.rk = 1"
        ),
        "q12_connected_components": (
            "WITH RECURSIVE e AS (SELECT lpad(cast(a.c_custkey as varchar), 6, '0') AS id_a, "
            "lpad(cast(b.c_custkey as varchar), 6, '0') AS id_b "
            "FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1 "
            "AND a.c_mktsegment = b.c_mktsegment AND a.c_nationkey = b.c_nationkey), "
            "sym AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b, id_a FROM e), "
            "reach AS (SELECT s, d FROM sym "
            "UNION SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s) "
            "SELECT s AS rid, least(s, min(d)) AS cluster_id FROM reach GROUP BY s"
        ),
        "q13_embedding_topk": (
            "SELECT query_id, cand_id, cos, rk FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id AS cand_id, "
            "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS cos, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC, "
            "c.vec_id ASC) AS rk "
            "FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id "
            "WHERE q.vec_id % 25 = 0) WHERE rk <= 3"
        ),
        "q14_entity_count": "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
        "q15_point_lookup": "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
        "q16_paginated_list": (
            "SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 25 OFFSET 100"
        ),
        "q17_email_domain_key": (
            "SELECT split_part('user' || cast(c_custkey as varchar) || '@' || "
            "lower(c_mktsegment) || '.example.com', '@', 2) AS domain, count(*) AS n "
            "FROM customer GROUP BY 1"
        ),
        "q18_token_signature": (
            "SELECT doc_id, 't:' || substring(md5(array_to_string(list_sort("
            + _TOKENS_SQL.format(c="text") + "), ' ')), 1, 16) AS token_key FROM documents"
        ),
        "q21_merge_upsert": (
            "SELECT c_custkey, round(CASE WHEN c_custkey % 100 = 0 "
            "THEN c_acctbal + 1000.0 ELSE c_acctbal END, 2) AS acctbal FROM customer"
        ),
        "q22_delete": (
            "SELECT c_mktsegment, count(*) AS n FROM customer "
            "WHERE c_custkey % 10 <> 0 GROUP BY 1"
        ),
        "q23_lang_id": _LANG_ID_SQL,
        "q24_quality_score": _QUALITY_SQL,
        "q25_token_stats": (
            "SELECT doc_id, "
            "len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens, "
            "(coalesce(list_sum(list_transform(" + _TOKENS_RAW_SQL.format(c="text") +
            ", x -> cast(ceil(length(x) / 4.0) as int))), 0) "
            "+ len(list_filter(string_split_regex(text, '[a-zA-Z0-9\\s]+'), x -> x <> '')))::BIGINT"
            " AS n_subwords FROM documents"
        ),
        "q26_dup_histogram": (
            "WITH g AS (SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS k, "
            "count(*) AS dup_count FROM documents GROUP BY 1) "
            "SELECT dup_count, count(*) AS n_groups FROM g GROUP BY 1"
        ),
        "q29_exact_dedup_clusters": (
            "WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS k "
            "FROM documents), "
            "g AS (SELECT k, min(doc_id) AS cluster_id, count(*) AS cluster_size "
            "FROM n GROUP BY k) "
            "SELECT n.doc_id AS rid, g.cluster_id, g.cluster_size FROM n JOIN g USING (k)"
        ),
        "q31_brute_force_topk": (
            "SELECT query_id, cand_id, round(cos, 4) AS cos, rk FROM ("
            "SELECT q.vec_id AS query_id, c.vec_id AS cand_id, "
            "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos, "
            "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
            "list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, "
            "c.vec_id ASC) AS rk "
            "FROM embeddings q JOIN embeddings c ON true "
            "WHERE q.vec_id % 20 = 0) WHERE rk <= 3"
        ),
        "q33_rolling_windows": (
            "SELECT doc_id, cast(floor((greatest(length(trim(regexp_replace(lower(text), "
            "'\\s+', ' ', 'g'))) - 63, 1) - 1) / 32.0) as int) + 1 AS n_windows FROM documents"
        ),
        "q35_find_matches": (
            "WITH q AS (SELECT c_custkey AS qid, c_name AS qn, c_mktsegment AS qs, "
            "c_nationkey AS nk FROM customer WHERE c_custkey % 200 = 0), "
            "p AS (SELECT q.qid, c.c_custkey AS mid, "
            "((1.0 - levenshtein(q.qn, c.c_name)::DOUBLE / "
            "greatest(length(q.qn), length(c.c_name))) + "
            "CASE WHEN q.qs = c.c_mktsegment THEN 1.0 ELSE 0.0 END) / 2 AS sc "
            "FROM q JOIN customer c ON q.nk = c.c_nationkey), "
            "s AS (SELECT qid AS query_id, mid AS match_id, round(sc, 6) AS score, "
            "row_number() OVER (PARTITION BY qid ORDER BY sc DESC, mid ASC) AS rank "
            "FROM p WHERE sc >= 0.6) "
            "SELECT query_id, match_id, score, rank FROM s WHERE rank <= 5"
        ),
        "q37_direct_group": (
            "WITH e AS (SELECT lpad(cast(a.c_custkey as varchar), 6, '0') AS id_a, "
            "lpad(cast(b.c_custkey as varchar), 6, '0') AS id_b, "
            "round(0.8 + (b.c_acctbal % 200) / 1000.0, 6) AS score "
            "FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1 "
            "AND a.c_nationkey = b.c_nationkey), "
            "seeds AS (SELECT DISTINCT id_a AS seed FROM e WHERE right(id_a, 1) = '0') "
            "SELECT seed, CASE WHEN id_a = seed THEN id_b ELSE id_a END AS rid, score "
            "FROM seeds JOIN e ON e.id_a = seed OR e.id_b = seed"
        ),
        "q38_hybrid_edges": (
            "WITH e AS (SELECT lpad(cast(a.c_custkey as varchar), 6, '0') AS id_a, "
            "lpad(cast(b.c_custkey as varchar), 6, '0') AS id_b, "
            "round(0.8 + (b.c_acctbal % 200) / 1000.0, 6) AS score "
            "FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1 "
            "AND a.c_nationkey = b.c_nationkey), "
            "hi AS (SELECT * FROM e WHERE score >= 0.9), "
            "core AS (SELECT id_a AS n FROM hi UNION SELECT id_b FROM hi), "
            "touch AS (SELECT lo.* FROM e lo WHERE lo.score >= 0.85 AND "
            "(lo.id_a IN (SELECT n FROM core) OR lo.id_b IN (SELECT n FROM core))) "
            "SELECT DISTINCT id_a, id_b, score FROM "
            "(SELECT * FROM hi UNION ALL SELECT * FROM touch)"
        ),
        "q34_media_stats": (
            "SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
            "ELSE 'video' END AS media_type, count(*) AS n, "
            "round(avg(octet_length(encode(text))), 2) AS avg_bytes "
            "FROM documents GROUP BY 1"
        ),
        # TF-cosine: token counts are integers, so dot and squared norms
        # are EXACT in float64 — sum order cannot perturb the value, and
        # cos = dot/(mag_a*mag_b) is bit-identical between engines.
        "q36_cosine_tf": (
            "WITH d AS (SELECT doc_id, lang, " + _TOKENS_RAW_SQL.format(c="text") +
            " AS toks FROM documents WHERE doc_id % 10 = 0), "
            "tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS c FROM "
            "(SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY 1, 2), "
            "mag AS (SELECT doc_id, sqrt(sum(c * c)) AS mag FROM tf GROUP BY 1), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM d a "
            "JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id), "
            "dt AS (SELECT p.id_a, p.id_b, sum(ta.c * tb.c) AS dot FROM p "
            "JOIN tf ta ON ta.doc_id = p.id_a "
            "JOIN tf tb ON tb.doc_id = p.id_b AND tb.tok = ta.tok GROUP BY 1, 2) "
            "SELECT id_a, id_b, cos_tf FROM ("
            "SELECT p.id_a, p.id_b, "
            "round(coalesce(dt.dot, 0) / (ma.mag * mb.mag), 6) AS cos_tf "
            "FROM p JOIN mag ma ON ma.doc_id = p.id_a "
            "JOIN mag mb ON mb.doc_id = p.id_b "
            "LEFT JOIN dt ON dt.id_a = p.id_a AND dt.id_b = p.id_b"
            ") WHERE cos_tf >= 0.5"
        ),
        # hybrid hop-limited BFS == min-hop over bounded recursive walks:
        # hop-1 needs score >= 0.9 (direct), hops 2..3 need >= 0.85
        "q39_match_groups": (
            "WITH RECURSIVE "
            "e AS (SELECT lpad(cast(a.c_custkey as varchar), 6, '0') AS id_a, "
            "lpad(cast(b.c_custkey as varchar), 6, '0') AS id_b, "
            "round(0.8 + (b.c_acctbal % 200) / 1000.0, 6)::DOUBLE AS score "
            "FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1 "
            "AND a.c_nationkey = b.c_nationkey), "
            "sym AS (SELECT id_a AS src, id_b AS dst, score FROM e WHERE score >= 0.85 "
            "UNION ALL SELECT id_b, id_a, score FROM e WHERE score >= 0.85), "
            "seeds AS (SELECT DISTINCT id_a AS seed FROM e WHERE right(id_a, 1) = '0'), "
            "walk(seed, node, hop, score) AS ("
            "SELECT seed, seed, 0, 1.0::DOUBLE FROM seeds "
            "UNION ALL "
            "SELECT w.seed, s.dst, w.hop + 1, s.score FROM walk w "
            "JOIN sym s ON s.src = w.node "
            # EVERY expansion leaving the seed node needs >= 0.9 (not just
            # hop 0): a walk may bounce back to the seed at a later hop,
            # and the engine (and reference group.go hybrid) never
            # re-expands the visited seed over sub-0.9 edges
            "WHERE w.hop < 3 AND (w.node <> w.seed OR s.score >= 0.9)), "
            "best AS (SELECT seed, node, min(hop) AS hop_distance FROM walk GROUP BY 1, 2), "
            "scored AS (SELECT b.seed, b.node, b.hop_distance, max(w.score) AS score "
            "FROM best b JOIN walk w ON w.seed = b.seed AND w.node = b.node "
            "AND w.hop = b.hop_distance GROUP BY 1, 2, 3) "
            "SELECT seed, node AS rid, hop_distance::INT AS hop_distance, "
            "round(score, 6) AS score, rank::INT AS rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY seed "
            "ORDER BY hop_distance, score DESC, node) AS rank FROM scored"
            ") WHERE rank <= 100"
        ),
        # float-sum note: total_value rounds at 4 and avg_value at 6
        # decimals — orders of magnitude above double-sum association
        # error for these magnitudes, so the hashes are stable
        "q40_windowed_events": (
            "SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, "
            "event_type, count(*) AS n, round(sum(value), 4) AS total_value "
            "FROM events GROUP BY 1, 2"
        ),
        "q41_json_props": (
            "SELECT (json_extract_string(props, '$.k')::INT % 10) AS k_mod, "
            "count(*) AS n, round(avg(value), 6) AS avg_value "
            "FROM events GROUP BY 1"
        ),
        "q42_user_sessions": (
            "WITH o AS (SELECT user_id, epoch_us(ts) AS tus, "
            "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) "
            "AS prev FROM events), "
            "m AS (SELECT user_id, CASE WHEN prev IS NULL OR tus - prev > "
            "1800000000 THEN 1 ELSE 0 END AS is_new FROM o) "
            "SELECT user_id, sum(is_new)::INT AS n_sessions, "
            "count(*) AS n_events FROM m GROUP BY 1"
        ),
        # MinHash-LSH band occupancy (portable hash family)
        "q19_minhash_bands": (
            "WITH " + _minhash_keys_cte(64, 16, 42) + " "
            "SELECT band_key, count(*) AS n FROM keys "
            "GROUP BY 1 HAVING count(*) > 1"
        ),
        # SimHash banding -> hamming<=7 verify -> connected components
        "q27_simhash_pairs": (
            "WITH RECURSIVE " + _simhash_cte() + ", "
            "sh_bands AS (SELECT doc_id, sim, 'b' || i.i || ':' || "
            "((sim >> (i.i * 8)) & 255) AS band FROM sim, range(8) i(i)), "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
            "a.sim AS sa, b.sim AS sb FROM sh_bands a JOIN sh_bands b "
            "ON a.band = b.band AND a.doc_id < b.doc_id), "
            "e AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(sa, sb)) <= 7), "
            + _CC_CTE + ", "
            "sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp "
            "GROUP BY 1) "
            "SELECT c.rid, c.cluster_id, s.cluster_size "
            "FROM comp c JOIN sizes s USING (cluster_id)"
        ),
        # MinHash candidates -> true-Jaccard>=0.8 verify -> CC -> histogram
        "q28_minhash_clusters": (
            "WITH RECURSIVE " + _minhash_keys_cte(64, 16, 42) + ", "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM keys a JOIN keys b ON a.band_key = b.band_key "
            "AND a.doc_id < b.doc_id), "
            "tok AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text") + " AS tk "
            "FROM documents), "
            "e AS (SELECT id_a, id_b FROM cand "
            "JOIN tok ta ON ta.doc_id = cand.id_a "
            "JOIN tok tb ON tb.doc_id = cand.id_b "
            "WHERE len(list_intersect(ta.tk, tb.tk))::DOUBLE / "
            "len(list_distinct(list_concat(ta.tk, tb.tk))) >= 0.8), "
            + _CC_CTE + ", "
            "assign AS (SELECT d.doc_id AS rid, coalesce(c.cluster_id, d.doc_id) "
            "AS cluster_id FROM documents d LEFT JOIN comp c ON c.rid = d.doc_id), "
            "sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM assign "
            "GROUP BY 1) "
            "SELECT cluster_size, count(*) AS n_records "
            "FROM assign JOIN sizes USING (cluster_id) GROUP BY 1"
        ),
        # SRP-LSH buckets (4 tables x 10 integer hyperplanes over quantized
        # vectors) -> exact-cosine re-rank top-3
        "q30_lsh_topk": (
            "WITH " + _srp_sig_cte(10, 4, 42, 64) + ", "
            "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id "
            "FROM sig q JOIN sig c ON q.tbl = c.tbl AND q.bucket = c.bucket "
            "WHERE q.vec_id % 50 = 0), "
            "scored AS (SELECT cand.query_id, cand.cand_id, "
            "list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) "
            "AS c FROM cand "
            "JOIN embeddings qe ON qe.vec_id = cand.query_id "
            "JOIN embeddings ce ON ce.vec_id = cand.cand_id), "
            "r AS (SELECT query_id, cand_id, c, row_number() OVER ("
            "PARTITION BY query_id ORDER BY c DESC, cand_id ASC) AS rk FROM scored) "
            "SELECT query_id, cand_id, round(c, 4) AS cos, rk FROM r WHERE rk <= 3"
        ),
        # IVF: centroids = 8 smallest portable-id-hashes; candidates in the
        # nearest cell; queries probe 3 cells; exact-cosine top-3
        "q32_ivf_topk": (
            "WITH cents AS (SELECT row_number() OVER (ORDER BY h) AS cell, "
            "embedding AS cv FROM (SELECT vec_id, embedding, "
            + _ph_sql("vec_id::VARCHAR") + " AS h FROM embeddings "
            "ORDER BY h LIMIT 8)), "
            "ca AS (SELECT cand_id, cell FROM (SELECT e.vec_id AS cand_id, "
            "c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC, "
            "c.cell ASC) AS crk FROM embeddings e, cents c) WHERE crk = 1), "
            "qa AS (SELECT query_id, cell FROM (SELECT e.vec_id AS query_id, "
            "c.cell, row_number() OVER (PARTITION BY e.vec_id ORDER BY "
            "list_cosine_similarity(e.embedding::DOUBLE[], c.cv::DOUBLE[]) DESC, "
            "c.cell ASC) AS crk FROM embeddings e, cents c "
            "WHERE e.vec_id % 50 = 0) WHERE crk <= 3), "
            "p AS (SELECT DISTINCT qa.query_id, ca.cand_id FROM qa "
            "JOIN ca USING (cell)), "
            "scored AS (SELECT p.query_id, p.cand_id, "
            "list_cosine_similarity(qe.embedding::DOUBLE[], ce.embedding::DOUBLE[]) "
            "AS c FROM p "
            "JOIN embeddings qe ON qe.vec_id = p.query_id "
            "JOIN embeddings ce ON ce.vec_id = p.cand_id), "
            "r AS (SELECT query_id, cand_id, c, row_number() OVER ("
            "PARTITION BY query_id ORDER BY c DESC, cand_id ASC) AS rk FROM scored) "
            "SELECT query_id, cand_id, round(c, 4) AS cos, rk FROM r WHERE rk <= 3"
        ),
        # F1 composite incl. the reference's exact Jaro-Winkler as a
        # recursive CTE (DuckDB's builtin jaro_winkler is semantically
        # different, so the oracle implements the algorithm itself)
        "q20_name_similarity": _q20_oracle_sql(),
        # benchmark n-gram decontamination (4-token shingles, portable hash)
        "q43_decontamination": (
            "WITH tok AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            "x -> x <> '') AS toks FROM documents), "
            "gr AS (SELECT doc_id, CASE WHEN len(toks) = 0 THEN []::VARCHAR[] "
            "WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')] "
            "ELSE list_distinct(list_transform(range(1, len(toks) - 2), "
            "j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3])) "
            "END AS grams FROM tok), "
            "bench AS (SELECT DISTINCT " + _ph_sql("g") + " AS h FROM "
            "(SELECT unnest(grams) AS g FROM gr WHERE doc_id % 29 = 0)), "
            "corp AS (SELECT doc_id, grams FROM gr WHERE doc_id % 29 <> 0), "
            "hits AS (SELECT doc_id, count(*) AS n_hit FROM "
            "(SELECT doc_id, " + _ph_sql("g") + " AS h FROM "
            "(SELECT doc_id, unnest(grams) AS g FROM corp)) cg "
            "JOIN bench USING (h) GROUP BY 1) "
            "SELECT c.doc_id, len(c.grams)::BIGINT AS n_ngrams, "
            "coalesce(h.n_hit, 0)::BIGINT AS n_hit, "
            "CASE WHEN len(c.grams) > 0 THEN "
            "round(coalesce(h.n_hit, 0)::DOUBLE / len(c.grams), 6) "
            "ELSE 0.0 END AS contamination "
            "FROM corp c LEFT JOIN hits h USING (doc_id)"
        ),
        # deterministic hash-threshold stratified sample (portable hash)
        "q44_stratified_sample": (
            "SELECT doc_id, lang, source FROM documents "
            "WHERE (" + _ph_sql("'s44:' || doc_id") + ") % 1000000 < "
            "CASE lang WHEN 'en' THEN 400000 WHEN 'de' THEN 800000 "
            "WHEN 'zh' THEN 250000 ELSE -1 END"
        ),
        # exact per-stratum quota: 25 hash-smallest docs per lang
        "q45_quota_sample": (
            "WITH h AS (SELECT doc_id, lang, n_chars, "
            + _ph_sql("'qs:' || doc_id") + " AS c FROM documents), "
            "r AS (SELECT doc_id, lang, n_chars, row_number() OVER ("
            "PARTITION BY lang ORDER BY c, doc_id) AS rk FROM h) "
            "SELECT doc_id, lang, n_chars FROM r WHERE rk <= 25"
        ),
        # F2 address composite incl. reference JW (shared recursive CTE)
        "q46_address_similarity": _q46_oracle_sql(),
        # F4 email composite incl. reference JW on user parts
        "q47_email_similarity": _q47_oracle_sql(),
        # N3-N7 normalizations in one projection
        "q48_normalize_multi": _q48_oracle_sql(),
        # E1 combineFields + E4 mock embedding (bytes recovered as ints)
        "q49_combine_embed": (
            "WITH d AS (SELECT c_custkey, c_name || ' ' || c_mktsegment AS "
            "combined, substr(c_mktsegment, 1, 3) AS s3 FROM customer) "
            "SELECT c_custkey, combined, "
            "ascii(substr(combined, 1, 1)) AS b0, "
            "ascii(substr(combined, 6, 1)) AS b5, "
            "ascii(substr(combined, 16, 1)) AS b15, "
            "round(ascii(substr(combined, 1, 1)) / 255.0, 4) AS e0, "
            "CASE WHEN length(s3) > 10 THEN ascii(substr(s3, 11, 1)) "
            "ELSE 0 END AS pad_b10 FROM d"
        ),
        # M5 (vec + weighted)/2 blend over native double vectors
        "q50_vector_blend": (
            "WITH v AS (SELECT c_custkey AS id, c_name AS name, "
            "c_mktsegment AS seg, c_nationkey AS nk, "
            "list_transform(range(0, 16), i -> CASE WHEN i < length(c_name) "
            "THEN ascii(substr(c_name, (i + 1)::INT, 1)) / 255.0 "
            "ELSE 0.0 END) AS vec FROM customer), "
            "p AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS na, "
            "b.name AS nb, a.seg AS sa, b.seg AS sb, a.vec AS va, b.vec AS vb "
            "FROM v a JOIN v b ON a.nk = b.nk AND b.id > a.id "
            "AND b.id - a.id <= 3), "
            "s AS (SELECT id_a, id_b, "
            "((1.0 - levenshtein(na, nb)::DOUBLE / "
            "greatest(length(na), length(nb))) * 1.0 + "
            "(CASE WHEN sa = sb THEN 1.0 ELSE 0.0 END) * 1.0) / 2.0 AS ws, "
            "list_cosine_similarity(va, vb) AS vs FROM p) "
            "SELECT id_a, id_b, round(ws, 6) AS w_score, "
            "round(vs, 6) AS v_score, round((vs + ws) / 2, 6) AS score FROM s"
        ),
        # M9 explanation bands + formatted string
        "q51_explanation": (
            "WITH p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b "
            + _PAIR_SQL.format(gap=3) + "), "
            "s AS (SELECT id_a, id_b, 0.5001 + (id_b % 450) / 1000.0 AS score "
            "FROM p) "
            "SELECT id_a, id_b, round(score, 6) AS score, "
            "printf('Matched with %s confidence (%.2f) on fields: %s', "
            "CASE WHEN score >= 0.9 THEN 'high' WHEN score < 0.7 THEN 'low' "
            "ELSE 'medium' END, score, "
            "CASE WHEN id_b % 2 = 0 THEN 'name, segment' ELSE 'name' END) "
            "AS explanation FROM s"
        ),
        # K2 case-insensitive match
        "q52_case_insensitive": (
            "SELECT c_custkey, CASE WHEN lower(c_name) = lower("
            "CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) "
            "WHEN c_custkey % 3 = 1 THEN c_name || 'X' "
            "ELSE c_name END) THEN 1.0 ELSE 0.0 END AS ci_match FROM customer"
        ),
        # char-5-gram Jaccard near-dup pairs over MinHash-blocked
        # candidates (same portable banding chain as q19/q28)
        "q53_ngram_dedup_pairs": (
            "WITH " + _minhash_keys_cte(64, 16, 42) + ", "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM keys a JOIN keys b ON a.band_key = b.band_key "
            "AND a.doc_id < b.doc_id), "
            "g AS (SELECT doc_id, list_distinct(list_transform("
            "range(1, greatest(len(text) - 4, 1) + 1), "
            "i -> substr(text, i::INT, 5))) AS g FROM documents) "
            "SELECT id_a, id_b, round(jac, 6) AS ngram_jaccard FROM ("
            "SELECT c.id_a, c.id_b, "
            "len(list_intersect(ga.g, gb.g))::DOUBLE / "
            "(len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) AS jac "
            "FROM cand c JOIN g ga ON ga.doc_id = c.id_a "
            "JOIN g gb ON gb.doc_id = c.id_b) WHERE jac >= 0.7"
        ),
        # SRP-bucketed cosine near-dup -> CC over centered-codepoint
        # vectors (8 portable integer hyperplanes, single table, seed 42)
        "q54_embedding_dedup": (
            "WITH RECURSIVE "
            "v AS (SELECT doc_id, list_transform(range(0, 16), i -> "
            "CASE WHEN i < length(text) THEN "
            "(ascii(substr(text, (i + 1)::INT, 1)) - 100.0) / 10.0 "
            "ELSE 0.0 END) AS vec FROM documents), "
            "hp AS (SELECT p.p AS pl, d.d AS d, "
            "(" + _ph_sql("'hp:42:' || p.p || ':' || d.d") + " % 2001 - 1000) "
            "AS w FROM range(8) p(p), range(16) d(d)), "
            "vq AS (SELECT doc_id, d.d AS d, "
            "floor(vec[d.d + 1] * 1000000)::BIGINT AS q "
            "FROM v, range(16) d(d)), "
            "dt AS (SELECT vq.doc_id, hp.pl, sum(vq.q * hp.w) AS dot "
            "FROM vq JOIN hp USING (d) GROUP BY 1, 2), "
            "sig AS (SELECT doc_id, sum(CASE WHEN dot > 0 THEN "
            "(1::BIGINT << pl) ELSE 0::BIGINT END) AS bucket "
            "FROM dt GROUP BY 1), "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM sig a JOIN sig b ON a.bucket = b.bucket "
            "AND a.doc_id < b.doc_id), "
            "e AS (SELECT id_a, id_b FROM cand "
            "JOIN v va ON va.doc_id = cand.id_a "
            "JOIN v vb ON vb.doc_id = cand.id_b "
            "WHERE list_cosine_similarity(va.vec, vb.vec) >= 0.9), "
            + _CC_CTE + ", "
            "assign AS (SELECT d.doc_id AS rid, coalesce(c.cluster_id, "
            "d.doc_id) AS cluster_id FROM documents d "
            "LEFT JOIN comp c ON c.rid = d.doc_id), "
            "sizes AS (SELECT cluster_id, count(*) AS cluster_size "
            "FROM assign GROUP BY 1) "
            "SELECT a.rid, a.cluster_id, s.cluster_size "
            "FROM assign a JOIN sizes s USING (cluster_id)"
        ),
        # match.go:237-240 — threshold gates the VECTOR score, returned
        # score is still the (vec + weighted)/2 blend
        "q55_threshold_on_vector": (
            "WITH v AS (SELECT c_custkey AS id, c_name AS name, "
            "c_mktsegment AS seg, c_nationkey AS nk, "
            "list_transform(range(0, 16), i -> "
            "CASE WHEN i < length(substr(c_name, 10, 9)) "
            "THEN (ascii(substr(substr(c_name, 10, 9), (i + 1)::INT, 1)) "
            "- 52.5) / 10.0 ELSE 0.0 END) AS vec FROM customer), "
            "p AS (SELECT a.id AS id_a, b.id AS id_b, a.name AS na, "
            "b.name AS nb, a.seg AS sa, b.seg AS sb, a.vec AS va, b.vec AS vb "
            "FROM v a JOIN v b ON a.nk = b.nk AND b.id > a.id "
            "AND b.id - a.id <= 3), "
            "s AS (SELECT id_a, id_b, "
            "((1.0 - levenshtein(na, nb)::DOUBLE / "
            "greatest(length(na), length(nb))) * 1.0 + "
            "(CASE WHEN sa = sb THEN 1.0 ELSE 0.0 END) * 1.0) / 2.0 AS ws, "
            "list_cosine_similarity(va, vb) AS vs FROM p) "
            "SELECT id_a, id_b, round(ws, 6) AS w_score, "
            "round(vs, 6) AS v_score, round((vs + ws) / 2, 6) AS score "
            "FROM s WHERE vs >= 0.8"
        ),
        # Gopher repetition/quality gates over planted line structure
        "q56_gopher_quality": (
            "WITH t AS (SELECT doc_id, "
            "CASE WHEN doc_id % 3 = 0 THEN substr(text, 1, 80) || chr(10) "
            "|| substr(text, 1, 80) || chr(10) || 'tail ' || doc_id "
            "WHEN doc_id % 3 = 1 THEN '- ' || substr(text, 1, 80) "
            "|| chr(10) || '- bullet two' || chr(10) || '- bullet three' "
            "ELSE substr(text, 1, 80) || chr(10) || 'line two ' || doc_id "
            "|| chr(10) || 'line three' || chr(10) || 'wait for it...' "
            "END AS t2 FROM documents), "
            "s AS (SELECT doc_id, t2, "
            "list_filter(string_split(t2, chr(10)), l -> trim(l) <> '') "
            "AS lines, "
            "list_filter(regexp_split_to_array(lower(t2), '[^a-z0-9]+'), "
            "x -> x <> '') AS toks FROM t), "
            "m AS (SELECT doc_id, len(toks) AS n_words, "
            "list_sum(list_transform(toks, x -> length(x)))::DOUBLE / "
            "greatest(len(toks), 1) AS mwl, "
            "(len(lines) - len(list_distinct(lines)))::DOUBLE / "
            "greatest(len(lines), 1) AS dlf, "
            "(len(toks) - len(list_distinct(toks)))::DOUBLE / "
            "greatest(len(toks), 1) AS dwf, "
            "len(regexp_extract_all(t2, '#|\\.\\.\\.|…'))::DOUBLE / "
            "greatest(len(toks), 1) AS sym, "
            "len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE "
            "/ greatest(len(toks), 1) AS alpha, "
            "len(list_filter(lines, l -> regexp_matches(trim(l), "
            "'^(-|\\*|•) ')))::DOUBLE / greatest(len(lines), 1) AS bullet, "
            "len(list_filter(lines, l -> regexp_matches(trim(l), "
            "'(\\.\\.\\.|…)$')))::DOUBLE / greatest(len(lines), 1) AS ell "
            "FROM s) "
            "SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, "
            "round(dlf, 6) AS dup_line_frac, round(dwf, 6) AS dup_word_frac, "
            "round(sym, 6) AS symbol_ratio, round(alpha, 6) AS alpha_frac, "
            "round(bullet, 6) AS bullet_frac, round(ell, 6) AS ellipsis_frac, "
            "CASE WHEN n_words >= 5 AND n_words <= 100000 "
            "AND mwl >= 3.0 AND mwl <= 10.0 AND sym <= 0.1 "
            "AND bullet <= 0.9 AND ell <= 0.3 AND alpha >= 0.8 "
            "AND dlf <= 0.3 THEN 1 ELSE 0 END AS passes FROM m"
        ),
        # PII scrub: counts on the progressively-redacted text + the
        # redacted output (patterns interpolated from the SAME
        # PII_PATTERNS constants the Spark operator uses)
        "q57_pii_redaction": (
            "WITH t AS (SELECT doc_id, "
            "CASE WHEN doc_id % 4 = 0 THEN substr(text, 1, 60) "
            "|| ' contact user' || doc_id "
            "|| '@example.com or admin@test.org' "
            "WHEN doc_id % 4 = 1 THEN substr(text, 1, 60) "
            "|| ' call +1 (555) 010-' "
            "|| lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' now' "
            "WHEN doc_id % 4 = 2 THEN substr(text, 1, 60) "
            "|| ' host 10.0.' || (doc_id % 256) || '.7 ssn 123-45-6789' "
            "ELSE substr(text, 1, 60) END AS t2 FROM documents), "
            "r0 AS (SELECT doc_id, "
            f"len(regexp_extract_all(t2, '{TX.PII_PATTERNS['email']}')) "
            "AS n_email, "
            f"regexp_replace(t2, '{TX.PII_PATTERNS['email']}', '[EMAIL]', 'g') "
            "AS u1 FROM t), "
            "r1 AS (SELECT doc_id, n_email, "
            f"len(regexp_extract_all(u1, '{TX.PII_PATTERNS['ipv4']}')) "
            "AS n_ipv4, "
            f"regexp_replace(u1, '{TX.PII_PATTERNS['ipv4']}', '[IP]', 'g') "
            "AS u2 FROM r0), "
            "r2 AS (SELECT doc_id, n_email, n_ipv4, "
            f"len(regexp_extract_all(u2, '{TX.PII_PATTERNS['ssn']}')) "
            "AS n_ssn, "
            f"regexp_replace(u2, '{TX.PII_PATTERNS['ssn']}', '[SSN]', 'g') "
            "AS u3 FROM r1) "
            "SELECT doc_id, n_email, n_ipv4, n_ssn, "
            f"len(regexp_extract_all(u3, '{TX.PII_PATTERNS['phone']}')) "
            "AS n_phone, "
            f"regexp_replace(u3, '{TX.PII_PATTERNS['phone']}', '[PHONE]', 'g') "
            "AS redacted FROM r2"
        ),
        # context-window chunking: 16-token windows every 8 tokens
        "q58_chunk_documents": (
            "WITH toks AS (SELECT doc_id, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') "
            "AS t FROM documents), "
            "s AS (SELECT doc_id, t, "
            "unnest(range(0, greatest(len(t) - 1, 0) + 1, 8)) AS start "
            "FROM toks) "
            "SELECT doc_id, (start // 8)::BIGINT AS chunk_idx, "
            "array_to_string(t[(start + 1)::INT : (start + 16)::INT], ' ') "
            "AS chunk_text, "
            "len(t[(start + 1)::INT : (start + 16)::INT])::BIGINT "
            "AS n_tokens FROM s"
        ),
        # greedy token-budget shard packing: shard = floor(prefix/2000)
        "q59_pack_shards": (
            "WITH d AS (SELECT doc_id, "
            "len(list_filter(string_split_regex(text, '\\s+'), "
            "x -> x <> ''))::BIGINT AS n_tok FROM documents) "
            "SELECT doc_id, n_tok, "
            "coalesce(sum(n_tok) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT "
            "AS tokens_before, "
            "(coalesce(sum(n_tok) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
            "// 2000)::BIGINT AS shard_id FROM d"
        ),
        # span-level duplication: 8-token window hashes shared by >= 2 docs
        "q60_repeated_ngrams": (
            "WITH toks AS (SELECT doc_id AS rid, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS t FROM documents), "
            "w AS (SELECT rid, "
            "substr(md5(array_to_string(t[i:(i + 7)], ' ')), 1, 16) AS h "
            "FROM (SELECT rid, t, unnest(range(1, len(t) - 6)) AS i "
            "FROM toks WHERE len(t) >= 8)), "
            "sh AS (SELECT h FROM (SELECT DISTINCT h, rid FROM w) "
            "GROUP BY h HAVING count(*) >= 2), "
            "pd AS (SELECT w.rid, count(*) AS nw, count(sh.h) AS nd "
            "FROM w LEFT JOIN sh USING (h) GROUP BY w.rid) "
            "SELECT d.doc_id AS rid, "
            "coalesce(pd.nw, 0)::BIGINT AS n_windows, "
            "coalesce(pd.nd, 0)::BIGINT AS n_dup_windows, "
            "round(coalesce(pd.nd, 0)::DOUBLE / "
            "greatest(coalesce(pd.nw, 0), 1), 6) AS dup_fraction "
            "FROM documents d LEFT JOIN pd ON pd.rid = d.doc_id"
        ),
        # canonical keeper: q29's exact-dup clusters ranked by q24's quality
        "q61_canonical_keeper": (
            "WITH q AS (" + _QUALITY_SQL + "), "
            "n AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', "
            "' ', 'g')) AS k FROM documents), "
            "g AS (SELECT k, min(doc_id) AS cluster_id, count(*) AS "
            "cluster_size FROM n GROUP BY k), "
            "m AS (SELECT n.doc_id AS rid, g.cluster_id, g.cluster_size "
            "FROM n JOIN g USING (k)) "
            "SELECT m.rid, m.cluster_id, m.cluster_size, q.quality, "
            "(row_number() OVER (PARTITION BY m.cluster_id "
            "ORDER BY q.quality DESC, m.rid ASC) = 1) AS keep "
            "FROM m JOIN q ON q.doc_id = m.rid"
        ),
        # waterfill mixture: cuts recomputed in SQL with the SAME double
        # op order as mixture_sample (min(cnt/share), floor(1e6*share*T/cnt))
        "q62_mixture_sample": (
            "WITH tgt AS (SELECT * FROM (VALUES "
            "('de', 0.2::DOUBLE), ('en', 0.5::DOUBLE), ('es', 0.1::DOUBLE), "
            "('fr', 0.15::DOUBLE), ('zh', 0.05::DOUBLE)) AS t(lang, share)), "
            "cnt AS (SELECT lang, count(*) AS c FROM documents "
            "WHERE lang IN (SELECT lang FROM tgt) GROUP BY lang), "
            "tm AS (SELECT min(c / share) AS t_max "
            "FROM cnt JOIN tgt USING (lang)), "
            "cuts AS (SELECT lang, "
            "CASE WHEN c / share = t_max THEN 1000000 "
            "ELSE floor(1000000.0 * share * t_max / c)::BIGINT END AS ppm "
            "FROM cnt JOIN tgt USING (lang), tm) "
            "SELECT doc_id, lang, source FROM documents JOIN cuts USING (lang) "
            "WHERE (" + _ph_sql("'mx62:' || doc_id") + ") % 1000000 < ppm"
        ),
        # span removal: anti-join covered positions, rebuild per doc
        # (parallel unnests in tp zip pos with tok)
        "q63_remove_spans": (
            "WITH toks AS (SELECT doc_id AS rid, "
            "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') "
            "AS t FROM documents), "
            "w AS (SELECT rid, i, "
            "substr(md5(lower(array_to_string(t[i:(i + 7)], ' '))), 1, 16) "
            "AS h FROM (SELECT rid, t, unnest(range(1, len(t) - 6)) AS i "
            "FROM toks WHERE len(t) >= 8)), "
            "sh AS (SELECT h FROM (SELECT DISTINCT h, rid FROM w) "
            "GROUP BY h HAVING count(*) >= 2), "
            "cov AS (SELECT DISTINCT rid, i + j AS pos FROM "
            "(SELECT rid, i, unnest(range(0, 8)) AS j "
            "FROM w JOIN sh USING (h))), "
            "tp AS (SELECT rid, unnest(range(1, len(t) + 1)) AS pos, "
            "unnest(t) AS tok FROM toks), "
            "rb AS (SELECT tp.rid, count(*) AS n_kept, "
            "string_agg(tp.tok, ' ' ORDER BY tp.pos) AS clean_text "
            "FROM tp LEFT JOIN cov ON cov.rid = tp.rid AND cov.pos = tp.pos "
            "WHERE cov.pos IS NULL GROUP BY tp.rid) "
            "SELECT toks.rid, len(t)::BIGINT AS n_tokens, "
            "(len(t) - coalesce(rb.n_kept, 0))::BIGINT AS n_removed, "
            "coalesce(rb.clean_text, '') AS clean_text "
            "FROM toks LEFT JOIN rb ON rb.rid = toks.rid"
        ),
        # corpus unigram model: score = ln(total) - mean ln(cnt_token)
        # (same op order as the Spark side; round 6 absorbs libm ulps)
        "q64_unigram_logprob": (
            "WITH toks AS (SELECT doc_id AS rid, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS t FROM documents), "
            "st AS (SELECT rid, unnest(t) AS token FROM toks), "
            "f AS (SELECT token, count(*) AS cnt FROM st GROUP BY token), "
            "tot AS (SELECT sum(cnt)::DOUBLE AS total FROM f), "
            "pd AS (SELECT st.rid, count(*) AS n, "
            "sum(ln(f.cnt::DOUBLE)) AS sl FROM st JOIN f USING (token) "
            "GROUP BY st.rid) "
            "SELECT toks.rid, coalesce(pd.n, 0)::BIGINT AS n_toks, "
            "round(CASE WHEN pd.n > 0 THEN ln(total) - pd.sl / pd.n "
            "ELSE 0.0 END, 6) AS avg_neg_logp "
            "FROM toks LEFT JOIN pd ON pd.rid = toks.rid, tot"
        ),
        # cross-corpus minhash join: parity split, band-key equi-join
        # with the same per-key pair budget, exact-Jaccard verify
        "q65_minhash_join": (
            "WITH " + _minhash_keys_cte(64, 16, 42) + ", "
            "ka AS (SELECT doc_id AS id_a, band_key AS bk FROM keys "
            "WHERE doc_id % 2 = 0), "
            "kb AS (SELECT doc_id AS id_b, band_key AS bk FROM keys "
            "WHERE doc_id % 2 = 1), "
            "ok AS (SELECT bk FROM "
            "(SELECT bk, count(*) AS ca FROM ka GROUP BY bk) a JOIN "
            "(SELECT bk, count(*) AS cb FROM kb GROUP BY bk) b USING (bk) "
            "WHERE ca * cb <= 1000000), "
            "cand AS (SELECT DISTINCT id_a, id_b FROM ka "
            "JOIN ok USING (bk) JOIN kb USING (bk)), "
            "tok AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text") + " AS tk "
            "FROM documents), "
            "j AS (SELECT id_a, id_b, "
            "len(list_intersect(ta.tk, tb.tk))::DOUBLE / "
            "len(list_distinct(list_concat(ta.tk, tb.tk))) AS jac "
            "FROM cand JOIN tok ta ON ta.doc_id = cand.id_a "
            "JOIN tok tb ON tb.doc_id = cand.id_b) "
            "SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j "
            "WHERE jac >= 0.7"
        ),
        # cross-source overlap matrix: distinct (source, 4-gram-hash)
        # pairs, equi-self-join on hash with source_a < source_b
        "q66_source_overlap": (
            "WITH tok AS (SELECT source, "
            "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
            "x -> x <> '') AS toks FROM documents), "
            "gr AS (SELECT source, CASE WHEN len(toks) = 0 THEN []::VARCHAR[] "
            "WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')] "
            "ELSE list_distinct(list_transform(range(1, len(toks) - 2), "
            "j -> toks[j] || ' ' || toks[j+1] || ' ' || toks[j+2] || ' ' || toks[j+3])) "
            "END AS grams FROM tok), "
            "fp AS (SELECT DISTINCT source, " + _ph_sql("g") + " AS h FROM "
            "(SELECT source, unnest(grams) AS g FROM gr)), "
            "tot AS (SELECT source, count(*) AS ng FROM fp GROUP BY 1), "
            "sh AS (SELECT a.source AS source_a, b.source AS source_b, "
            "count(*) AS shared FROM fp a JOIN fp b "
            "ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) "
            "SELECT sh.source_a, sh.source_b, sh.shared, "
            "ta.ng AS ngrams_a, tb.ng AS ngrams_b, "
            "round(sh.shared::DOUBLE / ta.ng, 6) AS containment_a, "
            "round(sh.shared::DOUBLE / tb.ng, 6) AS containment_b, "
            "round(sh.shared::DOUBLE / (ta.ng + tb.ng - sh.shared), 6) "
            "AS jaccard "
            "FROM sh JOIN tot ta ON ta.source = sh.source_a "
            "JOIN tot tb ON tb.source = sh.source_b"
        ),
        # IDF-weighted token Jaccard over the q19/q28 minhash-band
        # candidate chain; int64-scaled weights keep sums exact
        "q67_tfidf_dedup_pairs": (
            "WITH " + _minhash_keys_cte(64, 16, 42) + ", "
            "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            "FROM keys a JOIN keys b ON a.band_key = b.band_key "
            "AND a.doc_id < b.doc_id), "
            "tok AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text") + " AS t "
            "FROM documents), "
            "tw AS (SELECT doc_id, unnest(t) AS tok FROM tok), "
            "n AS (SELECT count(*)::DOUBLE AS nd FROM documents), "
            "wt AS (SELECT tok, round(1000000.0 * "
            "ln(1 + (SELECT nd FROM n) / count(*)))::BIGINT AS w "
            "FROM tw GROUP BY tok), "
            "tww AS (SELECT doc_id, tw.tok, w FROM tw JOIN wt USING (tok)), "
            "tot AS (SELECT doc_id, sum(w) AS W FROM tww GROUP BY 1), "
            "inter AS (SELECT c.id_a, c.id_b, sum(a.w) AS iw FROM cand c "
            "JOIN tww a ON a.doc_id = c.id_a "
            "JOIN tww b ON b.doc_id = c.id_b AND b.tok = a.tok "
            "GROUP BY 1, 2) "
            "SELECT id_a, id_b, wjaccard FROM ("
            "SELECT id_a, id_b, "
            "round(iw::DOUBLE / (ta.W + tb.W - iw), 6) AS wjaccard "
            "FROM inter JOIN tot ta ON ta.doc_id = id_a "
            "JOIN tot tb ON tb.doc_id = id_b) WHERE wjaccard >= 0.6"
        ),
        "q102_mutual_best": (
            "WITH pairs AS (" + _LINKAGE_PAIRS_SQL + ") "
            + _mutual_best_sql("pairs")
        ),
        # q103: the greedy fixpoint UNROLLED to 6 plain-SQL rounds
        # (sf0.01 converges in 4). The final union includes rem6, so a
        # dataset needing >6 rounds shows up as extra oracle rows — a
        # LOUD hash mismatch, never silent agreement.
        "q103_greedy_linkage": _greedy_unrolled_sql(6),
        # q104: exact all-pairs ACROSS the parity split (full-recall
        # attestation for the ICWS-banded cross-corpus join); the idf
        # CTEs are q101's — the union of the two sides IS documents
        "q104_wjaccard_join": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text")
            + " AS t FROM documents), "
            "tw AS (SELECT doc_id, unnest(t) AS tok FROM tok), "
            "n AS (SELECT count(*)::DOUBLE AS nd FROM documents), "
            "wt AS (SELECT tok, round(1000000.0 * "
            "ln(1 + (SELECT nd FROM n) / count(*)))::BIGINT AS w "
            "FROM tw GROUP BY tok), "
            "tww AS (SELECT doc_id, tw.tok, w FROM tw JOIN wt USING (tok)), "
            "tot AS (SELECT doc_id, sum(w) AS W FROM tww GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "sum(a.w) AS iw FROM tww a JOIN tww b ON b.tok = a.tok "
            "AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1 GROUP BY 1, 2) "
            "SELECT id_a, id_b, wjaccard FROM ("
            "SELECT id_a, id_b, "
            "round(iw::DOUBLE / (ta.W + tb.W - iw), 6) AS wjaccard "
            "FROM inter JOIN tot ta ON ta.doc_id = id_a "
            "JOIN tot tb ON tb.doc_id = id_b) WHERE wjaccard >= 0.6"
        ),
        # q101: NO candidate CTE — exact all-pairs weighted Jaccard.
        # Matching this oracle attests the ICWS pass delivers FULL
        # recall at the threshold, not recall-up-to-banding like q67.
        "q101_wjaccard_icws": (
            "WITH tok AS (SELECT doc_id, " + _TOKENS_SQL.format(c="text")
            + " AS t FROM documents), "
            "tw AS (SELECT doc_id, unnest(t) AS tok FROM tok), "
            "n AS (SELECT count(*)::DOUBLE AS nd FROM documents), "
            "wt AS (SELECT tok, round(1000000.0 * "
            "ln(1 + (SELECT nd FROM n) / count(*)))::BIGINT AS w "
            "FROM tw GROUP BY tok), "
            "tww AS (SELECT doc_id, tw.tok, w FROM tw JOIN wt USING (tok)), "
            "tot AS (SELECT doc_id, sum(w) AS W FROM tww GROUP BY 1), "
            "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "sum(a.w) AS iw FROM tww a JOIN tww b ON b.tok = a.tok "
            "AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT id_a, id_b, wjaccard FROM ("
            "SELECT id_a, id_b, "
            "round(iw::DOUBLE / (ta.W + tb.W - iw), 6) AS wjaccard "
            "FROM inter JOIN tot ta ON ta.doc_id = id_a "
            "JOIN tot tb ON tb.doc_id = id_b) WHERE wjaccard >= 0.6"
        ),
        "q68_semantic_decontamination": (
            "WITH v AS (SELECT doc_id, list_transform(range(0, 16), i -> "
            "CASE WHEN i < length(text) THEN "
            "(ascii(substr(text, (i + 1)::INT, 1)) - 100.0) / 10.0 "
            "ELSE 0.0 END) AS vec FROM documents), "
            "b AS (SELECT DISTINCT vec FROM v WHERE doc_id % 23 = 0), "
            "x AS (SELECT v.doc_id, "
            "max(list_cosine_similarity(v.vec, b.vec)) AS mc, "
            "count(*) FILTER (list_cosine_similarity(v.vec, b.vec) >= 0.95) "
            "AS nh FROM v CROSS JOIN b GROUP BY 1) "
            "SELECT doc_id, round(mc, 6) AS max_cos, nh AS n_hits, "
            "(nh > 0)::INT AS contaminated FROM x"
        ),
        "q69_bm25_topk": (
            "WITH toks AS (SELECT doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') AS t FROM documents), "
            "base AS (SELECT doc_id, len(t) AS dl, "
            "list_filter(t, x -> x IN ('hash', 'spark', 'vector', 'window')) "
            "AS q FROM toks), "
            "c AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl "
            "FROM base), "
            "tq AS (SELECT doc_id, dl, unnest(q) AS term FROM base), "
            "tf AS (SELECT doc_id, dl, term, count(*)::DOUBLE AS tf "
            "FROM tq GROUP BY 1, 2, 3), "
            "dfreq AS (SELECT term, count(DISTINCT doc_id) AS dft "
            "FROM tq GROUP BY 1), "
            "idf AS (SELECT term, floor(0.5 + 1000000 * ln(1 + "
            "((SELECT n FROM c) - dft + 0.5) / (dft + 0.5)))::BIGINT AS idf6 "
            "FROM dfreq), "
            "w AS (SELECT doc_id, floor(idf6 * ((tf * 2.2) / "
            "(tf + 1.2 * (0.25 + 0.75 * (dl / (SELECT avgdl FROM c))))) "
            "+ 0.5)::BIGINT AS w FROM tf JOIN idf USING (term)), "
            "s AS (SELECT doc_id, count(*) AS n_matched, "
            "sum(w) AS score_scaled FROM w GROUP BY 1) "
            "SELECT * FROM (SELECT row_number() OVER "
            "(ORDER BY score_scaled DESC, doc_id) AS rank, doc_id, "
            "n_matched, score_scaled, "
            "round(score_scaled / 1000000.0, 6) AS score FROM s) "
            "WHERE rank <= 50"
        ),
        "q70_blocking_quality": (
            "WITH blocks AS ("
            "SELECT p_partkey AS id, 'c:' || (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS k FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp FROM part) "
            "UNION ALL "
            "SELECT p_partkey, 'b:' || p_brand FROM part), "
            "truth AS (SELECT a.p_partkey AS ta, b.p_partkey AS tb "
            "FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1), "
            "base AS (SELECT count(DISTINCT id) AS n_records, "
            "count(DISTINCT k) AS n_block_keys FROM blocks), "
            "cmp AS (SELECT coalesce(sum(c * (c - 1) // 2), 0) "
            "AS comparisons FROM "
            "(SELECT k, count(*) AS c FROM blocks GROUP BY 1)), "
            "tc AS (SELECT count(*) AS truth_pairs FROM truth), "
            "cov AS (SELECT count(*) AS covered_pairs FROM "
            "(SELECT DISTINCT t.ta, t.tb FROM truth t "
            "JOIN blocks ba ON ba.id = t.ta "
            "JOIN blocks bb ON bb.id = t.tb AND bb.k = ba.k)), "
            "r AS (SELECT *, n_records * (n_records - 1) // 2 "
            "AS total_pairs FROM base, cmp, tc, cov) "
            "SELECT n_records, n_block_keys, comparisons, total_pairs, "
            "CASE WHEN total_pairs > 0 THEN "
            "round((total_pairs - comparisons)::DOUBLE / "
            "total_pairs::DOUBLE, 6) ELSE 0.0 END AS reduction_ratio, "
            "truth_pairs, covered_pairs, "
            "CASE WHEN truth_pairs > 0 THEN "
            "round(covered_pairs::DOUBLE / truth_pairs::DOUBLE, 6) "
            "ELSE 0.0 END AS pairs_completeness, "
            "CASE WHEN comparisons > 0 THEN "
            "round(covered_pairs::DOUBLE / comparisons::DOUBLE, 6) "
            "ELSE 0.0 END AS pairs_quality FROM r"
        ),
        "q71_match_metrics": (
            "WITH p AS (SELECT p_partkey, p_name, p_brand FROM part "
            "WHERE p_partkey % 5 = 0), "
            "pr AS (SELECT a.p_partkey AS ia, b.p_partkey AS ib, "
            "1.0 - levenshtein(a.p_name, b.p_name)::DOUBLE / "
            "greatest(length(a.p_name), length(b.p_name)) AS s "
            "FROM p a JOIN p b ON a.p_brand = b.p_brand "
            "AND a.p_partkey < b.p_partkey), "
            "rows_ AS (SELECT s, CASE WHEN ib - ia <= 25 THEN 1 ELSE 0 END "
            "AS t FROM pr), "
            "x AS (SELECT th.th AS threshold, "
            "sum(CASE WHEN s >= th.th AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS tp, "
            "sum(CASE WHEN s >= th.th AND t = 0 THEN 1 ELSE 0 END)::BIGINT AS fp, "
            "sum(CASE WHEN s < th.th AND t = 1 THEN 1 ELSE 0 END)::BIGINT AS fn "
            "FROM rows_, (SELECT unnest([0.5, 0.55, 0.6, 0.65, 0.7]) AS th) th "
            "GROUP BY 1) "
            "SELECT threshold, tp, fp, fn, "
            "CASE WHEN tp + fp > 0 THEN "
            "round(tp::DOUBLE / (tp + fp)::DOUBLE, 6) ELSE 0.0 END "
            "AS precision, "
            "CASE WHEN tp + fn > 0 THEN "
            "round(tp::DOUBLE / (tp + fn)::DOUBLE, 6) ELSE 0.0 END "
            "AS recall, "
            "CASE WHEN 2 * tp + fp + fn > 0 THEN "
            "round((2 * tp)::DOUBLE / (2 * tp + fp + fn)::DOUBLE, 6) "
            "ELSE 0.0 END AS f1 FROM x ORDER BY threshold"
        ),
        "q72_phonetic_blocking": (
            "SELECT p_partkey, 'p:' || " + _phonetic_sql("p_name")
            + " AS phonetic_key FROM part WHERE " + _phonetic_sql("p_name")
            + " <> ''"
        ),
        "q73_bpe_merges": (
            "WITH toks AS (SELECT list_filter(string_split_regex(lower(text), "
            "'\\s+'), x -> x <> '') AS t FROM documents), "
            "p AS (SELECT unnest(list_transform(range(1, len(t)), "
            "i -> t[i] || ' ' || t[i + 1])) AS pair FROM toks "
            "WHERE len(t) >= 2), "
            "c AS (SELECT pair, count(*) AS cnt FROM p GROUP BY 1) "
            "SELECT pair, cnt FROM c WHERE cnt >= 2 "
            "ORDER BY cnt DESC, pair LIMIT 100"
        ),
        "q74_containment_pairs": (
            "WITH tok AS (SELECT doc_id, "
            + _TOKENS_SQL.format(c="text") + " AS t FROM documents "
            "WHERE doc_id % 5 = 0 AND len("
            + _TOKENS_SQL.format(c="text") + ") > 0), "
            "s AS (SELECT doc_id, len(t) AS m, unnest(t) AS tok FROM tok), "
            "dfq AS (SELECT tok, count(*) AS dfq FROM s GROUP BY 1), "
            "r AS (SELECT s.doc_id, s.m, s.tok, row_number() OVER "
            "(PARTITION BY s.doc_id ORDER BY dfq, s.tok) AS pos "
            "FROM s JOIN dfq USING (tok)), "
            "pre AS (SELECT doc_id, tok FROM r "
            "WHERE pos <= m - ((70 * m + 99) // 100) + 1), "
            "cand AS (SELECT DISTINCT least(p.doc_id, s.doc_id) AS id_a, "
            "greatest(p.doc_id, s.doc_id) AS id_b "
            "FROM pre p JOIN s ON p.tok = s.tok AND p.doc_id <> s.doc_id), "
            "v AS (SELECT id_a, id_b, "
            "len(list_intersect(a.t, b.t)) AS overlap, "
            "len(a.t) AS n_a, len(b.t) AS n_b "
            "FROM cand JOIN tok a ON a.doc_id = id_a "
            "JOIN tok b ON b.doc_id = id_b) "
            "SELECT id_a, id_b, overlap, n_a, n_b, "
            "round(overlap::DOUBLE / least(n_a, n_b), 6) AS containment "
            "FROM v WHERE 100 * overlap >= 70 * least(n_a, n_b)"
        ),
        "q75_block_skew": (
            "WITH blocks AS ("
            "SELECT p_partkey AS id, 'c:' || (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS key FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp FROM part) "
            "UNION ALL SELECT p_partkey, 'p:' || " + _phonetic_sql("p_name")
            + " FROM part WHERE " + _phonetic_sql("p_name") + " <> ''), "
            "sizes AS (SELECT split_part(key, ':', 1) AS pass, key, "
            "count(*) AS c FROM blocks GROUP BY 1, 2), "
            "r AS (SELECT pass, c, row_number() OVER (PARTITION BY pass "
            "ORDER BY c, key) AS rn, count(*) OVER (PARTITION BY pass) AS nk "
            "FROM sizes), "
            "a AS (SELECT pass, max(nk) AS n_keys, "
            "sum(c)::BIGINT AS n_assignments, max(c) AS max_block, "
            "max(CASE WHEN rn = (50 * nk + 99) // 100 THEN c END) AS p50_block, "
            "max(CASE WHEN rn = (90 * nk + 99) // 100 THEN c END) AS p90_block, "
            "max(CASE WHEN rn = (99 * nk + 99) // 100 THEN c END) AS p99_block, "
            "sum(c * (c - 1) // 2)::BIGINT AS candidate_pairs "
            "FROM r GROUP BY 1) "
            "SELECT pass, n_keys, n_assignments, max_block, p50_block, "
            "p90_block, p99_block, candidate_pairs, "
            "CASE WHEN candidate_pairs > 0 THEN "
            "round((max_block * (max_block - 1) // 2)::DOUBLE / "
            "candidate_pairs, 6) ELSE 0.0 END AS top1_pairs_share "
            "FROM a ORDER BY pass"
        ),
        # Lloyd's k-means, unrolled (init = 8 smallest ids; assign ->
        # update -> assign); round-6 quantization before every compare
        "q76_kmeans_clusters": (
            "WITH " + _KMEANS_CTE + " SELECT id AS doc_id, cl AS cluster FROM a1"
        ),
        # SemDeDup: drop ids with a lower-id in-cluster neighbor at
        # round-6 cosine >= 0.95 (measured gap 0.9499xx/0.95000x)
        "q77_semantic_dedup": (
            "WITH " + _KMEANS_CTE + ", "
            "d AS (SELECT DISTINCT b.id AS id FROM a1 a "
            "JOIN a1 b ON a.cl = b.cl AND a.id < b.id "
            "JOIN v va ON va.id = a.id JOIN v vb ON vb.id = b.id "
            "WHERE round(list_cosine_similarity(va.vec, vb.vec), 6) >= 0.95) "
            "SELECT a1.id AS doc_id, a1.cl AS cluster, "
            "CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS kept "
            "FROM a1 LEFT JOIN d ON d.id = a1.id"
        ),
        # SSL-prototype pruning: rank hardest-first (round-6 cosine
        # ASC, id tiebreak) within each k-means cluster, keep top 20
        "q78_prototype_prune": (
            "WITH " + _KMEANS_CTE + ", "
            "r AS (SELECT id, cl, row_number() OVER (PARTITION BY cl "
            "ORDER BY cos ASC, id ASC) AS rank FROM a1) "
            "SELECT id AS doc_id, cl AS cluster, rank, "
            "CASE WHEN rank <= 20 THEN 1 ELSE 0 END AS kept FROM r"
        ),
        # deterministic split: cumulative ppm cutoffs on the portable coin
        "q79_hash_split": (
            "SELECT doc_id, lang, CASE WHEN coin < 900000 THEN 'train' "
            "WHEN coin < 950000 THEN 'val' ELSE 'test' END AS split "
            "FROM (SELECT doc_id, lang, "
            "(" + _ph_sql("'sp79:' || doc_id") + ") % 1000000 AS coin "
            "FROM documents)"
        ),
        # keep-first line dedup over the synthesized 4-line docs
        "q80_dedup_lines": (
            "WITH t AS (SELECT doc_id, substr(text, 1, 60) || chr(10) || "
            "'doc ' || doc_id || chr(10) || substr(text, 1, 60) || "
            "chr(10) || 'tail' AS text FROM documents), "
            "s AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM t), "
            "k AS (SELECT doc_id, len(lines)::INT AS n_lines, "
            "list_filter(lines, (x, i) -> "
            "list_position(lines[1:i-1], x) = 0) AS kept FROM s) "
            "SELECT doc_id, n_lines, len(kept)::INT AS n_kept, "
            "array_to_string(kept, chr(10)) AS deduped FROM k"
        ),
        # Fellegi-Sunter EM, 3 unrolled iterations over pattern counts
        "q81_fs_params": _q81_oracle_sql(iterations=3),
        # per-cluster graph diagnostics on the brand-clustered part graph
        "q82_cluster_metrics": (
            "WITH e AS (SELECT a.p_partkey AS ea, b.p_partkey AS eb, "
            "a.p_brand AS cl FROM part a JOIN part b "
            "ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey "
            "AND b.p_partkey - a.p_partkey <= 100), "
            "adj AS (SELECT ea AS x, eb AS y FROM e "
            "UNION ALL SELECT eb, ea FROM e), "
            "cn AS (SELECT e.ea, e.eb, count(*) AS cn FROM e "
            "JOIN adj a1 ON a1.x = e.ea JOIN adj a2 ON a2.x = e.eb "
            "AND a2.y = a1.y WHERE a1.y <> e.ea AND a1.y <> e.eb "
            "GROUP BY 1, 2), "
            "pe AS (SELECT e.ea, e.eb, e.cl, coalesce(cn.cn, 0) AS cn "
            "FROM e LEFT JOIN cn ON cn.ea = e.ea AND cn.eb = e.eb), "
            "nodes AS (SELECT p_brand AS cluster_id, "
            "count(DISTINCT p_partkey) AS n_nodes FROM part GROUP BY 1), "
            "ea_ AS (SELECT cl AS cluster_id, count(*)::BIGINT AS n_edges, "
            "(sum(cn) // 3)::BIGINT AS n_triangles, "
            "sum(CASE WHEN cn = 0 THEN 1 ELSE 0 END)::BIGINT AS zcn "
            "FROM pe GROUP BY 1) "
            "SELECT cluster_id, n_nodes, "
            "coalesce(n_edges, 0) AS n_edges, "
            "CASE WHEN n_nodes > 1 THEN round(coalesce(n_edges, 0) * 2 / "
            "(n_nodes * (n_nodes - 1)), 6) ELSE 0.0 END AS density, "
            "CASE WHEN n_nodes > 0 THEN "
            "round(coalesce(n_edges, 0) * 2 / n_nodes, 6) "
            "ELSE 0.0 END AS avg_degree, "
            "coalesce(n_triangles, 0) AS n_triangles, "
            "CASE WHEN n_nodes >= 3 THEN coalesce(zcn, 0) ELSE 0 END "
            "AS n_bridges "
            "FROM nodes LEFT JOIN ea_ USING (cluster_id) ORDER BY cluster_id"
        ),
        # TF-adjusted agreement weights: log2(m / value share)
        "q83_tf_weights": (
            "WITH v AS (SELECT 'segment' AS field, c_mktsegment AS value "
            "FROM customer WHERE c_mktsegment IS NOT NULL "
            "AND c_mktsegment <> '' "
            "UNION ALL SELECT 'nation', CAST(c_nationkey AS VARCHAR) "
            "FROM customer WHERE c_nationkey IS NOT NULL "
            "AND CAST(c_nationkey AS VARCHAR) <> ''), "
            "c AS (SELECT field, value, count(*)::BIGINT AS n_records "
            "FROM v GROUP BY 1, 2), "
            "t AS (SELECT field, sum(n_records)::BIGINT AS tt "
            "FROM c GROUP BY 1) "
            "SELECT c.field, c.value, c.n_records, "
            "round(c.n_records / t.tt, 6) AS share, "
            "round(log2(95e-2 / greatest(c.n_records / t.tt, 1e-9)), 6) "
            "AS agree_weight "
            "FROM c JOIN t USING (field) ORDER BY field, value"
        ),
        # unsupervised FS posterior over a scored pair stream
        "q84_fs_posterior": _q84_oracle_sql(iterations=3),
        # multi-level (Splink comparison-levels) FS estimation
        "q85_fs_levels": _q85_oracle_sql(iterations=3),
        # survivorship fusion -> one golden record per cluster
        "q86_fuse_clusters": (
            "WITH l AS (SELECT 'n' || c_nationkey AS cid, "
            "c_custkey AS id, c_mktsegment AS seg, c_name AS nm, "
            "c_acctbal AS bal FROM customer), "
            "base AS (SELECT cid, count(*)::BIGINT AS cluster_size, "
            "min(id) AS canonical_id, max(bal) AS c_acctbal "
            "FROM l GROUP BY 1), "
            "mc AS (SELECT cid, seg AS c_mktsegment FROM "
            "(SELECT cid, seg, row_number() OVER (PARTITION BY cid "
            "ORDER BY count(*) DESC, seg) AS rk FROM l "
            "WHERE seg IS NOT NULL AND seg <> '' GROUP BY cid, seg) "
            "WHERE rk = 1), "
            "ln_ AS (SELECT cid, nm AS c_name FROM "
            "(SELECT cid, nm, row_number() OVER (PARTITION BY cid "
            "ORDER BY length(nm) DESC, nm) AS rk FROM "
            "(SELECT DISTINCT cid, nm FROM l "
            "WHERE nm IS NOT NULL AND nm <> '')) WHERE rk = 1) "
            "SELECT cid AS cluster_id, cluster_size, canonical_id, "
            "c_mktsegment, c_name, c_acctbal FROM base "
            "LEFT JOIN mc USING (cid) LEFT JOIN ln_ USING (cid) "
            "ORDER BY cluster_id"
        ),
        # uncertainty sampling: clerical-review queue by |p - 0.5|
        "q90_uncertainty_sample": _q90_oracle_sql(iterations=3),
        # BCubed: record-weighted clustering precision/recall/f1
        "q89_bcubed": (
            "WITH pr AS (SELECT p_partkey AS r, (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS c, t FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp, "
            "p_brand AS t FROM part)), "
            "cs AS (SELECT c, count(*)::BIGINT AS nc FROM pr GROUP BY 1), "
            "ts AS (SELECT t, count(*)::BIGINT AS nt FROM pr GROUP BY 1), "
            "os AS (SELECT c, t, count(*)::BIGINT AS no FROM pr "
            "GROUP BY 1, 2), "
            "per AS (SELECT pr.r, os.no, cs.nc, ts.nt FROM pr "
            "JOIN cs USING (c) JOIN ts USING (t) JOIN os USING (c, t)), "
            "a AS (SELECT count(*)::BIGINT AS n_records, "
            "sum(no / nc) / count(*) AS p, "
            "sum(no / nt) / count(*) AS r2 FROM per) "
            "SELECT n_records, round(p, 6) AS bcubed_precision, "
            "round(r2, 6) AS bcubed_recall, "
            "round(CASE WHEN p + r2 > 0 THEN 2 * p * r2 / (p + r2) "
            "ELSE 0.0 END, 6) AS bcubed_f1 FROM a"
        ),
        # symmetric Monge-Elkan: reference JW per DISTINCT token pair
        "q88_monge_elkan": (
            "WITH RECURSIVE mep AS (SELECT p_partkey, p_name, p_brand "
            "FROM part WHERE p_partkey % 20 = 0), "
            "pr AS (SELECT a.p_partkey AS ia, b.p_partkey AS ib, "
            + _TOKENS_RAW_SQL.format(c="a.p_name") + " AS ta, "
            + _TOKENS_RAW_SQL.format(c="b.p_name") + " AS tb "
            "FROM mep a JOIN mep b ON a.p_brand = b.p_brand "
            "AND a.p_partkey < b.p_partkey), "
            "ti AS (SELECT ia, ib, ta, tb, len(ta) AS na, len(tb) AS nb, "
            "unnest(range(1, len(ta) + 1)) AS i FROM pr), "
            "tj AS (SELECT ia, ib, na, nb, i, ta[i] AS t, tb, "
            "unnest(range(1, len(tb) + 1)) AS j FROM ti), "
            "tpx AS (SELECT ia, ib, na, nb, i, t, j, tb[j] AS u FROM tj), "
            "jwp AS (SELECT DISTINCT t AS id_a, u AS id_b, t AS pa, "
            "u AS pb FROM tpx WHERE t <> u), "
            + _jw_chain_sql() + ", "
            "sc AS (SELECT x.ia, x.ib, x.na, x.nb, x.i, x.j, "
            "CASE WHEN x.t = x.u THEN 1e0 ELSE w.jw END AS s "
            "FROM tpx x LEFT JOIN jwd w ON w.id_a = x.t AND w.id_b = x.u), "
            "mi AS (SELECT ia, ib, na, i, max(s) AS mx FROM sc "
            "GROUP BY 1, 2, 3, 4), "
            "meab AS (SELECT ia, ib, sum(mx) / max(na) AS ab FROM mi "
            "GROUP BY 1, 2), "
            "mj AS (SELECT ia, ib, nb, j, max(s) AS mx FROM sc "
            "GROUP BY 1, 2, 3, 4), "
            "meba AS (SELECT ia, ib, sum(mx) / max(nb) AS ba FROM mj "
            "GROUP BY 1, 2) "
            "SELECT ia AS id_a, ib AS id_b, "
            "round((ab + ba) / 2, 6) AS monge_elkan "
            "FROM meab JOIN meba USING (ia, ib)"
        ),
        # bridge-pruned reclustering: structural prune + recursive CC
        "q87_bridge_prune": (
            "WITH RECURSIVE e AS (SELECT a.p_partkey AS ea, "
            "b.p_partkey AS eb, a.p_brand AS cl FROM part a JOIN part b "
            "ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey "
            "AND b.p_partkey - a.p_partkey <= 100), "
            "adj AS (SELECT ea AS x, eb AS y FROM e "
            "UNION ALL SELECT eb, ea FROM e), "
            "cn AS (SELECT e.ea, e.eb, count(*) AS cn FROM e "
            "JOIN adj a1 ON a1.x = e.ea JOIN adj a2 ON a2.x = e.eb "
            "AND a2.y = a1.y WHERE a1.y <> e.ea AND a1.y <> e.eb "
            "GROUP BY 1, 2), "
            "sz AS (SELECT p_brand AS cl, count(DISTINCT p_partkey) AS nn "
            "FROM part GROUP BY 1), "
            "pruned AS (SELECT e.ea, e.eb FROM e "
            "LEFT JOIN cn ON cn.ea = e.ea AND cn.eb = e.eb "
            "JOIN sz ON sz.cl = e.cl "
            "WHERE coalesce(cn.cn, 0) >= 1 OR sz.nn < 3), "
            "sym AS (SELECT ea AS s, eb AS d FROM pruned "
            "UNION SELECT eb, ea FROM pruned), "
            "reach AS (SELECT s, d FROM sym "
            "UNION SELECT r.s, sym.d FROM reach r JOIN sym ON r.d = sym.s) "
            "SELECT s AS rid, least(s, min(d)) AS cluster_id "
            "FROM reach GROUP BY s ORDER BY rid"
        ),
        # meta-blocking: block purging -> CBS edges -> redistributed WNP
        "q91_meta_blocking": (
            "WITH recs AS (SELECT c_custkey AS rid, c_nationkey AS nk, "
            "c_mktsegment AS seg, "
            "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bkt "
            "FROM customer WHERE c_custkey % 4 = 0), "
            "keyed AS (SELECT rid, 'n:' || CAST(nk AS VARCHAR) AS key "
            "FROM recs "
            "UNION ALL SELECT rid, 's:' || seg FROM recs "
            "UNION ALL SELECT rid, 'b:' || CAST(bkt AS VARCHAR) FROM recs), "
            "sizes AS (SELECT key, count(*) AS c FROM keyed GROUP BY 1), "
            "live AS (SELECT rid, key FROM keyed JOIN sizes USING (key) "
            "WHERE c <= CAST(floor((SELECT count(*) FROM recs) * 4 / 25) "
            "AS BIGINT)), "
            "edges AS (SELECT a.rid AS id_a, b.rid AS id_b, "
            "count(*)::BIGINT AS cbs FROM live a JOIN live b "
            "ON a.key = b.key AND a.rid < b.rid GROUP BY 1, 2), "
            "ends AS (SELECT id_a AS node, cbs FROM edges "
            "UNION ALL SELECT id_b, cbs FROM edges), "
            "navg AS (SELECT node, avg(cbs) AS av FROM ends GROUP BY 1) "
            "SELECT e.id_a, e.id_b, e.cbs FROM edges e "
            "JOIN navg na ON na.node = e.id_a "
            "JOIN navg nb ON nb.node = e.id_b "
            "WHERE e.cbs >= na.av OR e.cbs >= nb.av"
        ),
        # adjusted Rand index from the contingency table (q89's pred/truth)
        "q92_adjusted_rand": (
            "WITH pr AS (SELECT p_partkey AS r, (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS c, t FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp, "
            "p_brand AS t FROM part)), "
            "cells AS (SELECT c, t, count(*)::BIGINT AS n FROM pr "
            "GROUP BY 1, 2), "
            "idx AS (SELECT sum(CAST(n * (n - 1) / 2 AS BIGINT)) AS ix, "
            "sum(n)::BIGINT AS n_records FROM cells), "
            "rs AS (SELECT sum(CAST(n * (n - 1) / 2 AS BIGINT)) AS rr "
            "FROM (SELECT count(*)::BIGINT AS n FROM pr GROUP BY c)), "
            "cs AS (SELECT sum(CAST(n * (n - 1) / 2 AS BIGINT)) AS cc "
            "FROM (SELECT count(*)::BIGINT AS n FROM pr GROUP BY t)), "
            "a AS (SELECT n_records, ix, rr, cc, "
            "CAST(n_records * (n_records - 1) / 2 AS BIGINT) AS total "
            "FROM idx, rs, cs) "
            "SELECT n_records, round(CASE "
            "WHEN (rr + cc) / 2.0 - rr * cc / total <> 0 "
            "THEN (ix - rr * cc / total) / "
            "((rr + cc) / 2.0 - rr * cc / total) "
            "WHEN ix = rr * cc / total THEN 1.0 ELSE 0.0 END, 6) AS ari "
            "FROM a"
        ),
        # Splink-style numeric + temporal comparison ladders
        "q93_numeric_temporal": (
            "WITH p AS (SELECT a.event_id AS id_a, b.event_id AS id_b, "
            "a.value AS va, b.value AS vb, a.ts AS ta, b.ts AS tb "
            "FROM events a JOIN events b ON a.user_id = b.user_id "
            "AND a.event_type = b.event_type "
            "AND a.event_id < b.event_id), "
            "s AS (SELECT id_a, id_b, "
            "CASE WHEN va IS NULL OR vb IS NULL THEN 0.0 "
            "WHEN va = vb THEN 1.0 "
            "WHEN abs(va - vb) <= 0.0 * greatest(abs(va), abs(vb)) "
            "THEN 1.0 "
            "WHEN abs(va - vb) <= 0.01 * greatest(abs(va), abs(vb)) "
            "THEN 0.9 "
            "WHEN abs(va - vb) <= 0.1 * greatest(abs(va), abs(vb)) "
            "THEN 0.7 ELSE 0.0 END AS value_sim, "
            "CASE WHEN ta IS NULL OR tb IS NULL THEN 0.0 "
            "WHEN abs(epoch_us(ta) - epoch_us(tb)) <= 0 THEN 1.0 "
            "WHEN abs(epoch_us(ta) - epoch_us(tb)) <= 3600000000 THEN 0.9 "
            "WHEN abs(epoch_us(ta) - epoch_us(tb)) <= 86400000000 THEN 0.7 "
            "WHEN abs(epoch_us(ta) - epoch_us(tb)) <= 604800000000 THEN 0.4 "
            "ELSE 0.0 END AS ts_sim FROM p) "
            "SELECT id_a, id_b, value_sim, ts_sim FROM s "
            "WHERE value_sim >= 0.7 AND ts_sim >= 0.4"
        ),
        # PPRL: CLK bigram encodings (portable hash) + Dice over candidates
        "q94_pprl_clk": (
            "WITH recs AS (SELECT p_partkey AS rid, p_brand AS brand, "
            "'_' || lower(p_name) || '_' AS pad FROM part "
            "WHERE p_partkey % 5 = 0), "
            "pos AS (SELECT DISTINCT rid, "
            "(('0x' || substr(md5(seed::VARCHAR || ':' || g), 1, 15))"
            "::BIGINT) % 512 AS pos FROM ("
            "SELECT rid, i.seed AS seed, substr(pad, j.j, 2) AS g "
            "FROM recs, generate_series(1, 256) AS j(j), "
            "generate_series(0, 3) AS i(seed) "
            "WHERE j.j <= greatest(length(pad) - 1, 1))), "
            "sizes AS (SELECT rid, count(*) AS n FROM pos GROUP BY 1), "
            "cand AS (SELECT a.rid AS id_a, b.rid AS id_b FROM recs a "
            "JOIN recs b ON a.brand = b.brand AND a.rid < b.rid), "
            "inter AS (SELECT c.id_a, c.id_b, count(*) AS i FROM cand c "
            "JOIN pos pa ON pa.rid = c.id_a "
            "JOIN pos pb ON pb.rid = c.id_b AND pb.pos = pa.pos "
            "GROUP BY 1, 2), "
            "d AS (SELECT c.id_a, c.id_b, "
            "round(2 * coalesce(i.i, 0) / (sa.n + sb.n), 6) AS clk_dice "
            "FROM cand c LEFT JOIN inter i USING (id_a, id_b) "
            "JOIN sizes sa ON sa.rid = c.id_a "
            "JOIN sizes sb ON sb.rid = c.id_b) "
            "SELECT id_a, id_b, clk_dice FROM d WHERE clk_dice >= 0.5"
        ),
        # deterministic match tiers: first-match-wins CASE over pairs
        "q95_match_tiers": (
            "WITH o AS (SELECT o_orderkey, o_custkey, "
            "CAST(o_orderdate AS DATE) AS d, o_orderstatus AS s, "
            "o_orderpriority AS p FROM orders), "
            "pairs AS (SELECT a.o_orderkey AS id_a, b.o_orderkey AS id_b, "
            "a.d AS da, b.d AS db, a.s AS sa, b.s AS sb, "
            "a.p AS pa, b.p AS pb FROM o a JOIN o b "
            "ON a.o_custkey = b.o_custkey "
            "AND a.o_orderkey < b.o_orderkey) "
            "SELECT id_a, id_b, CASE "
            "WHEN da = db AND sa = sb THEN 't1_same_day_status' "
            "WHEN da = db THEN 't2_same_day' "
            "WHEN pa = pb THEN 't3_same_priority' "
            "ELSE NULL END AS match_tier FROM pairs "
            "WHERE match_tier IS NOT NULL"
        ),
        # per-edge link-prediction features (CN / neighbor-Jaccard / PA)
        "q96_link_features": (
            "WITH e AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b "
            "FROM part a JOIN part b ON a.p_brand = b.p_brand "
            "AND a.p_partkey < b.p_partkey "
            "AND b.p_partkey - a.p_partkey <= 100), "
            "adj AS (SELECT id_a AS x, id_b AS y FROM e "
            "UNION ALL SELECT id_b, id_a FROM e), "
            "deg AS (SELECT x, count(*) AS deg FROM adj GROUP BY 1), "
            "cmn AS (SELECT e.id_a, e.id_b, count(*)::BIGINT AS cn FROM e "
            "JOIN adj a1 ON a1.x = e.id_a "
            "JOIN adj a2 ON a2.x = e.id_b AND a2.y = a1.y "
            "WHERE a1.y <> e.id_a AND a1.y <> e.id_b GROUP BY 1, 2) "
            "SELECT e.id_a, e.id_b, coalesce(cmn.cn, 0)::BIGINT AS cn, "
            "round(coalesce(cmn.cn, 0) / "
            "(da.deg + db.deg - coalesce(cmn.cn, 0)), 6) AS jaccard_nbrs, "
            "(da.deg * db.deg)::BIGINT AS pref_attach "
            "FROM e LEFT JOIN cmn ON cmn.id_a = e.id_a "
            "AND cmn.id_b = e.id_b "
            "JOIN deg da ON da.x = e.id_a JOIN deg db ON db.x = e.id_b"
        ),
        # per-pass blocking-quality sweep (q70's scheme, grouped by pass)
        "q97_blocking_sweep": (
            "WITH blocks AS ("
            "SELECT p_partkey AS id, 'c:' || (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS k FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp FROM part) "
            "UNION ALL "
            "SELECT p_partkey, 'b:' || p_brand FROM part), "
            "b2 AS (SELECT id, k, split_part(k, ':', 1) AS pass "
            "FROM blocks), "
            "truth AS (SELECT a.p_partkey AS ta, b.p_partkey AS tb "
            "FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1), "
            "base AS (SELECT pass, count(DISTINCT id) AS pass_records, "
            "count(DISTINCT k) AS n_block_keys FROM b2 GROUP BY 1), "
            "cmp AS (SELECT pass, coalesce(sum(c * (c - 1) // 2), 0) "
            "AS comparisons FROM "
            "(SELECT pass, k, count(*) AS c FROM b2 GROUP BY 1, 2) "
            "GROUP BY 1), "
            "tc AS (SELECT count(*) AS truth_pairs FROM truth), "
            "na AS (SELECT count(DISTINCT id) AS n_records FROM blocks), "
            "cov AS (SELECT pass, count(*) AS covered_pairs FROM "
            "(SELECT DISTINCT t.ta, t.tb, ba.pass FROM truth t "
            "JOIN b2 ba ON ba.id = t.ta "
            "JOIN b2 bb ON bb.id = t.tb AND bb.k = ba.k "
            "AND bb.pass = ba.pass) GROUP BY 1), "
            "r AS (SELECT base.pass, pass_records, n_block_keys, "
            "comparisons, truth_pairs, coalesce(covered_pairs, 0) "
            "AS covered_pairs, n_records * (n_records - 1) // 2 "
            "AS total_pairs FROM base "
            "LEFT JOIN cmp ON cmp.pass = base.pass "
            "LEFT JOIN cov ON cov.pass = base.pass, tc, na) "
            "SELECT pass, pass_records, n_block_keys, comparisons, "
            "CASE WHEN total_pairs > 0 THEN "
            "round((total_pairs - comparisons)::DOUBLE / "
            "total_pairs::DOUBLE, 6) ELSE 0.0 END AS reduction_ratio, "
            "truth_pairs, covered_pairs, "
            "CASE WHEN truth_pairs > 0 THEN "
            "round(covered_pairs::DOUBLE / truth_pairs::DOUBLE, 6) "
            "ELSE 0.0 END AS pairs_completeness, "
            "CASE WHEN comparisons > 0 THEN "
            "round(covered_pairs::DOUBLE / comparisons::DOUBLE, 6) "
            "ELSE 0.0 END AS pairs_quality FROM r"
        ),
        # run-over-run cluster stability (best-overlap predecessor)
        "q98_cluster_stability": (
            "WITH prev AS (SELECT p_partkey AS r, (CASE WHEN comp = '' "
            "THEN 'default' ELSE substring(md5(comp || '|'), 1, 16) END) "
            "AS p FROM (SELECT p_partkey, "
            f"substring({_norm_name_sql('p_name')}, 1, 3) AS comp "
            "FROM part)), "
            "j AS (SELECT part.p_brand AS c, prev.p FROM part "
            "JOIN prev ON prev.r = part.p_partkey), "
            "sizes AS (SELECT c, count(*)::BIGINT AS n_records FROM j "
            "GROUP BY 1), "
            "ov AS (SELECT c, p, count(*)::BIGINT AS overlap FROM j "
            "GROUP BY 1, 2), "
            "best AS (SELECT c, p, overlap, row_number() OVER ("
            "PARTITION BY c ORDER BY overlap DESC, p ASC) AS rk FROM ov) "
            "SELECT best.c AS cluster_id, sizes.n_records, "
            "best.p AS best_prev, best.overlap, "
            "round(best.overlap::DOUBLE / sizes.n_records::DOUBLE, 6) "
            "AS stability FROM best JOIN sizes ON sizes.c = best.c "
            "WHERE best.rk = 1"
        ),
        # survivorship conflict report: distinct values per fused field
        "q99_fusion_conflicts": (
            "WITH j AS (SELECT 'n' || CAST(c_nationkey AS VARCHAR) "
            "AS cluster_id, c_mktsegment, c_name, c_acctbal "
            "FROM customer), "
            "a AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size, "
            "count(DISTINCT c_mktsegment)::BIGINT AS c_mktsegment_distinct, "
            "count(DISTINCT c_name)::BIGINT AS c_name_distinct, "
            "count(DISTINCT c_acctbal)::BIGINT AS c_acctbal_distinct "
            "FROM j GROUP BY 1) "
            "SELECT *, ((c_mktsegment_distinct > 1)::INT "
            "+ (c_name_distinct > 1)::INT "
            "+ (c_acctbal_distinct > 1)::INT) AS n_conflict_fields "
            "FROM a WHERE (c_mktsegment_distinct > 1)::INT "
            "+ (c_name_distinct > 1)::INT "
            "+ (c_acctbal_distinct > 1)::INT >= 1 ORDER BY cluster_id"
        ),
        # pair-budget ledger: per-pass key/pair fates + dropped estimate
        "q100_budget_ledger": (
            "WITH nn AS (SELECT count(*)::BIGINT AS n FROM customer), "
            "recs AS (SELECT c_custkey AS rid, c_nationkey AS nk, "
            "c_mktsegment AS seg, "
            "CAST(floor(c_acctbal / 1000) AS BIGINT) AS bkt "
            "FROM customer), "
            "keyed AS (SELECT rid, 'n:' || CAST(nk AS VARCHAR) AS key "
            "FROM recs "
            "UNION ALL SELECT rid, 's:' || seg FROM recs "
            "UNION ALL SELECT rid, 'b:' || CAST(bkt AS VARCHAR) FROM recs), "
            "counts AS (SELECT key, count(*)::BIGINT AS c FROM keyed "
            "GROUP BY 1), "
            "f AS (SELECT split_part(key, ':', 1) AS pass, c, "
            "split_part(key, ':', 1) = 's' AS purg, nn.n AS n, "
            "CASE WHEN split_part(key, ':', 1) = 's' "
            "THEN c > nn.n // 25 ELSE c > nn.n * 4 // 25 END AS ov "
            "FROM counts, nn), "
            "g AS (SELECT pass, c, "
            "((ov AND purg) OR c > n * 12 // 25) AS dead, "
            "(ov AND NOT purg AND c <= n * 12 // 25) AS win FROM f), "
            "h AS (SELECT pass, dead, win, "
            "(NOT dead AND NOT win) AS fl, c * (c - 1) // 2 AS all2, "
            "least(c * (c - 1) // 2, c * 10) AS wp FROM g) "
            "SELECT pass, count(*)::BIGINT AS n_keys, "
            "sum(fl::INT)::BIGINT AS n_full, "
            "sum(win::INT)::BIGINT AS n_windowed, "
            "sum(dead::INT)::BIGINT AS n_purged, "
            "sum(CASE WHEN fl THEN all2 ELSE 0 END)::BIGINT "
            "AS pairs_full, "
            "sum(CASE WHEN win THEN wp ELSE 0 END)::BIGINT "
            "AS pairs_windowed_est, "
            "sum(CASE WHEN win THEN greatest(all2 - wp, 0) "
            "WHEN dead THEN all2 ELSE 0 END)::BIGINT "
            "AS pairs_dropped_est FROM h GROUP BY 1 ORDER BY pass"
        ),
    }
