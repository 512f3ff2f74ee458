"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship CDC LWW-state query on sf0.001.
queries()     -> one callable per implemented operator (SURVEY.md §2 +
                 training-data ops), (spark, sf_dir) -> DataFrame.
                 len(queries()) entries; all but ONE carry DuckDB oracles
                 (len(oracle_sql()) == len(queries()) - 1; asserted in
                 tests/test_driver_contract.py).
oracle_sql()  -> DuckDB-equivalent SQL per query (same column aliases).
                 The ONLY rows-only query is ivf_topk (nprobe < n_cells
                 is genuinely approximate; its exact full-probe twins
                 ivf_topk_fullprobe and ivf_topk_indexed_fullprobe ARE
                 oracled, and the sketch ops use sha256-derived hashing
                 so DuckDB reproduces signatures bit-for-bit).

CDC semantics used on the driver's `events` table (a generic change
stream): key = user_id, LWW order = (ts, event_id), delete = the key's
*winning* event having event_type = 'error'.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nifi_processors_spark.operators import (
    budget, fuzzy, incdedup, multimodal, profile, retrieval, sample, similarity, text,
)
from nifi_processors_spark.operators.dedup import lww_dedup
from nifi_processors_spark.operators.rules import evaluate, explode_details, route
from nifi_processors_spark.operators.split import split_positional
from nifi_processors_spark.operators.template import render_template

SF_SMOKE = "/root/testdata/sf0.001"

# one OR-subgroup, two rules — mirrors the reference demo shape (Group 1.xml)
EVENT_SPEC = {
    "groups": [
        {
            "id": "g1",
            "subgroups": [
                {
                    "id": "sg1",
                    "rule_op": "or",
                    "inter_op": "and",
                    "rules": [
                        {"id": "r_type", "field": "event_type", "op": "in",
                         "value": ["purchase", "signup"]},
                        {"id": "r_value", "field": "value", "op": "gt", "value": 100.0},
                    ],
                }
            ],
        }
    ]
}

_RULE_COND = "(event_type IN ('purchase','signup') OR value > 100.0)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# unique id column per sf table — fan_out hash-repartitions on it (no
# sort-before-repartition, deterministic under retry; session.fan_out)
_TABLE_ID = {
    "documents": "doc_id", "events": "event_id", "embeddings": "vec_id",
    "customer": "c_custkey", "orders": "o_orderkey", "lineitem": "l_orderkey",
    "nation": "n_nationkey", "supplier": "s_suppkey", "part": "p_partkey",
    "region": "r_regionkey",
}


def _tf(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read for EXPRESSION-HEAVY paths: _t + scale-adaptive fan-out
    (session.fan_out). The sf tables are single-row-group parquet files,
    which a scan cannot parallelize below one task — every narrow per-row
    expression (sha256 shingling, regex, cosine) then runs on one core of
    N. fan_out hash-repartitions the (small) input on its unique id up to
    the session's parallelism; at 100 TB the scan already plans more
    splits than cores and no exchange is added. Aggregation/window-
    dominated queries keep the plain _t: their heavy work is already
    parallel after their own exchange, and the extra exchange would cost
    more than it saves."""
    from nifi_processors_spark.session import fan_out

    return fan_out(_t(spark, sf_dir, name), by=[_TABLE_ID[name]])


def _lww_events(ev: DataFrame) -> DataFrame:
    return lww_dedup(ev, key=["user_id"], order=["ts", "event_id"])


# ---------------------------------------------------------------- queries


def q_lww_dedup_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return _lww_events(ev).select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 2).alias("value"),
        # ts is TIMESTAMP_NTZ; session TZ is pinned UTC so this cast is exact
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def q_cdc_state_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = _lww_events(ev)
    return w.filter(F.col("event_type") != "error").select(
        "user_id", "event_id", F.round("value", 2).alias("value")
    )


def q_cdc_delete_antijoin(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    deleted = _lww_events(ev).filter(F.col("event_type") == "error").select("user_id")
    return ev.select("user_id").distinct().join(deleted, "user_id", "left_anti")


def q_rule_route_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return route(evaluate(ev, EVENT_SPEC)).groupBy("route").agg(F.count("*").alias("n"))


def q_rule_counters(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return evaluate(ev, EVENT_SPEC).select(
        "event_id",
        "rulegroups_passed",
        "rulegroups_failed",
        "rules_passed",
        "rules_failed",
    )


def q_rule_detail_explode(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    d = explode_details(
        evaluate(ev, EVENT_SPEC, with_details=True), "all groups - all rules", ["event_id"]
    )
    return d.select(
        "event_id", "group_id", "group_failed", "subgroup_id", "subgroup_failed",
        "inter_op", "rule_op", "rule_id", "rule_failed",
    )


def q_metrics_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_split_json_field(spark, sf_dir):
    from nifi_processors_spark.session import fan_out

    ev = fan_out(_t(spark, sf_dir, "events").select("event_id", "props"), by=["event_id"])
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


def q_split_positional(spark, sf_dir):
    na = _t(spark, sf_dir, "nation")
    content = na.select(
        F.concat_ws(";", F.col("n_name"), F.col("n_regionkey").cast("string")).alias("content")
    )
    return split_positional(content, "content", ";", 2, prefix="column_", width=3)


def q_template_render(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer")
    tmpl = '{"name": "$c_name", "nation": $c_nationkey}'
    return render_template(cu, tmpl, out_col="content").select("c_custkey", "content")


def q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return fuzzy.exact_dedup(docs, "text", "doc_id")


def q_token_counts(spark, sf_dir):
    docs = _tf(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


def q_lang_id(spark, sf_dir):
    docs = _tf(spark, sf_dir, "documents")
    # staged tokenize-once path (one text pass; no regex alternation scans)
    return text.with_language_id(docs, "text", "lang_id").select("doc_id", "lang_id")


def q_quality_features(spark, sf_dir):
    docs = _tf(spark, sf_dir, "documents")
    f_ = text.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f_["n_chars"].cast("long").alias("n_chars"),
        f_["n_words"].cast("long").alias("n_words"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]")).cast("long").alias("n_alpha"),
        F.regexp_count(F.col("text"), F.lit(r"[^\w\s]")).cast("long").alias("n_punct"),
        F.regexp_count(F.col("text"), F.lit(r"[A-Z]")).cast("long").alias("n_upper"),
    )


def q_fingerprint(spark, sf_dir):
    # _tf: the sha256-over-normalized-text projection is heavy enough that
    # the single-row-group scan serializes it (r06 A/B: 0.44 -> 0.23 s at
    # the 10x replica; the other narrow bench queries measured NO fan-out
    # win — rule eval, template concat and exact_dedup's pre-agg hash are
    # cheaper than the extra exchange, so they keep the plain scan)
    docs = _tf(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.sha2(text.normalize_text(F.col("text")), 256), 1, 15).alias("fp_hex"),
    )


def q_ann_topk(spark, sf_dir):
    em = _tf(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(vecs, queries, k=3)
    return out.select("query_id", "vec_id", "rank", F.round("cosine", 3).alias("cosine"))


def q_minhash_neardup(spark, sf_dir):
    docs = _tf(spark, sf_dir, "documents")
    return fuzzy.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.6, num_hashes=32, bands=16)


# deterministic literal query set — duplicated verbatim in the oracle SQL
BM25_QUERIES = [
    (0, "spark merge window"),
    (1, "hash join filter"),
    (2, "customer query scan"),
]


def q_length_band(spark, sf_dir):
    """Quantile band filter (operators/profile.py quantile_band_filter):
    keep documents inside the [p05, p95] length band — data-driven
    outlier trim. One threshold aggregation + a 1-row broadcast back
    into a narrow filter; exact percentile here (oracle parity), the
    sketch path (percentile_approx) is the 100 TB default."""
    docs = _t(spark, sf_dir, "documents")
    return profile.quantile_band_filter(docs, "n_chars").select("doc_id", "n_chars")


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization (operators/urls.py): deterministic URL
    variants synthesized from doc_id (tracking params, case, default
    ports, fragments, empty paths) normalized with pure regexp/HOF
    expressions; the oracle reproduces the normalization
    regexp-for-regexp in SQL."""
    from nifi_processors_spark.operators.urls import canonicalize_url

    docs = _tf(spark, sf_dir, "documents")
    v = F.pmod("doc_id", F.lit(4))
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(v == 0, F.concat(F.lit("HTTP://WWW.Example.com:80/d/"), sid,
                                F.lit("?utm_source=feed&b=2&a=1#frag")))
        .when(v == 1, F.concat(F.lit("https://example.COM/d/"), sid,
                               F.lit("/?gclid=xyz&z=1")))
        .when(v == 2, F.concat(F.lit("http://EXAMPLE.com?id="), sid))
        .otherwise(F.concat(F.lit("https://Example.com:443/P/"), sid,
                            F.lit("?a=1&utm_campaign=x&ref=h&Z=9#s")))
    )
    return docs.select("doc_id", canonicalize_url(url).alias("canonical_url"))


def q_skew_report(spark, sf_dir):
    """Heavy-hitter skew diagnostic (operators/profile.py heavy_hitters):
    exact per-key counts (map-side partials) + share of total — the
    number that decides whether an agg/join on this key needs salting."""
    ev = _t(spark, sf_dir, "events")
    return profile.heavy_hitters(ev, ["user_id"], top_n=20)


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 per query (operators/retrieval.py): postings term-
    filtered behind a broadcast of the query terms, df computed from the
    filtered postings, corpus constants as a 1-row broadcast."""
    docs = _tf(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return retrieval.bm25_topk(docs, qdf, "text", "doc_id", k=10)


def q_bm25_topk_indexed(spark, sf_dir):
    """The persisted-index retrieval path: postings ingested in three
    batches (doc_id % 3) with incrementally-maintained corpus constants,
    then probed with a partition-pruned scan (only the tb= dirs the query
    terms hash into). Score-identical to the inline bm25_topk by shared
    scoring core, so it shares its oracle."""
    import tempfile

    docs = _tf(spark, sf_dir, "documents")
    idx = retrieval.Bm25Index(spark, tempfile.mkdtemp(prefix="bm25_idx_"))
    for b in range(3):
        idx.ingest(docs.filter(F.pmod("doc_id", F.lit(3)) == b), "text", "doc_id")
    qdf = spark.createDataFrame(BM25_QUERIES, "query_id long, query string")
    return idx.topk(qdf, k=10)


def q_incremental_neardup(spark, sf_dir):
    """CDC-shaped dedup: the corpus arrives in three batches (doc_id % 3);
    each batch is deduped against the persisted LSH band index built from
    the earlier batches (partition-pruned probe + broadcast-verify against
    the corpus), then appended to it — the historical corpus is never
    re-banded (operators/incdedup.py). The union of the per-ingest
    results provably equals the one-shot minhash_lsh_pairs over the whole
    corpus, so this query shares minhash_neardup's oracle SQL."""
    import tempfile

    docs = _tf(spark, sf_dir, "documents")
    idx = incdedup.LshBandIndex(
        spark, tempfile.mkdtemp(prefix="lsh_idx_"), num_hashes=32, bands=16, shingle_n=3
    )
    outs = [
        idx.ingest(
            docs.filter(F.pmod("doc_id", F.lit(3)) == b), "text", "doc_id",
            docs, threshold=0.6,
        )
        for b in range(3)
    ]
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


def q_dup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate clusters (iterative min-label connected
    components; cluster_id = min doc_id of the component)."""
    pairs = q_minhash_neardup(spark, sf_dir)
    return fuzzy.connected_components(pairs)


def q_simhash_sketch(spark, sf_dir):
    docs = _tf(spark, sf_dir, "documents")
    return fuzzy.with_simhash(docs, "text", "simhash", shingle_n=2).select("doc_id", "simhash")


def q_ivf_topk(spark, sf_dir):
    em = _tf(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ivf_topk(vecs, queries, k=3, n_cells=8, nprobe=4)
    return out.select("query_id", "vec_id", "rank")


def q_ivf_topk_fullprobe(spark, sf_dir):
    """IVF with nprobe == n_cells is EXACT (every cell probed) — same
    result contract as brute force, so it gets a real SQL oracle; the
    nprobe<n_cells variant above demonstrates the approximate scale path
    (rows-only check)."""
    em = _tf(spark, sf_dir, "embeddings")
    vecs = em.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    queries = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.ivf_topk(vecs, queries, k=3, n_cells=8, nprobe=8)
    return out.select("query_id", "vec_id", "rank")


def q_asof_join(spark, sf_dir):
    """Each purchase event matched to the user's most recent click at or
    before it (as-of join — union+carry, one shuffle; operators/asof.py)."""
    from nifi_processors_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.round("value", 2).alias("value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"),
        F.round("value", 2).alias("click_value"),
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"],
                    right_cols=["click_id", "click_value"], suffix="")
    return out.select(
        "event_id", "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "value", "click_id", "click_value",
    )


def q_salted_agg(spark, sf_dir):
    """Explicit two-phase salted aggregation (hot-key skew pattern from the
    north rule) — must equal a plain GROUP BY."""
    li = _t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(16)).cast("int"))
        .groupBy("l_suppkey", "_salt")
        .agg(F.sum("l_quantity").alias("_q"), F.count("*").alias("_n"))
    )
    return partial.groupBy("l_suppkey").agg(
        F.round(F.sum("_q"), 2).alias("sum_qty"), F.sum("_n").alias("n_items")
    )


def q_topk_per_group(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("l_orderkey", "l_linenumber", "rank",
                F.round("l_extendedprice", 2).alias("price"))
    )


def q_sessionize(spark, sf_dir):
    """Sessionization: new session when the gap to the previous event of the
    same user exceeds 30 min (lag + running sum of boundary flags)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("_new", new_sess)
        .withColumn(
            "session_id",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("event_id", "user_id", "session_id")
    )


def q_rollup_agg(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets family)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "sum_qty",
            "n",
        )
    )


EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_pivot_counts(spark, sf_dir):
    """Pivot: per-user event counts, one column per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .select("user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES])
    )


def q_except_users(spark, sf_dir):
    """Set op: users who clicked but never purchased (EXCEPT)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clicks.exceptAll(buys)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via max_hamming+1 pigeonhole block buckets
    (candidates shuffle on sub-keys, never all-pairs; exact, so the
    brute-force DuckDB oracle reproduces it bit-for-bit)."""
    docs = _tf(spark, sf_dir, "documents")
    out = fuzzy.simhash_pairs(docs, "text", "doc_id", max_hamming=8, shingle_n=2)
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


# hyperplanes pinned as literals (portable to the DuckDB oracle; one
# zip_with per plane instead of an xxhash64 per (plane, element))
_EMB_PLANES = fuzzy.make_plane_vectors(planes=16, dim=64, seed=7)


def q_embedding_neardup(spark, sf_dir):
    """Embedding cosine near-dup via banded random-hyperplane LSH:
    16 sign bits in 8 bands of 2 — candidate on any band match, verified
    by true cosine."""
    em = _tf(spark, sf_dir, "embeddings")
    vecs = em.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = fuzzy.embedding_neardup_pairs(
        vecs, "embedding", "vec_id", threshold=0.4,
        plane_vectors=_EMB_PLANES, bands=8,
    )
    return out.select("id_a", "id_b", F.round("cosine", 3).alias("cosine"))


def q_ngram_jaccard(spark, sf_dir):
    """All-pairs n-gram Jaccard — the exact baseline the LSH variants
    approximate (bounded input by contract; here the sf docs table)."""
    docs = _tf(spark, sf_dir, "documents")
    return fuzzy.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.6, n=3)


def q_lsh_bucket_audit(spark, sf_dir):
    """Band-bucket size audit for the LSH degenerate-bucket cap: per
    multi-member bucket, its size and the pairs a cap of 4 would drop."""
    docs = _tf(spark, sf_dir, "documents")
    out = fuzzy.lsh_bucket_stats(
        docs, "text", "doc_id", num_hashes=32, bands=16, max_bucket_size=4
    )
    return out.select(
        F.col("band").cast("long").alias("band"), "bucket_key",
        "bucket_size", "dropped_pairs",
    )


def q_decode_image(spark, sf_dir):
    """Encode->decode round trip over real bytes: synthetic_media writes
    genuine BMPs distributed (mapInPandas), decode_image header-parses
    them back (pure stdlib). The oracle recomputes the encoded dimensions
    arithmetically from media_id — a hash match proves the byte round trip
    is exact for every row."""
    media = multimodal.synthetic_media(spark, 200, kind="image")
    return multimodal.decode_image(media).select(
        "media_id", "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("bpp").cast("long").alias("bpp"),
    )


def q_decode_audio(spark, sf_dir):
    """Same round-trip contract for RIFF/WAV: PCM16 encode -> chunk-walk
    decode; duration_ms is exact because n_samples = rate*ms//1000."""
    media = multimodal.synthetic_media(spark, 200, kind="audio")
    return multimodal.decode_audio(media).select(
        "media_id",
        F.col("channels").cast("long").alias("channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("bits_per_sample").cast("long").alias("bits_per_sample"),
        "duration_ms",
    )


def q_decode_png(spark, sf_dir):
    """Full PNG pixel decode, pure stdlib (round 5): chunk walk with CRC
    verification, IDAT zlib inflate, per-scanline unfilter of ALL FIVE
    filter types (the encoder cycles them). Pixels are closed-form in
    (media_id, x, y, channel), so the oracle recomputes the decoded pixel
    mean arithmetically — a hash match proves the entire compressed round
    trip (filter -> deflate -> inflate -> unfilter) exact on every row."""
    media = multimodal.synthetic_media(spark, 96, kind="png", pattern="arith")
    return multimodal.decode_image(media).select(
        "media_id", "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("bpp").cast("long").alias("bpp"),
        "px_mean", "crc_ok",
    )


def q_image_features(spark, sf_dir):
    """REAL image features from decoded BMP pixels (round 5): per-channel
    means + row moment, exact-integer sums under IEEE divisions, so the
    arithmetic oracle matches bit-for-bit. The row moment is position-
    weighted: a decoder that ignored BMP's bottom-up row order or BGR
    byte order would produce different numbers."""
    media = multimodal.synthetic_media(spark, 64, kind="image", pattern="arith")
    feat = multimodal.extract_features(media, dim=4)
    return feat.select(
        "media_id",
        F.col("features")[0].alias("mean_r"),
        F.col("features")[1].alias("mean_g"),
        F.col("features")[2].alias("mean_b"),
        F.col("features")[3].alias("y_moment"),
    )


def q_audio_features(spark, sf_dir):
    """REAL audio features from decoded PCM16 samples (round 5): RMS,
    zero-crossing rate, mean, peak — same exact-arithmetic contract as
    image_features."""
    media = multimodal.synthetic_media(spark, 12, kind="audio", pattern="arith")
    feat = multimodal.extract_features(media, dim=4)
    return feat.select(
        "media_id",
        F.col("features")[0].alias("rms"),
        F.col("features")[1].alias("zcr"),
        F.col("features")[2].alias("mean_s"),
        F.col("features")[3].alias("peak"),
    )


def q_decode_video(spark, sf_dir):
    """Real video container decode (round 5): synthetic_media emits
    genuine YUV4MPEG2 streams; decode_video walks the FRAME markers and
    reports the actual frame count — the oracle recomputes it from the
    encoding parameters (fps=4, n_frames = duration*4/1000)."""
    media = multimodal.synthetic_media(spark, 40, kind="video")
    return multimodal.decode_video(media).select(
        "media_id", "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("fps").cast("long").alias("fps"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "duration_ms",
    )


def q_frame_stats(spark, sf_dir):
    """Per-frame plane means from REAL decoded y4m frames (one row per
    frame, fan-out inside the Arrow batch) — closed-form pixels, so the
    oracle recomputes every frame's Y/U/V means arithmetically."""
    media = multimodal.synthetic_media(spark, 6, kind="video", pattern="arith")
    return multimodal.sample_frames(media).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "ts_ms", "y_mean", "u_mean", "v_mean",
    )


def q_video_features(spark, sf_dir):
    """REAL video features (frame count, overall mean, first/last frame Y
    means) through the extract_features dispatch — frame-boundary
    sensitive under the arith pattern."""
    media = multimodal.synthetic_media(spark, 10, kind="video", pattern="arith")
    feat = multimodal.extract_features(media, dim=4)
    return feat.select(
        "media_id",
        F.col("features")[0].alias("n_frames"),
        F.col("features")[1].alias("overall_mean"),
        F.col("features")[2].alias("first_y_mean"),
        F.col("features")[3].alias("last_y_mean"),
    )


def q_ivf_topk_indexed_fullprobe(spark, sf_dir):
    """The persisted-index ANN path — the stated 100 TB path: build the
    cell-partitioned parquet index (assignment is a pure projection, zero
    corpus shuffle; similarity.build_ivf_index), then probe EVERY cell
    (nprobe == n_cells, exact) so the brute-force oracle applies. The
    pruned-probe variant (PartitionFilters on nprobe cell directories) is
    covered by the recall test and the PLANS.md section."""
    import tempfile

    em = _tf(spark, sf_dir, "embeddings")
    vecs = em.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries_df = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = tempfile.mkdtemp(prefix="ivf_index_")
    similarity.build_ivf_index(vecs, path, n_cells=8)
    out = similarity.ivf_topk_indexed(spark, path, queries_df, k=3, nprobe=8)
    return out.select("query_id", "vec_id", "rank")


def _two_snapshot_table(spark, sf_dir, bloom_cols=None, after_commit=None):
    """Shared harness for the change-feed queries: a REAL icelite table
    (temp dir) with two committed snapshots — epoch 1 merges the first
    half of the change log (event_id <= max/2; error winners tombstone),
    epoch 2 the rest. Returns (tbl, s1, s2). ``after_commit(tbl)`` runs
    after each merge (outbox publish hook)."""
    import tempfile

    from pyspark.sql import types as T

    from nifi_processors_spark.plans.table import IceliteTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type",
        F.round("value", 2).alias("value"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    mid = ev.agg((F.max("event_id") / 2).cast("long").alias("m")).collect()[0]["m"]
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts_us", T.LongType()),
    ])

    def chset(df):
        return df.select(
            "user_id", "event_type", "value", "ts_us",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
            F.col("ts_us").alias("commit_seq"),
            F.col("event_id").alias("event_seq"),
        )

    tbl = IceliteTable.create(
        spark, tempfile.mkdtemp(prefix="chfeed_"), schema,
        key=["user_id"], n_buckets=8, bloom_cols=bloom_cols,
    )
    s1, _ = tbl.merge(chset(ev.filter(F.col("event_id") <= mid)))
    if after_commit is not None:
        after_commit(tbl)
    s2, _ = tbl.merge(chset(ev.filter(F.col("event_id") > mid)))
    if after_commit is not None:
        after_commit(tbl)
    return tbl, s1, s2


def q_snapshot_changes(spark, sf_dir):
    """Delta-CDF-style change feed between two REAL committed snapshots
    (round 5): IceliteTable.changes(s1, s2) emits insert / delete /
    update_preimage / update_postimage rows reading ONLY buckets whose
    file-entry lists differ between the snapshots (manifest pruning),
    then one full-outer join + one filter/explode projection. The oracle
    recomputes both LWW states in SQL and diffs them."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    return tbl.changes(s1, s2).select(
        "user_id", "event_type", "value", "ts_us", "_change_type"
    )


def q_outbox_feed(spark, sf_dir):
    """CDC OUTPUT (round 5): the change-feed outbox publishes each
    commit's row-level delta as a parquet segment behind a replace-safe
    pointer (plans/outbox.py) — downstream consumers tail deltas instead
    of rescanning the table. Segment 0→1 covers from table birth (the
    create snapshot is retained), so it is snapshot-1's state as inserts;
    segment 1→2 is the manifest-pruned diff. The oracle recomputes both
    LWW states in SQL and emits the same two-segment union."""
    import tempfile

    from nifi_processors_spark.plans.outbox import ChangeOutbox

    ob = ChangeOutbox(spark, tempfile.mkdtemp(prefix="outbox_"))
    _two_snapshot_table(spark, sf_dir, after_commit=ob.publish)
    return ob.read().select(
        "user_id", "event_type", "value", "ts_us",
        "_change_type", "_from_snapshot", "_to_snapshot",
    )


def q_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance off the change feed (round 5): a
    per-event_type rollup (row count + value sum) materialized at
    snapshot 1 is maintained to snapshot 2 by folding ONLY the feed's
    signed deltas (plans/ivm.py) — the snapshot-2 table is never
    rescanned. The oracle recomputes the snapshot-2 rollup from scratch,
    so hash-equality proves incremental == recompute (sums rounded 4dp:
    float addition order differs by construction)."""
    from nifi_processors_spark.plans import ivm

    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    base = ivm.grouped_agg(tbl.read(s1), ["event_type"], ["value"])
    delta = ivm.agg_delta(tbl.changes(s1, s2), ["event_type"], ["value"])
    out = ivm.apply_agg_delta(base, delta, ["event_type"], ["value"])
    return out.select(
        "event_type", "n_rows", F.round("sum_value", 4).alias("sum_value")
    )


def q_repetition_features(spark, sf_dir):
    """Gopher-style per-document repetition signals (round 5): word
    count, duplicate-word fraction, top-word share, top-bigram share —
    one narrow JVM projection with the words/bigrams arrays staged as
    bound columns (operators/text.py:with_repetition_features). The
    DuckDB oracle recomputes all four from the same tokenization with
    list lambdas."""
    docs = _tf(spark, sf_dir, "documents")
    return text.with_repetition_features(docs, "text").select(
        "doc_id", "n_words", "dup_word_frac", "top_word_frac", "top_bigram_frac"
    )


def q_boilerplate_strip(spark, sf_dir):
    """CCNet-style corpus boilerplate-line removal (round 5). The corpus
    docs are single-line by construction, so the query first composes
    multi-line 'pages' deterministically — 5 consecutive docs' texts as
    lines plus an injected footer line on every page (the oracle builds
    the identical pages in SQL) — then drops every line whose normalized
    form occurs on >= 2 distinct pages (the footer everywhere; any
    cross-page duplicate doc bodies too) and rejoins survivors in
    original order (operators/lines.py)."""
    from nifi_processors_spark.operators import lines as lines_ops

    docs = _t(spark, sf_dir, "documents")
    pages = docs.groupBy(
        F.floor(F.col("doc_id") / 5).cast("long").alias("page_id")
    ).agg(
        F.concat(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                    lambda s: s["text"],
                ),
            ),
            F.lit("\n" + _PAGE_FOOTER),
        ).alias("page_text")
    )
    return lines_ops.strip_boilerplate_lines(pages, "page_id", "page_text")


_PAGE_FOOTER = "(c) example corp - all rights reserved"


def q_scan_prune(spark, sf_dir):
    """Manifest-stats file skipping (round 5): IceliteTable.scan() plans
    against footer-derived per-file min/max hoisted into the snapshot —
    files whose range provably excludes the predicate are never opened
    (delta-bearing buckets prune only wholesale: per-key LWW resolution
    spans files, so dropping one could surface a stale version). The full
    predicate is always applied residually, so the oracle — the LWW state
    recomputed in SQL with the same filter — must match byte-for-byte
    whether or not any file was skipped."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    out = tbl.scan([("value", ">=", 80.0), ("event_type", "=", "purchase")])
    return out.select("user_id", "event_type", "value", "ts_us")


def q_batch_lookup(spark, sf_dir):
    """Batch key lookup (round 5): key IN (...) plans to the UNION of the
    candidates' hash buckets (xxhash64 % n_buckets via the writers' own
    bucket_expr) — k keys touch at most k/n_buckets of a 100 TB table's
    manifest — then per-file stats prune within them and the IN predicate
    applies residually. Oracle: the LWW state filtered with the same IN."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    out = tbl.scan([("user_id", "in", [7, 42, 99, 123])])
    return out.select("user_id", "event_type", "value", "ts_us")


def q_zorder_scan(spark, sf_dir):
    """Z-order clustered scan (round 5): cluster(zorder=True) rewrites
    each bucket in Morton-interleave order of (value, ts_us), so BOTH
    dimensions get tight per-file ranges and a 2-D box scan opens the
    matching files, not the bucket (lexical sort helps only the leading
    column). The predicate is always applied residually; the oracle
    recomputes the LWW state with the same box in SQL, so hash-equality
    proves the multi-dim rewrite changes layout, never results."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    tbl.cluster(["value", "ts_us"], max_rows_per_file=2000, zorder=True)
    # box midpoint from the LIVE state's own ts range (LWW winners skew
    # recent — a global-range midpoint would select nothing)
    mid = tbl.read().agg(
        ((F.min("ts_us") + F.max("ts_us")) / 2).cast("long").alias("m")
    ).collect()[0]["m"]
    out = tbl.scan([("value", ">=", 40.0), ("value", "<", 60.0),
                    ("ts_us", "<", mid)])
    return out.select("user_id", "event_type", "value", "ts_us")


def q_rollback_read(spark, sf_dir):
    """Snapshot rollback (round 5): after epoch 2 commits, rollback(s1)
    restores the epoch-1 state as a NEW commit — no data rewritten (the
    manifest is copied; files are immutable and shared), history intact,
    readers see the restored state immediately. The oracle recomputes the
    epoch-1 LWW state in SQL, so hash-equality proves the rollback commit
    is byte-identical to the state it restores."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    tbl.rollback(s1)
    return tbl.read().select("user_id", "event_type", "value", "ts_us")


def q_point_lookup(spark, sf_dir):
    """Key-bucket point lookup (round 5): when the predicate pins the full
    primary key with equality, IceliteTable.scan() collapses the candidate
    set to the ONE hash bucket the key can occupy (xxhash64(key) %
    n_buckets — the Iceberg bucket-transform partition-pruning analogue)
    before stats pruning even starts; a point lookup on a 100 TB table
    reads 1/n_buckets of the manifest at most. The oracle recomputes the
    LWW state in SQL with the same equality filter, so hash-equality
    proves bucket pruning never changes the answer."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    out = tbl.scan([("user_id", "=", 42)])
    return out.select("user_id", "event_type", "value", "ts_us")


def q_bloom_lookup(spark, sf_dir):
    """Per-file bloom skipping on a SECONDARY column (round 5): ts_us is
    high-cardinality and uncorrelated with the user_id bucketing, so its
    per-file min/max spans ~everything and range stats never prune — the
    manifest bloom is what lets an equality/IN lookup skip files the
    value provably isn't in (false positives only cost an extra file
    read; the residual predicate keeps results exact). The oracle
    recomputes the LWW state in SQL with the same IN predicate."""
    tbl, _, _ = _two_snapshot_table(spark, sf_dir, bloom_cols=["ts_us"])
    probes = sorted(
        r["ts_us"]
        for r in tbl.read().filter(F.col("user_id").isin([7, 42]))
        .select("ts_us").collect()
    )
    out = tbl.scan([("ts_us", "in", probes)])
    return out.select("user_id", "event_type", "value", "ts_us")


def q_metadata_count(spark, sf_dir):
    """Metadata-only COUNT(*) (round 5): live-row counts answered from the
    manifest's _deleted boolean footer stats — at 100 TB the common case
    touches zero data files — with a residual scan ONLY over buckets
    metadata cannot prove (here: the buckets whose files mix live rows
    with error-event tombstones). The oracle counts the LWW state in SQL;
    equality proves the hybrid metadata+scan count never miscounts."""
    tbl, s1, s2 = _two_snapshot_table(spark, sf_dir)
    return spark.createDataFrame([(tbl.count_rows(),)], "n_rows long")


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (round 5): per training doc, the count of
    its distinct word 3-grams that appear anywhere in a held-out
    benchmark slice (doc_id % 97 == 0), flagged at >= 3 overlaps. The
    benchmark gram set is BROADCAST (eval sets are MBs against a 100 TB
    corpus — the probe is map-side, no corpus shuffle on the gram key);
    the only exchange is the per-doc count. The oracle rebuilds the same
    grams with DuckDB list functions, so hash-equality pins tokenization,
    gram construction, and the zero-overlap left-join semantics."""
    docs = _tf(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    out = text.ngram_overlap(train, bench, n=3, min_overlap=3)
    return out.select("doc_id", "n_overlap", "contaminated")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum sampling (round 5): event_type strata at
    different rates via the sha256-derived integer-threshold hash —
    membership is a pure function of (key, seed), identical across
    retries, partitionings and engines (df.sample is none of those).
    One narrow filter, zero shuffle."""
    ev = _t(spark, sf_dir, "events")
    out = sample.stratified_sample(
        ev, "event_type", "event_id",
        {"click": 0.1, "view": 0.25, "purchase": 1.0}, default=0.5, seed=7,
    )
    return out.select("event_id", "user_id", "event_type")


def q_corpus_mix(spark, sf_dir):
    """Weighted corpus mixing (round 5): two heterogeneous sources
    (documents at 0.3, order comments at 0.08) sampled deterministically
    by key hash, tagged, and combined by name — the data-mixing step of
    a training pipeline as a zero-shuffle union of narrow filters."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("row_id"), "text"
    )
    ords = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("row_id"), F.col("o_orderpriority").alias("text")
    )
    out = sample.mix_corpora(
        [(docs, "docs", 0.3), (ords, "orders", 0.08)], "row_id", seed=3
    )
    return out.select("row_id", "text", F.col("_source").alias("source"))


def q_velocity_methods(spark, sf_dir):
    """Velocity $ref.method() subset (round 5): java.lang.String calls
    compiled to the matching built-ins; an unknown method renders as its
    literal reference text (quiet-reference rule); also pins `#else`
    followed by literal parenthesized text (the structural keywords are
    excluded from the directive-call regex)."""
    from nifi_processors_spark.operators.template import render_velocity

    cu = _t(spark, sf_dir, "customer")
    tmpl = (
        'ID=$c_custkey up=$c_name.toUpperCase() sub=$c_name.substring(0,8) '
        'rep=$c_name.replace("Customer","Cust") len=$c_name.length() '
        'low=$c_mktsegment.toLowerCase() raw=$c_name.cryptic() '
        '#if($c_name)ok#else (none)#end'
    )
    return render_velocity(cu, tmpl, out_col="content").select("c_custkey", "content")


def q_windowed_counts(spark, sf_dir):
    """Tumbling event-time windows (1 h) per event_type with a sum —
    the batch run of the SAME plan the streaming front-end uses
    (streaming/windows.py; watermark is a no-op in batch)."""
    from nifi_processors_spark.streaming.windows import windowed_counts

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    return windowed_counts(
        ev, "ts", keys=["event_type"], window="1 hour",
        aggs=[F.round(F.sum("value"), 2).alias("sum_value")],
    )


def q_pii_scrub(spark, sf_dir):
    """PII masking over documents (emails -> <EMAIL>, IPv4 -> <IP>, long
    digit runs -> <NUMBER>) + per-tag audit counts — chained JVM
    regexp_replace, ERE-portable so DuckDB applies identical rewrites."""
    docs = _tf(spark, sf_dir, "documents")
    counts = text.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        text.scrub_pii(F.col("text")).alias("scrubbed"),
        *[c.alias(f"n_{tag}") for tag, c in counts.items()],
    )


def q_profile_events(spark, sf_dir):
    """Per-column data-quality profile of the events table in ONE
    aggregation pass (exact distinct here so the oracle can match
    bit-for-bit; the default HLL mode is the 100 TB path and is
    tolerance-tested in tests/test_profile.py)."""
    ev = _t(spark, sf_dir, "events")
    return profile.profile_table(
        ev, columns=["user_id", "event_type", "props"], exact=True
    )


_CURATION_BUDGET = 15_000  # BPE tokens (sf docs carry ~27k total)


def _curation_selected(spark, sf_dir):
    """The curation pipeline UP TO the budget cut (exact dedup -> near-dup
    clusters -> keep one per cluster -> language filter). Split out so the
    plan audit can inspect the anti-join: the budget stage materializes
    its range partitioning with localCheckpoint (see operators/budget.py),
    which truncates everything upstream out of the final explain."""
    docs = _tf(spark, sf_dir, "documents")
    survivors = fuzzy.exact_dedup_keep(docs, "text", "doc_id")
    pairs = fuzzy.minhash_lsh_pairs(
        survivors, "text", "doc_id", threshold=0.6, num_hashes=32, bands=16
    )
    clusters = fuzzy.connected_components(pairs)
    dupes = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    # explicit broadcast: dupes comes out of the iterative clustering via
    # localCheckpoint, so Catalyst has no stats to pick it on its own; the
    # dup set is bounded by the near-dup pair count (small by construction)
    kept = survivors.join(F.broadcast(dupes), "doc_id", "left_anti")
    feats = text.with_language_id(kept, "text", "lang_id").select(
        "doc_id", "lang_id", text.bpe_token_count(F.col("text")).alias("bpe_tokens")
    )
    return feats.filter(F.col("lang_id") != "und")


def q_corpus_curation(spark, sf_dir):
    """End-to-end corpus curation — the composition a training-data
    pipeline actually runs: exact dedup (keep min id per normalized
    content) -> MinHash near-dup clusters, keep one representative per
    cluster -> language filter (drop 'und') -> greedy token-budget
    selection by (bpe_tokens desc, doc_id) using the DISTRIBUTED running
    total (operators/budget.py — range-partitioned two-phase prefix sum,
    never a single-partition global window)."""
    sel = _curation_selected(spark, sf_dir)
    out = budget.token_budget_select(
        sel, "bpe_tokens", _CURATION_BUDGET,
        [F.col("bpe_tokens").desc(), F.col("doc_id")],
    )
    return out.select("doc_id", "lang_id", "bpe_tokens", "cum_tokens")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC LWW state of the sf0.001 event stream, annotated with
    rule routing — the declarative core of the apply pipeline."""
    ev = _t(spark, SF_SMOKE, "events")
    state = _lww_events(ev).filter(F.col("event_type") != "error")
    return route(evaluate(state, EVENT_SPEC)).select(
        "user_id", "event_id", "event_type", F.round("value", 2).alias("value"), "route"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is deliberate: the driver's correctness gate verifies a
    # 50-entry prefix, and CORRECTNESS_r05 covered exactly the first 50 keys
    # of the round-5 order — so the 17 queries added late in round 5 (the
    # table-format tier + IVF variants, positions 51-67 then) lead here, and
    # the 50 queries with driver-green r05 rows follow in their prior
    # relative order. The r05 + r06 union covers all 67 declared queries
    # only once a driver run verifies this new 50-entry prefix; until then
    # the 17 head queries are verified locally only (CORRECTNESS_r06 covers
    # the same 50 names as r05).
    # Ordering only: every entry's callable and oracle SQL are unchanged.
    return {
        "scan_prune": q_scan_prune,
        "point_lookup": q_point_lookup,
        "batch_lookup": q_batch_lookup,
        "bloom_lookup": q_bloom_lookup,
        "zorder_scan": q_zorder_scan,
        "metadata_count": q_metadata_count,
        "rollback_read": q_rollback_read,
        "outbox_feed": q_outbox_feed,
        "incremental_rollup": q_incremental_rollup,
        "decontaminate": q_decontaminate,
        "repetition_features": q_repetition_features,
        "boilerplate_strip": q_boilerplate_strip,
        "stratified_sample": q_stratified_sample,
        "corpus_mix": q_corpus_mix,
        "ivf_topk_fullprobe": q_ivf_topk_fullprobe,
        "ivf_topk_indexed_fullprobe": q_ivf_topk_indexed_fullprobe,
        # rows-only check: nprobe < n_cells is genuinely approximate (no
        # exact SQL analogue); its recall is asserted vs brute force in
        # tests/test_corpus_ops.py, and the fullprobe variant above
        # oracle-checks the identical plan shape
        "ivf_topk": q_ivf_topk,
        "lww_dedup_events": q_lww_dedup_events,
        "cdc_state_events": q_cdc_state_events,
        "cdc_delete_antijoin": q_cdc_delete_antijoin,
        "rule_route_counts": q_rule_route_counts,
        "rule_counters": q_rule_counters,
        "rule_detail_explode": q_rule_detail_explode,
        "metrics_rollup": q_metrics_rollup,
        "split_json_field": q_split_json_field,
        "split_positional": q_split_positional,
        "template_render": q_template_render,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "quality_features": q_quality_features,
        "fingerprint": q_fingerprint,
        "ann_topk": q_ann_topk,
        "asof_join": q_asof_join,
        "salted_agg": q_salted_agg,
        "sessionize": q_sessionize,
        "rollup_agg": q_rollup_agg,
        "pivot_counts": q_pivot_counts,
        "except_users": q_except_users,
        "topk_per_group": q_topk_per_group,
        "minhash_neardup": q_minhash_neardup,
        "incremental_neardup": q_incremental_neardup,
        "bm25_topk": q_bm25_topk,
        "skew_report": q_skew_report,
        "url_canonicalize": q_url_canonicalize,
        "length_band": q_length_band,
        "bm25_topk_indexed": q_bm25_topk_indexed,
        "dup_clusters": q_dup_clusters,
        "simhash_sketch": q_simhash_sketch,
        "simhash_pairs": q_simhash_pairs,
        "embedding_neardup": q_embedding_neardup,
        "ngram_jaccard": q_ngram_jaccard,
        "lsh_bucket_audit": q_lsh_bucket_audit,
        "corpus_curation": q_corpus_curation,
        "windowed_counts": q_windowed_counts,
        "pii_scrub": q_pii_scrub,
        "profile_events": q_profile_events,
        "decode_image": q_decode_image,
        "decode_audio": q_decode_audio,
        "decode_png": q_decode_png,
        "decode_video": q_decode_video,
        "frame_stats": q_frame_stats,
        "image_features": q_image_features,
        "audio_features": q_audio_features,
        "video_features": q_video_features,
        "velocity_methods": q_velocity_methods,
        "snapshot_changes": q_snapshot_changes,
    }


_LWW_CTE = """
WITH w AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
"""

from nifi_processors_spark.operators.text import STOPWORDS as _STOPWORDS

# tokenize-once stopword counting — mirrors text.with_language_id exactly
_LID_WORDS = "string_split_regex(lower(text), '[^a-z]+')"
_HITS = {
    k: f"len(list_filter({_LID_WORDS}, w -> w IN ({', '.join(repr(w) for w in ws)})))"
    for k, ws in _STOPWORDS.items()
}
_LANG_CASE = f"""
CASE
  WHEN {_HITS['en']} > 0 AND {_HITS['en']} >= greatest({_HITS['de']}, {_HITS['fr']}, {_HITS['es']}, {_HITS['it']}, {_HITS['pt']}) THEN 'en'
  WHEN {_HITS['de']} > 0 AND {_HITS['de']} >= greatest({_HITS['fr']}, {_HITS['es']}, {_HITS['it']}, {_HITS['pt']}) THEN 'de'
  WHEN {_HITS['fr']} > 0 AND {_HITS['fr']} >= greatest({_HITS['es']}, {_HITS['it']}, {_HITS['pt']}) THEN 'fr'
  WHEN {_HITS['es']} > 0 AND {_HITS['es']} >= greatest({_HITS['it']}, {_HITS['pt']}) THEN 'es'
  WHEN {_HITS['it']} > 0 AND {_HITS['it']} >= {_HITS['pt']} THEN 'it'
  WHEN {_HITS['pt']} > 0 THEN 'pt'
  ELSE 'und'
END
"""

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# ---- portable sketch-hash mirrors (fuzzy.portable_hash60 et al.) ----
# Spark: conv(substring(sha2(s,256),1,15),16,10)::long  <->  DuckDB below
_P31 = 2147483647  # fuzzy.MERSENNE31


def _portable60(expr: str) -> str:
    return f"('0x' || substring(sha256({expr}), 1, 15))::UBIGINT::BIGINT"


def _shingle_cte(n: int, src: str = "documents") -> str:
    """doc shingles CTE mirroring fuzzy.with_word_shingles: distinct word
    n-grams of whitespace-normalized text; out-of-range words drop out of
    concat_ws exactly like Spark's null-skipping concat_ws. ``src`` lets
    composition oracles (corpus_curation) shingle a filtered doc set."""
    gram = ", ".join(f"w[i+{j}]" for j in range(n))
    return f"""
      words AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {src}),
      d AS (SELECT doc_id,
                   list_distinct(list_transform(range(1, greatest(len(w)-{n - 1}, 1)+1),
                                 i -> concat_ws(' ', {gram}))) AS sh
            FROM words)"""


_SIMHASH_CTES = f"""{_shingle_cte(2)},
hv AS (SELECT doc_id, {_portable60('s')} AS hv
       FROM (SELECT doc_id, unnest(sh) AS s FROM d)),
bits AS (SELECT doc_id, b,
                sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
         FROM hv CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bs
         GROUP BY doc_id, b),
sims AS (SELECT doc_id,
                CAST(sum(CASE WHEN cnt > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY doc_id)"""

_SIMHASH_SQL = f"WITH {_SIMHASH_CTES}\nSELECT doc_id, simhash FROM sims"

# Brute-force all-pairs oracle — deliberately NOT a mirror of the Spark
# candidate structure. fuzzy.simhash_pairs buckets on max_hamming+1
# pigeonhole blocks (k differing bits leave >=1 of k+1 blocks untouched),
# which makes it EXACT, so ground truth is the right check: the old
# 4-fixed-quarter layout silently dropped distance-4..8 pairs and a
# structure-mirroring oracle ratified the bug instead of catching it.
_SIMHASH_MAX_HAMMING = 8
_SIMHASH_PAIRS_SQL = f"""
WITH {_SIMHASH_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}"""

# sig/bands and candidate/verify tails chain from the `d` shingle CTE, so
# they are source-agnostic — reused by the corpus_curation oracle over a
# deduped doc subset
_MINHASH_SIG_BANDS = f"""sig AS (SELECT doc_id, sh,
               list_transform(range(0, 32), k ->
                 list_min(list_transform(sh, s ->
                   ((2*k+1) * ({_portable60('s')} % {_P31}) + ((k*2654435761) % {_P31})) % {_P31}))) AS sig
        FROM d),
bands AS (SELECT doc_id, b, concat_ws('|', sig[2*b+1], sig[2*b+2]) AS h
          FROM sig CROSS JOIN (SELECT unnest(range(0, 16)) AS b) bs)"""

_MINHASH_CAND_VERIFY = """-- rk <= 256 mirrors minhash_lsh_pairs' degenerate-bucket cap
-- (slice of the SORTED in-bucket id list, fuzzy.py max_bucket_size)
ranked AS (SELECT doc_id, b, h,
                  row_number() OVER (PARTITION BY b, h ORDER BY doc_id) AS rk
           FROM bands),
cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
         FROM ranked a JOIN ranked c ON a.b = c.b AND a.h = c.h AND a.doc_id < c.doc_id
         WHERE a.rk <= 256 AND c.rk <= 256),
v AS (SELECT id_a, id_b,
             len(list_intersect(x.sh, y.sh))::DOUBLE
               / len(list_distinct(list_cat(x.sh, y.sh)))::DOUBLE AS jaccard
      FROM cand JOIN d x ON x.doc_id = cand.id_a JOIN d y ON y.doc_id = cand.id_b)"""

_MINHASH_BAND_CTES = f"""{_shingle_cte(3)},
{_MINHASH_SIG_BANDS}"""

_MINHASH_CTES = f"""{_MINHASH_BAND_CTES},
{_MINHASH_CAND_VERIFY}"""

_MINHASH_SQL = f"WITH {_MINHASH_CTES}\nSELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.6"

# fuzzy.lsh_bucket_stats mirror: per multi-member band bucket, size and
# the pairs a cap of 4 would drop (C(n,2) - C(min(n,4),2))
_LSH_AUDIT_SQL = f"""
WITH {_MINHASH_BAND_CTES}
SELECT b AS band, h AS bucket_key,
       count(*)::BIGINT AS bucket_size,
       ((count(*) * (count(*) - 1)) // 2
        - (least(count(*), 4) * (least(count(*), 4) - 1)) // 2)::BIGINT AS dropped_pairs
FROM bands GROUP BY b, h HAVING count(*) >= 2"""

# exact all-pairs n-gram jaccard (the LSH baseline; same shingle CTE)
_NGRAM_JACCARD_SQL = f"""
WITH {_shingle_cte(3)}
SELECT id_a, id_b, jaccard FROM (
  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         len(list_intersect(x.sh, y.sh))::DOUBLE
           / len(list_distinct(list_cat(x.sh, y.sh)))::DOUBLE AS jaccard
  FROM d x JOIN d y ON x.doc_id < y.doc_id)
WHERE jaccard >= 0.6"""

# BM25 mirror (operators/retrieval.py): same tokenization (_NORM split),
# same Robertson formula with the arithmetic written in the same
# association order, scores rounded to 6dp BEFORE ranking on both sides
# so float summation-order noise can never flip a rank
_BM25_QROWS = ",\n  ".join(f"({i}, '{q}')" for i, q in BM25_QUERIES)
_BM25_SQL = f"""
WITH q(query_id, query) AS (VALUES
  {_BM25_QROWS}),
toks AS (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
d AS (SELECT doc_id, t, len(t) AS dl FROM toks),
stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM d),
qt AS (SELECT query_id,
              unnest(list_distinct(string_split(trim(regexp_replace(lower(query), '\\s+', ' ', 'g')), ' '))) AS term
       FROM q),
post AS (SELECT doc_id, dl, unnest(t) AS term FROM d),
hit AS (SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        FROM post WHERE term IN (SELECT DISTINCT term FROM qt)
        GROUP BY doc_id, dl, term),
dft AS (SELECT term, count(*)::BIGINT AS df FROM hit GROUP BY term),
sc AS (SELECT qt.query_id, hit.doc_id,
              round(sum(
                ln(1.0 + (stats.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                * hit.tf * 2.2
                / (hit.tf + 1.2 * (0.25 + (0.75 * hit.dl) / stats.avgdl))
              ), 6) AS score
       FROM hit JOIN dft USING (term) JOIN qt USING (term) CROSS JOIN stats
       GROUP BY qt.query_id, hit.doc_id)
SELECT query_id, doc_id, rank, score FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
  FROM sc)
WHERE rank <= 10"""

# banded random-hyperplane LSH mirror: the EXACT plane literals used by
# the Spark plan (fuzzy.make_plane_vectors(16, 64, seed=7)); 8 bands of 2
# sign bits, candidates verified by true cosine
_PLANE_ROWS = ",\n  ".join(
    f"({p}, [{', '.join(repr(x) for x in pv)}])" for p, pv in enumerate(_EMB_PLANES)
)
_EMB_NEARDUP_SQL = f"""
WITH planes(p, pv) AS (VALUES
  {_PLANE_ROWS}),
v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dots AS (SELECT vec_id, p,
                list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * pv[i])) AS dot
         FROM v CROSS JOIN planes),
bandk AS (SELECT vec_id, p // 2 AS band,
                 CAST(sum(CASE WHEN dot > 0 THEN 1 << (p % 2) ELSE 0 END) AS BIGINT) AS k
          FROM dots GROUP BY vec_id, p // 2),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM bandk a JOIN bandk b
           ON a.band = b.band AND a.k = b.k AND a.vec_id < b.vec_id),
pairs AS (SELECT id_a, id_b, list_cosine_similarity(x.v, y.v) AS cosine
          FROM cand JOIN v x ON x.vec_id = cand.id_a JOIN v y ON y.vec_id = cand.id_b)
SELECT id_a, id_b, round(cosine, 3) AS cosine FROM pairs WHERE cosine >= 0.4"""

# connected components over the near-dup graph: cluster_id = min reachable
# doc_id (recursive closure; UNION dedups -> guaranteed termination)
_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_MINHASH_CTES},
pairs AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS n FROM edges),
reach(n, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT reach.n, e.dst FROM reach JOIN edges e ON reach.r = e.src
)
SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY n"""

# corpus curation: dedup -> near-dup cluster keep-one -> lang filter ->
# greedy token budget. The cluster stage reuses the minhash CTE tails over
# the deduped subset; the budget stage is a plain ordered running sum here
# (DuckDB single node) vs Spark's distributed two-phase prefix sum — same
# numbers, which is exactly what the hash check proves.
_CURATION_SQL = f"""
WITH RECURSIVE
dedup_keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY {{norm}}),
docs0 AS (SELECT dd.* FROM documents dd JOIN dedup_keep USING (doc_id)),
{{shingles}},
{{sig_bands}},
{{cand_verify}},
pairs AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.6),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS n FROM edges),
reach(n, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT reach.n, e.dst FROM reach JOIN edges e ON reach.r = e.src
),
dupes AS (SELECT n AS doc_id FROM reach GROUP BY n HAVING min(r) <> n),
kept AS (SELECT d0.* FROM docs0 d0
         WHERE doc_id NOT IN (SELECT doc_id FROM dupes)),
feats AS (SELECT doc_id, {{lang_case}} AS lang_id,
                 len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
          FROM kept),
sel AS (SELECT * FROM feats WHERE lang_id <> 'und'),
cum AS (SELECT *, CAST(sum(bpe_tokens) OVER (ORDER BY bpe_tokens DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM sel)
SELECT doc_id, lang_id, bpe_tokens, cum_tokens FROM cum
WHERE cum_tokens <= {_CURATION_BUDGET}"""


def _pii_sql() -> str:
    """PII oracle generated from the SAME text.PII_PATTERNS list: a CTE
    per pattern applies regexp_replace(..., 'g') and counts matches on
    the progressively scrubbed text, mirroring pii_counts' order."""
    ctes = ["s0 AS (SELECT doc_id, text AS t FROM documents)"]
    carry: list[str] = []
    for i, (tag, pat, repl) in enumerate(text.PII_PATTERNS, 1):
        lit = pat.replace("'", "''")
        cols = carry + [f"len(regexp_extract_all(t, '{lit}'))::BIGINT AS n_{tag}"]
        ctes.append(
            f"s{i} AS (SELECT doc_id, {', '.join(cols)}, "
            f"regexp_replace(t, '{lit}', '{repl}', 'g') AS t FROM s{i - 1})"
        )
        carry.append(f"n_{tag}")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, t AS scrubbed, {', '.join(carry)} "
        + f"FROM s{len(text.PII_PATTERNS)}"
    )


_DETAIL_ROW = """
SELECT event_id, 'g1' AS group_id,
       CASE WHEN {cond} THEN 0 ELSE 1 END AS group_failed,
       'sg1' AS subgroup_id,
       CASE WHEN {cond} THEN 0 ELSE 1 END AS subgroup_failed,
       'and' AS inter_op, 'or' AS rule_op,
       '{rid}' AS rule_id,
       CASE WHEN {rcond} THEN 0 ELSE 1 END AS rule_failed
FROM events
"""


_IVF_FULLPROBE_SQL = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5),
         scored AS (
           SELECT q.query_id, e.vec_id,
                  list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec::DOUBLE[]) AS cos
           FROM embeddings e CROSS JOIN q),
         ranked AS (
           SELECT query_id, vec_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
           FROM scored)
    SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 3"""


def _arith_px_cte(n: int) -> str:
    """Pixel CTE mirroring multimodal.arith_px over the synthetic dims
    (w = id%64+16, h = id%48+16): one row per (image, x, y, channel)."""
    return f"""
    WITH m AS (SELECT unnest(range(0, {n})) AS id),
         dims AS (SELECT id, (id % 64 + 16) AS w, (id % 48 + 16) AS h FROM m),
         px AS (SELECT id, w, h, x, y, c, (id + 3*x + 7*y + 11*c) % 256 AS v
                FROM dims,
                     LATERAL (SELECT unnest(range(0, w)) AS x),
                     LATERAL (SELECT unnest(range(0, h)) AS y),
                     LATERAL (SELECT unnest(range(0, 3)) AS c))"""


def _arith_frame_cte(n: int) -> str:
    """Video-sample CTE mirroring multimodal.arith_frame_px over the
    synthetic dims (fps=4 -> nf = (id%9000+1000)*4//1000): one row per
    (video, frame, x, y, plane)."""
    return f"""
    WITH m AS (SELECT unnest(range(0, {n})) AS id),
         dims AS (SELECT id, (id % 64 + 16) AS w, (id % 48 + 16) AS h,
                         ((id % 9000) + 1000) * 4 // 1000 AS nf FROM m),
         px AS (SELECT id, w, h, nf, f, x, y, c,
                       (id + 13*f + 3*x + 7*y + 11*c) % 256 AS v
                FROM dims,
                     LATERAL (SELECT unnest(range(0, nf)) AS f),
                     LATERAL (SELECT unnest(range(0, w)) AS x),
                     LATERAL (SELECT unnest(range(0, h)) AS y),
                     LATERAL (SELECT unnest(range(0, 3)) AS c))"""


def oracle_sql() -> dict[str, str]:
    return {
        "lww_dedup_events": _LWW_CTE
        + "SELECT user_id, event_id, event_type, round(value, 2) AS value, epoch_us(ts) AS ts_us FROM w WHERE rn = 1",
        "cdc_state_events": _LWW_CTE
        + "SELECT user_id, event_id, round(value, 2) AS value FROM w WHERE rn = 1 AND event_type <> 'error'",
        "cdc_delete_antijoin": _LWW_CTE
        + """SELECT DISTINCT user_id FROM events
             WHERE user_id NOT IN (SELECT user_id FROM w WHERE rn = 1 AND event_type = 'error')""",
        "rule_route_counts": f"""
            SELECT CASE WHEN {_RULE_COND} THEN 'passed' ELSE 'failed' END AS route,
                   count(*) AS n
            FROM events GROUP BY 1""",
        "rule_counters": f"""
            SELECT event_id,
                   CASE WHEN {_RULE_COND} THEN 1 ELSE 0 END AS rulegroups_passed,
                   CASE WHEN {_RULE_COND} THEN 0 ELSE 1 END AS rulegroups_failed,
                   (CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END
                    + CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS rules_passed,
                   (CASE WHEN event_type IN ('purchase','signup') THEN 0 ELSE 1 END
                    + CASE WHEN value > 100.0 THEN 0 ELSE 1 END) AS rules_failed
            FROM events""",
        "rule_detail_explode": _DETAIL_ROW.format(
            cond=_RULE_COND, rid="r_type", rcond="event_type IN ('purchase','signup')"
        )
        + " UNION ALL "
        + _DETAIL_ROW.format(cond=_RULE_COND, rid="r_value", rcond="value > 100.0"),
        "metrics_rollup": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus""",
        "split_json_field": "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
        "split_positional": """
            SELECT split_part(content, ';', 1) AS column_000,
                   split_part(content, ';', 2) AS column_001
            FROM (SELECT n_name || ';' || CAST(n_regionkey AS VARCHAR) AS content FROM nation)""",
        "template_render": """
            SELECT c_custkey,
                   '{"name": "' || c_name || '", "nation": ' || CAST(c_nationkey AS VARCHAR) || '}' AS content
            FROM customer""",
        "exact_dedup": f"""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY {_NORM}""",
        "token_counts": r"""
            SELECT doc_id,
                   len(regexp_extract_all(trim(text), '\S+')) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
            FROM documents""",
        "lang_id": f"SELECT doc_id, {_LANG_CASE} AS lang_id FROM documents",
        "quality_features": r"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(regexp_extract_all(trim(text), '\S+')) AS n_words,
                   len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
                   len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
                   len(regexp_extract_all(text, '[A-Z]')) AS n_upper
            FROM documents""",
        "fingerprint": f"SELECT doc_id, substring(sha256({_NORM}), 1, 15) AS fp_hex FROM documents",
        "asof_join": """
            WITH purchases AS (
              SELECT event_id, user_id, ts, round(value, 2) AS value
              FROM events WHERE event_type = 'purchase'),
            clicks AS (
              SELECT user_id, ts, event_id AS click_id, round(value, 2) AS click_value
              FROM events WHERE event_type = 'click')
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
                   c.click_id, c.click_value
            FROM purchases p ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts""",
        "salted_agg": """
            SELECT l_suppkey, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
            FROM lineitem GROUP BY l_suppkey""",
        "sessionize": """
            SELECT event_id, user_id,
                   CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 30*60*1000000 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM (SELECT event_id, user_id, ts,
                         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
                  FROM events)""",
        "rollup_agg": """
            SELECT coalesce(l_returnflag, 'ALL') AS rf,
                   coalesce(l_linestatus, 'ALL') AS ls,
                   round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
        "pivot_counts": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
            FROM events GROUP BY user_id""",
        "except_users": """
            SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""",
        "topk_per_group": """
            SELECT l_orderkey, l_linenumber, rank, round(l_extendedprice, 2) AS price
            FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                        ORDER BY l_extendedprice DESC, l_linenumber) AS rank
                  FROM lineitem)
            WHERE rank <= 3""",
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 5),
                 scored AS (
                   SELECT q.query_id, e.vec_id,
                          list_cosine_similarity(e.embedding::DOUBLE[], q.query_vec::DOUBLE[]) AS cos
                   FROM embeddings e CROSS JOIN q),
                 ranked AS (
                   SELECT query_id, vec_id, cos,
                          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
                   FROM scored)
            SELECT query_id, vec_id, rank, round(cos, 3) AS cosine FROM ranked WHERE rank <= 3""",
        "ivf_topk_fullprobe": _IVF_FULLPROBE_SQL,
        # the persisted-index path probes every cell too (nprobe==n_cells)
        # -> exact, same brute-force ground truth applies
        "ivf_topk_indexed_fullprobe": _IVF_FULLPROBE_SQL,
        "simhash_sketch": _SIMHASH_SQL,
        "simhash_pairs": _SIMHASH_PAIRS_SQL,
        "minhash_neardup": _MINHASH_SQL,
        # incremental ingest provably equals the one-shot recompute
        # (tests/test_incremental_dedup.py), so it shares the oracle
        "incremental_neardup": _MINHASH_SQL,
        "bm25_topk": _BM25_SQL,
        "length_band": """
            WITH th AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
                               quantile_cont(n_chars, 0.95) AS hi
                        FROM documents)
            SELECT doc_id, n_chars FROM documents, th
            WHERE n_chars >= lo AND n_chars <= hi""",
        "url_canonicalize": r"""
            WITH raw AS (SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 0 THEN 'HTTP://WWW.Example.com:80/d/' || doc_id || '?utm_source=feed&b=2&a=1#frag'
                     WHEN 1 THEN 'https://example.COM/d/' || doc_id || '/?gclid=xyz&z=1'
                     WHEN 2 THEN 'http://EXAMPLE.com?id=' || doc_id
                     ELSE 'https://Example.com:443/P/' || doc_id || '?a=1&utm_campaign=x&ref=h&Z=9#s'
                   END AS url FROM documents),
            u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
            p1 AS (SELECT doc_id,
                     lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                     regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM u1),
            p2 AS (SELECT doc_id, scheme,
                     lower(regexp_extract(rest, '^([^/?]*)', 1)) AS hostport,
                     regexp_replace(rest, '^[^/?]*', '') AS pathq FROM p1),
            p3 AS (SELECT doc_id, scheme,
                     CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                          WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                          ELSE hostport END AS host,
                     CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
                          ELSE regexp_extract(pathq, '^([^?]*)', 1) END AS path,
                     regexp_extract(pathq, '\?(.*)$', 1) AS query FROM p2),
            p4 AS (SELECT doc_id, scheme, host, path,
                     array_to_string(list_sort(list_filter(string_split(query, '&'),
                       x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qs
                   FROM p3)
            SELECT doc_id, scheme || '://' || host || path ||
                   CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
            FROM p4""",
        "skew_report": """
            WITH c AS (SELECT user_id, count(*)::BIGINT AS n_rows
                       FROM events GROUP BY user_id),
                 t AS (SELECT count(*)::BIGINT AS total FROM events)
            SELECT user_id, n_rows, share, rank
            FROM (SELECT c.user_id, c.n_rows,
                         round(c.n_rows::DOUBLE / t.total, 6) AS share,
                         row_number() OVER (ORDER BY c.n_rows DESC, c.user_id) AS rank
                  FROM c CROSS JOIN t)
            WHERE rank <= 20""",
        # the persisted-index probe shares the inline scoring core and the
        # maintained constants are exact (tests/test_retrieval.py)
        "bm25_topk_indexed": _BM25_SQL,
        "dup_clusters": _DUP_CLUSTERS_SQL,
        "lsh_bucket_audit": _LSH_AUDIT_SQL,
        "corpus_curation": _CURATION_SQL.format(
            norm=_NORM, shingles=_shingle_cte(3, "docs0"),
            sig_bands=_MINHASH_SIG_BANDS, cand_verify=_MINHASH_CAND_VERIFY,
            lang_case=_LANG_CASE,
        ),
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        "embedding_neardup": _EMB_NEARDUP_SQL,
        "pii_scrub": _pii_sql(),
        "windowed_counts": """
            SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start_us,
                   epoch_us(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour') AS window_end_us,
                   event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2, 3""",
        "profile_events": """
            SELECT 'user_id' AS col_name, count(*) AS n_rows,
                   count(*) - count(user_id) AS n_nulls,
                   count(DISTINCT user_id) AS n_distinct,
                   CAST(min(user_id) AS VARCHAR) AS min_value,
                   CAST(max(user_id) AS VARCHAR) AS max_value
            FROM events
            UNION ALL
            SELECT 'event_type', count(*), count(*) - count(event_type),
                   count(DISTINCT event_type),
                   CAST(min(event_type) AS VARCHAR), CAST(max(event_type) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'props', count(*), count(*) - count(props),
                   count(DISTINCT props),
                   CAST(min(props) AS VARCHAR), CAST(max(props) AS VARCHAR)
            FROM events""",
        # decode round trips: the Spark side parses REAL encoded bytes
        # (BMP / PCM16 WAV built in mapInPandas); the oracle recomputes
        # what was encoded arithmetically from media_id — equality proves
        # the encode->decode byte round trip exact on every row
        "decode_image": """
            SELECT r AS media_id, 'bmp' AS format,
                   (r % 64 + 16)::BIGINT AS width,
                   (r % 48 + 16)::BIGINT AS height,
                   24::BIGINT AS bpp
            FROM (SELECT unnest(range(0, 200)) AS r)""",
        "decode_audio": """
            SELECT r AS media_id, 1::BIGINT AS channels,
                   16000::BIGINT AS sample_rate, 16::BIGINT AS bits_per_sample,
                   ((16000 * (r % 9000 + 1000) // 1000) * 1000 // 16000)::BIGINT AS duration_ms
            FROM (SELECT unnest(range(0, 200)) AS r)""",
        # pixel/sample-level round trips: the Spark side DECODES real
        # compressed/encoded bytes; the oracle recomputes the decoded
        # statistics from the closed-form arith_px / arith_sample values.
        # All divisions are IEEE-exact over exact integer sums on both
        # sides, so the hashes match bit-for-bit.
        "decode_png": _arith_px_cte(96) + """
            SELECT id AS media_id, 'png' AS format, w::BIGINT AS width,
                   h::BIGINT AS height, 24::BIGINT AS bpp,
                   sum(v)::DOUBLE / (w*h*3) AS px_mean, true AS crc_ok
            FROM px GROUP BY id, w, h""",
        "image_features": _arith_px_cte(64) + """
            SELECT id AS media_id,
                   sum(CASE WHEN c=0 THEN v END)::DOUBLE / (w*h) AS mean_r,
                   sum(CASE WHEN c=1 THEN v END)::DOUBLE / (w*h) AS mean_g,
                   sum(CASE WHEN c=2 THEN v END)::DOUBLE / (w*h) AS mean_b,
                   sum(v*y)::DOUBLE / sum(v)::DOUBLE AS y_moment
            FROM px GROUP BY id, w, h""",
        "audio_features": """
            WITH m AS (SELECT unnest(range(0, 12)) AS id),
                 par AS (SELECT id, 16000 * ((id % 9000) + 1000) // 1000 AS n FROM m),
                 s AS (SELECT id, n, i, ((id*31 + i*17) % 65536) - 32768 AS v
                       FROM par, LATERAL (SELECT unnest(range(0, n)) AS i)),
                 lagged AS (SELECT id, n, i, v,
                                   lag(v) OVER (PARTITION BY id ORDER BY i) AS pv
                            FROM s)
            SELECT id AS media_id,
                   sqrt(sum(v*v)::DOUBLE / n) AS rms,
                   (count(*) FILTER (WHERE pv IS NOT NULL AND ((pv >= 0) != (v >= 0))))::DOUBLE
                     / (n - 1) AS zcr,
                   sum(v)::DOUBLE / n AS mean_s,
                   max(abs(v))::DOUBLE AS peak
            FROM lagged GROUP BY id, n""",
        "decode_video": """
            SELECT r AS media_id, 'y4m' AS format,
                   (r % 64 + 16)::BIGINT AS width,
                   (r % 48 + 16)::BIGINT AS height,
                   4::BIGINT AS fps,
                   ((r % 9000 + 1000) * 4 // 1000)::BIGINT AS n_frames,
                   (((r % 9000 + 1000) * 4 // 1000) * 1000 // 4)::BIGINT AS duration_ms
            FROM (SELECT unnest(range(0, 40)) AS r)""",
        "frame_stats": _arith_frame_cte(6) + """
            SELECT id AS media_id, f::BIGINT AS frame_idx,
                   (f * 1000 // 4)::BIGINT AS ts_ms,
                   sum(CASE WHEN c=0 THEN v END)::DOUBLE / (w*h) AS y_mean,
                   sum(CASE WHEN c=1 THEN v END)::DOUBLE / (w*h) AS u_mean,
                   sum(CASE WHEN c=2 THEN v END)::DOUBLE / (w*h) AS v_mean
            FROM px GROUP BY id, w, h, f""",
        "video_features": _arith_frame_cte(10) + """
            SELECT id AS media_id, nf::DOUBLE AS n_frames,
                   sum(v)::DOUBLE / (nf*w*h*3) AS overall_mean,
                   sum(CASE WHEN f=0 AND c=0 THEN v END)::DOUBLE / (w*h) AS first_y_mean,
                   sum(CASE WHEN f=nf-1 AND c=0 THEN v END)::DOUBLE / (w*h) AS last_y_mean
            FROM px GROUP BY id, w, h, nf""",
        "velocity_methods": """
            SELECT c_custkey,
                   'ID=' || c_custkey || ' up=' || upper(c_name)
                   || ' sub=' || substr(c_name, 1, 8)
                   || ' rep=' || replace(c_name, 'Customer', 'Cust')
                   || ' len=' || length(c_name)
                   || ' low=' || lower(c_mktsegment)
                   || ' raw=$c_name.cryptic() ok' AS content
            FROM customer""",
        "snapshot_changes": """
            WITH mid AS (SELECT (max(event_id) // 2) AS m FROM events),
                 ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w1 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT e.*, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev e, mid WHERE event_id <= m)
                        WHERE rn = 1 AND event_type <> 'error'),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT n.user_id, n.event_type, n.value, n.ts_us,
                   'insert' AS _change_type
            FROM w2 n LEFT JOIN w1 o USING (user_id) WHERE o.user_id IS NULL
            UNION ALL
            SELECT o.user_id, o.event_type, o.value, o.ts_us, 'delete'
            FROM w1 o LEFT JOIN w2 n USING (user_id) WHERE n.user_id IS NULL
            UNION ALL
            SELECT o.user_id, o.event_type, o.value, o.ts_us, 'update_preimage'
            FROM w1 o JOIN w2 n USING (user_id)
            WHERE (o.event_type, o.value, o.ts_us)
                  IS DISTINCT FROM (n.event_type, n.value, n.ts_us)
            UNION ALL
            SELECT n.user_id, n.event_type, n.value, n.ts_us, 'update_postimage'
            FROM w1 o JOIN w2 n USING (user_id)
            WHERE (o.event_type, o.value, o.ts_us)
                  IS DISTINCT FROM (n.event_type, n.value, n.ts_us)""",
        "outbox_feed": """
            WITH mid AS (SELECT (max(event_id) // 2) AS m FROM events),
                 ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w1 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT e.*, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev e, mid WHERE event_id <= m)
                        WHERE rn = 1 AND event_type <> 'error'),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            -- segment 0->1: from-birth coverage, snapshot-1 state as inserts
            SELECT user_id, event_type, value, ts_us,
                   'insert' AS _change_type, 0 AS _from_snapshot, 1 AS _to_snapshot
            FROM w1
            UNION ALL
            -- segment 1->2: the snapshot diff
            SELECT n.user_id, n.event_type, n.value, n.ts_us, 'insert', 1, 2
            FROM w2 n LEFT JOIN w1 o USING (user_id) WHERE o.user_id IS NULL
            UNION ALL
            SELECT o.user_id, o.event_type, o.value, o.ts_us, 'delete', 1, 2
            FROM w1 o LEFT JOIN w2 n USING (user_id) WHERE n.user_id IS NULL
            UNION ALL
            SELECT o.user_id, o.event_type, o.value, o.ts_us, 'update_preimage', 1, 2
            FROM w1 o JOIN w2 n USING (user_id)
            WHERE (o.event_type, o.value, o.ts_us)
                  IS DISTINCT FROM (n.event_type, n.value, n.ts_us)
            UNION ALL
            SELECT n.user_id, n.event_type, n.value, n.ts_us, 'update_postimage', 1, 2
            FROM w1 o JOIN w2 n USING (user_id)
            WHERE (o.event_type, o.value, o.ts_us)
                  IS DISTINCT FROM (n.event_type, n.value, n.ts_us)""",
        "incremental_rollup": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT event_type, count(*)::BIGINT AS n_rows,
                   round(sum(value), 4) AS sum_value
            FROM w2 GROUP BY event_type""",
        "repetition_features": """
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 x -> x <> '') AS words
              FROM documents),
            c AS (
              SELECT doc_id, words, len(words) AS nw,
                     len(list_distinct(words)) AS ndw,
                     list_transform(range(1, len(words)),
                                    i -> words[i] || ' ' || words[i+1]) AS bg
              FROM w)
            SELECT doc_id, nw::BIGINT AS n_words,
              round(CASE WHEN nw = 0 THEN 0.0
                    ELSE (nw - ndw) / CAST(nw AS DOUBLE) END, 6) AS dup_word_frac,
              round(CASE WHEN nw = 0 THEN 0.0
                    ELSE list_max(list_transform(list_distinct(words),
                         d -> len(list_filter(words, x -> x = d))))
                         / CAST(nw AS DOUBLE) END, 6) AS top_word_frac,
              round(CASE WHEN len(bg) = 0 THEN 0.0
                    ELSE list_max(list_transform(list_distinct(bg),
                         d -> len(list_filter(bg, x -> x = d))))
                         / CAST(len(bg) AS DOUBLE) END, 6) AS top_bigram_frac
            FROM c""",
        "boilerplate_strip": r"""
            WITH pages AS (
              SELECT doc_id // 5 AS page_id,
                     string_agg(text, chr(10) ORDER BY doc_id) || chr(10)
                       || '(c) example corp - all rights reserved' AS page_text
              FROM documents GROUP BY 1),
            lns AS (
              SELECT page_id,
                     unnest(string_split(page_text, chr(10))) AS line,
                     unnest(range(1, len(string_split(page_text, chr(10))) + 1)) AS pos
              FROM pages),
            norm AS (SELECT page_id, pos, line,
                            trim(regexp_replace(lower(line), '\s+', ' ', 'g')) AS nline
                     FROM lns),
            boiler AS (
              SELECT nline
              FROM (SELECT DISTINCT page_id, nline FROM norm WHERE nline <> '')
              GROUP BY nline HAVING count(*) >= 2),
            kept AS (SELECT * FROM norm WHERE nline NOT IN (SELECT nline FROM boiler))
            SELECT p.page_id, coalesce(k.clean_text, '') AS clean_text
            FROM pages p LEFT JOIN (
              SELECT page_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
              FROM kept GROUP BY page_id) k USING (page_id)""",
        "scan_prune": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, event_type, value, ts_us FROM w2
            WHERE value >= 80.0 AND event_type = 'purchase'""",
        "point_lookup": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, event_type, value, ts_us FROM w2
            WHERE user_id = 42""",
        "batch_lookup": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, event_type, value, ts_us FROM w2
            WHERE user_id IN (7, 42, 99, 123)""",
        "bloom_lookup": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, event_type, value, ts_us FROM w2
            WHERE ts_us IN (SELECT ts_us FROM w2 WHERE user_id IN (7, 42))""",
        "zorder_scan": """
            WITH ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w2 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error'),
                 mid AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS m FROM w2)
            SELECT user_id, event_type, value, ts_us FROM w2, mid
            WHERE value >= 40.0 AND value < 60.0 AND ts_us < m""",
        "rollback_read": """
            WITH mid AS (SELECT (max(event_id) // 2) AS m FROM events),
                 ev AS (SELECT user_id, event_type, round(value, 2) AS value,
                               epoch_us(ts) AS ts_us, event_id FROM events),
                 w1 AS (SELECT user_id, event_type, value, ts_us FROM (
                          SELECT e.*, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev e, mid WHERE event_id <= m)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT user_id, event_type, value, ts_us FROM w1""",
        "metadata_count": """
            WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                               event_id FROM events),
                 w2 AS (SELECT user_id FROM (
                          SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts_us DESC, event_id DESC) AS rn
                          FROM ev)
                        WHERE rn = 1 AND event_type <> 'error')
            SELECT count(*)::BIGINT AS n_rows FROM w2""",
        "decontaminate": """
            WITH bw AS (SELECT list_filter(regexp_split_to_array(lower(text),
                               '[^a-z]+'), x -> x <> '') AS words
                        FROM documents WHERE doc_id % 97 = 0),
                 bg AS (SELECT DISTINCT unnest(CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(list_slice(words, i, i + 2), ' '))
                            ELSE []::VARCHAR[] END) AS gram FROM bw),
                 tw AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                               '[^a-z]+'), x -> x <> '') AS words
                        FROM documents WHERE doc_id % 97 <> 0),
                 tg AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(words) >= 3
                            THEN list_transform(range(1, len(words) - 1),
                                 i -> array_to_string(list_slice(words, i, i + 2), ' '))
                            ELSE []::VARCHAR[] END)) AS gram FROM tw),
                 h AS (SELECT doc_id, count(*) AS n_overlap
                       FROM tg JOIN bg USING (gram) GROUP BY doc_id)
            SELECT t.doc_id, coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
                   coalesce(h.n_overlap, 0) >= 3 AS contaminated
            FROM (SELECT doc_id FROM tw) t LEFT JOIN h USING (doc_id)""",
        "stratified_sample": f"""
            SELECT event_id, user_id, event_type FROM events
            WHERE ('0x' || substring(sha256(event_id::VARCHAR || '#s7'), 1, 15))::UBIGINT::BIGINT
                  < CASE event_type
                      WHEN 'click' THEN {sample.fraction_threshold(0.1)}
                      WHEN 'view' THEN {sample.fraction_threshold(0.25)}
                      WHEN 'purchase' THEN {sample.fraction_threshold(1.0)}
                      ELSE {sample.fraction_threshold(0.5)} END""",
        "corpus_mix": f"""
            SELECT doc_id AS row_id, text, 'docs' AS source
            FROM documents
            WHERE ('0x' || substring(sha256(doc_id::VARCHAR || '#s3'), 1, 15))::UBIGINT::BIGINT
                  < {sample.fraction_threshold(0.3)}
            UNION ALL
            SELECT o_orderkey AS row_id, o_orderpriority AS text, 'orders'
            FROM orders
            WHERE ('0x' || substring(sha256(o_orderkey::VARCHAR || '#s3'), 1, 15))::UBIGINT::BIGINT
                  < {sample.fraction_threshold(0.08)}""",
    }
