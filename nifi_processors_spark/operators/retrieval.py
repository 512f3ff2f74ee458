"""BM25 keyword retrieval as pure DataFrame algebra.

A training-data pipeline uses lexical retrieval constantly — targeted
decontamination, quality probes ("which documents actually answer this
query"), and hard-negative mining all start from a BM25 top-k. This is
the standard Robertson/Lucene formulation:

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    w(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

computed entirely with built-in expressions (no UDFs, whole-stage
codegen end to end).

Plan shape, chosen for the 100 TB corpus / small query-set case:
the query terms are BROADCAST into the postings derivation, so the only
wide work is one shuffle of the (already term-filtered) postings on
(doc, term) — the corpus rows that contain no query term never leave
their input partition. Document frequency for the surviving terms is
computed from the filtered postings themselves (every document holding
the term is in the filtered set by construction, so the count is the
global df). The corpus-level constants (N, avgdl) are one tiny
aggregate cross-joined back in; Catalyst plans that as a 1-row broadcast.

Repeated terms inside one query are deduplicated (standard bag-of-words
BM25 with query term frequency capped at 1 — the common Lucene default).
Ranking rounds the score to 6 decimals before ordering and breaks ties
by doc id, so results are reproducible across engines and partitionings
(float summation order differs; 1-ulp noise must not flip ranks).

Two paths share one scoring core (``_score_and_rank``): ``bm25_topk``
computes inline from the corpus; ``Bm25Index`` persists the postings
(partitioned by term-hash bucket) and maintains the corpus constants
incrementally, so the CDC-grown corpus is queried without re-tokenizing
history — probes open only the tb= directories the query terms hash
into.

No reference analogue (SURVEY.md §2.12 text family).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import fsio
from ..plans.table import bucket_of
from .text import normalize_text


def tokenize_words(c: Column) -> Column:
    """Whitespace word tokens over dedup-normalized text — the same
    normalization the dedup family uses, so retrieval and dedup agree on
    what a 'word' is."""
    return F.split(normalize_text(c), " ")


def _query_terms(queries: DataFrame, query_id_col: str, query_col: str) -> DataFrame:
    """(_qid, term) with repeated terms inside one query deduplicated."""
    return queries.select(
        F.col(query_id_col).alias("_qid"),
        F.explode(F.array_distinct(tokenize_words(F.col(query_col)))).alias("term"),
    )


def _score_and_rank(
    hit: DataFrame,
    qterms: DataFrame,
    k: int,
    k1: float,
    b: float,
    id_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared BM25 scoring/ranking core over a ``hit`` table of
    (_doc, _dl, term, _tf, _n_docs, _avgdl) — the inline and the
    persisted-index paths both reduce to this, so they are score-
    identical by construction."""
    df_tbl = hit.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = (
        hit.join(F.broadcast(df_tbl), "term")
        .withColumn(
            # ln(1 + x) written literally (not log1p) so the float result
            # is bit-identical to SQL engines' ln(1 + x) oracle mirror
            "_idf",
            F.log(F.lit(1.0) + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)),
        )
        .withColumn(
            "_w",
            F.col("_idf") * F.col("_tf") * (k1 + 1)
            / (F.col("_tf") + k1 * (1 - b + b * F.col("_dl") / F.col("_avgdl"))),
        )
        .join(F.broadcast(qterms), "term")
        .groupBy("_qid", "_doc")
        .agg(F.round(F.sum("_w"), 6).alias("score"))
    )
    w = Window.partitionBy("_qid").orderBy(F.desc("score"), F.asc("_doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col("_doc").alias(id_col),
            "rank",
            "score",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_col: str = "query",
) -> DataFrame:
    """Top-k documents per query by BM25, computed inline from the corpus.

    Returns (query_id, doc id, rank, score) with rank 1..k per query;
    score is rounded to 6 decimals (see module docstring). ``queries``
    is assumed small (it is broadcast twice: into the postings filter and
    into the final ranking)."""
    toks = docs.select(
        F.col(id_col).alias("_doc"),
        tokenize_words(F.col(text_col)).alias("_toks"),
    ).withColumn("_dl", F.size("_toks"))

    # corpus constants: one 1-row aggregate, cross-joined (broadcast)
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n_docs"), F.avg("_dl").alias("_avgdl")
    )

    qterms = _query_terms(queries, query_id_col, query_col)

    # postings restricted to query terms BEFORE the (doc, term) shuffle:
    # the broadcast semi-filter keeps non-matching corpus tokens narrow.
    # df computed downstream from this filtered set is still the global
    # df — every document holding the term survives the filter.
    hit = (
        toks.select("_doc", "_dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("_doc", "_dl", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .crossJoin(F.broadcast(stats))
    )
    return _score_and_rank(hit, qterms, k, k1, b, id_col, query_id_col)


class Bm25Index:
    """A persisted, incrementally-maintained BM25 postings index — the
    retrieval companion of ``incdedup.LshBandIndex``, for the CDC shape
    where the corpus grows epoch by epoch but queries must not re-scan
    (or even re-tokenize) the history.

    Layout::

        path/index.json            {n_docs, sum_dl, n_hash_buckets}
        path/postings/tb=<B>/...   (term, doc, dl, tf) parquet

    ``ingest`` appends one tokenize+partial-agg pass over the NEW batch
    only; the corpus constants BM25 needs (N, avgdl) are maintained as
    two integers in the meta pointer (counts and token sums are additive
    across batches, so incremental equals recompute exactly — same
    algebra as plans/ivm.py). ``topk`` probes with a partition-pruned
    scan: the query's terms hash into at most B ``tb=`` directories,
    collected from the (small, broadcastable) query set, and df for the
    probed terms is computed from the probed postings themselves —
    exact, because every document holding a term lives in that term's
    partition. Scoring reduces to the same ``_score_and_rank`` core as
    the inline operator, so indexed and inline results are identical by
    construction (tested).

    Documents are append-only; re-ingesting a changed document would
    double-count its postings — rebuild() is the update/compaction path,
    exactly as documented for LshBandIndex. Parquet appends are not
    atomic; the meta pointer is replace-safe (fsio.publish_json) and is
    written AFTER the postings land, so a torn ingest leaves the index
    understating the corpus (repairable by rebuild) rather than
    corrupting scores with half-counted constants."""

    def __init__(self, spark: SparkSession, path: str, n_hash_buckets: int = 32):
        self.spark = spark
        self.path = path
        self._meta_path = fsio.join(path, "index.json")
        self.postings_dir = fsio.join(path, "postings")
        self.n_hash_buckets = n_hash_buckets
        meta = fsio.load_json(self._meta_path, default=None)
        if meta is not None and meta["n_hash_buckets"] != n_hash_buckets:
            raise ValueError(
                f"index at {path} has n_hash_buckets={meta['n_hash_buckets']}, "
                f"reopened with {n_hash_buckets}"
            )

    def meta(self) -> dict:
        return fsio.load_json(
            self._meta_path,
            default={"n_docs": 0, "sum_dl": 0, "n_hash_buckets": self.n_hash_buckets},
        )

    def _postings(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        toks = docs.select(
            F.col(id_col).alias("doc"),
            tokenize_words(F.col(text_col)).alias("_toks"),
        ).withColumn("dl", F.size("_toks"))
        return (
            toks.select("doc", "dl", F.explode("_toks").alias("term"))
            .groupBy("doc", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "tb",
                F.pmod(F.xxhash64("term"), F.lit(self.n_hash_buckets)),
            )
        )

    def ingest(self, docs: DataFrame, text_col: str, id_col: str) -> dict:
        """Tokenize and append the batch's postings, then advance the
        corpus constants. Returns the new meta. One job over the batch;
        the existing index is not read."""
        # materialize the batch's postings ONCE before deriving anything
        # from them: the stats aggregation and the write are two jobs, and
        # a non-deterministic input recomputed between them would diverge
        # the maintained constants from the written postings — the same
        # recompute hazard budget.py/incdedup.py guard (ADVICE r5). The
        # checkpoint also removes the double tokenize (stats job + write
        # job each re-derived `post` before).
        post = self._postings(docs, text_col, id_col).localCheckpoint(eager=True)
        # batch constants: counts/sums are additive, so two longs are the
        # whole cross-batch state (same signed-delta idea as plans/ivm.py)
        stats = (
            post.groupBy("doc")
            .agg(F.first("dl").alias("dl"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        if not stats["n"]:
            return self.meta()
        post.write.mode("append").partitionBy("tb").parquet(self.postings_dir)
        m = self.meta()
        m["n_docs"] += int(stats["n"])
        m["sum_dl"] += int(stats["s"])
        fsio.publish_json(self._meta_path, m)
        return m

    def rebuild(self, docs: DataFrame, text_col: str, id_col: str) -> dict:
        # same materialize-once contract as ingest (stats and write must
        # see identical postings)
        post = self._postings(docs, text_col, id_col).localCheckpoint(eager=True)
        stats = (
            post.groupBy("doc")
            .agg(F.first("dl").alias("dl"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        post.write.mode("overwrite").partitionBy("tb").parquet(self.postings_dir)
        m = {"n_docs": int(stats["n"] or 0), "sum_dl": int(stats["s"] or 0),
             "n_hash_buckets": self.n_hash_buckets}
        fsio.publish_json(self._meta_path, m)
        return m

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
        query_id_col: str = "query_id",
        query_col: str = "query",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Top-k per query from the persisted postings — the corpus is
        never touched. The probe scan opens only the tb= directories the
        query terms hash into (the term set is collected from the query
        DataFrame, which is small by the same contract as bm25_topk)."""
        m = self.meta()
        if not m["n_docs"]:
            raise RuntimeError(f"index at {self.path} is empty")
        qterms = _query_terms(queries, query_id_col, query_col)
        terms = [r["term"] for r in qterms.select("term").distinct().collect()]
        if not terms:
            return self.spark.createDataFrame(
                [], f"{query_id_col} long, {id_col} long, rank int, score double"
            )
        # the same pmod(xxhash64(term), n) as _postings, hashed on the driver
        tbs = sorted({bucket_of((t,), [T.StringType()], self.n_hash_buckets)
                      for t in terms})
        # avgdl as one exact double division of the two maintained longs —
        # identical to the inline avg() (long sum / long count)
        avgdl = m["sum_dl"] / m["n_docs"]
        hit = (
            self.spark.read.parquet(self.postings_dir)
            .filter(F.col("tb").isin(tbs) & F.col("term").isin(terms))
            .select(
                F.col("doc").alias("_doc"), F.col("dl").alias("_dl"),
                "term", F.col("tf").alias("_tf"),
            )
            .withColumn("_n_docs", F.lit(m["n_docs"]).cast("long"))
            .withColumn("_avgdl", F.lit(avgdl))
        )
        return _score_and_rank(hit, qterms, k, k1, b, id_col, query_id_col)
